"""Streaming exactly-k-per-stratum sampling: a deterministic reservoir.

The classic streaming reservoir keeps k uniform rows per stratum but its
contents depend on arrival order and RNG state — replays produce a
different sample. The hash-rank sampler (operators/sampling.py:
group_sample_k) is a MERGEABLE MONOID instead: the global md5-order
top-k per stratum equals the top-k of the union of per-batch top-ks, so
each micro-batch contributes at most k×|strata| candidate rows to an
append-only index and the report re-trims — bounded state, arrival-order
independent, and a replayed batch re-appends the identical candidates
(absorbed by key dedup). The sample after any prefix of batches is
EXACTLY what the batch sampler would pick over those rows — pinned in
tests/test_quality.py's sibling (tests/test_streaming_sample.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sampling import group_sample_k
from ..sinks.batch import AppendOnlyIndex


def sample_ingest_batch(
    spark: SparkSession,
    index_dir: str,
    key_col: str,
    strata_col: str,
    k: int,
    compact_every: int | None = None,
):
    """Per-batch ``foreachBatch`` body: trim THIS batch to its own
    per-stratum top-k (no global state read — the candidate set is a
    superset of the global winners by the monoid property) and append.
    O(batch) work, ≤ k×|strata| rows written per micro-batch."""
    index = AppendOnlyIndex(index_dir, compact_every=compact_every)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        cand = group_sample_k(
            batch_df.dropDuplicates([key_col]), key_col, strata_col, k
        ).withColumn("src_batch", F.lit(batch_id))
        index.append(cand, batch_id)

    return process


def sample_report(
    spark: SparkSession,
    index_dir: str,
    key_col: str,
    strata_col: str,
    k: int,
) -> DataFrame:
    """The current sample: re-trim the accumulated candidates (≤
    k×|strata|×generations rows — index-sized, never corpus-sized) to the
    global per-stratum top-k. Key dedup absorbs crash-replayed and
    compaction-duplicated candidate rows."""
    raw = AppendOnlyIndex(index_dir).read(spark)
    cand = raw.dropDuplicates([key_col]).drop("src_batch")
    return group_sample_k(cand, key_col, strata_col, k)


def weighted_sample_ingest_batch(
    spark: SparkSession,
    index_dir: str,
    key_col: str,
    weight_col: str,
    k: int,
    strata_col: str | None = None,
    compact_every: int | None = None,
):
    """Weighted twin of :func:`sample_ingest_batch`: the A-ES priority
    (operators/sampling.py:weighted_priority) is a deterministic
    function of (key, weight), so per-stratum weighted top-k is the SAME
    mergeable monoid — each batch's own top-k is a superset of its
    contribution to the global winners; append ≤ k×|strata| candidates
    and re-trim at read."""
    from ..operators.sampling import weighted_sample_k

    index = AppendOnlyIndex(index_dir, compact_every=compact_every)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        cand = weighted_sample_k(
            batch_df.dropDuplicates([key_col]),
            key_col,
            weight_col,
            k,
            strata_col=strata_col,
        ).withColumn("src_batch", F.lit(batch_id))
        index.append(cand, batch_id)

    return process


def weighted_sample_report(
    spark: SparkSession,
    index_dir: str,
    key_col: str,
    weight_col: str,
    k: int,
    strata_col: str | None = None,
) -> DataFrame:
    """The current weighted sample: re-trim the accumulated candidates.
    Sample after any prefix of batches == the batch weighted sampler
    over those rows (pinned)."""
    from ..operators.sampling import weighted_sample_k

    raw = AppendOnlyIndex(index_dir).read(spark)
    cand = raw.dropDuplicates([key_col]).drop("src_batch")
    return weighted_sample_k(cand, key_col, weight_col, k, strata_col=strata_col)
