"""Streaming data-quality gate: per-batch expectation partials + a
quarantine router, merged into one cumulative audit.

The streaming twin of plans/scale.py:expectations_check, with the same
lifecycle as the CMS/histogram/vocab sketch indexes: each micro-batch
writes one bounded partial (≤ n_rules rows, tagged ``src_batch``) to an
AppendOnlyIndex, and the report folds all generations with one groupBy.
Rows themselves route through operators/quality.py:quarantine_split —
clean rows to the pass-through sink, violating rows (tagged with the
rules they broke) to the quarantine sink — both IdempotentBatchWriter
directories, so a replayed batch rewrites its own output rather than
double-counting (the reference's exactly-once concern, SURVEY.md §2.9,
applied to the quality gate).

Row-local rules only: table-level uniqueness is not additive across
batches, so the gate ENFORCES it (dedupe-by-id before anything else —
replayed ids drop) instead of measuring it. Batch ≡ streaming is pinned
in tests: summed partials equal the one-shot audit over the union, and
clean ∪ quarantine is exactly the deduped input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.quality import Rule, expectation_counts, quarantine_split
from ..sinks.batch import AppendOnlyIndex, IdempotentBatchWriter


def quality_gate_batch(
    spark: SparkSession,
    index_dir: str,
    clean_sink: IdempotentBatchWriter,
    quarantine_sink: IdempotentBatchWriter,
    rules: list[Rule],
    id_col: str | None = None,
    compact_every: int | None = None,
):
    """Per-batch ``foreachBatch`` body: dedupe (uniqueness enforced, not
    measured), split rows to the two sinks, append the audit partial.
    Everything is O(batch); the index grows one ≤ n_rules-row directory
    per micro-batch until compaction folds them."""
    index = AppendOnlyIndex(index_dir, compact_every=compact_every)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        rows = (
            batch_df.dropDuplicates([id_col]) if id_col is not None else batch_df
        )
        # the split fans rows out to two sinks and the audit reads them a
        # third time — materialize once so the batch's lineage (which may
        # include an upstream shuffle) isn't recomputed per consumer
        rows = rows.persist()
        rows.count()
        try:
            clean, bad = quarantine_split(rows, rules)
            clean_sink(clean, batch_id)
            quarantine_sink(bad, batch_id)
            partial = expectation_counts(rows, rules).withColumn(
                "src_batch", F.lit(batch_id)
            )
            index.append(partial, batch_id)
        finally:
            rows.unpersist()

    return process


def quality_report(spark: SparkSession, index_dir: str) -> DataFrame:
    """The cumulative audit (rule, n_rows, n_violations): sum of the
    bounded partials; (rule, src_batch) dedup absorbs crash-replayed
    generations left by a mid-compaction crash."""
    raw = AppendOnlyIndex(index_dir).read(spark)
    return (
        raw.dropDuplicates(["rule", "src_batch"])
        .groupBy("rule")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("n_violations").alias("n_violations"),
        )
    )
