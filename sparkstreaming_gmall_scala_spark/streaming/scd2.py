"""Streaming SCD2 dim maintenance: observation log + per-batch rebuild
of touched keys.

The reference's dim apps keep latest-row-only state via Phoenix upserts
(SURVEY.md §2.1 S8); this pipeline maintains the FULL type-2 history
under streaming delivery. Per micro-batch:

  1. append the batch's observations to an AppendOnlyIndex log
     (overwrite-idempotent per batch id — replay rewrites the same dir),
  2. rebuild the timelines of ONLY the touched keys from the log
     (semi-join; at scale the log is additionally bucketed by key so
     this read prunes),
  3. upsert the rebuilt rows into the dim materialization keyed by
     (key, version) via the crash-atomic swap writer.

Why rebuild-from-log instead of operators.scd2.scd2_merge: the log
retains every observation, so LATE data rewrites history correctly —
the merge's monotone-ingestion contract disappears. Replay is exact:
the log dedups on the observation identity (key, tiebreak), so a
replayed or cross-batch-duplicated observation contributes once, the
rebuild is a pure function of the deduped log, and the (key, version)
upsert overwrites each rebuilt row with identical content. Version
counts only grow as observations arrive (adding an observation can
split or extend runs, never collapse them), so no stale version row
survives an upsert.

``tiebreak`` must be a per-observation identity (the CDC offset /
order key), unique across the stream — it is both the total-order
tiebreak and the dedup key.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.scd2 import scd2_timeline
from ..sinks.batch import AppendOnlyIndex, has_parquet, recover_dir, upsert_parquet


def scd2_ingest_batch(
    spark: SparkSession,
    log_dir: str,
    dim_dir: str,
    key: str,
    ts: str,
    attrs: Sequence[str],
    tiebreak: str,
    compact_every: int | None = None,
):
    """foreachBatch body maintaining the SCD2 dim at ``dim_dir`` from
    the observation log at ``log_dir``."""
    attrs = list(attrs)
    index = AppendOnlyIndex(log_dir, compact_every=compact_every)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        obs = batch_df.select(key, ts, tiebreak, *attrs).withColumn(
            "src_batch", F.lit(batch_id)
        )
        index.append(obs, batch_id)

        touched = batch_df.select(key).distinct()
        log = (
            index.read(spark)
            .join(touched, key, "semi")
            .dropDuplicates([key, tiebreak])
        )
        rebuilt = scd2_timeline(log, key, ts, attrs, tiebreak)
        upsert_parquet(spark, rebuilt, dim_dir, key_cols=[key, "version"])

    return process


def scd2_dim(spark: SparkSession, dim_dir: str) -> DataFrame:
    """The current dim: one row per (key, version) with validity
    intervals — identical contract to operators.scd2.scd2_timeline over
    the union of all delivered observations (pinned in tests)."""
    recover_dir(dim_dir)
    if not has_parquet(dim_dir):
        raise FileNotFoundError(f"no dim materialized at {dim_dir}")
    return spark.read.parquet(dim_dir)
