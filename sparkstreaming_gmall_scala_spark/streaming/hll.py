"""Streaming HLL cardinality index: per-batch day-sketch partials.

Same counting-index lifecycle as CMS/histogram/vocab: each micro-batch
contributes (day, sketch, src_batch) rows built from ONLY its own rows
(O(batch), the index never read at ingest); the report unions sketch
bytes per day — lossless for a fixed lgK — so the streamed index equals
the batch index over the union of batches, and every downstream reader
(estimate_daily, rolling_distinct) works unchanged on either."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.hll import daily_sketches
from ..sinks.batch import AppendOnlyIndex


def hll_ingest_batch(
    spark: SparkSession,
    index_dir: str,
    key: str = "user_id",
    ts: str = "ts",
    id_col: str | None = "event_id",
    lgk: int = 12,
    compact_every: int | None = None,
):
    """Per-batch body: the batch's own per-day sketches, appended."""
    index = AppendOnlyIndex(index_dir, compact_every=compact_every)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        rows = (
            batch_df.dropDuplicates([id_col]) if id_col is not None else batch_df
        )
        partial = daily_sketches(rows, key=key, ts=ts, lgk=lgk).withColumn(
            "src_batch", F.lit(batch_id)
        )
        index.append(partial, batch_id)

    return process


def hll_report(spark: SparkSession, index_dir: str) -> DataFrame:
    """The merged (day, sketch) index: union partials register-wise;
    (day, src_batch) dedup absorbs crash-replayed partials."""
    raw = AppendOnlyIndex(index_dir).read(spark)
    return (
        raw.dropDuplicates(["day", "src_batch"])
        .groupBy("day")
        .agg(F.hll_union_agg("sketch").alias("sketch"))
    )
