"""Streaming per-nation daily-revenue mart (the live smoothing feed).

Per-(nation, day) cents sums are ADDITIVE MONOIDS — the SPC mart's
discipline (streaming/spc.py) with a key column: each micro-batch of
enriched orders appends its own (n_name, d, y) partial to an
AppendOnlyIndex, and the read side folds partials into the daily frame
and hands it to the SAME sequential evaluators the batch queries use
(operators/smoothing.py: ewma_fold / holt_fold) — one mart, two live
forecast monitors (revenue_ewma_live, holt_forecast_live), batch ≡ live
true by construction above the fold, the fold itself exact integer
addition. Pinned over splits + replays in tests/test_streaming_smooth.py.

At 100 TB the index compacts by generation and the read fold is
|nations| × |calendar| × generations rows — the SPC-mart bound with a
25-way key."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sinks.batch import AppendOnlyIndex


def nation_daily_ingest_batch(
    spark: SparkSession,
    daily_dir: str,
    compact_every: int | None = None,
):
    """Per-batch body (foreachBatch-shaped) over enriched order rows
    carrying (n_name, day, v cents): append the exact per-(nation, day)
    cents partial. No carry — keyed day sums are additive."""
    idx = AppendOnlyIndex(daily_dir, compact_every=compact_every)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        idx.append(
            batch_df.groupBy("n_name", "day")
            .agg(F.sum("v").alias("y"))
            .withColumn("src_batch", F.lit(batch_id)),
            batch_id,
        )

    return process


def fold_nation_daily(spark: SparkSession, daily_dir: str) -> DataFrame:
    """Exact accumulated (n_name, day, y) over everything ingested so far
    (dedup on key+src_batch absorbs replay duplicates)."""
    raw = AppendOnlyIndex(daily_dir).read(spark)
    return (
        raw.dropDuplicates(["n_name", "day", "src_batch"])
        .groupBy("n_name", "day")
        .agg(F.sum("y").alias("y"))
    )
