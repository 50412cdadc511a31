"""Streaming control-chart mart (the live SPC monitor).

The batch query (plans/scale.py:spc_violations) folds orders to daily
revenue cents and evaluates the two Shewhart rules exactly. Per-day cents
sums are ADDITIVE MONOIDS — like the moment mart (streaming/moments.py)
and unlike the basket counters (streaming/basket.py), no carry is needed:
each micro-batch appends its own (d, cents) partial to an AppendOnlyIndex
(``src_batch``-keyed so replays dedup exactly), and the read side folds
partials into the daily frame and hands it to the SAME rule engine
(operators/spc.py:spc_eval) the batch query uses — batch ≡ streaming is
true by construction above the fold, and the fold itself is exact integer
addition, pinned over random splits + replays in
tests/test_streaming_spc.py.

At 100 TB the index compacts by generation (``compact_every``) and the
read-side fold is |calendar| × generations rows — the moment-mart bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sinks.batch import AppendOnlyIndex


def spc_ingest_batch(
    spark: SparkSession,
    daily_dir: str,
    date_col: str = "d",
    cents_col: str = "cents",
    compact_every: int | None = None,
):
    """Per-batch body (foreachBatch-shaped): append this batch's exact
    per-day cents partial. No carry — day sums are additive."""
    idx = AppendOnlyIndex(daily_dir, compact_every=compact_every)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        idx.append(
            batch_df.select(
                F.col(date_col).alias("d"), F.col(cents_col).alias("cents")
            )
            .groupBy("d")
            .agg(F.sum("cents").alias("y"))
            .withColumn("src_batch", F.lit(batch_id)),
            batch_id,
        )

    return process


def fold_daily(spark: SparkSession, daily_dir: str) -> DataFrame:
    """Exact accumulated (d, y) over everything ingested so far (dedup on
    day+src_batch absorbs replay duplicates)."""
    raw = AppendOnlyIndex(daily_dir).read(spark)
    return (
        raw.dropDuplicates(["d", "src_batch"])
        .groupBy("d")
        .agg(F.sum("y").alias("y"))
    )


def spc_violations_live(spark: SparkSession, daily_dir: str) -> DataFrame:
    """The streamed twin of the spc_violations catalog query: identical
    columns and the identical exact rule engine, evaluated over the
    folded daily index instead of a fact re-scan."""
    from ..operators.spc import spc_eval

    return spc_eval(spark, fold_daily(spark, daily_dir))
