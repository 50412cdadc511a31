"""Streaming per-stratum moment counters (the live anomaly baseline).

The batch query (plans/scale.py:seasonal_outliers) folds exact
(n, Σx, Σx²) moments per (event_type, hour-of-day) stratum and scores
each event against its own stratum. Those moments are ADDITIVE MONOIDS
over exact integers/decimals, so the live form needs no carry at all
(contrast streaming/basket.py, whose distinct-pair semantics force one):
each micro-batch appends its own stratum partials to an AppendOnlyIndex
(``src_batch``-keyed, the vocab/bpe identity-semantic discipline) and the
read side folds them — moments after any batch split equal the batch
moments EXACTLY, integer arithmetic, no tolerance needed.

Scoring discipline: a live screen scores a batch against the moments
accumulated through the PREVIOUS batches (you can't use data you haven't
seen), so ``score_against_moments`` takes the frame and the fold
explicitly; the batch≡streaming pin instead folds everything and
reproduces seasonal_outliers bit-for-bit. Values fold as DECIMAL(18,2) /
DECIMAL(38,4) sums — double accumulation would be partition-order-
dependent and break both replay determinism and the cross-engine gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sinks.batch import AppendOnlyIndex


def _stratum_partial(ev: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    vdec = F.col(value_col).cast("decimal(18,2)")
    return ev.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vdec).alias("s1"),
        F.sum(vdec * vdec).alias("s2"),
    )


def moment_ingest_batch(
    spark: SparkSession,
    moments_dir: str,
    keys: list[str],
    value_col: str = "value",
    compact_every: int | None = None,
):
    """Per-batch body (foreachBatch-shaped): append this batch's exact
    per-stratum moment partial. No carry — moments are additive."""
    idx = AppendOnlyIndex(moments_dir, compact_every=compact_every)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        idx.append(
            _stratum_partial(batch_df, keys, value_col).withColumn(
                "src_batch", F.lit(batch_id)
            ),
            batch_id,
        )

    return process


def fold_moments(
    spark: SparkSession, moments_dir: str, keys: list[str]
) -> DataFrame:
    """Exact accumulated (n, s1, s2) per stratum over everything ingested
    so far (dedup on key+src_batch absorbs replay duplicates)."""
    raw = AppendOnlyIndex(moments_dir).read(spark)
    return (
        raw.dropDuplicates(keys + ["src_batch"])
        .groupBy(*keys)
        .agg(
            F.sum("n").alias("n"),
            F.sum("s1").alias("s1"),
            F.sum("s2").alias("s2"),
        )
    )


def score_against_moments(
    ev: DataFrame,
    moments: DataFrame,
    keys: list[str],
    value_col: str = "value",
    sigma: float = 3.0,
) -> DataFrame:
    """The seasonal_outliers scoring pass against an explicit moment
    frame: |z| > sigma rows with 6-dp-floored z-scores; degenerate
    strata (n ≤ 1, zero variance) emit nothing. Identical double tree
    to the batch query, so streamed-moments scoring is pinned equal."""
    s1d, s2d = F.col("s1").cast("double"), F.col("s2").cast("double")
    var = (s2d - s1d * s1d / F.col("n")) / (F.col("n") - 1)
    z = (F.col(value_col).cast("double") - s1d / F.col("n")) / F.sqrt(var)
    return (
        ev.join(F.broadcast(moments), keys)
        .filter(
            (F.col("n") > 1)
            & (s2d - s1d * s1d / F.col("n") > 0)
            & (F.abs(z) > F.lit(sigma))
        )
        .withColumn("zscore", F.floor(z * 1000000 + 0.5) / 1000000)
        .drop("n", "s1", "s2")
    )
