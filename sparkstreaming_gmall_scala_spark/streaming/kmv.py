"""Streaming K-Minimum-Values distinct mart (the live cardinality sketch).

The batch query (plans/streaming_analog.py:kmv_distinct_daily) keeps each
day's k smallest Knuth-multiplicative user hashes and reads the classic
(k−1)·2^32 div h_(k) estimate. K-min lists form a MERGE MONOID: each of
the global k smallest distinct hashes is necessarily inside its own
batch's k smallest, so union-then-retake-k over per-batch partials lands
on the IDENTICAL h_(k) — the live estimate equals the one-shot batch
estimate EXACTLY at any batch split (integer arithmetic, no tolerance),
pinned in tests/test_streaming_kmv.py. When a day's total distinct count
stays below k, no batch ever drops a hash (each batch's own distinct set
is ≤ the day total < k), so the fold's kept-row count IS the exact count
and the estimate degenerates to it — the same CASE the batch query takes.

State is bounded — k rows per (day, batch) before compaction, and the
read fold re-takes k per day — which is the whole point of the sketch at
100 TB: the exact-distinct mart (streaming/dau.py) carries per-user
state; this one carries 64 longs per day however many users exist.
Unlike the moment/SPC marts the partial is not additive (it is a
bounded-lattice join, idempotent and commutative), but like them it
needs no carry: replayed batches rewrite their own directory and the
fold's distinct absorbs cross-batch repeats of the same hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sinks.batch import AppendOnlyIndex

KMV_K = 64
KMV_A = 2654435761  # Knuth multiplicative constant — odd, so the map is
KMV_M = 4294967296  # a bijection on [0, 2^32)


def kmin_partial(ev: DataFrame, k: int = KMV_K) -> DataFrame:
    """This batch's per-day k smallest distinct user hashes — the same
    hash and rank expressions as the batch query; the rank filter
    compiles to WindowGroupLimit (per-task partial top-k)."""
    du = (
        ev.where(F.col("user_id").isNotNull())
        .select(
            F.date_format("ts", "yyyy-MM-dd").alias("dt"),
            ((F.col("user_id") * F.lit(KMV_A)) % F.lit(KMV_M)).alias("h"),
        )
        .distinct()
    )
    w = Window.partitionBy("dt").orderBy("h")
    return (
        du.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("dt", "h")
    )


def kmv_ingest_batch(
    spark: SparkSession,
    index_dir: str,
    k: int = KMV_K,
    compact_every: int | None = None,
):
    """Per-batch body (foreachBatch-shaped): append this batch's k-min
    partial. (dt, h) rows are identity-semantic, so the AppendOnlyIndex
    crash/compaction contract holds without a carry."""
    idx = AppendOnlyIndex(index_dir, compact_every=compact_every)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        idx.append(
            kmin_partial(batch_df, k).withColumn(
                "src_batch", F.lit(batch_id)
            ),
            batch_id,
        )

    return process


def fold_kmv(
    spark: SparkSession, index_dir: str, k: int = KMV_K
) -> DataFrame:
    """The live estimate: union all partials, re-take the k smallest
    distinct hashes per day (the KMV merge), and read the estimator —
    (dt, kmv_estimate), identical to the batch query's estimate column
    by the monoid argument in the module doc."""
    raw = AppendOnlyIndex(index_dir).read(spark)
    w = Window.partitionBy("dt").orderBy("h")
    kept = (
        raw.select("dt", "h")
        .distinct()
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
    )
    return kept.groupBy("dt").agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.max(F.when(F.col("rn") == k, F.col("h"))).alias("_hk"),
    ).select(
        "dt",
        F.expr(
            f"CAST(CASE WHEN _cnt < {k} THEN _cnt"
            f" ELSE {(k - 1) * KMV_M}L div _hk END AS BIGINT)"
        ).alias("kmv_estimate"),
    )
