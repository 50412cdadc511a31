"""Streaming Gram-matrix mart: the live spectral audit's state.

The Gram matrix M = AᵀA is a SUM of per-row outer products — an
additive integer monoid, the nation-daily/SPC mart discipline with a
(i, j) cell key: each micro-batch of embeddings appends its own
4096-cell (dim², dim=64) exact-integer Gram partial to an
AppendOnlyIndex, and the read side folds cells (dedup on
key+src_batch absorbs replay duplicates, exact integer addition) and
hands the 64×64 matrix to the SAME power iteration the batch audit
runs (operators/spectral.py:power_iteration_from_gram) — batch ≡ live
EXACTLY, because w = Mv evaluated from the folded M carries the
identical integers as the batch path's two data passes (associativity
of integer addition; pinned in tests/test_streaming_spectral.py over
splits + replays + compaction).

The 100 TB story: per-batch cost is one pass over the NEW vectors (a
dim²-cell partial aggregate — map-side combine folds it before the
shuffle), the mart holds 4096 longs per generation however many
vectors exist, and the audit itself never rescans the corpus — the
continuous-aggregate shape applied to second-moment state. The same
mart answers covariance/whitening questions (M minus mean outer
product) without another scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sinks.batch import AppendOnlyIndex


def gram_partial(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """This batch's exact-integer Gram cells: (i, j, s) 1-indexed,
    s = Σ q[i]·q[j] over the batch's quantized rows. Two chained
    posexplodes (one generator per select) fan each row to dim² cell
    contributions; the groupBy partial-aggregates map-side so the
    shuffle carries ≤ dim² rows per task."""
    q = emb.select(
        F.expr(
            f"transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE) "
            "* 1000000 + 0.5) AS BIGINT))"
        ).alias("q")
    )
    left = q.select(
        F.posexplode("q").alias("i0", "qi"), F.col("q")
    )
    cells = left.select(
        (F.col("i0") + 1).alias("i"),
        "qi",
        F.posexplode("q").alias("j0", "qj"),
    )
    return cells.groupBy(
        "i", (F.col("j0") + 1).alias("j")
    ).agg(
        F.sum(
            F.col("qi").cast("decimal(38,0)") * F.col("qj")
        ).alias("s")
    )


def gram_partial_kernel(
    emb: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """``gram_partial``'s Arrow-kernel twin (r14 verdict #5): the same
    (i, j, s) DECIMAL(38,0) cells, but each partition contributes ONE
    int64 numpy matmul per Arrow batch (big-int object fold across
    batches) instead of fanning every row into dim² cell rows. Identical
    integers by associativity — pinned against the reference in
    tests/test_spectral_kernel.py; the ingest path routes through this,
    the posexplode reference stays as the oracle-shaped twin."""
    from ..operators.spectral import gram_cells_kernel

    return (
        gram_cells_kernel(emb, vec_col)
        .groupBy("i", "j")
        .agg(F.sum("s").alias("s"))
    )


def gram_ingest_batch(
    spark: SparkSession,
    index_dir: str,
    vec_col: str = "embedding",
    compact_every: int | None = None,
):
    """Per-batch body (foreachBatch-shaped): append this batch's Gram
    partial. Counter rows carry src_batch so replays dedup exactly
    (the nation-daily identity trick)."""
    idx = AppendOnlyIndex(index_dir, compact_every=compact_every)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        idx.append(
            gram_partial_kernel(batch_df, vec_col).withColumn(
                "src_batch", F.lit(batch_id)
            ),
            batch_id,
        )

    return process


def fold_gram(spark: SparkSession, index_dir: str) -> dict:
    """The exact accumulated Gram matrix over everything ingested so
    far, as a {(i, j): int} dict (4096 entries — bounded driver state
    by construction)."""
    raw = AppendOnlyIndex(index_dir).read(spark)
    folded = (
        raw.dropDuplicates(["i", "j", "src_batch"])
        .groupBy("i", "j")
        .agg(F.sum("s").alias("s"))
    )
    return {
        (int(r["i"]), int(r["j"])): int(r["s"]) for r in folded.collect()
    }
