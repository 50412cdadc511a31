"""Streaming per-cell mart: the live cluster-drift monitor's state.

Under FROZEN centroids (exact_kmeans' closed-form integers — frozen at
index-build time, the faiss deployment reality), each micro-batch of
embeddings appends only its OWN per-(cell, pos) quantized sums and
counts to an AppendOnlyIndex — an additive integer monoid (the
nation-daily/Gram-mart discipline). The read side folds the cells
(dedup on key+src_batch absorbs replays, exact integer addition) and
computes the SAME report as the batch ``cluster_drift_frame``: per cell
its occupancy and drift² = how far one more Lloyd update would move the
frozen centroid. Batch ≡ live EXACTLY — assignment is per-row under
frozen centroids (batch-split invariant) and sums/counts are
associative — so the live twin shares the batch entry's oracle
verbatim; pinned over splits + replays in tests/test_streaming_cells.py.

The 100 TB story: per-batch cost is one codegen'd argmin pass over the
NEW vectors plus a k×dim-cell partial aggregate (map-side combined);
mart state is k×dim longs per generation however many vectors exist.
When drift² crosses a threshold you re-run exact_kmeans — the
re-train-the-quantizer signal an IVF index needs, answered without ever
rescanning the corpus.

No reference counterpart (the reference has no vector ops); the
mart/monoid shape mirrors streaming/spectral.py's Gram mart.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.kmeans_exact import _argmin_struct, quantize
from ..sinks.batch import AppendOnlyIndex


def cell_partial(
    emb: DataFrame,
    cents: list[list[int]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """This batch's per-(cell, pos) partial: (cell, pos, s, n) with
    s = Σ q[pos] and n = member count, assignment by the frozen-centroid
    integer argmin (ties to the lowest cell — exact_kmeans' rule)."""
    q = quantize(emb, id_col, vec_col)
    assigned = q.select(
        _argmin_struct("q", cents)["j"].alias("cell"), "q"
    )
    return (
        assigned.select("cell", F.posexplode("q").alias("pos", "x"))
        .groupBy("cell", "pos")
        .agg(
            F.sum(F.col("x").cast("decimal(38,0)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def cells_ingest_batch(
    spark: SparkSession,
    index_dir: str,
    cents: list[list[int]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compact_every: int | None = None,
):
    """Per-batch body (foreachBatch-shaped): append this batch's cell
    partial. Rows carry src_batch so replays dedup exactly."""
    idx = AppendOnlyIndex(index_dir, compact_every=compact_every)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        idx.append(
            cell_partial(batch_df, cents, id_col, vec_col).withColumn(
                "src_batch", F.lit(batch_id)
            ),
            batch_id,
        )

    return process


def fold_cells(
    spark: SparkSession, index_dir: str
) -> dict[tuple[int, int], tuple[int, int]]:
    """The accumulated {(cell, pos): (s, n)} over everything ingested —
    k×dim entries, bounded driver state by construction."""
    raw = AppendOnlyIndex(index_dir).read(spark)
    folded = (
        raw.dropDuplicates(["cell", "pos", "src_batch"])
        .groupBy("cell", "pos")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
    )
    return {
        (int(r["cell"]), int(r["pos"])): (int(r["s"]), int(r["n"]))
        for r in folded.collect()
    }


def cluster_drift_report(
    spark: SparkSession,
    cents: list[list[int]],
    folded: dict[tuple[int, int], tuple[int, int]],
) -> DataFrame:
    """(cell, n, drift2) from the folded mart — the identical half-up
    quotient and integer drift arithmetic as cluster_drift_frame, so
    live ≡ batch value-for-value. Empty cell ⇒ (n=0, drift2=0)."""
    k = len(cents)
    rows = []
    for j in range(k):
        n = 0
        drift = 0
        for pos, c in enumerate(cents[j]):
            s_n = folded.get((j, pos))
            if s_n is None:
                continue
            s, n = s_n
            m = int(math.floor(s / n + 0.5))
            drift += (m - c) ** 2
        rows.append((j, n, drift))
    return spark.createDataFrame(rows, "cell long, n long, drift2 long")
