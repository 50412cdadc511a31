"""Incremental IVF ANN ingest: a vector index that grows with the stream.

The batch ANN family (operators/similarity.py, operators/pq.py) builds
its cell-partitioned index in one pass over a static corpus. At ingest
scale the corpus isn't static — embeddings arrive continuously — and
re-running ivf_build per batch is O(corpus) each time. This pipeline is
the O(batch) form: each micro-batch assigns its NEW vectors to their
nearest coarse-quantizer cell and appends them to a cell-partitioned
``AppendOnlyIndex`` whose merged content is EXACTLY ivf_build's layout
over the union of batches — so the probe is the same cell-pruned join,
and results are identical to a batch-built index at every point in time
(pinned in tests).

Centroids are FROZEN at index bootstrap (trained once on a seed sample
via ``kmeans_centroids``): the standard streaming-IVF contract, since
moving centroids would strand already-indexed vectors in stale cells.
Drift is handled the way faiss deployments do — periodically retrain
offline and rebuild, which here is just ivf_build into a fresh dir.

Scale shape:
- Per-batch work is assignment (a codegen'd when-chain over k cells) +
  one partitioned write of the batch — no shuffle of the index, no read
  of prior batches at ingest time.
- Every generation (batch dirs and the compacted base) is partitioned by
  ``cell``, so a probe's cell filter prunes directories at scan time in
  each generation — the knn_ivf_pq_persisted pruning argument, kept true
  under streaming growth.
- Inline compaction (``compact_every``) folds committed batch dirs into
  one base generation, keeping directory count O(1) over an unbounded
  stream (the streaming/dedup.py lifecycle, reused verbatim).

Replay: a retried batch rewrites its own ``batch_id=N`` dir with
identical rows (assignment is deterministic given frozen centroids) —
no other batch's files are touched. After an interrupted compaction the
index may transiently hold duplicate rows; the probe dedups candidate
(query, neighbor) pairs AFTER cell pruning — O(candidates), not
O(corpus) — so top-k never surfaces a neighbor twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import (
    _nearest_cell,
    _pair_score,
    _rank_topk,
    _sq_dist,
    _with_norm,
)
from ..sinks.batch import AppendOnlyIndex
from .dedup import EMB_SCHEMA
from .sources import file_stream


def ivf_assign(
    new: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    dim: int | None = None,
) -> DataFrame:
    """(neighbor_id, cvec, _cnorm, cell): ivf_build's exact row layout
    for a batch of new vectors — norms precomputed at ingest so probes
    never redo corpus-side math."""
    return _with_norm(
        new.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
        ),
        "cvec",
        "_cnorm",
        dim,
    ).withColumn("cell", _nearest_cell(F.col("cvec"), centroids))


def ivf_ingest_batch(
    spark: SparkSession,
    index_dir: str,
    centroids: list[list[float]],
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    compact_every: int | None = None,
):
    """Per-batch body (exposed so tests can drive (batch_df, batch_id)
    directly): dedup the batch on id, assign cells, append the batch's
    own cell-partitioned directory. O(batch) — the index is never read
    at ingest time."""
    index = AppendOnlyIndex(
        index_dir, partition_by=("cell",), compact_every=compact_every
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        new = batch_df.dropDuplicates([id_col])
        index.append(ivf_assign(new, id_col, vec_col, centroids, dim), batch_id)

    return process


def ivf_index_topk(
    queries: DataFrame,
    index_dir: str,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 3,
    dim: int | None = None,
) -> DataFrame:
    """ANN top-k against the streamed index: identical semantics to
    operators/similarity.py::ivf_probe over an ivf_build of the same
    rows — same frozen centroids, same cell pruning (the broadcast join
    on the ``cell`` partition column prunes unprobed directories in
    every generation), same scoring and tie-break. The candidate-level
    dropDuplicates absorbs post-crash compaction duplicates by the
    AppendOnlyIndex reader contract."""
    spark = queries.sparkSession
    cb = AppendOnlyIndex(index_dir, partition_by=("cell",)).read(spark)
    qv = _with_norm(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
        ),
        "qvec",
        "_qnorm",
        dim,
    )
    cell_d = F.array(
        *[
            F.struct(
                _sq_dist(F.col("qvec"), c).alias("d"), F.lit(i).alias("cell")
            )
            for i, c in enumerate(centroids)
        ]
    )
    qb = qv.withColumn(
        "cell",
        F.explode(F.slice(F.array_sort(cell_d), 1, nprobe).getField("cell")),
    )
    scored = (
        cb.join(F.broadcast(qb), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("score", _pair_score(dim))
    )
    return _rank_topk(scored, k)


def ivf_ingest_pipeline(
    spark: SparkSession,
    src_dir: str,
    index_dir: str,
    checkpoint: str,
    centroids: list[list[float]],
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    compact_every: int | None = None,
):
    """Embedding file-drop stream → incrementally grown IVF index."""
    embs = file_stream(spark, src_dir, EMB_SCHEMA)
    return (
        embs.writeStream.foreachBatch(
            ivf_ingest_batch(
                spark, index_dir, centroids, id_col, vec_col, dim,
                compact_every,
            )
        )
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


def ivfpq_ingest_batch(
    spark: SparkSession,
    index_dir: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    compact_every: int | None = None,
):
    """Streaming IVF-PQ ingest — the 32×-compressed sibling of
    ``ivf_ingest_batch``: each micro-batch's new vectors are encoded to
    (id, cell, codes) with BOTH quantizers frozen at bootstrap (coarse
    centroids + PQ codebooks — the faiss contract: retrain offline,
    rebuild into a fresh dir) and appended as a cell-partitioned batch
    directory. At 100 TB this is the ingest shape that matters: the
    index grows by code bytes (m bytes/vector), not raw float32s, while
    probes keep both bounds — cells bound candidates via partition
    pruning, codes bound bytes via the ADC scan."""
    from ..operators.pq import ivf_pq_encode

    index = AppendOnlyIndex(
        index_dir, partition_by=("cell",), compact_every=compact_every
    )
    _stamp_code_scheme(index_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        new = batch_df.dropDuplicates([id_col])
        index.append(
            ivf_pq_encode(new, id_col, vec_col, centroids, codebooks),
            batch_id,
        )

    return process


# The on-disk code layout contract. Bumped when the encode scheme
# changes meaning (raw-subvector codes → residual codes, the faiss
# IndexIVFPQ switch): codes from one scheme probed with the other's ADC
# tables return silently-garbage scores, so the probe REFUSES an index
# whose stamp doesn't match instead. Pre-stamp dirs (built before the
# residual switch) fail the check too — rebuild them.
IVFPQ_CODE_SCHEME = "ivfpq-residual-v1"


def _stamp_code_scheme(index_dir: str) -> None:
    import os

    os.makedirs(index_dir, exist_ok=True)
    marker = os.path.join(index_dir, "_CODE_SCHEME")
    if os.path.exists(marker):
        _check_code_scheme(index_dir)
        return
    with open(marker, "w") as fh:
        fh.write(IVFPQ_CODE_SCHEME)


def _check_code_scheme(index_dir: str) -> None:
    import os

    marker = os.path.join(index_dir, "_CODE_SCHEME")
    found = None
    if os.path.exists(marker):
        with open(marker) as fh:
            found = fh.read().strip()
    if found != IVFPQ_CODE_SCHEME:
        raise ValueError(
            f"IVF-PQ index at {index_dir} carries code scheme {found!r}; "
            f"this build probes {IVFPQ_CODE_SCHEME!r}. Codes from a "
            "different scheme produce silently wrong ADC scores — "
            "rebuild the index with the current ivfpq_ingest pipeline."
        )


def ivfpq_index_topk(
    queries: DataFrame,
    index_dir: str,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    nprobe: int = 3,
    rerank: DataFrame | None = None,
    shortlist: int = 32,
) -> DataFrame:
    """ADC top-k against the streamed codes index: identical semantics to
    ``operators.pq.ivf_pq_topk`` over an ivf_pq_encode of the same rows
    (same frozen quantizers ⇒ same cells, same codes). The id-dedup
    absorbs post-crash compaction duplicates per the AppendOnlyIndex
    reader contract — a shuffle of m-byte code rows (32× smaller than
    the raw vectors it replaces), and only transiently non-trivial."""
    from ..operators.pq import ivf_pq_topk

    _check_code_scheme(index_dir)
    spark = queries.sparkSession
    idx = (
        AppendOnlyIndex(index_dir, partition_by=("cell",))
        .read(spark)
        .dropDuplicates([id_col])
    )
    return ivf_pq_topk(
        idx, queries, id_col, vec_col, centroids, codebooks,
        k=k, nprobe=nprobe, rerank=rerank, shortlist=shortlist,
    )


def sq8_ingest_batch(
    spark: SparkSession,
    index_dir: str,
    bounds: list[tuple[float, float]],
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    compact_every: int | None = None,
):
    """Streaming SQ8 ingest — the codebook-free sibling of the IVF/IVF-PQ
    ingests: each micro-batch's new vectors encode to per-dimension uint8
    codes against BOUNDS frozen at bootstrap (the frozen-quantizer
    contract: rescaling bounds would re-mean every already-indexed code;
    drift = offline re-bound + rebuild into a fresh dir) and append as a
    batch directory of (id, codes) rows. Encoding is pure Column
    arithmetic — the only streaming-ANN ingest with zero Python workers.
    A vector outside the frozen bounds clamps to 0/255 (the SQ8-standard
    saturation), so late out-of-range arrivals degrade gracefully instead
    of erroring. Each row lands WITH its precomputed decode-norm
    (sq8_with_norm — the persisted-index convention), so probes pay no
    per-row decode fold."""
    from ..operators.sq import sq8_encode, sq8_with_norm

    index = AppendOnlyIndex(index_dir, compact_every=compact_every)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        new = batch_df.dropDuplicates([id_col])
        index.append(
            sq8_with_norm(sq8_encode(new, id_col, vec_col, bounds), bounds),
            batch_id,
        )

    return process


def sq8_index_topk(
    queries: DataFrame,
    index_dir: str,
    id_col: str,
    vec_col: str,
    bounds: list[tuple[float, float]],
    k: int = 5,
    rerank: DataFrame | None = None,
    shortlist: int = 32,
    dim: int | None = None,
) -> DataFrame:
    """ANN top-k against the streamed codes index: identical semantics to
    ``operators.sq.sq8_topk`` over an sq8_encode of the same rows (same
    frozen bounds ⇒ same codes). The id-dedup absorbs post-crash
    compaction duplicates per the AppendOnlyIndex reader contract."""
    from ..operators.sq import sq8_topk

    spark = queries.sparkSession
    idx = AppendOnlyIndex(index_dir).read(spark).dropDuplicates([id_col])
    return sq8_topk(
        idx, queries, id_col, vec_col, bounds,
        k=k, rerank=rerank, shortlist=shortlist, dim=dim,
    )
