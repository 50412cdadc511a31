"""Incremental corpus dedup: MinHash-LSH candidate generation as a
streaming pipeline over a persisted band index.

No reference counterpart (the reference's only dedup is per-key streaming
distinct, app/DauApp.scala:85-104); this is the shape a 100 TB ingest
actually needs: documents arrive continuously, and each micro-batch
computes candidates for the NEW docs only — shingle/minhash cost is
O(batch), and the join probes the persisted (band_idx, band_hash) index
instead of re-banding the whole corpus. Exact duplicates are subsumed:
identical normalized text ⇒ identical signature ⇒ all bands collide.

Incremental completeness argument: a pair {x, y} (x ingested no later
than y) is emitted exactly when y's batch runs — y is new, x is in the
index (or the same batch) — so the union of all batch outputs equals the
batch self-join (operators/dedup.py::lsh_candidate_pairs) over the full
corpus; pinned by tests/test_streaming.py.

Write order is output-then-index, as for every append-only index here:
a crash between the two replays the batch against an index that doesn't
yet contain its bands, recomputing identical pairs. Replaying a batch
AFTER later batches committed emits a superset of its original pairs
(new-vs-everything-indexed); those extras are exactly the later batches'
rows, so the corpus-level pair set is unchanged.

The band index is APPEND-ONLY (``sinks.batch.AppendOnlyIndex``): each
batch writes its own ``batch_id=N`` directory — a replayed id overwrites
itself with identical bands, never touching other batches' files — and
committed dirs fold into a compacted ``base`` generation offline so a
long-running stream doesn't accumulate small files forever. Bands are
insert-only by construction, so no merge is needed: per-batch index
maintenance is O(batch), not O(corpus) — the whole-index
read-union-rewrite ``upsert_parquet`` (a small-dim tool) would be the
bottleneck at 100 TB. The batch's own bands join the probe universe via
a plain union (no ``distinct()``: the index is (doc_id, band_idx)-unique
per batch dir by construction, and the final ``pairs.distinct()``
already absorbs replay overlap).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.dedup import (
    band_signatures,
    minhash_signatures,
    shingle_rows,
    simhash64,
)
from ..sinks.batch import AppendOnlyIndex, IdempotentBatchWriter
from .sources import file_stream

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)

EMB_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)

_BAND_SCHEMA = "doc_id long, band_idx int, band_hash string"

# A bander maps a deduped batch of new docs to its LSH band rows
# (doc_id, band_idx, band_hash) — the ONE family-specific step. Two docs
# are candidates iff they share a (band_idx, band_hash) cell, so the
# index layout, probe join, and replay semantics below are identical for
# every signature family.
Bander = Callable[[DataFrame], DataFrame]


def minhash_bander(num_hashes: int = 8, band_size: int = 2) -> Bander:
    """Shingle → minhash → banded signature rows (the Jaccard family)."""

    def band(new: DataFrame) -> DataFrame:
        return band_signatures(
            minhash_signatures(
                shingle_rows(new, "doc_id", "text"), "doc_id", num_hashes
            ),
            "doc_id",
            num_hashes,
            band_size,
        )

    return band


def simhash_bander() -> Bander:
    """SimHash64 limbs as bands: each of the four 16-bit limbs is one
    band, so any two docs whose signatures agree on a limb collide —
    the pigeonhole guarantee that Hamming distance ≤ 3 over 64 bits
    always shares one exact limb (the standard simhash blocking
    scheme)."""

    def band(new: DataFrame) -> DataFrame:
        sig = simhash64(shingle_rows(new, "doc_id", "text"), "doc_id")
        return sig.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).cast("int").alias("band_idx"),
                            F.col(f"simhash_limb{i}")
                            .cast("string")
                            .alias("band_hash"),
                        )
                        for i in range(4)
                    ]
                )
            ).alias("_b"),
        ).select(
            "doc_id", F.col("_b.band_idx"), F.col("_b.band_hash")
        )

    return band


def embedding_bander(
    planes: list[list[float]], bands: int, vec_col: str = "embedding"
) -> Bander:
    """Banded random-hyperplane LSH over an embedding column (the cosine
    family): the plane list splits into ``bands`` groups; each group's
    sign bits form one bucket id (operators/similarity.py's
    OR-construction, re-used here as band rows)."""

    def band(new: DataFrame) -> DataFrame:
        from ..operators.similarity import _band_buckets

        bb = _band_buckets(
            new.select("doc_id", vec_col), vec_col, planes, bands
        )
        return bb.select(
            "doc_id",
            F.col("band").cast("int").alias("band_idx"),
            F.col("bucket").cast("string").alias("band_hash"),
        )

    return band


def band_probe(banded_new: DataFrame, universe: DataFrame) -> DataFrame:
    """Candidate pairs for the NEW docs against the band universe, with
    the index side never shuffled: the batch's bands — bounded by batch
    size — broadcast into the join, so the persisted index contributes a
    scan, not an exchange (at corpus scale re-shuffling the index every
    micro-batch would dominate). The inequality keeps self-pairs out;
    least/greatest + distinct canonicalize and absorb replay overlap."""
    a, b = banded_new.alias("a"), universe.alias("b")
    return (
        F.broadcast(a)
        .join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least("a.doc_id", "b.doc_id").alias("id_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("id_b"),
        )
        .distinct()
    )


def banded_candidates_batch(
    spark: SparkSession,
    index_dir: str,
    sink: IdempotentBatchWriter,
    bander: Bander,
    compact_every: int | None = None,
):
    """Per-batch body (exposed so tests can replay a (batch_df, batch_id)
    directly), generic over the signature family: band the NEW docs via
    ``bander``, join against the persisted band index ∪ this batch, emit
    (id_a, id_b) candidates, then append the new bands as the index's
    ``batch_id=N`` directory.

    ``compact_every=N`` folds committed batch dirs into the ``base``
    generation every N batches, inline in the foreachBatch body — without
    it a long-running stream accumulates one small-file directory per
    micro-batch until someone compacts offline. Only ids ≤ current − 1
    fold: the current batch's dir is the one a post-crash replay may
    rewrite, so it must stay its own generation. Compaction cost is
    O(index) every N batches — amortized O(index/N) per batch; pick N so
    that's ≪ the per-batch probe cost (and note the probe itself gets
    FASTER after each fold: one coalesced base beats N small-file dirs).
    """
    # contract schema: every read of the just-grown index would
    # otherwise pay a one-task footer-inference job per micro-batch
    # (the stat memo can never hit — appending changes the key)
    index = AppendOnlyIndex(
        index_dir, schema=_BAND_SCHEMA, compact_every=compact_every
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        new = batch_df.dropDuplicates(["doc_id"])
        banded_new = bander(new).persist()
        if index.has_data():
            seen = index.read(spark)
        else:
            seen = spark.createDataFrame([], _BAND_SCHEMA)
        # A replayed batch finds its own bands already indexed; the extra
        # copies only produce duplicate pairs, which band_probe's distinct
        # absorbs — no O(corpus) universe.distinct() needed.
        pairs = band_probe(banded_new, seen.unionByName(banded_new))
        sink(pairs, batch_id)
        index.append(banded_new, batch_id)
        banded_new.unpersist()

    return process


def dedup_candidates_batch(
    spark: SparkSession,
    index_dir: str,
    sink: IdempotentBatchWriter,
    num_hashes: int = 8,
    band_size: int = 2,
):
    """MinHash-family per-batch body (the original surface; see
    ``banded_candidates_batch`` for the generic form)."""
    return banded_candidates_batch(
        spark, index_dir, sink, minhash_bander(num_hashes, band_size)
    )


def _banded_pipeline(
    spark: SparkSession,
    src: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint: str,
    bander: Bander,
    compact_every: int | None = None,
):
    sink = IdempotentBatchWriter(out_dir, schema="id_a long, id_b long")
    return (
        src.writeStream.foreachBatch(
            banded_candidates_batch(
                spark, index_dir, sink, bander, compact_every
            )
        )
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


def dedup_index_pipeline(
    spark: SparkSession,
    src_dir: str,
    index_dir: str,
    out_dir: str,
    checkpoint: str,
    num_hashes: int = 8,
    band_size: int = 2,
    compact_every: int | None = None,
):
    """Document stream → incremental MinHash-LSH candidate pairs + index."""
    docs = file_stream(spark, src_dir, DOC_SCHEMA)
    return _banded_pipeline(
        spark, docs, index_dir, out_dir, checkpoint,
        minhash_bander(num_hashes, band_size), compact_every,
    )


def simhash_index_pipeline(
    spark: SparkSession,
    src_dir: str,
    index_dir: str,
    out_dir: str,
    checkpoint: str,
    compact_every: int | None = None,
):
    """Document stream → incremental SimHash-limb candidate pairs + index."""
    docs = file_stream(spark, src_dir, DOC_SCHEMA)
    return _banded_pipeline(
        spark, docs, index_dir, out_dir, checkpoint, simhash_bander(),
        compact_every,
    )


def embed_index_pipeline(
    spark: SparkSession,
    src_dir: str,
    index_dir: str,
    out_dir: str,
    checkpoint: str,
    planes: list[list[float]],
    bands: int,
    compact_every: int | None = None,
):
    """Embedding stream → incremental hyperplane-LSH candidate pairs +
    index (near-dup candidates by cosine family; verify with
    operators/similarity.py's scorers downstream)."""
    embs = file_stream(spark, src_dir, EMB_SCHEMA)
    return _banded_pipeline(
        spark, embs, index_dir, out_dir, checkpoint,
        embedding_bander(planes, bands), compact_every,
    )
