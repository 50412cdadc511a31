"""Streaming corpus ingest: the LLM-pipeline analog of the reference's
ODS layer (ods/BaseDBCanalApp.scala ingests + routes CDC; here documents
arrive continuously and are quality-filtered, PII-masked, decontaminated,
and exact-deduped against everything already ingested).

Per micro-batch, all stages are the SAME pure operators the batch catalog
queries run (operators/textstats.py, operators/cleaning.py), composed in
``foreachBatch``:

1. Gopher-rule keep filter + PII masking — scan-side Column expressions,
   zero state;
2. optional eval-set decontamination — broadcast anti-join against a
   static benchmark shingle set (tiny by definition);
3. cross-batch exact dedup against a persisted fingerprint index —
   APPEND-ONLY like streaming/dedup.py's band index: each batch writes
   its own ``batch_id=N`` directory of (fp, keeper doc_id) rows, so
   index maintenance is O(batch) and a replayed batch overwrites only
   its own directory.

Replay safety: a doc is kept when its fingerprint is unseen OR the seen
keeper IS this doc — so replaying a committed batch re-keeps exactly its
original survivors (their own index entries match) and re-drops the rest.
Write order is output-then-index (streaming/dedup.py's replay argument).

Equivalence contract (pinned by tests/test_streaming.py): with arrival
order following doc_id order, the union of batch outputs equals the
batch recipe on the union (gopher ∩ not-contaminated ∩ min-doc_id-per-
fingerprint). Under out-of-order arrival the streaming form keeps the
FIRST-ARRIVING doc per fingerprint — standard streaming-dedup semantics,
deterministic per checkpointed batch assignment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import fingerprint
from ..operators.cleaning import pii_mask
from ..operators.dedup import shingle_rows
from ..operators.textstats import gopher_quality
from ..sinks.batch import AppendOnlyIndex, IdempotentBatchWriter
from .dedup import DOC_SCHEMA
from .sources import file_stream

_FP_SCHEMA = "fp string, keeper long"


def probe_fingerprints(fps: DataFrame, seen: DataFrame) -> DataFrame:
    """Replay-safe dedup probe that NEVER shuffles the index: a naive
    ``fps.join(seen, "fp", "left")`` cannot broadcast the batch side (the
    preserved side of a left-outer join is not broadcastable), so at
    corpus scale the whole fingerprint index would re-shuffle every
    micro-batch. Instead the batch's fingerprints — bounded by batch
    size by definition — broadcast into an inner join against the index
    SCAN (O(index) read, zero index shuffle), and the ≈ batch-sized hit
    set broadcasts back into the left join. No dedup of the broadcast
    fingerprints: duplicate fps only duplicate hit rows, which the
    caller's per-fp aggregate absorbs — a dropDuplicates here would be
    the probe's only exchange. Returns the keep candidates: unseen
    fingerprints plus rows whose seen keeper is themselves (replay)."""
    hits = seen.join(F.broadcast(fps.select("fp")), "fp")
    probed = fps.join(F.broadcast(hits), "fp", "left")
    return probed.filter(
        F.col("keeper").isNull() | (F.col("keeper") == F.col("doc_id"))
    )


def _mask_and_fingerprint(
    docs: DataFrame, eval_docs: DataFrame | None
) -> DataFrame:
    """The shared filter chain (ONE definition so the streaming body and
    the batch recipe cannot drift apart — the equivalence test pins them
    equal): gopher keeps → eval decontamination → PII mask → fingerprint.
    Returns (doc_id, masked_text, fp)."""
    keeps = (
        gopher_quality(docs, "doc_id", "text").filter("keep").select("doc_id")
    )
    survivors = docs.join(keeps, "doc_id")
    if eval_docs is not None:
        eval_sh = (
            shingle_rows(eval_docs, "doc_id", "text")
            .select("shingle")
            .distinct()
        )
        contaminated = (
            shingle_rows(survivors, "doc_id", "text")
            .join(F.broadcast(eval_sh), "shingle")
            .select("doc_id")
            .distinct()
        )
        survivors = survivors.join(contaminated, "doc_id", "left_anti")
    masked = pii_mask(survivors, "doc_id", "text").select(
        "doc_id", "masked_text"
    )
    return masked.withColumn("fp", fingerprint(F.col("masked_text")))


def corpus_ingest_batch(
    spark: SparkSession,
    index_dir: str,
    sink: IdempotentBatchWriter,
    eval_docs: DataFrame | None = None,
    compact_every: int | None = None,
):
    """Per-batch body (exposed so tests can replay (batch_df, batch_id)).

    ``compact_every=N`` folds committed fingerprint dirs into the base
    generation every N batches (ids ≤ current − 1 only — the current dir
    is the replay-rewritable one); see banded_candidates_batch for the
    amortization argument."""
    index = AppendOnlyIndex(index_dir, compact_every=compact_every)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.dropDuplicates(["doc_id"])
        # Persisted: fps feeds three subtrees (the broadcast probe, the
        # probed left side, the output join) across TWO actions (sink +
        # index append) — unpersisted, the gopher/decontaminate/mask
        # chain would re-execute per subtree per action.
        fps = _mask_and_fingerprint(b, eval_docs).persist()
        if index.has_data():
            seen = index.read(spark)
        else:
            seen = spark.createDataFrame([], _FP_SCHEMA)
        # the smallest candidate doc per fp within the batch wins;
        # persisted so the second action doesn't re-probe the index
        candidates = probe_fingerprints(fps, seen)
        kept = (
            candidates.groupBy("fp")
            .agg(F.min("doc_id").alias("doc_id"))
            .persist()
        )
        out = kept.join(
            fps.select("doc_id", "masked_text"), "doc_id"
        ).select("doc_id", "masked_text")
        sink(out, batch_id)
        # The batch dir holds THIS batch's keeper rows. Deliberately NOT
        # an anti-join against seen: on replay the keepers' own entries
        # are already in seen, and "new only" would rewrite the batch dir
        # empty, losing the index. Writing the keeper set is idempotent
        # (replay rewrites identical rows) and still O(batch).
        index.append(
            kept.select("fp", F.col("doc_id").alias("keeper")), batch_id
        )
        kept.unpersist()
        fps.unpersist()

    return process


def corpus_ingest_pipeline(
    spark: SparkSession,
    src_dir: str,
    index_dir: str,
    out_dir: str,
    checkpoint: str,
    eval_docs: DataFrame | None = None,
    compact_every: int | None = None,
):
    """Document stream → curated, masked, deduped corpus + fp index."""
    docs = file_stream(spark, src_dir, DOC_SCHEMA)
    sink = IdempotentBatchWriter(out_dir)
    return (
        docs.writeStream.foreachBatch(
            corpus_ingest_batch(spark, index_dir, sink, eval_docs, compact_every)
        )
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


def corpus_ingest_batch_recipe(
    docs: DataFrame, eval_docs: DataFrame | None = None
) -> DataFrame:
    """The batch form of the same recipe (for equivalence tests and
    backfills): the SAME ``_mask_and_fingerprint`` chain, then min-doc_id
    exact dedup on the masked fingerprint."""
    fps = _mask_and_fingerprint(docs, eval_docs)
    kept = fps.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    return kept.join(
        fps.select("doc_id", "masked_text"), "doc_id"
    ).select("doc_id", "masked_text")
