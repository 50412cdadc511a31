"""Streaming curation: corpus ingest + near-dup candidate generation in
ONE pipeline — the full 100 TB ingest recipe.

``streaming/corpus.py`` curates each micro-batch (Gopher keeps, eval
decontamination, PII mask, exact dedup against the fingerprint index);
``streaming/dedup.py`` finds near-dup candidates against the band index.
A production ingest wants both from the same pass: this module composes
them so each batch's curated SURVIVORS feed the bander — near-dup
candidates are computed over exactly the docs that enter the corpus
(post-mask text, so the signatures match what downstream stores), and a
doc dropped by curation never pays shingle/minhash cost.

Outputs and indexes, one foreachBatch body:

- ``docs_sink``:  (doc_id, masked_text) — this batch's curated keeps;
- ``pairs_sink``: (id_a, id_b) — near-dup candidates among keeps, new
  vs. everything previously kept (band-index probe, batch side
  broadcast — the index never shuffles);
- ``wins_sink`` (optional, round 7): (id_a, start_a, id_b, start_b) —
  SUBSTRING-dup candidate occurrence pairs: rolling ``window``-token
  hashes of each batch's keeps probe a third append-only index of all
  previously kept docs' window hashes (same broadcast-probe pattern),
  so dup_spans/cut_spans candidates emerge incrementally — the span
  merge and keep-first cut stay batch-side over the accumulated pairs
  (positions are already in the rows);
- fingerprint index + band index (+ window index), all append-only with
  optional inline compaction (``compact_every``).

Replay: the fp probe re-keeps a replayed batch's original survivors
(their own index entries match — corpus.py's contract), so the bander
re-bands the same rows, the band probe re-emits a superset of the
original pairs (extras are later batches' rows), and both sinks
overwrite their own ``batch_id=N`` dirs — the corpus-level doc set and
pair set are unchanged. Pinned by tests/test_streaming.py.

What this deliberately does NOT stream: the boilerplate-fraction,
bigram-LM (avg_logprob — the model is trained on the FULL corpus), and
domain-mix stages of ``corpus_curate``. All three are
corpus-retrospective — a doc's boiler_frac and LM score depend on
documents that arrive AFTER it, and mix thresholds on final stratum
counts — so a streaming keep/drop decision cannot match the batch
result without retractions. At 100 TB those run
as the batch ``corpus_features`` pass over the ingested corpus (or an
offline sweep during the compaction window).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import _tokenized, _window_hashes
from ..sinks.batch import AppendOnlyIndex, IdempotentBatchWriter
from .corpus import _FP_SCHEMA, _mask_and_fingerprint, probe_fingerprints
from .dedup import _BAND_SCHEMA, Bander, band_probe, minhash_bander
from .sources import file_stream

_WIN_SCHEMA = "doc_id long, start int, win_hash string"


def window_rows(
    docs: DataFrame, window: int = 20, text_col: str = "text"
) -> DataFrame:
    """(doc_id, start, win_hash): every ``window``-token rolling-window
    md5 of each doc — the index/probe rows of the streaming substring-dup
    surface (operators/dedup.py's dup_spans machinery, per batch)."""
    return _window_hashes(
        _tokenized(docs, "doc_id", text_col), "doc_id", window
    ).select("doc_id", "start", F.col("_h").alias("win_hash"))


def win_probe(wins_new: DataFrame, universe: DataFrame) -> DataFrame:
    """Substring-dup candidate OCCURRENCE pairs for the new docs against
    the window universe: two occurrences of the same window hash emit one
    (id_a, start_a, id_b, start_b) row, canonicalized by the packed
    (doc_id·10⁶ + start) order — the cut_spans arg-min key — so the union
    over batches equals the batch self-join regardless of arrival order,
    and the keep-first cut derives downstream (an occurrence is cuttable
    iff it appears as the GREATER side of any pair). Batch side
    broadcasts; the index contributes a scan, never an exchange. The
    packed inequality drops self-matches, so a replayed batch probing its
    own indexed rows re-emits exactly its original pairs (plus later
    batches' — absorbed by distinct at read time, the band_probe
    contract)."""
    a, b = wins_new.alias("a"), universe.alias("b")
    pa = F.col("a.doc_id") * F.lit(1_000_000) + F.col("a.start")
    pb = F.col("b.doc_id") * F.lit(1_000_000) + F.col("b.start")
    return (
        F.broadcast(a)
        .join(b, (F.col("a.win_hash") == F.col("b.win_hash")) & (pa != pb))
        .select(
            F.when(pa < pb, F.col("a.doc_id"))
            .otherwise(F.col("b.doc_id"))
            .alias("id_a"),
            F.when(pa < pb, F.col("a.start"))
            .otherwise(F.col("b.start"))
            .alias("start_a"),
            F.when(pa < pb, F.col("b.doc_id"))
            .otherwise(F.col("a.doc_id"))
            .alias("id_b"),
            F.when(pa < pb, F.col("b.start"))
            .otherwise(F.col("a.start"))
            .alias("start_b"),
        )
        .distinct()
    )


def curate_ingest_batch(
    spark: SparkSession,
    fp_index_dir: str,
    band_index_dir: str,
    docs_sink: IdempotentBatchWriter,
    pairs_sink: IdempotentBatchWriter,
    bander: Bander | None = None,
    eval_docs: DataFrame | None = None,
    compact_every: int | None = None,
    win_index_dir: str | None = None,
    wins_sink: IdempotentBatchWriter | None = None,
    window: int = 20,
    keeps_hook=None,
):
    """Per-batch body (exposed so tests can replay (batch_df, batch_id)):
    curate the batch, emit keeps, band the keeps, emit near-dup candidate
    pairs against the band index, append both indexes. With
    ``win_index_dir`` + ``wins_sink``, also emit substring-dup candidate
    occurrence pairs (``win_probe``) against a third append-only index of
    the keeps' rolling window hashes — same compaction cadence.

    ``keeps_hook`` (callable ``(keeps_df, batch_id) -> None``) runs once
    per batch on the curated keeps (doc_id, masked_text), right after the
    docs sink write — the composition point downstream per-batch stages
    (DSIR selection, classifier scoring) attach to without re-reading the
    corpus. A hook must be idempotent per batch id (write through an
    IdempotentBatchWriter) so the crash-replay contract holds: a crash
    inside the hook replays the whole batch and every sink rewrites its
    own ``batch_id=N`` dir."""
    bander = bander or minhash_bander()
    fp_index = AppendOnlyIndex(fp_index_dir, compact_every=compact_every)
    band_index = AppendOnlyIndex(band_index_dir, compact_every=compact_every)
    if (win_index_dir is None) != (wins_sink is None):
        raise ValueError(
            "win_index_dir and wins_sink must be provided together"
        )
    win_index = (
        AppendOnlyIndex(win_index_dir, compact_every=compact_every)
        if win_index_dir is not None else None
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.dropDuplicates(["doc_id"])
        fps = _mask_and_fingerprint(b, eval_docs).persist()
        if fp_index.has_data():
            seen_fp = fp_index.read(spark)
        else:
            seen_fp = spark.createDataFrame([], _FP_SCHEMA)
        kept = (
            probe_fingerprints(fps, seen_fp)
            .groupBy("fp")
            .agg(F.min("doc_id").alias("doc_id"))
            .persist()
        )
        out = kept.join(
            fps.select("doc_id", "masked_text"), "doc_id"
        ).select("doc_id", "masked_text").persist()

        # Near-dup candidates over exactly the docs entering the corpus:
        # signatures come from the post-mask text (what downstream holds).
        banded_new = bander(
            out.select("doc_id", F.col("masked_text").alias("text"))
        ).persist()
        if band_index.has_data():
            seen_bands = band_index.read(spark)
        else:
            seen_bands = spark.createDataFrame([], _BAND_SCHEMA)
        pairs = band_probe(banded_new, seen_bands.unionByName(banded_new))

        wins_new = None
        if win_index is not None:
            wins_new = window_rows(
                out.select("doc_id", F.col("masked_text").alias("text")),
                window,
            ).persist()
            if win_index.has_data():
                seen_wins = win_index.read(spark)
            else:
                seen_wins = spark.createDataFrame([], _WIN_SCHEMA)
            win_pairs = win_probe(
                wins_new, seen_wins.unionByName(wins_new)
            )

        # Output-then-index, all families (streaming/dedup.py's replay
        # argument): a crash between any two writes replays the batch and
        # rewrites only batch_id=N dirs.
        docs_sink(out, batch_id)
        if keeps_hook is not None:
            keeps_hook(out, batch_id)
        pairs_sink(pairs, batch_id)
        if win_index is not None:
            wins_sink(win_pairs, batch_id)
        # The band and window rows descend from a lazy read of fp_index,
        # so fp_index appends (and may fold its dirs) last.
        band_index.append(banded_new, batch_id)
        if win_index is not None:
            win_index.append(wins_new, batch_id)
            wins_new.unpersist()
        fp_index.append(
            kept.select("fp", F.col("doc_id").alias("keeper")), batch_id
        )
        banded_new.unpersist()
        out.unpersist()
        kept.unpersist()
        fps.unpersist()

    return process


def curate_ingest_pipeline(
    spark: SparkSession,
    src_dir: str,
    fp_index_dir: str,
    band_index_dir: str,
    docs_out_dir: str,
    pairs_out_dir: str,
    checkpoint: str,
    bander: Bander | None = None,
    eval_docs: DataFrame | None = None,
    compact_every: int | None = None,
    win_index_dir: str | None = None,
    wins_out_dir: str | None = None,
    window: int = 20,
):
    """Document stream → curated corpus + near-dup candidate pairs
    (+ substring-dup occurrence pairs when ``win_index_dir`` +
    ``wins_out_dir`` are given) + the indexes, one checkpointed query."""
    from .dedup import DOC_SCHEMA

    docs = file_stream(spark, src_dir, DOC_SCHEMA)
    docs_sink = IdempotentBatchWriter(docs_out_dir)
    pairs_sink = IdempotentBatchWriter(pairs_out_dir)
    wins_sink = (
        IdempotentBatchWriter(wins_out_dir)
        if wins_out_dir is not None
        else None
    )
    return (
        docs.writeStream.foreachBatch(
            curate_ingest_batch(
                spark,
                fp_index_dir,
                band_index_dir,
                docs_sink,
                pairs_sink,
                bander,
                eval_docs,
                compact_every,
                win_index_dir,
                wins_sink,
                window,
            )
        )
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )
