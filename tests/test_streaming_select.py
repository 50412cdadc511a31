"""Streaming DSIR selection (streaming/select.py): frozen-model scoring
must equal batch scoring with the same model, replay exactly, and carry
the batch operator's semantics (model-subset scoring ≡ full self-scoring
when the model was trained on a superset)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from sparkstreaming_gmall_scala_spark.operators.dsir import (
    dsir_logweights,
    dsir_score_with_model,
)
from sparkstreaming_gmall_scala_spark.sinks.batch import IdempotentBatchWriter
from sparkstreaming_gmall_scala_spark.sources import load_table
from sparkstreaming_gmall_scala_spark.streaming.select import (
    dsir_model_build,
    dsir_score_batch,
    dsir_select_pipeline,
)


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select("doc_id", "text")


def _target(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.filter(F.col("lang") == "en").select("doc_id", "text")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_union_of_batches_equals_batch_scoring(spark, sf_dir, tmp_path):
    d = _docs(spark, sf_dir)
    model_dir = str(tmp_path / "model")
    dsir_model_build(d, _target(spark, sf_dir), "doc_id", "text", model_dir)

    sink = IdempotentBatchWriter(str(tmp_path / "out"))
    run = dsir_score_batch(spark, model_dir, sink)
    run(d.filter(F.col("doc_id") % 2 == 0), 0)
    run(d.filter(F.col("doc_id") % 2 == 1), 1)
    streamed = sink.read(spark).drop("batch_id")

    model = spark.read.parquet(model_dir)
    batch = dsir_score_with_model(d, model, "doc_id", "text").withColumn(
        "keep", F.col("avg_logw") >= F.lit(-0.09)
    )
    assert _rows(streamed) == _rows(batch)


def test_self_trained_model_reproduces_dsir_logweights(spark, sf_dir, tmp_path):
    """Persist-then-score must equal the one-plan self-scoring operator —
    the persisted model is the SAME table, so the catalog entry's
    oracle transitively covers the streaming scorer's math."""
    d = _docs(spark, sf_dir)
    model_dir = str(tmp_path / "model")
    dsir_model_build(d, _target(spark, sf_dir), "doc_id", "text", model_dir)
    model = spark.read.parquet(model_dir)
    a = _rows(dsir_score_with_model(d, model, "doc_id", "text"))
    b = _rows(dsir_logweights(d, _target(spark, sf_dir), "doc_id", "text"))
    assert a == b


def test_replay_rewrites_identical_rows(spark, sf_dir, tmp_path):
    d = _docs(spark, sf_dir)
    model_dir = str(tmp_path / "model")
    dsir_model_build(d, _target(spark, sf_dir), "doc_id", "text", model_dir)
    sink = IdempotentBatchWriter(str(tmp_path / "out"))
    run = dsir_score_batch(spark, model_dir, sink)
    b0 = d.filter(F.col("doc_id") % 2 == 0)
    run(b0, 0)
    run(d.filter(F.col("doc_id") % 2 == 1), 1)
    before = _rows(sink.read(spark))
    run(b0, 0)  # replay
    assert _rows(sink.read(spark)) == before


def test_unseen_bucket_scores_neutral(spark, tmp_path, sf_dir):
    """A doc whose features all miss the model's buckets scores exactly
    0.0 (the neutral prior) with full n_feats — never null, never a
    crash."""
    d = _docs(spark, sf_dir)
    model_dir = str(tmp_path / "model")
    dsir_model_build(d, _target(spark, sf_dir), "doc_id", "text", model_dir)
    model = spark.read.parquet(model_dir)
    weird = spark.createDataFrame(
        [(999999, "zzqx9 zzqx8 zzqx7")], "doc_id long, text string"
    )
    # force the miss: empty model instead (all buckets absent)
    empty_model = model.filter(F.lit(False))
    (r,) = dsir_score_with_model(
        weird, empty_model, "doc_id", "text"
    ).collect()
    assert r["n_feats"] == 5  # 3 unigrams + 2 bigrams
    assert r["avg_logw"] == 0.0


def test_checkpointed_pipeline_matches_driven_batches(spark, sf_dir, tmp_path):
    from test_streaming import _drop

    from sparkstreaming_gmall_scala_spark.streaming.dedup import DOC_SCHEMA

    d = _docs(spark, sf_dir).limit(60)
    model_dir = str(tmp_path / "model")
    dsir_model_build(
        _docs(spark, sf_dir), _target(spark, sf_dir), "doc_id", "text",
        model_dir,
    )
    rows = [(r["doc_id"], r["text"]) for r in d.collect()]
    src, out, ckpt = (
        str(tmp_path / "src"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    os.makedirs(src, exist_ok=True)
    q = dsir_select_pipeline(spark, src, model_dir, out, ckpt)
    try:
        _drop(spark, DOC_SCHEMA, rows[:30], src)
        q.processAllAvailable()
        _drop(spark, DOC_SCHEMA, rows[30:], src)
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = IdempotentBatchWriter(out).read(spark).drop("batch_id")
    model = spark.read.parquet(model_dir)
    batch = dsir_score_with_model(d, model, "doc_id", "text").withColumn(
        "keep", F.col("avg_logw") >= F.lit(-0.09)
    )
    assert _rows(streamed) == _rows(batch)


def test_curate_select_composition_matches_batch_and_replays(spark, tmp_path):
    """Round-7 verdict #6: the composed curate→DSIR foreachBatch body.
    Union of select_sink batches must equal dsir_score_with_model over
    corpus_ingest_batch_recipe of the union (the batch twin of the
    composed semantics — curation's keep set is arrival-order
    independent, scoring is a pure function of doc set + frozen model);
    docs curated away (exact dups, gopher drops) never reach scoring;
    replaying a batch changes nothing."""
    from sparkstreaming_gmall_scala_spark.streaming.corpus import (
        corpus_ingest_batch_recipe,
    )
    from sparkstreaming_gmall_scala_spark.streaming.dedup import DOC_SCHEMA
    from sparkstreaming_gmall_scala_spark.streaming.select import (
        curate_select_batch,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    batches = [
        [
            (1, base),
            (2, base + " extra words beyond"),
            (3, "totally different text about columnar storage engines ok"),
            (4, base),  # exact dup of 1 → curated away, never scored
        ],
        [
            (5, base + " indeed truly"),
            (6, "short"),  # gopher-dropped, never scored
            (7, "another unrelated piece discussing watermark semantics here"),
        ],
    ]
    union_docs = spark.createDataFrame(batches[0] + batches[1], DOC_SCHEMA)
    # frozen model: train on the union's curated survivors, targeting the
    # fox-like docs (what a quality-seed corpus would look like here)
    survivors = corpus_ingest_batch_recipe(union_docs).select(
        "doc_id", F.col("masked_text").alias("text")
    )
    target = survivors.filter(F.col("text").contains("fox"))
    model_dir = str(tmp_path / "model")
    dsir_model_build(survivors, target, "doc_id", "text", model_dir)

    docs_sink = IdempotentBatchWriter(str(tmp_path / "docs"))
    pairs_sink = IdempotentBatchWriter(str(tmp_path / "pairs"))
    select_sink = IdempotentBatchWriter(str(tmp_path / "sel"))
    run = curate_select_batch(
        spark,
        model_dir,
        str(tmp_path / "fpi"),
        str(tmp_path / "bdi"),
        docs_sink,
        pairs_sink,
        select_sink,
    )
    for i, rows in enumerate(batches):
        run(spark.createDataFrame(rows, DOC_SCHEMA), i)

    model = spark.read.parquet(model_dir)
    want = _rows(
        dsir_score_with_model(survivors, model, "doc_id", "text").withColumn(
            "keep", F.col("avg_logw") >= F.lit(-0.09)
        )
    )
    streamed = select_sink.read(spark).drop("batch_id")
    assert _rows(streamed) == want
    scored_ids = {r[0] for r in want}
    assert 4 not in scored_ids and 6 not in scored_ids

    # replay batch 0: select output unchanged
    run(spark.createDataFrame(batches[0], DOC_SCHEMA), 0)
    assert _rows(select_sink.read(spark).drop("batch_id")) == want


def test_curate_select_live_pipeline(spark, tmp_path):
    """The checkpointed curate_select_pipeline wrapper wires the composed
    body: a one-drop run lands curated docs AND scored keep decisions."""
    import glob
    import shutil
    import tempfile

    from sparkstreaming_gmall_scala_spark.streaming.dedup import DOC_SCHEMA
    from sparkstreaming_gmall_scala_spark.streaming.select import (
        curate_select_pipeline,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river"),
        (2, "another unrelated piece discussing watermark semantics here"),
    ]
    model_dir = str(tmp_path / "model")
    seed = spark.createDataFrame(rows, DOC_SCHEMA)
    dsir_model_build(
        seed, seed.filter(F.col("text").contains("fox")), "doc_id", "text",
        model_dir,
    )
    src = tmp_path / "src"
    src.mkdir()
    with tempfile.TemporaryDirectory() as tmp:
        seed.coalesce(1).write.parquet(os.path.join(tmp, "w"))
        part = glob.glob(os.path.join(tmp, "w", "part-*.parquet"))[0]
        shutil.copy(part, src / "drop0.parquet")
    q = curate_select_pipeline(
        spark,
        str(src),
        model_dir,
        str(tmp_path / "fpi"),
        str(tmp_path / "bdi"),
        str(tmp_path / "docs"),
        str(tmp_path / "pairs"),
        str(tmp_path / "sel"),
        str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    sel = IdempotentBatchWriter(str(tmp_path / "sel")).read(spark)
    assert {r["doc_id"] for r in sel.collect()} == {1, 2}
    assert set(sel.columns) >= {"doc_id", "n_feats", "avg_logw", "keep"}
