"""Streaming token/pair statistics: additive partial counts that grow
with the document stream.

``vocab_top_tokens`` / ``bpe_pairs`` are one-shot corpus aggregates; at
ingest scale the corpus grows continuously and re-counting it per batch
is O(corpus). This module streams the counts: each micro-batch lands its
OWN partial (key, cnt) aggregate — the map-side-partial-agg idea
stretched across time — and the read side folds partials with one
groupBy-sum whose input is bounded by (distinct keys × generations),
not by corpus tokens.

Counter rows are NOT identity-semantic (a duplicated partial would
double-count), which is exactly the case ``AppendOnlyIndex.compact``'s
crash-dedup refuses to handle — so every partial row carries its
``src_batch`` id, making rows identity-semantic again: an interrupted
compaction's leftover duplicate of (key, src_batch, cnt) collapses in
the dedup instead of double-counting, and the standard index lifecycle
(overwrite-idempotent replay, inline compaction, crash matrix) applies
unchanged.

Cross-batch doc dedup is deliberately upstream's job (the curate
pipeline's fingerprint index): this stage counts whatever the stream
delivers, deduping only within a batch — the composition point is
``curate_ingest_batch``'s ``keeps_hook``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.bpe import adjacent_pairs, tokens_col
from ..sinks.batch import AppendOnlyIndex


def _counting_batch(
    spark: SparkSession,
    index_dir: str,
    partial_fn,
    id_col: str,
    compact_every: int | None,
):
    index = AppendOnlyIndex(index_dir, compact_every=compact_every)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        new = batch_df.dropDuplicates([id_col])
        index.append(
            partial_fn(new).withColumn("src_batch", F.lit(batch_id)),
            batch_id,
        )

    return process


def vocab_ingest_batch(
    spark: SparkSession,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_every: int | None = None,
):
    """Per-batch body: one partial (tok, cnt, src_batch) aggregate per
    micro-batch — O(batch tokens) work, the index never read at ingest."""

    def partial(new: DataFrame) -> DataFrame:
        return (
            new.select(F.explode(tokens_col(F.col(text_col))).alias("tok"))
            .groupBy("tok")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    return _counting_batch(spark, index_dir, partial, id_col, compact_every)


def pair_ingest_batch(
    spark: SparkSession,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_every: int | None = None,
):
    """Per-batch body for BPE merge-candidate pair counts — the streaming
    form of ``operators.bpe.pair_counts``."""

    def partial(new: DataFrame) -> DataFrame:
        return (
            new.select(
                F.explode(
                    adjacent_pairs(tokens_col(F.col(text_col)))
                ).alias("p")
            )
            .select(
                F.col("p.l").alias("left_tok"), F.col("p.r").alias("right_tok")
            )
            .groupBy("left_tok", "right_tok")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    return _counting_batch(spark, index_dir, partial, id_col, compact_every)


def _folded(spark: SparkSession, index_dir: str, keys: list[str]) -> DataFrame:
    """Fold the partials: duplicates from an interrupted compaction
    collapse on (keys, src_batch) BEFORE the sum — the identity trick —
    then one groupBy-sum over (distinct keys × generations) rows."""
    raw = AppendOnlyIndex(index_dir).read(spark)
    return (
        raw.dropDuplicates([*keys, "src_batch"])
        .groupBy(*keys)
        .agg(F.sum("cnt").alias("cnt"))
    )


def vocab_counts(spark: SparkSession, index_dir: str) -> DataFrame:
    """(tok, cnt) over everything ingested so far."""
    return _folded(spark, index_dir, ["tok"])


def pair_counts_streamed(spark: SparkSession, index_dir: str) -> DataFrame:
    """(left_tok, right_tok, cnt) over everything ingested so far."""
    return _folded(spark, index_dir, ["left_tok", "right_tok"])


def vocab_top(
    spark: SparkSession, index_dir: str, top_n: int = 200
) -> DataFrame:
    """(rank, tok, cnt): the streamed twin of the vocab_top_tokens
    catalog query — same deterministic (cnt desc, tok) rank."""
    top = vocab_counts(spark, index_dir).orderBy(
        F.col("cnt").desc(), "tok"
    ).limit(top_n)
    w = Window.orderBy(F.col("cnt").desc(), "tok")
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "tok", "cnt"
    )
