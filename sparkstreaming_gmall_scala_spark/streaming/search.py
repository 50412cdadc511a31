"""Streaming BM25 search index (the live lexical-retrieval mart).

The batch query (plans/llm.py:bm25_search) folds documents to per-doc
(dl, tf_0..tf_k) rows, collapses corpus stats (N, Σdl, per-term df) to
one row, and scores. The per-doc rows are CONSTANTS OF THE DOCUMENT —
length and term counts never change after arrival — so the live form is
an AppendOnlyIndex of per-batch per-doc partials (identity-semantic,
replay rewrites its own directory), and every corpus statistic re-folds
additively from the index at read time: idf and avgdl are always
computed over everything ingested so far, exactly like the batch query
over the same corpus. The read side hands the folded frame to the SAME
scoring stage (operators/textstats.py:bm25_score_per_doc), so
batch ≡ live holds by construction above the fold — pinned over splits
and replays in tests/test_streaming_search.py.

This is the incremental-search-index shape at 100 TB: per-batch work is
one token scan of the NEW documents only; the index carries one short
row per document; a query costs a fold over |docs| × generations rows
plus TakeOrderedAndProject (and compaction keeps generations O(1))."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.textstats import bm25_per_doc, bm25_score_per_doc
from ..sinks.batch import AppendOnlyIndex


def bm25_ingest_batch(
    spark: SparkSession,
    index_dir: str,
    query_terms: tuple[str, ...],
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_every: int | None = None,
):
    """Per-batch body (foreachBatch-shaped): tokenize THIS batch's docs
    once and append their per-doc (dl, tf…) rows."""
    idx = AppendOnlyIndex(index_dir, compact_every=compact_every)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        idx.append(
            bm25_per_doc(batch_df, id_col, text_col, query_terms)
            .withColumn("src_batch", F.lit(batch_id)),
            batch_id,
        )

    return process


def fold_postings(
    spark: SparkSession, index_dir: str, id_col: str = "doc_id"
) -> DataFrame:
    """Everything ingested so far, one row per doc (a doc's row is a
    constant, so dedup on the id alone absorbs replays AND the
    crash-mid-compaction duplicate window)."""
    raw = AppendOnlyIndex(index_dir).read(spark)
    return raw.dropDuplicates([id_col]).drop("src_batch")


def bm25_search_live(
    spark: SparkSession,
    index_dir: str,
    query_terms: tuple[str, ...],
    id_col: str = "doc_id",
    top_n: int = 10,
) -> DataFrame:
    """The live search: fold the postings index, re-derive corpus stats,
    score with the batch query's own scoring stage."""
    return bm25_score_per_doc(
        fold_postings(spark, index_dir, id_col),
        id_col,
        query_terms,
        top_n=top_n,
    )
