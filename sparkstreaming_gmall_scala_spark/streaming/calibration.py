"""Streaming calibration mart (the live twin of
calibrated_quality_scores).

Per-document CONSTANTS stream; the label does not. A document's quality
score and its content fingerprint never change after arrival, so the
mart is an AppendOnlyIndex of per-batch (doc_id, q6, fp) rows — the
postings-index shape (streaming/search.py). The exact-dedup survival
label (keep = the doc IS its fingerprint group's min-id representative)
is a property of the WHOLE corpus, but ``min`` is an associative,
order-insensitive monoid over doc ids, so the read side re-derives it
from the folded index exactly the way BM25 re-derives idf/avgdl: a new
duplicate arriving with a smaller id silently flips the old
representative's label on the next read, with no state rewrite at
ingest. Everything downstream (binning, the weighted PAVA fit, the
broadcast step-function application) is the batch query's own code over
the folded frame, so batch ≡ live holds by construction above the fold.

100 TB shape: per-batch cost is one quality+fingerprint scan of the NEW
documents only (the index carries one short row per document); a read
costs a fold + one fp-keyed exchange for the label + a ≤|bins| driver
fit + a broadcast join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sinks.batch import AppendOnlyIndex


def calib_per_doc(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, q6, fp): the per-document constants of the calibration mart
    — quality score in integral ppm and the exact-dedup content
    fingerprint. Shared verbatim between the batch query
    (plans/llm.py:calibrated_quality_scores) and the live ingest, the
    precondition for the batch ≡ live pin."""
    from ..functions.text import fingerprint
    from ..operators.textstats import quality_score

    q = quality_score(docs, id_col, text_col).select(
        id_col,
        F.floor(F.col("quality") * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("q6"),
    )
    fp = docs.select(id_col, fingerprint(F.col(text_col)).alias("fp"))
    return q.join(fp, id_col)


def calib_ingest_batch(
    spark: SparkSession,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_every: int | None = None,
):
    """Per-batch body (foreachBatch-shaped): score + fingerprint THIS
    batch's docs once and append their constant rows."""
    idx = AppendOnlyIndex(index_dir, compact_every=compact_every)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        idx.append(
            calib_per_doc(batch_df, id_col, text_col).withColumn(
                "src_batch", F.lit(batch_id)
            ),
            batch_id,
        )

    return process


def fold_calib(
    spark: SparkSession, index_dir: str, id_col: str = "doc_id"
) -> DataFrame:
    """Everything ingested so far, one (id, q6, fp) row per doc (rows
    are constants, so id-dedup absorbs replays and the crash-mid-
    compaction duplicate window)."""
    raw = AppendOnlyIndex(index_dir).read(spark)
    return raw.dropDuplicates([id_col]).drop("src_batch")
