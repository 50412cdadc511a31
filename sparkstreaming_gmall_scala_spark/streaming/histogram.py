"""Streaming histograms: additive bin partials across micro-batches.

Same lifecycle as the CMS/vocab counting indexes: per batch one bounded
partial (<= n_bins rows) tagged with ``src_batch``, report folds all
generations with one groupBy. Bounds are FROZEN at pipeline build time
(the frozen-quantizer discipline of streaming/ann.py): per-batch
min/max would move the bin edges and partials would stop being
mergeable. The merged histogram is EXACTLY the batch histogram with the
same pinned bounds over the union (pinned in tests), and feeds
operators.histogram.histogram_quantile unchanged — the streaming
percentile dashboard."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.histogram import fixed_histogram
from ..sinks.batch import AppendOnlyIndex


def histogram_ingest_batch(
    spark: SparkSession,
    index_dir: str,
    lo: float,
    hi: float,
    value_col: str = "value",
    id_col: str | None = "event_id",
    n_bins: int = 32,
    compact_every: int | None = None,
    keys: tuple[str, ...] = (),
):
    """Per-batch body: O(batch) bin counts under the pinned bounds.
    ``keys`` makes the partials per-key (<= n_keys * n_bins rows per
    batch) — same frozen bounds for every key, so the keyed report
    stays additively mergeable."""
    index = AppendOnlyIndex(index_dir, compact_every=compact_every)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        rows = (
            batch_df.dropDuplicates([id_col]) if id_col is not None else batch_df
        )
        partial = fixed_histogram(
            rows, value_col, n_bins=n_bins, lo=lo, hi=hi, keys=keys
        ).withColumn("src_batch", F.lit(batch_id))
        index.append(partial, batch_id)

    return process


def histogram_report(
    spark: SparkSession, index_dir: str, keys: tuple[str, ...] = ()
) -> DataFrame:
    """The merged histogram (keys..., bin, lo_edge, hi_edge, cnt):
    cell-wise sum over <= n_keys * n_bins * generations rows;
    (keys, bin, src_batch) dedup absorbs crash-replayed partials."""
    raw = AppendOnlyIndex(index_dir).read(spark)
    return (
        raw.dropDuplicates([*keys, "bin", "src_batch"])
        .groupBy(*keys, "bin", "lo_edge", "hi_edge")
        .agg(F.sum("cnt").alias("cnt"))
    )
