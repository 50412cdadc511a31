"""Streaming count-min sketch: additive cell partials across micro-batches.

CMS is a commutative monoid under cell-wise addition (operators/cms.py),
so the streaming form is the simplest possible counting index: each
micro-batch contributes its own <= depth*width partial sketch, tagged
with ``src_batch`` for replay/compaction dedup, and the report folds all
generations with ONE bounded groupBy — the merged sketch is EXACTLY the
batch sketch over the union of batches (pinned in tests), which is the
same argument that makes map-side partial aggregation sound.

This is the streaming analog of the reference's per-batch hash
aggregations (ads/TrademarkStatApp.scala:67-72 keeps exact per-key sums
per micro-batch): when the key space outgrows exact state, the bounded
sketch is what a 1000-executor topology keeps per stream instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cms import cms_sketch
from ..sinks.batch import AppendOnlyIndex


def cms_ingest_batch(
    spark: SparkSession,
    index_dir: str,
    key_col: str = "user_id",
    id_col: str | None = "event_id",
    depth: int = 4,
    width: int = 256,
    compact_every: int | None = None,
):
    """Per-batch body: build the batch's own partial sketch (O(batch)
    work, map-side combined to <= depth*width rows) and append it. The
    index is never read at ingest. ``id_col`` dedups at-least-once
    input inside a batch; pass None when rows have no identity."""
    index = AppendOnlyIndex(index_dir, compact_every=compact_every)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        rows = (
            batch_df.dropDuplicates([id_col]) if id_col is not None else batch_df
        )
        partial = cms_sketch(rows, key_col, depth=depth, width=width).withColumn(
            "src_batch", F.lit(batch_id)
        )
        index.append(partial, batch_id)

    return process


def cms_report(spark: SparkSession, index_dir: str) -> DataFrame:
    """The merged sketch (row, bucket, cnt): fold every generation's
    partials cell-wise. Input bounded by depth*width*generations rows;
    (row, bucket, src_batch) dedup keeps crash-replayed partials from
    double-counting. Feed straight into operators.cms.cms_estimate."""
    raw = AppendOnlyIndex(index_dir).read(spark)
    return (
        raw.dropDuplicates(["row", "bucket", "src_batch"])
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
