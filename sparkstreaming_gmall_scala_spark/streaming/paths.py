"""Streaming k-step path counts — the live twin of the batch path-mining
query (plans/temporal.py:top_event_paths).

Same architecture as the first-order transition stream
(streaming/transitions.py), with the carry generalized from "each
user's latest event" to "each user's latest ``steps−1`` events": a
k-step path can straddle a batch boundary with up to k−1 of its events
in earlier batches, so batch N prepends carry generation N−1 (≤ k−1
rows per user) before its lead() chain. No path double-counts: every
path the union produces contains at least one NEW event (the carry
alone holds k−1 < k events per user), and paths fully inside earlier
batches were counted there. Correct under the monotone ingestion
contract; the carry is read by EXACT generation, so a replayed batch
rewrites its counts partial and carry generation byte-identically.

Counter rows carry ``src_batch`` (the vocab/bpe identity trick) so
compaction/crash dedup stay safe on the additive index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sinks.batch import AppendOnlyIndex, IdempotentBatchWriter, has_parquet

_COLS = ("user_id", "ts", "event_id", "event_type")


def _path_partial(ev: DataFrame, steps: int) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cols = [F.col("event_type")] + [
        F.lead("event_type", i).over(w) for i in range(1, steps)
    ]
    out = ev.select(
        F.concat_ws(">", *cols).alias("path"),
        *[c.alias(f"_s{i}") for i, c in enumerate(cols)],
    )
    # EVERY step non-null, matching the batch twin (analytics.py): a NULL
    # event_type mid-window would otherwise yield a concat_ws-shortened
    # path where null-propagating concatenation drops the window.
    for i in range(steps):
        out = out.filter(F.col(f"_s{i}").isNotNull())
    return out.groupBy("path").agg(F.count(F.lit(1)).alias("cnt"))


def path_ingest_batch(
    spark: SparkSession,
    counts_dir: str,
    carry_dir: str,
    steps: int = 3,
    compact_every: int | None = None,
):
    """Per-batch body: carry(N−1) ∪ batch → one lead() chain → additive
    partial; then rewrite carry(N) = each user's latest steps−1 events."""
    if steps < 2:
        raise ValueError("steps must be >= 2")
    counts = AppendOnlyIndex(counts_dir, compact_every=compact_every)
    carry = IdempotentBatchWriter(carry_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        ev = batch_df.dropDuplicates(["event_id"]).select(*_COLS)
        prev_path = f"{carry_dir}/batch_id={batch_id - 1}"
        if batch_id > 0 and has_parquet(prev_path):
            ev_all = (
                spark.read.parquet(prev_path).select(*_COLS).unionByName(ev)
            )
        else:
            ev_all = ev
        ev_all = ev_all.persist()
        counts.append(
            _path_partial(ev_all, steps).withColumn(
                "src_batch", F.lit(batch_id)
            ),
            batch_id,
        )
        w_last = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        carry(
            ev_all.withColumn("_rn", F.row_number().over(w_last))
            .filter(F.col("_rn") <= steps - 1)
            .drop("_rn"),
            batch_id,
        )
        ev_all.unpersist()

    return process


def path_counts(spark: SparkSession, counts_dir: str) -> DataFrame:
    """(path, n) over everything ingested so far."""
    raw = AppendOnlyIndex(counts_dir).read(spark)
    return (
        raw.dropDuplicates(["path", "src_batch"])
        .groupBy("path")
        .agg(F.sum("cnt").alias("n"))
    )


def top_paths(
    spark: SparkSession, counts_dir: str, top_n: int = 25
) -> DataFrame:
    """The streamed twin of the top_event_paths catalog query: same
    columns, same (n desc, path) order, from the counting index instead
    of a corpus re-scan."""
    return (
        path_counts(spark, counts_dir)
        .orderBy(F.col("n").desc(), "path")
        .limit(top_n)
    )
