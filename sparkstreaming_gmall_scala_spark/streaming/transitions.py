"""Streaming first-order transition counts (the live Markov matrix).

The batch query (plans/temporal.py:event_transitions) needs lead() over
each user's FULL history; per-batch recomputation is O(corpus). This
module streams it: each micro-batch counts its own transitions and
appends an additive (from_type, to_type, cnt, src_batch) partial to the
counting index (the vocab/bpe discipline — src_batch makes counter rows
identity-semantic so compaction/crash-dedup stay safe).

The one thing a per-batch partial cannot see is the transition ACROSS
the batch boundary: a user's last event in batch N−1 followed by their
first event in batch N. So every batch also writes a CARRY generation —
one row per user seen so far, their latest event — and batch N prepends
carry generation N−1 before the lead(). Correct under the monotone
ingestion contract (a user's events arrive in event-time order across
batches — the scd2_merge contract); the carry is read by EXACT
generation, not "latest", so a replayed batch recomputes from the same
inputs and rewrites both its counts partial and its carry generation
byte-identically (overwrite-idempotent). State: one row per active user
per generation; old generations exist only for replay determinism and
can be pruned below the last committed batch at 100 TB.

Read side: fold partials (dedup on (from, to, src_batch), one
groupBy-sum), then the same marginal + integral-div probabilities as
the batch query — pinned equal to it over any batch split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sinks.batch import AppendOnlyIndex, IdempotentBatchWriter, has_parquet

_COLS = ("user_id", "ts", "event_id", "event_type")


def _transition_partial(ev: DataFrame) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def transition_ingest_batch(
    spark: SparkSession,
    counts_dir: str,
    carry_dir: str,
    compact_every: int | None = None,
):
    """Per-batch body: carry(N−1) ∪ batch → one lead() → additive
    partial; then rewrite carry(N) = latest event per user."""
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
            _transition_partial(ev_all).withColumn(
                "src_batch", F.lit(batch_id)
            ),
            batch_id,
        )
        w_last = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        carry(
            ev_all.withColumn("_rn", F.row_number().over(w_last))
            .filter(F.col("_rn") == 1)
            .drop("_rn"),
            batch_id,
        )
        ev_all.unpersist()

    return process


def transition_counts(spark: SparkSession, counts_dir: str) -> DataFrame:
    """(from_type, to_type, c) over everything ingested so far."""
    raw = AppendOnlyIndex(counts_dir).read(spark)
    return (
        raw.dropDuplicates(["from_type", "to_type", "src_batch"])
        .groupBy("from_type", "to_type")
        .agg(F.sum("cnt").alias("c"))
    )


def transition_matrix(spark: SparkSession, counts_dir: str) -> DataFrame:
    """The streamed twin of the event_transitions catalog query: same
    columns, same exact-integer probabilities, computed from the folded
    counting index instead of a corpus re-scan."""
    c = transition_counts(spark, counts_dir).persist()
    c.count()
    tot = c.groupBy("from_type").agg(F.sum("c").alias("c_from"))
    return c.join(F.broadcast(tot), "from_type").select(
        "from_type",
        "to_type",
        "c",
        "c_from",
        F.expr("c * 1000000L div c_from").alias("p6"),
    )
