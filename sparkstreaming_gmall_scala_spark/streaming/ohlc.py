"""Streaming OHLC bars: algebraic partial aggregates across micro-batches.

The counting indexes (streaming/vocab.py) showed ADDITIVE partials;
OHLC partials form the general commutative-monoid case: per (hour,
batch) the partial is (open @ min ord, high, low, close @ max ord, n),
and merging partials needs arg-min/arg-max over the order key, not a
sum. Same lifecycle as every counting index — per-batch partials are
overwrite-idempotent, rows carry ``src_batch`` so compaction's
crash-dedup stays safe for payload rows, and the report folds
generations with one groupBy whose input is bounded by
(hours × generations), never re-scanning events.

The merged result is EXACTLY the batch ``event_ohlc`` over the union —
pinned in tests — because the order key is the same total order
(zero-padded epoch_us ∥ event_id) the batch query ranks by: first/last
are associative under a total order, so batch boundaries can't change
them (the monoid argument, the same reason map-side partial aggregation
is sound inside one query)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sinks.batch import AppendOnlyIndex


from ..operators.analytics import ohlc_ord_key as _ord_key


def ohlc_ingest_batch(
    spark: SparkSession,
    index_dir: str,
    event_type: str = "purchase",
    compact_every: int | None = None,
    ledger_dir: str | None = None,
):
    """Per-batch body: one partial bar per (hour, batch) — O(batch) work,
    the index never read at ingest.

    ``ledger_dir`` (optional) enables CROSS-batch duplicate absorption:
    unlike the funnel/retention marts, whose raw-projection indexes
    dedup event_id at report time, partial bars pre-aggregate — a
    duplicate redelivered in a LATER batch would double-count with no
    way to detect it afterwards. The ledger is an append-only
    (event_id, src_batch) index; each batch anti-joins ids seen in
    EARLIER batches (src_batch < this one, so a same-id replay
    reproduces its original kept set exactly) and appends its own.
    Cost: one O(index) scan per batch with the batch side broadcast —
    the exact-dedup ledger shape streaming/corpus.py already pays."""
    index = AppendOnlyIndex(index_dir, compact_every=compact_every)
    ledger = (
        AppendOnlyIndex(ledger_dir, compact_every=compact_every)
        if ledger_dir
        else None
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.filter(
            F.col("event_type") == event_type
        ).dropDuplicates(["event_id"])
        if ledger is not None:
            if ledger.has_data():
                seen = (
                    ledger.read(spark)
                    .filter(F.col("src_batch") < batch_id)
                    .select("event_id")
                )
                rows = rows.join(seen, "event_id", "left_anti")
            # materialize the kept set BEFORE appending: on a same-id
            # replay the append overwrites the very batch dir the lazy
            # anti-join plan still scans (read-under-overwrite →
            # FILE_NOT_EXIST mid-job)
            rows = rows.persist()
            rows.count()
            ledger.append(
                rows.select("event_id").withColumn(
                    "src_batch", F.lit(batch_id)
                ),
                batch_id,
            )
        partial = (
            rows
            .select(
                F.date_trunc("hour", "ts").alias("hour"),
                "value",
                _ord_key().alias("ord"),
            )
            .groupBy("hour")
            .agg(
                F.min("ord").alias("ord_min"),
                F.expr("min_by(value, ord)").alias("open"),
                F.max("value").alias("high"),
                F.min("value").alias("low"),
                F.max("ord").alias("ord_max"),
                F.expr("max_by(value, ord)").alias("close"),
                F.count(F.lit(1)).alias("n_events"),
            )
            .withColumn("src_batch", F.lit(batch_id))
        )
        index.append(partial, batch_id)
        if ledger is not None:
            rows.unpersist()

    return process


def ohlc_report(spark: SparkSession, index_dir: str) -> DataFrame:
    """(hour_us, open, high, low, close, n_events) — merge the partial
    bars: arg-min/arg-max on the order key for open/close, max/min for
    high/low, sum for the count. Identical output contract to the batch
    ``event_ohlc`` catalog query."""
    raw = AppendOnlyIndex(index_dir).read(spark)
    return (
        raw.dropDuplicates(["hour", "src_batch"])
        .groupBy("hour")
        .agg(
            F.expr("min_by(open, ord_min)").alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.expr("max_by(close, ord_max)").alias("close"),
            F.sum("n_events").alias("n_events"),
        )
        .select(
            F.unix_micros("hour").alias("hour_us"),
            "open", "high", "low", "close", "n_events",
        )
    )
