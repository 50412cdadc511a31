"""Streaming conversion funnel: exact at any arrival order.

The tempting incremental design — per-user (first_view, first_click,
first_purchase) accumulators updated per batch — is WRONG under late
data: a late early view can retroactively qualify a click the
accumulator already discarded, and no bounded per-user scalar state can
recover it. Funnel stages are order-dependent joins, not monotone mins.

The exact design stores the minimal sufficient state instead: an
append-only index of just the funnel-relevant event projection
((user_id, event_type, ts, event_id), view/click/purchase only — the
projection funnel analytics systems persist). Ingest is O(batch) and
trivially replay-idempotent (identity rows, the AppendOnlyIndex crash
contract applies unchanged, inline compaction included); the report
runs the SAME three-stage aggregation as the batch ``event_funnel``
catalog query over the index, so streamed results are exactly the
batch results over the union of batches — pinned in tests including an
out-of-order late-arrival batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.analytics import funnel_frame, retention_frame
from ..sinks.batch import AppendOnlyIndex
from .sources import file_stream

FUNNEL_STAGES = ("view", "click", "purchase")


def funnel_ingest_batch(
    spark: SparkSession,
    index_dir: str,
    compact_every: int | None = None,
):
    """Per-batch body: project the funnel-relevant events and append.
    The event_id key makes rows identity-semantic (duplicate deliveries
    and compaction-crash duplicates collapse in the report's dedup)."""
    index = AppendOnlyIndex(index_dir, compact_every=compact_every)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        ev = batch_df.filter(
            F.col("event_type").isin(*FUNNEL_STAGES)
        ).select("event_id", "user_id", "event_type", "ts")
        index.append(ev.dropDuplicates(["event_id"]), batch_id)

    return process


def funnel_report(spark: SparkSession, index_dir: str) -> DataFrame:
    """(stage, stage_ord, n_users) over everything ingested — LITERALLY
    the ``event_funnel`` catalog aggregation (one shared body,
    operators/analytics.py) over the deduped index."""
    ev = (
        AppendOnlyIndex(index_dir)
        .read(spark)
        .dropDuplicates(["event_id"])
    )
    return funnel_frame(ev)


def events_ingest_batch(
    spark: SparkSession,
    index_dir: str,
    compact_every: int | None = None,
):
    """Unfiltered sibling of ``funnel_ingest_batch``: append every
    event's (event_id, user_id, event_type, ts) projection — the shared
    analytics index ``retention_report`` (all event types count as
    activity) and ``funnel_report``-style readers draw from."""
    index = AppendOnlyIndex(index_dir, compact_every=compact_every)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        ev = batch_df.select("event_id", "user_id", "event_type", "ts")
        index.append(ev.dropDuplicates(["event_id"]), batch_id)

    return process


def retention_report(spark: SparkSession, index_dir: str) -> DataFrame:
    """(cohort_day, day_offset, n_users) over everything ingested — the
    exact ``user_retention`` catalog semantics (first-activity-day
    cohorts × activity-day offsets), correct under late data for the
    same reason as the funnel: a late early event moves a user's cohort
    day retroactively, which bounded per-user state cannot undo but a
    recompute over the sufficient projection does for free."""
    ev = (
        AppendOnlyIndex(index_dir)
        .read(spark)
        .dropDuplicates(["event_id"])
    )
    return retention_frame(ev)


def analytics_mart_batch(
    spark: SparkSession,
    events_index_dir: str,
    ohlc_index_dir: str,
    ohlc_event_type: str = "purchase",
    compact_every: int | None = None,
):
    """One event stream → every analytics mart (the reference's
    ODS→DWD→DWS fan-out as a single foreachBatch body): the batch lands
    ONCE into (a) the sufficient-projection event index that serves
    ``funnel_report`` and ``retention_report``, and (b) the algebraic
    OHLC partial-bar index — each batch is read once, each mart pays
    only its own O(batch) projection/aggregate, and every sink keeps its
    own replay/compaction contract. Reports stay on-demand reads; no
    mart ever re-scans the stream."""
    from .ohlc import ohlc_ingest_batch

    ev_body = events_ingest_batch(spark, events_index_dir, compact_every)
    # the mart's OHLC runs with the id ledger so all three marts agree
    # under cross-batch duplicate delivery (the raw-projection indexes
    # dedup at report time; pre-aggregated bars need the ledger)
    ohlc_body = ohlc_ingest_batch(
        spark, ohlc_index_dir, ohlc_event_type, compact_every,
        ledger_dir=ohlc_index_dir.rstrip("/") + "_ids",
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.persist()
        try:
            ev_body(b, batch_id)
            ohlc_body(b, batch_id)
        finally:
            b.unpersist()

    return process


def analytics_mart_pipeline(
    spark: SparkSession,
    src_dir: str,
    events_index_dir: str,
    ohlc_index_dir: str,
    checkpoint: str,
    schema,
    compact_every: int | None = None,
):
    """Event file-drop stream → all analytics marts, one checkpointed
    query."""
    ev = file_stream(spark, src_dir, schema)
    return (
        ev.writeStream.foreachBatch(
            analytics_mart_batch(
                spark, events_index_dir, ohlc_index_dir,
                compact_every=compact_every,
            )
        )
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )
