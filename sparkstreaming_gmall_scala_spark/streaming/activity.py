"""Streaming EXACT rolling-distinct activity mart — the live twin of the
batch ``rolling_dau_7d`` query (plans/temporal.py).

Where the HLL sketch mart (streaming/hll.py) answers rolling MAU
approximately from per-day sketches, this index stores the exact
distinct (user, day) activity pairs — the same active-user-days frame
the batch operator derives from the firehose, built incrementally: each
micro-batch appends only ITS batch's distinct pairs to an append-only
index (``sinks.batch.AppendOnlyIndex``); the dashboard read derives any
trailing-k-day distinct count from the index without ever rescanning
the event stream. Identity-row semantics (a (u, d) pair IS the fact)
make replays and interrupted compactions harmless: the report's
distincts absorb duplicate rows by contract.

At 100 TB the index is bounded by active-user-days — orders of
magnitude below events — and supports any window length after the fact
(7-day, 30-day) from the same stored pairs, which a pre-aggregated
per-day count could not (distinct does not sum across days).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sinks.batch import AppendOnlyIndex


def activity_ingest_batch(
    spark: SparkSession,
    index_dir: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    compact_every: int | None = None,
):
    """Per-batch body: append this batch's distinct (u, d) pairs."""
    index = AppendOnlyIndex(index_dir, compact_every=compact_every)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        pairs = batch_df.select(
            F.col(user_col).alias("u"), F.to_date(ts_col).alias("d")
        ).distinct()
        index.append(pairs, batch_id)

    return process


def rolling_dau_report(
    spark: SparkSession, index_dir: str, days: int = 7
) -> DataFrame:
    """Trailing-``days`` exact distinct users per active day, computed
    from the stored activity pairs — identical to the batch operator on
    the same underlying events (pytest-pinned)."""
    from ..operators.analytics import rolling_distinct_from_user_days

    ud = AppendOnlyIndex(index_dir).read(spark)
    return rolling_distinct_from_user_days(ud, days)
