"""A2 — streaming distinct (the DAU pipeline).

Reference: app/DauApp.scala:85-104 — first event per (day, device) passes,
implemented as Redis ``SADD dau:{dt}`` with a 24 h TTL; survivors get
dt/hr derivations and are bulk-upserted into a date-partitioned ES index
keyed by device id (app/DauApp.scala:107-139).

Spark-first: ``withWatermark(24h) + dropDuplicatesWithinWatermark([dt,
user])`` — the watermark IS the TTL, and checkpointing makes replays emit
nothing new, reproducing the Redis set's idempotence without external
infrastructure. A key first seen at event time t expires at t + 24 h and
evicts at the first data batch whose watermark (max event time - 24 h)
passes that, so the state holds about two days of keys. Plain
``dropDuplicates([dt, user])`` would never evict: its watermark column
``ts`` is not a dedup key, so Spark keeps every key forever. No key can
emit twice: by the time it evicts, the watermark is past the end of its
UTC day, so a later event of the same day is dropped as late.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.dates import dt_of, hr_of


def dau_distinct(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    watermark: str = "24 hours",
) -> DataFrame:
    """First event per (day, user): the streaming-distinct core.

    Works on both streaming and batch frames (a batch frame has no
    watermark and takes plain ``dropDuplicates``).
    """
    with_dt = events.withColumn("dt", dt_of(F.col(ts_col))).withColumn(
        "hr", hr_of(F.col(ts_col))
    )
    if not with_dt.isStreaming:
        return with_dt.dropDuplicates(["dt", user_col])
    return with_dt.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["dt", user_col]
    )
