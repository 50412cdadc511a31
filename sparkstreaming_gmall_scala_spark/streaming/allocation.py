"""A4-a — stateful payment allocation, exact streaming parity.

Reference: dws/OrderWideApp.scala:134-178 — per order, each arriving
detail takes ``round(final_total * amount / original_total, 2)``, except
the detail that exhausts the order (its amount equals the original total
minus the origin-sum so far), which takes ``final_total - split_sum`` so
the shares sum to the total exactly; the two running sums live in Redis
strings with a 600 s TTL (dws/OrderWideApp.scala:167-172).

Spark-first: ``applyInPandasWithState`` holds the two running sums per
open order. Sums are integer cents — the reference's
``detailAmount == originalTotal - originSum`` equality test on doubles is
a float-equality landmine; cents make it exact and deterministic.

State layout. The state is keyed by a fixed hash bucket,
``pmod(xxhash64(order_id), BUCKETS)``, not by order. Each bucket holds
its open orders as four parallel arrays: ``order_id``,
``origin_sum_cents``, ``split_sum_cents`` and ``expire_ms``. ``BUCKETS``
is part of that layout: changing it (or restoring a checkpoint written
when the state was keyed by order id) needs a fresh checkpoint.

Why buckets: ``applyInPandasWithState`` pays ~4-5 ms of Python overhead
per group, and an order-keyed state has one group per order (~1,000 per
batch in the benchmark's ticks: 4-5 s of worker CPU per batch). With
buckets one pandas call handles all of a bucket's details, in
``(order_id, detail_id)`` order, so a batch costs ``BUCKETS`` calls
whatever its order count. The price is that a bucket with data rewrites
all of its open orders (four longs each) to the state store.

State TTL is EVENT-time (watermark + 600 s), not the reference's
processing-time Redis expiry. Deliberate: with
``GroupStateTimeout.ProcessingTimeTimeout`` a micro-batch engine schedules
a state-cleanup batch on EVERY trigger, so an idle query spins empty
batches forever (and ``availableNow`` drains never terminate — observed:
hundreds of empty batches and an eventual StackOverflowError in the file
source). EventTimeTimeout ties cleanup to watermark advance, which only
happens when data arrives. An order's ``expire_ms`` is its latest event
time in its latest batch plus the TTL; the bucket evicts the order once
the watermark passes it, and the bucket's own timeout is its earliest
``expire_ms``. Eviction thus happens in the same batch, and after the
same data, as it would with one state row per order timing out.

The batch formulation (operators/allocation.py, oracle-checked) is the
order-insensitive spec; this streaming variant reproduces the reference's
arrival-order behavior for details split across micro-batches. An
order's rows WITHIN a batch are processed in (detail_id) order for
determinism.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# Hash buckets of the allocation state; part of the checkpoint layout.
BUCKETS = 16

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("order_id", T.LongType()),
        T.StructField("detail_id", T.LongType()),
        T.StructField("final_detail_amount", T.DoubleType()),
    ]
)
_STATE_SCHEMA = T.StructType(
    [
        T.StructField(name, T.ArrayType(T.LongType(), containsNull=False))
        for name in ("order_id", "origin_sum_cents", "split_sum_cents", "expire_ms")
    ]
)


def _cents(x: float) -> int:
    # Half-up to cents, the reference's Math.round(x*100) semantics.
    return int(x * 100 + 0.5)


def _make_allocator(ttl_ms: int):
    def _allocate_bucket(
        key: tuple[Any, ...],
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        # open order id -> [origin_sum_cents, split_sum_cents, expire_ms]
        orders = (
            {o: [a, s, e] for o, a, s, e in zip(*state.get)}
            if state.exists
            else {}
        )
        watermark = state.getCurrentWatermarkMs()
        out = None
        if not state.hasTimedOut:
            pdf = pd.concat(list(pdf_iter), ignore_index=True).sort_values(
                ["order_id", "detail_id"], kind="stable"
            )
            shares: list[float] = []
            for order_id, amount, original, final in zip(
                pdf["order_id"].tolist(),
                pdf["amount"].tolist(),
                pdf["original_total"].tolist(),
                pdf["final_total"].tolist(),
            ):
                sums = orders.setdefault(order_id, [0, 0, 0])
                origin_sum, split_sum = sums[0], sums[1]
                amount_c = _cents(amount)
                final_c = _cents(final)
                if amount_c == _cents(original) - origin_sum:
                    share_c = final_c - split_sum  # last detail: residual
                else:
                    # round(final_total * amount / original_total, 2), in cents
                    share_c = int(final_c * amount / original + 0.5)
                sums[0] = origin_sum + amount_c
                sums[1] = split_sum + share_c
                shares.append(share_c / 100.0)
            # Expire once event time passes the order's last activity by
            # TTL. Anchor on the order's max event time, NOT the current
            # watermark: in the first batch the watermark is still 0, and
            # a 0-anchored expiry passes the instant a restarted query
            # loads the real watermark from the checkpoint (state would
            # silently vanish across restarts).
            last_ts = pdf.groupby("order_id", sort=False)["ts"].max()
            for order_id, ts in last_ts.items():
                orders[order_id][2] = (
                    max(int(ts.timestamp() * 1000), watermark + 1) + ttl_ms
                )
            out = pd.DataFrame(
                {
                    "order_id": pdf["order_id"].to_numpy(),
                    "detail_id": pdf["detail_id"].to_numpy(),
                    "final_detail_amount": shares,
                }
            )
        # Evict exactly what a per-order state would time out this batch:
        # expiry before the watermark (orders with data were just renewed).
        orders = {o: v for o, v in orders.items() if v[2] >= watermark}
        if orders:
            state.update(
                (list(orders), *(list(col) for col in zip(*orders.values())))
            )
            state.setTimeoutTimestamp(min(v[2] for v in orders.values()))
        else:
            state.remove()
        if out is not None:
            yield out

    return _allocate_bucket


def allocate_stateful(
    details: DataFrame,
    ts_col: str = "ts",
    ttl: str = "600 seconds",
    ttl_ms: int = 600_000,
) -> DataFrame:
    """Streaming allocation over a detail stream with columns
    ``order_id, detail_id, ts, amount, original_total, final_total``.

    Emits one row per detail as it arrives, with cross-batch running sums
    in the state store; an order's sums evict once the watermark passes
    its last activity + TTL (the reference's 600 s Redis expiry, in event
    time). Invariant (tested): once all of an order's details have
    arrived, Σ final_detail_amount == final_total exactly.
    """
    if details.isStreaming:
        details = details.withWatermark(ts_col, ttl)
    bucket = F.pmod(F.xxhash64("order_id"), F.lit(BUCKETS))
    grouped = details.withColumn("_bucket", bucket).groupBy("_bucket")
    return grouped.applyInPandasWithState(
        _make_allocator(ttl_ms),
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
