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

State layout. ``allocate_stateful`` keys the state by
``pmod(xxhash64(order_id), BUCKETS)``. Each bucket holds its open orders
as four parallel arrays: ``order_id``, ``origin_sum_cents``,
``split_sum_cents`` and ``expire_ms``. Changing ``BUCKETS`` (or
restoring a checkpoint keyed by order id) needs a fresh checkpoint.

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
``allocation_pipeline`` runs no batch without data, so that batch is the
next one a file lands in: an expired order's detail in it still finds
the order's sums, under ``availableNow`` and a one-file-at-a-time drain
alike.

The batch formulation (operators/allocation.py, oracle-checked) is the
order-insensitive spec; this streaming variant reproduces the reference's
arrival-order behavior for details split across micro-batches.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# Hash buckets of the allocation state; part of its checkpoint layout.
BUCKETS = 16
# The reference's Redis TTL: the watermark delay and an order's expiry.
_TTL_S = 600

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


def _allocate_bucket(pdf: pd.DataFrame, state: GroupState) -> pd.DataFrame | None:
    # open order id -> [origin_sum_cents, split_sum_cents, expire_ms]
    orders = (
        {o: [a, s, e] for o, a, s, e in zip(*state.get)} if state.exists else {}
    )
    watermark = state.getCurrentWatermarkMs()
    out = None
    if not state.hasTimedOut:
        # repeats of a detail_id collapse to the earliest by ts, NULL
        # first, as order_info collapses an order_id; NULL ids never repeat
        pdf = pdf.sort_values("ts", na_position="first", kind="stable")
        pdf = pdf[pdf["detail_id"].isna() | ~pdf["detail_id"].duplicated()]
        pdf = pdf.sort_values(["order_id", "detail_id"], kind="stable")
        # a detail missing its order or a measure cannot be placed: it
        # goes out with a NULL share and leaves the state alone
        needed = ["order_id", "amount", "original_total", "final_total"]
        placed = pdf[needed].notna().all(axis=1)
        shares: list[float | None] = []
        for ok, order_id, amount, original, final in zip(
            placed.tolist(),
            pdf["order_id"].tolist(),
            pdf["amount"].tolist(),
            pdf["original_total"].tolist(),
            pdf["final_total"].tolist(),
        ):
            if not ok:
                shares.append(None)
                continue
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
        # Expire once event time passes the order's last activity by TTL.
        # Anchor on the order's max event time, NOT the current watermark:
        # in the first batch the watermark is still 0, and a 0-anchored
        # expiry passes the instant a restarted query loads the real
        # watermark from the checkpoint (state would silently vanish
        # across restarts). An order whose details all lack a ts anchors
        # on watermark + 1.
        last_ts = pdf[placed].groupby("order_id", sort=False)["ts"].max()
        for order_id, ts in last_ts.items():
            ts_ms = -1 if pd.isna(ts) else int(ts.timestamp() * 1000)
            orders[order_id][2] = max(ts_ms, watermark + 1) + _TTL_S * 1000
        out = pd.DataFrame(
            {
                "order_id": pdf["order_id"].array,
                "detail_id": pdf["detail_id"].array,
                "final_detail_amount": np.array(shares, dtype=float),
            }
        )
    # Evict exactly what a per-order state would time out this batch:
    # expiry before the watermark (orders with data were just renewed).
    orders = {o: v for o, v in orders.items() if v[2] >= watermark}
    if orders:
        state.update((list(orders), *(list(col) for col in zip(*orders.values()))))
        state.setTimeoutTimestamp(min(v[2] for v in orders.values()))
    else:
        state.remove()
    return out


def allocate_stateful(details: DataFrame) -> DataFrame:
    """Streaming allocation over a detail stream with columns
    ``order_id, detail_id, ts, amount, original_total, final_total``.

    Emits one row per detail as it arrives, with cross-batch running sums
    in the state store; an order's sums evict at the first batch whose
    watermark has passed its last activity + 600 s (the reference's Redis
    TTL, in event time; the watermark trails by the same 600 s), after
    that batch's details are allocated. ``allocation_pipeline`` runs a
    batch only when data lands, so that is the next data batch.
    Invariant (tested): once all of an order's details have arrived,
    Σ final_detail_amount == final_total exactly.

    Bad input: a detail with a NULL ``order_id``, ``amount``,
    ``original_total`` or ``final_total`` cannot be placed; it is emitted
    once with a NULL ``final_detail_amount`` and touches no state. A
    detail with a NULL ``ts`` is never late and allocates normally; when
    none of its order's details in the batch has a ts, the order's expiry
    anchors on watermark + 1. Repeats of a ``detail_id`` within a batch
    collapse to the copy earliest by ``ts``, NULL first, and are emitted
    once; a NULL ``detail_id`` is never a repeat. Repeats across batches
    are allocated again (no rule yet)."""
    if details.isStreaming:
        details = details.withWatermark("ts", f"{_TTL_S} seconds")
    # A long column holding a NULL would reach pandas as float64, which
    # rounds ids >= 2**53, so each one crosses NULL-free plus a null mask
    # and arrives as a nullable Int64 column.
    columns = details.columns
    longs = [f.name for f in details.schema if f.dataType == T.LongType()]

    def run(_key, pdf_iter, state: GroupState):
        pdf = pd.concat(list(pdf_iter), ignore_index=True)
        for c in longs:
            pdf[c] = pd.arrays.IntegerArray(
                pdf[c].to_numpy(np.int64), pdf[f"_null_{c}"].to_numpy(bool)
            )
        out = _allocate_bucket(pdf[columns], state)
        if out is not None:
            yield out

    return (
        details.select(
            *(F.coalesce(c, F.lit(0)).alias(c) if c in longs else c for c in columns),
            *(F.col(c).isNull().alias(f"_null_{c}") for c in longs),
            F.pmod(F.xxhash64("order_id"), F.lit(BUCKETS)).alias("_bucket"),
        )
        .groupBy("_bucket")
        .applyInPandasWithState(
            run, _OUT_SCHEMA, _STATE_SCHEMA, "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
