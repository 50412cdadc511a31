"""Seeded input generators for the gmall benchmark.

Every generator is a pure function of ``(seed, index)``: tick ``k`` of the
order stream and the warehouse tables draw from
``numpy.random.default_rng([seed, stream, index])``, so the same seed
yields byte-identical parquet files whatever the run length, and a
longer run only appends files.

The program under test never sees the seed, only the files written here.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Event time of tick 0 sits a minute before midnight so a run's DAU crosses
# a day boundary; each tick advances event time by 15 s (three of the
# paper's 5-second batches).
EV_T0_US = 1709337540 * 1_000_000  # 2024-03-01 23:59:00 UTC
EV_STEP_US = 15_000_000
JOIN_HORIZON_US = 20_000_000
# A late detail lands this many ticks after its order: 75 s of event time,
# past the join's 20 s watermark and after its order left the join state,
# so the join drops it; the allocation state (600 s TTL) still takes it.
LATE_TICKS = 5
LATE_SHARE = 0.01
NEXT_TICK_SHARE = 0.3

N_USERS = 20_000
N_PROVINCES = 34
N_SKUS = 2_000
N_TMS = 50
EVENT_TYPES = np.array(["view", "click", "cart", "purchase", "error"])

_TS_UTC = pa.timestamp("us", tz="UTC")
_TS_NAIVE = pa.timestamp("us")

ORDER_INFO = pa.schema(
    [("order_id", pa.int64()), ("user_id", pa.int64()),
     ("province_id", pa.int64()), ("ts", _TS_UTC), ("total", pa.float64())]
)
ORDERS = pa.schema(
    [("order_id", pa.int64()), ("ts", _TS_UTC), ("total", pa.float64())]
)
DETAILS = pa.schema(
    [("detail_id", pa.int64()), ("order_id", pa.int64()), ("ts", _TS_UTC),
     ("amount", pa.float64())]
)
ALLOC = pa.schema(
    [("order_id", pa.int64()), ("detail_id", pa.int64()), ("ts", _TS_UTC),
     ("amount", pa.float64()), ("original_total", pa.float64()),
     ("final_total", pa.float64())]
)
TM_WIDE = pa.schema(
    [("tm_id", pa.int64()), ("tm_name", pa.string()), ("amount", pa.float64())]
)
EVENTS = pa.schema(
    [("event_id", pa.int64()), ("ts", _TS_UTC), ("user_id", pa.int64()),
     ("event_type", pa.string()), ("value", pa.float64()),
     ("props", pa.string())]
)

ORDER_SOURCES = ("order_info", "orders", "details", "alloc", "tm_wide", "events")


def _rng(seed: int, stream: int, index: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream, index])


def zipf_ids(rng: np.random.Generator, n: int, universe: int, a: float = 1.3):
    """``n`` ids in ``1..universe`` with Zipf-skewed popularity; the hot
    ids are scattered over the id space by a fixed permutation."""
    raw = (rng.zipf(a, size=n) - 1) % universe
    return (raw * 7919) % universe + 1


def write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


# ---------------------------------------------------------------------------
# order_stream: the shop model
# ---------------------------------------------------------------------------


def _tick_orders(seed: int, k: int, orders_per_tick: int) -> dict:
    """Orders born in tick ``k`` with their details, payments and the tick
    each detail arrives in."""
    rng = _rng(seed, 1, k)
    n = orders_per_tick
    order_id = k * 100_000 + np.arange(1, n + 1, dtype=np.int64)
    user_id = zipf_ids(rng, n, N_USERS)
    province_id = rng.integers(1, N_PROVINCES + 6, n)  # ~13% dangling
    ots = EV_T0_US + k * EV_STEP_US + rng.integers(0, EV_STEP_US, n)
    n_det = rng.integers(1, 6, n)
    d_order = np.repeat(np.arange(n), n_det)
    m = len(d_order)
    detail_id = order_id[d_order] * 10 + (
        np.arange(m) - np.repeat(np.cumsum(n_det) - n_det, n_det)
    )
    sku_id = zipf_ids(rng, m, N_SKUS, 1.2)
    qty = rng.integers(1, 4, m)
    amount_c = qty * rng.integers(100, 50_000, m)
    dts = ots[d_order] + rng.integers(0, 8_000_000, m)
    original_c = np.bincount(d_order, weights=amount_c, minlength=n).astype(
        np.int64
    )
    discount = rng.choice([0.0, 0.05, 0.1, 0.2], n, p=[0.5, 0.2, 0.2, 0.1])
    final_c = original_c - np.floor(original_c * discount).astype(np.int64)
    u = rng.random(m)
    delay = np.where(
        u < LATE_SHARE, LATE_TICKS, np.where(u < LATE_SHARE + NEXT_TICK_SHARE, 1, 0)
    )
    return {
        "order_id": order_id, "user_id": user_id, "province_id": province_id,
        "ots": ots, "original_c": original_c, "final_c": final_c,
        "d_order": d_order, "detail_id": detail_id, "sku_id": sku_id,
        "amount_c": amount_c, "dts": dts, "arrive": k + delay,
    }


def _tick_events(seed: int, k: int, n: int) -> pa.Table:
    rng = _rng(seed, 2, k)
    return pa.table(
        {
            "event_id": k * 1_000_000 + np.arange(n, dtype=np.int64),
            "ts": pa.array(
                EV_T0_US + k * EV_STEP_US + rng.integers(0, EV_STEP_US, n),
                _TS_UTC,
            ),
            "user_id": zipf_ids(rng, n, N_USERS),
            "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
            "value": rng.integers(0, 20_000, n) / 100.0,
            "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n)],
        },
        schema=EVENTS,
    )


def sku_tm(sku_id: np.ndarray) -> np.ndarray:
    return (sku_id * 31) % N_TMS + 1


def order_stream_files(
    seed: int, k: int, orders_per_tick: int, cache: dict
) -> dict[str, pa.Table]:
    """The six source files that land at tick ``k``: one per source. Details
    born in tick ``k`` arrive now, next tick, or ``LATE_TICKS`` later."""
    for j in (k, k - 1, k - LATE_TICKS):
        if j >= 0 and j not in cache:
            cache[j] = _tick_orders(seed, j, orders_per_tick)
    for j in [j for j in cache if j < k - LATE_TICKS]:
        del cache[j]
    born = cache[k]
    ids = born["order_id"]
    out = {
        "order_info": pa.table(
            {
                "order_id": ids, "user_id": born["user_id"],
                "province_id": born["province_id"],
                "ts": pa.array(born["ots"], _TS_UTC),
                "total": born["final_c"] / 100.0,
            },
            schema=ORDER_INFO,
        ),
        "orders": pa.table(
            {"order_id": ids, "ts": pa.array(born["ots"], _TS_UTC),
             "total": born["original_c"] / 100.0},
            schema=ORDERS,
        ),
    }
    parts = []
    for j in (k, k - 1, k - LATE_TICKS):
        if j < 0:
            continue
        t = cache[j]
        sel = np.nonzero(t["arrive"] == k)[0]
        parts.append((t, sel))
    det = {c: [] for c in ("detail_id", "order_id", "dts", "amount_c",
                           "original_c", "final_c", "sku_id")}
    for t, sel in parts:
        o = t["d_order"][sel]
        det["detail_id"].append(t["detail_id"][sel])
        det["order_id"].append(t["order_id"][o])
        det["dts"].append(t["dts"][sel])
        det["amount_c"].append(t["amount_c"][sel])
        det["original_c"].append(t["original_c"][o])
        det["final_c"].append(t["final_c"][o])
        det["sku_id"].append(t["sku_id"][sel])
    det = {c: np.concatenate(v) for c, v in det.items()}
    # arrival order inside a file is shuffled, not event-time sorted
    perm = _rng(seed, 3, k).permutation(len(det["detail_id"]))
    det = {c: v[perm] for c, v in det.items()}
    ts = pa.array(det["dts"], _TS_UTC)
    out["details"] = pa.table(
        {"detail_id": det["detail_id"], "order_id": det["order_id"],
         "ts": ts, "amount": det["amount_c"] / 100.0},
        schema=DETAILS,
    )
    out["alloc"] = pa.table(
        {"order_id": det["order_id"], "detail_id": det["detail_id"], "ts": ts,
         "amount": det["amount_c"] / 100.0,
         "original_total": det["original_c"] / 100.0,
         "final_total": det["final_c"] / 100.0},
        schema=ALLOC,
    )
    tm = sku_tm(det["sku_id"])
    out["tm_wide"] = pa.table(
        {"tm_id": tm, "tm_name": [f"tm_{t}" for t in tm],
         "amount": det["amount_c"] / 100.0},
        schema=TM_WIDE,
    )
    out["events"] = _tick_events(seed, k, 2 * orders_per_tick)
    return out


def order_stream_dims(seed: int, out_dir: str) -> dict[str, str]:
    """Static province and user dims for ``order_info_pipeline``'s
    enrichment (no ``ts`` column: the fact already carries one)."""
    rng = _rng(seed, 4, 0)
    prov = pa.table(
        {"province_id": np.arange(1, N_PROVINCES + 1, dtype=np.int64),
         "province_name": [f"province_{i}" for i in range(1, N_PROVINCES + 1)],
         "area_code": [f"{100000 + 1000 * i}" for i in range(1, N_PROVINCES + 1)]}
    )
    users = pa.table(
        {"user_id": np.arange(1, N_USERS + 1, dtype=np.int64),
         "user_level": rng.integers(1, 6, N_USERS).astype(str).astype(object),
         "gender": rng.choice(np.array(["M", "F"]), N_USERS)}
    )
    paths = {}
    for name, t in (("province", prov), ("user", users)):
        d = os.path.join(out_dir, name)
        os.makedirs(d, exist_ok=True)
        write_parquet(t, os.path.join(d, "part-0.parquet"))
        paths[name] = d
    return paths


# ---------------------------------------------------------------------------
# mart_queries: a TPC-H-ish warehouse with the catalog's table schemas
# ---------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
P_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
_DAY_US = 86_400 * 1_000_000
_D1992_US = 694224000 * 1_000_000  # 1992-01-01
_E2024_US = 1704067200 * 1_000_000  # 2024-01-01


def warehouse(seed: int, out_dir: str, sf: float) -> str:
    """Write region/nation/customer/supplier/part/orders/lineitem/events
    parquet files shaped like the catalog's test tables (same names,
    columns and types; naive timestamps, events.ts in nanoseconds) at
    scale factor ``sf``."""
    rng = _rng(seed, 20, 0)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    t = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {"n_nationkey": pa.array(range(25), pa.int32()),
         "n_name": [f"NATION_{i}" for i in range(25)],
         "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    )
    t["customer"] = pa.table(
        {"c_custkey": np.arange(n_cust, dtype=np.int64),
         "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
         "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
         "c_acctbal": rng.integers(-99_999, 999_999, n_cust) / 100.0,
         "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)]}
    )
    t["supplier"] = pa.table(
        {"s_suppkey": np.arange(n_supp, dtype=np.int64),
         "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
         "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
         "s_acctbal": rng.integers(-99_999, 999_999, n_supp) / 100.0}
    )
    t["part"] = pa.table(
        {"p_partkey": np.arange(n_part, dtype=np.int64),
         "p_name": [f"part {i % 997}" for i in range(n_part)],
         "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
         "p_type": P_TYPES[rng.integers(0, len(P_TYPES), n_part)],
         "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
         "p_retailprice": rng.integers(90_000, 200_000, n_part) / 100.0}
    )
    o_date = _D1992_US + rng.integers(0, 365 * 10, n_ord) * _DAY_US
    t["orders"] = pa.table(
        {"o_orderkey": np.arange(n_ord, dtype=np.int64),
         "o_custkey": zipf_ids(rng, n_ord, n_cust, 1.1) - 1,
         "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
         "o_totalprice": rng.integers(100_000, 50_000_000, n_ord) / 100.0,
         "o_orderdate": pa.array(o_date, _TS_NAIVE),
         "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)]}
    )
    l_ord = rng.integers(0, n_ord, n_li)
    t["lineitem"] = pa.table(
        {"l_orderkey": l_ord,
         "l_partkey": rng.integers(0, n_part, n_li),
         "l_suppkey": rng.integers(0, n_supp, n_li),
         "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
         "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
         "l_extendedprice": rng.integers(90_000, 10_000_000, n_li) / 100.0,
         "l_discount": rng.integers(0, 11, n_li) / 100.0,
         "l_tax": rng.integers(0, 9, n_li) / 100.0,
         "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
         "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
         "l_shipdate": pa.array(
             o_date[l_ord] + rng.integers(1, 122, n_li) * _DAY_US, _TS_NAIVE
         )}
    )
    ev_ts = np.sort(_E2024_US + rng.integers(0, 30 * _DAY_US, n_ev))
    t["events"] = pa.table(
        {"event_id": np.arange(n_ev, dtype=np.int64),
         # TIMESTAMP(NANOS), the events layout load_table converts
         "ts": pa.array(ev_ts * 1000, pa.timestamp("ns")),
         "user_id": zipf_ids(rng, n_ev, max(n_cust // 5, 100), 1.1),
         "event_type": EVENT_TYPES[
             rng.choice(5, n_ev, p=[0.5, 0.25, 0.1, 0.1, 0.05])
         ],
         "value": rng.integers(0, 20_000, n_ev) / 100.0,
         "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_ev)]}
    )
    for name, table in t.items():
        write_parquet(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
