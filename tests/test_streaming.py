"""Streaming-semantics tests (SURVEY.md §5.2.2): dedup-once, join-once,
stateful allocation invariants, and replay idempotence — each pipeline
driven by controlled file-drop micro-batches (one parquet file == one
batch via maxFilesPerTrigger=1)."""

from __future__ import annotations

import os
import time
import uuid

import pytest
from pyspark.sql import functions as F

from sparkstreaming_gmall_scala_spark.sinks.batch import (
    IdempotentBatchWriter,
    upsert_parquet,
)
from sparkstreaming_gmall_scala_spark.streaming.pipelines import (
    ALLOC_SCHEMA,
    DETAIL_SCHEMA,
    EVENT_SCHEMA,
    ORDER_SCHEMA,
    allocation_pipeline,
    dau_pipeline,
    order_wide_pipeline,
    trademark_stat_pipeline,
)


def _dirs(tmp_path, *names):
    out = []
    for n in names:
        d = str(tmp_path / n)
        os.makedirs(d, exist_ok=True)
        out.append(d)
    return out


def _drop(spark, schema, rows, src_dir):
    """Write one parquet file into the source dir == one micro-batch.

    The file source lists ``src_dir`` non-recursively, so the part file is
    copied up out of the writer's output directory as a single file."""
    import glob
    import shutil
    import tempfile

    df = spark.createDataFrame(rows, schema)
    with tempfile.TemporaryDirectory() as tmp:
        out = os.path.join(tmp, "w")
        df.coalesce(1).write.parquet(out)
        (part,) = glob.glob(os.path.join(out, "part-*.parquet"))
        shutil.copy(part, os.path.join(src_dir, f"drop_{uuid.uuid4().hex}.parquet"))


def _await_batches(query, n, timeout=60):
    """Block until the streaming query has committed n batches."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        p = query.lastProgress
        if p is not None and p["batchId"] >= n - 1 and p["numInputRows"] == 0:
            return
        query.processAllAvailable()
        if query.lastProgress is not None and query.lastProgress["batchId"] >= n - 1:
            return
        time.sleep(0.2)
    raise TimeoutError(f"query did not reach batch {n}")


def _ts(sec: int):
    from datetime import datetime

    return datetime(2024, 1, 1, 10, 0, sec)


class _TSFmt:
    def format(self, sec: int):
        return _ts(sec)


TS = _TSFmt()


def test_dau_dedup_once_across_batches(spark, tmp_path):
    """A2: same (day, user) arriving in two different micro-batches must
    emit exactly once — the Redis-SADD semantics, via dropDuplicates
    state."""
    src, out, ckpt = _dirs(tmp_path, "src", "out", "ckpt")
    # batch 1: users 1, 2; batch 2: user 1 again (same day) + new user 3
    _drop(spark, EVENT_SCHEMA, [(1, TS.format(1), 1, "start", 1.0, "{}"),
                                (2, TS.format(2), 2, "start", 1.0, "{}")], src)
    q = dau_pipeline(spark, src, out, ckpt)
    try:
        q.processAllAvailable()
        _drop(spark, EVENT_SCHEMA, [(3, TS.format(3), 1, "start", 1.0, "{}"),
                                    (4, TS.format(4), 3, "start", 1.0, "{}")], src)
        q.processAllAvailable()
    finally:
        q.stop()
    got = IdempotentBatchWriter(out).read(spark)
    users = sorted(r["user_id"] for r in got.select("user_id").collect())
    assert users == [1, 2, 3], users  # user 1 exactly once


def test_stream_stream_join_emits_once(spark, tmp_path):
    """J1/J2: a detail joins its order header exactly once even when both
    sides stay in state across batches — the watermarked SS join replaces
    the reference's window-overlap + Redis dedup entirely."""
    odir, ddir, out, ckpt = _dirs(tmp_path, "orders", "details", "out", "ckpt")
    _drop(spark, ORDER_SCHEMA, [(100, TS.format(0), 50.0)], odir)
    _drop(spark, DETAIL_SCHEMA, [(1, 100, TS.format(5), 20.0)], ddir)
    q = order_wide_pipeline(spark, odir, ddir, out, ckpt)
    try:
        q.processAllAvailable()
        # batch 2: the matching detail for order 100 again-in-horizon plus
        # a late detail (>20s after the order header) that must NOT join
        _drop(spark, DETAIL_SCHEMA, [(2, 100, TS.format(10), 30.0),
                                     (3, 100, TS.format(55), 99.0)], ddir)
        q.processAllAvailable()
        q.processAllAvailable()
    finally:
        q.stop()
    got = IdempotentBatchWriter(out).read(spark).collect()
    pairs = sorted((r["order_id"], r["detail_id"]) for r in got)
    assert pairs == [(100, 1), (100, 2)], pairs


def test_stateful_allocation_residual_across_batches(spark, tmp_path):
    """A4-a: details of one order split across micro-batches; the last
    arriving detail takes the residual so Σ shares == final_total exactly
    (the Redis running-sum semantics, in the state store)."""
    src, out, ckpt = _dirs(tmp_path, "src", "out", "ckpt")
    # order 7: original_total=30.00 (3 details), final_total=25.00 (discounted)
    _drop(spark, ALLOC_SCHEMA, [(7, 1, TS.format(1), 10.0, 30.0, 25.0),
                                (7, 2, TS.format(2), 10.0, 30.0, 25.0)], src)
    # availableNow: drain → stop; the second run restarts from the
    # checkpoint, so the running sums must survive a query restart.
    q = allocation_pipeline(spark, src, out, ckpt, available_now=True)
    assert q.awaitTermination(120), "drain 1 did not terminate"
    _drop(spark, ALLOC_SCHEMA, [(7, 3, TS.format(3), 10.0, 30.0, 25.0)], src)
    q = allocation_pipeline(spark, src, out, ckpt, available_now=True)
    assert q.awaitTermination(120), "drain 2 did not terminate"
    got = IdempotentBatchWriter(out).read(spark).collect()
    shares = {r["detail_id"]: r["final_detail_amount"] for r in got}
    assert len(shares) == 3
    # proportional shares: round(25 * 10/30, 2) = 8.33; residual = 8.34
    assert shares[1] == pytest.approx(8.33)
    assert shares[2] == pytest.approx(8.33)
    assert shares[3] == pytest.approx(8.34)  # last detail absorbs residual
    assert round(sum(shares.values()), 2) == 25.0


def _per_order_allocation(batches, ttl_ms=600_000):
    """The order-keyed allocation loop (one state entry per order),
    replayed batch by batch under Spark's event-time rules: rows at or
    below the watermark drop as late, an order's data runs before
    timeouts fire, an order times out once its timeout falls below the
    watermark, and the next watermark is the max event time so far minus
    the TTL. Rows are ``(order_id, detail_id, ts_ms, amount,
    original_total, final_total)``; returns ``{detail_id: share}``."""

    def cents(x):
        return int(x * 100 + 0.5)

    state: dict[int, tuple[int, int, int]] = {}
    shares: dict[int, float] = {}
    watermark = max_seen = 0
    for rows in batches:
        groups: dict[int, list] = {}
        for r in rows:
            if r[2] > watermark:
                groups.setdefault(r[0], []).append(r)
        for order_id, group in groups.items():
            origin_sum, split_sum, _ = state.get(order_id, (0, 0, 0))
            for _, detail_id, _, amount, original, final in sorted(
                group, key=lambda r: r[1]
            ):
                amount_c, final_c = cents(amount), cents(final)
                if amount_c == cents(original) - origin_sum:
                    share_c = final_c - split_sum
                else:
                    share_c = int(final_c * amount / original + 0.5)
                origin_sum += amount_c
                split_sum += share_c
                shares[detail_id] = share_c / 100.0
            last = max(r[2] for r in group)
            state[order_id] = (
                origin_sum, split_sum, max(last, watermark + 1) + ttl_ms
            )
        state = {o: v for o, v in state.items() if v[2] >= watermark}
        max_seen = max([max_seen] + [r[2] for r in rows])
        watermark = max(watermark, max_seen - ttl_ms)
    return shares


def test_bucketed_allocation_matches_per_order_loop(spark, tmp_path):
    """The hash-bucketed allocation state gives every detail exactly the
    share the order-keyed loop gives it: orders split across batches,
    several orders per bucket, a detail landing after its order's 600 s
    TTL, a late detail, and two restarts from the checkpoint."""
    import datetime as dt
    import glob
    import random

    from sparkstreaming_gmall_scala_spark.streaming.allocation import BUCKETS

    t0 = dt.datetime(2024, 1, 1, 10, 0, tzinfo=dt.timezone.utc)
    t0_ms = int(t0.timestamp() * 1000)
    rng = random.Random(7)
    batches: list[list[tuple]] = [[] for _ in range(7)]
    detail_id = 0
    # batches 0-3, event time 0-100 s: orders of 1-4 details, each detail
    # landing in its order's first batch or up to two batches later
    for order_id in range(1, 41):
        first = rng.randrange(3)
        amounts = [rng.randrange(1, 5000) for _ in range(rng.randint(1, 4))]
        original = sum(amounts)
        final = original - rng.randrange(0, original // 3 + 1)
        for a in amounts:
            detail_id += 1
            k = min(3, first + rng.randrange(3))
            ts_ms = t0_ms + (30 * k + rng.randrange(10)) * 1000
            batches[k].append(
                (order_id, detail_id, ts_ms, a / 100, original / 100, final / 100)
            )
    at = lambda s: t0_ms + s * 1000  # noqa: E731
    # order 100: three details of 1.00 of 3.00, final 10.00. Two at 0 s;
    # the third lands at 800 s, after 1,300 s and 1,310 s pushed the
    # watermark past 600 s: its state is gone, so it takes a fresh
    # proportional 3.33 instead of the residual 3.34.
    batches[0] += [(100, 901, at(0), 1.0, 3.0, 10.0),
                   (100, 902, at(0), 1.0, 3.0, 10.0)]
    batches[4] += [(200, 903, at(1300), 5.0, 9.0, 8.0)]
    batches[5] += [(300, 904, at(1310), 2.0, 2.0, 1.5)]
    batches[6] += [(100, 905, at(800), 1.0, 3.0, 10.0),
                   (200, 906, at(100), 4.0, 9.0, 8.0)]  # late: dropped

    want = _per_order_allocation(batches)
    assert want[905] == 3.33 and 906 not in want

    order_ids = sorted({r[0] for b in batches for r in b})
    per_bucket = (
        spark.createDataFrame([(o,) for o in order_ids], "order_id long")
        .groupBy(F.pmod(F.xxhash64("order_id"), F.lit(BUCKETS)))
        .count()
        .collect()
    )
    assert max(r["count"] for r in per_bucket) >= 2

    src, out, ckpt = _dirs(tmp_path, "src", "out", "ckpt")
    stamp = time.time() - 100
    for run in ([0, 1, 2], [3, 4], [5, 6]):
        for k in run:
            before = set(glob.glob(os.path.join(src, "*.parquet")))
            rows = [
                (o, d, dt.datetime.fromtimestamp(ts / 1000, dt.timezone.utc),
                 a, orig, fin)
                for o, d, ts, a, orig, fin in batches[k]
            ]
            _drop(spark, ALLOC_SCHEMA, rows, src)
            (new,) = set(glob.glob(os.path.join(src, "*.parquet"))) - before
            os.utime(new, (stamp + k, stamp + k))  # one file per batch, in order
        q = allocation_pipeline(spark, src, out, ckpt, available_now=True)
        assert q.awaitTermination(120), f"drain of batches {run} did not end"
    got = {
        r["detail_id"]: r["final_detail_amount"]
        for r in IdempotentBatchWriter(out).read(spark).collect()
    }
    assert got == want


def test_trademark_stat_per_batch_scope(spark, tmp_path):
    """A1/S12: the aggregate is per-batch scoped (not cumulative), and
    each batch lands under its own batch_id partition — the exactly-once
    ledger shape."""
    from pyspark.sql import types as Ty

    src, out, ckpt = _dirs(tmp_path, "src", "out", "ckpt")
    schema = Ty.StructType(
        [
            Ty.StructField("tm_id", Ty.LongType()),
            Ty.StructField("tm_name", Ty.StringType()),
            Ty.StructField("amount", Ty.DoubleType()),
        ]
    )
    _drop(spark, schema, [(1, "a", 10.0), (1, "a", 5.0), (2, "b", 1.0)], src)
    q = trademark_stat_pipeline(spark, src, out, ckpt)
    try:
        q.processAllAvailable()
        _drop(spark, schema, [(1, "a", 2.0)], src)
        q.processAllAvailable()
    finally:
        q.stop()
    got = IdempotentBatchWriter(out).read(spark)
    rows = {(r["batch_id"], r["tm_id"]): r["amount"] for r in got.collect()}
    assert rows[(0, 1)] == 15.0  # batch 0: summed within batch
    assert rows[(0, 2)] == 1.0
    assert rows[(1, 1)] == 2.0  # batch 1: NOT cumulative
    assert (1, 2) not in rows


def test_ods_router_pipeline_fanout(spark, tmp_path):
    """S13 as a streaming pipeline: Maxwell envelopes parsed, filtered by
    the allow-list/insert-only rules, fanned out per ods_{table} topic."""
    import json

    from sparkstreaming_gmall_scala_spark.streaming.pipelines import (
        ods_router_pipeline,
    )

    src, out, ckpt = _dirs(tmp_path, "src", "out", "ckpt")
    envelopes = [
        {"database": "gmall", "table": "order_info", "type": "insert",
         "ts": 1, "data": {"id": "1", "total": "9.99"}},
        {"database": "gmall", "table": "order_info", "type": "update",
         "ts": 2, "data": {"id": "1"}},  # fact update → dropped
        {"database": "gmall", "table": "user_info", "type": "update",
         "ts": 3, "data": {"id": "7", "name": "w"}},  # dim any-type → kept
        {"database": "gmall", "table": "not_allowed", "type": "insert",
         "ts": 4, "data": {"id": "9"}},  # not in allow-list → dropped
    ]
    (tmp_path / "src" / "a.txt").write_text(
        "\n".join(json.dumps(e) for e in envelopes)
    )
    q = ods_router_pipeline(spark, src, out, ckpt, flavor="maxwell")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.read.parquet(out)
    rows = {(r["topic"], r["value"]) for r in got.collect()}
    topics = {t for t, _ in rows}
    assert topics == {"ods_order_info", "ods_user_info"}, topics
    assert len(rows) == 2
    order_payload = next(v for t, v in rows if t == "ods_order_info")
    assert json.loads(order_payload) == {"id": "1", "total": "9.99"}


def test_idempotent_batch_writer_replay(spark, tmp_path):
    """S5/S12 invariant: replaying a batch id rewrites, never duplicates."""
    out = str(tmp_path / "out")
    sink = IdempotentBatchWriter(out)
    df = spark.createDataFrame([(1, "x"), (2, "y")], ["id", "v"])
    sink(df, 0)
    sink(df, 0)  # replay of the same batch
    sink(df.withColumn("v", F.lit("z")), 1)
    got = sink.read(spark)
    assert got.count() == 4  # 2 rows per distinct batch, not 6
    assert got.filter("batch_id = 0").count() == 2


def test_upsert_parquet_merge_semantics(spark, tmp_path):
    """S8/A5: dim upsert is last-write-wins per key (Delta MERGE analog)."""
    path = str(tmp_path / "dim")
    v1 = spark.createDataFrame([(1, "alice"), (2, "bob")], ["id", "name"])
    upsert_parquet(spark, v1, path, ["id"])
    v2 = spark.createDataFrame([(2, "robert"), (3, "carol")], ["id", "name"])
    upsert_parquet(spark, v2, path, ["id"])
    got = {r["id"]: r["name"] for r in spark.read.parquet(path).collect()}
    assert got == {1: "alice", 2: "robert", 3: "carol"}


def _write_dim(spark, rows, cols, path):
    spark.createDataFrame(rows, cols).write.mode("overwrite").parquet(path)


def test_order_info_pipeline_first_flag_restart_and_replay(spark, tmp_path):
    """DWD OrderInfoApp end-to-end: cross-batch first-order flag with
    intra-batch correction and dim enrichment; the flag survives restarts
    AND replays (≤1 first order per user, ever)."""
    from sparkstreaming_gmall_scala_spark.streaming.pipelines import (
        ORDER_INFO_SCHEMA,
        order_info_batch,
        order_info_pipeline,
    )

    src, state, out, ckpt, prov = _dirs(
        tmp_path, "src", "state", "out", "ckpt", "prov"
    )
    _write_dim(
        spark,
        [(1, "shanghai"), (2, "beijing")],
        ["province_id", "province_name"],
        prov,
    )
    dims = ((prov, "province_id", "province_id"),)
    # batch 0: user 1 orders twice (order 1 earliest), user 2 once
    batch0 = [
        (2, 1, 1, TS.format(2), 20.0),
        (1, 1, 1, TS.format(1), 10.0),
        (3, 2, 2, TS.format(1), 30.0),
    ]
    _drop(spark, ORDER_INFO_SCHEMA, batch0, src)
    q = order_info_pipeline(spark, src, state, out, ckpt, dim_dirs=dims)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["order_id"]: r
        for r in IdempotentBatchWriter(out).read(spark).collect()
    }
    assert got[1]["if_first_order"] == "1"  # earliest wins
    assert got[2]["if_first_order"] == "0"  # same-batch correction
    assert got[3]["if_first_order"] == "1"
    assert got[1]["province_name"] == "shanghai"  # dim enrich rode along

    # restart: new query object, same checkpoint/state; user 1 reorders
    _drop(spark, ORDER_INFO_SCHEMA, [(4, 1, 2, TS.format(9), 5.0),
                                     (5, 3, 1, TS.format(9), 7.0)], src)
    q = order_info_pipeline(spark, src, state, out, ckpt, dim_dirs=dims)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["order_id"]: r
        for r in IdempotentBatchWriter(out).read(spark).collect()
    }
    assert got[4]["if_first_order"] == "0"  # user 1 claimed in batch 0
    assert got[5]["if_first_order"] == "1"  # user 3 new

    # replay batch 0 directly (driver-retry simulation): flags identical,
    # no second first-order per user
    sink = IdempotentBatchWriter(out)
    replay_df = spark.createDataFrame(batch0, ORDER_INFO_SCHEMA)
    order_info_batch(spark, state, sink, dims)(replay_df, 0)
    got = IdempotentBatchWriter(out).read(spark)
    per_user_firsts = (
        got.filter(F.col("if_first_order") == "1")
        .groupBy("user_id")
        .count()
        .collect()
    )
    assert all(r["count"] == 1 for r in per_user_firsts), per_user_firsts
    assert {r["user_id"] for r in per_user_firsts} == {1, 2, 3}


def test_sku_dim_pipeline_denorm_and_late_dim_update(spark, tmp_path):
    """DIM SkuInfoApp: 3-parent denormalization on the way in, upsert per
    sku_id, and a parent-dim update becomes visible to the NEXT batch
    (the reference re-queries Phoenix each batch)."""
    from sparkstreaming_gmall_scala_spark.streaming.pipelines import (
        SKU_SCHEMA,
        sku_dim_pipeline,
    )

    src, tm, c3, spu, out, ckpt = _dirs(
        tmp_path, "src", "tm", "c3", "spu", "out", "ckpt"
    )
    _write_dim(spark, [(10, "huawei")], ["tm_id", "tm_name"], tm)
    _write_dim(spark, [(20, "phones")], ["category3_id", "category3_name"], c3)
    _write_dim(spark, [(30, "mate")], ["spu_id", "spu_name"], spu)

    _drop(spark, SKU_SCHEMA, [(1, 30, 10, 20, "mate-64gb", 100.0, TS.format(1))], src)
    q = sku_dim_pipeline(spark, src, tm, c3, spu, out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["sku_id"]: r for r in spark.read.parquet(out).collect()}
    assert got[1]["tm_name"] == "huawei"
    assert got[1]["category3_name"] == "phones"
    assert got[1]["spu_name"] == "mate"

    # late dim update + sku update and a new sku in the next batch
    _write_dim(spark, [(10, "huawei"), (11, "xiaomi")], ["tm_id", "tm_name"], tm)
    _drop(
        spark,
        SKU_SCHEMA,
        [
            (1, 30, 10, 20, "mate-128gb", 120.0, TS.format(5)),  # upsert
            (2, 30, 11, 20, "redmi", 80.0, TS.format(5)),
        ],
        src,
    )
    q = sku_dim_pipeline(spark, src, tm, c3, spu, out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["sku_id"]: r for r in spark.read.parquet(out).collect()}
    assert len(got) == 2
    assert got[1]["sku_name"] == "mate-128gb"  # last-write-wins per sku
    assert got[2]["tm_name"] == "xiaomi"  # updated parent dim visible


def test_sku_dim_pipeline_latest_change_wins_within_batch(spark, tmp_path):
    """Two changes of one sku in one file: the dim keeps the later one by
    ``ts``, not whichever row a per-batch dedup happens to keep first."""
    import datetime as dt

    from sparkstreaming_gmall_scala_spark.streaming.pipelines import (
        SKU_SCHEMA,
        sku_dim_pipeline,
    )

    src, tm, c3, spu, out, ckpt = _dirs(
        tmp_path, "src", "tm", "c3", "spu", "out", "ckpt"
    )
    _write_dim(spark, [(10, "huawei")], ["tm_id", "tm_name"], tm)
    _write_dim(spark, [(20, "phones")], ["category3_id", "category3_name"], c3)
    _write_dim(spark, [(30, "mate")], ["spu_id", "spu_name"], spu)
    day = dt.datetime(2024, 1, 1)
    _drop(
        spark,
        SKU_SCHEMA,
        [
            (7, 30, 10, 20, "old", 1.0, day),
            (7, 30, 10, 20, "new", 2.0, day + dt.timedelta(seconds=5)),
        ],
        src,
    )
    q = sku_dim_pipeline(spark, src, tm, c3, spu, out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [(r["sku_id"], r["sku_name"]) for r in spark.read.parquet(out).collect()]
    assert got == [(7, "new")]


def test_kafka_fanout_writer_carries_dynamic_topic(spark, tmp_path):
    """S1/S6 honesty check without a broker: the routed stream carries the
    kafka sink contract columns (dynamic 'topic' + string 'value'), and
    kafka_fanout configures a writer over it without touching a broker."""
    from sparkstreaming_gmall_scala_spark.operators.cdc import (
        MAXWELL_SCHEMA,
        parse_envelope,
        route_maxwell,
    )
    from sparkstreaming_gmall_scala_spark.sinks.batch import kafka_fanout
    from sparkstreaming_gmall_scala_spark.streaming.sources import file_stream
    from pyspark.sql import types as T

    src, ckpt = _dirs(tmp_path, "src", "ckpt")
    raw = file_stream(
        spark, src, T.StructType([T.StructField("value", T.StringType())]),
        fmt="text",
    )
    routed = route_maxwell(parse_envelope(raw, "value", MAXWELL_SCHEMA))
    assert routed.isStreaming
    # exact kafka-sink contract: topic + value, both strings
    assert [(f.name, f.dataType.simpleString()) for f in routed.schema.fields] == [
        ("topic", "string"),
        ("value", "string"),
    ]
    writer = kafka_fanout(routed, "broker:9092", ckpt)
    # writer is configured (construction must not require a live broker);
    # .start() would need the kafka package + broker, documented boundary
    assert writer is not None


def test_kafka_stream_requires_connector(spark):
    """kafka_stream is the production source; in this container the kafka
    DataSource is absent, and the failure mode is the documented
    AnalysisException at plan build — not a silent fallback."""
    import pytest
    from pyspark.errors.exceptions.captured import AnalysisException

    from sparkstreaming_gmall_scala_spark.streaming.sources import kafka_stream

    with pytest.raises(AnalysisException, match="kafka"):
        kafka_stream(spark, "broker:9092", "topic")


def test_epoch_ms_of_millisecond_parity(spark):
    """epoch_ms_of must reproduce the reference's System.currentTimeMillis
    longs exactly, including the SSS milliseconds."""
    from pyspark.sql import functions as F

    from sparkstreaming_gmall_scala_spark.functions.dates import epoch_ms_of

    micros = [
        1704103201123000,  # 2024-01-01T10:00:01.123Z
        1704103201000000,  # .000 boundary
        1704103201999000,  # .999 boundary
        0,                 # the epoch itself
    ]
    df = spark.createDataFrame([(m,) for m in micros], ["us"]).select(
        F.col("us"), epoch_ms_of(F.timestamp_micros(F.col("us"))).alias("ms")
    )
    got = {r["us"]: r["ms"] for r in df.collect()}
    assert got == {m: m // 1000 for m in micros}


def test_streaming_sessionize_merges_across_batches_and_matches_batch(spark, tmp_path):
    """session_window state must merge a session whose events span
    micro-batches, emit only watermark-closed sessions (append mode), and
    agree exactly with the batch formulation on the same data."""
    from sparkstreaming_gmall_scala_spark.streaming.sessions import session_counts
    from sparkstreaming_gmall_scala_spark.streaming.sources import file_stream

    src, ckpt = _dirs(tmp_path, "sess_src", "sess_ckpt")
    batch1 = [
        (1, _ts(0), 1, "view", 0.0, "{}"),
        (2, _ts(10), 1, "click", 0.0, "{}"),
        (3, _ts(20), 2, "view", 0.0, "{}"),
    ]
    # user 1's 10:10:00 event lands in a LATER batch but must merge into
    # the same session (gap 30 min > 10 min since the last event)
    from datetime import datetime

    batch2 = [
        (4, datetime(2024, 1, 1, 10, 10, 0), 1, "view", 0.0, "{}"),
        (5, datetime(2024, 1, 1, 13, 0, 0), 3, "view", 0.0, "{}"),
    ]
    # watermark driver: pushes event-time watermark past every earlier
    # session's close so append mode emits them
    batch3 = [(6, datetime(2024, 1, 1, 16, 0, 0), 3, "view", 0.0, "{}")]

    stream = file_stream(spark, src, EVENT_SCHEMA)
    out = session_counts(stream, gap="30 minutes", watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        for rows in (batch1, batch2, batch3):
            _drop(spark, EVENT_SCHEMA, rows, src)
            q.processAllAvailable()
        got = {
            (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
            for r in spark.sql("SELECT * FROM sess_out").collect()
        }
    finally:
        q.stop()

    all_rows = batch1 + batch2 + batch3
    batch_df = session_counts(
        spark.createDataFrame(all_rows, EVENT_SCHEMA), gap="30 minutes"
    )
    expected_closed = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in batch_df.collect()
        # only sessions the final watermark (16:00 - 1h = 15:00) has closed
        if r["session_end"] <= datetime(2024, 1, 1, 15, 0, 0)
    }
    assert got == expected_closed
    # the cross-batch merge: user 1 has ONE session of 3 events
    u1 = [g for g in got if g[0] == 1]
    assert len(u1) == 1 and u1[0][3] == 3


def test_transform_with_state_running_spend_matches_batch(spark, tmp_path):
    """The Spark-4 StatefulProcessor running-sum must carry state across
    micro-batches and reproduce the batch window analog exactly.

    The engine-side run needs google.protobuf (the TWS state-server wire
    protocol), absent from this container — skipped here, exercised on a
    real deployment; the processor's Python semantics are covered by
    test_running_spend_processor_logic_with_fake_state below."""
    pytest.importorskip("google.protobuf")
    from sparkstreaming_gmall_scala_spark.streaming.running import (
        running_spend_stream,
    )
    from sparkstreaming_gmall_scala_spark.streaming.sources import file_stream

    src, ckpt = _dirs(tmp_path, "run_src", "run_ckpt")
    old_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        batch1 = [
            (1, _ts(0), 1, "purchase", 10.004, "{}"),
            (2, _ts(1), 1, "purchase", 0.003, "{}"),
            (3, _ts(2), 2, "purchase", 5.0, "{}"),
            (4, _ts(3), 1, "view", 99.0, "{}"),  # filtered out
        ]
        batch2 = [
            (5, _ts(10), 1, "purchase", 2.5, "{}"),  # state carries 10.007
            (6, _ts(11), 2, "purchase", 0.005, "{}"),
        ]
        stream = file_stream(spark, src, EVENT_SCHEMA)
        out = running_spend_stream(stream)
        q = (
            out.writeStream.format("memory")
            .queryName("running_out")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            for rows in (batch1, batch2):
                _drop(spark, EVENT_SCHEMA, rows, src)
                q.processAllAvailable()
            got = {
                r["event_id"]: (r["user_id"], r["running_spend"])
                for r in spark.sql("SELECT * FROM running_out").collect()
            }
        finally:
            q.stop()
    finally:
        if old_provider is not None:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", old_provider
            )
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

    # batch analog on the same rows (same fold order): floor(cumsum*100+.5)/100
    assert got == {
        1: (1, 10.0),     # 10.004
        2: (1, 10.01),    # 10.007
        3: (2, 5.0),
        5: (1, 12.51),    # 12.507 — state crossed the batch boundary
        6: (2, 5.01),     # 5.005 half-up
    }


def test_running_spend_processor_logic_with_fake_state(spark):
    """The StatefulProcessor's fold logic, unit-tested against a fake
    ValueState: in-batch (ts, event_id) ordering, half-up 2-dp rounding,
    and state carry across handleInputRows calls (= micro-batches)."""
    import pandas as pd

    from sparkstreaming_gmall_scala_spark.streaming.running import (
        RunningSpendProcessor,
    )

    class FakeState:
        def __init__(self):
            self.v = None

        def exists(self):
            return self.v is not None

        def get(self):
            return self.v

        def update(self, t):
            self.v = t

    proc = RunningSpendProcessor()
    proc._total = FakeState()

    b1 = pd.DataFrame(
        {"event_id": [2, 1], "ts": [pd.Timestamp("2024-01-01 00:00:01"),
                                    pd.Timestamp("2024-01-01 00:00:00")],
         "value": [0.003, 10.004]}
    )
    (out1,) = proc.handleInputRows((1,), iter([b1]), None)
    # sorted by (ts, event_id): event 1 first, cumulative 10.004 → 10.007
    assert list(out1["event_id"]) == [1, 2]
    assert list(out1["running_spend"]) == [10.0, 10.01]

    b2 = pd.DataFrame(
        {"event_id": [5], "ts": [pd.Timestamp("2024-01-01 00:00:10")],
         "value": [2.5]}
    )
    (out2,) = proc.handleInputRows((1,), iter([b2]), None)
    assert list(out2["running_spend"]) == [12.51]  # state carried 10.007


def test_streaming_sessionize_state_survives_restart(spark, tmp_path):
    """Kill the query between batches and restart from the checkpoint: the
    session store must recover so an event arriving after the restart
    still MERGES into its pre-restart session (the reference loses Redis
    state on restart and silently double-counts; SURVEY §2.9)."""
    from datetime import datetime

    from sparkstreaming_gmall_scala_spark.streaming.sessions import session_counts
    from sparkstreaming_gmall_scala_spark.streaming.sources import file_stream

    src, ckpt = _dirs(tmp_path, "sessr_src", "sessr_ckpt")

    out_dir = str(tmp_path / "sessr_out")

    def start():
        stream = file_stream(spark, src, EVENT_SCHEMA)
        out = session_counts(stream, gap="30 minutes", watermark="1 hour")
        return (
            out.writeStream.foreachBatch(IdempotentBatchWriter(out_dir))
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    try:
        _drop(spark, EVENT_SCHEMA, [(1, _ts(0), 1, "view", 0.0, "{}")], src)
        q.processAllAvailable()
    finally:
        q.stop()

    # restart; the 10:10 event must extend the 10:00 session from state
    q = start()
    try:
        _drop(
            spark,
            EVENT_SCHEMA,
            [(2, datetime(2024, 1, 1, 10, 10, 0), 1, "view", 0.0, "{}")],
            src,
        )
        q.processAllAvailable()
        _drop(
            spark,
            EVENT_SCHEMA,
            [(3, datetime(2024, 1, 1, 16, 0, 0), 1, "view", 0.0, "{}")],
            src,
        )
        q.processAllAvailable()
        rows = spark.read.parquet(out_dir).collect()
    finally:
        q.stop()

    closed = [
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in rows
        if r["session_end"] <= datetime(2024, 1, 1, 15, 0, 0)
    ]
    # ONE merged session of 2 events spanning the restart — not two
    # singleton sessions
    assert closed == [
        (1, datetime(2024, 1, 1, 10, 0, 0), datetime(2024, 1, 1, 10, 40, 0), 2)
    ]


def test_upsert_parquet_crash_recovery(spark, tmp_path):
    """Every crash point of the tmp-write + two-rename swap leaves a
    recoverable table: a completed .tmp rolls FORWARD (it holds the merge),
    a dangling .old rolls BACK, a partial .tmp is discarded."""
    import shutil

    from sparkstreaming_gmall_scala_spark.sinks.batch import recover_dir

    path = str(tmp_path / "dim")
    v1 = spark.createDataFrame([(1, "alice"), (2, "bob")], ["id", "name"])
    upsert_parquet(spark, v1, path, ["id"])

    # crash AFTER tmp completed, BEFORE any rename: next upsert must merge
    # on top of tmp's (newer) contents, not the stale target
    v2 = spark.createDataFrame([(2, "robert")], ["id", "name"])
    tmp = path + ".tmp"
    # simulate: the v2 merge landed in tmp but the swap never ran
    merged = spark.createDataFrame(
        [(1, "alice"), (2, "robert")], ["id", "name"]
    )
    merged.write.mode("overwrite").parquet(tmp)
    recover_dir(path)
    assert not os.path.exists(tmp)
    got = {r["id"]: r["name"] for r in spark.read.parquet(path).collect()}
    assert got == {1: "alice", 2: "robert"}

    # crash BETWEEN the two renames: target missing, .old holds previous,
    # .tmp holds the new merge → roll forward to tmp, drop old
    old = path + ".old"
    v3 = spark.createDataFrame(
        [(1, "alice"), (2, "robert"), (3, "carol")], ["id", "name"]
    )
    v3.write.mode("overwrite").parquet(tmp)
    os.rename(path, old)
    recover_dir(path)
    got = {r["id"]: r["name"] for r in spark.read.parquet(path).collect()}
    assert got == {1: "alice", 2: "robert", 3: "carol"}
    assert not os.path.exists(old) and not os.path.exists(tmp)

    # crash MID-tmp-write (no _SUCCESS): partial tmp discarded, target kept
    os.makedirs(tmp)
    with open(os.path.join(tmp, "part-partial.parquet"), "w") as f:
        f.write("garbage")
    upsert_parquet(
        spark, spark.createDataFrame([(4, "dave")], ["id", "name"]), path, ["id"]
    )
    got = {r["id"]: r["name"] for r in spark.read.parquet(path).collect()}
    assert got == {1: "alice", 2: "robert", 3: "carol", 4: "dave"}
    assert not os.path.exists(tmp) and not os.path.exists(old)

    # crash between rename(path->old) and tmp completion can't happen (tmp
    # completes first), but a dangling .old WITH a live target just drops
    shutil.copytree(path, old)
    recover_dir(path)
    assert not os.path.exists(old)


import datetime as _dt


def _t(i):
    return _dt.datetime(2024, 1, 1, 0, 0, i)


_DIM_CASES = {
    "province": (
        "province_dim_pipeline",
        "PROVINCE_SCHEMA",
        "province_id",
        [(1, "shanghai", "021", "CN-31", _t(1))],
        [(1, "shanghai-renamed", "021", "CN-31", _t(2)), (2, "beijing", "010", "CN-11", _t(2))],
    ),
    "spu": (
        "spu_dim_pipeline",
        "SPU_SCHEMA",
        "spu_id",
        [(1, "spu-one", _t(1))],
        [(1, "spu-one-v2", _t(2)), (2, "spu-two", _t(2))],
    ),
    "trademark": (
        "trademark_dim_pipeline",
        "TRADEMARK_SCHEMA",
        "tm_id",
        [(1, "apple", _t(1))],
        [(1, "apple-v2", _t(2)), (2, "orange", _t(2))],
    ),
    "category3": (
        "category3_dim_pipeline",
        "CATEGORY3_SCHEMA",
        "category3_id",
        [(1, "phones", 10, _t(1))],
        [(1, "phones-v2", 10, _t(2)), (2, "laptops", 10, _t(2))],
    ),
}


@pytest.mark.parametrize("dim", sorted(_DIM_CASES))
def test_dim_pipeline_upsert_and_replay(spark, tmp_path, dim):
    """Each thin dim app (ProvinceInfoApp/SpuInfoApp/BaseTrademarkApp/
    BaseCategory3App): CDC insert → upsert visible; update wins per key;
    a replayed batch is a no-op (Phoenix-UPSERT idempotence)."""
    import sparkstreaming_gmall_scala_spark.streaming.pipelines as P

    fn_name, schema_name, key, batch1, batch2 = _DIM_CASES[dim]
    fn, schema = getattr(P, fn_name), getattr(P, schema_name)
    src, out, ckpt = _dirs(tmp_path, "src", "out", "ckpt")

    _drop(spark, schema, batch1, src)
    q = fn(spark, src, out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert spark.read.parquet(out).count() == 1

    _drop(spark, schema, batch2, src)
    q = fn(spark, src, out, ckpt)  # restart: same checkpoint
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r[key]: r for r in spark.read.parquet(out).collect()}
    assert len(got) == 2
    from pyspark.sql import types as T

    name_col = next(
        f.name for f in schema.fields if isinstance(f.dataType, T.StringType)
    )
    assert "v2" in got[1][name_col] or "renamed" in got[1][name_col]

    # direct replay of batch2 (driver-retry): same winners, same count
    df2 = spark.createDataFrame(batch2, schema)
    from sparkstreaming_gmall_scala_spark.sinks.batch import upsert_parquet

    upsert_parquet(spark, df2, out, [key], order_col="ts")
    got2 = {r[key]: r for r in spark.read.parquet(out).collect()}
    assert {k: tuple(v) for k, v in got.items()} == {
        k: tuple(v) for k, v in got2.items()
    }


def test_user_dim_pipeline_buckets(spark, tmp_path):
    """UserInfoApp: P4 age bucket + P5 gender decode ride the generic dim
    upsert; exact CN labels; deterministic under explicit as_of."""
    from sparkstreaming_gmall_scala_spark.functions.buckets import (
        AGE_21_30,
        AGE_GT30,
        AGE_LT20,
        GENDER_F,
        GENDER_M,
    )
    from sparkstreaming_gmall_scala_spark.streaming.pipelines import (
        USER_SCHEMA,
        user_dim_pipeline,
    )

    src, out, ckpt = _dirs(tmp_path, "src", "out", "ckpt")
    as_of = _dt.datetime(2024, 1, 1)

    def bday(age_years):
        return _dt.datetime.fromtimestamp(
            as_of.timestamp() - age_years * 365 * 86400 - 86400
        )

    rows = [
        (1, "1", bday(19), "M", _t(1)),
        (2, "2", bday(20), "F", _t(1)),  # exactly 20 → middle (strict <)
        (3, "3", bday(31), "x", _t(1)),
    ]
    _drop(spark, USER_SCHEMA, rows, src)
    q = user_dim_pipeline(spark, src, out, ckpt, as_of=as_of)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["user_id"]: r for r in spark.read.parquet(out).collect()}
    assert got[1]["age_group"] == AGE_LT20 and got[1]["gender_name"] == GENDER_M
    assert got[2]["age_group"] == AGE_21_30 and got[2]["gender_name"] == GENDER_F
    assert got[3]["age_group"] == AGE_GT30 and got[3]["gender_name"] == GENDER_F


def test_order_detail_pipeline_enriches_from_sku_dim(spark, tmp_path):
    """OrderDetailApp: the detail stream joins the denormalized sku dim
    (SkuInfoApp's output shape) per batch; late sku rows are picked up by
    the NEXT batch; missing skus left-join to NULLs, not dropped."""
    from sparkstreaming_gmall_scala_spark.streaming.pipelines import (
        ORDER_DETAIL_SCHEMA,
        order_detail_pipeline,
    )

    src, sku_dim, out, ckpt = _dirs(tmp_path, "src", "sku", "out", "ckpt")
    sku_cols = (
        "sku_id long, sku_name string, spu_id long, spu_name string, "
        "tm_id long, tm_name string, category3_id long, category3_name string"
    )
    spark.createDataFrame(
        [(100, "iphone", 1, "phones-spu", 5, "apple", 7, "phones")], sku_cols
    ).write.mode("overwrite").parquet(sku_dim)

    _drop(
        spark,
        ORDER_DETAIL_SCHEMA,
        [(1, 10, 100, _t(1), 99.5), (2, 10, 200, _t(1), 10.0)],
        src,
    )
    q = order_detail_pipeline(spark, src, sku_dim, out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["detail_id"]: r for r in IdempotentBatchWriter(out).read(spark).collect()}
    assert got[1]["tm_name"] == "apple" and got[1]["spu_name"] == "phones-spu"
    assert got[2]["tm_name"] is None  # unknown sku → NULL enrich, row kept

    # sku 200 lands in the dim; the NEXT batch sees it (per-batch re-read)
    spark.createDataFrame(
        [
            (100, "iphone", 1, "phones-spu", 5, "apple", 7, "phones"),
            (200, "pixel", 2, "pixel-spu", 6, "google", 7, "phones"),
        ],
        sku_cols,
    ).write.mode("overwrite").parquet(sku_dim)
    _drop(spark, ORDER_DETAIL_SCHEMA, [(3, 11, 200, _t(2), 5.0)], src)
    q = order_detail_pipeline(spark, src, sku_dim, out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["detail_id"]: r for r in IdempotentBatchWriter(out).read(spark).collect()}
    assert got[3]["tm_name"] == "google"
    assert got[2]["tm_name"] is None  # already-written batch unchanged


def test_dim_to_sku_to_detail_composition(spark, tmp_path):
    """The full DWD dim chain: trademark/category3/spu dim pipelines
    maintain the parent dims, SkuInfoApp denormalizes against them, and
    OrderDetailApp enriches from the result — reference apps composed
    end-to-end through their materialized tables."""
    from sparkstreaming_gmall_scala_spark.streaming.pipelines import (
        CATEGORY3_SCHEMA,
        ORDER_DETAIL_SCHEMA,
        SKU_SCHEMA,
        SPU_SCHEMA,
        TRADEMARK_SCHEMA,
        category3_dim_pipeline,
        order_detail_pipeline,
        sku_dim_pipeline,
        spu_dim_pipeline,
        trademark_dim_pipeline,
    )

    d = _dirs(
        tmp_path, "tm_src", "c3_src", "spu_src", "sku_src", "det_src",
        "tm", "c3", "spu", "sku", "out",
        "ck1", "ck2", "ck3", "ck4", "ck5",
    )
    (tm_src, c3_src, spu_src, sku_src, det_src,
     tm, c3, spu, sku, out, ck1, ck2, ck3, ck4, ck5) = d

    for schema, rows, src, fn, ck, outdir in (
        (TRADEMARK_SCHEMA, [(5, "apple", _t(1))], tm_src, trademark_dim_pipeline, ck1, tm),
        (CATEGORY3_SCHEMA, [(7, "phones", 1, _t(1))], c3_src, category3_dim_pipeline, ck2, c3),
        (SPU_SCHEMA, [(1, "phones-spu", _t(1))], spu_src, spu_dim_pipeline, ck3, spu),
    ):
        _drop(spark, schema, rows, src)
        q = fn(spark, src, outdir, ck)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    _drop(spark, SKU_SCHEMA, [(100, 1, 5, 7, "iphone", 999.0, _t(2))], sku_src)
    q = sku_dim_pipeline(spark, sku_src, tm, c3, spu, sku, ck4)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    _drop(spark, ORDER_DETAIL_SCHEMA, [(1, 10, 100, _t(3), 999.0)], det_src)
    q = order_detail_pipeline(spark, det_src, sku, out, ck5)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    [row] = IdempotentBatchWriter(out).read(spark).collect()
    assert row["sku_name"] == "iphone"
    assert row["tm_name"] == "apple"
    assert row["category3_name"] == "phones"
    assert row["spu_name"] == "phones-spu"


def test_incremental_dedup_matches_batch_on_union(spark, tmp_path):
    """Two micro-batches through the persisted-band-index pipeline emit
    exactly the pair set the batch LSH self-join finds on the union of
    the docs — including cross-batch near-dup pairs — and a direct batch
    replay adds nothing new."""
    from sparkstreaming_gmall_scala_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_rows,
    )
    from sparkstreaming_gmall_scala_spark.streaming.dedup import (
        DOC_SCHEMA,
        dedup_candidates_batch,
        dedup_index_pipeline,
    )

    src, idx, out, ckpt = _dirs(tmp_path, "src", "idx", "out", "ckpt")
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    batch1 = [
        (1, base),
        (2, base + " extra"),  # near-dup of 1 (same batch)
        (3, "completely different words about spark structured streaming state"),
    ]
    batch2 = [
        (4, base + " indeed"),  # near-dup of 1/2 (CROSS-batch)
        (5, "another unrelated document mentioning parquet columnar layouts"),
    ]

    _drop(spark, DOC_SCHEMA, batch1, src)
    q = dedup_index_pipeline(spark, src, idx, out, ckpt)
    try:
        q.processAllAvailable()
        _drop(spark, DOC_SCHEMA, batch2, src)
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r["id_a"], r["id_b"])
        for r in IdempotentBatchWriter(out).read(spark).collect()
    }
    union_docs = spark.createDataFrame(batch1 + batch2, DOC_SCHEMA)
    want = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(
            minhash_signatures(shingle_rows(union_docs, "doc_id", "text"), "doc_id"),
            "doc_id",
        ).collect()
    }
    assert got == want
    assert any(a in (1, 2) and b == 4 for a, b in got), "cross-batch pair missed"

    # replay batch 1 against the now-full index: union of outputs unchanged
    sink = IdempotentBatchWriter(out)
    dedup_candidates_batch(spark, idx, sink)(
        spark.createDataFrame(batch1, DOC_SCHEMA), 0
    )
    got2 = {
        (r["id_a"], r["id_b"])
        for r in IdempotentBatchWriter(out).read(spark).collect()
    }
    assert got2 == want


def _expected_band_pairs(spark, bander, df):
    """The batch self-join over the full corpus for any bander: pairs
    sharing a (band_idx, band_hash) cell."""
    from pyspark.sql import functions as F

    banded = bander(df)
    a, b = banded.alias("a"), banded.alias("b")
    return {
        (r["id_a"], r["id_b"])
        for r in a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
        .collect()
    }


def test_incremental_simhash_dedup_matches_batch_on_union(spark, tmp_path):
    """SimHash-limb family through the generic banded pipeline: two
    micro-batches emit exactly the limb-collision pair set of the batch
    self-join on the union — including cross-batch pairs."""
    from sparkstreaming_gmall_scala_spark.streaming.dedup import (
        DOC_SCHEMA,
        simhash_bander,
        simhash_index_pipeline,
    )

    src, idx, out, ckpt = _dirs(tmp_path, "src", "idx", "out", "ckpt")
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    batch1 = [
        (1, base),
        (2, base + " extra"),  # near-identical shingles → limb collisions
        (3, "completely different words about spark structured streaming"),
    ]
    batch2 = [
        # CROSS-batch exact dup of 1: identical shingle set ⇒ identical
        # simhash ⇒ all four limbs collide (one changed word can flip
        # bits in every limb, so near-dup collisions are probabilistic —
        # the exact dup pins the cross-batch path deterministically)
        (4, base),
        (5, "another unrelated document mentioning parquet columnar files"),
    ]
    _drop(spark, DOC_SCHEMA, batch1, src)
    q = simhash_index_pipeline(spark, src, idx, out, ckpt)
    try:
        q.processAllAvailable()
        _drop(spark, DOC_SCHEMA, batch2, src)
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r["id_a"], r["id_b"])
        for r in IdempotentBatchWriter(out).read(spark).collect()
    }
    union_docs = spark.createDataFrame(batch1 + batch2, DOC_SCHEMA)
    want = _expected_band_pairs(spark, simhash_bander(), union_docs)
    assert got == want
    assert any(a in (1, 2) and b == 4 for a, b in got), "cross-batch pair missed"


def test_incremental_embed_dedup_matches_batch_on_union(spark, tmp_path):
    """Hyperplane-LSH embedding family through the generic banded
    pipeline: two micro-batches ≡ the batch self-join on the union."""
    import random

    from sparkstreaming_gmall_scala_spark.streaming.dedup import (
        EMB_SCHEMA,
        embed_index_pipeline,
        embedding_bander,
    )

    rng = random.Random(11)
    dim, bands, per_band = 8, 2, 3
    planes = [
        [rng.gauss(0, 1) for _ in range(dim)]
        for _ in range(bands * per_band)
    ]
    base = [1.0, 0.2, -0.5, 0.8, 0.0, 0.3, -0.1, 0.6]
    jiggle = [x + 0.01 for x in base]
    anti = [-x for x in base]
    batch1 = [(1, base), (2, jiggle), (3, anti)]
    batch2 = [(4, [x + 0.02 for x in base]), (5, [0.0] * 7 + [1.0])]

    src, idx, out, ckpt = _dirs(tmp_path, "src", "idx", "out", "ckpt")
    _drop(spark, EMB_SCHEMA, batch1, src)
    q = embed_index_pipeline(spark, src, idx, out, ckpt, planes, bands)
    try:
        q.processAllAvailable()
        _drop(spark, EMB_SCHEMA, batch2, src)
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r["id_a"], r["id_b"])
        for r in IdempotentBatchWriter(out).read(spark).collect()
    }
    union = spark.createDataFrame(batch1 + batch2, EMB_SCHEMA)
    want = _expected_band_pairs(
        spark, embedding_bander(planes, bands), union
    )
    assert got == want
    # near-identical vectors land in the same bucket in every band
    assert (1, 2) in got and (1, 4) in got
    # an antipodal vector flips every sign bit — never a candidate of 1
    assert (1, 3) not in got


def test_incremental_dedup_index_is_append_only(spark, tmp_path):
    """Index maintenance must be O(batch), not O(corpus): processing batch
    N+1 appends its own batch_id directory and leaves batch N's files
    byte-for-byte untouched (no whole-index read-union-rewrite)."""
    import os

    from sparkstreaming_gmall_scala_spark.streaming.dedup import (
        DOC_SCHEMA,
        dedup_candidates_batch,
    )

    idx = str(tmp_path / "idx")
    sink = IdempotentBatchWriter(str(tmp_path / "out"))
    run = dedup_candidates_batch(spark, idx, sink)

    run(spark.createDataFrame([(1, "alpha beta gamma delta")], DOC_SCHEMA), 0)

    def snapshot(d):
        files = {}
        for root, _dirs, names in os.walk(d):
            for n in names:
                p = os.path.join(root, n)
                st = os.stat(p)
                files[p] = (st.st_size, st.st_mtime_ns)
        return files

    before = snapshot(os.path.join(idx, "batch_id=0"))
    assert before, "batch 0 wrote no index files"

    run(spark.createDataFrame([(2, "epsilon zeta eta theta")], DOC_SCHEMA), 1)
    assert snapshot(os.path.join(idx, "batch_id=0")) == before
    assert os.path.isdir(os.path.join(idx, "batch_id=1"))


def test_corpus_ingest_matches_batch_recipe_and_replays(spark, tmp_path):
    """Streaming corpus ingest (gopher filter → decontaminate → PII mask
    → cross-batch exact dedup) over two micro-batches equals the batch
    recipe on the union, and replaying a committed batch changes nothing
    (output and index idempotent)."""
    from sparkstreaming_gmall_scala_spark.streaming.corpus import (
        corpus_ingest_batch,
        corpus_ingest_batch_recipe,
        corpus_ingest_pipeline,
    )
    from sparkstreaming_gmall_scala_spark.streaming.dedup import DOC_SCHEMA

    src, idx, out, ckpt = _dirs(tmp_path, "src", "idx", "out", "ckpt")
    good = "plain sensible words flowing along nicely here today"
    batch1 = [
        (1, good),
        (2, "# # # # spam"),  # gopher-rejected (symbol ratio)
        (3, "the forbidden benchmark sentence appears here verbatim now"),
        (4, f"{good} with alice@example.com attached"),
    ]
    batch2 = [
        (5, good),  # cross-batch exact dup of 1 → dropped
        (6, "another perfectly reasonable document about columnar files"),
        (7, f"{good} with bob@example.com attached"),  # dup of 4 AFTER masking
    ]
    eval_docs = spark.createDataFrame(
        [(100, "the forbidden benchmark sentence appears here verbatim now")],
        DOC_SCHEMA,
    )

    _drop(spark, DOC_SCHEMA, batch1, src)
    q = corpus_ingest_pipeline(spark, src, idx, out, ckpt, eval_docs)
    try:
        q.processAllAvailable()
        _drop(spark, DOC_SCHEMA, batch2, src)
        q.processAllAvailable()
    finally:
        q.stop()

    sink = IdempotentBatchWriter(out)
    got = {
        (r["doc_id"], r["masked_text"])
        for r in sink.read(spark).select("doc_id", "masked_text").collect()
    }
    union = spark.createDataFrame(batch1 + batch2, DOC_SCHEMA)
    want = {
        (r["doc_id"], r["masked_text"])
        for r in corpus_ingest_batch_recipe(union, eval_docs).collect()
    }
    assert got == want
    kept_ids = {d for d, _ in got}
    assert 1 in kept_ids and 6 in kept_ids
    assert 2 not in kept_ids  # gopher-rejected
    assert 3 not in kept_ids  # decontaminated
    assert 5 not in kept_ids  # cross-batch exact dup
    # 4 kept with its email masked; 7 identical AFTER masking → dedup
    assert (4, f"{good} with <EMAIL> attached") in got
    assert 7 not in kept_ids

    # replay batch 1 directly: output and index byte-identical
    import os

    def snapshot(d):
        files = {}
        for root, _dirs2, names in os.walk(d):
            for n in names:
                p = os.path.join(root, n)
                if n.endswith(".parquet"):
                    files[p] = os.stat(p).st_size
        return files

    idx_before = snapshot(idx)
    corpus_ingest_batch(spark, idx, sink, eval_docs)(
        spark.createDataFrame(batch1, DOC_SCHEMA), 0
    )
    got2 = {
        (r["doc_id"], r["masked_text"])
        for r in sink.read(spark).select("doc_id", "masked_text").collect()
    }
    assert got2 == want
    # batch 1's index dir re-written with identical logical content; batch
    # 2's untouched
    seen = {
        (r["fp"], r["keeper"])
        for r in IdempotentBatchWriter(idx).read(spark).drop("batch_id").collect()
    }
    assert len(seen) == len({fp for fp, _ in seen})  # one keeper per fp
    assert snapshot(os.path.join(idx, "batch_id=1")) == {
        p: s for p, s in idx_before.items() if "batch_id=1" in p
    }


def test_band_index_compaction_preserves_pairs(spark, tmp_path):
    """Compacting committed batch dirs into the base generation must not
    change any future batch's candidate pairs, must shrink the directory
    count, and must survive an interrupted delete (duplicate rows are
    absorbed by the probes)."""
    from sparkstreaming_gmall_scala_spark.sinks.batch import AppendOnlyIndex
    from sparkstreaming_gmall_scala_spark.streaming.dedup import (
        DOC_SCHEMA,
        dedup_candidates_batch,
    )

    base_text = "the quick brown fox jumps over the lazy dog by the river"
    idx = str(tmp_path / "idx")
    sink = IdempotentBatchWriter(str(tmp_path / "out"))
    run = dedup_candidates_batch(spark, idx, sink)
    run(spark.createDataFrame([(1, base_text)], DOC_SCHEMA), 0)
    run(spark.createDataFrame([(2, base_text + " x")], DOC_SCHEMA), 1)

    index = AppendOnlyIndex(idx)
    rows_before = {tuple(r) for r in index.read(spark).collect()}
    assert index.compact(spark, upto_batch_id=1) == 2
    assert not os.path.isdir(os.path.join(idx, "batch_id=0"))
    assert not os.path.isdir(os.path.join(idx, "batch_id=1"))
    assert os.path.isdir(os.path.join(idx, "base"))
    assert {tuple(r) for r in index.read(spark).collect()} == rows_before

    # a later batch probes base + its own bands exactly as before
    run(spark.createDataFrame([(3, base_text + " y")], DOC_SCHEMA), 2)
    got = {
        (r["id_a"], r["id_b"]) for r in sink.read(spark).collect()
    }
    assert (1, 3) in got and (2, 3) in got and (1, 2) in got

    # interrupted compaction: base written but one batch dir not yet
    # deleted ⇒ duplicate rows in read(); pair set unchanged
    import shutil

    shutil.copytree(
        os.path.join(idx, "base"), os.path.join(idx, "batch_id=7")
    )
    run(spark.createDataFrame([(4, base_text + " z")], DOC_SCHEMA), 3)
    got2 = {
        (r["id_a"], r["id_b"]) for r in sink.read(spark).collect()
    }
    assert {(a, b) for a, b in got2 if b == 4} == {(1, 4), (2, 4), (3, 4)}
    # a fresh compaction folds the leftover dir away — and dedups: the
    # leftover's rows are already in base, and without the dropDuplicates
    # each crash cycle would bake another copy into the new base
    assert AppendOnlyIndex(idx).compact(spark, upto_batch_id=7) >= 1
    assert not os.path.isdir(os.path.join(idx, "batch_id=7"))
    base_df = spark.read.parquet(os.path.join(idx, "base"))
    assert base_df.count() == base_df.distinct().count()


def test_inline_compaction_bounds_index_dirs_and_preserves_pairs(
    spark, tmp_path
):
    """compact_every=N wired into the foreachBatch body: a many-batch run
    ends with O(1) index dirs (base + at most N uncompacted), the pair
    set equals an uncompacted twin's, and a replay of the last batch
    right after an inline compaction still rewrites only its own dir."""
    from sparkstreaming_gmall_scala_spark.sinks.batch import AppendOnlyIndex
    from sparkstreaming_gmall_scala_spark.streaming.dedup import (
        DOC_SCHEMA,
        banded_candidates_batch,
        minhash_bander,
    )

    texts = [
        (i, f"the quick brown fox jumps over the lazy dog number {i % 4}")
        for i in range(12)
    ]
    batches = [
        spark.createDataFrame([texts[i]], DOC_SCHEMA) for i in range(12)
    ]
    compact_every = 3

    sink_c = IdempotentBatchWriter(str(tmp_path / "out_c"))
    run_c = banded_candidates_batch(
        spark, str(tmp_path / "idx_c"), sink_c, minhash_bander(),
        compact_every=compact_every,
    )
    sink_p = IdempotentBatchWriter(str(tmp_path / "out_p"))
    run_p = banded_candidates_batch(
        spark, str(tmp_path / "idx_p"), sink_p, minhash_bander()
    )
    for i, b in enumerate(batches):
        run_c(b, i)
        run_p(b, i)

    pairs_c = {(r["id_a"], r["id_b"]) for r in sink_c.read(spark).collect()}
    pairs_p = {(r["id_a"], r["id_b"]) for r in sink_p.read(spark).collect()}
    assert pairs_c == pairs_p and pairs_c  # identical and non-trivial

    dirs_c = [
        d for d in os.listdir(str(tmp_path / "idx_c")) if d != "base"
    ]
    dirs_p = os.listdir(str(tmp_path / "idx_p"))
    assert len(dirs_p) == 12  # uncompacted twin: one dir per batch
    # last inline fold ran at batch 9 (ids <= 8); dirs 9..11 remain
    assert sorted(dirs_c) == ["batch_id=10", "batch_id=11", "batch_id=9"]
    assert os.path.isdir(str(tmp_path / "idx_c" / "base"))

    # both indexes still hold the same band universe
    idx_rows_c = {
        tuple(r)
        for r in AppendOnlyIndex(str(tmp_path / "idx_c")).read(spark).collect()
    }
    idx_rows_p = {
        tuple(r)
        for r in AppendOnlyIndex(str(tmp_path / "idx_p")).read(spark).collect()
    }
    assert idx_rows_c == idx_rows_p

    # replay the batch whose run performed the fold: it must re-emit a
    # superset of its original pairs and leave the dir layout intact
    run_c(batches[9], 9)
    pairs_replay = {
        (r["id_a"], r["id_b"]) for r in sink_c.read(spark).collect()
    }
    assert pairs_replay == pairs_c
    assert {
        tuple(r)
        for r in AppendOnlyIndex(str(tmp_path / "idx_c")).read(spark).collect()
    } == idx_rows_c


def test_corpus_ingest_inline_compaction_keeps_equivalence(spark, tmp_path):
    """Streaming corpus ingest with compact_every: union of batch outputs
    still equals the batch recipe, and the fp index ends with O(1) dirs."""
    from sparkstreaming_gmall_scala_spark.streaming.corpus import (
        corpus_ingest_batch,
        corpus_ingest_batch_recipe,
    )
    from sparkstreaming_gmall_scala_spark.streaming.dedup import DOC_SCHEMA

    rows = [
        (i, f"a perfectly ordinary document about topic {i % 3} " * 3)
        for i in range(8)
    ]
    idx = str(tmp_path / "fpidx")
    sink = IdempotentBatchWriter(str(tmp_path / "keep"))
    run = corpus_ingest_batch(spark, idx, sink, compact_every=2)
    for i in range(8):
        run(spark.createDataFrame([rows[i]], DOC_SCHEMA), i)

    got = {
        (r["doc_id"], r["masked_text"])
        for r in sink.read(spark).select("doc_id", "masked_text").collect()
    }
    want = {
        (r["doc_id"], r["masked_text"])
        for r in corpus_ingest_batch_recipe(
            spark.createDataFrame(rows, DOC_SCHEMA)
        ).collect()
    }
    assert got == want and got
    non_base = [d for d in os.listdir(idx) if d != "base"]
    # last fold at batch 6 (ids <= 5); dirs 6, 7 remain
    assert sorted(non_base) == ["batch_id=6", "batch_id=7"]


def test_streaming_curate_composes_ingest_and_near_dup(spark, tmp_path):
    """The composed curate pipeline (round-5 verdict #8): union of batch
    doc outputs equals the batch ingest recipe on the union; union of
    pair outputs equals the batch LSH self-join over those SAME curated
    survivors (post-mask text); replaying a batch changes neither set."""
    from sparkstreaming_gmall_scala_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_rows,
    )
    from sparkstreaming_gmall_scala_spark.streaming.corpus import (
        corpus_ingest_batch_recipe,
    )
    from sparkstreaming_gmall_scala_spark.streaming.curate import (
        curate_ingest_batch,
    )
    from sparkstreaming_gmall_scala_spark.streaming.dedup import DOC_SCHEMA

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    batches = [
        [
            (1, base),
            (2, base + " extra"),  # near-dup of 1, same batch
            (3, "totally different text about columnar storage engines ok"),
            (4, base),  # exact dup of 1 → dropped by curation
        ],
        [
            (5, base + " indeed"),  # near-dup of 1/2, CROSS-batch
            (6, "short"),  # gopher-dropped (< 5 words)
            (7, "another unrelated piece discussing watermark semantics here"),
        ],
    ]
    fp_idx, band_idx = str(tmp_path / "fpi"), str(tmp_path / "bdi")
    docs_sink = IdempotentBatchWriter(str(tmp_path / "docs"))
    pairs_sink = IdempotentBatchWriter(str(tmp_path / "pairs"))
    run = curate_ingest_batch(spark, fp_idx, band_idx, docs_sink, pairs_sink)
    for i, rows in enumerate(batches):
        run(spark.createDataFrame(rows, DOC_SCHEMA), i)

    union_docs = spark.createDataFrame(batches[0] + batches[1], DOC_SCHEMA)
    want_docs = {
        (r["doc_id"], r["masked_text"])
        for r in corpus_ingest_batch_recipe(union_docs).collect()
    }
    got_docs = {
        (r["doc_id"], r["masked_text"])
        for r in docs_sink.read(spark).select("doc_id", "masked_text").collect()
    }
    assert got_docs == want_docs
    assert 4 not in {d for d, _ in got_docs}  # exact dup curated away
    assert 6 not in {d for d, _ in got_docs}  # gopher-dropped

    survivors = corpus_ingest_batch_recipe(union_docs).select(
        "doc_id", F.col("masked_text").alias("text")
    )
    want_pairs = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(
            minhash_signatures(
                shingle_rows(survivors, "doc_id", "text"), "doc_id"
            ),
            "doc_id",
        ).collect()
    }
    got_pairs = {
        (r["id_a"], r["id_b"]) for r in pairs_sink.read(spark).collect()
    }
    assert got_pairs == want_pairs
    assert any(a in (1, 2) and b == 5 for a, b in got_pairs), "cross-batch"
    # the curated-away exact dup never reaches the band index
    assert not any(4 in p for p in got_pairs)

    # replay batch 0: both unions unchanged
    run(spark.createDataFrame(batches[0], DOC_SCHEMA), 0)
    assert {
        (r["doc_id"], r["masked_text"])
        for r in docs_sink.read(spark).select("doc_id", "masked_text").collect()
    } == want_docs
    assert {
        (r["id_a"], r["id_b"]) for r in pairs_sink.read(spark).collect()
    } == want_pairs


def test_streaming_curate_live_pipeline(spark, tmp_path):
    """The checkpointed curate_ingest_pipeline wrapper wires the composed
    body correctly: a two-drop run emits curated docs and cross-batch
    near-dup pairs with inline compaction enabled."""
    from sparkstreaming_gmall_scala_spark.streaming.curate import (
        curate_ingest_pipeline,
    )
    from sparkstreaming_gmall_scala_spark.streaming.dedup import DOC_SCHEMA

    src, fpi, bdi, docs_out, pairs_out, ckpt = _dirs(
        tmp_path, "src", "fpi", "bdi", "docs", "pairs", "ckpt"
    )
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    _drop(spark, DOC_SCHEMA, [(1, base), (2, base)], src)  # 2 = exact dup
    q = curate_ingest_pipeline(
        spark, src, fpi, bdi, docs_out, pairs_out, ckpt, compact_every=1
    )
    try:
        q.processAllAvailable()
        _drop(spark, DOC_SCHEMA, [(3, base + " indeed")], src)
        q.processAllAvailable()
    finally:
        q.stop()
    kept = {
        r["doc_id"]
        for r in IdempotentBatchWriter(docs_out).read(spark).collect()
    }
    assert kept == {1, 3}
    pairs = {
        (r["id_a"], r["id_b"])
        for r in IdempotentBatchWriter(pairs_out).read(spark).collect()
    }
    assert pairs == {(1, 3)}


def test_index_tolerates_empty_batch_dir_from_crashed_first_append(
    spark, tmp_path
):
    """A crash between mkdir and the first part file leaves an empty
    batch_id dir; read()/compact()/has_data() must treat it as absent (a
    replay rewrites it) instead of surfacing a schema-inference error."""
    from sparkstreaming_gmall_scala_spark.sinks.batch import AppendOnlyIndex

    idx = str(tmp_path / "idx")
    index = AppendOnlyIndex(idx)
    os.makedirs(os.path.join(idx, "batch_id=0"))  # crashed first append
    assert not index.has_data()
    with pytest.raises(FileNotFoundError):
        index.read(spark)
    assert index.compact(spark, upto_batch_id=5) == 0

    # with real data alongside, the empty dir stays invisible
    index.append(
        spark.createDataFrame([(1, 0, "h")], "doc_id long, band_idx int, band_hash string"),
        1,
    )
    os.makedirs(os.path.join(idx, "batch_id=2"))  # crashed later append
    assert index.has_data()
    assert index.read(spark).count() == 1
    assert index.compact(spark, upto_batch_id=2) == 1
    assert index.read(spark).count() == 1


def test_windowed_rollup_append_once_and_drops_late_rows(spark, tmp_path):
    """W3: each window emits exactly once when the watermark passes its
    end; a row arriving after the watermark has passed its window is
    dropped (the reference's drop-horizon semantics generalized to
    aggregation); emitted rows equal the batch rollup on the on-time
    subset."""
    from sparkstreaming_gmall_scala_spark.streaming.rollup import (
        hourly_rollup_pipeline,
    )

    def ev(eid, h, m, typ, val):
        from datetime import datetime

        return (eid, datetime(2024, 1, 1, h, m, 0), 1, typ, val, "{}")

    src, out, ckpt = _dirs(tmp_path, "src", "out", "ckpt")
    # batch 1: two 10:00-window events + an 11:20 event that pushes the
    # watermark to 11:10 (delay 10m) — past the 10:00 window's end, so
    # that window closes and emits in the NEXT trigger
    _drop(
        spark,
        EVENT_SCHEMA,
        [
            ev(1, 10, 5, "click", 1.0),
            ev(2, 10, 40, "click", 2.5),
            ev(3, 11, 20, "view", 9.0),
        ],
        src,
    )
    q = hourly_rollup_pipeline(spark, src, out, ckpt)
    try:
        q.processAllAvailable()
        # batch 2: a LATE 10:30 event (watermark 11:10 > 11:00) must be
        # dropped; a 12:30 event closes the 11:00 window
        _drop(
            spark,
            EVENT_SCHEMA,
            [ev(4, 10, 30, "click", 100.0), ev(5, 12, 30, "view", 3.0)],
            src,
        )
        q.processAllAvailable()
        q.processAllAvailable()
    finally:
        q.stop()

    rows = {
        (r["window_start"], r["event_type"]): (
            r["n_events"],
            r["sum_value_cents"],
        )
        for r in IdempotentBatchWriter(out).read(spark).collect()
    }
    # 10:00 window: only the two on-time clicks — the late 100.0 never lands
    assert rows[("2024-01-01 10:00:00", "click")] == (2, 350)
    # 11:00 window closed by the 12:30 event
    assert rows[("2024-01-01 11:00:00", "view")] == (1, 900)
    # the 12:00 window is still open — not emitted
    assert not any(ws.startswith("2024-01-01 12:") for ws, _ in rows)
    # each closed window emitted exactly once across all batch dirs
    all_rows = IdempotentBatchWriter(out).read(spark).collect()
    keys = [(r["window_start"], r["event_type"]) for r in all_rows]
    assert len(keys) == len(set(keys))


def test_stream_restart_after_index_compaction(spark, tmp_path):
    """A checkpointed dedup stream stopped, its index compacted offline,
    then restarted must keep emitting complete cross-batch pairs — the
    compaction maintenance window composes with checkpoint recovery."""
    from sparkstreaming_gmall_scala_spark.sinks.batch import AppendOnlyIndex
    from sparkstreaming_gmall_scala_spark.streaming.dedup import (
        DOC_SCHEMA,
        dedup_index_pipeline,
    )

    src, idx, out, ckpt = _dirs(tmp_path, "src", "idx", "out", "ckpt")
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    _drop(spark, DOC_SCHEMA, [(1, base)], src)
    q = dedup_index_pipeline(spark, src, idx, out, ckpt)
    try:
        q.processAllAvailable()
        _drop(spark, DOC_SCHEMA, [(2, base + " x")], src)
        q.processAllAvailable()
    finally:
        q.stop()

    # offline maintenance between runs: fold both committed batch dirs
    assert AppendOnlyIndex(idx).compact(spark, upto_batch_id=1) == 2

    _drop(spark, DOC_SCHEMA, [(3, base + " y")], src)
    q = dedup_index_pipeline(spark, src, idx, out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r["id_a"], r["id_b"])
        for r in IdempotentBatchWriter(out).read(spark).collect()
    }
    assert {(1, 2), (1, 3), (2, 3)} <= got


def test_index_compaction_crash_before_swap_rolls_forward(spark, tmp_path):
    """Compaction crash matrix: a crash after writing base.tmp/_SUCCESS
    but before the rename swap must roll FORWARD on the next read (the
    recover_dir discipline) — no index rows lost, duplicates with
    not-yet-deleted batch dirs tolerated."""
    from sparkstreaming_gmall_scala_spark.sinks.batch import AppendOnlyIndex

    idx = str(tmp_path / "idx")
    index = AppendOnlyIndex(idx)
    b0 = spark.createDataFrame(
        [(1, 0, "h1"), (2, 1, "h2")], "doc_id long, band_idx int, band_hash string"
    )
    index.append(b0, 0)
    rows = {tuple(r) for r in index.read(spark).collect()}

    # simulate the crash: the merged generation fully written to
    # base.tmp (with _SUCCESS), process died before the swap + deletes
    b0.write.mode("overwrite").parquet(os.path.join(idx, "base.tmp"))
    assert os.path.exists(os.path.join(idx, "base.tmp", "_SUCCESS"))

    got = {tuple(r) for r in index.read(spark).collect()}
    assert got == rows  # rolled forward; duplicate batch-dir rows absorbed
    assert os.path.isdir(os.path.join(idx, "base"))
    assert not os.path.isdir(os.path.join(idx, "base.tmp"))
    # the next compact folds the leftover batch dir into the new base
    assert index.compact(spark, upto_batch_id=0) == 1
    assert {tuple(r) for r in index.read(spark).collect()} == rows


def test_inline_compaction_under_active_stream_then_inflight_replay(
    spark, tmp_path
):
    """The one crash window inline compaction leaves open (r9 verdict #7):
    ``compact_every`` folds committed batch dirs INSIDE the foreachBatch
    body of a LIVE query, and a crash right after the fold — before the
    offset commit — replays the in-flight batch. The replay re-probes
    against base ∪ its own (rewritten) dir and must emit the identical
    pair set; nothing folded may be lost or double-counted."""
    from sparkstreaming_gmall_scala_spark.sinks.batch import AppendOnlyIndex
    from sparkstreaming_gmall_scala_spark.streaming.dedup import (
        DOC_SCHEMA,
        banded_candidates_batch,
        dedup_index_pipeline,
        minhash_bander,
    )

    src, idx, out, ckpt = _dirs(tmp_path, "src", "idx", "out", "ckpt")
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    q = dedup_index_pipeline(spark, src, idx, out, ckpt, compact_every=2)
    try:
        for i, doc in enumerate(
            [(1, base), (2, base + " x"), (3, base + " y")]
        ):
            _drop(spark, DOC_SCHEMA, [doc], src)
            q.processAllAvailable()
        # batch 2 compacted inline while the query was still ACTIVE:
        # dirs 0 and 1 folded into base, dir 2 (the in-flight one a
        # replay may rewrite) left as its own generation
        assert os.path.isdir(os.path.join(idx, "base"))
        assert not os.path.isdir(os.path.join(idx, "batch_id=0"))
        assert not os.path.isdir(os.path.join(idx, "batch_id=1"))
        assert os.path.isdir(os.path.join(idx, "batch_id=2"))
    finally:
        q.stop()

    sink = IdempotentBatchWriter(out)
    before = sorted(
        (r["id_a"], r["id_b"], r["batch_id"])
        for r in sink.read(spark).collect()
    )
    assert {(p[0], p[1]) for p in before} == {(1, 2), (1, 3), (2, 3)}

    # driver-retry simulation: the crash happened right after batch 2's
    # inline compact but before its offset commit, so batch 2 (doc 3)
    # replays on restart — same body, same batch id, post-compaction
    # index layout (base ∪ its own dir)
    replay = banded_candidates_batch(
        spark, idx, sink, minhash_bander(), compact_every=2
    )
    replay(spark.createDataFrame([(3, base + " y")], DOC_SCHEMA), 2)

    after = sorted(
        (r["id_a"], r["id_b"], r["batch_id"])
        for r in sink.read(spark).collect()
    )
    assert after == before  # probe results unchanged, batch 2 rewritten
    # index integrity: every doc's bands present exactly once per read()
    bands = AppendOnlyIndex(idx).read(spark)
    per_doc = {
        r["doc_id"]: r["n"]
        for r in bands.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    assert set(per_doc) == {1, 2, 3}
    assert len(set(per_doc.values())) == 1  # same band count per doc

    # the resumed stream (post-replay) keeps emitting complete
    # cross-batch pairs against the folded-plus-replayed index
    _drop(spark, DOC_SCHEMA, [(4, base + " z")], src)
    q = dedup_index_pipeline(spark, src, idx, out, ckpt, compact_every=2)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    final = {
        (r["id_a"], r["id_b"]) for r in sink.read(spark).collect()
    }
    assert final == {(a, b) for a in range(1, 5) for b in range(a + 1, 5)}


def test_streaming_curate_substring_candidates_union_equals_batch(
    spark, tmp_path
):
    """Round-7 window-hash surface: the union of per-batch substring-dup
    occurrence pairs equals the batch win_probe self-join over the SAME
    curated survivors (cross-batch and within-doc dups included), with
    inline compaction of the window index, and replaying a batch changes
    nothing."""
    from sparkstreaming_gmall_scala_spark.streaming.corpus import (
        corpus_ingest_batch_recipe,
    )
    from sparkstreaming_gmall_scala_spark.streaming.curate import (
        curate_ingest_batch,
        win_probe,
        window_rows,
    )
    from sparkstreaming_gmall_scala_spark.streaming.dedup import DOC_SCHEMA

    passage = "w0 w1 w2 w3 w4 w5"  # 6 tokens → three 4-token windows
    batches = [
        [
            (1, passage + " unique tail one two"),
            # within-doc repeated 6-token run (same-doc occurrence pairs)
            (3, "r0 r1 r2 r3 r4 r5 mid r0 r1 r2 r3 r4 r5"),
        ],
        # cross-batch dup: doc 2 shares the passage with already-indexed 1
        [(2, "lead in tokens here " + passage)],
        # third batch so compact_every=1 folds committed window dirs
        [(9, "another wholly unrelated sentence about stream compaction")],
    ]
    fp_idx, band_idx, win_idx = (
        str(tmp_path / "fpi"),
        str(tmp_path / "bdi"),
        str(tmp_path / "wni"),
    )
    docs_sink = IdempotentBatchWriter(str(tmp_path / "docs"))
    pairs_sink = IdempotentBatchWriter(str(tmp_path / "pairs"))
    wins_sink = IdempotentBatchWriter(str(tmp_path / "wins"))
    run = curate_ingest_batch(
        spark, fp_idx, band_idx, docs_sink, pairs_sink,
        compact_every=1, win_index_dir=win_idx, wins_sink=wins_sink,
        window=4,
    )
    for i, rows in enumerate(batches):
        run(spark.createDataFrame(rows, DOC_SCHEMA), i)

    union_docs = spark.createDataFrame(
        batches[0] + batches[1] + batches[2], DOC_SCHEMA
    )
    survivors = corpus_ingest_batch_recipe(union_docs).select(
        "doc_id", F.col("masked_text").alias("text")
    )
    wins = window_rows(survivors, window=4)
    want = {
        (r["id_a"], r["start_a"], r["id_b"], r["start_b"])
        for r in win_probe(wins, wins).collect()
    }
    got = {
        (r["id_a"], r["start_a"], r["id_b"], r["start_b"])
        for r in wins_sink.read(spark).collect()
    }
    assert got == want
    # cross-batch: doc 1's passage (starts 1..3) vs doc 2's (starts 5..7)
    assert (1, 1, 2, 5) in got
    # within-doc: doc 3's first run (1..3) vs its repeat (8..10)
    assert (3, 1, 3, 8) in got
    # the compacted window index folded committed dirs into base
    assert os.path.isdir(os.path.join(win_idx, "base"))

    # replay batch 0 after later batches committed: union unchanged
    run(spark.createDataFrame(batches[0], DOC_SCHEMA), 0)
    assert {
        (r["id_a"], r["start_a"], r["id_b"], r["start_b"])
        for r in wins_sink.read(spark).collect()
    } == want


def test_stream_stream_left_outer_join_emits_nulls_after_watermark(
    spark, tmp_path
):
    """The outer half the reference cannot express: an order header with
    no detail emits exactly once, null-padded, only after the watermark
    passes its join horizon (so SS has PROVEN no detail can still
    arrive); matched pairs behave exactly as the inner join."""
    odir, ddir, out, ckpt = _dirs(tmp_path, "orders", "details", "out", "ckpt")
    # order 100 has a detail; order 200 never gets one
    _drop(spark, ORDER_SCHEMA, [(100, TS.format(0), 50.0),
                                (200, TS.format(1), 75.0)], odir)
    _drop(spark, DETAIL_SCHEMA, [(1, 100, TS.format(5), 20.0)], ddir)
    q = order_wide_pipeline(spark, odir, ddir, out, ckpt, how="left_outer")
    try:
        q.processAllAvailable()
        mid = IdempotentBatchWriter(out).read(spark).collect()
        # order 200's fate is still undecidable — no null row yet
        assert all(r["order_id"] != 200 for r in mid), mid
        # advance BOTH watermarks far past 200's horizon (t=120 s, 121 s)
        from datetime import datetime as _dt

        late_o, late_d = _dt(2024, 1, 1, 10, 2, 0), _dt(2024, 1, 1, 10, 2, 1)
        _drop(spark, ORDER_SCHEMA, [(300, late_o, 10.0)], odir)
        _drop(spark, DETAIL_SCHEMA, [(9, 300, late_d, 5.0)], ddir)
        q.processAllAvailable()
        q.processAllAvailable()
    finally:
        q.stop()
    got = IdempotentBatchWriter(out).read(spark).collect()
    rows = sorted((r["order_id"], r["detail_id"]) for r in got)
    assert (100, 1) in rows and (300, 9) in rows, rows
    assert (200, None) in rows, rows  # null-padded, emitted exactly once
    assert sum(1 for o, _ in rows if o == 200) == 1, rows


def test_hopping_rollup_overlap_emit_once_and_late_drop(spark, tmp_path):
    """Hopping W3: an event lands in window/slide OVERLAPPING windows
    (2h/1h here -> 2), each of which emits exactly once when the
    watermark passes ITS end; late rows drop; still-open windows stay
    unemitted."""
    from sparkstreaming_gmall_scala_spark.streaming.rollup import (
        hopping_rollup_pipeline,
    )

    def ev(eid, h, m, typ, val):
        from datetime import datetime

        return (eid, datetime(2024, 1, 1, h, m, 0), 1, typ, val, "{}")

    src, out, ckpt = _dirs(tmp_path, "src", "out", "ckpt")
    # two click events inside 10:00-11:00 -> both live in windows
    # [09:00,11:00) and [10:00,12:00); the 13:30 view pushes the
    # watermark to 13:20, closing both click windows
    _drop(
        spark,
        EVENT_SCHEMA,
        [
            ev(1, 10, 5, "click", 1.0),
            ev(2, 10, 40, "click", 2.5),
            ev(3, 13, 30, "view", 9.0),
        ],
        src,
    )
    q = hopping_rollup_pipeline(
        spark, src, out, ckpt, window="2 hours", slide="1 hour"
    )
    try:
        q.processAllAvailable()
        # late 10:30 click (watermark 13:20) must drop; 16:30 closes the
        # view's windows [12,14) and [13,15)
        _drop(
            spark,
            EVENT_SCHEMA,
            [ev(4, 10, 30, "click", 100.0), ev(5, 16, 30, "view", 3.0)],
            src,
        )
        q.processAllAvailable()
        q.processAllAvailable()
    finally:
        q.stop()

    rows = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value_cents"])
        for r in spark.read.parquet(out).collect()
    }
    assert rows == {
        ("2024-01-01 09:00:00", "click"): (2, 350),
        ("2024-01-01 10:00:00", "click"): (2, 350),
        ("2024-01-01 12:00:00", "view"): (1, 900),
        ("2024-01-01 13:00:00", "view"): (1, 900),
    }


def test_cdc_dim_apply_pipeline_deletes_and_restart(spark, tmp_path):
    """The full-CDC dim sync: updates upsert, deletes remove the key,
    and a checkpointed restart keeps applying correctly (the Maxwell
    delete half the last-write-wins dim_pipeline can't express)."""
    from pyspark.sql import types as T

    from sparkstreaming_gmall_scala_spark.streaming.pipelines import (
        cdc_dim_apply_pipeline,
    )

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("op", T.StringType()),
            T.StructField("ts", T.LongType()),
        ]
    )
    src, dim, ckpt = _dirs(tmp_path, "cdc_src", "cdc_dim", "cdc_ckpt")

    def start():
        return cdc_dim_apply_pipeline(
            spark, src, dim, ckpt, schema, ["id"],
            op_col="op", order_col="ts",
        )

    def table():
        import glob

        if not glob.glob(dim + "/*.parquet"):
            return {}
        return {
            r["id"]: r["name"] for r in spark.read.parquet(dim).collect()
        }

    q = start()
    try:
        _drop(
            spark, schema,
            [(1, "a0", "insert", 1), (2, "b0", "insert", 1)], src,
        )
        q.processAllAvailable()
        assert table() == {1: "a0", 2: "b0"}
        _drop(
            spark, schema,
            [(1, "a1", "update", 2), (2, None, "delete", 2)], src,
        )
        q.processAllAvailable()
        assert table() == {1: "a1"}
    finally:
        q.stop()

    # restart from the checkpoint: a re-insert of the deleted key and a
    # delete of a live one apply on the recovered stream
    q = start()
    try:
        _drop(
            spark, schema,
            [(2, "b1", "insert", 3), (1, None, "delete", 3)], src,
        )
        q.processAllAvailable()
        assert table() == {2: "b1"}
    finally:
        q.stop()


def test_dim_pipeline_latest_change_wins_within_batch(spark, tmp_path):
    """Several changes of one key in one batch: the upsert keeps the one
    with the latest ``ts``, whatever their order in the file, and it
    beats the row stored by an earlier batch."""
    from sparkstreaming_gmall_scala_spark.streaming.pipelines import (
        TRADEMARK_SCHEMA,
        dim_pipeline,
    )

    src, out, ckpt = _dirs(tmp_path, "src", "out", "ckpt")
    q = dim_pipeline(spark, src, out, ckpt, TRADEMARK_SCHEMA, "tm_id")
    try:
        _drop(spark, TRADEMARK_SCHEMA, [(1, "a0", _t(1)), (2, "b0", _t(1))], src)
        q.processAllAvailable()
        _drop(
            spark,
            TRADEMARK_SCHEMA,
            [(1, "a1", _t(2)), (1, "a3", _t(4)), (1, "a2", _t(3)),
             (3, "c2", _t(3)), (3, "c1", _t(2))],
            src,
        )
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["tm_id"]: r["tm_name"] for r in spark.read.parquet(out).collect()}
    assert got == {1: "a3", 2: "b0", 3: "c2"}


def test_cdc_dim_apply_pipeline_latest_change_wins_within_batch(spark, tmp_path):
    """One batch with several changes per key: the latest by ``ts`` wins,
    so update->delete removes a stored key, insert->delete never lands,
    delete->insert re-creates, and update->update keeps the later row,
    whatever the changes' order in the file."""
    from pyspark.sql import types as T

    from sparkstreaming_gmall_scala_spark.streaming.pipelines import (
        cdc_dim_apply_pipeline,
    )

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("op", T.StringType()),
            T.StructField("ts", T.LongType()),
        ]
    )
    src, dim, ckpt = _dirs(tmp_path, "src", "dim", "ckpt")
    q = cdc_dim_apply_pipeline(
        spark, src, dim, ckpt, schema, ["id"], op_col="op", order_col="ts"
    )
    try:
        _drop(
            spark, schema,
            [(1, "a0", "insert", 1), (2, "b0", "insert", 1), (4, "d0", "insert", 1)],
            src,
        )
        q.processAllAvailable()
        _drop(
            spark, schema,
            [
                (1, None, "delete", 3), (1, "a1", "update", 2),  # update->delete
                (3, "c0", "insert", 2), (3, None, "delete", 3),  # insert->delete
                (2, "b1", "insert", 3), (2, None, "delete", 2),  # delete->insert
                (4, "d2", "update", 3), (4, "d1", "update", 2),  # update->update
            ],
            src,
        )
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["id"]: r["name"] for r in spark.read.parquet(dim).collect()}
    assert got == {2: "b1", 4: "d2"}


def test_append_only_index_time_travel_reads(spark, tmp_path):
    """read(upto_batch_id=N) reproduces the index exactly as of batch N;
    compaction is the retention horizon (older as-of reads raise — the
    VACUUM contract) and the horizon survives further compactions."""
    import pytest as _pytest

    from sparkstreaming_gmall_scala_spark.sinks.batch import AppendOnlyIndex

    idx = AppendOnlyIndex(str(tmp_path / "idx"))
    schema = "doc_id long, band_idx int, band_hash string"
    batches = {
        i: spark.createDataFrame([(10 + i, i, f"h{i}")], schema)
        for i in range(4)
    }
    for i in range(3):
        idx.append(batches[i], i)

    def ids(df):
        return sorted(r["doc_id"] for r in df.collect())

    # pre-compaction: any prefix is reproducible
    assert ids(idx.read(spark, upto_batch_id=0)) == [10]
    assert ids(idx.read(spark, upto_batch_id=1)) == [10, 11]
    assert ids(idx.read(spark)) == [10, 11, 12]

    assert idx.compact(spark, upto_batch_id=1) == 2
    idx.append(batches[3], 3)
    # as-of the horizon and later: exact
    assert ids(idx.read(spark, upto_batch_id=1)) == [10, 11]
    assert ids(idx.read(spark, upto_batch_id=2)) == [10, 11, 12]
    assert ids(idx.read(spark)) == [10, 11, 12, 13]
    # before the horizon: those generations are gone — loud, not wrong
    with _pytest.raises(ValueError, match="folded into the base"):
        idx.read(spark, upto_batch_id=0)
    # a second compaction advances the horizon monotonically
    assert idx.compact(spark, upto_batch_id=2) == 1
    assert ids(idx.read(spark, upto_batch_id=2)) == [10, 11, 12]
    with _pytest.raises(ValueError, match="folded into the base"):
        idx.read(spark, upto_batch_id=1)
