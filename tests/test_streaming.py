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


def test_stateful_allocation_replays_batch_lost_before_commit(spark, tmp_path):
    """A crash after a batch's sink and state writes but before its
    commit log entry: the restart replays that batch over the same
    offsets, rewriting the state-store file that already exists, with
    stray temp files from an interrupted atomic write lying in the offset
    log and a state partition. The sink and every share come out
    identical, and the next batch continues the running sums."""
    import glob

    src, out, ckpt = _dirs(tmp_path, "src", "out", "ckpt")

    def drain(rows):
        if rows:
            _drop(spark, ALLOC_SCHEMA, rows, src)
        q = allocation_pipeline(spark, src, out, ckpt, available_now=True)
        assert q.awaitTermination(120), "drain did not terminate"
        return q

    def sink_rows():
        return sorted(
            tuple(r) for r in IdempotentBatchWriter(out).read(spark).collect()
        )

    # order 7: 3 x 10.00 of 30.00, final 25.00; order 8: 3 x 10.00 of
    # 30.00, final 20.00 — both split across batches. The second batch
    # stays below the first one's max event time, so the watermark holds
    # and no no-data batch follows it: it is the last batch in the logs.
    drain([(7, 1, TS.format(5), 10.0, 30.0, 25.0),
           (7, 2, TS.format(6), 10.0, 30.0, 25.0)])
    q = drain([(7, 3, TS.format(3), 10.0, 30.0, 25.0),
               (8, 11, TS.format(4), 10.0, 30.0, 20.0)])
    last = max(p["batchId"] for p in q.recentProgress if p["numInputRows"])
    commits = os.path.join(ckpt, "commits")
    assert max(int(f) for f in os.listdir(commits) if f.isdigit()) == last
    before = sink_rows()

    # crash before commit: the commit entry never landed, and two atomic
    # writes died between creating their temp file and renaming it
    os.remove(os.path.join(commits, str(last)))
    os.remove(os.path.join(commits, f".{last}.crc"))
    partition = sorted(glob.glob(os.path.join(ckpt, "state", "0", "*")))[0]
    # the replay's state commit renames over this existing version file
    assert os.path.exists(os.path.join(partition, f"{last + 1}.delta"))
    for stray in (
        os.path.join(ckpt, "offsets", f".{last + 1}.{uuid.uuid4()}.tmp"),
        os.path.join(partition, f".{last + 2}.delta.{uuid.uuid4()}.tmp"),
    ):
        with open(stray, "wb") as f:
            f.write(b"torn")

    q = drain([])
    replayed = [p for p in q.recentProgress if p["numInputRows"]]
    assert [p["batchId"] for p in replayed] == [last], q.recentProgress
    assert sink_rows() == before

    drain([(8, 12, TS.format(7), 10.0, 30.0, 20.0),
           (8, 13, TS.format(8), 10.0, 30.0, 20.0)])
    shares = {
        r["detail_id"]: r["final_detail_amount"]
        for r in IdempotentBatchWriter(out).read(spark).collect()
    }
    assert shares == {
        1: 8.33, 2: 8.33, 3: 8.34, 11: 6.67, 12: 6.67, 13: 6.66
    }, shares


def _per_order_allocation(batches, ttl_ms=600_000):
    """The order-keyed allocation loop (one state entry per order),
    replayed batch by batch under Spark's event-time rules: rows at or
    below the watermark drop as late, an order's data runs before
    timeouts fire, an order times out once its timeout falls below the
    watermark, and the next watermark is the max event time so far minus
    the TTL. Bad input: a NULL ts is never late and moves no watermark;
    repeats of a detail_id in a batch collapse to the earliest by ts,
    NULL first; a row missing its order_id or a measure gets a None
    share and no state; an order with no ts in the batch expires from
    watermark + 1. Rows are ``(order_id, detail_id, ts_ms, amount,
    original_total, final_total)``; returns ``{detail_id: share}``."""

    def cents(x):
        return int(x * 100 + 0.5)

    state: dict[int, tuple[int, int, int]] = {}
    shares: dict[int, float | None] = {}
    watermark = max_seen = 0
    for rows in batches:
        groups: dict[int, list] = {}
        seen: set[int] = set()
        for r in sorted(rows, key=lambda r: (r[2] is not None, r[2] or 0)):
            if r[2] is not None and r[2] <= watermark or r[1] in seen:
                continue
            if r[1] is not None:
                seen.add(r[1])
            if None in (r[0], r[3], r[4], r[5]):
                shares[r[1]] = None
            else:
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
            last = max((r[2] for r in group if r[2] is not None), default=0)
            state[order_id] = (
                origin_sum, split_sum, max(last, watermark + 1) + ttl_ms
            )
        state = {o: v for o, v in state.items() if v[2] >= watermark}
        max_seen = max([max_seen] + [r[2] for r in rows if r[2] is not None])
        watermark = max(watermark, max_seen - ttl_ms)
    return shares


_T0_MS = 1_704_103_200_000  # 2024-01-01 10:00 UTC


def _alloc_rows(rows):
    """``_per_order_allocation`` rows (ts in epoch ms) as ALLOC_SCHEMA rows."""
    import datetime as dt

    return [
        (o, d, None if ts is None else
         dt.datetime.fromtimestamp(ts / 1000, dt.timezone.utc), a, orig, fin)
        for o, d, ts, a, orig, fin in rows
    ]


def test_bucketed_allocation_matches_per_order_loop(spark, tmp_path):
    """The hash-bucketed allocation state gives every detail exactly the
    share the order-keyed loop gives it: orders split across batches,
    several orders per bucket, a detail landing after its order's 600 s
    TTL, a late detail, NULL order_id / amount / ts details, order ids
    above 2**53 in the NULL order_id's bucket, a detail repeated within
    a batch, and two restarts from the checkpoint."""
    import random

    from sparkstreaming_gmall_scala_spark.streaming.allocation import BUCKETS

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
            ts_ms = _T0_MS + (30 * k + rng.randrange(10)) * 1000
            batches[k].append(
                (order_id, detail_id, ts_ms, a / 100, original / 100, final / 100)
            )
    at = lambda s: _T0_MS + s * 1000  # noqa: E731
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
    # Bad input. A NULL amount or order_id gets a NULL share and leaves
    # the state alone (order 500's second detail still takes the
    # residual). Odd ids above 2**53 share the NULL order_id's bucket
    # and batch: a float64 round trip would change them. Order 400's
    # only detail has a NULL ts, so its expiry anchors on the watermark
    # + 1 and it is gone by batch 6: 908 takes a fresh 0.51, not the
    # residual 0.50.
    bucket = F.pmod(F.xxhash64("o"), F.lit(BUCKETS))
    null_bucket = (
        spark.sql("SELECT CAST(NULL AS BIGINT) AS o").select(bucket).first()[0]
    )
    big = [
        r["o"]
        for r in spark.range(400)
        .selectExpr(f"{2**53 + 1} + 2 * id AS o")
        .where(bucket == null_bucket)
        .limit(2)
        .collect()
    ]
    batches[1] += [(500, 910, at(40), None, 3.0, 2.0),
                   (500, 911, at(40), 3.0, 3.0, 2.0)]
    batches[2] += [(None, 912, at(65), 1.0, 1.0, 1.0),
                   (big[0], 913, at(66), 1.0, 3.0, 2.0),
                   (big[1], 914, at(66), 2.0, 3.0, 3.0)]
    batches[4] += [(400, 907, None, 1.0, 2.0, 1.01)]
    batches[6] += [(400, 908, at(800), 1.0, 2.0, 1.01)]
    # Order 600: detail 920 twice in one batch, the later copy with a
    # wrong amount. Only the earliest copy counts, once, so the shares
    # still sum to 2.00 (keeping both would write four rows summing to 3.34).
    batches[2] += [(600, 920, at(67), 2.0, 3.0, 2.0),
                   (600, 920, at(61), 1.0, 3.0, 2.0),
                   (600, 921, at(62), 1.0, 3.0, 2.0)]
    batches[3] += [(600, 922, at(95), 1.0, 3.0, 2.0)]

    want = _per_order_allocation(batches)
    assert want[905] == 3.33 and 906 not in want
    assert want[910] is None and want[911] == 2.0 and want[912] is None
    assert want[907] == 0.51 and want[908] == 0.51
    assert (want[920], want[921], want[922]) == (0.67, 0.67, 0.66)

    order_ids = sorted({r[0] for b in batches for r in b} - {None})
    per_bucket = (
        spark.createDataFrame([(o,) for o in order_ids], "order_id long")
        .groupBy(F.pmod(F.xxhash64("order_id"), F.lit(BUCKETS)))
        .count()
        .collect()
    )
    assert max(r["count"] for r in per_bucket) >= 2

    src, out, ckpt = _dirs(tmp_path, "src", "out", "ckpt")
    for run in (batches[:3], batches[3:5], batches[5:]):
        _drop_each(spark, ALLOC_SCHEMA, [_alloc_rows(b) for b in run], src)
        q = allocation_pipeline(spark, src, out, ckpt, available_now=True)
        assert q.awaitTermination(120), "drain did not terminate"
    sink = IdempotentBatchWriter(out).read(spark).collect()
    got = {r["detail_id"]: r["final_detail_amount"] for r in sink}
    assert len(sink) == len(got)
    assert got == want
    sent = {r[1]: r[0] for b in batches for r in b}
    assert {r["detail_id"]: r["order_id"] for r in sink} == {
        d: sent[d] for d in want
    }


def test_allocation_same_shares_under_every_trigger(spark, tmp_path):
    """An order past its expiry gets a detail in the very next batch:
    order 100's details 901/902 at 0 s, detail 903 of order 200 at
    1,300 s (the watermark moves to 700 s, past order 100's 600 s
    expiry), then 905 of order 100 at 800 s. The order's data runs
    before its timeout, so 905 takes the residual 3.34, whether one
    availableNow run drains the three files or a running query reads
    them one at a time; a batch that only advanced the watermark would
    evict the order first and give 3.33."""
    at = lambda s: _T0_MS + s * 1000  # noqa: E731
    batches = [
        [(100, 901, at(0), 1.0, 3.0, 10.0), (100, 902, at(0), 1.0, 3.0, 10.0)],
        [(200, 903, at(1300), 5.0, 9.0, 8.0)],
        [(100, 905, at(800), 1.0, 3.0, 10.0)],
    ]
    want = _per_order_allocation(batches)
    assert want[905] == 3.34, want

    def shares(out):
        return {
            r["detail_id"]: r["final_detail_amount"]
            for r in IdempotentBatchWriter(out).read(spark).collect()
        }

    src, out, ckpt = _dirs(tmp_path, "drain/src", "drain/out", "drain/ckpt")
    _drop_each(spark, ALLOC_SCHEMA, [_alloc_rows(b) for b in batches], src)
    q = allocation_pipeline(spark, src, out, ckpt, available_now=True)
    assert q.awaitTermination(120), "drain did not terminate"
    assert shares(out) == want

    src, out, ckpt = _dirs(tmp_path, "each/src", "each/out", "each/ckpt")
    q = allocation_pipeline(spark, src, out, ckpt)
    try:
        for rows in batches:
            _drop(spark, ALLOC_SCHEMA, _alloc_rows(rows), src)
            q.processAllAvailable()
    finally:
        q.stop()
    assert shares(out) == want


def test_stateful_pipelines_run_no_empty_batches(spark, tmp_path):
    """dau, the inner order_wide join and allocation run a micro-batch
    only when a file lands, although each file moves the watermark past
    state the previous ones left: every batch that ran read input. The
    session's own noDataMicroBatches setting is the same after each
    start()."""
    from datetime import datetime, timedelta

    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    day = [datetime(2024, 1, 1, 10) + timedelta(days=k) for k in range(3)]
    odir, ddir, events, alloc = _dirs(
        tmp_path, "in/orders", "in/details", "in/events", "in/alloc"
    )

    def start(name, make):
        before = spark.conf.get(key, None)
        q = make(*_dirs(tmp_path, f"{name}/out", f"{name}/ckpt"))
        assert spark.conf.get(key, None) == before
        return q

    queries = [
        start("dau", lambda out, ckpt: dau_pipeline(spark, events, out, ckpt)),
        start("wide", lambda out, ckpt: order_wide_pipeline(
            spark, odir, ddir, out, ckpt)),
        start("alloc", lambda out, ckpt: allocation_pipeline(
            spark, alloc, out, ckpt)),
    ]
    assert spark.conf.get(key) == "true"
    try:
        for k, ts in enumerate(day):
            _drop(spark, EVENT_SCHEMA, [(k, ts, k, "start", 1.0, "{}")], events)
            _drop(spark, ORDER_SCHEMA, [(k, ts, 5.0)], odir)
            _drop(spark, DETAIL_SCHEMA, [(k, k, ts, 5.0)], ddir)
            _drop(spark, ALLOC_SCHEMA, [(k, k, ts, 5.0, 5.0, 4.0)], alloc)
            for q in queries:
                q.processAllAvailable()
        for q in queries:
            ran = [p for p in q.recentProgress if "addBatch" in p["durationMs"]]
            assert len(ran) >= len(day)
            assert all(p["numInputRows"] for p in ran), [
                (p["batchId"], p["numInputRows"]) for p in ran
            ]
    finally:
        for q in queries:
            q.stop()


def _offset_confs(ckpt):
    """``{batch_id: session confs}`` as the checkpoint's offset log
    recorded them (each entry's second line is its metadata)."""
    import json

    confs = {}
    log = os.path.join(ckpt, "offsets")
    for f in os.listdir(log):
        if f.isdigit():
            with open(os.path.join(log, f)) as fh:
                fh.readline()
                confs[int(f)] = json.loads(fh.readline())["conf"]
    return confs


def _state_partitions(ckpt):
    """The checkpoint's ``operator/partition`` state-store dirs."""
    root = os.path.join(ckpt, "state")
    return sorted(
        f"{op}/{part}"
        for op in os.listdir(root)
        if not op.startswith("_")
        for part in os.listdir(os.path.join(root, op))
        if not part.startswith("_")
    )


def test_stateful_pipelines_keep_state_in_one_partition(spark, tmp_path):
    """dau, order_wide under both join modes, allocation and order_info
    under both triggers keep their state in one shuffle partition: a
    fresh checkpoint records spark.sql.shuffle.partitions "1" in its
    offset log and holds only state/0/0. The session's own partition
    count and noDataMicroBatches setting are the same after each
    start()."""
    from sparkstreaming_gmall_scala_spark.streaming.pipelines import (
        ORDER_INFO_SCHEMA,
        order_info_pipeline,
    )

    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.streaming.noDataMicroBatches.enabled",
    )
    odir, ddir, events, alloc, info = _dirs(
        tmp_path, "in/orders", "in/details", "in/events", "in/alloc", "in/info"
    )
    ts = _ts(1)
    _drop(spark, EVENT_SCHEMA, [(1, ts, 1, "start", 1.0, "{}")], events)
    _drop(spark, ORDER_SCHEMA, [(1, ts, 5.0)], odir)
    _drop(spark, DETAIL_SCHEMA, [(1, 1, ts, 5.0)], ddir)
    _drop(spark, ALLOC_SCHEMA, [(1, 1, ts, 5.0, 5.0, 4.0)], alloc)
    _drop(spark, ORDER_INFO_SCHEMA, [(1, 1, 1, ts, 5.0)], info)
    # name -> (start(out, ckpt), drains and stops by itself)
    pipelines = {
        "dau": (lambda out, ckpt: dau_pipeline(spark, events, out, ckpt), False),
        "wide_inner": (lambda out, ckpt: order_wide_pipeline(
            spark, odir, ddir, out, ckpt), False),
        "wide_left_outer": (lambda out, ckpt: order_wide_pipeline(
            spark, odir, ddir, out, ckpt, how="left_outer"), False),
        "alloc": (lambda out, ckpt: allocation_pipeline(
            spark, alloc, out, ckpt), False),
        "alloc_drain": (lambda out, ckpt: allocation_pipeline(
            spark, alloc, out, ckpt, available_now=True), True),
        "info": (lambda out, ckpt: order_info_pipeline(
            spark, info, out + "_export", out, ckpt), False),
        "info_drain": (lambda out, ckpt: order_info_pipeline(
            spark, info, out + "_export", out, ckpt, available_now=True), True),
    }
    session = {k: spark.conf.get(k, None) for k in keys}
    assert session[keys[0]] == "4"
    for name, (start, drains) in pipelines.items():
        out, ckpt = _dirs(tmp_path, f"{name}/out", f"{name}/ckpt")
        q = start(out, ckpt)
        try:
            assert {k: spark.conf.get(k, None) for k in keys} == session, name
            if drains:
                assert q.awaitTermination(120), f"{name} did not terminate"
            else:
                q.processAllAvailable()
        finally:
            q.stop()
        assert _offset_confs(ckpt)[0][keys[0]] == "1", name
        assert _state_partitions(ckpt) == ["0/0"], (name, _state_partitions(ckpt))


def test_stateful_checkpoint_keeps_its_partition_count(
    spark, tmp_path, monkeypatch
):
    """A checkpoint written with the session's 4 state partitions (the
    layout before the pipelines kept state in one) continues through
    allocation_pipeline and order_info_pipeline with 4: every later
    offset-log entry still records "4", and across the switch the shares
    equal the order-keyed allocation loop and the flags equal the
    per-order first-order rule."""
    import random

    from sparkstreaming_gmall_scala_spark.streaming import pipelines
    from sparkstreaming_gmall_scala_spark.streaming.allocation import (
        allocate_stateful,
    )
    from sparkstreaming_gmall_scala_spark.streaming.pipelines import (
        ORDER_INFO_SCHEMA,
        order_info_pipeline,
    )
    from sparkstreaming_gmall_scala_spark.streaming.sources import file_stream

    key = "spark.sql.shuffle.partitions"
    assert spark.conf.get(key) == "4"
    four = ["0/0", "0/1", "0/2", "0/3"]

    def start_directly(frame, out, ckpt):
        q = (
            frame.writeStream.foreachBatch(IdempotentBatchWriter(out))
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "drain did not terminate"
        assert _state_partitions(ckpt) == four
        return len(_offset_confs(ckpt))

    rng = random.Random(5)
    at = lambda s: _T0_MS + s * 1000  # noqa: E731
    alloc: list[list[tuple]] = [[] for _ in range(4)]
    detail_id = 0
    # orders of 2-4 details, split over their first batch and the next
    for order_id in range(1, 25):
        amounts = [rng.randrange(1, 5000) for _ in range(rng.randint(2, 4))]
        original = sum(amounts)
        final = original - rng.randrange(0, original // 3 + 1)
        first = rng.randrange(3)
        for a in amounts:
            detail_id += 1
            k = first + rng.randrange(2)
            alloc[k].append((order_id, detail_id, at(10 * k + rng.randrange(10)),
                             a / 100, original / 100, final / 100))
    src, out, ckpt = _dirs(tmp_path, "alloc/src", "alloc/out", "alloc/ckpt")
    _drop_each(spark, ALLOC_SCHEMA, [_alloc_rows(b) for b in alloc[:2]], src)
    written = start_directly(
        allocate_stateful(file_stream(spark, src, ALLOC_SCHEMA)), out, ckpt
    )
    _drop_each(spark, ALLOC_SCHEMA, [_alloc_rows(b) for b in alloc[2:]], src)
    q = allocation_pipeline(spark, src, out, ckpt, available_now=True)
    assert q.awaitTermination(120), "drain did not terminate"
    confs = _offset_confs(ckpt)
    assert len(confs) > written
    assert {c[key] for c in confs.values()} == {"4"}
    assert _state_partitions(ckpt) == four
    shares = {
        r["detail_id"]: r["final_detail_amount"]
        for r in IdempotentBatchWriter(out).read(spark).collect()
    }
    assert shares == _per_order_allocation(alloc)

    order_id = 0
    info: list[list[tuple]] = []
    for _ in range(4):
        rows = []
        for _ in range(30):
            order_id += 1
            rows.append((order_id, rng.randint(1, 40), 1,
                         TS.format(rng.randrange(8)), float(order_id)))
        info.append(rows)
    src, state, out, ckpt = _dirs(
        tmp_path, "info/src", "info/state", "info/out", "info/ckpt"
    )
    _drop_each(spark, ORDER_INFO_SCHEMA, info[:2], src)
    # the first run as written before the pipeline kept state in one
    # partition
    monkeypatch.setattr(pipelines, "_STATE_PARTITIONS", 4)
    q = order_info_pipeline(spark, src, state, out, ckpt, available_now=True)
    assert q.awaitTermination(120), "drain did not terminate"
    monkeypatch.undo()
    assert _state_partitions(ckpt) == four
    written = len(_offset_confs(ckpt))
    _drop_each(spark, ORDER_INFO_SCHEMA, info[2:], src)
    q = order_info_pipeline(spark, src, state, out, ckpt, available_now=True)
    assert q.awaitTermination(120), "drain did not terminate"
    confs = _offset_confs(ckpt)
    assert len(confs) > written
    assert {c[key] for c in confs.values()} == {"4"}
    assert _state_partitions(ckpt) == four
    flags = {
        (r["order_id"], r["user_id"]): r["if_first_order"]
        for r in IdempotentBatchWriter(out).read(spark).collect()
    }
    assert flags == _per_order_first_flags(info)[0]


def test_dau_state_evicts_and_keeps_day_user_set(spark, tmp_path):
    """The DAU dedup state is bounded: keys of a day evict once the 24 h
    watermark passes them, so over five daily batches of 50 users the
    state stops growing, where a dedup keyed apart from its watermark
    column would keep all 250. The emitted (dt, user) set stays the
    distinct set of the input: a repeat within a day emits nothing, and
    a same-day event landing after its key evicted is dropped as late."""
    from datetime import datetime, timedelta

    src, out, ckpt = _dirs(tmp_path, "src", "out", "ckpt")
    start = datetime(2024, 1, 1, 12)
    sent = []
    q = dau_pipeline(spark, src, out, ckpt)
    try:
        for k in range(5):
            ts = start + timedelta(days=k)
            rows = [(k * 100 + u, ts, u, "start", 1.0, "{}") for u in range(50)]
            rows.append((k * 100 + 99, ts + timedelta(hours=1), 0, "start", 1.0, "{}"))
            if k == 4:  # day 0's user 7 again, after day 0's keys evicted
                rows.append((999, start + timedelta(hours=2), 7, "start", 1.0, "{}"))
            sent += rows
            _drop(spark, EVENT_SCHEMA, rows, src)
            q.processAllAvailable()
        state = [
            p["stateOperators"][0]
            for p in q.recentProgress
            if "addBatch" in p["durationMs"]
        ]
    finally:
        q.stop()
    assert [s["numRowsTotal"] for s in state] == [50, 100, 150, 150, 150], state
    assert [s["numRowsRemoved"] for s in state] == [0, 0, 0, 50, 50], state
    got = IdempotentBatchWriter(out).read(spark).select("dt", "user_id").collect()
    want = {(ts.strftime("%Y-%m-%d"), u) for _, ts, u, *_ in sent}
    assert sorted(map(tuple, got)) == sorted(want)


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


def _drop_each(spark, schema, batches, src_dir):
    """One file per batch, each stamped a second after the newest file
    already there, so one drain reads them as consecutive batches."""
    import glob

    for rows in batches:
        before = set(glob.glob(os.path.join(src_dir, "*.parquet")))
        stamp = max(map(os.path.getmtime, before), default=time.time()) + 1
        _drop(spark, schema, rows, src_dir)
        (new,) = set(glob.glob(os.path.join(src_dir, "*.parquet"))) - before
        os.utime(new, (stamp, stamp))


def test_order_info_pipeline_first_flag_restart_and_replay(spark, tmp_path):
    """DWD OrderInfoApp end-to-end: cross-batch first-order flag with
    intra-batch correction and dim enrichment. The flag survives a
    restart, and a batch lost before its commit replays through the
    checkpoint: the sink and the USER_STATUS export come out identical
    (≤1 first order per user, ever)."""
    from sparkstreaming_gmall_scala_spark.streaming.pipelines import (
        ORDER_INFO_SCHEMA,
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

    def drain(rows):
        if rows:
            _drop(spark, ORDER_INFO_SCHEMA, rows, src)
        q = order_info_pipeline(
            spark, src, state, out, ckpt, dim_dirs=dims, available_now=True
        )
        assert q.awaitTermination(120), "drain did not terminate"
        return q

    def sink_rows():
        return sorted(
            tuple(r) for r in IdempotentBatchWriter(out).read(spark).collect()
        )

    def export():
        return {f.name: f.read_bytes() for f in (tmp_path / "state").iterdir()}

    # batch 0: user 1 orders twice (order 1 earliest), user 2 once
    drain([
        (2, 1, 1, TS.format(2), 20.0),
        (1, 1, 1, TS.format(1), 10.0),
        (3, 2, 2, TS.format(1), 30.0),
    ])
    got = {
        r["order_id"]: r
        for r in IdempotentBatchWriter(out).read(spark).collect()
    }
    assert got[1]["if_first_order"] == "1"  # earliest wins
    assert got[2]["if_first_order"] == "0"  # same-batch correction
    assert got[3]["if_first_order"] == "1"
    assert got[1]["province_name"] == "shanghai"  # dim enrich rode along

    # restart: new query object, same checkpoint; user 1 reorders
    q = drain([(4, 1, 2, TS.format(9), 5.0), (5, 3, 1, TS.format(9), 7.0)])
    got = {
        r["order_id"]: r
        for r in IdempotentBatchWriter(out).read(spark).collect()
    }
    assert got[4]["if_first_order"] == "0"  # user 1 claimed in batch 0
    assert got[5]["if_first_order"] == "1"  # user 3 new
    last = max(p["batchId"] for p in q.recentProgress if p["numInputRows"])
    before, exported = sink_rows(), export()
    assert len(exported) == 2

    # crash between the sink write and the export: the last batch's sink
    # dir and state version landed, its export and commit entry did not.
    # The restart replays it from the state version it started from.
    commits = os.path.join(ckpt, "commits")
    os.remove(os.path.join(commits, str(last)))
    os.remove(os.path.join(commits, f".{last}.crc"))
    os.remove(os.path.join(state, f"{last:010d}.parquet"))
    q = drain([])
    replayed = [p["batchId"] for p in q.recentProgress if p["numInputRows"]]
    assert replayed == [last], q.recentProgress
    assert sink_rows() == before
    assert export() == exported
    per_user = {}
    for r in IdempotentBatchWriter(out).read(spark).collect():
        if r["if_first_order"] == "1":
            per_user[r["user_id"]] = per_user.get(r["user_id"], 0) + 1
    assert per_user == {1: 1, 2: 1, 3: 1}, per_user


def test_order_info_null_user_is_never_first_order(spark, tmp_path):
    """An order with a NULL user_id cannot be anyone's first order: it is
    flagged '0' in every batch and claims nothing, while a real user's
    first order in the same batches is flagged as before."""
    from sparkstreaming_gmall_scala_spark.streaming.pipelines import (
        ORDER_INFO_SCHEMA,
        order_info_pipeline,
    )

    src, state, out, ckpt = _dirs(tmp_path, "src", "state", "out", "ckpt")
    _drop_each(spark, ORDER_INFO_SCHEMA, [
        [(10, None, 1, TS.format(1), 1.0), (11, 5, 1, TS.format(2), 2.0)],
        [(20, None, 1, TS.format(3), 3.0), (21, None, 1, TS.format(4), 4.0)],
        [(30, None, 1, TS.format(5), 5.0), (31, 6, 1, TS.format(6), 6.0)],
    ], src)
    q = order_info_pipeline(spark, src, state, out, ckpt, available_now=True)
    assert q.awaitTermination(120), "drain did not terminate"
    flags = {
        r["order_id"]: r["if_first_order"]
        for r in IdempotentBatchWriter(out).read(spark).collect()
    }
    assert flags == {
        10: "0", 11: "1", 20: "0", 21: "0", 30: "0", 31: "1"
    }, flags
    claims = sorted(
        (r["user_id"], r["first_batch_id"])
        for r in spark.read.parquet(state).collect()
    )
    assert claims == [(5, 0), (6, 2)], claims


def test_order_info_resent_order_is_written_again_with_0(spark, tmp_path):
    """An order_id re-sent in a later batch is written again, flagged '0',
    because the earlier copy's batch claimed its user: order 1 was its
    user's first, order 2 was not, and the re-sent order 2 now sorts
    before order 1 by ts. A new user's order in the same batch is still
    first."""
    from sparkstreaming_gmall_scala_spark.streaming.pipelines import (
        ORDER_INFO_SCHEMA,
        order_info_pipeline,
    )

    src, state, out, ckpt = _dirs(tmp_path, "src", "state", "out", "ckpt")
    _drop_each(spark, ORDER_INFO_SCHEMA, [
        [(1, 7, 1, TS.format(5), 1.0), (2, 7, 1, TS.format(6), 2.0)],
        [(1, 7, 1, TS.format(5), 1.0), (2, 7, 1, TS.format(0), 2.0),
         (3, 8, 1, TS.format(9), 3.0)],
    ], src)
    q = order_info_pipeline(spark, src, state, out, ckpt, available_now=True)
    assert q.awaitTermination(120), "drain did not terminate"
    flags = {
        (r["batch_id"], r["order_id"]): r["if_first_order"]
        for r in IdempotentBatchWriter(out).read(spark).collect()
    }
    assert flags == {
        (0, 1): "1", (0, 2): "0", (1, 1): "0", (1, 2): "0", (1, 3): "1"
    }, flags


def test_order_info_state_written_per_batch_is_flat(spark, tmp_path):
    """A batch writes only its own new users to the first-order state:
    over six batches of 2,000 new users each, the newest state delta is
    at most 1.5x the second, where a state that rewrote every user
    claimed so far would write about three times as much."""
    from sparkstreaming_gmall_scala_spark.streaming.pipelines import (
        ORDER_INFO_SCHEMA,
        order_info_pipeline,
    )

    src, state, out, ckpt = _dirs(tmp_path, "src", "state", "out", "ckpt")
    n = 2000
    _drop_each(spark, ORDER_INFO_SCHEMA, [
        [(k * n + u, k * n + u, 1, TS.format(u % 60), 1.0) for u in range(n)]
        for k in range(6)
    ], src)
    q = order_info_pipeline(spark, src, state, out, ckpt, available_now=True)
    assert q.awaitTermination(120), "drain did not terminate"
    store = os.path.join(ckpt, "state", "0", "0")
    delta = {
        int(f.split(".")[0]): os.path.getsize(os.path.join(store, f))
        for f in os.listdir(store)
        if f.endswith(".delta")
    }
    assert sorted(delta) == [1, 2, 3, 4, 5, 6], delta
    assert delta[6] <= 1.5 * delta[2], delta


def _per_order_first_flags(batches):
    """order_info's first-order rule, stated per order: within a batch,
    repeats of an ``(order_id, user_id)`` collapse to their earliest copy
    by ts, NULL first; an order is first iff its user is not NULL, no
    earlier batch claimed the user, and no other order of the user in the
    batch sorts before it by ``(ts, order_id)``, NULL ts first. Rows are
    ``(order_id, user_id, province_id, ts, total)``; returns
    ``{(order_id, user_id): flag}`` and ``{user_id: first_batch_id}``."""
    from datetime import datetime

    flags: dict[tuple, str] = {}
    claimed: dict[int, int] = {}

    def rank(ts, order_id):  # NULL ts sorts first
        return (ts is not None, ts or datetime.min, order_id)

    for batch_id, rows in enumerate(batches):
        kept: dict[tuple, tuple] = {}
        for r in rows:
            key = (r[0], r[1])
            if key not in kept or rank(r[3], 0) < rank(kept[key][3], 0):
                kept[key] = r
        for order_id, user, _, ts, _ in kept.values():
            first = (
                user is not None
                and user not in claimed
                and not any(
                    u == user and rank(t, o) < rank(ts, order_id)
                    for o, u, _, t, _ in kept.values()
                )
            )
            flags[order_id, user] = "1" if first else "0"
        for order_id, user in kept:
            if flags[order_id, user] == "1":
                claimed[user] = batch_id
    return flags, claimed


def test_bucketed_first_order_matches_per_order_rule(spark, tmp_path):
    """The first-order state flags every order exactly as the per-order
    statement of the rule does: five batches, users repeated within a
    batch, duplicate order_id rows, copies of one order_id that disagree
    on user_id, ts ties broken by order_id, a NULL ts sorting first, NULL
    users in a batch with user ids above 2**53, and a restart from the
    checkpoint midway. The USER_STATUS export equals the claims in the
    state store."""
    import random

    from sparkstreaming_gmall_scala_spark.streaming.pipelines import (
        ORDER_INFO_SCHEMA,
        order_info_pipeline,
    )

    # odd ids above 2**53: a float64 round trip would change them
    big = [2**53 + 1, 2**53 + 3]
    rng = random.Random(11)
    order_id = 0
    batches: list[list[tuple]] = []
    for k in range(5):
        rows = []
        for _ in range(40):
            order_id += 1
            rows.append((order_id, rng.randint(1, 100), rng.randint(1, 3),
                         TS.format(rng.randrange(8)), float(order_id)))
        rows += rng.sample(rows, 3)  # duplicate order_id rows
        batches.append(rows)
    o = order_id
    # user 1000: a ts tie within a batch, decided by order_id
    batches[1] += [(o + 2, 1000, 1, TS.format(3), 1.0),
                   (o + 1, 1000, 1, TS.format(3), 1.0)]
    # NULL users in the big ids' batch; one big user orders again after
    # the restart
    batches[2] += [(o + 3, None, 1, TS.format(0), 1.0),
                   (o + 4, big[0], 1, TS.format(1), 1.0),
                   (o + 5, big[1], 1, TS.format(2), 1.0),
                   (o + 6, None, 1, TS.format(1), 1.0)]
    batches[3] += [(o + 7, big[0], 1, TS.format(0), 1.0),
                   (o + 8, None, 1, TS.format(0), 1.0)]
    # user 2000: the NULL-ts order sorts before an earlier-id one at 0 s
    batches[4] += [(o + 9, 2000, 1, TS.format(0), 1.0),
                   (o + 10, 2000, 1, None, 1.0)]
    # order o+11 sent for two users: each copy is its user's order, so
    # user 3000's copy is its first and claimed user 1000's is not
    batches[3] += [(o + 11, 1000, 1, TS.format(0), 1.0),
                   (o + 11, 3000, 1, TS.format(5), 1.0)]
    want, claimed = _per_order_first_flags(batches)
    assert want[o + 1, 1000] == "1" and want[o + 2, 1000] == "0"
    assert want[o + 10, 2000] == "1" and want[o + 9, 2000] == "0"
    assert want[o + 4, big[0]] == "1" and want[o + 7, big[0]] == "0"
    assert want[o + 11, 1000] == "0" and want[o + 11, 3000] == "1"

    src, state, out, ckpt = _dirs(tmp_path, "src", "state", "out", "ckpt")
    for run in (batches[:3], batches[3:]):
        _drop_each(spark, ORDER_INFO_SCHEMA, run, src)
        q = order_info_pipeline(spark, src, state, out, ckpt, available_now=True)
        assert q.awaitTermination(120), "drain did not terminate"
    sink = IdempotentBatchWriter(out).read(spark).collect()
    got = {(r["order_id"], r["user_id"]): r["if_first_order"] for r in sink}
    assert len(sink) == len(got) == len(want)
    assert got == want

    exported = {
        (r["user_id"], r["first_batch_id"])
        for r in spark.read.parquet(state).collect()
    }
    assert exported == set(claimed.items())
    in_store = (
        spark.read.format("statestore").load(ckpt).select("key.user_id").collect()
    )
    assert sorted(r["user_id"] for r in in_store) == sorted(claimed)


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


def test_index_compact_every_folds_committed_batches_on_append(
    spark, tmp_path
):
    """``AppendOnlyIndex(dir, compact_every=2)`` schedules its own folds:
    appending batch 2 folds {0, 1} and appending batch 4 folds {2, 3}.
    The in-flight dir is never folded, not even when it replays, and a
    ``compact_every`` below 1 fails at construction."""
    from sparkstreaming_gmall_scala_spark.sinks.batch import AppendOnlyIndex

    for bad in (0, -1):
        with pytest.raises(ValueError, match="compact_every"):
            AppendOnlyIndex(str(tmp_path / "bad"), compact_every=bad)

    idx = str(tmp_path / "idx")
    index = AppendOnlyIndex(idx, compact_every=2)

    def batch(b):
        return spark.createDataFrame([(b, f"h{b}")], "doc_id long, h string")

    def layout():
        horizon = None
        marker = os.path.join(idx, "base", "_horizon")
        if os.path.exists(marker):
            with open(marker) as f:
                horizon = int(f.read())
        dirs = sorted(
            int(n.split("=", 1)[1])
            for n in os.listdir(idx)
            if n.startswith("batch_id=")
        )
        return dirs, horizon

    expect = {
        0: ([0], None),
        1: ([0, 1], None),
        2: ([2], 1),
        3: ([2, 3], 1),
        4: ([4], 3),
    }
    for b in range(5):
        index.append(batch(b), b)
        assert layout() == expect[b], b
    # a replay of the in-flight batch rewrites its dir; nothing folds
    index.append(batch(4), 4)
    assert layout() == ([4], 3)
    assert sorted(r["doc_id"] for r in index.read(spark).collect()) == [
        0, 1, 2, 3, 4,
    ]


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
