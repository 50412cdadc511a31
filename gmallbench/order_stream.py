"""order_stream: the paper's real-time path, one tick at a time.

Five pipelines run concurrently on one session: ``order_info_pipeline``
(first-order state + dim enrichment), ``order_wide_pipeline`` (±20 s
stream-stream join), ``allocation_pipeline`` (applyInPandasWithState),
``trademark_stat_pipeline`` and ``dau_pipeline``. Closed loop with one
client: a tick lands one file per source, and the next tick lands once
every query has committed the previous one. Latency is freshness, from a
file landing to the sink commit of the micro-batch that read it.

An open-loop feed at a fixed rate was measured first: on a shared 4-core
host its freshness varied 30-40% between runs (queueing behind a stalled
order_info batch amplifies host noise), too much to gate regressions on.
"""

from __future__ import annotations

import math
import os
import time

import duckdb

from sparkstreaming_gmall_scala_spark.streaming import pipelines as P

from . import gen
from .common import (
    data_batches, dir_bytes, executed_batches, file_range, job_counts, job_ids,
    pct, progress,
)

# about 2,000 rows per file: 700 orders, ~2,100 details, 1,400 page events
ORDERS_PER_TICK = 700
WARM_TICKS = 1
# Input is generated for up to one tick per second of run time, several
# times what this engine commits; a run that exhausts it says so.
MAX_TICKS_PER_S = 1

QUERIES = ("order_info", "order_wide", "allocation", "trademark_stat", "dau")
STATEFUL = ("order_wide", "allocation", "dau")


class OrderStream:
    name = "order_stream"

    def __init__(self, seed: int, seconds: int, tracer):
        self.seed, self.seconds, self.tracer = seed, seconds, tracer
        self.n_ticks = WARM_TICKS + math.ceil(seconds * MAX_TICKS_PER_S)
        self.queries: dict = {}
        self.land_t: dict[tuple[str, int], float] = {}
        self.landed = 0
        self.upsert_bytes = 0

    # -- set-up ------------------------------------------------------------
    def generate(self, root: str) -> None:
        self.root = root
        self.stage = os.path.join(root, "stage")
        self.src = os.path.join(root, "src")
        self.dims = gen.order_stream_dims(self.seed, os.path.join(root, "dims"))
        cache: dict = {}
        for s in gen.ORDER_SOURCES:
            os.makedirs(os.path.join(self.stage, s), exist_ok=True)
            os.makedirs(os.path.join(self.src, s), exist_ok=True)
        for k in range(self.n_ticks):
            files = gen.order_stream_files(self.seed, k, ORDERS_PER_TICK, cache)
            for s, table in files.items():
                gen.write_parquet(table, self._staged(s, k))

    def _staged(self, source: str, k: int) -> str:
        return os.path.join(self.stage, source, f"{k:05d}.parquet")

    def _land(self, k: int) -> None:
        """Land tick ``k``: one rename per file, so a listing never sees a
        half-written file."""
        for s in gen.ORDER_SOURCES:
            staged = self._staged(s, k)
            now = time.time()
            os.utime(staged, (now, now))
            os.rename(staged, os.path.join(self.src, s, os.path.basename(staged)))
            self.land_t[(s, k)] = time.time()
        self.landed = k + 1

    def _out(self, q: str) -> str:
        return os.path.join(self.root, "out", q)

    def _ckpt(self, q: str) -> str:
        return os.path.join(self.root, "ckpt", q)

    def start(self, spark) -> None:
        src = lambda s: os.path.join(self.src, s)  # noqa: E731
        with self.tracer.span("streaming.start"):
            self.queries = {
                "order_info": P.order_info_pipeline(
                    spark, src("order_info"),
                    os.path.join(self.root, "state", "user_status"),
                    self._out("order_info"), self._ckpt("order_info"),
                    dim_dirs=(
                        (self.dims["province"], "province_id", "province_id"),
                        (self.dims["user"], "user_id", "user_id"),
                    ),
                ),
                "order_wide": P.order_wide_pipeline(
                    spark, src("orders"), src("details"),
                    self._out("order_wide"), self._ckpt("order_wide"),
                ),
                "allocation": P.allocation_pipeline(
                    spark, src("alloc"), self._out("allocation"),
                    self._ckpt("allocation"),
                ),
                "trademark_stat": P.trademark_stat_pipeline(
                    spark, src("tm_wide"), self._out("trademark_stat"),
                    self._ckpt("trademark_stat"),
                ),
                "dau": P.dau_pipeline(
                    spark, src("events"), self._out("dau"), self._ckpt("dau"),
                ),
            }

    def drain(self) -> None:
        for q in self.queries.values():
            q.processAllAvailable()

    def warmup(self, spark) -> None:
        self.start(spark)
        for k in range(WARM_TICKS):
            self._land(k)
            self.drain()

    # -- timed window --------------------------------------------------------
    def run(self, spark) -> None:
        # jobs and batches of the warm-up, left out of the per-batch counts
        self.before = {
            q: (job_ids(spark, s.runId),
                max((p["batchId"] for p in progress(s)), default=-1))
            for q, s in self.queries.items()
        }
        self.t0 = time.time()
        stop = self.t0 + self.seconds
        for k in range(WARM_TICKS, self.n_ticks):
            if time.time() >= stop:
                break
            self._land(k)
            self.drain()
        self.batches = {q: data_batches(self.queries[q]) for q in QUERIES}

    def stop(self) -> None:
        for q in self.queries.values():
            q.stop()

    def after_upsert(self, args, kwargs, seconds: float) -> None:
        """Traced run: bytes of the first-order state rewritten by one
        claims upsert."""
        self.upsert_bytes += dir_bytes(args[2])[1]

    def terminated(self) -> list[str]:
        return [
            f"{n}: {q.exception()}" for n, q in self.queries.items()
            if q.exception() is not None
        ]

    # -- results -------------------------------------------------------------
    def _files(self, b: dict) -> list[tuple[str, int]]:
        """(source, tick) of every file a batch read."""
        return [
            (source_name(s), k) for s in b["sources"] for k in file_range(s)
        ]

    def _timed(self, q: str) -> list[dict]:
        return [b for b in self.batches[q]
                if any(k >= WARM_TICKS for _, k in self._files(b))]

    def samples(self):
        """Freshness (landing -> sink commit) per query and trigger times of
        every batch that read a timed tick."""
        fresh = {q: [] for q in QUERIES}
        trig, rows, last = [], 0, self.t0
        for q in QUERIES:
            for b in self._timed(q):
                landed = max(self.land_t[f] for f in self._files(b))
                fresh[q].append((b["t_commit"] - landed) * 1000)
                trig.append(b["durationMs"]["triggerExecution"])
                rows += b["numInputRows"]
                last = max(last, b["t_commit"])
        return fresh, trig, rows, last - self.t0

    def backlog(self, q: str) -> list[int]:
        """Files landed but not yet read, seen by each batch of ``q`` at its
        trigger start."""
        out = []
        for b in self.batches[q]:
            n = 0
            for s in b["sources"]:
                name, done = source_name(s), file_range(s).start
                n = max(n, sum(1 for (src, _), t in self.land_t.items()
                               if src == name and t <= b["t_start"]) - done)
            out.append(n)
        return out

    def results(self) -> dict:
        fresh, trig, rows, span_s = self.samples()
        pooled = [x for v in fresh.values() for x in v]
        return {
            "latency_by_query": fresh,
            "throughput_per_s": rows / span_s if span_s > 0 else 0.0,
            "report": {
                "freshness_p50_ms": pct(pooled, 50),
                "freshness_p90_ms": pct(pooled, 90),
                "freshness_samples": len(pooled),
                "freshness_p50_ms_by_query": {q: pct(v, 50) for q, v in fresh.items()},
                "batch_p50_ms": pct(trig, 50),
                "batch_p90_ms": pct(trig, 90),
                "input_rows_per_s": rows / span_s if span_s > 0 else 0.0,
                "orders_per_tick": ORDERS_PER_TICK,
                "timed_ticks": self.landed - WARM_TICKS,
                "input_exhausted": self.landed >= self.n_ticks,
                "trigger_ms_by_batch": {
                    q: [b["durationMs"]["triggerExecution"] for b in self.batches[q]]
                    for q in QUERIES
                },
            },
            "attempted": sum(len(v) for v in self.batches.values()),
            "invalid": None,
        }

    def layers(self, spark, tracer) -> dict:
        m: dict[str, float] = {}
        for q in QUERIES:
            bs = self._timed(q)
            d = lambda key: [b["durationMs"].get(key, 0) for b in bs]  # noqa: E731
            trig = d("triggerExecution")
            m[f"streaming.trigger_ms_p50.{q}"] = pct(trig, 50)
            m[f"streaming.trigger_ms_p90.{q}"] = pct(trig, 90)
            m[f"streaming.add_batch_ms_p50.{q}"] = pct(d("addBatch"), 50)
            m[f"streaming.planning_ms_p50.{q}"] = pct(d("queryPlanning"), 50)
            m[f"streaming.commit_ms_p50.{q}"] = pct(
                [a + b for a, b in zip(d("walCommit"), d("commitOffsets"))], 50
            )
            m[f"sources.get_batch_ms.{q}"] = pct(
                [a + b for a, b in zip(d("latestOffset"), d("getBatch"))], 50
            )
            m[f"sources.backlog_files_max.{q}"] = max(self.backlog(q), default=0)
            jobs0, batch0 = self.before[q]
            jobs, tasks = job_counts(spark, self.queries[q].runId, jobs0)
            n = max(1, len(executed_batches(self.queries[q], batch0)))
            m[f"streaming.jobs_per_batch.{q}"] = jobs / n
            m[f"streaming.tasks_per_batch.{q}"] = tasks / n
            if q not in STATEFUL:
                continue
            last = self.batches[q][-1]["stateOperators"] if self.batches[q] else []
            m[f"streaming.state_rows.{q}"] = sum(o["numRowsTotal"] for o in last)
            m[f"streaming.state_mb.{q}"] = (
                sum(o["memoryUsedBytes"] for o in last) / 1e6
            )
            m[f"streaming.state_commit_ms.{q}"] = pct(
                [sum(o["commitTimeMs"] for o in b["stateOperators"]) for b in bs],
                50,
            )
            m[f"streaming.late_rows_dropped.{q}"] = sum(
                o.get("numRowsDroppedByWatermark", 0)
                for b in self.batches[q] for o in b["stateOperators"]
            )
        n_batches = max(1, len(self.batches["order_info"]))
        m["operators.plan_ms"] = (
            sum(tracer.durations("operators")) * 1000 / n_batches
        )
        files = size = 0
        for q in QUERIES:
            f, s = dir_bytes(self._out(q))
            files, size = files + f, size + s
        m["sinks.files_written"] = files
        m["sinks.bytes_written"] = size
        state = os.path.join(self.root, "state", "user_status")
        change = dir_bytes(os.path.join(self.src, "order_info"))[1]
        m["sinks.write_amplification"] = self.upsert_bytes / change
        m["sinks.table_rows"] = duckdb.sql(
            f"SELECT count(*) FROM read_parquet('{state}/*.parquet')"
        ).fetchone()[0]
        return m

    # -- correctness -----------------------------------------------------------
    def check(self) -> list[str]:
        return check_order_stream(self.src, self.root)


def source_name(progress_source: dict) -> str:
    """The generator source a file-source progress entry reads, from its
    description ``FileStreamSource[file:/.../src/<name>]``."""
    return progress_source["description"].rstrip("]").rsplit("/", 1)[-1]


def _read(path: str) -> str:
    return f"read_parquet('{path}', filename=true, hive_partitioning=false)"


def check_order_stream(src: str, root: str) -> list[str]:
    """Compare every sink against a DuckDB computation over the landed
    input files; returns one message per failed check."""
    out = lambda q: os.path.join(root, "out", q, "batch_id=*", "*.parquet")  # noqa: E731
    inp = lambda s: _read(os.path.join(src, s, "*.parquet"))  # noqa: E731
    con = duckdb.connect(config={"autoinstall_known_extensions": False})
    con.execute("SET TimeZone='UTC'")
    fails: list[str] = []

    def one(sql: str) -> int:
        return con.execute(sql).fetchone()[0]

    def expect_zero(label: str, sql: str) -> None:
        try:
            n = one(sql)
        except duckdb.Error as e:
            fails.append(f"{label}: {e}")
            return
        if n:
            fails.append(f"{label}: {n} mismatched rows")

    day = "strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d')"
    expect_zero(
        "dau (dt,user) set",
        f"""WITH want AS (SELECT DISTINCT {day} AS dt, user_id FROM {inp('events')}),
                 got AS (SELECT dt, user_id FROM {_read(out('dau'))})
            SELECT (SELECT count(*) FROM got) - (SELECT count(*) FROM want)
                 + (SELECT count(*) FROM (SELECT * FROM want EXCEPT SELECT * FROM got))
                 + (SELECT count(*) FROM (SELECT * FROM got EXCEPT SELECT * FROM want))""",
    )
    # a detail is dropped when it lands below the watermark the previous
    # tick established (order max event time - 20 s)
    tick = "CAST(regexp_extract(filename, '(\\d+)\\.parquet$', 1) AS BIGINT)"
    expect_zero(
        "order_wide join pairs within 20 s",
        f"""WITH d AS (SELECT *, {tick} AS arrive FROM {inp('details')}),
                 want AS (
                   SELECT o.order_id, d.detail_id, o.total, d.amount
                   FROM {inp('orders')} o JOIN d ON o.order_id = d.order_id
                    AND d.ts BETWEEN o.ts - INTERVAL 20 SECOND AND o.ts + INTERVAL 20 SECOND
                   WHERE epoch_us(d.ts) >= {gen.EV_T0_US} + (d.arrive - 1) * {gen.EV_STEP_US}
                                          - {gen.JOIN_HORIZON_US}),
                 got AS (SELECT order_id, detail_id, total, amount FROM {_read(out('order_wide'))})
            SELECT (SELECT count(*) FROM got) - (SELECT count(*) FROM want)
                 + (SELECT count(*) FROM (SELECT * FROM want EXCEPT SELECT * FROM got))
                 + (SELECT count(*) FROM (SELECT * FROM got EXCEPT SELECT * FROM want))""",
    )
    expect_zero(
        "allocation: one share per detail, shares sum to final_total",
        f"""WITH i AS (SELECT * FROM {inp('alloc')}),
                 g AS (SELECT * FROM {_read(out('allocation'))}),
                 per AS (SELECT order_id,
                                sum(CAST(round(amount * 100) AS BIGINT)) AS got_c,
                                any_value(CAST(round(original_total * 100) AS BIGINT)) AS orig_c,
                                any_value(CAST(round(final_total * 100) AS BIGINT)) AS final_c
                         FROM i GROUP BY order_id),
                 shares AS (SELECT order_id,
                                   sum(CAST(round(final_detail_amount * 100) AS BIGINT)) AS share_c
                            FROM g GROUP BY order_id)
            SELECT (SELECT count(*) FROM g) - (SELECT count(DISTINCT detail_id) FROM g)
                 + (SELECT count(*) FROM (SELECT detail_id FROM i EXCEPT SELECT detail_id FROM g))
                 + (SELECT count(*) FROM (SELECT detail_id FROM g EXCEPT SELECT detail_id FROM i))
                 + (SELECT count(*) FROM per JOIN shares USING (order_id)
                    WHERE per.got_c = per.orig_c AND shares.share_c <> per.final_c)""",
    )
    expect_zero(
        "order_info: each order once, one first order per user, dims joined",
        f"""WITH i AS (SELECT * FROM {inp('order_info')}),
                 g AS (SELECT * FROM {_read(out('order_info'))}),
                 first AS (SELECT user_id, order_id FROM (
                             SELECT user_id, order_id, row_number() OVER (
                               PARTITION BY user_id ORDER BY ts, order_id) AS rn
                             FROM i) WHERE rn = 1),
                 prov AS (SELECT * FROM read_parquet('{root}/dims/province/*.parquet'))
            SELECT (SELECT count(*) FROM g) - (SELECT count(*) FROM i)
                 + (SELECT count(*) FROM (SELECT order_id FROM i EXCEPT SELECT order_id FROM g))
                 + (SELECT count(*) FROM (SELECT user_id, order_id FROM first
                      EXCEPT SELECT user_id, order_id FROM g WHERE if_first_order = '1'))
                 + (SELECT count(*) FROM g WHERE if_first_order = '1')
                 - (SELECT count(*) FROM first)
                 + (SELECT count(*) FROM g LEFT JOIN prov p USING (province_id)
                    WHERE g.province_name IS DISTINCT FROM p.province_name
                       OR g.user_level IS NULL)""",
    )
    expect_zero(
        "trademark_stat revenue per trademark",
        f"""WITH want AS (SELECT tm_id, tm_name, sum(CAST(round(amount * 100) AS BIGINT)) AS c
                          FROM {inp('tm_wide')} GROUP BY ALL),
                 got AS (SELECT tm_id, tm_name, sum(CAST(round(amount * 100) AS BIGINT)) AS c
                         FROM {_read(out('trademark_stat'))} GROUP BY ALL)
            SELECT (SELECT count(*) FROM (SELECT * FROM want EXCEPT SELECT * FROM got))
                 + (SELECT count(*) FROM (SELECT * FROM got EXCEPT SELECT * FROM want))""",
    )
    con.close()
    return fails
