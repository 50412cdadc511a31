"""mart_queries: one closed-loop client running warehouse reports.

A seed-permuted sequence of catalog builders (``plans.catalog``) over a
generated warehouse, each materialised by ``count()``; the next query is
sent when the previous one returns. Read-only: no streaming state and no
sinks, so a streaming or sink change should not move it.

The warm-up runs every query once in full and compares it with its DuckDB
oracle; every timed ``count()`` is then checked against the oracle's row
count.
"""

from __future__ import annotations

import importlib.util
import os
import time

import duckdb
import numpy as np
import pandas as pd

from sparkstreaming_gmall_scala_spark.plans.catalog import load_all
from sparkstreaming_gmall_scala_spark.sources.tables import TABLES

from . import gen
from .common import job_counts, pct
from .metrics import MART_QUERIES

# Warehouse scale factor: lineitem has 6M x SF rows. Scale 0.1 makes a
# run too long for the time budget (README, "Sizes and run length").
SF = 0.02


class MartQueries:
    name = "mart_queries"

    def __init__(self, seed: int, seconds: int, tracer):
        self.seed, self.seconds, self.tracer = seed, seconds, tracer
        registry = load_all()
        self.builders = {q: registry[q].builder for q in MART_QUERIES}
        self.oracles = {q: registry[q].oracle for q in MART_QUERIES}
        self.log: list[dict] = []
        self.fails: list[str] = []
        self.want_rows: dict[str, int] = {}

    def generate(self, root: str) -> None:
        self.wh = gen.warehouse(self.seed, os.path.join(root, "wh"), SF)

    def _one(self, spark, name: str, group: str | None) -> dict:
        t0 = time.perf_counter()
        n_load = len(self.tracer.durations("sources.load"))
        with self.tracer.span("plans.build"):
            df = self.builders[name](spark, self.wh)
        t1 = time.perf_counter()
        if group is not None:
            spark.sparkContext.setJobGroup(group, name)
        with self.tracer.span("plans.exec"):
            n = df.count()
        t2 = time.perf_counter()
        if n != self.want_rows[name]:
            self.fails.append(f"{name}: count {n} vs {self.want_rows[name]}")
        return {
            "name": name, "build_s": t1 - t0, "exec_s": t2 - t1,
            "total_s": t2 - t0, "group": group,
            "load_s": sum(self.tracer.durations("sources.load")[n_load:]),
        }

    def warmup(self, spark) -> None:
        """Run each query once in full against its DuckDB oracle on the
        same parquet files: row count, column names and exact values."""
        con = duckdb.connect(config={"autoinstall_known_extensions": False})
        for t in TABLES:
            path = os.path.join(self.wh, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
                )
        for name in MART_QUERIES:
            want = con.execute(self.oracles[name]).fetchdf()
            self.want_rows[name] = len(want)
            try:
                got = self.builders[name](spark, self.wh).toPandas()
                problem = frame_diff(got, want)
            except Exception as e:  # a raising query is a failed operation
                problem = f"raised {type(e).__name__}: {e}"
            if problem:
                self.fails.append(f"{name}: {problem}")
        con.close()

    def run(self, spark) -> None:
        traced = self.tracer.enabled
        self.t0 = time.perf_counter()
        stop = self.t0 + self.seconds
        rnd = 0
        while time.perf_counter() < stop:
            order = np.random.default_rng([self.seed, 30, rnd]).permutation(
                len(MART_QUERIES)
            )
            for i in order:
                if time.perf_counter() >= stop:
                    break
                group = f"mart-{len(self.log)}" if traced else None
                self.log.append(self._one(spark, MART_QUERIES[i], group))
            rnd += 1
        self.elapsed = time.perf_counter() - self.t0

    def results(self) -> dict:
        lat = [r["total_s"] * 1000 for r in self.log]
        by_query = {q: [r["total_s"] * 1000 for r in self.log if r["name"] == q]
                    for q in MART_QUERIES}
        return {
            "latency_by_query": by_query,
            "throughput_per_s": len(self.log) / self.elapsed,
            "report": {
                "query_p50_ms": pct(lat, 50),
                "query_p90_ms": pct(lat, 90),
                "queries_per_s": len(self.log) / self.elapsed,
                "query_samples": len(lat),
                "warehouse_sf": SF,
            },
            "attempted": len(self.log) + len(MART_QUERIES),
            "invalid": None,
        }

    def layers(self, spark, tracer) -> dict:
        m: dict[str, float] = {
            "sources.load_ms": pct([r["load_s"] * 1000 for r in self.log], 50),
            "plans.build_ms_p50": pct([r["build_s"] * 1000 for r in self.log], 50),
            "plans.exec_ms_p50": pct([r["exec_s"] * 1000 for r in self.log], 50),
            "plans.jobs_per_query": float(np.mean(
                [job_counts(spark, r["group"])[0] for r in self.log]
            )) if self.log else 0.0,
        }
        for q in MART_QUERIES:
            m[f"plans.query_ms.{q}"] = pct(
                [r["total_s"] * 1000 for r in self.log if r["name"] == q], 50
            )
        return m

    def check(self) -> list[str]:
        return self.fails

    def terminated(self) -> list[str]:
        return []

    def stop(self) -> None:
        pass


def _verify_local():
    """The repo's local correctness gate, ``tools/verify_local.py``."""
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools", "verify_local.py",
    )
    spec = importlib.util.spec_from_file_location("verify_local", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_VL = _verify_local()


def frame_diff(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the frames hold the same rows (any order), else why not.
    The checks of ``tools/verify_local.py``: row count, column names, no
    list-typed columns, dtype kinds, then exact values after its ``canon``."""
    problems = []
    if len(got) != len(want):
        problems.append(f"rows {len(got)} vs {len(want)}")
    if sorted(got.columns) != sorted(want.columns):
        problems.append(f"cols {sorted(got.columns)} vs {sorted(want.columns)}")
    bad_lists = sorted(set(_VL.list_cols(got)) | set(_VL.list_cols(want)))
    if bad_lists:
        problems.append(f"list-typed cols {bad_lists}")
    if not problems:
        a, b = _VL.canon(got.copy()), _VL.canon(want.copy())
        kinds_a = [a[c].dtype.kind for c in a.columns]
        kinds_b = [b[c].dtype.kind for c in b.columns]
        if kinds_a != kinds_b:
            problems.append(f"dtype kinds {kinds_a} vs {kinds_b}")
    if not problems:
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
        except AssertionError as e:
            problems.append(f"values: {str(e).splitlines()[-1][:200]}")
    return "; ".join(problems) or None
