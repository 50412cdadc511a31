"""Metric names, units and the assembly of the two metric sets.

End-to-end metrics are measured with tracing off and every workload emits
all of them; each maps to the workload's own user-facing measure (see
``BENCHMARK.json``). Latency is gated at the median only: a run of
order_stream yields about 15-20 freshness samples, too few for a p90 with
ten samples beyond it, so p90s go to the report with their sample counts.
Peak RSS goes to the report too: the driver JVM's peak varies with when G1
grows its heap, a spread of 0.2-0.25 over ten runs, at the bound it would
need.
Per-layer metrics come from the traced run: a layer a workload does not
exercise reports 0 (it did no work).
"""

from __future__ import annotations

import gc
import os
import statistics

from .common import pct

E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "throughput_per_s": "1/s",
}

STREAM_QUERIES = (
    "order_info", "order_wide", "allocation", "trademark_stat", "dau",
)
STATEFUL_QUERIES = ("order_wide", "allocation", "dau")
MART_QUERIES = (
    "trademark_stat", "order_enrich", "first_order_flag", "payment_allocation",
    "windowed_order_join", "dau", "revenue_rollup", "cdc_route",
    "shipping_priority", "local_supplier_volume", "session_stats",
    "rolling_dau_7d", "event_funnel", "user_retention",
)


def _layer_units() -> dict[str, str]:
    u = {
        "session.start_s": "s",
        "session.warmup_s": "s",
        "sources.load_ms": "ms",
        "operators.plan_ms": "ms",
        "sinks.write_ms_p50": "ms",
        "sinks.write_ms_p90": "ms",
        "sinks.files_written": "count",
        "sinks.bytes_written": "bytes",
        "sinks.upsert_ms_p50": "ms",
        "sinks.upsert_ms_p90": "ms",
        "sinks.write_amplification": "ratio",
        "sinks.table_rows": "count",
        "plans.build_ms_p50": "ms",
        "plans.exec_ms_p50": "ms",
        "plans.jobs_per_query": "count",
    }
    for q in STREAM_QUERIES:
        for m in ("trigger_ms_p50", "trigger_ms_p90", "add_batch_ms_p50",
                  "planning_ms_p50", "commit_ms_p50"):
            u[f"streaming.{m}.{q}"] = "ms"
        u[f"streaming.jobs_per_batch.{q}"] = "count"
        u[f"streaming.tasks_per_batch.{q}"] = "count"
        u[f"sources.get_batch_ms.{q}"] = "ms"
        u[f"sources.backlog_files_max.{q}"] = "count"
    for q in STATEFUL_QUERIES:
        u[f"streaming.state_rows.{q}"] = "count"
        u[f"streaming.state_mb.{q}"] = "MB"
        u[f"streaming.state_commit_ms.{q}"] = "ms"
        u[f"streaming.late_rows_dropped.{q}"] = "count"
    for q in MART_QUERIES:
        u[f"plans.query_ms.{q}"] = "ms"
    return u


LAYER_UNITS = _layer_units()


def UNITS(name: str) -> str:
    return E2E_UNITS.get(name) or LAYER_UNITS[name]


def _driver_pids() -> dict[str, int]:
    """The driver Python process and the driver JVM it launched."""
    from pyspark import SparkContext

    pids = {"python": os.getpid()}
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        pids["jvm"] = proc.pid
    return pids


def reset_peak_rss() -> None:
    """Restart the peak-RSS count of the driver processes from their
    current RSS (``5`` to ``/proc/<pid>/clear_refs`` resets VmHWM), so the
    peak read after the timed window leaves out set-up, warm-up and the
    DuckDB checks and generator run in them."""
    gc.collect()
    for pid in _driver_pids().values():
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def peak_rss_mb() -> dict[str, float]:
    """Peak resident memory (VmHWM) in MB of the driver Python process and
    of the driver JVM since the last ``reset_peak_rss``, from ``/proc``."""
    out = {}
    for name, pid in _driver_pids().items():
        try:
            with open(f"/proc/{pid}/status") as f:
                out[name] = next(
                    int(line.split()[1]) for line in f
                    if line.startswith("VmHWM:")
                ) / 1024.0
        except (OSError, StopIteration):
            pass
    return out


def end_to_end(res: dict, setups: list[float]) -> dict[str, float]:
    """``latency_p50_ms`` is the mean over the workload's queries of each
    query's median latency. A median pooled over all queries falls between
    the latency levels of two queries and can jump from one to the other
    from run to run: over two sets of ten order_stream runs on a busy host
    it spread 0.14 and 0.22, where this mean, taken over the same runs'
    batch times, spread 0.08 (on a quiet host: 0.04 pooled, 0.07 this
    mean). It also depends on which queries ran once more in a window that
    ends mid-round."""
    medians = [pct(v, 50) for v in res["latency_by_query"].values() if v]
    return {
        "setup_s": statistics.median(setups),
        "latency_p50_ms": statistics.fmean(medians) if medians else 0.0,
        "throughput_per_s": res["throughput_per_s"],
    }


def per_layer(wl, spark, tracer) -> dict[str, float]:
    m = {name: 0.0 for name in LAYER_UNITS}
    m["session.start_s"] = statistics.median(tracer.durations("session.start"))
    m["session.warmup_s"] = statistics.median(tracer.durations("session.warmup"))
    writes = [d * 1000 for d in tracer.durations("sinks.write")]
    m["sinks.write_ms_p50"] = pct(writes, 50)
    m["sinks.write_ms_p90"] = pct(writes, 90)
    ups = [d * 1000 for d in tracer.durations("sinks.upsert")]
    m["sinks.upsert_ms_p50"] = pct(ups, 50)
    m["sinks.upsert_ms_p90"] = pct(ups, 90)
    layer = wl.layers(spark, tracer)
    unknown = set(layer) - set(m)
    if unknown:
        raise KeyError(f"per-layer metrics missing from LAYER_UNITS: {unknown}")
    m.update(layer)
    return m


def install_spans(tracer, wl) -> None:
    """Wrap the engine's public per-batch entry points in spans (traced run
    only). Names resolve at call time, so wrapping the module attribute
    reaches every caller."""
    import sys

    from sparkstreaming_gmall_scala_spark.operators import flags
    from sparkstreaming_gmall_scala_spark.sinks import batch
    from sparkstreaming_gmall_scala_spark.sources import tables
    from sparkstreaming_gmall_scala_spark.streaming import pipelines

    tracer.wrap(batch.IdempotentBatchWriter, "__call__", "sinks.write")
    after = getattr(wl, "after_upsert", None)
    tracer.wrap(pipelines, "upsert_parquet", "sinks.upsert", after)
    tracer.wrap(flags, "first_event_flag", "operators")
    tracer.wrap(pipelines, "probe_first_order", "operators")
    # plan modules bound load_table at import; wrap each binding
    original = tables.load_table
    for name, mod in list(sys.modules.items()):
        if (name.startswith("sparkstreaming_gmall_scala_spark.")
                and getattr(mod, "load_table", None) is original):
            tracer.wrap(mod, "load_table", "sources.load")
