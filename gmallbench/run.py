"""gmall benchmark runner.

    python3 gmallbench/run.py --workload order_stream --seed 1 --seconds 25 --trace 0

Runs one workload of ``BENCHMARK.json`` against the engine in the checkout
it sits in, checks every output against a DuckDB reference computation,
and prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run wraps the
engine's public calls in spans and reports per-layer metrics instead. The
line above it is a report with every metric by its workload-specific name,
the environment, and (traced runs) the tracing overhead.

Everything the run writes goes under ``.gmallbench/`` in the checkout: a
fresh root per run for inputs, checkpoints, sinks, dims and the temp dir
(removed at exit), plus ``results/`` and ``traces/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "sparkstreaming_gmall_scala_spark"
OUT = os.path.join(ROOT, ".gmallbench")
WORKLOADS = ("order_stream", "mart_queries")
# Each set-up cycle restarts the session, warms it and regenerates the
# inputs; setup_s is the median cycle. The first cycle also launches the JVM.
SETUP_CYCLES = 3
# local[nproc], as `nproc` counts it; a 2 GB driver heap leaves room for
# other tenants of the machine.
NPROC = len(os.sched_getaffinity(0))
DRIVER_MEM = "2g"


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _shutdown_spark(spark) -> None:
    """Stop the session, then the JVM and the Python workers it forked,
    and wait until each has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    kids = _descendants(os.getpid())
    if spark is not None:
        spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.time() + 20
    while time.time() < deadline and any(_alive(p) for p in kids):
        time.sleep(0.1)
    for p in kids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _cpu_steal_s() -> float:
    """Seconds of CPU the hypervisor gave to others, from /proc/stat."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _gc_s(spark) -> float:
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def _versions(spark) -> dict:
    import pyspark

    return {
        "nproc": NPROC,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty(
            "java.version"
        ),
        "python": platform.python_version(),
    }


def _isolate(run_root: str) -> None:
    """Point every temp/cache location of the engine and Spark at the
    run's private root, so runs share no state (the engine's
    ``spark_graft_*`` index caches start empty) and nothing lands outside
    the checkout."""
    tmp = os.path.join(run_root, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_root, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable


def _warm(spark, path: str) -> None:
    """Generic warm-up: one shuffle, one parquet write and one scan."""
    (
        spark.range(0, 200_000, numPartitions=4)
        .selectExpr("id % 97 AS k", "id")
        .groupBy("k").count()
        .write.mode("overwrite").parquet(path)
    )
    spark.read.parquet(path).count()


def _make(workload: str, seed: int, seconds: int, tracer):
    if workload == "order_stream":
        from gmallbench.order_stream import OrderStream as W
    else:
        from gmallbench.mart_queries import MartQueries as W
    return W(seed, seconds, tracer)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"engine package {PKG}/ not found next to {HERE}", file=sys.stderr)
        return 2

    # SIGTERM unwinds through the finally below, so Spark still stops
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_root = os.path.join(
        OUT, "runs", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    shutil.rmtree(run_root, ignore_errors=True)
    os.makedirs(run_root)
    _isolate(run_root)
    sys.path[0] = ROOT
    session: dict = {}
    try:
        return _run(args, run_root, session)
    finally:
        try:
            _shutdown_spark(session.get("spark"))
        finally:
            shutil.rmtree(run_root, ignore_errors=True)


def _run(args, run_root: str, session: dict) -> int:
    from gmallbench import metrics as M
    from gmallbench.tracing import Tracer
    from sparkstreaming_gmall_scala_spark.session import get_spark

    tracer = Tracer(bool(args.trace))
    failures: list[str] = []
    setups, digests = [], []
    spark = wl = None
    t_setup = time.perf_counter()
    for i in range(SETUP_CYCLES):
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            if spark is not None:
                spark.stop()
            spark = session["spark"] = get_spark(
                "gmallbench",
                extra_conf={"spark.ui.showConsoleProgress": "false"},
            )
        with tracer.span("session.warmup"):
            _warm(spark, os.path.join(run_root, f"warm{i}"))
        wl = _make(args.workload, args.seed, args.seconds, tracer)
        cycle_root = os.path.join(run_root, f"setup{i}")
        os.makedirs(cycle_root)
        with tracer.span("sources.generate"):
            wl.generate(cycle_root)
        setups.append(time.perf_counter() - t0)
        digests.append(_digest(cycle_root))
        if i < SETUP_CYCLES - 1:
            shutil.rmtree(cycle_root)
    if len(set(digests)) != 1:
        failures.append("generator: same seed gave different input bytes")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "5000")
    if args.trace:
        M.install_spans(tracer, wl)

    phases = {"setup_total": time.perf_counter() - t_setup}
    res = None
    try:
        t = time.perf_counter()
        with tracer.span("workload.warmup"):
            wl.warmup(spark)
        phases["warmup"] = time.perf_counter() - t
        # the peak counts the timed window only; the checks run after it
        M.reset_peak_rss()
        steal0, gc0 = _cpu_steal_s(), _gc_s(spark)
        t = time.perf_counter()
        with tracer.span("workload.run"):
            wl.run(spark)
        peak = M.peak_rss_mb()
        phases["run"] = time.perf_counter() - t
        phases["run_cpu_steal"] = _cpu_steal_s() - steal0
        phases["run_jvm_gc"] = _gc_s(spark) - gc0
        res = wl.results()
    except Exception as e:  # a failed run still reports why
        traceback.print_exc()
        failures.append(f"workload raised: {e!r}")
    failures += wl.terminated()
    wl.stop()
    tracer.unwrap_all()
    t = time.perf_counter()
    if res is not None:
        try:
            failures += wl.check()
        except Exception as e:  # a checker crash is a failed check
            traceback.print_exc()
            failures.append(f"checker raised: {e!r}")
    phases["check"] = time.perf_counter() - t
    attempted = max(1, res["attempted"] if res else 1)
    invalid = res["invalid"] if res else None
    failed = len(failures)
    e2e = M.end_to_end(res, setups) if res else {}
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": _versions(spark),
        "setup_cycles_s": setups,
        "phase_s": phases,
        "failures": failures,
        "invalid": invalid,
        "error_rate": failed / attempted,
        "peak_rss_mb": sum(peak.values()) if res else None,
        "peak_rss_mb_by_process": peak if res else None,
        "setup_s": e2e.get("setup_s"),
        **(res["report"] if res else {}),
    }
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    res_path = os.path.join(
        OUT, "results",
        f"{args.workload}-{args.seed}-{args.seconds}s-trace{args.trace}.json",
    )
    if args.trace:
        metrics = M.per_layer(wl, spark, tracer) if res else {}
        untraced = res_path.replace("-trace1.json", "-trace0.json")
        if os.path.exists(untraced) and e2e:
            with open(untraced) as f:
                base = json.load(f)
            report["tracing_overhead"] = {
                k: e2e[k] - base[k] for k in e2e if k in base
            }
        report["traced_end_to_end"] = e2e
        os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
        trace_path = os.path.join(OUT, "traces", f"{args.workload}-{args.seed}.jsonl")
        tracer.dump(trace_path)
        report["trace_file"] = os.path.relpath(trace_path, ROOT)
        report["self_time_s"] = tracer.self_times()
    else:
        metrics = e2e
    with open(res_path, "w") as f:
        json.dump(e2e, f)
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": res is not None and not failures and not invalid,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": float(v), "unit": M.UNITS(k)} for k, v in metrics.items()
        },
    }))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
