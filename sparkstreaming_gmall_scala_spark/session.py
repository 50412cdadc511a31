"""SparkSession factory tuned for both local testing and cluster scale.

The reference hard-codes ``local[4]`` + a 5 s batch interval in every app
(reference: app/DauApp.scala:21-22). We centralize session construction
instead, with scale-oriented defaults: AQE (runtime coalescing + skew-join
handling), partition counts sized from the env, UTC session time zone so
results compare bit-for-bit with the DuckDB oracle, and Arrow enabled for
the few Pandas-UDF operators.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# On a real cluster these come from spark-submit; locally we size from env.
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "sparkstreaming_gmall_scala_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    AQE is on: at 100 TB the static shuffle-partition count is always wrong
    somewhere, so we let adaptive execution coalesce small partitions and
    split skewed ones at runtime; the static number is just the upper bound
    for the first shuffle.
    """
    cpus = int(_DEFAULT_CPUS)
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    # Python WORKERS (forked for pandas UDF / mapInPandas operators)
    # resolve imports from the process environment, not the driver's
    # sys.path — a driver started outside the repo dir would hit
    # ModuleNotFoundError the moment an Arrow operator deserializes a
    # closure referencing this package. Exporting the package root on
    # PYTHONPATH before the context starts makes session construction
    # location-independent (a cluster deployment ships the package via
    # pip/--py-files instead; this covers the local/driver-script case).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + pp if pp else "")
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # the bucketed-table demo registers external tables (explicit
        # LOCATION under /tmp); pointing the warehouse at /tmp keeps the
        # empty spark-warehouse/ dir out of the repo root
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(
                os.environ.get("TMPDIR", "/tmp"), "spark_graft_warehouse"
            ),
        )
        # The driver's events table carries TIMESTAMP(NANOS) parquet columns,
        # which Spark only reads as raw longs; sources/tables.py converts.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python workers fork from worker_daemon instead of pyspark.daemon:
        # the same daemon, minus the zip-archive directory re-read that
        # pyspark's per-task importlib.invalidate_caches() costs on
        # CPython 3.11 (~230 ms of CPU per Python task, measured on the
        # stateful allocation). The module resolves through the
        # PYTHONPATH exported above.
        .config(
            "spark.python.daemon.module",
            "sparkstreaming_gmall_scala_spark.worker_daemon",
        )
        # Streaming checkpoints (offset, commit and source logs, and every
        # state-store file) are committed as temp file + FileSystem.rename,
        # which on local disk is File.renameTo. Spark's default manager
        # renames through FileContext, whose getFileLinkStatus runs
        # FileUtil.readLink: without libhadoop that forks a `readlink`
        # process per checkpoint file (5,776 in one 25 s gmallbench
        # order_stream run on 4 cores, none with this manager; all forks
        # on the host per run fell from ~18,700 to ~7,900). Spark's condition
        # for this manager is an atomic FileSystem.rename, which holds on
        # local paths (rename(2)) and on HDFS. What is left is Hadoop's
        # two `chmod` forks per file written (the file and its .crc);
        # only libhadoop removes those.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # Broadcast threshold: dims (region/nation/supplier/part at test SF)
        # stay broadcastable from their ACTUAL sizes. Explicit F.broadcast()
        # hints are reserved for frames bounded independent of fact scale
        # (see functions/hints.py); sf-scaled tables rely on this threshold
        # + AQE so the same plan degrades to sort-merge at 100 TB.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Whole-stage codegen for a 64-dim unrolled dot/norm chain emits a
        # ~28 KB-bytecode per-row method — over HotSpot's HugeMethodLimit
        # (8000), so by default the JIT NEVER compiles it and every
        # 64-dim scoring stage (knn/embedding/near-dup families) runs in
        # the bytecode interpreter: measured 6.2 s vs 0.4 s for the same
        # 2.1M-pair scoring stage at sf0.1 (15×). The flag lets C2
        # compile huge generated methods; set on driver AND executors so
        # the fix rides along to cluster deployments. Best-effort (r15
        # ADVICE): builder.config only takes effect when THIS conf
        # launches the JVM — getOrCreate against an already-running
        # session ignores it, and extra_conf callers can clobber it. The
        # correctness-independent mitigation is functions/vectors.py's
        # fold fallback above _UNROLL_MAX, which avoids huge methods
        # regardless of JVM flags.
        .config("spark.driver.extraJavaOptions", "-XX:-DontCompileHugeMethods")
        .config("spark.executor.extraJavaOptions", "-XX:-DontCompileHugeMethods")
        # Let AQE re-coalesce the OUTPUT partitioning of cached plans
        # (default false pins every persisted frame at the static
        # shuffle-partition count): the engine persists small derived
        # frames everywhere — pair sets, baskets, histograms — and with
        # the default every downstream map stage over such a cache runs
        # one task per static partition regardless of size (32 tasks on
        # a 15k-row cache, measured ~0.3 s of scheduling per stage).
        # With AQE sizing, cached blocks target the same 64 MB the rest
        # of the engine uses — the scale-correct layout on any cluster.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
