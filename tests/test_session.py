"""Session wiring that reaches the Python workers."""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import functions as F


def test_python_workers_keep_zip_import_caches(spark):
    """Workers fork from the engine's daemon module, so pyspark's per-task
    ``importlib.invalidate_caches()`` leaves zip archives' directories
    alone instead of re-reading them."""

    @F.pandas_udf("string")
    def zip_invalidation(ids: pd.Series) -> pd.Series:
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        return ids.map(lambda _: f"{fn.__code__.co_filename}:{fn.__name__}")

    rows = spark.range(4, numPartitions=2).select(zip_invalidation("id")).collect()
    (where,) = {r[0] for r in rows}
    assert where.endswith("worker_daemon.py:_keep_zip_directory"), where


# Runs in a fresh interpreter: the JVM resolves `readlink` and `chmod`
# through the PATH it was started with, so the logging shims must be on
# PATH before get_spark launches it.
_FORK_PROBE = r"""
import datetime, glob, json, os, sys
from sparkstreaming_gmall_scala_spark.session import get_spark
from sparkstreaming_gmall_scala_spark.streaming.pipelines import (
    ALLOC_SCHEMA, allocation_pipeline)

root = sys.argv[1]
src, out, ckpt = (os.path.join(root, d) for d in ("src", "out", "ckpt"))
os.makedirs(src)
spark = get_spark("fork-probe", master="local[2]", shuffle_partitions=2)
name = spark.conf.get("spark.sql.streaming.checkpointFileManagerClass", None)
loader = spark._jvm.java.lang.Thread.currentThread().getContextClassLoader()
loaded = name and loader.loadClass(name).getName()
for batch in range(2):
    ts = datetime.datetime(2024, 1, 1, 10, 0, batch)
    rows = [(batch, 3 * batch + d, ts, 10.0, 30.0, 25.0) for d in range(3)]
    tmp = os.path.join(root, f"w{batch}")
    spark.createDataFrame(rows, ALLOC_SCHEMA).coalesce(1).write.parquet(tmp)
    (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
    os.rename(part, os.path.join(src, f"b{batch}.parquet"))
    q = allocation_pipeline(spark, src, out, ckpt, available_now=True)
    assert q.awaitTermination(120)
    assert q.lastProgress["batchId"] >= batch
print(json.dumps({"ckpt": ckpt, "configured": name, "loaded": loaded}))
"""


def test_checkpoint_commits_fork_no_readlink(tmp_path):
    """Streaming checkpoints commit through FileSystem.rename: a stateful
    query writes offset, commit and state-store files without the JVM
    forking a `readlink` per file (FileContext.rename does without
    libhadoop). The `chmod` shim must still fire, which shows the shims
    were live."""
    import json
    import shutil
    import subprocess
    import sys

    shims, log = tmp_path / "shims", tmp_path / "forks.log"
    shims.mkdir()
    for tool in ("readlink", "chmod"):
        shim = shims / tool
        shim.write_text(
            f'#!/bin/sh\necho "{tool} $*" >> "{log}"\n'
            f'exec {shutil.which(tool)} "$@"\n'
        )
        shim.chmod(0o755)
    env = dict(
        os.environ,
        PATH=f"{shims}{os.pathsep}{os.environ['PATH']}",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _FORK_PROBE, str(tmp_path / "run")],
        cwd=repo, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    probe = json.loads(proc.stdout.strip().splitlines()[-1])
    forks = log.read_text().splitlines() if log.exists() else []
    under = [f for f in forks if probe["ckpt"] in f]
    readlinks = [f for f in under if f.startswith("readlink ")]
    chmods = [f for f in under if f.startswith("chmod ")]
    assert chmods, forks[:20]
    assert readlinks == [], f"{len(readlinks)} forks: {readlinks[:5]}"
    # the manager's package moved between Spark releases (3.5 had it in
    # ...execution.streaming); a stale name would fail at query start
    assert probe["configured"] and probe["loaded"] == probe["configured"], probe
