"""Helpers shared by the workloads: percentiles, streaming progress and
per-query Spark job counts."""

from __future__ import annotations

import json
import os
from datetime import datetime

import numpy as np


def pct(values, q: float) -> float:
    """Linear-interpolated percentile; 0.0 for an empty sample."""
    return float(np.percentile(values, q)) if len(values) else 0.0


def epoch_s(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def progress(query) -> list[dict]:
    """Every retained ``StreamingQueryProgress`` of ``query`` as a dict."""
    return [json.loads(p.json) for p in query.recentProgress]


def data_batches(query) -> list[dict]:
    """Progress entries of batches that read input (no-data batches, which
    only advance the watermark, are left out), each with ``t_start`` and
    ``t_commit`` wall-clock seconds."""
    out = []
    for p in progress(query):
        if not p.get("numInputRows"):
            continue
        t0 = epoch_s(p["timestamp"])
        p["t_start"] = t0
        p["t_commit"] = t0 + p["durationMs"]["triggerExecution"] / 1000.0
        out.append(p)
    return out


def executed_batches(query, after: int) -> list[dict]:
    """Progress entries of the batches ``query`` ran after batch ``after``:
    data batches and the no-data batches that only advance the watermark.
    Idle triggers, which run no batch, report no ``addBatch`` time."""
    return [p for p in progress(query)
            if "addBatch" in p["durationMs"] and p["batchId"] > after]


def file_range(src: dict) -> range:
    """Indices of the files a file-source batch read: with one file per
    trigger, file-log offset ``n`` is the ``n``-th file that landed."""
    def off(o):
        if o is None:
            return -1
        if isinstance(o, str):
            o = json.loads(o)
        return int(o["logOffset"])

    return range(off(src.get("startOffset")) + 1, off(src.get("endOffset")) + 1)


def job_ids(spark, group: str) -> set[int]:
    """Ids of the jobs Spark ran under job group ``group``; a streaming
    query's micro-batches run under its ``runId``."""
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def job_counts(spark, group: str, skip: set[int] = frozenset()) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under job group ``group``, leaving out the
    jobs in ``skip``."""
    tracker = spark.sparkContext.statusTracker()
    jobs = job_ids(spark, group) - skip
    tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            st = tracker.getStageInfo(sid)
            tasks += st.numTasks if st else 0
    return len(jobs), tasks


def dir_bytes(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``path``."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size
