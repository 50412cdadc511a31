"""Date-partitioned storage: the partition-pruning path for 100 TB facts.

Completes the storage-layout trio next to bucketing (sources/bucketed.py
— pays the JOIN shuffle at ingest) and Z-order keys (zorder_keys — packs
multi-dimensional locality into one sort key): Hive-style ``dt=...``
partitioning pays the TIME-slice cost at ingest, after which

* a literal date predicate prunes at PLANNING time — the scan's
  ``PartitionFilters`` drop every non-matching directory before a single
  byte is read (``events_day_prune``), and
* a JOIN against a filtered dimension prunes at RUNTIME via dynamic
  partition pruning — Spark executes the dim side first and reuses its
  broadcast as a partition filter on the fact scan
  (``events_dpp_join``), the star-schema scan killer.

At 100 TB an events table is ~3 years × ~90 GB/day; a one-day query
reads 0.1% of the files and a five-day DPP join 0.5%, independent of
cluster size. The reference has no analog — its events live in Kafka
topics and every consumer replays the full retention window.

The one-time partitioned write goes through the engine's build cache
(``sources.tables.build_once``): keyed by params + data fingerprint, and
marked complete only after the write, so a partial (crashed) write
rebuilds instead of serving. No catalog table is needed —
``spark.read.parquet`` discovers ``dt=...`` directories and exposes
``dt`` as a DATE partition column, which is exactly what both pruning
forms key on.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def require_utc_session(spark: SparkSession, what: str) -> None:
    """load_table's UTC session-timezone guard, replicated for the
    cache-HIT read paths that never call load_table (r13 advice): the
    dt directories were baked under UTC, so ``hour(ts)`` and to_date
    comparisons in a non-UTC session would silently diverge from the
    DuckDB oracle's naive values. Fail loud instead."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz not in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
        raise ValueError(
            f"{what} must run under a UTC session timezone "
            f"(spark.sql.session.timeZone={tz!r}): the dt partitions "
            "were derived under UTC, so timestamp functions over this "
            "table would shift relative to the oracle. Set "
            'spark.conf.set("spark.sql.session.timeZone", "UTC").'
        )


def partitioned_events_path(spark: SparkSession, sf_dir: str) -> str:
    """Ensure a dt-partitioned copy of the events table exists under
    /tmp for this corpus and return its root path. ``dt`` is the event
    date (UTC); everything else is carried as-is."""
    from .tables import _data_fingerprint, _params_key, build_once, load_table

    def build(work: str) -> None:
        (
            load_table(spark, sf_dir, "events")
            .withColumn("dt", F.to_date("ts"))
            .repartition("dt")  # one shuffle at ingest -> one file per
            # day instead of |input partitions| × |days| small files
            .write.mode("overwrite")
            .partitionBy("dt")
            .parquet(work)
        )

    return build_once(
        "dtpart", sf_dir,
        _params_key("dtpart", _data_fingerprint(sf_dir, "events")), build,
    )


def read_partitioned_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan the dt-partitioned events copy (building it on first use).
    Filters on ``dt`` prune directories at planning time; joins on ``dt``
    against filtered dims prune at runtime (DPP)."""
    require_utc_session(spark, "read_partitioned_events")
    # The files were written by the engine as TIMESTAMP; keep the
    # read-back type session-stable even when the cache-hit path skips
    # load_table (which sets this for the raw events read).
    try:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    except Exception:
        pass
    return spark.read.parquet(partitioned_events_path(spark, sf_dir))


def partition_file_counts(path: str) -> dict[str, int]:
    """{partition dir name: parquet file count} for a dt-partitioned
    table — pure filesystem metadata, the signal a compaction scheduler
    keys on (at lake scale: the manifest/snapshot file listing)."""
    import glob as _glob

    out = {}
    for d in sorted(_glob.glob(os.path.join(path, "dt=*"))):
        out[os.path.basename(d)] = len(
            _glob.glob(os.path.join(d, "*.parquet"))
        )
    return out


GENERATION_PTR = "_GENERATION"


def resolve_table_root(path: str) -> str:
    """The LIVE data root of a (possibly generationed) table: if the
    ``_GENERATION`` manifest pointer exists, the table's data lives in
    the generation dir it names (``path/_gen-NNNNN``); otherwise the
    table is flat (``path/dt=*`` — the shape every ingest writes).
    Every reader resolves through this — the pointer file is the single
    atomic commit point, exactly how lake table formats (Delta/Iceberg)
    commit: readers see the old generation in full or the new one in
    full, never a directory mid-swap."""
    ptr = os.path.join(path, GENERATION_PTR)
    if os.path.exists(ptr):
        with open(ptr) as fh:
            gen = fh.read().strip()
        return os.path.join(path, gen)
    return path


def _compact_stage_root(path: str) -> str:
    """Pre-r15 sibling staging dir — kept only so ``recover_compaction``
    can roll forward a cache that crashed under the OLD partition-level
    two-rename swap (a ``_STAGED`` stage may have already moved live
    partition dirs aside; deleting it would lose their only copy)."""
    return path.rstrip("/") + ".compacting"


def _recover_legacy_stage(path: str) -> None:
    """Roll a crash under the pre-r15 two-rename swap forward or back
    (the recover_dir crash-matrix discipline, sinks/batch.py:81): a
    ``_STAGED`` stage is authoritative and finishes its swap; an
    unmarked stage never touched the live table and is dropped."""
    stage = _compact_stage_root(path)
    trash = stage + ".old"
    if os.path.exists(os.path.join(stage, "_STAGED")):
        for d in sorted(_glob_dt(stage)):
            name = os.path.basename(d)
            dst = os.path.join(path, name)
            os.makedirs(trash, exist_ok=True)
            t = os.path.join(trash, name)
            if os.path.isdir(dst):
                if os.path.isdir(t):
                    shutil.rmtree(t)
                os.rename(dst, t)
            os.rename(d, dst)
        shutil.rmtree(stage, ignore_errors=True)
    elif os.path.isdir(stage):
        shutil.rmtree(stage)
    shutil.rmtree(trash, ignore_errors=True)


def recover_compaction(path: str) -> None:
    """Make the table consistent after a crash at ANY point of
    ``compact_partitions`` (r14 verdict #7 — the manifest-pointer
    commit makes this trivial):

    * a ``_GENERATION.tmp`` is always pre-commit garbage (the flip is
      ``os.replace``, atomic) — drop it;
    * any ``gen-*`` dir the pointer does not name is either an
      unflipped stage (crash before commit — the live generation was
      never touched) or a replaced old generation (crash after commit,
      before cleanup) — both are safe to drop;
    * flat ``dt=*`` dirs alongside a pointer are the pre-generation
      layout a post-commit crash left behind — drop them.

    Legacy pre-r15 staged swaps are rolled forward first (see
    ``_recover_legacy_stage``)."""
    _recover_legacy_stage(path)
    tmp = os.path.join(path, GENERATION_PTR + ".tmp")
    if os.path.exists(tmp):
        os.remove(tmp)
    live = resolve_table_root(path)
    import glob as _glob

    for d in _glob.glob(os.path.join(path, "_gen-*")):
        if os.path.abspath(d) != os.path.abspath(live):
            shutil.rmtree(d, ignore_errors=True)
    if os.path.abspath(live) != os.path.abspath(path):
        for d in _glob_dt(path):
            shutil.rmtree(d, ignore_errors=True)


def _glob_dt(root: str) -> list[str]:
    import glob as _glob

    return _glob.glob(os.path.join(root, "dt=*"))


def compact_partitions(
    spark: SparkSession, path: str, max_files: int = 1
) -> list[str]:
    """Small-file compaction for a dt-partitioned table: rewrite every
    partition holding more than ``max_files`` parquet files into one
    file, leaving healthy partitions byte-untouched. Returns the list of
    compacted partition dir names.

    The operational problem this kills at 100 TB: a streaming ingest
    with many executors writes |tasks| files per partition per batch;
    after a day a hot partition holds thousands of KB-sized files and
    every scan pays file-open + footer-read per file (NameNode/S3
    LIST pressure included). Compaction is the standard nightly job
    (Delta OPTIMIZE / Iceberg rewrite_data_files); here it is a plain
    Spark job over the open layout:

    * only FRAGMENTED partitions are read (explicit partition dirs under
      a basePath — planning-time pruned, never a full-table scan),
    * hash-partitioning by dt into |fragmented| tasks writes one file
      per partition,
    * the rewrite builds a complete NEW GENERATION dir
      (``path/_gen-NNNNN``): compacted partitions are written by Spark,
      healthy partitions join by hardlink (file metadata only — the
      manifest-reuse analog: a lake format's new snapshot lists the old
      data files it keeps, it never rewrites them),
    * the COMMIT is one atomic ``os.replace`` of the ``_GENERATION``
      pointer file (r14 verdict #7) — the exact commit shape lake table
      formats use, so it is atomic on ANY store, object stores
      included: a single-key put, no directory rename in the commit
      path at all. Readers resolve through ``resolve_table_root`` and
      see the old generation in full or the new one in full; the
      replaced generation is deleted only after the flip, and a crash
      anywhere leaves either pre-commit garbage (an unflipped gen dir)
      or post-commit garbage (the replaced gen), both cleaned by
      ``recover_compaction`` on the next entry.

    Retention honesty: the replaced generation is dropped immediately —
    a reader that resolved the pointer BEFORE the flip and is still
    scanning keeps its open file handles on a POSIX FS but would lose a
    re-list; lake formats solve that with snapshot retention windows
    (expire_snapshots), which is the one piece this open-layout analog
    does not model.
    """
    recover_compaction(path)
    live = resolve_table_root(path)
    counts = partition_file_counts(live)
    fragmented = [d for d, n in counts.items() if n > max_files]
    if not fragmented:
        return []
    healthy = sorted(set(counts) - set(fragmented))
    try:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    except Exception:
        pass
    df = spark.read.option("basePath", live).parquet(
        *[os.path.join(live, d) for d in fragmented]
    )
    if os.path.abspath(live) == os.path.abspath(path):
        next_gen = "_gen-00001"
    else:
        next_gen = f"_gen-{int(os.path.basename(live).split('-')[1]) + 1:05d}"
    gen_dir = os.path.join(path, next_gen)
    (
        # hash-partition by dt into |fragmented| tasks: a collision only
        # means one task carries two days — partitionBy still emits one
        # file per day, because each dt hashes to exactly one task
        df.repartition(len(fragmented), "dt")
        .sortWithinPartitions("dt")
        .write.mode("overwrite")
        .partitionBy("dt")
        .parquet(gen_dir)
    )
    staged = {os.path.basename(d) for d in _glob_dt(gen_dir)}
    if staged != set(fragmented):
        # never commit a wrong-shaped generation
        shutil.rmtree(gen_dir, ignore_errors=True)
        raise AssertionError(
            f"compaction staged {sorted(staged)} != fragmented "
            f"{sorted(fragmented)} at {path}"
        )
    for d in healthy:
        src, dst = os.path.join(live, d), os.path.join(gen_dir, d)
        os.makedirs(dst, exist_ok=True)
        for fname in os.listdir(src):
            if not fname.endswith(".parquet"):
                continue
            try:
                os.link(os.path.join(src, fname), os.path.join(dst, fname))
            except OSError:
                # cross-device /tmp layouts can't hardlink — copy is the
                # correctness fallback (data rewrite, metadata-only lost)
                shutil.copy2(
                    os.path.join(src, fname), os.path.join(dst, fname)
                )
    if {os.path.basename(d) for d in _glob_dt(gen_dir)} != set(counts):
        shutil.rmtree(gen_dir, ignore_errors=True)
        raise AssertionError(
            f"new generation incomplete vs live partition set at {path}"
        )
    # THE COMMIT: one atomic pointer replace — before this line the
    # table is byte-identical to its pre-compaction state
    tmp = os.path.join(path, GENERATION_PTR + ".tmp")
    with open(tmp, "w") as fh:
        fh.write(next_gen)
    os.replace(tmp, os.path.join(path, GENERATION_PTR))
    # post-commit cleanup of the replaced generation; a crash in here
    # only leaves garbage recover_compaction drops on the next entry
    if os.path.abspath(live) == os.path.abspath(path):
        for d in _glob_dt(path):
            shutil.rmtree(d, ignore_errors=True)
    else:
        shutil.rmtree(live, ignore_errors=True)
    return fragmented
