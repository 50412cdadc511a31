"""Date-partitioned layout: the partition-pruning path for 100 TB facts.

Asserts the two physical properties the layout exists for (the
storage-layout discipline of tests/test_bucketed.py, applied to time):

* a literal dt predicate lands in the scan's PartitionFilters — pruning
  happens at PLANNING time, not as a post-scan filter;
* a join against a runtime-computed dim puts a dynamicpruningexpression
  in the fact scan's PartitionFilters — DPP fires with no literal date
  anywhere in the query;

and the semantic property that makes the layout safe to adopt: both
queries return exactly what the same logical query computes over the
raw (unpartitioned) events table.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkstreaming_gmall_scala_spark.plans.catalog import load_all
from sparkstreaming_gmall_scala_spark.sources import load_table
from sparkstreaming_gmall_scala_spark.sources.partitioned import (
    read_partitioned_events,
)


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_partitioned_read_exposes_dt_and_matches_raw(spark, sf_dir):
    ev = read_partitioned_events(spark, sf_dir)
    assert dict(ev.dtypes)["dt"] == "date"
    raw = load_table(spark, sf_dir, "events")
    assert ev.count() == raw.count()
    # spot-check one day's membership survives the rewrite exactly
    day = "2024-01-15"
    got = {
        r["event_id"]
        for r in ev.filter(F.col("dt") == F.lit(day).cast("date"))
        .select("event_id")
        .collect()
    }
    expect = {
        r["event_id"]
        for r in raw.filter(F.to_date("ts") == F.lit(day).cast("date"))
        .select("event_id")
        .collect()
    }
    assert got == expect and got


def test_static_prune_plan_and_result(spark, sf_dir):
    q = load_all()["events_day_prune"].builder(spark, sf_dir)
    plan = _executed_plan(q)
    # the date predicate must be a PARTITION filter (planning-time prune),
    # not a data filter evaluated after reading every directory
    import re

    pf = re.search(r"PartitionFilters: \[[^\]]*\]", plan)
    assert pf, plan[:2000]
    assert "= 2024-01-15" in pf.group(0), pf.group(0)

    raw = load_table(spark, sf_dir, "events")
    expect = (
        raw.filter(F.to_date("ts") == F.lit("2024-01-15").cast("date"))
        .groupBy("event_type", F.hour("ts").cast("long").alias("hr"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.floor(F.col("value") * 100 + 0.5).cast("long")
            ).alias("value_cents"),
        )
    )
    assert {tuple(r) for r in q.collect()} == {
        tuple(r) for r in expect.collect()
    }


def test_dpp_fires_and_result_is_layout_independent(spark, sf_dir):
    q = load_all()["events_dpp_join"].builder(spark, sf_dir)
    plan = _executed_plan(q)
    assert "dynamicpruningexpression" in plan, plan[:3000]

    # the same logical query over the RAW table (no partition column
    # anywhere) must agree row-for-row — the layout changes only the plan
    raw = load_table(spark, sf_dir, "events").withColumn(
        "dt", F.to_date("ts")
    )
    cents = lambda c: F.floor(F.col(c) * 100 + 0.5).cast("long")  # noqa: E731
    daily = (
        raw.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("dt").alias("d"))
        .agg(F.sum(cents("value")).alias("purchase_cents"))
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("purchase_cents").desc(), F.col("d"))
    top5 = (
        daily.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("d")
    )
    expect = (
        raw.join(top5, raw["dt"] == top5["d"])
        .groupBy(F.col("dt").cast("string").alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents("value")).alias("value_cents"),
        )
    )
    assert {tuple(r) for r in q.collect()} == {
        tuple(r) for r in expect.collect()
    }


def test_compaction_collapses_fragmented_partitions_only(
    spark, sf_dir, tmp_path
):
    """Small-file compaction: fragmented partitions collapse to one file
    with identical content; healthy partitions are byte-untouched."""
    import glob
    import os

    from sparkstreaming_gmall_scala_spark.sources.partitioned import (
        compact_partitions,
        partition_file_counts,
        resolve_table_root,
    )

    path = str(tmp_path / "frag")
    raw = load_table(spark, sf_dir, "events").withColumn(
        "dt", F.to_date("ts")
    )
    # fragment HALF the month: many tasks per day -> many files per day;
    # write the other half one-file-per-day (healthy)
    first = raw.filter(F.dayofmonth("dt") <= 15).repartition(8)
    rest = raw.filter(F.dayofmonth("dt") > 15).repartition("dt")
    first.write.partitionBy("dt").parquet(path)
    rest.write.mode("append").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("dt").parquet(path)

    before = partition_file_counts(path)
    frag_dirs = {d for d, n in before.items() if n > 1}
    assert frag_dirs, before  # the setup really fragmented something
    healthy = sorted(set(before) - frag_dirs)
    assert healthy, before
    snap = {
        (d, os.path.basename(p)): (os.path.getsize(p), os.path.getmtime(p))
        for d in healthy
        for p in glob.glob(os.path.join(path, d, "*.parquet"))
    }
    rows_before = {tuple(r) for r in spark.read.parquet(path).collect()}

    compacted = compact_partitions(spark, path, max_files=1)
    assert sorted(compacted) == sorted(frag_dirs)

    # r15: the commit is a _GENERATION pointer flip — data now lives in
    # the generation dir the pointer names; every reader resolves it
    live = resolve_table_root(path)
    assert live != path and os.path.basename(live).startswith("_gen-")
    after = partition_file_counts(live)
    assert all(n == 1 for n in after.values()), after
    # healthy partitions were never rewritten: hardlinked into the new
    # generation with identical size and mtime (inode-shared)
    assert snap == {
        (d, os.path.basename(p)): (os.path.getsize(p), os.path.getmtime(p))
        for d in healthy
        for p in glob.glob(os.path.join(live, d, "*.parquet"))
    }
    # content identical
    assert {tuple(r) for r in spark.read.parquet(live).collect()} == rows_before
    # second run is a no-op (and does not mint a new generation)
    assert compact_partitions(spark, path, max_files=1) == []
    assert resolve_table_root(path) == live


def _fragmented_table(spark, sf_dir, path: str):
    raw = load_table(spark, sf_dir, "events").withColumn(
        "dt", F.to_date("ts")
    )
    raw.repartition(8).write.partitionBy("dt").parquet(path)
    return {tuple(r) for r in spark.read.parquet(path).collect()}


def test_compaction_crash_before_commit_is_invisible_and_rolls_back(
    spark, sf_dir, tmp_path
):
    """Crash matrix, window 1 (r15 pointer commit): a generation dir
    WITHOUT the pointer naming it is a partial rewrite — a reader
    resolving the pointer never sees it (the live table is byte-
    untouched), and a re-run drops it and compacts from scratch."""
    import os

    from sparkstreaming_gmall_scala_spark.sources.partitioned import (
        compact_partitions,
        partition_file_counts,
        resolve_table_root,
    )

    path = str(tmp_path / "t")
    rows = _fragmented_table(spark, sf_dir, path)
    # simulate a crash mid-generation-build: gen dir exists (garbage
    # content), the pointer was never flipped
    junk = os.path.join(path, "_gen-00001", "dt=2024-01-01")
    os.makedirs(junk)
    with open(os.path.join(junk, "junk.parquet"), "w") as f:
        f.write("not parquet")

    # READER INVISIBILITY: before any recovery runs, resolution ignores
    # the unflipped generation entirely — the scan sees the old table
    assert resolve_table_root(path) == path
    assert {tuple(r) for r in spark.read.parquet(path).collect()} == rows

    compacted = compact_partitions(spark, path, max_files=1)
    assert compacted  # the real fragmentation was found and fixed
    live = resolve_table_root(path)
    assert all(n == 1 for n in partition_file_counts(live).values())
    assert {tuple(r) for r in spark.read.parquet(live).collect()} == rows


def test_compaction_crash_after_commit_is_invisible_and_cleans_up(
    spark, sf_dir, tmp_path
):
    """Crash matrix, window 2 (r15 pointer commit, the r14 ADVICE
    'mid-swap reader' window): the pointer flipped but the process died
    before deleting the replaced generation — stale flat dt dirs AND a
    stale gen dir sit next to the live one. A reader resolving the
    pointer never observes either (the commit was the single atomic
    os.replace); the next compaction entry drops the garbage and finds
    no new work."""
    import os

    from sparkstreaming_gmall_scala_spark.sources.partitioned import (
        compact_partitions,
        partition_file_counts,
        resolve_table_root,
    )

    path = str(tmp_path / "t")
    rows = _fragmented_table(spark, sf_dir, path)
    assert compact_partitions(spark, path, max_files=1)
    live = resolve_table_root(path)

    # simulate the post-commit crash state: the replaced generation's
    # leftovers never got deleted
    stale_flat = os.path.join(path, "dt=2099-12-31")
    os.makedirs(stale_flat)
    with open(os.path.join(stale_flat, "stale.parquet"), "w") as f:
        f.write("not parquet")
    stale_gen = os.path.join(path, "_gen-00000", "dt=2099-12-31")
    os.makedirs(stale_gen)
    with open(os.path.join(stale_gen, "stale.parquet"), "w") as f:
        f.write("not parquet")

    # READER INVISIBILITY: resolution lands on the committed generation;
    # neither leftover is in the reader's path
    assert resolve_table_root(path) == live
    assert {tuple(r) for r in spark.read.parquet(live).collect()} == rows

    # next entry: recovery drops the garbage, no new work, no new gen
    assert compact_partitions(spark, path, max_files=1) == []
    assert not os.path.isdir(stale_flat)
    assert not os.path.isdir(os.path.join(path, "_gen-00000"))
    assert resolve_table_root(path) == live
    assert all(n == 1 for n in partition_file_counts(live).values())


def test_compaction_legacy_staged_swap_rolls_forward(spark, sf_dir, tmp_path):
    """Legacy crash window (pre-r15 two-rename swap): a cache that
    crashed under the OLD code shape — _STAGED stage present, one
    partition's live dir already moved aside — must still roll FORWARD
    (deleting the stage would lose that partition's only copy). Pins
    _recover_legacy_stage, which recover_compaction runs first."""
    import os
    import shutil

    from sparkstreaming_gmall_scala_spark.sources.partitioned import (
        _compact_stage_root,
        compact_partitions,
        partition_file_counts,
    )

    path = str(tmp_path / "t")
    rows = _fragmented_table(spark, sf_dir, path)
    fragmented = sorted(partition_file_counts(path))

    # build a REAL staged generation the way the pre-r15 code did
    df = spark.read.option("basePath", path).parquet(
        *[os.path.join(path, d) for d in fragmented]
    )
    stage = _compact_stage_root(path)
    (
        df.repartition(len(fragmented), "dt")
        .write.mode("overwrite")
        .partitionBy("dt")
        .parquet(stage)
    )
    with open(os.path.join(stage, "_STAGED"), "w") as fh:
        fh.write("1")
    # simulate dying between the two renames of ONE partition: live dir
    # moved to trash, staged dir not yet renamed in
    victim = fragmented[0]
    trash = stage + ".old"
    os.makedirs(trash)
    os.rename(os.path.join(path, victim), os.path.join(trash, victim))
    assert not os.path.isdir(os.path.join(path, victim))

    # re-run: legacy recovery must finish the swap before looking for
    # work, after which every partition holds the compacted single file
    # (the table stays FLAT — no pointer was ever written by old code)
    compacted = compact_partitions(spark, path, max_files=1)
    assert compacted == []  # recovery completed the old run; no new work
    assert all(n == 1 for n in partition_file_counts(path).values())
    assert {tuple(r) for r in spark.read.parquet(path).collect()} == rows
    assert not os.path.isdir(stage) and not os.path.isdir(trash)
    shutil.rmtree(path, ignore_errors=True)


def test_build_once_never_serves_a_partial_build(tmp_path, monkeypatch):
    """The one build cache behind every derived /tmp table (this module's
    partitioned copy among them): a build that dies leaves no marker, so
    nothing is served and the next call removes its leftovers and builds
    again; a finished build is served without rebuilding; a changed
    corpus misses. No Spark needed."""
    import os
    import tempfile

    import pytest

    from sparkstreaming_gmall_scala_spark.sources.tables import (
        _data_fingerprint,
        _params_key,
        build_once,
    )

    cache = tmp_path / "cache"
    cache.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(cache))
    sf = tmp_path / "sfT"
    sf.mkdir()
    (sf / "orders.parquet").write_bytes(b"v1")

    def key():
        return _params_key("t1", _data_fingerprint(str(sf), "orders"))

    def crash(work):
        open(os.path.join(work, "part-0"), "w").close()
        raise RuntimeError("killed mid-build")

    with pytest.raises(RuntimeError):
        build_once("unit", str(sf), key(), crash)
    assert build_once("unit", str(sf), key()) is None

    builds = []

    def build(work):
        assert os.listdir(work) == []  # the crashed build's leftovers went
        builds.append(work)
        open(os.path.join(work, "part-0"), "w").close()

    work = build_once("unit", str(sf), key(), build)
    assert os.path.basename(work) == f"spark_graft_unit_sfT_{key()}"
    assert build_once("unit", str(sf), key(), build) == work
    assert build_once("unit", str(sf), key()) == work
    assert builds == [work]

    (sf / "orders.parquet").write_bytes(b"v2, a new corpus")
    assert build_once("unit", str(sf), key(), build) != work
    assert len(builds) == 2
