"""Partition-grained idempotent ingest: the lake answer to the
reference's exactly-once machinery.

The reference gets exactly-once by committing results and Kafka offsets
in one transaction against external stores (reference:
util/OffsetManagerUtil.scala:21-64 saves offsets to Redis after each
batch; ads/TrademarkStatApp.scala:114-151 writes results + offsets in
one MySQL transaction). The lake-first equivalent needs no external
store: an event stream arrives TIME-ORDERED, so each micro-batch owns
whole ``dt=...`` partitions, and writing with dynamic partition
overwrite makes redelivery idempotent by construction — a replayed
batch overwrites exactly its own partitions with identical content,
and partitions owned by other batches are untouched. Crash recovery is
the same move: re-run the last batch, no read-modify-write, no
dedup-by-key pass, no transaction log.

``ingest_events_partitioned`` simulates the 3-batch time-ordered feed
and then REPLAYS the middle batch (duplicate delivery), so every
consumer of the resulting table is checking idempotence, not just
ingestion: the catalog query ``events_ingest_rollup`` folds the table and
its DuckDB oracle is the rollup of the RAW events table — they can only
hash-match if the replay changed nothing.

At 100 TB the per-batch cost is one write of the arriving day(s); the
table never rewrites history. Late data inside a still-open partition
is the one case that re-delivers a partition — exactly what the
overwrite handles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import _data_fingerprint, _params_key, build_once


def _batch_bounds(ev: DataFrame, n_batches: int = 3) -> list[tuple]:
    """Time-ordered batch boundaries derived from the DATA (r13 advice:
    a hardcoded calendar window silently drops events outside it): split
    [min(dt), max(dt)] into ``n_batches`` contiguous day ranges, each
    batch owning complete days like a nightly ingest owns its dates.
    One tiny min/max agg collect — partition-prunable metadata at lake
    scale."""
    import datetime

    lo, hi = ev.agg(F.min("dt"), F.max("dt")).first()
    if lo is None or hi is None:
        raise ValueError(
            "_batch_bounds: events table is empty (min/max dt are NULL) — "
            "an ingest over zero rows has no batch boundaries"
        )
    n_days = (hi - lo).days + 1
    step = max(1, -(-n_days // n_batches))  # ceil
    bounds = []
    for i in range(n_batches):
        b_lo = lo + datetime.timedelta(days=i * step)
        b_hi = min(lo + datetime.timedelta(days=(i + 1) * step - 1), hi)
        if b_lo > hi:
            break
        bounds.append((b_lo, b_hi))
    return bounds


def _write_batch(df: DataFrame, path: str) -> None:
    """One micro-batch write: dynamic partition overwrite, so only the
    partitions THIS batch carries are replaced — the idempotence lever."""
    (
        df.repartition("dt")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("dt")
        .parquet(path)
    )


def ingest_events_partitioned(spark: SparkSession, sf_dir: str) -> str:
    """Run the 3-batch time-ordered ingest of the events table into a
    dt-partitioned /tmp table, then replay batch 2 (duplicate delivery).
    Returns the table path. Built once per corpus
    (``sources.tables.build_once``); a partial write rebuilds."""
    from ..sources import load_table

    def build(work: str) -> None:
        ev = load_table(spark, sf_dir, "events").withColumn(
            "dt", F.to_date("ts")
        ).persist()
        n_raw = ev.count()
        batches = [
            ev.filter(
                (F.col("dt") >= F.lit(lo)) & (F.col("dt") <= F.lit(hi))
            )
            for lo, hi in _batch_bounds(ev)
        ]
        for b in batches:
            _write_batch(b, work)
        # duplicate delivery of the middle batch: the overwrite must
        # leave the table byte-identical in content
        if len(batches) > 1:
            _write_batch(batches[1], work)
        ev.unpersist()
        # LOUD completeness gate before the marker (r13 advice): the
        # derived bounds cover [min(dt), max(dt)] by construction, so a
        # shortfall here is a real ingest bug — fail the build instead
        # of surfacing as a downstream count/oracle mismatch.
        n_ingested = spark.read.parquet(work).count()
        if n_ingested != n_raw:
            raise AssertionError(
                f"partition ingest dropped rows: raw={n_raw} "
                f"ingested={n_ingested} at {work}"
            )

    return build_once(
        "dtingest", sf_dir,
        _params_key("dtingest", _data_fingerprint(sf_dir, "events")), build,
    )


def ingest_events_compacted(spark: SparkSession, sf_dir: str) -> str:
    """The full compaction LIFECYCLE (r13 verdict #6): a FRAGMENTED
    3-batch ingest (each batch written from 8 hash-partitioned tasks, so
    every dt dir collects multiple small files — the shape a real
    multi-executor streaming ingest leaves), a replayed middle batch
    (idempotence under fragmentation), then ``compact_partitions`` down
    to one file per partition. Returns the compacted table path.

    Both post-conditions are asserted LOUDLY before the build cache
    stamps its marker: (a) the ingest really fragmented (else the entry
    would prove nothing), and (b) after compaction every partition holds
    exactly one file. Content invisibility is what the catalog entry's oracle
    checks: ``events_compacted_rollup`` answers a rollup off this table
    against the RAW events oracle — one row lost or duplicated anywhere
    in ingest→replay→compact and the value hash diverges."""
    from ..sources import load_table
    from ..sources.partitioned import (
        compact_partitions,
        partition_file_counts,
        resolve_table_root,
    )

    def build(work: str) -> None:
        ev = load_table(spark, sf_dir, "events").withColumn(
            "dt", F.to_date("ts")
        ).persist()
        n_raw = ev.count()
        batches = [
            ev.filter(
                (F.col("dt") >= F.lit(lo)) & (F.col("dt") <= F.lit(hi))
            )
            for lo, hi in _batch_bounds(ev)
        ]

        def _write_fragmented(df: DataFrame) -> None:
            (
                df.repartition(8)  # many tasks per partition — the
                # small-file problem, deliberately
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("dt")
                .parquet(work)
            )

        for b in batches:
            _write_fragmented(b)
        if len(batches) > 1:
            _write_fragmented(batches[1])  # duplicate delivery
        ev.unpersist()
        before = partition_file_counts(work)
        if not any(n > 1 for n in before.values()):
            raise AssertionError(
                f"fragmented ingest produced no fragmentation: {before}"
            )
        compacted = compact_partitions(spark, work, max_files=1)
        if not compacted:
            raise AssertionError("compaction found nothing to rewrite")
        # r15: compaction commits a new GENERATION via the _GENERATION
        # pointer — every post-condition (and every reader) resolves
        # through it
        live = resolve_table_root(work)
        after = partition_file_counts(live)
        if any(n != 1 for n in after.values()):
            raise AssertionError(
                f"post-compaction file counts not 1/partition: {after}"
            )
        n_final = spark.read.parquet(live).count()
        if n_final != n_raw:
            raise AssertionError(
                f"ingest+compact changed row count: raw={n_raw} "
                f"final={n_final} at {work}"
            )

    work = build_once(
        "dtcompact", sf_dir,
        _params_key("dtcompact", _data_fingerprint(sf_dir, "events")), build,
    )
    return resolve_table_root(work)


def ingest_events_evolving(spark: SparkSession, sf_dir: str) -> str:
    """SCHEMA EVOLUTION across partitions: batch 1 (the first half of
    the days) arrives WITHOUT the ``value`` column — the producer hadn't
    shipped it yet — batch 2 arrives with it. Each batch writes its own
    dt partitions (dynamic overwrite, the ingest discipline); the table
    ends with two physical schemas side by side, which is the normal
    state of any long-lived lake table. Returns the table path."""
    from ..sources import load_table

    def build(work: str) -> None:
        ev = load_table(spark, sf_dir, "events").withColumn(
            "dt", F.to_date("ts")
        ).persist()
        n_raw = ev.count()
        bounds = _batch_bounds(ev, 2)
        if len(bounds) < 2:
            # r14 ADVICE: on a single-day corpus the bounds collapse to
            # one range; every partition would be written WITHOUT value
            # and the mergeSchema read would lose the column entirely —
            # failing later at analysis with no hint of the cause
            ev.unpersist()
            raise ValueError(
                "ingest_events_evolving: schema evolution needs >= 2 "
                f"day-batches but the corpus spans only {len(bounds)} "
                "(single-day events table) — the pre-evolution batch "
                "would cover every partition and drop 'value' from the "
                "merged schema"
            )
        old = ev.filter(
            (F.col("dt") >= F.lit(bounds[0][0]))
            & (F.col("dt") <= F.lit(bounds[0][1]))
        ).drop("value")
        new = ev.filter(F.col("dt") > F.lit(bounds[0][1]))
        _write_batch(old, work)
        _write_batch(new, work)
        ev.unpersist()
        n_ingested = (
            spark.read.option("mergeSchema", "true").parquet(work).count()
        )
        if n_ingested != n_raw:
            raise AssertionError(
                f"evolving ingest dropped rows: raw={n_raw} "
                f"ingested={n_ingested} at {work}"
            )

    return build_once(
        "dtevol", sf_dir,
        _params_key("dtevol", _data_fingerprint(sf_dir, "events")), build,
    )


def read_evolving_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan the schema-evolved table with mergeSchema: the union schema,
    ``value`` NULL for the pre-evolution partitions."""
    from ..sources.partitioned import require_utc_session

    require_utc_session(spark, "read_evolving_events")
    try:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    except Exception:
        pass
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(ingest_events_evolving(spark, sf_dir))
    )


def read_compacted_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan the fragmented-ingested-then-compacted table."""
    from ..sources.partitioned import require_utc_session

    require_utc_session(spark, "read_compacted_events")
    try:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    except Exception:
        pass
    return spark.read.parquet(ingest_events_compacted(spark, sf_dir))


def read_ingested_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan the ingested (and replay-exercised) partitioned table."""
    from ..sources.partitioned import require_utc_session

    require_utc_session(spark, "read_ingested_events")
    try:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    except Exception:
        pass
    return spark.read.parquet(ingest_events_partitioned(spark, sf_dir))
