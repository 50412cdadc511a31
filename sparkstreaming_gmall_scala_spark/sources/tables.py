"""Batch table sources over the driver-generated parquet test tables.

The reference's only sources are Kafka topics + JDBC lookups (reference:
util/MyKafkaUtil.scala:40-82, util/PhoenixUtil.scala:45-70); it has no file
scans at all. Our engine is file/lake-first: columnar parquet scans give
Catalyst predicate pushdown and column pruning for free, which is the
100 TB-scale replacement for the reference's row-at-a-time JDBC fetches.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# memo key -> inferred StructType. Every spark.read.parquet without an
# explicit schema runs a one-task footer-read JOB before the query
# proper — ~0.15-0.3 s of pure scheduling per load_table call, paid
# once per table per QUERY (hundreds of times per bench run) for
# metadata that never changes. The stat key invalidates the memo the
# moment a fixture file is rewritten, so tests that regenerate tables
# under a reused path still infer fresh.
_SCHEMA_MEMO: dict[tuple, object] = {}
# bound the memo (r15 ADVICE): long-lived sessions re-stat rewritten
# dirs forever, so evict oldest-inserted entries past this cap (dicts
# iterate in insertion order)
_SCHEMA_MEMO_MAX = 1024


def _memo_key(path: str) -> tuple | None:
    """Stat-derived memo key. For directories the key also folds in the
    immediate children's (name, size, mtime) — r15 ADVICE: a directory
    rewritten same-size within the filesystem's mtime granularity, or a
    file replaced INSIDE an existing batch_id=N subdir (which leaves the
    parent's stat untouched), must miss the memo and re-infer."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    key: list = [os.path.realpath(path), st.st_size, st.st_mtime]
    if os.path.isdir(path):
        try:
            names = sorted(os.listdir(path))
        except OSError:
            return None
        kids = []
        for name in names:
            try:
                cst = os.stat(os.path.join(path, name))
            except OSError:
                continue
            kids.append((name, cst.st_size, cst.st_mtime))
        key.append(tuple(kids))
    return tuple(key)


def _memo_put(key: tuple, schema: object) -> None:
    while len(_SCHEMA_MEMO) >= _SCHEMA_MEMO_MAX:
        _SCHEMA_MEMO.pop(next(iter(_SCHEMA_MEMO)))
    _SCHEMA_MEMO[key] = schema


def read_parquet_memo(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` with the same schema memo ``load_table``
    uses (keyed by realpath + stat + immediate-children stats, so
    appends/rewrites that touch the path or any child re-infer): every
    schema-less parquet read runs a one-task footer-inference job before
    the real query — ~0.15-0.3 s of pure scheduling per call, paid on
    every persisted-index/mart read. For written-once marker-guarded
    marts the key is stable for the mart's lifetime; for growing dirs a
    new/rewritten child changes the key and the memo re-infers."""
    key = _memo_key(path)
    if key is None:
        return spark.read.parquet(path)
    schema = _SCHEMA_MEMO.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _memo_put(key, df.schema)
        return df
    return spark.read.schema(schema).parquet(path)


def _params_key(*parts) -> str:
    """Short stable fingerprint of build parameters for cache keys."""
    import hashlib
    import json

    return hashlib.md5(json.dumps(parts, sort_keys=True).encode()).hexdigest()[:10]


def _data_fingerprint(sf_dir: str, table: str) -> list:
    """Cheap corpus fingerprint for build-cache keys: the
    (relpath, size, mtime_ns) of every parquet file backing ``table``.

    Pure filesystem metadata — zero Spark jobs per probe. Regenerated
    testdata at the SAME path (new seed, same name) changes mtime/size, so
    a stale build MISSES instead of silently serving rows from the old
    corpus; a spurious mtime change merely costs one rebuild (safe
    direction). At lake scale the analog is the table snapshot/commit id
    (Delta/Iceberg), which is exactly this: identity of the data files."""
    import glob

    path = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(path):
        files = sorted(
            glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        )
    else:
        files = [path] if os.path.exists(path) else []
    out = []
    for f in files:
        st = os.stat(f)
        out.append((os.path.relpath(f, sf_dir), st.st_size, st.st_mtime_ns))
    return out


def build_once(tag: str, sf_dir: str, key: str, build=None) -> str | None:
    """The engine's one build cache: return the directory
    ``<tmp>/spark_graft_<tag>_<corpus>_<key>``, building it first unless
    a complete build is already there. ``key`` should fold the build's
    parameters and a ``_data_fingerprint`` of every table it reads
    (``_params_key``), so a changed corpus or parameter set misses.

    A miss removes whatever a crashed build left, creates the empty
    directory, runs ``build(dir)`` and only then stamps the ``_BUILT``
    marker, so a partial build is never served. Parquet readers skip
    the underscore-prefixed marker. With ``build=None`` it only looks:
    the directory if a complete build is there, else None."""
    import shutil
    import tempfile

    work = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_{tag}_{os.path.basename(sf_dir.rstrip('/'))}_{key}",
    )
    marker = os.path.join(work, "_BUILT")
    if not os.path.exists(marker):
        if build is None:
            return None
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        build(work)
        with open(marker, "w"):
            pass
    return work


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one test table. Plain parquet read — no .cache(), no schema
    munging — so filters/projections in downstream operators push into the
    scan (check: .explain() shows PushedFilters/ReadSchema)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # events.parquet stores ts as TIMESTAMP(NANOS), which Spark rejects
        # by default (PARQUET_TYPE_ILLEGAL). nanosAsLong is a runtime SQL
        # conf, so set it here rather than in our session factory: callers
        # (the correctness driver, notebooks) bring their own SparkSession.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass  # conf locked down — fall through and let the read decide
    # Testdata written with isAdjustedToUTC=false would surface as
    # TIMESTAMP_NTZ under Spark 4's inferTimestampNTZ, but the whole
    # engine (unix_micros, date_format, window()) speaks TIMESTAMP, and
    # reading as TIMESTAMP keeps ts/o_orderdate predicates pushable into
    # the scan (a post-read cast would strip PushedFilters). Session tz
    # is UTC wherever these tables ship, so the reads are micros-
    # identical to the naive values DuckDB sees.
    try:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    except Exception:
        pass
    df = read_parquet_memo(spark, os.path.join(sf_dir, f"{name}.parquet"))
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        # events.ts as parquet TIMESTAMP(NANOS), surfaced as a long via
        # spark.sql.legacy.parquet.nanosAsLong; convert to a microsecond
        # timestamp (Spark's native precision). Integer `div`, NOT
        # `/1000`: float division round-trips the nano count through a
        # double, which is off by ±1 µs above 2^52 — and 2024 epoch-nanos
        # are ~1.7e18.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Parquet written with isAdjustedToUTC=false surfaces as TIMESTAMP_NTZ
    # under Spark 4's inferTimestampNTZ; the whole engine (unix_micros,
    # date_format, window()) speaks TIMESTAMP. The session tz is UTC in
    # every supported deployment of these test tables, so the cast is
    # micros-identical to the naive values DuckDB reads.
    ntz = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, T.TimestampNTZType)
    ]
    if ntz:
        # The NTZ→TIMESTAMP cast is wall-clock-preserving ONLY under a
        # UTC session zone; under any other zone it silently shifts every
        # value relative to the naive micros DuckDB reads. Fail loud
        # instead of skewing results (our session factory sets UTC; this
        # guards sessions we don't construct).
        tz = spark.conf.get("spark.sql.session.timeZone")
        if tz not in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
            raise ValueError(
                f"load_table({name!r}) must run under a UTC session "
                f"timezone (spark.sql.session.timeZone={tz!r}): the "
                "TIMESTAMP_NTZ→TIMESTAMP cast would shift "
                f"{ntz} relative to the oracle's naive values. Set "
                'spark.conf.set("spark.sql.session.timeZone", "UTC").'
            )
        for c in ntz:
            df = df.withColumn(c, F.col(c).cast(T.TimestampType()))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a session temp view so users can run
    raw ``spark.sql(...)`` against the same data the DataFrame catalog
    reads — the SQL surface the reference's hand-authored per-app SQL
    implies, served by ONE declarative call. Views go through
    ``load_table`` (same nanos handling, same pushdown behavior: a temp
    view over a parquet scan prunes and pushes exactly like the
    DataFrame path — Catalyst sees the identical plan)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def run_sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """One-shot SQL entry point: register the views, run the statement.
    The oracle SQL strings in the catalog are DuckDB-flavored; this runs
    Spark SQL — for most relational queries (joins/aggregates/windows on
    the parity tables) the two dialects coincide."""
    register_views(spark, sf_dir)
    return spark.sql(query)
