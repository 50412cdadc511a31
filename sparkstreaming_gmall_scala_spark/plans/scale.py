"""Scale-technique queries: skew mitigation and multi-level aggregation.

These demonstrate (and oracle-verify) the patterns the 100 TB design
leans on: salting a hot aggregation key, salting a skewed join, and
Catalyst's native ROLLUP. Each produces results identical to the naive
formulation — the DuckDB oracle runs the NAIVE SQL, so the gate proves
the skew-safe plans are semantics-preserving rewrites.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hints import scaled_dim
from ..operators.series import bounded_series_eval, series_entry
from ..operators.skew import salted_agg, salted_join
from ..sources import load_table
from .catalog import register


@register(
    "skew_salted_agg",
    oracle="""
    SELECT event_type,
           CAST(floor(sum(value) * 100 + 0.5) AS DOUBLE) / 100 AS total_value,
           count(*) AS n_events
    FROM events GROUP BY event_type
    """,
    tags=("scale", "skew", "agg"),
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over the events stream table: a hot
    event_type spreads across 16 partial partitions before the final
    combine. Oracle = the naive GROUP BY — identical results, skew-safe
    plan. (Sum in exact cents: a double sum's value depends on partition
    fold order, which salting deliberately changes.)"""
    e = load_table(spark, sf_dir, "events").withColumn(
        "value_cents", F.floor(F.col("value") * 100 + 0.5).cast("long")
    )
    out = salted_agg(
        e,
        keys=["event_type"],
        aggs={
            "total_cents": ("value_cents", "sum"),
            "n_events": ("event_id", "count"),
        },
        salt_col="event_id",
        n_salts=16,
    )
    return out.select(
        "event_type",
        (F.col("total_cents").cast("double") / 100).alias("total_value"),
        "n_events",
    )


@register(
    "skew_salted_join",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, p.p_brand
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    """,
    tags=("scale", "skew", "join"),
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join: lineitem's (possibly hot) part keys spread over
    8 salt buckets; part is replicated 8×. Oracle = the plain join —
    identical rows, no single-partition hot spot. The trade is explicit:
    8× the (dim-sized) build side for 8× the hot-key parallelism."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    out = salted_join(
        li, p, left_key="l_partkey", right_key="p_partkey",
        salt_source="l_linenumber", n_salts=8,
    )
    return out.select("l_orderkey", "l_linenumber", "p_brand")


@register(
    "price_quantiles",
    oracle="""
    SELECT p.p_brand,
           floor(quantile_cont(l.l_extendedprice, 0.5) * 100 + 0.5) / 100 AS median_price,
           floor(quantile_cont(l.l_extendedprice, 0.9) * 100 + 0.5) / 100 AS p90_price,
           count(*) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
    tags=("scale", "agg", "quantile"),
)
def price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per brand (median + p90) — both
    engines use the same linear-interpolation definition; results are
    2-dp-rounded so a last-ulp arithmetic difference can't flip the hash.
    The dim side is AQE-broadcast at bench SF (no pinned hint — part
    scales with sf); one shuffle on brand.

    NOTE: exact percentile's aggregation buffer holds every value in the
    group — fine at oracle scale, unbounded at 100 TB. The production
    form is ``price_quantiles_approx`` (mergeable bounded-memory sketch);
    this exact twin exists because its result is engine-portable and
    hash-checkable."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(scaled_dim(p), li.l_partkey == p.p_partkey)
    r2 = lambda c: F.floor(c * 100 + 0.5) / 100  # noqa: E731
    return j.groupBy("p_brand").agg(
        r2(F.percentile("l_extendedprice", F.lit(0.5))).alias("median_price"),
        r2(F.percentile("l_extendedprice", F.lit(0.9))).alias("p90_price"),
        F.count(F.lit(1)).alias("n_items"),
    )


# Per-stratum keep thresholds (first 4 hex chars of md5(event_id) <= t):
# keep rate = (int(t,16)+1)/65536.
_SAMPLE_THRESHOLDS = {
    "error": "ffff",     # keep all errors (rare-and-precious stratum)
    "purchase": "7fff",  # 50%
    "click": "3fff",     # 25%
}
_SAMPLE_DEFAULT = "0fff"  # 6.25% for view/signup/anything else


@register(
    "stratified_sample",
    oracle="""
    SELECT event_id, event_type, user_id
    FROM events
    WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 4) <=
          CASE event_type
            WHEN 'error' THEN 'ffff'
            WHEN 'purchase' THEN '7fff'
            WHEN 'click' THEN '3fff'
            ELSE '0fff'
          END
    """,
    tags=("scale", "sampling"),
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-stratified sample of the events stream: keep
    rates per event_type (errors 100%, purchases 50%, clicks 25%, rest
    6.25%) decided by md5(event_id) — reproducible on any engine or
    retry, zero shuffle, filter pushed to the scan."""
    from ..operators.sampling import hash_stratified_sample

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    return hash_stratified_sample(
        e, key_col="event_id", strata_col="event_type",
        thresholds=_SAMPLE_THRESHOLDS, default_threshold=_SAMPLE_DEFAULT,
    )


@register(
    "order_status_cube",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100
             AS revenue,
           count(*) AS n_orders
    FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
    tags=("scale", "agg", "cube"),
)
def order_status_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four grouping combinations (priority×status, priority, status,
    grand total) in ONE pass via CUBE — §2.4's grouping-sets row. Cents
    sums keep every level partition-order-independent."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    return o.cube("o_orderpriority", "o_orderstatus").agg(
        (F.sum("cents").cast("double") / 100).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "revenue_rollup",
    oracle="""
    SELECT r.r_name AS region_name, n.n_name AS nation_name,
           CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100
             AS revenue,
           count(*) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
    tags=("scale", "agg", "rollup"),
)
def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level totals (region → nation → grand total) in ONE pass via
    ROLLUP — the §2.4 'free via Catalyst' aggregate the reference would
    need three jobs for. Money summed in exact integer cents so the
    rollup levels are partition-order-independent."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            F.col("r_name").alias("region_name"),
            F.col("n_name").alias("nation_name"),
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
        )
    )
    return joined.rollup("region_name", "nation_name").agg(
        (F.sum("cents").cast("double") / 100).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "price_quantiles_approx",
    # approx_percentile's sketch is engine-specific (Greenwald-Khanna
    # variant) — no DuckDB oracle; pytest bounds the rank error against
    # the exact form instead (the dau_approx pattern).
    oracle=None,
    tags=("scale", "agg", "quantile", "approx"),
)
def price_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of ``price_quantiles``: ``approx_percentile`` keeps
    a bounded mergeable sketch per group (state O(accuracy), rank error
    ≤ n/accuracy) instead of exact percentile's collect-every-value
    buffer — the only formulation that survives a group with billions of
    rows. Same plan shape otherwise: AQE-broadcast dim, one shuffle on brand,
    partial-aggregated sketches merged map-side."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(scaled_dim(p), li.l_partkey == p.p_partkey)
    r2 = lambda c: F.floor(c * 100 + 0.5) / 100  # noqa: E731
    acc = F.lit(10_000)
    return j.groupBy("p_brand").agg(
        r2(
            F.percentile_approx("l_extendedprice", F.lit(0.5), acc)
        ).alias("median_price"),
        r2(
            F.percentile_approx("l_extendedprice", F.lit(0.9), acc)
        ).alias("p90_price"),
        F.count(F.lit(1)).alias("n_items"),
    )


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Ensure bucketed external copies of orders/customer (8 buckets on
    the customer key, bucket-sorted) exist for this corpus
    (``sources.tables.build_once``) and are registered in THIS session's
    catalog (the default in-memory catalog is session-scoped, so a
    reusing session re-registers the existing files via CREATE TABLE ...
    CLUSTERED BY ... LOCATION; after a build they already are)."""
    import os

    from ..sources.tables import _data_fingerprint, _params_key, build_once

    key = _params_key("bkt8", _data_fingerprint(sf_dir, "orders"))
    tbl_o, tbl_c = f"bkt_orders_{key}", f"bkt_customer_{key}"

    def build(work: str) -> None:
        spark.sql(f"DROP TABLE IF EXISTS {tbl_o}")
        spark.sql(f"DROP TABLE IF EXISTS {tbl_c}")
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        ).write.bucketBy(8, "o_custkey").sortBy("o_custkey").option(
            "path", os.path.join(work, "orders")
        ).saveAsTable(tbl_o)
        load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_nationkey"
        ).write.bucketBy(8, "c_custkey").sortBy("c_custkey").option(
            "path", os.path.join(work, "customer")
        ).saveAsTable(tbl_c)

    work = build_once("bktidx", sf_dir, key, build)
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {tbl_o} "
        "(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE) "
        "USING parquet CLUSTERED BY (o_custkey) SORTED BY (o_custkey) "
        f"INTO 8 BUCKETS LOCATION '{work}/orders'"
    )
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {tbl_c} "
        "(c_custkey BIGINT, c_nationkey BIGINT) "
        "USING parquet CLUSTERED BY (c_custkey) SORTED BY (c_custkey) "
        f"INTO 8 BUCKETS LOCATION '{work}/customer'"
    )
    return tbl_o, tbl_c


@register(
    "bucketed_customer_orders",
    oracle="""
    SELECT CAST(c.c_nationkey AS BIGINT) AS nationkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_buyers,
           CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS total_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
    tags=("scale", "layout", "join"),
)
def bucketed_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The storage-level co-located join — Spark's one TRUE shuffle-free
    join lever at 100 TB: orders and customer live as bucketed tables
    (8 buckets on the customer key, bucket-sorted), so the fact-fact
    sort-merge join reads matching buckets directly with ZERO exchange
    on either side (plan-guarded in tests/test_plan_properties.py with
    auto-broadcast disabled — at real scale the customer side is ~2.5 TB
    and cannot broadcast, which is exactly when bucketing pays). The
    result is the plain join+agg the oracle writes; only the physical
    strategy differs. One-time bucket write amortizes across every
    co-located consumer, the same build-vs-probe economics as the knn
    persisted indexes."""
    tbl_o, tbl_c = _bucketed_tables(spark, sf_dir)
    ob, cb = spark.table(tbl_o), spark.table(tbl_c)
    return (
        ob.join(cb, ob["o_custkey"] == cb["c_custkey"])
        .groupBy(cb["c_nationkey"])
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count_distinct(ob["o_custkey"]).alias("n_buyers"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("total_cents"),
        )
        .select(
            F.col("c_nationkey").cast("long").alias("nationkey"),
            "n_orders",
            "n_buyers",
            "total_cents",
        )
    )


@register(
    "bucketed_point_lookup",
    oracle="""
    SELECT CAST(o_custkey AS BIGINT) AS custkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS total_cents
    FROM orders
    WHERE o_custkey = (SELECT min(o_custkey) FROM orders)
    GROUP BY 1
    """,
    tags=("scale", "layout", "prune", "bucket"),
)
def bucketed_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUCKET PRUNING — the third pruning form next to static partition
    pruning and DPP: an equality literal on the bucket column lets the
    scan read exactly ONE of the 8 bucket files
    (``SelectedBucketsCount: 1 out of 8`` in the scan node,
    plan-guarded in tests/test_bucketed.py). At 100 TB this is the
    point-lookup story for a bucketed fact: a single customer's order
    profile reads 1/|buckets| of the table with no index structure at
    all — the same one-time bucket write that killed the join shuffle
    (bucketed_customer_orders) also serves key lookups. The lookup key
    is min(o_custkey), discovered with one bounded aggregate collect
    (the sanctioned post-agg scalar) so the filter is a PLANNING-time
    literal — a scalar subquery would defeat bucket pruning, which is
    exactly the point the plan guard pins."""
    tbl_o, _ = _bucketed_tables(spark, sf_dir)
    ob = spark.table(tbl_o)
    key = ob.agg(F.min("o_custkey")).first()[0]
    return (
        ob.filter(F.col("o_custkey") == F.lit(int(key)))
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("total_cents"),
        )
        .select(
            F.col("o_custkey").cast("long").alias("custkey"),
            "n_orders",
            "total_cents",
        )
    )


def _bucketed_ol_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Ensure bucketed external copies of orders/lineitem co-bucketed on
    the ORDER key (8 buckets, bucket-sorted) exist under /tmp for this
    corpus — the reference's own J1 join shape (order header × order
    detail, dws/OrderWideApp.scala:98-111) served by the storage layout
    instead of a per-batch shuffle. Same build cache and registration
    as :func:`_bucketed_tables`."""
    import os

    from ..sources.tables import _data_fingerprint, _params_key, build_once

    key = _params_key("bktol8", _data_fingerprint(sf_dir, "lineitem"))
    tbl_o, tbl_l = f"bktol_orders_{key}", f"bktol_lineitem_{key}"

    def build(work: str) -> None:
        spark.sql(f"DROP TABLE IF EXISTS {tbl_o}")
        spark.sql(f"DROP TABLE IF EXISTS {tbl_l}")
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority"
        ).write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").option(
            "path", os.path.join(work, "orders")
        ).saveAsTable(tbl_o)
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        ).write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").option(
            "path", os.path.join(work, "lineitem")
        ).saveAsTable(tbl_l)

    work = build_once("bktolidx", sf_dir, key, build)
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {tbl_o} "
        "(o_orderkey BIGINT, o_orderpriority STRING) "
        "USING parquet CLUSTERED BY (o_orderkey) SORTED BY (o_orderkey) "
        f"INTO 8 BUCKETS LOCATION '{work}/orders'"
    )
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {tbl_l} "
        "(l_orderkey BIGINT, l_extendedprice DOUBLE, l_discount DOUBLE) "
        "USING parquet CLUSTERED BY (l_orderkey) SORTED BY (l_orderkey) "
        f"INTO 8 BUCKETS LOCATION '{work}/lineitem'"
    )
    return tbl_o, tbl_l


from .parity import _REV_SQL as _REV_SQL_OL  # noqa: E402


@register(
    "bucketed_order_lineitem",
    oracle=f"""
    WITH per_order AS (
      SELECT o.o_orderkey, o.o_orderpriority,
             sum({_REV_SQL_OL}) AS rev, count(*) AS n_lines
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2
    )
    SELECT o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(n_lines) AS BIGINT) AS n_lines,
           CAST(round(sum(rev), 2) AS DOUBLE) AS revenue
    FROM per_order GROUP BY 1
    """,
    tags=("scale", "layout", "join"),
)
def bucketed_order_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-located FACT × FACT join on the reference's own J1 shape —
    order header × order detail (dws/OrderWideApp.scala:98-111), the
    join the reference re-keys and re-shuffles EVERY micro-batch.
    Lake-first, both tables live co-bucketed on the order key, so at
    100 TB the two heaviest tables in the warehouse join with ZERO
    exchange on either side AND the per-order rollup reuses the same
    scan partitioning (HashPartitioning(o_orderkey) satisfies the
    (o_orderkey, o_orderpriority) clustering), leaving exactly ONE
    exchange in the whole plan: the final |priorities|-row rollup of
    already-partial-aggregated rows (plan-guarded in
    tests/test_bucketed.py with auto-broadcast disabled). Money stays
    DECIMAL(18,2) end-to-end (the trademark_stat discipline), so the
    double cast at the very end is exact cross-engine."""
    from .parity import _revenue_dec

    tbl_o, tbl_l = _bucketed_ol_tables(spark, sf_dir)
    ob, lb = spark.table(tbl_o), spark.table(tbl_l)
    per_order = (
        ob.join(lb, ob["o_orderkey"] == lb["l_orderkey"])
        .groupBy(ob["o_orderkey"], ob["o_orderpriority"])
        .agg(
            F.sum(_revenue_dec()).alias("rev"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
    return per_order.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("n_lines").alias("n_lines"),
        F.round(F.sum("rev"), 2).cast("double").alias("revenue"),
    ).select(
        F.col("o_orderpriority").alias("priority"),
        "n_orders",
        "n_lines",
        "revenue",
    )


@register(
    "events_day_prune",
    oracle="""
    SELECT event_type,
           CAST(hour(ts) AS BIGINT) AS hr,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM events
    WHERE CAST(ts AS DATE) = DATE '2024-01-15'
    GROUP BY 1, 2
    """,
    tags=("scale", "layout", "prune"),
)
def events_day_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATIC partition pruning — the time-slice read every operational
    dashboard runs: one day's per-type hourly profile off the
    dt-partitioned events copy (sources/partitioned.py). The literal dt
    predicate lands in the scan's PartitionFilters, so every other day's
    directory is dropped at PLANNING time — zero bytes read outside the
    slice (plan-guarded in tests/test_partitioned.py: exactly one
    partition directory survives). At 100 TB (~3 years of ~90 GB days)
    this query reads 0.1% of the table no matter how big the table
    gets; the unpartitioned layout reads all of it to throw 99.9% away
    at the filter. Completes the storage-layout trio: bucketing kills
    the join shuffle, z-order packs multi-dimensional locality, dt
    partitioning kills the time-slice scan."""
    from ..sources.partitioned import read_partitioned_events

    ev = read_partitioned_events(spark, sf_dir)
    return (
        ev.filter(F.col("dt") == F.lit("2024-01-15").cast("date"))
        .groupBy("event_type", F.hour("ts").cast("long").alias("hr"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.floor(F.col("value") * 100 + 0.5).cast("long")
            ).alias("value_cents"),
        )
    )


@register(
    "events_dpp_join",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS purchase_cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), top5 AS (
      SELECT d, purchase_cents FROM (
        SELECT d, purchase_cents,
               row_number() OVER (ORDER BY purchase_cents DESC, d) AS rn
        FROM daily
      ) WHERE rn <= 5
    )
    SELECT CAST(CAST(e.ts AS DATE) AS VARCHAR) AS day, e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM events e JOIN top5 t ON CAST(e.ts AS DATE) = t.d
    GROUP BY 1, 2
    """,
    tags=("scale", "layout", "prune", "dpp"),
)
def events_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning — the star-schema scan killer: full
    per-type activity on the 5 busiest purchase days, where "busiest"
    is only known at RUNTIME. The dim side (top-5 days by purchase
    cents, deterministic tie-break on day) executes first; Spark reuses
    its broadcast as a runtime partition filter on the dt-partitioned
    fact scan (``dynamicpruning`` subquery in PartitionFilters,
    plan-guarded in tests/test_partitioned.py), so the fact read touches
    5 of |days| directories even though no literal date appears anywhere
    in the query. At 100 TB this is the difference between scanning the
    full fact table under a dim-filtered join (the plain star-join plan)
    and reading only the qualifying partitions — DPP is free once the
    layout pays the dt partitioning, and composes with the broadcast
    join AQE already picks for the 5-row dim."""
    from ..sources.partitioned import read_partitioned_events

    ev = read_partitioned_events(spark, sf_dir)
    cents = lambda c: F.floor(F.col(c) * 100 + 0.5).cast("long")  # noqa: E731
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("dt").alias("d"))
        .agg(F.sum(cents("value")).alias("purchase_cents"))
    )
    w = Window.orderBy(F.col("purchase_cents").desc(), F.col("d"))
    top5 = (
        daily.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("d")
    )
    return (
        ev.join(top5, ev["dt"] == top5["d"])
        .groupBy(
            F.col("dt").cast("string").alias("day"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents("value")).alias("value_cents"),
        )
    )


from ..operators.zorder import z_expr_sql as _z_expr_sql

_ZEXPR = _z_expr_sql(("l_partkey", "l_suppkey"), bits=16)


@register(
    "zorder_keys",
    oracle=f"""
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           CAST({_ZEXPR} AS BIGINT) AS zval
    FROM lineitem
    """,
    tags=("scale", "layout"),
)
def zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (z-order) code of every lineitem over (l_partkey,
    l_suppkey) — the layout key behind multi-dimensional file pruning
    (operators/zorder.py; Delta/Iceberg OPTIMIZE ZORDER BY). Pure
    integer bit arithmetic in one whole-stage-codegen expression, zero
    shuffle, zero UDF; the IDENTICAL expression string runs in the
    DuckDB oracle, so the bit interleave is value-hash-verified. The
    layout job itself (global z-sort into bucket envelopes) is
    exercised and measured in tests/test_zorder.py."""
    from ..operators.zorder import with_zvalue

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    return with_zvalue(li, ("l_partkey", "l_suppkey"), bits=16)


from ..operators.histogram import histogram_oracle_sql as _hist_oracle  # noqa: E402


@register(
    "value_histogram",
    oracle=_hist_oracle("events", "value", 32),
    tags=("scale", "sketch", "agg"),
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bin fixed histogram of event values with in-query bounds —
    the persistable, additively-mergeable distribution sketch
    (operators/histogram.py) behind streaming percentile dashboards.
    One scalar-bounds agg broadcast into the scan + one map-side-
    combined groupBy; output bounded by 32 rows at any input size. The
    binning expression tree is shared verbatim with the oracle, so the
    float arithmetic hash-matches."""
    from ..operators.histogram import fixed_histogram

    ev = load_table(spark, sf_dir, "events").select("value")
    return fixed_histogram(ev, "value", n_bins=32)


@register(
    "table_profile",
    oracle="""
    SELECT 'o_orderstatus' AS col, count(*) AS n_rows,
           CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           count(DISTINCT o_orderstatus) AS n_distinct,
           CAST(min(o_orderstatus) AS VARCHAR) AS min_s,
           CAST(max(o_orderstatus) AS VARCHAR) AS max_s
    FROM orders
    UNION ALL
    SELECT 'o_custkey', count(*),
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT o_custkey),
           CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*),
           CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT o_totalprice),
           CAST(CAST(min(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR),
           CAST(CAST(max(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', count(*),
           CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT o_orderpriority),
           CAST(min(o_orderpriority) AS VARCHAR),
           CAST(max(o_orderpriority) AS VARCHAR)
    FROM orders
    """,
    tags=("scale", "profile", "agg"),
)
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profile of orders (row count, null count,
    exact distinct, min/max rendered to strings): the statistics pass a
    lakehouse runs before planning. ONE scan computes every column's
    profile — the per-column aggregates all fold in the same
    partial-aggregation pass (count_distinct rewrites to expand +
    two-phase agg under the hood), instead of the naive one-scan-per-
    column loop the oracle spells out. At 100 TB swap the exact
    distincts for approx_count_distinct; exact keeps the oracle
    hash-checkable here."""
    o = load_table(spark, sf_dir, "orders")
    cols = ["o_orderstatus", "o_custkey", "o_totalprice", "o_orderpriority"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        mn, mx = F.min(c), F.max(c)
        if c == "o_totalprice":
            mn, mx = mn.cast("decimal(18,2)"), mx.cast("decimal(18,2)")
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}__distinct"),
            mn.cast("string").alias(f"{c}__min"),
            mx.cast("string").alias(f"{c}__max"),
        ]
    one_row = o.agg(*aggs)
    # unpivot the single metrics row into one row per column: stack is a
    # pure projection, so the whole profile stays ONE scan + one
    # (Expand-based multi-distinct) aggregation
    stack_args = ", ".join(
        f"'{c}', n_rows, {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c in cols
    )
    return one_row.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(col, n_rows, n_nulls, n_distinct, min_s, max_s)"
        )
    )


@register(
    "expectations_check",
    oracle="""
    SELECT 'orderkey_unique' AS rule, count(*) AS n_rows,
           CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS n_violations
    FROM orders
    UNION ALL
    SELECT 'totalprice_nonneg', count(*),
           CAST(sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'status_in_domain', count(*),
           CAST(sum(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orderdate_in_range', count(*),
           CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01 00:00:00'
                           OR o_orderdate >= TIMESTAMP '2005-01-01 00:00:00'
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'priority_format', count(*),
           CAST(sum(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-')
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    """,
    tags=("scale", "quality", "agg"),
)
def expectations_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-expectations audit (the Great-Expectations /
    Deequ-style gate a pipeline runs before letting a batch into the
    lakehouse): five rules — key uniqueness, non-negative money, status
    domain, date sanity range, priority format — evaluated over orders
    in ONE scan. Every rule is a conditional sum folded into the same
    partial aggregation (uniqueness rides the multi-distinct Expand
    pass), then a stack unpivot emits one row per rule; the oracle
    spells out the naive scan-per-rule UNION the single pass replaces.
    At 100 TB the violation counts stay exact while touching each row
    once — the difference between an audit that runs nightly and one
    that gets skipped. The rule set and the fold live in
    operators/quality.py — the same definitions drive the streaming
    gate's per-batch partials and the quarantine router."""
    from ..operators.quality import expectation_counts, orders_rules

    o = load_table(spark, sf_dir, "orders")
    return expectation_counts(
        o,
        orders_rules(),
        table_rules=[
            (
                "orderkey_unique",
                F.count(F.lit(1)) - F.count_distinct(F.col("o_orderkey")),
            )
        ],
    )


@register(
    "fk_orphans",
    oracle="""
    SELECT 'lineitem->orders' AS edge, count(*) AS n_child,
           CAST(sum(CASE WHEN NOT EXISTS (SELECT 1 FROM orders o
                                          WHERE o.o_orderkey = l.l_orderkey)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
    FROM lineitem l
    UNION ALL
    SELECT 'lineitem->part', count(*),
           CAST(sum(CASE WHEN NOT EXISTS (SELECT 1 FROM part p
                                          WHERE p.p_partkey = l.l_partkey)
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem l
    UNION ALL
    SELECT 'lineitem->supplier', count(*),
           CAST(sum(CASE WHEN NOT EXISTS (SELECT 1 FROM supplier s
                                          WHERE s.s_suppkey = l.l_suppkey)
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem l
    UNION ALL
    SELECT 'orders->customer', count(*),
           CAST(sum(CASE WHEN NOT EXISTS (SELECT 1 FROM customer c
                                          WHERE c.c_custkey = o.o_custkey)
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders o
    UNION ALL
    SELECT 'orders_without_lineitem', count(*),
           CAST(sum(CASE WHEN NOT EXISTS (SELECT 1 FROM lineitem l
                                          WHERE l.l_orderkey = o.o_orderkey)
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders o
    """,
    tags=("scale", "quality", "join", "agg"),
)
def fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit of the star schema: orphan counts for
    every foreign-key edge (child keys missing their parent) plus the
    reverse childless check (orders that never got a line — the dangling
    fact a join-based report silently drops). The three lineitem edges
    share ONE fact scan: parent key sets attach as left joins (part and
    supplier broadcast; orders shuffles on the natural key) and a single
    aggregation counts the null-parent rows per edge — not the
    NOT-EXISTS-per-edge rescans the oracle spells out. The orders-side
    edges ride one more scan each. Match flags are computed from the
    join-key columns themselves, so the parent sides project to ONE
    column before shuffling/broadcasting."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    o_keys = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_orderkey").alias("_ok"))
        .distinct()
    )
    p_keys = (
        load_table(spark, sf_dir, "part")
        .select(F.col("p_partkey").alias("_pk"))
        .distinct()
    )
    s_keys = (
        load_table(spark, sf_dir, "supplier")
        .select(F.col("s_suppkey").alias("_sk"))
        .distinct()
    )
    li_audit = (
        li.join(o_keys, li.l_orderkey == F.col("_ok"), "left")
        .join(scaled_dim(p_keys), li.l_partkey == F.col("_pk"), "left")
        .join(scaled_dim(s_keys), li.l_suppkey == F.col("_sk"), "left")
        .agg(
            F.count(F.lit(1)).alias("n_child"),
            F.sum(F.col("_ok").isNull().cast("long")).alias("no_order"),
            F.sum(F.col("_pk").isNull().cast("long")).alias("no_part"),
            F.sum(F.col("_sk").isNull().cast("long")).alias("no_supp"),
        )
        .select(
            F.expr(
                "stack(3, 'lineitem->orders', n_child, no_order, "
                "'lineitem->part', n_child, no_part, "
                "'lineitem->supplier', n_child, no_supp) AS "
                "(edge, n_child, n_orphans)"
            )
        )
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c_keys = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("_ck"))
        .distinct()
    )
    o_cust = (
        o.join(c_keys, o.o_custkey == F.col("_ck"), "left")
        .agg(
            F.count(F.lit(1)).alias("n_child"),
            F.sum(F.col("_ck").isNull().cast("long")).alias("n_orphans"),
        )
        .select(F.lit("orders->customer").alias("edge"), "n_child", "n_orphans")
    )
    li_keys = li.select(F.col("l_orderkey").alias("_lk")).distinct()
    o_childless = (
        o.join(li_keys, o.o_orderkey == F.col("_lk"), "left")
        .agg(
            F.count(F.lit(1)).alias("n_child"),
            F.sum(F.col("_lk").isNull().cast("long")).alias("n_orphans"),
        )
        .select(
            F.lit("orders_without_lineitem").alias("edge"),
            "n_child",
            "n_orphans",
        )
    )
    return li_audit.unionAll(o_cust).unionAll(o_childless)


@register(
    "revenue_pareto",
    oracle="""
    WITH rev AS (
      SELECT p.p_brand AS brand,
             sum(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (CAST(1 AS DECIMAL(18,2))
                    - CAST(l_discount AS DECIMAL(18,2)))) AS rev_dec
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand
    )
    SELECT brand,
           CAST(round(rev_dec, 2) AS DOUBLE) AS revenue,
           floor((CAST(sum(rev_dec) OVER w AS DOUBLE)
                  / CAST(sum(rev_dec) OVER () AS DOUBLE)) * 1000000 + 0.5)
             / 1000000 AS cum_share,
           CASE WHEN floor((CAST(sum(rev_dec) OVER w AS DOUBLE)
                            / CAST(sum(rev_dec) OVER () AS DOUBLE))
                           * 1000000 + 0.5) / 1000000 <= 0.8 THEN 'A'
                WHEN floor((CAST(sum(rev_dec) OVER w AS DOUBLE)
                            / CAST(sum(rev_dec) OVER () AS DOUBLE))
                           * 1000000 + 0.5) / 1000000 <= 0.95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM rev
    WINDOW w AS (ORDER BY rev_dec DESC, brand
                 ROWS UNBOUNDED PRECEDING)
    """,
    tags=("scale", "window", "ratio-to-report", "agg"),
)
def revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC/Pareto classification of brands by revenue: cumulative share
    of total, classes A (top 80%), B (to 95%), C (tail) — the
    ratio-to-report window surface (share-of-total + running share over
    the SAME frame). Both windows run over the AGGREGATED frame — one
    row per brand, bounded by brand cardinality, so the unpartitioned
    cumsum is a one-task sort of a dimension-sized frame, never of the
    fact (contrast top_supplier, where the scalar-max broadcast avoids
    exactly this because suppliers can be fact-scale). The cumulative
    and total sums stay DECIMAL (exact at any accumulation order);
    only the final share divides as double, 6-dp-floored, and the class
    thresholds compare against the floored share so a last-ulp wiggle
    can't flip a brand's class differently across engines."""
    from pyspark.sql import Window as W

    from ..plans.parity import _revenue_dec

    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rev = (
        li.join(scaled_dim(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(F.sum(_revenue_dec()).alias("rev_dec"))
    )
    w = W.orderBy(F.col("rev_dec").desc(), "brand").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    wall = W.partitionBy().rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    share = (
        F.floor(
            (
                F.sum("rev_dec").over(w).cast("double")
                / F.sum("rev_dec").over(wall).cast("double")
            )
            * 1e6
            + 0.5
        )
        / 1e6
    )
    return rev.select(
        "brand",
        F.round(F.col("rev_dec"), 2).cast("double").alias("revenue"),
        share.alias("cum_share"),
        F.when(share <= 0.8, "A")
        .when(share <= 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


@register(
    "events_sample_k",
    oracle="""
    SELECT event_id, event_type, user_id FROM (
      SELECT event_id, event_type, user_id,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
             ) AS rk
      FROM events
    ) WHERE rk <= 50
    """,
    tags=("scale", "sampling", "window"),
)
def events_sample_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY 50 events per event_type, deterministically
    (operators/sampling.py:group_sample_k): where stratified_sample fixes
    the keep RATE, this fixes the COUNT — the "100 docs per language"
    eval-slice contract that a rate over- or under-shoots on small
    strata. Rank by md5(key) = a uniform retry-stable order; rank ≤ k
    runs as WindowGroupLimit so each partition forwards at most k rows
    per stratum before the exchange — a hot stratum never fully sorts."""
    from ..operators.sampling import group_sample_k

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    return group_sample_k(e, key_col="event_id", strata_col="event_type", k=50)


@register(
    "value_outliers",
    oracle="""
    WITH m AS (
      SELECT event_type,
             count(*) AS n,
             sum(CAST(value AS DECIMAL(18,2))) AS s1,
             sum(CAST(value AS DECIMAL(18,2))
                 * CAST(value AS DECIMAL(18,2))) AS s2
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           CAST(CAST(e.value AS DECIMAL(18,2)) AS DOUBLE) AS value,
           floor(((CAST(e.value AS DOUBLE)
                   - CAST(m.s1 AS DOUBLE) / m.n)
                  / sqrt((CAST(m.s2 AS DOUBLE)
                          - CAST(m.s1 AS DOUBLE) * CAST(m.s1 AS DOUBLE) / m.n)
                         / (m.n - 1))) * 1000000 + 0.5) / 1000000 AS zscore
    FROM events e JOIN m ON e.event_type = m.event_type
    WHERE m.n > 1
      AND CAST(m.s2 AS DOUBLE)
          - CAST(m.s1 AS DOUBLE) * CAST(m.s1 AS DOUBLE) / m.n > 0
      AND abs((CAST(e.value AS DOUBLE) - CAST(m.s1 AS DOUBLE) / m.n)
              / sqrt((CAST(m.s2 AS DOUBLE)
                      - CAST(m.s1 AS DOUBLE) * CAST(m.s1 AS DOUBLE) / m.n)
                     / (m.n - 1))) > 3.0
    """,
    tags=("scale", "stats", "agg", "quality"),
)
def value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type 3-sigma outlier events — the statistical quality filter
    (anomalous amounts, sensor glitches) next to the rule-based
    expectations gate. stddev_samp's float accumulation is partition-
    order-dependent, so the moments are EXACT DECIMAL sums (n, Σx, Σx²)
    and the sample variance derives as (Σx² − (Σx)²/n)/(n−1) in one
    fixed double tree — identical both engines, z-scores 6-dp-floored.
    One aggregation builds the per-type moments (a handful of rows,
    broadcast back), one more scan applies the threshold; degenerate
    strata (n ≤ 1 or zero variance) emit nothing rather than NaN."""
    e = load_table(spark, sf_dir, "events")
    vdec = F.col("value").cast("decimal(18,2)")
    m = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vdec).alias("s1"),
        F.sum(vdec * vdec).alias("s2"),
    )
    s1d, s2d = F.col("s1").cast("double"), F.col("s2").cast("double")
    var = (s2d - s1d * s1d / F.col("n")) / (F.col("n") - 1)
    numer = F.col("value").cast("double") - s1d / F.col("n")
    z = numer / F.sqrt(var)
    return (
        e.join(F.broadcast(m), "event_type")
        .filter(
            (F.col("n") > 1)
            & (s2d - s1d * s1d / F.col("n") > 0)
            & (F.abs(z) > 3.0)
        )
        .select(
            "event_id",
            "event_type",
            vdec.cast("double").alias("value"),
            (F.floor(z * 1e6 + 0.5) / 1e6).alias("zscore"),
        )
    )


@register(
    "weighted_doc_sample",
    oracle="""
    SELECT doc_id, lang, source, n_chars FROM (
      SELECT doc_id, lang, source, n_chars,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY
                 ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                          AS BIGINT) + 0.5) / 4294967296.0)
                 / CAST(greatest(1, n_chars) AS DOUBLE) DESC,
                 doc_id
             ) AS rk
      FROM documents
    ) WHERE rk <= 50
    """,
    tags=("scale", "sampling", "weighted", "window"),
)
def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY 50 docs per language sampled with probability proportional
    to LENGTH (operators/sampling.py:weighted_sample_k, Efraimidis-
    Spirakis A-ES): group_sample_k's uniform draw over-represents short
    docs by token share; weighting by n_chars makes the eval slice
    token-representative — the standard corpus-inspection sample. The
    A-ES priority ln(u)/w uses a hash-uniform u (first 8 md5 hex chars),
    so the sample is retry-stable and the DuckDB oracle runs the
    IDENTICAL expression tree; rank <= k executes as WindowGroupLimit
    (partial per-partition top-k before the one stratum exchange — the
    corpus never fully sorts)."""
    from ..operators.sampling import weighted_sample_k

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    return weighted_sample_k(
        docs, key_col="doc_id", weight_col="n_chars", k=50, strata_col="lang"
    )


from ..operators.sampling import split_thresholds as _split_thresholds  # noqa: E402

_SPLITS = [("train", 0.9), ("val", 0.05), ("test", 0.05)]
_T = _split_thresholds(_SPLITS)  # [('train', 0xe666), ('val', 0xf333), ('test', 0x10000)]


@register(
    "corpus_split",
    oracle=f"""
    SELECT CASE
             WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                  < '{format(_T[0][1], "04x")}' THEN 'train'
             WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                  < '{format(_T[1][1], "04x")}' THEN 'val'
             ELSE 'test'
           END AS split,
           lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars
    FROM documents
    GROUP BY 1, 2
    """,
    tags=("scale", "sampling", "split"),
)
def corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """90/5/5 train/val/test assignment audit, per language
    (operators/sampling.py:hash_split): every doc's split comes from its
    key's 16-bit md5 bucket vs exact cumulative-fraction thresholds —
    reproducible across runs/engines/retries, and stable under corpus
    growth (new docs join a split without reshuffling old ones — the
    property randomSplit lacks, its assignment moving with partitioning
    and seed plumbing). The label is one scan-side CASE inside
    whole-stage codegen: zero shuffle to assign, one groupBy to audit
    the realized mixture."""
    from ..operators.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    return (
        hash_split(docs, "doc_id", _SPLITS)
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
        )
    )


@register(
    "mad_outliers",
    oracle="""
    WITH v AS (
      SELECT event_id, event_type,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v6
      FROM events
    ), med AS (
      SELECT event_type, CAST(2 * median(v6) AS BIGINT) AS med2x
      FROM v GROUP BY 1
    ), dev AS (
      SELECT v.event_id, v.event_type, v.v6, med.med2x,
             abs(2 * v.v6 - med.med2x) AS dev2x
      FROM v JOIN med USING (event_type)
    ), mad AS (
      SELECT event_type, CAST(2 * median(dev2x) AS BIGINT) AS mad4x
      FROM dev GROUP BY 1
    )
    SELECT event_id, event_type, v6, med2x, dev2x, mad4x
    FROM dev JOIN mad USING (event_type)
    WHERE 2 * dev2x > 3 * mad4x
    """,
    tags=("scale", "stats", "quality"),
)
def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outliers per event_type — the heavy-tail-safe
    twin of value_outliers (a single extreme value inflates the mean AND
    the stddev, hiding its neighbours; the median and the median
    absolute deviation don't move). All arithmetic is INTEGER: the
    median of ints doubles to the exact int med2x = a+b, deviations use
    dev2x = |2·v6 − med2x|, MAD quadruples to mad4x, and the 3-MAD flag
    is 2·dev2x > 3·mad4x — no float ever forms, so cross-engine
    equality is arithmetic. Two aggregation passes (median, then MAD of
    deviations) with dimension-sized broadcasts back; at 100 TB the
    exact per-group median agg swaps for approx_percentile — the flag
    inequality is unchanged."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 1e6 + 0.5).cast("long").alias("v6"),
    )
    med = e.groupBy("event_type").agg(
        (F.lit(2) * F.median("v6")).cast("long").alias("med2x")
    )
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "dev2x", F.abs(F.lit(2) * F.col("v6") - F.col("med2x"))
    )
    mad = dev.groupBy("event_type").agg(
        (F.lit(2) * F.median("dev2x")).cast("long").alias("mad4x")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.lit(2) * F.col("dev2x") > F.lit(3) * F.col("mad4x"))
        .select("event_id", "event_type", "v6", "med2x", "dev2x", "mad4x")
    )


@register(
    "type_hour_chi2",
    oracle="""
    WITH o AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr, count(*) AS o
      FROM events GROUP BY 1, 2
    ), rt AS (
      SELECT event_type, CAST(sum(o) AS BIGINT) AS rt FROM o GROUP BY 1
    ), ct AS (
      SELECT hr, CAST(sum(o) AS BIGINT) AS ct FROM o GROUP BY 1
    ), n AS (
      SELECT CAST(sum(o) AS BIGINT) AS n FROM o
    ), e AS (
      SELECT event_type, hr, o, rt * ct * 1000000 // n AS e6
      FROM o JOIN rt USING (event_type) JOIN ct USING (hr) CROSS JOIN n
    )
    SELECT event_type, hr, o, e6,
           CAST(floor(
             ((CAST(o AS DOUBLE) - CAST(e6 AS DOUBLE) / 1000000.0)
              * (CAST(o AS DOUBLE) - CAST(e6 AS DOUBLE) / 1000000.0)
              / (CAST(e6 AS DOUBLE) / 1000000.0)) * 1000000 + 0.5)
           AS BIGINT) AS chi2_6
    FROM e WHERE e6 > 0
    """,
    tags=("scale", "stats", "agg"),
)
def type_hour_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared independence cells for the event_type × hour-of-day
    contingency table — the seasonality/independence diagnostic every
    behavioural pipeline runs. ONE (type, hr) aggregate feeds everything:
    both marginals and the grand total are WINDOW sums over that same
    ~144-row contingency frame (the fact is scanned once; no persist, no
    second consumer — the only unpartitioned window moves just the
    contingency rows). Expected counts are
    EXACT integers at 1e-6 scale (rt·ct·1e6 div N — integral division,
    matching the oracle's // to the unit); only the final
    (o−e)²/e cell statistic is a double, built with one fixed tree and
    6-dp-floored. rt·ct·1e6 fits a long through ~10^6-row tables; at
    100 TB the product moves to DECIMAL(38,0) with the same div."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").cast("long").alias("hr")
    )
    o = e.groupBy("event_type", "hr").agg(F.count(F.lit(1)).alias("o"))
    # marginals + grand total as WINDOW sums over the |types|×24-row
    # aggregate — a single consumer of the fact scan, so nothing persists
    # (and leaks) across the session (round-9 advice). The unpartitioned
    # grand-total window moves only the ~144-row contingency table.
    cells = (
        o.withColumn("rt", F.sum("o").over(Window.partitionBy("event_type")))
        .withColumn("ct", F.sum("o").over(Window.partitionBy("hr")))
        .withColumn("n", F.sum("o").over(Window.partitionBy()))
        .withColumn("e6", F.expr("rt * ct * 1000000L div n"))
        .filter(F.col("e6") > 0)
    )
    od = F.col("o").cast("double")
    ed = F.col("e6").cast("double") / F.lit(1000000.0)
    return cells.select(
        "event_type",
        "hr",
        "o",
        "e6",
        F.floor(((od - ed) * (od - ed) / ed) * 1000000 + 0.5)
        .cast("long")
        .alias("chi2_6"),
    )


@register(
    "key_skew_profile",
    oracle="""
    WITH sizes AS (
      SELECT l_suppkey AS k, count(*) AS s FROM lineitem GROUP BY 1
    ), ranked AS (
      SELECT s, row_number() OVER (ORDER BY s, k) AS rn FROM sizes
    ), st AS (
      SELECT count(*) AS n_keys, CAST(sum(s) AS BIGINT) AS n_rows
      FROM ranked
    ), picks AS (
      SELECT st.n_keys, st.n_rows,
             CAST(max(CASE WHEN rn = CAST(ceil(0.5 * st.n_keys) AS BIGINT)
                      THEN s END) AS BIGINT) AS p50,
             CAST(max(CASE WHEN rn = CAST(ceil(0.9 * st.n_keys) AS BIGINT)
                      THEN s END) AS BIGINT) AS p90,
             CAST(max(CASE WHEN rn = CAST(ceil(0.99 * st.n_keys) AS BIGINT)
                      THEN s END) AS BIGINT) AS p99,
             CAST(max(CASE WHEN rn = st.n_keys THEN s END) AS BIGINT)
               AS max_sz
      FROM ranked CROSS JOIN st
      GROUP BY st.n_keys, st.n_rows
    )
    SELECT n_keys, n_rows, p50, p90, p99, max_sz,
           max_sz * 1000000 // n_rows AS top1_share6,
           p99 * 1000000 // p50 AS p99_over_p50_6
    FROM picks
    """,
    tags=("scale", "skew", "profile"),
)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnostic for lineitem's supplier join key — the planning
    query behind the salting operators: exact discrete order statistics
    of the per-key group sizes (value at rank ceil(q·n_keys), key
    tiebreak — both engines pick the identical element, no
    interpolation) plus the top-1 share and p99/p50 skew ratio as exact
    integral divisions (operators/skew.py:key_size_profile). r10: the
    ranks read off the cumulative DISTINCT-SIZE histogram (<= ~sqrt(2N)
    rows, two-level prefix sum + <=64-row carry window) — no window ever
    touches the key-cardinality sizes table, so the diagnostic survives
    a billions-of-keys fact key (the r9 verdict's perf-weak). The oracle
    keeps the naive global rank: values agree because rank-r values are
    tiebreak-free (ties share a size)."""
    from ..operators.skew import key_size_profile

    return key_size_profile(
        load_table(spark, sf_dir, "lineitem"), "l_suppkey"
    )

@register(
    "welch_t_nation",
    oracle="""
    WITH c AS (
      SELECT n.n_name,
             CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS v
      FROM orders o
      JOIN customer cu ON o.o_custkey = cu.c_custkey
      JOIN nation n ON cu.c_nationkey = n.n_nationkey
    ), per AS (
      SELECT n_name, count(*) AS n1,
             CAST(sum(v) AS HUGEINT) AS s1,
             sum(CAST(v AS HUGEINT) * v) AS q1
      FROM c GROUP BY n_name
    ), tot AS (
      SELECT count(*) AS nt, CAST(sum(v) AS HUGEINT) AS st,
             sum(CAST(v AS HUGEINT) * v) AS qt
      FROM c
    )
    SELECT n_name, n1 AS n_orders,
           CAST(floor((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                - CAST(st - s1 AS DOUBLE) / CAST(nt - n1 AS DOUBLE))
                * 1000000.0 + 0.5) AS BIGINT) AS mean_diff_6,
           CAST(floor(
             (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
              - CAST(st - s1 AS DOUBLE) / CAST(nt - n1 AS DOUBLE))
             / sqrt(
                 ((CAST(q1 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                     / CAST(n1 AS DOUBLE)) / CAST(n1 - 1 AS DOUBLE))
                 / CAST(n1 AS DOUBLE)
               + ((CAST(qt - q1 AS DOUBLE)
                   - CAST(st - s1 AS DOUBLE) * CAST(st - s1 AS DOUBLE)
                     / CAST(nt - n1 AS DOUBLE))
                  / CAST(nt - n1 - 1 AS DOUBLE))
                 / CAST(nt - n1 AS DOUBLE))
             * 1000000.0 + 0.5) AS BIGINT) AS t6
    FROM per CROSS JOIN tot
    WHERE n1 > 1 AND nt - n1 > 1
    """,
    tags=("scale", "stats", "experiment"),
)
def welch_t_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t-statistic per nation (that nation's order
    totals vs everyone else's) — the A/B-experiment primitive. All
    moments fold map-side from exact integer cents (sums and
    sum-of-squares as DECIMAL(38,0) / HUGEINT — v² per row fits BIGINT
    up to $30 M order totals; the SUM doesn't, hence the wide types);
    the complement group's moments come from ONE broadcast global row
    (total − group), so the whole test is two aggregates — no second
    scan, no per-pair shuffle. The t itself is one shared IEEE tree:
    +,−,×,÷,sqrt are all correctly rounded (unlike ln), so the 6-dp
    floor matches DuckDB bit-for-bit."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("v"),
    )
    cu = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    na = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    c = (
        o.join(scaled_dim(cu), o["o_custkey"] == cu["c_custkey"])
        .join(F.broadcast(na), cu["c_nationkey"] == na["n_nationkey"])
        .select("n_name", "v")
    )
    per = c.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n1"),
        F.sum(F.col("v").cast("decimal(38,0)")).alias("s1"),
        F.sum(
            (F.col("v") * F.col("v")).cast("decimal(38,0)")
        ).alias("q1"),
    )
    tot = c.agg(
        F.count(F.lit(1)).alias("nt"),
        F.sum(F.col("v").cast("decimal(38,0)")).alias("st"),
        F.sum(
            (F.col("v") * F.col("v")).cast("decimal(38,0)")
        ).alias("qt"),
    )
    j = per.crossJoin(F.broadcast(tot)).where(
        (F.col("n1") > 1) & (F.col("nt") - F.col("n1") > 1)
    )
    d = lambda col: col.cast("double")  # noqa: E731
    m1 = d(F.col("s1")) / d(F.col("n1"))
    m2 = d(F.col("st") - F.col("s1")) / d(F.col("nt") - F.col("n1"))
    v1 = (
        d(F.col("q1")) - d(F.col("s1")) * d(F.col("s1")) / d(F.col("n1"))
    ) / d(F.col("n1") - 1)
    v2 = (
        d(F.col("qt") - F.col("q1"))
        - d(F.col("st") - F.col("s1")) * d(F.col("st") - F.col("s1"))
          / d(F.col("nt") - F.col("n1"))
    ) / d(F.col("nt") - F.col("n1") - 1)
    t = (m1 - m2) / F.sqrt(
        v1 / d(F.col("n1")) + v2 / d(F.col("nt") - F.col("n1"))
    )
    return j.select(
        "n_name",
        F.col("n1").alias("n_orders"),
        F.floor((m1 - m2) * 1000000.0 + 0.5).cast("long").alias("mean_diff_6"),
        F.floor(t * 1000000.0 + 0.5).cast("long").alias("t6"),
    )

@register(
    "revenue_trend",
    oracle="""
    WITH d AS (
      SELECT n.n_name, CAST(o.o_orderdate AS DATE) AS day,
             CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders o
      JOIN customer cu ON o.o_custkey = cu.c_custkey
      JOIN nation n ON cu.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    ), x AS (
      SELECT n_name,
             date_diff('day', min(day) OVER (PARTITION BY n_name), day)
               AS x0,
             y
      FROM d
    ), a AS (
      SELECT n_name, count(*) AS n,
             CAST(sum(x0) AS HUGEINT) AS sx,
             CAST(sum(y) AS HUGEINT) AS sy,
             sum(CAST(x0 AS HUGEINT) * y) AS sxy,
             sum(CAST(x0 AS HUGEINT) * x0) AS sxx
      FROM x GROUP BY n_name
    )
    SELECT n_name, n AS n_days,
           CAST(floor(
             CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
             / CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE)
             * 1000000.0 + 0.5) AS BIGINT) AS slope_ppm
    FROM a WHERE CAST(n AS HUGEINT) * sxx - sx * sx > 0
    """,
    tags=("scale", "stats", "regression"),
)
def revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation least-squares revenue trend (cents/day, ppm-floored):
    the regression-over-aggregates shape. The fact table folds once into
    a (nation, day, cents) daily aggregate; x centers on each nation's
    first day via a window over that DIMENSION-sized frame (never the
    fact table), and the slope's four moments fold in one more pass —
    numerator/denominator stay exact integers (DECIMAL(38,0) / HUGEINT;
    centering keeps n·Σxy under 38 digits at any realistic history
    length), with one shared IEEE divide at the end. No per-nation
    rescans, no driver-side math."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date("o_orderdate").alias("day"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("v"),
    )
    cu = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    na = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    daily = (
        o.join(scaled_dim(cu), o["o_custkey"] == cu["c_custkey"])
        .join(F.broadcast(na), cu["c_nationkey"] == na["n_nationkey"])
        .groupBy("n_name", "day")
        .agg(F.sum("v").alias("y"))
    )
    w = Window.partitionBy("n_name")
    x = daily.select(
        "n_name",
        F.datediff(F.col("day"), F.min("day").over(w)).alias("x0"),
        "y",
    )
    dec = "decimal(38,0)"
    a = x.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x0").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum((F.col("x0") * F.col("y")).cast(dec)).alias("sxy"),
        F.sum((F.col("x0") * F.col("x0")).cast(dec)).alias("sxx"),
    )
    n_dec = F.col("n").cast(dec)
    num = n_dec * F.col("sxy") - F.col("sx") * F.col("sy")
    den = n_dec * F.col("sxx") - F.col("sx") * F.col("sx")
    return a.where(den > 0).select(
        "n_name",
        F.col("n").alias("n_days"),
        F.floor(
            num.cast("double") / den.cast("double") * 1000000.0 + 0.5
        ).cast("long").alias("slope_ppm"),
    )

@register(
    "order_value_deciles",
    oracle="""
    WITH v AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
      FROM orders
    ), h AS (SELECT c, count(*) AS cnt FROM v GROUP BY c),
    ch AS (SELECT c, cnt, sum(cnt) OVER (ORDER BY c) AS cum FROM h),
    t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM h),
    b AS (
      SELECT k, min(CASE WHEN cum >= (k * n + 9) // 10 THEN c END) AS bound
      FROM ch CROSS JOIN t
      CROSS JOIN (SELECT unnest(generate_series(1, 9)) AS k) ks
      GROUP BY k
    ), d AS (
      SELECT h.c, h.cnt,
             1 + CAST(sum(CASE WHEN b.bound < h.c THEN 1 ELSE 0 END)
                      AS INTEGER) AS decile
      FROM h CROSS JOIN b GROUP BY h.c, h.cnt
    )
    SELECT decile, CAST(sum(cnt) AS BIGINT) AS n_rows,
           min(c) AS min_value, max(c) AS max_value,
           CAST(sum(c * cnt) AS BIGINT) AS sum_value
    FROM d GROUP BY decile
    """,
    tags=("scale", "stats", "percentile"),
)
def order_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile profile of order values (n/min/max/sum per value-bucketed
    decile) with EXACT discrete boundaries and NO global sort: one scan
    folds orders into a cents histogram, the boundaries read off the
    two-level cumulative histogram (the key_size_profile machinery),
    and the per-decile stats fold from the histogram itself — the fact
    table is never rescanned and no window touches row cardinality. The
    oracle runs the naive global-window formulation; values agree
    because value-bucketed deciles are tiebreak-free (ties share a
    bucket — where ntile would split equal values arbitrarily)."""
    from ..operators.analytics import decile_profile

    o = load_table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("c")
    )
    return decile_profile(o, "c", n_buckets=10)


@register(
    "spend_orders_spearman",
    oracle="""
    WITH per AS (
      SELECT o_custkey, count(*) AS x,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY o_custkey
    ), hx AS (SELECT x AS v, count(*) AS cnt FROM per GROUP BY x),
    rx AS (SELECT v, 2 * sum(cnt) OVER (ORDER BY v) - cnt + 1 AS r2 FROM hx),
    hy AS (SELECT y AS v, count(*) AS cnt FROM per GROUP BY y),
    ry AS (SELECT v, 2 * sum(cnt) OVER (ORDER BY v) - cnt + 1 AS r2 FROM hy),
    rk AS (
      SELECT rx.r2 AS r2x, ry.r2 AS r2y
      FROM per JOIN rx ON per.x = rx.v JOIN ry ON per.y = ry.v
    ), m AS (
      SELECT count(*) AS n,
             CAST(sum(r2x) AS HUGEINT) AS sx,
             CAST(sum(r2y) AS HUGEINT) AS sy,
             sum(CAST(r2x AS HUGEINT) * r2x) AS sxx,
             sum(CAST(r2y AS HUGEINT) * r2y) AS syy,
             sum(CAST(r2x AS HUGEINT) * r2y) AS sxy
      FROM rk
    )
    SELECT n AS n_rows,
           CAST(floor(
             CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE)
                    * CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE))
             * 1000000.0 + 0.5) AS BIGINT) AS rho6
    FROM m WHERE n > 1
    """,
    tags=("scale", "stats", "correlation"),
)
def spend_orders_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between each customer's order COUNT and
    total SPEND — rank correlation exact under ties (Pearson over
    average ranks, kept integral as r2 = 2·cum − cnt + 1 off each
    variable's value histogram; no row-cardinality ranking window). One
    aggregate produces the per-customer frame; two histogram joins
    attach ranks; DECIMAL(38,0)/HUGEINT moments; one shared IEEE tree
    (×, ÷, sqrt — correctly rounded) floored at 1e-6."""
    from ..operators.analytics import spearman_rho

    per = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("x"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("y"),
        )
    )
    return spearman_rho(per, "x", "y")


@register(
    "revenue_changepoint",
    oracle="""
    WITH d AS (
      SELECT n.n_name, CAST(o.o_orderdate AS DATE) AS day,
             CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders o
      JOIN customer cu ON o.o_custkey = cu.c_custkey
      JOIN nation n ON cu.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    ), c AS (
      SELECT n_name, day,
             count(*) OVER (PARTITION BY n_name) AS n,
             sum(y) OVER (PARTITION BY n_name ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS pfx,
             row_number() OVER (PARTITION BY n_name ORDER BY day) AS k,
             CAST(sum(y) OVER (PARTITION BY n_name) AS HUGEINT) AS s
      FROM d
    ), dev AS (
      SELECT n_name, day, n,
             abs(CAST(n AS HUGEINT) * pfx - k * s) AS c
      FROM c
    ), pick AS (
      SELECT *, row_number() OVER (
        PARTITION BY n_name ORDER BY c DESC, day) AS rn
      FROM dev
    )
    SELECT n_name, strftime(day, '%Y-%m-%d') AS change_day,
           CAST(c AS BIGINT) AS cusum_abs, n AS n_days
    FROM pick WHERE rn = 1
    """,
    tags=("scale", "stats", "changepoint"),
)
def revenue_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point per nation: the day maximizing the cumulative
    deviation of daily revenue from the nation's mean (|n·prefix − k·S|
    — scaled by n so everything stays exact integers, earliest-day
    tiebreak). The facts fold ONCE into the dimension-sized daily frame;
    all windows partition by nation over that frame — regime-shift
    detection as one aggregation + one window pass."""
    from ..operators.analytics import cusum_changepoint

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date("o_orderdate").alias("day"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("v"),
    )
    cu = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    na = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    daily = (
        o.join(scaled_dim(cu), o["o_custkey"] == cu["c_custkey"])
        .join(F.broadcast(na), cu["c_nationkey"] == na["n_nationkey"])
        .groupBy("n_name", "day")
        .agg(F.sum("v").alias("y"))
    )
    out = cusum_changepoint(daily, "n_name", "day", "y")
    return out.select(
        "n_name",
        F.date_format("change_day", "yyyy-MM-dd").alias("change_day"),
        "cusum_abs",
        "n_days",
    )

@register(
    "winsorized_value_mean",
    oracle="""
    WITH v AS (
      SELECT event_type AS t,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
      FROM events WHERE event_type IN ('purchase', 'click', 'view')
    ), h AS (SELECT t, c, count(*) AS cnt FROM v GROUP BY t, c),
    ch AS (
      SELECT t, c, cnt,
             sum(cnt) OVER (PARTITION BY t ORDER BY c) AS cum
      FROM h
    ), tot AS (SELECT t, CAST(sum(cnt) AS BIGINT) AS n FROM h GROUP BY t),
    b AS (
      SELECT ch.t,
             min(CASE WHEN cum >= (n + 19) // 20 THEN c END) AS lo,
             min(CASE WHEN cum >= (19 * n + 19) // 20 THEN c END) AS hi
      FROM ch JOIN tot ON ch.t = tot.t GROUP BY ch.t
    ), w AS (
      SELECT h.t,
             sum(CAST(greatest(b.lo, least(b.hi, h.c)) AS HUGEINT)
                 * h.cnt) AS wsum
      FROM h JOIN b ON h.t = b.t GROUP BY h.t
    )
    SELECT w.t AS event_type, tot.n AS n_events, b.lo AS lo_cents,
           b.hi AS hi_cents,
           CAST((w.wsum * 1000000) // tot.n AS BIGINT) AS wmean_ppm
    FROM w JOIN b ON w.t = b.t JOIN tot ON w.t = tot.t
    """,
    tags=("scale", "stats", "robust"),
)
def winsorized_value_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type 5/95-winsorized mean of event values — the robust-stats
    sibling of mad_outliers (clip, don't drop): exact discrete p05/p95
    boundaries per group (rank ceil(q·n), no interpolation) read off a
    per-group cumulative value histogram, the winsorized sum folded from
    the HISTOGRAM (clip(v)·cnt — the fact rows are never rescanned), and
    the mean held as an exact integral ppm division. Everything integer
    until never; one fact scan total."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click", "view")
    )
    h = (
        ev.select(
            F.col("event_type").alias("t"),
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("c"),
        )
        .groupBy("t", "c")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )
    h.count()  # materialize before the three-consumer fan-out
    w = Window.partitionBy("t").orderBy("c").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ch = h.withColumn("cum", F.sum("cnt").over(w))
    tot = h.groupBy("t").agg(F.sum("cnt").alias("n"))
    b = (
        ch.join(F.broadcast(tot), "t")
        .groupBy("t")
        .agg(
            F.min(
                F.when(
                    F.col("cum") >= F.expr("(n + 19) div 20"), F.col("c")
                )
            ).alias("lo"),
            F.min(
                F.when(
                    F.col("cum") >= F.expr("(19 * n + 19) div 20"),
                    F.col("c"),
                )
            ).alias("hi"),
        )
    )
    wsum = (
        h.join(F.broadcast(b), "t")
        .groupBy("t")
        .agg(
            F.sum(
                (
                    F.greatest(F.col("lo"), F.least(F.col("hi"), F.col("c")))
                    * F.col("cnt")
                ).cast("decimal(38,0)")
            ).alias("wsum")
        )
    )
    out = (
        wsum.join(F.broadcast(b), "t")
        .join(F.broadcast(tot), "t")
        .select(
            F.col("t").alias("event_type"),
            F.col("n").alias("n_events"),
            F.col("lo").alias("lo_cents"),
            F.col("hi").alias("hi_cents"),
            F.expr("CAST(wsum * 1000000 div n AS BIGINT)").alias(
                "wmean_ppm"
            ),
        )
    )
    rows = out.collect()  # |types| rows; frees the histogram cache
    h.unpersist()
    return spark.createDataFrame(rows, schema=out.schema)

@register(
    "revenue_gini",
    oracle="""
    WITH per AS (
      SELECT o_custkey,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS x
      FROM orders GROUP BY o_custkey
    ), r AS (
      SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS i FROM per
    ), m AS (
      SELECT count(*) AS n, CAST(sum(x) AS HUGEINT) AS sx,
             sum(CAST(i AS HUGEINT) * x) AS six
      FROM r
    )
    SELECT n AS n_customers,
           CAST(floor(
             (2.0 * CAST(six AS DOUBLE)
              / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))
              - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE))
             * 1000000.0 + 0.5) AS BIGINT) AS gini_ppm
    FROM m WHERE n > 0 AND sx > 0
    """,
    tags=("scale", "stats", "concentration"),
)
def revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer spend (revenue concentration):
    G = 2·Σ iₓ·x / (n·Σx) − (n+1)/n over the ascending ordering. The
    rank-weighted sum folds from the VALUE HISTOGRAM, never a sorted
    row frame: a value v with count c and cumulative-before k
    contributes v·(c·k + c·(c+1)/2) — rank ties are sum-invariant (any
    tie order yields the same Σi·x), so the histogram form equals the
    oracle's explicit row_number walk exactly. Cumulative counts come
    off the two-level prefix (size_histogram_cum); moments are
    DECIMAL(38,0)/HUGEINT; one shared IEEE tree at the end."""
    from ..operators.skew import size_histogram_cum

    per = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("x")
        )
    )
    h = per.groupBy(F.col("x").alias("s")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    cum = size_histogram_cum(h)  # spend cents are >= 1 by table contract
    dec = "decimal(38,0)"
    # c·(c+1) is even, so the triangular term is an exact integral div
    tri = F.expr(
        "CAST(cnt AS DECIMAL(38,0)) * (cnt + 1) div 2"
    ).cast(dec)
    contrib = (
        F.col("s").cast(dec)
        * (
            F.col("cnt").cast(dec) * (F.col("cum") - F.col("cnt")).cast(dec)
            + tri
        )
    )
    m = cum.agg(
        F.sum("cnt").alias("n"),
        F.sum(F.col("s").cast(dec) * F.col("cnt").cast(dec)).alias("sx"),
        F.sum(contrib).alias("six"),
    )
    n_d = F.col("n").cast("double")
    gini = (
        F.lit(2.0) * F.col("six").cast("double")
        / (n_d * F.col("sx").cast("double"))
        - (n_d + F.lit(1.0)) / n_d
    )
    return m.select(
        F.col("n").alias("n_customers"),
        F.floor(gini * 1000000.0 + 0.5).cast("long").alias("gini_ppm"),
    ).where((F.col("n_customers") > 0) & (F.col("sx") > 0))

@register(
    "revenue_ewma",
    oracle="""
    WITH RECURSIVE d AS (
      SELECT n.n_name, CAST(o.o_orderdate AS DATE) AS day,
             CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders o
      JOIN customer cu ON o.o_custkey = cu.c_custkey
      JOIN nation n ON cu.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    ), ranked AS (
      SELECT n_name, y,
             row_number() OVER (PARTITION BY n_name ORDER BY day) AS rn
      FROM d
    ), f(n_name, rn, s, abserr) AS (
      SELECT n_name, rn, y, CAST(0 AS HUGEINT)
      FROM ranked WHERE rn = 1
      UNION ALL
      SELECT r.n_name, r.rn,
             (2 * r.y + 8 * f.s) // 10,
             f.abserr + abs(r.y - f.s)
      FROM ranked r
      JOIN f ON r.n_name = f.n_name AND r.rn = f.rn + 1
    ), last AS (
      SELECT n_name, max(rn) AS n FROM f GROUP BY n_name
    )
    SELECT f.n_name, last.n AS n_days,
           CAST(f.s AS BIGINT) AS ewma_cents,
           CAST(f.abserr // greatest(last.n - 1, 1) AS BIGINT)
             AS mae_cents
    FROM f JOIN last ON f.n_name = last.n_name AND f.rn = last.n
    """,
    tags=("scale", "stats", "forecast"),
)
def revenue_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation exponentially-weighted moving average of daily revenue
    (α = 0.2) plus the one-step-ahead forecast MAE — the smoothing /
    forecasting primitive, held EXACT: the recurrence is integer
    fixed-point (s ← (2y + 8s) div 10, the Kaplan-Meier discipline —
    float folds would drift cross-engine with partition order), so both
    engines land on identical integers. The facts fold distributed into
    the dimension-sized daily frame; the sequential fold runs
    driver-side over that bounded table (per key, days-long), exactly
    what the oracle's recursive CTE walks."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date("o_orderdate").alias("day"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("v"),
    )
    cu = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    na = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    daily = (
        o.join(scaled_dim(cu), o["o_custkey"] == cu["c_custkey"])
        .join(F.broadcast(na), cu["c_nationkey"] == na["n_nationkey"])
        .groupBy("n_name", "day")
        .agg(F.sum("v").alias("y"))
    )
    from ..operators.smoothing import ewma_fold

    # the collect inside the fold is dimension-sized: |nations| x |days|;
    # the fold is shared verbatim with the live twin (revenue_ewma_live)
    return ewma_fold(daily)


@register(
    "holt_forecast",
    oracle="""
    WITH RECURSIVE d AS (
      SELECT n.n_name, CAST(o.o_orderdate AS DATE) AS day,
             CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders o
      JOIN customer cu ON o.o_custkey = cu.c_custkey
      JOIN nation n ON cu.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    ), ranked AS (
      SELECT n_name, y,
             row_number() OVER (PARTITION BY n_name ORDER BY day) AS rn
      FROM d
    ), f(n_name, rn, l, b, abserr) AS (
      SELECT n_name, rn, y, CAST(0 AS BIGINT), CAST(0 AS HUGEINT)
      FROM ranked WHERE rn = 1
      UNION ALL
      SELECT r.n_name, r.rn,
             (2 * r.y + 8 * (f.l + f.b)) // 10,
             (2 * ((2 * r.y + 8 * (f.l + f.b)) // 10 - f.l) + 8 * f.b)
               // 10,
             f.abserr + abs(r.y - (f.l + f.b))
      FROM ranked r
      JOIN f ON r.n_name = f.n_name AND r.rn = f.rn + 1
    ), last AS (
      SELECT n_name, max(rn) AS n FROM f GROUP BY n_name
    )
    SELECT f.n_name, CAST(last.n AS BIGINT) AS n_days,
           CAST(f.l AS BIGINT) AS level_cents,
           CAST(f.b AS BIGINT) AS trend_cents,
           CAST(f.l + f.b AS BIGINT) AS forecast_cents,
           CAST(f.abserr // greatest(last.n - 1, 1) AS BIGINT) AS mae_cents
    FROM f JOIN last ON f.n_name = last.n_name AND f.rn = last.n
    """,
    tags=("scale", "stats", "forecast"),
)
def holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing of per-nation daily revenue
    (α = β = 0.2) with the one-step-ahead forecast and its MAE — the
    TREND-AWARE upgrade of revenue_ewma: a drifting series makes plain
    EWMA lag systematically; Holt's coupled level+trend recurrences
    track the drift and forecast l + b instead of l.

    Determinism: the recurrence is integer fixed-point —
    l ← (2y + 8(l+b)) div 10, b ← (2(l − l_prev) + 8b) div 10 — and the
    trend term CAN go negative, where DuckDB's // TRUNCATES toward zero
    while Python's // floors; the driver fold therefore uses explicit
    truncating division (sign · (|a| div d)) so both engines land on
    identical integers (the repo's floor-vs-truncate discipline). The
    facts fold distributed into the |nations|×|days| daily frame; the
    sequential fold walks that bounded table driver-side, exactly what
    the oracle's recursive CTE does."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date("o_orderdate").alias("day"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("v"),
    )
    cu = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    na = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    daily = (
        o.join(scaled_dim(cu), o["o_custkey"] == cu["c_custkey"])
        .join(F.broadcast(na), cu["c_nationkey"] == na["n_nationkey"])
        .groupBy("n_name", "day")
        .agg(F.sum("v").alias("y"))
    )
    from ..operators.smoothing import holt_fold

    # the collect inside the fold is dimension-sized: |nations| x |days|;
    # the fold is shared verbatim with the live twin (holt_forecast_live)
    return holt_fold(daily)


@register(
    "rfm_segments",
    oracle="""
    WITH rfm AS (
      SELECT o_custkey AS custkey,
             CAST(date_diff('day', max(CAST(o_orderdate AS DATE)),
                  (SELECT max(CAST(o_orderdate AS DATE)) FROM orders))
                  AS BIGINT) + 1 AS rec,
             count(*) AS freq,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS mon
      FROM orders GROUP BY o_custkey
    ),
    nn AS (SELECT count(*) AS n FROM rfm),
    rk AS (SELECT (1*n+4)//5 AS k1, (2*n+4)//5 AS k2,
                  (3*n+4)//5 AS k3, (4*n+4)//5 AS k4 FROM nn),
    rb AS (SELECT max(CASE WHEN rn=k1 THEN v END) AS b1,
                  max(CASE WHEN rn=k2 THEN v END) AS b2,
                  max(CASE WHEN rn=k3 THEN v END) AS b3,
                  max(CASE WHEN rn=k4 THEN v END) AS b4
           FROM (SELECT rec AS v, row_number() OVER (ORDER BY rec) AS rn
                 FROM rfm) CROSS JOIN rk),
    fb AS (SELECT max(CASE WHEN rn=k1 THEN v END) AS b1,
                  max(CASE WHEN rn=k2 THEN v END) AS b2,
                  max(CASE WHEN rn=k3 THEN v END) AS b3,
                  max(CASE WHEN rn=k4 THEN v END) AS b4
           FROM (SELECT freq AS v, row_number() OVER (ORDER BY freq) AS rn
                 FROM rfm) CROSS JOIN rk),
    mb AS (SELECT max(CASE WHEN rn=k1 THEN v END) AS b1,
                  max(CASE WHEN rn=k2 THEN v END) AS b2,
                  max(CASE WHEN rn=k3 THEN v END) AS b3,
                  max(CASE WHEN rn=k4 THEN v END) AS b4
           FROM (SELECT mon AS v, row_number() OVER (ORDER BY mon) AS rn
                 FROM rfm) CROSS JOIN rk),
    scored AS (
      SELECT custkey,
        6 - (1 + CASE WHEN rec > rb.b1 THEN 1 ELSE 0 END
               + CASE WHEN rec > rb.b2 THEN 1 ELSE 0 END
               + CASE WHEN rec > rb.b3 THEN 1 ELSE 0 END
               + CASE WHEN rec > rb.b4 THEN 1 ELSE 0 END) AS r_score,
        1 + CASE WHEN freq > fb.b1 THEN 1 ELSE 0 END
          + CASE WHEN freq > fb.b2 THEN 1 ELSE 0 END
          + CASE WHEN freq > fb.b3 THEN 1 ELSE 0 END
          + CASE WHEN freq > fb.b4 THEN 1 ELSE 0 END AS f_score,
        1 + CASE WHEN mon > mb.b1 THEN 1 ELSE 0 END
          + CASE WHEN mon > mb.b2 THEN 1 ELSE 0 END
          + CASE WHEN mon > mb.b3 THEN 1 ELSE 0 END
          + CASE WHEN mon > mb.b4 THEN 1 ELSE 0 END AS m_score
      FROM rfm CROSS JOIN rb CROSS JOIN fb CROSS JOIN mb
    )
    SELECT custkey, r_score, f_score, m_score,
      CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
             THEN 'champion'
           WHEN f_score >= 4 THEN 'loyal'
           WHEN m_score >= 4 THEN 'big_spender'
           WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
           WHEN r_score <= 2 THEN 'hibernating'
           ELSE 'regular' END AS segment
    FROM scored
    """,
    tags=("scale", "scoring", "segmentation"),
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — recency/frequency/monetary quintile
    scores (1-5) plus a fixed CASE segment label, the classic CRM
    scoring table.

    Quintiles are VALUE-bucketed exactly like decile_profile: boundary
    b_k is the value at rank ceil(k·n/5), read off the two-level
    cumulative value histogram (operators/skew.py), and a customer lands
    in the smallest bucket whose boundary covers its metric — ties share
    a bucket, the deterministic cross-engine choice; an ntile() over all
    customers would both split ties arbitrarily AND rank a fact-
    proportional frame under one unpartitioned window (the r9-banned
    shape). Scale: one orders scan folds to the per-customer RFM frame
    (one custkey exchange); each metric's histogram is distinct-value-
    bounded; the 3×4 boundaries come back as literals (bounded collects)
    and scoring is a codegen'd CASE over the RFM frame — nothing ever
    sorts customers globally. Recency is measured against the corpus max
    day (+1 so the log2 histogram sees values >= 1)."""
    from ..operators.analytics import bucket_score, value_bucket_bounds_multi

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.to_date("o_orderdate").alias("day"),
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    ref = o.agg(F.max("day").alias("m")).collect()[0]["m"]  # one scalar
    if ref is None:  # empty orders: the decile_profile convention
        return spark.createDataFrame(
            [],
            "custkey long, r_score int, f_score int, m_score int,"
            " segment string",
        )
    rfm = o.groupBy("custkey").agg(
        (F.datediff(F.lit(ref), F.max("day")) + 1)
        .cast("long")
        .alias("rec"),
        F.count(F.lit(1)).alias("freq"),
        F.sum("cents").alias("mon"),
    ).persist()
    # lazy persist: the single melted-histogram job materializes the RFM
    # fold into cache; the scoring pass reads it back. All three
    # metrics' boundaries come from ONE job (r15 — was three sequential
    # driver round trips over the same cache).
    bounds = value_bucket_bounds_multi(rfm, ["rec", "freq", "mon"], 5)
    rb, fb, mb = bounds["rec"], bounds["freq"], bounds["mon"]
    r_raw = bucket_score(F.col("rec"), rb)
    scored = rfm.select(
        "custkey",
        (F.lit(6) - r_raw).cast("int").alias("r_score"),
        bucket_score(F.col("freq"), fb).cast("int").alias("f_score"),
        bucket_score(F.col("mon"), mb).cast("int").alias("m_score"),
    )
    out = scored.select(
        "custkey",
        "r_score",
        "f_score",
        "m_score",
        F.when(
            (F.col("r_score") >= 4)
            & (F.col("f_score") >= 4)
            & (F.col("m_score") >= 4),
            "champion",
        )
        .when(F.col("f_score") >= 4, "loyal")
        .when(F.col("m_score") >= 4, "big_spender")
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 3), "at_risk")
        .when(F.col("r_score") <= 2, "hibernating")
        .otherwise("regular")
        .alias("segment"),
    )
    # NOT collected: the result is customer-proportional, so it must
    # stay distributed. The cache served the three histogram builds;
    # unpersisting here means the caller's action recomputes the RFM
    # aggregate from lineage exactly once (one more orders scan) instead
    # of holding a fact-proportional cache past return.
    rfm.unpersist()
    return out


@register(
    "cohort_ltv",
    oracle="""
    WITH om AS (
      SELECT o_custkey AS custkey, date_trunc('month', CAST(o_orderdate AS DATE)) AS mon,
             sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
      FROM orders GROUP BY 1, 2
    ), cust AS (
      SELECT custkey, min(mon) AS c0 FROM om GROUP BY 1
    ), coh AS (
      SELECT c0, count(*) AS n_users FROM cust GROUP BY 1
    ), mx AS (SELECT max(mon) AS m FROM om),
    cells AS (
      SELECT cust.c0,
             CAST(date_diff('month', cust.c0, om.mon) AS BIGINT) AS off,
             sum(om.cents) AS cents
      FROM om JOIN cust USING (custkey) GROUP BY 1, 2
    ), grid AS (
      SELECT c0, unnest(generate_series(
               0, CAST(date_diff('month', c0, (SELECT m FROM mx)) AS BIGINT)
             )) AS off
      FROM coh
    ), filled AS (
      SELECT g.c0, g.off, coalesce(cells.cents, 0) AS cents
      FROM grid g LEFT JOIN cells ON cells.c0 = g.c0 AND cells.off = g.off
    )
    SELECT strftime(f.c0, '%Y-%m') AS cohort_month,
           f.off AS month_offset,
           coh.n_users,
           CAST(sum(f.cents) OVER (PARTITION BY f.c0 ORDER BY f.off) AS BIGINT)
             AS cum_cents,
           CAST(sum(f.cents) OVER (PARTITION BY f.c0 ORDER BY f.off)
                // coh.n_users AS BIGINT) AS ltv_cents_per_user
    FROM filled f JOIN coh ON coh.c0 = f.c0
    """,
    tags=("scale", "cohort", "window"),
)
def cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV matrix: customers grouped by first-order month, average
    CUMULATIVE spend per cohort member at each month offset (the
    user_retention count matrix with money on it — what a growth team
    actually plots). Dead months stay in the matrix (cumulative value is
    flat, not missing): per cohort the offset axis runs to the corpus max
    month via sequence(), the gap-fill discipline.

    Scale: one orders scan folds to per-(customer, month) cents (one
    custkey+month exchange); cohorts and cells roll up from it; the
    cumulative window runs over the |months|²/2-bounded (cohort, offset)
    grid, never over customers; per-user LTV is integer cents division
    (all values non-negative, so truncating and flooring agree across
    engines)."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.date_trunc("month", F.to_date("o_orderdate")).alias("mon"),
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    om = o.groupBy("custkey", "mon").agg(F.sum("cents").alias("cents")).persist()
    cust = om.groupBy("custkey").agg(F.min("mon").alias("c0"))
    coh = cust.groupBy("c0").agg(F.count(F.lit(1)).alias("n_users"))
    # r15: the max-month scalar rides the plan as a 1-row broadcast
    # cross join instead of a separate collect (and the persist fills
    # lazily inside the single remaining action) — same value, two
    # fewer driver round trips.
    mxf = om.agg(F.max("mon").alias("_mx"))
    cells = (
        om.join(cust, "custkey")
        .groupBy(
            "c0",
            F.months_between(F.col("mon"), F.col("c0"))
            .cast("long")
            .alias("off"),
        )
        .agg(F.sum("cents").alias("cents"))
    )
    grid = coh.crossJoin(F.broadcast(mxf)).select(
        "c0",
        "n_users",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.months_between(F.col("_mx"), F.col("c0")).cast("long"),
            )
        ).alias("off"),
    )
    filled = grid.join(cells, ["c0", "off"], "left").select(
        "c0",
        "off",
        "n_users",
        F.coalesce(F.col("cents"), F.lit(0)).alias("cents"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("c0")
        .orderBy("off")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = filled.select(
        F.date_format("c0", "yyyy-MM").alias("cohort_month"),
        F.col("off").alias("month_offset"),
        "n_users",
        F.sum("cents").over(w).alias("cum_cents"),
    ).withColumn(
        # integer floor division matching the oracle's `//` exactly;
        # long/long `/` is double division and can cross the integer
        # boundary once cum_cents exceeds 2^53 or n_users > ~131k
        "ltv_cents_per_user",
        F.expr("cum_cents div n_users"),
    )
    rows = out.collect()  # |months|²/2-bounded matrix; frees the cache
    om.unpersist()
    return spark.createDataFrame(rows, schema=out.schema)


@register(
    "theil_sen_trend",
    oracle="""
    WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS m FROM orders),
    daily AS (
      SELECT n.n_name, CAST(o.o_orderdate AS DATE) AS day,
             sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS y
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE CAST(o.o_orderdate AS DATE)
            >= (SELECT m FROM mx) - INTERVAL 364 DAY
      GROUP BY 1, 2
    ), slopes AS (
      SELECT a.n_name,
             CAST(floor(CAST((b.y - a.y) AS DOUBLE) * 1000000.0
                  / CAST(date_diff('day', a.day, b.day) AS DOUBLE))
                  AS BIGINT) AS slope6,
             a.day AS d1, b.day AS d2
      FROM daily a JOIN daily b
        ON a.n_name = b.n_name AND a.day < b.day
    ), ranked AS (
      SELECT n_name, slope6,
             row_number() OVER (PARTITION BY n_name
                                ORDER BY slope6, d1, d2) AS rn,
             count(*) OVER (PARTITION BY n_name) AS m
      FROM slopes
    )
    SELECT n_name, CAST(m AS BIGINT) AS n_pairs,
           slope6 AS median_slope6
    FROM ranked WHERE rn = (m + 1) // 2
    """,
    tags=("scale", "regression", "robust"),
)
def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per nation: the MEDIAN of all pairwise
    slopes of the daily-revenue series — the outlier-proof complement to
    revenue_trend's least-squares slope (one corrupted day moves OLS
    arbitrarily, Theil-Sen needs 29% contamination).

    Scale: the series is the TRAILING 365 observed days (Theil-Sen is
    O(days²) BY DEFINITION — over the full 7-year TPC-H calendar that is
    ~72M pairs per run for a trend estimate nobody reads past a year;
    the window is measured from the corpus max day, so the cut is
    deterministic and the cost is calendar-bounded at ~1.7M pairs at
    ANY sf). The fact table folds to the |nations|×365-bounded daily
    frame first (one exchange, the date filter pushed to the scan); the
    pairwise self-join is quadratic only in days-per-nation, and the
    rank window that picks the lower median partitions by nation over
    that bounded pair frame. Slopes are floor((Δy·1e6)/Δdays) —
    correctly-rounded double steps shared with the oracle, floor toward
    −∞ agreeing on negative slopes; the median rank orders (slope6, d1,
    d2), a total order."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date("o_orderdate").alias("day"),
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    mx = o.agg(F.max("day").alias("m")).collect()[0]["m"]  # one scalar
    if mx is None:  # empty orders: the decile_profile convention
        return spark.createDataFrame(
            [], "n_name string, n_pairs long, median_slope6 long"
        )
    o = o.filter(F.col("day") >= F.date_sub(F.lit(mx), 364))
    cu = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    na = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    daily = (
        o.join(scaled_dim(cu), o["o_custkey"] == cu["c_custkey"])
        .join(F.broadcast(na), cu["c_nationkey"] == na["n_nationkey"])
        .groupBy("n_name", "day")
        .agg(F.sum("cents").alias("y"))
        .persist()
    )
    daily.count()  # materialize before the two-sided self-join
    a = daily.select("n_name", F.col("day").alias("d1"), F.col("y").alias("y1"))
    b = daily.select("n_name", F.col("day").alias("d2"), F.col("y").alias("y2"))
    slopes = (
        a.join(b, "n_name")
        .filter(F.col("d1") < F.col("d2"))
        .select(
            "n_name",
            "d1",
            "d2",
            F.floor(
                (F.col("y2") - F.col("y1")).cast("double")
                * F.lit(1000000.0)
                / F.datediff("d2", "d1").cast("double")
            )
            .cast("long")
            .alias("slope6"),
        )
    )
    from pyspark.sql import Window

    wr = Window.partitionBy("n_name").orderBy("slope6", "d1", "d2")
    wc = Window.partitionBy("n_name")
    ranked = slopes.select(
        "n_name",
        "slope6",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("m"),
    )
    out = ranked.filter(
        F.col("rn") == F.floor((F.col("m") + 1) / 2)
    ).select(
        "n_name",
        F.col("m").alias("n_pairs"),
        F.col("slope6").alias("median_slope6"),
    )
    rows = out.collect()  # |nations| rows; frees the daily cache
    daily.unpersist()
    return spark.createDataFrame(rows, schema=out.schema)


# First-digit Benford expectation, ppm: round(log10(1 + 1/d) * 1e6).
# Literal table (sums to exactly 1,000,000) so neither engine evaluates
# a transcendental at query time — the ln()-portability discipline.
_BENFORD_PPM = (
    (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
    (6, 66947), (7, 57992), (8, 51153), (9, 45757),
)


@register(
    "benford_check",
    oracle="""
    WITH e(digit, expected_ppm) AS (VALUES
      (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
      (6, 66947), (7, 57992), (8, 51153), (9, 45757)
    ), d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                   AS VARCHAR), 1, 1) AS INTEGER) AS digit
      FROM orders
    ), c AS (
      SELECT digit, count(*) AS n FROM d GROUP BY 1
    ), t AS (SELECT sum(n) AS total FROM c)
    SELECT e.digit, CAST(coalesce(c.n, 0) AS BIGINT) AS n,
           CAST(coalesce(c.n, 0) * 1000000 // t.total AS BIGINT)
             AS observed_ppm,
           CAST(e.expected_ppm AS BIGINT) AS expected_ppm,
           CAST(coalesce(c.n, 0) * 1000000 // t.total
                - e.expected_ppm AS BIGINT) AS dev_ppm
    FROM e LEFT JOIN c ON c.digit = e.digit CROSS JOIN t
    """,
    tags=("scale", "quality", "audit"),
)
def benford_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order amounts — the classic
    fraud/synthetic-data screen (organically-grown magnitudes put ~30.1%
    of leading digits at 1; fabricated or truncated data doesn't).

    The expected distribution is a 9-row LITERAL ppm table (no log10 at
    query time on either engine); observed shares are exact integer
    counts folded in one scan + one 9-row aggregate, compared in integral
    ppm (floor division — counts are non-negative, so truncation and
    floor agree). All nine digits report even at zero count."""
    o = load_table(spark, sf_dir, "orders").select(
        F.substring(
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("long")
            .cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("digit")
    )
    c = o.groupBy("digit").agg(F.count(F.lit(1)).alias("n")).persist()
    e = spark.createDataFrame(
        list(_BENFORD_PPM), "digit int, expected_ppm long"
    )
    # r15: the total rides the plan as a 1-row cross join (the oracle's
    # own CROSS JOIN t shape) — one collect instead of two; same
    # integer division by the identical value.
    tot = c.agg(F.sum("n").alias("t"))
    out = (
        e.join(c, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            F.expr("coalesce(n, 0) * 1000000L div t").alias(
                "observed_ppm"
            ),
            "expected_ppm",
            (
                F.expr("coalesce(n, 0) * 1000000L div t")
                - F.col("expected_ppm")
            ).alias("dev_ppm"),
        )
    )
    rows = out.collect()  # 9 rows; frees the digit-count cache
    c.unpersist()
    return spark.createDataFrame(rows, schema=out.schema)


@register(
    "fd_check",
    oracle="""
    WITH a AS (
      SELECT 'orders: o_custkey -> o_orderpriority' AS fd,
             count(*) AS n_keys,
             sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS n_violating
      FROM (SELECT o_custkey, count(DISTINCT o_orderpriority) AS nd
            FROM orders GROUP BY 1)
    ), b AS (
      SELECT 'lineitem: l_orderkey -> l_suppkey' AS fd,
             count(*) AS n_keys,
             sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS n_violating
      FROM (SELECT l_orderkey, count(DISTINCT l_suppkey) AS nd
            FROM lineitem GROUP BY 1)
    ), c AS (
      SELECT 'part: p_brand -> p_type' AS fd,
             count(*) AS n_keys,
             sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS n_violating
      FROM (SELECT p_brand, count(DISTINCT p_type) AS nd
            FROM part GROUP BY 1)
    ), d AS (
      SELECT 'customer: c_custkey -> c_mktsegment' AS fd,
             count(*) AS n_keys,
             sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS n_violating
      FROM (SELECT c_custkey, count(DISTINCT c_mktsegment) AS nd
            FROM customer GROUP BY 1)
    ), u AS (
      SELECT * FROM a UNION ALL SELECT * FROM b
      UNION ALL SELECT * FROM c UNION ALL SELECT * FROM d
    )
    SELECT fd, CAST(n_keys AS BIGINT) AS n_keys,
           CAST(n_violating AS BIGINT) AS n_violating,
           CAST(n_violating * 1000000 // n_keys AS BIGINT)
             AS violation_ppm,
           n_violating = 0 AS holds
    FROM u
    """,
    tags=("scale", "quality", "audit"),
)
def fd_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate-functional-dependency audit: for each CANDIDATE rule
    'lhs determines rhs' across the star schema, the number of lhs keys
    whose rhs is not constant — the profiling step schema-inference and
    data-contract tools run before declaring a dependency (fk_orphans
    checks declared keys; this checks conjectured ones; expectations_
    check checks row predicates).

    One groupBy(lhs) count-distinct per candidate (partial-aggregated,
    one exchange on the lhs key each), folded to a single audit row per
    rule — output is |rules| rows at ANY scale. A true FD (the customer
    PK rule) reports holds=true; the deliberately-false conjectures
    quantify their violation rate in exact integer ppm."""

    def audit(fd: str, df: DataFrame, lhs: str, rhs: str) -> DataFrame:
        per = df.groupBy(lhs).agg(F.count_distinct(F.col(rhs)).alias("nd"))
        return per.agg(
            F.lit(fd).alias("fd"),
            F.count(F.lit(1)).alias("n_keys"),
            F.sum((F.col("nd") > 1).cast("long")).alias("n_violating"),
        )
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    cu = load_table(spark, sf_dir, "customer")
    u = (
        audit("orders: o_custkey -> o_orderpriority", o,
              "o_custkey", "o_orderpriority")
        .unionByName(audit("lineitem: l_orderkey -> l_suppkey", li,
                           "l_orderkey", "l_suppkey"))
        .unionByName(audit("part: p_brand -> p_type", p,
                           "p_brand", "p_type"))
        .unionByName(audit("customer: c_custkey -> c_mktsegment", cu,
                           "c_custkey", "c_mktsegment"))
    )
    return u.select(
        "fd",
        "n_keys",
        "n_violating",
        F.expr("n_violating * 1000000L div n_keys").alias("violation_ppm"),
        (F.col("n_violating") == 0).alias("holds"),
    )


@register(
    "hhi_concentration",
    oracle="""
    WITH cust AS (
      SELECT n.n_name, o.o_custkey,
             sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS v
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    ), per AS (
      SELECT n_name, count(*) AS n_customers, sum(v) AS tot,
             sum(CAST(v AS HUGEINT) * v) AS sumsq
      FROM cust GROUP BY 1
    )
    SELECT n_name, CAST(n_customers AS BIGINT) AS n_customers,
           CAST(tot AS BIGINT) AS revenue_cents,
           CAST(sumsq * 1000000 // (CAST(tot AS HUGEINT) * tot) AS BIGINT)
             AS hhi_ppm,
           CAST(1000000 // n_customers AS BIGINT) AS uniform_hhi_ppm
    FROM per
    """,
    tags=("scale", "concentration", "audit"),
)
def hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman revenue concentration per nation: Σ share²
    over the nation's customers, in EXACT integral ppm — Σv²·10⁶ div
    (Σv)² is pure integer arithmetic over DECIMAL(38,0)/HUGEINT moments
    (cents² at 100 TB pass BIGINT), so unlike the usual percentage-share
    HHI it carries a bit-exact cross-engine oracle. 10⁶/n is the
    uniform-market floor printed next to it: hhi >> floor means a few
    whale customers carry the nation (revenue_gini ranks inequality;
    HHI is the antitrust-style index over the same folds).

    Scale: one orders scan folds to per-(nation, customer) cents (one
    custkey exchange), then a |nations|-row moment fold; nothing ranks
    or sorts customers."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    cu = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    na = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cust = (
        o.join(scaled_dim(cu), o["o_custkey"] == cu["c_custkey"])
        .join(F.broadcast(na), cu["c_nationkey"] == na["n_nationkey"])
        .groupBy("n_name", "o_custkey")
        .agg(F.sum("cents").alias("v"))
    )
    per = cust.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("v").alias("tot"),
        F.sum(
            (F.col("v").cast("decimal(38,0)") * F.col("v")).cast(
                "decimal(38,0)"
            )
        ).alias("sumsq"),
    )
    return per.select(
        "n_name",
        "n_customers",
        F.col("tot").alias("revenue_cents"),
        (
            (F.col("sumsq") * F.lit(1000000))
            / (F.col("tot").cast("decimal(38,0)") * F.col("tot"))
        )
        .cast("long")
        .alias("hhi_ppm"),
        F.expr("1000000L div n_customers").alias("uniform_hhi_ppm"),
    )


@register(
    "seasonal_outliers",
    oracle="""
    WITH m AS (
      SELECT event_type, CAST(hour(ts) AS INTEGER) AS hr,
             count(*) AS n,
             sum(CAST(value AS DECIMAL(18,2))) AS s1,
             sum(CAST(value AS DECIMAL(18,2))
                 * CAST(value AS DECIMAL(18,2))) AS s2
      FROM events GROUP BY 1, 2
    )
    SELECT e.event_id, e.event_type, CAST(hour(e.ts) AS INTEGER) AS hr,
           CAST(CAST(e.value AS DECIMAL(18,2)) AS DOUBLE) AS value,
           floor(((CAST(e.value AS DOUBLE)
                   - CAST(m.s1 AS DOUBLE) / m.n)
                  / sqrt((CAST(m.s2 AS DOUBLE)
                          - CAST(m.s1 AS DOUBLE) * CAST(m.s1 AS DOUBLE) / m.n)
                         / (m.n - 1))) * 1000000 + 0.5) / 1000000 AS zscore
    FROM events e JOIN m ON e.event_type = m.event_type
                        AND CAST(hour(e.ts) AS INTEGER) = m.hr
    WHERE m.n > 1
      AND CAST(m.s2 AS DOUBLE)
          - CAST(m.s1 AS DOUBLE) * CAST(m.s1 AS DOUBLE) / m.n > 0
      AND abs((CAST(e.value AS DOUBLE) - CAST(m.s1 AS DOUBLE) / m.n)
              / sqrt((CAST(m.s2 AS DOUBLE)
                      - CAST(m.s1 AS DOUBLE) * CAST(m.s1 AS DOUBLE) / m.n)
                     / (m.n - 1))) > 3.0
    """,
    tags=("scale", "stats", "seasonal", "quality"),
)
def seasonal_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-sigma outliers against a SEASONAL baseline — each event scored
    vs its own (event_type, hour-of-day) stratum, so a value that is
    normal at the daily peak but anomalous at 4am flags (value_outliers'
    flat per-type baseline can't see it; this is the calendar-aware
    anomaly screen monitoring pipelines actually run).

    Same determinism discipline as value_outliers: exact DECIMAL moments
    per stratum (|types|×24 rows, broadcast back), one fixed double tree
    for the z-score, 6-dp-floored; degenerate strata emit nothing. Two
    scans total — one builds the strata moments, one applies them; UTC
    session timezone keeps hour() identical across engines."""
    e = load_table(spark, sf_dir, "events")
    vdec = F.col("value").cast("decimal(18,2)")
    m = e.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hr")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vdec).alias("s1"),
        F.sum(vdec * vdec).alias("s2"),
    )
    s1d, s2d = F.col("s1").cast("double"), F.col("s2").cast("double")
    var = (s2d - s1d * s1d / F.col("n")) / (F.col("n") - 1)
    z = (F.col("value").cast("double") - s1d / F.col("n")) / F.sqrt(var)
    return (
        e.select(
            "event_id",
            "event_type",
            F.hour("ts").cast("int").alias("hr"),
            "value",
            "ts",
        )
        .join(F.broadcast(m), ["event_type", "hr"])
        .filter(
            (F.col("n") > 1)
            & (s2d - s1d * s1d / F.col("n") > 0)
            & (F.abs(z) > 3.0)
        )
        .select(
            "event_id",
            "event_type",
            "hr",
            vdec.cast("double").alias("value"),
            (F.floor(z * 1000000 + 0.5) / 1000000).alias("zscore"),
        )
    )


@register(
    "ks_spend_by_status",
    oracle="""
    WITH v AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS s,
             sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS c1,
             sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS c2
      FROM orders WHERE o_orderstatus IN ('F', 'O')
      GROUP BY 1
    ), cum AS (
      SELECT s,
             sum(c1) OVER (ORDER BY s) AS cum1,
             sum(c2) OVER (ORDER BY s) AS cum2
      FROM v
    ), nn AS (
      SELECT sum(c1) AS n1, sum(c2) AS n2 FROM v
    ), d AS (
      SELECT max(abs(cum1 * (SELECT n2 FROM nn)
                     - cum2 * (SELECT n1 FROM nn))) AS d_num
      FROM cum
    )
    SELECT CAST(nn.n1 AS BIGINT) AS n1, CAST(nn.n2 AS BIGINT) AS n2,
           CAST(d.d_num AS BIGINT) AS d_num,
           CAST(d.d_num * 1000000 // (nn.n1 * nn.n2) AS BIGINT) AS d_ppm,
           CAST(d.d_num AS DOUBLE) / (CAST(nn.n1 AS DOUBLE)
                                      * CAST(nn.n2 AS DOUBLE))
             > 1.358 * sqrt((CAST(nn.n1 AS DOUBLE) + CAST(nn.n2 AS DOUBLE))
                            / (CAST(nn.n1 AS DOUBLE)
                               * CAST(nn.n2 AS DOUBLE)))
             AS reject_05
    FROM d CROSS JOIN nn
    """,
    tags=("scale", "stats", "test"),
)
def ks_spend_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test between the order-value
    distributions of fulfilled ('F') vs open ('O') orders — the
    distribution-shift detector (did a release change the money mix?)
    next to welch_t's mean test and ks is assumption-free.

    Fully EXACT until the final ppm: the KS statistic sup|F1−F2| is
    maximized as max|cum1·n2 − cum2·n1| over the merged value histogram —
    integer cross-multiplication instead of comparing floating CDFs, so
    the argmax can never flip on rounding. Cumulatives run the two-level
    log2-bucket prefix (operators/skew.py) over the distinct-cents
    histogram — no unpartitioned window ever touches a fact-sized frame;
    the α=0.05 rejection line (1.358·√((n1+n2)/n1n2)) is the one double
    tree, shared with the oracle."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("F", "O")
    )
    v = (
        o.select(
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("long")
            .alias("s"),
            (F.col("o_orderstatus") == "F").cast("long").alias("is1"),
            (F.col("o_orderstatus") == "O").cast("long").alias("is2"),
        )
        .groupBy("s")
        .agg(F.sum("is1").alias("c1"), F.sum("is2").alias("c2"))
        .persist()
    )
    # r15: BOTH cumulative walks ride one two-level prefix pipeline
    # (one window exchange carries two running sums — the per-channel
    # integers are identical to two size_histogram_cum passes since the
    # bucketing and ordering are the same), the n1/n2 totals ride the
    # same action as a 1-row cross join, and the whole statistic comes
    # back in ONE collect (was: eager persist count + totals collect +
    # a d collect over two separate cum pipelines — 17 jobs, now ~7).
    w_in = (
        Window.partitionBy("_b")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    loc = (
        v.withColumn(
            "_b", F.floor(F.log2(F.col("s").cast("double"))).cast("int")
        )
        .withColumn("_ci1", F.sum("c1").over(w_in))
        .withColumn("_ci2", F.sum("c2").over(w_in))
    )
    btot = loc.groupBy("_b").agg(
        F.sum("c1").alias("_t1"), F.sum("c2").alias("_t2")
    )
    woff = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offs = btot.select(
        "_b",
        F.coalesce(F.sum("_t1").over(woff), F.lit(0)).alias("_o1"),
        F.coalesce(F.sum("_t2").over(woff), F.lit(0)).alias("_o2"),
    )
    cum = loc.join(F.broadcast(offs), "_b").select(
        (F.col("_ci1") + F.col("_o1")).alias("cum1"),
        (F.col("_ci2") + F.col("_o2")).alias("cum2"),
    )
    totals = v.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    row = (
        cum.crossJoin(F.broadcast(totals))
        .agg(
            F.max(
                F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1"))
            ).alias("d"),
            F.max("n1").alias("n1"),
            F.max("n2").alias("n2"),
        )
        .collect()[0]
    )
    n1, n2, d_num = int(row["n1"]), int(row["n2"]), row["d"]
    v.unpersist()
    reject = float(d_num) / (float(n1) * float(n2)) > 1.358 * (
        (float(n1) + float(n2)) / (float(n1) * float(n2))
    ) ** 0.5
    return spark.createDataFrame(
        [(n1, n2, int(d_num), d_num * 1000000 // (n1 * n2), bool(reject))],
        "n1 long, n2 long, d_num long, d_ppm long, reject_05 boolean",
    )


@register(
    "mwu_spend_by_status",
    oracle="""
    WITH v AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS s,
             sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS c1,
             sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS c2
      FROM orders WHERE o_orderstatus IN ('F', 'O')
      GROUP BY 1
    ), cum AS (
      SELECT s, c1, c2, c1 + c2 AS ct,
             sum(c1 + c2) OVER (ORDER BY s) AS cumt
      FROM v
    ), agg AS (
      SELECT CAST(sum(c1) AS BIGINT) AS n1,
             CAST(sum(c2) AS BIGINT) AS n2,
             sum(CAST(c1 AS HUGEINT) * (2 * cumt - ct + 1)) AS r2,
             sum(CAST(ct AS HUGEINT) * ct * ct - ct) AS t
      FROM cum
    )
    SELECT n1, n2,
           CAST(r2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS BIGINT) AS u1_x2,
           CASE WHEN r2 - CAST(n1 AS HUGEINT) * (n1 + 1)
                     - CAST(n1 AS HUGEINT) * n2 = 0 THEN 0
           ELSE CAST(floor(
             CAST(r2 - CAST(n1 AS HUGEINT) * (n1 + 1)
                  - CAST(n1 AS HUGEINT) * n2 AS DOUBLE)
             / (2.0 * sqrt(
                 (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0)
                 * (CAST(n1 + n2 + 1 AS DOUBLE)
                    - CAST(t AS DOUBLE)
                      / (CAST(n1 + n2 AS DOUBLE)
                         * CAST(n1 + n2 - 1 AS DOUBLE)))))
             * 1000000.0 + 0.5) AS BIGINT) END AS z_ppm
    FROM agg
    """,
    tags=("scale", "stats", "test"),
)
def mwu_spend_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Mann-Whitney U (Wilcoxon rank-sum) between fulfilled
    ('F') and open ('O') order values — the RANK-based location test
    next to welch_t (means, assumes normal-ish) and ks_spend_by_status
    (whole-distribution shape): U detects a median/stochastic-dominance
    shift and is outlier-proof.

    Exact to the last integer before one final double tree: average
    ranks over ties come off the merged value HISTOGRAM — for each
    distinct cents value, the doubled rank-sum contribution of group 1
    is c1·(2·cumt − ct + 1) (cumt = cumulative total count, so the
    average tie rank (before + (ct+1)/2) doubles to an integer), giving
    2R1 and 2U1 = 2R1 − n1(n1+1) with no fact-sized sort anywhere (the
    ks discipline: cumulatives via the two-level log2-bucket prefix).
    Doubled sums are DECIMAL(38,0)/HUGEINT (they reach N²; Σct³ reaches
    N³). The tie-corrected normal z is the one shared IEEE tree:
    (2U1 − n1n2) / (2√((n1n2/12)·(N+1 − T/(N(N−1))))), T = Σ(ct³−ct).
    u1_x2 (=2·U1) is emitted instead of U1 so the gate compares exact
    integers (U1 itself is a .5 rational under ties)."""
    from ..operators.skew import size_histogram_cum

    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("F", "O")
    )
    v = (
        o.select(
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("long")
            .alias("s"),
            (F.col("o_orderstatus") == "F").cast("long").alias("is1"),
            (F.col("o_orderstatus") == "O").cast("long").alias("is2"),
        )
        .groupBy("s")
        .agg(F.sum("is1").alias("c1"), F.sum("is2").alias("c2"))
        .persist()
    )
    v.count()  # one histogram feeds the cumulative walk + the fold
    cumt = size_histogram_cum(
        v.select("s", (F.col("c1") + F.col("c2")).alias("cnt"))
    ).select("s", F.col("cum").alias("cumt"))
    row = (
        v.join(cumt, "s")
        .select(
            "c1",
            "c2",
            (F.col("c1") + F.col("c2")).alias("ct"),
            "cumt",
        )
        .agg(
            F.sum("c1").alias("n1"),
            F.sum("c2").alias("n2"),
            F.sum(
                (
                    F.col("c1").cast("decimal(38,0)")
                    * (2 * F.col("cumt") - F.col("ct") + 1)
                ).cast("decimal(38,0)")
            ).alias("r2"),
            F.sum(
                (
                    F.col("ct").cast("decimal(38,0)")
                    * F.col("ct")
                    * F.col("ct")
                    - F.col("ct")
                ).cast("decimal(38,0)")
            ).alias("t"),
        )
        .collect()[0]
    )
    v.unpersist()
    if row["n1"] is None or not row["n1"] or not row["n2"]:
        return spark.createDataFrame(
            [], "n1 long, n2 long, u1_x2 long, z_ppm long"
        )
    import math

    n1, n2 = int(row["n1"]), int(row["n2"])
    r2, t = int(row["r2"]), int(row["t"])
    u1_x2 = r2 - n1 * (n1 + 1)
    nn = n1 + n2
    if u1_x2 - n1 * n2 == 0:
        # exact-zero numerator short-circuits BEFORE the variance: when
        # every value is one tie run the variance is also 0 and the
        # quotient would be 0/0 — the exact-integer branch (shared with
        # the oracle's CASE) makes z identically 0 instead
        z_ppm = 0
    else:
        # the oracle's double tree, verbatim (exact ints in, one IEEE tree)
        z = float(u1_x2 - n1 * n2) / (
            2.0
            * math.sqrt(
                (float(n1) * float(n2) / 12.0)
                * (float(nn + 1) - float(t) / (float(nn) * float(nn - 1)))
            )
        )
        z_ppm = math.floor(z * 1000000.0 + 0.5)
    return spark.createDataFrame(
        [(n1, n2, u1_x2, z_ppm)],
        "n1 long, n2 long, u1_x2 long, z_ppm long",
    )


@register(
    "mann_kendall_trend",
    oracle="""
    WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS m FROM orders),
    daily AS (
      SELECT n.n_name, CAST(o.o_orderdate AS DATE) AS day,
             sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS y
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE CAST(o.o_orderdate AS DATE)
            >= (SELECT m FROM mx) - INTERVAL 364 DAY
      GROUP BY 1, 2
    ), s AS (
      SELECT a.n_name,
             CAST(sum(CASE WHEN b.y > a.y THEN 1
                           WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT)
               AS s_stat
      FROM daily a JOIN daily b
        ON a.n_name = b.n_name AND a.day < b.day
      GROUP BY 1
    ), nd AS (
      SELECT n_name, CAST(count(*) AS BIGINT) AS n_days FROM daily
      GROUP BY 1
    ), ties AS (
      SELECT n_name,
             CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS b
      FROM (SELECT n_name, y, count(*) AS t FROM daily GROUP BY 1, 2)
      GROUP BY 1
    )
    SELECT nd.n_name, nd.n_days, coalesce(s.s_stat, 0) AS s_stat,
           CASE
             WHEN coalesce(s.s_stat, 0) > 0 THEN
               CAST(floor(CAST(s.s_stat - 1 AS DOUBLE)
                 / sqrt(CAST(nd.n_days * (nd.n_days - 1)
                             * (2 * nd.n_days + 5) - ties.b AS DOUBLE)
                        / 18.0)
                 * 1000000.0 + 0.5) AS BIGINT)
             WHEN coalesce(s.s_stat, 0) < 0 THEN
               CAST(floor(CAST(s.s_stat + 1 AS DOUBLE)
                 / sqrt(CAST(nd.n_days * (nd.n_days - 1)
                             * (2 * nd.n_days + 5) - ties.b AS DOUBLE)
                        / 18.0)
                 * 1000000.0 + 0.5) AS BIGINT)
             ELSE 0
           END AS z_ppm
    FROM nd JOIN ties USING (n_name) LEFT JOIN s USING (n_name)
    WHERE nd.n_days >= 2
    """,
    tags=("scale", "stats", "trend"),
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend TEST per nation over the trailing-365-day
    daily-revenue series — the significance companion to
    theil_sen_trend's slope ESTIMATE (same pairing, same window: S
    counts concordant minus discordant day pairs; MK answers "is there
    a monotone trend at all", Theil-Sen answers "how steep").

    Scale: identical bound to theil_sen_trend — the fact table folds to
    the |nations|×365 daily frame first, the pairwise self-join is
    quadratic only in days-per-nation (calendar-bounded at ANY sf), and
    S / the tie term / n_days are three aggregates off that bounded
    frame. All integers until the final z: S exact, the tie-corrected
    variance (n(n−1)(2n+5) − Σt(t−1)(2t+5))/18 enters ONE shared IEEE
    tree (sqrt of the exact integer difference over 18.0), with the
    standard ±1 continuity correction branched by S's sign — the branch
    is on an exact integer, so it can never flip on rounding. varS = 0
    implies every pair is tied, which forces S = 0 and the z = 0 branch
    (no division there — CASE is lazy in both engines)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date("o_orderdate").alias("day"),
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    mx = o.agg(F.max("day").alias("m")).collect()[0]["m"]  # one scalar
    if mx is None:  # empty orders: the decile_profile convention
        return spark.createDataFrame(
            [], "n_name string, n_days long, s_stat long, z_ppm long"
        )
    o = o.filter(F.col("day") >= F.date_sub(F.lit(mx), 364))
    cu = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    na = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    daily = (
        o.join(scaled_dim(cu), o["o_custkey"] == cu["c_custkey"])
        .join(F.broadcast(na), cu["c_nationkey"] == na["n_nationkey"])
        .groupBy("n_name", "day")
        .agg(F.sum("cents").alias("y"))
        .persist()
    )
    daily.count()  # one fold feeds S, the tie term, and n_days
    a = daily.select("n_name", F.col("day").alias("d1"), F.col("y").alias("y1"))
    b = daily.select("n_name", F.col("day").alias("d2"), F.col("y").alias("y2"))
    s = (
        a.join(b, "n_name")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("n_name")
        .agg(
            F.sum(
                F.when(F.col("y2") > F.col("y1"), 1)
                .when(F.col("y2") < F.col("y1"), -1)
                .otherwise(0)
            ).alias("s_stat")
        )
    )
    nd = daily.groupBy("n_name").agg(F.count(F.lit(1)).alias("n_days"))
    ties = (
        daily.groupBy("n_name", "y")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("n_name")
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            ).alias("b")
        )
    )
    var_int = (
        F.col("n_days")
        * (F.col("n_days") - 1)
        * (2 * F.col("n_days") + 5)
        - F.col("b")
    ).cast("double")
    s0 = F.coalesce(F.col("s_stat"), F.lit(0))
    z_of = lambda shift: F.floor(  # noqa: E731
        (s0 + F.lit(shift)).cast("double")
        / F.sqrt(var_int / F.lit(18.0))
        * 1000000.0
        + 0.5
    ).cast("long")
    out = (
        nd.join(ties, "n_name")
        .join(s, "n_name", "left")
        .filter(F.col("n_days") >= 2)
        .select(
            "n_name",
            "n_days",
            s0.alias("s_stat"),
            F.when(s0 > 0, z_of(-1))
            .when(s0 < 0, z_of(1))
            .otherwise(F.lit(0).cast("long"))
            .alias("z_ppm"),
        )
    )
    rows = out.collect()  # |nations| rows; frees the daily cache
    daily.unpersist()
    return spark.createDataFrame(rows, schema=out.schema)


@register(
    "kendall_tau_daily",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS x,
             sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS y
      FROM orders GROUP BY 1
    ), pairs AS (
      SELECT sum(CASE WHEN (a.x - b.x) * (a.y - b.y) > 0
                      THEN 1 ELSE 0 END) AS c,
             sum(CASE WHEN (a.x - b.x) * (a.y - b.y) < 0
                      THEN 1 ELSE 0 END) AS d,
             count(*) AS t0
      FROM daily a JOIN daily b ON a.d < b.d
    ), tx AS (
      SELECT sum(t * (t - 1) // 2) AS t1
      FROM (SELECT count(*) AS t FROM daily GROUP BY x)
    ), ty AS (
      SELECT sum(t * (t - 1) // 2) AS t2
      FROM (SELECT count(*) AS t FROM daily GROUP BY y)
    )
    SELECT CAST((SELECT count(*) FROM daily) AS BIGINT) AS n_days,
           CAST(c AS BIGINT) AS concordant, CAST(d AS BIGINT) AS discordant,
           CAST(floor(CAST(c - d AS DOUBLE)
                / sqrt(CAST(t0 - tx.t1 AS DOUBLE)
                       * CAST(t0 - ty.t2 AS DOUBLE))
                * 1000000.0 + 0.5) AS BIGINT) AS tau_b_ppm
    FROM pairs CROSS JOIN tx CROSS JOIN ty
    """,
    tags=("scale", "stats", "correlation"),
)
def kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall τ-b between daily order COUNT and daily revenue — the
    rank-concordance correlation that, unlike Spearman's average ranks,
    is a plain count of agreeing vs disagreeing day pairs: EXACT
    integers up to the final normalization (spend_orders_spearman and
    this triangulate the same monotone-association question two ways).

    Scale: the fact table folds to the calendar-bounded daily frame
    first; the pair join is quadratic in DAYS (calendar-bounded, never
    fact-bounded); concordant/discordant/tie counts are exact integer
    aggregates, and the τ-b denominator √((T0−Tx)(T0−Ty)) is the one
    shared double tree."""
    o = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("d"),
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    daily = (
        o.groupBy("d")
        .agg(F.count(F.lit(1)).alias("x"), F.sum("cents").alias("y"))
        .persist()
    )
    n_days = daily.count()  # materialize before the three-consumer fan-out
    a = daily.select(F.col("d").alias("d1"), F.col("x").alias("x1"), F.col("y").alias("y1"))
    b = daily.select(F.col("d").alias("d2"), F.col("x").alias("x2"), F.col("y").alias("y2"))
    prod = (F.col("x1") - F.col("x2")) * (F.col("y1") - F.col("y2"))
    # r15: the pair fold and both tie terms come back in ONE collect
    # (1-row aggregates cross-joined) — was three sequential driver
    # round trips over the same cached daily frame.
    pr_agg = (
        a.crossJoin(b)
        .filter(F.col("d1") < F.col("d2"))
        .agg(
            F.sum((prod > 0).cast("long")).alias("c"),
            F.sum((prod < 0).cast("long")).alias("d"),
            F.count(F.lit(1)).alias("t0"),
        )
    )
    t1_agg = (
        daily.groupBy("x")
        .agg(F.count(F.lit(1)).alias("t"))
        .agg(F.sum(F.expr("t * (t - 1) div 2")).alias("t1"))
    )
    t2_agg = (
        daily.groupBy("y")
        .agg(F.count(F.lit(1)).alias("t"))
        .agg(F.sum(F.expr("t * (t - 1) div 2")).alias("t2"))
    )
    pr = (
        pr_agg.crossJoin(F.broadcast(t1_agg))
        .crossJoin(F.broadcast(t2_agg))
        .collect()[0]
    )
    t1, t2 = pr["t1"], pr["t2"]
    daily.unpersist()
    import math

    c, dd, t0 = int(pr["c"]), int(pr["d"]), int(pr["t0"])
    tau6 = math.floor(
        float(c - dd)
        / math.sqrt(float(t0 - t1) * float(t0 - t2))
        * 1000000.0
        + 0.5
    )
    return spark.createDataFrame(
        [(n_days, c, dd, tau6)],
        "n_days long, concordant long, discordant long, tau_b_ppm long",
    )


@register(
    "revenue_runs_test",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS y
      FROM orders GROUP BY 1
    ), nn AS (SELECT count(*) AS n FROM daily),
    med AS (
      SELECT y AS m
      FROM (SELECT y, row_number() OVER (ORDER BY y) AS rn FROM daily)
      CROSS JOIN nn WHERE rn = (n + 1) // 2
    ), signs AS (
      SELECT d, CASE WHEN y > (SELECT m FROM med) THEN 1 ELSE -1 END AS sg
      FROM daily WHERE y <> (SELECT m FROM med)
    ), runs AS (
      SELECT sum(CASE WHEN prev IS NULL OR sg <> prev THEN 1 ELSE 0 END)
               AS r,
             sum(CASE WHEN sg = 1 THEN 1 ELSE 0 END) AS n1,
             sum(CASE WHEN sg = -1 THEN 1 ELSE 0 END) AS n2
      FROM (SELECT sg, lag(sg) OVER (ORDER BY d) AS prev FROM signs)
    )
    SELECT CAST(n1 AS BIGINT) AS n_above, CAST(n2 AS BIGINT) AS n_below,
           CAST(r AS BIGINT) AS n_runs,
           CAST(floor((CAST(r AS DOUBLE)
                 - (2.0 * n1 * n2 / (n1 + n2) + 1.0))
                / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                       / ((CAST(n1 + n2 AS DOUBLE))
                          * (n1 + n2) * (n1 + n2 - 1)))
                * 1000000.0 + 0.5) AS BIGINT) AS z_ppm
    FROM runs
    """,
    tags=("scale", "stats", "test"),
)
def revenue_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test on daily revenue: are above/below-median
    days serially random, or do they clump (momentum/regime) or
    alternate (overcorrection)? The serial-randomness audit next to
    revenue_changepoint's single-break CUSUM — a market with clean CUSUM
    can still fail runs.

    Scale: the fact table folds to the calendar-bounded daily frame; the
    exact lower median reads off the value histogram (value_bucket_
    bounds, two-level prefix — no global sort); the run count is a
    sequential fold over the COLLECTED day-ordered sign series (calendar-
    bounded, the EWMA/KM driver-fold discipline) and the z-statistic is
    one shared double tree over exact integer counts."""
    from ..operators.analytics import value_bucket_bounds
    from ..operators.series import runs_eval

    o = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("d"),
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    daily = (
        o.groupBy("d").agg(F.sum("cents").alias("y")).persist()
    )
    daily.count()
    bounds = value_bucket_bounds(daily, "y", 2)
    if not bounds:  # empty orders: the decile_profile convention
        daily.unpersist()
        return spark.createDataFrame(
            [], "n_above long, n_below long, n_runs long, z_ppm long"
        )
    med = bounds[0]  # value at rank ceil(n/2)
    signs = daily.filter(F.col("y") != med).select(
        "d", F.when(F.col("y") > med, 1).otherwise(-1).alias("sg")
    )
    # runs_eval owns the calendar-bounded collect + run-count walk + the
    # degenerate-series empty-frame convention (operators/series.py)
    res = runs_eval(signs)
    daily.unpersist()
    return res


def _dow_anova_sql() -> str:
    """Generate the fixed-association ANOVA oracle: per-DOW moments as
    EXACT integers pivoted to one row, then an EXPLICIT left-to-right
    double tree (a bare SUM over doubles would associate in engine-
    specific order — the welch_t two-group discipline, generated for
    k=7)."""
    cols = ", ".join(
        f"sum(CASE WHEN dw = {d} THEN 1 ELSE 0 END) AS n{d}, "
        f"sum(CASE WHEN dw = {d} THEN y ELSE 0 END) AS s{d}, "
        f"sum(CASE WHEN dw = {d} THEN CAST(y AS HUGEINT) * y ELSE 0 END)"
        f" AS q{d}"
        for d in range(7)
    )
    term = lambda d: (  # noqa: E731
        f"(CAST(q{d} AS DOUBLE) - CAST(s{d} AS DOUBLE)"
        f" * CAST(s{d} AS DOUBLE) / CAST(n{d} AS DOUBLE))"
    )
    ssw = term(0)
    for d in range(1, 7):
        ssw = f"({ssw} + {term(d)})"
    n_sum = " + ".join(f"n{d}" for d in range(7))
    s_sum = " + ".join(f"s{d}" for d in range(7))
    q_sum = " + ".join(f"q{d}" for d in range(7))
    return f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(dayofweek(CAST(o_orderdate AS DATE)) AS INTEGER) AS dw,
             sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS y
      FROM orders GROUP BY 1, 2
    ), piv AS (
      SELECT {cols} FROM daily
    ), calc AS (
      SELECT CAST({n_sum} AS BIGINT) AS n,
             CAST({s_sum} AS HUGEINT) AS s,
             CAST({q_sum} AS HUGEINT) AS q,
             {ssw} AS ssw
      FROM piv
    )
    SELECT n AS n_days,
           CAST(floor(((CAST(q AS DOUBLE) - CAST(s AS DOUBLE)
                        * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) - ssw)
                / (CAST(q AS DOUBLE) - CAST(s AS DOUBLE)
                   * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                * 1000000.0 + 0.5) AS BIGINT) AS eta2_ppm,
           CAST(floor((((CAST(q AS DOUBLE) - CAST(s AS DOUBLE)
                         * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) - ssw)
                       / 6.0) / (ssw / (CAST(n AS DOUBLE) - 7.0))
                * 1000.0 + 0.5) AS BIGINT) AS f_milli
    FROM calc
    """


@register(
    "dow_anova",
    oracle=_dow_anova_sql(),
    tags=("scale", "stats", "seasonal"),
)
def dow_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of daily revenue by day-of-week: eta² (share of
    daily-revenue variance explained by the weekly cycle) and the F
    statistic — the k-group generalization of welch_t_nation, and the
    seasonality-STRENGTH summary behind seasonal_outliers' per-stratum
    screen (eta² ≈ 0 means hour/dow baselines buy nothing).

    Determinism: per-DOW moments are EXACT integers (HUGEINT/DECIMAL
    second moments — daily-cents² pass BIGINT at sf≥0.1) pivoted to ONE
    row, and the within-group sum of squares is an EXPLICIT
    left-to-right 7-term double tree generated identically for both
    engines — a bare SUM over per-group doubles would associate in
    engine-specific order. The fact table folds to the calendar-bounded
    daily frame first; everything after is a 1-row fold."""
    o = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("d"),
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    daily = o.groupBy("d").agg(F.sum("cents").alias("y")).select(
        (F.dayofweek("d")).cast("int").alias("dw"), "y"
    )
    piv = daily.agg(
        *[
            agg
            for dd in range(1, 8)  # Spark dayofweek: 1=Sunday..7
            for agg in (
                F.sum(F.when(F.col("dw") == dd, 1).otherwise(0)).alias(
                    f"n{dd}"
                ),
                F.sum(F.when(F.col("dw") == dd, F.col("y")).otherwise(0)).alias(
                    f"s{dd}"
                ),
                F.sum(
                    F.when(
                        F.col("dw") == dd,
                        (F.col("y").cast("decimal(38,0)") * F.col("y")).cast(
                            "decimal(38,0)"
                        ),
                    ).otherwise(F.lit(0).cast("decimal(38,0)"))
                ).alias(f"q{dd}"),
            )
        ]
    ).collect()[0]
    n = sum(int(piv[f"n{d}"]) for d in range(1, 8))
    s = sum(int(piv[f"s{d}"]) for d in range(1, 8))
    q = sum(int(piv[f"q{d}"]) for d in range(1, 8))
    ssw = 0.0
    for dd in range(1, 8):
        nd, sd, qd = int(piv[f"n{dd}"]), int(piv[f"s{dd}"]), int(piv[f"q{dd}"])
        ssw = ssw + (float(qd) - float(sd) * float(sd) / float(nd))
    import math

    sst = float(q) - float(s) * float(s) / float(n)
    eta2 = math.floor((sst - ssw) / sst * 1000000.0 + 0.5)
    f_milli = math.floor(((sst - ssw) / 6.0) / (ssw / (float(n) - 7.0)) * 1000.0 + 0.5)
    return spark.createDataFrame(
        [(n, eta2, f_milli)], "n_days long, eta2_ppm long, f_milli long"
    )


@register(
    "levene_bf_status",
    oracle="""
    WITH v AS (
      SELECT o_orderstatus AS st,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ), med AS (
      SELECT st, CAST(2 * median(cents) AS BIGINT) AS med2x
      FROM v GROUP BY 1
    ), z AS (
      SELECT v.st, abs(2 * v.cents - med.med2x) AS z2
      FROM v JOIN med USING (st)
    ), piv AS (
      SELECT
        sum(CASE WHEN st = 'O' THEN 1 ELSE 0 END) AS n_o,
        sum(CASE WHEN st = 'O' THEN z2 ELSE 0 END) AS s_o,
        sum(CASE WHEN st = 'O' THEN CAST(z2 AS HUGEINT) * z2 ELSE 0 END)
          AS q_o,
        sum(CASE WHEN st = 'F' THEN 1 ELSE 0 END) AS n_f,
        sum(CASE WHEN st = 'F' THEN z2 ELSE 0 END) AS s_f,
        sum(CASE WHEN st = 'F' THEN CAST(z2 AS HUGEINT) * z2 ELSE 0 END)
          AS q_f,
        sum(CASE WHEN st = 'P' THEN 1 ELSE 0 END) AS n_p,
        sum(CASE WHEN st = 'P' THEN z2 ELSE 0 END) AS s_p,
        sum(CASE WHEN st = 'P' THEN CAST(z2 AS HUGEINT) * z2 ELSE 0 END)
          AS q_p
      FROM z
    ), calc AS (
      SELECT *,
        CAST(n_o + n_f + n_p AS BIGINT) AS n,
        (CAST(s_o AS DOUBLE) / CAST(n_o AS DOUBLE)) AS zb_o,
        (CAST(s_f AS DOUBLE) / CAST(n_f AS DOUBLE)) AS zb_f,
        (CAST(s_p AS DOUBLE) / CAST(n_p AS DOUBLE)) AS zb_p,
        (CAST(s_o + s_f + s_p AS DOUBLE)
           / CAST(n_o + n_f + n_p AS DOUBLE)) AS zb
      FROM piv
    ), stat AS (
      SELECT n, n_o, n_f, n_p,
        (((CAST(n_o AS DOUBLE) * (zb_o - zb)) * (zb_o - zb)
          + (CAST(n_f AS DOUBLE) * (zb_f - zb)) * (zb_f - zb))
          + (CAST(n_p AS DOUBLE) * (zb_p - zb)) * (zb_p - zb)) AS between_ss,
        (((CAST(q_o AS DOUBLE)
             - (CAST(s_o AS DOUBLE) * CAST(s_o AS DOUBLE))
               / CAST(n_o AS DOUBLE))
          + (CAST(q_f AS DOUBLE)
             - (CAST(s_f AS DOUBLE) * CAST(s_f AS DOUBLE))
               / CAST(n_f AS DOUBLE)))
          + (CAST(q_p AS DOUBLE)
             - (CAST(s_p AS DOUBLE) * CAST(s_p AS DOUBLE))
               / CAST(n_p AS DOUBLE))) AS within_ss,
        s_o, s_f, s_p
      FROM calc
    )
    SELECT n,
           CAST(n_o AS BIGINT) AS n_o,
           CAST(n_f AS BIGINT) AS n_f,
           CAST(n_p AS BIGINT) AS n_p,
           CAST(s_o AS BIGINT) AS s_o,
           CAST(s_f AS BIGINT) AS s_f,
           CAST(s_p AS BIGINT) AS s_p,
           CAST(CASE WHEN n_o = 0 OR n_f = 0 OR n_p = 0
                       OR within_ss <= 0.0 THEN NULL
                ELSE floor((CAST(n - 3 AS DOUBLE) / 2.0)
                           * (between_ss / within_ss) * 1000.0 + 0.5)
                END AS BIGINT) AS w_milli
    FROM stat
    WHERE n_o IS NOT NULL
    """,
    tags=("scale", "stats", "test"),
)
def levene_bf_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variance-homogeneity test of order value across
    the three order statuses — the VARIANCE sibling of dow_anova (which
    tests means): are O/F/P equally dispersed, or does one status carry
    a wider spread than the pooled model assumes? Classic Levene with
    the median center (Brown-Forsythe), the robust variant.

    Determinism: deviations are exact integers via the doubled-median
    trick (z2 = |2·cents − med2x|, the mad_outliers discipline), pivoted
    to ONE row of exact (n, Σz2, Σz2² as DECIMAL(38,0)) per status, and
    the W statistic is an explicit fixed-association double tree written
    identically in both engines, emitted as w_milli. Two distributed
    passes (median, then the deviation pivot); the driver fold touches
    one 9-column row. Statuses with no rows or a zero within-SS NULL the
    statistic rather than diverging on inf/nan semantics."""
    import math

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("st"),
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    med = o.groupBy("st").agg(
        (F.lit(2) * F.median("cents")).cast("long").alias("med2x")
    )
    z = o.join(F.broadcast(med), "st").select(
        "st", F.abs(F.lit(2) * F.col("cents") - F.col("med2x")).alias("z2")
    )
    piv = z.agg(
        *[
            agg
            for st in ("o", "f", "p")
            for agg in (
                F.sum(
                    F.when(F.col("st") == st.upper(), 1).otherwise(0)
                ).alias(f"n_{st}"),
                F.sum(
                    F.when(F.col("st") == st.upper(), F.col("z2")).otherwise(
                        0
                    )
                ).alias(f"s_{st}"),
                F.sum(
                    F.when(
                        F.col("st") == st.upper(),
                        (
                            F.col("z2").cast("decimal(38,0)") * F.col("z2")
                        ).cast("decimal(38,0)"),
                    ).otherwise(F.lit(0).cast("decimal(38,0)"))
                ).alias(f"q_{st}"),
            )
        ]
    ).collect()[0]
    schema = (
        "n long, n_o long, n_f long, n_p long,"
        " s_o long, s_f long, s_p long, w_milli long"
    )
    if piv["n_o"] is None:  # empty orders: the oracle's WHERE drops the row
        return spark.createDataFrame([], schema)
    n_o, n_f, n_p = int(piv["n_o"]), int(piv["n_f"]), int(piv["n_p"])
    s_o, s_f, s_p = int(piv["s_o"]), int(piv["s_f"]), int(piv["s_p"])
    n = n_o + n_f + n_p
    w_milli = None
    if n_o > 0 and n_f > 0 and n_p > 0:
        q_o, q_f, q_p = int(piv["q_o"]), int(piv["q_f"]), int(piv["q_p"])
        zb_o = float(s_o) / float(n_o)
        zb_f = float(s_f) / float(n_f)
        zb_p = float(s_p) / float(n_p)
        zb = float(s_o + s_f + s_p) / float(n)
        between_ss = (
            (float(n_o) * (zb_o - zb)) * (zb_o - zb)
            + (float(n_f) * (zb_f - zb)) * (zb_f - zb)
        ) + (float(n_p) * (zb_p - zb)) * (zb_p - zb)
        within_ss = (
            (float(q_o) - (float(s_o) * float(s_o)) / float(n_o))
            + (float(q_f) - (float(s_f) * float(s_f)) / float(n_f))
        ) + (float(q_p) - (float(s_p) * float(s_p)) / float(n_p))
        if within_ss > 0.0:
            w_milli = math.floor(
                (float(n - 3) / 2.0) * (between_ss / within_ss) * 1000.0
                + 0.5
            )
    return spark.createDataFrame(
        [(n, n_o, n_f, n_p, s_o, s_f, s_p, w_milli)], schema
    )


@register(
    "revenue_mom",
    oracle="""
    WITH m AS (
      SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS mon,
             sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents,
             count(*) AS n_orders
      FROM orders GROUP BY 1
    ), w AS (
      SELECT mon, cents, n_orders,
             lag(cents) OVER (ORDER BY mon) AS prev_cents
      FROM m
    )
    SELECT strftime(mon, '%Y-%m') AS month,
           CAST(n_orders AS BIGINT) AS n_orders,
           CAST(cents AS BIGINT) AS revenue_cents,
           CAST(prev_cents AS BIGINT) AS prev_cents,
           CAST(floor(CAST((cents - prev_cents) AS DOUBLE) * 1000000.0
                / CAST(prev_cents AS DOUBLE)) AS BIGINT) AS growth_ppm
    FROM w WHERE prev_cents IS NOT NULL
    """,
    tags=("scale", "window", "reporting"),
)
def revenue_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth — the board-deck table (monthly
    revenue, prior month, signed growth in integral ppm). Growth uses an
    explicit double FLOOR — a bare integer division would diverge on
    negative growth (Spark's `div` truncates toward zero, DuckDB's `//`
    floors), the pmod class of cross-engine trap.

    Scale: one orders scan folds to the calendar-bounded monthly frame
    (≤ a few hundred rows at ANY sf); the lag window runs unpartitioned
    over THAT frame only — the sanctioned bounded-domain case, never the
    fact rows."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").select(
        F.date_trunc("month", F.to_date("o_orderdate")).alias("mon"),
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    m = o.groupBy("mon").agg(
        F.sum("cents").alias("cents"), F.count(F.lit(1)).alias("n_orders")
    )
    w = Window.orderBy("mon")
    out = m.select(
        F.date_format("mon", "yyyy-MM").alias("month"),
        "n_orders",
        F.col("cents").alias("revenue_cents"),
        F.lag("cents").over(w).alias("prev_cents"),
    ).filter(F.col("prev_cents").isNotNull())
    return out.withColumn(
        "growth_ppm",
        F.floor(
            (F.col("revenue_cents") - F.col("prev_cents")).cast("double")
            * F.lit(1000000.0)
            / F.col("prev_cents").cast("double")
        ).cast("long"),
    )


@register(
    "spend_lorenz",
    oracle="""
    WITH v AS (
      SELECT o_custkey,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS c
      FROM orders GROUP BY 1
    ), h AS (SELECT c, count(*) AS cnt FROM v GROUP BY c),
    ch AS (SELECT c, cnt, sum(cnt) OVER (ORDER BY c) AS cum FROM h),
    t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM h),
    b AS (
      SELECT k, min(CASE WHEN cum >= (k * n + 9) // 10 THEN c END) AS bound
      FROM ch CROSS JOIN t
      CROSS JOIN (SELECT unnest(generate_series(1, 9)) AS k) ks
      GROUP BY k
    ), d AS (
      SELECT h.c, h.cnt,
             1 + CAST(sum(CASE WHEN b.bound < h.c THEN 1 ELSE 0 END)
                      AS INTEGER) AS decile
      FROM h CROSS JOIN b GROUP BY h.c, h.cnt
    ), per AS (
      SELECT decile, CAST(sum(cnt) AS BIGINT) AS n_customers,
             CAST(sum(c * cnt) AS BIGINT) AS decile_cents
      FROM d GROUP BY decile
    ), tot AS (SELECT sum(decile_cents) AS tc FROM per)
    SELECT decile, n_customers, decile_cents,
           CAST(sum(decile_cents) OVER (ORDER BY decile) * 1000000
                // tot.tc AS BIGINT) AS cum_share_ppm
    FROM per CROSS JOIN tot
    """,
    tags=("scale", "concentration", "percentile"),
)
def spend_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz-curve points of per-customer spend: cumulative revenue
    share at each spend decile — the curve BEHIND revenue_gini's single
    number and hhi_concentration's index (the 'bottom 50% of customers
    hold X% of revenue' chart). Deciles are the exact value-bucketed
    boundaries (decile_profile machinery — no global sort, ties share a
    bucket); cumulative shares are exact integer ppm over the ≤10-row
    decile frame."""
    from ..operators.analytics import decile_profile
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
        ).alias("c")
    )
    per = decile_profile(o, "c").select(
        "decile",
        F.col("n_rows").alias("n_customers"),
        F.col("sum_value").alias("decile_cents"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    out = per.select(
        "decile",
        "n_customers",
        "decile_cents",
        F.sum("decile_cents").over(w).alias("cum_cents"),
        F.sum("decile_cents").over(Window.partitionBy()).alias("tc"),
    ).select(
        "decile",
        "n_customers",
        "decile_cents",
        F.expr("cum_cents * 1000000L div tc").alias("cum_share_ppm"),
    )
    rows = out.collect()  # <=10 rows
    return spark.createDataFrame(rows, schema=out.schema)


def pava_fit_pools(sn: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """WEIGHTED Pool-Adjacent-Violators over (sum, count) observations:
    position i carries ``count_i`` points totalling ``sum_i`` (the
    grouped form — what a calibration bin is). Returns one merged
    (sum, count) pool per INPUT POSITION (the L2 projection onto the
    non-decreasing cone under those weights). Exact integer state; pool
    means compare by cross-multiplication so no float ever forms."""
    pools: list[list[int]] = []  # [sum, count, n_positions]
    for s0, n0 in sn:
        pools.append([s0, n0, 1])
        # merge while the last pool's mean < the previous pool's mean
        while len(pools) >= 2 and (
            pools[-1][0] * pools[-2][1] < pools[-2][0] * pools[-1][1]
        ):
            s, n, k = pools.pop()
            pools[-1][0] += s
            pools[-1][1] += n
            pools[-1][2] += k
    out = []
    for s, n, k in pools:
        out.extend([(s, n)] * k)
    return out


def pava_fit(ys: list[int]) -> list[tuple[int, int]]:
    """Pool-Adjacent-Violators over an integer sequence: returns one
    (sum, count) pool per input position (the L2 projection onto the
    non-decreasing cone). The unit-weight case of
    :func:`pava_fit_pools` (for unit weights n_positions == count, so
    the expansions coincide). Kept module-level so the
    two-implementation pytest pin (vs the Fraction minimax formula
    fitted_i = max_{j<=i} min_{k>=i} mean(y[j..k])) can call it
    directly."""
    return pava_fit_pools([(y, 1) for y in ys])


# Full cross-engine oracle for the isotonic fit (r13 — upgrading the
# rows-only entry): the minimax characterization
#   fitted_i = max_{j<=i} min_{k>=i} mean(y[j..k])
# needs an exact ORDER over rational segment means, which SQL min/max
# can't cross-multiply pairwise — but it doesn't have to: with n =
# |days| positions, two DISTINCT means s1/n1 ≠ s2/n2 (n's ≤ n) differ by
# at least 1/(n1·n2) ≥ 1/n², so the scaled-integer key
#   meankey = (segment_sum · 10¹⁵) // segment_len      (HUGEINT floor)
# is an EXACT total order: equal rationals floor to the same key (the
# floor of q·10¹⁵ depends only on q), and distinct ones differ by
# ≥ 10¹⁵/n² ≫ 1 for any n up to ~30M days. min/max over the keys is
# then exact, and the engine's emitted floor survives un-flooring:
#   fit_microcents = floor(q·10⁶) = floor(floor(q·10¹⁵) / 10⁹) = key//10⁹
# (the floor-of-floor identity for integer 10⁹). Cost: the O(n²)
# segment frame (~3M rows at the 2,400-day TPC-H calendar) with one
# suffix-min window per start position — B(j,i) = min_{k≥i} mean(j..k)
# — and one GROUP BY for the outer max; HUGEINT headroom holds to
# ~10²³ total cents. The PAVA↔minimax equivalence itself stays pinned
# by the two-implementation Fraction test (tests/test_isotonic.py).
_ISOTONIC_ORACLE = """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1
    ), ord AS (
      SELECT d, y,
             row_number() OVER (ORDER BY d) AS i,
             sum(CAST(y AS HUGEINT)) OVER (ORDER BY d) AS s
      FROM daily
    ), seg AS (
      SELECT j.i AS j, k.i AS k,
             ((k.s - j.s + j.y) * CAST(1000000000000000 AS HUGEINT))
               // (k.i - j.i + 1) AS meankey
      FROM ord j JOIN ord k ON k.i >= j.i
    ), sfx AS (
      SELECT j, k,
             min(meankey) OVER (
               PARTITION BY j ORDER BY k DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS bmin
      FROM seg
    ), fit AS (
      SELECT k AS i, max(bmin) AS fitkey FROM sfx GROUP BY k
    )
    SELECT CAST(o.d AS VARCHAR) AS d, o.y AS y_cents,
           CAST(f.fitkey // 1000000000 AS BIGINT) AS fit_microcents
    FROM ord o JOIN fit f ON f.i = o.i
"""


@register(
    "isotonic_revenue",
    oracle=_ISOTONIC_ORACLE,
    tags=("scale", "stats", "calibration"),
)
def isotonic_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone non-decreasing) regression of daily revenue
    over the calendar — the shape-constrained smoother, and THE
    classifier-calibration primitive (isotonic calibration maps raw
    model scores to probabilities; here it extracts the monotone trend
    a drifting revenue series carries without assuming linearity like
    revenue_trend or a window like revenue_ewma).

    Exact arithmetic end-to-end: PAVA pools are integer (sum, count)
    pairs, violator detection compares pool means by CROSS-MULTIPLICATION
    (s1·n2 < s2·n1 — no float ever forms, the KS discipline), and the
    emitted fit is floor-div micro-cents. The fact table folds
    distributed to the calendar-bounded daily frame; the sequential pool
    merge walks that bounded series driver-side (the EWMA/KM
    discipline)."""
    o = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("d"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("v"),
    )
    daily = o.groupBy("d").agg(F.sum("v").alias("y"))
    return isotonic_eval(daily)


@series_entry("|days| daily fold (calendar bounded)")
def isotonic_eval(daily: DataFrame) -> DataFrame:
    """PAVA over a (d, y) daily frame — shared verbatim between the
    batch query and the live twin (isotonic_revenue_live, fed by the SPC
    mart's daily fold), so batch ≡ live holds by construction above the
    fold. The collect is calendar-bounded: |days| rows (the ordering,
    bound assert and ITERATIVE guard live in bounded_series_eval)."""

    def pava_walk(rows: list) -> list[tuple]:
        fit = pava_fit([r["y"] for r in rows])
        return [
            (str(r["d"]), r["y"], s * 1000000 // n)
            for r, (s, n) in zip(rows, fit)
        ]

    return bounded_series_eval(
        daily,
        ("d",),
        pava_walk,
        "d string, y_cents long, fit_microcents long",
        bound=20_000,
    )


@series_entry("score-bin calibration table (<= 21 quality bins)")
def isotonic_calibration_eval(bins: DataFrame) -> DataFrame:
    """Weighted PAVA over a (bin, s, n) frame — s successes out of n
    trials per ascending score bin — returning the monotone calibrated
    probability per bin in exact ppm (pool_sum · 10⁶ div pool_count).
    THE isotonic-calibration application step: the consumer broadcasts
    this ≤|bins|-row table back onto the per-row frame. Shares
    :func:`pava_fit_pools` with isotonic_revenue's pin."""

    def calib_walk(rows: list) -> list[tuple]:
        fit = pava_fit_pools([(r["s"], r["n"]) for r in rows])
        return [
            (r["bin"], r["s"], r["n"], s * 1000000 // n)
            for r, (s, n) in zip(rows, fit)
        ]

    return bounded_series_eval(
        bins,
        ("bin",),
        calib_walk,
        "bin long, s long, n long, cal_ppm long",
        bound=1_000,
    )


@register(
    "spc_violations",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1
    ), mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS HUGEINT) AS s,
             sum(CAST(y AS HUGEINT) * y) AS q
      FROM daily
    ), sided AS (
      SELECT d, y,
             CASE WHEN CAST(y AS HUGEINT) * mom.n > mom.s THEN 1
                  WHEN CAST(y AS HUGEINT) * mom.n < mom.s THEN -1
                  ELSE 0 END AS side,
             (CAST(y AS HUGEINT) * mom.n - mom.s)
               * (CAST(y AS HUGEINT) * mom.n - mom.s)
               > 9 * (mom.n * mom.q - mom.s * mom.s) AS rule1
      FROM daily CROSS JOIN mom
    ), runs AS (
      SELECT d, y, side, rule1,
             row_number() OVER (ORDER BY d)
               - row_number() OVER (PARTITION BY side ORDER BY d) AS grp
      FROM sided
    ), runlen AS (
      SELECT d, y, side, rule1,
             count(*) OVER (PARTITION BY side, grp) AS run_len
      FROM runs
    )
    SELECT strftime(d, '%Y-%m-%d') AS day, y AS cents, side,
           CAST(run_len AS BIGINT) AS run_len,
           rule1, (side <> 0 AND run_len >= 8) AS rule2
    FROM runlen
    WHERE rule1 OR (side <> 0 AND run_len >= 8)
    """,
    tags=("scale", "quality", "monitoring"),
)
def spc_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-process-control violations on daily revenue — the two
    classic Shewhart/Western-Electric rules: rule 1 (a day beyond the
    ±3σ control limits) and rule 2 (8+ consecutive days strictly the
    same side of the mean — a sustained shift 3σ never flags). The
    operational monitoring layer next to seasonal_outliers (per-stratum)
    and revenue_changepoint (single break).

    FULLY exact — no floating point anywhere; the shared rule engine
    (operators/spc.py:spc_eval, also behind spc_violations_live)
    rewrites |y−μ|>3σ to (y·n − S)² > 9(nQ − S²) in DECIMAL(38,0)/
    HUGEINT and takes the mean side as the exact integer sign of
    y·n − S, so a borderline day can never flip engines. Scale: the
    fact table folds to the calendar-bounded daily frame first; the
    run-length windows (gaps-and-islands on the side sign) are
    unpartitioned but run over <= |calendar| rows by construction —
    the runs-test/EWMA bound."""
    from ..operators.spc import spc_eval

    o = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("d"),
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    return spc_eval(spark, o.groupBy("d").agg(F.sum("cents").alias("y")))



@register(
    "cramers_v_type_hour",
    oracle="""
    WITH o AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr, count(*) AS o
      FROM events GROUP BY 1, 2
    ), rt AS (
      SELECT event_type, CAST(sum(o) AS BIGINT) AS rt FROM o GROUP BY 1
    ), ct AS (
      SELECT hr, CAST(sum(o) AS BIGINT) AS ct FROM o GROUP BY 1
    ), n AS (
      SELECT CAST(sum(o) AS BIGINT) AS n FROM o
    ), cells AS (
      SELECT o, rt * ct * 1000000 // n.n AS e6
      FROM o JOIN rt USING (event_type) JOIN ct USING (hr) CROSS JOIN n
    ), chi AS (
      SELECT CAST(sum(CAST(floor(
               ((CAST(o AS DOUBLE) - CAST(e6 AS DOUBLE) / 1000000.0)
                * (CAST(o AS DOUBLE) - CAST(e6 AS DOUBLE) / 1000000.0)
                / (CAST(e6 AS DOUBLE) / 1000000.0)) * 1000000 + 0.5)
             AS BIGINT)) AS BIGINT) AS chi2_sum6
      FROM cells WHERE e6 > 0
    ), dims AS (
      SELECT CAST(count(*) AS BIGINT) AS r FROM rt
    ), dims2 AS (
      SELECT CAST(count(*) AS BIGINT) AS c FROM ct
    )
    SELECT n.n, dims.r, dims2.c, chi.chi2_sum6,
           CAST(floor(sqrt(
             CAST(chi.chi2_sum6 AS DOUBLE) / 1000000.0
             / (CAST(n.n AS DOUBLE)
                * CAST(least(dims.r - 1, dims2.c - 1) AS DOUBLE)))
             * 1000000.0 + 0.5) AS BIGINT) AS v_ppm
    FROM chi CROSS JOIN n CROSS JOIN dims CROSS JOIN dims2
    """,
    tags=("scale", "stats", "test"),
)
def cramers_v_type_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V — the 0..1 EFFECT SIZE for the event-type × hour
    association whose significance type_hour_chi2 screens (chi² grows
    with n, so at fact scale everything is "significant"; V answers
    "how strongly coupled", invariant to sample size).

    Defined over type_hour_chi2's own per-cell statistic verbatim: each
    cell's floor-6dp chi² contribution (exact-integer expected counts
    e6 = row·col·1e6 div n, one shared IEEE tree per cell) SUMS as an
    exact integer — sidestepping the engine-order-of-addition problem a
    bare SUM over doubles would have (the dow_anova discipline, solved
    by integerizing per cell instead of generating a fold tree) — then
    V = √(chi²/(n·min(r−1,c−1))) is one final double tree. Scale: one
    events scan folds to the |types|×24 cell table; marginals broadcast
    back; the result is a single row, computed distributed (no driver
    fold)."""
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.select("event_type", F.hour("ts").cast("long").alias("hr"))
        .groupBy("event_type", "hr")
        .agg(F.count(F.lit(1)).alias("o"))
        .persist()
    )
    rt = cells.groupBy("event_type").agg(F.sum("o").alias("rt"))
    ct = cells.groupBy("hr").agg(F.sum("o").alias("ct"))
    # r15: the n/r/c scalars ride the chi fold as a 1-row cross join
    # and everything returns in ONE collect (was: eager cache count +
    # scalar collect + chi collect — three driver round trips). The
    # integer e6 expression is unchanged (div by the n COLUMN instead
    # of the collected literal — same value).
    scal = cells.agg(
        F.sum("o").alias("n"),
        F.countDistinct("event_type").alias("r"),
        F.countDistinct("hr").alias("c"),
    )
    e6 = F.expr("rt * ct * 1000000 div n")
    od = F.col("o").cast("double")
    e6d = F.col("e6").cast("double") / 1000000.0
    chi_agg = (
        cells.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "hr")
        .crossJoin(F.broadcast(scal))
        .withColumn("e6", e6)
        .filter(F.col("e6") > 0)
        .select(
            F.floor(((od - e6d) * (od - e6d) / e6d) * 1000000 + 0.5)
            .cast("long")
            .alias("chi2_6")
        )
        .agg(F.sum("chi2_6").alias("chi2_sum6"))
    )
    row = chi_agg.crossJoin(F.broadcast(scal)).collect()[0]
    cells.unpersist()
    if row["n"] is None or int(row["n"]) == 0:
        return spark.createDataFrame(
            [], "n long, r long, c long, chi2_sum6 long, v_ppm long"
        )
    n, r, c, chi = int(row["n"]), int(row["r"]), int(row["c"]), row["chi2_sum6"]
    import math

    chi = int(chi)
    k = min(r - 1, c - 1)
    v_ppm = math.floor(
        math.sqrt(float(chi) / 1000000.0 / (float(n) * float(k)))
        * 1000000.0
        + 0.5
    )
    return spark.createDataFrame(
        [(n, r, c, chi, v_ppm)],
        "n long, r long, c long, chi2_sum6 long, v_ppm long",
    )


@register(
    "order_price_reconcile",
    oracle="""
    WITH line AS (
      SELECT l_orderkey,
             CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                 * (1 + l_tax) * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS recon
      FROM lineitem GROUP BY 1
    ), j AS (
      SELECT o.o_orderstatus,
             coalesce(line.recon, 0)
               - CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)
               AS drift
      FROM orders o LEFT JOIN line ON o.o_orderkey = line.l_orderkey
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN drift <> 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_mismatch,
           CAST(max(abs(drift)) AS BIGINT) AS max_abs_drift_cents,
           CAST(sum(abs(drift)) AS BIGINT) AS total_abs_drift_cents
    FROM j GROUP BY 1
    """,
    tags=("scale", "quality", "audit"),
)
def order_price_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invoice reconciliation audit: recompute every order's total from
    its line items (extendedprice·(1−discount)·(1+tax), the TPC-H
    invariant) and reconcile against the order header's o_totalprice —
    per status: order count, mismatch count, worst and total absolute
    drift in cents. The referential money audit next to fk_orphans
    (keys) and expectations_check (ranges): silent header/line drift is
    the classic upstream-ETL defect.

    Determinism: the per-line cents expression is ONE shared IEEE tree
    (left-associated products of correctly-rounded double ops, floored
    to exact cents), summed exactly per order; the drift and all four
    aggregates are pure integers. Scale: one lineitem scan folds to
    per-order cents (one orderkey exchange), the header join is
    key-co-partitioned, the result is |statuses| rows — no driver
    fold, no window."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.floor(
            F.col("l_extendedprice")
            * (F.lit(1) - F.col("l_discount"))
            * (F.lit(1) + F.col("l_tax"))
            * 100
            + 0.5
        )
        .cast("long")
        .alias("line_cents"),
    )
    recon = li.groupBy("l_orderkey").agg(F.sum("line_cents").alias("recon"))
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("long")
        .alias("listed"),
    )
    drift = (
        o.join(recon, o["o_orderkey"] == recon["l_orderkey"], "left")
        .select(
            "o_orderstatus",
            (F.coalesce(F.col("recon"), F.lit(0)) - F.col("listed")).alias(
                "drift"
            ),
        )
    )
    return drift.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum((F.col("drift") != 0).cast("long")).alias("n_mismatch"),
        F.max(F.abs("drift")).alias("max_abs_drift_cents"),
        F.sum(F.abs("drift")).alias("total_abs_drift_cents"),
    )


@register(
    "share_drift",
    oracle="""
    WITH rev AS (
      SELECT p.p_brand AS brand, CAST(l.l_shipdate AS DATE) AS d,
             CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100
                        + 0.5) AS BIGINT) AS cents
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), bounds AS (
      SELECT min(d) AS lo,
             min(d) + (date_diff('day', min(d), max(d)) // 2)
               * INTERVAL 1 DAY AS mid
      FROM rev
    ), halves AS (
      SELECT brand,
             CAST(sum(CASE WHEN d < (SELECT mid FROM bounds)
                           THEN cents ELSE 0 END) AS BIGINT) AS cents_h1,
             CAST(sum(CASE WHEN d >= (SELECT mid FROM bounds)
                           THEN cents ELSE 0 END) AS BIGINT) AS cents_h2
      FROM rev GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(cents_h1) AS BIGINT) AS t1,
             CAST(sum(cents_h2) AS BIGINT) AS t2
      FROM halves
    )
    SELECT brand, cents_h1, cents_h2,
           CAST(cents_h1 * 1000000 // tot.t1 AS BIGINT) AS share1_ppm,
           CAST(cents_h2 * 1000000 // tot.t2 AS BIGINT) AS share2_ppm,
           CAST(cents_h2 * 1000000 // tot.t2
                - cents_h1 * 1000000 // tot.t1 AS BIGINT) AS drift_ppm
    FROM halves CROSS JOIN tot
    """,
    tags=("scale", "share", "drift"),
)
def share_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-share drift per brand between the first and second half
    of the shipping calendar — the mix-shift detector (a brand whose
    absolute revenue grew can still be LOSING share; share drift is
    what category management actually watches, and a big |drift| is the
    lead for the ks/mwu distribution tests).

    Exact integer ppm: per-line cents through the shared IEEE tree,
    half-assignment by an exact date comparison against the integer
    midpoint day (min + span div 2 — deterministic, data-derived, no
    wall clock), shares as floor-div of exact BIGINT sums. Scale: one
    lineitem scan (the part join broadcasts by runtime size at bench
    SF), ONE brand exchange producing both halves as conditional sums,
    the totals as an unpartitioned window over the |brands|-bounded
    frame."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.to_date("l_shipdate").alias("d"),
        F.floor(
            F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * 100
            + 0.5
        )
        .cast("long")
        .alias("cents"),
    )
    pa = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rev = li.join(scaled_dim(pa), li["l_partkey"] == pa["p_partkey"]).select(
        F.col("p_brand").alias("brand"), "d", "cents"
    )
    b = rev.agg(F.min("d").alias("lo"), F.max("d").alias("hi")).collect()[0]
    if b["lo"] is None:  # empty lineitem: the decile_profile convention
        return spark.createDataFrame(
            [],
            "brand string, cents_h1 long, cents_h2 long,"
            " share1_ppm long, share2_ppm long, drift_ppm long",
        )
    import datetime

    mid = b["lo"] + datetime.timedelta(
        days=(b["hi"] - b["lo"]).days // 2
    )
    halves = rev.groupBy("brand").agg(
        F.sum(F.when(F.col("d") < F.lit(mid), F.col("cents")).otherwise(0))
        .alias("cents_h1"),
        F.sum(F.when(F.col("d") >= F.lit(mid), F.col("cents")).otherwise(0))
        .alias("cents_h2"),
    )
    tot = Window.partitionBy()
    return halves.select(
        "brand",
        "cents_h1",
        "cents_h2",
        F.sum("cents_h1").over(tot).alias("_t1"),
        F.sum("cents_h2").over(tot).alias("_t2"),
    ).select(
        "brand",
        "cents_h1",
        "cents_h2",
        F.expr("cents_h1 * 1000000L div _t1").alias("share1_ppm"),
        F.expr("cents_h2 * 1000000L div _t2").alias("share2_ppm"),
        (
            F.expr("cents_h2 * 1000000L div _t2")
            - F.expr("cents_h1 * 1000000L div _t1")
        ).alias("drift_ppm"),
    )


@register(
    "basket_size_dist",
    oracle="""
    WITH widths AS (
      SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines
      FROM lineitem GROUP BY 1
    ), hist AS (
      SELECT n_lines, CAST(count(*) AS BIGINT) AS n_orders
      FROM widths GROUP BY 1
    )
    SELECT n_lines, n_orders,
           CAST(n_orders * 1000000
                // (SELECT sum(n_orders) FROM hist) AS BIGINT) AS share_ppm,
           CAST(sum(n_orders) OVER (ORDER BY n_lines) * 1000000
                // (SELECT sum(n_orders) FROM hist) AS BIGINT)
             AS cum_share_ppm
    FROM hist
    """,
    tags=("scale", "profile", "basket"),
)
def basket_size_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-width distribution: how many orders have k line items, with
    exact ppm share and cumulative share — the basket-width profile that
    bounds every within-order quadratic in the engine (brand_affinity /
    assoc_rules pair joins are O(width²) per order; this table is the
    measured certificate that width is a small constant, and the first
    thing to re-check if fact-data drift ever breaks that assumption).

    One lineitem scan, one orderkey fold, then a |widths|-bounded
    histogram (TPC-H: 7 rows at any sf) with bounded windows. Exact
    integers throughout."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    widths = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines")
    )
    hist = widths.groupBy("n_lines").agg(F.count(F.lit(1)).alias("n_orders"))
    w_cum = Window.orderBy("n_lines")
    w_all = Window.partitionBy()
    return hist.select(
        "n_lines",
        "n_orders",
        F.sum("n_orders").over(w_all).alias("_t"),
        F.sum("n_orders").over(w_cum).alias("_c"),
    ).select(
        "n_lines",
        "n_orders",
        F.expr("n_orders * 1000000L div _t").alias("share_ppm"),
        F.expr("_c * 1000000L div _t").alias("cum_share_ppm"),
    )
