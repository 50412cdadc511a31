"""The remaining TPC-H plan shapes expressible on the driver's schema.

Rounds 1-8 already carry Q1/Q3/Q5/Q10/Q18 (`pricing_summary`,
`shipping_priority`, `local_supplier_volume`, `returned_item_report`,
`large_volume_orders` — plans/parity.py, plans/scale.py). This module
completes the decision-support surface the reference's ad-hoc ADS layer
implies (SURVEY.md §2.6-§2.8; reference ads/TrademarkStatApp.scala is a
single hand-built report — a user switching engines expects the whole
report family): each query below is one CLASSIC plan shape the engine
must get right at 100 TB, with the Spark plan chosen for scale and a
full DuckDB oracle.

Shapes covered here (TPC-H number → what it exercises):
- Q4  `late_order_priority`   — EXISTS semi-join with a non-equi residual
- Q7  `volume_shipping`       — two independent dim broadcasts, year rollup
- Q8  `market_share`          — conditional-sum ratio over a 6-way join
- Q13 `customer_distribution` — outer join + double aggregation histogram
- Q14 `promo_revenue`         — global conditional ratio, broadcast dim
- Q15 `top_supplier`          — agg → scalar-max broadcast equality filter
- Q17 `small_qty_revenue`     — per-key avg as a window (correlated-subquery
                                 rewrite), quantity-threshold filter
- Q19 `disjunctive_revenue`   — OR-of-conjunctions predicate across a join
- Q21 `waiting_suppliers`     — EXISTS + NOT EXISTS double correlation,
                                 rewritten as one per-order aggregation
- Q22 `sales_opportunity`     — scalar-avg subquery + anti join

Schema adaptations (the driver's tables lack partsupp, l_commitdate /
l_receiptdate / l_shipmode, c_phone): "late" is shipped > N days after
the order date; Q22's phone country code becomes c_nationkey. Plan
SHAPE is preserved in every case — that is what is being tested.

Determinism follows the parity.py rules: decimal money sums, floor-based
2-dp/6-dp rounding written as the identical expression tree both sides,
unique tiebreakers in every ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.hints import scaled_dim

from ..functions.money import money
from ..sources import load_table
from .catalog import register
from .parity import _REV_SQL, _revenue_dec

_DEC0 = "CAST(0 AS DECIMAL(18,2))"


def _qty_dec():
    # quantities are integral doubles (1..50): DECIMAL(18,2) is exact,
    # making their sums order-independent for the Q17 per-part average
    return money("l_quantity")


_QTY_SQL = "CAST(l_quantity AS DECIMAL(18,2))"


# ---------------------------------------------------------------------------
# Q4 — priority report over late orders: EXISTS with a non-equi residual
# ---------------------------------------------------------------------------
@register(
    "late_order_priority",
    oracle="""
    SELECT o.o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
      )
    GROUP BY o.o_orderpriority
    """,
    tags=("tpch", "semi-join", "agg"),
)
def late_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: how many orders per priority had at least one line
    shipped >30 days after ordering. The EXISTS becomes a LEFT SEMI join
    whose equi-key (orderkey) carries the shuffle and whose date
    comparison rides as a non-equi residual inside the join — no
    post-join filter, no duplicate explosion (semi joins emit each left
    row at most once, exactly the EXISTS semantics). The date-range
    filter on orders pushes to its scan and shrinks the build BEFORE the
    shuffle."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


# ---------------------------------------------------------------------------
# Q7 — bilateral shipping volume: two independent nation broadcasts
# ---------------------------------------------------------------------------
@register(
    "volume_shipping",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           CAST(round(sum({_REV_SQL}), 2) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_13')
        OR (n1.n_name = 'NATION_13' AND n2.n_name = 'NATION_3'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
    """,
    tags=("tpch", "join", "agg"),
)
def volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: trade volume between two nations by year, either
    direction. The same nation dim joins TWICE under different roles
    (supplier's vs customer's) — each copy broadcasts independently, as
    does supplier; the pair predicate can only be evaluated once both
    roles are bound, so it rides the LAST join's condition rather than a
    post-join filter. The two real shuffles are lineitem⋈orders and
    ⋈customer on their natural keys; the ship-date filter pushes to the
    lineitem scan and the year() rollup partial-aggregates map-side."""
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_13")
    )
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    sdim = s.join(F.broadcast(n1), s.s_nationkey == F.col("n1_key")).select(
        "s_suppkey", "supp_nation"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    cdim = c.join(F.broadcast(n2), c.c_nationkey == F.col("n2_key")).select(
        "c_custkey", "cust_nation"
    )
    pair_ok = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_13")
    ) | (
        (F.col("supp_nation") == "NATION_13") & (F.col("cust_nation") == "NATION_3")
    )
    return (
        li.join(scaled_dim(sdim), li.l_suppkey == sdim.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(cdim, (o.o_custkey == cdim.c_custkey) & pair_ok)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.round(F.sum(_revenue_dec()), 2).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Q8 — market share: conditional-sum ratio over the full star
# ---------------------------------------------------------------------------
@register(
    "market_share",
    oracle=f"""
    SELECT o_year,
           CAST(floor((CAST(sum(CASE WHEN supp_nation = 'NATION_2'
                                     THEN rev ELSE {_DEC0} END) AS DOUBLE)
                       / CAST(sum(rev) AS DOUBLE)) * 1000000 + 0.5)
                / 1000000 AS DOUBLE) AS mkt_share
    FROM (
      SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
             {_REV_SQL} AS rev,
             n1.n_name AS supp_nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
      JOIN region r   ON n2.n_regionkey = r.r_regionkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
      WHERE r.r_name = 'ASIA'
        AND p.p_type = 'PROMO'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    ) GROUP BY o_year
    """,
    tags=("tpch", "join", "agg", "ratio"),
)
def market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_2's share of PROMO-part revenue sold into
    ASIA, per year. The numerator is a conditional sum over the SAME
    rows as the denominator — one aggregation computes both (never two
    scans), and the ratio divides two exact decimal sums cast to double,
    so the 6-dp floor matches DuckDB bit-for-bit. Every dimension
    (part-filtered, supplier→nation, customer→nation→region) broadcasts;
    the only shuffles are the two fact joins and the single-digit-row
    year rollup."""
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    sdim = s.join(
        F.broadcast(n.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
        s.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "supp_nation")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    cdim = c.join(
        F.broadcast(
            n.select(F.col("n_nationkey").alias("cn_key"), "n_regionkey").join(
                F.broadcast(r), F.col("n_regionkey") == r.r_regionkey
            )
        ),
        c.c_nationkey == F.col("cn_key"),
    ).select("c_custkey")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    rows = (
        li.join(scaled_dim(p), li.l_partkey == p.p_partkey)
        .join(scaled_dim(sdim), li.l_suppkey == sdim.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(cdim, o.o_custkey == cdim.c_custkey)
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            _revenue_dec().alias("rev"),
            "supp_nation",
        )
    )
    zero = F.lit(0).cast("decimal(18,2)")
    num = F.sum(
        F.when(F.col("supp_nation") == "NATION_2", F.col("rev")).otherwise(zero)
    ).cast("double")
    den = F.sum("rev").cast("double")
    share = F.floor((num / den) * 1e6 + 0.5) / 1e6
    return rows.groupBy("o_year").agg(share.alias("mkt_share"))


# ---------------------------------------------------------------------------
# Q13 — customer order-count distribution: outer join + double aggregation
# ---------------------------------------------------------------------------
@register(
    "customer_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) GROUP BY c_count
    """,
    tags=("tpch", "outer-join", "agg"),
)
def customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: how many customers placed 0, 1, 2, … non-urgent
    orders. The priority filter belongs in the JOIN CONDITION, not a
    WHERE — a WHERE would turn the outer join inner and silently drop
    the 0-order customers that are the report's point. count(o_orderkey)
    counts matches only (NULL-skipping), so unmatched customers land in
    the c_count=0 bucket. Two shuffles by construction (custkey join,
    then the tiny c_count rollup); the first aggregation's key is the
    join key, so AQE coalesces them into one exchange when partitioning
    lines up."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderpriority"
    )
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey)
            & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------------------
# Q14 — promo revenue ratio: global conditional agg over a broadcast join
# ---------------------------------------------------------------------------
@register(
    "promo_revenue",
    oracle=f"""
    SELECT CAST(floor(((100.0 * CAST(sum(CASE WHEN p.p_type = 'PROMO'
                                        THEN {_REV_SQL} ELSE {_DEC0} END)
                               AS DOUBLE))
                       / CAST(sum({_REV_SQL}) AS DOUBLE)) * 1000000 + 0.5)
                / 1000000 AS DOUBLE) AS promo_pct,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    """,
    tags=("tpch", "join", "agg", "ratio"),
)
def promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: what percentage of a year's revenue came from
    PROMO parts. One pass: the part dim broadcasts into the date-pruned
    lineitem scan and a single global aggregation computes the
    conditional and total sums together — the ratio never sees a second
    scan or a join of two aggregates. Exact decimal sums make the
    double division deterministic across engines."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    zero = F.lit(0).cast("decimal(18,2)")
    j = li.join(scaled_dim(p), li.l_partkey == p.p_partkey)
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", _revenue_dec()).otherwise(zero)
    ).cast("double")
    total = F.sum(_revenue_dec()).cast("double")
    pct = F.floor(((F.lit(100.0) * promo) / total) * 1e6 + 0.5) / 1e6
    return j.agg(pct.alias("promo_pct"), F.count(F.lit(1)).alias("n_lines"))


# ---------------------------------------------------------------------------
# Q15 — top supplier: aggregate → scalar-max broadcast equality
# ---------------------------------------------------------------------------
@register(
    "top_supplier",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(round(sum({_REV_SQL}), 2) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
    tags=("tpch", "agg", "scalar-subquery"),
)
def top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with the quarter's highest
    revenue. The scalar subquery becomes aggregate → 1-row max →
    broadcast equality filter, NOT an unpartitioned window (a
    global-ORDER window is a single-task sort over every supplier — a
    straggler at 100 TB; the scalar join touches each revenue row once
    and keeps all ties, exactly the subquery's semantics). The
    per-supplier aggregate feeds BOTH the max and the equality probe,
    and Catalyst's ReuseExchange won't unify the branches (the join
    side grows an extra null filter), so the tiny frame — one row per
    supplier, orders of magnitude under the fact — is persisted and
    materialized once; without it the 100 TB lineitem scan runs twice.
    Revenue is rounded to 2 dp BEFORE the max compare on both sides so
    the equality is on identical doubles."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(F.sum(_revenue_dec()), 2).cast("double").alias("total_revenue")
    )
    # materialize BEFORE the fan-out: a cold cache raced by the broadcast
    # build and the probe stage can recompute the full lineage per
    # consumer (the CC/pagerank discipline)
    rev = rev.persist()
    rev.count()
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("_mx"))
        .join(scaled_dim(s), F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


# ---------------------------------------------------------------------------
# Q17 — small-quantity revenue: correlated avg rewritten as a window
# ---------------------------------------------------------------------------
@register(
    "small_qty_revenue",
    oracle=f"""
    SELECT CAST(floor((CAST(coalesce(sum(CAST(l_extendedprice
                                              AS DECIMAL(18,2))), {_DEC0})
                            AS DOUBLE) / 7.0) * 100 + 0.5) / 100
                AS DOUBLE) AS avg_yearly,
           count(*) AS n_lines
    FROM (
      SELECT l.l_extendedprice, l.l_quantity,
             (CAST(sum({_QTY_SQL}) OVER (PARTITION BY l.l_partkey) AS DOUBLE)
              / count(*) OVER (PARTITION BY l.l_partkey)) AS part_avg_qty
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_brand IN ('Brand#3', 'Brand#14') AND p.p_size <= 25
    ) WHERE l_quantity < 0.2 * part_avg_qty
    """,
    tags=("tpch", "join", "window", "agg"),
)
def small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: lost yearly revenue if small-quantity orders for
    two brands' small parts went unserved. The correlated per-part AVG
    subquery is rewritten as a window over the part-filtered join — one
    shuffle on partkey computes the average AND applies the threshold,
    where the naive rewrite (aggregate lineitem per part, join back)
    scans lineitem twice. The average is an exact decimal sum divided
    by the window count so both engines compare against the identical
    double; the final /7.0 + 2-dp floor matches the oracle's expression
    tree."""
    from pyspark.sql import Window as W

    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand").isin("Brand#3", "Brand#14") & (F.col("p_size") <= 25))
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    w = W.partitionBy("l_partkey")
    j = (
        li.join(scaled_dim(p), li.l_partkey == p.p_partkey)
        .withColumn(
            "part_avg_qty",
            F.sum(_qty_dec()).over(w).cast("double") / F.count(F.lit(1)).over(w),
        )
        .filter(F.col("l_quantity") < 0.2 * F.col("part_avg_qty"))
    )
    total = F.coalesce(
        F.sum(money("l_extendedprice")), F.lit(0).cast("decimal(18,2)")
    ).cast("double")
    return j.agg(
        (F.floor((total / 7.0) * 100 + 0.5) / 100).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# Q19 — disjunctive predicates: OR-of-conjunctions across a join
# ---------------------------------------------------------------------------
@register(
    "disjunctive_revenue",
    oracle=f"""
    SELECT CAST(round(coalesce(sum({_REV_SQL}), {_DEC0}), 2) AS DOUBLE)
             AS revenue,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 50
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    tags=("tpch", "join", "disjunctive"),
)
def disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue matching any of three brand/size/quantity
    bundles. The OR spans both tables, so no single branch can be pushed
    whole — but its table-local weakenings CAN: Catalyst derives
    p_brand IN (…) for the part scan and a quantity range union for
    lineitem from the disjunction, and the residual OR evaluates inside
    the broadcast join. Writing the predicate as ONE boolean in the join
    condition (not three unioned scans — the classic hand-rewrite) keeps
    it a single pass over lineitem."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    branch = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 50)
            & F.col("l_quantity").between(20, 30)
        )
    )
    j = li.join(scaled_dim(p), (li.l_partkey == p.p_partkey) & branch)
    zero = F.lit(0).cast("decimal(18,2)")
    return j.agg(
        F.round(F.coalesce(F.sum(_revenue_dec()), zero), 2)
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# Q21 — suppliers who kept orders waiting: double correlation as one agg
# ---------------------------------------------------------------------------
@register(
    "waiting_suppliers",
    oracle="""
    SELECT s.s_name, count(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o    ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3, orders o3
        WHERE o3.o_orderkey = l3.l_orderkey
          AND l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o3.o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY s.s_name
    """,
    tags=("tpch", "semi-join", "anti-join", "agg"),
)
def waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers solely responsible for late multi-
    supplier 'F' orders (late = shipped >90 days after ordering). The
    textbook plan runs EXISTS + NOT EXISTS as two more lineitem joins —
    three fact scans. Here both correlations collapse into ONE per-order
    aggregation: count distinct suppliers, count distinct LATE suppliers,
    keep orders where exactly one supplier is late but several supplied
    (that supplier is any_value of the late keys — unique by the =1
    predicate), and credit it with the order's late-line count, matching
    the EXISTS form's per-l1-row count(*). One lineitem scan, one
    orderkey shuffle, and the oracle stays the literal double-correlated
    SQL — the equivalence is the test."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).withColumn(
        "is_late",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .cast("int"),
    )
    per_order = j.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("is_late") == 1, F.col("l_suppkey"))
        ).alias("n_late_supp"),
        F.max(F.when(F.col("is_late") == 1, F.col("l_suppkey"))).alias(
            "late_supp"
        ),
        F.sum("is_late").alias("n_late_lines"),
    )
    blamed = per_order.filter(
        (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        blamed.groupBy("late_supp")
        .agg(F.sum("n_late_lines").alias("numwait"))
        .join(scaled_dim(s), F.col("late_supp") == s.s_suppkey)
        .select("s_name", "numwait")
    )


# ---------------------------------------------------------------------------
# Q22 — sales opportunity: scalar-avg subquery + anti join
# ---------------------------------------------------------------------------
@register(
    "sales_opportunity",
    oracle="""
    WITH pos AS (
      SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / count(*) AS avg_bal
      FROM customer
      WHERE c_acctbal > 0.0 AND c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
    )
    SELECT c.c_nationkey,
           count(*) AS numcust,
           CAST(round(sum(CAST(c.c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS totacctbal
    FROM customer c, pos
    WHERE c.c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
      AND c.c_acctbal > pos.avg_bal
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
      )
    GROUP BY c.c_nationkey
    """,
    tags=("tpch", "anti-join", "scalar-subquery", "agg"),
)
def sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: well-funded customers in seven target nations
    with no order since 1999 (the driver schema has no phone column, so
    the country-code prefix becomes c_nationkey, and — every customer
    here has SOME order — "never ordered" becomes "ordered nothing
    recently"; both swaps keep the plan shape). The scalar AVG over
    positive balances broadcasts as a 1-row frame into the filter; NOT
    EXISTS is a LEFT ANTI join against the date-pruned orders scan
    (column pruning cuts the probe payload to one long per row); the
    surviving handful aggregates per nation.
    The average divides an exact decimal sum by the count so both
    engines threshold on the identical double."""
    nations = [1, 3, 5, 7, 9, 11, 13]
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(nations)
    )
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (
                F.sum(money("c_acctbal")).cast("double") / F.count(F.lit(1))
            ).alias("avg_bal")
        )
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    rich = c.join(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    no_orders = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return no_orders.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.round(F.sum(money("c_acctbal")), 2).cast("double").alias("totacctbal"),
    )


# ---------------------------------------------------------------------------
# Round 9: the last seven shapes (Q2/Q6/Q9/Q11/Q12/Q16/Q20). The driver
# schema has no partsupp table, so the part-supplier relation is DERIVED:
# ps := lineitem grouped by (l_partkey, l_suppkey), with min(decimal
# extendedprice) as the supply-cost analog and exact integer quantity
# sums as the availability analog — deterministic aggregates, so every
# query below still carries a full hash-checked oracle.
# ---------------------------------------------------------------------------


def _ps_cost(li: DataFrame) -> DataFrame:
    """The partsupp analog: one row per (part, supplier) that ever traded,
    supply cost = min decimal extendedprice (exact order-independent
    aggregate). At 100 TB this is a once-materialized derived table
    bucketed by partkey, not a per-query recompute."""
    return li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(money("l_extendedprice")).alias("ps_cost")
    )


_PS_COST_SQL = """
      SELECT l_partkey, l_suppkey,
             min(CAST(l_extendedprice AS DECIMAL(18,2))) AS ps_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
"""


# ---------------------------------------------------------------------------
# Q2 — minimum-cost supplier: correlated scalar-min over a 4-way dim join
# ---------------------------------------------------------------------------
@register(
    "min_cost_supplier",
    oracle=f"""
    WITH ps AS ({_PS_COST_SQL}),
    eu AS (
      SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
      FROM supplier s
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'
    ),
    j AS (
      SELECT eu.s_suppkey, eu.s_name, eu.s_acctbal, eu.n_name,
             p.p_partkey, p.p_type, ps.ps_cost
      FROM ps
      JOIN part p ON ps.l_partkey = p.p_partkey
      JOIN eu ON ps.l_suppkey = eu.s_suppkey
      WHERE p.p_size IN (5, 10, 15, 20) AND p.p_type = 'STANDARD'
    )
    SELECT CAST(s_acctbal AS DOUBLE) AS s_acctbal, s_name, n_name,
           p_partkey, p_type, s_suppkey,
           CAST(ps_cost AS DOUBLE) AS supply_cost
    FROM j
    WHERE ps_cost = (
      SELECT min(j2.ps_cost) FROM j j2 WHERE j2.p_partkey = j.p_partkey
    )
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, s_suppkey
    LIMIT 100
    """,
    tags=("tpch", "join", "window", "correlated"),
)
def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each qualifying part, the European supplier(s)
    offering the minimum supply cost. The correlated scalar-min subquery
    becomes a WINDOW MIN over the part key on the already-joined frame —
    one pass, no second join back (the classic Spark rewrite; Catalyst
    plans the correlated form the same way). Dims chain as broadcasts
    (region→nation→supplier, part with size/type filters pushed to its
    scan); the only shuffles are the ps derivation and the window's
    part-key exchange. Ties on min cost keep ALL suppliers (both
    engines), and the top-100 cut rides a unique total order."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    ps = _ps_cost(li)
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n = load_table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_size").isin(5, 10, 15, 20) & (F.col("p_type") == "STANDARD")
    )
    j = ps.join(scaled_dim(p), ps.l_partkey == p.p_partkey).join(
        scaled_dim(
            s.select("s_suppkey", "s_name", "s_acctbal", "n_name")
        ),
        ps.l_suppkey == F.col("s_suppkey"),
    )
    w = Window.partitionBy("p_partkey")
    return (
        j.withColumn("_min_cost", F.min("ps_cost").over(w))
        .filter(F.col("ps_cost") == F.col("_min_cost"))
        .select(
            F.col("s_acctbal").cast("double").alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_type",
            "s_suppkey",
            F.col("ps_cost").cast("double").alias("supply_cost"),
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey",
            "s_suppkey",
        )
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Q6 — forecast revenue change: the pure filter-aggregate pushdown showcase
# ---------------------------------------------------------------------------
@register(
    "promo_share_simple",
    oracle="""
    SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                          * CAST(l_discount AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND CAST(l_discount AS DECIMAL(18,2))
            BETWEEN CAST(0.05 AS DECIMAL(18,2)) AND CAST(0.07 AS DECIMAL(18,2))
      AND l_quantity < 24
    """,
    tags=("tpch", "agg", "pushdown"),
)
def promo_share_simple(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: revenue that would vanish if mid-band discounts
    were eliminated — one table, three pushable predicates, one global
    aggregate. The whole point is the plan: every filter reaches the
    parquet scan as a PushedFilter, the scan reads three columns, and
    the aggregate partial-folds map-side to a single row — zero joins,
    one exchange (the final single-partition gather). The discount band
    compares in DECIMAL (0.05..0.07 are exact 2-dp values) so both
    engines select the identical rows."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (money("l_discount") >= F.lit(0.05).cast("decimal(18,2)"))
            & (money("l_discount") <= F.lit(0.07).cast("decimal(18,2)"))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(money("l_extendedprice") * money("l_discount")), 2)
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Q9 — product-line profit by nation and year: the multi-fact join
# ---------------------------------------------------------------------------
@register(
    "product_profit",
    oracle=f"""
    WITH ps AS ({_PS_COST_SQL})
    SELECT n.n_name, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           CAST(round(sum({_REV_SQL} - ps.ps_cost), 2) AS DOUBLE) AS profit,
           count(*) AS n_lines
    FROM lineitem l
    JOIN part p   ON l.l_partkey = p.p_partkey
    JOIN ps       ON ps.l_partkey = l.l_partkey AND ps.l_suppkey = l.l_suppkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%bolt%'
    GROUP BY n.n_name, year(o.o_orderdate)
    """,
    tags=("tpch", "join", "agg"),
)
def product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit (revenue minus supply cost) on one product
    line, per supplier nation per year. Two FACT-sized inputs meet: the
    filtered lineitem and the derived ps cost table — their join keys
    share the partkey, so at scale both sides bucket by partkey and the
    join is co-partitioned, not a second full shuffle; orders joins on
    its natural orderkey shuffle; part (name-filtered, broadcast) prunes
    lineitem EARLY so the ps join and the orders shuffle see only the
    product line's rows; supplier⋈nation broadcast. Profit subtracts
    exact decimals before the single 2-dp rounding."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains("bolt")
    )
    ps = _ps_cost(li)
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = (
        li.join(scaled_dim(p.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .join(ps, ["l_partkey", "l_suppkey"])
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(scaled_dim(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
    )
    return (
        j.groupBy("n_name", F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            F.round(F.sum(_revenue_dec() - F.col("ps_cost")), 2)
            .cast("double")
            .alias("profit"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Q11 — important stock: group-by HAVING against a scalar subquery
# ---------------------------------------------------------------------------
@register(
    "important_stock",
    oracle=f"""
    WITH nsup AS (
      SELECT s.s_suppkey FROM supplier s
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE n.n_name = 'NATION_7'
    ),
    v AS (
      SELECT l.l_partkey, sum({_REV_SQL}) AS val
      FROM lineitem l JOIN nsup ON l.l_suppkey = nsup.s_suppkey
      GROUP BY l.l_partkey
    )
    SELECT l_partkey, CAST(round(val, 2) AS DOUBLE) AS stock_value
    FROM v
    WHERE val * 1000 > (SELECT sum(val) FROM v)
    """,
    tags=("tpch", "agg", "scalar-subquery"),
)
def important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose traded value through one nation's
    suppliers exceeds a fraction of the nation's total — a grouped
    aggregate filtered against a SCALAR aggregate of itself. The grouped
    frame materializes ONCE (persist + count: the scalar-total consumer
    and the filter consumer would otherwise both recompute the
    lineitem join — the top_supplier lesson); the total then broadcasts
    into the filter via a 1-row cross join. The threshold comparison is
    ``val * 1000 > total`` — an exact DECIMAL·INT product on both
    engines, no division, no epsilon."""
    li = load_table(spark, sf_dir, "lineitem")
    nsup = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").filter(
                    F.col("n_name") == "NATION_7"
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    v = (
        li.join(scaled_dim(nsup), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(_revenue_dec()).alias("val"))
        .persist()
    )
    v.count()  # materialize BEFORE the two consumers fan out
    total = v.agg(F.sum("val").alias("total"))
    return (
        v.join(F.broadcast(total))
        .filter(F.col("val") * 1000 > F.col("total"))
        .select(
            "l_partkey",
            F.round(F.col("val"), 2).cast("double").alias("stock_value"),
        )
    )


# ---------------------------------------------------------------------------
# Q12 — shipping delay vs priority: the conditional-aggregation pivot
# ---------------------------------------------------------------------------
@register(
    "shipmode_priority",
    oracle="""
    SELECT CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                THEN 'DELAYED' ELSE 'LATE' END AS ship_class,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
      AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1
    """,
    tags=("tpch", "join", "conditional-agg"),
)
def shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: line counts by urgency class per shipping class.
    The driver schema has no l_shipmode, so the mode becomes a DERIVED
    class of the ship delay (LATE 30-60 days, DELAYED >60 — the join's
    non-equi residual semantics from Q4, reused as a classifier); the
    priority pivot is the classic conditional-sum pair folded in ONE
    pass over the orderkey join. The date-range filter pushes to the
    lineitem scan; the delay comparison can only bind post-join so it
    rides the join condition, never a cartesian."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = li.join(
        o,
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        j.withColumn(
            "ship_class",
            F.when(
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
                F.lit("DELAYED"),
            ).otherwise(F.lit("LATE")),
        )
        .groupBy("ship_class")
        .agg(
            F.sum(F.when(high, 1).otherwise(0))
            .cast("bigint")
            .alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0))
            .cast("bigint")
            .alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# Q16 — supplier-part relationship count: NOT IN + count distinct
# ---------------------------------------------------------------------------
@register(
    "supplier_part_count",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(count(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
    JOIN part p ON ps.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_type NOT LIKE 'PROMO%'
      AND p.p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      AND ps.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
    tags=("tpch", "anti-join", "distinct-agg"),
)
def supplier_part_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers can provide each
    (brand, type, size) bucket, excluding one brand, one type family,
    and blacklisted suppliers. The NOT IN subquery becomes a LEFT ANTI
    join against the (tiny, broadcast) negative-balance supplier list —
    the exact NOT-IN semantics because s_suppkey is non-null; the
    distinct (part, supplier) pairs collapse BEFORE the dim join (one
    exchange on the pair), and count(DISTINCT suppkey) reuses that
    dedup. Part filters push to the part scan."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & ~F.col("p_type").like("PROMO%")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        ps.join(bad, ps.l_suppkey == bad.s_suppkey, "left_anti")
        .join(scaled_dim(p), ps.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(
            F.count_distinct(F.col("l_suppkey"))
            .cast("bigint")
            .alias("supplier_cnt")
        )
    )


# ---------------------------------------------------------------------------
# Q20 — excess shipping: nested semi-joins over the derived ps relation
# ---------------------------------------------------------------------------
@register(
    "excess_inventory",
    oracle="""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
             CAST(sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                            AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
                           THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS qty_1997
      FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, n.n_name
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE s.s_suppkey IN (
      SELECT ps.l_suppkey FROM ps
      WHERE ps.l_partkey IN (
          SELECT p_partkey FROM part WHERE p_name LIKE '%rod%'
        )
        AND 2 * ps.qty_1997 > ps.total_qty
    )
    """,
    tags=("tpch", "semi-join", "nested"),
)
def excess_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who moved more than half their
    all-time volume of some 'rod' part in 1997 alone — two NESTED
    IN-subqueries, each becoming a LEFT SEMI join: parts filter the
    derived ps relation (broadcast semi on partkey), the qualifying ps
    rows filter suppliers (semi on suppkey — dedup for free, no
    distinct), nation broadcast-decorates last. Both quantity sums are
    exact BIGINTs folded in the ONE ps aggregation pass (the
    conditional 1997 sum rides the same groupBy), and the comparison
    ``2·qty_1997 > total_qty`` is integer arithmetic — no 0.5 double."""
    li = load_table(spark, sf_dir, "lineitem")
    in_1997 = (
        F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp")
    ) & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("total_qty"),
        F.sum(
            F.when(in_1997, F.col("l_quantity").cast("bigint")).otherwise(0)
        )
        .cast("bigint")
        .alias("qty_1997"),
    )
    rods = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").contains("rod"))
        .select("p_partkey")
    )
    hot = ps.join(
        scaled_dim(rods), ps.l_partkey == F.col("p_partkey"), "left_semi"
    ).filter(2 * F.col("qty_1997") > F.col("total_qty"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        s.join(hot, s.s_suppkey == hot.l_suppkey, "left_semi")
        .join(F.broadcast(n), s.s_nationkey == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
    )

@register(
    "brand_affinity",
    oracle="""
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), n AS (SELECT count(DISTINCT o) AS n_orders FROM ob),
    f AS (SELECT b, count(*) AS nb FROM ob GROUP BY b),
    pairs AS (
      SELECT a.b AS brand_a, c.b AS brand_b, count(*) AS n_both
      FROM ob a JOIN ob c ON a.o = c.o AND a.b < c.b
      GROUP BY a.b, c.b
    )
    SELECT brand_a, brand_b, n_both,
           CAST(floor(
             CAST(n_both AS DOUBLE) * CAST(n.n_orders AS DOUBLE)
             / (CAST(fa.nb AS DOUBLE) * CAST(fb.nb AS DOUBLE))
             * 1000000.0 + 0.5) AS BIGINT) AS lift_ppm
    FROM pairs
    CROSS JOIN n
    JOIN f fa ON fa.b = brand_a
    JOIN f fb ON fb.b = brand_b
    """,
    tags=("tpch", "affinity", "basket"),
)
def brand_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket brand affinity: for every brand pair, the number of
    orders containing BOTH plus the lift (co-purchase rate vs
    independence, integral ppm) — the retail cross-sell query. The fact
    table collapses to distinct (order, brand) first (baskets are a few
    brands wide, so the within-order self-join is quadratic only in
    basket WIDTH, never in order count); brand frequencies and the
    order total fold from the same projection and broadcast back. Same
    lift discipline as skipgram_cooc: one shared IEEE tree, no ln()."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    pa = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # ONE exchange builds the per-order brand SET (r15 — was distinct +
    # a second distinct for n_orders + a self-join re-shuffle: 17 jobs);
    # map-side partial collect_set dedups early, basket width is bounded
    # by |brands|, and every downstream frame (order total, brand
    # frequency, within-basket pairs) folds from the cached baskets —
    # the within-order pair fan-out happens in an array expression, not
    # through a join exchange. Counts are identical: one struct per
    # basket containing the pair == one joined row per order containing
    # both brands.
    baskets = (
        li.join(scaled_dim(pa), li["l_partkey"] == pa["p_partkey"])
        # explicit NULL-key/value drop (r15 ADVICE): collect_set silently
        # skips NULL brands and the old equi-join dropped NULL order
        # keys, so these filters make the basket-set ≡ self-join identity
        # unconditional (no-ops on TPC-H data, where both are NOT NULL)
        .filter(
            F.col("l_orderkey").isNotNull() & F.col("p_brand").isNotNull()
        )
        .groupBy(F.col("l_orderkey").alias("o"))
        .agg(F.collect_set("p_brand").alias("bs"))
        .persist()
    )
    n_orders = baskets.count()  # first consumer: fills the cache
    freq = (
        baskets.select(F.explode("bs").alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("nb"))
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("bs"),
            lambda x: F.filter(
                F.transform(
                    F.col("bs"),
                    lambda y: F.struct(
                        x.alias("brand_a"), y.alias("brand_b")
                    ),
                ),
                lambda p: p["brand_a"] < p["brand_b"],
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(pair_arr).alias("p"))
        .select("p.brand_a", "p.brand_b")
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    out = (
        pairs.join(
            F.broadcast(freq.withColumnRenamed("b", "brand_a")
                        .withColumnRenamed("nb", "na")), "brand_a"
        )
        .join(
            F.broadcast(freq.withColumnRenamed("b", "brand_b")
                        .withColumnRenamed("nb", "nbb")), "brand_b"
        )
        .select(
            "brand_a",
            "brand_b",
            "n_both",
            F.floor(
                F.col("n_both").cast("double")
                * F.lit(float(n_orders))
                / (F.col("na").cast("double") * F.col("nbb").cast("double"))
                * F.lit(1000000.0)
                + F.lit(0.5)
            ).cast("long").alias("lift_ppm"),
        )
    )
    rows = out.collect()  # |brands|²-bounded; frees the projection cache
    baskets.unpersist()
    return spark.createDataFrame(rows, schema=out.schema)


@register(
    "assoc_rules",
    oracle="""
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), n AS (SELECT count(DISTINCT o) AS n_orders FROM ob),
    f AS (SELECT b, count(*) AS nb FROM ob GROUP BY b),
    pairs AS (
      SELECT a.b AS antecedent, c.b AS consequent, count(*) AS n_both
      FROM ob a JOIN ob c ON a.o = c.o AND a.b <> c.b
      GROUP BY 1, 2
    )
    SELECT antecedent, consequent, n_both,
           CAST(n_both * 1000000 // fa.nb AS BIGINT) AS confidence_ppm,
           CAST(n_both * 1000000 // n.n_orders AS BIGINT) AS support_ppm,
           CAST(floor(CAST(n_both AS DOUBLE) * CAST(n.n_orders AS DOUBLE)
                / (CAST(fa.nb AS DOUBLE) * CAST(fb.nb AS DOUBLE))
                * 1000000.0 + 0.5) AS BIGINT) AS lift_ppm,
           (n_both * 1000000 // fa.nb >= 250000
            AND CAST(floor(CAST(n_both AS DOUBLE)
                     * CAST(n.n_orders AS DOUBLE)
                / (CAST(fa.nb AS DOUBLE) * CAST(fb.nb AS DOUBLE))
                * 1000000.0 + 0.5) AS BIGINT) > 1000000) AS actionable
    FROM pairs
    CROSS JOIN n
    JOIN f fa ON fa.b = antecedent
    JOIN f fb ON fb.b = consequent
    """,
    tags=("tpch", "affinity", "rules"),
)
def assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional association rules over the market baskets: for every
    ordered brand pair a→b, support (share of all baskets holding both),
    confidence (share of a-baskets also holding b — the cross-sell
    trigger probability) and lift, plus the classic actionability cut
    (confidence ≥ 25% AND lift > 1). brand_affinity gives the symmetric
    matrix; rules are what a recommender actually serves, and confidence
    is direction-dependent (a→b ≠ b→a whenever freq(a) ≠ freq(b)).

    Same scale bound as brand_affinity: the fact table collapses to the
    distinct (order, brand) projection, the self-join is quadratic only
    in basket width, counts broadcast back; confidence/support are exact
    integer ppm (floor div over non-negative counts), lift shares the
    one IEEE double tree with the oracle."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    pa = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # Same one-exchange basket-set shape as brand_affinity (r15): the
    # ordered a->b pair fan-out rides an array expression over the
    # cached baskets instead of a self-join exchange; n_orders is the
    # basket count (the old plan paid a SECOND distinct for it).
    baskets = (
        li.join(scaled_dim(pa), li["l_partkey"] == pa["p_partkey"])
        # NULL-key/value drop — see brand_affinity (r15 ADVICE)
        .filter(
            F.col("l_orderkey").isNotNull() & F.col("p_brand").isNotNull()
        )
        .groupBy(F.col("l_orderkey").alias("o"))
        .agg(F.collect_set("p_brand").alias("bs"))
        .persist()
    )
    n_orders = baskets.count()  # first consumer: fills the cache
    freq = (
        baskets.select(F.explode("bs").alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("nb"))
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("bs"),
            lambda x: F.filter(
                F.transform(
                    F.col("bs"),
                    lambda y: F.struct(
                        x.alias("antecedent"), y.alias("consequent")
                    ),
                ),
                lambda p: p["antecedent"] != p["consequent"],
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(pair_arr).alias("p"))
        .select("p.antecedent", "p.consequent")
        .groupBy("antecedent", "consequent")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    lift = F.floor(
        F.col("n_both").cast("double")
        * F.lit(float(n_orders))
        / (F.col("na").cast("double") * F.col("nc").cast("double"))
        * F.lit(1000000.0)
        + F.lit(0.5)
    ).cast("long")
    conf = F.expr("n_both * 1000000L div na")
    out = (
        pairs.join(
            F.broadcast(
                freq.withColumnRenamed("b", "antecedent")
                .withColumnRenamed("nb", "na")
            ),
            "antecedent",
        )
        .join(
            F.broadcast(
                freq.withColumnRenamed("b", "consequent")
                .withColumnRenamed("nb", "nc")
            ),
            "consequent",
        )
        .select(
            "antecedent",
            "consequent",
            "n_both",
            conf.alias("confidence_ppm"),
            F.expr(f"n_both * 1000000L div {n_orders}").alias(
                "support_ppm"
            ),
            lift.alias("lift_ppm"),
            ((conf >= 250000) & (lift > 1000000)).alias("actionable"),
        )
    )
    rows = out.collect()  # |brands|²-bounded; frees the projection cache
    baskets.unpersist()
    return spark.createDataFrame(rows, schema=out.schema)
