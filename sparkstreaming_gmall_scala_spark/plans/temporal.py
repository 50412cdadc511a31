"""Temporal-join queries: as-of and range joins over the events/orders
tables — SURVEY.md §2.3's "not present in the reference, free to us"
row, implemented with scale-safe plans (operators/temporal.py) and exact
DuckDB oracles. Timestamps are emitted as epoch-micro BIGINTs so the
value-hash compares integers, never engine-formatted timestamps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.temporal import asof_join, range_join_bucketed
from ..sources import load_table
from .catalog import register


@register(
    "asof_last_click",
    oracle="""
    WITH j AS (
      SELECT err.event_id AS probe_id, err.user_id, epoch_us(err.ts) AS probe_us,
             c.event_id AS click_id, epoch_us(c.ts) AS click_us, c.value AS click_value,
             row_number() OVER (PARTITION BY err.event_id
                                ORDER BY c.ts DESC, c.event_id DESC) AS rn,
             count(c.event_id) OVER (PARTITION BY err.event_id) AS n_prior_clicks
      FROM events err LEFT JOIN events c
        ON c.user_id = err.user_id AND c.event_type = 'click' AND c.ts <= err.ts
      WHERE err.event_type = 'error'
    )
    SELECT probe_id, user_id, probe_us, click_id, click_us, click_value,
           n_prior_clicks
    FROM j WHERE rn = 1
    """,
    tags=("temporal", "asof", "join"),
)
def asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every 'error' event, the same user's most recent 'click' at or
    before it (ties → highest event_id), plus how many prior clicks exist.
    The union-and-carry as-of join: one shuffle on user_id — the oracle's
    range-join + row_number formulation would be quadratic per hot key."""
    ev = load_table(spark, sf_dir, "events")
    probes = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        "ts",
        F.col("event_id").alias("probe_id"),
        F.unix_micros("ts").alias("probe_us"),
    )
    refs = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_id"),
        F.unix_micros("ts").alias("click_us"),
        F.col("value").alias("click_value"),
    )
    out = asof_join(
        probes, refs, on="user_id", time_col="ts", tiebreak="click_id",
        n_prior_alias="n_prior_clicks",
    )
    return out.select(
        "probe_id", "user_id", "probe_us", "click_id", "click_us",
        "click_value", "n_prior_clicks",
    )


@register(
    "order_gaps",
    oracle="""
    SELECT o_orderkey, o_custkey,
           epoch_us(o_orderdate) AS order_us,
           date_diff('day', lag(o_orderdate) OVER w, o_orderdate)
             AS days_since_prev,
           row_number() OVER w AS order_seq,
           ntile(4) OVER w AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    tags=("temporal", "window"),
)
def order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order cadence: days since the previous order (lag),
    order sequence number, and recency quartile (ntile) — the analytic
    window surface beyond the reference's two hand-rolled patterns, all
    three functions sharing ONE (custkey) shuffle + sort."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("order_us"),
        # long casts: DuckDB's date_diff/row_number/ntile are BIGINT and
        # the gate's value-hash is type-sensitive
        F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w))
        .cast("long")
        .alias("days_since_prev"),
        F.row_number().over(w).cast("long").alias("order_seq"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


@register(
    "orders_next_30d",
    oracle="""
    SELECT l.o_orderkey, l.o_custkey, count(r.o_orderkey) AS n_next_30d
    FROM orders l LEFT JOIN orders r
      ON r.o_custkey = l.o_custkey
     AND r.o_orderdate > l.o_orderdate
     AND r.o_orderdate <= l.o_orderdate + INTERVAL 30 DAY
    GROUP BY l.o_orderkey, l.o_custkey
    """,
    tags=("temporal", "range", "join"),
)
def orders_next_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per order: how many of the same customer's orders land strictly
    within the following 30 days — a range join bucketed into 30-day
    (key, bucket) equi-join cells so the plan is a hash join, not the
    nested-loop Catalyst would pick for a raw interval predicate."""
    o = load_table(spark, sf_dir, "orders")
    left = o.select("o_orderkey", "o_custkey", F.col("o_orderdate").alias("l_date"))
    right = o.select(
        "o_custkey",
        F.col("o_orderdate").alias("r_date"),
        F.col("o_orderkey").alias("r_orderkey"),
    )
    pairs = range_join_bucketed(
        left, right, on="o_custkey", left_time="l_date", right_time="r_date",
        lo_sec=0, hi_sec=30 * 86400,
    )
    counts = pairs.groupBy("o_orderkey", "o_custkey").agg(
        F.count(F.lit(1)).alias("n_next_30d")
    )
    return (
        o.select("o_orderkey", "o_custkey")
        .join(counts, ["o_orderkey", "o_custkey"], "left")
        .fillna(0, subset=["n_next_30d"])
    )


@register(
    "event_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ), p AS (
      SELECT DISTINCT e.user_id
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
      WHERE e.event_type = 'purchase'
    )
    SELECT 'view' AS stage, 1 AS stage_ord, (SELECT count(*) FROM v) AS n_users
    UNION ALL
    SELECT 'click_after_view', 2, (SELECT count(*) FROM c)
    UNION ALL
    SELECT 'purchase_after_click', 3, (SELECT count(*) FROM p)
    """,
    tags=("temporal", "events", "funnel"),
)
def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict ordered conversion funnel over the event stream: users with
    a view, users whose first view is followed by a click, users whose
    first such click is followed by a purchase — the per-stage user
    counts every product-analytics stack reports (and the reference's
    DAU/order apps imply). Three aggregations all keyed on user_id, so
    AQE reuses one exchange; no event ever leaves its user partition.
    The aggregation body is SHARED with the streaming mart report
    (operators/analytics.py:funnel_frame) — the streamed==batch pin
    compares two call sites of one function, not two copies."""
    from ..operators.analytics import funnel_frame

    return funnel_frame(load_table(spark, sf_dir, "events"))


@register(
    "user_retention",
    oracle="""
    WITH act AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), cohort AS (
      SELECT user_id, min(day) AS c0 FROM act GROUP BY user_id
    )
    SELECT strftime(c.c0, '%Y-%m-%d') AS cohort_day,
           date_diff('day', c.c0, a.day) AS day_offset,
           count(DISTINCT a.user_id) AS n_users
    FROM act a JOIN cohort c ON a.user_id = c.user_id
    GROUP BY 1, 2
    """,
    tags=("temporal", "events", "retention"),
)
def user_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity day, counted on
    each later activity-day offset — the classic D1/D7/D30 retention
    table. Day boundaries are UTC on both engines (session timezone is
    pinned UTC; the oracle's CAST(ts AS DATE) sees the same instants).
    Two aggregations on user_id + one on (cohort, offset); the distinct
    (user, day) projection bounds everything by active-user-days. Body
    shared with the streaming mart (operators/analytics.py)."""
    from ..operators.analytics import retention_frame

    return retention_frame(load_table(spark, sf_dir, "events"))


@register(
    "event_ohlc",
    oracle="""
    WITH k AS (
      SELECT date_trunc('hour', ts) AS hour, value,
             lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
               || lpad(CAST(event_id AS VARCHAR), 10, '0') AS ord
      FROM events WHERE event_type = 'purchase'
    )
    SELECT epoch_us(hour) AS hour_us,
           arg_min(value, ord) AS open,
           max(value) AS high,
           min(value) AS low,
           arg_max(value, ord) AS close,
           count(*) AS n_events
    FROM k GROUP BY hour
    """,
    tags=("temporal", "events", "agg"),
)
def event_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars over purchase values — the first/last-by-event-
    time aggregation shape (min_by/max_by with a total order: ts then
    event_id, encoded as one zero-padded sortable string so both engines
    break ties identically). One partial-aggregated groupBy; no window,
    no sort — first/last fold map-side like any other agg. Body and
    order key shared with the streaming partial bars
    (operators/analytics.py:ohlc_frame / ohlc_ord_key)."""
    from ..operators.analytics import ohlc_frame

    return ohlc_frame(load_table(spark, sf_dir, "events"))


@register(
    "user_value_ma",
    oracle="""
    SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           floor(avg(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
           ) * 1000000 + 0.5) / 1000000 AS ma7,
           floor(sum(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
           ) * 1000000 + 0.5) / 1000000 AS sum7,
           CAST(count(*) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n7
    FROM events WHERE event_type = 'purchase'
    """,
    tags=("temporal", "window", "frame"),
)
def user_value_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing 7-event moving average/sum/count of purchase
    values — the sliding ROWS frame surface (order_gaps covers lag/
    lead/ntile; this covers bounded frames). All three aggregates share
    ONE (user_id) partitioning and sort; 6-dp floors make the double
    averages hash-stable cross-engine (the left-to-right frame sum is
    the same association order in both engines, but division results
    still get pinned). Total order = (ts, event_id)."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, W.currentRow)
    )
    r6 = lambda c: F.floor(c * 1000000 + 0.5) / 1000000  # noqa: E731
    return ev.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        r6(F.avg("value").over(w)).alias("ma7"),
        r6(F.sum("value").over(w)).alias("sum7"),
        F.count(F.lit(1)).over(w).cast("long").alias("n7"),
    )


@register(
    "user_spend_range_7d",
    oracle="""
    SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS spend_7d,
           count(*) OVER w AS n_7d,
           floor((CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
                  / count(*) OVER w) * 1000000 + 0.5) / 1000000 AS avg_7d
    FROM events
    WHERE event_type = 'purchase'
    WINDOW w AS (
      PARTITION BY user_id ORDER BY epoch_us(ts)
      RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW
    )
    """,
    tags=("temporal", "window", "range-frame"),
)
def user_spend_range_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per purchase, the user's trailing 7 CALENDAR-DAY spend — the
    time-RANGE frame surface (user_value_ma covers ROWS frames; a RANGE
    frame bounds by VALUE distance, so a burst of 50 events in an hour
    is all in-frame where ROWS -6 would see 7). Spark's rangeBetween
    needs a numeric sort key, so both engines order by the SAME
    epoch-micro integer and bound at 7 days of micros — tie rows (equal
    timestamps) enter the frame together by RANGE semantics, identical
    in both engines, no tiebreak column wanted. The frame sum runs over
    exact decimals: sliding-window implementations may add/subtract in
    different orders, which double arithmetic would turn into hash
    drift. One partitioning, one sort, all three aggregates."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    seven_days_us = 7 * 24 * 3600 * 1_000_000
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-seven_days_us, W.currentRow)
    )
    spend = F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double")
    n = F.count(F.lit(1)).over(w)
    return ev.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        spend.alias("spend_7d"),
        n.cast("long").alias("n_7d"),
        (F.floor((spend / n) * 1e6 + 0.5) / 1e6).alias("avg_7d"),
    )


@register(
    "order_value_percentiles",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice,
           floor(percent_rank() OVER w * 1000000 + 0.5) / 1000000 AS pct_rank,
           floor(cume_dist() OVER w * 1000000 + 0.5) / 1000000 AS cume
    FROM orders
    WINDOW w AS (
      PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
    )
    """,
    tags=("temporal", "window", "rank"),
)
def order_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where does each order's value sit within its priority class —
    percent_rank + cume_dist, the relative-rank window surface
    (topk/row_number cover absolute ranks). The order key includes the
    unique o_orderkey tiebreak so both engines rank the IDENTICAL total
    order (percent_rank over a tied prefix would otherwise be stable but
    cume_dist's tie-group boundaries move); both relative ranks share
    one partitioning and sort. 6-dp floors pin the (n−1)-denominator
    divisions cross-engine."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    r6 = lambda c: F.floor(c * 1e6 + 0.5) / 1e6  # noqa: E731
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,2)").cast("double").alias(
            "totalprice"
        ),
        r6(F.percent_rank().over(w)).alias("pct_rank"),
        r6(F.cume_dist().over(w)).alias("cume"),
    )


@register(
    "hourly_gap_fill",
    oracle="""
    WITH p AS (
      SELECT user_id, date_trunc('hour', ts) AS hr, count(*) AS n,
             sum(CAST(value AS DECIMAL(18,2))) AS spend
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ), span AS (
      SELECT user_id, min(hr) AS mn, max(hr) AS mx FROM p GROUP BY 1
    ), grid AS (
      SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hr
      FROM span
    )
    SELECT g.user_id, epoch_us(g.hr) AS hr_us,
           CAST(coalesce(p.n, 0) AS BIGINT) AS n_events,
           CAST(coalesce(p.spend, CAST(0 AS DECIMAL(18,2))) AS DOUBLE)
             AS spend,
           CAST(last_value(p.spend IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.hr
             ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS spend_locf
    FROM grid g LEFT JOIN p ON p.user_id = g.user_id AND p.hr = g.hr
    """,
    tags=("temporal", "gap-fill", "window"),
)
def hourly_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: each user's purchase history as a
    DENSE hourly series between their first and last active hour —
    missing hours materialize with zero counts and the last observed
    hourly spend carried forward (LOCF via last(ignorenulls) over an
    unbounded-preceding frame). The dashboard/feature-store resample
    step sparse event logs always need. Plan: the grid generates from
    per-user (min, max) spans with sequence+explode — rows are created
    EXECUTOR-side in proportion to each user's span, never a driver
    loop or a calendar cross join (a users × all-hours cartesian would
    be mostly-dead rows at 100 TB); the hourly rollup, the span agg,
    the grid join, and the LOCF window all share the user_id hash
    partitioning, so AQE collapses them onto one exchange family.
    Decimal hourly sums keep the doubles hash-stable; LOCF is never
    null because each span starts at an observed hour."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("spend"),
    )
    grid = (
        hourly.groupBy("user_id")
        .agg(F.min("hr").alias("mn"), F.max("hr").alias("mx"))
        .select(
            "user_id",
            F.explode(
                F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))
            ).alias("hr"),
        )
    )
    j = grid.join(hourly, ["user_id", "hr"], "left")
    w = (
        W.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    zero = F.lit(0).cast("decimal(18,2)")
    return j.select(
        "user_id",
        F.unix_micros("hr").alias("hr_us"),
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_events"),
        F.coalesce(F.col("spend"), zero).cast("double").alias("spend"),
        F.last("spend", ignorenulls=True).over(w).cast("double").alias(
            "spend_locf"
        ),
    )


# ---------------------------------------------------------------------------
# Interval analytics (round 9): the sweep and the interval-overlap join —
# the two interval shapes next to asof (point->last) and range-bucket
# (point-in-window): operators/temporal.py:concurrency_sweep,
# interval_overlap_join.
# ---------------------------------------------------------------------------
_SESS_SQL = """
    flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT user_id, ts,
             sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_id
      FROM flagged
    ),
    sess AS (
      SELECT user_id, session_id,
             min(ts) AS session_start, max(ts) AS session_end
      FROM numbered GROUP BY user_id, session_id
    )
"""


@register(
    "session_concurrency",
    oracle=f"""
    WITH {_SESS_SQL},
    deltas AS (
      SELECT epoch_us(session_start) AS t, 1 AS d FROM sess
      UNION ALL
      SELECT epoch_us(session_end) + 1 AS t, -1 AS d FROM sess
    ),
    byt AS (SELECT t, CAST(sum(d) AS BIGINT) AS d FROM deltas GROUP BY t),
    run AS (
      SELECT t,
             sum(d) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS active,
             COALESCE(sum(d) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
      FROM byt
    ),
    perb AS (
      SELECT date_trunc('day', make_timestamp(t)) AS bucket_start,
             max(active) AS m, min(t) AS mt,
             arg_min(prev, t) AS off, arg_max(active, t) AS lvl_end
      FROM run GROUP BY 1
    ),
    lvl AS (
      SELECT bucket_start, lvl_end,
             lead(bucket_start) OVER (ORDER BY bucket_start) AS next_b
      FROM perb
    )
    SELECT bucket_start,
           CAST(CASE WHEN mt > epoch_us(bucket_start)
                     THEN greatest(m, off) ELSE m END AS BIGINT) AS max_active
    FROM perb
    UNION ALL
    SELECT unnest(generate_series(bucket_start + INTERVAL 1 DAY,
                                  next_b - INTERVAL 1 DAY,
                                  INTERVAL 1 DAY)) AS bucket_start,
           CAST(lvl_end AS BIGINT) AS max_active
    FROM lvl
    WHERE lvl_end > 0 AND next_b IS NOT NULL
      AND next_b > bucket_start + INTERVAL 1 DAY
    """,
    tags=("temporal", "interval", "sweep"),
)
def session_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent user sessions per day — the interval-STABBING
    aggregate (how many intervals cover an instant) the overlap-join
    family can't answer without a blowup. +1/-1 deltas at session
    start/end, running sum = live concurrency; the global prefix sum
    runs DISTRIBUTED (operators/temporal.py:concurrency_sweep): per-day
    partial prefix sums + a one-row-per-day carry-in offset window —
    never a single-partition sort of the firehose (the oracle's global
    OVER (ORDER BY t) is exactly what the operator avoids). Sessions
    are the 30-min-gap sessionize intervals, closed at max(ts) (the
    half-open sweep end is max + 1us). The carried-in level competes in
    each day's max (a day where sessions only END peaks at the carry
    level, round-9 advice), and boundary-free days covered by live
    sessions emit carry rows — both engines walk the identical
    semantics."""
    from ..operators.temporal import concurrency_sweep
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    numbered = ev.withColumn(
        "new_session",
        F.when(F.lag("ts").over(w).isNull() | (gap > 1800), 1).otherwise(0),
    ).withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    sess = numbered.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.timestamp_micros(
            F.unix_micros(F.max("ts").cast("timestamp")) + 1
        ).alias("session_end_x"),
    )
    return concurrency_sweep(sess, "session_start", "session_end_x", "day")


@register(
    "sessions_in_outage",
    oracle=f"""
    WITH {_SESS_SQL},
    outages AS (
      SELECT date_trunc('hour', ts) AS outage_start,
             date_trunc('hour', ts) + INTERVAL 1 HOUR AS outage_end,
             count(*) AS n_errors
      FROM events WHERE event_type = 'error'
      GROUP BY 1 HAVING count(*) >= 2
    )
    SELECT o.outage_start, CAST(o.n_errors AS BIGINT) AS n_errors,
           count(*) AS n_sessions
    FROM outages o JOIN sess s
      ON s.session_start < o.outage_end
     AND o.outage_start < s.session_end + INTERVAL 1 MICROSECOND
    GROUP BY o.outage_start, o.n_errors
    """,
    tags=("temporal", "interval", "join"),
)
def sessions_in_outage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessions touching each outage hour (hours with >= 2 error
    events) — the interval-OVERLAP join: both sides are intervals with
    NO shared equi key, the shape asof/range joins can't express and a
    naive plan runs as a cartesian. operators/temporal.py:
    interval_overlap_join buckets both sides into hour-wide buckets,
    equi-joins on the bucket id, re-checks exact overlap, and keeps
    each pair only in the first shared bucket (meet-once — no dedup
    shuffle). The oracle runs the naive non-equi join the operator
    refuses to. Session intervals are closed at max(ts) (half-open end
    = max + 1us), so a single-event session inside the hour still
    counts."""
    from ..operators.temporal import interval_overlap_join
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    numbered = ev.withColumn(
        "new_session",
        F.when(F.lag("ts").over(w).isNull() | (gap > 1800), 1).otherwise(0),
    ).withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    sess = numbered.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.timestamp_micros(
            F.unix_micros(F.max("ts").cast("timestamp")) + 1
        ).alias("session_end_x"),
    )
    outages = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("outage_start"))
        .agg(F.count(F.lit(1)).alias("n_errors"))
        .filter(F.col("n_errors") >= 2)
        .withColumn(
            "outage_end",
            F.col("outage_start") + F.expr("INTERVAL 1 HOUR"),
        )
    )
    joined = interval_overlap_join(
        sess,
        outages,
        "session_start",
        "session_end_x",
        "outage_start",
        "outage_end",
        bucket_sec=3600,
    )
    return joined.groupBy("outage_start", "n_errors").agg(
        F.count(F.lit(1)).alias("n_sessions")
    )


@register(
    "twap_daily",
    oracle="""
    WITH seg AS (
      SELECT user_id, epoch_us(ts) AS s,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v6,
             lead(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS e
      FROM events
    ), nz AS (
      SELECT * FROM seg WHERE e > s
    ), clipped AS (
      SELECT user_id, v6, b,
             least(e, (b + 1) * 86400000000)
               - greatest(s, b * 86400000000) AS dur
      FROM nz, UNNEST(generate_series(
                 CAST(floor(s / 86400000000) AS BIGINT),
                 CAST(floor((e - 1) / 86400000000) AS BIGINT))) AS t(b)
    )
    SELECT user_id, make_timestamp(b * 86400000000) AS bucket_start,
           CAST(floor(
             CAST(sum(CAST(v6 AS DECIMAL(20,0)) * CAST(dur AS DECIMAL(18,0)))
                  AS DOUBLE)
             / CAST(sum(dur) AS DOUBLE) + 0.5) AS BIGINT) AS twap6,
           CAST(sum(dur) AS BIGINT) AS dur_us
    FROM clipped GROUP BY user_id, b
    """,
    tags=("temporal", "interval", "twap"),
)
def twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user DAILY time-weighted average of the event value level —
    the TWAP/sensor rollup a count-weighted avg() gets wrong: each
    observation's level holds until the user's next event (LOCF), the
    segment clips at midnight so a level held across days weights each
    day exactly, and the weighted sum runs in DECIMAL(38,0) so the
    result is partition-order free (operators/temporal.py:
    time_weighted_avg). The user's final open-ended observation carries
    no known duration and is dropped — identical in the oracle's lead()
    (NULL next ⇒ filtered)."""
    from ..operators.temporal import time_weighted_avg

    ev = load_table(spark, sf_dir, "events")
    return time_weighted_avg(
        ev, "user_id", "ts", "value", "event_id", bucket_sec=86400
    )


@register(
    "revenue_attribution",
    oracle="""
    WITH p AS (
      SELECT event_id AS pid, user_id, epoch_us(ts) AS pus,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v6
      FROM events WHERE event_type = 'purchase'
    ), t AS (
      SELECT event_id AS tid, user_id, epoch_us(ts) AS tus,
             event_type AS channel
      FROM events WHERE event_type IN ('click', 'view')
    ), j AS (
      SELECT p.pid, p.v6, t.channel,
             count(*) OVER (PARTITION BY p.pid) AS n,
             row_number() OVER (
               PARTITION BY p.pid ORDER BY t.tus, t.tid) AS rn
      FROM p JOIN t
        ON t.user_id = p.user_id
       AND t.tus > p.pus - 86400000000 AND t.tus <= p.pus
    ), alloc AS (
      SELECT channel,
             (v6 - ((v6 % n) + n) % n) // n
               + CASE WHEN rn <= ((v6 % n) + n) % n THEN 1 ELSE 0 END AS a6
      FROM j
      UNION ALL
      SELECT 'unattributed' AS channel, v6 AS a6
      FROM p WHERE pid NOT IN (SELECT pid FROM j)
    )
    SELECT channel, CAST(sum(a6) AS BIGINT) AS attributed6,
           count(*) AS n_rows
    FROM alloc GROUP BY channel
    """,
    tags=("temporal", "attribution", "join"),
)
def revenue_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every purchase's value splits
    EQUALLY — and exactly, to the 1e-6 unit — across the user's
    click/view touches in the prior 24 h; purchases with no touch in
    the window report as 'unattributed'. The candidate join is the
    bucketed range equi-join (operators/temporal.py:range_join_bucketed
    — never a per-user cross of purchases × touches), the split is the
    div/mod remainder-to-earliest-touch discipline
    (operators/allocation.py:equal_split_exact), so
    Σ attributed6 over all channels == Σ v6 over all purchases under
    any partitioning. The oracle runs the naive non-equi join + the
    same integer split."""
    from ..operators.allocation import equal_split_exact
    from ..operators.temporal import range_join_bucketed

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("pid"),
        F.floor(F.col("value") * 1e6 + 0.5).cast("long").alias("v6"),
    )
    touches = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id",
        F.col("ts").alias("t_ts"),
        F.col("event_id").alias("tid"),
        F.col("event_type").alias("channel"),
        F.unix_micros(F.col("ts")).alias("tus"),
    )
    joined = range_join_bucketed(
        purchases, touches, on="user_id",
        left_time="p_ts", right_time="t_ts",
        lo_sec=-86400, hi_sec=0,
    )
    alloc = equal_split_exact(
        joined, "pid", ["tus", "tid"], "v6", out_col="a6"
    ).select("channel", "a6")
    unattributed = (
        purchases.join(
            joined.select("pid").distinct(), "pid", "left_anti"
        ).select(F.lit("unattributed").alias("channel"), F.col("v6").alias("a6"))
    )
    return (
        alloc.unionByName(unattributed)
        .groupBy("channel")
        .agg(
            F.sum("a6").cast("long").alias("attributed6"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "hopping_event_stats",
    oracle="""
    WITH v AS (
      SELECT epoch_us(ts) AS u,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v6
      FROM events
    ), x AS (
      SELECT make_timestamp(s * 3600000000) AS window_start, v6
      FROM v, UNNEST(generate_series(
                CAST(floor(u / 3600000000) AS BIGINT) - 5,
                CAST(floor(u / 3600000000) AS BIGINT))) AS g(s)
    )
    SELECT window_start, count(*) AS n_events,
           CAST(sum(v6) AS BIGINT) AS sum_v6
    FROM x GROUP BY 1
    """,
    tags=("temporal", "window", "hopping"),
)
def hopping_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding/hopping-window aggregate: 6-hour windows advancing every
    hour (each event lands in exactly 6 overlapping windows) — the
    moving-dashboard shape BETWEEN tumbling rollups (hourly_event_rollup)
    and unbounded-preceding running windows. Spark's built-in
    F.window(slideDuration=...) does the 6-way assignment executor-side
    (an explode, no self-join, no calendar cross join); counts and the
    1e-6-integer value sums are exact under any partitioning. The
    oracle expands the same hop arithmetic with generate_series."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.window(F.col("ts"), "6 hours", "1 hour").alias("w"),
            F.floor(F.col("value") * 1e6 + 0.5).cast("long").alias("v6"),
        )
        .groupBy(F.col("w.start").alias("window_start"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v6").alias("sum_v6"),
        )
    )


@register(
    "daily_value_corr",
    oracle="""
    WITH base AS (
      SELECT date_trunc('day', ts) AS d, CAST(hour(ts) AS BIGINT) AS hr,
             event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ), x AS (
      SELECT d, hr, CAST(sum(cents) AS BIGINT) AS x
      FROM base WHERE event_type = 'purchase' GROUP BY 1, 2
    ), y AS (
      SELECT d, hr, count(*) AS y
      FROM base WHERE event_type = 'click' GROUP BY 1, 2
    ), grid AS (
      SELECT d, g.hr FROM (SELECT DISTINCT d FROM base),
           UNNEST(generate_series(CAST(0 AS BIGINT),
                                  CAST(23 AS BIGINT))) AS g(hr)
    ), j AS (
      SELECT grid.d, grid.hr,
             coalesce(x.x, 0) AS x, coalesce(y.y, 0) AS y
      FROM grid LEFT JOIN x USING (d, hr) LEFT JOIN y USING (d, hr)
    ), mom AS (
      SELECT d, count(*) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM j GROUP BY d
    )
    SELECT d, n,
           CAST(floor(
             CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
             * 1000000 + 0.5) AS BIGINT) AS corr6
    FROM mom
    WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    """,
    tags=("temporal", "stats", "corr"),
)
def daily_value_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day Pearson correlation between two hourly series — purchase
    revenue (cents) vs click count over the day's 24 hours (absent
    hours are honest zeros: the 24-row grid generates executor-side
    from the distinct-day list, the hourly_gap_fill discipline — never
    a calendar cross join). The cross-series diagnostic next to the
    single-series windows. Every moment (Σx, Σy, Σxy, Σx², Σy²) is an
    exact integer sum of cents-scaled longs (all < 2^53, so the double
    casts are exact too); the one double tree is num/(√denx·√deny) —
    sqrt is IEEE correctly-rounded in both engines, unlike ln — then
    6-dp floored. Zero-variance days emit nothing rather than NaN."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.date_trunc("day", F.col("ts")).alias("d"),
        F.hour("ts").cast("long").alias("hr"),
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    x = (
        base.filter(F.col("event_type") == "purchase")
        .groupBy("d", "hr")
        .agg(F.sum("cents").alias("x"))
    )
    y = (
        base.filter(F.col("event_type") == "click")
        .groupBy("d", "hr")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    grid = base.select("d").distinct().withColumn(
        "hr", F.explode(F.sequence(F.lit(0).cast("long"), F.lit(23).cast("long")))
    )
    j = (
        grid.join(x, ["d", "hr"], "left")
        .join(y, ["d", "hr"], "left")
        .select(
            "d",
            F.coalesce(F.col("x"), F.lit(0)).alias("x"),
            F.coalesce(F.col("y"), F.lit(0)).alias("y"),
        )
    )
    mom = j.groupBy("d").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return (
        mom.filter((denx > 0) & (deny > 0))
        .select(
            "d",
            "n",
            F.floor(
                num
                / (F.sqrt(denx.cast("double")) * F.sqrt(deny.cast("double")))
                * 1000000
                + 0.5
            )
            .cast("long")
            .alias("corr6"),
        )
    )


@register(
    "event_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      FROM events
    ), c AS (
      SELECT from_type, to_type, count(*) AS c
      FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
    ), tot AS (
      SELECT from_type, CAST(sum(c) AS BIGINT) AS c_from FROM c GROUP BY 1
    )
    SELECT from_type, to_type, c, c_from,
           c * 1000000 // c_from AS p6
    FROM c JOIN tot USING (from_type)
    """,
    tags=("temporal", "sequence", "markov"),
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — P(next type | type), the sankey/behavioural-flow query.
    One lead() per user partition (the sequence never self-joins), one
    (from, to) aggregate, the from-marginal computed as a WINDOW sum
    over that same |types|²-row aggregate — a single consumer, so no
    persist to leak across the bench session (round-9 advice) and no
    second shuffle of the firehose; probabilities are exact integers
    (c·1e6 div c_from). Each user's final event has no successor and
    contributes nothing — identical in the oracle's lead()."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    c = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    return c.withColumn(
        "c_from", F.sum("c").over(Window.partitionBy("from_type"))
    ).select(
        "from_type",
        "to_type",
        "c",
        "c_from",
        F.expr("c * 1000000L div c_from").alias("p6"),
    )


@register(
    "conversion_lag",
    oracle="""
    WITH j AS (
      SELECT p.event_id AS pid,
             max(c.ts) AS last_click
      FROM events p LEFT JOIN events c
        ON c.user_id = p.user_id AND c.event_type = 'click'
       AND c.ts <= p.ts
      WHERE p.event_type = 'purchase'
      GROUP BY p.event_id, p.ts
    ), lag AS (
      SELECT pid,
             CASE
               WHEN last_click IS NULL THEN 'no_click'
               WHEN epoch_us(p.ts) - epoch_us(last_click) < 60000000
                 THEN 'lt_1m'
               WHEN epoch_us(p.ts) - epoch_us(last_click) < 600000000
                 THEN 'lt_10m'
               WHEN epoch_us(p.ts) - epoch_us(last_click) < 3600000000
                 THEN 'lt_1h'
               WHEN epoch_us(p.ts) - epoch_us(last_click) < 21600000000
                 THEN 'lt_6h'
               ELSE 'ge_6h'
             END AS band
      FROM j JOIN events p ON p.event_id = j.pid
    ), tot AS (SELECT count(*) AS n FROM lag)
    SELECT band, count(*) AS n_purchases,
           count(*) * 1000000 // n AS share6
    FROM lag CROSS JOIN tot GROUP BY band, n
    """,
    tags=("temporal", "asof", "funnel"),
)
def conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution: for every purchase, the time
    since the same user's most recent click (the as-of join —
    union-and-carry, one user shuffle; the oracle runs the naive
    non-equi max), banded into duration buckets with exact integral
    shares. The funnel-latency report behind 'how long after the last
    touch do users buy'; purchases with no prior click land in an
    honest 'no_click' band instead of silently dropping."""
    from ..operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    probes = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("pid"),
        F.unix_micros("ts").alias("p_us"),
    )
    refs = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.unix_micros("ts").alias("c_us"),
    )
    j = asof_join(probes, refs, on="user_id", time_col="ts", tiebreak="c_us")
    lag_us = F.col("p_us") - F.col("c_us")
    band = (
        F.when(F.col("c_us").isNull(), "no_click")
        .when(lag_us < 60_000_000, "lt_1m")
        .when(lag_us < 600_000_000, "lt_10m")
        .when(lag_us < 3_600_000_000, "lt_1h")
        .when(lag_us < 21_600_000_000, "lt_6h")
        .otherwise("ge_6h")
    )
    banded = j.select(band.alias("band")).groupBy("band").agg(
        F.count(F.lit(1)).alias("n_purchases")
    )
    # ≤6 band rows — collect the whole aggregate once (bounded,
    # post-agg), so shares divide driver-side with no second pass and
    # the zero-purchase corner returns an empty frame instead of an
    # unparseable `div None` expression (round-9 advice)
    schema = "band string, n_purchases bigint, share6 bigint"
    rows = banded.collect()
    n = sum(r["n_purchases"] for r in rows)
    if not n:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(
        [(r["band"], r["n_purchases"], r["n_purchases"] * 1_000_000 // n)
         for r in rows],
        schema,
    )

@register(
    "rolling_dau_7d",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d FROM events
    ), obs AS (SELECT DISTINCT d FROM ud)
    SELECT strftime(o.d, '%Y-%m-%d') AS day,
           count(DISTINCT u.u) AS dau_7d
    FROM obs o JOIN ud u ON u.d BETWEEN o.d - INTERVAL 6 DAY AND o.d
    GROUP BY o.d
    """,
    tags=("temporal", "events", "window-distinct"),
)
def rolling_dau_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT trailing-7-day distinct users per active day — the
    window-distinct aggregation Spark has no native frame for. The
    firehose collapses to distinct (user, day), each active-user-day
    explodes into only the ≤7 trailing windows it serves, one more
    distinct+count finishes. The oracle runs the naive range self-join
    the operator deliberately avoids (it rescans the activity table per
    window); the exact twin of the rows-only rolling_mau_hll sketch
    query — same question, sketch-free answer."""
    from ..operators.analytics import rolling_distinct_users

    return rolling_distinct_users(load_table(spark, sf_dir, "events"), days=7)


@register(
    "top_event_paths",
    oracle="""
    WITH seq AS (
      SELECT event_type AS s0,
             lead(event_type, 1) OVER w AS s1,
             lead(event_type, 2) OVER w AS s2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT s0 || '>' || s1 || '>' || s2 AS path, count(*) AS n
    FROM seq WHERE s2 IS NOT NULL
    GROUP BY 1 ORDER BY n DESC, path LIMIT 25
    """,
    tags=("temporal", "events", "paths"),
)
def top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 three-step user journeys (consecutive event-type paths,
    ordered by (ts, event_id) per user) — path mining / clickstream
    analysis: one (user) window shuffle + one path aggregate, top-k via
    TakeOrderedAndProject. Generalizes event_transitions' bigram matrix
    to arbitrary path length."""
    from ..operators.analytics import top_paths_frame

    return top_paths_frame(
        load_table(spark, sf_dir, "events"), steps=3, top_n=25
    )

@register(
    "nearest_click",
    oracle="""
    WITH u AS (
      SELECT user_id, epoch_us(ts) AS us, event_id AS rid, 0 AS isp,
             NULL::BIGINT AS pid
      FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT user_id, epoch_us(ts) AS us, NULL::BIGINT AS rid, 1 AS isp,
             event_id AS pid
      FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT pid, user_id, us, isp,
        last_value(CASE WHEN isp = 0
                        THEN struct_pack(rid := rid, us := us) END
                   IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY us, isp, rid
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev,
        first_value(CASE WHEN isp = 0
                         THEN struct_pack(rid := rid, us := us) END
                    IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY us, isp, rid
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt
      FROM u
    ), p AS (
      SELECT pid, user_id, us,
        CASE WHEN prev IS NOT NULL
                  AND (nxt IS NULL OR us - prev['us'] <= nxt['us'] - us)
             THEN prev['rid'] ELSE nxt['rid'] END AS nearest_event_id,
        CASE WHEN prev IS NOT NULL
                  AND (nxt IS NULL OR us - prev['us'] <= nxt['us'] - us)
             THEN -(us - prev['us']) ELSE nxt['us'] - us END AS delta_us
      FROM c WHERE isp = 1
    )
    SELECT pid AS event_id, user_id, us AS ts_us,
           nearest_event_id, delta_us
    FROM p
    WHERE nearest_event_id IS NOT NULL AND abs(delta_us) <= 14400000000
    """,
    tags=("temporal", "events", "asof"),
)
def nearest_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase attributed to the NEAREST click by the same user
    within ±4 hours — the bidirectional as-of join
    (operators/temporal.py:nearest_join): one union of the two event
    slices, one user-partitioned window sort carrying the backward
    candidate (inclusive) and forward candidate (strict) in the same
    frame pass, backward winning distance ties. The oracle re-derives
    the identical carry with IGNORE-NULLS window functions; the
    operator never runs the |purchases|×|clicks| range join."""
    from ..operators.temporal import nearest_join

    ev = load_table(spark, sf_dir, "events")
    probes = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    refs = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    out = nearest_join(
        probes, refs, on="user_id", time_col="ts",
        ref_id_col="event_id", tolerance_us=14_400_000_000,
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "nearest_event_id",
        "delta_us",
    )

@register(
    "audience_overlap",
    oracle="""
    WITH seg AS (
      SELECT DISTINCT event_type AS s, user_id AS u FROM events
    )
    SELECT a.s AS seg_a, b.s AS seg_b,
           count(*) AS n_both,
           CAST(count(*) * 1000000 //
                (ta.n + tb.n - count(*)) AS BIGINT) AS jaccard_ppm
    FROM seg a
    JOIN seg b ON a.u = b.u AND a.s < b.s
    JOIN (SELECT s, count(*) AS n FROM seg GROUP BY s) ta ON ta.s = a.s
    JOIN (SELECT s, count(*) AS n FROM seg GROUP BY s) tb ON tb.s = b.s
    GROUP BY a.s, b.s, ta.n, tb.n
    """,
    tags=("temporal", "events", "audience"),
)
def audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-segment overlap matrix: for every event-type pair, how
    many users are in BOTH segments plus the exact Jaccard (integral
    ppm) — the user-segmentation intersection query a bitmap/roaring
    index answers in specialized engines, expressed as one distinct
    (segment, user) projection self-joined on the user key (|segments|²
    is tiny; the join is user-partitioned, no bitmap needed until
    segment count explodes). Segment sizes fold from the same
    projection and broadcast back."""
    ev = load_table(spark, sf_dir, "events")
    # r15: ONE exchange builds the per-user segment SET (map-side
    # partial collect_set dedups early; set width is bounded by
    # |event types|) and the within-user pair fan-out rides an array
    # expression — replaces distinct + eager count + a self-join
    # re-shuffle (the brand_affinity basket shape; counts identical:
    # one struct per user holding the pair == one joined row per user
    # in both segments).
    usr = (
        # explicit NULL drop (r15 ADVICE): collect_set skips NULL event
        # types and the old equi-join dropped NULL user keys — filtering
        # both makes the set-form ≡ self-join identity unconditional
        ev.filter(
            F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
        )
        .groupBy(F.col("user_id").alias("u"))
        .agg(F.collect_set("event_type").alias("ss"))
        .persist()
    )
    sizes = (
        usr.select(F.explode("ss").alias("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("ss"),
            lambda x: F.filter(
                F.transform(
                    F.col("ss"),
                    lambda y: F.struct(x.alias("seg_a"), y.alias("seg_b")),
                ),
                lambda p: p["seg_a"] < p["seg_b"],
            ),
        )
    )
    both = (
        usr.select(F.explode(pair_arr).alias("p"))
        .select("p.seg_a", "p.seg_b")
        .groupBy("seg_a", "seg_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    out = (
        both.join(
            F.broadcast(sizes.withColumnRenamed("s", "seg_a")
                        .withColumnRenamed("n", "na")), "seg_a"
        )
        .join(
            F.broadcast(sizes.withColumnRenamed("s", "seg_b")
                        .withColumnRenamed("n", "nb")), "seg_b"
        )
        .select(
            "seg_a",
            "seg_b",
            "n_both",
            F.expr(
                "CAST(n_both * 1000000L div (na + nb - n_both) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )
    rows = out.collect()  # |segments|² rows; frees the projection cache
    usr.unpersist()
    return spark.createDataFrame(rows, schema=out.schema)

@register(
    "user_survival",
    oracle="""
    WITH RECURSIVE per AS (
      SELECT user_id,
             date_diff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE)))
               AS dur,
             max(CAST(ts AS DATE)) =
               (SELECT max(CAST(ts AS DATE)) FROM events) AS censored
      FROM events GROUP BY user_id
    ), tbl AS (
      SELECT dur, count(*) AS n_all,
             CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT) AS d
      FROM per GROUP BY dur
    ), ranked AS (
      SELECT dur, d,
             (SELECT count(*) FROM per) -
               COALESCE(sum(n_all) OVER (
                 ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                 AND 1 PRECEDING), 0) AS n_risk,
             row_number() OVER (ORDER BY dur) AS rn
      FROM tbl
    ), km(rn, dur, d, n_risk, s6) AS (
      SELECT rn, dur, d, n_risk, (n_risk - d) * 1000000 // n_risk
      FROM ranked WHERE rn = 1
      UNION ALL
      SELECT r.rn, r.dur, r.d, r.n_risk,
             km.s6 * (r.n_risk - r.d) // r.n_risk
      FROM ranked r JOIN km ON r.rn = km.rn + 1
    )
    SELECT dur AS duration_days, CAST(n_risk AS BIGINT) AS n_risk,
           d AS n_events, CAST(s6 AS BIGINT) AS surv6
    FROM km WHERE d > 0
    """,
    tags=("temporal", "events", "survival"),
)
def user_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier user-survival curve over activity lifetimes: a
    user's duration is first-to-last active day; users still active on
    the corpus's final day are right-CENSORED (they leave the risk set
    without counting as churn — the estimator's whole point). The
    survival probability folds as an exact INTEGER fixed-point
    recurrence, s6 ← s6·(n−d) div n (the bigram_lm discipline; a
    windowed product() would hit cross-engine multiplication-
    association drift — DuckDB's segment trees vs a left fold), run
    driver-side over the collected duration table (bounded by the
    corpus's day span) and as a recursive CTE in the oracle. The risk
    sets and event counts per duration fold distributed from one
    (user) aggregate."""
    from ..operators.series import km_eval

    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("f"), F.max(F.to_date("ts")).alias("l")
    ).persist()
    m = per.agg(
        F.max("l").alias("m"), F.count(F.lit(1)).alias("n_users")
    ).collect()[0]
    if not m["n_users"]:
        per.unpersist()
        return spark.createDataFrame(
            [], "duration_days long, n_risk long, n_events long, surv6 long"
        )
    tbl = (
        per.select(
            F.datediff("l", "f").cast("long").alias("dur"),
            F.when(F.col("l") == F.lit(m["m"]), 0).otherwise(1).alias("e"),
        )
        .groupBy("dur")
        .agg(F.count(F.lit(1)).alias("n_all"), F.sum("e").alias("d"))
    )
    # km_eval owns the day-span-bounded collect + the integer KM walk
    # (operators/series.py — the shared sequential-evaluator home)
    res = km_eval(tbl, n_users=m["n_users"])
    per.unpersist()
    return res


@register(
    "user_diversity",
    oracle="""
    WITH ct AS (
      SELECT user_id, event_type, count(*) AS c
      FROM events GROUP BY 1, 2
    ), per AS (
      SELECT user_id, sum(c) AS n, count(*) AS n_types,
             sum(c * c) AS sumc2
      FROM ct GROUP BY 1
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_events,
           CAST(n_types AS BIGINT) AS n_types,
           CAST((n * n - sumc2) * 1000000 // (n * n) AS BIGINT)
             AS simpson_ppm
    FROM per
    """,
    tags=("temporal", "diversity", "profile"),
)
def user_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral diversity per user: the Simpson diversity index
    1 − Σp² over the user's event-type mix, in EXACT integral ppm —
    (n² − Σc²)·10⁶ div n² is pure integer arithmetic, so unlike Shannon
    entropy it carries a full cross-engine oracle with no ln() anywhere
    (0 = one-note user, → 1 = uniform across types).

    Scale: one events scan → (user, type) partial-aggregated counts →
    per-user fold; both exchanges on the user key, result stays
    distributed (user-proportional). n·n·10⁶ stays inside BIGINT up to
    ~3M events per user; past that the cast discipline is DECIMAL(38,0)
    (value_outliers' moments) — not needed at any bench SF."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    ct = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    per = ct.groupBy("user_id").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.col("c") * F.col("c")).alias("sumc2"),
    )
    return per.select(
        "user_id",
        F.col("n").alias("n_events"),
        "n_types",
        F.expr("(n * n - sumc2) * 1000000L div (n * n)").alias(
            "simpson_ppm"
        ),
    )


@register(
    "user_burstiness",
    oracle="""
    WITH seq AS (
      SELECT user_id, epoch_us(ts) AS t,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY epoch_us(ts), event_id) AS nxt
      FROM events
    ), gaps AS (
      SELECT user_id, nxt - t AS g FROM seq WHERE nxt IS NOT NULL
    ), per AS (
      SELECT user_id, count(*) AS n, sum(g) AS s1,
             sum(CAST(g AS HUGEINT) * g) AS s2
      FROM gaps GROUP BY 1
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_gaps,
           CAST(s1 // n AS BIGINT) AS mean_gap_us,
           CAST(floor(
             (sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                    * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                   / CAST(n - 1 AS DOUBLE))
              - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
             / (sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                      * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                     / CAST(n - 1 AS DOUBLE))
                + CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
             * 1000000.0 + 0.5) AS BIGINT) AS burstiness_ppm
    FROM per
    WHERE n >= 2
      AND CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
          / CAST(n AS DOUBLE) > 0
    """,
    tags=("temporal", "profile", "dispersion"),
)
def user_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event burstiness per user: B = (σ−μ)/(σ+μ) over the user's
    inter-event gaps (Goh & Barabási) — −1 = metronome, 0 = Poisson,
    → 1 = bursty; the behavioral-timing profile bot-detection and
    engagement models consume next to user_diversity's type mix.

    Scale: one events scan, one user-keyed window for the gaps, one
    user-keyed fold for the EXACT integer moments (gap micros: s1, s2
    inside BIGINT up to ~30-year spans); one shared IEEE tree turns them
    into B (sqrt/division correctly rounded — cross-engine equal, the
    Welch-t discipline). Users need ≥2 gaps with nonzero variance (a
    2-event user has one gap, σ undefined); result stays distributed
    (user-proportional)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("t"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    gaps = (
        ev.select("user_id", (F.lead("t").over(w) - F.col("t")).alias("g"))
        .filter(F.col("g").isNotNull())
    )
    per = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("g").alias("s1"),
        # gap micros square past BIGINT (a 3-day gap² ~ 7e22): exact
        # DECIMAL(38,0) moments, the value_outliers discipline (HUGEINT
        # on the oracle side)
        F.sum(
            (F.col("g").cast("decimal(38,0)") * F.col("g")).cast(
                "decimal(38,0)"
            )
        ).alias("s2"),
    )
    nd = F.col("n").cast("double")
    s1d, s2d = F.col("s1").cast("double"), F.col("s2").cast("double")
    mu = s1d / nd
    var = (s2d - s1d * s1d / nd) / (nd - F.lit(1.0))
    sig = F.sqrt(var)
    return per.filter(
        (F.col("n") >= 2) & (s2d - s1d * s1d / nd > 0)
    ).select(
        "user_id",
        F.col("n").alias("n_gaps"),
        F.expr("s1 div n").alias("mean_gap_us"),
        F.floor((sig - mu) / (sig + mu) * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("burstiness_ppm"),
    )


@register(
    "revenue_acf",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1
    ), pairs AS (
      SELECT r.k AS lag, a.y AS x, b.y AS y
      FROM range(1, 8) r(k)
      JOIN daily a ON TRUE
      JOIN daily b ON b.d = a.d + r.k * INTERVAL 1 DAY
    ), mom AS (
      SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(x) AS HUGEINT) AS sx,
             CAST(sum(y) AS HUGEINT) AS sy,
             sum(CAST(x AS HUGEINT) * y) AS sxy,
             sum(CAST(x AS HUGEINT) * x) AS sxx,
             sum(CAST(y AS HUGEINT) * y) AS syy
      FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
           CAST(floor(
             CAST(n_pairs * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE)))
             * 1000000 + 0.5) AS BIGINT) AS acf6
    FROM mom
    WHERE n_pairs * sxx - sx * sx > 0 AND n_pairs * syy - sy * sy > 0
    """,
    tags=("temporal", "stats", "timeseries"),
)
def revenue_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..7 autocorrelation of daily revenue — the weekly-rhythm
    fingerprint (a retail series shows the lag-7 spike; a random walk
    decays smoothly): Pearson correlation between the daily series and
    its calendar-shifted self at each lag, pairing only days where BOTH
    ends were observed (missing days don't pair — no imputation).

    The daily_value_corr double-tree discipline at a second time scale:
    every moment (Σx, Σy, Σxy, Σx², Σy²) is an exact integer —
    DECIMAL(38,0)/HUGEINT, since daily-cents² sums overflow BIGINT at
    fact scale — and the one IEEE tree is num/(√denx·√deny), floored at
    6dp. Scale: one orders scan folds to the calendar-bounded daily
    frame; the 7 lags materialize as one explode (7·|days| rows, still
    calendar-bounded) hash-joined back to the daily frame on the
    shifted day; zero-variance lags emit nothing rather than NaN."""
    o = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("d"),
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    daily = o.groupBy("d").agg(F.sum("cents").alias("y")).persist()
    daily.count()  # one fold feeds both join sides
    a = daily.select("d", F.col("y").alias("x")).withColumn(
        "lag", F.explode(F.sequence(F.lit(1), F.lit(7)))
    ).withColumn("d2", F.expr("date_add(d, lag)"))
    b = daily.select(F.col("d").alias("d2"), F.col("y").alias("yy"))
    dec = "decimal(38,0)"
    mom = (
        a.join(b, "d2")
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("x").cast(dec)).alias("sx"),
            F.sum(F.col("yy").cast(dec)).alias("sy"),
            F.sum((F.col("x").cast(dec) * F.col("yy")).cast(dec)).alias(
                "sxy"
            ),
            F.sum((F.col("x").cast(dec) * F.col("x")).cast(dec)).alias(
                "sxx"
            ),
            F.sum((F.col("yy").cast(dec) * F.col("yy")).cast(dec)).alias(
                "syy"
            ),
        )
    )
    num = (
        F.col("n_pairs").cast(dec) * F.col("sxy") - F.col("sx") * F.col("sy")
    ).cast("double")
    denx = (
        F.col("n_pairs").cast(dec) * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    deny = (
        F.col("n_pairs").cast(dec) * F.col("syy") - F.col("sy") * F.col("sy")
    )
    out = (
        mom.filter((denx > 0) & (deny > 0))
        .select(
            F.col("lag").cast("long").alias("lag"),
            "n_pairs",
            F.floor(
                num
                / (F.sqrt(denx.cast("double")) * F.sqrt(deny.cast("double")))
                * 1000000
                + 0.5
            )
            .cast("long")
            .alias("acf6"),
        )
    )
    rows = out.collect()  # <= 7 rows; frees the daily cache
    daily.unpersist()
    return spark.createDataFrame(rows, schema=out.schema)


@register(
    "ship_lag_quantiles",
    oracle="""
    WITH lag AS (
      SELECT o.o_orderpriority AS priority,
             CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                            CAST(l.l_shipdate AS DATE)) AS BIGINT) AS lag
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), hist AS (
      SELECT priority, lag, count(*) AS cnt FROM lag GROUP BY 1, 2
    ), cum AS (
      SELECT priority, lag, cnt,
             sum(cnt) OVER (PARTITION BY priority ORDER BY lag) AS cum,
             sum(cnt) OVER (PARTITION BY priority) AS n
      FROM hist
    )
    SELECT priority, CAST(max(n) AS BIGINT) AS n_lines,
           CAST(min(CASE WHEN cum >= (1 * max_n + 3) // 4 THEN lag END)
                AS BIGINT) AS p25,
           CAST(min(CASE WHEN cum >= (2 * max_n + 3) // 4 THEN lag END)
                AS BIGINT) AS p50,
           CAST(min(CASE WHEN cum >= (3 * max_n + 3) // 4 THEN lag END)
                AS BIGINT) AS p75
    FROM (SELECT *, n AS max_n FROM cum)
    GROUP BY priority
    """,
    tags=("temporal", "quantiles", "ops"),
)
def ship_lag_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship cycle-time quartiles per order priority — the
    fulfillment-SLA table (is '1-URGENT' actually shipping faster, and
    by how much at the median and the p75 tail?).

    EXACT lower order statistics (value at rank ceil(q·n), the
    decile_profile convention — no interpolation, so ties and the exact
    rank choice can never diverge cross-engine), computed off the
    (priority, lag) count HISTOGRAM: the lag domain is calendar-bounded
    (~122 distinct days in TPC-H, bounded at any sf), so the per-group
    cumulative window runs over a dimension-bounded frame, never the
    fact table. One lineitem scan + one orderkey join + one
    (priority, lag) exchange."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.to_date("l_shipdate").alias("ship")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        F.to_date("o_orderdate").alias("od"),
    )
    hist = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select("priority", F.datediff("ship", "od").cast("long").alias("lag"))
        .groupBy("priority", "lag")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_cum = Window.partitionBy("priority").orderBy("lag")
    w_all = Window.partitionBy("priority")
    cum = hist.select(
        "priority",
        "lag",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    q = lambda k: F.min(  # noqa: E731
        F.when(F.col("cum") >= F.expr(f"({k} * n + 3) div 4"), F.col("lag"))
    ).cast("long")
    return cum.groupBy("priority").agg(
        F.max("n").alias("n_lines"),
        q(1).alias("p25"),
        q(2).alias("p50"),
        q(3).alias("p75"),
    )


@register(
    "dow_revenue_quartiles",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1
    ), hist AS (
      SELECT CAST(dayofweek(d) AS BIGINT) AS dow, y, count(*) AS cnt
      FROM daily GROUP BY 1, 2
    ), cum AS (
      SELECT dow, y, cnt,
             sum(cnt) OVER (PARTITION BY dow ORDER BY y) AS cum,
             sum(cnt) OVER (PARTITION BY dow) AS n
      FROM hist
    )
    SELECT dow, CAST(max(n) AS BIGINT) AS n_days,
           CAST(min(CASE WHEN cum >= (1 * n + 3) // 4 THEN y END)
                AS BIGINT) AS p25,
           CAST(min(CASE WHEN cum >= (2 * n + 3) // 4 THEN y END)
                AS BIGINT) AS p50,
           CAST(min(CASE WHEN cum >= (3 * n + 3) // 4 THEN y END)
                AS BIGINT) AS p75
    FROM cum GROUP BY dow
    """,
    tags=("temporal", "quantiles", "seasonal"),
)
def dow_revenue_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-revenue quartiles per day of week (0=Sunday, the portable
    numbering: Spark's dayofweek−1 == DuckDB's dayofweek) — the weekly
    seasonality PROFILE next to dow_anova's single significance number
    and revenue_acf's lag-7 spike: which weekdays run hot, and how wide
    is each weekday's spread.

    Exact lower order statistics at rank ceil(q·n) off the per-DOW
    value histogram of the calendar-bounded daily frame (<= |calendar|
    rows before the histogram, <= 7 groups after) — one orders scan,
    one day fold, bounded windows, no driver fold."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("d"),
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    daily = o.groupBy("d").agg(F.sum("cents").alias("y"))
    hist = (
        daily.select(
            (F.dayofweek("d") - 1).cast("long").alias("dow"), "y"
        )
        .groupBy("dow", "y")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_cum = Window.partitionBy("dow").orderBy("y")
    w_all = Window.partitionBy("dow")
    cum = hist.select(
        "dow",
        "y",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    q = lambda k: F.min(  # noqa: E731
        F.when(F.col("cum") >= F.expr(f"({k} * n + 3) div 4"), F.col("y"))
    ).cast("long")
    return cum.groupBy("dow").agg(
        F.max("n").alias("n_days"),
        q(1).alias("p25"),
        q(2).alias("p50"),
        q(3).alias("p75"),
    )


@register(
    "lag_lead_xcorr",
    oracle="""
    WITH base AS (
      SELECT date_trunc('day', ts) AS d, event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ), x AS (
      SELECT d, CAST(sum(cents) AS BIGINT) AS x
      FROM base WHERE event_type = 'purchase' GROUP BY 1
    ), y AS (
      SELECT d, count(*) AS y
      FROM base WHERE event_type = 'click' GROUP BY 1
    ), pairs AS (
      SELECT r.k AS lag, x.x, y.y
      FROM range(-7, 8) r(k)
      JOIN x ON TRUE
      JOIN y ON y.d = x.d + r.k * INTERVAL 1 DAY
    ), mom AS (
      SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(x) AS HUGEINT) AS sx,
             CAST(sum(y) AS HUGEINT) AS sy,
             sum(CAST(x AS HUGEINT) * y) AS sxy,
             sum(CAST(x AS HUGEINT) * x) AS sxx,
             sum(CAST(y AS HUGEINT) * y) AS syy
      FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
           CAST(floor(
             CAST(n_pairs * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE)))
             * 1000000 + 0.5) AS BIGINT) AS corr6
    FROM mom
    WHERE n_pairs * sxx - sx * sx > 0 AND n_pairs * syy - sy * sy > 0
    """,
    tags=("temporal", "stats", "timeseries"),
)
def lag_lead_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between daily purchase revenue and
    daily click count at lags −7..+7: each lag k pairs (revenue at d,
    clicks at d+k), so the argmax lag answers "do clicks LEAD purchases
    (negative k peaks) or LAG them" — the causal-direction screen next
    to revenue_acf's single-series rhythm and daily_value_corr's
    same-day coupling.

    Same exactness contract as revenue_acf: both series fold to
    calendar-bounded daily frames, the 15 lags materialize as one
    explode hash-joined on the shifted day, every moment is an exact
    DECIMAL(38,0)/HUGEINT integer, and the one IEEE tree is
    num/(√denx·√deny) floored at 6dp; zero-variance lags emit
    nothing."""
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("d"),
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    x = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("d")
        .agg(F.sum("cents").alias("x"))
        .persist()
    )
    y = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    x.count()  # the explode side re-reads it 15× from cache, not the scan
    a = x.withColumn(
        "lag", F.explode(F.sequence(F.lit(-7), F.lit(7)))
    ).withColumn("d2", F.expr("d + make_interval(0, 0, 0, lag)"))
    b = y.select(F.col("d").alias("d2"), "y")
    dec = "decimal(38,0)"
    mom = (
        a.join(b, "d2")
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("x").cast(dec)).alias("sx"),
            F.sum(F.col("y").cast(dec)).alias("sy"),
            F.sum((F.col("x").cast(dec) * F.col("y")).cast(dec)).alias(
                "sxy"
            ),
            F.sum((F.col("x").cast(dec) * F.col("x")).cast(dec)).alias(
                "sxx"
            ),
            F.sum((F.col("y").cast(dec) * F.col("y")).cast(dec)).alias(
                "syy"
            ),
        )
    )
    num = (
        F.col("n_pairs").cast(dec) * F.col("sxy") - F.col("sx") * F.col("sy")
    ).cast("double")
    denx = (
        F.col("n_pairs").cast(dec) * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    deny = (
        F.col("n_pairs").cast(dec) * F.col("syy") - F.col("sy") * F.col("sy")
    )
    out = (
        mom.filter((denx > 0) & (deny > 0))
        .select(
            F.col("lag").cast("long").alias("lag"),
            "n_pairs",
            F.floor(
                num
                / (F.sqrt(denx.cast("double")) * F.sqrt(deny.cast("double")))
                * 1000000
                + 0.5
            )
            .cast("long")
            .alias("corr6"),
        )
    )
    rows = out.collect()  # <= 15 rows; frees the x cache
    x.unpersist()
    return spark.createDataFrame(rows, schema=out.schema)


@register(
    "interorder_gap_quantiles",
    oracle="""
    WITH seq AS (
      SELECT o_custkey,
             CAST(date_diff('day',
               lag(CAST(o_orderdate AS DATE)) OVER (
                 PARTITION BY o_custkey
                 ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
               CAST(o_orderdate AS DATE)) AS BIGINT) AS gap
      FROM orders
    ), hist AS (
      SELECT gap, count(*) AS cnt FROM seq WHERE gap IS NOT NULL
      GROUP BY 1
    ), cum AS (
      SELECT gap, cnt,
             sum(cnt) OVER (ORDER BY gap) AS cum,
             sum(cnt) OVER () AS n
      FROM hist
    )
    SELECT CAST(max(n) AS BIGINT) AS n_gaps,
           CAST(min(CASE WHEN cum >= (1 * n + 3) // 4 THEN gap END)
                AS BIGINT) AS p25,
           CAST(min(CASE WHEN cum >= (2 * n + 3) // 4 THEN gap END)
                AS BIGINT) AS p50,
           CAST(min(CASE WHEN cum >= (3 * n + 3) // 4 THEN gap END)
                AS BIGINT) AS p75
    FROM cum
    """,
    tags=("temporal", "quantiles", "retention"),
)
def interorder_gap_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartiles of the days-between-consecutive-orders distribution —
    the repeat-purchase cadence (the input to "when is a customer
    overdue": a customer whose gap exceeds their cohort's p75 is churn
    risk; user_survival gives the hazard, this gives the rhythm).

    The gap window is PARTITIONED by customer (fact-proportional frame,
    never unpartitioned — the r9 rule) with the (day, orderkey) total
    order making the lag deterministic under same-day orders; quartiles
    are exact lower order statistics at rank ceil(q·n) off the gap
    histogram (gap domain calendar-bounded, so the cumulative window is
    over <= |calendar| rows)."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.to_date("o_orderdate").alias("day"),
    )
    w = Window.partitionBy("o_custkey").orderBy("day", "o_orderkey")
    gaps = o.select(
        F.datediff("day", F.lag("day").over(w)).cast("long").alias("gap")
    ).filter(F.col("gap").isNotNull())
    hist = gaps.groupBy("gap").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = Window.orderBy("gap")
    w_all = Window.partitionBy()
    cum = hist.select(
        "gap",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    q = lambda k: F.min(  # noqa: E731
        F.when(F.col("cum") >= F.expr(f"({k} * n + 3) div 4"), F.col("gap"))
    ).cast("long")
    return cum.agg(
        F.max("n").alias("n_gaps"),
        q(1).alias("p25"),
        q(2).alias("p50"),
        q(3).alias("p75"),
    )


@register(
    "dow_seasonal_factors",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1
    ), ma AS (
      SELECT d, y,
             CAST(sum(y) OVER w AS BIGINT) AS sum7,
             count(*) OVER w AS n7
      FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), dev AS (
      SELECT CAST(dayofweek(d) AS BIGINT) AS dow,
             CAST(y * 7 - sum7 AS BIGINT) AS dev7
      FROM ma WHERE n7 = 7
    )
    SELECT dow, CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(dev7) AS BIGINT) AS sum_dev7,
           CAST(sum(dev7) // (7 * count(*)) AS BIGINT) AS mean_dev_cents
    FROM dev GROUP BY dow
    """,
    tags=("temporal", "seasonal", "decompose"),
)
def dow_seasonal_factors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detrended weekly seasonal factors — the decomposition companion to
    dow_revenue_quartiles (raw spread) and dow_anova (significance):
    each day's revenue deviates from its CENTERED 7-day moving average
    (the trend), and the per-DOW mean deviation is the additive seasonal
    factor a forecaster would subtract. Rows with an incomplete ±3-day
    window are excluded (the classic STL edge rule), so the factor is
    never contaminated by one-sided trend estimates.

    FULLY integer: the MA is kept as the exact window SUM (dev7 =
    y·7 − sum7 avoids the rational mean), the factor is an exact floor
    division of integer sums. The ±3-row window is unpartitioned but
    runs over the calendar-bounded daily frame (the runs-test/EWMA
    bound); dayofweek uses the portable 0=Sunday numbering. Shared
    evaluator: operators/spc.py:dow_factors (also behind the live
    twin)."""
    from ..operators.spc import dow_factors

    o = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("d"),
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    return dow_factors(o.groupBy("d").agg(F.sum("cents").alias("y")))
