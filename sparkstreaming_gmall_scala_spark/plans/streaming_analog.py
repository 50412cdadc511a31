"""Batch formulations of the reference's streaming-stateful operators.

Each query here is the deterministic batch analog of a streaming operator
whose live form is in ``streaming/`` — the analog is what the DuckDB
oracle checks; the live form is covered by pytest streaming tests.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.dates import dt_of, hr_of
from ..sources import load_table
from ..sources.tables import _data_fingerprint, _params_key, build_once
from .catalog import register
from .scale import _ISOTONIC_ORACLE


# ---------------------------------------------------------------------------
# A2 — streaming distinct (DAU): first event per (day, device) passes
# (app/DauApp.scala:85-104, Redis SADD per day with 24 h TTL).
# ---------------------------------------------------------------------------
@register(
    "dau",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS dt, count(DISTINCT user_id) AS dau
    FROM events
    GROUP BY strftime(ts, '%Y-%m-%d')
    """,
    tags=("streaming-analog", "dedup", "agg"),
)
def dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users: the per-day Redis-set distinct becomes
    count(DISTINCT) per day — one shuffle, partial aggregation map-side."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(dt_of(F.col("ts")).alias("dt"), "user_id")
        .groupBy("dt")
        .agg(F.count_distinct("user_id").alias("dau"))
    )


@register(
    "dau_approx",
    oracle=None,  # HLL estimates are engine-specific by construction; the
    # pytest bound test checks |approx - exact| / exact <= 5%.
    tags=("streaming-analog", "dedup", "agg", "approx"),
)
def dau_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU via HyperLogLog++ (approx_count_distinct, rsd=2%) — the 100 TB
    form: constant-size sketch per day instead of a distinct shuffle of
    every (day, user) pair; sketches merge associatively so partial
    aggregation stays map-side and a day's count can even be maintained
    incrementally across micro-batches."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(dt_of(F.col("ts")).alias("dt"), "user_id")
        .groupBy("dt")
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("dau_approx"))
    )


@register(
    "kmv_distinct_daily",
    oracle="""
    WITH du AS (
      SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS dt,
             (user_id * 2654435761) % 4294967296 AS h
      FROM events WHERE user_id IS NOT NULL
    ), r AS (
      SELECT dt, h, row_number() OVER (PARTITION BY dt ORDER BY h) AS rn
      FROM du
    ), agg AS (
      SELECT dt, CAST(count(*) AS BIGINT) AS exact_distinct,
             max(CASE WHEN rn = 64 THEN h END) AS h_k
      FROM r GROUP BY dt
    )
    SELECT dt, exact_distinct,
           CAST(CASE WHEN exact_distinct < 64 THEN exact_distinct
                     ELSE 270582939648 // h_k END AS BIGINT) AS kmv_estimate,
           CAST(abs(CASE WHEN exact_distinct < 64 THEN exact_distinct
                         ELSE 270582939648 // h_k END - exact_distinct)
                * 1000000 // exact_distinct AS BIGINT) AS err_ppm
    FROM agg
    """,
    tags=("streaming-analog", "sketch", "distinct"),
)
def kmv_distinct_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day distinct users via a K-Minimum-Values sketch (k = 64) —
    the FULL-ORACLE deterministic sibling of dau_approx's HLL: both
    engines hash with the same Knuth multiplicative map
    h = (user_id * 2654435761) mod 2^32 (a bijection on [0, 2^32) since
    the multiplier is odd, so no collisions below 2^32 ids; beyond that
    collisions only merge — the estimator degrades, never crashes), keep
    each day's k smallest hashes, and read the classic estimate
    (k-1)·2^32 div h_(k) in exact integer division. Unlike every other
    approx-distinct entry this one hash-matches cross-engine, so the
    sketch itself sits under the correctness gate; err_ppm audits it
    against the exact count in the same row.

    Scale shape: the rank filter rn <= k compiles to WindowGroupLimit —
    per-task partial top-k then a k-row-per-day merge, which IS the KMV
    merge operator (union, re-take k smallest): the sketch is a monoid
    and the plan is its map-side partial aggregation. The distinct
    (dt, h) frame computes twice (exact-count branch + sketch branch) —
    deliberate: it is fact-proportional, so recomputing two
    column-pruned pipelines beats pinning it in memory; at 100 TB the
    exact_distinct audit column (which exists to grade the sketch)
    drops and only the top-k branch runs."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    du = ev.select(
        dt_of(F.col("ts")).alias("dt"),
        ((F.col("user_id") * F.lit(2654435761)) % F.lit(4294967296)).alias(
            "h"
        ),
    ).distinct()
    exact = du.groupBy("dt").agg(F.count(F.lit(1)).alias("exact_distinct"))
    w = Window.partitionBy("dt").orderBy("h")
    hk = (
        du.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 64)  # WindowGroupLimit: per-task top-k
        .groupBy("dt")
        .agg(F.max(F.when(F.col("rn") == 64, F.col("h"))).alias("h_k"))
    )
    return (
        exact.join(hk, "dt", "left")
        .select(
            "dt",
            "exact_distinct",
            F.expr(
                "CAST(CASE WHEN exact_distinct < 64 THEN exact_distinct"
                " ELSE 270582939648L div h_k END AS BIGINT)"
            ).alias("kmv_estimate"),
        )
        .select(
            "dt",
            "exact_distinct",
            "kmv_estimate",
            F.expr(
                "abs(kmv_estimate - exact_distinct) * 1000000L"
                " div exact_distinct"
            ).alias("err_ppm"),
        )
    )


def _kmv_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Ensure the 3-batch KMV ingest exists for this corpus
    (``sources.tables.build_once``) and return the index dir."""
    from ..streaming.kmv import kmv_ingest_batch

    def build(work: str) -> None:
        ev = load_table(spark, sf_dir, "events").select("ts", "user_id")
        body = kmv_ingest_batch(spark, os.path.join(work, "kmins"))
        for i in range(3):
            body(ev.filter(F.pmod(F.hash("user_id"), F.lit(3)) == i), i)

    work = build_once(
        "kmvidx", sf_dir,
        _params_key("kmv3", _data_fingerprint(sf_dir, "events")), build,
    )
    return os.path.join(work, "kmins")


@register(
    "kmv_distinct_stream",
    oracle="""
    WITH du AS (
      SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS dt,
             (user_id * 2654435761) % 4294967296 AS h
      FROM events WHERE user_id IS NOT NULL
    ), r AS (
      SELECT dt, h, row_number() OVER (PARTITION BY dt ORDER BY h) AS rn
      FROM du
    ), agg AS (
      SELECT dt, CAST(count(*) AS BIGINT) AS exact_distinct,
             max(CASE WHEN rn = 64 THEN h END) AS h_k
      FROM r GROUP BY dt
    )
    SELECT dt,
           CAST(CASE WHEN exact_distinct < 64 THEN exact_distinct
                     ELSE 270582939648 // h_k END AS BIGINT) AS kmv_estimate
    FROM agg
    """,
    tags=("streaming", "sketch", "distinct"),
)
def kmv_distinct_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kmv_distinct_daily's estimate answered from the STREAMING k-min
    index: 3 micro-batches (split by user hash, so every batch sees
    every day — the worst case for a merge bug) append per-day k-min
    partials; the read side unions and re-takes k. K-min lists are a
    merge monoid, so the live estimate equals the batch estimate
    EXACTLY — the oracle is the batch query's own SQL minus the exact
    audit column (which a production sketch, the whole point of bounded
    state, does not have). Replay + split-invariance pinned in
    tests/test_streaming_kmv.py."""
    from ..streaming.kmv import fold_kmv

    return fold_kmv(spark, _kmv_index_dir(spark, sf_dir))


@register(
    "kmv_set_ops",
    oracle="""
    WITH bounds AS (
      SELECT min(strftime(ts, '%Y-%m-%d')) AS d0,
             max(strftime(ts, '%Y-%m-%d')) AS d1 FROM events
      WHERE user_id IS NOT NULL
    ), ua AS (
      SELECT DISTINCT (user_id * 2654435761) % 4294967296 AS h
      FROM events, bounds
      WHERE user_id IS NOT NULL AND strftime(ts, '%Y-%m-%d') = bounds.d0
    ), ub AS (
      SELECT DISTINCT (user_id * 2654435761) % 4294967296 AS h
      FROM events, bounds
      WHERE user_id IS NOT NULL AND strftime(ts, '%Y-%m-%d') = bounds.d1
    ), ka AS (
      SELECT h, row_number() OVER (ORDER BY h) AS rn FROM ua
    ), kb AS (
      SELECT h, row_number() OVER (ORDER BY h) AS rn FROM ub
    ), kmin_a AS (SELECT h, rn FROM ka WHERE rn <= 64),
       kmin_b AS (SELECT h, rn FROM kb WHERE rn <= 64),
       uu AS (
      SELECT h, row_number() OVER (ORDER BY h) AS rn
      FROM (SELECT h FROM kmin_a UNION SELECT h FROM kmin_b)
    ), kmin_u AS (SELECT h, rn FROM uu WHERE rn <= 64),
       stats AS (
      SELECT
        (SELECT count(*) FROM ua) AS exact_a,
        (SELECT count(*) FROM ub) AS exact_b,
        (SELECT count(*) FROM ua WHERE h IN (SELECT h FROM ub))
          AS exact_inter,
        (SELECT count(*) FROM kmin_a) AS cnt_a,
        (SELECT max(CASE WHEN rn = 64 THEN h END) FROM kmin_a) AS hk_a,
        (SELECT count(*) FROM kmin_b) AS cnt_b,
        (SELECT max(CASE WHEN rn = 64 THEN h END) FROM kmin_b) AS hk_b,
        (SELECT count(*) FROM kmin_u) AS cnt_u,
        (SELECT max(CASE WHEN rn = 64 THEN h END) FROM kmin_u) AS hk_u,
        (SELECT count(*) FROM kmin_u
          WHERE h IN (SELECT h FROM kmin_a)
            AND h IN (SELECT h FROM kmin_b)) AS m_both
    ), est AS (
      SELECT *,
        CASE WHEN cnt_a < 64 THEN cnt_a
             ELSE 270582939648 // hk_a END AS kmv_a,
        CASE WHEN cnt_b < 64 THEN cnt_b
             ELSE 270582939648 // hk_b END AS kmv_b,
        CASE WHEN cnt_u < 64 THEN cnt_u
             ELSE 270582939648 // hk_u END AS kmv_union
      FROM stats
    )
    SELECT CAST(exact_a AS BIGINT) AS exact_a,
           CAST(exact_b AS BIGINT) AS exact_b,
           CAST(exact_inter AS BIGINT) AS exact_inter,
           CAST(kmv_a AS BIGINT) AS kmv_a,
           CAST(kmv_b AS BIGINT) AS kmv_b,
           CAST(kmv_union AS BIGINT) AS kmv_union,
           CAST(CASE WHEN cnt_u < 64 THEN m_both
                ELSE m_both * kmv_union // 64 END AS BIGINT) AS kmv_inter,
           CAST(abs(CASE WHEN cnt_u < 64 THEN m_both
                    ELSE m_both * kmv_union // 64 END - exact_inter)
                * 1000000 // greatest(exact_inter, 1) AS BIGINT)
             AS inter_err_ppm
    FROM est
    """,
    tags=("streaming-analog", "sketch", "setops"),
)
def kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch SET ALGEBRA: estimate |A|, |B|, |A∪B| and |A∩B| for
    two audiences (users active on the corpus's first vs last day) from
    three 64-element sketches — the union sketch is re-take-k over the
    two k-min lists (the kmv_distinct_stream merge), and intersection
    uses the classic inclusion trick: any union-k-min element h that
    belongs to A necessarily sits inside A's own k-mins (h ≤ the union's
    k-th min ≤ A's k-th min), so membership is decidable FROM THE
    SKETCHES ALONE and |A∩B| ≈ m·|A∪B|_est/k. Everything is the shared
    deterministic Knuth hash + integer division, so the whole estimator
    carries a full value-hash oracle; the exact_* columns audit it and
    drop at 100 TB (they are the only fact-proportional consumers — the
    sketch branches prune to k rows per task via WindowGroupLimit; the
    unpartitioned rank windows sit above per-day distincts and carry
    only the pruned k-min lists into their single-partition sort)."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    ).select(
        dt_of(F.col("ts")).alias("dt"),
        ((F.col("user_id") * F.lit(2654435761)) % F.lit(4294967296)).alias(
            "h"
        ),
    )
    bounds = ev.agg(F.min("dt").alias("d0"), F.max("dt").alias("d1"))

    def audience(day_col: str) -> DataFrame:
        return (
            ev.join(
                F.broadcast(bounds), ev["dt"] == F.col(day_col), "inner"
            )
            .select("h")
            .distinct()
        )

    def kmin(df: DataFrame) -> DataFrame:
        w = Window.orderBy("h")
        return (
            df.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 64)
        )

    ua, ub = audience("d0"), audience("d1")
    ka, kb = kmin(ua), kmin(ub)
    uu = kmin(ka.select("h").union(kb.select("h")).distinct())

    def sketch_stats(df: DataFrame, pfx: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias(f"cnt_{pfx}"),
            F.max(F.when(F.col("rn") == 64, F.col("h"))).alias(
                f"hk_{pfx}"
            ),
        )

    row = (
        ua.agg(F.count(F.lit(1)).alias("exact_a"))
        .crossJoin(ub.agg(F.count(F.lit(1)).alias("exact_b")))
        .crossJoin(
            ua.join(ub, "h", "left_semi").agg(
                F.count(F.lit(1)).alias("exact_inter")
            )
        )
        .crossJoin(sketch_stats(ka, "a"))
        .crossJoin(sketch_stats(kb, "b"))
        .crossJoin(sketch_stats(uu, "u"))
        .crossJoin(
            uu.join(ka.select("h"), "h", "left_semi")
            .join(kb.select("h"), "h", "left_semi")
            .agg(F.count(F.lit(1)).alias("m_both"))
        )
    )
    est = row.select(
        "*",
        F.expr(
            "CASE WHEN cnt_a < 64 THEN cnt_a"
            " ELSE 270582939648L div hk_a END"
        ).alias("kmv_a"),
        F.expr(
            "CASE WHEN cnt_b < 64 THEN cnt_b"
            " ELSE 270582939648L div hk_b END"
        ).alias("kmv_b"),
        F.expr(
            "CASE WHEN cnt_u < 64 THEN cnt_u"
            " ELSE 270582939648L div hk_u END"
        ).alias("kmv_union"),
    )
    return est.select(
        "exact_a",
        "exact_b",
        "exact_inter",
        "kmv_a",
        "kmv_b",
        "kmv_union",
        F.expr(
            "CAST(CASE WHEN cnt_u < 64 THEN m_both"
            " ELSE m_both * kmv_union div 64 END AS BIGINT)"
        ).alias("kmv_inter"),
        F.expr(
            "abs(CASE WHEN cnt_u < 64 THEN m_both"
            " ELSE m_both * kmv_union div 64 END - exact_inter)"
            " * 1000000L div greatest(exact_inter, 1L)"
        ).alias("inter_err_ppm"),
    )


def _nation_daily_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Ensure the 3-batch nation-daily ingest exists for this corpus
    (``sources.tables.build_once``) and return the daily index dir. ONE
    ingest serves every read-side smoothing monitor (revenue_ewma_live,
    holt_forecast_live)."""
    from ..streaming.nationdaily import nation_daily_ingest_batch

    def build(work: str) -> None:
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_custkey",
            F.to_date("o_orderdate").alias("day"),
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("long")
            .alias("v"),
        )
        cu = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_nationkey"
        )
        na = load_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name"
        )
        enriched = o.join(cu, o["o_custkey"] == cu["c_custkey"]).join(
            F.broadcast(na), cu["c_nationkey"] == na["n_nationkey"]
        )
        body = nation_daily_ingest_batch(spark, os.path.join(work, "daily"))
        for i in range(3):
            body(
                enriched.filter(
                    F.pmod(F.hash("o_orderkey"), F.lit(3)) == i
                ),
                i,
            )

    work = build_once(
        "natdayidx", sf_dir,
        _params_key("natday3", _data_fingerprint(sf_dir, "orders")), build,
    )
    return os.path.join(work, "daily")


_EWMA_ORACLE = """
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
"""

_HOLT_ORACLE = """
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
"""


@register(
    "revenue_ewma_live",
    oracle=_EWMA_ORACLE,
    tags=("streaming", "stats", "forecast"),
)
def revenue_ewma_live_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """revenue_ewma answered from the STREAMING nation-daily index: the
    mart folds additive (n_name, day, cents) partials and hands the
    daily frame to the SAME sequential evaluator the batch query runs
    (operators/smoothing.py:ewma_fold) — one mart, two live forecast
    monitors (holt_forecast_live shares the identical /tmp ingest).
    Oracle: identical SQL to revenue_ewma."""
    from ..operators.smoothing import ewma_fold
    from ..streaming.nationdaily import fold_nation_daily

    daily_dir = _nation_daily_index_dir(spark, sf_dir)
    return ewma_fold(fold_nation_daily(spark, daily_dir))


@register(
    "holt_forecast_live",
    oracle=_HOLT_ORACLE,
    tags=("streaming", "stats", "forecast"),
)
def holt_forecast_live_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """holt_forecast answered from the STREAMING nation-daily index —
    the SECOND consumer of the additive (n_name, day, cents) partials
    (revenue_ewma_live shares the identical /tmp ingest): fold, then the
    SAME level+trend evaluator (operators/smoothing.py:holt_fold).
    Oracle: identical SQL to holt_forecast."""
    from ..operators.smoothing import holt_fold
    from ..streaming.nationdaily import fold_nation_daily

    daily_dir = _nation_daily_index_dir(spark, sf_dir)
    return holt_fold(fold_nation_daily(spark, daily_dir))


@register(
    "dau_first_visit",
    oracle="""
    SELECT dt, user_id, event_id, hr FROM (
      SELECT strftime(ts, '%Y-%m-%d') AS dt, user_id, event_id,
             strftime(ts, '%H') AS hr,
             row_number() OVER (
               PARTITION BY strftime(ts, '%Y-%m-%d'), user_id
               ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    tags=("streaming-analog", "dedup", "window"),
)
def dau_first_visit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The row the reference actually emits per (day, device): the FIRST
    event, with derived dt/hr (app/DauApp.scala:96-129). dropDuplicates
    keeps an arbitrary row; a row_number window keeps the earliest —
    deterministic, so it's the oracle form."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("dt", "user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            dt_of(F.col("ts")).alias("dt"),
            "user_id",
            "event_id",
            hr_of(F.col("ts")).alias("hr"),
            "ts",
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("dt", "user_id", "event_id", "hr")
    )


# ---------------------------------------------------------------------------
# A4/A5-adjacent — cumulative per-key running totals (the Redis running
# sums of dws/OrderWideApp.scala:143-172, batch window form W2).
# ---------------------------------------------------------------------------
@register(
    "running_user_spend",
    oracle="""
    SELECT event_id, user_id,
           floor(sum(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) * 100 + 0.5) / 100 AS running_spend
    FROM events
    WHERE event_type = 'purchase'
    """,
    tags=("streaming-analog", "window"),
)
def running_user_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running purchase total — the reference's external running
    sums as one ordered window; the frame order (ts, event_id) makes the
    prefix sums deterministic across engines."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        (F.floor(F.sum("value").over(w) * 100 + 0.5) / 100).alias("running_spend"),
    )


# ---------------------------------------------------------------------------
# Sessionization — the standard gap-based session assignment (SURVEY.md
# lists session_window as part of the streaming surface; batch analog via
# lag + cumulative sum).
# ---------------------------------------------------------------------------
@register(
    "session_stats",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT user_id, ts,
             sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id,
           epoch_us(min(ts)) AS session_start_us,
           epoch_us(max(ts) + INTERVAL 1800 SECOND) AS session_end_us,
           count(*) AS n_events
    FROM numbered GROUP BY user_id, sid
    """,
    tags=("streaming-analog", "session", "agg"),
)
def session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session aggregates via the NATIVE session_window (batch mode) —
    the oracle recomputes the same sessions with lag+cumsum, proving
    session_window's merge semantics (end = last event + gap) against
    plain SQL. This is the batch twin of streaming/sessions.py, so the
    live operator's semantics are oracle-checked, not just pytest-checked."""
    from ..streaming.sessions import session_counts

    ev = load_table(spark, sf_dir, "events")
    out = session_counts(ev, gap="30 minutes")
    return out.select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        "n_events",
    )


@register(
    "sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id,
           CAST(sum(new_session) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
    FROM flagged
    """,
    tags=("streaming-analog", "window", "session"),
)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-min-gap sessionization: lag to flag gap starts, running sum to
    number sessions — two windows over one (user_id) shuffle. Streaming
    twin: session_window(ts, '30 minutes')."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Full-precision seconds (timestamp→double keeps sub-second), matching
    # DuckDB's epoch(); integer-second truncation would flip edge gaps.
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    flagged = ev.withColumn(
        "new_session",
        F.when(F.lag("ts").over(w).isNull() | (gap > 1800), 1).otherwise(0),
    )
    return flagged.select(
        "user_id",
        "event_id",
        F.sum("new_session")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_id"),
    )


# ---------------------------------------------------------------------------
# W3 — watermarked tumbling-window aggregate (the canonical Structured
# Streaming shape, SURVEY §2.9): per-hour per-type event rollup. The live
# form (streaming/rollup.py) emits each window once in append mode when
# the watermark passes its end and drops later-than-watermark rows; this
# batch analog is the on-time result the oracle checks.
# ---------------------------------------------------------------------------
@register(
    "hourly_event_rollup",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_value_cents
    FROM events
    GROUP BY 1, 2
    """,
    tags=("streaming-analog", "window", "agg"),
)
def hourly_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour rollup per event type: count + cents-exact value
    sum (per-row rounding to integer cents, THEN the sum — double sums
    are partition-order-dependent in the last ulp; integer sums are
    exact on any engine). One shuffle on (window, type), partial-
    aggregated map-side; at 100 TB this is the continuous-aggregate /
    hypertable-rollup shape, and the streaming twin maintains it
    incrementally with bounded watermark state."""
    from ..streaming.rollup import windowed_rollup

    # The SAME transformation as the live pipeline (withWatermark is
    # eliminated on batch frames), so the oracle checks the streaming
    # code path, not a parallel reimplementation.
    ev = load_table(spark, sf_dir, "events")
    return windowed_rollup(ev, window="1 hour", delay="10 minutes")


@register(
    "events_ingest_rollup",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM events GROUP BY 1, 2
    """,
    tags=("streaming", "layout", "exactly-once", "ingest"),
)
def events_ingest_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once through the STORAGE LAYOUT instead of an offset
    store: the reference commits results + Kafka offsets transactionally
    against Redis/MySQL (util/OffsetManagerUtil.scala:21-64,
    ads/TrademarkStatApp.scala:114-151); the lake-first engine gets the
    same guarantee from partition-grained idempotent writes — a
    time-ordered feed owns whole dt partitions per batch, and dynamic
    partition overwrite makes redelivery a no-op by construction
    (streaming/partition_ingest.py). The builder runs the 3-batch ingest
    AND REPLAYS the middle batch before reading, so this query's
    hash-match against the raw-table rollup IS the idempotence proof:
    one duplicated row anywhere and the value hash diverges. Per-batch
    cost at 100 TB is one write of the arriving days — no read-modify-
    write, no dedup pass, no external transaction log."""
    from ..streaming.partition_ingest import read_ingested_events

    ev = read_ingested_events(spark, sf_dir)
    return ev.groupBy(
        F.col("dt").cast("string").alias("day"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            F.floor(F.col("value") * 100 + 0.5).cast("long")
        ).alias("value_cents"),
    )


@register(
    "events_compacted_rollup",
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
    tags=("streaming", "layout", "compaction", "ingest"),
)
def events_compacted_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compaction LIFECYCLE oracle-checked end-to-end (r13 verdict #6): a
    deliberately FRAGMENTED 3-batch partition ingest (8 files per dt dir
    per batch — what a multi-executor streaming writer leaves), a
    replayed middle batch, then small-file compaction to one file per
    partition (asserted loudly in the builder,
    streaming/partition_ingest.py:ingest_events_compacted), and finally
    events_day_prune's one-day hourly rollup answered off the COMPACTED
    table against the SAME raw-events oracle — a hash match proves the
    whole lifecycle (fragmented write → duplicate delivery → staged
    compaction swap) is invisible to results while the file count drops
    ~8×. At 100 TB this is the nightly OPTIMIZE job's correctness
    contract: scans get fewer file opens, answers don't move. The day
    filter still partition-prunes: compaction preserves the dt layout,
    so PartitionFilters work unchanged on the rewritten table."""
    from ..streaming.partition_ingest import read_compacted_events

    ev = read_compacted_events(spark, sf_dir)
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
    "events_schema_evolution",
    oracle="""
    WITH b AS (
      SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi
      FROM events
    ), s AS (
      SELECT lo + CAST(ceil((hi - lo + 1) / 2.0) AS INT) - 1 AS split
      FROM b
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(CASE WHEN CAST(ts AS DATE) > s.split
                           AND value IS NOT NULL THEN 1 END)
                AS BIGINT) AS n_valued,
           CAST(sum(CASE WHEN CAST(ts AS DATE) > s.split
                    THEN CAST(floor(value * 100 + 0.5) AS BIGINT) END)
                AS BIGINT) AS value_cents
    FROM events, s GROUP BY 1
    """,
    tags=("streaming", "layout", "schema-evolution", "ingest"),
)
def events_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION across partitions — the normal state of any
    long-lived lake table: the first half of the days was ingested
    before the producer shipped the ``value`` column, the second half
    after (streaming/partition_ingest.py:ingest_events_evolving). The
    mergeSchema read surfaces the union schema with ``value`` NULL for
    pre-evolution partitions, and this rollup — per-type counts, valued
    counts, and cents over the valued rows only — hash-checks that the
    merged read models exactly the CASE-on-date semantics the oracle
    computes from the raw single-schema table: no row lost, no phantom
    value, NULL aggregation semantics identical. At 100 TB schema
    evolution is a metadata fact (new parquet footers carry the new
    column; old files are never rewritten), and the read-side merge is
    what makes that zero-cost — this entry gates it."""
    from ..streaming.partition_ingest import read_evolving_events

    ev = read_evolving_events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("value").cast("long").alias("n_valued"),
        F.sum(
            F.floor(F.col("value") * 100 + 0.5).cast("long")
        ).alias("value_cents"),
    )


@register(
    "rolling_mau_hll",
    oracle=None,  # Datasketches HLL has no DuckDB twin; pytest pins the
    # ≤5% error vs exact rolling distinct and the lossless merge
    tags=("streaming-analog", "sketch", "events"),
)
def rolling_mau_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 30-day distinct users per day, answered ENTIRELY from
    the per-day HLL sketch index (operators/hll.py): build days×2^12-
    byte sketches once, union sketch bytes per trailing window — the
    events table is scanned exactly once however many windows are
    asked. dau_approx estimates ONE window per scan; this is the
    persisted-sketch upgrade (register-wise max union is lossless for
    fixed lgK), the same structure the streaming ingest maintains
    incrementally (streaming/hll.py)."""
    from ..operators.hll import daily_sketches, rolling_distinct

    ev = load_table(spark, sf_dir, "events")
    return rolling_distinct(daily_sketches(ev), window_days=30)


@register(
    "value_quantiles_stream",
    oracle="""
    WITH binned AS (
      SELECT least(31, greatest(0,
               CAST(floor((value - 0.0) * 32.0 / (500.0 - 0.0)) AS BIGINT)
             )) AS bin
      FROM events WHERE value IS NOT NULL
    ), h AS (
      SELECT bin, count(*) AS cnt FROM binned GROUP BY bin
    ), c AS (
      SELECT bin, cnt,
             sum(cnt) OVER (ORDER BY bin) AS cum,
             sum(cnt) OVER () AS total
      FROM h
    ), qs AS (
      SELECT CAST(unnest([0.5, 0.95, 0.99]) AS DOUBLE) AS q
    ), cov AS (
      SELECT qs.q, c.bin, c.cnt, c.cum, c.total,
             row_number() OVER (PARTITION BY qs.q ORDER BY c.bin) AS rn
      FROM qs JOIN c ON c.cum >= qs.q * c.total
    )
    SELECT q,
           floor(((0.0 + CAST(bin AS DOUBLE) * (500.0 - 0.0) / 32.0)
                  + ((0.0 + CAST(bin + 1 AS DOUBLE) * (500.0 - 0.0) / 32.0)
                     - (0.0 + CAST(bin AS DOUBLE) * (500.0 - 0.0) / 32.0))
                    * (q * total - (cum - cnt)) / cnt) * 1000000 + 0.5)
             / 1000000 AS estimate
    FROM cov WHERE rn = 1
    """,
    tags=("streaming-analog", "sketch", "quantile"),
)
def value_quantiles_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p95/p99 of event values answered from the MERGEABLE fixed-bin
    histogram sketch — the latency-dashboard twin of the exact
    order_value_percentiles: estimates are within one bin width (500/32
    here), but the sketch is O(n_bins) state the stream maintains
    incrementally (streaming/quantile.py reads the same report off the
    persisted index; the disk lifecycle pin lives in
    tests/test_histogram.py). The builder composes the streaming path's
    own pieces on a two-batch parity split: per-batch partials under
    FROZEN bounds [0, 500] (the frozen-quantizer discipline — per-batch
    bounds would move bin edges and break additivity; out-of-range
    values clamp to the edge bins deterministically), additive merge,
    one cumulative walk for all three quantiles. Every step is fixed
    double arithmetic over exact integer counts, so unlike
    percentile_approx sketches this estimate carries a full
    hash-checked DuckDB oracle."""
    from ..operators.histogram import (
        fixed_histogram,
        histogram_merge,
        histogram_quantile,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    parts = [
        fixed_histogram(
            ev.filter(F.col("event_id") % 2 == i).select("value"),
            "value", n_bins=32, lo=0.0, hi=500.0,
        )
        for i in range(2)
    ]
    return histogram_quantile(histogram_merge(*parts), [0.5, 0.95, 0.99])


@register(
    "type_value_quantiles",
    oracle="""
    WITH binned AS (
      SELECT event_type, least(31, greatest(0,
               CAST(floor((value - 0.0) * 32.0 / (500.0 - 0.0)) AS BIGINT)
             )) AS bin
      FROM events WHERE value IS NOT NULL
    ), h AS (
      SELECT event_type, bin, count(*) AS cnt FROM binned
      GROUP BY event_type, bin
    ), c AS (
      SELECT event_type, bin, cnt,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
             sum(cnt) OVER (PARTITION BY event_type) AS total
      FROM h
    ), qs AS (
      SELECT CAST(unnest([0.5, 0.95, 0.99]) AS DOUBLE) AS q
    ), cov AS (
      SELECT c.event_type, qs.q, c.bin, c.cnt, c.cum, c.total,
             row_number() OVER (PARTITION BY c.event_type, qs.q
                                ORDER BY c.bin) AS rn
      FROM qs JOIN c ON c.cum >= qs.q * c.total
    )
    SELECT event_type, q,
           floor(((0.0 + CAST(bin AS DOUBLE) * (500.0 - 0.0) / 32.0)
                  + ((0.0 + CAST(bin + 1 AS DOUBLE) * (500.0 - 0.0) / 32.0)
                     - (0.0 + CAST(bin AS DOUBLE) * (500.0 - 0.0) / 32.0))
                    * (q * total - (cum - cnt)) / cnt) * 1000000 + 0.5)
             / 1000000 AS estimate
    FROM cov WHERE rn = 1
    """,
    tags=("streaming-analog", "sketch", "quantile", "keyed"),
)
def type_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type p50/p95/p99 from the KEYED mergeable histogram —
    the per-key latency dashboard (`GROUP BY endpoint` percentiles over
    billions of rows with O(n_keys * n_bins) state). All keys share the
    frozen [0, 500] bounds, so the keyed partials the streaming ingest
    writes (streaming/histogram.py keys=...) merge additively and the
    cumulative walk answers every (key, q) pair in ONE pass — no per-key
    sort, no percentile_approx re-scan. Estimate error <= one bin width
    per key against the LOWER (type-1) quantile — the rank-ceil(q*n)
    order statistic the covering-bin walk targets; interpolated
    percentile() sits a rank earlier, unbounded across a sparse tail's
    empty bins (pinned in tests/test_histogram.py). Deterministic double
    arithmetic over exact integer counts carries the full DuckDB
    oracle."""
    from ..operators.histogram import fixed_histogram, histogram_quantile

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    hist = fixed_histogram(
        ev, "value", n_bins=32, lo=0.0, hi=500.0, keys=("event_type",)
    )
    return histogram_quantile(hist, [0.5, 0.95, 0.99], keys=("event_type",))


# ---------------------------------------------------------------------------
# r11 — streaming market-basket affinity through the carry-based counter
# indexes (streaming/basket.py): the live twin IS the batch query.
# ---------------------------------------------------------------------------
@register(
    "brand_affinity_stream",
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
    tags=("streaming", "affinity", "basket"),
)
def brand_affinity_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """brand_affinity answered from the STREAMING counter indexes
    (streaming/basket.py, r10 verdict #8): the distinct (order, brand)
    projection is ingested in three micro-batches split so baskets SPAN
    batches (hash of the full pair, not the order), each batch folding
    only its never-seen pairs into three additive counters via the
    transitions-style exact-generation carry; the read side folds the
    partials and applies the batch query's own literal-n_orders IEEE
    lift tree. Oracle: identical SQL to brand_affinity — streamed ==
    batch is the whole claim (also pinned over random splits + replays
    in tests/test_streaming_basket.py).

    The counter indexes persist through ``sources.tables.build_once``
    (r11 verdict #3): the FIRST call per corpus pays the 3-batch ingest
    (bench build_sec); steady-state calls are the read-side fold only —
    the number that predicts live serving, where ingest is a continuous
    background cost, not part of every read."""
    from ..streaming.basket import brand_affinity_live

    counters_dir, _carry = _basket_index_dirs(spark, sf_dir)
    out = brand_affinity_live(spark, counters_dir)
    rows = out.collect()  # |brands|²-bounded
    return spark.createDataFrame(rows, schema=out.schema)


def _basket_index_dirs(spark: SparkSession, sf_dir: str) -> list[str]:
    """Ensure the 3-batch basket counter ingest exists for this corpus
    (``sources.tables.build_once``) and return [counters, carry] dirs.
    ONE ingest serves every read-side query over the counters
    (brand_affinity_stream, assoc_rules_live)."""
    from ..streaming.basket import basket_ingest_batch

    def build(work: str) -> None:
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        )
        pa = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
        # r15: the joined projection persists across the three batch
        # filters — each batch otherwise re-executes the lineitem⋈part
        # join (ingest semantics are unchanged: the batch split is the
        # same pmod(hash) over the same rows).
        ob = (
            li.join(pa, li["l_partkey"] == pa["p_partkey"])
            .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b"))
            .persist()
        )
        body = basket_ingest_batch(
            spark, os.path.join(work, "counters"), os.path.join(work, "carry")
        )
        for i in range(3):
            body(ob.filter(F.pmod(F.hash("o", "b"), F.lit(3)) == i), i)
        ob.unpersist()

    work = build_once(
        "basketidx", sf_dir,
        # basket4: the r16 unified single-write counter layout — a new
        # params key so a leftover three-index basket3 dir can never be
        # read as (or collide with) the unified layout
        _params_key(
            "basket4",
            _data_fingerprint(sf_dir, "lineitem"),
            _data_fingerprint(sf_dir, "part"),
        ),
        build,
    )
    return [os.path.join(work, d) for d in ("counters", "carry")]


@register(
    "assoc_rules_live",
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
    tags=("streaming", "affinity", "rules"),
)
def assoc_rules_live_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """assoc_rules answered from the STREAMING counter indexes (r11
    verdict #6): confidence/support/lift all derive from the same
    pair/freq/order-total counters brand_affinity_stream maintains — the
    unordered pair counter expands to both rule directions by a swapped
    union (n_both is direction-independent; only confidence's antecedent
    denominator differs). Oracle: identical SQL to assoc_rules —
    streamed == batch is the whole claim (pinned over random splits +
    replays in tests/test_streaming_basket.py). Shares the persisted
    3-batch ingest with brand_affinity_stream: one ingest, two live
    read folds."""
    from ..streaming.basket import assoc_rules_live

    counters_dir, _carry = _basket_index_dirs(spark, sf_dir)
    out = assoc_rules_live(spark, counters_dir)
    rows = out.collect()  # |brands|²-bounded
    return spark.createDataFrame(rows, schema=out.schema)


@register(
    "spc_violations_live",
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
    tags=("streaming", "quality", "monitoring"),
)
def spc_violations_live_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spc_violations answered from the STREAMING daily index
    (streaming/spc.py): orders ingest in three micro-batches split so
    days SPAN batches (hash of the order key), each batch appending its
    exact per-day cents partial — day sums are additive monoids, so no
    carry (the moment-mart discipline, NOT the basket carry); the read
    side folds partials and hands the daily frame to the SAME exact
    rule engine the batch query uses (operators/spc.py). Oracle:
    identical SQL to spc_violations — streamed == batch is the whole
    claim (pinned over random splits + replays in
    tests/test_streaming_spc.py). The index persists through
    ``sources.tables.build_once``: first call ingests
    (bench build_sec), steady-state calls fold + evaluate."""
    from ..streaming.spc import spc_violations_live

    daily_dir = _spc_index_dirs(spark, sf_dir)
    return spc_violations_live(spark, daily_dir)


def _spc_index_dirs(spark: SparkSession, sf_dir: str) -> str:
    """Ensure the 3-batch daily-revenue ingest exists for this corpus
    (``sources.tables.build_once``) and return the daily index dir. ONE
    ingest serves every read-side monitor over the daily partials
    (spc_violations_live, dow_seasonal_factors_live)."""
    from ..streaming.spc import spc_ingest_batch

    def build(work: str) -> None:
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.to_date("o_orderdate").alias("d"),
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("long")
            .alias("cents"),
        )
        body = spc_ingest_batch(spark, os.path.join(work, "daily"))
        for i in range(3):
            body(o.filter(F.pmod(F.hash("o_orderkey"), F.lit(3)) == i), i)

    work = build_once(
        "spcidx", sf_dir,
        _params_key("spc3", _data_fingerprint(sf_dir, "orders")), build,
    )
    return os.path.join(work, "daily")


@register(
    "dow_seasonal_factors_live",
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
    tags=("streaming", "seasonal", "decompose"),
)
def dow_seasonal_factors_live_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dow_seasonal_factors answered from the STREAMING daily index —
    the THIRD consumer of the additive (d, y) partials the SPC mart
    maintains (spc_violations_live shares the identical /tmp ingest,
    keyed by the same fingerprint): fold the partials, hand the daily
    frame to the SAME integer evaluator (operators/spc.py:dow_factors).
    One mart, two live monitors — the read-side-fold pattern composing.
    Oracle: identical SQL to dow_seasonal_factors."""
    from ..operators.spc import dow_factors
    from ..streaming.spc import fold_daily

    daily_dir = _spc_index_dirs(spark, sf_dir)
    return dow_factors(fold_daily(spark, daily_dir))


@register(
    "isotonic_revenue_live",
    # Full oracle (r13): identical SQL to isotonic_revenue — the exact
    # scaled-integer minimax key (see plans/scale.py:_ISOTONIC_ORACLE)
    # made the rational pool-mean ordering SQL-expressible after all;
    # batch ≡ live additionally stays pinned in pytest
    # (tests/test_isotonic.py), the mart fold is exact integer addition.
    oracle=_ISOTONIC_ORACLE,
    tags=("streaming", "stats", "calibration"),
)
def isotonic_revenue_live_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """isotonic_revenue answered from the STREAMING daily index — the
    FOURTH consumer of the additive (d, y) partials the SPC mart
    maintains (spc_violations_live / dow_seasonal_factors_live share
    the identical /tmp ingest): fold the partials, hand the daily frame
    to the SAME exact-integer PAVA evaluator
    (plans/scale.py:isotonic_eval). One mart, three live monitors plus
    the live calibration curve."""
    from ..streaming.spc import fold_daily
    from .scale import isotonic_eval

    daily_dir = _spc_index_dirs(spark, sf_dir)
    return isotonic_eval(fold_daily(spark, daily_dir))
