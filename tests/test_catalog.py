"""Catalog contract: every registered query builds with a stable schema at
sf0.001 (rows-only entries also run here; the rest run against their
oracle in tests/test_oracle_parity.py); entry() smoke-runs; oracle SQL
strings exist for every SQL-expressible query."""

from __future__ import annotations

import pytest

from sparkstreaming_gmall_scala_spark.plans.catalog import load_all


@pytest.fixture(scope="module")
def registry():
    return load_all()


def test_registry_nonempty_and_documented(registry):
    assert len(registry) >= 20
    for name, q in registry.items():
        assert q.doc, f"{name} has no docstring"


def test_oracle_coverage(registry):
    """Queries without an oracle must be the documented non-SQL ones only."""
    no_oracle = {n for n, q in registry.items() if q.oracle is None}
    assert no_oracle == {
        # k-means seeds order by Spark's Murmur3 hash — not reproducible
        # in DuckDB SQL, so the IVF family stays rows-only + recall tests
        "knn_ivf",
        "knn_ivf_persisted",
        # multi-probe operating point on the same k-means cells (r15) —
        # rows-only for the same seed-order reason; recall curve in
        # RECALL.md pins the quality gain over single-probe
        "knn_ivf_probe6",
        # float64-matmul summation order differs from the fold in the
        # last ulp — pair-set equality is tested instead
        "embed_near_dup_vec",
        # HLL estimates are engine-specific; pytest bounds the error
        "dau_approx",
        # Datasketches HLL sketch bytes have no DuckDB twin; pytest pins
        # the error bound AND the lossless sub-sketch merge
        "rolling_mau_hll",
        # GK-sketch percentiles are engine-specific; pytest bounds the
        # rank error against the exact (hash-checked) twin
        "price_quantiles_approx",
        # numpy-trained PQ codebooks/codes — the IVF constraint, squared
        "knn_pq",
        "knn_pq_persisted",
        "knn_ivf_pq",
        "knn_ivf_pq_persisted",
        # trained coarse k-means cells (the IVF constraint) over SQ8
        # codes; recall floors + pruning plan guard in tests/test_sq.py
        "knn_ivf_sq8",
        # k-means cells again (SemDeDup); soundness/within-cell
        # completeness pinned against the exact pair set in pytest
        "semantic_dedup",
        # iterative k-core peeling with a DATA-DEPENDENT round count —
        # the one genuinely un-unrollable recursive-CTE constraint
        # (dup_pagerank's fixed 6 iterations unrolled at r13; peeling
        # can't); exact local-peeling-reference pin in tests/test_graph.py
        "dup_cores",
    }, no_oracle


@pytest.mark.parametrize(
    "name", sorted(load_all().keys())
)
def test_query_builds_and_runs(spark, sf_dir, registry, name):
    df = registry[name].builder(spark, sf_dir)
    # schema is stable (non-empty, named columns); entries with an oracle
    # run to completion in tests/test_oracle_parity.py, the rest run here
    assert df.columns
    if registry[name].oracle is None:
        assert df.count() >= 0


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() >= 0
    qs = e.queries()
    oracles = e.oracle_sql()
    # one pinned slice of the catalog, within the external 50-row gate,
    # every name oracle-checked
    assert tuple(qs) == e.CORE == (
        "trademark_stat",
        "pricing_summary",
        "order_enrich",
        "first_order_flag",
        "payment_allocation",
        "cdc_route",
        "windowed_order_join",
        "dau",
        "session_stats",
        "asof_last_click",
        "revenue_rollup",
        "rolling_dau_7d",
        "event_funnel",
        "user_retention",
    )
    assert len(qs) <= 50
    assert set(oracles) == set(qs)
    assert all(isinstance(sql, str) and sql for sql in oracles.values())
    assert all(callable(f) for f in qs.values())


def test_ungated_sessionize_twin_agrees_with_session_stats(spark, sf_dir, registry):
    """sessionize's behavior IS session_stats': aggregating sessionize's
    per-event session ids (min ts, max ts + gap, count) must reproduce
    session_stats row for row on the same data."""
    from pyspark.sql import functions as F

    from sparkstreaming_gmall_scala_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    sess = registry["sessionize"].builder(spark, sf_dir)
    derived = (
        sess.join(ev, ["user_id", "event_id"])
        .groupBy("user_id", "session_id")
        .agg(
            F.unix_micros(F.min("ts")).alias("session_start_us"),
            (F.unix_micros(F.max("ts")) + 1800 * 1_000_000).alias(
                "session_end_us"
            ),
            F.count(F.lit(1)).alias("n_events"),
        )
        .drop("session_id")
    )
    stats = registry["session_stats"].builder(spark, sf_dir)
    cols = ["user_id", "session_start_us", "session_end_us", "n_events"]
    a = sorted(tuple(r) for r in derived.select(cols).collect())
    b = sorted(tuple(r) for r in stats.select(cols).collect())
    assert a == b


def _gen_catalog():
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools",
        ),
    )
    import gen_catalog

    return gen_catalog


def test_catalog_md_is_current():
    """CATALOG.md must equal a fresh render of the registry — the
    committed table can't drift from the code."""
    import os

    gen_catalog = _gen_catalog()
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "CATALOG.md",
    )
    with open(path) as f:
        committed = f.read()
    assert committed == gen_catalog.render()
