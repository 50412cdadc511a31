"""DuckDB oracle parity for every oracle-bearing catalog entry at sf0.001.

Each entry's Spark result is compared with its oracle by
``tools/verify_local.frame_diff``: row count, columns, list-typed columns,
dtype kinds, then exact values (order-insensitive). This is the check the
local gate makes, so a regression shows up in the suite rather than in a
manual ``verify_local`` run.
"""

from __future__ import annotations

import pytest

from sparkstreaming_gmall_scala_spark.plans.catalog import load_all
from sparkstreaming_gmall_scala_spark.sources.tables import TABLES
from tools.verify_local import frame_diff

_WITH_ORACLE = sorted(n for n, q in load_all().items() if q.oracle is not None)


@pytest.fixture(scope="module")
def duck(sf_dir):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


# Every entry with an oracle, CORE included; the name is kept so existing
# test IDs stay valid.
@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_ungated_query_matches_oracle(spark, sf_dir, duck, name):
    q = load_all()[name]
    got = q.builder(spark, sf_dir).toPandas()
    want = duck.execute(q.oracle).fetchdf()
    problem = frame_diff(got, want)
    assert problem is None, problem
