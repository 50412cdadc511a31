"""CDC envelope parsing + table routing (S13; reference:
ods/BaseDBCanalApp.scala:56-82, ods/BaseDBMaxwellApp.scala:48-81)."""

from __future__ import annotations

import json

from sparkstreaming_gmall_scala_spark.operators.cdc import (
    CANAL_SCHEMA,
    MAXWELL_SCHEMA,
    parse_envelope,
    route_canal,
    route_maxwell,
)


def test_maxwell_routing_rules(spark):
    envs = [
        {"database": "gmall", "table": "order_info", "type": "insert",
         "ts": 1, "data": {"id": "1"}},
        {"database": "gmall", "table": "order_info", "type": "update",
         "ts": 2, "data": {"id": "1"}},  # fact update → dropped
        {"database": "gmall", "table": "user_info", "type": "update",
         "ts": 3, "data": {"id": "7", "name": "x"}},  # dim any-type → kept
        {"database": "gmall", "table": "unknown_t", "type": "insert",
         "ts": 4, "data": {"id": "9"}},  # not allow-listed → dropped
        {"database": "gmall", "table": "sku_info", "type": "insert",
         "ts": 5, "data": {}},  # empty data → dropped
    ]
    raw = spark.createDataFrame([(json.dumps(e),) for e in envs], "value string")
    out = route_maxwell(parse_envelope(raw, "value", MAXWELL_SCHEMA)).collect()
    topics = sorted(r["topic"] for r in out)
    assert topics == ["ods_order_info", "ods_user_info"]
    payloads = {r["topic"]: json.loads(r["value"]) for r in out}
    assert payloads["ods_user_info"]["name"] == "x"


def test_canal_routing_explodes_data_array(spark):
    envs = [
        {"database": "g", "table": "order_info", "type": "INSERT",
         "data": [{"id": "1"}, {"id": "2"}, {"id": "3"}]},
        {"database": "g", "table": "order_info", "type": "UPDATE",
         "data": [{"id": "4"}]},  # non-INSERT → dropped
        {"database": "g", "table": "user_info", "type": "INSERT", "data": []},
    ]
    raw = spark.createDataFrame([(json.dumps(e),) for e in envs], "value string")
    out = route_canal(parse_envelope(raw, "value", CANAL_SCHEMA)).collect()
    assert len(out) == 3  # the 3-element array exploded; others dropped
    assert all(r["topic"] == "ods_order_info" for r in out)
    assert sorted(json.loads(r["value"])["id"] for r in out) == ["1", "2", "3"]


def test_dead_letter_split_keeps_poison_rows_off_hot_path(spark):
    """Malformed envelopes (bad JSON, or JSON missing the routing key)
    must land in the dead-letter frame with their raw payload; good rows
    parse and route untouched; nothing is dropped."""
    from pyspark.sql import types as T

    from sparkstreaming_gmall_scala_spark.operators.cdc import (
        MAXWELL_SCHEMA,
        parse_envelope_with_dead_letter,
        route_maxwell,
    )

    rows = [
        ('{"database":"gmall","table":"user_info","type":"update","ts":1,"data":{"id":"7"}}',),
        ("{not json at all",),
        ('{"database":"gmall","type":"insert","ts":2,"data":{"id":"8"}}',),  # no table
        ('{"database":"gmall","table":"order_info","type":"insert","ts":3,"data":{"id":"9"}}',),
    ]
    raw = spark.createDataFrame(
        rows, T.StructType([T.StructField("value", T.StringType())])
    )
    ok, dead = parse_envelope_with_dead_letter(raw, "value", MAXWELL_SCHEMA)
    assert ok.count() + dead.count() == len(rows)  # nothing dropped
    assert {r["raw_value"] for r in dead.collect()} == {rows[1][0], rows[2][0]}
    routed = {r["topic"] for r in route_maxwell(ok).collect()}
    assert routed == {"ods_user_info", "ods_order_info"}


def test_apply_cdc_parquet_insert_update_delete_replay(spark, tmp_path):
    """Full CDC apply (S8 + the delete half the insert-only router drops
    for facts): last-op-per-key wins within a batch, deletes remove the
    key, replays are byte-idempotent, and a later batch can re-insert a
    deleted key."""
    from sparkstreaming_gmall_scala_spark.sinks.batch import apply_cdc_parquet

    path = str(tmp_path / "dim")
    schema = "id long, name string, op string, ver long"

    def table():
        import glob

        if not glob.glob(path + "/*.parquet"):
            return {}
        return {
            r["id"]: (r["name"], r["ver"])
            for r in spark.read.parquet(path).collect()
        }

    b1 = spark.createDataFrame(
        [
            (1, "a0", "insert", 1),
            (1, "a1", "update", 2),   # same key later in batch → wins
            (2, "b0", "insert", 1),
            (3, "c0", "insert", 1),
            (3, None, "delete", 2),   # insert+delete in ONE batch → absent
        ],
        schema,
    )
    apply_cdc_parquet(spark, b1, path, ["id"], op_col="op", order_col="ver")
    assert table() == {1: ("a1", 2), 2: ("b0", 1)}

    # replay the same batch: idempotent
    apply_cdc_parquet(spark, b1, path, ["id"], op_col="op", order_col="ver")
    assert table() == {1: ("a1", 2), 2: ("b0", 1)}

    b2 = spark.createDataFrame(
        [
            (2, None, "delete", 3),   # delete a stored key
            (3, "c1", "insert", 3),   # re-insert a previously deleted key
        ],
        schema,
    )
    apply_cdc_parquet(spark, b2, path, ["id"], op_col="op", order_col="ver")
    assert table() == {1: ("a1", 2), 3: ("c1", 3)}

    # replay batch 2 as well
    apply_cdc_parquet(spark, b2, path, ["id"], op_col="op", order_col="ver")
    assert table() == {1: ("a1", 2), 3: ("c1", 3)}

    # a delete for a key that was never stored is a no-op, not an error
    b3 = spark.createDataFrame([(99, None, "delete", 4)], schema)
    apply_cdc_parquet(spark, b3, path, ["id"], op_col="op", order_col="ver")
    assert table() == {1: ("a1", 2), 3: ("c1", 3)}


def test_apply_cdc_parquet_tied_order_is_deterministic(spark, tmp_path):
    """r11 (r10 advice): two changes for one key sharing an order_col
    value (Maxwell insert+delete in the same second via a ts order
    column) must resolve deterministically — delete outranks a same-order
    upsert (a key can't be deleted before it exists), payload hash breaks
    upsert-upsert ties — so replays and retries can never flip the
    outcome."""
    from sparkstreaming_gmall_scala_spark.sinks.batch import apply_cdc_parquet

    path = str(tmp_path / "dim_tied")
    schema = "id long, name string, op string, ts long"

    def table():
        import glob

        if not glob.glob(path + "/*.parquet"):
            return {}
        return {r["id"]: r["name"] for r in spark.read.parquet(path).collect()}

    # key 1: insert + delete with IDENTICAL ts → delete wins, every time
    # key 2: two upserts with IDENTICAL ts → hash-stable single winner
    b = spark.createDataFrame(
        [
            (1, "x", "insert", 100),
            (1, None, "delete", 100),
            (2, "p", "insert", 100),
            (2, "q", "update", 100),
        ],
        schema,
    )
    apply_cdc_parquet(spark, b, path, ["id"], op_col="op", order_col="ts")
    first = table()
    assert 1 not in first            # delete won the tie
    assert first[2] in ("p", "q")    # some winner...
    for _ in range(3):               # ...and the SAME winner on replay
        apply_cdc_parquet(spark, b, path, ["id"], op_col="op", order_col="ts")
        assert table() == first

    # with order_col=None everything ties: still deterministic via the
    # delete-first + payload-hash order
    path2 = str(tmp_path / "dim_none")
    b2 = spark.createDataFrame(
        [(5, "m", "insert", 0), (5, None, "delete", 0)], schema
    )
    apply_cdc_parquet(spark, b2, path2, ["id"], op_col="op", order_col=None)
    import glob

    rows = (
        spark.read.parquet(path2).collect()
        if glob.glob(path2 + "/*.parquet")
        else []
    )
    assert all(r["id"] != 5 for r in rows)


def test_upsert_parquet_is_an_all_upsert_cdc_apply(spark, tmp_path):
    """``upsert_parquet`` writes exactly the rows of ``apply_cdc_parquet``
    fed the same batches with every op an upsert, batch after batch: a
    tie on ``order_col`` goes to the same payload-hash winner, a replayed
    batch changes nothing, and a stored row loses to a fresh one even
    when its ``order_col`` is higher."""
    from pyspark.sql import functions as F

    from sparkstreaming_gmall_scala_spark.sinks.batch import (
        apply_cdc_parquet,
        upsert_parquet,
    )

    up, cdc = str(tmp_path / "up"), str(tmp_path / "cdc")
    schema = "id long, name string, ts long"

    def rows(path):
        df = spark.read.parquet(path)
        return df.columns, sorted(tuple(r) for r in df.collect())

    batches = [
        # key 1 ties on ts within the batch: the payload hash decides
        [(1, "a", 5), (1, "b", 5), (2, "c", 1), (2, "d", 3)],
        # replay of the batch above
        [(1, "a", 5), (1, "b", 5), (2, "c", 1), (2, "d", 3)],
        # key 1's stored ts 5 is higher, but the fresh row still wins
        [(1, "e", 2), (3, "f", 7)],
    ]
    seen = []
    for batch in batches:
        df = spark.createDataFrame(batch, schema)
        upsert_parquet(spark, df, up, ["id"], order_col="ts")
        apply_cdc_parquet(
            spark, df.withColumn("op", F.lit("upsert")), cdc, ["id"],
            op_col="op", order_col="ts",
        )
        assert rows(up) == rows(cdc)
        seen.append(rows(up)[1])
    assert seen[1] == seen[0]  # the replay rewrote the same rows
    got = {r[0]: r[1:] for r in seen[2]}
    assert got[1] == ("e", 2) and got[2] == ("d", 3) and got[3] == ("f", 7)
    assert rows(up)[0] == ["id", "name", "ts"]
