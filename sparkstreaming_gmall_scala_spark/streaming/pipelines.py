"""The reference's apps recomposed as Structured Streaming pipelines.

Each reference app is a hand-built DStream main() (SURVEY.md §3.4:
restore offsets → parse → transform → sink → commit offsets). Here each
pipeline is ~10 lines: a file/kafka source, the same pure operators the
batch oracle checks, and a ``foreachBatch`` sink from sinks/batch.py;
checkpoints replace the whole offset subsystem.

Pipelines are parameterized by source directory so the pytest harness can
drop parquet files as controlled micro-batches (maxFilesPerTrigger=1) —
the SS analog of the reference's 5-second Kafka batches.
"""

from __future__ import annotations

import os
import threading

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..sinks.batch import IdempotentBatchWriter, upsert_parquet
from ..sources.tables import read_parquet_memo
from .allocation import allocate_stateful
from .dau import dau_distinct
from .join import windowed_equi_join
from .sources import file_stream

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

ORDER_SCHEMA = T.StructType(
    [
        T.StructField("order_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("total", T.DoubleType()),
    ]
)

DETAIL_SCHEMA = T.StructType(
    [
        T.StructField("detail_id", T.LongType()),
        T.StructField("order_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("amount", T.DoubleType()),
    ]
)

ALLOC_SCHEMA = T.StructType(
    [
        T.StructField("order_id", T.LongType()),
        T.StructField("detail_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("amount", T.DoubleType()),
        T.StructField("original_total", T.DoubleType()),
        T.StructField("final_total", T.DoubleType()),
    ]
)

# The real-time queries' state is small (at most ~10k rows / 5 MB per
# query) and the five of them running at once already fill the cores, so
# a state partition per core buys no parallelism; each one only adds a
# task, a Python-worker call and its state-store commits to every batch.
# Spark records the count in the offset log, so a checkpoint restores
# with the count it was written with.
_STATE_PARTITIONS = 1
_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
_NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"
_START_LOCK = threading.Lock()


def _start_stateful(spark: SparkSession, writer, on_data_only: bool = True):
    """``writer.start()`` for a stateful query: its state lives in
    ``_STATE_PARTITIONS`` shuffle partitions and, ``on_data_only``, it
    runs a micro-batch only when input lands. A query whose state
    eviction emits no rows needs no batch of its own to advance the
    watermark: its state evicts at the next data batch, so skipping the
    empty batch changes no output and takes its cost off the next tick's
    path. The query clones the session conf inside ``start()``, so both
    are set only around that call and the session keeps its own values;
    a restart goes through here again."""
    conf = {_SHUFFLE_PARTITIONS: str(_STATE_PARTITIONS)}
    if on_data_only:
        conf[_NO_DATA_BATCHES] = "false"
    with _START_LOCK:
        before = {k: spark.conf.get(k, None) for k in conf}
        for k, v in conf.items():
            spark.conf.set(k, v)
        try:
            return writer.start()
        finally:
            for k, v in before.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


def dau_pipeline(
    spark: SparkSession, src_dir: str, out_dir: str, checkpoint: str
):
    """DauApp (app/DauApp.scala:22-139): streaming distinct per (day,
    user) → idempotent batch-keyed sink. Watermark 24 h = the Redis set
    TTL; the dedup state = the Redis set; the batch-id-keyed sink = the
    ES doc-id idempotence. A batch runs only when events land, so a
    day's keys evict at the first data batch after the watermark passes
    them."""
    events = file_stream(spark, src_dir, EVENT_SCHEMA)
    dau = dau_distinct(events, ts_col="ts", user_col="user_id")
    sink = IdempotentBatchWriter(out_dir)
    return _start_stateful(
        spark,
        dau.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .outputMode("update"),
    )


def order_wide_pipeline(
    spark: SparkSession,
    order_dir: str,
    detail_dir: str,
    out_dir: str,
    checkpoint: str,
    how: str = "inner",
):
    """OrderWideApp join stage (dws/OrderWideApp.scala:91-131): watermarked
    stream-stream equi-join on order_id within ±20 s event time; SS emits
    each pair exactly once, so the reference's Redis join-dedup layer (J2)
    does not exist here. ``how="inner"`` runs a batch only when a file
    lands: rows that age out of the join buffers evict at the next data
    batch, and no row that passes the late filter can match them, so
    skipping the empty batch changes no output. ``how="left_outer"``
    keeps detail-less order headers: they emit null-padded once the
    watermark proves no detail can still arrive — the report the
    reference's per-batch inner join silently under-counts. Their
    eviction emits rows, so this mode keeps the empty batch that
    advances the watermark."""
    orders = file_stream(spark, order_dir, ORDER_SCHEMA)
    details = file_stream(spark, detail_dir, DETAIL_SCHEMA)
    wide = windowed_equi_join(
        orders,
        details,
        left_key="order_id",
        right_key="order_id",
        left_ts="ts",
        right_ts="ts",
        horizon="20 seconds",
        how=how,
    ).select(
        F.col("l.order_id").alias("order_id"),
        F.col("r.detail_id").alias("detail_id"),
        F.col("l.total").alias("total"),
        F.col("r.amount").alias("amount"),
    )
    sink = IdempotentBatchWriter(out_dir)
    writer = (
        wide.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    return _start_stateful(spark, writer, on_data_only=how == "inner")


def allocation_pipeline(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint: str,
    available_now: bool = False,
):
    """OrderWideApp allocation stage (dws/OrderWideApp.scala:134-178):
    stateful proportional allocation with residual correction; state =
    two cents-sums per in-flight order with the reference's 600 s TTL.

    With ``available_now=True`` the query drains what's there and stops —
    the test harness runs it repeatedly against the same checkpoint, which
    also exercises state recovery across restarts (the thing the
    reference's external-Redis design gets wrong: lost Redis state ⇒
    broken allocation, SURVEY.md §2.9). State TTL is event-time
    (watermark-driven) — see streaming/allocation.py for why
    processing-time timeouts don't mix with micro-batch drains. Under
    either trigger a batch runs only when a file lands, so an expired
    order evicts at the next data batch, after that batch's details."""
    details = file_stream(spark, src_dir, ALLOC_SCHEMA)
    allocated = allocate_stateful(details)
    sink = IdempotentBatchWriter(out_dir)
    writer = (
        allocated.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return _start_stateful(spark, writer)


def ods_router_pipeline(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint: str,
    flavor: str = "maxwell",
):
    """The ODS layer (ods/BaseDBMaxwellApp.scala:48-81 /
    ods/BaseDBCanalApp.scala:56-82): parse the CDC envelope, apply the
    table routing rules, fan records out per ``ods_{table}`` topic. The
    per-record producer loop becomes one declarative plan ending in a
    topic-partitioned sink (here parquet partitionBy('topic') under a
    batch_id=N directory so replayed micro-batches overwrite themselves —
    the same exactly-once-effect invariant as every other pipeline; on a
    real broker the same frame feeds sinks.kafka_fanout unchanged, where
    idempotence comes from the broker-side idempotent producer)."""
    from ..operators.cdc import (
        CANAL_SCHEMA,
        MAXWELL_SCHEMA,
        parse_envelope,
        route_canal,
        route_maxwell,
    )

    raw = file_stream(
        spark,
        src_dir,
        T.StructType([T.StructField("value", T.StringType())]),
        fmt="text",
    )
    if flavor == "maxwell":
        routed = route_maxwell(parse_envelope(raw, "value", MAXWELL_SCHEMA))
    elif flavor == "canal":
        routed = route_canal(parse_envelope(raw, "value", CANAL_SCHEMA))
    else:
        raise ValueError(f"unknown CDC flavor {flavor!r}")

    sink = IdempotentBatchWriter(out_dir, partition_by=("topic",))
    return (
        routed.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


ORDER_INFO_SCHEMA = T.StructType(
    [
        T.StructField("order_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("province_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("total", T.DoubleType()),
    ]
)

SKU_SCHEMA = T.StructType(
    [
        T.StructField("sku_id", T.LongType()),
        T.StructField("spu_id", T.LongType()),
        T.StructField("tm_id", T.LongType()),
        T.StructField("category3_id", T.LongType()),
        T.StructField("sku_name", T.StringType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


_MARKER = "_user_first_seen"  # tags the rows probe_first_order adds


def probe_first_order(orders: DataFrame) -> DataFrame:
    """The order stream plus one marker row per user in the first batch
    that holds the user. The users seen so far are the state of a
    streaming ``dropDuplicates(["user_id"])`` (the reference's Phoenix
    ``USER_STATUS``, dwd/OrderInfoApp.scala:92-117,262-279): one row per
    user, written once, never expiring, never joined or broadcast
    (tests/test_plan_properties.py). A NULL ``user_id`` gets no marker
    (the reference's ``Long`` has no NULL, bean/OrderInfo.scala:7-8)."""
    markers = orders.select("user_id").where("user_id IS NOT NULL")
    return orders.withColumn(_MARKER, F.lit(False)).unionByName(
        markers.dropDuplicates(["user_id"]).withColumn(_MARKER, F.lit(True)),
        allowMissingColumns=True,
    )


def _first_order_flags(batch_df: DataFrame) -> DataFrame:
    """A batch of ``probe_first_order``'s stream as its orders with
    ``if_first_order``, in one window: repeats of a ``(user_id,
    order_id)`` collapse to the earliest by ``ts``, NULL first, and an
    order is '1' iff its user's marker is in the batch and it is the
    user's earliest order by ``(ts, order_id)``, NULL ``ts`` first."""
    marker = F.col(_MARKER)
    # markers sort after their user's orders, an order's copies next to
    # each other, earliest first
    by_user = Window.partitionBy("user_id").orderBy(
        _MARKER, "order_id", F.col("ts").asc_nulls_first()
    )
    user = by_user.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    rank = F.struct(F.col("ts").isNotNull(), "ts", "order_id")
    first = F.max(marker).over(user) & rank.eqNullSafe(
        F.min(F.when(~marker, rank)).over(user)
    )
    # lag() of a struct is NULL only on a user's first row, so a NULL
    # order_id is compared like any other
    order = F.struct("order_id")
    flagged = batch_df.select(
        "*",
        F.when(first, "1").otherwise("0").alias("if_first_order"),
        F.lag(order).over(by_user).eqNullSafe(order).alias("_repeat"),
    )
    return flagged.where(~marker & ~F.col("_repeat")).drop(_MARKER, "_repeat")


def order_info_pipeline(
    spark: SparkSession,
    src_dir: str,
    state_dir: str,
    out_dir: str,
    checkpoint: str,
    dim_dirs: tuple[tuple[str, str, str], ...] = (),
    available_now: bool = False,
):
    """OrderInfoApp end-to-end (dwd/OrderInfoApp.scala:40-290): order
    stream → ``probe_first_order`` → ``_first_order_flags`` → dim
    enrichment → batch-keyed sink. Exactly once comes from state-store
    versioning: a replay reloads the state version its batch started
    from, so it gets the same markers and flags and rewrites its
    ``batch_id=N`` dir (the reference's IF_CONSUMED='1' upsert would
    flip a replay's flags to '0'). An ``order_id`` re-sent in a later
    batch is written again with '0'. ``state_dir`` gets ``USER_STATUS``
    as an export the flag never reads: one flat ``(user_id,
    first_batch_id)`` parquet file per batch, named by batch id. The
    state itself reads as ``spark.read.format("statestore")`` on the
    checkpoint.

    Dims are re-read per batch like the reference's Phoenix fetch +
    broadcast (OrderInfoApp.scala:194-221), so a dim update shows in the
    next batch; the schema memo skips footer inference while unchanged."""
    flagged = probe_first_order(file_stream(spark, src_dir, ORDER_INFO_SCHEMA))
    sink = IdempotentBatchWriter(out_dir)
    os.makedirs(state_dir, exist_ok=True)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = _first_order_flags(batch_df)
        for dim_dir, fact_key, dim_key in dim_dirs:
            dim = read_parquet_memo(spark, dim_dir)
            if dim_key != fact_key:
                dim = dim.withColumnRenamed(dim_key, fact_key)
            batch_df = batch_df.join(F.broadcast(dim), fact_key, "left")
        sink(batch_df, batch_id)
        # the batch's claims, read back from its committed dir and sorted,
        # so a replay rewrites the same bytes
        users = pq.read_table(
            os.path.join(out_dir, f"batch_id={batch_id}"),
            columns=["user_id"], filters=[("if_first_order", "=", "1")],
        )["user_id"].sort().combine_chunks()
        claims = pa.table(
            {"user_id": users, "first_batch_id": pa.repeat(batch_id, len(users))}
        )
        tmp = os.path.join(state_dir, f".{batch_id}.parquet.tmp")
        pq.write_table(claims, tmp)
        os.replace(tmp, os.path.join(state_dir, f"{batch_id:010d}.parquet"))

    writer = (
        flagged.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return _start_stateful(spark, writer)


def sku_dim_pipeline(
    spark: SparkSession,
    src_dir: str,
    tm_dir: str,
    category3_dir: str,
    spu_dir: str,
    out_dir: str,
    checkpoint: str,
):
    """SkuInfoApp (dim/SkuInfoApp.scala:50-120): the sku dim stream is
    denormalized against its three parent dims (trademark, category3,
    spu) then upserted into the materialized sku dim — the reference's
    per-batch Phoenix fetch + broadcast Map + saveToPhoenix.

    The parent dims are re-read per batch (the reference re-queries
    Phoenix inside transform{}), so a parent-dim update lands in the NEXT
    batch's denormalization; the schema memo skips footer inference
    while a parent is unchanged. The upsert is ``dim_pipeline``'s:
    last-write-wins per sku_id by ``ts``, matching Phoenix UPSERT
    semantics, also when one batch holds several changes of a sku."""

    def denormalize(df: DataFrame) -> DataFrame:
        tm = read_parquet_memo(spark, tm_dir).select("tm_id", "tm_name")
        c3 = read_parquet_memo(spark, category3_dir).select(
            "category3_id", "category3_name"
        )
        spu = read_parquet_memo(spark, spu_dir).select("spu_id", "spu_name")
        return (
            df.join(F.broadcast(tm), "tm_id", "left")
            .join(F.broadcast(c3), "category3_id", "left")
            .join(F.broadcast(spu), "spu_id", "left")
        )

    return dim_pipeline(
        spark, src_dir, out_dir, checkpoint, SKU_SCHEMA, "sku_id",
        transform=denormalize,
    )


def trademark_stat_pipeline(
    spark: SparkSession, src_dir: str, out_dir: str, checkpoint: str
):
    """TrademarkStatApp (ads/TrademarkStatApp.scala:27-151): per-batch
    grouped revenue sum committed exactly-once. The reference's
    results+offsets MySQL transaction becomes checkpoint + batch-id-keyed
    overwrite (same invariant: a replayed batch cannot double-count)."""
    wide = file_stream(
        spark,
        src_dir,
        T.StructType(
            [
                T.StructField("tm_id", T.LongType()),
                T.StructField("tm_name", T.StringType()),
                T.StructField("amount", T.DoubleType()),
            ]
        ),
    )
    sink = IdempotentBatchWriter(out_dir)

    def agg_and_write(batch_df: DataFrame, batch_id: int) -> None:
        stats = batch_df.groupBy("tm_id", "tm_name").agg(
            F.round(F.sum("amount"), 2).alias("amount")
        )
        sink(stats, batch_id)

    return (
        wide.writeStream.foreachBatch(agg_and_write)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


# ---------------------------------------------------------------------------
# The dim-app family: all six reference dim apps share one shape —
# parse → (optional per-row transform) → keyed Phoenix upsert
# (dim/ProvinceInfoApp.scala:47-53, dim/UserInfoApp.scala:44-77,
# dim/SpuInfoApp.scala:59-63, dim/BaseTrademarkApp.scala:55-61,
# dim/BaseCategory3App.scala:56-64, dim/SkuInfoApp.scala:50-120).
# Here the shape is ONE generic pipeline; each app is a schema + an
# optional transform. SkuInfoApp (the only one with parent-dim
# denormalization) keeps its dedicated sku_dim_pipeline above.
# ---------------------------------------------------------------------------

PROVINCE_SCHEMA = T.StructType(
    [
        T.StructField("province_id", T.LongType()),
        T.StructField("province_name", T.StringType()),
        T.StructField("area_code", T.StringType()),
        T.StructField("iso_code", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

USER_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("user_level", T.StringType()),
        T.StructField("birthday", T.TimestampType()),
        T.StructField("gender", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

SPU_SCHEMA = T.StructType(
    [
        T.StructField("spu_id", T.LongType()),
        T.StructField("spu_name", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

TRADEMARK_SCHEMA = T.StructType(
    [
        T.StructField("tm_id", T.LongType()),
        T.StructField("tm_name", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

CATEGORY3_SCHEMA = T.StructType(
    [
        T.StructField("category3_id", T.LongType()),
        T.StructField("category3_name", T.StringType()),
        T.StructField("category2_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def dim_pipeline(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint: str,
    schema: T.StructType,
    key: str,
    transform=None,
    order_col: str = "ts",
):
    """Generic dim ingest: CDC stream → optional transform → keyed upsert.

    The upsert is last-write-wins per ``key`` ordered by ``order_col``
    (Phoenix UPSERT semantics); replayed micro-batches re-apply the same
    rows and land on the same winners, so the pipeline is idempotent
    end-to-end. Column names line up with ``sku_dim_pipeline``'s parent
    reads, so trademark/category3/spu dims maintained here feed the sku
    denormalization directly."""
    stream = file_stream(spark, src_dir, schema)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        df = batch_df
        if transform is not None:
            df = transform(df)
        upsert_parquet(spark, df, out_dir, [key], order_col=order_col)

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


def cdc_dim_apply_pipeline(
    spark: SparkSession,
    src_dir: str,
    dim_dir: str,
    checkpoint: str,
    schema: T.StructType,
    key_cols: list[str],
    op_col: str = "op",
    order_col: str = "ts",
):
    """Dim sync with FULL CDC semantics: insert/update upsert the row,
    'delete' removes the key (sinks.batch.apply_cdc_parquet) — the half
    of the Maxwell envelope dim_pipeline's last-write-wins upsert cannot
    express. Replayed micro-batches re-apply to the same winners
    (deletes of absent keys are no-ops), so restart/redelivery is
    harmless end-to-end."""
    from ..sinks.batch import apply_cdc_parquet

    stream = file_stream(spark, src_dir, schema)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        apply_cdc_parquet(
            spark, batch_df, dim_dir, key_cols,
            op_col=op_col, order_col=order_col,
        )

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


def province_dim_pipeline(spark, src_dir, out_dir, checkpoint):
    """ProvinceInfoApp (dim/ProvinceInfoApp.scala:47-53): straight upsert."""
    return dim_pipeline(
        spark, src_dir, out_dir, checkpoint, PROVINCE_SCHEMA, "province_id"
    )


def user_dim_pipeline(spark, src_dir, out_dir, checkpoint, as_of=None):
    """UserInfoApp (dim/UserInfoApp.scala:44-77): parse → P4 age bucket +
    P5 gender decode → upsert. The reference buckets against
    System.currentTimeMillis(); ``as_of`` makes that instant explicit so
    replays/tests are deterministic (None keeps wall-clock semantics)."""
    from ..functions.buckets import age_bucket_cn, gender_cn

    as_of_col = F.current_timestamp() if as_of is None else F.lit(as_of)

    def transform(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "age_group", age_bucket_cn(F.col("birthday"), as_of_col)
        ).withColumn("gender_name", gender_cn(F.col("gender")))

    return dim_pipeline(
        spark, src_dir, out_dir, checkpoint, USER_SCHEMA, "user_id",
        transform=transform,
    )


def spu_dim_pipeline(spark, src_dir, out_dir, checkpoint):
    """SpuInfoApp (dim/SpuInfoApp.scala:59-63): straight upsert."""
    return dim_pipeline(spark, src_dir, out_dir, checkpoint, SPU_SCHEMA, "spu_id")


def trademark_dim_pipeline(spark, src_dir, out_dir, checkpoint):
    """BaseTrademarkApp (dim/BaseTrademarkApp.scala:55-61): straight upsert."""
    return dim_pipeline(
        spark, src_dir, out_dir, checkpoint, TRADEMARK_SCHEMA, "tm_id"
    )


def category3_dim_pipeline(spark, src_dir, out_dir, checkpoint):
    """BaseCategory3App (dim/BaseCategory3App.scala:56-64): straight upsert."""
    return dim_pipeline(
        spark, src_dir, out_dir, checkpoint, CATEGORY3_SCHEMA, "category3_id"
    )


ORDER_DETAIL_SCHEMA = T.StructType(
    [
        T.StructField("detail_id", T.LongType()),
        T.StructField("order_id", T.LongType()),
        T.StructField("sku_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("amount", T.DoubleType()),
    ]
)


def order_detail_pipeline(
    spark: SparkSession,
    src_dir: str,
    sku_dim_dir: str,
    out_dir: str,
    checkpoint: str,
):
    """OrderDetailApp (dwd/OrderDetailApp.scala:51-101): detail stream →
    sku dim enrichment → batch-keyed sink.

    The reference's per-partition Phoenix IN-list fetch becomes a
    broadcast left join against the (already denormalized — that's
    SkuInfoApp's job) sku dim, re-read per batch so a dim update is
    visible to the next micro-batch (the schema memo skips footer
    inference while it is unchanged); the per-record Kafka producer loop
    becomes the batch-id-keyed sink (on a broker: sinks.kafka_fanout).

    Repeats of a ``detail_id`` within a batch collapse to the copy
    earliest by ``ts``, NULL first, as allocation collapses them; a NULL
    ``detail_id`` is never a repeat. The step holds no state, so a
    ``detail_id`` re-sent in a later batch is written again as sent."""
    details = file_stream(spark, src_dir, ORDER_DETAIL_SCHEMA)
    sink = IdempotentBatchWriter(out_dir)
    # the remaining columns break ts ties, so the surviving copy never
    # depends on arrival order
    by_detail = Window.partitionBy("detail_id").orderBy(
        F.col("ts").asc_nulls_first(), "order_id", "sku_id", "amount"
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sku = read_parquet_memo(spark, sku_dim_dir).select(
            "sku_id", "sku_name", "spu_id", "spu_name", "tm_id", "tm_name",
            "category3_id", "category3_name",
        )
        first = (
            batch_df.select("*", F.row_number().over(by_detail).alias("_n"))
            .where(F.col("detail_id").isNull() | (F.col("_n") == 1))
            .drop("_n")
        )
        enriched = first.join(F.broadcast(sku), "sku_id", "left")
        sink(enriched, batch_id)

    return (
        details.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )
