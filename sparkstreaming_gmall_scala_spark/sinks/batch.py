"""Sinks: the engine's replacements for the reference's sink zoo.

The reference implements five sink families by hand — idempotent Kafka
producer (util/MyKafkaSink.scala:22-59), ES bulk upsert with explicit doc
ids (util/MyESUtil.scala:198-218), Phoenix/HBase dim upsert
(dim/UserInfoApp.scala:68-74), ClickHouse JDBC append
(dws/OrderWideApp.scala:186-199), and the exactly-once MySQL transaction
that commits aggregates + Kafka offsets atomically
(ads/TrademarkStatApp.scala:114-151).

Spark-first, all of these reduce to TWO patterns:

1. **Idempotent-by-key writes** (ES doc-id, Phoenix upsert, dim MERGE):
   one merge, ``apply_cdc_parquet`` — per key the last change wins and a
   ``'delete'`` change removes the key. ``upsert_parquet`` is that merge
   with no delete rows. In production this is a Delta/Iceberg
   ``MERGE INTO``; the parquet read-union-overwrite here has identical
   semantics for the dimension sizes involved (dims are small by
   definition; facts never go through this path).

2. **Idempotent-by-batch writes** (the exactly-once aggregate sink):
   ``IdempotentBatchWriter`` — each micro-batch lands in its own
   ``batch_id=N`` partition directory with overwrite mode, so a replayed
   batch overwrites itself with identical content instead of duplicating.
   Structured Streaming's checkpoint guarantees a replayed batch id carries
   the same input rows, which is exactly the invariant the reference buys
   with its results+offsets MySQL transaction — no distributed transaction
   needed (same argument as the reference's driver-side local tx, without
   the collect()). ``AppendOnlyIndex`` builds a persisted probe index on
   the same writer and schedules its own compaction.

Every rewrite of a whole directory — the dim merge and the index
compaction — commits through one swap, ``swap_dir``, whose crash matrix
``recover_dir`` resolves.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class IdempotentBatchWriter:
    """Exactly-once-effect ``foreachBatch`` sink: one overwrite-mode
    partition directory per batch id.

    Replays (driver restart, retried batch) rewrite the same directory
    with the same content — the at-least-once upstream becomes
    effectively-once at the sink, reproducing
    ads/TrademarkStatApp.scala:114-151 without a transactional store.
    """

    def __init__(
        self,
        out_dir: str,
        partition_by: tuple[str, ...] = (),
        schema: str | None = None,
    ):
        self.out_dir = out_dir
        self.partition_by = tuple(partition_by)
        # DATA schema (DDL string, without the batch_id partition col).
        # When the writer's row shape is fixed by contract (band rows,
        # pair rows, counter rows), passing it skips the one-task
        # footer-inference job EVERY read pays on a just-grown index —
        # the stat-keyed memo can never hit there because appending a
        # batch changes the directory key by design (r16).
        self.schema = schema

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        target = os.path.join(self.out_dir, f"batch_id={batch_id}")
        writer = batch_df.write.mode("overwrite")
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.parquet(target)

    def read(self, spark: SparkSession) -> DataFrame:
        """Read everything committed so far (batch_id recovered from the
        partition directory). With a contract ``schema`` the read never
        infers; otherwise the schema memo key folds in the set of
        batch_id subdirs and their stats (r15 ADVICE — the parent dir's
        own stat does not change when files are replaced INSIDE an
        existing batch_id=N subdir), so any new/rewritten batch
        re-infers while steady-state reads skip the footer job.

        The ``batch_id=N`` dirs are listed here and passed by name: a
        glob makes Spark's sink-metadata probe fail (and log a WARN with
        a stack trace) on every read. Raises ``FileNotFoundError`` when
        no batch is committed."""
        from ..sources.tables import _SCHEMA_MEMO, _memo_key, _memo_put

        pattern = os.path.join(glob.escape(self.out_dir), "batch_id=*")
        dirs = sorted(glob.glob(pattern))
        if not dirs:
            raise FileNotFoundError(f"no batch committed under {self.out_dir}")
        reader = spark.read.option("basePath", self.out_dir)
        if self.schema is not None:
            return reader.schema(f"{self.schema}, batch_id int").parquet(*dirs)
        key = _memo_key(self.out_dir)
        schema = _SCHEMA_MEMO.get(key) if key is not None else None
        if schema is not None:
            return reader.schema(schema).parquet(*dirs)
        df = reader.parquet(*dirs)
        if key is not None:
            _memo_put(key, df.schema)
        return df


def has_parquet(path: str) -> bool:
    """True if ``path`` holds a readable parquet dataset (an existing but
    empty directory — fresh checkpoint/state dirs — does not)."""
    if not os.path.isdir(path):
        return False
    for _root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def recover_dir(path: str) -> None:
    """Roll a ``swap_dir`` target forward/back after a crash.

    Crash matrix of the swap (tmp = newest complete generation once its
    ``_SUCCESS`` exists, old = previous generation):
    - crash before tmp/_SUCCESS: target untouched → drop the partial tmp;
    - crash after tmp/_SUCCESS, before/while swapping: roll FORWARD to tmp
      (it already contains the merge of old + updates);
    - crash after the swap, before old cleanup: target is current → drop
      old.
    Idempotent; called on entry by the dim merge and by readers
    (``AppendOnlyIndex``, streaming/scd2.py) so a crashed swap can
    never present as an empty table.
    """
    import shutil

    tmp, old = path.rstrip("/") + ".tmp", path.rstrip("/") + ".old"
    if os.path.exists(os.path.join(tmp, "_SUCCESS")):
        if not has_parquet(path):
            if os.path.isdir(path):
                shutil.rmtree(path)
            os.rename(tmp, path)
        else:
            # target complete AND tmp complete ⇒ crashed between writing
            # tmp and starting the swap; target is the pre-merge state and
            # tmp the post-merge one — roll forward.
            shutil.rmtree(path)
            os.rename(tmp, path)
    elif os.path.isdir(tmp):
        shutil.rmtree(tmp)  # partial write, target still authoritative
    if os.path.isdir(old) and has_parquet(path):
        shutil.rmtree(old)
    elif os.path.isdir(old) and not has_parquet(path):
        os.rename(old, path)  # swap lost both renames' target — roll back


def swap_dir(path: str, write) -> None:
    """Replace the directory ``path`` with a new generation: ``write(tmp)``
    materializes it beside the target (a Spark write, whose ``_SUCCESS``
    marks it complete), then two renames swap it in and the previous
    generation is dropped. The caller may be replacing the directory it
    read from, so nothing touches ``path`` until tmp is complete.
    Directory renames are atomic on a local FS; the window between them
    is covered by ``recover_dir``'s crash matrix, so no crash point loses
    the table."""
    import shutil

    tmp = path.rstrip("/") + ".tmp"
    old = path.rstrip("/") + ".old"
    write(tmp)
    if os.path.isdir(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


# the op column upsert_parquet adds for the merge; its value never deletes
_UPSERT_OP = "_upsert_op"


def upsert_parquet(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    key_cols: list[str],
    order_col: str | None = None,
) -> None:
    """Dim-table upsert (Phoenix saveToPhoenix / Delta MERGE analog):
    last-write-wins per ``key_cols`` — ``apply_cdc_parquet`` with no
    delete rows.

    New rows win over existing rows for the same key; among duplicates
    within ``updates`` the max ``order_col`` wins (ties broken arbitrarily
    but deterministically by a payload hash, so replays pick the same
    winner)."""
    apply_cdc_parquet(
        spark,
        updates.withColumn(_UPSERT_OP, F.lit("upsert")),
        path,
        key_cols,
        op_col=_UPSERT_OP,
        order_col=order_col,
    )


def apply_cdc_parquet(
    spark: SparkSession,
    changes: DataFrame,
    path: str,
    key_cols: list[str],
    op_col: str = "op",
    order_col: str | None = None,
) -> None:
    """The dim merge — full CDC apply with DELETE semantics (the
    Maxwell/Canal 'delete' rows the insert-only router drops for facts
    but a mirrored DIM table must honor): per key, the LAST change in
    the batch wins (``order_col`` desc; batch rows beat the stored row);
    if that change is a delete the key leaves the table, otherwise the
    row upserts with ``op_col`` stripped.

    Replay-idempotent by construction: re-applying a batch reproduces
    the same winning row per key (a re-applied delete finds the key
    already absent and keeps it absent; a re-applied upsert overwrites
    byte-identically), so a foreachBatch retry is harmless. Crash-safe
    via ``swap_dir``. ``op_col`` values: anything equal to ``'delete'``
    removes; every other value upserts (Maxwell's
    insert/update/bootstrap-insert all carry the full row).

    ``order_col`` should totally order each key's changes (a binlog
    offset / Maxwell xid, not a second-resolution timestamp); when it
    does not, ties resolve deterministically — delete first, then payload
    hash — so a replay can never flip the outcome (see the window sort
    below)."""
    from pyspark.sql import Window

    recover_dir(path)
    fresh = changes.withColumn("_gen", F.lit(1))
    if has_parquet(path):
        current = (
            spark.read.parquet(path)
            .withColumn(op_col, F.lit("keep"))
            .withColumn("_gen", F.lit(0))
        )
        allrows = current.unionByName(fresh, allowMissingColumns=True)
    else:
        allrows = fresh
    order = [F.col("_gen").desc()]
    if order_col is not None:
        order.append(F.col(order_col).desc())
    # Ties must not leave the winner to shuffle order, or a replayed /
    # retried batch could flip keep-vs-delete for a key. Two deterministic
    # tie-breaks behind order_col: (1) a delete outranks a same-order
    # upsert — a key cannot be deleted before it exists, so on a shared
    # (e.g. second-resolution) timestamp the delete IS the later change;
    # (2) any remaining tie (two same-order upserts with different
    # payloads) resolves by payload hash — arbitrary but replay-stable.
    # Callers with a true monotonic per-key sequence (binlog offset,
    # Maxwell xid) should pass it as order_col, which then totally orders
    # each key's changes and these tie-breaks never fire.
    order.append(
        F.when(F.col(op_col) == F.lit("delete"), 1).otherwise(0).desc()
    )
    payload = [c for c in changes.columns if c != op_col]
    order.append(F.xxhash64(*[F.col(c) for c in payload]).desc())
    w = Window.partitionBy(*key_cols).orderBy(*order)
    merged = (
        allrows.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col(op_col) != "delete"))
        .drop("_rn", "_gen", op_col)
    )
    swap_dir(path, merged.write.mode("overwrite").parquet)


def kafka_fanout(
    df: DataFrame, brokers: str, checkpoint: str, default_topic: str | None = None
):
    """Dynamic-topic Kafka sink (S6 + S13): rows carry a ``topic`` column
    so one writer fans out to ``ods_{table}`` topics, replacing the
    per-record producer loop at ods/BaseDBCanalApp.scala:56-82.

    Requires a broker + the kafka package; not exercised in the test
    container (the CDC routing logic itself is oracle-tested batch-side as
    ``cdc_route``)."""
    writer = (
        df.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("checkpointLocation", checkpoint)
    )
    if default_topic is not None:
        writer = writer.option("topic", default_topic)
    return writer


class AppendOnlyIndex:
    """Persisted append-only index for streaming probes (LSH bands,
    dedup fingerprints): per-batch ``batch_id=N`` directories written
    overwrite-idempotent (the ``IdempotentBatchWriter`` discipline — a
    replayed batch rewrites only its own directory), plus an optional
    compacted ``base`` generation so a long-running stream does not
    accumulate one directory of small files per micro-batch forever.

    ``compact(upto)`` folds base ∪ batch dirs ≤ upto into a new base via
    ``swap_dir``, then deletes the folded dirs. With ``compact_every=N``
    the index schedules that itself: ``append(df, N·k)`` folds every
    batch below N·k once its own dir is written.
    Crash matrix: a crash before the swap leaves the old base + dirs
    authoritative; a crash after the swap but mid-delete leaves batch
    dirs whose rows are ALSO in base — readers must therefore tolerate
    duplicate rows (both probes do: band pairs end in distinct(), and
    duplicate fingerprint hits collapse in the per-fp aggregate). Only
    compact batches strictly below the stream's in-flight batch id:
    a replay can rewrite the in-flight directory, never committed ones.

    A body that appends must be done reading the index lazily: the fold
    inside ``append`` deletes the folded dirs. The bodies write their
    outputs first and their indexes last (streaming/dedup.py), which
    keeps that true.
    """

    def __init__(
        self,
        index_dir: str,
        partition_by: tuple[str, ...] = (),
        schema: str | None = None,
        compact_every: int | None = None,
    ):
        if compact_every is not None and compact_every < 1:
            raise ValueError("compact_every must be >= 1")
        self.compact_every = compact_every
        self.index_dir = index_dir
        # partition_by threads an inner layout through every generation
        # (batch dirs AND the compacted base): the streaming IVF index
        # partitions by ``cell`` so probes get partition pruning on the
        # same column ivf_build's batch layout prunes on.
        self.partition_by = tuple(partition_by)
        # contract DATA schema (no batch_id): skips footer inference on
        # every read of a just-grown index — see IdempotentBatchWriter
        self.schema = schema
        self._writer = IdempotentBatchWriter(
            index_dir, partition_by=self.partition_by, schema=schema
        )
        self._base = os.path.join(index_dir, "base")

    def append(self, df: DataFrame, batch_id: int) -> None:
        """Write ``df`` as the ``batch_id=N`` dir; every ``compact_every``
        batches, then fold the committed dirs (ids < ``batch_id``) into
        the base. The in-flight dir is never folded: a post-crash replay
        may rewrite it. A crash inside the fold replays the batch, which
        re-appends and re-folds — ``compact`` is idempotent and dedups.
        Cost is O(index) every N batches, amortized O(index/N) per batch;
        reads get faster after each fold (one base beats N small dirs)."""
        self._writer(df, batch_id)
        if (
            self.compact_every
            and batch_id > 0
            and batch_id % self.compact_every == 0
        ):
            self.compact(df.sparkSession, upto_batch_id=batch_id - 1)

    def _batch_ids(self) -> list[int]:
        if not os.path.isdir(self.index_dir):
            return []
        out = []
        stray = []
        for name in os.listdir(self.index_dir):
            if name.startswith("batch_id="):
                try:
                    out.append(int(name.split("=", 1)[1]))
                except ValueError:
                    pass
            elif name.endswith(".parquet"):
                stray.append(name)
        if stray:
            # A flat-layout index (the pre-AppendOnlyIndex upsert format)
            # would be silently invisible to the batch_id=* read glob —
            # the probe would see an empty universe and quietly emit no
            # pairs against everything previously indexed. Fail loud.
            raise ValueError(
                f"{self.index_dir} holds flat parquet files "
                f"({stray[:3]}…) — not an AppendOnlyIndex layout. "
                "Migrate them into a base/ generation (one-off: read the "
                "flat files, write to <dir>/base, delete the flat files) "
                "before resuming the stream."
            )
        # Only dirs that actually hold part files count: a crash during
        # the very first append can leave an empty batch_id dir, which
        # would otherwise surface as an opaque schema-inference error in
        # read()/compact() instead of a clean empty-index signal. The
        # stream's replay rewrites such a dir on restart.
        return sorted(
            b
            for b in out
            if has_parquet(os.path.join(self.index_dir, f"batch_id={b}"))
        )

    def has_data(self) -> bool:
        return has_parquet(self._base) or bool(self._batch_ids())

    def _horizon(self) -> int:
        """Highest batch id folded into the base generation: -1 when no
        base exists; raises for a legacy base with no marker (its fold
        horizon is unknowable, so time travel would silently lie)."""
        if not has_parquet(self._base):
            return -1
        marker = os.path.join(self._base, "_horizon")
        if not os.path.exists(marker):
            raise ValueError(
                f"{self._base} predates the _horizon marker — its fold "
                "horizon is unknown, so as-of reads are not available; "
                "re-compact once to stamp it"
            )
        with open(marker) as f:
            return int(f.read().strip())

    def read(
        self, spark: SparkSession, upto_batch_id: int | None = None
    ) -> DataFrame:
        """Everything indexed so far (base generation ∪ batch dirs).
        May contain duplicate rows after an interrupted compaction —
        callers tolerate that by contract.

        ``upto_batch_id`` gives a TIME-TRAVEL read: the index exactly as
        of that committed batch (base + batch dirs ≤ id) — reproducible
        dashboards, A/B-ing a probe against yesterday's index state.
        Compaction is the retention horizon: asking for a state OLDER
        than the last fold raises (those per-batch generations are gone
        — the Delta/Iceberg VACUUM contract), so callers needing deep
        history compact less often."""
        recover_dir(self._base)
        if upto_batch_id is not None and upto_batch_id < self._horizon():
            raise ValueError(
                f"batch {upto_batch_id} was folded into the base "
                f"generation (horizon {self._horizon()}) — state before "
                "the last compaction is not recoverable"
            )
        parts = []
        if has_parquet(self._base):
            if self.schema is not None:
                parts.append(spark.read.schema(self.schema).parquet(self._base))
            else:
                from ..sources.tables import read_parquet_memo

                parts.append(read_parquet_memo(spark, self._base))
        ids = self._batch_ids()
        if upto_batch_id is not None:
            ids = [b for b in ids if b <= upto_batch_id]
        if ids:
            r = self._writer.read(spark)
            if upto_batch_id is not None:
                r = r.filter(F.col("batch_id") <= upto_batch_id)
            parts.append(r.drop("batch_id"))
        if not parts:
            raise FileNotFoundError(f"empty index at {self.index_dir}")
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    def compact(self, spark: SparkSession, upto_batch_id: int) -> int:
        """Fold base ∪ batch dirs with id ≤ ``upto_batch_id`` into a new
        base generation; returns how many batch dirs were folded. Pass
        the last COMMITTED batch id (never the in-flight one)."""
        import shutil

        recover_dir(self._base)
        todo = [b for b in self._batch_ids() if b <= upto_batch_id]
        if not todo:
            return 0
        parts = []
        if has_parquet(self._base):
            if self.schema is not None:
                parts.append(spark.read.schema(self.schema).parquet(self._base))
            else:
                from ..sources.tables import read_parquet_memo

                parts.append(read_parquet_memo(spark, self._base))
        for b in todo:
            parts.append(
                spark.read.parquet(
                    os.path.join(self.index_dir, f"batch_id={b}")
                )
            )
        merged = parts[0]
        for p in parts[1:]:
            merged = merged.unionByName(p)
        # An interrupted compaction rolls forward to the new base but can
        # leave the folded batch dirs on disk; without this, the NEXT
        # compact would bake those rows into base a second time — readers
        # tolerate duplicates, but base would inflate per crash cycle.
        # Index rows must therefore be identity-semantic: a counter index
        # tags each row with its batch (streaming/basket.py's src_batch).
        merged = merged.dropDuplicates()
        try:
            prior = self._horizon()
        except ValueError:  # legacy base without a marker
            prior = -1

        def write(tmp: str) -> None:
            writer = merged.write.mode("overwrite")
            if self.partition_by:
                writer = writer.partitionBy(*self.partition_by)
            writer.parquet(tmp)
            # stamp the fold horizon INSIDE the new generation before the
            # swap (underscore-prefixed: parquet readers skip it) — read()'s
            # time-travel contract needs to know which ids are gone
            with open(os.path.join(tmp, "_horizon"), "w") as f:
                f.write(str(max([prior] + todo)))

        swap_dir(self._base, write)
        for b in todo:
            shutil.rmtree(
                os.path.join(self.index_dir, f"batch_id={b}"),
                ignore_errors=True,
            )
        return len(todo)
