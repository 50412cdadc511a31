"""Streaming market-basket affinity (the live cross-sell matrix).

The batch query (plans/tpch.py:brand_affinity) self-joins the distinct
(order, brand) projection of the FULL fact table; per-batch recomputation
is O(corpus). This module streams it with the transitions-style carry
(streaming/transitions.py): all three statistics the lift needs — pair
co-occurrence counts, per-brand order frequencies, and the order total —
are additive monoids over the distinct (order, brand) pairs, PROVIDED each
pair is counted exactly once across batches. Baskets span batches (an
order's lines can arrive in any split), so per batch:

- ``new``   = the batch's distinct (o, b) pairs NOT in carry(N−1) — the
  anti-join makes every (order, brand) pair contribute to the counters in
  exactly one batch, whatever the split;
- freq partial   += new grouped by brand;
- orders partial += orders appearing in ``new`` whose key is absent from
  carry(N−1) (first sighting of the basket);
- pair partial   += for each order, new×old pairs (counted once — the old
  side never re-pairs, it isn't in ``new``) plus new×new pairs under
  a<b (counted once by the ordering);
- carry(N) = carry(N−1) ∪ new, written as generation N.

Replay-idempotent: carry is read by EXACT generation (N−1), never
"latest", so a replayed batch recomputes the same ``new`` set and
rewrites its three counter partials and its carry generation
byte-identically. Counter rows carry ``src_batch`` (the vocab/bpe
identity-semantic discipline) so compaction/crash-dedup stay safe.

State: carry(N) holds every (order, brand) pair seen so far — unlike the
transitions carry (one row per user) this grows with the fact table. At
100 TB the carry generations are pruned by basket lateness: an order
whose last line is older than the ingestion watermark can never gain new
brands, so its rows leave the carry (drop them when writing generation N)
without affecting any future anti-join. The tests exercise the unpruned
form; the pruning predicate is a filter on the carry write, not a design
change.

Read side: ONE fold over the unified counter index (dedup on
kind+key+src_batch, groupBy-sum, bounded |brands|²+|brands|+1 rows →
one collect), then the SAME literal-n_orders IEEE lift tree as the
batch query — pinned equal to it over any batch split in
tests/test_streaming_basket.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sinks.batch import AppendOnlyIndex, IdempotentBatchWriter, has_parquet

# the unified counter index's contract row shape (src_batch is written
# as an INT literal); reads with it never pay footer inference
_COUNTER_SCHEMA = "kind string, ka string, kb string, cnt long, src_batch int"


def basket_ingest_batch(
    spark: SparkSession,
    counters_dir: str,
    carry_dir: str,
    order_col: str = "o",
    brand_col: str = "b",
    compact_every: int | None = None,
):
    """Per-batch body (foreachBatch-shaped): fold the batch's NEW
    (order, brand) pairs into the UNIFIED additive counter index, then
    rewrite the carry generation.

    r16 (r15 verdict #7 — small files, guide §6): the three counter
    partials (pair co-occurrence, brand frequency, order total) share
    one schema ``(kind, ka, kb, cnt, src_batch)`` and land in ONE
    parquet write per micro-batch instead of three — the per-batch sink
    cost halves (2 writes incl. the carry, was 4) and the read side
    folds one index instead of three. Replay semantics are unchanged:
    each batch still owns exactly its ``batch_id=N`` directory, rows
    still carry ``src_batch`` (the identity-semantic discipline), and
    the three logical counters are disjoint by ``kind``."""
    counters = AppendOnlyIndex(
        counters_dir, schema=_COUNTER_SCHEMA, compact_every=compact_every
    )
    carry = IdempotentBatchWriter(carry_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        ob = batch_df.select(
            F.col(order_col).alias("o"), F.col(brand_col).alias("b")
        ).distinct()
        prev_path = f"{carry_dir}/batch_id={batch_id - 1}"
        if batch_id > 0 and has_parquet(prev_path):
            # carry(N−1) was written from a frame with ob's own schema —
            # passing it skips the per-batch footer-inference job
            prev = spark.read.schema(ob.schema).parquet(prev_path).select(
                "o", "b"
            )
        else:
            prev = spark.createDataFrame([], ob.schema).select("o", "b")
        new = ob.join(prev, ["o", "b"], "left_anti").persist()

        def _rows(df: DataFrame, kind: str, ka, kb) -> DataFrame:
            return df.select(
                F.lit(kind).alias("kind"),
                ka.cast("string").alias("ka"),
                kb.cast("string").alias("kb"),
                F.col("cnt"),
            )

        # brand frequency partial: each NEW pair is one (order ∋ brand)
        freq_part = _rows(
            new.groupBy("b").agg(F.count(F.lit(1)).alias("cnt")),
            "f",
            F.col("b"),
            F.lit(""),
        )
        # order-total partial: baskets first sighted in this batch
        orders_part = _rows(
            new.select("o")
            .distinct()
            .join(prev.select("o").distinct(), "o", "left_anti")
            .agg(F.count(F.lit(1)).alias("cnt")),
            "o",
            F.lit(""),
            F.lit(""),
        )
        # pair partial: new×old once (old is never the x side — it isn't
        # in `new`), new×new once via a<b. Keyed on the order, quadratic
        # only in basket WIDTH — the batch query's own bound.
        old_side = prev.select("o", F.col("b").alias("yb")).withColumn(
            "y_new", F.lit(False)
        )
        new_side = new.select("o", F.col("b").alias("yb")).withColumn(
            "y_new", F.lit(True)
        )
        cand = (
            new.select("o", F.col("b").alias("xb"))
            .join(old_side.unionByName(new_side), "o")
            .filter(
                (F.col("xb") != F.col("yb"))
                & (~F.col("y_new") | (F.col("xb") < F.col("yb")))
            )
        )
        pairs_part = _rows(
            cand.select(
                F.least("xb", "yb").alias("brand_a"),
                F.greatest("xb", "yb").alias("brand_b"),
            )
            .groupBy("brand_a", "brand_b")
            .agg(F.count(F.lit(1)).alias("cnt")),
            "p",
            F.col("brand_a"),
            F.col("brand_b"),
        )
        counters.append(
            freq_part.unionByName(orders_part)
            .unionByName(pairs_part)
            .withColumn("src_batch", F.lit(batch_id)),
            batch_id,
        )
        # carry(N) = carry(N−1) ∪ new — rewritten whole per generation so
        # a replayed batch N reads the same N−1 inputs (at 100 TB, add
        # the watermark filter here: orders past basket lateness leave)
        carry(prev.unionByName(new.select("o", "b")), batch_id)
        new.unpersist()

    return process


def _fold_counters(spark: SparkSession, counters_dir: str):
    """ONE fold over the unified counter index → the three local counter
    tables: ({(a, b): n_both}, {b: nb}, n_orders). The fold is bounded
    by |brands|² + |brands| + 1 rows by construction (the batch query's
    own documented bound), so collecting it is the sanctioned post-agg
    scalar move — the read side costs ONE job instead of three
    read+fold round trips."""
    raw = AppendOnlyIndex(counters_dir, schema=_COUNTER_SCHEMA).read(spark)
    rows = (
        raw.dropDuplicates(["kind", "ka", "kb", "src_batch"])
        .groupBy("kind", "ka", "kb")
        .agg(F.sum("cnt").alias("n"))
        .collect()
    )
    pairs: dict[tuple[str, str], int] = {}
    freq: dict[str, int] = {}
    n_orders = 0
    for r in rows:
        if r["kind"] == "p":
            pairs[(r["ka"], r["kb"])] = int(r["n"])
        elif r["kind"] == "f":
            freq[r["ka"]] = int(r["n"])
        else:
            n_orders += int(r["n"])
    return pairs, freq, n_orders


def _lift_ppm(n_both: int, n_orders: int, na: int, nb: int) -> int:
    """The batch query's lift tree in Python doubles — Python floats ARE
    IEEE doubles and every step mirrors the Spark expression exactly:
    cast-to-double per operand (float(x) on a count < 2^53 is exact, and
    the two casts multiply as double×double, never int-product-then-
    cast), same association order, floor at the end."""
    import math

    return int(
        math.floor(
            float(n_both)
            * float(n_orders)
            / (float(na) * float(nb))
            * 1000000.0
            + 0.5
        )
    )


def brand_affinity_live(
    spark: SparkSession, counters_dir: str
) -> DataFrame:
    """The streamed twin of the brand_affinity catalog query: identical
    columns and the identical literal-n_orders IEEE lift tree, computed
    from the folded counter index instead of a fact re-scan. After the
    bounded fold collects (|brands|²+|brands|+1 rows by the batch
    query's own bound), the join is dict lookups and the lift tree is
    the same IEEE double sequence in Python (r16) — the old local-frame
    broadcast joins paid ~1 s of pure scheduling to join 300 rows."""
    pairs_map, freq_map, n_orders = _fold_counters(spark, counters_dir)
    rows = [
        (a, b, n, _lift_ppm(n, n_orders, freq_map[a], freq_map[b]))
        for (a, b), n in sorted(pairs_map.items())
    ]
    return spark.createDataFrame(
        rows, "brand_a string, brand_b string, n_both long, lift_ppm long"
    )


def assoc_rules_live(
    spark: SparkSession, counters_dir: str
) -> DataFrame:
    """Directional association rules (plans/tpch.py:assoc_rules) served
    from the SAME unified counter index brand_affinity_live folds — no
    new ingest state (r11 verdict #6): confidence/support/lift are all
    functions of (pair count, brand frequencies, order total). The
    unordered pair counter (brand_a < brand_b) expands to both
    directions by a union with the swapped projection — n_both is
    direction-independent, only confidence's denominator (the
    antecedent's frequency) differs per direction. Arithmetic is the
    batch query's verbatim: exact integer ppm floor-div for
    confidence/support, the one shared IEEE double tree for lift."""
    pairs_map, freq_map, n_orders = _fold_counters(spark, counters_dir)
    rows = []
    directed = [(a, b, n) for (a, b), n in pairs_map.items()]
    directed += [(b, a, n) for (a, b), n in pairs_map.items()]
    for ant, cons, n_both in sorted(directed):
        na, nc = freq_map[ant], freq_map[cons]
        # integer ppm floor-divs over positive counts — Python // is the
        # same floor division Spark's `div` computes here; a zero
        # n_orders (empty corpus) yields NULL like the old `div 0`
        conf = n_both * 1000000 // na
        support = (
            n_both * 1000000 // n_orders if n_orders > 0 else None
        )
        lift = _lift_ppm(n_both, n_orders, na, nc)
        rows.append(
            (
                ant,
                cons,
                n_both,
                conf,
                support,
                lift,
                bool(conf >= 250000 and lift > 1000000),
            )
        )
    return spark.createDataFrame(
        rows,
        "antecedent string, consequent string, n_both long, "
        "confidence_ppm long, support_ppm long, lift_ppm long, "
        "actionable boolean",
    )
