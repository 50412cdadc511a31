"""Physical-plan regression guards: the scale properties the 100 TB
design depends on, asserted against the actual executed plans so a
refactor can't silently trade them away."""

from __future__ import annotations

import pytest

from sparkstreaming_gmall_scala_spark.plans.catalog import load_all


@pytest.fixture(scope="module")
def registry():
    return load_all()


def _plan(spark, registry, name, sf_dir):
    df = registry[name].builder(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_stratified_sample_is_pure_scan_no_shuffle(spark, sf_dir, registry):
    plan = _plan(spark, registry, "stratified_sample", sf_dir)
    assert "Exchange" not in plan, plan[:2000]
    assert "Scan parquet" in plan or "FileScan parquet" in plan


def test_stratified_sample_filter_reaches_the_scan(spark, sf_dir, registry):
    plan = _plan(spark, registry, "stratified_sample", sf_dir)
    # the md5-threshold predicate must sit in the scan's DataFilters, not
    # in a post-scan Filter over full rows
    scan_lines = [l for l in plan.split("\n") if "Scan parquet" in l or "DataFilters" in l]
    assert any("md5" in l for l in scan_lines), plan[:2000]


def test_asof_join_is_single_shuffle(spark, sf_dir, registry):
    plan = _plan(spark, registry, "asof_last_click", sf_dir)
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"expected 1 shuffle, got {n_exchanges}\n{plan[:2000]}"


def test_order_enrich_broadcasts_small_dims(spark, sf_dir, registry):
    plan = _plan(spark, registry, "order_enrich", sf_dir)
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_tfidf_gets_topk_window_pushdown(spark, sf_dir, registry):
    # rank<=k must run as WindowGroupLimit (partial top-k before the
    # shuffle), not a full sort of every (doc, term) row
    plan = _plan(spark, registry, "tfidf_top_terms", sf_dir)
    assert "WindowGroupLimit" in plan, plan[:2000]


def test_range_join_is_equi_join_not_nested_loop(spark, sf_dir, registry):
    plan = _plan(spark, registry, "orders_next_30d", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_aggregates_are_partial_then_final(spark, sf_dir, registry):
    # map-side combine on the flagship agg: a partial_ aggregate must
    # appear below the exchange
    plan = _plan(spark, registry, "trademark_stat", sf_dir)
    assert "partial_sum" in plan or "partial_count" in plan, plan[:2000]


def test_scans_prune_to_needed_columns(spark, sf_dir, registry):
    """Column pruning must reach the parquet scan: a query touching 3 of
    orders' 6 columns scans exactly those 3 (ReadSchema), not the row."""
    plan = _plan(spark, registry, "order_gaps", sf_dir)
    scan = next(l for l in plan.split("\n") if "Scan parquet" in l and "orders" in l)
    for col in ("o_orderkey", "o_custkey", "o_orderdate"):
        assert col in scan, scan
    for col in ("o_totalprice", "o_orderstatus", "o_orderpriority"):
        assert col not in scan, scan


def test_first_order_state_probe_is_not_forced_broadcast(spark, tmp_path):
    """The first-order state holds every user ever claimed, so it lives in
    the state store: the probe is one StreamingDeduplicate behind a hash
    exchange on user_id, with no Python operator, and the state is never
    joined to the orders or broadcast, whatever its size."""
    from sparkstreaming_gmall_scala_spark.streaming.pipelines import (
        ORDER_INFO_SCHEMA,
        probe_first_order,
    )
    from sparkstreaming_gmall_scala_spark.streaming.sources import file_stream

    flagged = probe_first_order(
        file_stream(spark, str(tmp_path), ORDER_INFO_SCHEMA)
    )
    plan = spark._jvm.PythonSQLUtils.explainString(
        flagged._jdf.queryExecution(), "simple"
    )
    lines = plan.split("\n")
    dedup = [i for i, l in enumerate(lines) if "StreamingDeduplicate [user_id" in l]
    assert len(dedup) == 1, plan[:2000]
    assert "Exchange hashpartitioning(user_id" in lines[dedup[0] + 1], plan[:2000]
    assert "Pandas" not in plan and "Python" not in plan, plan[:2000]
    assert "Join" not in plan and "Broadcast" not in plan, plan[:2000]


def test_decontaminate_broadcasts_the_eval_shingle_set(spark, sf_dir, registry):
    # the eval side is tiny by definition; the corpus scan must not
    # shuffle on shingle content to meet it
    plan = _plan(spark, registry, "decontaminate", sf_dir)
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_doc_repetition_aggregates_partially(spark, sf_dir, registry):
    # the (doc, gram) mode count must combine map-side before shuffling
    plan = _plan(spark, registry, "doc_repetition", sf_dir)
    assert "partial_count" in plan or "partial_max" in plan, plan[:2000]


def test_domain_mix_is_pure_scan_no_shuffle(spark, sf_dir, registry):
    # the mixing filter must be a literal CASE evaluated scan-side: the
    # only job over the data path has no exchange and the md5 predicate
    # sits in the scan's DataFilters (the counts agg is a separate tiny
    # pre-pass, not part of this plan)
    plan = _plan(spark, registry, "domain_mix", sf_dir)
    assert "Exchange" not in plan, plan[:2000]
    scan_lines = [
        l for l in plan.split("\n") if "Scan parquet" in l or "DataFilters" in l
    ]
    assert any("md5" in l for l in scan_lines), plan[:2000]


def test_boilerplate_ngrams_df_is_partial_agg_not_window(spark, sf_dir, registry):
    # document frequency must be a partial-aggregated groupBy(shingle)
    # joined back (hot shingles compress map-side; the skewed probe join
    # is AQE-splittable) — NOT a count window over partitionBy(shingle),
    # which would ship every occurrence of a hot boilerplate shingle to
    # one unsplittable window task at corpus scale
    plan = _plan(spark, registry, "boilerplate_ngrams", sf_dir)
    assert "partial_count" in plan, plan[:3000]
    assert "Window" not in plan, plan[:3000]
    assert "Join" in plan, plan[:3000]


def _no_autobroadcast(spark):
    class Ctx:
        def __enter__(self):
            self.old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        def __exit__(self, *a):
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", self.old)

    return Ctx()


def test_fingerprint_probe_never_shuffles_the_index(spark):
    """Streaming corpus ingest probes a fingerprint index that grows with
    the corpus; the probe must broadcast the (batch-bounded) fingerprint
    set and leave the index as a scan — a left join that shuffles `seen`
    every micro-batch would be O(corpus) per batch. Asserted with
    auto-broadcast disabled so only the explicit hints can produce the
    broadcast."""
    from sparkstreaming_gmall_scala_spark.streaming.corpus import (
        probe_fingerprints,
    )

    fps = spark.range(10).selectExpr(
        "md5(CAST(id AS STRING)) AS fp", "id AS doc_id", "'t' AS masked_text"
    )
    seen = spark.range(100000).selectExpr(
        "md5(CAST(id + 5 AS STRING)) AS fp", "id + 5 AS keeper"
    )
    with _no_autobroadcast(spark):
        plan = (
            probe_fingerprints(fps, seen)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "Exchange hashpartitioning" not in plan, plan[:3000]


def test_band_probe_never_shuffles_the_index(spark):
    """Same property for the LSH band probe: the batch's bands broadcast;
    the persisted band universe contributes a scan, never an exchange."""
    from sparkstreaming_gmall_scala_spark.streaming.dedup import band_probe

    new = spark.range(5).selectExpr(
        "id AS doc_id", "CAST(id % 2 AS INT) AS band_idx",
        "md5(CAST(id AS STRING)) AS band_hash",
    )
    universe = spark.range(100000).selectExpr(
        "id AS doc_id", "CAST(id % 2 AS INT) AS band_idx",
        "md5(CAST(id % 997 AS STRING)) AS band_hash",
    )
    with _no_autobroadcast(spark):
        plan = (
            band_probe(new, universe)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    assert "BroadcastHashJoin" in plan, plan[:3000]
    # the pair distinct aggregates AFTER the join — the only exchange
    # allowed is on the (id_a, id_b) output, never on the universe scan
    pre_join = plan.split("BroadcastHashJoin", 1)[1]
    assert "Exchange hashpartitioning" not in pre_join, plan[:3000]


def test_corpus_curate_mix_filter_reaches_scan_no_cartesian(spark, sf_dir, registry):
    # the composed curation recipe is a doc_id join tree; the domain-mix
    # hash predicate must still push into its scan, and no stage may
    # degenerate into a cartesian/nested-loop join
    plan = _plan(spark, registry, "corpus_curate", sf_dir)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    scan_lines = [
        l for l in plan.split("\n") if "Scan parquet" in l or "DataFilters" in l
    ]
    assert any("md5" in l for l in scan_lines), plan[:3000]


def test_hourly_rollup_is_single_partial_agg_shuffle(spark, sf_dir, registry):
    # the W3 rollup must be one hash exchange on (window, type) with
    # map-side partial aggregation below it — the mergeable-rollup shape
    plan = _plan(spark, registry, "hourly_event_rollup", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]
    assert "partial_count" in plan or "partial_sum" in plan, plan[:3000]


def test_pq_codes_scan_shuffle_free_and_rerank_broadcasts(spark, sf_dir, registry):
    """PQ ADC scan (r6): the codes table must flow into MapInPandas with
    no exchange under it (the compressed corpus never shuffles), and the
    rerank stage must broadcast the shortlist into the raw-vector join —
    the corpus side of the refine read stays a scan."""

    def walk(node):
        name = node.nodeName()
        yield node
        if name == "AdaptiveSparkPlan":
            yield from walk(node.executedPlan())
            return
        if name.endswith("QueryStage"):
            yield from walk(node.plan())
            return
        if name.startswith("ReusedExchange"):
            yield from walk(node.child())
            return
        ch = node.children()
        for i in range(ch.size()):
            yield from walk(ch.apply(i))

    df = registry["knn_pq_persisted"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan()
    nodes = list(walk(plan))
    mips = [n for n in nodes if n.nodeName() == "MapInPandas"]
    assert mips, [n.nodeName() for n in nodes][:30]
    for mip in mips:
        under = list(walk(mip))[1:]
        assert not any(
            "Exchange" in n.nodeName() for n in under
        ), [n.nodeName() for n in under]
    assert any(
        n.nodeName() == "BroadcastHashJoin" for n in nodes
    ), [n.nodeName() for n in nodes][:40]


def test_q3_q10_broadcast_dims_and_pushed_filters(spark, sf_dir, registry):
    """The TPC-H Q3/Q10 shapes: dims broadcast (fact side never shuffles
    for the joins) and every selective predicate reaches its scan."""
    plan = _plan(spark, registry, "shipping_priority", sf_dir)
    assert "BroadcastHashJoin" in plan, plan[:2000]
    scans = [l for l in plan.split("\n") if "Scan parquet" in l]
    assert any("mktsegment" in l for l in scans), plan[:2000]
    assert any("l_shipdate" in l and "PushedFilters" in l for l in scans)

    plan = _plan(spark, registry, "returned_item_report", sf_dir)
    assert "BroadcastHashJoin" in plan, plan[:2000]
    scans = [l for l in plan.split("\n") if "Scan parquet" in l]
    assert any("l_returnflag" in l and "PushedFilters" in l for l in scans)
    assert any("o_orderdate" in l for l in scans)


def test_winnowing_shuffles_only_on_doc_key(spark, sf_dir, registry):
    """winnow_fingerprints: the only exchanges are the per-doc window
    partitioning and the final distinct — no corpus-wide key beyond
    doc_id before the fingerprint-density-bounded distinct."""
    plan = _plan(spark, registry, "winnow_fingerprints", sf_dir)
    n = plan.count("Exchange hashpartitioning")
    assert n <= 2, f"expected <=2 shuffles, got {n}\n{plan[:2000]}"


def test_vocab_and_bpe_sorts_are_limit_capped(spark, sf_dir, registry):
    """The tokenizer tables' global sorts must be TakeOrderedAndProject
    (top-N before any global sort materializes), not a full Sort."""
    for name in ("vocab_top_tokens", "bpe_pairs"):
        plan = _plan(spark, registry, name, sf_dir)
        assert "TakeOrderedAndProject" in plan, f"{name}\n{plan[:2000]}"


def test_sq8_probe_is_single_scan_per_side_no_python(spark, sf_dir, registry):
    """knn_sq8: zero Python workers anywhere in the plan (the SQ8 claim),
    and the codes side is scanned without a pre-join shuffle."""
    plan = _plan(spark, registry, "knn_sq8", sf_dir)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, marker


def test_tpch_semi_anti_shapes_stay_joins_not_scans(spark, sf_dir, registry):
    """Q4's EXISTS must be a LEFT SEMI join (one emission per order, the
    date residual inside the join) and Q22's NOT EXISTS a LEFT ANTI —
    with both selective date predicates pushed to their scans."""
    plan = _plan(spark, registry, "late_order_priority", sf_dir)
    assert "LeftSemi" in plan, plan[:2000]
    scans = [l for l in plan.split("\n") if "Scan parquet" in l]
    assert any("o_orderdate" in l and "PushedFilters" in l for l in scans)

    plan = _plan(spark, registry, "sales_opportunity", sf_dir)
    assert "LeftAnti" in plan, plan[:2000]
    # the anti-probe side reads only the pruned (custkey, date) columns
    order_scans = [l for l in plan.split("\n") if "Scan parquet" in l and "orders" in l]
    assert order_scans and all("o_totalprice" not in l for l in order_scans)


def test_tpch_ratio_aggs_are_one_pass(spark, sf_dir, registry):
    """Q8/Q14: the conditional numerator and the total share ONE
    aggregation over one fact scan — a ratio computed as two aggregates
    joined back would double the 100 TB read."""
    for name in ("market_share", "promo_revenue"):
        plan = _plan(spark, registry, name, sf_dir)
        li_scans = [
            l for l in plan.split("\n")
            if "Scan parquet" in l and "lineitem" in l
        ]
        assert len(li_scans) == 1, f"{name}: {len(li_scans)} lineitem scans"
        assert "BroadcastHashJoin" in plan, name


def test_tpch_correlated_rewrites_are_single_fact_scan(spark, sf_dir, registry):
    """Q17's correlated avg runs as a window over the part-filtered join
    and Q21's double correlation as one per-order aggregation — each one
    lineitem scan where the textbook plans take two and three."""
    plan = _plan(spark, registry, "small_qty_revenue", sf_dir)
    li_scans = [
        l for l in plan.split("\n") if "Scan parquet" in l and "lineitem" in l
    ]
    assert len(li_scans) == 1, f"small_qty_revenue: {len(li_scans)}"
    assert "Window" in plan

    plan = _plan(spark, registry, "waiting_suppliers", sf_dir)
    li_scans = [
        l for l in plan.split("\n") if "Scan parquet" in l and "lineitem" in l
    ]
    assert len(li_scans) == 1, f"waiting_suppliers: {len(li_scans)}"
    # orders' status filter prunes the fact join's build side at the scan
    scans = [l for l in plan.split("\n") if "Scan parquet" in l]
    assert any("o_orderstatus" in l and "PushedFilters" in l for l in scans)


def test_tpch_top_supplier_caches_the_aggregate_no_window(spark, sf_dir, registry):
    """Q15: the per-supplier aggregate must come from the persisted
    frame (InMemoryTableScan) for both the scalar max and the equality
    probe — never an unpartitioned Window, never a recomputed fact
    lineage per consumer."""
    plan = _plan(spark, registry, "top_supplier", sf_dir)
    assert "InMemoryTableScan" in plan, plan[:2000]
    assert "Window" not in plan


def test_tpch_disjunctive_predicate_stays_single_pass(spark, sf_dir, registry):
    """Q19: the OR-of-conjunctions evaluates inside ONE broadcast join
    over one lineitem scan — not the three-unioned-scans hand-rewrite."""
    plan = _plan(spark, registry, "disjunctive_revenue", sf_dir)
    li_scans = [
        l for l in plan.split("\n") if "Scan parquet" in l and "lineitem" in l
    ]
    assert len(li_scans) == 1
    assert "Union" not in plan
    assert "BroadcastHashJoin" in plan


def test_tpch_q13_outer_join_survives(spark, sf_dir, registry):
    """Q13: the priority filter rides the JOIN CONDITION — the plan must
    keep LeftOuter (a WHERE would quietly make it inner and drop the
    0-order customers the report exists to count)."""
    plan = _plan(spark, registry, "customer_distribution", sf_dir)
    assert "LeftOuter" in plan, plan[:2000]


def test_expectations_check_is_one_scan(spark, sf_dir, registry):
    """Five audit rules must fold into one orders scan + one aggregation
    — the naive scan-per-rule UNION would read the fact five times."""
    plan = _plan(spark, registry, "expectations_check", sf_dir)
    scans = [l for l in plan.split("\n") if "Scan parquet" in l]
    assert len(scans) == 1, f"{len(scans)} scans\n{plan[:2000]}"


def test_fk_orphans_shares_the_fact_scan(spark, sf_dir, registry):
    """The three lineitem FK edges attach as joins to ONE fact scan (the
    NOT-EXISTS-per-edge formulation would rescan it three times); the
    dim key sets broadcast."""
    plan = _plan(spark, registry, "fk_orphans", sf_dir)
    li_scans = [
        l for l in plan.split("\n")
        if "Scan parquet" in l and "lineitem" in l
    ]
    # one audit scan + one scan feeding the childless check's key set
    assert len(li_scans) == 2, f"{len(li_scans)} lineitem scans"
    assert "BroadcastHashJoin" in plan


def test_sample_k_gets_window_group_limit(spark, sf_dir, registry):
    """events_sample_k: rank ≤ k must run as WindowGroupLimit (partial
    top-k per partition before the stratum exchange) — a hot stratum
    never fully sorts."""
    plan = _plan(spark, registry, "events_sample_k", sf_dir)
    assert "WindowGroupLimit" in plan, plan[:2000]


def test_value_outliers_two_scans_broadcast_moments(spark, sf_dir, registry):
    """value_outliers: one scan builds the per-type decimal moments
    (handful of rows, broadcast back), one scan applies the threshold —
    never a per-row correlated recompute, never a shuffle of the fact
    for the join."""
    plan = _plan(spark, registry, "value_outliers", sf_dir)
    ev_scans = [
        l for l in plan.split("\n") if "Scan parquet" in l and "events" in l
    ]
    assert len(ev_scans) == 2, f"{len(ev_scans)} events scans"
    assert "BroadcastHashJoin" in plan


def test_chi2_marginals_are_windows_no_join_no_cache(spark, sf_dir, registry):
    # r10: the marginals + grand total are WINDOW sums over the ~144-row
    # contingency aggregate — a single consumer of the fact scan, so the
    # plan has NO join of the cell table against itself and NO persisted
    # frame to leak across the session (round-9 advice)
    plan = _plan(spark, registry, "type_hour_chi2", sf_dir)
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "BroadcastHashJoin" not in plan, plan[:2000]
    assert "InMemoryRelation" not in plan, plan[:2000]
    assert "Window" in plan, plan[:2000]


def test_event_transitions_single_consumer_no_cache(spark, sf_dir, registry):
    # one user-partition exchange feeds the lead(); the from-marginal is
    # a window sum over the |types|²-row aggregate (r10) — no join, no
    # persisted frame to leak, no cartesian
    plan = _plan(spark, registry, "event_transitions", sf_dir)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "BroadcastHashJoin" not in plan, plan[:2000]
    assert "InMemoryRelation" not in plan, plan[:2000]


def test_daily_corr_grid_is_generated_not_cartesian(spark, sf_dir, registry):
    # the 24-hour grid explodes from the distinct-day list executor-side;
    # a days × hours cartesian (BroadcastNestedLoopJoin) would also pass
    # correctness — guard the plan
    plan = _plan(spark, registry, "daily_value_corr", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate explode" in plan or "Generate" in plan, plan[:2000]


def test_bm25_top_n_is_take_ordered(spark, sf_dir):
    # the registered query materializes the bounded top-n in one action
    # (round-9 advice: unpersist before return), so the heavy plan is
    # inspected via the operator's materialize=False path
    from sparkstreaming_gmall_scala_spark.operators.textstats import bm25_rank
    from sparkstreaming_gmall_scala_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    df = bm25_rank(
        docs, "doc_id", "text", ("spark", "data"), top_n=10,
        materialize=False,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_key_size_profile_no_global_rank_of_sizes(spark, sf_dir):
    # r10 (r9 verdict #1): the skew diagnostic must never rank the
    # key-cardinality sizes table under an unpartitioned window. The
    # histogram prefix-sum pipeline's ONLY SinglePartition exchange sits
    # above the <=64-row bucket-totals aggregate (the concurrency_sweep
    # carry pattern); the histogram's own cum window is partitioned by
    # the log2 bucket, and no row_number appears anywhere.
    from sparkstreaming_gmall_scala_spark.operators.skew import (
        size_histogram_cum,
    )
    from sparkstreaming_gmall_scala_spark.sources import load_table
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    hist = (
        li.groupBy(F.col("l_suppkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    plan = size_histogram_cum(hist)._jdf.queryExecution().executedPlan().toString()
    assert "row_number" not in plan, plan[:2000]
    assert plan.count("Exchange SinglePartition") == 1, plan[:2000]
    # the SinglePartition exchange feeds the carry window, directly above
    # the bucket-totals HashAggregate — not the histogram
    below = plan.split("Exchange SinglePartition", 1)[1]
    assert "HashAggregate(keys=[_b" in below.split("Exchange", 1)[0], plan[:3000]
    # the cum window is partitioned by the bucket
    assert "windowspecdefinition(_b" in plan, plan[:2000]


# ---------------------------------------------------------------------------
# r11 (r10 verdict #2): no pinned broadcast hint on sf-scaled data.
# ---------------------------------------------------------------------------

# First column of each sf-scaled table's parquet scan — a Relation line
# mentioning one of these IS a scan that grows with the fact data.
_SCALED_SCAN_MARKERS = (
    "l_orderkey#",   # lineitem
    "o_orderkey#",   # orders
    "c_custkey#",    # customer
    "p_partkey#",    # part
    "s_suppkey#",    # supplier
    "event_id#",     # events
    "doc_id#",       # documents
    "vec_id#",       # embeddings
)
# Logical nodes that bound the cardinality of everything above them:
# aggregates collapse to the (bounded) group domain, limits are explicit,
# Deduplicate = distinct over a bounded domain. Window is deliberately
# NOT here (r11 ADVICE): a Window is row-preserving — the bounding in the
# top-k pattern happens in the rank Filter / WindowGroupLimit ABOVE it,
# which the ancestor walk sees on its own; listing Window would sanction
# a pinned broadcast over any windowed projection of a scaled scan.
_BOUNDING_NODES = ("Aggregate", "GlobalLimit", "LocalLimit", "Deduplicate")


def _tree_depths(plan_str):
    out = []
    for ln in plan_str.split("\n"):
        i = 0
        while i < len(ln) and ln[i] in " :+-":
            i += 1
        out.append((i, ln[i:]))
    return out


def offending_broadcast_hints(plan_str):
    """Return scaled-scan Relation lines sitting under a ResolvedHint
    (strategy=broadcast) with NO cardinality-bounding ancestor between the
    hint and the scan. Those are plans a 100 TB run cannot execute: the
    hint overrides autoBroadcastJoinThreshold and pins an OOM broadcast."""
    nodes = _tree_depths(plan_str)
    bad = []
    for i, (d, txt) in enumerate(nodes):
        if not (txt.startswith("ResolvedHint") and "broadcast" in txt):
            continue
        # subtree = following lines strictly deeper than the hint
        j = i + 1
        while j < len(nodes) and nodes[j][0] > d:
            dj, tj = nodes[j]
            if tj.startswith("Relation") and any(
                m in tj for m in _SCALED_SCAN_MARKERS
            ):
                # ancestor walk from the scan back up to the hint
                guarded = False
                mind = dj
                for k in range(j - 1, i, -1):
                    dk, tk = nodes[k]
                    if dk < mind:
                        mind = dk
                        if tk.startswith(_BOUNDING_NODES):
                            guarded = True
                            break
                if not guarded:
                    bad.append(tj[:120])
            j += 1
    return bad


def test_hint_detector_catches_a_pinned_broadcast(spark, sf_dir):
    """Self-test: the detector must flag a raw F.broadcast(part) and must
    sanction a broadcast of a bounded per-brand aggregate."""
    from pyspark.sql import functions as F

    from sparkstreaming_gmall_scala_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    bad = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    plan = bad._jdf.queryExecution().analyzed().toString()
    assert offending_broadcast_hints(plan), plan
    agg = part.groupBy("p_brand").count()
    ok = li.join(
        F.broadcast(agg.withColumnRenamed("p_brand", "b")),
        li.l_partkey == F.col("count"),
    )
    plan = ok._jdf.queryExecution().analyzed().toString()
    assert not offending_broadcast_hints(plan), plan


def test_no_broadcast_hint_on_scaled_scan(spark, sf_dir, registry):
    """Every registered query: no pinned broadcast of sf-scaled data.

    At bench SF the planner broadcasts those sides anyway from their
    ACTUAL runtime size (autoBroadcastJoinThreshold + AQE); a pinned hint
    adds nothing locally and pins an executor-OOM plan at the 100 TB
    north star, where customer alone is ~2.5 TB (see functions/hints.py
    and the scaled_dim markers at the former hint sites)."""
    # The ANN family broadcasts its QUERY SET — a fixed-ID-range slice of
    # embeddings (vec_id < 10: <=10 rows at EVERY sf, scale-independent by
    # construction). A plan-only detector can't tell that filter from one
    # whose selectivity scales, so those queries may carry an offense ONLY
    # on the embeddings relation; a hint on any other scaled table inside
    # them still fails.
    query_set_ok = {
        n for n in registry if n.startswith("knn_") or n == "hard_negatives"
    }
    # the hybrid retrievers' dense side is the same fixed-ID query slice
    # (vec_id = 0: exactly one row at EVERY sf) through brute_force_topk
    query_set_ok |= {"hybrid_search_rrf", "hybrid_search_rrf_live"}
    failures = {}

    def check(item):
        name, q = item
        try:
            df = q.builder(spark, sf_dir)
        except Exception as e:  # builder bugs are other tests' business
            return name, f"builder raised: {e}"
        plan = df._jdf.queryExecution().analyzed().toString()
        bad = offending_broadcast_hints(plan)
        if name in query_set_ok:
            bad = [b for b in bad if "vec_id#" not in b]
        return name, bad

    # Builders that ensure a persisted /tmp index/mart/table (marker-
    # guarded rmtree+write) must not race each other, so they run
    # serially; every other builder is side-effect-free and the sweep
    # runs them from a small thread pool (guide §2.6 — Spark schedules
    # concurrent jobs fine; this test was the suite's single slowest
    # item at ~2 min of sequential driver-side builds).
    def _writes_tmp(name, q):
        side_tags = {
            "streaming", "streaming-analog", "layout", "events",
            "persisted", "calibration", "sketch", "search",
        }
        side_names = (
            "persisted", "_live", "_stream", "bucketed", "events_",
            "dup_communities", "dup_pagerank", "knn_ivf_probe6", "hybrid",
        )
        return bool(side_tags & set(q.tags)) or any(
            s in name for s in side_names
        )

    # Two side-effecting builders race only when they ensure the SAME
    # /tmp index dir — group by that shared-index family and run each
    # family's members sequentially inside one pool task, families
    # concurrently.
    def _family(name: str) -> str:
        for key, fam in (
            (("knn_", "hybrid"), "ann-indexes"),
            (("dup_",), "lshpairs"),
            (("bucketed",), "bucketed-tables"),
            (("events_",), "events-dt"),
            (("brand_affinity_stream", "assoc_rules_live"), "basketidx"),
            (("calibrated_quality", "corpus_curate_calibrated"), "calib"),
            (("kmv",), "kmv"),
            (("spc",), "spc"),
            (("ewma", "holt"), "nationdaily"),
            (("bm25", "search"), "bm25"),
            (("spectral",), "gramidx"),
        ):
            if any(k in name for k in key):
                return fam
        return name  # no shared dir: its own singleton family

    from collections import defaultdict
    from concurrent.futures import ThreadPoolExecutor

    families: dict[str, list] = defaultdict(list)
    pooled = []
    for n, q in sorted(registry.items()):
        if _writes_tmp(n, q):
            families[_family(n)].append((n, q))
        else:
            pooled.append((n, q))

    def check_chain(items):
        return [check(it) for it in items]

    with ThreadPoolExecutor(max_workers=4) as pool:
        chains = [pool.submit(check_chain, fam) for fam in families.values()]
        for name, bad in pool.map(check, pooled):
            if bad:
                failures[name] = bad
        for ch in chains:
            for name, bad in ch.result():
                if bad:
                    failures[name] = bad
    assert not failures, failures


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    """bucketed_customer_orders' claim is physical: with auto-broadcast
    disabled (the 100 TB situation — a ~2.5 TB customer side cannot
    broadcast), the sort-merge join over the bucketed tables must read
    matching buckets directly. The ONLY exchange in the executed plan is
    the post-join group-by; the join subtree has none."""
    from sparkstreaming_gmall_scala_spark.plans.scale import (
        _bucketed_tables,
    )

    tbl_o, tbl_c = _bucketed_tables(spark, sf_dir)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        ob, cb = spark.table(tbl_o), spark.table(tbl_c)
        j = ob.join(cb, ob["o_custkey"] == cb["c_custkey"]).groupBy(
            cb["c_nationkey"]
        ).count()
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan, plan[:2000]
    # exactly one exchange: the c_nationkey aggregation ABOVE the join
    assert plan.count("Exchange") == 1, plan[:3000]
    join_subtree = plan.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in join_subtree, join_subtree[:2000]
    # and the scans really are bucket-pruned reads of the bucketed files
    assert "Bucketed: true" in plan or "SelectedBucketsCount" in plan, (
        plan[:3000]
    )
