"""Similarity-search semantics: brute-force exactness, LSH recall,
centroid determinism."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from sparkstreaming_gmall_scala_spark.operators.similarity import (
    brute_force_topk,
    bucketed_topk,
    hyperplane_bucket,
    label_centroids,
)
from sparkstreaming_gmall_scala_spark.sources import load_table

_PLANES8 = [[math.sin(1 + i * 64 + d) for d in range(64)] for i in range(8)]


def test_bruteforce_topk_matches_numpy(spark, sf_dir):
    import numpy as np

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 3)
    out = brute_force_topk(e, queries, "vec_id", "embedding", k=5).collect()

    rows = e.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, neigh in by_q.items():
        qvec = unit[ids == qid][0]
        scores = unit @ qvec
        # same rounding + tiebreak as the operator
        cand = sorted(
            ((math.floor(s * 1e6 + 0.5) / 1e6, i) for s, i in zip(scores, ids) if i != qid),
            key=lambda t: (-t[0], t[1]),
        )[:5]
        got = [(r["score"], r["neighbor_id"]) for r in sorted(neigh, key=lambda r: r["rank"])]
        assert got == cand, f"query {qid}"


def test_lsh_recall_reasonable(spark, sf_dir):
    """Single-probe 8-plane LSH: recall vs brute force must clear a floor
    (it's approximate; on the synthetic clustered embeddings same-bucket
    rate for true neighbors is high)."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(e, queries, "vec_id", "embedding", k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in bucketed_topk(e, queries, "vec_id", "embedding", _PLANES8, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"recall {recall:.2f}"


def test_ivf_recall_reasonable(spark, sf_dir):
    """IVF (8 cells, nprobe=3): recall vs brute force must clear a floor;
    probing 3/8 cells bounds the candidate space the way the 100 TB path
    would."""
    from sparkstreaming_gmall_scala_spark.operators.similarity import (
        ivf_topk,
        kmeans_centroids,
    )

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    centroids = kmeans_centroids(e, "embedding", k=8, iters=2)
    assert len(centroids) == 8 and all(len(c) == 64 for c in centroids)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(e, queries, "vec_id", "embedding", k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(
            e, queries, "vec_id", "embedding", centroids, k=5, nprobe=3
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"recall {recall:.2f}"


def test_ivf_multiprobe_monotone_and_entry_shape(spark, sf_dir):
    """The r15 multi-probe knob: recall is MONOTONE in nprobe (probing a
    superset of cells can only add candidates — rank-stable scoring
    keeps every previously-found true neighbor), and the knn_ivf_probe6
    catalog entry returns the standard top-5 frame off the shared
    persisted index."""
    from sparkstreaming_gmall_scala_spark.plans.catalog import load_all

    reg = load_all()
    truth: dict[int, set[int]] = {}
    for r in reg["knn_bruteforce"].builder(spark, sf_dir).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(name):
        got: dict[int, set[int]] = {}
        for r in reg[name].builder(spark, sf_dir).collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
        return hits / sum(len(v) for v in truth.values()), got

    r3, _ = recall("knn_ivf_persisted")
    r6, got6 = recall("knn_ivf_probe6")
    assert r6 >= r3, (r6, r3)
    assert set(map(len, got6.values())) == {5}  # full top-5 per query


def test_near_dup_lsh_subset_of_exact(spark, sf_dir):
    """The LSH-bounded near-dup variant must emit a SUBSET of the exact
    pairs (identical scores on the pairs it finds) with recall above a
    floor — candidates are pruned, never invented."""
    from sparkstreaming_gmall_scala_spark.operators.similarity import (
        cosine_near_dup_pairs,
    )

    e = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r["id_a"], r["id_b"]): r["score"]
        for r in cosine_near_dup_pairs(
            e, "vec_id", "embedding", threshold=0.2, dim=64
        ).collect()
    }
    approx = {
        (r["id_a"], r["id_b"]): r["score"]
        for r in cosine_near_dup_pairs(
            e, "vec_id", "embedding", threshold=0.2, planes=_PLANES8, dim=64
        ).collect()
    }
    assert set(approx) <= set(exact)
    for pair, score in approx.items():
        assert score == exact[pair]
    if exact:
        assert len(approx) / len(exact) >= 0.3


def test_near_dup_vectorized_matches_exact(spark, sf_dir):
    """The numpy-matmul variant must find the same pair set as the exact
    fold form; scores may differ only in the last ulp (different float
    summation order), so boundary pairs within 1e-6 of τ are excused."""
    from sparkstreaming_gmall_scala_spark.operators.similarity import (
        cosine_near_dup_pairs,
        cosine_near_dup_vectorized,
    )

    tau = 0.2
    e = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r["id_a"], r["id_b"]): r["score"]
        for r in cosine_near_dup_pairs(e, "vec_id", "embedding", tau, dim=64).collect()
    }
    vec = {
        (r["id_a"], r["id_b"]): r["score"]
        for r in cosine_near_dup_vectorized(e, "vec_id", "embedding", tau).collect()
    }
    for pair in set(exact) ^ set(vec):
        score = exact.get(pair, vec.get(pair))
        assert abs(score - tau) <= 1e-6, f"{pair} score {score} missing"
    for pair in set(exact) & set(vec):
        assert abs(exact[pair] - vec[pair]) <= 1e-6


def test_fixed_dim_scores_match_hof_fold(spark, sf_dir):
    """dim=64 codegen fast path must be bit-identical to the HOF fold —
    same left-to-right IEEE-double operation order."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 3)
    slow = brute_force_topk(e, q, "vec_id", "embedding", k=5).collect()
    fast = brute_force_topk(e, q, "vec_id", "embedding", k=5, dim=64).collect()
    assert sorted(((r["query_id"], r["rank"], r["neighbor_id"], r["score"]) for r in slow)) == \
        sorted(((r["query_id"], r["rank"], r["neighbor_id"], r["score"]) for r in fast))


def test_hyperplane_bucket_deterministic_and_bounded(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings").limit(50)
    b1 = {r["vec_id"]: r["bucket"] for r in
          hyperplane_bucket(e.select("vec_id", F.col("embedding").alias("v")), "v", _PLANES8).collect()}
    b2 = {r["vec_id"]: r["bucket"] for r in
          hyperplane_bucket(e.select("vec_id", F.col("embedding").alias("v")), "v", _PLANES8).collect()}
    assert b1 == b2
    assert all(0 <= v < 256 for v in b1.values())


def test_label_centroids_deterministic_across_partitionings(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    a = {r["label"]: r["centroid"] for r in label_centroids(e, "label", "embedding").collect()}
    b = {
        r["label"]: r["centroid"]
        for r in label_centroids(e.repartition(13), "label", "embedding").collect()
    }
    assert a == b
    dim = len(next(iter(a.values())))
    assert all(len(c) == dim for c in a.values())


def test_probe_persisted_buckets_identical_to_in_memory(spark, sf_dir, tmp_path):
    """bucketize_corpus + probe_topk must return EXACTLY the in-memory
    bucketed_topk result (same planes, same scoring) — the persisted path
    is a materialization, not an approximation of the approximation."""
    from sparkstreaming_gmall_scala_spark.operators.similarity import (
        bucketize_corpus,
        probe_topk,
    )

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    bucket_dir = str(tmp_path / "buckets")
    bucketize_corpus(
        e, "vec_id", "embedding", _PLANES8, bucket_dir, bands=4, dim=64
    )
    in_mem = {
        (r["query_id"], r["neighbor_id"], r["rank"], r["score"])
        for r in bucketed_topk(
            e, queries, "vec_id", "embedding", _PLANES8, k=5, bands=4, dim=64
        ).collect()
    }
    persisted_df = probe_topk(
        queries, bucket_dir, "vec_id", "embedding", _PLANES8, k=5, bands=4, dim=64
    )
    persisted = {
        (r["query_id"], r["neighbor_id"], r["rank"], r["score"])
        for r in persisted_df.collect()
    }
    assert persisted == in_mem
    # the probe plan must scan the partitioned layout (pruning-eligible),
    # not a flat rebucketing of the corpus
    plan = persisted_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "dynamicpruning" in plan.lower(), plan[:2000]


def test_ivf_probe_persisted_identical_to_in_memory(spark, sf_dir, tmp_path):
    """ivf_build + ivf_probe must return EXACTLY the in-memory ivf_topk
    result (same centroids, same scoring), and the probe plan must scan
    the cell-partitioned layout pruning-eligibly."""
    from sparkstreaming_gmall_scala_spark.operators.similarity import (
        ivf_build,
        ivf_probe,
        ivf_topk,
        kmeans_centroids,
    )

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    centroids = kmeans_centroids(e, "embedding", k=4, iters=2)
    cell_dir = str(tmp_path / "cells")
    ivf_build(e, "vec_id", "embedding", centroids, cell_dir, dim=64)
    in_mem = {
        (r["query_id"], r["neighbor_id"], r["rank"], r["score"])
        for r in ivf_topk(
            e, queries, "vec_id", "embedding", centroids, k=5, nprobe=2, dim=64
        ).collect()
    }
    probed_df = ivf_probe(
        queries, cell_dir, "vec_id", "embedding", centroids, k=5, nprobe=2, dim=64
    )
    probed = {
        (r["query_id"], r["neighbor_id"], r["rank"], r["score"])
        for r in probed_df.collect()
    }
    assert probed == in_mem and len(probed) > 0
    plan = probed_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "dynamicpruning" in plan.lower(), plan[:2000]


def test_persisted_index_rebuilds_when_corpus_changes(spark, tmp_path):
    """The /tmp index cache keys on a data fingerprint: regenerating the
    corpus at the SAME path must produce a DIFFERENT cache dir and results
    that reflect the new vectors — never a stale index."""
    import os
    import shutil

    from sparkstreaming_gmall_scala_spark.plans.catalog import load_all
    from sparkstreaming_gmall_scala_spark.sources.tables import _data_fingerprint

    src = "/root/testdata/sf0.001"
    sf_dir = str(tmp_path / "sfX")
    os.makedirs(sf_dir)
    emb = os.path.join(src, "embeddings.parquet")
    dst = os.path.join(sf_dir, "embeddings.parquet")
    (shutil.copytree if os.path.isdir(emb) else shutil.copy)(emb, dst)

    registry = load_all()
    fp1 = _data_fingerprint(sf_dir, "embeddings")
    run1 = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in registry["knn_lsh_persisted"].builder(spark, sf_dir).collect()
    }

    # "regenerate" the corpus at the same path: drop the top half of the
    # vec_ids, so any neighbor from that half proves a stale index
    kept = spark.read.parquet(dst)
    max_id = kept.agg(F.max("vec_id")).first()[0]
    cut = max_id // 2
    reduced = kept.filter(F.col("vec_id") <= cut)
    tmp_out = str(tmp_path / "reduced")
    reduced.write.parquet(tmp_out)
    shutil.rmtree(dst) if os.path.isdir(dst) else os.remove(dst)
    shutil.move(tmp_out, dst)

    fp2 = _data_fingerprint(sf_dir, "embeddings")
    assert fp1 != fp2
    run2 = registry["knn_lsh_persisted"].builder(spark, sf_dir).collect()
    assert run2, "probe returned nothing after corpus change"
    assert all(r["neighbor_id"] <= cut for r in run2), (
        "stale index served a deleted vector"
    )
    assert run1  # both runs produced neighbors


def test_pq_codebooks_deterministic_and_shaped(spark, sf_dir):
    """pq_train: identical codebooks on repeated runs (no RNG anywhere);
    shape (m, ksub, dsub) with dsub = dim/m."""
    from sparkstreaming_gmall_scala_spark.operators.pq import pq_train

    e = load_table(spark, sf_dir, "embeddings")
    a = pq_train(e, "embedding", m=8, ksub=16, sample_n=512, iters=4)
    b = pq_train(e, "embedding", m=8, ksub=16, sample_n=512, iters=4)
    assert a == b
    assert len(a) == 8 and all(len(s) == 16 for s in a)
    assert all(len(c) == 8 for s in a for c in s)


def test_pq_codes_shape_range_and_determinism(spark, sf_dir):
    """pq_encode: one code per subspace, every code in [0, ksub); two
    encodes agree row-for-row (vectorized argmin is deterministic)."""
    from sparkstreaming_gmall_scala_spark.operators.pq import (
        pq_encode,
        pq_train,
    )

    e = load_table(spark, sf_dir, "embeddings")
    books = pq_train(e, "embedding", m=8, ksub=16, sample_n=512, iters=4)
    c1 = {
        r["vec_id"]: tuple(r["codes"])
        for r in pq_encode(e, "vec_id", "embedding", books).collect()
    }
    c2 = {
        r["vec_id"]: tuple(r["codes"])
        for r in pq_encode(e, "vec_id", "embedding", books).collect()
    }
    assert c1 == c2
    assert len(c1) == e.count()
    for codes in c1.values():
        assert len(codes) == 8  # 8 codes ≈ 8 B vs 256 B float32 — 32×
        assert all(0 <= c < 16 for c in codes)


def test_pq_recall_reasonable(spark, sf_dir):
    """PQ top-5 over 8×16 codebooks vs brute force: the pure ADC ranking
    clears a better-than-chance floor (codes alone can't separate
    near-ties), and the refine stage (exact rerank of a 64-deep ADC
    shortlist — the production shape) clears a real one. Reranked scores
    are exact cosines, so every returned pair's score must equal the
    brute-force score for that pair."""
    from sparkstreaming_gmall_scala_spark.operators.pq import (
        pq_encode,
        pq_topk,
        pq_train,
    )

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    books = pq_train(e, "embedding", m=8, ksub=16)
    codes = pq_encode(e, "vec_id", "embedding", books)
    exact_rows = brute_force_topk(
        e, queries, "vec_id", "embedding", k=5
    ).collect()
    exact = {(r["query_id"], r["neighbor_id"]) for r in exact_rows}

    adc = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_topk(codes, queries, "vec_id", "embedding", books, k=5).collect()
    }
    assert len(exact & adc) / len(exact) >= 0.05  # chance ≈ k/n = 1%

    rer_rows = pq_topk(
        codes, queries, "vec_id", "embedding", books, k=5,
        rerank=e, shortlist=64,
    ).collect()
    rer = {(r["query_id"], r["neighbor_id"]) for r in rer_rows}
    recall = len(exact & rer) / len(exact)
    assert recall >= 0.5, f"reranked recall {recall:.2f}"
    exact_scores = {
        (r["query_id"], r["neighbor_id"]): r["score"] for r in exact_rows
    }
    for r in rer_rows:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_scores:  # shared pairs: identical exact cosine
            assert r["score"] == exact_scores[key], key
    per_q: dict = {}
    for r in rer_rows:
        per_q.setdefault(r["query_id"], []).append(r)
    assert all(len(v) == 5 for v in per_q.values())


def test_pq_persisted_equals_in_memory(spark, sf_dir):
    """knn_pq_persisted reads cached codebooks+codes; deterministic train
    ⇒ identical codebooks ⇒ identical codes ⇒ identical ranking to the
    in-memory knn_pq — and a second call hits the cache (same result)."""
    from sparkstreaming_gmall_scala_spark.plans.catalog import load_all

    reg = load_all()
    mem = sorted(
        tuple(r) for r in reg["knn_pq"].builder(spark, sf_dir).collect()
    )
    per1 = sorted(
        tuple(r)
        for r in reg["knn_pq_persisted"].builder(spark, sf_dir).collect()
    )
    per2 = sorted(
        tuple(r)
        for r in reg["knn_pq_persisted"].builder(spark, sf_dir).collect()
    )
    assert per1 == mem
    assert per2 == mem


def test_ivf_pq_recall_and_partition_pruning(spark, sf_dir, tmp_path):
    """The composed IVF-PQ path: reranked recall clears a floor at
    nprobe=4/8, the persisted cell-partitioned index serves an identical
    result to the in-memory frame, and the probe's scan carries a
    partition filter on cell — unprobed cell directories are never
    read."""
    from sparkstreaming_gmall_scala_spark.operators.pq import (
        ivf_pq_encode,
        ivf_pq_topk,
        pq_train,
    )
    from sparkstreaming_gmall_scala_spark.operators.similarity import (
        kmeans_centroids,
    )

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    cents = kmeans_centroids(e, "embedding", k=8, iters=2)
    books = pq_train(e, "embedding", m=8, ksub=256, centroids=cents)
    index = ivf_pq_encode(e, "vec_id", "embedding", cents, books)

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(e, queries, "vec_id", "embedding", k=5).collect()
    }
    mem_rows = ivf_pq_topk(
        index, queries, "vec_id", "embedding", cents, books,
        k=5, nprobe=4, rerank=e, shortlist=128,
    ).collect()
    mem = {(r["query_id"], r["neighbor_id"]) for r in mem_rows}
    recall = len(exact & mem) / len(exact)
    assert recall >= 0.5, f"recall {recall:.2f}"

    # persisted, cell-partitioned form: identical result + pruned scan
    idx_dir = str(tmp_path / "ivfpq")
    index.write.partitionBy("cell").parquet(idx_dir)
    persisted = spark.read.parquet(idx_dir)
    per_df = ivf_pq_topk(
        persisted, queries, "vec_id", "embedding", cents, books,
        k=5, nprobe=4, rerank=e, shortlist=128,
    )
    per_rows = per_df.collect()
    assert sorted(map(tuple, per_rows)) == sorted(map(tuple, mem_rows))
    plan = per_df._jdf.queryExecution().executedPlan().toString()
    # identify the index scan by its column set, not the tmp_path — Spark
    # truncates the Location string to ~100 chars, and once the pytest
    # run counter grew the path one char too long the directory name fell
    # off the line (observed round 9: pytest-102 broke what pytest-99
    # passed)
    scan_lines = [
        l for l in plan.split("\n")
        if "Scan parquet" in l and "codes#" in l and "cell#" in l
    ]
    assert any(
        "PartitionFilters: [" in l
        and "cell#" in l.split("PartitionFilters:")[1][:200]
        for l in scan_lines
    ), plan[:3000]


def test_ivf_pq_persisted_entry_equals_in_memory_and_prunes(spark, sf_dir):
    """The knn_ivf_pq_persisted catalog entry: identical ranking to the
    in-memory knn_ivf_pq (one shared deterministic sample trains both
    quantizers in both paths), a second call serves from the cached
    index, and the probe's parquet scan carries a PartitionFilter on
    cell — the entry-level version of the tmp_path pruning guard."""
    from sparkstreaming_gmall_scala_spark.plans.catalog import load_all

    reg = load_all()
    mem = sorted(
        tuple(r) for r in reg["knn_ivf_pq"].builder(spark, sf_dir).collect()
    )
    per_df = reg["knn_ivf_pq_persisted"].builder(spark, sf_dir)
    per1 = sorted(tuple(r) for r in per_df.collect())
    per2 = sorted(
        tuple(r)
        for r in reg["knn_ivf_pq_persisted"].builder(spark, sf_dir).collect()
    )
    assert per1 == mem
    assert per2 == mem

    plan = per_df._jdf.queryExecution().executedPlan().toString()
    scan_lines = [
        l for l in plan.split("\n")
        if "spark_graft_ivfpq" in l
        and ("Scan parquet" in l or "PartitionFilters" in l)
    ]
    assert any(
        "PartitionFilters: [" in l
        and "cell#" in l.split("PartitionFilters:")[1][:200]
        for l in scan_lines
    ), plan[:3000]


def test_semantic_dedup_sound_complete_within_cells_deterministic(
    spark, sf_dir
):
    """SemDeDup contract vs the exact pair set at the same τ:
    - SOUND: every dropped doc has a lower-id exact near-dup (≥ τ) —
      drops ⊆ the exact keep-first drop set;
    - COMPLETE within cells: every doc with a lower-id SAME-CELL exact
      near-dup is dropped (misses can only straddle cell boundaries);
    - one row per doc, deterministic across runs."""
    from sparkstreaming_gmall_scala_spark.operators.similarity import (
        cosine_near_dup_pairs,
        kmeans_centroids,
        semantic_dedup,
    )

    e = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(e, "embedding", k=8, iters=2, id_col="vec_id")
    out1 = semantic_dedup(
        e, "vec_id", "embedding", cents, threshold=0.4, dim=64
    ).collect()
    out2 = semantic_dedup(
        e, "vec_id", "embedding", cents, threshold=0.4, dim=64
    ).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    assert len(out1) == e.count()

    cell_of = {r["vec_id"]: r["cell"] for r in out1}
    dropped = {r["vec_id"] for r in out1 if not r["keep"]}
    exact = [
        (r["id_a"], r["id_b"])
        for r in cosine_near_dup_pairs(
            e, "vec_id", "embedding", threshold=0.4, dim=64
        ).collect()
    ]
    exact_drops = {b for _, b in exact}
    assert dropped <= exact_drops
    same_cell_drops = {
        b for a, b in exact if cell_of[a] == cell_of[b]
    }
    assert same_cell_drops <= dropped
    # non-vacuous: the test corpus has semantic dups inside cells
    assert dropped


def test_sq8_codes_bounded_decode_error_and_recall(spark, sf_dir):
    """SQ8: codes live in [0, 255]; per-dimension reconstruction error is
    bounded by half a quantization step; top-5 recall vs brute force
    clears a high floor (8 bits/dim is near-lossless next to the 6-dp
    score rounding, and the rerank is exact over a 128-wide shortlist)."""
    from sparkstreaming_gmall_scala_spark.operators.sq import (
        sq8_bounds,
        sq8_decode_col,
        sq8_encode,
        sq8_topk,
    )

    e = load_table(spark, sf_dir, "embeddings")
    bounds = sq8_bounds(e, "embedding")
    assert len(bounds) == 64 and all(mn <= mx for mn, mx in bounds)
    codes = sq8_encode(e, "vec_id", "embedding", bounds)
    rows = codes.collect()
    assert all(0 <= c <= 255 for r in rows for c in r["codes"])

    # reconstruction: |decode(encode(x)) − x| ≤ step/2 per dimension
    err = (
        codes.join(e.select("vec_id", "embedding"), "vec_id")
        .select(
            F.aggregate(
                F.zip_with(
                    sq8_decode_col(F.col("codes"), bounds),
                    F.col("embedding"),
                    lambda d, x: F.abs(d - x.cast("double")),
                ),
                F.lit(0.0),
                lambda acc, v: F.greatest(acc, v),
            ).alias("max_err")
        )
        .agg(F.max("max_err").alias("worst"))
        .collect()[0]["worst"]
    )
    max_step = max((mx - mn) / 255.0 for mn, mx in bounds)
    assert err <= max_step / 2 + 1e-12, err

    queries = e.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(
            e, queries, "vec_id", "embedding", k=5, dim=64
        ).collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in sq8_topk(
            codes, queries, "vec_id", "embedding", bounds,
            k=5, rerank=e, shortlist=128, dim=64,
        ).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall >= 0.9, f"sq8 recall {recall:.2f}"


def test_sq8_persisted_identical_to_in_memory(spark, sf_dir):
    """The persisted SQ8 path must return EXACTLY the in-memory knn_sq8
    result — bounds are exact aggregates and codes are deterministic, so
    persistence is a materialization, not an approximation."""
    from sparkstreaming_gmall_scala_spark.plans.catalog import load_all

    reg = load_all()
    mem = sorted(
        tuple(r) for r in reg["knn_sq8"].builder(spark, sf_dir).collect()
    )
    per1 = sorted(
        tuple(r)
        for r in reg["knn_sq8_persisted"].builder(spark, sf_dir).collect()
    )
    per2 = sorted(
        tuple(r)
        for r in reg["knn_sq8_persisted"].builder(spark, sf_dir).collect()
    )
    assert per1 == mem
    assert per2 == mem


# ---------------------------------------------------------------------------
# fuzzy_name_matches (round 9 entity resolution)
# ---------------------------------------------------------------------------


def test_fuzzy_name_matches_blocks_counts_and_distance(spark):
    from pyspark.sql import functions as F

    from sparkstreaming_gmall_scala_spark.operators.similarity import (
        fuzzy_name_matches,
    )

    df = spark.createDataFrame(
        [
            (1, "cold widget"),
            (2, "cold widget"),   # duplicate spelling -> n=2, no self-pair
            (3, "bold widget"),   # dist 1 from "cold widget"
            (4, "cold gadget"),   # other block: never compared
            (5, "tiny widget"),   # dist 4 from "cold widget" -> filtered
        ],
        ["pid", "name"],
    )
    got = {
        (r["name_a"], r["name_b"]): (r["dist"], r["n_a"], r["n_b"])
        for r in fuzzy_name_matches(
            df, "name",
            lambda n: F.element_at(F.split(n, " "), -1), max_dist=3,
        ).collect()
    }
    # exact-duplicate spellings collapse to ONE dictionary row (no pair);
    # cross-block pairs never form even at distance <= 3
    assert got == {("bold widget", "cold widget"): (1, 1, 2)}


def test_fuzzy_name_matches_is_broadcast_not_cartesian(spark):
    from pyspark.sql import functions as F

    from sparkstreaming_gmall_scala_spark.operators.similarity import (
        fuzzy_name_matches,
    )

    df = spark.createDataFrame(
        [(i, f"name{i % 7} blk{i % 3}") for i in range(60)], ["pid", "name"]
    )
    plan = (
        fuzzy_name_matches(
            df, "name", lambda n: F.element_at(F.split(n, " "), -1), 2
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
