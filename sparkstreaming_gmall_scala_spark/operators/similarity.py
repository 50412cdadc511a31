"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exactness baseline, and an LSH-bucketed
variant (random-hyperplane signs) as the scale path: at 100 TB you never
cross-join the corpus — you bucket it so each query probes a few buckets.

All vector math is pure Column expressions (zip_with/aggregate folds,
JVM-side); queries are broadcast so the corpus side never shuffles for the
brute-force path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine, dot_fixed, norm_fixed


def _with_norm(df: DataFrame, vec: str, out: str, dim: int | None) -> DataFrame:
    """Precompute the row's norm ONCE when the dimension is known — on an
    O(n²) pairwise path a per-pair cosine recomputes each side's norm for
    every partner (n× redundant work). Same expression on the same input
    → bit-identical to the per-pair form."""
    if dim is None:
        return df
    # Guard: dot_fixed on a wrong dim would silently score a truncated
    # vector (getItem past the end is null → dropped terms, no error).
    checked = F.when(
        F.size(F.col(vec)) == dim, norm_fixed(vec, dim)
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"expected {dim}-dim vector in '{vec}', got size "),
                F.size(F.col(vec)).cast("string"),
            )
        )
    )
    return df.withColumn(out, checked)


def _pair_score(dim: int | None):
    """6-dp-rounded cosine for a joined pair; codegen'd fixed-dim chain
    with precomputed norms when dim is known, HOF fold otherwise."""
    if dim is None:
        raw = cosine(F.col("qvec"), F.col("cvec"))
    else:
        raw = dot_fixed("qvec", "cvec", dim) / (
            F.col("_qnorm") * F.col("_cnorm")
        )
    return F.floor(raw * 1e6 + 0.5) / 1e6


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors per query (query ids broadcast).

    Scores are rounded to 6 dp BEFORE ranking so rank order is stable
    across engines/fp-summation orders; ties break by neighbor id.
    Pass ``dim`` for the codegen fast path (numerically identical — same
    left-to-right fold the DuckDB oracle uses).
    """
    q = _with_norm(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
        ),
        "qvec", "_qnorm", dim,
    )
    c = _with_norm(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
        ),
        "cvec", "_cnorm", dim,
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("score", _pair_score(dim))
    )
    return _rank_topk(scored, k)


def _plane_dot(vec: Column, plane: list[float]) -> Column:
    """dot(vec, literal plane) as an F.aggregate fold.

    Deliberately NOT an unrolled getItem chain: one plane unrolls fine
    (64 terms ≈ dot_fixed), but bucketing evaluates ALL planes in one
    projection — 8×64 terms blows the generated method past janino's
    64 KB limit, WholeStageCodegen disables itself, and the interpreted
    per-expression fallback is ~4× slower than the HOF fold (measured:
    knn_lsh 6.5 s → 25.5 s). The fold stays compact regardless of plane
    count. The literal array is ONE F.lit call (r16): per-element
    F.lit pays a py4j round trip per float — ~45 ms of pure driver time
    per 64-dim plane, paid per plane per query build."""
    arr = F.lit([float(x) for x in plane])
    return F.aggregate(
        F.zip_with(vec, arr, lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _fold_dots(vec: Column, rows: list[list[float]]) -> Column:
    """array of dot(vec, row_j) for a literal matrix, built as ONE
    transform over ONE 2-D literal (r16): constructing k separate fold
    expressions costs ~65 ms of py4j round trips EACH (measured ~0.5 s
    per 8×64 nearest-cell build, per Lloyd iteration / per probe);
    element arithmetic and fold order are identical, so every consumer's
    doubles are bit-identical."""
    mat = F.lit([[float(x) for x in r] for r in rows])
    return F.transform(
        mat,
        lambda row: F.aggregate(
            F.zip_with(vec, row, lambda a, b: a.cast("double") * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )


def hyperplane_bucket(
    df: DataFrame, vec_col: str, planes: list[list[float]]
) -> DataFrame:
    """Random-hyperplane LSH: bucket = the sign bits of dot(v, plane_i).

    ``planes`` is a small driver-side list (k planes × dim floats) baked
    into the plan as literals — no shuffle, no UDF; at scale the bucketed
    corpus is written out partitioned by bucket so queries prune buckets.
    """
    # ONE transform over the 2-D plane literal computes every dot; the
    # sign bits fold to the bucket id with an integer aggregate (same
    # left-to-right bit order as the old shiftleft chain — integer adds,
    # bit-identical) — construction is one expression build instead of
    # one ~65 ms py4j fold build per plane (r16).
    dots = _fold_dots(F.col(vec_col), planes)
    weights = F.lit([1 << i for i in range(len(planes))])
    bucket = F.aggregate(
        F.zip_with(dots, weights, lambda d, w: (d >= 0).cast("long") * w),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return df.withColumn("bucket", bucket)


def _band_buckets(
    df: DataFrame, vec_col: str, planes: list[list[float]], bands: int
) -> DataFrame:
    """Explode each row into ``bands`` (band, bucket) pairs — the classic
    LSH OR-construction: the plane list is split into ``bands`` contiguous
    groups and each group's sign bits form one bucket id. A pair of
    vectors is a candidate if they share the bucket in ANY band, which
    lifts per-band collision probability p to 1-(1-p)^bands."""
    if len(planes) % bands != 0:
        raise ValueError(
            f"len(planes)={len(planes)} must be divisible by bands={bands}"
        )
    per_band = len(planes) // bands
    # Every plane dot rides ONE transform over ONE 2-D literal, in its
    # own projection so the per-band consumers below reference a column
    # instead of re-deriving the dots (the kmeans_centroids
    # CollapseProject discipline); each band's bucket then folds the
    # sign bits of its SLICE with the same 2^i weights as the old
    # shiftleft chain — integer arithmetic, bit-identical buckets, and
    # expression construction drops from one ~65 ms py4j fold build per
    # plane to one build total (r16).
    dotted = df.withColumn("_dots", _fold_dots(F.col(vec_col), planes))
    weights = F.lit([1 << i for i in range(per_band)])
    band_cols = []
    for b in range(bands):
        seg = F.slice(F.col("_dots"), b * per_band + 1, per_band)
        bucket = F.aggregate(
            F.zip_with(seg, weights, lambda d, w: (d >= 0).cast("long") * w),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        band_cols.append(
            F.struct(F.lit(b).alias("band"), bucket.alias("bucket"))
        )
    return dotted.withColumn("_bb", F.explode(F.array(*band_cols))).select(
        "*", F.col("_bb.band").alias("band"), F.col("_bb.bucket").alias("bucket")
    ).drop("_bb", "_dots")


def bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    planes: list[list[float]],
    k: int = 5,
    bands: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """ANN top-k via banded random-hyperplane LSH (multi-table
    OR-construction): the planes are split into ``bands`` tables; a corpus
    vector is a candidate for a query iff they share a bucket in at least
    one band. Candidates are deduped before scoring so each pair is scored
    once. Recall < 1 by construction — that's the scale trade; the pytest
    suite measures recall against brute force.

    At 100 TB: the corpus is bucketed once and written partitioned by
    (band, bucket); each query probes ``bands`` partitions — no cross
    join, no corpus shuffle per query batch."""
    # Corpus side repartitioned before banding: the broadcast join's
    # candidate fan-out + scoring runs in the corpus side's partitions,
    # which is otherwise the scan's 1-2 tasks (guide §2.5). Score before
    # dedup so the dropDuplicates exchange carries (query_id,
    # neighbor_id, score) instead of two vectors per candidate (guide
    # §2.3); scores are deterministic per pair, so which band-collision
    # row survives is irrelevant — identical result set.
    par = corpus.sparkSession.sparkContext.defaultParallelism
    cb = _band_buckets(
        _with_norm(
            corpus.select(
                F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
            ),
            "cvec", "_cnorm", dim,
        ).repartition(par),
        "cvec",
        planes,
        bands,
    )
    qb = _band_buckets(
        _with_norm(
            queries.select(
                F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
            ),
            "qvec", "_qnorm", dim,
        ),
        "qvec",
        planes,
        bands,
    )
    scored = (
        cb.join(F.broadcast(qb), ["band", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("score", _pair_score(dim))
        .select("query_id", "neighbor_id", "score")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _rank_topk(scored, k)


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Shared ANN tail: per-query rank by (score desc, neighbor_id)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def bucketize_corpus(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    planes: list[list[float]],
    out_dir: str,
    bands: int = 4,
    dim: int | None = None,
) -> None:
    """Bucket the corpus ONCE and persist it partitioned by (band, bucket)
    — the executable form of the 100 TB LSH story: banding and norm
    computation are paid at ingest, and every later query batch probes a
    few partitions instead of re-bucketing the corpus per run (the
    per-batch recompute was the scale flaw in the in-memory path).

    Analogous ingest-side materialization to the reference's dim upserts
    (per-batch broadcast refresh, dwd/OrderInfoApp.scala:194-221): state
    written where reads are cheap, keyed how reads probe."""
    cb = _band_buckets(
        _with_norm(
            corpus.select(
                F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
            ),
            "cvec", "_cnorm", dim,
        ),
        "cvec",
        planes,
        bands,
    )
    cb.write.mode("overwrite").partitionBy("band", "bucket").parquet(out_dir)


def probe_topk(
    queries: DataFrame,
    bucket_dir: str,
    id_col: str,
    vec_col: str,
    planes: list[list[float]],
    k: int = 5,
    bands: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """ANN top-k against a persisted bucketized corpus (bucketize_corpus).

    The broadcast join on the (band, bucket) partition columns lets
    dynamic partition pruning skip every non-colliding bucket directory at
    scan time — the physical realization of 'each query probes a few
    buckets'. Same planes + same scoring ⇒ results identical to the
    in-memory bucketed_topk."""
    spark = queries.sparkSession
    cb = spark.read.parquet(bucket_dir)
    qb = _band_buckets(
        _with_norm(
            queries.select(
                F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
            ),
            "qvec", "_qnorm", dim,
        ),
        "qvec",
        planes,
        bands,
    )
    # Same exchange discipline as bucketed_topk: deterministic score
    # rides the join stage, dedup moves only the skinny scored pair.
    scored = (
        cb.join(F.broadcast(qb), ["band", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("score", _pair_score(dim))
        .select("query_id", "neighbor_id", "score")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _rank_topk(scored, k)


def cosine_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    planes: list[list[float]] | None = None,
    bands: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, score ≥ τ).

    With ``planes=None`` the pair space is the exact self-join — the
    correctness baseline the oracle checks. With ``planes`` given, the
    candidate space is restricted to banded-LSH bucket collisions first
    (the 100 TB path: candidates-per-row is O(bucket size), not O(corpus)),
    then exact-cosine verified; recall < 1 by construction. Pass ``dim``
    for the codegen fast path (same fold order, bit-identical scores)."""
    a = _with_norm(
        df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("qvec")),
        "qvec", "_qnorm", dim,
    )
    b = _with_norm(
        df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("cvec")),
        "cvec", "_cnorm", dim,
    )
    if planes is None:
        # Spread the O(n²) pair fan-out: the nested-loop probe side is
        # otherwise the corpus scan's 1-2 partitions (same single-task
        # explosion as the banded path below).
        par = df.sparkSession.sparkContext.defaultParallelism
        pairs = a.repartition(par).join(b, F.col("id_a") < F.col("id_b"))
        return (
            pairs.withColumn("score", _pair_score(dim))
            .filter(F.col("score") >= threshold)
            .select("id_a", "id_b", "score")
        )
    # Banded path (r15 optimization — guide §2.3 "shuffle fewer bytes" +
    # §2.5 stragglers): score INSIDE the bucket-join stage and dedup
    # AFTERWARD. The old order (dedup candidates, then score) pushed
    # every candidate row — two 64-dim vectors each — through the
    # dropDuplicates exchange; scoring is deterministic per pair, so
    # scoring each band collision and deduping the (id_a, id_b, score)
    # survivors is the identical pair set with a few-KB exchange. A pair
    # colliding in several bands is scored once per collision (~1.3×
    # avg) — compute inside one codegen stage, traded for the fat
    # exchange. Both sides are repartitioned to the session parallelism
    # BEFORE banding: the corpus arrives as a handful of scan partitions,
    # the bucket join broadcasts one side, and the ~Σ bucket² candidate
    # fan-out + scoring otherwise explodes inside the probe side's single
    # scan task (measured 27 s of a 33 s build in ONE task at sf0.1;
    # 32-way it is ~1 s). Scale-adaptive, not a local[32] constant.
    par = df.sparkSession.sparkContext.defaultParallelism
    ab = _band_buckets(a.repartition(par), "qvec", planes, bands)
    bb = _band_buckets(b.repartition(par), "cvec", planes, bands)
    return (
        ab.join(bb, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("score", _pair_score(dim))
        .filter(F.col("score") >= threshold)
        .select("id_a", "id_b", "score")
        .dropDuplicates(["id_a", "id_b"])
    )


def _sq_dist(vec: Column, center: list[float]) -> Column:
    """||vec - center||² as an F.aggregate fold (compact codegen — see
    _plane_dot for why k-at-a-time unrolled chains backfire)."""
    arr = F.lit([float(x) for x in center])
    return F.aggregate(
        F.zip_with(vec, arr, lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _nearest_cell(vec: Column, centroids: list[list[float]]) -> Column:
    """argmin_i ||vec - centroid_i||² via a distance array + array_min.

    NOT a when-chain: chained ``when(d < best, …)`` duplicates the d/best
    subtrees at every step, growing the expression tree exponentially in k
    (observed: ~90 s of plan compilation for k=8×64-dim). The array form
    is linear in k, and is built as ONE transform over ONE 2-D centroid
    literal (r16 — k separate fold constructions cost ~65 ms of py4j
    round trips each, ~0.5 s per 8-cell build, paid per Lloyd iteration
    and per encode/probe; per-element arithmetic and fold order are
    unchanged, so distances are bit-identical). Ties resolve to the
    lowest cell index (array_position returns the first match) —
    deterministic."""
    mat = F.lit([[float(x) for x in c] for c in centroids])
    d_arr = F.transform(
        mat,
        lambda c: F.aggregate(
            F.zip_with(
                vec,
                c,
                lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    return (F.array_position(d_arr, F.array_min(d_arr)) - 1).cast("int")


def kmeans_centroids(
    df: DataFrame, vec_col: str, k: int = 16, iters: int = 3,
    id_col: str | None = None,
) -> list[list[float]]:
    """Deterministic Lloyd iterations for the IVF coarse quantizer.

    Seeds are the first k vectors by a deterministic hash order (spread,
    reproducible, no RNG); pass ``id_col`` to break 32-bit hash ties
    (duplicate vectors, birthday collisions) deterministically — the
    ``pq_train`` discipline. Each iteration is one distributed pass
    (assign via codegen'd when-chain, update via per-dim avg); only the
    k×dim centroid matrix ever reaches the driver — the legitimate
    post-aggregation collect.
    """
    order = ["_h"] if id_col is None else ["_h", id_col]
    sel = [F.col(vec_col).alias("v")] + (
        [] if id_col is None else [F.col(id_col).alias(id_col)]
    )
    seeds = (
        df.select(*sel)
        .withColumn("_h", F.hash(F.col("v").cast("array<string>")))
        .orderBy(*order)
        .limit(k)
        .collect()
    )
    centroids = [[float(x) for x in r["v"]] for r in seeds]
    for _ in range(iters):
        # Assignment BELOW the explode, in its own projection: a select
        # that mixes a generator with other expressions puts those
        # expressions in the Project ABOVE the Generate, so the k×dim
        # argmin fold would re-evaluate once per EXPLODED row (×dim) —
        # measured 9.5 s/iter vs 1.4 s at sf0.1 with k=8×64-dim. The
        # optimizer never collapses a Project across a Generate, so the
        # two-step shape is stable.
        assigned = df.select(
            _nearest_cell(F.col(vec_col), centroids).alias("cell"),
            F.col(vec_col).alias("_v"),
        ).select(
            "cell", F.posexplode(F.col("_v")).alias("pos", "x")
        )
        per_dim = (
            assigned.groupBy("cell", "pos")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .collect()
        )
        new = {}
        for r in per_dim:
            new.setdefault(r["cell"], {})[r["pos"]] = r["m"]
        centroids = [
            [new[c][p] for p in sorted(new[c])] if c in new else centroids[c]
            for c in range(len(centroids))
        ]
    return centroids


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 3,
    dim: int | None = None,
) -> DataFrame:
    """IVF approximate top-k: corpus partitioned into inverted lists by
    nearest centroid; each query probes its ``nprobe`` nearest cells and
    exact-cosine-reranks only those candidates.

    The 100 TB shape: the corpus is assigned + written partitioned by
    ``cell`` ONCE; a query batch touches nprobe/k of the data. Recall < 1
    by construction (measured in tests vs brute force); raise nprobe to
    trade throughput for recall."""
    cb = _with_norm(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
        ),
        "cvec", "_cnorm", dim,
    ).withColumn("cell", _nearest_cell(F.col("cvec"), centroids))
    # rank all cells per query by distance, keep nprobe
    qv = _with_norm(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
        ),
        "qvec", "_qnorm", dim,
    )
    cell_d = F.array(
        *[
            F.struct(_sq_dist(F.col("qvec"), c).alias("d"), F.lit(i).alias("cell"))
            for i, c in enumerate(centroids)
        ]
    )
    qb = qv.withColumn(
        "cell", F.explode(F.slice(F.array_sort(cell_d), 1, nprobe).getField("cell"))
    )
    scored = (
        cb.join(F.broadcast(qb), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("score", _pair_score(dim))
    )
    return _rank_topk(scored, k)


def ivf_build(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    out_dir: str,
    dim: int | None = None,
) -> None:
    """Materialize the IVF inverted lists: assign each corpus vector to
    its nearest centroid ONCE and write partitioned by ``cell`` — the
    ingest-side half of the 100 TB IVF story (the in-memory ivf_topk
    re-assigns the whole corpus per query batch). Norms are precomputed
    into the layout so probes never touch the raw-vector math for the
    corpus side."""
    cb = _with_norm(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
        ),
        "cvec", "_cnorm", dim,
    ).withColumn("cell", _nearest_cell(F.col("cvec"), centroids))
    cb.write.mode("overwrite").partitionBy("cell").parquet(out_dir)


def ivf_probe(
    queries: DataFrame,
    cell_dir: str,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 3,
    dim: int | None = None,
) -> DataFrame:
    """ANN top-k against persisted inverted lists (ivf_build): the
    broadcast join on the ``cell`` partition column lets dynamic partition
    pruning skip every unprobed cell directory at scan time. Same
    centroids + same scoring ⇒ identical results to the in-memory
    ivf_topk."""
    spark = queries.sparkSession
    cb = spark.read.parquet(cell_dir)
    qv = _with_norm(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
        ),
        "qvec", "_qnorm", dim,
    )
    cell_d = F.array(
        *[
            F.struct(_sq_dist(F.col("qvec"), c).alias("d"), F.lit(i).alias("cell"))
            for i, c in enumerate(centroids)
        ]
    )
    qb = qv.withColumn(
        "cell", F.explode(F.slice(F.array_sort(cell_d), 1, nprobe).getField("cell"))
    )
    scored = (
        cb.join(F.broadcast(qb), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("score", _pair_score(dim))
    )
    return _rank_topk(scored, k)


def cosine_near_dup_vectorized(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    num_blocks: int = 8,
) -> DataFrame:
    """Embedding near-dup pairs via Arrow-batched numpy matmul — the
    throughput path when LSH can't prune.

    Banded LSH only pays when the threshold is near 1: at τ=0.4 on
    roughly-orthogonal embeddings the per-hyperplane collision signal
    (~0.63) barely beats noise (0.5), so buckets keep ~all pairs and you
    pay the LSH machinery ON TOP of scoring (measured: the LSH variant
    was slower than the exact join at sf0.1). BLAS turns the same O(n²·d)
    work into dense matmul — orders of magnitude faster per pair.

    Shape — distributed block nested loop, nothing touches the driver:
    each row is hash-assigned to one of ``num_blocks`` blocks; a tiny
    (ba ≤ bb) triangular block-pair table is broadcast; each row joins to
    every pair containing its block (replication factor = num_blocks);
    ``groupBy(ba, bb).applyInPandas`` then runs one dense matmul per block
    pair. Per-task memory is two blocks (~2·n/num_blocks vectors), so at
    100 TB you raise ``num_blocks`` until a block fits an executor —
    replication grows linearly while pair work stays O(n²/B²) per task
    across O(B²) tasks.

    Scores are float64 matmul; summation order differs from the
    left-to-right fold, so results can differ from the exact-fold oracle
    in the last ulp — this variant is for throughput, the fold form
    (cosine_near_dup_pairs) is the oracle baseline. Pairs whose rounded
    score lands exactly on τ could flip; tests assert set-equality with a
    tolerance band.
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    base = df.select(
        F.col(id_col).alias("_id").cast("long"), F.col(vec_col).alias("_vec")
    ).withColumn(
        "_blk", F.pmod(F.xxhash64(F.col("_id")), F.lit(num_blocks)).cast("int")
    )
    pairs = spark.createDataFrame(
        [(a, b) for a in range(num_blocks) for b in range(num_blocks) if a <= b],
        "ba int, bb int",
    )
    tagged = base.join(
        F.broadcast(pairs),
        (F.col("_blk") == F.col("ba")) | (F.col("_blk") == F.col("bb")),
    )

    def block_pair(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ba, bb = key
        a = pdf if ba == bb else pdf[pdf["_blk"] == ba]
        b = pdf if ba == bb else pdf[pdf["_blk"] == bb]
        if not len(a) or not len(b):
            return pd.DataFrame({"id_a": [], "id_b": [], "score": []}).astype(
                {"id_a": "int64", "id_b": "int64", "score": "float64"}
            )
        a_ids = a["_id"].to_numpy(dtype=np.int64)
        b_ids = b["_id"].to_numpy(dtype=np.int64)
        am = np.stack(a["_vec"].to_numpy()).astype(np.float64)
        bm = np.stack(b["_vec"].to_numpy()).astype(np.float64)
        am /= np.linalg.norm(am, axis=1, keepdims=True)
        bm /= np.linalg.norm(bm, axis=1, keepdims=True)
        s = np.floor(am @ bm.T * 1e6 + 0.5) / 1e6
        if ba == bb:
            # Self pair: the id triangle keeps each unordered pair once.
            ii, jj = np.where((s >= threshold) & (a_ids[:, None] < b_ids[None, :]))
            id_a, id_b = a_ids[ii], b_ids[jj]
        else:
            # Cross pair: each unordered pair lives in exactly this one
            # (ba, bb) group but in arbitrary id orientation — keep all,
            # emit as (min, max).
            ii, jj = np.where(s >= threshold)
            left, right = a_ids[ii], b_ids[jj]
            id_a = np.minimum(left, right)
            id_b = np.maximum(left, right)
        return pd.DataFrame({"id_a": id_a, "id_b": id_b, "score": s[ii, jj]})

    return tagged.groupBy("ba", "bb").applyInPandas(
        block_pair, "id_a long, id_b long, score double"
    )


def label_centroid_dims(df: DataFrame, label_col: str, vec_col: str) -> DataFrame:
    """Per-label, per-dimension centroid component: (label, pos, dim_mean).

    posexplode → groupBy(label, pos) with an exact DECIMAL sum (order-
    insensitive — a double sum would be nondeterministic under AQE
    partition ordering). Scalar rows are the hash-friendly catalog shape;
    label_centroids() reassembles the array form for library callers.

    Each float is first rounded to 6 dp in double space, THEN cast to
    decimal: engines disagree on the last digits of a raw float→decimal
    cast (shortest-repr vs exact-value rounding), but agree exactly on a
    6-dp-rounded double.
    """
    exploded = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("pos", "x"),
    )
    x6 = F.floor(F.col("x").cast("double") * 1e6 + 0.5) / 1e6
    return exploded.groupBy("label", "pos").agg(
        (
            F.floor(
                (
                    F.sum(x6.cast("decimal(38,12)")).cast("double")
                    / F.count(F.lit(1))
                )
                * 1e6
                + 0.5
            )
            / 1e6
        ).alias("dim_mean")
    )


def label_centroids(df: DataFrame, label_col: str, vec_col: str) -> DataFrame:
    """Per-label centroid of the embedding column as array<double> —
    library form; the catalog query uses label_centroid_dims
    (scalar rows) because array cells aren't hashable by the oracle
    canonicalizer."""
    per_dim = label_centroid_dims(df, label_col, vec_col)
    return (
        per_dim.groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "dim_mean"))
            ).alias("_pairs")
        )
        .select(
            "label",
            F.transform(F.col("_pairs"), lambda s: s.dim_mean).alias("centroid"),
        )
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    threshold: float,
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): semantic near-duplicate
    removal with the pair space bounded by k-means cells — each doc
    compares only against its OWN cell's members, so at 100 TB the
    pairwise cosine work is Σ|cell|² instead of n² (the paper's argument:
    semantic duplicates land in the same cell because they are near the
    same centroid; recall < 1 for pairs straddling a cell boundary, by
    construction).

    Keep rule (deterministic, the embed_near_dup keep-first convention):
    a doc is dropped iff SOME lower-id doc in its cell scores cosine ≥
    ``threshold`` against it — one cell-keyed self-join, no iterative
    clustering (the paper keeps one point per intra-cell duplicate group;
    the lower-id rule is the same greedy, ordered by id instead of
    random). Output: (id, cell, keep) — one row per input doc, so both
    the keeps and the drop set are downstream-filterable.

    Cells come from ``kmeans_centroids`` (engine-opaque argmin seeding →
    rows-only catalog entry, the IVF family's constraint); soundness and
    subset-of-exact-drops are pinned in pytest instead.
    """
    cells = df.select(
        F.col(id_col),
        F.col(vec_col).alias("_v"),
        _nearest_cell(F.col(vec_col), centroids).alias("cell"),
    )
    a = _with_norm(
        cells.select(
            F.col(id_col).alias("id_a"),
            F.col("_v").alias("qvec"),
            F.col("cell"),
        ),
        "qvec", "_qnorm", dim,
    )
    b = _with_norm(
        cells.select(
            F.col(id_col).alias("id_b"),
            F.col("_v").alias("cvec"),
            F.col("cell"),
        ),
        "cvec", "_cnorm", dim,
    )
    dropped = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("score", _pair_score(dim))
        .filter(F.col("score") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return (
        cells.join(dropped.withColumn("_drop", F.lit(True)), id_col, "left")
        .select(
            F.col(id_col),
            F.col("cell").cast("long").alias("cell"),
            F.coalesce(~F.col("_drop"), F.lit(True)).alias("keep"),
        )
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: per query,
    the ``k`` MOST-similar corpus vectors with a DIFFERENT label — the
    near-misses that make the strongest negatives (in-batch random
    negatives are mostly easy; hardest-negative selection is the standard
    upgrade, e.g. dense-retrieval training à la DPR/ANCE).

    Same broadcast-queries/scan-corpus shape as brute_force_topk — the
    corpus side never shuffles; the label filter drops same-label pairs
    BEFORE ranking, so rank k means k-th hardest NEGATIVE (not k-th
    neighbor that happens to be negative). At 100 TB the exact scan swaps
    for any of the ANN front-ends (LSH/IVF/PQ probe feeding the same
    label-filtered rerank) — this form is the oracle-exact contract."""
    q = _with_norm(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            F.col(label_col).alias("_qlabel"),
        ),
        "qvec", "_qnorm", dim,
    )
    c = _with_norm(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cvec"),
            F.col(label_col).alias("_nlabel"),
        ),
        "cvec", "_cnorm", dim,
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(
            (F.col("neighbor_id") != F.col("query_id"))
            & (F.col("_nlabel") != F.col("_qlabel"))
        )
        .withColumn("score", _pair_score(dim))
    )
    return _rank_topk(scored, k).join(
        c.select("neighbor_id", F.col("_nlabel").alias("neighbor_label")),
        "neighbor_id",
    ).select("query_id", "neighbor_id", "neighbor_label", "score", "rank")


def fuzzy_name_matches(
    df: DataFrame,
    name_col: str,
    block_fn,
    max_dist: int,
) -> DataFrame:
    """Entity-resolution name matching: pairs of DISTINCT names within a
    blocking key at Levenshtein distance <= max_dist, each with the
    count of entities carrying it.

    The at-scale shape is dictionary-first: the entity table collapses
    to its distinct-name dictionary (one groupBy — names are orders of
    magnitude fewer than entities), the fuzzy self-join runs on the
    dictionary alone (broadcast: the dict fits one executor by
    construction), and entity counts ride along from the collapse — the
    edit-distance UDF-free predicate is the JVM built-in `levenshtein`,
    evaluated only on block collisions, never all-pairs across blocks.
    A production blocker at 100 TB would add a q-gram/prefix second key
    for high-cardinality dictionaries; the operator takes the blocking
    function (Column -> Column, applied to the collapsed name) as an
    argument so that swap is a call-site change.

    Output: (name_a, name_b, dist, n_a, n_b) with name_a < name_b.
    """
    names = (
        df.groupBy(F.col(name_col).alias("name"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("_blk", block_fn(F.col("name")))
    )
    a = names.select(
        F.col("name").alias("name_a"), F.col("n").alias("n_a"), "_blk"
    )
    b = names.select(
        F.col("name").alias("name_b"), F.col("n").alias("n_b"), "_blk"
    )
    return (
        a.join(F.broadcast(b), "_blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn(
            "dist",
            F.levenshtein(F.col("name_a"), F.col("name_b")).cast("long"),
        )
        .filter(F.col("dist") <= max_dist)
        .select("name_a", "name_b", "dist", "n_a", "n_b")
    )
