"""LLM-training-data pipeline queries over `documents` / `embeddings`.

These have no reference counterpart (SURVEY.md §7 north-star ops): dedup
(exact, MinHash-LSH, n-gram Jaccard, SimHash), similarity search, text
analysis, multimodal plumbing. Oracles replicate the EXACT same
computation in DuckDB SQL — md5-based hashing and floor-rounding make the
signatures/scores engine-portable.

DuckDB shingle construction mirrors functions/text.py::shingles:
tokens = non-empty splits on whitespace of lower(text);
shingle i = concat_ws(' ', tokens[i..i+2]) for i in 1..max(n-2, 1)
(short docs yield their full token join), then list_distinct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hints import scaled_dim
from ..operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    shingle_rows,
    simhash64,
)
from ..operators.multimodal import extract_features, to_binary_payload
from ..operators.similarity import (
    brute_force_topk,
    bucketed_topk,
    cosine_near_dup_pairs,
)
from ..operators.textstats import LANG_MARKERS, lang_id, quality_score
from ..sources import load_table, read_parquet_memo
from ..sources.tables import _data_fingerprint, _params_key, build_once
from .catalog import register

# Shared DuckDB fragments -----------------------------------------------------
_TOKENS = "list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')"
_SHINGLES = f"""
    list_distinct(
      list_transform(
        generate_series(1, greatest(len({_TOKENS}) - 2, 1)),
        i -> concat_ws(' ', {_TOKENS}[i], {_TOKENS}[i+1], {_TOKENS}[i+2])
      )
    )
"""
_NORM_TEXT = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------
@register(
    "doc_token_stats",
    oracle=f"""
    SELECT doc_id,
           len({_TOKENS}) AS n_ws_tokens,
           len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS n_bpe_tokens,
           length(text) AS n_chars
    FROM documents
    """,
    tags=("llm", "text"),
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex token count
    (letter runs / digit runs / single punct) — scan-bound, zero shuffle."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit(""))
    bpe = F.size(
        F.expr(r"regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]', 0)")
    )
    return d.select(
        "doc_id",
        F.size(toks).alias("n_ws_tokens"),
        bpe.alias("n_bpe_tokens"),
        F.length("text").alias("n_chars"),
    )


@register(
    "bpe_pairs",
    oracle=f"""
    WITH t AS (
      SELECT {_TOKENS} AS toks FROM documents
    ), p AS (
      SELECT toks[i] AS left_tok, toks[i + 1] AS right_tok
      FROM t, LATERAL (
        SELECT unnest(generate_series(1, len(toks) - 1)) AS i
      )
    )
    SELECT rank, left_tok, right_tok, cnt FROM (
      SELECT left_tok, right_tok, count(*) AS cnt,
             row_number() OVER (
               ORDER BY count(*) DESC, left_tok, right_tok) AS rank
      FROM p GROUP BY left_tok, right_tok
    ) WHERE rank <= 100
    """,
    tags=("llm", "text", "tokenizer", "bpe"),
)
def bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 BPE merge candidates: corpus-wide adjacent-token-pair
    counts ranked by (cnt desc, left, right) — the first iteration of
    BPE tokenizer training (operators/bpe.py; the full merge LOOP is
    ``bpe_learn``, an iterative driver algorithm pinned against a pure
    local BPE in pytest). One explode + one groupBy; orderBy+limit
    bounds the global sort to 100 rows."""
    from ..operators.bpe import merge_candidates

    d = load_table(spark, sf_dir, "documents")
    return merge_candidates(d, "doc_id", "text", top_n=100)


@register(
    "vocab_top_tokens",
    oracle=f"""
    WITH t AS (
      SELECT unnest({_TOKENS}) AS tok FROM documents
    )
    SELECT rank, tok, cnt FROM (
      SELECT tok, count(*) AS cnt,
             row_number() OVER (ORDER BY count(*) DESC, tok) AS rank
      FROM t GROUP BY tok
    ) WHERE rank <= 200
    """,
    tags=("llm", "text", "tokenizer"),
)
def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-200 corpus vocabulary by token frequency (rank ties break
    lexicographically) — the word-level vocab table tokenizer training
    starts from, next to bpe_pairs' merge candidates. One explode + one
    groupBy with map-side partial agg; orderBy+limit bounds the global
    sort to 200 rows."""
    d = load_table(spark, sf_dir, "documents")
    from ..operators.bpe import tokens_col

    counts = (
        d.select(F.explode(tokens_col(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = counts.orderBy(F.col("cnt").desc(), "tok").limit(200)
    w = Window.orderBy(F.col("cnt").desc(), "tok")
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "tok", "cnt"
    )


@register(
    "doc_quality",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text,
             length(text) AS n_chars,
             len({_TOKENS}) AS n_tokens,
             floor((len(list_filter({_TOKENS},
                      t -> t IN ('the','a','of','and','to')))::DOUBLE
                    / greatest(len({_TOKENS}), 1)) * 1000000 + 0.5) / 1000000 AS stop_ratio,
             floor((length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))::DOUBLE
                    / greatest(length(text), 1)) * 1000000 + 0.5) / 1000000 AS punct_ratio
      FROM documents
    )
    SELECT doc_id, n_chars, n_tokens, stop_ratio, punct_ratio,
           floor((0.4 * least(n_tokens::DOUBLE / 100.0, 1.0)
                  + 0.4 * stop_ratio
                  + 0.2 * (1.0 - punct_ratio)) * 1000000 + 0.5) / 1000000 AS quality
    FROM t
    """,
    tags=("llm", "text"),
)
def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring from length/stopword/punctuation features."""
    return quality_score(load_table(spark, sf_dir, "documents"), "doc_id", "text")


def _lang_oracle() -> str:
    """Build the DuckDB mirror of the marker-hit argmax in lang_id()."""
    hit_exprs = {
        lang: (
            f"len(list_filter({_TOKENS}, t -> t IN "
            f"({', '.join(repr(m) for m in markers)})))"
        )
        for lang, markers in LANG_MARKERS.items()
    }
    best = "greatest(" + ", ".join(hit_exprs.values()) + ")"
    # Mirror lang_id(): later languages are overwritten by earlier ones on
    # ties, so the first language in dict order with score==best wins.
    case = "CASE"
    for lang, expr in hit_exprs.items():
        case += f" WHEN {expr} = best AND best > 0 THEN '{lang}'"
    case += " ELSE 'und' END"
    return f"""
    WITH s AS (SELECT doc_id, {best} AS best, text FROM documents)
    SELECT doc_id, {case} AS pred_lang, best AS marker_hits FROM s
    """


@register("lang_id", oracle=_lang_oracle(), tags=("llm", "text"))
def lang_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID (argmax of per-language marker hits)."""
    return lang_id(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "script_mix",
    oracle="""
    WITH c AS (
      SELECT doc_id,
             length(text) AS n,
             length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS n_alpha,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
             length(text) - length(regexp_replace(text, '[ \\t\\n\\r]', '', 'g')) AS n_space
      FROM documents
    )
    SELECT doc_id, n AS n_chars,
           floor((CAST(n_alpha AS DOUBLE) / greatest(n, 1)) * 1000000 + 0.5) / 1000000 AS alpha_frac,
           floor((CAST(n_digit AS DOUBLE) / greatest(n, 1)) * 1000000 + 0.5) / 1000000 AS digit_frac,
           floor((CAST(n_space AS DOUBLE) / greatest(n, 1)) * 1000000 + 0.5) / 1000000 AS space_frac,
           floor((CAST(n - n_alpha - n_digit - n_space AS DOUBLE) / greatest(n, 1)) * 1000000 + 0.5) / 1000000 AS other_frac
    FROM c
    """,
    tags=("llm", "text"),
)
def script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-class mix (alpha / digit / whitespace /
    other fractions, 6 dp) — the script-detection signal next to the
    stopword lang_id: a CJK page, a base64 blob, and an ASCII-art table
    separate on these fractions before any tokenizer runs. Zero shuffle,
    scan-bound; each count is length(text) − length(class-stripped
    text), identical arithmetic both engines."""
    d = load_table(spark, sf_dir, "documents")
    n = F.length("text")

    def frac(cnt):
        return (
            F.floor((cnt.cast("double") / F.greatest(n, F.lit(1))) * 1e6 + 0.5)
            / 1e6
        )

    n_alpha = n - F.length(F.regexp_replace("text", "[A-Za-z]", ""))
    n_digit = n - F.length(F.regexp_replace("text", "[0-9]", ""))
    n_space = n - F.length(F.regexp_replace("text", "[ \\t\\n\\r]", ""))
    return d.select(
        "doc_id",
        n.alias("n_chars"),
        frac(n_alpha).alias("alpha_frac"),
        frac(n_digit).alias("digit_frac"),
        frac(n_space).alias("space_frac"),
        frac(n - n_alpha - n_digit - n_space).alias("other_frac"),
    )


@register(
    "doc_fingerprint",
    oracle=f"""
    SELECT doc_id, md5({_NORM_TEXT}) AS fp FROM documents
    """,
    tags=("llm", "text", "dedup"),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 over whitespace-normalized lower text."""
    from ..functions.text import fingerprint

    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp"))


_QUALITY_SQL = f"""
    WITH t AS (
      SELECT doc_id, text,
             len({_TOKENS}) AS n_tokens,
             floor((len(list_filter({_TOKENS},
                      t -> t IN ('the','a','of','and','to')))::DOUBLE
                    / greatest(len({_TOKENS}), 1)) * 1000000 + 0.5) / 1000000 AS stop_ratio,
             floor((length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))::DOUBLE
                    / greatest(length(text), 1)) * 1000000 + 0.5) / 1000000 AS punct_ratio
      FROM documents
    )
    SELECT doc_id,
           floor((0.4 * least(n_tokens::DOUBLE / 100.0, 1.0)
                  + 0.4 * stop_ratio
                  + 0.2 * (1.0 - punct_ratio)) * 1000000 + 0.5) / 1000000 AS quality
    FROM t
"""


@register(
    "corpus_clean",
    oracle=f"""
    WITH q AS ({_QUALITY_SQL}),
    l AS ({_lang_oracle()}),
    keeps AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5({_NORM_TEXT})
    )
    SELECT d.doc_id, q.quality, l.pred_lang
    FROM documents d
    JOIN q ON q.doc_id = d.doc_id
    JOIN l ON l.doc_id = d.doc_id
    JOIN keeps k ON k.doc_id = d.doc_id
    WHERE q.quality >= 0.45 AND l.pred_lang = 'en'
    """,
    tags=("llm", "text", "dedup", "pipeline"),
)
def corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data cleaning recipe as ONE composed query:
    exact-dedup survivors ∩ quality >= 0.45 ∩ predicted English — the
    operator-composition contract (pure DataFrame→DataFrame functions
    chain without glue) demonstrated and hash-verified."""
    d = load_table(spark, sf_dir, "documents")
    q = quality_score(d, "doc_id", "text").select("doc_id", "quality")
    lang = lang_id(d, "doc_id", "text").select("doc_id", "pred_lang")
    keeps = exact_dedup(d, "doc_id", "text").select(
        F.col("kept_doc_id").alias("doc_id")
    )
    return (
        d.select("doc_id")
        .join(q, "doc_id")
        .join(lang, "doc_id")
        .join(keeps, "doc_id")
        .filter((F.col("quality") >= 0.45) & (F.col("pred_lang") == "en"))
        .select("doc_id", "quality", "pred_lang")
    )


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKENS}) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
    ), dfreq AS (
      SELECT term, count(*) AS df FROM tf GROUP BY 1
    ), n AS (
      SELECT count(*) AS n_docs FROM documents
    ), scored AS (
      SELECT doc_id, term, tf, df,
             CAST(floor(tf * ln((n_docs + 1.0) / (df + 1.0)) * 1000000 + 0.5)
                  AS BIGINT) AS score6
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, score6, rank FROM (
      SELECT *, row_number() OVER (
               PARTITION BY doc_id ORDER BY score6 DESC, term) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
    tags=("llm", "text"),
)
def tfidf_top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per doc — integer-scaled scores ranked with a
    term tiebreak so the ordering is engine-portable."""
    from ..operators.textstats import tfidf_top_terms

    return tfidf_top_terms(load_table(spark, sf_dir, "documents"), "doc_id", "text", k=3)


_BM25_QUERY = ("dup", "spark", "stream")
_BM25_TFS = ",\n      ".join(
    f"sum(CASE WHEN term = '{t}' THEN 1 ELSE 0 END) AS tf{i}"
    for i, t in enumerate(_BM25_QUERY)
)
_BM25_DFS = ",\n      ".join(
    f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
    for i in range(len(_BM25_QUERY))
)
# one addend per query term — SAME nesting and left-to-right addition as
# the Spark expression tree in operators/textstats.py:bm25_rank
_BM25_SCORE = " + ".join(
    f"""ln(1.0 + (n - df{i} + 0.5) / (df{i} + 0.5))
        * ((CAST(tf{i} AS DOUBLE) * 2.2)
           / (CAST(tf{i} AS DOUBLE)
              + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))))"""
    for i in range(len(_BM25_QUERY))
)


@register(
    "bm25_search",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKENS}) AS term FROM documents
    ), per_doc AS (
      SELECT doc_id, count(*) AS dl,
      {_BM25_TFS}
      FROM toks GROUP BY doc_id
    ), stats AS (
      SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
      {_BM25_DFS}
      FROM per_doc
    ), scored AS (
      SELECT doc_id, dl,
             CAST(floor(({_BM25_SCORE}) * 1000000 + 0.5) AS BIGINT) AS score6
      FROM per_doc CROSS JOIN stats
    )
    SELECT doc_id, dl, score6, rank FROM (
      SELECT doc_id, dl, score6,
             row_number() OVER (ORDER BY score6 DESC, doc_id) AS rank
      FROM scored WHERE score6 > 0
    ) WHERE rank <= 10
    """,
    tags=("llm", "text", "search"),
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for the fixed query ``dup spark stream`` (one rare
    discriminative term + two common ones) — the lexical-retrieval
    surface next to the ANN family. One token scan; per-doc length and
    per-term tfs from a single groupBy; corpus stats collapse to ONE
    collected row; top-10 via orderBy+limit (TakeOrderedAndProject —
    no global sort). Scores floored at 1e-6 into integers; ties break
    on doc_id. The oracle writes the identical double expression
    tree."""
    from ..operators.textstats import bm25_rank

    return bm25_rank(
        load_table(spark, sf_dir, "documents"), "doc_id", "text",
        _BM25_QUERY, top_n=10,
    )


def _bm25_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Ensure the 3-batch BM25 postings ingest exists for this corpus
    (``sources.tables.build_once``) and return the index dir."""
    import os

    from ..streaming.search import bm25_ingest_batch

    def build(work: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        body = bm25_ingest_batch(
            spark, os.path.join(work, "postings"), _BM25_QUERY
        )
        for i in range(3):
            body(docs.filter(F.pmod(F.hash("doc_id"), F.lit(3)) == i), i)

    work = build_once(
        "bm25idx", sf_dir,
        _params_key("bm25q3", _data_fingerprint(sf_dir, "documents")), build,
    )
    return os.path.join(work, "postings")


@register(
    "bm25_search_live",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKENS}) AS term FROM documents
    ), per_doc AS (
      SELECT doc_id, count(*) AS dl,
      {_BM25_TFS}
      FROM toks GROUP BY doc_id
    ), stats AS (
      SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
      {_BM25_DFS}
      FROM per_doc
    ), scored AS (
      SELECT doc_id, dl,
             CAST(floor(({_BM25_SCORE}) * 1000000 + 0.5) AS BIGINT) AS score6
      FROM per_doc CROSS JOIN stats
    )
    SELECT doc_id, dl, score6, rank FROM (
      SELECT doc_id, dl, score6,
             row_number() OVER (ORDER BY score6 DESC, doc_id) AS rank
      FROM scored WHERE score6 > 0
    ) WHERE rank <= 10
    """,
    tags=("streaming", "text", "search"),
)
def bm25_search_live_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bm25_search answered from the STREAMING postings index: 3
    micro-batches tokenize only their own documents and append per-doc
    (dl, tf…) constants; the read side folds the index, re-derives
    N/avgdl/df over everything ingested so far, and scores with the
    batch query's own scoring stage (operators/textstats.py:
    bm25_score_per_doc) — batch ≡ live by construction above the fold,
    the incremental-search-index shape (per-batch cost = one token scan
    of the NEW docs; a query = a fold + TakeOrderedAndProject). Oracle:
    identical SQL to bm25_search. Split/replay pinned in
    tests/test_streaming_search.py."""
    from ..streaming.search import bm25_search_live

    return bm25_search_live(
        spark, _bm25_index_dir(spark, sf_dir), _BM25_QUERY
    )


@register(
    "hybrid_search_rrf",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKENS}) AS term FROM documents
    ), per_doc AS (
      SELECT doc_id, count(*) AS dl,
      {_BM25_TFS}
      FROM toks GROUP BY doc_id
    ), stats AS (
      SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
      {_BM25_DFS}
      FROM per_doc
    ), lex_scored AS (
      SELECT doc_id, CAST(floor(({_BM25_SCORE}) * 1000000 + 0.5) AS BIGINT)
               AS score6
      FROM per_doc CROSS JOIN stats
    ), lex AS (
      SELECT doc_id, CAST(rank AS BIGINT) AS lex_rank FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY score6 DESC, doc_id) AS rank
        FROM lex_scored WHERE score6 > 0
      ) WHERE rank <= 20
    ), dense_scored AS (
      SELECT c.vec_id AS doc_id,
             floor((
        list_reduce(
          list_transform(generate_series(1, len(q.embedding)),
                         i -> CAST(q.embedding[i] AS DOUBLE)
                              * CAST(c.embedding[i] AS DOUBLE)),
          (x, y) -> x + y)
     / (
        sqrt(list_reduce(
          list_transform(generate_series(1, len(q.embedding)),
                         i -> CAST(q.embedding[i] AS DOUBLE)
                              * CAST(q.embedding[i] AS DOUBLE)),
          (x, y) -> x + y))
     *
        sqrt(list_reduce(
          list_transform(generate_series(1, len(c.embedding)),
                         i -> CAST(c.embedding[i] AS DOUBLE)
                              * CAST(c.embedding[i] AS DOUBLE)),
          (x, y) -> x + y))
    )) * 1000000 + 0.5) / 1000000 AS score
      FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      WHERE q.vec_id = 0
    ), dense AS (
      SELECT doc_id, CAST(rank AS BIGINT) AS dense_rank FROM (
        SELECT doc_id, row_number() OVER (
                 ORDER BY score DESC, doc_id) AS rank
        FROM dense_scored
      ) WHERE rank <= 20
    ), fused AS (
      SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
             l.lex_rank, d.dense_rank,
             CAST(COALESCE(1000000000 // (60 + l.lex_rank), 0)
                  + COALESCE(1000000000 // (60 + d.dense_rank), 0)
                  AS BIGINT) AS rrf_points
      FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id
    )
    SELECT doc_id, lex_rank, dense_rank, rrf_points, fused_rank FROM (
      SELECT *, CAST(row_number() OVER (
               ORDER BY rrf_points DESC, doc_id) AS BIGINT) AS fused_rank
      FROM fused
    ) WHERE fused_rank <= 10
    """,
    tags=("llm", "search", "hybrid"),
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion — THE standard RAG
    pattern: fuse the lexical BM25 top-20 (query ``dup spark stream``)
    with the dense cosine top-20 for a fixed query vector (vec_id 0,
    doc ids aligned with vec ids) as
    rrf_points = Σ floor(10⁹ / (60 + rank)) — the classic 1/(k+r) with
    k = 60, held in EXACT integers so fusion carries the full value-hash
    oracle (the two input rankings are already cross-engine-pinned by
    bm25_search and knn_bruteforce). A doc found by only one retriever
    scores that side alone (full outer join, COALESCE 0). Both input
    rankings are bounded (top-20 each), so the fusion join touches ≤ 40
    rows however large the corpus — the expensive parts are exactly the
    two retrieval primitives the engine already optimizes."""
    from ..operators.similarity import brute_force_topk
    from ..operators.textstats import bm25_rank

    docs = load_table(spark, sf_dir, "documents")
    lex = bm25_rank(docs, "doc_id", "text", _BM25_QUERY, top_n=20).select(
        "doc_id", F.col("rank").cast("long").alias("lex_rank")
    )
    e = load_table(spark, sf_dir, "embeddings")
    dense = brute_force_topk(
        e,
        e.filter(F.col("vec_id") == 0),
        id_col="vec_id",
        vec_col="embedding",
        k=20,
        dim=64,
    ).select(
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").cast("long").alias("dense_rank"),
    )
    fused = (
        lex.join(dense, "doc_id", "full_outer")
        .select(
            "doc_id",
            "lex_rank",
            "dense_rank",
            (
                F.coalesce(
                    F.expr("1000000000L div (60 + lex_rank)"), F.lit(0)
                )
                + F.coalesce(
                    F.expr("1000000000L div (60 + dense_rank)"), F.lit(0)
                )
            ).alias("rrf_points"),
        )
    )
    w = Window.orderBy(F.col("rrf_points").desc(), F.col("doc_id"))
    return (
        fused.withColumn(
            "fused_rank", F.row_number().over(w).cast("long")
        )
        .where(F.col("fused_rank") <= 10)
    )


@register(
    "hybrid_search_rrf_live",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKENS}) AS term FROM documents
    ), per_doc AS (
      SELECT doc_id, count(*) AS dl,
      {_BM25_TFS}
      FROM toks GROUP BY doc_id
    ), stats AS (
      SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
      {_BM25_DFS}
      FROM per_doc
    ), lex_scored AS (
      SELECT doc_id, CAST(floor(({_BM25_SCORE}) * 1000000 + 0.5) AS BIGINT)
               AS score6
      FROM per_doc CROSS JOIN stats
    ), lex AS (
      SELECT doc_id, CAST(rank AS BIGINT) AS lex_rank FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY score6 DESC, doc_id) AS rank
        FROM lex_scored WHERE score6 > 0
      ) WHERE rank <= 20
    ), dense_scored AS (
      SELECT c.vec_id AS doc_id,
             floor((
        list_reduce(
          list_transform(generate_series(1, len(q.embedding)),
                         i -> CAST(q.embedding[i] AS DOUBLE)
                              * CAST(c.embedding[i] AS DOUBLE)),
          (x, y) -> x + y)
     / (
        sqrt(list_reduce(
          list_transform(generate_series(1, len(q.embedding)),
                         i -> CAST(q.embedding[i] AS DOUBLE)
                              * CAST(q.embedding[i] AS DOUBLE)),
          (x, y) -> x + y))
     *
        sqrt(list_reduce(
          list_transform(generate_series(1, len(c.embedding)),
                         i -> CAST(c.embedding[i] AS DOUBLE)
                              * CAST(c.embedding[i] AS DOUBLE)),
          (x, y) -> x + y))
    )) * 1000000 + 0.5) / 1000000 AS score
      FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      WHERE q.vec_id = 0
    ), dense AS (
      SELECT doc_id, CAST(rank AS BIGINT) AS dense_rank FROM (
        SELECT doc_id, row_number() OVER (
                 ORDER BY score DESC, doc_id) AS rank
        FROM dense_scored
      ) WHERE rank <= 20
    ), fused AS (
      SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
             l.lex_rank, d.dense_rank,
             CAST(COALESCE(1000000000 // (60 + l.lex_rank), 0)
                  + COALESCE(1000000000 // (60 + d.dense_rank), 0)
                  AS BIGINT) AS rrf_points
      FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id
    )
    SELECT doc_id, lex_rank, dense_rank, rrf_points, fused_rank FROM (
      SELECT *, CAST(row_number() OVER (
               ORDER BY rrf_points DESC, doc_id) AS BIGINT) AS fused_rank
      FROM fused
    ) WHERE fused_rank <= 10
    """,
    tags=("streaming", "search", "hybrid"),
)
def hybrid_search_rrf_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hybrid_search_rrf with the LEXICAL side answered from the
    STREAMING postings index (bm25_search_live's /tmp ingest, shared by
    fingerprint — the live RAG stack composing: incremental index →
    BM25 top-20 → RRF fusion with the dense top-20). The dense side is
    stateless (one broadcast cosine scan); the fusion is the identical
    ≤ 40-row exact-integer join. Oracle: identical SQL to
    hybrid_search_rrf — live ≡ batch because the postings fold
    reproduces the batch per-doc frame exactly."""
    from ..operators.similarity import brute_force_topk
    from ..streaming.search import bm25_search_live

    lex = bm25_search_live(
        spark, _bm25_index_dir(spark, sf_dir), _BM25_QUERY, top_n=20
    ).select("doc_id", F.col("rank").cast("long").alias("lex_rank"))
    e = load_table(spark, sf_dir, "embeddings")
    dense = brute_force_topk(
        e,
        e.filter(F.col("vec_id") == 0),
        id_col="vec_id",
        vec_col="embedding",
        k=20,
        dim=64,
    ).select(
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").cast("long").alias("dense_rank"),
    )
    fused = lex.join(dense, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "dense_rank",
        (
            F.coalesce(F.expr("1000000000L div (60 + lex_rank)"), F.lit(0))
            + F.coalesce(
                F.expr("1000000000L div (60 + dense_rank)"), F.lit(0)
            )
        ).alias("rrf_points"),
    )
    w = Window.orderBy(F.col("rrf_points").desc(), F.col("doc_id"))
    return fused.withColumn(
        "fused_rank", F.row_number().over(w).cast("long")
    ).where(F.col("fused_rank") <= 10)


def _mmr_oracle() -> str:
    """The MMR greedy unrolled into 10 chained MATERIALIZED CTEs (the
    generated-SQL discipline of the fixed-association ANOVA): DuckDB
    inlines plain CTEs, so a chain where sel_t references sel_1..sel_{t-1}
    re-evaluates exponentially without MATERIALIZED."""
    cos = (
        lambda q, c: f"""(
        list_reduce(
          list_transform(generate_series(1, len({q}.embedding)),
                         i -> CAST({q}.embedding[i] AS DOUBLE)
                              * CAST({c}.embedding[i] AS DOUBLE)),
          (x, y) -> x + y)
     / (
        sqrt(list_reduce(
          list_transform(generate_series(1, len({q}.embedding)),
                         i -> CAST({q}.embedding[i] AS DOUBLE)
                              * CAST({q}.embedding[i] AS DOUBLE)),
          (x, y) -> x + y))
     *
        sqrt(list_reduce(
          list_transform(generate_series(1, len({c}.embedding)),
                         i -> CAST({c}.embedding[i] AS DOUBLE)
                              * CAST({c}.embedding[i] AS DOUBLE)),
          (x, y) -> x + y))
    ))"""
    )
    steps = []
    for t in range(2, 11):
        prev = " UNION ALL ".join(
            f"SELECT doc_id FROM sel{j}" for j in range(1, t)
        )
        steps.append(f"""sel{t} AS MATERIALIZED (
          SELECT c.doc_id, c.rel6, max(p.sim6) AS pen6,
                 CAST({t} AS BIGINT) AS mmr_rank
          FROM cand c
          JOIN pairs p ON p.a = c.doc_id AND p.b IN ({prev})
          WHERE c.doc_id NOT IN ({prev})
          GROUP BY c.doc_id, c.rel6
          ORDER BY c.rel6 - max(p.sim6) DESC, c.doc_id
          LIMIT 1
        )""")
    final = " UNION ALL ".join(
        ["SELECT doc_id, rel6, pen6, mmr_rank FROM sel1"]
        + [
            f"SELECT doc_id, rel6, pen6, mmr_rank FROM sel{t}"
            for t in range(2, 11)
        ]
    )
    return f"""
    WITH dense_scored AS (
      SELECT c.vec_id AS doc_id,
             CAST(floor({cos('q', 'c')} * 1000000 + 0.5) AS BIGINT) AS rel6
      FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      WHERE q.vec_id = 0
    ), cand AS MATERIALIZED (
      SELECT doc_id, rel6 FROM (
        SELECT doc_id, rel6,
               row_number() OVER (ORDER BY rel6 DESC, doc_id) AS rank
        FROM dense_scored
      ) WHERE rank <= 20
    ), pairs AS MATERIALIZED (
      SELECT a.vec_id AS a, b.vec_id AS b,
             CAST(floor({cos('a', 'b')} * 1000000 + 0.5) AS BIGINT) AS sim6
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
      WHERE a.vec_id IN (SELECT doc_id FROM cand)
        AND b.vec_id IN (SELECT doc_id FROM cand)
    ), sel1 AS MATERIALIZED (
      SELECT doc_id, rel6, CAST(NULL AS BIGINT) AS pen6,
             CAST(1 AS BIGINT) AS mmr_rank
      FROM cand ORDER BY rel6 DESC, doc_id LIMIT 1
    ), {", ".join(steps)}
    {final}
    """


@register(
    "mmr_rerank",
    oracle=_mmr_oracle(),
    tags=("llm", "search", "diversify"),
)
def mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking of the dense top-20
    (query = vec_id 0) down to a DIVERSIFIED top-10 — the retrieval
    post-processor that stops a RAG context window filling with ten
    paraphrases of one document: greedily pick
    argmax(rel6 − max_sim6_to_already_picked) (λ = 0.5; argmax is
    invariant under the common scale so the statistic stays exact
    integer micro-cosines), ties to the smaller doc id.

    The candidate frame and its pairwise-similarity matrix are BOUNDED
    (20 rows, ≤ 380 pairs) however large the corpus — both come out of
    the already-pinned brute_force_topk machinery — so the greedy walks
    driver-side over a constant-size collect, exactly what the oracle's
    10 unrolled MATERIALIZED CTE steps do."""
    import math

    from ..operators.similarity import brute_force_topk

    e = load_table(spark, sf_dir, "embeddings")
    cand_rows = brute_force_topk(
        e,
        e.filter(F.col("vec_id") == 0),
        id_col="vec_id",
        vec_col="embedding",
        k=20,
        dim=64,
    ).collect()  # bounded: 20 rows
    schema = "doc_id long, rel6 long, pen6 long, mmr_rank long"
    if not cand_rows:
        return spark.createDataFrame([], schema)
    rel6 = {
        r["neighbor_id"]: int(math.floor(r["score"] * 1e6 + 0.5))
        for r in cand_rows
    }
    cand_ids = sorted(rel6)
    cand_emb = e.filter(F.col("vec_id").isin(cand_ids))
    sim6 = {
        (r["query_id"], r["neighbor_id"]): int(
            math.floor(r["score"] * 1e6 + 0.5)
        )
        for r in brute_force_topk(
            cand_emb,
            cand_emb,
            id_col="vec_id",
            vec_col="embedding",
            k=len(cand_ids) - 1,
            dim=64,
        ).collect()  # bounded: <= 20*19 rows
    }
    first = sorted(cand_ids, key=lambda d: (-rel6[d], d))[0]
    out = [(first, rel6[first], None, 1)]
    picked, remaining = [first], [d for d in cand_ids if d != first]
    for rank in range(2, 11):
        if not remaining:
            break
        scored = sorted(
            remaining,
            key=lambda d: (
                -(rel6[d] - max(sim6[(d, s)] for s in picked)),
                d,
            ),
        )
        d = scored[0]
        pen = max(sim6[(d, s)] for s in picked)
        out.append((d, rel6[d], pen, rank))
        picked.append(d)
        remaining.remove(d)
    return spark.createDataFrame(out, schema)


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------
@register(
    "dedup_exact",
    oracle=f"""
    SELECT md5({_NORM_TEXT}) AS fp, min(doc_id) AS kept_doc_id,
           count(*) AS n_dups
    FROM documents GROUP BY 1
    """,
    tags=("llm", "dedup"),
)
def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the fingerprint, smallest id kept."""
    return exact_dedup(load_table(spark, sf_dir, "documents"), "doc_id", "text")


_MINHASH_AGGS = ", ".join(
    f"min(md5('{j}|' || s)) AS mh{j}" for j in range(8)
)
_BANDS = ", ".join(
    f"(SELECT {b} AS band_idx, mh{2 * b} || '|' || mh{2 * b + 1} AS band_hash)"
    for b in range(4)
)


@register(
    "minhash_lsh_pairs",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, unnest({_SHINGLES}) AS s FROM documents
    ), sig AS (
      SELECT doc_id, {_MINHASH_AGGS} FROM sh GROUP BY doc_id
    ), banded AS (
      SELECT doc_id, b.band_idx, b.band_hash
      FROM sig, LATERAL (
        SELECT 0 AS band_idx, mh0 || '|' || mh1 AS band_hash UNION ALL
        SELECT 1, mh2 || '|' || mh3 UNION ALL
        SELECT 2, mh4 || '|' || mh5 UNION ALL
        SELECT 3, mh6 || '|' || mh7
      ) b
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b
      ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
     AND a.doc_id < b.doc_id
    """,
    tags=("llm", "dedup", "lsh"),
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (8 hashes, md5 family) + LSH banding (4 bands × 2 rows):
    near-dup candidate pairs. One shuffle for signatures, one band
    self-join that only collides near-dups — the 100 TB-safe shape."""
    d = load_table(spark, sf_dir, "documents")
    sh = shingle_rows(d, "doc_id", "text", n=3)
    sigs = minhash_signatures(sh, "doc_id", num_hashes=8)
    return lsh_candidate_pairs(sigs, "doc_id", num_hashes=8, band_size=2)


# Shared CTE chain producing the >=0.5-Jaccard near-dup pairs; reused by
# ngram_jaccard_pairs and (under WITH RECURSIVE) dup_clusters.
# Candidate machinery shared by the Jaccard and containment oracles:
# distinct shingles, stop-shingle removal, set sizes, co-shingled pair
# intersection counts.
_CAND_CTES = f"""sh AS (
      SELECT DISTINCT doc_id, unnest({_SHINGLES}) AS shingle FROM documents
    ), stops AS (
      SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > 20
    ), kept AS (
      SELECT * FROM sh WHERE shingle NOT IN (SELECT shingle FROM stops)
    ), sizes AS (
      SELECT doc_id, count(*) AS set_size FROM kept GROUP BY doc_id
    ), shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
      FROM kept a JOIN kept b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )"""

_PAIR_CTES = f"""{_CAND_CTES}, pairs AS (
      SELECT id_a, id_b,
             n_shared::DOUBLE / (sa.set_size + sb.set_size - n_shared) AS jac
      FROM shared
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE n_shared::DOUBLE / (sa.set_size + sb.set_size - n_shared) >= 0.5
    )"""


@register(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH {_PAIR_CTES}
    SELECT id_a, id_b,
           floor(jac * 1000000 + 0.5) / 1000000 AS jaccard
    FROM pairs
    """,
    tags=("llm", "dedup"),
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (≥0.5) with stop-shingle
    removal (df>20) to kill the boilerplate-shingle quadratic blowup."""
    d = load_table(spark, sf_dir, "documents")
    sh = shingle_rows(d, "doc_id", "text", n=3)
    return jaccard_pairs(sh, "doc_id", max_df=20, threshold=0.5)


@register(
    "jaccard_prefix_pairs",
    # SAME oracle as ngram_jaccard_pairs — one contract, two physical
    # strategies (the corpus_curate / corpus_curate_fast discipline):
    # prefix filtering is LOSSLESS, so the pair sets are identical
    oracle=f"""
    WITH {_PAIR_CTES}
    SELECT id_a, id_b,
           floor(jac * 1000000 + 0.5) / 1000000 AS jaccard
    FROM pairs
    """,
    tags=("llm", "dedup", "prefix-filter"),
)
def jaccard_prefix_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ngram_jaccard_pairs through PREFIX FILTERING (AllPairs/PPJoin,
    Bayardo et al. WWW'07): the exact set-similarity join's 100 TB form.
    Unlike MinHash-LSH (recall < 1) this is LOSSLESS — under one global
    rarest-first token order, a pair with J ≥ t must share a token in
    both docs' (|X| − ceil(t·|X|) + 1)-length prefixes, so the
    prefix-prefix candidate join provably finds every qualifying pair
    while re-shaping the join-key distribution toward low-df shingles
    (boilerplate shingles sit at the END of the order and fall outside
    most prefixes). Size-ratio pruning (|B| ≥ t·|A|) rides the join
    condition. Equality with the co-occurrence-candidate jaccard_pairs
    is pinned row-for-row in tests/test_dedup_prefix.py, including an
    adversarial fixture where every shared shingle is mid-frequency.
    Reference: no counterpart (north-star dedup op;
    operators/dedup.py:jaccard_pairs_prefix)."""
    from ..operators.dedup import jaccard_pairs_prefix

    d = load_table(spark, sf_dir, "documents")
    sh = shingle_rows(d, "doc_id", "text", n=3)
    return jaccard_pairs_prefix(sh, "doc_id", max_df=20, threshold=0.5)


@register(
    "dup_clusters",
    oracle=f"""
    WITH RECURSIVE {_PAIR_CTES},
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(node, lab) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.a, r.lab FROM edges e JOIN reach r ON r.node = e.b
    ),
    comp AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node),
    csize AS (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY 1)
    SELECT c.doc_id, c.cluster_id, s.cluster_size,
           (c.doc_id = c.cluster_id) AS keep
    FROM comp c JOIN csize s USING (cluster_id)
    """,
    tags=("llm", "dedup", "graph"),
)
def dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS (not just pairs): connected components over the
    >=0.5-Jaccard pair graph, canonical doc = min id per component. The
    Spark side iterates min-label propagation (O(diameter) rounds, one
    keyed join each); the oracle computes the same transitive closure
    with a recursive CTE — so even the iterative operator is fully
    hash-verified."""
    from ..operators.dedup import connected_components

    d = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(
        shingle_rows(d, "doc_id", "text", n=3), "doc_id", max_df=20, threshold=0.5
    ).select("id_a", "id_b")
    cc = connected_components(pairs)
    sizes = cc.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    return cc.join(sizes, "label").select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        "cluster_size",
        (F.col("node") == F.col("label")).alias("keep"),
    )


def _simhash_oracle() -> str:
    """SQL mirror of operators/dedup.py::simhash64: 4×16-bit limbs from
    the shingle md5 hex, bit-majority per limb position. '0x…'::BIGINT is
    DuckDB's hex parse (== Spark's conv(hex,16,10))."""
    limbs = ", ".join(
        f"CAST(('0x' || substr(md5(shingle), {1 + 4 * i}, 4)) AS BIGINT) AS l{i}"
        for i in range(4)
    )
    bit_sums = ", ".join(
        f"sum((l{i} >> {b}) & 1) AS b_{i}_{b}"
        for i in range(4)
        for b in range(16)
    )
    limb_vals = ", ".join(
        "("
        + " + ".join(f"(CAST(b_{i}_{b} * 2 > n AS BIGINT) << {b})" for b in range(16))
        + f") AS simhash_limb{i}"
        for i in range(4)
    )
    return f"""
    WITH sh AS (
      SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents
    ), limbs AS (
      SELECT doc_id, {limbs} FROM sh
    ), counted AS (
      SELECT doc_id, count(*) AS n, {bit_sums} FROM limbs GROUP BY doc_id
    )
    SELECT doc_id, {limb_vals} FROM counted
    """


@register(
    "corpus_clean_near",
    oracle=f"""
    WITH RECURSIVE {_PAIR_CTES},
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(node, lab) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.a, r.lab FROM edges e JOIN reach r ON r.node = e.b
    ),
    drops AS (
      SELECT node AS doc_id FROM reach GROUP BY node
      HAVING node <> min(lab)
    )
    SELECT d.doc_id FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM drops)
    """,
    tags=("llm", "dedup", "graph", "pipeline"),
)
def corpus_clean_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware corpus cleaning: drop every non-canonical member of
    a >=0.5-Jaccard cluster (keep the min-id representative plus all
    unclustered docs) — dup_clusters applied as a filter, the keep-policy
    step a training-data pipeline actually ships. The anti-join side
    (non-canonical members) scales with the dup fraction of the corpus,
    so it carries no pinned broadcast hint — AQE broadcasts it at bench
    SF where it is tiny."""
    from ..operators.dedup import connected_components

    d = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(
        shingle_rows(d, "doc_id", "text", n=3), "doc_id", max_df=20, threshold=0.5
    ).select("id_a", "id_b")
    cc = connected_components(pairs)
    drops = cc.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias("doc_id")
    )
    return d.select("doc_id").join(scaled_dim(drops), "doc_id", "left_anti")


@register(
    "simhash",
    oracle=_simhash_oracle(),
    tags=("llm", "dedup"),
)
def simhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per doc as 4×16-bit limbs (bit-majority over shingle
    md5 bits) — builtin bitwise ops only, no UDF."""
    d = load_table(spark, sf_dir, "documents")
    sh = shingle_rows(d, "doc_id", "text", n=3)
    return simhash64(sh, "doc_id")


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------
_DOT = """
    list_reduce(
      list_transform(generate_series(1, len(q.embedding)),
                     i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)),
      (x, y) -> x + y)
"""
_NORM_Q = """
    sqrt(list_reduce(
      list_transform(generate_series(1, len(q.embedding)),
                     i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)),
      (x, y) -> x + y))
"""
_NORM_C = """
    sqrt(list_reduce(
      list_transform(generate_series(1, len(c.embedding)),
                     i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)),
      (x, y) -> x + y))
"""


@register(
    "knn_bruteforce",
    oracle=f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             floor(({_DOT} / ({_NORM_Q} * {_NORM_C})) * 1000000 + 0.5) / 1000000 AS score
      FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 10
    )
    SELECT query_id, neighbor_id, score, rank FROM (
      SELECT *, row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
    tags=("llm", "similarity"),
)
def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for query vectors (vec_id<10): broadcast the
    queries, scan the corpus once — the corpus side never shuffles; scores
    rounded to 6 dp before ranking for cross-engine-stable order."""
    e = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(
        e, e.filter(F.col("vec_id") < 10), id_col="vec_id", vec_col="embedding",
        k=5, dim=64,
    )


# Deterministic pseudo-random hyperplanes shared by the Spark plan and any
# future oracle: plane[i][d] = sin(1 + i*64 + d) (fixed closed form).
import math

_PLANES = [[math.sin(1 + i * 64 + d) for d in range(64)] for i in range(8)]


def _plane_dot_sql(vec: str, plane: list[float]) -> str:
    arr = "[" + ", ".join(repr(float(x)) for x in plane) + "]"
    return (
        f"list_reduce(list_transform(generate_series(1, 64), "
        f"i -> CAST({vec}[i] AS DOUBLE) * ({arr})[i]), (x, y) -> x + y)"
    )


def _lsh_oracle() -> str:
    """SQL mirror of operators/similarity.py::bucketed_topk with _PLANES:
    per-band sign-bit buckets (2 planes/band), candidate = any-band
    collision, exact-cosine rerank rounded to 6 dp. LSH is approximate vs
    BRUTE FORCE, but fully deterministic given the plane set — the fold
    order matches list_reduce bit-for-bit (same proof as knn_bruteforce's
    passing hash), so the oracle reproduces it exactly."""
    buckets = ", ".join(
        f"(CAST(({_plane_dot_sql('embedding', _PLANES[2 * b])} >= 0) AS BIGINT)"
        f" + (CAST(({_plane_dot_sql('embedding', _PLANES[2 * b + 1])} >= 0) AS BIGINT) * 2))"
        f" AS b{b}"
        for b in range(4)
    )
    collide = " OR ".join(f"q.b{b} = c.b{b}" for b in range(4))
    return f"""
    WITH cb AS (
      SELECT vec_id, embedding, {buckets} FROM embeddings
    ), qb AS (
      SELECT * FROM cb WHERE vec_id < 10
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             floor(({_DOT} / ({_NORM_Q} * {_NORM_C})) * 1000000 + 0.5) / 1000000 AS score
      FROM qb q JOIN cb c
        ON c.vec_id <> q.vec_id AND ({collide})
    )
    SELECT query_id, neighbor_id, score, rank FROM (
      SELECT *, row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """


@register(
    "knn_lsh",
    oracle=_lsh_oracle(),
    tags=("llm", "similarity", "lsh"),
)
def knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 via banded random-hyperplane LSH (8 planes = 4 bands × 2
    bits) — the 100 TB path: bucket once, probe a few buckets per query."""
    e = load_table(spark, sf_dir, "embeddings")
    return bucketed_topk(
        e,
        e.filter(F.col("vec_id") < 10),
        id_col="vec_id",
        vec_col="embedding",
        planes=_PLANES,
        k=5,
        dim=64,
    )


@register(
    "knn_lsh_persisted",
    oracle=_lsh_oracle(),  # identical semantics to knn_lsh (pytest also
    # asserts exact result-equality with the in-memory bucketed_topk).
    tags=("llm", "similarity", "lsh", "persisted"),
)
def knn_lsh_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 over a PERSISTED bucketized corpus: bucketize_corpus
    writes the banded corpus partitioned by (band, bucket) once per SF
    (cached under /tmp across calls); probe_topk then broadcast-joins the
    query buckets so dynamic partition pruning skips every non-colliding
    bucket directory — the executable 100 TB path next to the in-memory
    knn_lsh (which re-buckets the corpus every run)."""
    from ..operators.similarity import bucketize_corpus, probe_topk

    e = load_table(spark, sf_dir, "embeddings")
    # params AND data fingerprint in the key: a stale index from an
    # older plane set OR a regenerated corpus at the same path must
    # miss, not silently serve wrong buckets
    bucket_dir = build_once(
        "lshbuckets", sf_dir,
        _params_key(_PLANES, 4, _data_fingerprint(sf_dir, "embeddings")),
        lambda work: bucketize_corpus(
            e, "vec_id", "embedding", _PLANES, work, bands=4, dim=64
        ),
    )
    return probe_topk(
        e.filter(F.col("vec_id") < 10),
        bucket_dir,
        "vec_id",
        "embedding",
        _PLANES,
        k=5,
        bands=4,
        dim=64,
    )


@register(
    "embed_centroids",
    oracle="""
    WITH ex AS (
      SELECT label, u.i AS pos,
             floor(CAST(u.x AS DOUBLE) * 1000000 + 0.5) / 1000000 AS x6
      FROM embeddings,
           LATERAL (SELECT unnest(embedding) AS x,
                           generate_subscripts(embedding, 1) - 1 AS i) u
    )
    SELECT label, pos,
           floor((CAST(sum(CAST(x6 AS DECIMAL(38,12))) AS DOUBLE) / count(*)) * 1000000 + 0.5) / 1000000 AS dim_mean
    FROM ex GROUP BY label, pos
    """,
    tags=("llm", "similarity", "agg"),
)
def embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid components as scalar rows
    (label, pos, dim_mean) — exact decimal sums (order-insensitive →
    deterministic under any partitioning). The array-assembling form is
    label_centroids(); the catalog query emits scalars because the oracle
    canonicalizer can't sort/hash array cells."""
    from ..operators.similarity import label_centroid_dims

    e = load_table(spark, sf_dir, "embeddings")
    return label_centroid_dims(e, "label", "embedding")


@register(
    "knn_ivf",
    oracle=None,  # approximate by construction; pytest measures recall.
    tags=("llm", "similarity", "ivf"),
)
def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 via IVF (k-means coarse quantizer, 8 cells, nprobe=3):
    the corpus is bucketed into inverted lists once; each query batch
    scans ~nprobe/k of the corpus and exact-reranks. The second 100 TB
    ANN path next to banded LSH (knn_lsh) — IVF wins when vectors
    cluster; LSH wins when they don't."""
    from ..operators.similarity import ivf_topk, kmeans_centroids

    e = load_table(spark, sf_dir, "embeddings")
    centroids = kmeans_centroids(e, "embedding", k=8, iters=2, id_col="vec_id")
    return ivf_topk(
        e,
        e.filter(F.col("vec_id") < 10),
        id_col="vec_id",
        vec_col="embedding",
        centroids=centroids,
        k=5,
        nprobe=3,
        dim=64,
    )


@register(
    "knn_ivf_persisted",
    oracle=None,  # approximate by construction; pytest asserts exact
    # result-equality with the in-memory ivf_topk instead.
    tags=("llm", "similarity", "ivf", "persisted"),
)
def knn_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 over PERSISTED inverted lists: ivf_build assigns cells
    and writes the corpus partitioned by cell once per SF (cached under
    /tmp across calls, like knn_lsh_persisted); ivf_probe broadcast-joins
    each query's nprobe cells so partition pruning skips the rest — both
    ANN families now have their executable ingest-once/probe-cheap
    form."""
    cell_dir, centroids, e = _ivf_persisted_index(spark, sf_dir)
    from ..operators.similarity import ivf_probe

    return ivf_probe(
        e.filter(F.col("vec_id") < 10),
        cell_dir,
        "vec_id",
        "embedding",
        centroids,
        k=5,
        nprobe=3,
        dim=64,
    )


def _ivf_persisted_index(spark: SparkSession, sf_dir: str):
    """Build-or-load the persisted IVF index (inverted lists partitioned
    by cell + the centroid sidecar) shared by every nprobe variant.
    Returns (cell_dir, centroids, embeddings)."""
    import json as _json
    import os as _os

    from ..operators.similarity import ivf_build, kmeans_centroids

    e = load_table(spark, sf_dir, "embeddings")

    # The quantizer is PART of the index: persist the centroids next to
    # the inverted lists so warm probes skip the Lloyd iterations (which
    # dominate otherwise — the k-means passes cost more than the probe).
    def build(cell_dir: str) -> None:
        centroids = kmeans_centroids(e, "embedding", k=8, iters=2, id_col="vec_id")
        ivf_build(e, "vec_id", "embedding", centroids, cell_dir, dim=64)
        with open(_os.path.join(cell_dir, "_centroids.json"), "w") as f:
            _json.dump(centroids, f)

    cell_dir = build_once(
        "ivfcells", sf_dir,
        _params_key(
            "ivf-k8-i2-seedhash-idtie", 64,
            _data_fingerprint(sf_dir, "embeddings"),
        ),
        build,
    )
    with open(_os.path.join(cell_dir, "_centroids.json")) as f:
        centroids = _json.load(f)
    return cell_dir, centroids, e


@register(
    "knn_ivf_probe6",
    oracle=None,  # approximate by construction; recall measured per-round
    # in bench (recall_at_5) and the curve in RECALL.md / gen_recall.
    tags=("llm", "similarity", "ivf", "persisted", "multiprobe"),
)
def knn_ivf_probe6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF MULTI-PROBE operating point (r14 verdict #6): the same
    persisted index as knn_ivf_persisted, probing 6 of 8 cells instead
    of 3. nprobe is THE recall/latency knob of any IVF deployment; the
    measured curve on the near-uniform corpora (gen_recall / RECALL.md)
    is recall@5 0.26→1.00 across nprobe 1→8 with the probe wall time
    FLAT at test SFs (broadcast-join overhead dominates), and nprobe=6
    is the documented high-recall point (0.84 at sf0.01, 0.92 at the
    sf0.1 bench corpus — recorded per-round in recall_at_5). At
    100 TB the trade is real — probe cost scales ~nprobe/k_cells of the
    index scan — which is why the knob is a catalog variant and not a
    constant: the near-uniform corpus is the WORST case for IVF (recall
    ≈ coverage), so this floor transfers to clustered corpora, where
    nprobe=2 already reads ~1.0 (RECALL.md clustered column)."""
    cell_dir, centroids, e = _ivf_persisted_index(spark, sf_dir)
    from ..operators.similarity import ivf_probe

    return ivf_probe(
        e.filter(F.col("vec_id") < 10),
        cell_dir,
        "vec_id",
        "embedding",
        centroids,
        k=5,
        nprobe=6,
        dim=64,
    )


def _exact_kmeans_ctes(k: int = 4, iters: int = 2) -> str:
    """Unrolled CTE chain reproducing operators/kmeans_exact.exact_kmeans
    bit-for-bit: quantize to micro-units, seed on the k smallest ids,
    then ``iters`` Lloyd rounds of (integer argmin assign, half-up
    integer centroid update with the keep-on-empty COALESCE), ending in
    ``kmf`` = the final (vec_id, cluster, dist) assignment. Every stage
    MATERIALIZED — the chain references each generation twice (the
    assignment scan and the empty-cluster COALESCE), and plain CTEs
    re-evaluate multiplicatively in DuckDB (the mmr_rerank lesson)."""

    def assign(src: str, cent: str, out: str) -> str:
        return f"""
    {out} AS MATERIALIZED (
      SELECT vec_id, j, dist FROM (
        SELECT vec_id, j, dist,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn
        FROM (
          SELECT d.vec_id, c.j, SUM((d.x - c.c) * (d.x - c.c)) AS dist
          FROM {src} d JOIN {cent} c ON c.pos = d.pos
          GROUP BY d.vec_id, c.j
        )
      ) WHERE rn = 1
    )"""

    parts = [
        f"""
    kmq AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)
               * 1000000 + 0.5) AS BIGINT)) AS q
      FROM embeddings
    ),
    kmd AS MATERIALIZED (
      SELECT vec_id, u.i - 1 AS pos, u.x
      FROM kmq, LATERAL (SELECT unnest(q) AS x,
                                generate_subscripts(q, 1) AS i) u
    ),
    kmseeds AS (
      SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS j
      FROM (SELECT vec_id FROM kmq ORDER BY vec_id LIMIT {k})
    ),
    kmc0 AS MATERIALIZED (
      SELECT s.j, d.pos, d.x AS c
      FROM kmseeds s JOIN kmd d ON d.vec_id = s.vec_id
    )"""
    ]
    for t in range(1, iters + 1):
        parts.append(assign("kmd", f"kmc{t - 1}", f"kma{t}"))
        parts.append(f"""
    kms{t} AS MATERIALIZED (
      SELECT a.j, d.pos,
             CAST(floor(CAST(SUM(d.x) AS DOUBLE) / COUNT(*) + 0.5)
                  AS BIGINT) AS c
      FROM kma{t} a JOIN kmd d ON d.vec_id = a.vec_id
      GROUP BY a.j, d.pos
    ),
    kmc{t} AS MATERIALIZED (
      SELECT p.j, p.pos, COALESCE(s.c, p.c) AS c
      FROM kmc{t - 1} p LEFT JOIN kms{t} s
        ON s.j = p.j AND s.pos = p.pos
    )""")
    parts.append(assign("kmd", f"kmc{iters}", "kmf"))
    return ",".join(parts)


@register(
    "embed_kmeans",
    oracle=f"""
    WITH {_exact_kmeans_ctes(4, 2)}
    SELECT vec_id, j AS cluster, CAST(dist AS BIGINT) AS dist FROM kmf
    """,
    tags=("llm", "similarity", "clustering", "iterative"),
)
def embed_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer Lloyd k-means (k=4, 2 unrolled iterations) over the
    embedding corpus — the clustering/IVF family's first FULL-ORACLE
    member. The float path (knn_ivf's kmeans_centroids) is rows-only
    because Murmur3 seed order and float means don't reproduce in SQL;
    this variant's closed-form spec (micro-unit quantization, k-smallest-
    id seeds, integer argmin with ties to the lowest cluster, half-up
    integer centroid rounding, keep-on-empty) makes every assignment bit
    reproducible — the oracle unrolls both Lloyd rounds into
    MATERIALIZED CTEs and hash-checks all n (vec_id, cluster, dist)
    rows. Scale shape: one codegen'd k×dim argmin pass per iteration
    over a cached quantized frame; only k×64 centroid cells reach the
    driver (operators/kmeans_exact.py docstring has the 2^53 budget)."""
    from ..operators.kmeans_exact import exact_kmeans

    e = load_table(spark, sf_dir, "embeddings")
    asg, _ = exact_kmeans(e, "vec_id", "embedding", k=4, iters=2)
    return asg


@register(
    "knn_ivf_det",
    oracle=f"""
    WITH {_exact_kmeans_ctes(4, 2)},
    pcells AS MATERIALIZED (
      SELECT vec_id AS query_id, j AS cluster FROM (
        SELECT vec_id, j,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn
        FROM (
          SELECT d.vec_id, c.j, SUM((d.x - c.c) * (d.x - c.c)) AS dist
          FROM kmd d JOIN kmc2 c ON c.pos = d.pos
          WHERE d.vec_id < 10
          GROUP BY d.vec_id, c.j
        )
      ) WHERE rn <= 2
    ),
    kcand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM pcells p JOIN kmf a ON a.j = p.cluster
      WHERE a.vec_id <> p.query_id
    ),
    kscored AS (
      SELECT k.query_id, k.neighbor_id,
             floor(({_DOT} / ({_NORM_Q} * {_NORM_C})) * 1000000 + 0.5)
               / 1000000 AS score
      FROM kcand k
        JOIN embeddings q ON q.vec_id = k.query_id
        JOIN embeddings c ON c.vec_id = k.neighbor_id
    )
    SELECT query_id, neighbor_id, score, rank FROM (
      SELECT *, row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
      FROM kscored
    ) WHERE rank <= 5
    """,
    tags=("llm", "similarity", "ivf", "clustering"),
)
def knn_ivf_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 over the exact-k-means cells (k=4 cells, nprobe=2) —
    the IVF family's first FULL-ORACLE entry. Approximate by design
    like every inverted-file index (the probe scans only the 2 cells
    nearest each query — ~nprobe/k of the corpus, the 100 TB contract),
    but — unlike the Murmur3-seeded float path, whose driver row is
    rows-only — deterministically reproducible: cells come from
    embed_kmeans' closed-form recurrence and scoring is the 6-dp
    knn_bruteforce cosine, so the ENTIRE probe (cell assignment
    included) unrolls into the oracle and the driver hash-checks it.
    Recall vs knn_bruteforce is measured next to the other variants in
    tests (clustered-corpus floor; near-uniform is IVF's documented
    worst case)."""
    from ..operators.kmeans_exact import ivf_det_topk

    e = load_table(spark, sf_dir, "embeddings")
    return ivf_det_topk(
        e,
        e.filter(F.col("vec_id") < 10),
        "vec_id",
        "embedding",
        k=5,
        clusters=4,
        iters=2,
        nprobe=2,
        dim=64,
    )


@register(
    "semantic_dedup_det",
    oracle=f"""
    WITH {_exact_kmeans_ctes(4, 2)},
    sd_drop AS (
      SELECT DISTINCT b.vec_id AS drop_id
      FROM kmf a JOIN kmf b ON a.j = b.j AND a.vec_id < b.vec_id
        JOIN embeddings q ON q.vec_id = a.vec_id
        JOIN embeddings c ON c.vec_id = b.vec_id
      WHERE floor(({_DOT} / ({_NORM_Q} * {_NORM_C})) * 1000000 + 0.5)
              / 1000000 >= 0.35
    )
    SELECT k.vec_id, CAST(k.j AS BIGINT) AS cell,
           (d.drop_id IS NULL) AS keep
    FROM kmf k LEFT JOIN sd_drop d ON d.drop_id = k.vec_id
    """,
    tags=("llm", "dedup", "similarity", "clustering"),
)
def semantic_dedup_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with a FULL value-hash oracle — the rows-only
    semantic_dedup's deterministic twin (the r13 rows-only→full-oracle
    discipline applied to the SemDeDup family). Same architecture
    (pairwise cosine bounded by k-means cells: Σ|cell|², never n²) and
    the same keep-first rule (drop a doc iff a lower-id doc in its cell
    scores 6-dp cosine ≥ 0.35 against it), but the cells come from
    embed_kmeans' closed-form integer recurrence, so cells, scores, and
    the keep set are bit-reproducible: the oracle composes the unrolled
    Lloyd CTEs with the cell-bounded pair join and the driver
    hash-checks every (vec_id, cell, keep) row. The 0.35 threshold sits
    at ~p99.9 of the corpus pair-cosine distribution — a real but
    sparse drop set at every SF."""
    from ..operators.kmeans_exact import semantic_dedup_exact

    e = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup_exact(
        e, "vec_id", "embedding", threshold=0.35, k=4, iters=2, dim=64
    )


def _bpe_rounds_ctes(rounds: int = 3) -> str:
    """Unrolled CTEs reproducing operators/bpe.bpe_learn bit-for-bit:
    token stream ``bs1`` (doc_id, pos, tok), then per round — pair
    counts, the (cnt desc, left, right) argmax, greedy non-overlapping
    occurrence selection via gaps-and-islands (consecutive occurrence
    positions can only arise for left==right runs; even offsets within
    each run are exactly the left-to-right greedy picks of
    ``_merge_pair``'s fold), and the stream rewrite (chosen position
    takes the concatenated token, the absorbed right neighbor drops,
    positions renumber). The NEXT round's counts run on the rewritten
    stream, so a hash-green result pins the rewrite semantics, not just
    the first argmax."""
    parts = [
        f"""
    bs1 AS MATERIALIZED (
      SELECT doc_id, u.i AS pos, u.tok
      FROM documents,
           LATERAL (SELECT unnest({_TOKENS}) AS tok,
                           generate_subscripts({_TOKENS}, 1) AS i) u
    )"""
    ]
    for t in range(1, rounds + 1):
        parts.append(f"""
    bb{t} AS MATERIALIZED (
      SELECT a.tok AS l, b.tok AS r, COUNT(*) AS cnt
      FROM bs{t} a JOIN bs{t} b
        ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      GROUP BY 1, 2
      ORDER BY cnt DESC, l, r LIMIT 1
    ),
    bocc{t} AS MATERIALIZED (
      SELECT a.doc_id, a.pos
      FROM bs{t} a JOIN bs{t} b
        ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      WHERE a.tok = (SELECT l FROM bb{t})
        AND b.tok = (SELECT r FROM bb{t})
    ),
    bch{t} AS MATERIALIZED (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos,
               row_number() OVER (PARTITION BY doc_id, run
                                  ORDER BY pos) - 1 AS off
        FROM (
          SELECT doc_id, pos,
                 pos - row_number() OVER (PARTITION BY doc_id
                                          ORDER BY pos) AS run
          FROM bocc{t}
        )
      ) WHERE off % 2 = 0
    ),
    bs{t + 1} AS MATERIALIZED (
      SELECT doc_id,
             row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS pos,
             tok
      FROM (
        SELECT s.doc_id, s.pos,
               CASE WHEN c.pos IS NOT NULL
                    THEN (SELECT l FROM bb{t}) || (SELECT r FROM bb{t})
                    ELSE s.tok END AS tok
        FROM bs{t} s
          LEFT JOIN bch{t} c
            ON c.doc_id = s.doc_id AND c.pos = s.pos
          LEFT JOIN bch{t} d
            ON d.doc_id = s.doc_id AND d.pos = s.pos - 1
        WHERE d.pos IS NULL
      )
    )""")
    arms = "\n      UNION ALL ".join(
        f"SELECT {t} AS merge_idx, l AS left_tok, r AS right_tok, cnt "
        f"FROM bb{t}"
        for t in range(1, rounds + 1)
    )
    parts.append(f"""
    bmerges AS (
      {arms}
    )""")
    return ",".join(parts)


@register(
    "bpe_train_merges",
    oracle=f"""
    WITH {_bpe_rounds_ctes(3)}
    SELECT merge_idx, left_tok, right_tok, cnt FROM bmerges
    """,
    tags=("llm", "tokenizer", "iterative"),
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE TRAINING LOOP itself, oracle-checked — 3 merge rounds of
    operators/bpe.bpe_learn (count pairs → deterministic (cnt desc,
    left, right) argmax → greedy non-overlapping rewrite → recount),
    returning (merge_idx, left_tok, right_tok, cnt) in merge order.
    Round t's count runs on round t−1's REWRITTEN stream, so the
    hash-green driver row pins the greedy merge application (the
    gaps-and-islands/fold equivalence), not just pair counting —
    upgrading the tokenizer-training family from pytest-pinned
    (tests/test_bpe.py's local reference) to the full-oracle discipline.
    Per round: one narrow pair aggregate (map-side combined, Zipf head
    absorbed) + one element-wise rewrite; the driver sees exactly one
    (left, right, cnt) row per round."""
    from ..operators.bpe import bpe_learn

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_learn(docs, "doc_id", "text", 3)
    return spark.createDataFrame(
        [
            (i + 1, left, right, cnt)
            for i, (left, right, cnt) in enumerate(merges)
        ],
        "merge_idx long, left_tok string, right_tok string, cnt long",
    )


_CLUSTER_DRIFT_ORACLE = f"""
    WITH {_exact_kmeans_ctes(4, 2)},
    cdm AS (
      SELECT a.j, d.pos,
             CAST(floor(CAST(SUM(d.x) AS DOUBLE) / COUNT(*) + 0.5)
                  AS BIGINT) AS m
      FROM kmf a JOIN kmd d ON d.vec_id = a.vec_id
      GROUP BY a.j, d.pos
    ),
    cdn AS (SELECT j, COUNT(*) AS n FROM kmf GROUP BY j),
    cdd AS (
      SELECT c.j,
             SUM((COALESCE(m.m, c.c) - c.c)
                 * (COALESCE(m.m, c.c) - c.c)) AS drift2
      FROM kmc2 c LEFT JOIN cdm m ON m.j = c.j AND m.pos = c.pos
      GROUP BY c.j
    )
    SELECT c.j AS cell, COALESCE(n.n, 0) AS n,
           CAST(d.drift2 AS BIGINT) AS drift2
    FROM (SELECT DISTINCT j FROM kmc2) c
      LEFT JOIN cdn n ON n.j = c.j
      JOIN cdd d ON d.j = c.j
    """


@register(
    "cluster_drift",
    oracle=_CLUSTER_DRIFT_ORACLE,
    tags=("llm", "similarity", "clustering", "quality"),
)
def cluster_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell occupancy + centroid drift under the exact k-means
    cells: drift2 = Σ_d (m_d − c_d)² between each FROZEN centroid and
    the half-up-rounded mean of its current members — exactly how far
    one more Lloyd update would move it. Near zero at freeze time;
    grows as the corpus shifts — the re-train-the-quantizer signal an
    IVF deployment needs. Empty cell ⇒ (n=0, drift2=0), the
    keep-on-empty rule. Integer end to end, so the STREAMING mart twin
    (cluster_drift_live) shares this oracle verbatim. The k-row result
    is driver-materialized off the k×dim bounded collect (the
    key_skew_profile convention)."""
    from ..operators.kmeans_exact import cluster_drift_frame

    e = load_table(spark, sf_dir, "embeddings")
    return cluster_drift_frame(e, "vec_id", "embedding", k=4, iters=2)


def _cells_index_dir(spark: SparkSession, sf_dir: str) -> tuple[str, list]:
    """Ensure the 3-batch per-cell-mart ingest exists under /tmp for
    this corpus (params + data fingerprint key — the gram-mart
    discipline) and return (index_dir, frozen_centroids). Batches split
    by a hash of the vector id so every batch feeds every cell — the
    additive fold, not batch-local luck, is what the live pin
    exercises."""
    import json as _json
    import os

    from ..operators.kmeans_exact import exact_kmeans
    from ..streaming.cells import cells_ingest_batch

    def build(work: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        _, cents = exact_kmeans(emb, "vec_id", "embedding", k=4, iters=2)
        with open(os.path.join(work, "cents.json"), "w") as fh:
            _json.dump(cents, fh)
        body = cells_ingest_batch(spark, os.path.join(work, "cells"), cents)
        for i in range(3):
            body(emb.filter(F.pmod(F.hash("vec_id"), F.lit(3)) == i), i)

    work = build_once(
        "cellidx", sf_dir,
        _params_key("cells4x2", _data_fingerprint(sf_dir, "embeddings")),
        build,
    )
    with open(os.path.join(work, "cents.json")) as fh:
        cents = _json.load(fh)
    return os.path.join(work, "cells"), cents


@register(
    "cluster_drift_live",
    # identical SQL to the batch entry: assignment is per-row under the
    # frozen centroids and the per-cell (s, n) partials are an additive
    # integer monoid, so the folded mart reproduces the batch report's
    # integers exactly at any batch split
    oracle=_CLUSTER_DRIFT_ORACLE,
    tags=("streaming", "similarity", "clustering", "quality"),
)
def cluster_drift_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cluster_drift answered from the STREAMING per-cell mart
    (streaming/cells.py): micro-batches append only their own
    k×dim-cell quantized sums/counts under the FROZEN exact-k-means
    centroids; the read side folds the mart (replay-dedup on
    src_batch) and computes the same half-up means and integer drift —
    batch ≡ live EXACTLY by integer associativity, so this twin shares
    the batch oracle verbatim. The live-monitor shape at 100 TB:
    per-batch cost is one argmin pass over the new vectors, mart state
    is k×dim longs, and the drift signal never rescans the corpus."""
    from ..streaming.cells import cluster_drift_report, fold_cells

    index_dir, cents = _cells_index_dir(spark, sf_dir)
    return cluster_drift_report(spark, cents, fold_cells(spark, index_dir))


def _kcenter_ctes(m: int = 5) -> str:
    """Unrolled CTEs reproducing operators/kmeans_exact.kcenter_greedy:
    seed = smallest id; center t = argmax of the running min distance
    (ties to the smallest id); kd{t} = every point's distance to center
    t; kcov = the final cover (nearest center, ties to the earliest
    step). MATERIALIZED throughout — the running-min chain references
    each kd twice (selection and cover)."""
    parts = [
        """
    kcq AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)
               * 1000000 + 0.5) AS BIGINT)) AS q
      FROM embeddings
    ),
    kcd AS MATERIALIZED (
      SELECT vec_id, u.i - 1 AS pos, u.x
      FROM kcq, LATERAL (SELECT unnest(q) AS x,
                                generate_subscripts(q, 1) AS i) u
    ),
    ksel1 AS MATERIALIZED (
      SELECT vec_id FROM kcq ORDER BY vec_id LIMIT 1
    )"""
    ]
    for t in range(1, m + 1):
        parts.append(f"""
    kv{t} AS MATERIALIZED (
      SELECT d.pos, d.x FROM kcd d
      WHERE d.vec_id = (SELECT vec_id FROM ksel{t})
    ),
    kd{t} AS MATERIALIZED (
      SELECT d.vec_id, SUM((d.x - s.x) * (d.x - s.x)) AS dist
      FROM kcd d JOIN kv{t} s ON s.pos = d.pos
      GROUP BY d.vec_id
    )""")
        if t == 1:
            parts.append("""
    km1 AS MATERIALIZED (SELECT vec_id, dist FROM kd1)""")
        else:
            parts.append(f"""
    km{t} AS MATERIALIZED (
      SELECT m.vec_id, LEAST(m.dist, k.dist) AS dist
      FROM km{t - 1} m JOIN kd{t} k USING (vec_id)
    )""")
        if t < m:
            parts.append(f"""
    ksel{t + 1} AS MATERIALIZED (
      SELECT vec_id FROM km{t} ORDER BY dist DESC, vec_id LIMIT 1
    )""")
    arms = "\n      UNION ALL ".join(
        f"SELECT vec_id, {t - 1} AS step, "
        f"(SELECT vec_id FROM ksel{t}) AS center_id, dist FROM kd{t}"
        for t in range(1, m + 1)
    )
    parts.append(f"""
    kall AS (
      {arms}
    ),
    kcov AS (
      SELECT vec_id, center_id, CAST(dist AS BIGINT) AS dist FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY vec_id ORDER BY dist, step) AS rn
        FROM kall
      ) WHERE rn = 1
    )""")
    return ",".join(parts)


@register(
    "kcenter_select",
    oracle=f"""
    WITH {_kcenter_ctes(5)}
    SELECT vec_id, center_id, dist FROM kcov
    """,
    tags=("llm", "similarity", "selection", "iterative"),
)
def kcenter_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (farthest-point) coreset selection, m=5 — the
    diversity-selection primitive for training data (pick the m most
    mutually distant exemplars; 2-approximation of the optimal k-center
    cover). Closed-form spec (smallest-id seed, integer running-min
    argmax with ties to the smallest id) so all m greedy steps unroll
    into MATERIALIZED CTEs and the driver hash-checks the full cover —
    every point's nearest selected center and integer distance (the max
    of which is the coverage radius). Each step is one distributed
    argmax pass (codegen'd min-over-selected fold, TakeOrdered(1));
    only m×64 integers reach the driver."""
    from ..operators.kmeans_exact import kcenter_greedy

    e = load_table(spark, sf_dir, "embeddings")
    cover, _ = kcenter_greedy(e, "vec_id", "embedding", m=5)
    return cover


_SQ8_DECODE = """
      list_transform(generate_series(1, 64), i ->
        bb.mns[i] + (CAST(
          CASE WHEN bb.mxs[i] > bb.mns[i] THEN
            least(greatest(floor((CAST(e.embedding[i] AS DOUBLE) - bb.mns[i])
                                 * 255.0 / (bb.mxs[i] - bb.mns[i]) + 0.5),
                           0), 255)
          ELSE 0 END AS DOUBLE) * (bb.mxs[i] - bb.mns[i])) / 255.0)
"""

# Integer SQ8 codes (same clamp/floor tree as operators/sq.py:sq8_encode)
_SQ8_CODES = """
      list_transform(generate_series(1, 64), i -> CAST(
        CASE WHEN bb.mxs[i] > bb.mns[i] THEN
          least(greatest(floor((CAST(e.embedding[i] AS DOUBLE) - bb.mns[i])
                               * 255.0 / (bb.mxs[i] - bb.mns[i]) + 0.5),
                         0), 255)
        ELSE 0 END AS DOUBLE))
"""

# The SPLIT approximate dot (the sq8_topk contract): qmn + Σ c_i·t_i,
# with qmn = Σ q_i·mn_i and t_i = (q_i·(mx_i − mn_i))/255 precomputed per
# query — a reassociation of Σ q_i·decode_i, so this tree and
# operators/sq.py:sq8_topk must change together.
_SQ8_DOT_SPLIT = """
    (qa.qmn + list_reduce(
      list_transform(generate_series(1, 64),
                     i -> cc.cvec[i] * qa.t[i]),
      (x, y) -> x + y))
"""

_SQ8_NORM_DEC = """
    sqrt(list_reduce(
      list_transform(generate_series(1, 64), i -> c.dvec[i] * c.dvec[i]),
      (x, y) -> x + y))
"""


# shared by knn_sq8 and knn_sq8_persisted — identical semantics, the
# persisted entry only changes WHERE the codes live
_SQ8_TOPK_ORACLE = f"""
    WITH ex AS (
      SELECT u.i AS pos, CAST(u.x AS DOUBLE) AS x
      FROM embeddings,
           LATERAL (SELECT unnest(embedding) AS x,
                           generate_subscripts(embedding, 1) AS i) u
    ), bb AS (
      SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs
      FROM (SELECT pos, min(x) AS mn, max(x) AS mx FROM ex GROUP BY pos)
    ), dec AS (
      SELECT e.vec_id, {_SQ8_DECODE} AS dvec
      FROM embeddings e, bb
    ), cod AS (
      SELECT e.vec_id, {_SQ8_CODES} AS cvec
      FROM embeddings e, bb
    ), qadj AS (
      SELECT q.vec_id,
             list_reduce(
               list_transform(generate_series(1, 64),
                              i -> CAST(q.embedding[i] AS DOUBLE) * bb.mns[i]),
               (x, y) -> x + y) AS qmn,
             list_transform(generate_series(1, 64),
                            i -> (CAST(q.embedding[i] AS DOUBLE)
                                  * (bb.mxs[i] - bb.mns[i])) / 255.0) AS t
      FROM embeddings q, bb WHERE q.vec_id < 10
    ), approx AS (
      SELECT qa.vec_id AS query_id, c.vec_id AS neighbor_id,
             floor(({_SQ8_DOT_SPLIT} / ({_NORM_Q} * {_SQ8_NORM_DEC}))
                   * 1000000 + 0.5) / 1000000 AS approx
      FROM qadj qa
      JOIN embeddings q ON q.vec_id = qa.vec_id
      JOIN dec c ON c.vec_id <> qa.vec_id
      JOIN cod cc ON cc.vec_id = c.vec_id
    ), short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY approx DESC, neighbor_id) AS rn
        FROM approx) WHERE rn <= 128
    )
    SELECT query_id, neighbor_id, score, rank FROM (
      SELECT query_id, neighbor_id, score, row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, neighbor_id
             ) AS rank
      FROM (
        SELECT s.query_id, s.neighbor_id,
               floor(({_DOT} / ({_NORM_Q} * {_NORM_C}))
                     * 1000000 + 0.5) / 1000000 AS score
        FROM short s
        JOIN embeddings q ON q.vec_id = s.query_id
        JOIN embeddings c ON c.vec_id = s.neighbor_id
      )
    ) WHERE rank <= 5
    """


@register(
    "knn_sq8",
    oracle=_SQ8_TOPK_ORACLE,
    tags=("llm", "similarity", "sq8"),
)
def knn_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 by SQ8 scalar quantization (operators/sq.py — faiss
    IndexScalarQuantizer): per-dimension uint8 codes against exact
    [min, max] bounds (4× smaller than float32, no codebook training),
    decoded and scored entirely JVM-side (zero Python workers — the
    only compressed-ANN path with that property), 6-dp
    approximate-cosine shortlist of 128, exact rerank over shortlisted
    raw vectors. Deterministic end to end ⇒ full DuckDB oracle, unlike
    the trained-quantizer PQ/IVF family."""
    from ..operators.sq import sq8_bounds, sq8_encode, sq8_topk

    e = load_table(spark, sf_dir, "embeddings")
    bounds = sq8_bounds(e, "embedding")
    codes = sq8_encode(e, "vec_id", "embedding", bounds)
    queries = e.filter(F.col("vec_id") < 10)
    return sq8_topk(
        codes, queries, "vec_id", "embedding", bounds,
        k=5, rerank=e, shortlist=128, dim=64,
    )


@register(
    "knn_sq8_persisted",
    # r13 (was rows-only): knn_sq8's oracle verbatim — persisted ≡
    # in-memory was always pytest-pinned, but a hash-checked driver row
    # additionally exercises the PERSISTED artifact path cross-process
    # (stale-cache or sidecar-decode drift would hash-mismatch here even
    # with the in-memory twin green).
    oracle=_SQ8_TOPK_ORACLE,
    tags=("llm", "similarity", "sq8", "persisted"),
)
def knn_sq8_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 over a PERSISTED SQ8 index: the codes table is encoded
    once per corpus (cached under /tmp keyed by params + data
    fingerprint, bounds as a JSON sidecar — the PQ/LSH/IVF persisted
    convention) and probes pay only the codegen decode-scan + shortlist
    rerank. knn_sq8 (in-memory twin) re-derives bounds and codes per run;
    this entry's bench number is the steady-state query cost."""
    import json as _json
    import os as _os

    from ..operators.sq import sq8_bounds, sq8_encode, sq8_topk, sq8_with_norm

    e = load_table(spark, sf_dir, "embeddings")

    def build(sq_dir: str) -> None:
        bounds = sq8_bounds(e, "embedding")
        sq8_with_norm(
            sq8_encode(e, "vec_id", "embedding", bounds), bounds
        ).write.parquet(_os.path.join(sq_dir, "codes"))
        with open(_os.path.join(sq_dir, "bounds.json"), "w") as f:
            _json.dump(bounds, f)

    sq_dir = build_once(
        "sq8", sf_dir,
        _params_key("sq8", 255, _data_fingerprint(sf_dir, "embeddings")),
        build,
    )
    with open(_os.path.join(sq_dir, "bounds.json")) as f:
        bounds = [tuple(b) for b in _json.load(f)]
    codes = read_parquet_memo(spark, _os.path.join(sq_dir, "codes"))
    queries = e.filter(F.col("vec_id") < 10)
    return sq8_topk(
        codes, queries, "vec_id", "embedding", bounds,
        k=5, rerank=e, shortlist=128, dim=64,
    )


@register(
    "knn_ivf_sq8",
    oracle=None,  # the coarse quantizer is trained k-means (the IVF
    # constraint), so the entry is rows-only; recall floors on both
    # RECALL.md fixtures + the partition-pruned probe plan are pinned in
    # tests/test_sq.py.
    tags=("llm", "similarity", "ivf", "sq8", "persisted"),
)
def knn_ivf_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 over a PERSISTED IVF-SQ8 index (faiss "IVF,SQ8",
    residual-encoded): coarse k-means cells bound the CANDIDATES — the
    index is parquet PARTITIONED BY cell, so each probe's ``cell IN
    (nprobe nearest)`` filter is partition pruning and unprobed cell
    directories are never opened — while SQ8 codes bound the BYTES at
    1 B/dimension, quantizing the residual x − centroid[cell] against
    exact per-dimension bounds (residuals concentrate near zero, so the
    8-bit step is far finer than flat SQ8's — the IndexIVFPQ residual
    argument applied to the scalar quantizer). Unlike PQ's ADC scan the
    probe stays entirely JVM-side: split-dot scoring over the pruned
    codes (driver-precomputed per-(query, cell) terms broadcast as a
    |q|×nprobe-row table), shortlist window, exact rerank over
    shortlist-sized raw-vector point lookups. Round-9 answer to the
    flat-scan knn_sq8_persisted probe (round-8 verdict #3): same
    compression, nprobe/k_cells of the scan."""
    import json as _json
    import os as _os

    from ..operators.similarity import kmeans_centroids
    from ..operators.sq import (
        _ivf_residual_frame,
        ivf_sq8_encode,
        ivf_sq8_topk,
        sq8_bounds,
    )

    e = load_table(spark, sf_dir, "embeddings")

    def build(ix_dir: str) -> None:
        # the ivf_pq_persisted discipline: one collected hash-ordered
        # sample trains the coarse quantizer
        sample_rows = (
            e.select("vec_id", "embedding")
            .withColumn(
                "_h", F.hash(F.col("embedding").cast("array<string>"))
            )
            .orderBy("_h", "vec_id")
            .limit(2048)
            .select("vec_id", "embedding")
            .collect()
        )
        sample = spark.createDataFrame(
            sample_rows, e.select("vec_id", "embedding").schema
        )
        cents = kmeans_centroids(
            sample, "embedding", k=8, iters=2, id_col="vec_id"
        )
        bounds = sq8_bounds(
            _ivf_residual_frame(e, "vec_id", "embedding", cents), "res"
        )
        ivf_sq8_encode(
            e, "vec_id", "embedding", cents, bounds
        ).write.partitionBy("cell").parquet(_os.path.join(ix_dir, "index"))
        with open(_os.path.join(ix_dir, "quantizers.json"), "w") as f:
            _json.dump({"centroids": cents, "bounds": bounds}, f)

    ix_dir = build_once(
        "ivfsq8", sf_dir,
        _params_key(
            "ivfsq8-res", 8, 255, _data_fingerprint(sf_dir, "embeddings")
        ),
        build,
    )
    with open(_os.path.join(ix_dir, "quantizers.json")) as f:
        quant = _json.load(f)
    index = read_parquet_memo(spark, _os.path.join(ix_dir, "index"))
    queries = e.filter(F.col("vec_id") < 10)
    return ivf_sq8_topk(
        index, queries, "vec_id", "embedding",
        quant["centroids"], [tuple(b) for b in quant["bounds"]],
        k=5, nprobe=4, rerank=e, shortlist=128, dim=64,
    )


@register(
    "knn_pq",
    oracle=None,  # numpy-trained codebooks and argmin codes are not
    # DuckDB-reproducible (the IVF family's constraint, squared); recall
    # floor + full-path determinism pinned in tests/test_similarity.py.
    tags=("llm", "similarity", "pq"),
)
def knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 by product quantization (operators/pq.py): m=8 subspace
    codebooks of 256 centroids (8-bit codes, the faiss default width) trained on a deterministic sample, corpus
    encoded to 8 codes/vector (32× smaller than float32), queries scored
    by ADC lookup tables with per-partition local shortlists, then the
    standard refine stage — exact cosine over only the shortlisted raw
    vectors (point-lookup-sized IO) — ranks the final k. The
    memory-bounded 100 TB scan path that complements the candidate-
    bounding LSH/IVF entries."""
    from ..operators.pq import pq_encode, pq_topk, pq_train

    e = load_table(spark, sf_dir, "embeddings")
    books = pq_train(e, "embedding", m=8, ksub=256, id_col="vec_id")
    codes = pq_encode(e, "vec_id", "embedding", books)
    queries = e.filter(F.col("vec_id") < 10)
    return pq_topk(
        codes, queries, "vec_id", "embedding", books, k=5,
        rerank=e, shortlist=128,
    )


@register(
    "knn_pq_persisted",
    oracle=None,  # same constraint as knn_pq; pytest asserts exact
    # result-equality with the in-memory path (deterministic train ⇒
    # identical codebooks ⇒ identical codes ⇒ identical ranking).
    tags=("llm", "similarity", "pq", "persisted"),
)
def knn_pq_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 over a PERSISTED PQ index: codebooks + codes are trained
    and encoded once per corpus (cached under /tmp keyed by params AND a
    data fingerprint, like the LSH/IVF persisted twins) and probes pay
    only the ADC scan + shortlist rerank — the ingest-once form whose
    bench number is the steady-state query cost, next to knn_pq which
    re-trains per run by design."""
    import json as _json
    import os as _os

    from ..operators.pq import pq_encode, pq_topk, pq_train

    e = load_table(spark, sf_dir, "embeddings")

    def build(pq_dir: str) -> None:
        books = pq_train(e, "embedding", m=8, ksub=256, id_col="vec_id")
        pq_encode(e, "vec_id", "embedding", books).write.parquet(
            _os.path.join(pq_dir, "codes")
        )
        with open(_os.path.join(pq_dir, "codebooks.json"), "w") as f:
            _json.dump(books, f)

    pq_dir = build_once(
        "pqcodes", sf_dir,
        _params_key(
            "pq-idtie", 8, 256, _data_fingerprint(sf_dir, "embeddings")
        ),
        build,
    )
    with open(_os.path.join(pq_dir, "codebooks.json")) as f:
        books = _json.load(f)
    codes = read_parquet_memo(spark, _os.path.join(pq_dir, "codes"))
    queries = e.filter(F.col("vec_id") < 10)
    return pq_topk(
        codes, queries, "vec_id", "embedding", books, k=5,
        rerank=e, shortlist=128,
    )


@register(
    "knn_ivf_pq",
    oracle=None,  # composes the two non-reproducible quantizers; recall
    # floor + partition-pruning plan guard in tests/test_similarity.py.
    tags=("llm", "similarity", "ivf", "pq"),
)
def knn_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed 100 TB ANN architecture (faiss IVFPQ): IVF cells
    bound the CANDIDATES (each query scans nprobe/k_cells of the index —
    a partition-pruned read when persisted), PQ codes bound the BYTES
    (candidates scan as 8 codes, 32× smaller), and the refine stage
    exact-reranks the shortlist. ivf_pq_encode builds the (id, cell,
    codes) index in ONE corpus pass."""
    from ..operators.pq import ivf_pq_encode, ivf_pq_topk, pq_train
    from ..operators.similarity import kmeans_centroids

    e = load_table(spark, sf_dir, "embeddings")
    # Train the coarse quantizer on a deterministic hash-ordered sample,
    # not the full corpus — the standard IVF practice (the quantizer
    # needs the density shape, not every point) and the difference
    # between O(sample) and O(corpus) Lloyd passes per build. The sample
    # is collected once (2048×64 floats ≈ 1 MB) so each Lloyd iteration
    # scans a local frame instead of re-sorting the corpus.
    sample_rows = (
        e.select("vec_id", "embedding")
        .withColumn("_h", F.hash(F.col("embedding").cast("array<string>")))
        .orderBy("_h", "vec_id")
        .limit(2048)
        .select("vec_id", "embedding")
        .collect()
    )
    sample = spark.createDataFrame(sample_rows, e.select("vec_id", "embedding").schema)
    cents = kmeans_centroids(sample, "embedding", k=8, iters=2, id_col="vec_id")
    # pq_train's own sampling picks the SAME first-2048-by-hash rows, so
    # feeding it the local sample is exact — and skips a second corpus
    # sort. centroids= trains the codebooks on RESIDUALS (faiss IVFPQ).
    books = pq_train(
        sample, "embedding", m=8, ksub=256, id_col="vec_id", centroids=cents
    )
    index = ivf_pq_encode(e, "vec_id", "embedding", cents, books)
    queries = e.filter(F.col("vec_id") < 10)
    return ivf_pq_topk(
        index, queries, "vec_id", "embedding", cents, books,
        k=5, nprobe=4, rerank=e, shortlist=128,
    )


@register(
    "knn_ivf_pq_persisted",
    oracle=None,  # same constraint as knn_ivf_pq; pytest pins persisted
    # ≡ in-memory and the partition-pruned probe scan.
    tags=("llm", "similarity", "ivf", "pq", "persisted"),
)
def knn_ivf_pq_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 over a PERSISTED IVF-PQ index — the steady-state form of
    the flagship 100 TB ANN shape: ivf_pq_encode's (id, cell, codes) rows
    are written ONCE as parquet PARTITIONED BY cell (quantizers cached as
    sidecars, dir keyed by params + data fingerprint like the other
    persisted twins), so each probe's ``cell IN (probed)`` filter becomes
    partition pruning — unprobed cell DIRECTORIES are never opened, the
    probe reads nprobe/k_cells of the index as 8-byte code rows, and the
    refine stage touches raw vectors only shortlist-wide. knn_ivf_pq
    (in-memory twin) carries the full train+encode+probe cost per run;
    this entry's bench number is the per-query steady state."""
    import json as _json
    import os as _os

    from ..operators.pq import ivf_pq_encode, ivf_pq_topk, pq_train
    from ..operators.similarity import kmeans_centroids

    e = load_table(spark, sf_dir, "embeddings")

    def build(pq_dir: str) -> None:
        # one collected hash-ordered sample trains BOTH quantizers (the
        # knn_ivf_pq argument: pq_train re-derives the same rows)
        sample_rows = (
            e.select("vec_id", "embedding")
            .withColumn(
                "_h", F.hash(F.col("embedding").cast("array<string>"))
            )
            .orderBy("_h", "vec_id")
            .limit(2048)
            .select("vec_id", "embedding")
            .collect()
        )
        sample = spark.createDataFrame(
            sample_rows, e.select("vec_id", "embedding").schema
        )
        cents = kmeans_centroids(
            sample, "embedding", k=8, iters=2, id_col="vec_id"
        )
        books = pq_train(
            sample, "embedding", m=8, ksub=256, id_col="vec_id",
            centroids=cents,
        )
        ivf_pq_encode(
            e, "vec_id", "embedding", cents, books
        ).write.partitionBy("cell").parquet(_os.path.join(pq_dir, "index"))
        with open(_os.path.join(pq_dir, "quantizers.json"), "w") as f:
            _json.dump({"centroids": cents, "codebooks": books}, f)

    pq_dir = build_once(
        "ivfpq", sf_dir,
        _params_key(
            "ivfpq-res", 8, 8, 256, _data_fingerprint(sf_dir, "embeddings")
        ),
        build,
    )
    with open(_os.path.join(pq_dir, "quantizers.json")) as f:
        quant = _json.load(f)
    index = read_parquet_memo(spark, _os.path.join(pq_dir, "index"))
    queries = e.filter(F.col("vec_id") < 10)
    return ivf_pq_topk(
        index, queries, "vec_id", "embedding",
        quant["centroids"], quant["codebooks"],
        k=5, nprobe=4, rerank=e, shortlist=128,
    )


@register(
    "semantic_dedup",
    oracle=None,  # k-means cells are engine-opaque (the IVF constraint);
    # soundness/completeness-within-cells pinned in tests/test_similarity.py
    tags=("llm", "dedup", "similarity"),
)
def semantic_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-dup removal with the
    pair space bounded by k-means cells — each doc cosine-compares only
    against its own cell, dropping docs with a lower-id within-cell
    neighbor ≥ τ=0.4 (embed_near_dup's threshold, so the exact pair set
    cross-checks it in pytest). The Σ|cell|² work bound is what makes
    embedding-level dedup tractable at 100 TB where the exact pair join
    is n²."""
    from ..operators.similarity import kmeans_centroids, semantic_dedup

    e = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(e, "embedding", k=8, iters=2, id_col="vec_id")
    return semantic_dedup(
        e, "vec_id", "embedding", cents, threshold=0.4, dim=64
    )


def _pagerank_oracle_from(
    scored_cte: str, iters: int = 6, damping_pct: int = 85
) -> str:
    """The unrolled integer PageRank oracle over any ``scored`` CTE
    body producing (id_a, id_b, score) — shared by the exact-pair and
    banded-LSH edge derivations (same move as _lp_rounds_and_final)."""
    base_cte = f"""
    WITH scored AS ({scored_cte}), pairs AS (
      SELECT id_a, id_b FROM scored WHERE score >= 0.4
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ), deg AS (
      SELECT src, count(*) AS d FROM edges GROUP BY src
    ), nodes AS (
      SELECT DISTINCT src AS node FROM edges
    ), nn AS (
      SELECT count(*) AS n FROM nodes
    ), r0 AS (
      SELECT node, CAST(1000000000 // nn.n AS BIGINT) AS r
      FROM nodes CROSS JOIN nn
    )"""
    steps = []
    for it in range(1, iters + 1):
        prev = f"r{it - 1}"
        steps.append(f""", r{it} AS (
      SELECT n0.node,
             CAST((CAST(1000000000 AS BIGINT) * {100 - damping_pct})
                    // 100 // nn.n
                  + ({damping_pct} * COALESCE(c.s, 0)) // 100
                  AS BIGINT) AS r
      FROM nodes n0 CROSS JOIN nn
      LEFT JOIN (
        SELECT e.dst AS node, sum({prev}.r // deg.d) AS s
        FROM edges e
        JOIN {prev} ON {prev}.node = e.src
        JOIN deg ON deg.src = e.src
        GROUP BY e.dst
      ) c ON c.node = n0.node
    )""")
    return (
        base_cte
        + "".join(steps)
        + f"""
    SELECT node, r AS rank_nano,
           CAST(r AS DOUBLE) / 1000000000 AS rank
    FROM r{iters}
    """
    )


def _pagerank_oracle(iters: int = 6, damping_pct: int = 85) -> str:
    """Full cross-engine oracle for dup_pagerank (r13 — upgrading the
    rows-only entry). DuckDB's recursive CTEs forbid aggregates in the
    recursive term, but the iteration count is a FIXED parameter of the
    query (6), so the power iteration unrolls into 6 plain CTEs — the
    same move as mmr_rerank's unrolled greedy. Everything the engine
    computes is integer (operators/pagerank.py): ranks in nano-units,
    contributions rank//deg, update base + (85·Σ)//100 — all exactly
    expressible with DuckDB's HUGEINT-safe // floor division. The
    near-dup graph has NO dangling nodes by construction (every node
    comes from the symmetric edge list, so out_deg ≥ 1), so the
    engine's dangling term is identically zero and the oracle omits it.
    The edge derivation is embed_near_dup's hash-checked oracle verbatim.
    Implemented as _pagerank_oracle_from over the exact-pair scored CTE
    (r14 ADVICE: the two unrolled-CTE bodies were verbatim copies that
    could drift on the next oracle tweak)."""
    return _pagerank_oracle_from(
        f"""
      SELECT q.vec_id AS id_a, c.vec_id AS id_b,
             floor(({_DOT} / ({_NORM_Q} * {_NORM_C})) * 1000000 + 0.5) / 1000000 AS score
      FROM embeddings q JOIN embeddings c ON q.vec_id < c.vec_id
    """,
        iters=iters,
        damping_pct=damping_pct,
    )


@register(
    "dup_pagerank",
    oracle=_pagerank_oracle(),
    tags=("llm", "dedup", "graph"),
)
def dup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the near-dup pair graph (each undirected
    pair fed in both directions): which documents are the hub centers of
    duplicate mass — the canonical-pick / crawl-quality signal on top of
    dup_clusters' membership. Integer nano-unit arithmetic end to end
    (operators/pagerank.py), so ranks are exactly reproducible under any
    partitioning — unusual for distributed PageRank and pinned in
    pytest."""
    from ..operators.pagerank import pagerank
    from ..operators.similarity import cosine_near_dup_pairs

    e = load_table(spark, sf_dir, "embeddings")
    pairs = cosine_near_dup_pairs(
        e, "vec_id", "embedding", threshold=0.4, dim=64
    ).select("id_a", "id_b")
    edges = pairs.selectExpr("id_a AS src", "id_b AS dst").unionByName(
        pairs.selectExpr("id_b AS src", "id_a AS dst")
    )
    return pagerank(edges, iters=6)


def _lp_rounds_and_final(rounds: int) -> str:
    """The unrolled LPA rounds + final community/size projection,
    shared by the exact-pair and LSH-candidate oracles (both feed it
    the same ``edges`` CTE shape)."""
    steps = []
    for it in range(1, rounds + 1):
        prev = f"l{it - 1}"
        steps.append(f""", l{it} AS (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               row_number() OVER (
                 PARTITION BY node ORDER BY c DESC, lbl) AS rn
        FROM (
          SELECT e.src AS node, l.lbl, count(*) AS c
          FROM edges e JOIN {prev} l ON l.node = e.dst
          GROUP BY e.src, l.lbl
        )
      ) WHERE rn = 1
    )""")
    return (
        "".join(steps)
        + f""", sizes AS (
      SELECT lbl, count(*) AS sz FROM l{rounds} GROUP BY lbl
    )
    SELECT f.node, f.lbl AS community, CAST(s.sz AS BIGINT) AS community_size
    FROM l{rounds} f JOIN sizes s ON s.lbl = f.lbl
    """
    )


def _lp_oracle(rounds: int = 3) -> str:
    """Full oracle for dup_communities: synchronous label propagation
    with a FIXED round count unrolls into ``rounds`` plain CTEs (the
    dup_pagerank move). Each round is pure integer counting plus a
    deterministic (count DESC, label ASC) argmax — exactly the engine's
    row_number window — so the label frames match value-for-value. The
    edge derivation is embed_near_dup's hash-checked oracle verbatim."""
    base = f"""
    WITH scored AS (
      SELECT q.vec_id AS id_a, c.vec_id AS id_b,
             floor(({_DOT} / ({_NORM_Q} * {_NORM_C})) * 1000000 + 0.5) / 1000000 AS score
      FROM embeddings q JOIN embeddings c ON q.vec_id < c.vec_id
    ), pairs AS (
      SELECT id_a, id_b FROM scored WHERE score >= 0.4
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ), l0 AS (
      SELECT DISTINCT src AS node, src AS lbl FROM edges
    )"""
    return base + _lp_rounds_and_final(rounds)


@register(
    "dup_communities",
    oracle=_lp_oracle(),
    tags=("llm", "dedup", "graph"),
)
def dup_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation communities over the near-dup pair
    graph (3 fixed rounds, ties to the smallest label) — the density
    split CC can't make: two dup clusters bridged by one accidental
    near-match are ONE connected component but different LPA
    communities, which is the granularity a keep-policy actually wants
    (canonicalize per community, not per component). Fully distributed:
    no driver loop state, each round one edge⋈label join + a count + a
    per-node window (operators/graph.py:label_propagation); the fixed
    round count is what makes the exact SQL oracle possible
    (unrolled CTEs, the dup_pagerank move)."""
    from ..operators.graph import label_propagation
    from ..operators.similarity import cosine_near_dup_pairs

    e = load_table(spark, sf_dir, "embeddings")
    pairs = cosine_near_dup_pairs(
        e, "vec_id", "embedding", threshold=0.4, dim=64
    ).select("id_a", "id_b")
    return label_propagation(pairs, rounds=3)


def _lp_oracle_lsh(rounds: int = 3) -> str:
    """dup_communities_lsh's full oracle: the SAME unrolled synchronous
    LPA, but the edge derivation is embed_near_dup_lsh's banded-LSH
    candidate space (bucket collisions under the closed-form _PLANES,
    then exact-cosine verify) — deterministic given the plane literals,
    so it oracles exactly even though recall vs the exact graph is < 1
    by construction."""
    buckets = ", ".join(
        f"(CAST(({_plane_dot_sql('embedding', _PLANES[2 * b])} >= 0) AS BIGINT)"
        f" + (CAST(({_plane_dot_sql('embedding', _PLANES[2 * b + 1])} >= 0) AS BIGINT) * 2))"
        f" AS b{b}"
        for b in range(4)
    )
    collide = " OR ".join(f"q.b{b} = c.b{b}" for b in range(4))
    base = f"""
    WITH cb AS (
      SELECT vec_id, embedding, {buckets} FROM embeddings
    ), scored AS (
      SELECT q.vec_id AS id_a, c.vec_id AS id_b,
             floor(({_DOT} / ({_NORM_Q} * {_NORM_C})) * 1000000 + 0.5) / 1000000 AS score
      FROM cb q JOIN cb c ON q.vec_id < c.vec_id AND ({collide})
    ), pairs AS (
      SELECT id_a, id_b FROM scored WHERE score >= 0.4
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ), l0 AS (
      SELECT DISTINCT src AS node, src AS lbl FROM edges
    )"""
    return base + _lp_rounds_and_final(rounds)


def _lsh_scored_cte() -> str:
    """The banded-LSH candidate pair scoring as a self-contained CTE
    body (id_a, id_b, score) — embed_near_dup_lsh's derivation with the
    bucket projection inlined as derived tables, reusable inside any
    WITH wrapper."""
    buckets = ", ".join(
        f"(CAST(({_plane_dot_sql('embedding', _PLANES[2 * b])} >= 0) AS BIGINT)"
        f" + (CAST(({_plane_dot_sql('embedding', _PLANES[2 * b + 1])} >= 0) AS BIGINT) * 2))"
        f" AS b{b}"
        for b in range(4)
    )
    collide = " OR ".join(f"q.b{b} = c.b{b}" for b in range(4))
    return f"""
      SELECT q.vec_id AS id_a, c.vec_id AS id_b,
             floor(({_DOT} / ({_NORM_Q} * {_NORM_C})) * 1000000 + 0.5) / 1000000 AS score
      FROM (SELECT vec_id, embedding, {buckets} FROM embeddings) q
      JOIN (SELECT vec_id, embedding, {buckets} FROM embeddings) c
        ON q.vec_id < c.vec_id AND ({collide})
    """


def lsh_pairs_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The banded-LSH near-dup pair set (cosine_near_dup_pairs with the
    closed-form _PLANES, τ=0.4) persisted once per corpus through
    ``sources.tables.build_once`` (r14 verdict #4). The pair set is
    the SHARED upstream of the whole LSH dup-graph family; deriving it
    is ~90% of any one entry's cost, so the graph entries read it here
    and their probe measures the iterations, not the derivation. At
    100 TB this is exactly how the family runs: the pair table is a
    materialized artifact refreshed with the corpus, and LPA / PageRank
    / clustering are cheap passes over it. Deterministic planes ⇒ the
    persisted rows equal the inline derivation exactly, so the FULL
    unrolled-CTE oracles are unchanged."""
    import os

    from ..operators.similarity import cosine_near_dup_pairs

    def build(work: str) -> None:
        e = load_table(spark, sf_dir, "embeddings")
        (
            cosine_near_dup_pairs(
                e, "vec_id", "embedding", threshold=0.4, planes=_PLANES, dim=64
            )
            .select("id_a", "id_b")
            .write.parquet(os.path.join(work, "pairs"))
        )

    work = build_once(
        "lshpairs", sf_dir,
        _params_key("lshp4x2t04", _data_fingerprint(sf_dir, "embeddings")),
        build,
    )
    return read_parquet_memo(spark, os.path.join(work, "pairs"))


@register(
    "dup_pagerank_lsh",
    oracle=_pagerank_oracle_from(_lsh_scored_cte()),
    tags=("llm", "dedup", "graph", "lsh"),
)
def dup_pagerank_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dup_pagerank's banded-LSH scale twin (completing the graph
    family's scale story next to dup_communities_lsh): the same 6-round
    integer nano-unit power iteration, edges from the LSH candidate
    path — O(Σ bucket²) pair space instead of the exact O(n²) join the
    oracle-baseline entry pays, read from the persisted pair index
    (lsh_pairs_persisted) shared with dup_communities_lsh.
    Deterministic planes ⇒ still a FULL oracle (the unrolled-CTE
    PageRank over the LSH pair SQL). Hub ranking agreement with the
    exact graph pinned on the clustered fixture in tests/test_graph.py."""
    from ..operators.pagerank import pagerank

    pairs = lsh_pairs_persisted(spark, sf_dir)
    edges = pairs.selectExpr("id_a AS src", "id_b AS dst").unionByName(
        pairs.selectExpr("id_b AS src", "id_a AS dst")
    )
    return pagerank(edges, iters=6)


@register(
    "dup_communities_lsh",
    oracle=_lp_oracle_lsh(),
    tags=("llm", "dedup", "graph", "lsh"),
)
def dup_communities_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dup_communities' documented 100 TB twin (r13 verdict #4): the
    same 3-round synchronous label propagation, but the edge derivation
    rides the banded-LSH candidate path (cosine_near_dup_pairs with
    ``planes`` — candidates are bucket collisions, O(Σ bucket²) instead
    of the exact O(n²) pair join, then exact-cosine verified). This is
    the form the whole dup-graph family (pagerank / communities /
    triangles / clusters) runs at corpus scale: the LSH edge set is a
    SUBSET of the exact edges (pruned, never invented — pinned in
    tests/test_graph.py together with a community co-membership
    agreement floor vs the exact graph on the clustered fixture), and
    everything downstream is unchanged distributed LPA. Full oracle:
    the plane literals make the candidate space deterministic, so the
    unrolled-CTE oracle composes the LSH pair SQL with the same LPA
    rounds. The pair set reads from the persisted per-corpus index
    (lsh_pairs_persisted — build under bench's build_sec; the probe
    measures the LPA rounds)."""
    from ..operators.graph import label_propagation

    return label_propagation(lsh_pairs_persisted(spark, sf_dir), rounds=3)


@register(
    "embed_near_dup",
    oracle=f"""
    WITH scored AS (
      SELECT q.vec_id AS id_a, c.vec_id AS id_b,
             floor(({_DOT} / ({_NORM_Q} * {_NORM_C})) * 1000000 + 0.5) / 1000000 AS score
      FROM embeddings q JOIN embeddings c ON q.vec_id < c.vec_id
    )
    SELECT id_a, id_b, score FROM scored WHERE score >= 0.4
    """,
    tags=("llm", "dedup", "similarity"),
)
def embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact self-join baseline, τ=0.4).

    The scale path swaps in banded-LSH candidate generation
    (``cosine_near_dup_pairs(..., planes=...)``, recall measured in
    tests/test_similarity.py) so candidates-per-row stays O(bucket), not
    O(corpus)."""
    e = load_table(spark, sf_dir, "embeddings")
    return cosine_near_dup_pairs(e, "vec_id", "embedding", threshold=0.4, dim=64)


@register(
    "embed_near_dup_vec",
    oracle=None,  # float64-matmul summation order differs from the fold in
    # the last ulp → not hash-comparable; tests assert pair-set equality
    # with the exact baseline within a rounding-boundary tolerance.
    tags=("llm", "dedup", "similarity", "vectorized"),
)
def embed_near_dup_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup, throughput path: Arrow-batched numpy matmul
    (mapInPandas) against a broadcast corpus matrix. See
    operators/similarity.py for why LSH can't prune at τ=0.4 and block
    matmul is the honest 100 TB design here."""
    from ..operators.similarity import cosine_near_dup_vectorized

    e = load_table(spark, sf_dir, "embeddings")
    return cosine_near_dup_vectorized(e, "vec_id", "embedding", threshold=0.4)


def _near_dup_lsh_oracle() -> str:
    """embed_near_dup's oracle restricted to banded-bucket collisions —
    recall < 1 vs the exact pair set by construction, but deterministic
    given the plane literals, so it oracles exactly (same argument as
    _lsh_oracle)."""
    buckets = ", ".join(
        f"(CAST(({_plane_dot_sql('embedding', _PLANES[2 * b])} >= 0) AS BIGINT)"
        f" + (CAST(({_plane_dot_sql('embedding', _PLANES[2 * b + 1])} >= 0) AS BIGINT) * 2))"
        f" AS b{b}"
        for b in range(4)
    )
    collide = " OR ".join(f"q.b{b} = c.b{b}" for b in range(4))
    return f"""
    WITH cb AS (
      SELECT vec_id, embedding, {buckets} FROM embeddings
    ), scored AS (
      SELECT q.vec_id AS id_a, c.vec_id AS id_b,
             floor(({_DOT} / ({_NORM_Q} * {_NORM_C})) * 1000000 + 0.5) / 1000000 AS score
      FROM cb q JOIN cb c ON q.vec_id < c.vec_id AND ({collide})
    )
    SELECT id_a, id_b, score FROM scored WHERE score >= 0.4
    """


@register(
    "embed_near_dup_lsh",
    oracle=_near_dup_lsh_oracle(),
    tags=("llm", "dedup", "similarity", "lsh"),
)
def embed_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup, 100 TB path: banded-LSH candidate pairs then
    exact-cosine verify (τ=0.4). Candidate count is O(Σ bucket²) instead
    of O(n²) — the form you'd actually run on a full corpus; the exact
    self-join (embed_near_dup) is the correctness baseline."""
    e = load_table(spark, sf_dir, "embeddings")
    return cosine_near_dup_pairs(
        e, "vec_id", "embedding", threshold=0.4, planes=_PLANES, dim=64
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------
@register(
    "multimodal_features",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           CAST(CASE WHEN strlen(text) > 0 THEN ascii(substr(text, 1, 1)) ELSE -1 END AS BIGINT) AS first_byte,
           COALESCE(CAST(list_aggregate(
             list_transform(generate_series(1, strlen(text)),
                            i -> ascii(substr(text, i, 1))), 'sum'
           ) AS BIGINT) % 2147483647, 0) AS byte_sum
    FROM documents
    """,
    tags=("llm", "multimodal"),
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload plumbing: text→binary + metadata struct, then an
    Arrow-batched mapInPandas feature extractor (deterministic fake decode
    — the real media decoder slots into the same batch shape)."""
    d = load_table(spark, sf_dir, "documents")
    media = to_binary_payload(d, "doc_id", "text")
    return extract_features(media, "doc_id", deterministic_fake=True)


@register(
    "multimodal_resize",
    oracle="""
    SELECT doc_id, CAST(64 AS BIGINT) AS n_bytes,
           CAST(CASE WHEN strlen(text) > 0 THEN
             list_aggregate(
               list_transform(range(0, 64),
                              i -> ascii(substr(text, (i % strlen(text)) + 1, 1))),
               'sum')
           ELSE 0 END AS BIGINT) % 2147483647 AS checksum
    FROM documents
    """,
    tags=("llm", "multimodal"),
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload resize to 64 bytes (truncate / cycle-pad) through the
    Arrow batch pipeline; the oracle recomputes the resized checksum from
    the source text, proving the byte-level semantics end to end."""
    from ..operators.multimodal import resize_payload

    d = load_table(spark, sf_dir, "documents")
    media = to_binary_payload(d, "doc_id", "text")
    return resize_payload(media, "doc_id", target_bytes=64).select(
        "doc_id", "n_bytes", "checksum"
    )


@register(
    "multimodal_frames",
    oracle="""
    SELECT doc_id,
           CAST(len(generate_series(1, strlen(text), 16)) AS BIGINT) AS n_frames,
           CAST(CASE WHEN strlen(text) > 0 THEN ascii(substr(text, 1, 1))
                     ELSE -1 END AS BIGINT) AS first_frame,
           COALESCE(CAST(list_aggregate(
             list_transform(generate_series(1, strlen(text), 16),
                            i -> ascii(substr(text, i, 1))), 'sum')
           AS BIGINT) % 2147483647, 0) AS frame_sum
    FROM documents
    """,
    tags=("llm", "multimodal"),
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling (every 16th byte) through the Arrow batch pipeline —
    the video frame-stride shape with a byte stride standing in for the
    decoder."""
    from ..operators.multimodal import frame_sample

    d = load_table(spark, sf_dir, "documents")
    media = to_binary_payload(d, "doc_id", "text")
    return frame_sample(media, "doc_id", stride=16)


@register(
    "media_roundtrip",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents WHERE strlen(text) > 0
    """,
    tags=("llm", "multimodal"),
)
def media_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column round trip through a REAL container format (r9
    verdict #8): utf-8 text bytes → 1×N greyscale PNG (stdlib encoder,
    executor-side Arrow batches) → binary column + image/png metadata →
    ``decode_media`` (zlib inflate + scanline defilter) → content md5.
    The oracle computes the digest from the PLAINTEXT, so an exact
    value-hash match proves encode→decode is lossless through the whole
    plumbing — not a fake decoder. Both map stages fuse into one Python
    runner per task: no shuffle, scales linearly with the corpus."""
    from ..operators.multimodal import content_digest, to_png_payload

    d = load_table(spark, sf_dir, "documents").filter(
        F.octet_length("text") > 0
    )
    media = to_png_payload(to_binary_payload(d, "doc_id", "text"), "doc_id")
    return content_digest(media, "doc_id")


# ---------------------------------------------------------------------------
# Corpus-quality extensions.
# ---------------------------------------------------------------------------
@register(
    "doc_repetition",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKENS} AS t FROM documents),
    base AS (
      SELECT doc_id, len(t) AS n_tokens, len(list_distinct(t)) AS n_distinct,
             CASE WHEN len(t) >= 2
                  THEN list_transform(generate_series(1, len(t) - 1),
                                      i -> concat_ws(' ', t[i], t[i+1]))
                  ELSE [] END AS grams
      FROM toks
    ),
    gc AS (
      SELECT doc_id, max(n) AS top_gram_n, sum(n) AS n_grams FROM (
        SELECT doc_id, g, count(*) AS n
        FROM (SELECT doc_id, unnest(grams) AS g FROM base) GROUP BY doc_id, g
      ) GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_tokens,
           floor((CASE WHEN b.n_tokens > 0
                       THEN 1 - CAST(b.n_distinct AS DOUBLE) / b.n_tokens
                       ELSE 0 END) * 1000000 + 0.5) / 1000000 AS dup_token_frac,
           floor((CASE WHEN gc.n_grams > 0
                       THEN CAST(gc.top_gram_n AS DOUBLE) / gc.n_grams
                       ELSE 0 END) * 1000000 + 0.5) / 1000000 AS top_2gram_frac
    FROM base b LEFT JOIN gc ON b.doc_id = gc.doc_id
    """,
    tags=("llm", "text", "quality"),
)
def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (duplicate-token fraction,
    top-2-gram fraction) — the standard repeated-phrase/boilerplate
    filters for LLM corpora; one (doc, gram) groupBy, otherwise
    scan-bound codegen."""
    from ..operators.textstats import repetition_stats

    d = load_table(spark, sf_dir, "documents")
    return repetition_stats(d, "doc_id", "text")


@register(
    "decontaminate",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents
    ),
    ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 10),
    hits AS (
      SELECT d.doc_id, count(*) AS n
      FROM sh d JOIN ev USING (shingle) GROUP BY d.doc_id
    )
    SELECT doc.doc_id,
           COALESCE(hits.n, 0) AS n_shared_ngrams,
           COALESCE(hits.n, 0) > 0 AS contaminated
    FROM documents doc LEFT JOIN hits ON doc.doc_id = hits.doc_id
    """,
    tags=("llm", "dedup", "decontamination"),
)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination by n-gram collision (the GPT-3/LLaMA
    keep-policy): docs sharing any shingle with the eval set (doc_id<10
    stands in for the benchmark) are flagged; the eval shingle set is
    broadcast — tiny by definition — so the scan never shuffles on
    content. Production uses n≈8-13-grams; this query uses the corpus-
    standard 3 so the oracle shares the repo's shingle fragment."""
    from ..operators.textstats import ngram_overlap_flags

    d = load_table(spark, sf_dir, "documents")
    return ngram_overlap_flags(
        d, d.filter(F.col("doc_id") < 10), "doc_id", "text", n=3
    )


# Target mixture for the domain_mix gate query. All weights are exact
# binary fractions (1/2, 1/4, 1/8, 1/128) so the Python driver-side
# threshold math and the oracle's SQL literals are the same IEEE doubles.
_MIX_WEIGHTS = {"src0": 0.5, "src1": 0.25, "src2": 0.125}
_MIX_DEFAULT_W = 0.0078125  # 1/128
_MIX_BUDGET_FRAC = 0.5


@register(
    "domain_mix",
    oracle="""
    WITH counts AS (
      SELECT source, count(*) AS cnt FROM documents GROUP BY source
    ),
    tot AS (SELECT sum(cnt) AS total FROM counts),
    thr AS (
      SELECT source,
             least(65535, CAST(floor(
               65536.0 * least(cnt, floor(floor(total * 0.5) *
                 CASE source WHEN 'src0' THEN 0.5
                             WHEN 'src1' THEN 0.25
                             WHEN 'src2' THEN 0.125
                             ELSE 0.0078125 END)) / cnt
             ) AS BIGINT) - 1) AS thr_int
      FROM counts, tot
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN thr USING (source)
    WHERE thr.thr_int >= 0
      AND substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)
            <= lpad(lower(to_hex(thr.thr_int)), 4, '0')
    """,
    tags=("llm", "sampling", "mixing"),
)
def domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-mixture resampling (the pretraining data-mixing
    step: upweight curated sources, cap crawl): per-source hash-keep
    thresholds derived from a target mixture + observed source counts;
    the data path is a scan-side literal CASE filter — zero shuffle,
    reproducible keep set on any engine or retry."""
    from ..operators.sampling import domain_mix as _mix

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return _mix(
        d, key_col="doc_id", strata_col="source",
        weights=_MIX_WEIGHTS, budget_frac=_MIX_BUDGET_FRAC,
        default_weight=_MIX_DEFAULT_W,
    )


@register(
    "boilerplate_ngrams",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents
    ),
    boiler AS (
      SELECT shingle FROM sh GROUP BY shingle HAVING count(*) >= 20
    ),
    per_doc AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
    nb AS (
      SELECT s.doc_id, count(*) AS n_boiler
      FROM sh s JOIN boiler USING (shingle) GROUP BY s.doc_id
    )
    SELECT d.doc_id,
           COALESCE(per_doc.n_shingles, 0) AS n_shingles,
           COALESCE(nb.n_boiler, 0) AS n_boiler,
           floor((CASE WHEN COALESCE(per_doc.n_shingles, 0) > 0
                       THEN CAST(COALESCE(nb.n_boiler, 0) AS DOUBLE)
                            / per_doc.n_shingles
                       ELSE 0 END) * 1000000 + 0.5) / 1000000 AS boiler_frac
    FROM documents d
    LEFT JOIN per_doc USING (doc_id) LEFT JOIN nb USING (doc_id)
    """,
    tags=("llm", "text", "quality"),
)
def boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style cross-document boilerplate: shingles present in
    ≥20 distinct docs are boilerplate; each doc reports its boilerplate
    fraction. Document frequency is a partial-aggregated
    groupBy(shingle) joined back to the shingle rows — hot shingles
    compress map-side and the skewed probe join is AQE-splittable,
    unlike a count window over partitionBy(shingle) which would funnel
    every occurrence of a hot shingle into one unsplittable task
    (plan-asserted: partial agg present, no Window operator)."""
    from ..operators.textstats import boilerplate_stats

    d = load_table(spark, sf_dir, "documents")
    return boilerplate_stats(d, "doc_id", "text", n=3, min_df=20)


# ---------------------------------------------------------------------------
# Corpus assembly: chunking for embedding/RAG ingestion and concat-and-
# chunk sequence packing for pretraining loaders (operators/packing.py).
# Full oracles, checked by tools/verify_local + the invariant pytests.
# ---------------------------------------------------------------------------

# Raw-case tokens (chunking preserves the original text, unlike the
# lower-cased shingle fragments above).
_RAW_TOKENS = "list_filter(string_split_regex(text, '\\s+'), t -> t <> '')"


@register(
    "chunk_tokens",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_RAW_TOKENS} AS t FROM documents),
    starts AS (
      SELECT doc_id, t,
             unnest(generate_series(0, greatest(len(t) - 1, 0), 56)) AS s
      FROM toks
    )
    SELECT doc_id,
           CAST(s // 56 AS BIGINT) AS chunk_id,
           CAST(s AS BIGINT) AS tok_start,
           CAST(greatest(least(64, len(t) - s), 0) AS BIGINT)
             AS n_chunk_tokens,
           array_to_string(t[s + 1 : s + 64], ' ') AS chunk_text
    FROM starts
    """,
    tags=("llm", "packing", "rag"),
)
def chunk_tokens_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG/embedding-ingestion chunker: overlapping 64-token windows with
    8-token overlap (stride 56), one row per (doc, chunk). Pure per-row
    posexplode — zero shuffle, runs at scan speed inside codegen; the
    chunk id is derivable from the start offset so no ordinality
    construct (and no sort) is needed on any engine."""
    from ..operators.packing import chunk_tokens

    d = load_table(spark, sf_dir, "documents")
    return chunk_tokens(d, "doc_id", "text", chunk_size=64, overlap=8)


@register(
    "pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, CAST(doc_id % 32 AS BIGINT) AS shard,
             CAST(len({_RAW_TOKENS}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    w AS (
      SELECT doc_id, shard, n_tokens,
             sum(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum_end
      FROM t
    )
    SELECT doc_id, shard, n_tokens,
           CAST(cum_end - n_tokens AS BIGINT) AS tok_offset,
           CASE WHEN n_tokens > 0
                THEN CAST((cum_end - n_tokens) // 128 AS BIGINT) END
             AS seq_first,
           CASE WHEN n_tokens > 0
                THEN CAST((cum_end - 1) // 128 AS BIGINT) END AS seq_last
    FROM w
    """,
    tags=("llm", "packing", "pretraining"),
)
def pack_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing manifest (GPT-style pretraining): docs are
    hash-sharded, concatenated per shard in doc_id order, and sliced into
    128-token sequences; each doc reports its shard, token offset, and
    first/last shard-local sequence index. Per-shard windows — one hash
    exchange, no global sort — keep the manifest deterministic across
    runs, engines, and task retries."""
    from ..operators.packing import pack_sequences

    d = load_table(spark, sf_dir, "documents")
    return pack_sequences(d, "doc_id", "text", seq_len=128, n_shards=32)


# ---------------------------------------------------------------------------
# Round-5 corpus-cleaning extensions: Gopher-rule composite filter,
# token-entropy perplexity proxy, PII masking, cross-doc line dedup.
# Full oracles via tools/verify_local + pytest.
# ---------------------------------------------------------------------------


# Shared by the standalone gopher_quality oracle and the composed
# corpus_curate oracle (DuckDB allows a WITH inside a CTE subquery).
_GOPHER_SQL = f"""
    WITH t AS (
      SELECT doc_id,
             {_RAW_TOKENS} AS toks,
             list_filter(string_split_regex(text, '\\n'),
                         l -> trim(l) <> '') AS ls,
             (len(string_split(text, '#')) - 1)
               + (len(string_split_regex(text, '\\.\\.\\.')) - 1)
               + (len(string_split(text, '…')) - 1) AS n_symbols
      FROM documents
    ),
    f AS (
      SELECT doc_id,
             len(toks) AS n_words,
             CASE WHEN len(toks) > 0 THEN
               floor((list_aggregate(list_transform(toks, x -> length(x)),
                                     'sum')::DOUBLE / len(toks))
                     * 1000000 + 0.5) / 1000000 ELSE 0 END AS mean_word_len,
             CASE WHEN len(toks) > 0 THEN
               floor((n_symbols::DOUBLE / len(toks)) * 1000000 + 0.5)
               / 1000000 ELSE 0 END AS symbol_ratio,
             CASE WHEN len(ls) > 0 THEN
               floor((len(list_filter(ls,
                       l -> regexp_matches(trim(l), '^([*•-]\\s)')))::DOUBLE
                      / len(ls)) * 1000000 + 0.5) / 1000000
             ELSE 0 END AS bullet_frac,
             CASE WHEN len(ls) > 0 THEN
               floor((len(list_filter(ls,
                       l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$')))::DOUBLE
                      / len(ls)) * 1000000 + 0.5) / 1000000
             ELSE 0 END AS ellipsis_frac,
             CASE WHEN len(toks) > 0 THEN
               floor((len(list_filter(toks,
                       x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
                      / len(toks)) * 1000000 + 0.5) / 1000000
             ELSE 0 END AS alpha_frac
      FROM t
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, mean_word_len,
           symbol_ratio, bullet_frac, ellipsis_frac, alpha_frac,
           (n_words >= 5 AND n_words <= 100000
            AND mean_word_len >= 2.0 AND mean_word_len <= 12.0
            AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
            AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.6) AS keep
    FROM f
"""


@register(
    "gopher_quality",
    oracle=_GOPHER_SQL,
    tags=("llm", "text", "quality"),
)
def gopher_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule composite quality filter (word-count/word-length
    bounds, symbol ratio, bullet/ellipsis line fractions, alphabetic
    fraction + keep flag) — zero-shuffle scan-side Column expressions."""
    from ..operators.textstats import gopher_quality

    d = load_table(spark, sf_dir, "documents")
    return gopher_quality(d, "doc_id", "text")


@register(
    "token_entropy",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKENS}) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
    ),
    pd AS (
      SELECT doc_id, sum(tf) AS n, sum(tf * ln(tf::DOUBLE)) AS s
      FROM tf GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(pd.n, 0) AS BIGINT) AS n_tokens,
           floor((CASE WHEN pd.n > 0 THEN ln(pd.n::DOUBLE) - pd.s / pd.n
                       ELSE 0 END) * 1000000 + 0.5) / 1000000 AS entropy
    FROM documents d LEFT JOIN pd USING (doc_id)
    """,
    tags=("llm", "text", "quality"),
)
def token_entropy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram token entropy per doc — the model-free perplexity proxy
    (low entropy ⇒ degenerate/repetitive text); one uniform (doc, term)
    groupBy + per-doc rollup, both partial-aggregated."""
    from ..operators.textstats import token_entropy

    d = load_table(spark, sf_dir, "documents")
    return token_entropy(d, "doc_id", "text")


@register(
    "pii_mask",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
               '<EMAIL>', 'g'),
             '\\d{3}[- ]\\d{3,4}[- ]\\d{4}')) AS BIGINT) AS n_phones,
           regexp_replace(
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
               '<EMAIL>', 'g'),
             '\\d{3}[- ]\\d{3,4}[- ]\\d{4}', '<PHONE>', 'g') AS masked_text
    FROM documents
    """,
    tags=("llm", "text", "pii"),
)
def pii_mask_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: emails then phone-shaped digit groups redacted with
    per-doc hit counts — a zero-shuffle scan-side rewrite."""
    from ..operators.cleaning import pii_mask

    d = load_table(spark, sf_dir, "documents")
    return pii_mask(d, "doc_id", "text")


@register(
    "line_dedup",
    oracle="""
    WITH l0 AS (
      SELECT doc_id, string_split_regex(text, '\\n') AS ls FROM documents
    ),
    lines AS (
      SELECT doc_id, i - 1 AS pos, ls[i] AS line, trim(ls[i]) AS key
      FROM l0, unnest(generate_series(1, greatest(len(ls), 1))) AS u(i)
    ),
    dfreq AS (
      SELECT key, count(DISTINCT doc_id) AS df
      FROM lines WHERE key <> '' GROUP BY key
    ),
    flagged AS (
      SELECT l.doc_id, l.pos, l.line,
             (l.key <> '' AND COALESCE(d.df, 0) >= 3) AS dropped
      FROM lines l LEFT JOIN dfreq d USING (key)
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped,
           COALESCE(string_agg(line, chr(10) ORDER BY pos)
                      FILTER (WHERE NOT dropped), '') AS clean_text
    FROM flagged GROUP BY doc_id
    """,
    tags=("llm", "text", "dedup"),
)
def line_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document line dedup (RefinedWeb/CCNet): lines appearing in
    ≥3 distinct docs are boilerplate and drop from every doc; survivors
    re-join in original order. Line df is a partial-aggregated
    groupBy(line) + join back — the boilerplate_stats de-skew shape."""
    from ..operators.cleaning import line_dedup

    d = load_table(spark, sf_dir, "documents")
    return line_dedup(d, "doc_id", "text", min_df=3)


# The self-trained bigram-LM CTE chain (lm_doc_logprob's SQL form),
# shared by the curation oracles — ends in lm(doc_id, avg_logprob) with
# the same integer-nano quantization as the operator.
_LM_CTES = f"""
    toks_lm AS (SELECT doc_id, {_TOKENS} AS ts FROM documents),
    bg_lm AS (
      SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
      FROM toks_lm,
           unnest(generate_series(1, greatest(len(ts) - 1, 0))) AS u(i)
    ),
    c12_lm AS (SELECT w1, w2, count(*) AS n12 FROM bg_lm GROUP BY w1, w2),
    c1_lm AS (SELECT w1, count(*) AS n1 FROM bg_lm GROUP BY w1),
    per_lm AS (
      SELECT doc_id, count(*) AS n_bigrams,
             sum(CAST(floor(ln(n12::DOUBLE / n1) * 1000000000 + 0.5)
                      AS BIGINT)) AS s9
      FROM bg_lm JOIN c12_lm USING (w1, w2) JOIN c1_lm USING (w1)
      GROUP BY doc_id
    ),
    lm AS (
      SELECT d.doc_id,
             floor((CASE WHEN per_lm.n_bigrams > 0
                         THEN s9 / 1000000000.0 / per_lm.n_bigrams
                         ELSE 0 END) * 1000000 + 0.5) / 1000000
               AS avg_logprob
      FROM documents d LEFT JOIN per_lm USING (doc_id)
    )
"""

# The curation policy's DuckDB form — shared verbatim by corpus_curate
# (the 6-stage composition) and corpus_curate_fast (the single-scan
# feature-table filter): one oracle, two physical strategies.
_CURATE_SQL = f"""
    WITH {_LM_CTES},
    keeps AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5({_NORM_TEXT})
    ),
    g AS ({_GOPHER_SQL}),
    sh AS (
      SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents
    ),
    ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 10),
    hits AS (
      SELECT d.doc_id, count(*) AS n
      FROM sh d JOIN ev USING (shingle) GROUP BY d.doc_id
    ),
    boiler AS (
      SELECT shingle FROM sh GROUP BY shingle HAVING count(*) >= 20
    ),
    per_doc AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
    nb AS (
      SELECT s.doc_id, count(*) AS n_boiler
      FROM sh s JOIN boiler USING (shingle) GROUP BY s.doc_id
    ),
    bf AS (
      SELECT d.doc_id,
             floor((CASE WHEN COALESCE(per_doc.n_shingles, 0) > 0
                         THEN CAST(COALESCE(nb.n_boiler, 0) AS DOUBLE)
                              / per_doc.n_shingles
                         ELSE 0 END) * 1000000 + 0.5) / 1000000 AS boiler_frac
      FROM documents d
      LEFT JOIN per_doc USING (doc_id) LEFT JOIN nb USING (doc_id)
    ),
    counts AS (
      SELECT source, count(*) AS cnt FROM documents GROUP BY source
    ),
    tot AS (SELECT sum(cnt) AS total FROM counts),
    thr AS (
      SELECT source,
             least(65535, CAST(floor(
               65536.0 * least(cnt, floor(floor(total * 0.5) *
                 CASE source WHEN 'src0' THEN 0.5
                             WHEN 'src1' THEN 0.25
                             WHEN 'src2' THEN 0.125
                             ELSE 0.0078125 END)) / cnt
             ) AS BIGINT) - 1) AS thr_int
      FROM counts, tot
    )
    SELECT d.doc_id, d.source
    FROM documents d
    JOIN keeps USING (doc_id)
    JOIN g ON g.doc_id = d.doc_id AND g.keep
    LEFT JOIN hits ON hits.doc_id = d.doc_id
    JOIN bf ON bf.doc_id = d.doc_id
    JOIN lm ON lm.doc_id = d.doc_id
    JOIN thr USING (source)
    WHERE COALESCE(hits.n, 0) = 0
      AND bf.boiler_frac < 0.5
      AND lm.avg_logprob >= -3.45
      AND thr.thr_int >= 0
      AND substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)
            <= lpad(lower(to_hex(thr.thr_int)), 4, '0')
"""


@register(
    "winnow_fingerprints",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKENS} AS ts FROM documents),
    wins AS (
      SELECT doc_id, i AS start,
             md5(array_to_string(ts[i:i + 7], ' ')) AS h
      FROM toks, unnest(generate_series(1, greatest(len(ts) - 7, 0))) AS u(i)
    ),
    keyed AS (
      SELECT doc_id, start,
             h || lpad(CAST(100000000 - start AS VARCHAR), 9, '0') AS key
      FROM wins
    ),
    sel AS (
      SELECT doc_id,
             count(*) OVER (PARTITION BY doc_id ORDER BY start
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS cnt,
             min(key) OVER (PARTITION BY doc_id ORDER BY start
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS selkey
      FROM keyed
    )
    SELECT DISTINCT doc_id,
           CAST(100000000 - CAST(substring(selkey, 33, 9) AS BIGINT) AS BIGINT) AS start,
           substring(selkey, 1, 32) AS fp
    FROM sel WHERE cnt = 4
    """,
    tags=("llm", "text", "dedup", "fingerprint"),
)
def winnow_fingerprints_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (MOSS, SIGMOD 2003) at k=8-token grams /
    w=4 guarantee windows: the min hash of every 4-window (rightmost on
    ties), deduped — any shared run of ≥ 11 tokens between two docs is
    guaranteed a shared fingerprint at ~2/5 the index size of keeping
    every window hash (operators/dedup.py:winnow_fingerprints)."""
    from ..operators.dedup import winnow_fingerprints

    d = load_table(spark, sf_dir, "documents")
    return winnow_fingerprints(d, "doc_id", "text", k=8, w=4)


@register(
    "dup_spans",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKENS} AS ts FROM documents),
    wins AS (
      SELECT doc_id, i AS start,
             md5(array_to_string(ts[i:i + 19], ' ')) AS h
      FROM toks, unnest(generate_series(1, greatest(len(ts) - 19, 0))) AS u(i)
    ),
    dup AS (SELECT h FROM wins GROUP BY h HAVING count(*) >= 2),
    d AS (
      SELECT w.doc_id, w.start, w.start + 19 AS "end"
      FROM wins w JOIN dup USING (h)
    ),
    m AS (
      SELECT doc_id, start, "end",
             CASE WHEN start <= COALESCE(max("end") OVER (
                    PARTITION BY doc_id ORDER BY start
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ), -1) + 1
                  THEN 0 ELSE 1 END AS brk
      FROM d
    ),
    g AS (
      SELECT doc_id, start, "end",
             sum(brk) OVER (PARTITION BY doc_id ORDER BY start) AS grp
      FROM m
    )
    SELECT doc_id,
           CAST(min(start) AS BIGINT) AS tok_start,
           CAST(max("end") AS BIGINT) AS tok_end
    FROM g GROUP BY doc_id, grp
    """,
    tags=("llm", "dedup", "substring"),
)
def dup_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level duplication spans (the Lee et al. 2021
    suffix-array dedup, re-expressed as window hashing): maximal token
    ranges covered by 20-token substrings occurring ≥2 times anywhere in
    the corpus — the fourth dedup granularity (doc / near-doc / line /
    substring), catching a long passage quoted inside an otherwise
    unique document. Fully SQL-expressible, so unlike the ANN family
    this dedup path is hash-checked end to end."""
    from ..operators.dedup import dup_spans

    d = load_table(spark, sf_dir, "documents")
    return dup_spans(d, "doc_id", "text", window=20, min_count=2)


@register(
    "cut_spans",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKENS} AS ts FROM documents),
    wins AS (
      SELECT doc_id, i AS start, doc_id * 1000000 + i AS pk,
             md5(array_to_string(ts[i:i + 19], ' ')) AS h
      FROM toks, unnest(generate_series(1, greatest(len(ts) - 19, 0))) AS u(i)
    ),
    dup AS (
      SELECT h, min(pk) AS keep_pk FROM wins GROUP BY h HAVING count(*) >= 2
    ),
    cuts AS (
      SELECT w.doc_id, w.start, w.start + 19 AS "end"
      FROM wins w JOIN dup USING (h) WHERE w.pk <> dup.keep_pk
    ),
    m AS (
      SELECT doc_id, start, "end",
             CASE WHEN start <= COALESCE(max("end") OVER (
                    PARTITION BY doc_id ORDER BY start
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ), -1) + 1
                  THEN 0 ELSE 1 END AS brk
      FROM cuts
    ),
    g AS (
      SELECT doc_id, start, "end",
             sum(brk) OVER (PARTITION BY doc_id ORDER BY start) AS grp
      FROM m
    ),
    spans AS (
      SELECT doc_id, min(start) AS s, max("end") AS e
      FROM g GROUP BY doc_id, grp
    ),
    pos0 AS (
      SELECT t.doc_id, i, ts[i] AS tok
      FROM toks t,
           unnest(generate_series(1, greatest(len(ts), 0))) AS u(i)
    ),
    pos AS (
      SELECT p.doc_id, p.i, p.tok, sp.doc_id IS NOT NULL AS cut
      FROM pos0 p LEFT JOIN spans sp
        ON sp.doc_id = p.doc_id AND p.i BETWEEN sp.s AND sp.e
    )
    SELECT d.doc_id,
           COALESCE(string_agg(tok, ' ' ORDER BY i)
                      FILTER (WHERE NOT cut), '') AS cleaned_text,
           CAST(COALESCE(sum(CASE WHEN cut THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS n_tokens_cut
    FROM documents d LEFT JOIN pos USING (doc_id)
    GROUP BY d.doc_id
    """,
    tags=("llm", "dedup", "substring"),
)
def cut_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply substring-level dedup (the Lee et al. 2021 "cut" step
    completing dup_spans's detection): every duplicated ≥20-token run is
    deleted from all but its first occurrence — keep-first is the global
    arg-min of (doc_id, start), packed as doc_id·10⁶+start so it rides
    the partial-aggregated groupBy(hash) — and survivors re-join into
    (doc_id, cleaned_text, n_tokens_cut). The merged spans are disjoint,
    so the oracle's span probe is a ≤1-match LEFT JOIN, and re-running
    dup_spans on the output is pinned empty in pytest. window=20 here to
    suit the test corpus; the operator default is the paper's 50."""
    from ..operators.dedup import cut_spans

    d = load_table(spark, sf_dir, "documents")
    return cut_spans(d, "doc_id", "text", window=20, min_count=2)


@register(
    "lm_perplexity",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKENS} AS ts FROM documents),
    bg AS (
      SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
      FROM toks, unnest(generate_series(1, greatest(len(ts) - 1, 0))) AS u(i)
    ),
    c12 AS (SELECT w1, w2, count(*) AS n12 FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, count(*) AS n1 FROM bg GROUP BY w1),
    per AS (
      SELECT doc_id, count(*) AS n_bigrams,
             sum(CAST(floor(ln(n12::DOUBLE / n1) * 1000000000 + 0.5)
                      AS BIGINT)) AS s9
      FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(per.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           floor((CASE WHEN per.n_bigrams > 0
                       THEN s9 / 1000000000.0 / per.n_bigrams
                       ELSE 0 END) * 1000000 + 0.5) / 1000000 AS avg_logprob
    FROM documents d LEFT JOIN per USING (doc_id)
    """,
    tags=("llm", "text", "quality", "lm"),
)
def lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality signal: per-doc mean bigram log-probability
    under the corpus's own MLE bigram model (perplexity = exp(−avg) —
    monotone-equivalent, so the filter thresholds on avg_logprob
    directly). Self-training makes every scored bigram present in the
    count table, so the whole computation is exactly SQL-expressible —
    a fully hash-checked LM filter, unlike external-model scorers."""
    from ..operators.textstats import lm_doc_logprob

    d = load_table(spark, sf_dir, "documents")
    return lm_doc_logprob(d, "doc_id", "text")


@register(
    "corpus_curate",
    oracle=_CURATE_SQL,
    tags=("llm", "pipeline", "quality", "dedup", "sampling"),
)
def corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-5 curation recipe as ONE composed query — the
    operator-composition contract at the cleaning level (the corpus_clean
    pattern widened to the new families): exact-dedup survivors ∩
    Gopher-rule keeps ∩ not eval-contaminated ∩ boilerplate fraction
    < 0.5 ∩ LM keeps (avg_logprob ≥ −3.45, the CCNet stage — round 7)
    ∩ domain-mixture hash-keeps. Every stage is the SAME pure
    operator the standalone queries run, chained without glue; the final
    plan is a join tree over their (mostly scan-side) outputs that
    Catalyst reorders freely.

    Scan accounting at 100 TB: this composition re-scans documents per
    stage (column-pruned to doc_id/text/source). A production curation
    run materializes the per-doc feature table once and filters it —
    that run is ``corpus_curate_fast`` (single scan, plan-guarded); this
    entry is the correctness contract that the stage conjunction
    composes exactly, and pytest pins fast ≡ composed."""
    from ..operators.curation import LM_THRESHOLD
    from ..operators.dedup import exact_dedup
    from ..operators.sampling import domain_mix as _mix
    from ..operators.textstats import (
        boilerplate_stats,
        gopher_quality,
        lm_doc_logprob,
        ngram_overlap_flags,
    )

    d = load_table(spark, sf_dir, "documents")
    keeps = exact_dedup(d, "doc_id", "text").select(
        F.col("kept_doc_id").alias("doc_id")
    )
    g = gopher_quality(d, "doc_id", "text").filter("keep").select("doc_id")
    dec = (
        ngram_overlap_flags(
            d, d.filter(F.col("doc_id") < 10), "doc_id", "text", n=3
        )
        .filter(~F.col("contaminated"))
        .select("doc_id")
    )
    bp = (
        boilerplate_stats(d, "doc_id", "text", n=3, min_df=20)
        .filter(F.col("boiler_frac") < 0.5)
        .select("doc_id")
    )
    lmk = (
        lm_doc_logprob(d, "doc_id", "text")
        .filter(F.col("avg_logprob") >= LM_THRESHOLD)
        .select("doc_id")
    )
    mix = _mix(
        d.select("doc_id", "source"), key_col="doc_id", strata_col="source",
        weights=_MIX_WEIGHTS, budget_frac=_MIX_BUDGET_FRAC,
        default_weight=_MIX_DEFAULT_W,
    )
    return (
        mix.join(keeps, "doc_id")
        .join(g, "doc_id")
        .join(dec, "doc_id")
        .join(bp, "doc_id")
        .join(lmk, "doc_id")
        .select("doc_id", "source")
    )


_FEATURES_SQL = f"""
    WITH {_LM_CTES},
    fps AS (SELECT doc_id, md5({_NORM_TEXT}) AS fp FROM documents),
    keeps AS (SELECT fp, min(doc_id) AS keep_id FROM fps GROUP BY fp),
    g AS ({_GOPHER_SQL}),
    sh AS (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents),
    ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 10),
    hits AS (
      SELECT d.doc_id, count(*) AS n
      FROM sh d JOIN ev USING (shingle) GROUP BY d.doc_id
    ),
    dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
    bo AS (
      SELECT s.doc_id, count(*) AS n_shingles,
             sum(CASE WHEN f.df >= 20 THEN 1 ELSE 0 END) AS n_boiler
      FROM sh s JOIN dfreq f USING (shingle) GROUP BY s.doc_id
    ),
    counts AS (SELECT source, count(*) AS cnt FROM documents GROUP BY source),
    tot AS (SELECT sum(cnt) AS total FROM counts),
    thr AS (
      SELECT source,
             least(65535, CAST(floor(
               65536.0 * least(cnt, floor(floor(total * 0.5) *
                 CASE source WHEN 'src0' THEN 0.5
                             WHEN 'src1' THEN 0.25
                             WHEN 'src2' THEN 0.125
                             ELSE 0.0078125 END)) / cnt
             ) AS BIGINT) - 1) AS thr_int
      FROM counts, tot
    )
    SELECT d.doc_id, d.source,
           (d.doc_id = k.keep_id) AS is_keeper,
           g.keep AS gopher_keep,
           CAST(COALESCE(hits.n, 0) AS BIGINT) AS n_shared_ngrams,
           CAST(bo.n_shingles AS BIGINT) AS n_shingles,
           CAST(bo.n_boiler AS BIGINT) AS n_boiler,
           floor((CASE WHEN bo.n_shingles > 0
                       THEN CAST(bo.n_boiler AS DOUBLE) / bo.n_shingles
                       ELSE 0 END) * 1000000 + 0.5) / 1000000 AS boiler_frac,
           lm.avg_logprob AS avg_logprob,
           (thr.thr_int >= 0
            AND substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)
                  <= lpad(lower(to_hex(thr.thr_int)), 4, '0')) AS mix_keep
    FROM documents d
    JOIN fps ON fps.doc_id = d.doc_id
    JOIN keeps k ON k.fp = fps.fp
    JOIN g ON g.doc_id = d.doc_id
    LEFT JOIN hits ON hits.doc_id = d.doc_id
    JOIN bo ON bo.doc_id = d.doc_id
    JOIN lm ON lm.doc_id = d.doc_id
    JOIN thr ON thr.source = d.source
"""


@register(
    "corpus_features",
    oracle=_FEATURES_SQL,
    tags=("llm", "pipeline", "quality", "dedup", "sampling"),
)
def corpus_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The single-scan curation feature table (round-5 verdict's 100 TB
    fix for corpus_curate's per-stage re-scans): one pass over documents
    into a persisted pruned base, every per-doc feature — exact-dup
    keeper flag, Gopher keep, eval-overlap count, boilerplate fraction,
    mixture hash-keep — derived from that cache. Plan-guarded: the
    feature-assembly plan reads caches only, never re-scans parquet."""
    from ..operators.curation import corpus_features

    d = load_table(spark, sf_dir, "documents")
    return corpus_features(
        d,
        weights=_MIX_WEIGHTS,
        budget_frac=_MIX_BUDGET_FRAC,
        default_weight=_MIX_DEFAULT_W,
    )


@register(
    "corpus_curate_fast",
    oracle=_CURATE_SQL,
    tags=("llm", "pipeline", "quality", "dedup", "sampling"),
)
def corpus_curate_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus_curate's result from ONE corpus scan: filter the
    corpus_features table with the stage conjunction. Same oracle string
    as corpus_curate — one contract, two physical strategies — and
    pytest pins fast ≡ composed row-for-row."""
    from ..operators.curation import corpus_features, curate_filter

    d = load_table(spark, sf_dir, "documents")
    feats = corpus_features(
        d,
        weights=_MIX_WEIGHTS,
        budget_frac=_MIX_BUDGET_FRAC,
        default_weight=_MIX_DEFAULT_W,
    )
    return curate_filter(feats).select("doc_id", "source")


@register(
    "model_score",
    oracle="""
    SELECT doc_id,
           (CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 1000000)
             / 1000000.0 AS score
    FROM documents
    """,
    tags=("llm", "scoring", "classifier"),
)
def model_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-filter scoring (the GPT-3/LLaMA quality-classifier
    stage) through real per-partition-model-load mapInPandas plumbing;
    the model is a deterministic md5 pseudo-logit (library absent — the
    multimodal stub discipline), which is exactly what the oracle
    recomputes."""
    from ..operators.scoring import model_score

    d = load_table(spark, sf_dir, "documents")
    return model_score(d, "doc_id", "text")


@register(
    "containment_pairs",
    oracle=f"""
    WITH {_CAND_CTES}
    SELECT id_a, id_b,
           floor(n_shared::DOUBLE / least(sa.set_size, sb.set_size)
                 * 1000000 + 0.5) / 1000000 AS containment
    FROM shared
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_shared::DOUBLE / least(sa.set_size, sb.set_size) >= 0.8
    """,
    tags=("llm", "dedup", "containment"),
)
def containment_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document duplication pairs: max-containment ≥ 0.8 over
    stop-shingle-filtered 3-gram sets — catches a short doc embedded in
    a long one, which Jaccard's union denominator hides."""
    from ..operators.dedup import containment_pairs

    d = load_table(spark, sf_dir, "documents")
    sh = shingle_rows(d, "doc_id", "text", n=3)
    return containment_pairs(sh, "doc_id", max_df=20, threshold=0.8)


@register(
    "dsir_select",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKENS} AS ts FROM documents),
    feats AS (
      SELECT doc_id, ts[i] AS feat
      FROM toks, unnest(generate_series(1, greatest(len(ts), 0))) AS u(i)
      UNION ALL
      SELECT doc_id, ts[i] || ' ' || ts[i + 1] AS feat
      FROM toks, unnest(generate_series(1, greatest(len(ts) - 1, 0))) AS u(i)
    ),
    pd AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(feat), 1, 8)) AS BIGINT) % 4096 AS bucket,
             count(*) AS c
      FROM feats GROUP BY 1, 2
    ),
    raw AS (SELECT bucket, sum(c) AS cr FROM pd GROUP BY bucket),
    tgt AS (
      SELECT bucket, sum(c) AS ct
      FROM pd JOIN documents USING (doc_id) WHERE lang = 'en'
      GROUP BY bucket
    ),
    nr AS (SELECT sum(cr) AS nr FROM raw),
    nt AS (SELECT COALESCE(sum(ct), 0) AS nt FROM tgt),
    ratio AS (
      SELECT raw.bucket,
             CAST(floor((ln((COALESCE(ct, 0) + 1)::DOUBLE / (nt + 4096))
                       - ln((cr + 1)::DOUBLE / (nr + 4096)))
                        * 1000000000 + 0.5) AS BIGINT) AS l9
      FROM raw LEFT JOIN tgt ON raw.bucket = tgt.bucket, nr, nt
    ),
    per AS (
      SELECT doc_id, sum(c) AS n_feats, sum(c * l9) AS s9
      FROM pd JOIN ratio USING (bucket) GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(n_feats, 0) AS BIGINT) AS n_feats,
           floor((CASE WHEN n_feats > 0
                       THEN s9 / 1000000000.0 / n_feats
                       ELSE 0 END) * 1000000 + 0.5) / 1000000 AS avg_logw,
           floor((CASE WHEN n_feats > 0
                       THEN s9 / 1000000000.0 / n_feats
                       ELSE 0 END) * 1000000 + 0.5) / 1000000
             >= -0.09 AS keep
    FROM documents d LEFT JOIN per USING (doc_id)
    """,
    tags=("llm", "sampling", "selection", "dsir"),
)
def dsir_select_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance selection (Xie et al. 2023): weight every doc by
    its per-feature mean log importance ratio between two
    Laplace-smoothed hashed-ngram bag models — target = the corpus's
    English subset, raw = everything — and keep docs scoring
    target-like (avg_logw >= DSIR_TAU). The learned "model" is one
    <=4096-row per-bucket log-ratio table, broadcast to the scoring
    join, so selection over a 100 TB crawl shuffles the occurrence
    frame exactly once (into per-doc bucket counts) and never again;
    logs are nano-quantized before summation so scores are
    partition-order-exact (full DuckDB oracle)."""
    from ..operators.dsir import DSIR_TAU, dsir_select

    d = load_table(spark, sf_dir, "documents")
    return dsir_select(
        d, d.filter(F.col("lang") == "en"), "doc_id", "text", b=4096,
        tau=DSIR_TAU,
    )


@register(
    "ccnet_buckets",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKENS} AS ts FROM documents),
    bg AS (
      SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
      FROM toks, unnest(generate_series(1, greatest(len(ts) - 1, 0))) AS u(i)
    ),
    c12 AS (SELECT w1, w2, count(*) AS n12 FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, count(*) AS n1 FROM bg GROUP BY w1),
    per AS (
      SELECT doc_id, count(*) AS n_bigrams,
             sum(CAST(floor(ln(n12::DOUBLE / n1) * 1000000000 + 0.5)
                      AS BIGINT)) AS s9
      FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
      GROUP BY doc_id
    ),
    lm AS (
      SELECT d.doc_id, d.source,
             floor((CASE WHEN per.n_bigrams > 0
                         THEN s9 / 1000000000.0 / per.n_bigrams
                         ELSE 0 END) * 1000000 + 0.5) / 1000000 AS avg_logprob
      FROM documents d LEFT JOIN per USING (doc_id)
    ),
    tiled AS (
      SELECT doc_id, source, avg_logprob,
             ntile(3) OVER (PARTITION BY source
                            ORDER BY avg_logprob DESC, doc_id) AS tile
      FROM lm
    )
    SELECT doc_id, source, avg_logprob, CAST(tile AS INTEGER) AS tile,
           CASE tile WHEN 1 THEN 'head' WHEN 3 THEN 'tail'
                     ELSE 'middle' END AS ppl_bucket
    FROM tiled
    """,
    tags=("llm", "text", "quality", "lm", "ccnet"),
)
def ccnet_buckets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail corpus split: per-source NTILE(3) over
    the self-trained bigram-LM score (ties broken by doc_id, so the
    tiling is total-order-exact cross-engine) — the published pipeline
    stage between lm_perplexity scoring and mixture selection. Higher
    avg_logprob ranks earlier: head is the keep-slice."""
    from ..operators.textstats import perplexity_buckets

    d = load_table(spark, sf_dir, "documents")
    return perplexity_buckets(d, "doc_id", "text", "source", k=3)


@register(
    "bloom_decontaminate",
    oracle=f"""
    WITH ev AS (
      SELECT DISTINCT unnest({_SHINGLES}) AS g FROM documents WHERE doc_id < 10
    ),
    pos AS (
      SELECT DISTINCT
             CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || g), 1, 8))
                  AS BIGINT) % 1048576 AS p
      FROM ev, unnest(generate_series(0, 3)) AS u(j)
    ),
    docsh AS (
      SELECT doc_id, unnest({_SHINGLES}) AS g FROM documents
    ),
    docpos AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5('0|' || g), 1, 8)) AS BIGINT)
               % 1048576 AS p0,
             CAST(('0x' || substr(md5('1|' || g), 1, 8)) AS BIGINT)
               % 1048576 AS p1,
             CAST(('0x' || substr(md5('2|' || g), 1, 8)) AS BIGINT)
               % 1048576 AS p2,
             CAST(('0x' || substr(md5('3|' || g), 1, 8)) AS BIGINT)
               % 1048576 AS p3
      FROM docsh
    ),
    hits AS (
      SELECT DISTINCT doc_id FROM docpos
      WHERE p0 IN (SELECT p FROM pos) AND p1 IN (SELECT p FROM pos)
        AND p2 IN (SELECT p FROM pos) AND p3 IN (SELECT p FROM pos)
    )
    SELECT d.doc_id,
           CAST(len({_SHINGLES}) AS BIGINT) AS n_ngrams,
           h.doc_id IS NOT NULL AS contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    """,
    tags=("llm", "decontamination", "bloom"),
)
def bloom_decontaminate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination through an m-bit bloom filter (the Dolma
    BFF shape): the eval set (doc_id<10, the decontaminate twin's
    benchmark stand-in) compresses to 2^20 bits / k=4 md5 positions, and
    the probe is zero-shuffle — positions JVM-side, one Arrow-batched
    bit-test UDF against the broadcast bitset. Bloom FPs are a
    deterministic function of (hash family, m, k), so the oracle
    reproduces the flag exactly with the join-semantics definition;
    pytest pins contaminated ⊇ the exact ngram_overlap_flags set."""
    from ..operators.bloom import bloom_build, bloom_contaminated

    d = load_table(spark, sf_dir, "documents")
    bits = bloom_build(d.filter(F.col("doc_id") < 10), "doc_id", "text", n=3)
    return bloom_contaminated(d, "doc_id", "text", bits, n=3)


@register(
    "dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE {_PAIR_CTES},
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(node, lab) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.a, r.lab FROM edges e JOIN reach r ON r.node = e.b
    ),
    comp AS (
      SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node
    ),
    qt AS (
      SELECT doc_id,
             len({_TOKENS}) AS n_tokens,
             floor((len(list_filter({_TOKENS},
                      t -> t IN ('the','a','of','and','to')))::DOUBLE
                    / greatest(len({_TOKENS}), 1)) * 1000000 + 0.5) / 1000000
               AS stop_ratio,
             floor((length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))::DOUBLE
                    / greatest(length(text), 1)) * 1000000 + 0.5) / 1000000
               AS punct_ratio
      FROM documents
    ),
    q AS (
      SELECT doc_id,
             floor((0.4 * least(n_tokens::DOUBLE / 100.0, 1.0)
                    + 0.4 * stop_ratio
                    + 0.2 * (1.0 - punct_ratio)) * 1000000 + 0.5) / 1000000
               AS quality
      FROM qt
    ),
    lab AS (
      SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
             q.quality
      FROM documents d
      LEFT JOIN comp c USING (doc_id)
      JOIN q USING (doc_id)
    )
    SELECT doc_id, cluster_id, quality,
           row_number() OVER (PARTITION BY cluster_id
                              ORDER BY quality DESC, doc_id) = 1 AS keep
    FROM lab
    """,
    tags=("llm", "dedup", "graph", "policy"),
)
def dedup_keep_best_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-doc keep policy over near-dup clusters: where
    dup_clusters keeps the min-id doc per component (the papers'
    determinism convention), this keeps the HIGHEST-QUALITY copy
    (quality_score's 6-dp composite; ties to lowest id) — the decision
    production pipelines actually want when a cleaned mirror and a
    boilerplate-ridden scrape of the same page collide. Same
    connected-components machinery, same recursive-CTE oracle, plus the
    per-cluster argmax window (clusters are small by construction — the
    upstream df cap kills mega-clusters — so no window partition can
    dominate)."""
    from ..operators.dedup import connected_components, keep_best_per_cluster

    d = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(
        shingle_rows(d, "doc_id", "text", n=3), "doc_id", max_df=20,
        threshold=0.5,
    ).select("id_a", "id_b")
    cc = connected_components(pairs)
    from ..operators.textstats import quality_score

    scored = quality_score(d, "doc_id", "text").select("doc_id", "quality")
    return keep_best_per_cluster(scored, cc, "doc_id", "quality")


@register(
    "token_mix",
    oracle=f"""
    WITH counts AS (
      SELECT source, sum(len({_TOKENS})) AS cnt FROM documents GROUP BY source
    ),
    tot AS (SELECT sum(cnt) AS total FROM counts),
    thr AS (
      SELECT source,
             least(65535, CAST(floor(
               65536.0 * least(cnt, floor(floor(total * 0.5) *
                 CASE source WHEN 'src0' THEN 0.5
                             WHEN 'src1' THEN 0.25
                             WHEN 'src2' THEN 0.125
                             ELSE 0.0078125 END)) / cnt
             ) AS BIGINT) - 1) AS thr_int
      FROM counts, tot
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN thr USING (source)
    WHERE thr.thr_int >= 0
      AND substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)
            <= lpad(lower(to_hex(thr.thr_int)), 4, '0')
    """,
    tags=("llm", "sampling", "mixing", "tokens"),
)
def token_mix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """domain_mix with the budget in TOKENS — how mixtures are actually
    specified ("50% web, 25% books… of N tokens"); a doc-count mixture
    over-represents short-doc domains by token share. One token-sum per
    stratum (collected, one row per domain), the same exact-IEEE
    threshold recipe, the same zero-shuffle scan-side hash filter —
    keeping a hash-uniform fraction of docs keeps that fraction of the
    stratum's tokens in expectation (doc length ⊥ key hash)."""
    from ..operators.sampling import token_budget_mix

    d = load_table(spark, sf_dir, "documents")
    toks = F.size(
        F.filter(
            F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit("")
        )
    )
    dd = d.select("doc_id", "source", toks.alias("_n_toks"))
    return token_budget_mix(
        dd, key_col="doc_id", strata_col="source", tokens_col="_n_toks",
        weights=_MIX_WEIGHTS, budget_frac=_MIX_BUDGET_FRAC,
        default_weight=_MIX_DEFAULT_W,
    ).select("doc_id", "source")


@register(
    "corpus_to_shards",
    oracle=f"""
    WITH curated AS (
      {_CURATE_SQL}
    ),
    t AS (
      SELECT d.doc_id, CAST(d.doc_id % 16 AS BIGINT) AS shard,
             CAST(len({_RAW_TOKENS}) AS BIGINT) AS n_tokens
      FROM documents d JOIN curated USING (doc_id)
    ),
    w AS (
      SELECT doc_id, shard, n_tokens,
             sum(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum_end
      FROM t
    )
    SELECT doc_id, shard, n_tokens,
           CAST(cum_end - n_tokens AS BIGINT) AS tok_offset,
           CASE WHEN n_tokens > 0
                THEN CAST((cum_end - n_tokens) // 128 AS BIGINT) END
             AS seq_first,
           CASE WHEN n_tokens > 0
                THEN CAST((cum_end - 1) // 128 AS BIGINT) END AS seq_last
    FROM w
    """,
    tags=("llm", "pipeline", "packing", "pretraining"),
)
def corpus_to_shards_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END corpus-preparation pipeline as one composed query:
    single-scan curation (exact-dup representative ∩ Gopher ∩ not
    contaminated ∩ boilerplate < 0.5 ∩ CCNet-LM keep ∩ mixture
    hash-keep — exactly corpus_curate_fast's contract) feeding straight
    into the GPT-style packing manifest (hash-sharded concat-and-chunk,
    128-token sequences, per-shard running-sum windows). This is what a
    user of the engine actually runs: raw corpus in, training-shard
    manifest out, one plan end to end — curation costs one corpus scan
    (plan-guarded via corpus_features), packing adds one hash exchange
    on shard, and every stage is the SAME operator the standalone catalog
    queries verify. Fully SQL-expressible, so the whole pipeline is one
    hash-checked oracle row.

    Scan accounting: TWO corpus scans total — one into the feature cache
    (curation), one re-reading kept docs' text for token counting at
    pack time (the feature table deliberately doesn't carry text; its
    schema is the corpus_features contract). The pack-time
    scan is keep-filtered and pruned to (doc_id, text). Plan-guarded in
    tests/test_packing.py: the post-materialization plan holds exactly
    one file scan."""
    from ..operators.curation import corpus_features, curate_filter
    from ..operators.packing import pack_sequences

    d = load_table(spark, sf_dir, "documents")
    feats = corpus_features(
        d,
        weights=_MIX_WEIGHTS,
        budget_frac=_MIX_BUDGET_FRAC,
        default_weight=_MIX_DEFAULT_W,
    )
    keeps = curate_filter(feats).select("doc_id")
    kept = d.join(keeps, "doc_id").select("doc_id", "text")
    return pack_sequences(kept, "doc_id", "text", seq_len=128, n_shards=16)


@register(
    "shuffle_shards",
    oracle="""
    WITH base AS (
      SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS shuffle_key,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 16 AS shard
      FROM documents
    )
    SELECT doc_id, shuffle_key, shard,
           CAST(row_number() OVER (PARTITION BY shard
                                   ORDER BY shuffle_key, doc_id) - 1
                AS BIGINT) AS shard_pos
    FROM base
    """,
    tags=("llm", "packing", "pretraining", "shuffle"),
)
def shuffle_shards_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: md5(id) shuffle keys
    (uniform, retry-stable — rand() would break replay), hash-assigned
    shards, per-shard rank windows. No global total order anywhere: one
    hash exchange + shard-bounded windows, so the 100 TB epoch shuffle
    never funnels through a single sort; a loader round-robins shards by
    shard_pos for the interleave."""
    from ..operators.packing import shuffle_shards

    d = load_table(spark, sf_dir, "documents")
    return shuffle_shards(d, "doc_id", n_shards=16)


@register(
    "media_dedup",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, md5(text) AS media_fp,
             CAST(strlen(text) AS BIGINT) AS n_bytes
      FROM documents
    ),
    k AS (SELECT media_fp, min(doc_id) AS _k FROM fp GROUP BY media_fp)
    SELECT fp.doc_id, fp.media_fp, fp.n_bytes,
           fp.doc_id = k._k AS keep
    FROM fp JOIN k USING (media_fp)
    """,
    tags=("llm", "multimodal", "dedup"),
)
def media_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact media dedup by payload checksum (the LAION-style stage:
    identical images downloaded under different URLs collapse on their
    byte hash): md5 over the BINARY payload column of the multimodal
    shape, keep-lowest-id per fingerprint. Unlike dedup_exact this
    hashes raw bytes — no text normalization — which is the correct
    equality for opaque media; the oracle's md5(text) is byte-identical
    because the payload is the text's utf-8 bytes by construction
    (to_binary_payload). One hash groupBy, no skew (fingerprints are
    uniform)."""
    from ..operators.multimodal import to_binary_payload

    d = load_table(spark, sf_dir, "documents")
    media = to_binary_payload(d, "doc_id", "text")
    fp = media.select(
        "doc_id",
        F.md5("payload").alias("media_fp"),
        F.col("meta.n_bytes").cast("long").alias("n_bytes"),
    )
    keepers = fp.groupBy("media_fp").agg(F.min("doc_id").alias("_k"))
    return fp.join(keepers, "media_fp").select(
        "doc_id",
        "media_fp",
        "n_bytes",
        (F.col("doc_id") == F.col("_k")).alias("keep"),
    )


@register(
    "hard_negatives",
    oracle=f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             c.label AS neighbor_label,
             floor(({_DOT} / ({_NORM_Q} * {_NORM_C})) * 1000000 + 0.5)
               / 1000000 AS score
      FROM embeddings q JOIN embeddings c
        ON c.vec_id <> q.vec_id AND c.label <> q.label
      WHERE q.vec_id < 10
    )
    SELECT query_id, neighbor_id, neighbor_label, score, rank FROM (
      SELECT *, row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
    tags=("llm", "similarity", "contrastive"),
)
def hard_negatives_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (the DPR/ANCE
    upgrade over in-batch random negatives): per query (vec_id<10), the
    5 most-similar corpus vectors with a DIFFERENT label — label filter
    BEFORE ranking, so rank k is the k-th hardest negative. Broadcast
    queries, one corpus scan, no corpus shuffle; at scale the exact scan
    swaps for the ANN front-ends feeding the same label-filtered
    rerank."""
    from ..operators.similarity import hard_negatives

    e = load_table(spark, sf_dir, "embeddings")
    return hard_negatives(
        e, e.filter(F.col("vec_id") < 10), "vec_id", "embedding", "label",
        k=5, dim=64,
    )


def _cms_oracle(depth: int, width: int, topk: int) -> str:
    """SQL mirror of operators/cms.py: identical md5-salted buckets
    (('0x'||hex)::BIGINT is DuckDB's conv(hex,16,10)), identical
    cell-wise sketch, identical min-over-rows estimate — the sketch is
    approximate but DETERMINISTIC, so the full value-hash gate applies."""
    return f"""
    WITH ks AS (
      SELECT user_id, count(*) AS true_cnt FROM events GROUP BY user_id
    ), cells AS (
      SELECT e.user_id, t.i,
             CAST(('0x' || substr(md5(CAST(e.user_id AS VARCHAR)
                                       || '|' || CAST(t.i AS VARCHAR)),
                                  1, 15)) AS BIGINT) % {width} AS bucket
      FROM events e CROSS JOIN range({depth}) t(i)
    ), sketch AS (
      SELECT i, bucket, count(*) AS cnt FROM cells GROUP BY i, bucket
    ), probes AS (
      SELECT DISTINCT user_id, i, bucket FROM cells
    ), est AS (
      SELECT p.user_id, min(s.cnt) AS est_cnt
      FROM probes p JOIN sketch s ON s.i = p.i AND s.bucket = p.bucket
      GROUP BY p.user_id
    )
    SELECT rank, user_id, est_cnt, true_cnt FROM (
      SELECT k.user_id, e.est_cnt, k.true_cnt,
             row_number() OVER (ORDER BY e.est_cnt DESC, k.user_id) AS rank
      FROM ks k JOIN est e ON k.user_id = e.user_id
    ) WHERE rank <= {topk}
    """


@register(
    "heavy_hitters_cms",
    oracle=_cms_oracle(depth=4, width=256, topk=20),
    tags=("llm", "sketch", "events"),
)
def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 heaviest event emitters ranked by COUNT-MIN ESTIMATE
    (d=4, w=256), with the exact count alongside to exhibit the
    one-sided bound (est >= true, always). The sketch is a <=1024-row
    DataFrame built in one map-side-combined shuffle regardless of
    input size — the structure that replaces exact per-key counting
    when the key space (billions of users) no longer fits a shuffle;
    the probe joins against the BROADCAST sketch, so estimation costs
    no exchange beyond the per-key distinct. Ranking by the estimate
    (not truth) is the honest production semantics: ties and collision
    inflation land in the output order, and both engines compute the
    identical deterministic sketch."""
    from ..operators.cms import cms_estimate, cms_sketch

    ev = load_table(spark, sf_dir, "events").select("user_id")
    sk = cms_sketch(ev, "user_id", depth=4, width=256)
    truth = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_cnt"))
    est = cms_estimate(
        sk, truth.select("user_id"), "user_id", depth=4, width=256
    )
    ranked = (
        truth.join(est, "user_id")
        .orderBy(F.col("est_cnt").desc(), "user_id")
        .limit(20)
    )
    w = Window.orderBy(F.col("est_cnt").desc(), "user_id")
    return ranked.withColumn("rank", F.row_number().over(w)).select(
        "rank", "user_id", "est_cnt", "true_cnt"
    )


@register(
    "dup_triangles",
    oracle=f"""
    WITH {_PAIR_CTES},
    e AS (SELECT id_a AS a, id_b AS b FROM pairs),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1
      JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ), nodes AS (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    )
    SELECT node AS doc_id, count(*) AS n_triangles
    FROM nodes GROUP BY node
    """,
    tags=("llm", "dedup", "graph"),
)
def dup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc triangle support in the >=0.5-Jaccard near-dup graph —
    the cohesion signal distinguishing dup CLIQUES (safe to collapse to
    one canonical doc) from similarity CHAINS (template drift: A~B~C
    but A!~C), which is what a keep-policy should consult before
    collapsing a cluster. Spark side is the degree-oriented one-count-
    per-triangle formulation (operators/graph.py — wedge work bounded
    O(E^1.5)); the oracle enumerates with the simple id orientation,
    equal because triangle sets are orientation-independent."""
    from ..operators.graph import triangle_counts

    d = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(
        shingle_rows(d, "doc_id", "text", n=3), "doc_id", max_df=20,
        threshold=0.5,
    ).select("id_a", "id_b")
    return triangle_counts(pairs).withColumnRenamed("node", "doc_id")


# ---------------------------------------------------------------------------
# Entity resolution (round 9): dictionary-first blocked fuzzy matching
# ---------------------------------------------------------------------------
@register(
    "part_name_matches",
    oracle="""
    WITH names AS (
      SELECT p_name AS name, count(*) AS n,
             string_split(p_name, ' ')[-1] AS blk
      FROM part GROUP BY p_name
    )
    SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist,
           a.n AS n_a, b.n AS n_b
    FROM names a JOIN names b ON a.blk = b.blk AND a.name < b.name
    WHERE levenshtein(a.name, b.name) <= 3
    """,
    tags=("llm", "dedup", "fuzzy"),
)
def part_name_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution shape: near-identical part names (Levenshtein
    <= 3) found dictionary-first — the entity table collapses to its
    distinct-name dictionary before any pairwise work, the fuzzy
    self-join is blocked on the name's noun (last token) so the
    edit-distance predicate only sees block collisions, and each match
    carries how many parts use each spelling. The 100 TB discipline is
    the collapse: fuzzy-match the dictionary (tiny, broadcastable),
    never the entity table (operators/similarity.py:fuzzy_name_matches).
    """
    from ..operators.similarity import fuzzy_name_matches

    return fuzzy_name_matches(
        load_table(spark, sf_dir, "part"),
        "p_name",
        lambda name: F.element_at(F.split(name, " "), -1),
        max_dist=3,
    )


@register(
    "bigram_lm",
    oracle=f"""
    WITH toks AS (
      SELECT {_TOKENS} AS ts FROM documents
    ), bg AS (
      SELECT ts[i] AS w1, ts[i + 1] AS w2
      FROM toks, UNNEST(generate_series(1, len(ts) - 1)) AS g(i)
    ), c12 AS (
      SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2
    ), c1 AS (
      SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1
    ), cont AS (
      SELECT w2, count(*) AS n_left FROM c12 GROUP BY 1
    ), d AS (
      SELECT count(*) AS nbt FROM c12
    )
    SELECT w1, w2, c12,
           c12 * 1000000 // c1 AS p6,
           n_left * 1000000 // nbt AS pcont6
    FROM c12 JOIN c1 USING (w1) JOIN cont USING (w2) CROSS JOIN d
    ORDER BY c12 DESC, w1, w2 LIMIT 50
    """,
    tags=("llm", "text", "ngram"),
)
def bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 corpus bigrams with conditional P(w2|w1) and Kneser-Ney
    continuation P_cont(w2) — the n-gram LM counting pass. Bigrams zip
    executor-side from each token array against its own tail (no
    self-join); both marginals roll up from the single (w1, w2)
    aggregate; probabilities are exact integers ((x*1e6) div y) so
    cross-engine equality is arithmetic (operators/textstats.py:
    bigram_stats)."""
    from ..operators.textstats import bigram_stats

    return bigram_stats(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", top_n=50
    )


@register(
    "term_postings",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKENS}) AS term FROM documents
    ), pp AS (
      SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2
    )
    SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS tf_total,
           array_to_string((list(doc_id ORDER BY doc_id))[1:20], ',')
             AS head_postings
    FROM pp GROUP BY term
    """,
    tags=("llm", "text", "search"),
)
def term_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build over the documents table: per term, df,
    total tf, and the first 20 doc ids of the ascending postings list
    as a comma string (a documented inspection cap — the full-scale
    store ships the (term, doc, tf) aggregate bucketed by term rather
    than packing unbounded arrays into rows). The lexical-index
    counterpart to the ANN index builds
    (operators/textstats.py:postings)."""
    from ..operators.textstats import postings

    return postings(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", head_n=20
    )

@register(
    "skipgram_cooc",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKENS} AS t FROM documents
    ), pairs AS (
      SELECT unnest(flatten(list_transform([1, 2], k ->
        list_transform(generate_series(1, len(t) - k), i ->
          CASE WHEN t[i] <= t[i+k] THEN t[i] || ' ' || t[i+k]
               ELSE t[i+k] || ' ' || t[i] END)))) AS pair
      FROM toks WHERE len(t) >= 2
    ), cooc AS (
      SELECT pair, count(*) AS n_cooc FROM pairs GROUP BY pair
    ), uni AS (
      SELECT w, count(*) AS c
      FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
    ), total AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni)
    SELECT pair, n_cooc,
           CAST(floor(
             CAST(n_cooc AS DOUBLE) * CAST(total.n AS DOUBLE)
             / (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE))
             * 1000000.0 + 0.5) AS BIGINT) AS lift_ppm
    FROM cooc
    CROSS JOIN total
    JOIN uni u1 ON u1.w = string_split(pair, ' ')[1]
    JOIN uni u2 ON u2.w = string_split(pair, ' ')[2]
    ORDER BY n_cooc DESC, pair LIMIT 100
    """,
    tags=("llm", "text", "cooccurrence"),
)
def skipgram_cooc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 window-2 skip-gram co-occurrence pairs with PPM lift —
    the word2vec/PMI data-prep pass over the corpus. Pair generation is
    array-side (zip_with over shifted slices: no positional self-join),
    one token scan feeds both the pair and unigram aggregates, unigram
    counts broadcast into the lift join, and lift is an integral-PPM
    ratio through one shared IEEE-double tree — no ln(), so none of the
    bm25/weighted-priority libm portability caveat applies."""
    from ..operators.textstats import skipgram_pairs

    return skipgram_pairs(
        load_table(spark, sf_dir, "documents"), "doc_id", "text",
        window=2, top_n=100,
    )


@register(
    "phrase_search",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKENS} AS t FROM documents
    ), m AS (
      SELECT doc_id, i
      FROM toks, unnest(generate_series(1, len(t) - 1)) AS ii(i)
      WHERE t[i] = 'table' AND t[i+1] = 'hash'
    )
    SELECT doc_id, count(*) AS n_matches, min(i) AS first_pos
    FROM m GROUP BY doc_id
    """,
    tags=("llm", "text", "search"),
)
def phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase retrieval ('table hash' adjacent) via a positional
    postings join: each side of the join is the postings slice of ONE
    term (partition pruning against a term-bucketed store at scale),
    hash-joined on (doc, position+1) — order-aware matching
    complementing bm25_rank's bag-of-words scoring."""
    from ..operators.textstats import phrase_match

    return phrase_match(
        load_table(spark, sf_dir, "documents"), "doc_id", "text",
        "table", "hash",
    )

@register(
    "name_entity_clusters",
    oracle="""
    WITH RECURSIVE names AS (
      SELECT p_name AS name, count(*) AS n,
             string_split(p_name, ' ')[-1] AS blk
      FROM part GROUP BY p_name
    ), pairs AS (
      SELECT a.name AS name_a, b.name AS name_b
      FROM names a JOIN names b ON a.blk = b.blk AND a.name < b.name
      WHERE levenshtein(a.name, b.name) <= 3
    ), edges AS (
      SELECT name_a AS a, name_b AS b FROM pairs
      UNION SELECT name_b, name_a FROM pairs
    ), reach(node, lab) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.a, r.lab FROM edges e JOIN reach r ON r.node = e.b
    ), comp AS (
      SELECT node AS name, min(lab) AS canon FROM reach GROUP BY node
    )
    SELECT comp.canon AS cluster_canon,
           count(*) AS n_names,
           CAST(sum(names.n) AS BIGINT) AS n_entities
    FROM comp JOIN names ON names.name = comp.name
    GROUP BY comp.canon
    """,
    tags=("llm", "dedup", "fuzzy", "graph"),
)
def name_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution END-TO-END: the blocked fuzzy name matches
    (part_name_matches) become an undirected graph and collapse into
    clusters via the distributed connected-components operator
    (min-label propagation with O(log n) star-contraction fallback —
    the dup_clusters machinery applied to STRING nodes); each cluster
    reports its canonical (minimum) spelling, spelling count, and total
    entity rows it absorbs. The oracle closes the same edge set with a
    recursive CTE. This is the variant-consolidation step a catalog
    cleanup actually ships: matches alone say 'these two look alike' —
    clusters say 'these five spellings are ONE product'."""
    from pyspark.sql import Window

    from ..operators.dedup import connected_components
    from ..operators.similarity import fuzzy_name_matches

    parts = load_table(spark, sf_dir, "part")
    m = fuzzy_name_matches(
        parts,
        "p_name",
        lambda name: F.element_at(F.split(name, " "), -1),
        max_dist=3,
    )
    counts = parts.groupBy(F.col("p_name").alias("name")).agg(
        F.count(F.lit(1)).alias("n")
    )
    # CC wants NUMERIC nodes (its convergence check sums labels):
    # number the dictionary in lexicographic order, so the min-id
    # canonical IS the min-name canonical the oracle computes. The
    # window is dictionary-sized by the fuzzy-match contract (tiny),
    # and persist+count stops the rank lineage recomputing per consumer.
    ids = counts.withColumn(
        "nid", F.row_number().over(Window.orderBy("name"))
    ).persist()
    ids.count()
    a = ids.select(F.col("name").alias("name_a"), F.col("nid").alias("id_a"))
    b = ids.select(F.col("name").alias("name_b"), F.col("nid").alias("id_b"))
    edges = m.join(F.broadcast(a), "name_a").join(F.broadcast(b), "name_b")
    cc = connected_components(edges.select("id_a", "id_b"))
    out = (
        cc.join(
            F.broadcast(ids.select(F.col("nid").alias("node"), "n")), "node"
        )
        .join(
            F.broadcast(
                ids.select(
                    F.col("nid").alias("label"),
                    F.col("name").alias("cluster_canon"),
                )
            ),
            "label",
        )
        .groupBy("cluster_canon")
        .agg(
            F.count(F.lit(1)).alias("n_names"),
            F.sum("n").alias("n_entities"),
        )
    )
    rows = out.collect()  # cluster-bounded; frees the dictionary cache
    ids.unpersist()
    return spark.createDataFrame(rows, schema=out.schema)

@register(
    "keyword_contexts",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKENS} AS t FROM documents
    ), occ AS (
      SELECT doc_id, t, i
      FROM toks, unnest(generate_series(1, len(t))) AS ii(i)
      WHERE t[i] = 'spark'
    )
    SELECT doc_id, i AS pos,
           COALESCE(array_to_string(t[greatest(1, i - 3):i - 1], ' '), '')
             AS left_ctx,
           COALESCE(array_to_string(t[i + 1:least(len(t), i + 3)], ' '), '')
             AS right_ctx
    FROM occ
    """,
    tags=("llm", "text", "search"),
)
def keyword_contexts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KWIC (keyword-in-context) extraction for the term 'spark': every
    occurrence with its ±3-token context — the concordance/inspection
    view a corpus tool serves next to retrieval. Zero joins: the token
    array rides along with its own posexplode, contexts are array
    slices (all inside whole-stage codegen), and the term filter means
    only matching rows ever materialize contexts. Positions 1-based to
    match the postings surface."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit("")
    )
    occ = d.select(
        "doc_id", toks.alias("t"), F.posexplode(toks).alias("pos0", "term")
    ).filter(F.col("term") == "spark")
    p = F.col("pos0") + 1  # 1-based
    return occ.select(
        "doc_id",
        p.alias("pos"),
        F.concat_ws(
            " ",
            F.slice(
                F.col("t"),
                F.greatest(F.lit(1), p - 3),
                F.least(F.lit(3), p - 1),
            ),
        ).alias("left_ctx"),
        F.concat_ws(" ", F.slice(F.col("t"), p + 1, F.lit(3))).alias(
            "right_ctx"
        ),
    )

def _lang_confusion_oracle() -> str:
    """Confusion matrix over the lang_id prediction (same marker-argmax
    mirror as _lang_oracle, aggregated against the declared label)."""
    hit_exprs = {
        lang: (
            f"len(list_filter({_TOKENS}, t -> t IN "
            f"({', '.join(repr(m) for m in markers)})))"
        )
        for lang, markers in LANG_MARKERS.items()
    }
    best = "greatest(" + ", ".join(hit_exprs.values()) + ")"
    case = "CASE"
    for lang, expr in hit_exprs.items():
        case += f" WHEN {expr} = best AND best > 0 THEN '{lang}'"
    case += " ELSE 'und' END"
    return f"""
    WITH p AS (
      SELECT lang AS declared, {case} AS predicted
      FROM (SELECT lang, {best} AS best, text FROM documents)
    ), cells AS (
      SELECT declared, predicted, count(*) AS n
      FROM p GROUP BY declared, predicted
    ), tot AS (
      SELECT declared, CAST(sum(n) AS BIGINT) AS nd FROM cells
      GROUP BY declared
    )
    SELECT c.declared, c.predicted, c.n,
           CAST(c.n * 1000000 // t.nd AS BIGINT) AS row_share_ppm
    FROM cells c JOIN tot t ON c.declared = t.declared
    """


@register(
    "lang_confusion",
    oracle=_lang_confusion_oracle(),
    tags=("llm", "text", "quality"),
)
def lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-quality audit: the confusion matrix of the marker-argmax
    lang_id prediction against each document's DECLARED language, with
    each cell's share of its declared-language row (integral ppm) — the
    audit that decides whether a corpus's metadata labels can be
    trusted before they drive filtering or mixture weights. One scan +
    one (declared, predicted) aggregate; the row marginal folds from
    the same aggregate and broadcasts back (the chi² discipline)."""
    from ..operators.textstats import lang_id

    d = load_table(spark, sf_dir, "documents")
    pred = lang_id(d, "doc_id", "text").select("doc_id", "pred_lang")
    cells = (
        d.select("doc_id", F.col("lang").alias("declared"))
        .join(pred, "doc_id")
        .groupBy("declared", F.col("pred_lang").alias("predicted"))
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    cells.count()  # materialize before the two-consumer fan-out
    tot = cells.groupBy("declared").agg(F.sum("n").alias("nd"))
    out = cells.join(F.broadcast(tot), "declared").select(
        "declared",
        "predicted",
        "n",
        F.expr("CAST(n * 1000000L div nd AS BIGINT)").alias(
            "row_share_ppm"
        ),
    )
    rows = out.collect()  # |langs|²-bounded; frees the cells cache
    cells.unpersist()
    return spark.createDataFrame(rows, schema=out.schema)


@register(
    "domain_unigram_cosine",
    oracle=f"""
    WITH tw AS (
      SELECT source, unnest({_TOKENS}) AS w FROM documents
    ), c AS (
      SELECT source, w, count(*) AS c FROM tw GROUP BY 1, 2
    ), nrm AS (
      SELECT source, sum(c * c) AS s2 FROM c GROUP BY 1
    ), dots AS (
      SELECT a.source AS source_a, b.source AS source_b,
             sum(a.c * b.c) AS dot
      FROM c a JOIN c b ON a.w = b.w AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, CAST(dot AS BIGINT) AS dot,
           CAST(floor(CAST(dot AS DOUBLE)
                / (sqrt(CAST(na.s2 AS DOUBLE)) * sqrt(CAST(nb.s2 AS DOUBLE)))
                * 1000000.0 + 0.5) AS BIGINT) AS cos_ppm
    FROM dots
    JOIN nrm na ON na.source = source_a
    JOIN nrm nb ON nb.source = source_b
    """,
    tags=("llm", "mixing", "similarity"),
)
def domain_unigram_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between the SOURCES' unigram count
    vectors — the data-mixing diagnostic that tells a curation pipeline
    which domains are near-duplicates of each other in vocabulary terms
    (merge candidates) and which add coverage, before any weights are
    picked (domain_mix sets the proportions; this checks the geometry).

    Scale: one token scan folds to (source, w) counts; the dot products
    are a vocabulary-keyed self-join of that dimension×vocab aggregate
    (never the corpus) and collapse to a |sources|²-bounded matrix; the
    norms are one more |sources|-row fold. Exact integer dots/norms²
    feed one IEEE tree (sqrt/division are correctly rounded, so both
    engines agree bit-for-bit — the ln-free discipline)."""
    d = load_table(spark, sf_dir, "documents").select("source", "text")
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit("")
    )
    c = (
        d.select("source", F.explode(toks).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    c.count()  # one token scan feeds dots AND norms
    nrm = c.groupBy("source").agg(
        F.sum(F.col("c") * F.col("c")).alias("s2")
    )
    a = c.select(F.col("source").alias("source_a"), "w", F.col("c").alias("ca"))
    b = c.select(F.col("source").alias("source_b"), "w", F.col("c").alias("cb"))
    dots = (
        a.join(b, "w")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    out = (
        dots.join(
            F.broadcast(
                nrm.withColumnRenamed("source", "source_a")
                .withColumnRenamed("s2", "sa2")
            ),
            "source_a",
        )
        .join(
            F.broadcast(
                nrm.withColumnRenamed("source", "source_b")
                .withColumnRenamed("s2", "sb2")
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "dot",
            F.floor(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("sa2").cast("double"))
                    * F.sqrt(F.col("sb2").cast("double"))
                )
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("cos_ppm"),
        )
    )
    rows = out.collect()  # |sources|²-bounded; frees the count cache
    c.unpersist()
    return spark.createDataFrame(rows, schema=out.schema)


@register(
    "ngram_novelty",
    oracle=f"""
    WITH ds AS (
      SELECT DISTINCT doc_id, unnest({_SHINGLES}) AS shingle
      FROM documents
    ), df AS (
      SELECT shingle, count(*) AS df FROM ds GROUP BY 1
    )
    SELECT ds.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unique,
           CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS novelty_ppm
    FROM ds JOIN df USING (shingle)
    GROUP BY ds.doc_id
    """,
    tags=("llm", "dedup", "quality"),
)
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the share of a doc's distinct
    3-shingles that appear in NO other document — the continuous
    uniqueness signal under the dedup family (exact dedup kills copies,
    MinHash kills near-copies; novelty RANKS everything in between, and
    low-novelty docs are the memorization risk a training-data pipeline
    downweights).

    Scale: the corpus shingles once (the dedup family's shared
    projection), document frequency rolls up from that SAME distinct
    (doc, shingle) aggregate, and the doc rollup joins the two on the
    shingle key — every shuffle is on shingle or doc, no all-pairs
    anything. Exact integer ppm (counts non-negative → floor = truncate
    on both engines); docs whose every shingle repeats elsewhere report
    0, fully-novel docs 1000000."""
    from ..operators.dedup import shingle_rows

    d = load_table(spark, sf_dir, "documents")
    ds = shingle_rows(d, "doc_id", "text", n=3).persist()
    ds.count()  # one shingle projection feeds df AND the doc rollup
    dfreq = ds.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    out = (
        ds.join(dfreq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("df") == 1).cast("long")).alias("n_unique"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_unique",
            F.expr("n_unique * 1000000L div n_shingles").alias(
                "novelty_ppm"
            ),
        )
    )
    # doc-proportional result: stays distributed; unpersisting lets the
    # caller's action recompute the shingle lineage once (one scan)
    ds.unpersist()
    return out


@register(
    "embedding_norm_audit",
    oracle="""
    WITH per AS (
      SELECT label,
             -- explicit left fold (list_reduce over a prepended 0.0), the
             -- same association as Spark's F.aggregate — list_sum's
             -- summation order is not contractual
             CAST(floor(list_reduce(
                    list_prepend(CAST(0.0 AS DOUBLE),
                      list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
                    (acc, x) -> acc + x)
                  * 1000000.0 + 0.5) AS BIGINT) AS norm2_u
      FROM embeddings
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n,
           CAST(min(norm2_u) AS BIGINT) AS min_norm2_u,
           CAST(max(norm2_u) AS BIGINT) AS max_norm2_u,
           CAST(sum(norm2_u) // count(*) AS BIGINT) AS mean_norm2_u,
           CAST(sum(CASE WHEN norm2_u = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_zero
    FROM per GROUP BY label
    """,
    tags=("llm", "embeddings", "quality", "audit"),
)
def embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label audit of embedding vector norms — the pre-index sanity
    screen (zero vectors break cosine ANN silently; a label whose norm
    range is wildly off signals a bad encoder batch or missing
    normalization) run before any knn_* index build.

    Determinism across engines despite float inputs: the squared norm is
    folded per ROW over the array (fixed element order → fixed IEEE
    association on both engines), floored into integral micro-units, and
    only INTEGERS are aggregated across rows — a double SUM over rows
    would associate in engine/partition-specific order (the same trick
    as the cents discipline, applied to derived floats). One scan, one
    |labels|-row aggregate, zero shuffle beyond it."""
    e = load_table(spark, sf_dir, "embeddings")
    norm2 = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    per = e.select(
        "label",
        F.floor(norm2 * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("norm2_u"),
    )
    return per.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("norm2_u").alias("min_norm2_u"),
        F.max("norm2_u").alias("max_norm2_u"),
        F.expr("sum(norm2_u) div count(1)").alias("mean_norm2_u"),
        F.sum((F.col("norm2_u") == 0).cast("long")).alias("n_zero"),
    )


@register(
    "jl_projection_audit",
    oracle="""
    WITH per AS (
      SELECT label,
        CAST(floor(list_reduce(
          list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
          (acc, x) -> acc + x) * 1000000.0 + 0.5) AS BIGINT) AS orig2_u,
        CAST(floor(list_reduce(
          list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(
              list_transform(range(0, 16), j ->
                list_reduce(
                  list_prepend(CAST(0.0 AS DOUBLE),
                    list_transform(range(0, 64), i ->
                      (CASE WHEN ((i * 16 + j) * 2654435761) % 4294967296
                              < 2147483648
                            THEN CAST(1.0 AS DOUBLE)
                            ELSE CAST(-1.0 AS DOUBLE) END)
                      * CAST(embedding[i + 1] AS DOUBLE))),
                  (acc, x) -> acc + x)),
              p -> p * p)),
          (acc, x) -> acc + x) * 1000000.0 + 0.5) AS BIGINT) AS proj2_u
      FROM embeddings WHERE embedding IS NOT NULL
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(orig2_u) AS BIGINT) AS sum_orig2_u,
           CAST(sum(proj2_u) AS BIGINT) AS sum_proj2_u,
           CAST(sum(proj2_u) * 1000000 // (16 * sum(orig2_u)) AS BIGINT)
             AS ratio_ppm
    FROM per GROUP BY label
    """,
    tags=("llm", "embedding", "projection"),
)
def jl_projection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random-sign projection 64 → 16 dims with a
    per-label norm-preservation audit — the dimensionality-reduction
    primitive for cheap pre-filtering in ANN / near-dup pipelines: with
    ±1 sign projections E[‖Px‖²] = d_out·‖x‖², so ratio_ppm =
    Σ‖Px‖² / (16·Σ‖x‖²) should sit near 10⁶; a label drifting far off
    signals a degenerate encoder batch (constant dims, rank collapse)
    BEFORE an index gets built on it.

    The sign matrix is never materialized: s(i,j) = top bit of the Knuth
    multiplicative hash of cell i·16+j, computed identically inside both
    engines' lambda expressions — deterministic, shippable to any
    executor count, and zero-storage (the 100 TB property: a broadcast
    matrix is state to manage; a hash is not). All folds are explicit
    left folds over ascending indices (fixed IEEE association, the
    embedding_norm_audit discipline), floored to micro-units per ROW, so
    only integers cross rows. One scan, |labels|-row aggregate; the
    nested fold is 16×64 multiply-adds per row inside whole-stage
    codegen — no UDF."""

    def sign(i, j):
        k = (i * F.lit(16) + j).cast("long") * F.lit(2654435761)
        return F.when(
            k % F.lit(4294967296) < F.lit(2147483648), F.lit(1.0)
        ).otherwise(F.lit(-1.0))

    def pj(j):
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(63)),
            F.lit(0.0),
            lambda acc, i: acc
            + sign(i, j)
            * F.element_at(F.col("embedding"), (i + F.lit(1)).cast("int"))
            .cast("double"),
        )

    orig2 = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    proj2 = F.aggregate(
        F.transform(F.sequence(F.lit(0), F.lit(15)), pj),
        F.lit(0.0),
        lambda acc, p: acc + p * p,
    )
    per = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("embedding").isNotNull())
        .select(
            "label",
            F.floor(orig2 * F.lit(1000000.0) + F.lit(0.5))
            .cast("long")
            .alias("orig2_u"),
            F.floor(proj2 * F.lit(1000000.0) + F.lit(0.5))
            .cast("long")
            .alias("proj2_u"),
        )
    )
    return per.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("orig2_u").alias("sum_orig2_u"),
        F.sum("proj2_u").alias("sum_proj2_u"),
        # DECIMAL(38,0) numerator (round-12 advice): BIGINT would wrap
        # silently once a label's Σproj2_u exceeds ~9.2e12 (ANSI off),
        # while the DuckDB oracle promotes sum() to HUGEINT — mirror the
        # levene_bf_status discipline so the engines agree at any scale.
        F.expr(
            "cast(cast(sum(proj2_u) as decimal(38,0)) * 1000000"
            " div (16 * cast(sum(orig2_u) as decimal(38,0))) as long)"
        ).alias("ratio_ppm"),
    )


@register(
    "length_tail_docs",
    oracle="""
    WITH h AS (
      SELECT source, CAST(n_chars AS BIGINT) AS v, count(*) AS cnt
      FROM documents GROUP BY 1, 2
    ), cum AS (
      SELECT source, v, cnt,
             sum(cnt) OVER (PARTITION BY source ORDER BY v) AS cum,
             sum(cnt) OVER (PARTITION BY source) AS n
      FROM h
    ), b AS (
      SELECT source,
             min(CASE WHEN cum >= (n + 9) // 10 THEN v END) AS b10,
             min(CASE WHEN cum >= (9 * n + 9) // 10 THEN v END) AS b90
      FROM cum GROUP BY source
    )
    SELECT d.doc_id, d.source, CAST(d.n_chars AS BIGINT) AS n_chars,
           CASE WHEN d.n_chars < b.b10 THEN 'low' ELSE 'high' END AS side
    FROM documents d JOIN b ON d.source = b.source
    WHERE d.n_chars < b.b10 OR d.n_chars > b.b90
    """,
    tags=("llm", "quality", "audit"),
)
def length_tail_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents outside their SOURCE's exact [p10, p90] length band —
    the per-domain truncation/concatenation screen (a 100-char page is
    normal for a chat dump and pathological for a book scan; a global
    length filter can't see that, and a σ-based screen goes blind on
    uniform-length sources where nothing is 3σ out).

    Boundaries are EXACT order statistics — value at rank ceil(n/10)
    and ceil(9n/10) per source (the inner-80% band: tails must stay
    meaningful even for sources with a few dozen docs, where a 1%
    tail rounds to nothing), read off the per-source length
    histogram with a source-PARTITIONED cumulative window (distinct
    lengths per source, never the doc rows) — so the flag set is
    deterministic on both engines with no distributional assumption.
    Two scans: one builds the |sources|×|distinct-lengths| boundary
    table (broadcast back), one applies the band."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    h = d.groupBy(
        "source", F.col("n_chars").cast("long").alias("v")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    wc = Window.partitionBy("source").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wn = Window.partitionBy("source")
    cum = h.select(
        "source",
        "v",
        F.sum("cnt").over(wc).alias("cum"),
        F.sum("cnt").over(wn).alias("n"),
    )
    b = cum.groupBy("source").agg(
        F.min(
            F.when(
                F.col("cum") >= F.expr("(n + 9) div 10"), F.col("v")
            )
        ).alias("b10"),
        F.min(
            F.when(
                F.col("cum") >= F.expr("(9 * n + 9) div 10"), F.col("v")
            )
        ).alias("b90"),
    )
    return (
        d.select("doc_id", "source", F.col("n_chars").cast("long").alias("n_chars"))
        .join(F.broadcast(b), "source")
        .filter((F.col("n_chars") < F.col("b10")) | (F.col("n_chars") > F.col("b90")))
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.when(F.col("n_chars") < F.col("b10"), "low")
            .otherwise("high")
            .alias("side"),
        )
    )


def _lang_margin_oracle() -> str:
    """DuckDB mirror of lang_id_margin: sort the 5 marker-hit scores
    descending, margin = best − runner-up."""
    hit_exprs = [
        f"len(list_filter({_TOKENS}, t -> t IN "
        f"({', '.join(repr(m) for m in markers)})))"
        for markers in LANG_MARKERS.values()
    ]
    arr = "list_reverse(list_sort([" + ", ".join(hit_exprs) + "]))"
    return f"""
    WITH s AS (SELECT doc_id, {arr} AS sc FROM documents)
    SELECT doc_id, CAST(sc[1] AS BIGINT) AS best_hits,
           CAST(sc[2] AS BIGINT) AS second_hits,
           CAST(sc[1] - sc[2] AS BIGINT) AS margin,
           sc[1] - sc[2] >= 2 AND sc[1] > 0 AS confident
    FROM s
    """


@register(
    "lang_id_margin",
    oracle=_lang_margin_oracle(),
    tags=("llm", "text", "quality"),
)
def lang_id_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID CONFIDENCE: the margin between the best and runner-up
    marker scores — lang_id emits an argmax label whatever the evidence;
    downstream filters need to know whether that label stands on a
    10-hit lead or a coin flip (lang_confusion audits labels post hoc;
    the margin is the per-doc signal to route low-confidence docs to a
    heavier classifier).

    Pure Column arithmetic: the 5 per-language hit counts form a sorted
    array per row (whole-stage codegen, no shuffle at all — the lang_id
    scan shape), margin = top − second, with the 'confident' cut at
    margin ≥ 2 actual marker words."""
    from ..operators.textstats import LANG_MARKERS as _LM

    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit("")
    )
    scores = [
        F.size(F.filter(toks, lambda t: t.isin(list(markers))))
        for markers in _LM.values()
    ]
    sc = F.sort_array(F.array(*scores), asc=False)
    return d.select(
        "doc_id",
        sc.getItem(0).cast("long").alias("best_hits"),
        sc.getItem(1).cast("long").alias("second_hits"),
        (sc.getItem(0) - sc.getItem(1)).cast("long").alias("margin"),
        (
            (sc.getItem(0) - sc.getItem(1) >= 2) & (sc.getItem(0) > 0)
        ).alias("confident"),
    )


@register(
    "dup_cores",
    oracle=None,  # iterative peeling with a DATA-DEPENDENT round count:
    # DuckDB recursive CTEs forbid aggregates in the recursive term, and
    # unlike dup_pagerank's fixed 6 iterations (unrolled into plain CTEs
    # at r13) the peeling loop runs until a fixpoint, so it cannot be
    # unrolled. Exact-equality pin against a pure local peeling
    # reference in tests/test_graph.py instead.
    tags=("llm", "dedup", "graph"),
)
def dup_cores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition of the near-dup pair graph: coreness per
    document — the density-shell signal completing the graph family
    (dup_clusters = membership, dup_triangles = local cohesion,
    dup_pagerank = centrality; CORENESS separates documents embedded in
    dense duplication communities, where every member keeps >= k
    near-matches even after pruning, from chain/star peripheries that a
    keep-policy can drop cheaply). Iterative degree-peeling with
    per-round lineage cuts (operators/graph.py:core_decomposition)."""
    from ..operators.graph import core_decomposition
    from ..operators.similarity import cosine_near_dup_pairs

    e = load_table(spark, sf_dir, "embeddings")
    pairs = cosine_near_dup_pairs(
        e, "vec_id", "embedding", threshold=0.4, dim=64
    ).select("id_a", "id_b")
    return core_decomposition(pairs)


@register(
    "domain_mixture_weights",
    oracle=f"""
    WITH per AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len({_TOKENS})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY 1
    ), w AS (
      SELECT source, n_docs, n_tokens,
             CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000.0)
                  AS BIGINT) AS w_milli
      FROM per
    )
    SELECT source, n_docs, n_tokens, w_milli,
           CAST(n_tokens * 1000000
                // (SELECT sum(n_tokens) FROM w) AS BIGINT) AS raw_ppm,
           CAST(w_milli * 1000000
                // (SELECT sum(w_milli) FROM w) AS BIGINT) AS share_ppm
    FROM w
    """,
    tags=("llm", "mixing", "sampling"),
)
def domain_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened data-mixing weights per source domain — the
    α=0.5 sampling-weight table every multilingual/multi-domain training
    mix starts from (weights ∝ n_tokens^0.5 up-weight tail domains
    against the head; raw_ppm vs share_ppm shows the flattening). The
    serving half of dsir_select: DSIR picks documents, this sets the
    per-domain rates.

    Determinism without a pow() portability problem: α=0.5 is exactly
    sqrt — IEEE correctly-rounded in both engines (the ln/log10 trap
    doesn't apply) — and the weight integerizes (floor·1000) BEFORE
    normalization, so the shares are exact integer ppm of an integer
    sum, never a sum of doubles. Scale: one documents scan folds to
    |sources| rows; the normalizing sums are unpartitioned windows over
    that dimension-bounded frame."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit("")
    )
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(toks).cast("long")).alias("n_tokens"),
    )
    w = per.withColumn(
        "w_milli",
        F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1000.0).cast(
            "long"
        ),
    )
    tot = Window.partitionBy()
    return w.select(
        "source",
        "n_docs",
        "n_tokens",
        "w_milli",
        F.expr("n_tokens * 1000000L").cast("long").alias("_rn"),
        F.sum("n_tokens").over(tot).alias("_ts"),
        F.expr("w_milli * 1000000L").cast("long").alias("_wn"),
        F.sum("w_milli").over(tot).alias("_ws"),
    ).select(
        "source",
        "n_docs",
        "n_tokens",
        "w_milli",
        F.expr("_rn div _ts").alias("raw_ppm"),
        F.expr("_wn div _ws").alias("share_ppm"),
    )


@register(
    "token_fertility",
    oracle=f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS n_chars,
           CAST(sum(len(regexp_extract_all(text,
                '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))) AS BIGINT)
             AS n_bpe_tokens,
           CAST(sum(len({_TOKENS})) AS BIGINT) AS n_ws_tokens,
           CAST(sum(length(text)) * 1000000
                // sum(len(regexp_extract_all(text,
                     '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))) AS BIGINT)
             AS chars_per_bpe_ppm,
           CAST(sum(len(regexp_extract_all(text,
                '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))) * 1000000
                // sum(len({_TOKENS})) AS BIGINT) AS bpe_per_ws_ppm
    FROM documents GROUP BY lang
    """,
    tags=("llm", "tokenizer", "text"),
)
def token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: characters per BPE-ish token and
    BPE tokens per whitespace word — the cross-lingual tokenizer-cost
    table (a language whose fertility is 2× pays 2× the context budget
    per character; the first thing a tokenizer evaluation reports).
    Uses doc_token_stats' exact token definitions, rolled up by lang.

    Exact integer ppm throughout (corpus sums are BIGINT, ratios are
    floor div — no doubles at all). Scale: one documents scan, one
    |langs|-row aggregate, zero joins."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit("")
    )
    bpe = F.size(
        F.expr(
            r"regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]', 0)"
        )
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text").cast("long")).alias("n_chars"),
            F.sum(bpe.cast("long")).alias("n_bpe_tokens"),
            F.sum(F.size(toks).cast("long")).alias("n_ws_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "n_chars",
            "n_bpe_tokens",
            "n_ws_tokens",
            F.expr("n_chars * 1000000L div n_bpe_tokens").alias(
                "chars_per_bpe_ppm"
            ),
            F.expr("n_bpe_tokens * 1000000L div n_ws_tokens").alias(
                "bpe_per_ws_ppm"
            ),
        )
    )


@register(
    "dedup_savings",
    oracle=f"""
    WITH RECURSIVE {_PAIR_CTES},
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(node, lab) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.a, r.lab FROM edges e JOIN reach r ON r.node = e.b
    ),
    comp AS (
      SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN comp.doc_id IS NOT NULL
                          AND comp.doc_id <> comp.cluster_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           CAST(sum(length(d.text)) AS BIGINT) AS chars_total,
           CAST(sum(CASE WHEN comp.doc_id IS NOT NULL
                          AND comp.doc_id <> comp.cluster_id
                         THEN length(d.text) ELSE 0 END) AS BIGINT)
             AS chars_dropped,
           CAST(sum(CASE WHEN comp.doc_id IS NOT NULL
                          AND comp.doc_id <> comp.cluster_id
                         THEN length(d.text) ELSE 0 END) * 1000000
                // sum(length(d.text)) AS BIGINT) AS saved_ppm
    FROM documents d LEFT JOIN comp ON comp.doc_id = d.doc_id
    GROUP BY 1
    """,
    tags=("llm", "dedup", "report"),
)
def dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup BUSINESS CASE in one table: per source domain, how many
    documents and how many characters near-dup deduplication would drop
    (keep = the canonical min-id member of each >=0.5-Jaccard cluster,
    dup_clusters' own rule) — the first number a data-pipeline review
    asks for ("what does dedup buy us"), derived from the SAME cluster
    machinery the dedup queries gate, so the report can never disagree
    with the dedup itself.

    Scale: the pair generation is the banded/df-capped jaccard_pairs
    path (never all-pairs); components are the O(log n) star-contraction
    CC; the documents scan joins the (sparse) non-canonical set with a
    LEFT join so singleton docs — absent from the pair graph — count as
    kept without materializing them into the graph. Integer chars and
    exact ppm throughout."""
    from ..operators.dedup import connected_components

    d = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(
        shingle_rows(d, "doc_id", "text", n=3),
        "doc_id",
        max_df=20,
        threshold=0.5,
    ).select("id_a", "id_b")
    cc = connected_components(pairs)
    dropped = cc.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias("doc_id"), F.lit(1).alias("is_dup")
    )
    return (
        d.select("doc_id", "source", F.length("text").cast("long").alias("nc"))
        .join(dropped, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0)).cast("long")).alias(
                "n_dropped"
            ),
            F.sum("nc").alias("chars_total"),
            F.sum(
                F.when(F.col("is_dup").isNotNull(), F.col("nc")).otherwise(
                    0
                )
            ).alias("chars_dropped"),
        )
        .select(
            "source",
            "n_docs",
            "n_dropped",
            "chars_total",
            "chars_dropped",
            F.expr("chars_dropped * 1000000L div chars_total").alias(
                "saved_ppm"
            ),
        )
    )


@register(
    "vocab_coverage_curve",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({_TOKENS}) AS w FROM documents
    ), freq AS (
      SELECT w, count(*) AS c FROM tok GROUP BY 1
    ), hist AS (
      SELECT c, CAST(count(*) AS BIGINT) AS n_types,
             CAST(c * count(*) AS BIGINT) AS n_tokens
      FROM freq GROUP BY 1
    ), cum AS (
      SELECT c, n_types, n_tokens,
             sum(n_types) OVER (ORDER BY c DESC) AS types_cum,
             sum(n_tokens) OVER (ORDER BY c DESC) AS tokens_cum,
             sum(n_tokens) OVER () AS total
      FROM hist
    ), ks AS (SELECT unnest([100, 1000, 10000]) AS k)
    SELECT CAST(ks.k AS BIGINT) AS k,
           CAST(coalesce(max(CASE WHEN types_cum <= ks.k
                                  THEN tokens_cum END), 0)
                + coalesce(max(CASE WHEN types_cum - n_types < ks.k
                                     AND types_cum > ks.k
                                    THEN (ks.k - (types_cum - n_types)) * c
                               END), 0) AS BIGINT) AS covered_tokens,
           CAST((coalesce(max(CASE WHEN types_cum <= ks.k
                                   THEN tokens_cum END), 0)
                 + coalesce(max(CASE WHEN types_cum - n_types < ks.k
                                      AND types_cum > ks.k
                                     THEN (ks.k - (types_cum - n_types)) * c
                                END), 0)) * 1000000
                // max(total) AS BIGINT) AS coverage_ppm
    FROM cum CROSS JOIN ks
    GROUP BY ks.k
    """,
    tags=("llm", "tokenizer", "vocab"),
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus coverage of a top-k frequency vocabulary at k = 100 / 1k /
    10k — the vocabulary-size design table (what fraction of all token
    occurrences the k most frequent types absorb; the knee of this
    curve is where a tokenizer stops earning its vocab slots).

    EXACT at any scale with no vocabulary sort: types tied at the same
    count are interchangeable for coverage, so the answer reads off the
    count HISTOGRAM (distinct count values — <= √(2·total) rows, the
    size_histogram_cum bound) with one count-descending cumulative
    walk: coverage(k) = the full tie-runs that fit inside k plus the
    straddling run's partial (k − types_before)·c. Pure integers
    throughout; the fact-proportional type table is never ranked."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit("")
    )
    freq = (
        d.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    hist = freq.groupBy("c").agg(
        F.count(F.lit(1)).alias("n_types"),
        (F.col("c") * F.count(F.lit(1))).alias("n_tokens"),
    )
    w_cum = Window.orderBy(F.col("c").desc())
    w_all = Window.partitionBy()
    cum = hist.select(
        "c",
        "n_types",
        "n_tokens",
        F.sum("n_types").over(w_cum).alias("types_cum"),
        F.sum("n_tokens").over(w_cum).alias("tokens_cum"),
        F.sum("n_tokens").over(w_all).alias("total"),
    )
    ks = cum.sparkSession.createDataFrame(
        [(100,), (1000,), (10000,)], "k long"
    )
    full = F.coalesce(
        F.max(
            F.when(F.col("types_cum") <= F.col("k"), F.col("tokens_cum"))
        ),
        F.lit(0),
    )
    partial = F.coalesce(
        F.max(
            F.when(
                (F.col("types_cum") - F.col("n_types") < F.col("k"))
                & (F.col("types_cum") > F.col("k")),
                (F.col("k") - (F.col("types_cum") - F.col("n_types")))
                * F.col("c"),
            )
        ),
        F.lit(0),
    )
    return (
        cum.join(F.broadcast(ks))
        .groupBy("k")
        .agg(
            (full + partial).cast("long").alias("covered_tokens"),
            F.max("total").alias("_total"),
        )
        .select(
            "k",
            "covered_tokens",
            F.expr("covered_tokens * 1000000L div _total").alias(
                "coverage_ppm"
            ),
        )
    )


@register(
    "dup_cross_source",
    oracle=f"""
    WITH {_PAIR_CTES},
    srcs AS (
      SELECT p.id_a, p.id_b, da.source AS sa, db.source AS sb
      FROM pairs p
      JOIN documents da ON da.doc_id = p.id_a
      JOIN documents db ON db.doc_id = p.id_b
    ), norm AS (
      SELECT least(sa, sb) AS source_a, greatest(sa, sb) AS source_b
      FROM srcs
    )
    SELECT source_a, source_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           (source_a <> source_b) AS cross_source,
           CAST(count(*) * 1000000
                // (SELECT count(*) FROM norm) AS BIGINT) AS share_ppm
    FROM norm GROUP BY 1, 2
    """,
    tags=("llm", "dedup", "provenance"),
)
def dup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance structure of the near-dup pair graph: for every
    (source, source) domain pair, how many >=0.5-Jaccard duplicate
    pairs connect them — WITHIN-source pairs are ordinary re-posts;
    CROSS-source pairs are syndication/mirroring and the leading
    indicator of train/eval contamination when one source feeds an
    eval set (the pair-level view under bloom_decontaminate's
    document-level verdicts).

    Scale: the pair generation is the banded/df-capped jaccard_pairs
    path (never all-pairs); the two provenance joins hit documents on
    its key; the (source, source) matrix is |sources|²-bounded and the
    normalizing total is one window over it. Exact integer ppm."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(
        shingle_rows(d, "doc_id", "text", n=3),
        "doc_id",
        max_df=20,
        threshold=0.5,
    ).select("id_a", "id_b")
    src = d.select("doc_id", "source")
    norm = (
        pairs.join(
            src.withColumnRenamed("doc_id", "id_a").withColumnRenamed(
                "source", "sa"
            ),
            "id_a",
        )
        .join(
            src.withColumnRenamed("doc_id", "id_b").withColumnRenamed(
                "source", "sb"
            ),
            "id_b",
        )
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
    )
    tot = Window.partitionBy()
    return (
        norm.groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(
            "source_a",
            "source_b",
            "n_pairs",
            (F.col("source_a") != F.col("source_b")).alias("cross_source"),
            F.sum("n_pairs").over(tot).alias("_t"),
        )
        .select(
            "source_a",
            "source_b",
            "n_pairs",
            "cross_source",
            F.expr("n_pairs * 1000000L div _t").alias("share_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Isotonic calibration applied: quality score -> P(survives exact dedup)
# ---------------------------------------------------------------------------
# shared by calibrated_quality_scores and its live twin — the live mart
# ingests the full corpus, so the fitted curve and per-doc emissions are
# identical by definition
_CALIB_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, text,
             len({_TOKENS}) AS n_tokens,
             floor((len(list_filter({_TOKENS},
                      t -> t IN ('the','a','of','and','to')))::DOUBLE
                    / greatest(len({_TOKENS}), 1)) * 1000000 + 0.5)
               / 1000000 AS stop_ratio,
             floor((length(regexp_replace(lower(text), '[a-z0-9 ]', '',
                      'g'))::DOUBLE
                    / greatest(length(text), 1)) * 1000000 + 0.5)
               / 1000000 AS punct_ratio
      FROM documents
    ), q AS (
      SELECT doc_id,
             CAST(floor((floor((0.4 * least(n_tokens::DOUBLE / 100.0, 1.0)
                      + 0.4 * stop_ratio
                      + 0.2 * (1.0 - punct_ratio)) * 1000000 + 0.5)
                  / 1000000) * 1000000 + 0.5) AS BIGINT) AS q6
      FROM t
    ), lab AS (
      SELECT doc_id,
             CASE WHEN doc_id = min(doc_id)
                    OVER (PARTITION BY md5({_NORM_TEXT}))
                  THEN 1 ELSE 0 END AS keep
      FROM documents
    ), per AS (
      SELECT q.doc_id, q.q6, q.q6 // 50000 AS bin, lab.keep
      FROM q JOIN lab ON q.doc_id = lab.doc_id
    ), bins AS (
      SELECT bin, CAST(sum(keep) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM per GROUP BY bin
    ), seg AS (
      -- contiguous-segment (in present-bin order) totals: BETWEEN on bin
      -- values intersected with the present set IS positional contiguity
      SELECT a.bin AS j, b.bin AS k,
             CAST(sum(c.s) AS HUGEINT) AS num,
             CAST(sum(c.n) AS HUGEINT) AS den
      FROM bins a JOIN bins b ON a.bin <= b.bin
           JOIN bins c ON c.bin BETWEEN a.bin AND b.bin
      GROUP BY 1, 2
    ), cand AS (
      SELECT i.bin AS i, seg.j, seg.k, seg.num, seg.den
      FROM bins i JOIN seg ON seg.j <= i.bin AND i.bin <= seg.k
    ), inner_min AS (
      -- min over k by exact rational compare: a row survives iff no row
      -- of the same (i, j) has a strictly smaller mean (cross-multiplied)
      SELECT i, j, num, den FROM cand c1
      WHERE NOT EXISTS (
        SELECT 1 FROM cand c2
        WHERE c2.i = c1.i AND c2.j = c1.j
          AND c2.num * c1.den < c1.num * c2.den
      )
    ), outer_max AS (
      SELECT i, num, den FROM inner_min m1
      WHERE NOT EXISTS (
        SELECT 1 FROM inner_min m2
        WHERE m2.i = m1.i AND m2.num * m1.den > m1.num * m2.den
      )
    ), fit AS (
      -- every surviving (num, den) of an i is the SAME rational (the
      -- minimax value), so the ppm floor is identical -> one row per i
      SELECT DISTINCT i AS bin, CAST(num * 1000000 // den AS BIGINT)
               AS cal_keep_ppm
      FROM outer_max
    )
    SELECT per.doc_id, per.q6 AS quality_ppm, per.bin, per.keep,
           fit.cal_keep_ppm
    FROM per JOIN fit ON per.bin = fit.bin
    """


@register(
    "calibrated_quality_scores",
    oracle=_CALIB_ORACLE,
    tags=("llm", "quality", "calibration", "dedup"),
)
def calibrated_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration APPLIED (closing the isotonic_revenue loop,
    r12 verdict #6): fit weighted PAVA on quality-score bins against the
    exact-dedup survival label (keep = the doc IS its fingerprint
    group's kept representative), then emit the per-doc calibrated
    P(keep) via the ≤21-row step-function broadcast — the classifier-
    calibration primitive a curation pipeline runs before thresholding
    a screen's raw score.

    FULL cross-engine oracle for a greedy algorithm (the MMR unrolled-
    SQL discipline): the oracle computes the same fit through the
    independent minimax characterization fit_i = max_{j<=i} min_{k>=i}
    wmean(bins j..k), with rational means compared by HUGEINT
    cross-multiplication inside NOT EXISTS — every surviving candidate
    of an i carries the same rational, so the final ppm floor is
    well-defined. The ≤21-bin cardinality is what makes the cubic
    unroll free (isotonic_revenue's |days| series could not).

    Scale: one documents scan feeds BOTH the score and the label (the
    keep flag is one fp exchange + window min); bins fold to ≤21 rows
    (1e6 ppm div 50000); the PAVA walk is driver-side over that bounded
    frame (bounded_series_eval); the application is a broadcast
    equi-join — the per-doc frame is never rescanned for the fit.
    Reference: no counterpart (north-star LLM-pipeline op; the dedup
    label reuses ads-layer keep semantics, dedup.py:32)."""
    from ..streaming.calibration import calib_per_doc

    d = load_table(spark, sf_dir, "documents")
    return _calibrate_per_fp(calib_per_doc(d, "doc_id", "text"))


def _calibrate_per_fp(per_fp: DataFrame) -> DataFrame:
    """The read-side calibration over a (doc_id, q6, fp) frame — shared
    verbatim between the batch query and the live twin
    (calibrated_quality_scores_live, fed by the streaming mart's fold),
    so batch ≡ live holds by construction above the fold: derive the
    exact-dedup survival label (keep = min doc_id of the fp group — one
    fp-keyed exchange), fold to ≤|bins| rows, fit weighted PAVA
    driver-side (bounded_series_eval), broadcast the step function back
    onto the per-doc frame."""
    from .scale import isotonic_calibration_eval

    per = (
        per_fp.select(
            "doc_id",
            "q6",
            F.expr("q6 div 50000").alias("bin"),
            (
                F.col("doc_id")
                == F.min("doc_id").over(Window.partitionBy("fp"))
            )
            .cast("long")
            .alias("keep"),
        )
        .persist()
    )
    # lazy persist (r15): the fit's bounded collect below is the first
    # consumer and fills the cache in the same job; the final broadcast
    # join then reads the cache — one materialization job saved vs the
    # old eager count()
    bins = per.groupBy("bin").agg(
        F.sum("keep").alias("s"), F.count(F.lit(1)).alias("n")
    )
    fit = isotonic_calibration_eval(bins)
    return per.join(
        F.broadcast(fit.select("bin", "cal_ppm")), "bin"
    ).select(
        "doc_id",
        F.col("q6").alias("quality_ppm"),
        "bin",
        "keep",
        F.col("cal_ppm").alias("cal_keep_ppm"),
    )


def _calib_key(sf_dir: str) -> str:
    """Build-cache key of this corpus's calibration mart."""
    return _params_key("calib3", _data_fingerprint(sf_dir, "documents"))


def _calib_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Ensure the 3-batch calibration-mart ingest exists for this corpus
    (``sources.tables.build_once``) and return the index dir. Batches
    split by a hash of the doc id, so fingerprint groups SPAN batches —
    the label monoid, not batch-local luck, is what the live pin
    exercises."""
    import os

    from ..streaming.calibration import calib_ingest_batch

    def build(work: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        body = calib_ingest_batch(spark, os.path.join(work, "perdoc"))
        for i in range(3):
            body(docs.filter(F.pmod(F.hash("doc_id"), F.lit(3)) == i), i)

    work = build_once("calibidx", sf_dir, _calib_key(sf_dir), build)
    return os.path.join(work, "perdoc")


@register(
    "calibrated_quality_scores_live",
    # identical SQL to the batch query: the mart ingests the full corpus
    # and min-per-fingerprint is an order-insensitive monoid, so the
    # re-derived labels — and everything downstream — match exactly
    oracle=_CALIB_ORACLE,
    tags=("streaming", "quality", "calibration", "dedup"),
)
def calibrated_quality_scores_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """calibrated_quality_scores answered from the STREAMING calibration
    mart (streaming/calibration.py): three micro-batches append only
    their own documents' constant (doc_id, q6, fp) rows; the read side
    folds the index, re-derives the exact-dedup survival label (keep =
    min doc_id per fingerprint group — ``min`` is an associative monoid,
    so a late-arriving smaller-id duplicate flips the old
    representative's label on the next read with no ingest-time state
    rewrite), and hands the frame to the batch query's OWN calibration
    stage (_calibrate_per_fp). The live-curve shape for quality screens:
    per-batch cost is one scan of the new docs; the monotone calibrated
    P(keep) curve updates with the corpus."""
    from ..streaming.calibration import fold_calib

    return _calibrate_per_fp(
        fold_calib(spark, _calib_index_dir(spark, sf_dir))
    )


# ---------------------------------------------------------------------------
# Calibration -> curation: threshold on the CALIBRATED keep probability
# ---------------------------------------------------------------------------
# The calibrated-P(keep) floor for the curation gate, in ppm. On the
# sf0.1 corpus the fitted curve spans 997884..1000000 ppm across quality
# bins, so 998000 cuts the lowest-quality bin band; on corpora with no
# exact-dup signal the fit is constantly 1.0 and the gate passes
# everything (the honest behavior: calibration found no evidence that
# low quality predicts duplication).
CAL_KEEP_MIN_PPM = 998_000

_CURATE_CALIB_SQL = f"""
    WITH curated AS ({_CURATE_SQL}),
    calib AS ({_CALIB_ORACLE})
    SELECT c.doc_id, c.source, calib.cal_keep_ppm
    FROM curated c JOIN calib ON calib.doc_id = c.doc_id
    WHERE calib.cal_keep_ppm >= {CAL_KEEP_MIN_PPM}
    """


@register(
    "corpus_curate_calibrated",
    oracle=_CURATE_CALIB_SQL,
    tags=("llm", "pipeline", "quality", "calibration", "dedup"),
)
def corpus_curate_calibrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The calibration loop CLOSED into curation (r13 verdict #5):
    corpus_curate_fast's stage conjunction plus a floor on the
    CALIBRATED keep probability — curation thresholds what the isotonic
    fit says the quality score MEANS (P(survives exact dedup)), not the
    raw score. One corpus scan feeds everything: the shared persisted
    base serves both the calibration frame (score + fingerprint label →
    weighted PAVA fit → ≤21-row broadcast step function, exactly
    calibrated_quality_scores' own stages via _calibrate_per_fp) and
    the single-scan feature table (corpus_features); the calibrated
    filter is a broadcast-step equi-join, so no stage rescans the
    corpus. Full cross-engine oracle by composing _CURATE_SQL with
    _CALIB_ORACLE. Pinned in tests/test_round14_properties.py: the
    selected set equals corpus_curate_fast ∩ (calibrated_quality_scores
    where cal_keep_ppm ≥ floor) row-for-row.
    Reference: no counterpart (north-star LLM-pipeline op)."""
    from pyspark.storagelevel import StorageLevel

    from ..operators.curation import corpus_features, curate_filter
    from ..streaming.calibration import calib_per_doc

    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", "source", "text").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # r15 (r14 verdict #3): when the persisted calibration mart exists
    # (the live twin's source — built once per corpus by
    # calibrated_quality_scores_live), its folded (doc_id, q6, fp) rows
    # ARE the per-doc calibration frame, so the warm path skips the
    # per-doc text featurization entirely and this query's marginal cost
    # over corpus_curate_fast is one ≤21-row broadcast join. Cold start
    # (no mart on disk) falls back to the inline scan off the shared
    # cached base — never paying the 3-batch ingest inside a query. The
    # two paths produce identical rows: the mart ingests the full corpus
    # and min-per-fingerprint is an order-insensitive monoid (the live
    # twin's own equality pin).
    import os as _os

    _work = build_once("calibidx", sf_dir, _calib_key(sf_dir))
    if _work is not None:
        from ..streaming.calibration import fold_calib

        per_fp = fold_calib(spark, _os.path.join(_work, "perdoc"))
    else:
        per_fp = calib_per_doc(base, "doc_id", "text")
    # calibration first: _calibrate_per_fp materializes its per-doc frame
    # (one count), which is the single parquet read on the cold path —
    # corpus_features then assembles off the same cache
    caldoc = _calibrate_per_fp(per_fp)
    feats = corpus_features(
        base,
        weights=_MIX_WEIGHTS,
        budget_frac=_MIX_BUDGET_FRAC,
        default_weight=_MIX_DEFAULT_W,
    )
    out = (
        curate_filter(feats)
        .select("doc_id", "source")
        .join(
            caldoc.filter(
                F.col("cal_keep_ppm") >= F.lit(CAL_KEEP_MIN_PPM)
            ).select("doc_id", "cal_keep_ppm"),
            "doc_id",
        )
    )
    base.unpersist()
    return out


# ---------------------------------------------------------------------------
# Pareto frontier (2-D skyline) over per-doc quality x length
# ---------------------------------------------------------------------------
_SKYLINE_ORACLE = f"""
    WITH t AS (
      SELECT doc_id,
             len({_TOKENS}) AS n_tokens,
             floor((len(list_filter({_TOKENS},
                      t -> t IN ('the','a','of','and','to')))::DOUBLE
                    / greatest(len({_TOKENS}), 1)) * 1000000 + 0.5)
               / 1000000 AS stop_ratio,
             floor((length(regexp_replace(lower(text), '[a-z0-9 ]', '',
                      'g'))::DOUBLE
                    / greatest(length(text), 1)) * 1000000 + 0.5)
               / 1000000 AS punct_ratio
      FROM documents
    ), q AS (
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(floor((floor((0.4 * least(n_tokens::DOUBLE / 100.0, 1.0)
                      + 0.4 * stop_ratio
                      + 0.2 * (1.0 - punct_ratio)) * 1000000 + 0.5)
                  / 1000000) * 1000000 + 0.5) AS BIGINT) AS q6
      FROM t
    )
    SELECT p.doc_id, p.q6 AS quality_ppm, p.n_tokens
    FROM q p
    WHERE NOT EXISTS (
      SELECT 1 FROM q o
      WHERE o.doc_id <> p.doc_id
        AND o.q6 >= p.q6 AND o.n_tokens >= p.n_tokens
        AND (o.q6 > p.q6 OR o.n_tokens > p.n_tokens)
    )
    """


@register(
    "doc_skyline",
    oracle=_SKYLINE_ORACLE,
    tags=("llm", "quality", "selection", "skyline"),
)
def doc_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (2-D skyline) over per-doc (quality score,
    token length): the documents no other document beats on BOTH axes —
    the multi-objective data-selection primitive (pick exemplars without
    collapsing two signals into one weighted scalar the way model_score/
    token_mix must). Oracle: the literal NOT-EXISTS dominance definition
    (O(n²), oracle-side only).

    Engine shape — the distributed 2-D skyline: dominance against a
    SUFFIX-MAX, never a pairwise join. One groupBy folds docs to
    (q6, max_n) — a frame bounded by the ppm score DOMAIN (≤ 1e6+1 rows
    at any corpus size, the value_histogram bounded-frame argument) —
    then one window over that bounded frame computes M(x) = max token
    count among strictly-higher scores, and the per-doc filter is
    ``n == max_n(x) AND n > M(x)``: a doc survives iff it is its score
    bucket's longest AND strictly longer than everything scored above
    it. Equal-(q6, n) docs tie on the frontier and all survive (neither
    dominates — strictness pinned in tests/test_round14_properties.py).
    One doc scan, one domain-bounded exchange, one broadcast-size join
    back. Reference: no counterpart (north-star selection op)."""
    from ..operators.textstats import quality_score

    per = quality_score(
        load_table(spark, sf_dir, "documents"), "doc_id", "text"
    ).select(
        "doc_id",
        F.floor(F.col("quality") * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("q6"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )
    byx = per.groupBy("q6").agg(F.max("n_tokens").alias("_max_n"))
    w = (
        Window.orderBy(F.col("q6").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    m = byx.withColumn("_m_above", F.max("_max_n").over(w))
    return (
        per.join(F.broadcast(m), "q6")
        .filter(
            (F.col("n_tokens") == F.col("_max_n"))
            & (
                F.col("_m_above").isNull()
                | (F.col("n_tokens") > F.col("_m_above"))
            )
        )
        .select(
            "doc_id", F.col("q6").alias("quality_ppm"), "n_tokens"
        )
    )


# ---------------------------------------------------------------------------
# Exact-integer spectral audit (dominant direction / anisotropy)
# ---------------------------------------------------------------------------
def _spectral_oracle(iters: int = 3, dim: int = 64) -> str:
    """embed_spectral_audit's full oracle: the power iteration unrolls
    into ``iters`` CTE pairs (the dup_pagerank fixed-iteration move) —
    u_k = A·v_{k-1} per row, w_k = Aᵀ·u_k per dim, v_k = trunc-div
    ppm-normalization — all HUGEINT-exact, so the engine's
    driver-normalized integers reproduce value-for-value."""
    base = f"""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5)
                         AS BIGINT)) AS q
      FROM embeddings
    ), dims AS (SELECT unnest(generate_series(1, {dim})) AS d),
    u1 AS (
      SELECT vec_id, CAST(1000000 AS HUGEINT)
               * CAST(list_aggregate(q, 'sum') AS HUGEINT) AS u
      FROM e
    )"""
    steps = []
    for it in range(1, iters + 1):
        steps.append(f""", w{it} AS (
      SELECT dims.d,
             sum(CAST(e.q[dims.d] AS HUGEINT) * u{it}.u) AS w
      FROM e JOIN u{it} USING (vec_id), dims GROUP BY dims.d
    ), m{it} AS (SELECT greatest(max(abs(w)), 1) AS mx FROM w{it}),
    v{it} AS (
      SELECT d, CASE WHEN w >= 0 THEN (w * 1000000) // mx
                     ELSE -((-w * 1000000) // mx) END AS v
      FROM w{it}, m{it}
    )""")
        if it < iters:
            steps.append(f""", u{it + 1} AS (
      SELECT e.vec_id, sum(CAST(e.q[v{it}.d] AS HUGEINT) * v{it}.v) AS u
      FROM e, v{it} GROUP BY e.vec_id
    )""")
    final = f""", uf AS (
      SELECT e.vec_id,
             sum(CAST(e.q[v{iters}.d] AS HUGEINT) * v{iters}.v) AS u
      FROM e, v{iters} GROUP BY e.vec_id
    ), nd AS (SELECT sum(u * u) AS num FROM uf),
    dd AS (SELECT sum(v * v) AS den FROM v{iters}),
    tr AS (
      SELECT sum(CAST(e.q[dims.d] AS HUGEINT) * e.q[dims.d]) AS t
      FROM e, dims
    )
    SELECT v{iters}.d AS dim, CAST(v{iters}.v AS BIGINT) AS v_ppm,
           CAST((nd.num * 1000000) // greatest(dd.den * tr.t, 1)
                AS BIGINT) AS dominant_share_ppm
    FROM v{iters}, nd, dd, tr
    """
    return base + "".join(steps) + final


@register(
    "embed_spectral_audit",
    oracle=_spectral_oracle(),
    tags=("llm", "embedding", "quality", "spectral"),
)
def embed_spectral_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant-direction audit of the embedding corpus: a 3-step
    power-iteration estimate of AᵀA's top eigenvector plus the exact
    Rayleigh share λ̂/trace in ppm — the anisotropy diagnostic (a
    healthy corpus spreads energy; a collapsed or mean-dominated one
    concentrates it — the pathology whitening/ABTT post-processing
    exists for). EXACT-INTEGER end to end (operators/spectral.py):
    embeddings quantize to micro-units, ONE Arrow-kernel pass collects
    the 64×64 integer Gram M = AᵀA (r16, r15 verdict #1a — the same
    kernel that fixed the pca audit; previously EACH of the 3 rounds
    paid a 64-sum DECIMAL aggregate with fresh per-round codegen), and
    the driver runs the trunc-div power iteration on M in Python
    big-ints — EXACTLY the per-round data passes by integer
    associativity (w = Aᵀ(A·v) = M·v, |A·v|² = vᵀMv, trace = ΣM_dd;
    the identity documented on power_iteration_from_gram, shared with
    the live twin, and pinned reference-vs-fast in
    tests/test_spectral_kernel.py). The oracle unrolls the same three
    iterations into HUGEINT CTEs, so this iterative linear algebra is
    hash-verified value-for-value — the dup_pagerank move applied to
    spectra. The 3-step figure is a deterministic ESTIMATE (rate λ₂/λ₁
    per step): near-flat spectra (this synthetic corpus) under-estimate
    the top direction, mean-dominated real corpora converge immediately
    — pinned vs numpy on an offset fixture in tests/test_spectral.py.
    Returned frame is the 64-row driver result (LocalTableScan — the
    key_skew_profile convention)."""
    from ..operators.spectral import (
        collect_gram_fast,
        power_iteration_from_gram,
    )

    e = load_table(spark, sf_dir, "embeddings")
    gram = collect_gram_fast(e, "embedding", dim=64)
    v, share = power_iteration_from_gram(gram, dim=64, iters=3)
    rows = [
        (d + 1, int(v[d]), int(share)) for d in range(64)
    ]
    return spark.createDataFrame(
        rows, "dim long, v_ppm long, dominant_share_ppm long"
    )


def _gram_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Ensure the 3-batch Gram-mart ingest exists for this corpus
    (``sources.tables.build_once``) and return the index dir. Batches
    split by a hash of the vector id, so every batch contributes to every
    Gram cell — the additive fold, not batch-local luck, is what the live
    pin exercises."""
    import os

    from ..streaming.spectral import gram_ingest_batch

    def build(work: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        body = gram_ingest_batch(spark, os.path.join(work, "gram"))
        for i in range(3):
            body(emb.filter(F.pmod(F.hash("vec_id"), F.lit(3)) == i), i)

    work = build_once(
        "gramidx", sf_dir,
        _params_key("gram3", _data_fingerprint(sf_dir, "embeddings")), build,
    )
    return os.path.join(work, "gram")


@register(
    "embed_spectral_audit_live",
    # identical SQL to the batch audit: the Gram matrix is an additive
    # integer monoid over row outer-products, so the folded M — and the
    # identical driver iteration over it — reproduces the batch audit's
    # integers exactly at any batch split
    oracle=_spectral_oracle(),
    tags=("streaming", "embedding", "quality", "spectral"),
)
def embed_spectral_audit_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """embed_spectral_audit answered from the STREAMING Gram mart
    (streaming/spectral.py): micro-batches append only their own
    4096-cell exact-integer Gram partials (map-side-combined, the
    nation-daily additive discipline); the read side folds the cells
    and runs the SAME trunc-div power iteration on the 64×64 matrix
    driver-side (power_iteration_from_gram) — batch ≡ live EXACTLY by
    integer associativity, so the live twin shares the batch oracle
    verbatim. The live-audit shape at 100 TB: per-batch cost is one
    pass over the new vectors, mart state is 4096 longs per generation,
    and the anisotropy monitor never rescans the corpus."""
    from ..operators.spectral import power_iteration_from_gram
    from ..streaming.spectral import fold_gram

    gram = fold_gram(spark, _gram_index_dir(spark, sf_dir))
    v, share = power_iteration_from_gram(gram, dim=64, iters=3)
    rows = [(d + 1, int(v[d]), int(share)) for d in range(64)]
    return spark.createDataFrame(
        rows, "dim long, v_ppm long, dominant_share_ppm long"
    )


def _pca_oracle(iters: int = 3, dim: int = 64) -> str:
    """embed_pca_audit's full oracle: build the exact integer
    B = n·M − μμᵀ in CTEs (n·4096-cell gram via a double dim unnest, 64
    column sums, one count), unroll the same trunc-div power iteration
    over B, and compute the Rayleigh share from the //1000-coarsened
    vector so every HUGEINT stays inside 2^127 (magnitudes documented
    in operators/spectral.py)."""
    base = f"""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5)
                         AS BIGINT)) AS q
      FROM embeddings
    ), dims AS (SELECT unnest(generate_series(1, {dim})) AS d),
    mu AS (
      SELECT dims.d, sum(CAST(e.q[dims.d] AS HUGEINT)) AS s
      FROM e, dims GROUP BY dims.d
    ), nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM e),
    m AS (
      SELECT i.d AS i, j.d AS j,
             sum(CAST(e.q[i.d] AS HUGEINT) * e.q[j.d]) AS s
      FROM e, dims i, dims j GROUP BY 1, 2
    ), b AS (
      SELECT m.i, m.j, nn.n * m.s - mi.s * mj.s AS s
      FROM m CROSS JOIN nn
      JOIN mu mi ON mi.d = m.i JOIN mu mj ON mj.d = m.j
    ), w1 AS (
      SELECT i AS d, sum(s) * 1000000 AS w FROM b GROUP BY i
    ), m1 AS (SELECT greatest(max(abs(w)), 1) AS mx FROM w1),
    v1 AS (
      SELECT d, CASE WHEN w >= 0 THEN (w * 1000000) // mx
                     ELSE -((-w * 1000000) // mx) END AS v
      FROM w1, m1
    )"""
    steps = []
    for it in range(2, iters + 1):
        prev = f"v{it - 1}"
        steps.append(f""", w{it} AS (
      SELECT b.i AS d, sum(b.s * {prev}.v) AS w
      FROM b JOIN {prev} ON {prev}.d = b.j GROUP BY b.i
    ), m{it} AS (SELECT greatest(max(abs(w)), 1) AS mx FROM w{it}),
    v{it} AS (
      SELECT d, CASE WHEN w >= 0 THEN (w * 1000000) // mx
                     ELSE -((-w * 1000000) // mx) END AS v
      FROM w{it}, m{it}
    )""")
    last = f"v{iters}"
    final = f""", vs AS (
      SELECT d, CASE WHEN v >= 0 THEN v // 1000
                     ELSE -((-v) // 1000) END AS v
      FROM {last}
    ), bv AS (
      SELECT b.i AS d, sum(b.s * vs.v) AS w
      FROM b JOIN vs ON vs.d = b.j GROUP BY b.i
    ), nd AS (
      SELECT sum(vs.v * bv.w) AS num FROM vs JOIN bv ON bv.d = vs.d
    ), dd AS (SELECT sum(v * v) AS den FROM vs),
    tr AS (SELECT sum(s) AS t FROM b WHERE i = j)
    SELECT {last}.d AS dim, CAST({last}.v AS BIGINT) AS v_ppm,
           CAST((nd.num * 1000000) // greatest(dd.den * tr.t, 1)
                AS BIGINT) AS pca_share_ppm
    FROM {last}, nd, dd, tr
    """
    return base + "".join(steps) + final


@register(
    "embed_pca_audit",
    oracle=_pca_oracle(),
    tags=("llm", "embedding", "quality", "spectral", "pca"),
)
def embed_pca_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CENTERED spectral audit — the true top PRINCIPAL direction:
    power iteration on the exact integer B = n·M − μμᵀ (= n²·Cov), so
    the mean component the raw Gram audit is dominated by is removed
    before asking 'does the corpus VARY along one direction?'. The two
    audits together classify the pathology: offset/mean-dominated ⇒
    raw share high + PCA share low; collapsed-variance ⇒ both high;
    healthy ⇒ both low (pinned on constructed fixtures in
    tests/test_spectral.py, plus numpy cosine > 0.99 agreement on a
    line-dominated corpus). One distributed pass collects (n, μ, M)
    exactly (operators/spectral.py:collect_moments); the 64×64 driver
    walk and the //1000-coarsened Rayleigh share reproduce in the
    unrolled HUGEINT oracle value-for-value."""
    from ..operators.spectral import pca_audit

    e = load_table(spark, sf_dir, "embeddings")
    v, share = pca_audit(e, "embedding", dim=64)
    rows = [(d + 1, int(v[d]), int(share)) for d in range(64)]
    return spark.createDataFrame(
        rows, "dim long, v_ppm long, pca_share_ppm long"
    )
