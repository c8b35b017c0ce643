"""Text-retrieval operators over ``documents`` ([EXT] — LLM-pipeline
surface beyond the reference, per the build brief): an inverted-index
build primitive and BM25 ranked retrieval.

Scale posture: the inverted index is the canonical map-side tokenize +
one groupBy-on-token shuffle — posting-list stats never pass through a
single task, and the top-k cut is a distributed TakeOrdered, not a
global window. BM25 is fully map-side per document (the per-term tf is
an array fold over the token array, no explode/shuffle), with the
corpus statistics (N, avgdl, per-term df) entering as a broadcast
1-row aggregate — the same scalar-subquery plan as
``acctbal_vs_global_avg``. At 100 TB the only shuffle is the final
bounded top-k.

Oracle float contract: ``dl`` sums are integers (exact in doubles in
any order), so ``avgdl`` is bit-identical across engines; the per-term
BM25 contributions are written in the same textual arithmetic order in
both engines and summed left-associatively, so the only cross-engine
divergence is libm ``ln`` ulps — healed by ranking on the ROUNDED
score with doc_id tie-break (the ``tfidf_top_terms`` precedent).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_etl_global_footprint_network_spark.functions.compat import round_compat
from aws_etl_global_footprint_network_spark.functions.text import tokens, tokens_sql
from aws_etl_global_footprint_network_spark.functions.vectors import (
    as_double_array,
    cosine,
    cosine_sql,
)
from aws_etl_global_footprint_network_spark.registry import register
from aws_etl_global_footprint_network_spark.sources.readers import read_testdata, spread

# BM25 constants (Robertson/Spärck Jones defaults) and a fixed query —
# terms chosen to exist in the synthetic corpus with distinct df.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 20
QUERY_TERMS = ("spark", "join", "window")

POSTINGS_TOP = 15


def _bm25_contrib_sql(term: str) -> str:
    """One term's BM25 contribution — textual twin of :func:`_bm25_contrib`."""
    return (
        f"ln((n - df_{term} + 0.5) / (df_{term} + 0.5) + 1.0)"
        f" * (tf_{term} * {BM25_K1 + 1.0})"
        f" / (tf_{term} + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * dl / avgdl))"
    )


def _bm25_contrib(term: str) -> Column:
    """Spark twin of :func:`_bm25_contrib_sql` — identical arithmetic
    shape so the IEEE fold order matches the oracle's."""
    n, df, tf, dl, avgdl = (
        F.col("n"),
        F.col(f"df_{term}"),
        F.col(f"tf_{term}"),
        F.col("dl"),
        F.col("avgdl"),
    )
    idf = F.log((n - df + F.lit(0.5)) / (df + F.lit(0.5)) + F.lit(1.0))
    return (
        idf
        * (tf * F.lit(BM25_K1 + 1.0))
        / (tf + F.lit(BM25_K1) * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * dl / avgdl))
    )


_TF_SQL = ",\n             ".join(
    f"len(list_filter(toks, x -> x = '{t}')) AS tf_{t}" for t in QUERY_TERMS
)
_DF_SQL = ",\n             ".join(
    f"SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}" for t in QUERY_TERMS
)
_SCORE_SQL = " + ".join(f"({_bm25_contrib_sql(t)})" for t in QUERY_TERMS)


@register(
    "bm25_topk",
    f"""
    WITH t AS (
      SELECT doc_id, {tokens_sql('text')} AS toks FROM documents),
    d AS (
      SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
             {_TF_SQL}
      FROM t),
    stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl,
             {_DF_SQL}
      FROM d),
    scored AS (
      SELECT doc_id, dl,
             ROUND(({_SCORE_SQL}) * 1e6, 0) / 1e6 AS score
      FROM d CROSS JOIN stats)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(dl AS BIGINT) AS doc_len, score
    FROM scored WHERE score > 0
    ORDER BY score DESC, doc_id LIMIT {BM25_TOPK}
    """,
    f"BM25 (k1={BM25_K1}, b={BM25_B}) top-{BM25_TOPK} documents for the"
    f" fixed query {QUERY_TERMS}; per-term tf is a map-side array fold"
    " (no explode), corpus stats are a broadcast 1-row aggregate, and"
    " the cut is ORDER BY rounded score + doc_id LIMIT k",
    tags=("text", "retrieval", "headline"),
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked retrieval without an index: per-document tf for a short
    query is cheaper as an array fold than an explode+shuffle, so the
    whole scoring pass is map-side codegen. The final top-k compiles
    to TakeOrderedAndProject (each task keeps k rows, driver merges
    k·tasks) — never a global sort. Ranking runs on the ROUNDED score
    so both engines order identically despite last-ulp ln()
    differences (same contract as ``tfidf_top_terms``)."""
    d = spread(read_testdata(spark, sf_dir, "documents")).select(
        "doc_id", tokens("text").alias("toks")
    )
    per_doc = d.select(
        "doc_id",
        F.size("toks").cast("double").alias("dl"),
        *[
            F.size(F.filter("toks", lambda x: x == F.lit(t))).alias(f"tf_{t}")
            for t in QUERY_TERMS
        ],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0)).alias(f"df_{t}")
            for t in QUERY_TERMS
        ],
    )
    score = _bm25_contrib(QUERY_TERMS[0])
    for t in QUERY_TERMS[1:]:
        score = score + _bm25_contrib(t)
    scored = per_doc.crossJoin(F.broadcast(stats)).select(
        "doc_id", "dl", round_compat(score, 6).alias("score")
    )
    return (
        scored.filter(F.col("score") > 0)
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(BM25_TOPK)
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.col("dl").cast("bigint").alias("doc_len"),
            "score",
        )
    )


@register(
    "inverted_postings_stats",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({tokens_sql('text')}) AS token FROM documents)
    SELECT token,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
           CAST(COUNT(*) AS BIGINT) AS cf,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM tok GROUP BY token
    ORDER BY df DESC, token LIMIT {POSTINGS_TOP}
    """,
    f"inverted-index build primitive: posting-list stats (df, cf,"
    f" doc-id range) per token, top-{POSTINGS_TOP} by document"
    " frequency — one tokenize + one groupBy-on-token shuffle",
    tags=("text", "retrieval", "headline"),
)
def inverted_postings_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index-build shape: map-side tokenize/explode, one shuffle
    keyed on token (partial aggregation combines map-side), bounded
    TakeOrdered cut. All output columns are integers — exact parity
    with no rounding contract needed. At 100 TB the token key is
    zipf-skewed; countDistinct's partial aggregation keeps hot tokens
    from concentrating raw postings in one task."""
    d = spread(read_testdata(spark, sf_dir, "documents"))
    tok = d.select("doc_id", F.explode(tokens("text")).alias("token"))
    return (
        tok.groupBy("token")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count(F.lit(1)).alias("cf"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy(F.col("df").desc(), "token")
        .limit(POSTINGS_TOP)
        .select(
            "token",
            F.col("df").cast("bigint").alias("df"),
            F.col("cf").cast("bigint").alias("cf"),
            F.col("first_doc").cast("bigint").alias("first_doc"),
            F.col("last_doc").cast("bigint").alias("last_doc"),
        )
    )


# Reciprocal-rank-fusion constants: the standard k=60 (Cormack et al.),
# pool depth per ranker, fused cut, and the fixed dense query vector.
RRF_K = 60
RRF_POOL = 100
RRF_TOPK = 15
RRF_QUERY_VEC = 7


@register(
    "rrf_hybrid_retrieval",
    f"""
    WITH cand AS (
      SELECT d.doc_id, {tokens_sql('d.text')} AS toks,
             e.embedding::DOUBLE[] AS v
      FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
    dd AS (
      SELECT doc_id, v, CAST(len(toks) AS DOUBLE) AS dl,
             {_TF_SQL}
      FROM cand),
    stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl,
             {_DF_SQL}
      FROM dd),
    sp AS (
      SELECT doc_id, ROUND(({_SCORE_SQL}) * 1e6, 0) / 1e6 AS s
      FROM dd CROSS JOIN stats),
    spool AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS rs
      FROM sp WHERE s > 0
      QUALIFY rs <= {RRF_POOL}),
    q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings
      WHERE vec_id = {RRF_QUERY_VEC}),
    dp AS (
      SELECT doc_id, ROUND({cosine_sql('qv', 'v')} * 1e6, 0) / 1e6 AS c
      FROM dd CROSS JOIN q),
    dpool AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY c DESC, doc_id) AS rd
      FROM dp
      QUALIFY rd <= {RRF_POOL}),
    fused AS (
      SELECT COALESCE(spool.doc_id, dpool.doc_id) AS doc_id,
             COALESCE(rs, 0) AS sparse_rank,
             COALESCE(rd, 0) AS dense_rank,
             COALESCE(1.0 / ({RRF_K} + rs), 0.0)
               + COALESCE(1.0 / ({RRF_K} + rd), 0.0) AS rrf
      FROM spool FULL OUTER JOIN dpool ON spool.doc_id = dpool.doc_id)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(sparse_rank AS INT) AS sparse_rank,
           CAST(dense_rank AS INT) AS dense_rank,
           ROUND(rrf * 1e9, 0) / 1e9 AS rrf_score
    FROM fused
    ORDER BY rrf DESC, doc_id LIMIT {RRF_TOPK}
    """,
    f"hybrid retrieval via reciprocal-rank fusion (k={RRF_K}): BM25"
    f" top-{RRF_POOL} pool fused with dense-cosine top-{RRF_POOL} pool"
    f" for query vector {RRF_QUERY_VEC} over docs that have embeddings;"
    " rrf = sum over rankers of 1/(k + rank), absent rank contributes"
    f" 0 (rank sentinel 0); fused top-{RRF_TOPK}",
    tags=("text", "retrieval", "similarity", "headline"),
)
def rrf_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RAG-stack retrieval shape: a lexical ranker and a dense
    ranker each produce a bounded top-R pool (TakeOrderedAndProject —
    each task keeps R rows, driver merges; NEVER a full-corpus global
    window), ranks are assigned on the R-row pools, and fusion is a
    tiny full-outer join. Scale: corpus stats enter as a broadcast
    1-row aggregate, the dense pass is map-side per document against
    one broadcast query vector, and everything after the two pool cuts
    is O(R). RRF scores are fully determined by integer ranks —
    1/(60+r) is exact-input IEEE division, identical in both engines —
    so the 1e-9 rounding is belt-and-braces only. Both rankers rank on
    the ROUNDED score with doc_id tie-break (the
    ``ann_cosine_topk_vectorized`` contract), so the pools themselves
    are engine-independent."""
    d = spread(read_testdata(spark, sf_dir, "documents"))
    emb = read_testdata(spark, sf_dir, "embeddings").select(
        F.col("vec_id"), as_double_array("embedding").alias("v")
    )
    cand = d.join(emb, d.doc_id == emb.vec_id).select(
        "doc_id", tokens("text").alias("toks"), "v"
    )
    dd = cand.select(
        "doc_id",
        "v",
        F.size("toks").cast("double").alias("dl"),
        *[
            F.size(F.filter("toks", lambda x: x == F.lit(t))).alias(f"tf_{t}")
            for t in QUERY_TERMS
        ],
    )
    stats = dd.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0)).alias(f"df_{t}")
            for t in QUERY_TERMS
        ],
    )
    score = _bm25_contrib(QUERY_TERMS[0])
    for t in QUERY_TERMS[1:]:
        score = score + _bm25_contrib(t)
    sp = dd.crossJoin(F.broadcast(stats)).select(
        "doc_id", round_compat(score, 6).alias("s")
    )
    spool = (
        sp.filter(F.col("s") > 0)
        .orderBy(F.col("s").desc(), "doc_id")
        .limit(RRF_POOL)
    )
    from pyspark.sql import Window as _W

    spool = spool.withColumn(
        "rs", F.row_number().over(_W.orderBy(F.col("s").desc(), "doc_id"))
    ).select("doc_id", "rs")
    q = emb.filter(F.col("vec_id") == RRF_QUERY_VEC).select(
        F.col("v").alias("qv")
    )
    dp = dd.crossJoin(F.broadcast(q)).select(
        "doc_id", round_compat(cosine("qv", "v"), 6).alias("c")
    )
    dpool = (
        dp.orderBy(F.col("c").desc(), "doc_id")
        .limit(RRF_POOL)
        .withColumn(
            "rd", F.row_number().over(_W.orderBy(F.col("c").desc(), "doc_id"))
        )
        .select("doc_id", "rd")
    )
    fused = spool.join(dpool, "doc_id", "full_outer").select(
        "doc_id",
        F.coalesce("rs", F.lit(0)).alias("sparse_rank"),
        F.coalesce("rd", F.lit(0)).alias("dense_rank"),
        (
            F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("rs")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("rd")), F.lit(0.0))
        ).alias("rrf"),
    )
    return (
        fused.orderBy(F.col("rrf").desc(), "doc_id")
        .limit(RRF_TOPK)
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.col("sparse_rank").cast("int").alias("sparse_rank"),
            F.col("dense_rank").cast("int").alias("dense_rank"),
            round_compat("rrf", 9).alias("rrf_score"),
        )
    )
