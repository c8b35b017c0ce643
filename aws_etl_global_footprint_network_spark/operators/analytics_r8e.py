"""Round-8 batch-9 operators — Spark 4 API-surface coverage ([EXT]):
recursive CTEs, LATERAL correlated subqueries, Python UDTFs, exact
bitmap aggregates, mergeable HLL sketch union, and the deterministic
MODE aggregate.

These exist to pin the ENGINE surface a reference user would reach
for, each with the usual DuckDB oracle — stated in an independent
formulation wherever the feature allows (the recursive CTE's oracle
is a window; the bitmap op's oracle is exact COUNT(DISTINCT)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_etl_global_footprint_network_spark.registry import register
from aws_etl_global_footprint_network_spark.sources.readers import (
    read_testdata,
    testdata_views,
)

# --------------------------------------------------------------------
# Recursive CTE: per-customer order-chain depth distribution
# --------------------------------------------------------------------

RCTE_MAX_DEPTH = 8  # fixed walk depth: the cost model is rounds x
# fixed job latency, NOT data volume — pointer jumping below reaches
# any depth <= 8 in 2 doubling rounds from a distance-4 window seed
# instead of 8 sequential successor joins (round-8 verdict item 2:
# the one-step WITH RECURSIVE plan paid 100x DuckDB at sf1 in pure
# job latency)


@register(
    "recursive_cte_order_depth",
    f"""
    WITH seq AS (
      SELECT o_custkey, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) - 1
               AS depth
      FROM orders)
    SELECT CAST(depth AS BIGINT) AS depth,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM seq WHERE depth <= {RCTE_MAX_DEPTH} GROUP BY depth ORDER BY depth
    """,
    "recursive order-chain walk by POINTER JUMPING: each customer's"
    " orders form a LINEAR predecessor chain (in-degree <= 1), and"
    " every node learns its distance-from-head by doubling (dist +="
    " dist[pred]; pred = pred[pred]) from a distance-4 seed — depth"
    f" cap {RCTE_MAX_DEPTH} reached in 2 doubling rounds instead of 8"
    " linear ones; the oracle derives the identical capped depths from"
    " ROW_NUMBER, pinning jumping == window on this shape",
    tags=("relational", "recursive", "window", "job-latency-floor", "headline"),
)
def recursive_cte_order_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """List ranking by pointer jumping (Wyllie's algorithm), seeded at
    distance 4: one window pass gives each order a pointer 4 steps up
    its per-customer chain (lag 4; nodes within 4 of the head hold
    their exact depth with a NULL pointer — this is precisely the
    post-round-2 state of the standard unit-seeded algorithm), then
    each doubling round squares the pointer (dist += dist[pred];
    pred = pred[pred]).  After r rounds from the seed, dist =
    min(4·2^r, depth) exactly for depth <= 4·2^r, and pred has
    resolved to NULL for every depth <= 4·2^(r-1) — so 2 rounds
    finalize all depths <= 8 (depths 9..16 also resolve exactly and
    fail the <= 8 filter; deeper nodes carry dist 16 > cap).  Each
    round is ONE merge-hinted keyed self-join with lineage cut
    (broadcast would ship the full 1.5M-row frame per round; SMJ
    shuffles only hash partitions), so the cost is 3 jobs + agg —
    versus 8 sequential successor joins in the round-8 WITH RECURSIVE
    plan (100x DuckDB at sf1; now ~3 s).

    Floor (round-12 A/B, warm sf1, alternating 3 rounds): jumping
    2.5-3.1 s vs the one-window ROW_NUMBER plan 1.1-1.3 s — the
    ~1.3 s delta is the two extra doubling jobs + lineage cuts,
    data-independent machinery. The window plan would be the better
    REGISTERED plan for a depth-8 cap, but this operator exists to
    exercise the recursive/pointer-jumping surface at scale (the
    oracle deliberately states the window form as the independent
    twin), so the row carries the job-latency-floor flag instead of
    being rewritten into its own oracle.  The recursive-CTE API
    surface stays covered by tests/test_round8e_ops.py::
    test_with_recursive_api (tiny fixed-point at sf0.001).  Oracle:
    the independent ROW_NUMBER formulation, unchanged."""
    from pyspark.sql import Window
    from aws_etl_global_footprint_network_spark.functions.cache import cut_lineage

    o = read_testdata(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    lag = {k: F.lag("o_orderkey", k).over(w) for k in (1, 2, 3, 4)}
    cur = cut_lineage(
        o.select(
            F.col("o_custkey").alias("ck"),
            F.col("o_orderkey").alias("node"),
            lag[4].alias("pred"),
            F.when(lag[1].isNull(), 0)
            .when(lag[2].isNull(), 1)
            .when(lag[3].isNull(), 2)
            .when(lag[4].isNull(), 3)
            .otherwise(4)
            .alias("dist"),
        )
    )
    # 2 = ceil(log2(RCTE_MAX_DEPTH / seed_distance)) + 1: the round
    # budget is a compile-time constant of the depth cap — deliberately
    # NOT data-dependent (no count() action per round)
    for _ in range(2):
        p = cur.select(
            F.col("ck").alias("p_ck"),
            F.col("node").alias("p_node"),
            F.col("pred").alias("p_pred"),
            F.col("dist").alias("p_dist"),
        ).hint("MERGE")
        cur = cut_lineage(
            cur.join(
                p, (cur["ck"] == p["p_ck"]) & (cur["pred"] == p["p_node"]), "left"
            ).select(
                "ck",
                "node",
                F.when(F.col("pred").isNull(), F.col("pred"))
                .otherwise(F.col("p_pred"))
                .alias("pred"),
                F.when(F.col("pred").isNull(), F.col("dist"))
                .otherwise(F.col("dist") + F.col("p_dist"))
                .alias("dist"),
            )
        )
    return (
        cur.filter(F.col("dist") <= RCTE_MAX_DEPTH)
        .groupBy(F.col("dist").cast("long").alias("depth"))
        .agg(F.count("*").cast("long").alias("n_orders"))
        .orderBy("depth")
    )


# --------------------------------------------------------------------
# LATERAL correlated subquery: top-2 customers per nation
# --------------------------------------------------------------------

LAT_TOP = 2


@register(
    "lateral_top2_per_nation",
    f"""
    SELECT CAST(n.n_nationkey AS BIGINT) AS nationkey,
           t.c_custkey, t.c_acctbal
    FROM nation n,
         LATERAL (SELECT c.c_custkey, c.c_acctbal
                  FROM customer c
                  WHERE c.c_nationkey = n.n_nationkey
                  ORDER BY c.c_acctbal DESC, c.c_custkey
                  LIMIT {LAT_TOP}) t
    ORDER BY nationkey, t.c_acctbal DESC, t.c_custkey
    """,
    f"LATERAL correlated subquery: top-{LAT_TOP} customers by balance"
    " PER NATION stated as a lateral per-row subquery (the SQL-std"
    " formulation of the top-k-per-group pattern"
    " top3_parts_per_brand states as a window) — Catalyst"
    " decorrelates it to a ranked join, which the plan gate verifies"
    " never degenerates into a nested loop",
    tags=("relational", "subquery", "window", "headline"),
)
def lateral_top2_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LATERAL keyword is how SQL users state per-row subtables;
    Spark 4 supports it with full decorrelation (the executed plan is
    a window/ranked join over one customer shuffle, not a per-nation
    rescan — same physical shape as the window formulation, which is
    exactly the point: declare it either way, Catalyst picks the
    distributed plan). Total (acctbal DESC, custkey) order makes the
    cut deterministic in both engines."""
    testdata_views(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT CAST(n.n_nationkey AS BIGINT) AS nationkey,
               t.c_custkey, t.c_acctbal
        FROM nation n,
             LATERAL (SELECT c.c_custkey, c.c_acctbal
                      FROM customer c
                      WHERE c.c_nationkey = n.n_nationkey
                      ORDER BY c.c_acctbal DESC, c.c_custkey
                      LIMIT {LAT_TOP}) t
        ORDER BY nationkey, t.c_acctbal DESC, t.c_custkey
        """
    )


# --------------------------------------------------------------------
# Python UDTF: sentence splitter with per-sentence stats
# --------------------------------------------------------------------

UDTF_DOC_CAP = 200  # bounded demo slice: the UDTF row path is the
# deliberate slow lane (API coverage), so it runs on a deterministic
# id-ordered prefix, not the whole corpus


@register(
    "udtf_sentence_split",
    f"""
    WITH docs AS (
      SELECT doc_id, text FROM documents
      ORDER BY doc_id LIMIT {UDTF_DOC_CAP}),
    s AS (
      SELECT doc_id,
             unnest(string_split(text, '. ')) AS sentence
      FROM docs),
    t AS (
      SELECT doc_id, sentence FROM s WHERE length(sentence) > 0)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_sentences,
           CAST(SUM(length(sentence)) AS BIGINT) AS total_chars,
           CAST(MAX(length(sentence)) AS BIGINT) AS max_chars
    FROM t GROUP BY doc_id ORDER BY doc_id
    """,
    "Python UDTF (Spark 4 user-defined TABLE function) splitting"
    f" documents into sentences over a deterministic {UDTF_DOC_CAP}-doc"
    " slice, aggregated to per-doc sentence stats; the oracle states"
    " the same split relationally (string_split + unnest) — API"
    " coverage for the one lateral-generator surface plain UDFs"
    " can't express",
    tags=("text", "udf", "headline"),
)
def udtf_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDTFs return RELATIONS per input row — the Spark-4 API for
    generators too irregular for explode()'s array contract. The
    split logic here is deliberately simple (oracle-stateable) so
    the demonstrated machinery is the registration + LATERAL-join
    path itself; the row-at-a-time Python cost is confined to a
    bounded, deterministic doc slice (the corpus-scale text ops all
    stay in codegen — see text_analysis)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="sentence: string")
    class SentenceSplit:
        def eval(self, text: str):
            if text is None:
                return
            for s in text.split(". "):
                if s:
                    yield (s,)

    spark.udtf.register("sentence_split_r8", SentenceSplit)
    testdata_views(spark, sf_dir)
    return spark.sql(
        f"""
        WITH docs AS (
          SELECT doc_id, text FROM documents
          ORDER BY doc_id LIMIT {UDTF_DOC_CAP})
        SELECT d.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_sentences,
               CAST(SUM(length(t.sentence)) AS BIGINT) AS total_chars,
               CAST(MAX(length(t.sentence)) AS BIGINT) AS max_chars
        FROM docs d, LATERAL sentence_split_r8(d.text) t
        GROUP BY d.doc_id ORDER BY d.doc_id
        """
    )


# --------------------------------------------------------------------
# Exact bitmap-aggregate distinct counts
# --------------------------------------------------------------------


@register(
    "bitmap_distinct_users",
    """
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    "EXACT distinct users per event type via Spark's bitmap"
    " aggregates (bitmap_bucket_number / bitmap_construct_agg /"
    " bitmap_count summed per bucket) — the roaring-bitmap recipe"
    " that replaces count(distinct)'s Expand at warehouse scale;"
    " bitmaps are exact, so the oracle is plain COUNT(DISTINCT)",
    tags=("agg", "scale", "headline"),
)
def bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count(distinct) plans an Expand + two-phase distinct;
    the bitmap form buckets ids into fixed 32k-bit bitmaps that OR
    together map-side — the standard warehouse pattern for repeated
    distinct-count queries (and the bitmaps themselves are storable
    as incremental-view state). Exact by construction, so this is
    hash-verified against COUNT(DISTINCT), not bound-checked like
    the HLL ops."""
    testdata_views(spark, sf_dir)
    return spark.sql(
        """
        WITH b AS (
          SELECT event_type,
                 bitmap_bucket_number(user_id) AS bucket,
                 bitmap_construct_agg(bitmap_bit_position(user_id)) AS bm
          FROM events GROUP BY event_type, bitmap_bucket_number(user_id))
        SELECT event_type,
               CAST(SUM(bitmap_count(bm)) AS BIGINT) AS n_users
        FROM b GROUP BY event_type ORDER BY event_type
        """
    )


# --------------------------------------------------------------------
# Mergeable HLL sketches: per-nation sketch, region-level union
# --------------------------------------------------------------------

HLL_REL_ERR = 0.05


@register(
    "hll_union_region_distinct",
    f"""
    WITH cn AS (
      SELECT n.n_regionkey AS regionkey, c.c_custkey
      FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey)
    SELECT CAST(regionkey AS BIGINT) AS regionkey,
           CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS exact_custs,
           TRUE AS approx_within_{int(HLL_REL_ERR * 100)}pct
    FROM cn GROUP BY regionkey ORDER BY regionkey
    """,
    "mergeable HLL sketches (Spark 4 datasketches aggregates):"
    " per-NATION hll_sketch_agg unioned to REGION grain with"
    " hll_union_agg — the two-level rollup that makes sketches the"
    " scale answer (partial sketches merge without rescanning);"
    " hashable contract = exact count + relative-error bound, the"
    " approx_distinct_parts recipe",
    tags=("agg", "approx", "scale", "headline"),
)
def hll_union_region_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The point of sketch aggregates is MERGEABILITY: nation-level
    sketches built once can union to any coarser grain without
    touching the fact table again — at 100 TB that is the difference
    between a metadata operation and a rescan. The sketch estimate
    itself is engine-specific bits, so (approx_distinct_parts
    precedent) the hash-checked contract is the exact distinct count
    plus a boolean asserting the unioned estimate lands within
    {HLL_REL_ERR:.0%} of it — the bound check runs in-plan on the
    Spark side and the oracle states the exact count with TRUE."""
    c = read_testdata(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = read_testdata(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    cn = c.join(n, c.c_nationkey == n.n_nationkey).select(
        F.col("n_regionkey").alias("regionkey"),
        F.col("c_nationkey").alias("natkey"),
        "c_custkey",
    )
    per_nation = cn.groupBy("regionkey", "natkey").agg(
        F.expr("hll_sketch_agg(c_custkey)").alias("sk"),
        F.count_distinct("c_custkey").alias("exact_n"),
    )
    per_region = per_nation.groupBy("regionkey").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est"),
        F.sum("exact_n").alias("exact_custs"),  # custkeys are globally
        # unique, so nation-level exacts SUM to the region exact
    )
    return per_region.select(
        F.col("regionkey").cast("bigint").alias("regionkey"),
        F.col("exact_custs").cast("bigint").alias("exact_custs"),
        (
            F.abs(F.col("est") - F.col("exact_custs"))
            <= HLL_REL_ERR * F.col("exact_custs")
        ).alias(f"approx_within_{int(HLL_REL_ERR * 100)}pct"),
    ).orderBy("regionkey")


# --------------------------------------------------------------------
# Deterministic MODE aggregate per brand
# --------------------------------------------------------------------


@register(
    "mode_brand_size",
    """
    WITH c AS (
      SELECT p_brand, p_size, CAST(COUNT(*) AS BIGINT) AS n
      FROM part GROUP BY p_brand, p_size),
    m AS (
      SELECT p_brand, p_size AS mode_size, n,
             ROW_NUMBER() OVER (PARTITION BY p_brand
                                ORDER BY n DESC, p_size) AS rn
      FROM c)
    SELECT p_brand, CAST(mode_size AS BIGINT) AS mode_size,
           n AS mode_count
    FROM m WHERE rn = 1 ORDER BY p_brand
    """,
    "deterministic MODE per brand: Spark 4's mode(col, true)"
    " aggregate (deterministic tie-break to the smallest value)"
    " against an oracle that states the same argmax explicitly"
    " (count DESC, value ASC) — pinning the built-in's tie rule"
    " cross-engine",
    tags=("agg", "headline"),
)
def mode_brand_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB's mode() leaves ties unspecified, so the oracle states
    the argmax with an explicit total order; Spark's
    ``mode(col, deterministic=true)`` documents smallest-wins on
    ties — if either engine's rule drifts, the hash catches it. The
    mode count rides along from an explicit (brand, size) rollup —
    one combinable corpus pass either way."""
    p = read_testdata(spark, sf_dir, "part")
    c = p.groupBy("p_brand", "p_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    # two formulations pinned against each other IN-PLAN: the struct
    # argmax carries the count, the built-in mode(col, true) must
    # agree with the struct's value — any disagreement nulls the row
    # and fails the hash
    agg = (
        p.groupBy("p_brand")
        .agg(F.expr("mode(p_size, true)").alias("builtin_mode"))
    )
    arg = (
        c.groupBy("p_brand")
        .agg(
            F.max(
                F.struct(F.col("n"), (-F.col("p_size")).alias("neg"))
            ).alias("mx")
        )
        .select(
            "p_brand",
            (-F.col("mx.neg")).cast("bigint").alias("mode_size"),
            F.col("mx.n").alias("mode_count"),
        )
    )
    return (
        arg.join(agg, "p_brand")
        .filter(F.col("mode_size") == F.col("builtin_mode"))
        .select("p_brand", "mode_size", F.col("mode_count"))
        .orderBy("p_brand")
    )
