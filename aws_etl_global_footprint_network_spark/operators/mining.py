"""Round-7 mining operators ([EXT] — LLM-data-pipeline surface,
SURVEY §0/§7.6 extensions).

Eleven families, each oracle-paired:

- ``triangle_count_copurchase``: triangle counting on the part
  co-purchase graph with the degree-orientation trick — the classic
  distributed-graph-analytics kernel (clustering coefficient, spam
  and community detection over near-dup/citation graphs).
- ``gini_revenue_concentration``: per-segment Gini coefficient of
  customer revenue via the distributed-rank recipe — never a
  single-task global window.
- ``bitext_margin_csls``: margin-based (CSLS) bitext mining over the
  embedding corpus — the scoring rule behind large-scale parallel-
  corpus mining for translation training data (Artetxe & Schwenk's
  margin scoring; MUSE's cross-domain similarity local scaling).
- ``bpe_merge_step``: the first three merge iterations of byte-pair
  encoding over the corpus word vocabulary — the inner loop of
  tokenizer training, run vocabulary-sized (never corpus-sized).
- ``simhash_neardup_pairs``: Hamming-ball near-dup candidate pairs
  from banded SimHash fingerprints, verified with exact
  ``bit_count(xor)`` distance.
- ``kcore_copurchase``: bounded-round k-core peel of the co-purchase
  graph — dense-cluster extraction on link/near-dup graphs.
- ``quantile_normalize_events``: cross-group quantile normalization
  at bucket grain — per-group scalable NTILE via the distributed
  rank recipe, pooled bucket means shared across groups.
- ``pca_power_projection``: distributed PCA — one corpus pass for
  the moment matrix, in-plan power iteration, map-side projection.
- ``bpe_apply_segmentation``: the apply half of tokenizer training —
  corpus segmented with the learned merges at vocabulary grain.
- ``ewma_spend_smoothing``: per-user EWMA control chart — exponential
  smoothing without recursion via the rescaled-cumsum identity.
- ``jaccard_link_prediction``: common-neighbor / Jaccard link
  prediction over the co-purchase affinity graph.

Scale posture is noted per operator; no operator broadcasts a
corpus-cardinality relation or sorts the corpus through one task.
All run as Spark jobs except the bounded-round graph loops (k-core
and BFS here, label propagation in ``analytics_r8c``): they finish on
the driver in numpy when their co-purchase graph has at most
``kernels.LOCAL_EDGE_CAP`` edges, and run distributed past it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_etl_global_footprint_network_spark.functions import kernels
from aws_etl_global_footprint_network_spark.functions.cache import (
    CacheScope,
    cut_lineage,
    cut_lineage_disk,
)
from aws_etl_global_footprint_network_spark.functions.compat import round_compat
from aws_etl_global_footprint_network_spark.functions.text import tokens, tokens_sql
from aws_etl_global_footprint_network_spark.functions.vectors import (
    as_double_array,
    dot,
    dot_sql,
    norm,
    norm_sql,
)
from aws_etl_global_footprint_network_spark.registry import register
from aws_etl_global_footprint_network_spark.sources.readers import (
    read_testdata,
    spread,
)

# --------------------------------------------------------------------
# Triangle counting (degree orientation)
# --------------------------------------------------------------------

TRI_TOP = 20

# Minimum co-occurrence count for an AFFINITY edge (the triangle
# op's graph): a single shared order between two parts is noise under
# uniform baskets, and the noise graph's density grows with corpus
# size — its wedge count exploded the sf1 sweep (measured 24 GB of
# DuckDB spill). Support >= 2 keeps only repeat co-purchases, whose
# count is stable across SF (~4k edges at sf0.01, sf0.1 AND sf1), so
# the wedge join is bounded by signal, not volume.
TRI_MIN_SUPPORT = 2

# The base relation is deduped to (order, part) first: an order can
# hold the same part on several lineitems, which would inflate pair
# support multiplicatively; support means DISTINCT shared orders.
_COPURCHASE_EDGES_SQL = """
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
      JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2"""


def _copurchase_edges(
    spark: SparkSession, sf_dir: str, min_support: int = 1
) -> DataFrame:
    """Undirected (u < v) part pairs sharing at least ``min_support``
    orders — PERSISTED + MEMOIZED per (session, lineitem generation,
    min_support), because six registered graph queries (triangle,
    k-core, LPA, BFS, Jaccard link prediction, degree distribution)
    open with this identical subplan (round-8 verdict item 7: the
    family re-paid the two build shuffles per query).

    Round-8 rewrite recap: the original distinct + per-order
    SELF-JOIN + pair groupBy was three corpus shuffles plus two
    sort-merge sorts and measured 28 s at sf1. This form reuses the
    shared memoized basket-array frame (one orderkey shuffle,
    collect_set bounded by the domain-constant basket size),
    generates the C(basket, 2) ordered pairs map-side with
    index-sequence explodes (plain codegen generators — NOT
    higher-order-function lambdas, the repo's recurring
    HOF-blocks-codegen lesson), and counts supports in one pair
    shuffle. collect_set also subsumes the distinct (intra-order
    repeats collapse), and sort_array makes u < v by construction.
    The DuckDB oracle keeps the independent self-join formulation."""
    from aws_etl_global_footprint_network_spark.functions.baskets import (
        _table_mtime,
        basket_arrays,
        explode_sorted_pairs,
        memo_persisted,
    )

    def build() -> DataFrame:
        baskets = basket_arrays(spark, sf_dir)
        raw = explode_sorted_pairs(baskets, "arr", "u", "v")
        if min_support <= 1:
            return raw.distinct()
        pairs = raw.groupBy("u", "v").agg(F.count(F.lit(1)).alias("support"))
        return pairs.filter(F.col("support") >= min_support).select("u", "v")

    return memo_persisted(
        spark,
        f"copurchase_edges_ms{min_support}",
        _table_mtime(sf_dir, "lineitem"),
        build,
    )


@register(
    "triangle_count_copurchase",
    f"""
    WITH pairs AS MATERIALIZED ({_COPURCHASE_EDGES_SQL}
      HAVING COUNT(*) >= {TRI_MIN_SUPPORT}),
    deg AS MATERIALIZED (
      SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs)
      GROUP BY node),
    o AS MATERIALIZED (
      SELECT CASE WHEN (du.d, p.u) < (dv.d, p.v) THEN p.u ELSE p.v END AS src,
             CASE WHEN (du.d, p.u) < (dv.d, p.v) THEN p.v ELSE p.u END AS dst,
             CASE WHEN (du.d, p.u) < (dv.d, p.v) THEN dv.d ELSE du.d END AS dd
      FROM pairs p JOIN deg du ON du.node = p.u JOIN deg dv ON dv.node = p.v),
    tri AS (
      SELECT o1.src AS a, o1.dst AS b, o2.dst AS c
      FROM o o1 JOIN o o2
        ON o1.src = o2.src
       AND ((o1.dd, o1.dst) < (o2.dd, o2.dst))
      JOIN o o3 ON o3.src = o1.dst AND o3.dst = o2.dst),
    pernode AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
        SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri)
      GROUP BY node)
    SELECT CAST(pn.node AS BIGINT) AS l_partkey,
           CAST(deg.d AS BIGINT) AS degree, pn.n_triangles
    FROM pernode pn JOIN deg ON deg.node = pn.node
    ORDER BY pn.n_triangles DESC, pn.node LIMIT {TRI_TOP}
    """,
    f"triangle counting on the part co-purchase AFFINITY graph (parts"
    f" sharing >= {TRI_MIN_SUPPORT} orders are adjacent):"
    " degree-oriented wedge join + closing-edge join, per-node"
    f" triangle counts, top-{TRI_TOP}",
    tags=("graph", "analytics", "shared-build", "headline"),
)
def triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standard distributed triangle kernel: orient every edge
    from the (degree, id)-smaller endpoint to the larger, enumerate
    wedges only among out-neighbors (out-degree under orientation is
    O(sqrt(edges)) for any graph — the arboricity bound — so the
    wedge join can never blow up on a skewed hub the way a naive
    u-v-w enumeration does), and close each wedge with one equi-join
    back on the oriented edge list. Edges are repeat co-purchases
    (support >= TRI_MIN_SUPPORT): the single-shared-order noise graph
    densifies with corpus size and its wedge count grows
    quadratically in degree, while the affinity graph's size tracks
    genuine co-purchase signal (measured flat ~4k edges from sf0.01
    to sf1). Edge generation is a per-order self-join bounded by
    basket size, so it is linear in lineitem. Three shuffles total
    (pair count, wedge join, closing join); per-node counts are one
    explode + groupBy."""
    scope = CacheScope("triangle_count_copurchase")
    # already persisted by the cross-query memo — re-wrapping it in
    # the scope would let scope teardown unpersist the shared frame
    pairs = _copurchase_edges(spark, sf_dir, min_support=TRI_MIN_SUPPORT)
    deg = scope.persist(
        pairs.select(F.col("u").alias("node"))
        .unionAll(pairs.select("v"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du, dv = deg.alias("du"), deg.alias("dv")
    u_first = (F.col("du.d") < F.col("dv.d")) | (
        (F.col("du.d") == F.col("dv.d")) & (F.col("u") < F.col("v"))
    )
    o = scope.persist(
        pairs.join(du, F.col("du.node") == F.col("u"))
        .join(dv, F.col("dv.node") == F.col("v"))
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(u_first, F.col("dv.d")).otherwise(F.col("du.d")).alias("dd"),
        )
    )
    o1, o2, o3 = o.alias("o1"), o.alias("o2"), o.alias("o3")
    wedge_lt = (F.col("o1.dd") < F.col("o2.dd")) | (
        (F.col("o1.dd") == F.col("o2.dd")) & (F.col("o1.dst") < F.col("o2.dst"))
    )
    tri = (
        o1.join(o2, (F.col("o1.src") == F.col("o2.src")) & wedge_lt)
        .join(
            o3,
            (F.col("o3.src") == F.col("o1.dst"))
            & (F.col("o3.dst") == F.col("o2.dst")),
        )
        .select(
            F.col("o1.src").alias("a"),
            F.col("o1.dst").alias("b"),
            F.col("o2.dst").alias("c"),
        )
    )
    pernode = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    return (
        pernode.join(deg, "node")
        .orderBy(F.col("n_triangles").desc(), "node")
        .limit(TRI_TOP)
        .select(
            F.col("node").cast("bigint").alias("l_partkey"),
            F.col("d").cast("bigint").alias("degree"),
            "n_triangles",
        )
    )


# --------------------------------------------------------------------
# Gini / Lorenz revenue concentration
# --------------------------------------------------------------------

@register(
    "gini_revenue_concentration",
    """
    WITH rev AS (
      SELECT o_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS x
      FROM orders GROUP BY o_custkey),
    j AS (
      SELECT c.c_mktsegment AS seg, rev.x, c.c_custkey AS k
      FROM rev JOIN customer c ON c.c_custkey = rev.o_custkey),
    r AS (
      SELECT seg, x,
             ROW_NUMBER() OVER (PARTITION BY seg ORDER BY x, k) AS rnk
      FROM j),
    g AS (
      SELECT seg, COUNT(*) AS n, SUM(x) AS sx,
             SUM(rnk * x) AS srx
      FROM r GROUP BY seg)
    SELECT seg AS c_mktsegment, CAST(n AS BIGINT) AS n_customers,
           CAST(sx AS BIGINT) AS total_rev_cents,
           ROUND((2.0 * CAST(srx AS DOUBLE)
                   - (CAST(n AS DOUBLE) + 1.0) * CAST(sx AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)) * 1e6, 0) / 1e6
             AS gini
    FROM g
    """,
    "per-market-segment Gini coefficient of customer order revenue"
    " (income-inequality / revenue-concentration analytics), exact"
    " integer-cents arithmetic with one final division",
    tags=("analytics", "scale", "headline"),
)
def gini_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini via the sorted-rank identity
    G = (2*sum(r*x) - (n+1)*sum(x)) / (n*sum(x)) with x ascending and
    r the 1-based per-segment rank. The rank comes from ONE global
    distributed row_number over the composite total order
    (segment, x, custkey) — the ``functions/ranking`` recipe — and the
    per-segment rank is recovered as rn - min(rn per segment) + 1
    (a segment-cardinality aggregate joined back), so no per-segment
    window ever sorts a whole segment through one task. sum(r*x)
    needs a wide accumulator at scale: the sf10 parity sweep caught
    the int64 accumulator at 1.4e19 (rank ~3e5 x revenue ~7e8 cents x
    3e5 rows/segment) — exactly the overflow class the round-7 notes
    say small scales cannot see; DuckDB widens to HUGEINT natively,
    and the closing Gini formula is cast to DOUBLE explicitly on both
    sides in identical order.

    Width dispatch (round 12): the round-11 blanket DECIMAL(38,0)
    accumulator cost 1.23 -> 4.09 s at sf1 to buy headroom only sf10
    needs.  srx = SUM(rnk*x) over one segment is bounded by
    n_seg * sx_seg (rnk <= n_seg), so the customer-cardinality frame
    j is persisted once (it feeds the rank recipe anyway) and a 5-row
    (count, sum) per-segment aggregate proves the bound: int64 when
    max_seg(n*sx) < 2^62 (sf1: 2.3e17, safe), DECIMAL(38,0) above
    (sf10: 2.3e19, wide).  Both widths are exact integers — hash
    parity is width-independent — and the decision is in
    DISPATCH_LOG.  At 100 TB the persisted frame stays
    customer-cardinality (not fact-cardinality) and the stats pass is
    one combinable aggregate over it."""
    scope = CacheScope("gini_revenue_concentration")
    from aws_etl_global_footprint_network_spark.functions.ranking import (
        _log_dispatch,
    )
    from aws_etl_global_footprint_network_spark.functions.width import (
        INT64_SAFE_BOUND,
    )

    rev = (
        read_testdata(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .cast("long")
            .alias("x")
        )
    )
    cust = read_testdata(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment").alias("seg")
    )
    j = scope.persist(
        rev.join(cust, rev.o_custkey == cust.c_custkey).select(
            "seg", "x", F.col("c_custkey").alias("k")
        )
    )
    # ONE stats job feeds three decisions (round 13; was a stats
    # collect PLUS adaptive_row_number's persist+count PLUS an mn
    # aggregate+join inside the main job): the 5-row per-segment
    # (n, sx) aggregate proves the accumulator width, its n-sum is the
    # rank dispatch cardinality, and the per-segment rank offset of
    # the (seg, x, k) total order is the cumulative count of earlier
    # segments — driver arithmetic, not a join (seg is ASCII, so
    # Python's sort == Spark's UTF8 binary order).
    seg_stats = sorted(
        j.groupBy("seg")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("sx"))
        .collect(),
        key=lambda row: row["seg"],
    )
    bound = max((row["n"] * row["sx"] for row in seg_stats), default=0)
    narrow = float(bound) < INT64_SAFE_BOUND
    _log_dispatch(
        "gini_acc_width", bound, int(INT64_SAFE_BOUND),
        "int64 srx" if narrow else "decimal(38,0) srx",
    )
    n_rows = sum(row["n"] for row in seg_stats)
    from aws_etl_global_footprint_network_spark.functions.ranking import (
        ROWSCALE_WINDOW_CAP,
        distributed_row_number,
    )

    if n_rows <= ROWSCALE_WINDOW_CAP:
        # per-segment window: identical to rn - min(rn per seg) + 1
        # over the global (seg, x, k) order, with the sort bounded by
        # the cap and parallel across segments
        _log_dispatch("gini_rank", n_rows, ROWSCALE_WINDOW_CAP, "window")
        r = j.withColumn(
            "rnk",
            F.row_number()
            .over(Window.partitionBy("seg").orderBy("x", "k"))
            .cast("long"),
        )
    else:
        _log_dispatch("gini_rank", n_rows, ROWSCALE_WINDOW_CAP, "distributed")
        rn = distributed_row_number(
            j, [F.col("seg"), F.col("x"), F.col("k")], "rn", scope
        )
        off_entries = []
        acc = 0
        for row in seg_stats:
            off_entries.extend([F.lit(row["seg"]), F.lit(acc)])
            acc += row["n"]
        off = F.element_at(F.create_map(*off_entries), F.col("seg"))
        r = rn.withColumn("rnk", F.col("rn") - off)
    srx_term = (
        F.col("rnk") * F.col("x")
        if narrow
        else F.col("rnk").cast("decimal(38,0)")
        * F.col("x").cast("decimal(38,0)")
    )
    g = r.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(srx_term).alias("srx"),
    )
    gini = (
        F.lit(2.0) * F.col("srx").cast("double")
        - (F.col("n").cast("double") + F.lit(1.0)) * F.col("sx").cast("double")
    ) / (F.col("n").cast("double") * F.col("sx").cast("double"))
    return g.select(
        F.col("seg").alias("c_mktsegment"),
        F.col("n").cast("bigint").alias("n_customers"),
        F.col("sx").cast("bigint").alias("total_rev_cents"),
        round_compat(gini, 6).alias("gini"),
    )


# --------------------------------------------------------------------
# CSLS margin-based bitext mining
# --------------------------------------------------------------------

BT_K = 8        # neighborhood size for the local-scaling terms
BT_TOP = 5      # reported matches per query
BT_QUERY_MAX = 16  # queries = even vec_ids below this bound


def _bitext_oracle() -> str:
    fold_mean = (
        f"list_sum(list(cos ORDER BY rank)) / {BT_K}"
    )
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e,
                      {norm_sql('(embedding::DOUBLE[])')} AS nrm
               FROM embeddings),
    src AS (SELECT * FROM v WHERE vec_id % 2 = 0),
    tgt AS (SELECT * FROM v WHERE vec_id % 2 = 1),
    q AS (SELECT * FROM src WHERE vec_id < {BT_QUERY_MAX}),
    sa AS (
      SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
             {dot_sql('q.e', 't.e')} / (q.nrm * t.nrm) AS cos
      FROM q JOIN tgt t ON TRUE),
    ra AS (
      SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cos DESC, neighbor_id) AS rank
      FROM sa),
    topa AS (SELECT * FROM ra WHERE rank <= {BT_K}),
    rq AS (SELECT query_id, {fold_mean} AS r_tgt FROM topa GROUP BY query_id),
    ys AS (SELECT DISTINCT neighbor_id FROM topa),
    sb AS (
      SELECT y.vec_id AS neighbor_id, s.vec_id AS src_id,
             {dot_sql('y.e', 's.e')} / (y.nrm * s.nrm) AS cos
      FROM (SELECT v.* FROM v JOIN ys ON v.vec_id = ys.neighbor_id) y
      JOIN src s ON TRUE),
    rb AS (
      SELECT neighbor_id, src_id, cos,
             ROW_NUMBER() OVER (PARTITION BY neighbor_id
               ORDER BY cos DESC, src_id) AS rank
      FROM sb),
    ry AS (SELECT neighbor_id, {fold_mean.replace('ORDER BY rank', 'ORDER BY rank')}
             AS r_src
           FROM (SELECT neighbor_id, cos, rank FROM rb WHERE rank <= {BT_K})
           GROUP BY neighbor_id),
    scored AS (
      SELECT t.query_id, t.neighbor_id, t.cos,
             2.0 * t.cos - rq.r_tgt - ry.r_src AS csls
      FROM topa t JOIN rq ON rq.query_id = t.query_id
                  JOIN ry ON ry.neighbor_id = t.neighbor_id),
    final AS (
      SELECT query_id, neighbor_id, cos, csls,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY csls DESC, neighbor_id) AS INT) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, rank,
           ROUND(cos, 6) AS cos, ROUND(csls, 6) AS csls
    FROM final WHERE rank <= {BT_TOP}
    """


@register(
    "bitext_margin_csls",
    _bitext_oracle(),
    f"CSLS margin-scored bitext mining: even/odd embedding halves as"
    f" source/target corpora, csls = 2*cos - mean-top-{BT_K}"
    f" neighborhood similarities on both sides, top-{BT_TOP} matches"
    f" per query",
    tags=("similarity", "mining", "headline"),
)
def bitext_margin_csls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin/CSLS scoring corrects cosine's hubness problem in
    cross-corpus mining: a target vector close to EVERYTHING gets its
    neighborhood mean subtracted, so only locally-exceptional matches
    rank high. Two bounded-query brute-force passes (the
    ``ann_cosine_topk`` pattern — broadcast the bounded query set,
    map-only scoring over the corpus half, per-query top-k window):
    pass A scores queries against the target half; pass B scores the
    (query-count x k bounded) shortlist against the source half for
    the reverse neighborhoods. At production scale both passes drop
    in behind the LSH/IVF index instead of brute force; the scoring
    algebra is unchanged. Neighborhood means are ordered left-to-right
    folds over the rank-sorted top-k, bit-identical to the oracle."""
    emb = spread(read_testdata(spark, sf_dir, "embeddings")).select(
        "vec_id",
        as_double_array("embedding").alias("e"),
        norm(as_double_array("embedding")).alias("nrm"),
    )
    scope = CacheScope("bitext_margin_csls")
    src = scope.persist(emb.filter(F.col("vec_id") % 2 == 0))
    tgt = emb.filter(F.col("vec_id") % 2 == 1)
    q = src.filter(F.col("vec_id") < BT_QUERY_MAX).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    w_a = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), "neighbor_id"
    )
    topa = scope.persist(
        tgt.join(F.broadcast(q), F.lit(True))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (dot("qe", "e") / (F.col("qn") * F.col("nrm"))).alias("cos"),
        )
        .withColumn("rank", F.row_number().over(w_a))
        .filter(F.col("rank") <= BT_K)
    )

    def fold_mean(df: DataFrame, key: str) -> DataFrame:
        arr = F.array_sort(F.collect_list(F.struct("rank", "cos")))
        return df.groupBy(key).agg(
            (
                F.aggregate(
                    F.transform(arr, lambda s: s.cos),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / F.lit(float(BT_K))
            ).alias("r_mean")
        )

    rq = fold_mean(topa, "query_id").withColumnRenamed("r_mean", "r_tgt")
    ys = topa.select("neighbor_id").distinct()
    yv = emb.join(ys, emb.vec_id == ys.neighbor_id).select(
        F.col("neighbor_id").alias("yid"),
        F.col("e").alias("ye"),
        F.col("nrm").alias("yn"),
    )
    w_b = Window.partitionBy("yid").orderBy(F.col("cos").desc(), "src_id")
    topb = (
        src.join(F.broadcast(yv), F.lit(True))
        .select(
            "yid",
            F.col("vec_id").alias("src_id"),
            (dot("ye", "e") / (F.col("yn") * F.col("nrm"))).alias("cos"),
        )
        .withColumn("rank", F.row_number().over(w_b))
        .filter(F.col("rank") <= BT_K)
    )
    ry = (
        fold_mean(topb, "yid")
        .withColumnRenamed("r_mean", "r_src")
        .withColumnRenamed("yid", "neighbor_id")
    )
    scored = (
        topa.select("query_id", "neighbor_id", "cos")
        .join(rq, "query_id")
        .join(ry, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            "cos",
            (F.lit(2.0) * F.col("cos") - F.col("r_tgt") - F.col("r_src")).alias(
                "csls"
            ),
        )
    )
    w_f = Window.partitionBy("query_id").orderBy(F.col("csls").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w_f).cast("int"))
        .filter(F.col("rank") <= BT_TOP)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            round_compat(F.col("cos"), 6).alias("cos"),
            round_compat(F.col("csls"), 6).alias("csls"),
        )
    )


# --------------------------------------------------------------------
# BPE merge iterations
# --------------------------------------------------------------------

BPE_MERGES = 3


def _bpe_pairs_sql(seq_cte: str, pairs_cte: str) -> str:
    return f"""{pairs_cte} AS (
      SELECT pair, SUM(cnt) AS c FROM (
        SELECT unnest(list_transform(range(1, len(sl)),
                                     i -> sl[i] || ' ' || sl[i+1])) AS pair,
               cnt
        FROM (SELECT string_split(seq, ' ') AS sl, cnt FROM {seq_cte}))
      GROUP BY pair)"""


def _bpe_apply_sql(prev_seq: str, m_cte: str, out_cte: str) -> str:
    lsym = f"split_part({m_cte}.pair, ' ', 1)"
    rsym = f"split_part({m_cte}.pair, ' ', 2)"
    merged = f"replace({m_cte}.pair, ' ', '')"
    return f"""{out_cte} AS (
      SELECT trim(replace(replace(
               ' ' || replace({prev_seq}.seq, ' ', '  ') || ' ',
               ' ' || {lsym} || '  ' || {rsym} || ' ',
               ' ' || {merged} || ' '), '  ', ' ')) AS seq, {prev_seq}.cnt
      FROM {prev_seq}, {m_cte})"""


def _bpe_oracle() -> str:
    parts = [
        f"""toks AS (
      SELECT unnest({tokens_sql('text')}) AS word FROM documents),
    vocab AS (SELECT word, COUNT(*) AS cnt FROM toks GROUP BY word),
    s0 AS (SELECT array_to_string(regexp_extract_all(word, '.'), ' ') AS seq,
                  cnt
           FROM vocab)"""
    ]
    selects = []
    for i in range(1, BPE_MERGES + 1):
        parts.append(_bpe_pairs_sql(f"s{i-1}", f"p{i}"))
        parts.append(
            f"m{i} AS (SELECT pair, c FROM p{i} ORDER BY c DESC, pair LIMIT 1)"
        )
        if i < BPE_MERGES:
            parts.append(_bpe_apply_sql(f"s{i-1}", f"m{i}", f"s{i}"))
        selects.append(
            f"SELECT {i} AS iteration, split_part(pair, ' ', 1) AS left_sym,"
            f" split_part(pair, ' ', 2) AS right_sym,"
            f" replace(pair, ' ', '') AS merged_sym,"
            f" CAST(c AS BIGINT) AS pair_count FROM m{i}"
        )
    return "WITH " + ",\n    ".join(parts) + "\n    " + "\n    UNION ALL ".join(selects)


@register(
    "bpe_merge_step",
    _bpe_oracle(),
    f"first {BPE_MERGES} byte-pair-encoding merge iterations over the"
    " corpus word vocabulary: adjacent-symbol pair counting, argmax"
    " merge selection (count desc, pair asc tie-break), left-to-right"
    " non-overlapping merge application",
    tags=("text", "tokenizer", "iterative", "headline"),
)
def bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inner loop of tokenizer training, expressed at vocabulary
    grain: the corpus is reduced ONCE to (word, count) — everything
    after runs on the vocabulary, which is orders of magnitude smaller
    than the corpus at 100 TB. Each iteration: explode adjacent symbol
    pairs weighted by word count (one shuffle on pair), take the
    argmax as a 1-row TakeOrdered + broadcast cross-join (the
    whitelisted scalar-subquery pattern — the merge decision stays
    in-plan, no driver collect), and apply the merge map-side with the
    space-doubling replace trick: doubling separators makes every
    ' L  R ' occurrence independently matchable, so one linear
    replace() performs the standard left-to-right non-overlapping BPE
    merge identically in Spark and DuckDB."""
    scope = CacheScope("bpe_merge_step")
    d = spread(read_testdata(spark, sf_dir, "documents"))
    vocab = scope.persist(
        d.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    s = vocab.select(
        F.array_join(F.expr("regexp_extract_all(word, '.', 0)"), " ").alias("seq"),
        "cnt",
    )
    out: DataFrame | None = None
    for i in range(1, BPE_MERGES + 1):
        sl = F.split(F.col("seq"), " ")
        pairs = s.select(
            F.explode(
                F.zip_with(
                    F.slice(sl, 1, F.size(sl) - 1),
                    F.slice(sl, 2, F.size(sl) - 1),
                    lambda a, b: F.concat_ws(" ", a, b),
                )
            ).alias("pair"),
            "cnt",
        )
        m = (
            pairs.groupBy("pair")
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.col("c").desc(), "pair")
            .limit(1)
        )
        row = m.select(
            F.lit(i).alias("iteration"),
            F.split_part(F.col("pair"), F.lit(" "), F.lit(1)).alias("left_sym"),
            F.split_part(F.col("pair"), F.lit(" "), F.lit(2)).alias("right_sym"),
            F.replace(F.col("pair"), F.lit(" "), F.lit("")).alias("merged_sym"),
            F.col("c").cast("bigint").alias("pair_count"),
        )
        out = row if out is None else out.unionByName(row)
        if i < BPE_MERGES:
            pat = F.concat(
                F.lit(" "),
                F.split_part(F.col("pair"), F.lit(" "), F.lit(1)),
                F.lit("  "),
                F.split_part(F.col("pair"), F.lit(" "), F.lit(2)),
                F.lit(" "),
            )
            rep = F.concat(
                F.lit(" "), F.replace(F.col("pair"), F.lit(" "), F.lit("")), F.lit(" ")
            )
            s = s.crossJoin(F.broadcast(m)).select(
                F.trim(
                    F.replace(
                        F.replace(
                            F.concat(
                                F.lit(" "),
                                F.replace(F.col("seq"), F.lit(" "), F.lit("  ")),
                                F.lit(" "),
                            ),
                            pat,
                            rep,
                        ),
                        F.lit("  "),
                        F.lit(" "),
                    )
                ).alias("seq"),
                "cnt",
            )
    assert out is not None
    return out


# --------------------------------------------------------------------
# SimHash Hamming-band near-dup pairs
# --------------------------------------------------------------------

SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = 15  # 4 x 15 = 60 fingerprint bits
HAMMING_MAX = 3  # pigeonhole: <= 3 flipped bits MUST leave a band intact


def _simhash_pairs_oracle() -> str:
    from aws_etl_global_footprint_network_spark.operators.dedup import (
        _simhash_oracle,
    )

    bands = " UNION ALL ".join(
        f"SELECT simhash, rep_doc, n_members, {b} AS band,"
        f" (simhash >> {b * SIMHASH_BAND_BITS}) & {(1 << SIMHASH_BAND_BITS) - 1}"
        f" AS bucket FROM grp"
        for b in range(SIMHASH_BANDS)
    )
    return f"""
    WITH fp AS MATERIALIZED ({_simhash_oracle()}),
    grp AS (
      SELECT simhash, CAST(MIN(doc_id) AS BIGINT) AS rep_doc,
             CAST(COUNT(*) AS BIGINT) AS n_members
      FROM fp GROUP BY simhash),
    bands AS ({bands}),
    cand AS (
      SELECT DISTINCT a.rep_doc AS doc_a, b.rep_doc AS doc_b,
             a.simhash AS ha, b.simhash AS hb,
             a.n_members AS na, b.n_members AS nb
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket
       AND a.rep_doc < b.rep_doc)
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming,
           CAST(na * nb AS BIGINT) AS n_doc_pairs
    FROM cand WHERE bit_count(xor(ha, hb)) <= {HAMMING_MAX}
    """


@register(
    "simhash_neardup_pairs",
    _simhash_pairs_oracle(),
    f"SimHash Hamming-ball near-dup pairs: identical fingerprints"
    f" collapsed to (representative, member count) first, then"
    f" {SIMHASH_BANDS} bands x {SIMHASH_BAND_BITS} bits banding over"
    f" DISTINCT fingerprints, exact bit_count(xor) verify at Hamming"
    f" <= {HAMMING_MAX} (recall 1.0 by pigeonhole at that radius)",
    tags=("dedup", "lsh", "headline"),
)
def simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The banded index over SimHash fingerprints (Manku et al.'s
    near-duplicate web-crawl design): split the 60-bit fingerprint
    into 4 x 15-bit bands; any pair within Hamming distance 3 agrees
    on at least one whole band (pigeonhole), so the band-bucket
    equi-join finds ALL such pairs — recall is exactly 1.0, no
    probability argument needed. Exact-duplicate fingerprints are
    collapsed to one (representative, member-count) row BEFORE
    banding: enumerating pairs inside a k-duplicate group is
    k-squared by definition (measured 271k pairs from 5k docs on the
    dup-heavy test corpus), so the pair table is emitted at
    fingerprint grain with ``n_doc_pairs = na * nb`` carrying the
    underlying multiplicity. The fingerprint rides along in the band
    explode — the verify is a single bit_count(xor) on the joined
    row, no second lookup join, no broadcast of any corpus-sized
    relation."""
    from aws_etl_global_footprint_network_spark.functions.cache import CacheScope
    from aws_etl_global_footprint_network_spark.operators.dedup import dedup_simhash

    fp = dedup_simhash(spark, sf_dir)
    # persist at the distinct-fingerprint grain: the band self-join
    # references this relation TWICE, and without the persist each
    # side re-runs the full tokenize+md5+60-bit-vote fingerprint
    # computation over the corpus (measured ~2x the whole stage at
    # sf1; the persisted relation is fingerprint-sized, tiny)
    scope = CacheScope("simhash_neardup_pairs")
    grp = scope.persist(
        fp.groupBy("simhash").agg(
            F.min("doc_id").cast("bigint").alias("rep_doc"),
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
        )
    )
    mask = (1 << SIMHASH_BAND_BITS) - 1
    bands = grp.select(
        "simhash",
        "rep_doc",
        "n_members",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash", b * SIMHASH_BAND_BITS)
                        .bitwiseAND(F.lit(mask))
                        .alias("bucket"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("simhash", "rep_doc", "n_members", "bb.band", "bb.bucket")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.rep_doc") < F.col("b.rep_doc")),
        )
        .select(
            F.col("a.rep_doc").alias("doc_a"),
            F.col("b.rep_doc").alias("doc_b"),
            F.col("a.simhash").alias("ha"),
            F.col("b.simhash").alias("hb"),
            F.col("a.n_members").alias("na"),
            F.col("b.n_members").alias("nb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return cand.filter(ham <= HAMMING_MAX).select(
        "doc_a",
        "doc_b",
        ham.cast("bigint").alias("hamming"),
        (F.col("na") * F.col("nb")).cast("bigint").alias("n_doc_pairs"),
    )


# --------------------------------------------------------------------
# k-core decomposition (bounded-round peel)
# --------------------------------------------------------------------

KCORE_K = 85    # a third below the co-purchase median degree (~119):
                # high enough that the peel removes a real cascade
                # (~30% of nodes at sf0.01), low enough that a core
                # survives — k >= 90 collapses the whole graph (the
                # cascade removes everything), which would make the
                # hash check empty-vs-empty
KCORE_ROUNDS = 6


def _kcore_local(nodes, ui, vi) -> dict:
    """The bounded peel of ``kcore_copurchase`` over an indexed edge
    list (``kernels.edge_index``): each round drops every edge with an
    endpoint of degree below KCORE_K, exactly the distributed round's
    two semi joins; returns the surviving nodes and their in-core
    degrees."""
    import numpy as np

    n = len(nodes)

    def degree(ui, vi):
        return np.bincount(ui, minlength=n) + np.bincount(vi, minlength=n)

    for _ in range(KCORE_ROUNDS):
        keep = degree(ui, vi) >= KCORE_K
        both = keep[ui] & keep[vi]
        ui, vi = ui[both], vi[both]
    deg = degree(ui, vi)
    alive = deg > 0
    return {"l_partkey": nodes[alive], "core_degree": deg[alive]}


def _kcore_oracle() -> str:
    # Every round's edge set is MATERIALIZED: each e_i is referenced
    # twice by the next round's degree union (and once by its join),
    # so inlining would recompute the whole peel chain exponentially
    # (2^ROUNDS evaluations of the base self-join).
    parts = [f"e0 AS MATERIALIZED ({_COPURCHASE_EDGES_SQL})"]
    prev = "e0"
    for i in range(1, KCORE_ROUNDS + 1):
        parts.append(
            f"""d{i} AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev})
      GROUP BY node),
    k{i} AS (SELECT node FROM d{i} WHERE d >= {KCORE_K}),
    e{i} AS MATERIALIZED (
      SELECT e.u, e.v FROM {prev} e
      JOIN k{i} a ON a.node = e.u JOIN k{i} b ON b.node = e.v)"""
        )
        prev = f"e{i}"
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT CAST(node AS BIGINT) AS l_partkey, CAST(COUNT(*) AS BIGINT)
             AS core_degree
    FROM (SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev})
    GROUP BY node"""
    )


@register(
    "kcore_copurchase",
    _kcore_oracle(),
    f"k-core decomposition (k={KCORE_K}, {KCORE_ROUNDS} peel rounds)"
    " of the part co-purchase graph: iteratively drop nodes below"
    " degree k, report the surviving subgraph's nodes and in-core"
    " degrees",
    tags=("graph", "iterative", "shared-build", "headline"),
)
def kcore_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The density-filter companion to connected components and
    PageRank (dedup_clusters / pagerank_neardup_graph): the k-core is
    the maximal subgraph where every node keeps >= k neighbors —
    spam-farm and community detection on link graphs, dense-cluster
    extraction on near-dup graphs. Bounded-round peel, the same
    fixed-iteration recipe as the Pregel-style ops in ml_prep: each
    round is one degree aggregation + two semi joins, and each
    round's edge set is ``localCheckpoint``-ed (``checkpoint`` to
    durable storage on a cluster) — every round references the
    previous edges three times (degree union + join), so an uncut
    logical plan grows 3^ROUNDS and overflows plan stringification
    long before execution. (A converged decomposition loops until
    fixpoint; the bounded form keeps the oracle expressible as
    chained CTEs and is deterministic in both engines by
    construction.)

    Driver branch (``kernels.bounded_collect``): under
    ``kernels.LOCAL_EDGE_CAP`` edges (sf0.1: 1,196,000) the memoized
    edge frame is pulled once as Arrow and the 6 peel rounds run as
    numpy bincounts and masks on the driver (``_kcore_local``), then
    ship back as one local frame: one build job instead of one per
    round (warm sf0.01 on 4 cores: 3.4 s -> 0.25 s; sf0.1: ~6 s ->
    0.6 s). The rows are identical to the distributed peel below,
    which runs past the cap exactly as before.

    Keep-set broadcast (round-9): the surviving-node table is one
    bigint column and only SHRINKS as the peel proceeds, so ONE
    up-front distinct-node count decides the whole loop — under the
    1M-row dispatch cap both per-round semi joins run as broadcast
    hash joins (the edge set never shuffles inside a round; the only
    shuffle left is the degree aggregate), past it the shuffle semi
    joins stand (a web-scale node set must never be broadcast). The
    cut cadence follows the measured size: a lazy broadcast segment
    RE-EXECUTES map-side per reference (no shuffle files to reuse),
    a cost that scales with edge volume, while an extra cut is one
    constant materialization job — so big graphs cut EVERY round and
    small ones every other. Same-session A/Bs: at sf1 (173k nodes)
    cut-1+broadcast 13.2 s vs cut-2+shuffle (the previous shape)
    21.7 s; at sf0.1 (17k nodes) the full warm 4-shape grid (round-10,
    2 reps each) spans just 7.1-8.0 s — broadcast+cut-2 (this
    dispatch) 7.63/8.03, shuffle+cut-2 (the r8 shape) 7.07/7.86,
    broadcast+cut-1 8.17, shuffle+cut-1 7.53/8.09 — so the r8->r9
    suite delta (5.66 -> 8.70 s) was dominated by session conditions,
    not the plan: the two committed shapes differ by <1 s when
    measured side by side. The peel never reaches fixpoint at these
    scales (sf0.1 removes 10k+ edges in round 6), so all 6 rounds are
    real work and early-exit has nothing to cut."""
    from aws_etl_global_footprint_network_spark.functions.ranking import (
        ADAPTIVE_WINDOW_CAP,
        _log_dispatch,
    )

    memo = _copurchase_edges(spark, sf_dir)
    probe = kernels.bounded_collect(memo, kernels.LOCAL_EDGE_CAP, "kcore_edges")
    if probe is not None:
        return kernels.local_frame(
            spark,
            _kcore_local(*kernels.edge_index(probe)),
            "l_partkey bigint, core_degree bigint",
        )
    edges = memo.transform(cut_lineage)
    # Dispatch bound (round-10): graph nodes are l_partkey values, so
    # the part table's row count upper-bounds n_nodes — and a parquet
    # count-star is metadata-only (footer row counts, no scan). The
    # previous exact distinct-count over 2|E| rows was a full extra
    # shuffle job spent purely on dispatch (~0.5-1 s at sf0.1/sf1);
    # the conservative bound makes identical decisions at every
    # measured scale (sf0.1: 20k parts vs 17.3k nodes; sf1: 200k vs
    # 173k) and errs toward the scale-safe shuffle path at 100 TB.
    from aws_etl_global_footprint_network_spark.functions.width import (
        raw_table_count,
    )

    n_nodes = raw_table_count(spark, sf_dir, "part")
    bcast_keep = n_nodes <= ADAPTIVE_WINDOW_CAP
    _log_dispatch(
        "kcore_keep_join",
        n_nodes,
        ADAPTIVE_WINDOW_CAP,
        "broadcast" if bcast_keep else "shuffle",
    )
    for i in range(KCORE_ROUNDS):
        deg = (
            edges.select(F.col("u").alias("node"))
            .unionAll(edges.select("v"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.filter(F.col("d") >= KCORE_K).select("node")
        if bcast_keep:
            keep = F.broadcast(keep)
        edges = edges.join(keep, edges.u == keep.node, "left_semi").join(
            keep, edges.v == keep.node, "left_semi"
        )
        # cut cadence per the docstring's A/B: every round on big
        # broadcast graphs, every other round otherwise. Past the
        # broadcast cap the edge frame is by definition bigger than
        # memory's share — checkpoint generations go to DISK_ONLY
        # blocks (cut_lineage_disk; the sf10 probe OOM'd the
        # memory-first default at 2M nodes / ~90M edges in a 16 GB
        # local JVM).
        cut_every_round = bcast_keep and n_nodes > 50_000
        if cut_every_round or i % 2 == 1 or i == KCORE_ROUNDS - 1:
            edges = edges.transform(
                cut_lineage if bcast_keep else cut_lineage_disk
            )
    return (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select("v"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("core_degree"))
        .select(F.col("node").cast("bigint").alias("l_partkey"), "core_degree")
    )


# --------------------------------------------------------------------
# Cross-group quantile normalization
# --------------------------------------------------------------------

QN_BUCKETS = 20


@register(
    "quantile_normalize_events",
    f"""
    WITH e AS (
      SELECT event_id, event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL),
    r AS (
      SELECT event_type, cents,
             NTILE({QN_BUCKETS}) OVER (PARTITION BY event_type
               ORDER BY cents, event_id) AS bucket
      FROM e),
    ref AS (
      SELECT bucket, CAST(SUM(cents) AS BIGINT) AS ref_sum,
             CAST(COUNT(*) AS BIGINT) AS ref_n
      FROM r GROUP BY bucket)
    SELECT r.event_type, CAST(r.bucket AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(r.cents) AS BIGINT) AS group_cents,
           ROUND(ref.ref_sum / (100.0 * ref.ref_n) * 1e6, 0) / 1e6
             AS normalized_value
    FROM r JOIN ref ON ref.bucket = r.bucket
    GROUP BY r.event_type, r.bucket, ref.ref_sum, ref.ref_n
    """,
    f"cross-group quantile normalization: every event_type's values"
    f" are ranked into {QN_BUCKETS} per-type NTILE buckets and each"
    " bucket is mapped to the pooled cross-type bucket mean — the"
    " batch-effect-removal transform (quantile normalization) at"
    " bucket grain",
    tags=("analytics", "ml-prep", "scale", "headline"),
)
def quantile_normalize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization (the bioinformatics/feature-prep
    transform that forces every group onto a common distribution):
    rank within group, average across groups at each rank, map back.
    At bucket grain the map stays bounded (groups x buckets rows).

    Value-table recipe (round-9 verdict item 5 — the previous plan
    paid a full distributed row_number chain over the raw relation):
    bucket-grain COUNT/SUM are invariant to how NTILE assigns rows
    WITHIN a tie run (rows tied on cents are interchangeable — any
    split of a run across a bucket boundary moves identical values),
    so the raw-relation rank never needs to exist.  The (type, cents)
    value table of ``ranking.value_ranks`` gives each run its rank
    interval [excl+1, excl+cnt] and its type's size n_g (a window
    total, so a NULL event_type keeps its buckets), and each run is
    intersected with the SQL-standard NTILE bucket layout
    arithmetically (first n%B buckets hold n//B+1 ranks): a run spans
    at most the buckets its interval touches, so the explode is
    bounded by B per run.  All sums are integer cents (exact,
    order-independent); the single rounded division happens on the
    pooled reference mean, a window sum per bucket over the
    groups x buckets table.  sf1 A/B of the value-table recipe, one
    warm session, two rounds each: old distributed-row_number plan
    8.33 / 6.75 s vs 2.37 / 2.25 s, result rows identical."""
    from aws_etl_global_footprint_network_spark.functions.ranking import value_ranks

    e = (
        read_testdata(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
    )
    c = value_ranks(
        e,
        "event_type",
        "cents",
        {"cnt": F.count(F.lit(1))},
        {"excl": "cnt"},
        CacheScope("quantile_normalize_events"),
        (sf_dir, "events"),
        totals={"n_g": F.col("cnt")},
    )
    B = F.lit(QN_BUCKETS)
    runs = c.select(
        "event_type",
        "cents",
        (F.col("excl") + 1).alias("s"),
        (F.col("excl") + F.col("cnt")).alias("e"),
        "n_g",
    )
    base = F.expr(f"n_g DIV {QN_BUCKETS}")
    rem = F.col("n_g") % B
    boundary = rem * (base + 1)

    # SQL-standard NTILE index of rank r, and the rank interval of
    # bucket b — both pure arithmetic on (n_g, B), bit-identical to
    # the engines' NTILE (functions/ranking pins the same split).
    def bucket_of(r):
        return F.when(
            r <= boundary, F.floor((r - 1) / (base + 1)) + 1
        ).otherwise(
            rem + F.floor((r - boundary - 1) / F.greatest(base, F.lit(1))) + 1
        )

    spanned = runs.select(
        "event_type",
        "cents",
        "s",
        "e",
        "n_g",
        F.explode(
            F.sequence(
                bucket_of(F.col("s")).cast("int"),
                bucket_of(F.col("e")).cast("int"),
            )
        ).alias("bucket"),
    )
    b = F.col("bucket").cast("long")
    b_start = F.when(b <= rem, (b - 1) * (base + 1) + 1).otherwise(
        boundary + (b - rem - 1) * base + 1
    )
    b_end = F.when(b <= rem, b * (base + 1)).otherwise(
        boundary + (b - rem) * base
    )
    overlap = (
        F.least(F.col("e"), b_end) - F.greatest(F.col("s"), b_start) + 1
    )
    gb = spanned.groupBy("event_type", "bucket").agg(
        F.sum(overlap).cast("bigint").alias("n_rows"),
        F.sum(F.col("cents") * overlap).cast("bigint").alias("group_cents"),
    )
    ref = Window.partitionBy("bucket")
    return gb.select(
        "event_type",
        "bucket",
        "n_rows",
        "group_cents",
        round_compat(
            F.sum("group_cents").over(ref)
            / (F.lit(100.0) * F.sum("n_rows").over(ref)),
            6,
        ).alias("normalized_value"),
    )


# --------------------------------------------------------------------
# Distributed PCA (power iteration on the Gram matrix)
# --------------------------------------------------------------------

PCA_D = 8        # leading embedding dims (keeps the oracle's D*(D+1)/2
                 # moment aggregates readable; the recipe is D-generic)
PCA_ITERS = 6
PCA_C_ROUND = 9  # moment-matrix rounding grain (summation order
                 # differs between engines; everything after is
                 # identical-order arithmetic on the rounded values)
PCA_TOP = 10


def _pca_oracle() -> str:
    moments = ", ".join(
        f"ROUND(AVG(e[{i}] * e[{j}]), {PCA_C_ROUND}) AS c{i}_{j}"
        for i in range(1, PCA_D + 1)
        for j in range(i, PCA_D + 1)
    )
    its = []
    prev = "it0"
    for k in range(1, PCA_ITERS + 1):
        ws = ", ".join(
            "("
            + " + ".join(
                f"c{min(i, j)}_{max(i, j)} * v{j}" for j in range(1, PCA_D + 1)
            )
            + f") AS w{i}"
            for i in range(1, PCA_D + 1)
        )
        nrm = " + ".join(f"w{i} * w{i}" for i in range(1, PCA_D + 1))
        vs = ", ".join(f"w{i} / nrm AS v{i}" for i in range(1, PCA_D + 1))
        its.append(
            f"""w{k} AS (SELECT m.*, {ws} FROM {prev}, m),
    it{k} AS (SELECT *, sqrt({nrm}) AS nrm FROM w{k}),
    n{k} AS (SELECT {vs} FROM it{k})"""
        )
        prev = f"n{k}"
    chain = ",\n    ".join(its)
    eig = " + ".join(
        f"v{i} * ("
        + " + ".join(
            f"c{min(i, j)}_{max(i, j)} * v{j}" for j in range(1, PCA_D + 1)
        )
        + ")"
        for i in range(1, PCA_D + 1)
    )
    proj = " + ".join(f"e[{i}] * v{i}" for i in range(1, PCA_D + 1))
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    m AS MATERIALIZED (SELECT {moments} FROM v),
    it0 AS (SELECT {', '.join(f'1.0 AS v{i}' for i in range(1, PCA_D + 1))}),
    {chain},
    fin AS (SELECT *, ROUND({eig}, 6) AS eigenvalue FROM {prev}, m),
    scored AS (
      SELECT v.vec_id, ROUND({proj}, 6) AS pc1_score, fin.eigenvalue
      FROM v, fin),
    ranked AS (
      SELECT vec_id, pc1_score, eigenvalue,
             CAST(ROW_NUMBER() OVER (ORDER BY pc1_score DESC, vec_id) AS INT)
               AS rank
      FROM scored)
    SELECT CAST(vec_id AS BIGINT) AS vec_id, rank, pc1_score, eigenvalue
    FROM ranked WHERE rank <= {PCA_TOP}
    """


@register(
    "pca_power_projection",
    _pca_oracle(),
    f"distributed PCA: leading eigenvector of the uncentered"
    f" {PCA_D}x{PCA_D} Gram matrix by {PCA_ITERS} power-iteration"
    f" rounds, corpus projected onto PC1, top-{PCA_TOP} scores —"
    " moment aggregation is the only corpus pass; the eigensolve is"
    " bounded-size arithmetic",
    tags=("similarity", "ml-prep", "linalg", "iterative", "headline"),
)
def pca_power_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed-linear-algebra recipe behind PCA whitening and
    spectral feature extraction at corpus scale: ONE pass computes the
    D(D+1)/2 second-moment aggregates (map-side combinable sums — the
    only thing that touches the corpus), the D x D eigenproblem is
    then constant-size and solved IN-PLAN by unrolled power iteration
    (fixed rounds, like the pagerank/Lloyd recipes), and the corpus is
    projected map-side with the eigenvector riding along as a 1-row
    broadcast. Uncentered (Gram, not covariance) keeps the moment pass
    single-statistic; centering adds the mean vector to the same pass.
    Float contract: the moment matrix is ROUNDed on both sides (its
    summation order is engine-dependent); every downstream op — the
    fixed-order w = C v folds, the norm, the projections — is
    identical-order IEEE arithmetic on those rounded values, so the
    iteration is deterministic without per-round rounding.  The
    eigensolve itself runs on the DRIVER (round 12): it is D(D+1)/2
    = 36 rounded doubles of constant-size arithmetic, and the
    previous in-plan unrolled iteration paid ~3
    jobs of fixed machinery (persist + broadcast-subplan + top-k) to
    evaluate what is one bounded collect plus Python IEEE doubles —
    measured 4.2 s -> ~1.5 s warm at sf1 with bit-identical output
    (Python, Java and DuckDB all do correctly-rounded IEEE-754 ops,
    and the fold order below mirrors the oracle's SQL chains term
    for term).  All ROUNDing stays in-plan so Spark HALF_UP
    semantics apply unchanged; the eigenvector components ride into
    the projection as exact double literals."""
    emb = spread(read_testdata(spark, sf_dir, "embeddings")).select(
        "vec_id", as_double_array("embedding").alias("e")
    )
    idx = range(1, PCA_D + 1)
    # the ONLY corpus pass: map-side-combinable moment averages
    mrow = emb.agg(
        *[
            round_compat(
                F.avg(F.element_at("e", i) * F.element_at("e", j)), PCA_C_ROUND
            ).alias(f"c{i}_{j}")
            for i in idx
            for j in idx
            if j >= i
        ]
    ).collect()[0]

    def cv(i: int, j: int) -> float:
        return mrow[f"c{min(i, j)}_{max(i, j)}"] or 0.0  # None on empty corpus

    # power iteration on the driver, fold order identical to the
    # oracle's "+"-chains (left-associative), IEEE doubles throughout
    import math

    v = [1.0] * PCA_D
    for _ in range(PCA_ITERS):
        w = []
        for i in idx:
            acc = cv(i, 1) * v[0]
            for j in list(idx)[1:]:
                acc = acc + cv(i, j) * v[j - 1]
            w.append(acc)
        nrm = w[0] * w[0]
        for x in w[1:]:
            nrm = nrm + x * x
        nrm = math.sqrt(nrm)
        v = [x / nrm if nrm else 0.0 for x in w]
    eig_raw = 0.0
    first = True
    for i in idx:
        acc = cv(i, 1) * v[0]
        for j in list(idx)[1:]:
            acc = acc + cv(i, j) * v[j - 1]
        term = v[i - 1] * acc
        eig_raw = term if first else eig_raw + term
        first = False

    # round_compat's scaled form inline (round(x*1e6)/1e6): plain
    # round(x, 6) is Spark HALF_UP on the exact binary value and
    # diverges from DuckDB's scaled-double ROUND at .xx5 boundaries;
    # rounding runs IN-PLAN so those semantics are Spark's, with the
    # driver-solved v_i / eigenvalue injected as exact double literals
    proj = " + ".join(f"element_at(e, {i}) * {v[i - 1]!r}D" for i in idx)
    scored = emb.selectExpr(
        "vec_id",
        f"round(({proj}) * 1e6, 0) / 1e6 AS pc1_score",
        f"round({eig_raw!r}D * 1e6, 0) / 1e6 AS eigenvalue",
    )
    w = Window.orderBy(F.col("pc1_score").desc(), "vec_id")
    return (
        scored.orderBy(F.col("pc1_score").desc(), "vec_id")
        .limit(PCA_TOP)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .select(
            F.col("vec_id").cast("bigint").alias("vec_id"),
            "rank",
            "pc1_score",
            "eigenvalue",
        )
    )


def _bpe_apply_oracle() -> str:
    parts = [
        f"""toks AS (
      SELECT source, unnest({tokens_sql('text')}) AS word FROM documents),
    vs AS (SELECT source, word, COUNT(*) AS cnt_s FROM toks GROUP BY 1, 2),
    vocab AS (SELECT word, SUM(cnt_s) AS cnt FROM vs GROUP BY word),
    s0 AS (SELECT word,
                  array_to_string(regexp_extract_all(word, '.'), ' ') AS seq,
                  cnt
           FROM vocab)"""
    ]
    for i in range(1, BPE_MERGES + 1):
        parts.append(_bpe_pairs_sql(f"s{i-1}", f"p{i}"))
        parts.append(
            f"m{i} AS (SELECT pair, c FROM p{i} ORDER BY c DESC, pair LIMIT 1)"
        )
        lsym = f"split_part(m{i}.pair, ' ', 1)"
        rsym = f"split_part(m{i}.pair, ' ', 2)"
        merged = f"replace(m{i}.pair, ' ', '')"
        parts.append(
            f"""s{i} AS (
      SELECT s{i-1}.word, trim(replace(replace(
               ' ' || replace(s{i-1}.seq, ' ', '  ') || ' ',
               ' ' || {lsym} || '  ' || {rsym} || ' ',
               ' ' || {merged} || ' '), '  ', ' ')) AS seq, s{i-1}.cnt
      FROM s{i-1}, m{i})"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    , fin AS (
      SELECT word, len(string_split(seq, ' ')) AS n_sym,
             length(word) AS n_chars
      FROM s{BPE_MERGES})
    SELECT vs.source,
           CAST(SUM(vs.cnt_s) AS BIGINT) AS n_words,
           CAST(SUM(vs.cnt_s * fin.n_chars) AS BIGINT) AS chars_total,
           CAST(SUM(vs.cnt_s * fin.n_sym) AS BIGINT) AS tokens_after,
           ROUND(SUM(vs.cnt_s * fin.n_sym) * 1.0
                 / SUM(vs.cnt_s * fin.n_chars) * 1e6, 0) / 1e6
             AS tokens_per_char
    FROM vs JOIN fin ON fin.word = vs.word
    GROUP BY vs.source"""
    )


@register(
    "bpe_apply_segmentation",
    _bpe_apply_oracle(),
    f"tokenizer application: segment the corpus with the {BPE_MERGES}"
    " learned BPE merges (same argmax chain as bpe_merge_step, applied"
    " through the final iteration) and report per-source token/char"
    " compression — the apply half of tokenizer training",
    tags=("text", "tokenizer", "iterative", "headline"),
)
def bpe_apply_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn-then-apply at vocabulary grain: the merge chain is the
    exact ``bpe_merge_step`` recipe (in-plan 1-row argmax per
    iteration, space-doubling replace), with the word key riding
    along so the final symbol sequences can re-join the per-source
    word counts. Per-source totals are integer products of counts and
    symbol/char lengths — corpus-sized text is never re-tokenized at
    apply time (the segmentation is a vocabulary-sized map, the
    standard trick in production BPE application pipelines); the only
    float is the final tokens-per-char division, rounded on the
    shared grain.

    Job shape (round-9 verdict item 7): each round's broadcast argmax
    materialisation used to RE-EXECUTE the whole prior chain (a lazy
    broadcast segment has no shuffle files to reuse — the kcore
    lesson), compounding per round; the vocabulary frame is now
    lineage-CUT after every merge so each argmax job reads one
    materialised vocab-sized input. The frame is also coalesced to
    ``ceil(rows / 100k)`` partitions first (measured from the
    persisted per-source table, one cached-input job): a 31-word toy
    vocab stops paying 32-task scheduling per tiny stage, while a
    100 TB corpus's multi-million-word vocabulary still spreads.
    sf1 A/B, one warm session, two rounds each: 4.26/3.44 s ->
    1.66/2.20 s, rows identical."""
    scope = CacheScope("bpe_apply_segmentation")
    d = spread(read_testdata(spark, sf_dir, "documents"))
    vs = scope.persist(
        d.select("source", F.explode(tokens("text")).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("cnt_s"))
    )
    n_vs = vs.count()  # materializes the persist; vocab <= this
    vocab = vs.groupBy("word").agg(F.sum("cnt_s").alias("cnt"))
    s = vocab.select(
        "word",
        F.array_join(F.expr("regexp_extract_all(word, '.', 0)"), " ").alias(
            "seq"
        ),
        "cnt",
    )
    s = s.coalesce(max(1, -(-n_vs // 100_000))).transform(cut_lineage)
    for _ in range(BPE_MERGES):
        sl = F.split(F.col("seq"), " ")
        pairs = s.select(
            F.explode(
                F.zip_with(
                    F.slice(sl, 1, F.size(sl) - 1),
                    F.slice(sl, 2, F.size(sl) - 1),
                    lambda a, b: F.concat_ws(" ", a, b),
                )
            ).alias("pair"),
            "cnt",
        )
        m = (
            pairs.groupBy("pair")
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.col("c").desc(), "pair")
            .limit(1)
        )
        pat = F.concat(
            F.lit(" "),
            F.split_part(F.col("pair"), F.lit(" "), F.lit(1)),
            F.lit("  "),
            F.split_part(F.col("pair"), F.lit(" "), F.lit(2)),
            F.lit(" "),
        )
        rep = F.concat(
            F.lit(" "), F.replace(F.col("pair"), F.lit(" "), F.lit("")), F.lit(" ")
        )
        s = s.crossJoin(F.broadcast(m)).select(
            "word",
            F.trim(
                F.replace(
                    F.replace(
                        F.concat(
                            F.lit(" "),
                            F.replace(F.col("seq"), F.lit(" "), F.lit("  ")),
                            F.lit(" "),
                        ),
                        pat,
                        rep,
                    ),
                    F.lit("  "),
                    F.lit(" "),
                )
            ).alias("seq"),
            "cnt",
        )
        s = s.transform(cut_lineage)
    fin = s.select(
        "word",
        F.size(F.split(F.col("seq"), " ")).alias("n_sym"),
        F.length("word").alias("n_chars"),
    )
    return (
        # hint-free: neither side is provably small at corpus scale
        # (both are vocabulary-sized) — AQE sees the materialised
        # sizes and picks broadcast exactly when fin fits
        vs.join(fin, "word")
        .groupBy("source")
        .agg(
            F.sum("cnt_s").cast("bigint").alias("n_words"),
            F.sum(F.col("cnt_s") * F.col("n_chars"))
            .cast("bigint")
            .alias("chars_total"),
            F.sum(F.col("cnt_s") * F.col("n_sym"))
            .cast("bigint")
            .alias("tokens_after"),
            round_compat(
                F.sum(F.col("cnt_s") * F.col("n_sym"))
                * 1.0
                / F.sum(F.col("cnt_s") * F.col("n_chars")),
                6,
            ).alias("tokens_per_char"),
        )
    )


# --------------------------------------------------------------------
# EWMA spend smoothing (exponential control chart, all in-plan)
# --------------------------------------------------------------------

# Decay ratio 1/2: every weight POW(0.5, n - rn) is an exact dyadic
# double (a power of two), every weighted term x_cents * 2^-k is exact
# (integer cents < 2^23 scaled by a power of two), and within the
# 16-row trailing window the partial sums span < 2^42 ulps of the
# smallest term — so EVERY addition is exact under ANY association
# order. That makes the EWMA bit-identical across engines regardless
# of how their window aggregators tree up the sum (DuckDB segment
# tree vs Spark running frame), a structural-parity argument in the
# spirit of cusum_changepoint's integer algebra. Bounds: <= ~2^23
# cents/user-day, <= ~1100 day-rows/user before 2^-k underflows.
EWMA_WINDOW = 16
EWMA_SPIKE_MULT = 2.0


@register(
    "ewma_spend_smoothing",
    f"""
    WITH e AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS x_cents
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    t AS (
      SELECT user_id, d, x_cents,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM e),
    w AS (
      SELECT user_id, d, x_cents,
             SUM(x_cents * POW(0.5, n - rn)) OVER win
               / SUM(POW(0.5, n - rn)) OVER win AS ewma
      FROM t
      WINDOW win AS (PARTITION BY user_id ORDER BY d
                     ROWS BETWEEN {EWMA_WINDOW - 1} PRECEDING
                     AND CURRENT ROW)),
    f AS (
      SELECT user_id, d, x_cents, ewma,
             LAG(ewma) OVER (PARTITION BY user_id ORDER BY d) AS prev
      FROM w)
    SELECT CAST(user_id AS BIGINT) AS user_id, d,
           CAST(x_cents AS BIGINT) AS x_cents,
           ROUND(ewma, 6) AS ewma_r6,
           CAST(CASE WHEN prev IS NOT NULL
                      AND x_cents > {EWMA_SPIKE_MULT} * prev
                     THEN 1 ELSE 0 END AS BIGINT) AS spike
    FROM f
    """,
    "per-user EWMA control chart over daily spend: geometric-weight"
    f" moving average (r=1/2, {EWMA_WINDOW}-row trailing window) via"
    " the rescaled-cumsum identity, spike flag where today's spend"
    f" exceeds {EWMA_SPIKE_MULT}x the prior smoothed level",
    tags=("analytics", "timeseries", "headline"),
)
def ewma_spend_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential smoothing WITHOUT recursion: the EWMA weighted
    mean s_t = sum r^(t-i) x_i / sum r^(t-i) is scale-invariant in
    the weights, so multiplying through by r^(n-t) rewrites it as a
    ratio of two ordinary windowed sums of x_i * r^(n-i) — a shape
    every window engine executes in one pass. No sequential
    dependency survives, so the operator is one shuffle on user_id
    (row_number, per-user count, both windowed sums and the lag all
    share that partitioning). The daily pre-aggregation is a
    map-side-combinable groupBy; nothing is collected or broadcast.
    r = 1/2 + bounded window => bit-exact parity (see EWMA_WINDOW
    comment). NULL values are filtered explicitly on both sides so
    the contract is pinned, not assumed from the corpus."""
    e = (
        read_testdata(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .groupBy(
            "user_id", F.date_trunc("day", "ts").cast("date").alias("d")
        )
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias(
                "x_cents"
            )
        )
    )
    wo = Window.partitionBy("user_id").orderBy("d")
    wa = Window.partitionBy("user_id")
    t = e.select(
        "user_id",
        "d",
        "x_cents",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wa).alias("n"),
    )
    wt = F.pow(F.lit(0.5), F.col("n") - F.col("rn"))
    win = wo.rowsBetween(-(EWMA_WINDOW - 1), 0)
    w = t.withColumn(
        "ewma",
        F.sum(F.col("x_cents") * wt).over(win) / F.sum(wt).over(win),
    )
    f = w.withColumn("prev", F.lag("ewma").over(wo))
    return f.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "d",
        F.col("x_cents").cast("bigint").alias("x_cents"),
        round_compat(F.col("ewma"), 6).alias("ewma_r6"),
        F.when(
            F.col("prev").isNotNull()
            & (F.col("x_cents") > EWMA_SPIKE_MULT * F.col("prev")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("spike"),
    )


# --------------------------------------------------------------------
# Jaccard link prediction on the co-purchase affinity graph
# --------------------------------------------------------------------

LINK_TOP = 30


@register(
    "jaccard_link_prediction",
    f"""
    WITH pairs AS MATERIALIZED ({_COPURCHASE_EDGES_SQL}
      HAVING COUNT(*) >= {TRI_MIN_SUPPORT}),
    adj AS MATERIALIZED (
      SELECT u AS node, v AS nbr FROM pairs
      UNION ALL SELECT v, u FROM pairs),
    deg AS MATERIALIZED (
      SELECT node, COUNT(*) AS d FROM adj GROUP BY node),
    wed AS (
      SELECT a.node AS u, b.node AS w, COUNT(*) AS common
      FROM adj a JOIN adj b ON a.nbr = b.nbr AND a.node < b.node
      GROUP BY 1, 2),
    cand AS (
      SELECT wed.* FROM wed
      WHERE NOT EXISTS (SELECT 1 FROM pairs p
                        WHERE p.u = wed.u AND p.v = wed.w)),
    s AS (
      SELECT c.u, c.w, c.common, du.d AS da, dv.d AS db,
             ROUND(CAST(c.common AS DOUBLE)
                   / (du.d + dv.d - c.common), 6) AS jaccard_r6
      FROM cand c
      JOIN deg du ON du.node = c.u
      JOIN deg dv ON dv.node = c.w)
    SELECT CAST(u AS BIGINT) AS part_a, CAST(w AS BIGINT) AS part_b,
           CAST(common AS BIGINT) AS common_neighbors,
           CAST(da AS BIGINT) AS deg_a, CAST(db AS BIGINT) AS deg_b,
           jaccard_r6
    FROM s ORDER BY jaccard_r6 DESC, part_a, part_b LIMIT {LINK_TOP}
    """,
    "link prediction on the co-purchase affinity graph: Jaccard"
    " neighbor-set similarity of NON-adjacent part pairs sharing a"
    f" common neighbor, top-{LINK_TOP} predicted edges",
    tags=("graph", "analytics", "shared-build", "headline"),
)
def jaccard_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic common-neighbors link predictor (Liben-Nowell &
    Kleinberg): score every non-edge (u, w) with at least one shared
    neighbor by |N(u) n N(w)| / |N(u) u N(w)|, where the union size
    is deg(u) + deg(w) - common (inclusion-exclusion — no second
    pass). Wedge enumeration is one equi-join of the adjacency list
    with itself on the shared-neighbor key, the same signal-bounded
    fanout as triangle_count_copurchase (affinity edges only,
    support >= TRI_MIN_SUPPORT, measured ~flat edge count across
    SF); existing edges are removed with a left_anti join on the
    canonical (min, max) pair key; degrees join BY KEY with no
    broadcast hint (AQE promotes them when genuinely small). The
    Jaccard ratio is small-int / small-int — bit-identical IEEE
    division in both engines — and the top-{LINK_TOP} order is total
    (rounded score desc, then the unique pair key)."""
    scope = CacheScope("jaccard_link_prediction")
    # shared memoized frame — not scope-tracked (see triangle note)
    edges = _copurchase_edges(spark, sf_dir, min_support=TRI_MIN_SUPPORT)
    adj = scope.persist(
        edges.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
        .unionAll(edges.select(F.col("v"), F.col("u")))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    a, b = adj.alias("a"), adj.alias("b")
    wed = (
        a.join(
            b,
            (F.col("a.nbr") == F.col("b.nbr"))
            & (F.col("a.node") < F.col("b.node")),
        )
        .groupBy(F.col("a.node").alias("u"), F.col("b.node").alias("w"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    cand = wed.join(
        edges,
        (wed["u"] == edges["u"]) & (wed["w"] == edges["v"]),
        "left_anti",
    )
    du, dv = deg.alias("du"), deg.alias("dv")
    s = (
        cand.join(du, F.col("du.node") == F.col("u"))
        .join(dv, F.col("dv.node") == F.col("w"))
        .select(
            F.col("u"),
            F.col("w"),
            F.col("common"),
            F.col("du.d").alias("da"),
            F.col("dv.d").alias("db"),
            round_compat(
                F.col("common")
                / (F.col("du.d") + F.col("dv.d") - F.col("common")),
                6,
            ).alias("jaccard_r6"),
        )
    )
    return (
        s.orderBy(F.col("jaccard_r6").desc(), "u", "w")
        .limit(LINK_TOP)
        .select(
            F.col("u").cast("bigint").alias("part_a"),
            F.col("w").cast("bigint").alias("part_b"),
            F.col("common").cast("bigint").alias("common_neighbors"),
            F.col("da").cast("bigint").alias("deg_a"),
            F.col("db").cast("bigint").alias("deg_b"),
            "jaccard_r6",
        )
    )


# --------------------------------------------------------------------
# Item-item cosine similarity (co-purchase recommender scoring)
# --------------------------------------------------------------------

II_TOP_PER_ITEM = 5
II_MIN_CO = 2


@register(
    "item_item_cosine_topk",
    f"""
    WITH bask AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    freq AS MATERIALIZED (
      SELECT l_partkey AS item, COUNT(*) AS f FROM bask GROUP BY 1),
    co AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS co
      FROM bask a JOIN bask b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= {II_MIN_CO}),
    sym AS (
      SELECT u AS item, v AS other, co FROM co
      UNION ALL SELECT v, u, co FROM co),
    scored AS (
      SELECT s.item, s.other, s.co,
             ROUND((s.co * 1.0 / sqrt(fa.f * 1.0 * fb.f)) * 1e6, 0) / 1e6
               AS cosine_r6
      FROM sym s
      JOIN freq fa ON fa.item = s.item
      JOIN freq fb ON fb.item = s.other),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY item
                                   ORDER BY cosine_r6 DESC, other) AS rn
      FROM scored)
    SELECT CAST(item AS BIGINT) AS item,
           CAST(other AS BIGINT) AS other,
           CAST(co AS BIGINT) AS co_orders,
           cosine_r6, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= {II_TOP_PER_ITEM}
    """,
    f"item-item collaborative filtering: cosine similarity"
    f" co/sqrt(f_a*f_b) over distinct co-purchase counts (>= "
    f"{II_MIN_CO} shared orders), top-{II_TOP_PER_ITEM} neighbors"
    " per item — the 'customers also bought' scoring kernel",
    tags=("graph", "mlprep", "analytics", "shared-build", "headline"),
)
def item_item_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic neighborhood recommender (Sarwar et al., item-based
    CF): score item pairs by co-occurrence normalised to cosine
    co / sqrt(f_a * f_b) — unlike `jaccard_link_prediction` this
    RANKS EXISTING co-purchase relationships (the recommendation
    shortlist) rather than predicting absent edges from shared
    neighborhoods. The pair join is per-order (fanout bounded by
    basket size), counts reduce by pair key, the >= {II_MIN_CO}
    support floor keeps the symmetrised table signal-bounded, and
    the per-item top-{II_TOP_PER_ITEM} window partitions by item —
    item-cardinality parallelism, no global sort. Ranking on the
    ROUNDED score (plus the id tiebreak) makes the cut order
    identical in both engines. Frequencies join by key, unhinted.

    Shuffle shape (round-8 rewrite, 12 s -> ~3 s at sf1): the
    distinct + per-order SELF-JOIN + pair groupBy was three
    fact-sized shuffles; instead baskets collapse to one sorted-set
    array per order (one combinable shuffle, subsumes the distinct),
    frequencies explode from the persisted arrays (no second fact
    scan), and the u < v pairs generate MAP-SIDE via index-sequence
    explodes (plain codegen generators, not HOF lambdas) — one pair
    shuffle, no join. Safe at any corpus scale: basket size is a
    domain constant."""
    from aws_etl_global_footprint_network_spark.functions.baskets import (
        basket_arrays,
    )

    scope = CacheScope("item_item_cosine_topk")
    bask = basket_arrays(spark, sf_dir)  # shared memoized frame
    freq = (
        bask.select(F.explode("arr").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    from aws_etl_global_footprint_network_spark.functions.baskets import (
        explode_sorted_pairs,
    )

    co = (
        explode_sorted_pairs(bask, "arr", "u", "v")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= II_MIN_CO)
    )
    sym = co.select(
        F.col("u").alias("item"), F.col("v").alias("other"), "co"
    ).unionAll(co.select(F.col("v"), F.col("u"), "co"))
    fa = freq.select(F.col("item"), F.col("f").alias("fa"))
    fb = freq.select(
        F.col("item").alias("other"), F.col("f").alias("fb")
    )
    scored = (
        sym.join(fa, "item")
        .join(fb, "other")
        .select(
            "item",
            "other",
            "co",
            round_compat(
                F.col("co")
                * 1.0
                / F.sqrt(F.col("fa") * 1.0 * F.col("fb")),
                6,
            ).alias("cosine_r6"),
        )
    )
    wr = Window.partitionBy("item").orderBy(
        F.col("cosine_r6").desc(), "other"
    )
    return (
        scored.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= II_TOP_PER_ITEM)
        .select(
            F.col("item").cast("bigint").alias("item"),
            F.col("other").cast("bigint").alias("other"),
            F.col("co").cast("bigint").alias("co_orders"),
            "cosine_r6",
            F.col("rn").cast("bigint").alias("rn"),
        )
    )


# --------------------------------------------------------------------
# Next-order item transitions (sequential recommendation kernel)
# --------------------------------------------------------------------

SEQ_TOP_PER_ITEM = 3
SEQ_MIN_COUNT = 2


@register(
    "next_order_transitions",
    f"""
    WITH ord AS (
      SELECT o_custkey, o_orderkey, o_orderdate,
             LEAD(o_orderkey) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey)
               AS next_ok
      FROM orders),
    bask AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    trans AS (
      SELECT a.l_partkey AS part_prev, b.l_partkey AS part_next,
             CAST(COUNT(*) AS BIGINT) AS n_transitions
      FROM ord
      JOIN bask a ON a.l_orderkey = ord.o_orderkey
      JOIN bask b ON b.l_orderkey = ord.next_ok
      GROUP BY 1, 2 HAVING COUNT(*) >= {SEQ_MIN_COUNT}),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY part_prev
                 ORDER BY n_transitions DESC, part_next) AS rn
      FROM trans)
    SELECT CAST(part_prev AS BIGINT) AS part_prev,
           CAST(part_next AS BIGINT) AS part_next,
           n_transitions, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= {SEQ_TOP_PER_ITEM}
    """,
    "sequential recommendation kernel: directional item transitions"
    " between each customer's CONSECUTIVE orders (part in order k ->"
    f" part in order k+1), count floor {SEQ_MIN_COUNT},"
    f" top-{SEQ_TOP_PER_ITEM} next items per antecedent",
    tags=("graph", "mlprep", "behavioral", "shared-build", "headline"),
)
def next_order_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What do customers buy NEXT? Unlike ``item_item_cosine_topk``
    (symmetric same-basket affinity) and
    ``markov_event_transitions`` (event-TYPE chain), this is the
    directional item-level sequence signal behind session-based
    recommenders. The order sequence is a lead() window on the
    natural high-cardinality key (custkey) with a total (date, key)
    order; consecutive-order item pairs come from joining the
    deduped basket relation to BOTH ends of each (order, next_order)
    edge — fanout bounded by basket_size^2 (<= 49 in TPC-H) per
    consecutive pair, linear overall; the count floor keeps the
    transition table signal-bounded and the per-antecedent
    top-{SEQ_TOP_PER_ITEM} window partitions by part_prev
    (item-cardinality parallelism). All counts integer; ranking on
    (count desc, part_next) is total, so the cut is deterministic in
    both engines.

    Shuffle shape (round-8 rewrite): the naive form joined the
    row-per-(order, part) deduped basket relation to both edge ends —
    two fact-sized shuffle joins plus the distinct's own shuffle.
    Instead the baskets collapse to ONE sorted-set array per order
    (a single combinable shuffle that subsumes the distinct — safe at
    any corpus scale because basket size is a domain constant), the
    two edge joins carry one array row per order (~basket-size x
    fewer rows), and the part_prev x part_next fanout explodes
    MAP-SIDE after the joins. The lead() stays on the full orders
    table so basket-less orders still occupy a sequence position,
    exactly as the oracle's LEAD does."""
    from aws_etl_global_footprint_network_spark.functions.baskets import (
        transition_pair_counts,
    )

    # shared memoized transition build (round-8 verdict item 7):
    # identical frame to hits_hub_authority's opening subplan — one
    # persisted build per session serves both queries
    trans = transition_pair_counts(spark, sf_dir, SEQ_MIN_COUNT).select(
        F.col("src").alias("part_prev"),
        F.col("dst").alias("part_next"),
        F.col("cnt").alias("n_transitions"),
    )
    wr = Window.partitionBy("part_prev").orderBy(
        F.col("n_transitions").desc(), "part_next"
    )
    return (
        trans.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= SEQ_TOP_PER_ITEM)
        .select(
            F.col("part_prev").cast("bigint").alias("part_prev"),
            F.col("part_next").cast("bigint").alias("part_next"),
            "n_transitions",
            F.col("rn").cast("bigint").alias("rn"),
        )
    )


# --------------------------------------------------------------------
# Multi-hop BFS levels from the minimum-key node (graph reachability)
# --------------------------------------------------------------------

BFS_ROUNDS = 4


def _bfs_local(nodes, ui, vi) -> dict:
    """``bfs_hops_copurchase``'s BFS_ROUNDS frontier expansions over an
    indexed edge list (``kernels.edge_index``) from the minimum node:
    each round's frontier is the not-yet-visited neighbours of the
    previous one, so a node's hop is its shortest-hop distance. An
    edge-free graph gives the single ``(None, 0)`` row that ``MIN``
    over no rows gives."""
    import numpy as np

    if len(nodes) == 0:
        return {"l_partkey": [None], "hop": [0]}
    s = np.concatenate([ui, vi])  # directed adjacency: u -> v and v -> u
    d = np.concatenate([vi, ui])
    hop = np.full(len(nodes), -1, dtype=np.int32)
    hop[0] = 0  # nodes is sorted: index 0 is the minimum node
    for i in range(1, BFS_ROUNDS + 1):
        reached = np.unique(d[hop[s] == i - 1])
        hop[reached[hop[reached] < 0]] = i
    seen = hop >= 0
    return {"l_partkey": nodes[seen], "hop": hop[seen]}


def _bfs_oracle() -> str:
    # Levels chain like the k-core oracle: every l_i is MATERIALIZED
    # because level i+1 references it in both the frontier join and
    # the visited-set exclusion — inlining recomputes the whole chain
    # exponentially.
    parts = [
        f"e0 AS MATERIALIZED ({_COPURCHASE_EDGES_SQL}"
        f" HAVING COUNT(*) >= {TRI_MIN_SUPPORT})",
        "dir AS MATERIALIZED (SELECT u AS s, v AS d FROM e0"
        " UNION ALL SELECT v AS s, u AS d FROM e0)",
        "l0 AS MATERIALIZED (SELECT MIN(s) AS node FROM dir)",
    ]
    visited = "SELECT node FROM l0"
    for i in range(1, BFS_ROUNDS + 1):
        parts.append(
            f"""l{i} AS MATERIALIZED (
      SELECT DISTINCT dir.d AS node
      FROM dir JOIN l{i - 1} f ON f.node = dir.s
      WHERE dir.d NOT IN ({visited}))"""
        )
        visited += f" UNION ALL SELECT node FROM l{i}"
    levels = " UNION ALL ".join(
        f"SELECT node, {i} AS hop FROM l{i}" for i in range(BFS_ROUNDS + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT CAST(node AS BIGINT) AS l_partkey, CAST(hop AS INT) AS hop
    FROM ({levels})"""
    )


@register(
    "bfs_hops_copurchase",
    _bfs_oracle(),
    f"breadth-first search ({BFS_ROUNDS} hops) over the support>="
    f"{TRI_MIN_SUPPORT} part co-purchase graph from the minimum-key"
    " node: per-node shortest hop distance — the reachability/radius"
    " primitive of the graph family",
    tags=("graph", "iterative", "shared-build", "headline"),
)
def bfs_hops_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier-expansion BFS, the fourth member of the bounded-round
    Pregel family (components propagate labels, PageRank propagates
    mass, k-core peels, BFS expands): each round is one equi-join of
    the current frontier against the directed adjacency list, a
    DISTINCT, and a left_anti against the visited set — all shuffles
    on the node key. Both frontier and visited cut lineage per round
    via ``cut_lineage`` (localCheckpoint locally, durable checkpoint
    on a cluster): round i references visited i+1 times otherwise.
    Deterministic by construction — the frontier of round i is
    exactly the nodes at shortest-hop distance i, independent of
    execution order. Source = MIN node key (a 1-row broadcast), hop
    cap = {BFS_ROUNDS}.

    Driver branch (``kernels.bounded_collect``): under
    ``kernels.LOCAL_EDGE_CAP`` edges the memoized edge frame is pulled
    once as Arrow and the same frontier expansion runs as numpy masks
    on the driver (``_bfs_local``): one build job instead of several
    per round (warm sf0.01 on 4 cores: 1.3 s -> 0.1 s), identical
    rows, including the one ``(NULL, 0)`` row of an edge-free graph
    (``MIN`` over no rows).
    Past the cap the distributed rounds above run unchanged."""
    edges = _copurchase_edges(spark, sf_dir, min_support=TRI_MIN_SUPPORT)
    probe = kernels.bounded_collect(edges, kernels.LOCAL_EDGE_CAP, "bfs_edges")
    if probe is not None:
        return kernels.local_frame(
            spark,
            _bfs_local(*kernels.edge_index(probe)),
            "l_partkey bigint, hop int",
        )
    fwd = edges.select(F.col("u").alias("s"), F.col("v").alias("d"))
    rev = edges.select(F.col("v").alias("s"), F.col("u").alias("d"))
    dir_e = fwd.unionAll(rev).transform(cut_lineage)
    src = dir_e.agg(F.min("s").alias("node"))
    frontier = src.select("node").transform(cut_lineage)
    visited = frontier
    out = [frontier.select("node", F.lit(0).alias("hop"))]
    for i in range(1, BFS_ROUNDS + 1):
        frontier = (
            dir_e.join(frontier.withColumnRenamed("node", "s"), "s")
            .select(F.col("d").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .transform(cut_lineage)
        )
        out.append(frontier.select("node", F.lit(i).alias("hop")))
        visited = visited.unionAll(frontier).transform(cut_lineage)
    res = out[0]
    for lv in out[1:]:
        res = res.unionAll(lv)
    return res.select(
        F.col("node").cast("bigint").alias("l_partkey"),
        F.col("hop").cast("int").alias("hop"),
    )
