"""Round-8 batch-6 analytics operators ([EXT] — operator-surface
breadth beyond the reference): Kruskal-Wallis k-group rank test,
Fleiss' multi-rater kappa, calibration/reliability bins, lagged
cross-correlation, the TPC-H Q13/Q17 correlated-subquery shapes, and
a decision-stump split-gain scan.

Every operator follows the house rules: exact integer sufficient
statistics wherever possible, one rounded float step at the end
(identical fold order both engines), no windows partitioned by an
unbounded key (the one bounded exception here is the 20-row stump
bin table), and a DuckDB oracle twin for hash parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_etl_global_footprint_network_spark.functions.compat import round_compat
from aws_etl_global_footprint_network_spark.functions.raters import (
    RATER_A_SQL,
    RATER_B_SQL,
    RATER_C_SQL,
    rater_a,
    rater_b,
    rater_c,
)
from aws_etl_global_footprint_network_spark.registry import register
from aws_etl_global_footprint_network_spark.sources.readers import read_testdata

# --------------------------------------------------------------------
# Kruskal-Wallis H (k-group generalisation of mann_whitney_u)
# --------------------------------------------------------------------


@register(
    "kruskal_wallis_h",
    """
    WITH e AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS x
      FROM events WHERE value IS NOT NULL),
    v AS (
      SELECT x, COUNT(*) AS t FROM e GROUP BY x),
    c AS (
      SELECT x, t,
             COALESCE(SUM(t) OVER (ORDER BY x
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS cb
      FROM v),
    cell AS (
      SELECT e.event_type, e.x, COUNT(*) AS n_gx FROM e GROUP BY 1, 2),
    rg AS (
      SELECT cell.event_type,
             SUM(cell.n_gx) AS n_g,
             SUM(cell.n_gx * (2 * c.cb + c.t + 1)) AS r2_g
      FROM cell JOIN c ON c.x = cell.x
      GROUP BY cell.event_type),
    tot AS (
      SELECT SUM(t) AS n,
             SUM(CAST(t AS DECIMAL(38, 0)) * t * t - t) AS ties
      FROM v),
    s AS (
      SELECT COUNT(*) AS k, SUM(n_g) AS n_check,
             SUM((r2_g / 2.0) * (r2_g / 2.0) / n_g) AS rsq
      FROM rg),
    f AS (
      SELECT s.k, tot.n,
             12.0 / (tot.n * (tot.n + 1.0)) * s.rsq
               - 3.0 * (tot.n + 1) AS h,
             1.0 - CAST(tot.ties AS DOUBLE)
                   / (CAST(tot.n AS DECIMAL(38, 0)) * tot.n * tot.n - tot.n)
               AS corr
      FROM s CROSS JOIN tot)
    SELECT CAST(k AS BIGINT) AS n_groups, CAST(n AS BIGINT) AS n_total,
           ROUND(h * 1e6, 0) / 1e6 AS h_r6,
           CASE WHEN corr > 0
                THEN ROUND(h / corr * 1e6, 0) / 1e6 END AS h_tie_corrected_r6
    FROM f
    """,
    "Kruskal-Wallis H test of spend across ALL event types — the"
    " k-group generalisation of mann_whitney_u, rank-free from"
    " value-grouped counts + one exclusive cumulative count; exact"
    " integer doubled rank sums, tie correction in DECIMAL(38,0)"
    " (t^3 overflows int64 at corpus scale)",
    tags=("diagnostics", "stats", "agg", "headline"),
)
def kruskal_wallis_h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA's rank-based sibling (anova_f_oneway compares
    means; this compares distributions without normality). Rank-free:
    global midranks come from a global ``ranking.value_ranks`` table
    over the (event_type, x) cell counts, which the doubled midrank
    2*cb + t + 1 then joins back to by value; per-group rank sums stay
    exact int64 (doubled, <= 2N^2), and the t^3-t tie term runs in
    DECIMAL(38,0) exactly as the N^3-N denominator does. The float
    close (R_g^2/n_g summed over k bounded groups, one subtraction)
    mirrors the oracle's fold order; both engines round 1e-6."""
    from aws_etl_global_footprint_network_spark.functions.cache import CacheScope
    from aws_etl_global_footprint_network_spark.functions.ranking import value_ranks

    # x IS NOT NULL is the oracle's value filter, stated on the join
    # key: both uses of the cell counts then plan identically and share
    # one shuffle (the join would otherwise infer it on one side only)
    ec = (
        read_testdata(spark, sf_dir, "events")
        .select(
            "event_type",
            F.round(F.col("value") * 100, 0).cast("long").alias("x"),
        )
        .filter(F.col("x").isNotNull())
        .groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).alias("n_gx"))
    )
    t = F.col("t")
    c = value_ranks(
        ec,
        None,
        "x",
        {"t": F.sum("n_gx")},
        {"cb": "t"},
        CacheScope("kruskal_wallis_h"),
        (sf_dir, "events"),
        totals={"n": t, "ties": t.cast("decimal(38,0)") * t * t - t},
        broadcast=True,
    )
    rg = (
        ec.join(c, "x")
        .groupBy("event_type")
        .agg(
            F.sum("n_gx").alias("n_g"),
            F.sum(
                F.col("n_gx") * (2 * F.col("cb") + F.col("t") + 1)
            ).alias("r2_g"),
            F.max("n").alias("n"),
            F.max("ties").alias("ties"),
        )
    )
    s = rg.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(
            (F.col("r2_g") / 2.0) * (F.col("r2_g") / 2.0) / F.col("n_g")
        ).alias("rsq"),
        F.max("n").alias("n"),
        F.max("ties").alias("ties"),
    )
    n = F.col("n")
    f = s.select(
        "k",
        n,
        (12.0 / (n * (n + 1.0)) * F.col("rsq") - 3.0 * (n + 1)).alias("h"),
        (
            1.0
            - F.col("ties").cast("double")
            / (n.cast("decimal(38,0)") * n * n - n)
        ).alias("corr"),
    )
    return f.select(
        F.col("k").cast("bigint").alias("n_groups"),
        n.cast("bigint").alias("n_total"),
        round_compat(F.col("h"), 6).alias("h_r6"),
        F.when(
            F.col("corr") > 0, round_compat(F.col("h") / F.col("corr"), 6)
        ).alias("h_tie_corrected_r6"),
    )


# --------------------------------------------------------------------
# Fleiss' kappa over three deterministic document raters
# --------------------------------------------------------------------


@register(
    "fleiss_kappa_raters",
    f"""
    WITH lab AS (
      SELECT ({RATER_A_SQL} + {RATER_B_SQL} + {RATER_C_SQL}) AS n1
      FROM documents),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(n1) AS BIGINT) AS passes,
             CAST(SUM(n1 * (n1 - 1) + (3 - n1) * (2 - n1)) AS BIGINT)
               AS agree_pairs
      FROM lab),
    f AS (
      SELECT n, passes,
             agree_pairs / (n * 6.0) AS p_bar,
             (passes / (n * 3.0)) * (passes / (n * 3.0))
               + (1 - passes / (n * 3.0)) * (1 - passes / (n * 3.0))
               AS p_e
      FROM s)
    SELECT n AS n_docs, passes AS n_passes,
           ROUND(p_bar * 1e6, 0) / 1e6 AS p_bar_r6,
           ROUND(p_e * 1e6, 0) / 1e6 AS p_e_r6,
           CASE WHEN p_e < 1
                THEN ROUND((p_bar - p_e) / (1 - p_e) * 1e6, 0) / 1e6 END
             AS fleiss_kappa_r6
    FROM f
    """,
    "Fleiss' kappa across THREE deterministic binary document raters"
    " (char gate, token gate, stopword-presence gate) — multi-rater"
    " chance-corrected agreement where Cohen's kappa stops at two;"
    " one corpus pass to exact integer pair-agreement counts",
    tags=("text", "stats", "governance", "headline"),
)
def fleiss_kappa_raters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa (cohens_kappa_labels) is defined for exactly two
    raters; Fleiss generalises to m raters via pairwise agreement:
    P_i = sum_j n_ij(n_ij-1) / (m(m-1)) per item, P_e from the pooled
    category shares. With m=3 binary raters the per-doc sufficient
    statistic is just n1 (how many raters pass the doc), so the whole
    test is ONE combinable aggregation of exact integers; the float
    close is three divisions + one subtraction, fold-order mirrored
    in the oracle. The third rater (contains ' the ') is equally
    deterministic cross-engine as the char/token gates."""
    d = read_testdata(spark, sf_dir, "documents")
    lab = d.select((rater_a() + rater_b() + rater_c()).alias("n1"))
    s = lab.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("n1").cast("bigint").alias("passes"),
        F.sum(
            F.col("n1") * (F.col("n1") - 1)
            + (3 - F.col("n1")) * (2 - F.col("n1"))
        )
        .cast("bigint")
        .alias("agree_pairs"),
    )
    p1 = F.col("passes") / (F.col("n") * 3.0)
    f = s.select(
        "n",
        "passes",
        (F.col("agree_pairs") / (F.col("n") * 6.0)).alias("p_bar"),
        (p1 * p1 + (1 - p1) * (1 - p1)).alias("p_e"),
    )
    return f.select(
        F.col("n").alias("n_docs"),
        F.col("passes").alias("n_passes"),
        round_compat(F.col("p_bar"), 6).alias("p_bar_r6"),
        round_compat(F.col("p_e"), 6).alias("p_e_r6"),
        F.when(
            F.col("p_e") < 1,
            round_compat(
                (F.col("p_bar") - F.col("p_e")) / (1 - F.col("p_e")), 6
            ),
        ).alias("fleiss_kappa_r6"),
    )


# --------------------------------------------------------------------
# Calibration / reliability bins (the companion to auc_roc_score)
# --------------------------------------------------------------------

CAL_BINS = 10


@register(
    "calibration_reliability_bins",
    f"""
    WITH c AS (
      SELECT c_custkey,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS s
      FROM customer),
    u AS (SELECT DISTINCT o_custkey FROM orders
          WHERE o_orderpriority = '1-URGENT'),
    scored AS (
      SELECT c.s, CASE WHEN u.o_custkey IS NULL THEN 0 ELSE 1 END AS y
      FROM c LEFT JOIN u ON u.o_custkey = c.c_custkey),
    mm AS (SELECT MIN(s) AS mn, MAX(s) AS mx FROM scored),
    b AS (
      SELECT CAST(((s - mn) * {CAL_BINS}) // (mx - mn + 1) AS BIGINT)
               AS bin,
             CASE WHEN mx > mn
                  THEN (s - mn) * 1.0 / (mx - mn) END AS p, y
      FROM scored CROSS JOIN mm)
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(p) * 1e6, 0) / 1e6 AS avg_pred_r6,
           ROUND(AVG(y) * 1e6, 0) / 1e6 AS obs_rate_r6,
           ROUND(ABS(AVG(p) - AVG(y)) * 1e6, 0) / 1e6 AS gap_r6
    FROM b GROUP BY bin ORDER BY bin
    """,
    f"calibration / reliability table for the acctbal->urgent-order"
    f" score auc_roc_score ranks: {CAL_BINS} exact integer-arithmetic"
    " equal-width bins, per-bin mean predicted probability vs"
    " observed rate and the absolute gap (the ECE summand)",
    tags=("mlprep", "stats", "agg", "headline"),
)
def calibration_reliability_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUC (auc_roc_score) measures RANKING quality; calibration
    measures whether the score's magnitude means what it says — the
    standard model-eval pair. Bin assignment is exact integer
    arithmetic ((s-mn)*B integer-divided by the inclusive range) so
    bin edges cannot drift between engines the way a float-division
    floor can; the min/max enter as a broadcast 1-row scalar. Output
    is the bounded per-bin table; the ECE is its n-weighted gap sum,
    left to the reader so every bin stays hash-checkable."""
    from aws_etl_global_footprint_network_spark.operators.analytics_r8 import (
        urgent_score_labels,
    )

    scored = urgent_score_labels(spark, sf_dir).select(
        F.col("score").alias("s"), "y"
    )
    mm = scored.agg(F.min("s").alias("mn"), F.max("s").alias("mx"))
    b = scored.crossJoin(F.broadcast(mm)).select(
        F.expr(f"CAST(((s - mn) * {CAL_BINS}) DIV (mx - mn + 1) AS BIGINT)")
        .alias("bin"),
        F.when(
            F.col("mx") > F.col("mn"),
            (F.col("s") - F.col("mn")) * 1.0 / (F.col("mx") - F.col("mn")),
        ).alias("p"),
        "y",
    )
    return (
        b.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            round_compat(F.avg("p"), 6).alias("avg_pred_r6"),
            round_compat(F.avg("y"), 6).alias("obs_rate_r6"),
            round_compat(F.abs(F.avg("p") - F.avg("y")), 6).alias("gap_r6"),
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------
# Lagged cross-correlation of two daily event series (acf's sibling)
# --------------------------------------------------------------------

CCF_MAX_LAG = 7


@register(
    "ccf_views_purchases",
    f"""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day,
             SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS x,
             SUM(CASE WHEN event_type = 'purchase'
                      THEN CAST(ROUND(value * 100) AS BIGINT)
                      ELSE 0 END) AS y
      FROM events GROUP BY 1),
    l AS (SELECT UNNEST(range(0, {CCF_MAX_LAG + 1})) AS lag),
    p AS (
      SELECT l.lag, a.x, b.y
      FROM l
      JOIN d a ON TRUE
      JOIN d b ON b.day = a.day + CAST(l.lag || ' days' AS INTERVAL)),
    s AS (
      SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_days,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy,
             SUM(x * y) AS sxy
      FROM p GROUP BY lag)
    SELECT CAST(lag AS BIGINT) AS lag, n_days,
           CASE WHEN n_days > 1
                 AND n_days * sxx - sx * sx > 0
                 AND n_days * syy - CAST(sy AS DECIMAL(38,0)) * sy > 0
                THEN ROUND(
                  (n_days * sxy - sx * 1.0 * sy)
                  / sqrt((n_days * sxx - sx * 1.0 * sx)
                         * CAST(n_days * syy
                                - CAST(sy AS DECIMAL(38,0)) * sy
                                AS DOUBLE)) * 1e6, 0) / 1e6
           END AS ccf_r6
    FROM s ORDER BY lag
    """,
    "lagged cross-correlation between the daily view-count series"
    f" and the daily purchase-cents series (lags 0..{CCF_MAX_LAG}):"
    " does view traffic lead purchases? Pearson per lag from exact"
    " integer sufficient sums over the bounded daily table"
    " (acf_daily_counts' two-series sibling)",
    tags=("temporal", "stats", "agg", "headline"),
)
def ccf_views_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACF operator autocorrelates one series; the CCF checks
    whether one series LEADS another (x_t-lag vs y_t) — the
    demand-sensing question. One corpus groupBy builds the daily
    two-metric table (bounded by the calendar domain); the 8 lags
    join day->day+lag on that bounded table, so everything after the
    first shuffle is calendar-sized. Sufficient sums: x (daily view
    counts) stays int64; y is daily cents so syy runs in
    DECIMAL(38,0) (cents^2 sums overflow int64 at corpus scale).
    Guards pin degenerate variance to NULL identically."""
    e = read_testdata(spark, sf_dir, "events")
    d = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).alias("x"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100, 0).cast("long"),
            ).otherwise(0)
        ).alias("y"),
    )
    lags = spark.range(0, CCF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = d.select(F.col("day").alias("day_a"), F.col("x"))
    b = d.select(F.col("day").alias("day_b"), F.col("y"))
    p = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            F.col("day_b") == F.expr("date_add(day_a, lag)"),
        )
        .select("lag", "x", "y")
    )
    sy = F.col("sy")
    syy = F.col("syy")
    nd = F.col("n_days")
    s = p.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    varx = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = nd * syy - sy.cast("decimal(38,0)") * sy
    return s.select(
        F.col("lag").cast("bigint").alias("lag"),
        nd,
        F.when(
            (nd > 1) & (varx > 0) & (vary > 0),
            round_compat(
                (nd * F.col("sxy") - F.col("sx") * 1.0 * sy)
                / F.sqrt(
                    (nd * F.col("sxx") - F.col("sx") * 1.0 * F.col("sx"))
                    * vary.cast("double")
                ),
                6,
            ),
        ).alias("ccf_r6"),
    ).orderBy("lag")


# --------------------------------------------------------------------
# TPC-H Q13 shape: customer order-count distribution (incl. zeros)
# --------------------------------------------------------------------


@register(
    "customer_orders_distribution",
    """
    WITH cc AS (
      SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey)
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM cc GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    "TPC-H Q13 shape: the distribution of customers by order count"
    " INCLUDING zero-order customers (left join + COUNT(col) null"
    " semantics) — the double-aggregation histogram every CRM"
    " segmentation starts from",
    tags=("relational", "agg", "headline"),
)
def customer_orders_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13's trap is the zeros: an inner join silently drops
    customers with no orders, so the left join + COUNT(o_orderkey)
    (which skips NULLs, unlike COUNT(*)) is load-bearing. Two
    combinable aggregations; the second groups a customer-sized
    relation down to the bounded count-histogram. The (custdist
    DESC, c_count DESC) order is total, so the result is
    deterministic without a LIMIT."""
    c = read_testdata(spark, sf_dir, "customer").select("c_custkey")
    o = read_testdata(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey"
    )
    cc = (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return (
        cc.groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("bigint").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# --------------------------------------------------------------------
# TPC-H Q17 shape: small-quantity revenue via correlated AVG subquery
# --------------------------------------------------------------------

Q17_BRAND = "Brand#23"


@register(
    "small_quantity_revenue",
    f"""
    SELECT ROUND(SUM(l.l_extendedprice) / 7.0 * 100, 0) / 100
             AS avg_yearly,
           CAST(COUNT(*) AS BIGINT) AS n_small_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = '{Q17_BRAND}'
      AND l.l_quantity < (
        SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey)
    """,
    "TPC-H Q17 shape: revenue lost to small-quantity orders — the"
    " classic correlated AVG subquery (quantity below 20% of the"
    " part's own average), decorrelated on the Spark side into a"
    " per-part aggregate join; brand-filtered, exact-cents close",
    tags=("relational", "subquery", "agg", "headline"),
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle states the correlated subquery verbatim; executing
    it per row is a nested loop, so the Spark plan uses the standard
    decorrelation: ONE per-part aggregation of the brand-filtered
    part cohort's lineitems computes 0.2*avg(quantity), joined back
    by partkey. The brand filter semi-prunes the per-part aggregate
    too (the subquery only ever correlates to brand parts), so both
    passes scan the pruned fact slice. The semi-join is HINT-FREE
    (house rule since round 6): the brand cohort is a fixed fraction
    of the part DIMENSION, small but not bounded, so AQE picks
    broadcast when it fits and degrades gracefully when it doesn't.
    The close rounds cents after the /7 exactly as the oracle."""
    p = (
        read_testdata(spark, sf_dir, "part")
        .filter(F.col("p_brand") == Q17_BRAND)
        .select("p_partkey")
    )
    li = read_testdata(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    brand_li = li.join(p, li.l_partkey == p.p_partkey, "left_semi")
    avg_q = brand_li.groupBy("l_partkey").agg(
        (0.2 * F.avg("l_quantity")).alias("q_cut")
    )
    small = brand_li.join(avg_q, "l_partkey").filter(
        F.col("l_quantity") < F.col("q_cut")
    )
    return small.agg(
        (
            F.round(F.sum("l_extendedprice") / 7.0 * 100, 0) / 100
        ).alias("avg_yearly"),
        F.count(F.lit(1)).cast("bigint").alias("n_small_lines"),
    )


# --------------------------------------------------------------------
# Decision-stump split gain scan (Gini impurity over bounded bins)
# --------------------------------------------------------------------

STUMP_BINS = 20


@register(
    "stump_split_gain",
    f"""
    WITH o AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS s,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders),
    mm AS (SELECT MIN(s) AS mn, MAX(s) AS mx FROM o),
    b AS (
      SELECT CAST(((s - mn) * {STUMP_BINS}) // (mx - mn + 1) AS BIGINT)
               AS bin, y
      FROM o CROSS JOIN mm),
    g AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS pos
      FROM b GROUP BY bin),
    cum AS (
      SELECT bin,
             SUM(n) OVER (ORDER BY bin) AS nl,
             SUM(pos) OVER (ORDER BY bin) AS posl,
             SUM(n) OVER () AS nt, SUM(pos) OVER () AS post
      FROM g),
    gain AS (
      SELECT bin AS split_bin, nl, nt - nl AS nr,
             1.0 - (post * 1.0 / nt) * (post * 1.0 / nt)
                 - (1 - post * 1.0 / nt) * (1 - post * 1.0 / nt)
               - (nl * 1.0 / nt) * (
                   1.0 - (posl * 1.0 / nl) * (posl * 1.0 / nl)
                       - (1 - posl * 1.0 / nl) * (1 - posl * 1.0 / nl))
               - ((nt - nl) * 1.0 / nt) * (
                   1.0 - ((post - posl) * 1.0 / (nt - nl))
                         * ((post - posl) * 1.0 / (nt - nl))
                       - (1 - (post - posl) * 1.0 / (nt - nl))
                         * (1 - (post - posl) * 1.0 / (nt - nl)))
               AS g
      FROM cum WHERE nl > 0 AND nt - nl > 0)
    SELECT CAST(split_bin AS BIGINT) AS split_bin,
           CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
           ROUND(g * 1e6, 0) / 1e6 AS gini_gain_r6
    FROM gain ORDER BY split_bin
    """,
    f"decision-stump split scan: Gini impurity reduction of every"
    f" {STUMP_BINS}-bin equal-width threshold on order totalprice"
    " against the order-status label — the inner loop of tree"
    " building as ONE corpus pass + a bounded cumulative close",
    tags=("mlprep", "stats", "agg", "headline"),
)
def stump_split_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tree learners scan candidate thresholds for the split that
    most reduces label impurity. The corpus work is one combinable
    groupBy into {STUMP_BINS} equal-width bins (exact integer bin
    arithmetic, min/max as a broadcast scalar); the cumulative
    left/right class counts then live on a <= {STUMP_BINS}-row table
    where a single-task window is BOUNDED by construction, not by
    luck. Gain stays NULL-free by filtering empty sides; all
    impurity terms are single float divisions of exact int64 counts,
    fold order mirrored in the oracle."""
    o = read_testdata(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("s"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    # bin edges need only MIN/MAX of the rounded cents; float *100 and
    # HALF_UP rounding are both monotone, so min(round(x*100)) ==
    # round(min(x)*100) and the parquet footer's exact column min/max
    # give the same integers as the aggregate — one corpus scan
    # instead of two subtrees (round 13; the width.py footer-stat
    # pattern). Decimal(float) is the exact binary value, quantize
    # HALF_UP is Spark's BigDecimal rounding. Missing stats fall back
    # to the aggregate.
    from aws_etl_global_footprint_network_spark.functions.width import (
        parquet_column_bounds,
    )

    fb = parquet_column_bounds(sf_dir, "orders", "o_totalprice")
    if fb is not None:
        from decimal import ROUND_HALF_UP, Decimal

        def _cents(v: float) -> int:
            return int(
                Decimal(v * 100.0).quantize(
                    Decimal(1), rounding=ROUND_HALF_UP
                )
            )

        mn_c, mx_c = _cents(fb[1]), _cents(fb[2])
        b = o.select(
            F.expr(
                f"CAST(((s - {mn_c}L) * {STUMP_BINS})"
                f" DIV ({mx_c}L - {mn_c}L + 1) AS BIGINT)"
            ).alias("bin"),
            "y",
        )
    else:
        mm = o.agg(F.min("s").alias("mn"), F.max("s").alias("mx"))
        b = o.crossJoin(F.broadcast(mm)).select(
            F.expr(
                f"CAST(((s - mn) * {STUMP_BINS}) DIV (mx - mn + 1) AS BIGINT)"
            ).alias("bin"),
            "y",
        )
    g = b.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    # <= STUMP_BINS rows from here on: the unpartitioned windows are
    # bounded by the bin-count constant, not a data-sized key.
    wcum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = g.select(
        "bin",
        F.sum("n").over(wcum).alias("nl"),
        F.sum("pos").over(wcum).alias("posl"),
        F.sum("n").over(wall).alias("nt"),
        F.sum("pos").over(wall).alias("post"),
    )
    nl, nt = F.col("nl"), F.col("nt")
    posl, post = F.col("posl"), F.col("post")
    nr = nt - nl
    posr = post - posl

    def gini(p):
        return 1.0 - p * p - (1 - p) * (1 - p)

    gain = (
        gini(post * 1.0 / nt)
        - (nl * 1.0 / nt) * gini(posl * 1.0 / nl)
        - (nr * 1.0 / nt) * gini(posr * 1.0 / nr)
    )
    return (
        cum.filter((nl > 0) & (nr > 0))
        .select(
            F.col("bin").cast("bigint").alias("split_bin"),
            nl.cast("bigint").alias("n_left"),
            nr.cast("bigint").alias("n_right"),
            round_compat(gain, 6).alias("gini_gain_r6"),
        )
        .orderBy("split_bin")
    )
