"""Round-8 batch-8 operators ([EXT] — operator-surface breadth beyond
the reference): Cochran's Q multi-rater test, Kendall tau-b ordinal
association, Tukey-fence outlier profiling, Page-Hinkley drift
detection, event-sequence trigrams, the Friedman related-samples rank
test, and HITS hub/authority scoring on the directed transition graph.

House rules: exact integer sufficient statistics, DECIMAL(38,0) where
squares can cross 2^63, one rounded float close with oracle-mirrored
fold order, windows only on unbounded keys when the per-key row count
is a domain constant (block size k, calendar days).
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
# Cochran's Q over the three deterministic document raters
# --------------------------------------------------------------------


@register(
    "cochran_q_raters",
    f"""
    WITH lab AS (
      SELECT {RATER_A_SQL} AS a,
             {RATER_B_SQL} AS b,
             {RATER_C_SQL} AS c
      FROM documents),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(a) AS BIGINT) AS ca, CAST(SUM(b) AS BIGINT) AS cb,
             CAST(SUM(c) AS BIGINT) AS cc,
             CAST(SUM((a+b+c) * (a+b+c)) AS BIGINT) AS sr2
      FROM lab),
    q AS (
      SELECT n, ca, cb, cc,
             ca + cb + cc AS sr,
             3.0 * (ca*ca + cb*cb + cc*cc) - (ca+cb+cc) * 1.0 * (ca+cb+cc)
               AS num,
             3.0 * (ca+cb+cc) - sr2 AS den
      FROM s)
    SELECT n AS n_docs, ca AS pass_a, cb AS pass_b, cc AS pass_c,
           CASE WHEN den > 0
                THEN ROUND(2.0 * num / den * 1e6, 0) / 1e6 END AS q_stat_r6
    FROM q
    """,
    "Cochran's Q test across the THREE deterministic binary raters:"
    " do the raters pass significantly different SHARES of documents?"
    " ((k-1)[k*sum C_j^2 - (sum C_j)^2] / [k*sum R_i - sum R_i^2])"
    " from one exact-integer corpus pass — McNemar's k-rater"
    " generalisation, completing the rater-audit family",
    tags=("text", "stats", "governance", "headline"),
)
def cochran_q_raters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa (same three raters) measures agreement
    MAGNITUDE; Cochran's Q tests marginal homogeneity — whether any
    rater is systematically stricter, the k-rater McNemar. Sufficient
    statistics are four exact integers (per-rater pass totals and the
    per-doc pass-count square sum) from ONE combinable pass; the
    close is two float multiplications and a division, fold order
    mirrored. Degenerate denominator (all docs unanimous) pins NULL
    both engines."""
    d = read_testdata(spark, sf_dir, "documents")
    lab = d.select(
        rater_a().alias("a"), rater_b().alias("b"), rater_c().alias("c")
    )
    r = F.col("a") + F.col("b") + F.col("c")
    s = lab.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("a").cast("bigint").alias("ca"),
        F.sum("b").cast("bigint").alias("cb"),
        F.sum("c").cast("bigint").alias("cc"),
        F.sum(r * r).cast("bigint").alias("sr2"),
    )
    ca, cb, cc = F.col("ca"), F.col("cb"), F.col("cc")
    sr = ca + cb + cc
    num = 3.0 * (ca * ca + cb * cb + cc * cc) - sr * 1.0 * sr
    den = 3.0 * sr - F.col("sr2")
    return s.select(
        F.col("n").alias("n_docs"),
        ca.alias("pass_a"),
        cb.alias("pass_b"),
        cc.alias("pass_c"),
        F.when(den > 0, round_compat(2.0 * num / den, 6)).alias(
            "q_stat_r6"
        ),
    )


# --------------------------------------------------------------------
# Kendall tau-b between order priority and a totalprice quintile
# --------------------------------------------------------------------

KT_BINS = 5


@register(
    "kendall_tau_priority_price",
    f"""
    WITH o AS (
      SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS pr,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS s
      FROM orders),
    mm AS (SELECT MIN(s) AS mn, MAX(s) AS mx FROM o),
    cell AS (
      SELECT pr, CAST(((s - mn) * {KT_BINS}) // (mx - mn + 1) AS BIGINT)
               AS qb,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM o CROSS JOIN mm GROUP BY 1, 2),
    cd AS (
      SELECT SUM(CASE WHEN b.pr > a.pr AND b.qb > a.qb
                      THEN CAST(a.c AS DECIMAL(38,0)) * b.c ELSE 0 END)
               AS conc,
             SUM(CASE WHEN b.pr > a.pr AND b.qb < a.qb
                      THEN CAST(a.c AS DECIMAL(38,0)) * b.c ELSE 0 END)
               AS disc
      FROM cell a JOIN cell b ON TRUE),
    marg AS (
      SELECT (SELECT SUM(CAST(c AS DECIMAL(38,0)) * c) FROM
               (SELECT SUM(c) AS c FROM cell GROUP BY pr)) AS r2,
             (SELECT SUM(CAST(c AS DECIMAL(38,0)) * c) FROM
               (SELECT SUM(c) AS c FROM cell GROUP BY qb)) AS c2,
             (SELECT SUM(c) FROM cell) AS n)
    SELECT CAST(marg.n AS BIGINT) AS n_orders,
           CAST(cd.conc AS DOUBLE) AS concordant,
           CAST(cd.disc AS DOUBLE) AS discordant,
           ROUND(2.0 * (CAST(cd.conc AS DOUBLE) - CAST(cd.disc AS DOUBLE))
                 / sqrt((CAST(marg.n AS DOUBLE) * marg.n - CAST(marg.r2 AS DOUBLE))
                        * (CAST(marg.n AS DOUBLE) * marg.n - CAST(marg.c2 AS DOUBLE)))
                 * 1e6, 0) / 1e6 AS tau_b_r6
    FROM cd CROSS JOIN marg
    """,
    "Kendall tau-b ordinal association between order priority (its"
    f" leading digit is the natural order) and the {KT_BINS}-quantile"
    " totalprice bucket: concordant/discordant pair counts computed"
    " from the BOUNDED RxC contingency cells (never row pairs), tie"
    " corrections from the marginals in DECIMAL(38,0)",
    tags=("stats", "agg", "diagnostics", "headline"),
)
def kendall_tau_priority_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman (spearman_rank_corr) needs full rankings; for two
    ORDINAL variables with few levels, Kendall's tau-b works directly
    on the contingency table: every concordant/discordant pair is a
    product of two cell counts with strictly greater/lesser levels,
    so the O(n^2) pair sum collapses to a self-join of the bounded
    RxC cell table (<= {KT_BINS}x5 cells). Cell-count products and
    the n^2-scale tie terms run in DECIMAL(38,0); the single sqrt
    close converts to DOUBLE on both sides (the ANSI-overflow
    lesson). The price bucket uses the exact integer-DIV equal-width
    recipe.

    Normalisation identity (the factor of 2 is load-bearing):
    unordered pairs are counted ONCE (only the pb > pa orientation),
    while n^2 - sum(r_i^2) equals 2*(n0 - n1) with n0 = n(n-1)/2 and
    n1 = sum(t_i(t_i-1)/2) — so tau-b = 2(C - D) /
    sqrt((n^2 - sum r^2)(n^2 - sum c^2)). Verified against a
    brute-force pairwise reference in tests (perfectly concordant
    2-cell data gives exactly 1.0)."""
    o = read_testdata(spark, sf_dir, "orders").select(
        F.substring("o_orderpriority", 1, 1).cast("bigint").alias("pr"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("s"),
    )
    mm = o.agg(F.min("s").alias("mn"), F.max("s").alias("mx"))
    cell = (
        o.crossJoin(F.broadcast(mm))
        .groupBy(
            "pr",
            F.expr(
                f"CAST(((s - mn) * {KT_BINS}) DIV (mx - mn + 1) AS BIGINT)"
            ).alias("qb"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    a = cell.select(
        F.col("pr").alias("pa"), F.col("qb").alias("qa"), F.col("c").alias("ca")
    )
    b = cell.select(
        F.col("pr").alias("pb"), F.col("qb").alias("qbinb"), F.col("c").alias("cbv")
    )
    prod = F.col("ca").cast("decimal(38,0)") * F.col("cbv")
    cd = (
        a.crossJoin(b)
        .agg(
            F.sum(
                F.when(
                    (F.col("pb") > F.col("pa"))
                    & (F.col("qbinb") > F.col("qa")),
                    prod,
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            ).alias("conc"),
            F.sum(
                F.when(
                    (F.col("pb") > F.col("pa"))
                    & (F.col("qbinb") < F.col("qa")),
                    prod,
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            ).alias("disc"),
        )
    )
    rm = (
        cell.groupBy("pr")
        .agg(F.sum("c").alias("c"))
        .agg(
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("r2")
        )
    )
    cm = (
        cell.groupBy("qb")
        .agg(F.sum("c").alias("c"))
        .agg(
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("c2")
        )
    )
    n = cell.agg(F.sum("c").alias("n"))
    nn = F.col("n").cast("double") * F.col("n")
    return (
        cd.crossJoin(F.broadcast(rm))
        .crossJoin(F.broadcast(cm))
        .crossJoin(F.broadcast(n))
        .select(
            F.col("n").cast("bigint").alias("n_orders"),
            F.col("conc").cast("double").alias("concordant"),
            F.col("disc").cast("double").alias("discordant"),
            round_compat(
                2.0
                * (F.col("conc").cast("double") - F.col("disc").cast("double"))
                / F.sqrt(
                    (nn - F.col("r2").cast("double"))
                    * (nn - F.col("c2").cast("double"))
                ),
                6,
            ).alias("tau_b_r6"),
        )
    )


# --------------------------------------------------------------------
# Tukey-fence outlier profile per nation
# --------------------------------------------------------------------

TUKEY_K = 1.5


@register(
    "tukey_fences_outliers",
    f"""
    WITH q AS (
      SELECT c_nationkey,
             quantile_cont(c_acctbal, 0.25) AS q1,
             quantile_cont(c_acctbal, 0.75) AS q3,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM customer GROUP BY c_nationkey),
    f AS (
      SELECT c_nationkey, n, q1, q3,
             q1 - {TUKEY_K} * (q3 - q1) AS lo,
             q3 + {TUKEY_K} * (q3 - q1) AS hi
      FROM q)
    SELECT CAST(f.c_nationkey AS BIGINT) AS nationkey, f.n,
           ROUND(f.q1 * 1e4, 0) / 1e4 AS q1_r4,
           ROUND(f.q3 * 1e4, 0) / 1e4 AS q3_r4,
           CAST(SUM(CASE WHEN c.c_acctbal < f.lo OR c.c_acctbal > f.hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           ROUND(SUM(CASE WHEN c.c_acctbal < f.lo OR c.c_acctbal > f.hi
                          THEN 1 ELSE 0 END) * 1.0 / f.n * 1e6, 0) / 1e6
             AS outlier_rate_r6
    FROM customer c JOIN f ON f.c_nationkey = c.c_nationkey
    GROUP BY 1, 2, 3, 4 ORDER BY nationkey
    """,
    "Tukey-fence (boxplot) outlier profile of customer balances per"
    " nation: exact interpolated quartiles, 1.5*IQR fences, outlier"
    " counts and rates — the robust data-profiling sibling of the"
    " z-score and MAD operators",
    tags=("diagnostics", "stats", "percentile", "headline"),
)
def tukey_fences_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """z-scores (supplier_balance_zscore) assume normality and MAD
    (mad_outlier_stats) a symmetric spread; Tukey fences are the
    distribution-free boxplot rule every profiler reports. Exact
    interpolated quartiles per nation (percentile == quantile_cont,
    the repo's pinned parity), fences joined back to the customer
    relation BY KEY (hint-free; the 25-row fence table is trivially
    broadcast by AQE), one conditional count per nation."""
    c = read_testdata(spark, sf_dir, "customer").select(
        "c_nationkey", "c_acctbal"
    )
    q = c.groupBy("c_nationkey").agg(
        F.percentile("c_acctbal", F.lit(0.25)).alias("q1"),
        F.percentile("c_acctbal", F.lit(0.75)).alias("q3"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    f = q.select(
        "c_nationkey",
        "n",
        "q1",
        "q3",
        (F.col("q1") - TUKEY_K * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + TUKEY_K * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    out_flag = F.when(
        (F.col("c_acctbal") < F.col("lo"))
        | (F.col("c_acctbal") > F.col("hi")),
        1,
    ).otherwise(0)
    return (
        c.join(f, "c_nationkey")
        .groupBy(
            F.col("c_nationkey").cast("bigint").alias("nationkey"),
            "n",
            round_compat(F.col("q1"), 4).alias("q1_r4"),
            round_compat(F.col("q3"), 4).alias("q3_r4"),
        )
        .agg(
            F.sum(out_flag).cast("bigint").alias("n_outliers"),
            round_compat(F.sum(out_flag) * 1.0 / F.col("n"), 6).alias(
                "outlier_rate_r6"
            ),
        )
        .orderBy("nationkey")
    )


# --------------------------------------------------------------------
# Page-Hinkley drift detection on the daily mean-spend series
# --------------------------------------------------------------------

PH_DELTA_CENTS = 0.0


@register(
    "page_hinkley_drift",
    f"""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day,
             AVG(CAST(ROUND(value * 100) AS BIGINT)) AS xbar
      FROM events WHERE value IS NOT NULL GROUP BY 1),
    g AS (SELECT AVG(xbar) AS mu FROM d),
    m AS (
      SELECT day, xbar,
             SUM(xbar - g.mu - {PH_DELTA_CENTS})
               OVER (ORDER BY day) AS cum
      FROM d CROSS JOIN g),
    ph AS (
      SELECT day, cum,
             cum - MIN(cum) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS stat
      FROM m),
    top AS (
      SELECT day, stat, ROW_NUMBER() OVER (ORDER BY stat DESC, day) AS rn
      FROM ph)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n_days,
           CAST(day AS DATE) AS drift_day,
           ROUND(stat / 100.0 * 1e4, 0) / 1e4 AS ph_stat_r4
    FROM top WHERE rn = 1
    """,
    "Page-Hinkley upward-drift detector on the daily mean-spend"
    " series: cumulative mean-deviation minus its running minimum,"
    " maximised over days (deterministic earliest-day tie-break) —"
    " the sequential change detector complementing the CUSUM"
    " operator's fixed-split scan",
    tags=("temporal", "stats", "headline"),
)
def page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM (cusum_changepoint) scans split points retrospectively;
    Page-Hinkley is the ONLINE drift statistic monitoring pipelines
    actually run. After one corpus groupBy the series is the bounded
    daily table (calendar-domain rows), so the three unpartitioned
    windows (cumsum, running min, final argmax) are bounded by
    construction — the same justification as stump_split_gain's
    20-row close, stated explicitly. The tie on the max statistic
    breaks to the earliest day in both engines."""
    e = read_testdata(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    d = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.avg(F.round(F.col("value") * 100, 0).cast("long")).alias("xbar")
    )
    g = d.agg(F.avg("xbar").alias("mu"))
    wcum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    m = d.crossJoin(F.broadcast(g)).select(
        "day",
        F.sum(F.col("xbar") - F.col("mu") - PH_DELTA_CENTS)
        .over(wcum)
        .alias("cum"),
    )
    ph = m.select(
        "day",
        (F.col("cum") - F.min("cum").over(wcum)).alias("stat"),
    )
    top = ph.select(
        "day",
        "stat",
        F.row_number()
        .over(Window.orderBy(F.col("stat").desc(), F.col("day")))
        .alias("rn"),
    ).filter(F.col("rn") == 1)
    nd = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    return top.crossJoin(F.broadcast(nd)).select(
        "n_days",
        F.col("day").alias("drift_day"),
        round_compat(F.col("stat") / 100.0, 4).alias("ph_stat_r4"),
    )


# --------------------------------------------------------------------
# Event-type trigrams per user sequence (sequence mining, order 3)
# --------------------------------------------------------------------

TRI_TOP = 25


@register(
    "event_type_trigrams",
    f"""
    WITH s AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER w AS t2,
             LEAD(event_type, 2) OVER w AS t3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT event_type AS t1, t2, t3,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM s WHERE t3 IS NOT NULL
    GROUP BY 1, 2, 3
    ORDER BY n DESC, t1, t2, t3 LIMIT {TRI_TOP}
    """,
    "top event-type TRIGRAMS over per-user event sequences (total"
    " (ts, event_id) order): the order-3 sequence-mining sibling of"
    " markov_event_transitions (order 1) and"
    " conditional_entropy_markov — two LEADs + one combinable"
    f" groupBy, top-{TRI_TOP} deterministic",
    tags=("behavioral", "mining", "window", "headline"),
)
def event_type_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session models need more than bigram transitions; the trigram
    table is the next Markov order up and the standard n-gram
    feature for funnel mining. One window shuffle on the natural
    high-cardinality key (user_id) with a TOTAL (ts, event_id) order
    — same determinism recipe as next_order_transitions — then a
    combinable count and a TakeOrdered cut."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = read_testdata(spark, sf_dir, "events")
    s = e.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type").over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t3").isNotNull())
    return (
        s.groupBy("t1", "t2", "t3")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "t1", "t2", "t3")
        .limit(TRI_TOP)
    )


# --------------------------------------------------------------------
# Friedman related-samples rank test (users x event types)
# --------------------------------------------------------------------


@register(
    "friedman_event_types",
    """
    WITH k AS (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k
               FROM events WHERE value IS NOT NULL),
    cellv AS (
      SELECT user_id, event_type,
             AVG(CAST(ROUND(value * 100) AS BIGINT)) AS v
      FROM events WHERE value IS NOT NULL
      GROUP BY user_id, event_type),
    full_blocks AS (
      SELECT user_id FROM cellv
      GROUP BY user_id HAVING COUNT(*) = (SELECT k FROM k)),
    r AS (
      SELECT c.user_id, c.event_type,
             RANK() OVER (PARTITION BY c.user_id ORDER BY c.v)
               + (COUNT(*) OVER (PARTITION BY c.user_id, c.v) - 1) / 2.0
               AS midrank
      FROM cellv c JOIN full_blocks f ON f.user_id = c.user_id),
    rs AS (
      SELECT event_type, SUM(midrank) AS rj,
             CAST(COUNT(*) AS BIGINT) AS n_blocks
      FROM r GROUP BY event_type),
    f AS (
      SELECT MAX(n_blocks) AS n, CAST(COUNT(*) AS BIGINT) AS k,
             SUM(rj * rj) AS sum_rj2
      FROM rs)
    SELECT n AS n_blocks, k AS n_treatments,
           ROUND((12.0 / (n * k * (k + 1)) * sum_rj2
                  - 3.0 * n * (k + 1)) * 1e6, 0) / 1e6 AS friedman_r6
    FROM f
    """,
    "Friedman related-samples rank test: does mean spend RANK"
    " consistently across event types WITHIN users? Blocks = users"
    " present in every treatment, within-block midranks (block size"
    " = k event types, a domain constant), chi-square close from the"
    " per-treatment rank sums",
    tags=("stats", "diagnostics", "agg", "headline"),
)
def friedman_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis compares INDEPENDENT groups; Friedman is its
    repeated-measures sibling — each user is a block ranking the k
    event types by their own average spend, removing between-user
    level differences. The within-block rank window partitions by
    user_id (high cardinality = parallel) with AT MOST k rows per
    partition — bounded by the event-type domain, never by corpus
    size. Midranks = rank + (ties-1)/2, identical formula both
    engines; blocks missing a treatment are excluded (the classical
    complete-block requirement)."""
    e = (
        read_testdata(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "user_id",
            "event_type",
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
    )
    cellv = e.groupBy("user_id", "event_type").agg(
        F.avg("cents").alias("v")
    )
    k = e.agg(
        F.count_distinct("event_type").cast("bigint").alias("k")
    )
    full_blocks = (
        cellv.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_types"))
        .crossJoin(F.broadcast(k))
        .filter(F.col("n_types") == F.col("k"))
        .select("user_id")
    )
    wb = Window.partitionBy("user_id").orderBy("v")
    wt = Window.partitionBy("user_id", "v")
    r = (
        cellv.join(full_blocks, "user_id", "left_semi")
        .select(
            "user_id",
            "event_type",
            (
                F.rank().over(wb)
                + (F.count(F.lit(1)).over(wt) - 1) / 2.0
            ).alias("midrank"),
        )
    )
    rs = r.groupBy("event_type").agg(
        F.sum("midrank").alias("rj"),
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
    )
    f = rs.agg(
        F.max("n_blocks").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.col("rj") * F.col("rj")).alias("sum_rj2"),
    )
    n, kk = F.col("n"), F.col("k")
    return f.select(
        n.alias("n_blocks"),
        kk.alias("n_treatments"),
        round_compat(
            12.0 / (n * kk * (kk + 1)) * F.col("sum_rj2")
            - 3.0 * n * (kk + 1),
            6,
        ).alias("friedman_r6"),
    )


# --------------------------------------------------------------------
# HITS hub/authority on the directed next-order transition graph
# --------------------------------------------------------------------

HITS_ITERS = 2
HITS_TOP = 25
HITS_MIN_COUNT = 2


def _hits_edges_sql() -> str:
    return f"""
    ord AS (
      SELECT o_orderkey,
             LEAD(o_orderkey) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey)
               AS next_ok
      FROM orders),
    bask AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS MATERIALIZED (
      SELECT a.l_partkey AS src, b.l_partkey AS dst
      FROM ord
      JOIN bask a ON a.l_orderkey = ord.o_orderkey
      JOIN bask b ON b.l_orderkey = ord.next_ok
      GROUP BY 1, 2 HAVING COUNT(*) >= {HITS_MIN_COUNT})
    """


@register(
    "hits_hub_authority",
    f"""
    WITH {_hits_edges_sql()},
    h1r AS (SELECT src AS node, CAST(COUNT(*) AS DOUBLE) AS h
            FROM edges GROUP BY src),
    a1r AS (SELECT e.dst AS node, SUM(h1r.h) AS a
            FROM edges e JOIN h1r ON h1r.node = e.src GROUP BY e.dst),
    h2r AS MATERIALIZED (
      SELECT e.src AS node, SUM(a1r.a) AS h
      FROM edges e JOIN a1r ON a1r.node = e.dst GROUP BY e.src),
    a2r AS MATERIALIZED (
      SELECT e.dst AS node, SUM(h2r.h) AS a
      FROM edges e JOIN h2r ON h2r.node = e.src GROUP BY e.dst),
    a2 AS (SELECT node, a / (SELECT SUM(a) FROM a2r) AS a FROM a2r),
    h2 AS (SELECT node, h / (SELECT SUM(h) FROM h2r) AS h FROM h2r)
    SELECT CAST(a2.node AS BIGINT) AS part,
           ROUND(a2.a * 1e6, 0) / 1e6 AS authority_r6,
           ROUND(COALESCE(h2.h, 0) * 1e6, 0) / 1e6 AS hub_r6
    FROM a2 LEFT JOIN h2 ON h2.node = a2.node
    ORDER BY ROUND(a2.a * 1e6, 0) / 1e6 DESC, a2.node LIMIT {HITS_TOP}
    """,
    "HITS hub/authority scores on the DIRECTED next-order transition"
    f" graph ({HITS_ITERS} synchronous mutual-reinforcement rounds):"
    " RAW linear iterates with ONE final L1 normalisation per score"
    " (the per-round normaliser is a scalar multiple that commutes"
    " through the linear map and cancels in the quotient — both"
    " engines state the identical raw chain, and the uniform-init"
    " first hub iterate is just out-degree); parts that good"
    " 'gateway' items lead TO rank as authorities — the directional"
    f" complement of PageRank's undirected prestige; top-{HITS_TOP}"
    " by authority",
    tags=("graph", "mining", "shared-build", "headline"),
)
def hits_hub_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (pagerank_neardup_graph) scores undirected prestige;
    HITS separates GATEWAY items (hubs: their buyers go on to buy
    authorities) from DESTINATION items on the directed consecutive-
    order transition graph. Bounded {HITS_ITERS}-round Pregel shape:
    each half-step is one keyed join + one combinable groupBy over
    RAW (unnormalised) iterates — normalisation commutes through the
    linear map, so the two L1 quotients apply once at the end and the
    whole chain fuses into two lineage-cut jobs regardless of round
    count. The oracle states the identical raw chain with
    MATERIALIZED multi-consumer frames (the k-core reinlining
    lesson). Rounding at 1e-6 after normalisation closes the double
    fold-order gap as in PageRank."""
    from aws_etl_global_footprint_network_spark.functions.baskets import (
        transition_pair_counts,
    )
    from aws_etl_global_footprint_network_spark.functions.cache import cut_lineage

    # shared memoized transition build (round-8 verdict item 7):
    # identical frame to next_order_transitions' opening subplan
    # (lead over the FULL orders table per customer, basket joins on
    # both endpoints, map-side part x part fanout, support count) —
    # one persisted build per session serves both queries
    edges = transition_pair_counts(spark, sf_dir, HITS_MIN_COUNT).select(
        "src", "dst"
    )
    # RAW iterates, normalised ONCE per score at the end: each
    # per-round L1 normaliser is a scalar multiple that commutes
    # through the linear half-step and cancels in the final quotient,
    # so dropping it removes every intermediate scalar agg + broadcast
    # and lets the whole iterate chain fuse — each half-step
    # references its predecessor exactly once, so the plan grows
    # LINEARLY in rounds and only the two multi-consumer frames (the
    # final hub, feeding the last auth step + the output join + its
    # normaliser; the final auth, feeding the output + its normaliser)
    # are lineage-cut. The uniform-init first hub iterate is plain
    # out-degree — no join.
    hub = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).cast("double").alias("h"))
    )
    auth = None
    for it in range(HITS_ITERS):
        if it > 0:
            hub = (
                edges.join(
                    auth.select(F.col("node").alias("dst"), "a"), "dst"
                )
                .groupBy(F.col("src").alias("node"))
                .agg(F.sum("a").alias("h"))
            )
            if it == HITS_ITERS - 1:
                hub = cut_lineage(hub)
        auth = (
            edges.join(
                hub.select(F.col("node").alias("src"), "h"), "src"
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("h").alias("a"))
        )
    auth = cut_lineage(auth)
    hs = hub.agg(F.sum("h").alias("hsum"))
    asum = auth.agg(F.sum("a").alias("asum"))
    norm = (
        auth.join(hub, "node", "left")
        .crossJoin(F.broadcast(hs))
        .crossJoin(F.broadcast(asum))
        .select(
            "node",
            (F.col("a") / F.col("asum")).alias("a"),
            (F.col("h") / F.col("hsum")).alias("h"),
        )
    )
    return (
        norm
        .select(
            F.col("node").cast("bigint").alias("part"),
            round_compat(F.col("a"), 6).alias("authority_r6"),
            round_compat(F.coalesce(F.col("h"), F.lit(0.0)), 6).alias(
                "hub_r6"
            ),
        )
        # the cut orders on the ROUNDED score + id so the top-k set is
        # identical across engines despite double fold-order noise
        .orderBy(F.col("authority_r6").desc(), "part")
        .limit(HITS_TOP)
    )
