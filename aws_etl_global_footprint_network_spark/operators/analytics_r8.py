"""Round-8 analytics operators ([EXT] — operator-surface breadth
beyond the reference): survival hazard, one-way ANOVA, inter-rater
agreement, categorical mutual information, threshold PR curves,
seasonal decomposition, Theil-Sen robust trend, and multi-source BFS.

Every operator follows the house rules: exact integer sufficient
statistics wherever possible, one rounded float step at the end
(identical fold order both engines), no windows partitioned by an
unbounded key, and a DuckDB oracle twin for hash parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_etl_global_footprint_network_spark.functions.compat import round_compat
from aws_etl_global_footprint_network_spark.functions.raters import (
    RATER_A_SQL,
    RATER_B_SQL,
    rater_a,
    rater_b,
)
from aws_etl_global_footprint_network_spark.registry import REGISTRY, register
from aws_etl_global_footprint_network_spark.sources.readers import read_testdata

# --------------------------------------------------------------------
# Nelson-Aalen cumulative hazard (sibling of kaplan_meier_churn)
# --------------------------------------------------------------------

NA_CENSOR_MONTHS = 3  # same right-censoring rule as the KM operator


@register(
    "nelson_aalen_hazard",
    f"""
    WITH u AS (
      SELECT o_custkey,
             MIN(year(o_orderdate) * 12 + month(o_orderdate)) AS first_m,
             MAX(year(o_orderdate) * 12 + month(o_orderdate)) AS last_m
      FROM orders GROUP BY o_custkey),
    h AS (SELECT MAX(last_m) AS horizon FROM u),
    lt AS (
      SELECT u.last_m - u.first_m AS t,
             CASE WHEN h.horizon - u.last_m <= {NA_CENSOR_MONTHS}
                  THEN 0 ELSE 1 END AS died
      FROM u CROSS JOIN h),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM lt),
    byt AS (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS leaving,
             CAST(SUM(died) AS BIGINT) AS d
      FROM lt GROUP BY t),
    r AS (
      SELECT t, d,
             tot.n_users
               - COALESCE(SUM(leaving) OVER (ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS n_risk
      FROM byt CROSS JOIN tot),
    s AS (
      SELECT t, d, n_risk,
             SUM(d * 1.0 / n_risk)
               OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS cumhaz,
             SUM(d * 1.0 / (n_risk * 1.0 * n_risk))
               OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS varhaz
      FROM r)
    SELECT CAST(t AS BIGINT) AS tenure_months,
           CAST(d AS BIGINT) AS churned,
           CAST(n_risk AS BIGINT) AS n_at_risk,
           ROUND(cumhaz * 1e6, 0) / 1e6 AS cumhaz_r6,
           ROUND(varhaz * 1e6, 0) / 1e6 AS varhaz_r6
    FROM s
    """,
    "Nelson-Aalen cumulative hazard over customer order tenure"
    " (months first->last order), right-censored like the KM twin:"
    " H(t) = SUM(d_i/n_i), Var = SUM(d_i/n_i^2), both as cumulative"
    " windows over the calendar-bounded tenure table",
    tags=("behavioral", "stats", "timeseries", "headline"),
)
def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The estimator pair to kaplan_meier_churn: KM multiplies
    survival factors, Nelson-Aalen sums hazard increments — the
    robust-at-small-risk-sets choice and the base of the Fleming-
    Harrington S(t) = exp(-H(t)). Identical scale shape: per-customer
    tenure in one custkey groupBy, 1-row horizon broadcast, tenure
    distribution at calendar cardinality, at-risk via exclusive
    running count, then two cumulative float sums in identical fold
    order both engines (ordered by t — deterministic), rounded 1e-6.
    The d/n and d/n^2 steps are each ONE float division on exact
    integers. No degenerate-step guard is needed: unlike ln(1-d/n),
    d/n is finite at d == n_risk.

    reference parity: extends the reference's cohort/retention
    analytics surface (local_test/scripts, events notebook); no
    reference twin — breadth beyond it."""
    month_idx = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    u = (
        read_testdata(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.min(month_idx).alias("first_m"),
            F.max(month_idx).alias("last_m"),
        )
    )
    h = u.agg(F.max("last_m").alias("horizon"))
    lt = u.crossJoin(F.broadcast(h)).select(
        (F.col("last_m") - F.col("first_m")).alias("t"),
        F.when(
            F.col("horizon") - F.col("last_m") <= NA_CENSOR_MONTHS, F.lit(0)
        )
        .otherwise(F.lit(1))
        .alias("died"),
    )
    tot = lt.agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    byt = lt.groupBy("t").agg(
        F.count(F.lit(1)).cast("bigint").alias("leaving"),
        F.sum("died").cast("bigint").alias("d"),
    )
    wo = Window.orderBy("t")
    r = byt.crossJoin(F.broadcast(tot)).withColumn(
        "n_risk",
        F.col("n_users")
        - F.coalesce(
            F.sum("leaving").over(
                wo.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    cum = wo.rowsBetween(Window.unboundedPreceding, 0)
    s = r.select(
        F.col("t").cast("bigint").alias("tenure_months"),
        F.col("d").cast("bigint").alias("churned"),
        F.col("n_risk").cast("bigint").alias("n_at_risk"),
        F.sum(F.col("d") * 1.0 / F.col("n_risk")).over(cum).alias("cumhaz"),
        F.sum(
            F.col("d") * 1.0 / (F.col("n_risk") * 1.0 * F.col("n_risk"))
        )
        .over(cum)
        .alias("varhaz"),
    )
    return s.select(
        "tenure_months",
        "churned",
        "n_at_risk",
        round_compat(F.col("cumhaz"), 6).alias("cumhaz_r6"),
        round_compat(F.col("varhaz"), 6).alias("varhaz_r6"),
    )


# --------------------------------------------------------------------
# One-way ANOVA F test (spend across event types)
# --------------------------------------------------------------------


@register(
    "anova_f_oneway",
    """
    WITH e AS (
      SELECT event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL),
    g AS (
      SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(CAST(SUM(cents) AS DECIMAL(38,0)) AS HUGEINT) AS s,
             CAST(CAST(SUM(CAST(cents AS DECIMAL(38,0)) * cents)
                  AS DECIMAL(38,0)) AS HUGEINT) AS ss
      FROM e GROUP BY event_type),
    t0 AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS k,
             CAST(SUM(n) AS HUGEINT) AS nt,
             CAST(SUM(s) AS HUGEINT) AS s_tot
      FROM g),
    ctr AS (SELECT k, nt, s_tot, s_tot // nt AS c,
                   s_tot - (s_tot // nt) * nt AS s_rem FROM t0),
    terms AS (
      SELECT ((g.s - ctr.c * g.n) * ctr.nt - ctr.s_rem * g.n)
               * ((g.s - ctr.c * g.n) * ctr.nt - ctr.s_rem * g.n) * 100
               // (g.n * ctr.nt * ctr.nt) AS ssb100,
             (g.ss - 2 * ctr.c * g.s + ctr.c * ctr.c * g.n)
               - ((g.s - ctr.c * g.n) * (g.s - ctr.c * g.n) // g.n) AS ssw
      FROM g, ctr),
    t AS (
      SELECT (SELECT CAST(k AS BIGINT) FROM ctr) AS k,
             (SELECT CAST(nt AS BIGINT) FROM ctr) AS n_total,
             CAST(SUM(ssb100) AS DOUBLE) / 100.0 AS ssb,
             CAST(SUM(ssw) AS DOUBLE) AS ssw
      FROM terms)
    SELECT k AS k_groups, n_total,
           ROUND(ssb / 10000.0 * 1e6, 0) / 1e6 AS ss_between_r6,
           ROUND(ssw / 10000.0 * 1e6, 0) / 1e6 AS ss_within_r6,
           CASE WHEN ssw > 0 AND k > 1 AND n_total > k
                THEN ROUND((ssb / (k - 1))
                           / (ssw / (n_total - k)) * 1e6, 0) / 1e6
                ELSE NULL END AS f_stat_r6
    FROM t
    """,
    "one-way ANOVA F statistic for spend across event types: per-group"
    " exact (n, sum, sum-of-squares) sufficient statistics in one"
    " groupBy, between/within sums of squares and F from the k-row"
    " reduce — the k-sample generalization of welch_mean_test",
    tags=("diagnostics", "stats", "agg", "headline"),
)
def anova_f_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's one-way analysis of variance at corpus scale: F =
    (SSB/(k-1)) / (SSW/(N-k)) needs only per-group (n, Σx, Σx²) — ONE
    combinable groupBy over the corpus, then a k-row reduce. Integer
    cents sums accumulate as DECIMAL(38,0) (Σx² crosses int64 around
    1e6 rows/group under ANSI — the spearman lesson).

    The CLOSING arithmetic is integer-exact too (round 11): the
    original float reduce (sb − s_all²/N) cancels ~1e14 operands down
    to ~1e10, and the sf10 sweep caught the two engines disagreeing at
    the 12th significant digit — beyond what the 1e-6 grain absorbs
    once SS magnitudes outgrow double precision (green at sf1, the
    gini lesson one level up: not the SUMS but the CANCELLATION).
    Both engines now center cents at the integer grand mean c =
    floor(S / N) and compute SSB = Σ ((s'_g·N − S'·n_g)²·100) DIV
    (n_g·N²) (x100 scale keeps the per-group truncation at 0.01
    cents², 4e-8 relative even at sf0.001 — inside the independent
    numpy reference's 1e-6) and SSW = Σ (ss'_g − s'_g² DIV n_g)
    entirely in DECIMAL(38,0)/HUGEINT — bit-identical integers,
    converted to DOUBLE once for the fixed closing chain.  The grand
    mean uses an explicit FLOOR formulation on the Spark side (DIV
    truncates toward zero, DuckDB // floors) so parity no longer
    assumes a non-negative value domain (round-12 advisor item); every
    remaining DIV numerator is a square, where truncation == floor
    unconditionally.  The SSB quotient is cast back to DECIMAL(38,0)
    before its SUM (Spark DIV yields BIGINT; the sum's true headroom
    is the decimal's, not int64's — advisor item 2).  Exact through
    ~3e8 events ((s'·N)²·100 < 10^38); past that drop the x100 for
    another decade. Degenerate within-variance pins NULL.

    Width dispatch (round 12): only the corpus-sized groupBy pays for
    DECIMAL — the closing runs on k rows.  When parquet footer stats
    prove n_total·max(cents)² < 2^62 (``functions/width``, true
    through ~1.5e9 events at the observed 0..560 value domain, sf10
    included) the sufficient statistics accumulate as int64 and are
    cast to DECIMAL(38,0) afterwards at k-row cost; the blanket
    DECIMAL aggregation that round 11 introduced (0.24 -> 0.65 s at
    sf0.1) engages only above the proven bound or when stats are
    missing.  Both widths produce identical exact integers, so the
    hash gate is width-independent; the decision is in DISPATCH_LOG."""
    from aws_etl_global_footprint_network_spark.functions.ranking import (
        _log_dispatch,
    )
    from aws_etl_global_footprint_network_spark.functions.width import (
        cents_sumsq_int64_safe,
    )

    e = (
        read_testdata(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
    )
    dec = "decimal(38,0)"
    narrow = cents_sumsq_int64_safe(sf_dir, "events", "value")
    _log_dispatch(
        "anova_acc_width", int(narrow), 0,
        "int64 sufficient stats" if narrow else "decimal(38,0) stats",
    )
    if narrow:
        g = (
            e.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n64"),
                F.sum(F.col("cents")).alias("s64"),
                F.sum(F.col("cents") * F.col("cents")).alias("ss64"),
            )
            .select(
                "event_type",
                F.col("n64").cast(dec).alias("n"),
                F.col("s64").cast(dec).alias("s"),
                F.col("ss64").cast(dec).alias("ss"),
            )
        )
    else:
        g = e.groupBy("event_type").agg(
            F.count(F.lit(1)).cast(dec).alias("n"),
            F.sum(F.col("cents").cast(dec)).alias("s"),
            F.sum((F.col("cents").cast(dec) * F.col("cents"))).alias("ss"),
        )
    ctr = g.agg(
        F.count(F.lit(1)).cast(dec).alias("k"),
        F.sum("n").alias("nt"),
        F.sum("s").alias("s_tot"),
    ).selectExpr(
        "k",
        "nt",
        "s_tot",
        # floor(s_tot / nt) for either sign of s_tot; both branches
        # hand DIV a non-negative numerator, where truncation == floor
        "CASE WHEN s_tot >= 0 THEN s_tot DIV nt"
        " ELSE -((-s_tot + nt - CAST(1 AS decimal(38,0))) DIV nt) END AS c",
    ).selectExpr(
        "k", "nt", "c", "s_tot - c * nt AS s_rem"
    )
    terms = g.crossJoin(F.broadcast(ctr)).selectExpr(
        "k",
        "nt",
        "CAST(((s - c * n) * nt - s_rem * n)"
        " * ((s - c * n) * nt - s_rem * n)"
        " * 100 DIV (n * nt * nt) AS decimal(38,0)) AS ssb100",
        "(ss - 2 * c * s + c * c * n) - ((s - c * n) * (s - c * n) DIV n)"
        " AS ssw",
    )
    t = terms.groupBy("k", "nt").agg(
        (F.sum("ssb100").cast("double") / F.lit(100.0)).alias("ssb"),
        F.sum("ssw").cast("double").alias("ssw"),
    )
    ssb, ssw = F.col("ssb"), F.col("ssw")
    k, nt = F.col("k").cast("bigint"), F.col("nt").cast("bigint")
    f = (ssb / (k - 1)) / (ssw / (nt - k))
    return t.select(
        k.alias("k_groups"),
        nt.alias("n_total"),
        round_compat(ssb / 10000.0, 6).alias("ss_between_r6"),
        round_compat(ssw / 10000.0, 6).alias("ss_within_r6"),
        F.when((ssw > 0) & (k > 1) & (nt > k), round_compat(f, 6)).alias(
            "f_stat_r6"
        ),
    )


# --------------------------------------------------------------------
# Cohen's kappa: agreement between two deterministic document raters
# --------------------------------------------------------------------


@register(
    "cohens_kappa_labels",
    f"""
    WITH lab AS (
      SELECT {RATER_A_SQL} AS a,
             {RATER_B_SQL} AS b
      FROM documents),
    c AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n11,
             CAST(SUM(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n00,
             CAST(SUM(a) AS BIGINT) AS a1, CAST(SUM(b) AS BIGINT) AS b1
      FROM lab)
    SELECT n AS n_docs, n11, n00,
           ROUND((n11 + n00) * 1.0 / n * 1e6, 0) / 1e6 AS po_r6,
           ROUND((a1 * 1.0 * b1 + (n - a1) * 1.0 * (n - b1))
                 / (n * 1.0 * n) * 1e6, 0) / 1e6 AS pe_r6,
           CASE WHEN n * 1.0 * n
                     > a1 * 1.0 * b1 + (n - a1) * 1.0 * (n - b1)
                THEN ROUND(((n11 + n00) * 1.0 / n
                            - (a1 * 1.0 * b1 + (n - a1) * 1.0 * (n - b1))
                              / (n * 1.0 * n))
                           / (1.0 - (a1 * 1.0 * b1
                                     + (n - a1) * 1.0 * (n - b1))
                                    / (n * 1.0 * n)) * 1e6, 0) / 1e6
                ELSE NULL END AS kappa_r6
    FROM c
    """,
    "Cohen's kappa inter-rater agreement between two deterministic"
    " document quality raters (char-count vs token-count gates):"
    " chance-corrected agreement from one 2x2 confusion pass —"
    " the label-audit primitive for LLM annotation pipelines",
    tags=("text", "stats", "governance", "headline"),
)
def cohens_kappa_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annotation-quality auditing at corpus scale: kappa =
    (p_o - p_e)/(1 - p_e), the agreement between raters corrected
    for the agreement their marginals produce by chance. Raters here
    are two deterministic length gates (correlated but not identical
    — the interesting regime). ONE map + ONE combinable aggregate
    gives the full 2x2 table; the closing formula is a fixed float
    chain on exact integers, identical order both engines, rounded
    1e-6. Perfect-chance (p_e = 1) pins NULL. Token count uses the
    space-count+1 identity so both engines tokenize identically."""
    d = read_testdata(spark, sf_dir, "documents")
    lab = d.select(rater_a().alias("a"), rater_b().alias("b"))
    c = lab.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("n11"),
        F.sum(F.when((F.col("a") == 0) & (F.col("b") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("n00"),
        F.sum("a").cast("bigint").alias("a1"),
        F.sum("b").cast("bigint").alias("b1"),
    )
    po = (F.col("n11") + F.col("n00")) * 1.0 / F.col("n")
    pe = (
        F.col("a1") * 1.0 * F.col("b1")
        + (F.col("n") - F.col("a1")) * 1.0 * (F.col("n") - F.col("b1"))
    ) / (F.col("n") * 1.0 * F.col("n"))
    return c.select(
        F.col("n").alias("n_docs"),
        "n11",
        "n00",
        round_compat(po, 6).alias("po_r6"),
        round_compat(pe, 6).alias("pe_r6"),
        F.when(
            F.col("n") * 1.0 * F.col("n")
            > F.col("a1") * 1.0 * F.col("b1")
            + (F.col("n") - F.col("a1")) * 1.0 * (F.col("n") - F.col("b1")),
            round_compat((po - pe) / (1.0 - pe), 6),
        ).alias("kappa_r6"),
    )


# --------------------------------------------------------------------
# Mutual information between two categorical columns
# --------------------------------------------------------------------


@register(
    "mutual_information_cats",
    """
    WITH j AS (
      SELECT o_orderpriority AS p, o_orderstatus AS s,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM orders GROUP BY 1, 2),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM j),
    mp AS (SELECT p, CAST(SUM(c) AS BIGINT) AS cp FROM j GROUP BY p),
    ms AS (SELECT s, CAST(SUM(c) AS BIGINT) AS cs FROM j GROUP BY s),
    terms AS (
      SELECT j.p, j.s, j.c, mp.cp, ms.cs, tot.n,
             (j.c * 1.0 / tot.n)
               * ln((j.c * 1.0 * tot.n) / (mp.cp * 1.0 * ms.cs)) AS term
      FROM j JOIN mp USING (p) JOIN ms USING (s) CROSS JOIN tot)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           MAX(n) AS n_rows,
           ROUND(SUM(term) * 1e6, 0) / 1e6 AS mi_nats_r6,
           ROUND(-SUM((cp * 1.0 / n) * ln(cp * 1.0 / n)) * 1e6, 0) / 1e6
             AS hp_proxy_r6
    FROM terms
    """,
    "mutual information I(priority; status) in nats from the RxC"
    " contingency table: joint counts in one corpus pass, marginals"
    " re-aggregated from the cell table, per-cell p*ln(p/(px*py))"
    " terms summed over the bounded cell set — the dependence-"
    "screening primitive feature selection runs at scale",
    tags=("diagnostics", "stats", "agg", "headline"),
)
def mutual_information_cats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MI needs exactly what chi-square needs — the contingency table
    — so the scale recipe is the same: ONE corpus groupBy to the RxC
    cell grain (bounded: 5 priorities x 3 statuses), marginals from
    the cell table (never a second corpus pass), per-cell float terms
    at one depth summed over <=15 cells (ordering noise ~1e-16
    relative, far below the 1e-6 grain — chisq precedent). Zero
    cells contribute nothing by construction (inner joins on observed
    cells only), which is the correct 0*ln(0)=0 limit. hp_proxy is
    the priority marginal entropy summed over the SAME terms relation
    (each p repeated per status cell — a deliberate same-grain
    formulation kept identical in both engines)."""
    o = read_testdata(spark, sf_dir, "orders")
    j = o.groupBy(
        F.col("o_orderpriority").alias("p"), F.col("o_orderstatus").alias("s")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    tot = j.agg(F.sum("c").cast("bigint").alias("n"))
    mp = j.groupBy("p").agg(F.sum("c").cast("bigint").alias("cp"))
    ms = j.groupBy("s").agg(F.sum("c").cast("bigint").alias("cs"))
    terms = (
        j.join(mp, "p")
        .join(ms, "s")
        .crossJoin(F.broadcast(tot))
        .select(
            "p",
            "s",
            "c",
            "cp",
            "cs",
            "n",
            (
                (F.col("c") * 1.0 / F.col("n"))
                * F.log(
                    (F.col("c") * 1.0 * F.col("n"))
                    / (F.col("cp") * 1.0 * F.col("cs"))
                )
            ).alias("term"),
        )
    )
    return terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.max("n").alias("n_rows"),
        round_compat(F.sum("term"), 6).alias("mi_nats_r6"),
        round_compat(
            -F.sum(
                (F.col("cp") * 1.0 / F.col("n"))
                * F.log(F.col("cp") * 1.0 / F.col("n"))
            ),
            6,
        ).alias("hp_proxy_r6"),
    )


# --------------------------------------------------------------------
# Precision/recall/F1 across a threshold grid (classifier eval)
# --------------------------------------------------------------------

PR_N_THRESHOLDS = 9



def urgent_score_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared (score, y) classifier-evaluation relation: score =
    exact-cents account balance, label = customer ever placed an
    URGENT order. threshold_pr_curve, auc_roc_score and
    calibration_reliability_bins all evaluate THIS one classifier
    from three angles (operating points / ranking / calibration) —
    one construction makes that comparability structural (round-8
    review finding)."""
    c = read_testdata(spark, sf_dir, "customer").select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("score"),
    )
    u = (
        read_testdata(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
    )
    return c.join(u, c.c_custkey == u.o_custkey, "left").select(
        "score",
        F.when(F.col("o_custkey").isNull(), 0).otherwise(1).alias("y"),
    )


@register(
    "threshold_pr_curve",
    f"""
    WITH scored AS (
      SELECT c.c_custkey,
             CAST(ROUND(c.c_acctbal * 100) AS BIGINT) AS score,
             CASE WHEN u.o_custkey IS NULL THEN 0 ELSE 1 END AS y
      FROM customer c
      LEFT JOIN (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_orderpriority = '1-URGENT') u
        ON u.o_custkey = c.c_custkey),
    b AS (SELECT MIN(score) AS lo, MAX(score) AS hi FROM scored),
    grid AS (
      SELECT k,
             b.lo + ((b.hi - b.lo) * k) // {PR_N_THRESHOLDS + 1} AS thr
      FROM range(1, {PR_N_THRESHOLDS + 1}) r(k) CROSS JOIN b),
    agg AS (
      SELECT g.k, g.thr,
             CAST(SUM(CASE WHEN s.score >= g.thr AND s.y = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN s.score >= g.thr AND s.y = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(SUM(CASE WHEN s.score < g.thr AND s.y = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS fn
      FROM scored s CROSS JOIN grid g
      GROUP BY g.k, g.thr)
    SELECT CAST(k AS INT) AS k, thr, tp, fp, fn,
           CASE WHEN tp + fp > 0
                THEN ROUND(tp * 1.0 / (tp + fp) * 1e6, 0) / 1e6 END
             AS precision_r6,
           CASE WHEN tp + fn > 0
                THEN ROUND(tp * 1.0 / (tp + fn) * 1e6, 0) / 1e6 END
             AS recall_r6,
           CASE WHEN 2 * tp + fp + fn > 0
                THEN ROUND(2.0 * tp / (2 * tp + fp + fn) * 1e6, 0) / 1e6 END
             AS f1_r6
    FROM agg
    """,
    f"precision/recall/F1 at {PR_N_THRESHOLDS} evenly-spaced score"
    " thresholds for the acctbal->has-urgent-order classifier: the"
    " classifier-evaluation sweep (PR curve) as one bounded-grid"
    " fanout + combinable conditional aggregate — how a data-quality"
    " model's operating point is chosen over a 100 TB corpus",
    tags=("ml-prep", "stats", "agg", "headline"),
)
def threshold_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation without per-row ranking: confusion
    counts at each threshold are CASE-gated sums, so the whole PR
    curve is one fanout join against a {PR_N_THRESHOLDS}-row
    threshold grid (broadcast — bounded by construction) + one
    combinable groupBy. Nothing sorts, nothing windows; integer
    cents scores make every comparison exact. The grid itself comes
    from a 1-row min/max aggregate (broadcast scalar-subquery
    pattern) with integer-truncated evenly-spaced edges — identical
    arithmetic both engines. Label = customer placed >=1 URGENT
    order (the decile_lift_table labeling, ~86% base rate)."""
    scored = urgent_score_labels(spark, sf_dir)
    b = scored.agg(F.min("score").alias("lo"), F.max("score").alias("hi"))
    grid = (
        spark.range(1, PR_N_THRESHOLDS + 1)
        .select(F.col("id").alias("k"))
        .crossJoin(F.broadcast(b))
        .select(
            "k",
            # exact integer floor division (all operands nonnegative):
            # double division + cast would round vs truncate
            # differently across engines at edge values
            (
                F.col("lo")
                + F.expr(f"((hi - lo) * k) DIV {PR_N_THRESHOLDS + 1}")
            ).alias("thr"),
        )
    )
    agg = (
        scored.crossJoin(F.broadcast(grid))
        .groupBy("k", "thr")
        .agg(
            F.sum(
                F.when((F.col("score") >= F.col("thr")) & (F.col("y") == 1), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("tp"),
            F.sum(
                F.when((F.col("score") >= F.col("thr")) & (F.col("y") == 0), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("fp"),
            F.sum(
                F.when((F.col("score") < F.col("thr")) & (F.col("y") == 1), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("fn"),
        )
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return agg.select(
        F.col("k").cast("int").alias("k"),
        "thr",
        "tp",
        "fp",
        "fn",
        F.when(tp + fp > 0, round_compat(tp * 1.0 / (tp + fp), 6)).alias(
            "precision_r6"
        ),
        F.when(tp + fn > 0, round_compat(tp * 1.0 / (tp + fn), 6)).alias(
            "recall_r6"
        ),
        F.when(
            2 * tp + fp + fn > 0,
            round_compat(2.0 * tp / (2 * tp + fp + fn), 6),
        ).alias("f1_r6"),
    )


# --------------------------------------------------------------------
# Seasonal decomposition of the daily spend series (trend/seasonal/resid)
# --------------------------------------------------------------------


@register(
    "seasonal_decompose_daily",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events WHERE value IS NOT NULL GROUP BY 1),
    win AS (
      SELECT a.day, a.cents,
             CAST(SUM(b.cents) AS BIGINT) AS sum7,
             CAST(COUNT(*) AS BIGINT) AS cnt7
      FROM daily a
      JOIN daily b ON b.day BETWEEN a.day - 3 AND a.day + 3
      GROUP BY a.day, a.cents
      HAVING COUNT(*) = 7),
    detr AS (
      SELECT day, cents, sum7,
             isodow(day) AS dow,
             cents * 7 - sum7 AS detr7
      FROM win),
    seas AS (
      SELECT dow, CAST(SUM(detr7) AS BIGINT) AS s_sum,
             CAST(COUNT(*) AS BIGINT) AS s_cnt
      FROM detr GROUP BY dow),
    out AS (
      SELECT d.day, d.cents,
             d.sum7 / 7.0 AS trend,
             s.s_sum / (7.0 * s.s_cnt) AS seasonal,
             d.detr7 / 7.0 - s.s_sum / (7.0 * s.s_cnt) AS resid
      FROM detr d JOIN seas s ON s.dow = d.dow)
    SELECT day, cents,
           ROUND(trend * 1e6, 0) / 1e6 AS trend_r6,
           ROUND(seasonal * 1e6, 0) / 1e6 AS seasonal_r6,
           ROUND(resid * 1e6, 0) / 1e6 AS resid_r6
    FROM out
    """,
    "classical additive seasonal decomposition of daily spend: trend"
    " = centered 7-day moving average (gap-aware shifted-join window,"
    " full windows only), weekly seasonal = per-ISO-weekday mean of"
    " the detrended series, residual = remainder — all sufficient"
    " sums exact integers, three rounded divisions",
    tags=("temporal", "stats", "timeseries", "headline"),
)
def seasonal_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The moving-average decomposition every forecasting pipeline
    starts with, computed gap-aware and engine-exact: the centered
    window is a CALENDAR self-join (day +/- 3) on the bounded daily
    table — never a ROWS window, which silently misaligns across
    missing days (the acf_daily_counts lesson) — and full 7-day
    windows only (HAVING cnt = 7) pin the same edge handling in both
    engines. Exactness recipe: detrended values are kept on the x7
    integer scale (cents*7 - sum7 — exact int64), the weekday
    seasonal means are exact integer sums with ONE division, and the
    residual is a single float subtraction of two exact-input
    divisions — no accumulated float summation anywhere. The daily
    relation is calendar-cardinality, so every join here is
    AQE-broadcast-sized regardless of corpus size; the corpus-scale
    work is exactly one groupBy(day)."""
    out = seasonal_daily_components(spark, sf_dir)
    return out.select(
        "day",
        "cents",
        round_compat(F.col("trend"), 6).alias("trend_r6"),
        round_compat(F.col("seasonal"), 6).alias("seasonal_r6"),
        round_compat(F.col("resid"), 6).alias("resid_r6"),
    )


def seasonal_daily_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared UNROUNDED decomposition relation (day, cents, trend,
    seasonal, resid) consumed by seasonal_decompose_daily (rounds it)
    and seasonal_anomaly_days (standardizes the residual) — one
    construction so a fix to the window/edge handling propagates to
    both (round-8 review finding). Exactness recipe documented on the
    operator above.

    The centered 7-day calendar window is a CONVOLUTION, not a
    self-join: each daily row scatters its cents to the 7 target days
    it contributes to (explode of fixed offsets -3..+3) and one tiny
    groupBy(target_day) gathers sum7/cnt7 AND the day's own cents
    (the offset-0 contribution) in the same pass. The previous
    range-condition self-join planned as a broadcast nested loop whose
    build AND stream sides each re-ran the events scan + daily
    aggregation (no exchange reuse across a broadcast boundary) —
    at sf1 the corpus scan ran 3x per consumer. Now events is scanned
    EXACTLY once: the detrended frame (calendar cardinality, ~1 row
    per day) is persisted, so the weekday-seasonal broadcast and the
    final join both read the cache. Gap-awareness is preserved:
    cnt7 = 7 requires all seven calendar neighbours present, which
    also guarantees the offset-0 row exists (sf1, warm-session
    rounds: decompose 1.2/1.0/1.1 s and the anomaly consumer
    2.1/1.8/1.6 s, vs 1.5 / 3.0 s on the committed round-12 pair;
    identical rows/hash at sf0.01)."""
    from aws_etl_global_footprint_network_spark.functions.cache import CacheScope

    e = (
        read_testdata(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            F.col("ts").cast("date").alias("day"),
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
    )
    daily = e.groupBy("day").agg(
        F.sum("cents").cast("bigint").alias("cents")
    )
    # scatter: day d contributes its cents to target days d-3 .. d+3
    contrib = daily.select(
        F.explode(F.array([F.lit(o) for o in range(-3, 4)])).alias("off"),
        "day",
        "cents",
    ).select(
        F.date_add(F.col("day"), F.col("off")).alias("day"),
        F.col("off"),
        F.col("cents"),
    )
    win = (
        contrib.groupBy("day")
        .agg(
            F.sum("cents").cast("bigint").alias("sum7"),
            F.count(F.lit(1)).cast("bigint").alias("cnt7"),
            F.max(F.when(F.col("off") == 0, F.col("cents")))
            .cast("bigint")
            .alias("cents"),
        )
        .filter(F.col("cnt7") == 7)
    )
    # ISO weekday: Spark dayofweek is 1=Sunday; shift to 1=Monday..7=Sunday
    isodow = (F.dayofweek("day") + 5) % 7 + 1
    detr = win.select(
        "day",
        "cents",
        "sum7",
        isodow.alias("dow"),
        (F.col("cents") * 7 - F.col("sum7")).alias("detr7"),
    )
    detr = CacheScope("seasonal_daily_components").persist(detr)
    seas = detr.groupBy("dow").agg(
        F.sum("detr7").cast("bigint").alias("s_sum"),
        F.count(F.lit(1)).cast("bigint").alias("s_cnt"),
    )
    return detr.join(F.broadcast(seas), "dow").select(
        "day",
        "cents",
        (F.col("sum7") / 7.0).alias("trend"),
        (F.col("s_sum") / (7.0 * F.col("s_cnt"))).alias("seasonal"),
        (
            F.col("detr7") / 7.0
            - F.col("s_sum") / (7.0 * F.col("s_cnt"))
        ).alias("resid"),
    )


# --------------------------------------------------------------------
# Theil-Sen robust trend (median of pairwise slopes) per event type
# --------------------------------------------------------------------


@register(
    "theil_sen_trend",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    slopes AS (
      SELECT a.event_type,
             (b.cents - a.cents) * 1.0 / (b.day - a.day) AS slope
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type AND b.day > a.day),
    sen AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             quantile_cont(CAST(slope AS DOUBLE), 0.5) AS sen_slope
      FROM slopes GROUP BY event_type),
    icpt AS (
      SELECT d.event_type,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             quantile_cont(
               CAST(d.cents - s.sen_slope
                    * (d.day - DATE '2024-01-01') AS DOUBLE),
               0.5) AS sen_icpt
      FROM daily d JOIN sen s ON s.event_type = d.event_type
      GROUP BY d.event_type)
    SELECT i.event_type, i.n_days, s.n_pairs,
           ROUND(s.sen_slope * 1e6, 0) / 1e6 AS sen_slope_r6,
           ROUND(i.sen_icpt * 1e6, 0) / 1e6 AS sen_intercept_r6
    FROM icpt i JOIN sen s ON s.event_type = i.event_type
    """,
    "Theil-Sen robust trend of daily spend per event type: the median"
    " of all pairwise slopes (29.3% breakdown point vs OLS's 0) over"
    " the calendar-bounded daily series, intercept = median residual"
    " at the fitted slope — gap-aware via calendar day differences",
    tags=("temporal", "stats", "timeseries", "headline"),
)
def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The robust companion to spend_trend_ols: OLS flips sign under
    a single corrupted day, the Theil-Sen median-of-slopes estimator
    tolerates ~29% outliers. The pair join is quadratic ONLY in the
    number of DAYS (calendar-bounded — 435 pairs per type for a
    30-day corpus, invariant to corpus row count), so the corpus-
    scale work is one groupBy(type, day); everything after runs on
    bounded relations. Slopes divide by calendar-day differences
    (gap-aware). Median = exact interpolated percentile on doubles:
    Spark `percentile` and DuckDB `quantile_cont` sort identical
    doubles and average the same two middles — bit-equal before the
    1e-6 rounding. (DuckDB's bare `median` on DECIMAL is DISCRETE —
    the oracle must cast to DOUBLE and use quantile_cont.) The
    intercept pass joins the 1-row-per-type slope back (broadcast)
    and medians the per-day residuals."""
    e = (
        read_testdata(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
    )
    daily = e.groupBy("event_type", "day").agg(
        F.sum("cents").cast("bigint").alias("cents")
    )
    a, b = daily.alias("a"), daily.alias("b")
    slopes = a.join(
        b,
        (F.col("b.event_type") == F.col("a.event_type"))
        & (F.col("b.day") > F.col("a.day")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            (F.col("b.cents") - F.col("a.cents"))
            * 1.0
            / F.datediff(F.col("b.day"), F.col("a.day"))
        ).alias("slope"),
    )
    sen = slopes.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.expr("percentile(CAST(slope AS DOUBLE), 0.5)").alias("sen_slope"),
    )
    icpt = (
        daily.join(F.broadcast(sen), "event_type")
        .select(
            "event_type",
            (
                F.col("cents")
                - F.col("sen_slope")
                * F.datediff(F.col("day"), F.lit("2024-01-01").cast("date"))
            ).cast("double").alias("res"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.expr("percentile(res, 0.5)").alias("sen_icpt"),
        )
    )
    return icpt.join(sen, "event_type").select(
        "event_type",
        "n_days",
        "n_pairs",
        round_compat(F.col("sen_slope"), 6).alias("sen_slope_r6"),
        round_compat(F.col("sen_icpt"), 6).alias("sen_intercept_r6"),
    )


# --------------------------------------------------------------------
# Table-valued function suite: posexplode ordinality + sequence
# --------------------------------------------------------------------

TVF_KEY_CAP = 300  # bounded output: parts under this key only


@register(
    "tvf_suite",
    f"""
    WITH p AS (
      SELECT p_partkey, p_name, p_size FROM part
      WHERE p_partkey < {TVF_KEY_CAP}),
    words AS (
      SELECT p_partkey, 'word' AS kind,
             CAST(generate_subscripts(string_split(p_name, ' '), 1)
                  AS INT) AS idx,
             unnest(string_split(p_name, ' ')) AS val
      FROM p),
    seqs AS (
      SELECT p_partkey, 'seq' AS kind,
             CAST(unnest(generate_series(1, p_size % 4 + 1)) AS INT)
               AS idx,
             CAST(unnest(generate_series(1, p_size % 4 + 1)) AS VARCHAR)
               AS val
      FROM p)
    SELECT CAST(p_partkey AS BIGINT) AS p_partkey, kind, idx, val
    FROM (SELECT * FROM words UNION ALL SELECT * FROM seqs)
    """,
    "table-valued-function breadth: posexplode-with-ordinality over"
    " split part names (1-based positions pinned across engines) and"
    " sequence() generation, unioned into one typed relation — the"
    " generator surface ETL uses for array flattening and date/index"
    " spines",
    tags=("functions", "tvf", "headline"),
)
def tvf_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator/TVF surface in one hash-checked relation:
    ``posexplode`` (position + value — Spark's 0-based pos shifted to
    1-based to match SQL ordinality) and ``sequence`` (dynamic
    per-row integer spine, exercised with a data-dependent length).
    Both are map-side whole-stage-codegen generators — no shuffle at
    any scale; the key cap only bounds the oracle's output, not the
    plan shape. The DuckDB twin derives ordinality via
    generate_subscripts (WITH ORDINALITY is unimplemented there) —
    an independent formulation of the same contract."""
    p = (
        read_testdata(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < TVF_KEY_CAP)
        .select("p_partkey", "p_name", "p_size")
    )
    words = p.select(
        F.col("p_partkey").cast("bigint").alias("p_partkey"),
        F.lit("word").alias("kind"),
        F.posexplode(F.split("p_name", " ")).alias("pos", "val"),
    ).select(
        "p_partkey",
        "kind",
        (F.col("pos") + 1).cast("int").alias("idx"),
        "val",
    )
    seqs = p.select(
        F.col("p_partkey").cast("bigint").alias("p_partkey"),
        F.lit("seq").alias("kind"),
        F.explode(
            F.sequence(F.lit(1), F.col("p_size") % 4 + 1)
        ).alias("k"),
    ).select(
        "p_partkey",
        "kind",
        F.col("k").cast("int").alias("idx"),
        F.col("k").cast("string").alias("val"),
    )
    return words.unionByName(seqs)


# --------------------------------------------------------------------
# Exact ROC AUC, rank-free (the Mann-Whitney identity)
# --------------------------------------------------------------------


@register(
    "auc_roc_score",
    """
    WITH scored AS (
      SELECT CAST(ROUND(c.c_acctbal * 100) AS BIGINT) AS score,
             CASE WHEN u.o_custkey IS NULL THEN 0 ELSE 1 END AS y
      FROM customer c
      LEFT JOIN (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_orderpriority = '1-URGENT') u
        ON u.o_custkey = c.c_custkey),
    v AS (
      SELECT score, SUM(y) AS n1v, COUNT(*) AS t
      FROM scored GROUP BY score),
    c AS (
      SELECT score, n1v, t,
             COALESCE(SUM(t) OVER (ORDER BY score
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS cb
      FROM v),
    s AS (
      SELECT SUM(n1v) AS n1, SUM(t - n1v) AS n0,
             SUM(n1v * (2 * cb + t + 1)) AS r1_twice
      FROM c)
    SELECT CAST(n1 AS BIGINT) AS n_pos, CAST(n0 AS BIGINT) AS n_neg,
           CASE WHEN n1 > 0 AND n0 > 0
                THEN ROUND((r1_twice - n1 * (n1 + 1)) / 2.0
                           / (CAST(n1 AS DOUBLE) * n0) * 1e6, 0) / 1e6
                END AS auc_r6,
           CASE WHEN n1 > 0 AND n0 > 0
                THEN ROUND(((r1_twice - n1 * (n1 + 1)) / 1.0
                            / (CAST(n1 AS DOUBLE) * n0) - 1.0)
                           * 1e6, 0) / 1e6
                END AS gini_r6
    FROM s
    """,
    "exact ROC AUC of the acctbal->has-urgent-order classifier via"
    " the Mann-Whitney identity AUC = U/(n1*n0): value-grouped counts"
    " + one exclusive cumulative count — ties get the standard 0.5"
    " credit automatically, no per-row rank ever materialises; Gini"
    " coefficient = 2*AUC - 1 from the same statistic",
    tags=("ml-prep", "stats", "agg", "headline"),
)
def auc_roc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The companion to threshold_pr_curve: the PR sweep evaluates
    chosen operating points, AUC integrates over all of them — and
    the exact tie-corrected AUC is U/(n1*n0), the Mann-Whitney
    statistic this repo already computes rank-free (mann_whitney_u's
    doubled-rank recipe over a global ``ranking.value_ranks`` score
    table; the scored relation has one row per customer, so the
    customer footer sizes it). r1_twice <= 2N^2 stays exact int64 to
    ~2^31 rows; two float divisions close, rounded 1e-6. Degenerate
    single-class input pins NULL both engines."""
    from aws_etl_global_footprint_network_spark.functions.cache import CacheScope
    from aws_etl_global_footprint_network_spark.functions.ranking import value_ranks

    cum = value_ranks(
        urgent_score_labels(spark, sf_dir),
        None,
        "score",
        {"n1v": F.sum("y"), "t": F.count(F.lit(1))},
        {"cb": "t"},
        CacheScope("auc_roc_score"),
        (sf_dir, "customer"),
    )
    s = cum.agg(
        F.sum("n1v").alias("n1"),
        F.sum(F.col("t") - F.col("n1v")).alias("n0"),
        F.sum(F.col("n1v") * (2 * F.col("cb") + F.col("t") + 1)).alias(
            "r1_twice"
        ),
    )
    n1, n0 = F.col("n1"), F.col("n0")
    u1 = (F.col("r1_twice") - n1 * (n1 + 1)) / 2.0
    auc = u1 / (n1.cast("double") * n0)
    return s.select(
        n1.cast("bigint").alias("n_pos"),
        n0.cast("bigint").alias("n_neg"),
        F.when((n1 > 0) & (n0 > 0), round_compat(auc, 6)).alias("auc_r6"),
        F.when(
            (n1 > 0) & (n0 > 0), round_compat(2.0 * auc - 1.0, 6)
        ).alias("gini_r6"),
    )


# --------------------------------------------------------------------
# Zipf rank-frequency slope of the token distribution
# --------------------------------------------------------------------


@register(
    "zipf_slope_tokens",
    """
    WITH tok AS (
      SELECT unnest(list_filter(
               string_split_regex(lower(text), '[^a-z0-9]+'),
               t -> t <> '')) AS token
      FROM documents),
    tf AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
      FROM tok GROUP BY token),
    ranked AS (
      SELECT freq,
             ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS rnk
      FROM tf),
    pts AS (
      SELECT ln(CAST(rnk AS DOUBLE)) AS x, ln(CAST(freq AS DOUBLE)) AS y
      FROM ranked),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM pts)
    SELECT n AS n_vocab,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1e6, 0) / 1e6
             AS zipf_slope_r6,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
                 * 1e6, 0) / 1e6 AS intercept_r6,
           ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy))
                 * 1e6, 0) / 1e6 AS r2_r6
    FROM s
    """,
    "Zipf's-law exponent of the corpus token distribution: log-log"
    " OLS of frequency vs rank over the full vocabulary (ranks from"
    " the cardinality-adaptive rank: a cap-bounded window for"
    " measured vocabularies under 1M, the distributed recipe past) —"
    " the"
    " corpus-health diagnostic (natural text ~ -1; spam/boilerplate"
    " bends the tail)",
    tags=("text", "stats", "corpus", "headline"),
)
def zipf_slope_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus linguistics at scale: token frequencies from one
    explode+groupBy, exact global ranks over (freq DESC, token) via
    distributed_row_number (range repartition + offsets — the same
    recipe percent_rank_normalize uses; a bare ROW_NUMBER() OVER
    (ORDER BY ...) single-tasks the whole vocabulary), then the
    log-log OLS slope from six sufficient sums. The float sums run
    over vocabulary-cardinality doubles in engine-local order —
    summation noise ~1e-11 relative sits far below the 1e-6 rounding
    grain (the partial_corr precedent); ln on identical doubles is
    correctly-rounded in both engines' libm (the A4 compound-return
    precedent)."""
    from aws_etl_global_footprint_network_spark.functions.cache import CacheScope
    from aws_etl_global_footprint_network_spark.functions.ranking import (
        adaptive_row_number,
    )
    from aws_etl_global_footprint_network_spark.functions.text import tokens

    d = read_testdata(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    ranked = adaptive_row_number(
        tf,
        [F.col("freq").desc(), F.col("token").asc()],
        "rnk",
        CacheScope("zipf_slope_tokens"),
    )
    pts = ranked.select(
        F.log(F.col("rnk").cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n")
    dxy = n * F.col("sxy") - F.col("sx") * F.col("sy")
    dxx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    dyy = n * F.col("syy") - F.col("sy") * F.col("sy")
    slope = dxy / dxx
    return s.select(
        n.alias("n_vocab"),
        round_compat(slope, 6).alias("zipf_slope_r6"),
        round_compat((F.col("sy") - slope * F.col("sx")) / n, 6).alias(
            "intercept_r6"
        ),
        round_compat(dxy * dxy / (dxx * dyy), 6).alias("r2_r6"),
    )


# --------------------------------------------------------------------
# Brown-Forsythe robust variance-equality test (median-centered Levene)
# --------------------------------------------------------------------


@register(
    "brown_forsythe_test",
    """
    WITH e AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL),
    v AS (
      SELECT event_type, cents, CAST(COUNT(*) AS BIGINT) AS t
      FROM e GROUP BY 1, 2),
    c AS (
      SELECT event_type, cents, t,
             SUM(t) OVER (PARTITION BY event_type ORDER BY cents
                          ROWS UNBOUNDED PRECEDING) AS c1
      FROM v),
    n AS (SELECT event_type, CAST(SUM(t) AS BIGINT) AS n
          FROM v GROUP BY event_type),
    med AS (
      SELECT c.event_type,
             SUM(CASE WHEN c.c1 >= (n.n + 1) // 2
                       AND c.c1 - c.t < (n.n + 1) // 2
                      THEN c.cents ELSE 0 END)
             + SUM(CASE WHEN c.c1 >= n.n // 2 + 1
                         AND c.c1 - c.t < n.n // 2 + 1
                        THEN c.cents ELSE 0 END) AS med2
      FROM c JOIN n USING (event_type) GROUP BY c.event_type),
    z AS (
      SELECT e.event_type, ABS(2 * e.cents - m.med2) AS z2
      FROM e JOIN med m USING (event_type)),
    g AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(z2) AS DECIMAL(38,0)) AS s,
             CAST(SUM(CAST(z2 AS DECIMAL(38,0)) * z2) AS DECIMAL(38,0))
               AS ss
      FROM z GROUP BY event_type),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n) AS BIGINT) AS n_total,
             SUM(CAST(s AS DOUBLE)) AS s_all,
             SUM(CAST(ss AS DOUBLE)) AS ss_all,
             SUM(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) AS sb
      FROM g)
    SELECT k AS k_groups, n_total,
           CASE WHEN ss_all - sb > 0 AND k > 1 AND n_total > k
                THEN ROUND(((sb - s_all * s_all / n_total) / (k - 1))
                           / ((ss_all - sb) / (n_total - k)) * 1e6, 0) / 1e6
                END AS f_bf_r6
    FROM t
    """,
    "Brown-Forsythe variance-equality test for spend across event"
    " types: one-way ANOVA on |x - group median| — the robust"
    " pre-check before pooled-variance tests; exact doubled-scale"
    " medians located from value-grouped cumulative counts (no"
    " per-group sort buffers), then the anova_f_oneway machinery",
    tags=("diagnostics", "stats", "agg", "headline"),
)
def brown_forsythe_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance homogeneity without fragile normality assumptions
    (Levene centered at the MEDIAN — the Brown-Forsythe variant).
    Scale recipe in three exact-integer stages: (1) per-group exact
    medians on the DOUBLED scale (med2 = lo+hi order statistics, so
    .5 medians stay integer) located from the ``ranking.value_ranks``
    value table — a run of t rows after cb earlier ones holds the
    order statistics cb+1..cb+t, and the group size n is a window
    total — never a per-group sort buffer (Spark's exact `percentile`
    agg holds the whole group on one reducer); (2) z2 = |2x - med2| per
    row, exact int64, via a k-row broadcast join; (3) the one-way-F
    close over DECIMAL(38,0) sufficient sums (the anova_f_oneway
    machinery — the x2 scale cancels in F). The oracle derives the
    same medians from a plain value window (sound single-node), an
    independent formulation."""
    from aws_etl_global_footprint_network_spark.functions.cache import CacheScope
    from aws_etl_global_footprint_network_spark.functions.ranking import value_ranks

    e = (
        read_testdata(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
    )
    cn = value_ranks(
        e,
        "event_type",
        "cents",
        {"t": F.count(F.lit(1)).cast("bigint")},
        {"cb": "t"},
        CacheScope("brown_forsythe_test"),
        (sf_dir, "events"),
        totals={"n": F.col("t")},
    )
    # median order-statistic positions as exact integer floor division
    lo_pos = F.expr("(n + 1) DIV 2")
    hi_pos = F.expr("n DIV 2 + 1")
    at = lambda pos: F.sum(  # noqa: E731 - local alias for symmetry
        F.when((F.col("cb") < pos) & (F.col("cb") + F.col("t") >= pos),
               F.col("cents")).otherwise(0)
    )
    med = cn.groupBy("event_type").agg(
        (at(lo_pos) + at(hi_pos)).alias("med2")
    )
    z = e.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(2 * F.col("cents") - F.col("med2")).alias("z2")
    )
    dec = "decimal(38,0)"
    g = z.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("z2").cast(dec)).alias("s"),
        F.sum(F.col("z2").cast(dec) * F.col("z2")).alias("ss"),
    )
    t = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("n_total"),
        F.sum(F.col("s").cast("double")).alias("s_all"),
        F.sum(F.col("ss").cast("double")).alias("ss_all"),
        F.sum(
            F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
        ).alias("sb"),
    )
    ssb = F.col("sb") - F.col("s_all") * F.col("s_all") / F.col("n_total")
    ssw = F.col("ss_all") - F.col("sb")
    f = (ssb / (F.col("k") - 1)) / (ssw / (F.col("n_total") - F.col("k")))
    return t.select(
        F.col("k").alias("k_groups"),
        "n_total",
        F.when(
            (ssw > 0) & (F.col("k") > 1) & (F.col("n_total") > F.col("k")),
            round_compat(f, 6),
        ).alias("f_bf_r6"),
    )


# --------------------------------------------------------------------
# Position-based (U-shaped) multi-touch attribution
# --------------------------------------------------------------------

PBA_WINDOW_US = 1_800_000_000  # 30-minute attribution lookback


@register(
    "position_based_attribution",
    f"""
    WITH e AS (
      SELECT event_id, user_id, event_type, epoch_us(ts) AS t,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL),
    p AS (SELECT event_id AS pid, user_id, t AS tp, cents AS pcents
          FROM e WHERE event_type = 'purchase'),
    v AS (SELECT event_id AS tid, user_id, event_type AS ttype, t AS tv
          FROM e WHERE event_type IN ('view', 'click')),
    pair AS (
      SELECT p.pid, p.pcents, v.tid, v.ttype, v.tv
      FROM p JOIN v ON v.user_id = p.user_id
       AND v.tv >= p.tp - {PBA_WINDOW_US} AND v.tv < p.tp),
    pos AS (
      SELECT pid, pcents, ttype,
             ROW_NUMBER() OVER (PARTITION BY pid
                                ORDER BY tv, tid) AS pos,
             CAST(COUNT(*) OVER (PARTITION BY pid) AS BIGINT) AS n
      FROM pair),
    credit AS (
      SELECT pid, pcents, ttype, pos, n,
             CASE WHEN n = 1 THEN 1000
                  WHEN n = 2 THEN 500
                  WHEN pos = 1 OR pos = n THEN 400
                  ELSE 200 // (n - 2)
                       + CASE WHEN pos - 1 <= 200 % (n - 2)
                              THEN 1 ELSE 0 END
             END AS milli
      FROM pos)
    SELECT ttype AS touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(SUM(pcents * milli) AS BIGINT) AS credited_millicents
    FROM credit GROUP BY ttype
    """,
    "position-based (U-shaped 40/20/40) multi-touch attribution:"
    " each purchase's value splits 40% to the first touch, 40% to the"
    " last, 20% across the middles (largest-remainder in exact"
    " milli-credits) over view/click touches in the preceding 30"
    " minutes — all-integer credit accounting, zero float drift",
    tags=("behavioral", "attribution", "temporal", "headline"),
)
def position_based_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-touch member of the attribution family (last_touch_
    attribution = winner-take-all): credit is a deterministic integer
    function of (position, n) — 1000 milli for solo touches, 500/500
    for pairs, 400/middles/400 otherwise with the 200-milli middle
    pool split by largest remainder (earliest middles take the
    remainder — the proration_largest_remainder discipline), so
    credited value is an EXACT integer millicents sum at any scale.
    The touch-pair join buckets time into window-width cells (the
    window_agg_join recipe: purchase probes its own + previous cell,
    exact band as residual) — an equi-join on (user, bucket) that
    shuffles and AQE-skew-splits normally; position/count windows
    partition by PURCHASE id, bounded by touches-per-30-minutes.
    The oracle keeps the naive band join (sound single-node)."""
    e = (
        read_testdata(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("t"),
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
    )
    bucket = F.expr(f"(t - pmod(t, {PBA_WINDOW_US})) DIV {PBA_WINDOW_US}")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        "user_id",
        F.col("t").alias("tp"),
        F.col("cents").alias("pcents"),
        bucket.alias("b"),
    )
    v = e.filter(F.col("event_type").isin("view", "click")).select(
        F.col("event_id").alias("tid"),
        F.col("user_id").alias("v_user"),
        F.col("event_type").alias("ttype"),
        F.col("t").alias("tv"),
        bucket.alias("vb"),
    )
    pb = p.select(
        "pid",
        "user_id",
        "tp",
        "pcents",
        F.explode(F.array(F.col("b") - 1, F.col("b"))).alias("probe_b"),
    )
    pair = pb.join(
        v,
        (F.col("v_user") == F.col("user_id"))
        & (F.col("vb") == F.col("probe_b")),
    ).filter(
        (F.col("tv") >= F.col("tp") - PBA_WINDOW_US)
        & (F.col("tv") < F.col("tp"))
    )
    wp = Window.partitionBy("pid")
    pos = pair.select(
        "pid",
        "pcents",
        "ttype",
        F.row_number().over(wp.orderBy("tv", "tid")).alias("pos"),
        F.count(F.lit(1)).over(wp).cast("bigint").alias("n"),
    )
    nm2 = F.col("n") - 2
    milli = (
        F.when(F.col("n") == 1, 1000)
        .when(F.col("n") == 2, 500)
        .when((F.col("pos") == 1) | (F.col("pos") == F.col("n")), 400)
        .otherwise(
            F.expr("200 DIV (n - 2)")
            + F.when(F.col("pos") - 1 <= 200 % nm2, 1).otherwise(0)
        )
    )
    return (
        pos.withColumn("milli", milli)
        .groupBy(F.col("ttype").alias("touch_type"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_touches"),
            F.sum(F.col("pcents") * F.col("milli"))
            .cast("bigint")
            .alias("credited_millicents"),
        )
    )


# --------------------------------------------------------------------
# kNN label classification accuracy over the ANN top-k (ML eval)
# --------------------------------------------------------------------

# The eval operators below reuse the exact ANN top-k as their ranked
# input — importing the module registers it, and its oracle SQL is
# inlined as a CTE so both engines share ONE definition of the
# ranking under evaluation.
from aws_etl_global_footprint_network_spark.operators import (  # noqa: E402
    similarity as _similarity,
)

_ANN_SQL = REGISTRY["ann_cosine_topk"].oracle


@register(
    "knn_label_accuracy",
    f"""
    WITH knn AS ({_ANN_SQL}),
    q AS (SELECT vec_id, label AS true_label FROM embeddings),
    votes AS (
      SELECT k.query_id, e.label AS pred, CAST(COUNT(*) AS BIGINT) AS n
      FROM knn k JOIN embeddings e ON e.vec_id = k.neighbor_id
      GROUP BY 1, 2),
    best AS (
      SELECT query_id, pred, n,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY n DESC, pred) AS rn
      FROM votes)
    SELECT b.query_id, CAST(q.true_label AS INT) AS true_label,
           CAST(b.pred AS INT) AS pred_label, b.n AS n_votes,
           CAST(CASE WHEN b.pred = q.true_label THEN 1 ELSE 0 END AS INT)
             AS correct
    FROM best b JOIN q ON q.vec_id = b.query_id
    WHERE b.rn = 1
    """,
    "k-nearest-neighbor label classification over the exact cosine"
    " top-k: majority vote of neighbor labels per query (count desc,"
    " label tie-break) vs the query's own label — the eval loop that"
    " validates an embedding space before it curates data",
    tags=("similarity", "ml-prep", "eval", "headline"),
)
def knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composes the exact ANN operator into a classifier eval: the
    top-k relation is bounded (N_QUERIES x TOPK rows), so the vote
    aggregation, the argmax window (partitioned by query — <= k rows
    per partition), and the label joins all run on a tiny relation;
    the corpus-scale work is exactly the ANN scored pass it reuses.
    Deterministic argmax: highest vote count, smallest label on
    ties. The oracle inlines the ann_cosine_topk oracle as a CTE —
    one definition, two engines."""
    from aws_etl_global_footprint_network_spark.operators.similarity import (
        ann_cosine_topk,
    )

    knn = ann_cosine_topk(spark, sf_dir)
    emb = read_testdata(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("int").alias("label")
    )
    votes = (
        knn.join(emb, knn.neighbor_id == emb.vec_id)
        .groupBy("query_id", F.col("label").alias("pred"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("n").desc(), F.col("pred")
    )
    best = votes.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    q = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
    )
    return best.join(q, "query_id").select(
        "query_id",
        F.col("true_label").cast("int").alias("true_label"),
        F.col("pred").cast("int").alias("pred_label"),
        F.col("n").alias("n_votes"),
        F.when(F.col("pred") == F.col("true_label"), 1)
        .otherwise(0)
        .cast("int")
        .alias("correct"),
    )


# --------------------------------------------------------------------
# nDCG@k of the ANN ranking against label-match relevance (retrieval eval)
# --------------------------------------------------------------------


@register(
    "ndcg_label_relevance",
    f"""
    WITH knn AS ({_ANN_SQL}),
    rel AS (
      SELECT k.query_id, k.rank,
             CASE WHEN e.label = q.label THEN 1 ELSE 0 END AS gain
      FROM knn k
      JOIN embeddings e ON e.vec_id = k.neighbor_id
      JOIN embeddings q ON q.vec_id = k.query_id),
    dcg AS (
      SELECT query_id,
             CAST(SUM(gain) AS BIGINT) AS n_rel,
             SUM(gain / (ln(rank + 1) / ln(2))) AS dcg
      FROM rel GROUP BY query_id),
    ideal AS (
      SELECT query_id,
             SUM(1.0 / (ln(r + 1) / ln(2))) AS idcg
      FROM (SELECT query_id, n_rel FROM dcg) d,
           unnest(generate_series(1, GREATEST(d.n_rel, 0))) AS s(r)
      GROUP BY query_id)
    SELECT d.query_id, d.n_rel,
           ROUND(d.dcg * 1e6, 0) / 1e6 AS dcg_r6,
           CASE WHEN d.n_rel > 0
                THEN ROUND(d.dcg / i.idcg * 1e6, 0) / 1e6 END AS ndcg_r6
    FROM dcg d LEFT JOIN ideal i ON i.query_id = d.query_id
    """,
    "nDCG@k of the exact cosine ranking with label-match relevance:"
    " DCG = sum gain/log2(rank+1) per query, normalized by the ideal"
    " ordering of the same gains — the standard graded retrieval"
    " metric, here over binary gains on the bounded top-k relation",
    tags=("similarity", "retrieval", "eval", "headline"),
)
def ndcg_label_relevance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality eval on the same composed machinery as
    knn_label_accuracy: binary gain (neighbor label == query label)
    over the bounded top-k relation, DCG with the standard
    1/log2(rank+1) discount, ideal DCG from the gains re-ranked
    perfectly — for binary gains that is the first n_rel discount
    terms, generated with a sequence() spine (no sort needed). All
    sums run over <= k = 5 terms per query (ordering noise ~1e-16,
    far below the 1e-6 grain); log2 via ln(x)/ln(2) spelled
    identically in both engines. Zero-relevant queries pin NULL
    nDCG."""
    from aws_etl_global_footprint_network_spark.operators.similarity import (
        ann_cosine_topk,
    )

    knn = ann_cosine_topk(spark, sf_dir)
    emb = read_testdata(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("int").alias("label")
    )
    rel = (
        knn.join(
            emb.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("nl"),
            ),
            "neighbor_id",
        )
        .join(
            emb.select(
                F.col("vec_id").alias("query_id"), F.col("label").alias("ql")
            ),
            "query_id",
        )
        .select(
            "query_id",
            "rank",
            F.when(F.col("nl") == F.col("ql"), 1).otherwise(0).alias("gain"),
        )
    )
    log2 = lambda c: F.log(c) / F.log(F.lit(2.0))  # noqa: E731
    dcg = rel.groupBy("query_id").agg(
        F.sum("gain").cast("bigint").alias("n_rel"),
        F.sum(F.col("gain") / log2(F.col("rank") + 1)).alias("dcg"),
    )
    # Spark's sequence(1, 0) counts DOWN (yielding r=0 and a log2(1)
    # division by zero under ANSI); zero-relevant queries need no
    # ideal row at all — the left join pins their nDCG to NULL.
    ideal = (
        dcg.filter(F.col("n_rel") > 0)
        .select(
            "query_id",
            F.explode(F.sequence(F.lit(1), F.col("n_rel"))).alias("r"),
        )
        .groupBy("query_id")
        .agg(F.sum(F.lit(1.0) / log2(F.col("r") + 1)).alias("idcg"))
    )
    return dcg.join(ideal, "query_id", "left").select(
        "query_id",
        "n_rel",
        round_compat(F.col("dcg"), 6).alias("dcg_r6"),
        F.when(
            F.col("n_rel") > 0, round_compat(F.col("dcg") / F.col("idcg"), 6)
        ).alias("ndcg_r6"),
    )


# --------------------------------------------------------------------
# Conditional entropy of the event-type Markov chain
# --------------------------------------------------------------------


@register(
    "conditional_entropy_markov",
    """
    WITH seq AS (
      SELECT user_id, event_type AS cur, ts, event_id,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events),
    tr AS (
      SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS c
      FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
    m AS (SELECT cur, CAST(SUM(c) AS BIGINT) AS n_out FROM tr GROUP BY cur)
    SELECT t.cur AS cur_type, m.n_out,
           CAST(COUNT(*) AS BIGINT) AS n_next_states,
           ROUND(-SUM((t.c * 1.0 / m.n_out)
                      * ln(t.c * 1.0 / m.n_out)) * 1e6, 0) / 1e6
             AS h_next_given_cur_r6
    FROM tr t JOIN m ON m.cur = t.cur
    GROUP BY t.cur, m.n_out
    """,
    "conditional entropy H(next | cur) of the per-user event-type"
    " Markov chain, per current state: how predictable the next"
    " action is — the information-theoretic summary of the"
    " markov_event_transitions matrix, from the bounded cell table",
    tags=("behavioral", "stats", "sequence", "headline"),
)
def conditional_entropy_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence predictability at corpus scale: transitions come from
    one per-user LEAD (the next_order_transitions recipe — partition
    by user, total (ts, event_id) order), reduce to the bounded KxK
    cell table in one groupBy, and the entropy close runs over <= K
    cells per row (K = 7 event types; float ordering noise far below
    the 1e-6 grain — the chisq/MI precedent). Observed cells only,
    which is the correct 0*ln(0) = 0 limit."""
    e = read_testdata(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    tr = seq.groupBy("cur", "nxt").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    m = tr.groupBy("cur").agg(F.sum("c").cast("bigint").alias("n_out"))
    p = F.col("c") * 1.0 / F.col("n_out")
    return (
        tr.join(m, "cur")
        .groupBy(F.col("cur").alias("cur_type"), F.col("n_out"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_next_states"),
            round_compat(-F.sum(p * F.log(p)), 6).alias(
                "h_next_given_cur_r6"
            ),
        )
    )


# --------------------------------------------------------------------
# Rolling 7-day regression beta: daily purchase spend on view traffic
# --------------------------------------------------------------------


@register(
    "rolling_regression_beta",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS views,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                           THEN CAST(ROUND(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS pcents
      FROM events GROUP BY 1),
    win AS (
      SELECT a.day,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(b.views) AS BIGINT) AS sx,
             CAST(SUM(b.pcents) AS BIGINT) AS sy,
             CAST(SUM(b.views * b.pcents) AS BIGINT) AS sxy,
             CAST(SUM(b.views * b.views) AS BIGINT) AS sxx
      FROM daily a JOIN daily b ON b.day BETWEEN a.day - 3 AND a.day + 3
      GROUP BY a.day HAVING COUNT(*) = 7)
    SELECT day, n AS n_days,
           CASE WHEN n * sxx - sx * sx > 0
                THEN ROUND((n * sxy - sx * sy) * 1.0
                           / (n * sxx - sx * sx) * 1e6, 0) / 1e6
                END AS beta_r6
    FROM win
    """,
    "rolling 7-day OLS beta of daily purchase spend on daily view"
    " traffic: centered calendar window via the gap-aware shifted"
    " self-join (full windows only), exact int64 sufficient sums per"
    " window, one rounded division — the local elasticity series",
    tags=("temporal", "stats", "timeseries", "headline"),
)
def rolling_regression_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-window regression without windowed float state: each
    day's beta needs (n, Σx, Σy, Σxy, Σxx) over its 7 calendar
    neighbors — gathered by the same day±3 CALENDAR self-join as
    seasonal_decompose_daily (gap-aware; a ROWS frame misaligns
    across missing days), all sums exact int64 (views ~1e7/day and
    cents ~1e9/day at 100 TB keep n*Σxy under 2^63 comfortably at
    daily grain), one float division per output row. The daily
    relation is calendar-cardinality — corpus-scale work is exactly
    one groupBy(day). Zero view-variance windows pin NULL."""
    e = read_testdata(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("views"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100, 0).cast("long"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("pcents"),
    )
    a, b = daily.alias("a"), daily.alias("b")
    win = (
        a.join(
            b,
            (F.col("b.day") >= F.date_sub(F.col("a.day"), 3))
            & (F.col("b.day") <= F.date_add(F.col("a.day"), 3)),
        )
        .groupBy(F.col("a.day").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("b.views").cast("bigint").alias("sx"),
            F.sum("b.pcents").cast("bigint").alias("sy"),
            F.sum(F.col("b.views") * F.col("b.pcents"))
            .cast("bigint")
            .alias("sxy"),
            F.sum(F.col("b.views") * F.col("b.views"))
            .cast("bigint")
            .alias("sxx"),
        )
        .filter(F.col("n") == 7)
    )
    n = F.col("n")
    den = n * F.col("sxx") - F.col("sx") * F.col("sx")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    return win.select(
        "day",
        n.alias("n_days"),
        F.when(den > 0, round_compat(num * 1.0 / den, 6)).alias("beta_r6"),
    )


# --------------------------------------------------------------------
# Cramér's V effect size for the priority x status contingency table
# --------------------------------------------------------------------


@register(
    "cramers_v_priority_status",
    """
    WITH j AS (
      SELECT o_orderpriority AS p, o_orderstatus AS s,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM orders GROUP BY 1, 2),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
                   CAST(COUNT(DISTINCT p) AS BIGINT) AS r,
                   CAST(COUNT(DISTINCT s) AS BIGINT) AS k
            FROM j),
    mp AS (SELECT p, CAST(SUM(c) AS BIGINT) AS cp FROM j GROUP BY p),
    ms AS (SELECT s, CAST(SUM(c) AS BIGINT) AS cs FROM j GROUP BY s),
    cells AS (
      SELECT j.c, mp.cp * 1.0 * ms.cs / tot.n AS expected, tot.n, tot.r,
             tot.k
      FROM j JOIN mp USING (p) JOIN ms USING (s) CROSS JOIN tot),
    chi AS (
      SELECT MAX(n) AS n, MAX(r) AS r, MAX(k) AS k,
             SUM((c - expected) * (c - expected) / expected) AS chi2
      FROM cells)
    SELECT CAST(n AS BIGINT) AS n_rows, CAST(r AS BIGINT) AS n_priorities,
           CAST(k AS BIGINT) AS n_statuses,
           ROUND(chi2 * 1e6, 0) / 1e6 AS chi2_r6,
           CASE WHEN LEAST(r, k) > 1
                THEN ROUND(sqrt(chi2 / (n * (LEAST(r, k) - 1))) * 1e6, 0)
                     / 1e6 END AS cramers_v_r6
    FROM chi
    """,
    "Cramér's V effect size of the priority x status association:"
    " chi-square over the bounded contingency table normalized to"
    " [0,1] by n*(min(r,c)-1) — the magnitude companion to the"
    " chi-square significance test and the MI dependence screen",
    tags=("diagnostics", "stats", "agg", "headline"),
)
def cramers_v_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effect size, not just significance: chi-square grows linearly
    with n even for trivial associations; V = sqrt(chi2/(n*(m-1)))
    is scale-free. Same machinery as mutual_information_cats — one
    corpus groupBy to the RxC cell grain, marginals from the cell
    table, bounded float close (chisq precedent for the <=15-term
    summation)."""
    o = read_testdata(spark, sf_dir, "orders")
    j = o.groupBy(
        F.col("o_orderpriority").alias("p"), F.col("o_orderstatus").alias("s")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    tot = j.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count_distinct("p").cast("bigint").alias("r"),
        F.count_distinct("s").cast("bigint").alias("k"),
    )
    mp = j.groupBy("p").agg(F.sum("c").cast("bigint").alias("cp"))
    ms = j.groupBy("s").agg(F.sum("c").cast("bigint").alias("cs"))
    cells = (
        j.join(mp, "p")
        .join(ms, "s")
        .crossJoin(F.broadcast(tot))
        .select(
            "c",
            (F.col("cp") * 1.0 * F.col("cs") / F.col("n")).alias("expected"),
            "n",
            "r",
            "k",
        )
    )
    chi = cells.agg(
        F.max("n").alias("n"),
        F.max("r").alias("r"),
        F.max("k").alias("k"),
        F.sum(
            (F.col("c") - F.col("expected"))
            * (F.col("c") - F.col("expected"))
            / F.col("expected")
        ).alias("chi2"),
    )
    m = F.least(F.col("r"), F.col("k"))
    return chi.select(
        F.col("n").cast("bigint").alias("n_rows"),
        F.col("r").cast("bigint").alias("n_priorities"),
        F.col("k").cast("bigint").alias("n_statuses"),
        round_compat(F.col("chi2"), 6).alias("chi2_r6"),
        F.when(
            m > 1,
            round_compat(F.sqrt(F.col("chi2") / (F.col("n") * (m - 1))), 6),
        ).alias("cramers_v_r6"),
    )


# --------------------------------------------------------------------
# McNemar's test on the paired document raters (kappa's siblings)
# --------------------------------------------------------------------


@register(
    "mcnemar_rater_shift",
    f"""
    WITH lab AS (
      SELECT {RATER_A_SQL} AS a,
             {RATER_B_SQL} AS b
      FROM documents),
    c AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n10,
             CAST(SUM(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n01
      FROM lab)
    SELECT n AS n_docs, n10, n01,
           CASE WHEN n10 + n01 > 0
                THEN ROUND((n10 - n01) * 1.0 * (n10 - n01) / (n10 + n01)
                           * 1e6, 0) / 1e6 END AS mcnemar_chi2_r6,
           CASE WHEN n10 + n01 > 0
                THEN ROUND((n10 * 1.0 / (n10 + n01)) * 1e6, 0) / 1e6 END
             AS disagree_share_a_r6
    FROM c
    """,
    "McNemar's paired test on the two document raters: does rater A"
    " (char gate) systematically pass docs rater B (token gate)"
    " rejects? chi2 = (n10-n01)^2/(n10+n01) over the discordant"
    " cells — marginal-homogeneity audit for paired annotators,"
    " complementing Cohen's kappa (agreement magnitude)",
    tags=("text", "stats", "governance", "headline"),
)
def mcnemar_rater_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kappa says HOW MUCH two raters agree; McNemar says whether
    their disagreements are DIRECTIONAL (one systematically stricter)
    — the pair every annotation-quality audit reports together. Same
    one-pass 2x2 machinery as cohens_kappa_labels, reading only the
    discordant cells; all-concordant input pins NULL both engines."""
    d = read_testdata(spark, sf_dir, "documents")
    lab = d.select(rater_a().alias("a"), rater_b().alias("b"))
    c = lab.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("n10"),
        F.sum(F.when((F.col("a") == 0) & (F.col("b") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("n01"),
    )
    disc = F.col("n10") + F.col("n01")
    return c.select(
        F.col("n").alias("n_docs"),
        "n10",
        "n01",
        F.when(
            disc > 0,
            round_compat(
                (F.col("n10") - F.col("n01"))
                * 1.0
                * (F.col("n10") - F.col("n01"))
                / disc,
                6,
            ),
        ).alias("mcnemar_chi2_r6"),
        F.when(
            disc > 0, round_compat(F.col("n10") * 1.0 / disc, 6)
        ).alias("disagree_share_a_r6"),
    )


# --------------------------------------------------------------------
# Frequent 3-itemsets (a-priori triple step over order baskets)
# --------------------------------------------------------------------

FIT_TOP = 25


@register(
    "frequent_itemset_triples",
    f"""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    tri AS (
      SELECT a.l_partkey AS pa, c.l_partkey AS pb, d.l_partkey AS pc,
             CAST(COUNT(*) AS BIGINT) AS support
      FROM b a
      JOIN b c ON c.l_orderkey = a.l_orderkey
              AND c.l_partkey > a.l_partkey
      JOIN b d ON d.l_orderkey = c.l_orderkey
              AND d.l_partkey > c.l_partkey
      GROUP BY 1, 2, 3)
    SELECT CAST(pa AS BIGINT) AS pa, CAST(pb AS BIGINT) AS pb,
           CAST(pc AS BIGINT) AS pc, support
    FROM tri
    ORDER BY support DESC, pa, pb, pc LIMIT {FIT_TOP}
    """,
    f"frequent 3-itemsets over order baskets: the a-priori triple"
    " step (market_basket_rules mines pairs) — per-order ordered"
    " triple fanout bounded by basket size choose 3, one combinable"
    f" groupBy, top-{FIT_TOP} by (support, keys)",
    tags=("mining", "agg", "shared-build", "headline"),
)
def frequent_itemset_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extends the pair-mining operator one lattice level up: each
    basket contributes its C(basket, 3) ordered triples (TPC-H
    baskets are <= 7 lines, so <= 35 triples per order: linear in
    lineitem, never corpus-quadratic). One combinable groupBy counts
    supports; the deterministic top-{FIT_TOP} cut runs as
    TakeOrderedAndProject. At 100 TB the same shape holds because
    basket size is a domain constant — the a-priori candidate-pruning
    step (filter triples by frequent pairs) only becomes necessary
    when baskets grow into the hundreds.

    Shuffle shape: baskets collapse to one sorted-set array per
    order (one combinable shuffle, subsumes the DISTINCT the oracle
    states), a < b < c triples generate MAP-SIDE via two
    index-sequence explodes + one value explode (plain codegen
    generators), and one pair shuffle counts supports — two shuffles
    total where the oracle's double self-join form is four.

    Oracle gotcha: the d-join equality must be stated against C
    (d.l_orderkey = c.l_orderkey), not transitively against a —
    given `= a` on both joins, DuckDB's planner pairs c x d FIRST on
    the partkey inequality alone (a quadratic PIECEWISE_MERGE_JOIN,
    unbounded at sf1) and only then hash-joins a; the explicit c-d
    equality keeps both joins keyed (0.9 s at sf1)."""
    from aws_etl_global_footprint_network_spark.functions.baskets import (
        basket_arrays,
    )

    bask = basket_arrays(spark, sf_dir).filter(F.size("arr") >= 3)
    from aws_etl_global_footprint_network_spark.functions.baskets import (
        explode_sorted_triples,
    )

    tri = (
        explode_sorted_triples(bask, "arr", "pa", "pb", "pc")
        .groupBy("pa", "pb", "pc")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
    )
    return (
        tri.orderBy(
            F.col("support").desc(), F.col("pa"), F.col("pb"), F.col("pc")
        )
        .limit(FIT_TOP)
        .select(
            F.col("pa").cast("bigint").alias("pa"),
            F.col("pb").cast("bigint").alias("pb"),
            F.col("pc").cast("bigint").alias("pc"),
            "support",
        )
    )
