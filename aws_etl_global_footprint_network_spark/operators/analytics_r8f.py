"""Round-8 batch-10 operators ([EXT]): t-closeness (completing the
k-anonymity / l-diversity privacy triad), seasonal anomaly days,
Dirichlet-smoothed query-likelihood retrieval (BM25's LM sibling),
Herfindahl-Hirschman market concentration, and the min-max / robust
feature-scaling suite.

House rules: exact integer sufficient statistics, one rounded float
close with oracle-mirrored fold order, bounded windows only,
hint-free joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_etl_global_footprint_network_spark.functions.compat import round_compat
from aws_etl_global_footprint_network_spark.registry import register
from aws_etl_global_footprint_network_spark.sources.readers import read_testdata

# --------------------------------------------------------------------
# t-closeness audit (ordered-attribute EMD per quasi-identifier group)
# --------------------------------------------------------------------

TC_TOP = 25


@register(
    "t_closeness_audit",
    f"""
    WITH c AS (
      SELECT c_nationkey AS qi, c_mktsegment AS s FROM customer),
    seg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n_s FROM c GROUP BY s),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(COUNT(DISTINCT s) AS BIGINT) AS k FROM c),
    grp AS (SELECT qi, s, CAST(COUNT(*) AS BIGINT) AS n_gs
            FROM c GROUP BY qi, s),
    gn AS (SELECT qi, CAST(SUM(n_gs) AS BIGINT) AS n_g FROM grp GROUP BY qi),
    cells AS (
      SELECT g.qi, seg.s, gn.n_g,
             COALESCE(grp.n_gs, 0) * 1.0 / gn.n_g
               - seg.n_s * 1.0 / tot.n AS d
      FROM (SELECT DISTINCT qi FROM c) g
      CROSS JOIN seg CROSS JOIN tot
      JOIN gn ON gn.qi = g.qi
      LEFT JOIN grp ON grp.qi = g.qi AND grp.s = seg.s),
    dist AS (
      SELECT qi, MAX(n_g) AS group_size,
             SUM(ABS(d)) / 2.0 AS tvd
      FROM cells GROUP BY qi)
    SELECT CAST(qi AS BIGINT) AS qi, CAST(group_size AS BIGINT)
             AS group_size,
           ROUND(tvd * 1e6, 0) / 1e6 AS t_closeness_r6
    FROM dist ORDER BY t_closeness_r6 DESC, qi LIMIT {TC_TOP}
    """,
    "t-closeness audit completing the privacy triad (k-anonymity ->"
    " l-diversity -> t-closeness): per quasi-identifier group"
    " (nation), the total-variation distance between the group's"
    " sensitive-attribute (market segment) distribution and the"
    " global one — groups ranked by worst closeness; bounded"
    " group x category cell table, exact integer counts",
    tags=("governance", "stats", "agg", "headline"),
)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity bounds group SIZE and l-diversity bounds distinct
    sensitive values, but a group can pass both while its sensitive
    distribution still leaks (99% of one segment where the corpus is
    20%) — t-closeness bounds the DISTANCE between group and global
    distributions. For a categorical attribute the standard distance
    is total variation (EMD under the discrete metric): half the L1
    gap between the two share vectors, computed on the bounded
    (group x category) cell table with observed-cells LEFT JOIN so
    missing cells contribute their full global share. One corpus
    pass; everything downstream is group-cardinality-sized."""
    c = read_testdata(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("qi"), F.col("c_mktsegment").alias("s")
    )
    seg = c.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("n_s"))
    tot = c.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    grp = c.groupBy("qi", "s").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gs")
    )
    gn = grp.groupBy("qi").agg(F.sum("n_gs").cast("bigint").alias("n_g"))
    qis = c.select("qi").distinct()
    cells = (
        qis.crossJoin(F.broadcast(seg))
        .crossJoin(F.broadcast(tot))
        .join(gn, "qi")
        .join(grp, ["qi", "s"], "left")
        .select(
            "qi",
            "n_g",
            (
                F.coalesce(F.col("n_gs"), F.lit(0)) * 1.0 / F.col("n_g")
                - F.col("n_s") * 1.0 / F.col("n")
            ).alias("d"),
        )
    )
    dist = cells.groupBy("qi").agg(
        F.max("n_g").alias("group_size"),
        (F.sum(F.abs(F.col("d"))) / 2.0).alias("tvd"),
    )
    return (
        dist.select(
            F.col("qi").cast("bigint").alias("qi"),
            F.col("group_size").cast("bigint").alias("group_size"),
            round_compat(F.col("tvd"), 6).alias("t_closeness_r6"),
        )
        .orderBy(F.col("t_closeness_r6").desc(), "qi")
        .limit(TC_TOP)
    )


# --------------------------------------------------------------------
# Seasonal anomaly days (the consumer of seasonal_decompose_daily)
# --------------------------------------------------------------------

SA_Z = 2.0


@register(
    "seasonal_anomaly_days",
    f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events WHERE value IS NOT NULL GROUP BY 1),
    win AS (
      SELECT a.day, a.cents, CAST(SUM(b.cents) AS BIGINT) AS sum7
      FROM daily a JOIN daily b ON b.day BETWEEN a.day - 3 AND a.day + 3
      GROUP BY a.day, a.cents HAVING COUNT(*) = 7),
    detr AS (
      SELECT day, cents, isodow(day) AS dow,
             cents * 7 - sum7 AS detr7
      FROM win),
    seas AS (
      SELECT dow, CAST(SUM(detr7) AS BIGINT) AS s_sum,
             CAST(COUNT(*) AS BIGINT) AS s_cnt
      FROM detr GROUP BY dow),
    resid AS (
      SELECT d.day, d.cents,
             d.detr7 / 7.0 - s.s_sum / (7.0 * s.s_cnt) AS r
      FROM detr d JOIN seas s ON s.dow = d.dow),
    mom AS (
      SELECT AVG(r) AS mu,
             sqrt(SUM((r - (SELECT AVG(r) FROM resid))
                      * (r - (SELECT AVG(r) FROM resid)))
                  / (COUNT(*) - 1)) AS sd
      FROM resid)
    SELECT resid.day AS day,
           ROUND(resid.cents / 100.0 * 1e4, 0) / 1e4 AS total_value_r4,
           ROUND((resid.r - mom.mu) / mom.sd * 1e6, 0) / 1e6 AS resid_z_r6
    FROM resid CROSS JOIN mom
    WHERE ABS((resid.r - mom.mu) / mom.sd) > {SA_Z}
    ORDER BY day
    """,
    "seasonal anomaly detection: days whose residual (after the"
    " seasonal_decompose_daily trend + weekday components) exceeds"
    f" {SA_Z} sample standard deviations — the alerting consumer of"
    " the decomposition, on the same bounded daily table",
    tags=("temporal", "diagnostics", "stats", "headline"),
)
def seasonal_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A decomposition is diagnostics; the operational question is
    WHICH days misbehave after trend and weekday effects are removed.
    Reuses seasonal_decompose_daily's exact integer construction
    (7-day centered window as a bounded self-join, weekday means from
    doubled-scale integer sums), then standardizes the residual with
    the sample standard deviation — mean/sd as a 1-row broadcast,
    threshold identical both engines, day-ordered deterministic
    output."""
    from aws_etl_global_footprint_network_spark.operators.analytics_r8 import (
        seasonal_daily_components,
    )

    # NOT persisted here (round-12 rework): seasonal_daily_components
    # now persists the calendar-cardinality detrended frame itself, so
    # the mean, the moment aggregate, and the final filter re-derive
    # the residual from that cache with one broadcast-join over ~1 row
    # per day — a second persist generation on top of it only added a
    # materialization job (it was worth it when the components
    # recomputed the full events scan per read; that scan now runs
    # exactly once, inside the shared cache).
    resid = seasonal_daily_components(spark, sf_dir).select(
        "day", "cents", F.col("resid").alias("r")
    )
    mu = resid.agg(F.avg("r").alias("mu"))
    mom = (
        resid.crossJoin(F.broadcast(mu))
        .agg(
            F.max("mu").alias("mu"),
            F.sqrt(
                F.sum((F.col("r") - F.col("mu")) * (F.col("r") - F.col("mu")))
                / (F.count(F.lit(1)) - 1)
            ).alias("sd"),
        )
    )
    z = (F.col("r") - F.col("mu")) / F.col("sd")
    return (
        resid.crossJoin(F.broadcast(mom))
        .filter(F.abs(z) > SA_Z)
        .select(
            "day",
            round_compat(F.col("cents") / 100.0, 4).alias("total_value_r4"),
            round_compat(z, 6).alias("resid_z_r6"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------
# Dirichlet-smoothed query-likelihood retrieval (BM25's LM sibling)
# --------------------------------------------------------------------

QL_TERMS = ("spark", "join", "window")  # the BM25 operator's query
QL_MU = 200.0
QL_TOP = 25


def _ql_tf_sql(t: str) -> str:
    return f"len(list_filter(toks, x -> x = '{t}')) AS tf_{t}"


@register(
    "dirichlet_ql_retrieval",
    f"""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         t -> t <> '') AS toks
      FROM documents),
    tf AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
             {", ".join(_ql_tf_sql(t) for t in QL_TERMS)}
      FROM base),
    corpus AS (
      SELECT CAST(SUM(dl) AS BIGINT) AS n_tokens,
             {", ".join(f"CAST(SUM(tf_{t}) AS BIGINT) AS cf_{t}" for t in QL_TERMS)}
      FROM tf),
    scored AS (
      SELECT tf.doc_id, tf.dl,
             {" + ".join(
                 f"CASE WHEN corpus.cf_{t} > 0 THEN"
                 f" ln((tf.tf_{t} + {QL_MU} * corpus.cf_{t} * 1.0"
                 f" / corpus.n_tokens) / (tf.dl + {QL_MU}))"
                 f" ELSE 0.0 END"
                 for t in QL_TERMS)}
               AS score
      FROM tf CROSS JOIN corpus
      WHERE tf.dl > 0)
    SELECT doc_id, CAST(dl AS BIGINT) AS doc_len,
           ROUND(score * 1e6, 0) / 1e6 AS ql_score_r6
    FROM scored
    ORDER BY ROUND(score * 1e6, 0) / 1e6 DESC, doc_id LIMIT {QL_TOP}
    """,
    "Dirichlet-smoothed query-likelihood retrieval for the fixed"
    f" query {QL_TERMS} (mu = {QL_MU:g}): the language-modeling"
    " ranking function next to BM25 (bm25_topk) and RRF — per-doc"
    " log P(q given d) with corpus-frequency smoothing, corpus stats"
    " as a 1-row broadcast, rounded-score deterministic top-k",
    tags=("retrieval", "text", "headline"),
)
def dirichlet_ql_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (bm25_topk) ranks by tf-idf saturation; query-likelihood
    with Dirichlet smoothing is the probabilistic alternative every
    IR stack offers: score = sum_t ln((tf + mu*P(t|C)) / (dl + mu)).
    Same map-side array-fold tf extraction as BM25 (plain builtins,
    no explode needed for a fixed query), corpus token/term totals
    as ONE 1-row broadcast, and the top-k cut orders on the ROUNDED
    score + doc_id so both engines cut identically."""
    from aws_etl_global_footprint_network_spark.functions.text import tokens
    from aws_etl_global_footprint_network_spark.sources.readers import spread

    d = spread(read_testdata(spark, sf_dir, "documents"))
    base = d.select("doc_id", tokens("text").alias("toks"))
    tf = base.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("dl"),
        *[
            F.expr(
                f"size(filter(toks, x -> x = '{t}'))"
            ).cast("bigint").alias(f"tf_{t}")
            for t in QL_TERMS
        ],
    )
    corpus = tf.agg(
        F.sum("dl").cast("bigint").alias("n_tokens"),
        *[
            F.sum(f"tf_{t}").cast("bigint").alias(f"cf_{t}")
            for t in QL_TERMS
        ],
    )
    # OOV guard (review lesson: data-dependent log(0) splits Spark
    # NULL vs DuckDB -inf): a query term absent from the WHOLE corpus
    # (cf = 0, so docs with tf = 0 hit ln(0)) contributes nothing —
    # the standard drop-unseen-terms rule, stated on both engines.
    score = None
    for t in QL_TERMS:
        term = F.when(
            F.col(f"cf_{t}") > 0,
            F.log(
                (
                    F.col(f"tf_{t}")
                    + QL_MU * F.col(f"cf_{t}") * 1.0 / F.col("n_tokens")
                )
                / (F.col("dl") + QL_MU)
            ),
        ).otherwise(F.lit(0.0))
        score = term if score is None else score + term
    return (
        tf.crossJoin(F.broadcast(corpus))
        .filter(F.col("dl") > 0)
        .select(
            "doc_id",
            F.col("dl").alias("doc_len"),
            round_compat(score, 6).alias("ql_score_r6"),
        )
        .orderBy(F.col("ql_score_r6").desc(), "doc_id")
        .limit(QL_TOP)
    )


# --------------------------------------------------------------------
# Herfindahl-Hirschman market concentration per segment
# --------------------------------------------------------------------


@register(
    "hhi_concentration",
    """
    WITH s AS (
      SELECT c.c_mktsegment AS segment, o.o_custkey,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2),
    tot AS (SELECT segment, CAST(SUM(cents) AS BIGINT) AS seg_cents,
                   CAST(COUNT(*) AS BIGINT) AS n_custs
            FROM s GROUP BY segment)
    SELECT t.segment, t.n_custs,
           ROUND(SUM((s.cents * 1.0 / t.seg_cents)
                     * (s.cents * 1.0 / t.seg_cents)) * 1e6, 0) / 1e6
             AS hhi_r6,
           CASE WHEN t.n_custs > 1
                THEN ROUND((SUM((s.cents * 1.0 / t.seg_cents)
                           * (s.cents * 1.0 / t.seg_cents))
                       - 1.0 / t.n_custs) / (1.0 - 1.0 / t.n_custs)
                      * 1e6, 0) / 1e6 END AS hhi_normalized_r6
    FROM s JOIN tot t ON t.segment = s.segment
    GROUP BY t.segment, t.n_custs, t.seg_cents
    ORDER BY t.segment
    """,
    "Herfindahl-Hirschman revenue concentration per market segment:"
    " sum of squared customer revenue shares (+ the normalized"
    " [0,1] variant) — the antitrust-standard concentration index"
    " complementing gini_revenue_concentration; two combinable"
    " aggregations, per-segment totals joined back BY KEY",
    tags=("analytics", "agg", "diagnostics", "headline"),
)
def hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini (gini_revenue_concentration) measures inequality of the
    whole distribution; HHI = sum of squared shares is the
    concentration index regulators actually use (and it needs no
    ranks — one squared-share aggregation). Customer revenue rolls
    up once, segment totals join back by key (25-row relation, AQE
    broadcasts it), and the close is one float division chain with
    identical fold order in the oracle. The normalized variant
    rescales by the 1/n equal-share floor."""
    o = read_testdata(spark, sf_dir, "orders").select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    c = read_testdata(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    s = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"), "o_custkey")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    tot = s.groupBy("segment").agg(
        F.sum("cents").cast("bigint").alias("seg_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_custs"),
    )
    share = F.col("cents") * 1.0 / F.col("seg_cents")
    return (
        s.join(tot, "segment")
        .groupBy("segment", "n_custs", "seg_cents")
        .agg(F.sum(share * share).alias("hhi"))
        .select(
            "segment",
            "n_custs",
            round_compat(F.col("hhi"), 6).alias("hhi_r6"),
            F.when(
                F.col("n_custs") > 1,
                round_compat(
                    (F.col("hhi") - 1.0 / F.col("n_custs"))
                    / (1.0 - 1.0 / F.col("n_custs")),
                    6,
                ),
            ).alias("hhi_normalized_r6"),
        )
        .orderBy("segment")
    )


# --------------------------------------------------------------------
# Feature scaling suite: min-max + robust (median/IQR) per feature
# --------------------------------------------------------------------


@register(
    "feature_scaling_suite",
    """
    WITH f AS (
      SELECT c_custkey,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal
      FROM customer),
    p AS (
      SELECT MIN(bal) AS mn, MAX(bal) AS mx,
             quantile_cont(CAST(bal AS DOUBLE), 0.5) AS med,
             quantile_cont(CAST(bal AS DOUBLE), 0.25) AS q1,
             quantile_cont(CAST(bal AS DOUBLE), 0.75) AS q3
      FROM f)
    SELECT f.c_custkey,
           CASE WHEN p.mx > p.mn
                THEN ROUND((f.bal - p.mn) * 1.0 / (p.mx - p.mn)
                           * 1e6, 0) / 1e6 END AS minmax_r6,
           CASE WHEN p.q3 > p.q1
                THEN ROUND((f.bal - p.med) / (p.q3 - p.q1)
                           * 1e6, 0) / 1e6 END AS robust_r6
    FROM f CROSS JOIN p
    ORDER BY f.c_custkey LIMIT 1000
    """,
    "feature scaling suite: min-max [0,1] and robust (median/IQR)"
    " standardization of customer balances — the two scalers"
    " complementing z-score (supplier_balance_zscore) and quantile"
    " normalization; global stats as ONE 1-row broadcast, exact"
    " interpolated quantiles, deterministic 1000-row projection",
    tags=("mlprep", "stats", "headline"),
)
def feature_scaling_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completes the scaler family: z-score assumes normality,
    quantile normalization forces a reference distribution, min-max
    preserves shape in [0,1], robust scaling (x - median)/IQR
    ignores outliers entirely. All four global statistics come from
    ONE aggregation (exact interpolated percentiles — the repo's
    pinned quantile_cont == percentile parity), broadcast as a 1-row
    scalar; the per-row transform is pure map-side arithmetic. The
    hash-checked slice is the first 1000 customers (deterministic
    key order); at corpus scale the transform is a full-table
    map-only stage."""
    f = read_testdata(spark, sf_dir, "customer").select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("bal"),
    )
    p = f.agg(
        F.min("bal").alias("mn"),
        F.max("bal").alias("mx"),
        F.percentile(F.col("bal").cast("double"), F.lit(0.5)).alias("med"),
        F.percentile(F.col("bal").cast("double"), F.lit(0.25)).alias("q1"),
        F.percentile(F.col("bal").cast("double"), F.lit(0.75)).alias("q3"),
    )
    return (
        f.crossJoin(F.broadcast(p))
        .select(
            "c_custkey",
            F.when(
                F.col("mx") > F.col("mn"),
                round_compat(
                    (F.col("bal") - F.col("mn"))
                    * 1.0
                    / (F.col("mx") - F.col("mn")),
                    6,
                ),
            ).alias("minmax_r6"),
            F.when(
                F.col("q3") > F.col("q1"),
                round_compat(
                    (F.col("bal") - F.col("med"))
                    / (F.col("q3") - F.col("q1")),
                    6,
                ),
            ).alias("robust_r6"),
        )
        .orderBy("c_custkey")
        .limit(1000)
    )
