"""Round-8 batch-7 operators ([EXT] — operator-surface breadth beyond
the reference): causal-inference readouts (CUPED, diff-in-differences,
stratified ATE), a seasonal-naive forecast backtest, Good-Turing
frequency smoothing, MOSS-style winnowing fingerprint near-dup pairs,
and label-propagation community detection.

House rules throughout: exact integer sufficient statistics (cents /
microseconds / counts), squares accumulated in DECIMAL(38,0) where
int64 can overflow at corpus scale, one rounded float close with the
fold order mirrored in the DuckDB oracle, no windows partitioned by
an unbounded key, hint-free joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_etl_global_footprint_network_spark.functions.compat import round_compat
from aws_etl_global_footprint_network_spark.functions.hashing import (
    P31,
    md5_hash60,
    md5_hash60_sql,
)
from aws_etl_global_footprint_network_spark.registry import register
from aws_etl_global_footprint_network_spark.sources.readers import read_testdata

# --------------------------------------------------------------------
# CUPED variance-reduced A/B readout
# --------------------------------------------------------------------


def _variant(col):
    return (
        md5_hash60(F.concat(F.lit("ab|"), F.col(col).cast("string")))
        % 2
    ).cast("int")


_H60_USER = md5_hash60_sql("('ab|' || user_id::VARCHAR)")
_VARIANT_SQL = f"CAST({_H60_USER} % 2 AS INT)"


@register(
    "cuped_adjusted_ab",
    f"""
    WITH mm AS (
      SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS mid
      FROM events),
    u AS (
      SELECT user_id, {_VARIANT_SQL} AS variant,
             SUM(CASE WHEN epoch_us(ts) < mid
                      THEN CAST(ROUND(value * 100) AS BIGINT)
                      ELSE 0 END) AS x,
             SUM(CASE WHEN epoch_us(ts) >= mid
                      THEN CAST(ROUND(value * 100) AS BIGINT)
                      ELSE 0 END) AS y
      FROM events CROSS JOIN mm
      WHERE value IS NOT NULL
      GROUP BY user_id, 2),
    pool AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
             SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy
      FROM u),
    th AS (
      SELECT n, sx * 1.0 / n AS xbar,
             (CAST(sxy AS DOUBLE) - sx * 1.0 * sy / n)
               / (CAST(sxx AS DOUBLE) - sx * 1.0 * sx / n) AS theta
      FROM pool
      WHERE CAST(sxx AS DOUBLE) - sx * 1.0 * sx / n > 0)
    SELECT u.variant, CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(AVG(u.y) * 1e6, 0) / 1e6 AS mean_y_r6,
           ROUND(AVG(u.y - th.theta * (u.x - th.xbar)) * 1e6, 0) / 1e6
             AS mean_cuped_r6,
           ROUND(th.theta * 1e6, 0) / 1e6 AS theta_r6
    FROM u CROSS JOIN th
    GROUP BY u.variant, th.theta ORDER BY u.variant
    """,
    "CUPED variance-reduced A/B readout: per-user PRE-period spend"
    " (first half of the time range, exact integer-microsecond"
    " midpoint) as the covariate, theta = cov(x,y)/var(x) pooled,"
    " adjusted metric y - theta(x - xbar) per variant — the industry"
    " workhorse for cutting experiment runtimes",
    tags=("diagnostics", "analytics", "stats", "headline"),
)
def cuped_adjusted_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw A/B readout (ab_test_conversion) wastes power on
    between-user variance the experiment didn't cause; CUPED removes
    the part predictable from pre-period behaviour. Same salted-md5
    variant split as the A/B op, the pre/post boundary is the exact
    integer midpoint of the observed microsecond range (a broadcast
    1-row scalar), and theta's covariance/variance run on exact
    DECIMAL(38,0) squares (cents^2 sums cross 2^63 at corpus scale).
    One corpus shuffle to the user grain; everything after is
    per-variant aggregation of a user-sized relation."""
    from aws_etl_global_footprint_network_spark.functions.cache import CacheScope

    e = read_testdata(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    mm = e.agg(
        (
            (F.min(F.unix_micros("ts")) + F.max(F.unix_micros("ts")))
            / F.lit(2)
        )
        .cast("long")
        .alias("mid")
    )
    cents = F.round(F.col("value") * 100, 0).cast("long")
    scope = CacheScope("cuped_adjusted_ab")
    u = scope.persist(
        e.crossJoin(F.broadcast(mm))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.unix_micros("ts") < F.col("mid"), cents).otherwise(
                    0
                )
            ).alias("x"),
            F.sum(
                F.when(
                    F.unix_micros("ts") >= F.col("mid"), cents
                ).otherwise(0)
            ).alias("y"),
        )
        .select(
            _variant("user_id").alias("variant"), "x", "y"
        )
    )
    pool = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
    )
    varx = F.col("sxx").cast("double") - F.col("sx") * 1.0 * F.col(
        "sx"
    ) / F.col("n")
    th = pool.filter(varx > 0).select(
        (F.col("sx") * 1.0 / F.col("n")).alias("xbar"),
        (
            (
                F.col("sxy").cast("double")
                - F.col("sx") * 1.0 * F.col("sy") / F.col("n")
            )
            / varx
        ).alias("theta"),
    )
    return (
        u.crossJoin(F.broadcast(th))
        .groupBy("variant", "theta")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            round_compat(F.avg("y"), 6).alias("mean_y_r6"),
            round_compat(
                F.avg(
                    F.col("y")
                    - F.col("theta") * (F.col("x") - F.col("xbar"))
                ),
                6,
            ).alias("mean_cuped_r6"),
        )
        .select(
            "variant",
            "n_users",
            "mean_y_r6",
            "mean_cuped_r6",
            round_compat(F.col("theta"), 6).alias("theta_r6"),
        )
        .orderBy("variant")
    )


# --------------------------------------------------------------------
# Difference-in-differences (2x2 design on the same split/boundary)
# --------------------------------------------------------------------


@register(
    "diff_in_diff_spend",
    f"""
    WITH mm AS (
      SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS mid
      FROM events),
    c AS (
      SELECT {_VARIANT_SQL} AS treated,
             CASE WHEN epoch_us(ts) >= mid THEN 1 ELSE 0 END AS post,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events CROSS JOIN mm
      WHERE value IS NOT NULL
      GROUP BY 1, 2),
    w AS (
      SELECT MAX(CASE WHEN treated = 1 AND post = 1
                      THEN cents * 1.0 / n END) AS t_post,
             MAX(CASE WHEN treated = 1 AND post = 0
                      THEN cents * 1.0 / n END) AS t_pre,
             MAX(CASE WHEN treated = 0 AND post = 1
                      THEN cents * 1.0 / n END) AS c_post,
             MAX(CASE WHEN treated = 0 AND post = 0
                      THEN cents * 1.0 / n END) AS c_pre,
             CAST(SUM(n) AS BIGINT) AS n_events
      FROM c)
    SELECT n_events,
           ROUND(t_pre * 1e6, 0) / 1e6 AS treated_pre_r6,
           ROUND(t_post * 1e6, 0) / 1e6 AS treated_post_r6,
           ROUND(c_pre * 1e6, 0) / 1e6 AS control_pre_r6,
           ROUND(c_post * 1e6, 0) / 1e6 AS control_post_r6,
           ROUND(((t_post - t_pre) - (c_post - c_pre)) * 1e6, 0) / 1e6
             AS did_r6
    FROM w
    """,
    "difference-in-differences estimator on the salted-md5 user split"
    " x integer-microsecond pre/post boundary: mean event spend per"
    " 2x2 cell from one corpus pass, DiD = (T_post-T_pre) -"
    " (C_post-C_pre) — the parallel-trends causal readout",
    tags=("diagnostics", "analytics", "stats", "headline"),
)
def diff_in_diff_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED adjusts a randomized experiment; DiD is the
    observational fallback when only a before/after boundary and a
    comparison group exist. The whole estimator is the 2x2 cell-mean
    table — ONE combinable corpus aggregation of exact cents — and a
    4-term float close. The pivot runs as MAX over conditional
    per-cell values (each cell appears exactly once), fold-order
    identical in the oracle."""
    e = read_testdata(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    mm = e.agg(
        (
            (F.min(F.unix_micros("ts")) + F.max(F.unix_micros("ts")))
            / F.lit(2)
        )
        .cast("long")
        .alias("mid")
    )
    c = (
        e.crossJoin(F.broadcast(mm))
        .groupBy(
            _variant("user_id").alias("treated"),
            F.when(F.unix_micros("ts") >= F.col("mid"), 1)
            .otherwise(0)
            .alias("post"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long"))
            .cast("bigint")
            .alias("cents"),
        )
    )

    def cell(t, p):
        return F.max(
            F.when(
                (F.col("treated") == t) & (F.col("post") == p),
                F.col("cents") * 1.0 / F.col("n"),
            )
        )

    w = c.agg(
        cell(1, 1).alias("t_post"),
        cell(1, 0).alias("t_pre"),
        cell(0, 1).alias("c_post"),
        cell(0, 0).alias("c_pre"),
        F.sum("n").cast("bigint").alias("n_events"),
    )
    return w.select(
        "n_events",
        round_compat(F.col("t_pre"), 6).alias("treated_pre_r6"),
        round_compat(F.col("t_post"), 6).alias("treated_post_r6"),
        round_compat(F.col("c_pre"), 6).alias("control_pre_r6"),
        round_compat(F.col("c_post"), 6).alias("control_post_r6"),
        round_compat(
            (F.col("t_post") - F.col("t_pre"))
            - (F.col("c_post") - F.col("c_pre")),
            6,
        ).alias("did_r6"),
    )


# --------------------------------------------------------------------
# Stratified ATE (pre-period spend strata, same split/boundary)
# --------------------------------------------------------------------

ATE_BINS = 5


@register(
    "stratified_ate_bins",
    f"""
    WITH mm AS (
      SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS mid
      FROM events),
    u AS (
      SELECT user_id, {_VARIANT_SQL} AS treated,
             SUM(CASE WHEN epoch_us(ts) < mid
                      THEN CAST(ROUND(value * 100) AS BIGINT)
                      ELSE 0 END) AS x,
             SUM(CASE WHEN epoch_us(ts) >= mid
                      THEN CAST(ROUND(value * 100) AS BIGINT)
                      ELSE 0 END) AS y
      FROM events CROSS JOIN mm
      WHERE value IS NOT NULL
      GROUP BY user_id, 2),
    xr AS (SELECT MIN(x) AS mn, MAX(x) AS mx FROM u),
    s AS (
      SELECT CAST(((x - mn) * {ATE_BINS}) // (mx - mn + 1) AS BIGINT)
               AS stratum,
             treated, y
      FROM u CROSS JOIN xr)
    SELECT stratum,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(treated) AS BIGINT) AS n_treated,
           ROUND(AVG(CASE WHEN treated = 1 THEN y END) * 1e6, 0) / 1e6
             AS mean_t_r6,
           ROUND(AVG(CASE WHEN treated = 0 THEN y END) * 1e6, 0) / 1e6
             AS mean_c_r6,
           ROUND((AVG(CASE WHEN treated = 1 THEN y END)
                  - AVG(CASE WHEN treated = 0 THEN y END)) * 1e6, 0) / 1e6
             AS effect_r6
    FROM s GROUP BY stratum ORDER BY stratum
    """,
    f"stratified treatment-effect table: users bucketed into"
    f" {ATE_BINS} exact integer equal-width PRE-period spend strata,"
    " per-stratum treated-vs-control POST-period spend difference —"
    " the blocking estimator whose n-weighted sum is the stratified"
    " ATE",
    tags=("diagnostics", "analytics", "stats", "headline"),
)
def stratified_ate_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratification is the nonparametric cousin of CUPED: instead
    of a linear adjustment it blocks users by the covariate and
    differences within blocks. The user-grain table is the same one
    CUPED builds (one corpus shuffle); strata come from the exact
    integer-DIV equal-width recipe (calibration_reliability_bins
    precedent) so edges can't drift between engines; the output is
    the bounded per-stratum table whose weighted effect column IS
    the ATE. Degenerate strata (one arm empty) pin NULL effects in
    both engines via AVG-over-empty = NULL."""
    e = read_testdata(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    mm = e.agg(
        (
            (F.min(F.unix_micros("ts")) + F.max(F.unix_micros("ts")))
            / F.lit(2)
        )
        .cast("long")
        .alias("mid")
    )
    cents = F.round(F.col("value") * 100, 0).cast("long")
    u = (
        e.crossJoin(F.broadcast(mm))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.unix_micros("ts") < F.col("mid"), cents).otherwise(
                    0
                )
            ).alias("x"),
            F.sum(
                F.when(
                    F.unix_micros("ts") >= F.col("mid"), cents
                ).otherwise(0)
            ).alias("y"),
        )
        .select(_variant("user_id").alias("treated"), "x", "y")
    )
    xr = u.agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    s = u.crossJoin(F.broadcast(xr)).select(
        F.expr(
            f"CAST(((x - mn) * {ATE_BINS}) DIV (mx - mn + 1) AS BIGINT)"
        ).alias("stratum"),
        "treated",
        "y",
    )
    t_avg = F.avg(F.when(F.col("treated") == 1, F.col("y")))
    c_avg = F.avg(F.when(F.col("treated") == 0, F.col("y")))
    return (
        s.groupBy("stratum")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("treated").cast("bigint").alias("n_treated"),
            round_compat(t_avg, 6).alias("mean_t_r6"),
            round_compat(c_avg, 6).alias("mean_c_r6"),
            round_compat(t_avg - c_avg, 6).alias("effect_r6"),
        )
        .orderBy("stratum")
    )


# --------------------------------------------------------------------
# Seasonal-naive forecast backtest (MAE / sMAPE over the daily series)
# --------------------------------------------------------------------

SN_SEASON_DAYS = 7


@register(
    "seasonal_naive_backtest",
    f"""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
      GROUP BY 1),
    p AS (
      SELECT a.day, a.cents AS actual, b.cents AS forecast
      FROM d a JOIN d b
        ON b.day = a.day - INTERVAL {SN_SEASON_DAYS} DAY)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(AVG(ABS(actual - forecast)) / 100.0 * 1e4, 0) / 1e4
             AS mae_r4,
           ROUND(AVG(CASE WHEN actual + forecast > 0
                          THEN 2.0 * ABS(actual - forecast)
                               / (actual + forecast) END) * 1e6, 0) / 1e6
             AS smape_r6,
           ROUND(AVG(CASE WHEN actual > 0
                          THEN ABS(actual - forecast) * 1.0 / actual
                     END) * 1e6, 0) / 1e6 AS mape_r6
    FROM p
    """,
    "seasonal-naive forecast backtest: predict each day's purchase"
    f" total with the value {SN_SEASON_DAYS} days earlier, score"
    " MAE / sMAPE / MAPE over the overlap — the baseline every"
    " forecasting pipeline must beat before it ships",
    tags=("temporal", "analytics", "agg", "headline"),
)
def seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast evaluation without a model: the seasonal-naive
    predictor (same weekday last week) is the canonical baseline,
    and its backtest is pure relational algebra — one corpus groupBy
    to the bounded daily table, a self-join shifted by the season
    length, three guarded averages. sMAPE and MAPE guard their
    zero-denominator days to NULL identically in both engines; MAE
    reports in currency units (cents / 100) rounded 1e-4."""
    d = (
        read_testdata(spark, sf_dir, "events")
        .filter(
            (F.col("event_type") == "purchase")
            & F.col("value").isNotNull()
        )
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("long"))
            .cast("bigint")
            .alias("cents")
        )
    )
    a = d.select(F.col("day"), F.col("cents").alias("actual"))
    b = d.select(
        F.date_add("day", SN_SEASON_DAYS).alias("day"),
        F.col("cents").alias("forecast"),
    )
    p = a.join(b, "day")
    err = F.abs(F.col("actual") - F.col("forecast"))
    return p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        round_compat(F.avg(err) / 100.0, 4).alias("mae_r4"),
        round_compat(
            F.avg(
                F.when(
                    F.col("actual") + F.col("forecast") > 0,
                    2.0 * err / (F.col("actual") + F.col("forecast")),
                )
            ),
            6,
        ).alias("smape_r6"),
        round_compat(
            F.avg(
                F.when(
                    F.col("actual") > 0, err * 1.0 / F.col("actual")
                )
            ),
            6,
        ).alias("mape_r6"),
    )


# --------------------------------------------------------------------
# Good-Turing frequency-of-frequencies smoothing
# --------------------------------------------------------------------

GT_TOP = 25


@register(
    "good_turing_counts",
    f"""
    WITH tok AS (
      SELECT unnest(list_filter(
               string_split_regex(lower(text), '[^a-z0-9]+'),
               t -> t <> '')) AS token
      FROM documents),
    tc AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY token),
    fof AS (SELECT c AS r, CAST(COUNT(*) AS BIGINT) AS n_r
            FROM tc GROUP BY c),
    tot AS (SELECT SUM(r * n_r) AS n_tokens FROM fof)
    SELECT a.r, a.n_r,
           COALESCE(b.n_r, 0) AS n_r_next,
           CASE WHEN b.n_r IS NOT NULL
                THEN ROUND((a.r + 1) * b.n_r * 1.0 / a.n_r * 1e6, 0) / 1e6
           END AS r_star_r6,
           ROUND(a.r * a.n_r / CAST(tot.n_tokens AS DOUBLE) * 1e6, 0)
             / 1e6 AS mass_share_r6
    FROM fof a LEFT JOIN fof b ON b.r = a.r + 1 CROSS JOIN tot
    ORDER BY a.r LIMIT {GT_TOP}
    """,
    "Good-Turing smoothing table: token frequency-of-frequencies N_r"
    f" for the {GT_TOP} smallest count classes, the adjusted count"
    " r* = (r+1)N_(r+1)/N_r,"
    " and each count class's probability-mass share — the classical"
    " LM smoothing estimate (r=1's mass is the unseen-event estimate)",
    tags=("text", "stats", "agg", "headline"),
)
def good_turing_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unigram/bigram LM operators use add-k smoothing;
    Good-Turing is the estimate actually derived from the data: how
    much probability mass do once-seen tokens imply for NEVER-seen
    ones? Two combinable aggregations (token counts, then counts of
    counts) collapse the corpus to the bounded frequency-of-
    frequencies table; the r+1 lookup is a self-join on that bounded
    table (no window), and the shared tokenizer (functions.text)
    keeps Spark and DuckDB splitting identically."""
    from aws_etl_global_footprint_network_spark.functions.text import tokens

    d = read_testdata(spark, sf_dir, "documents")
    tc = (
        d.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    fof = tc.groupBy(F.col("c").alias("r")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_r")
    )
    tot = fof.agg(F.sum(F.col("r") * F.col("n_r")).alias("n_tokens"))
    b = fof.select(
        (F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r_next")
    )
    return (
        fof.join(b, "r", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "r",
            "n_r",
            F.coalesce(F.col("n_r_next"), F.lit(0))
            .cast("bigint")
            .alias("n_r_next"),
            F.when(
                F.col("n_r_next").isNotNull(),
                round_compat(
                    (F.col("r") + 1) * F.col("n_r_next") * 1.0 / F.col("n_r"),
                    6,
                ),
            ).alias("r_star_r6"),
            round_compat(
                F.col("r") * F.col("n_r") / F.col("n_tokens").cast("double"),
                6,
            ).alias("mass_share_r6"),
        )
        .orderBy("r")
        .limit(GT_TOP)
    )


# --------------------------------------------------------------------
# Winnowing (MOSS) fingerprint near-duplicate pairs
# --------------------------------------------------------------------

WIN_K = 5  # character k-gram length over the normalised text
WIN_W = 4  # winnowing window: one fingerprint per W consecutive grams
WIN_MIN_SHARED = 3
WIN_TOP = 25
WIN_MAX_DF = 100  # stop-fingerprint cap: drop h present in > this many docs
_POS_SCALE = 1 << 20  # position packed under the hash for tie-breaks
# Karp-Rabin gram fingerprint (what Schleimer et al. actually roll):
# h(gram) = (sum code[j] * B^(k-1-j)) % P31 with B = 4096 > any
# character code, so the pre-mod polynomial is INJECTIVE on 5-gram
# [a-z0-9] text (max term 122 * 4096^4 ~ 2^55, no int64 overflow) —
# strictly better-distributed than a truncated md5, and 5 integer
# multiply-adds per position instead of a cryptographic hash of a
# fresh 5-char substring (the measured floor of the round-10 plan:
# the md5-vs-window A/B, git show cf696a5:scripts/ab_winnowing.py,
# showed identical 5.4 s sf1 times for the explode+window and
# map-only layouts — the hash volume, not the exchanges, was the
# cost).
WIN_B = 4096


def _kr_sql(i_expr: str) -> str:
    """DuckDB Karp-Rabin polynomial for the gram starting at ``i_expr``
    (1-based) over the normalised column ``s``."""
    terms = " + ".join(
        f"ord(substr(s, CAST({i_expr} + {j} AS INT), 1))"
        f" * {WIN_B ** (WIN_K - 1 - j)}"
        for j in range(WIN_K)
    )
    return f"(({terms}) % {P31})"


@register(
    "winnowing_neardup_pairs",
    f"""
    WITH nrm AS (
      SELECT doc_id,
             regexp_replace(lower(text), '[^a-z0-9]+', '', 'g') AS s
      FROM documents),
    g AS (
      SELECT doc_id, i,
             {_kr_sql('i')} * {_POS_SCALE} + i AS packed
      FROM nrm, unnest(range(1, length(s) - {WIN_K} + 2)) AS t(i)
      WHERE length(s) >= {WIN_K + WIN_W - 1}
        AND length(s) < {_POS_SCALE}),
    w AS (
      SELECT doc_id,
             MIN(packed) OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN CURRENT ROW AND {WIN_W - 1} FOLLOWING) AS m,
             i,
             MAX(i) OVER (PARTITION BY doc_id) AS max_i
      FROM g),
    fp AS MATERIALIZED (
      SELECT DISTINCT doc_id, m // {_POS_SCALE} AS h
      FROM w WHERE i <= max_i - {WIN_W - 1}),
    rare AS (SELECT h FROM fp GROUP BY h
             HAVING COUNT(*) <= {WIN_MAX_DF}),
    fpr AS (SELECT fp.doc_id, fp.h FROM fp JOIN rare USING (h)),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS shared
      FROM fpr a JOIN fpr b ON b.h = a.h AND b.doc_id > a.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= {WIN_MIN_SHARED})
    SELECT doc_a, doc_b, shared FROM pairs
    ORDER BY shared DESC, doc_a, doc_b LIMIT {WIN_TOP}
    """,
    "MOSS-style winnowing near-dup pairs: one fingerprint (window"
    f" minimum of {WIN_K}-gram hashes, window {WIN_W}) per text"
    " window guarantees any match of length >= k+w-1 is caught with"
    " ~2/(w+1) storage — the document-fingerprinting alternative to"
    f" MinHash; stop-fingerprints (document frequency > {WIN_MAX_DF})"
    " are dropped before the bucket join (they carry no near-dup"
    f" signal and make it quadratic); pairs sharing >="
    f" {WIN_MIN_SHARED} fingerprints, top-{WIN_TOP}",
    tags=("dedup", "text", "headline"),
)
def winnowing_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash samples a RANDOM sketch of each doc; winnowing
    (Schleimer et al., MOSS) selects a POSITIONAL one — the minimum
    hash in every window of w consecutive k-grams — which guarantees
    detection of any shared substring of length k+w-1 (minhash only
    catches global similarity).

    Fingerprint extraction is MAP-ONLY (round 11): the per-position
    Karp-Rabin hashes, the W-wide sliding minima, and the per-doc
    distinct fingerprint set are higher-order array expressions on
    the one row each document already occupies — the ~250x gram rows
    never exist as shuffle input.  The hash is the base-4096
    polynomial from the constants block (injective pre-mod on 5-gram
    normalised text; 5 integer multiply-adds per position) — the
    round-10 md5-per-position plan was the measured floor, not the
    exchanges (``git show cf696a5:scripts/ab_winnowing.py``:
    explode+window and map-only md5 layouts both 5.4 s at sf1;
    Karp-Rabin map-only 1.7 s, remaining time is the bucket join
    tail).  Tie-breaks pack the position into the low bits (leftmost
    minimum, deterministic both engines; positions < 2^20 by the
    corpus's doc-length domain, enforced on both sides because hash
    parity could never catch a shared overflow).  Candidate pairs
    come from an equality bucket join on the fingerprint value, never
    all-pairs — and fingerprints
    present in more than {WIN_MAX_DF} documents are dropped FIRST
    (IDF-style stop-fingerprints): a ubiquitous fingerprint
    contributes df^2 join rows and zero near-dup signal (measured at
    sf1: 2.5e10 join rows uncapped vs 3.7e6 capped).  The detection
    guarantee then holds for shared substrings carrying at least one
    sub-stop-frequency fingerprint — the only kind that identifies a
    PAIR anyway.  spread() fans the single-file documents read out
    across cores BEFORE the per-doc array work."""
    from aws_etl_global_footprint_network_spark.sources.readers import spread
    from aws_etl_global_footprint_network_spark.functions.cache import CacheScope

    d = spread(read_testdata(spark, sf_dir, "documents")).select(
        "doc_id",
        F.regexp_replace(F.lower("text"), "[^a-z0-9]+", "").alias("s"),
    )
    nrm = d.filter(
        (F.length("s") >= WIN_K + WIN_W - 1) & (F.length("s") < _POS_SCALE)
    )
    codes = "transform(sequence(1, length(s)), c -> CAST(ascii(substring(s, c, 1)) AS BIGINT))"
    poly = " + ".join(
        f"element_at(codes, i + {j}) * {WIN_B ** (WIN_K - 1 - j)}"
        for j in range(WIN_K)
    )
    packed = (
        f"transform(sequence(1, length(s) - {WIN_K} + 1),"
        f" i -> (({poly}) % {P31}) * {_POS_SCALE} + i)"
    )
    least_w = ", ".join(f"element_at(packed, i + {j})" for j in range(WIN_W))
    mins = (
        f"transform(sequence(1, size(packed) - {WIN_W} + 1),"
        f" i -> least({least_w}))"
    )
    scope = CacheScope("winnowing_neardup_pairs")
    fp = scope.persist(
        nrm.selectExpr("doc_id", f"{codes} AS codes", "s")
        .selectExpr("doc_id", f"{packed} AS packed")
        .selectExpr(
            "doc_id",
            f"explode(array_distinct(transform({mins},"
            f" m -> m DIV {_POS_SCALE}))) AS h",
        )
    )
    rare = (
        fp.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= WIN_MAX_DF)
        .select("h")
    )
    fpr = fp.join(rare, "h", "left_semi")
    a = fpr.select(F.col("doc_id").alias("doc_a"), "h")
    b = fpr.select(F.col("doc_id").alias("doc_b"), "h")
    pairs = (
        a.join(b, "h")
        .filter(F.col("doc_b") > F.col("doc_a"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared"))
        .filter(F.col("shared") >= WIN_MIN_SHARED)
    )
    return (
        pairs.orderBy(F.col("shared").desc(), "doc_a", "doc_b")
        .limit(WIN_TOP)
    )


# --------------------------------------------------------------------
# Label-propagation communities over the co-purchase graph
# --------------------------------------------------------------------

LPA_ROUNDS = 3
LPA_TOP = 25
LPA_MIN_SUPPORT = 3  # same support floor as the other graph operators


def _lpa_local(nodes, ui, vi) -> dict:
    """``label_propagation_communities``'s LPA_ROUNDS synchronous
    rounds over an indexed edge list (``kernels.edge_index``): every
    node takes the label most frequent among its neighbours (ties to
    the smallest label), then the top LPA_TOP communities by size
    DESC, label ASC."""
    import numpy as np

    n = len(nodes)
    src = np.concatenate([ui, vi])  # directed adjacency: u -> v and v -> u
    dst = np.concatenate([vi, ui])
    label = np.arange(n)  # labels are node indices; nodes is sorted
    for _ in range(LPA_ROUNDS):
        # (node, neighbour label) counts, sorted by node then label;
        # a stable sort on count DESC within each node keeps the
        # smallest label first among equal counts
        key, cnt = np.unique(src * n + label[dst], return_counts=True)
        node, lab = key // n, key % n
        order = np.lexsort((-cnt, node))
        node, lab = node[order], lab[order]
        first = np.ones(len(node), dtype=bool)
        first[1:] = node[1:] != node[:-1]
        label = np.empty(n, dtype=np.int64)
        label[node[first]] = lab[first]
    comm, size = np.unique(label, return_counts=True)
    top = np.lexsort((comm, -size))[:LPA_TOP]
    return {"community": nodes[comm[top]], "n_members": size[top]}


def _lpa_edges_sql() -> str:
    return f"""
    b AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey
                       FROM lineitem),
    e0 AS (
      SELECT a.l_partkey AS u, c.l_partkey AS v
      FROM b a JOIN b c ON c.l_orderkey = a.l_orderkey
                       AND c.l_partkey > a.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= {LPA_MIN_SUPPORT}),
    edges AS MATERIALIZED (
      SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
    nodes AS MATERIALIZED (SELECT DISTINCT u AS node FROM edges)
    """


def _lpa_round_sql(prev: str, out: str) -> str:
    return f"""
    {out}_cnt AS (
      SELECT e.u AS node, p.label, COUNT(*) AS cnt
      FROM edges e JOIN {prev} p ON p.node = e.v
      GROUP BY 1, 2),
    {out} AS MATERIALIZED (
      SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node
                 ORDER BY cnt DESC, label) AS rn
        FROM {out}_cnt) WHERE rn = 1)
    """


@register(
    "label_propagation_communities",
    f"""
    WITH {_lpa_edges_sql()},
    l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes),
    {_lpa_round_sql("l0", "l1")},
    {_lpa_round_sql("l1", "l2")},
    {_lpa_round_sql("l2", "l3")}
    SELECT CAST(label AS BIGINT) AS community,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM l3 GROUP BY label
    ORDER BY n_members DESC, community LIMIT {LPA_TOP}
    """,
    "label-propagation community detection on the support-filtered"
    f" co-purchase graph: {LPA_ROUNDS} SYNCHRONOUS rounds of"
    " neighbor-majority label updates (ties to the smallest label —"
    f" fully deterministic), community sizes top-{LPA_TOP} — the"
    " cheap-and-cheerful communities baseline next to"
    " connected-components and PageRank",
    tags=("graph", "mining", "shared-build", "headline"),
)
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous LPA is a bounded-round Pregel pattern like the
    repo's PageRank: each round every node adopts its neighbors'
    majority label (count DESC, label ASC tie-break — deterministic,
    unlike classic randomized LPA). The argmax is a plain aggregate
    — max of (cnt, -label) structs — NOT a row_number window, so the
    per-round cost is two keyed shuffles on the edge relation;
    lineage is cut every round (localCheckpoint locally, durable
    checkpoint when a dir is set). The oracle unrolls the same
    {LPA_ROUNDS} rounds as chained MATERIALIZED CTEs (the k-core
    exponential-reinlining lesson).

    Driver branch (``kernels.bounded_collect``): under
    ``kernels.LOCAL_EDGE_CAP`` edges the memoized edge frame is pulled
    once as Arrow and the same synchronous rounds run as numpy sorts
    on the driver (``_lpa_local``): one build job instead of several
    per round (warm sf0.01 on 4 cores: 2.1 s -> 0.1 s), identical
    rows. Past the cap the distributed rounds run unchanged."""
    from aws_etl_global_footprint_network_spark.functions import kernels
    from aws_etl_global_footprint_network_spark.functions.cache import (
        CacheScope,
        cut_lineage,
    )
    from aws_etl_global_footprint_network_spark.operators.mining import (
        _copurchase_edges,
    )

    e0 = _copurchase_edges(spark, sf_dir, min_support=LPA_MIN_SUPPORT)
    probe = kernels.bounded_collect(e0, kernels.LOCAL_EDGE_CAP, "lpa_edges")
    if probe is not None:
        return kernels.local_frame(
            spark,
            _lpa_local(*kernels.edge_index(probe)),
            "community bigint, n_members bigint",
        )
    scope = CacheScope("label_propagation_communities")
    edges = scope.persist(
        e0.unionAll(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
    )
    labels = edges.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(LPA_ROUNDS):
        cnt = (
            edges.join(
                labels.select(
                    F.col("node").alias("v"), F.col("label")
                ),
                "v",
            )
            .groupBy(F.col("u").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = cut_lineage(
            cnt.groupBy("node")
            .agg(
                F.max(
                    F.struct(
                        F.col("cnt"), (-F.col("label")).alias("neg")
                    )
                ).alias("m")
            )
            .select("node", (-F.col("m.neg")).alias("label"))
        )
    return (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
        .select(
            F.col("label").cast("bigint").alias("community"), "n_members"
        )
        .orderBy(F.col("n_members").desc(), "community")
        .limit(LPA_TOP)
    )
