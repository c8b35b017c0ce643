"""Pipeline diagnostics operators ([EXT] — operator-surface breadth
beyond the reference, per the build brief): deterministic A/B
experiment readout, k-anonymity privacy audit, join-size estimation
from per-key counts, a join-key skew profile, and a
differential-privacy noisy-count release.

These are the *planning and governance* queries a 100 TB pipeline runs
before and after the heavy jobs: will this join explode (estimate it
from key counts without running it), is this key skewed enough to need
salting (profile it), is this release k-anonymous, did the experiment
move conversion.

Scale posture: everything reduces through keyed groupBys with map-side
partials to constant-size or key-cardinality-size results; the only
windows are none, and the single-row summaries come from 1-row
aggregates. Float contract: counts are exact integers; every rate /
z-statistic is written in the same textual arithmetic order in both
engines and rounded on the shared grain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_etl_global_footprint_network_spark.functions.compat import round_compat
from aws_etl_global_footprint_network_spark.functions.hashing import (
    md5_hash60,
    md5_hash60_sql,
)
from aws_etl_global_footprint_network_spark.registry import register
from aws_etl_global_footprint_network_spark.sources.readers import read_testdata

# k-anonymity threshold and the account-balance bucket width (cents).
# Balances go negative, and integer division truncates toward zero in
# both engines (merging the first negative bucket into bucket 0), so
# cents are shifted by BAL_OFFSET_CENTS (> |min balance|) first —
# truncation then equals floor and buckets partition the line evenly.
K_ANON = 5
BAL_BUCKET_CENTS = 100_000
BAL_OFFSET_CENTS = 1_000_000

# A/B activation window: a user converts if they purchase within 7
# days of their first event. 'Any purchase ever' saturates to ~100%
# on this corpus (every active user eventually buys), which degenerates
# the pooled z denominator; the windowed metric stays in (0, 1) at
# every scale factor because per-user event density, not corpus size,
# drives it.
AB_WINDOW_US = 7 * 86_400 * 1_000_000


def weekend(ts):
    """Saturday or Sunday, never NULL: an event with a NULL ``ts``
    counts as a weekday, as the oracles' ``CASE WHEN isodow(..) IN
    (6, 7) THEN 1 ELSE 0`` does (``isin`` alone gives NULL, which the
    weekday and weekend branches both drop)."""
    return F.coalesce(F.dayofweek(ts.cast("date")).isin(1, 7), F.lit(False))


@register(
    "ab_test_conversion",
    f"""
    WITH u AS (
      SELECT user_id,
             CAST({md5_hash60_sql("('ab|' || user_id::VARCHAR)")} % 2 AS INT)
               AS variant,
             CASE WHEN MIN(CASE WHEN event_type = 'purchase'
                               THEN epoch_us(ts) END)
                       <= MIN(epoch_us(ts)) + {AB_WINDOW_US}
                  THEN 1 ELSE 0 END AS converted
      FROM events GROUP BY user_id),
    s AS (
      SELECT CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(SUM(CASE WHEN variant = 0 THEN converted ELSE 0 END)
                  AS BIGINT) AS conv_a,
             CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b,
             CAST(SUM(CASE WHEN variant = 1 THEN converted ELSE 0 END)
                  AS BIGINT) AS conv_b
      FROM u)
    SELECT n_a, conv_a, n_b, conv_b,
           ROUND(conv_a / CAST(n_a AS DOUBLE) * 1e6, 0) / 1e6 AS rate_a,
           ROUND(conv_b / CAST(n_b AS DOUBLE) * 1e6, 0) / 1e6 AS rate_b,
           ROUND((conv_a / CAST(n_a AS DOUBLE) - conv_b / CAST(n_b AS DOUBLE))
                 / sqrt(((conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                        * (1.0 - (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                        * (1.0 / n_a + 1.0 / n_b)) * 1e6, 0) / 1e6 AS z_stat
    FROM s
    """,
    "deterministic A/B experiment readout: users split by salted md5"
    " parity (stable across runs/engines/cluster layouts), conversion"
    " = first purchase within 7 days of the user's first event"
    " (integer-microsecond window); two-proportion pooled z-statistic"
    " from exact integer counts, single-row result",
    tags=("diagnostics", "analytics", "headline"),
)
def ab_test_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The experimentation readout shape: one shuffle on user_id
    collapses events to a per-user (variant, converted) bit, then a
    1-row conditional aggregate produces both arms at once — no
    second pass per variant, no pivot. The variant is a pure function
    of user_id (the ``train_test_split_hash`` md5 recipe with an
    'ab|' salt), so assignment is reproducible anywhere. Conversion
    is the 7-day activation window decided on integer microseconds
    (a NULL first-purchase compares to NULL -> not converted, same in
    both engines). The pooled z-statistic is spelled in the identical
    textual order in both engines over exact integer counts, then
    rounded."""
    u = (
        read_testdata(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.when(
                F.min(
                    F.when(
                        F.col("event_type") == "purchase",
                        F.unix_micros("ts"),
                    )
                )
                <= F.min(F.unix_micros("ts")) + F.lit(AB_WINDOW_US),
                1,
            )
            .otherwise(0)
            .alias("converted")
        )
        .withColumn(
            "variant",
            (
                md5_hash60(
                    F.concat(F.lit("ab|"), F.col("user_id").cast("string"))
                )
                % 2
            ).cast("int"),
        )
    )
    s = u.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("variant") == 0, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("conv_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
        F.sum(F.when(F.col("variant") == 1, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("conv_b"),
    )
    n_a, conv_a = F.col("n_a"), F.col("conv_a")
    n_b, conv_b = F.col("n_b"), F.col("conv_b")
    # try_divide mirrors DuckDB's NULL-on-zero double division, so a
    # degenerate experiment (pooled rate 0 or 1, or an empty arm)
    # yields z_stat NULL identically in both engines instead of a
    # runtime error under ANSI mode.
    p_pool = F.try_divide(conv_a + conv_b, (n_a + n_b).cast("double"))
    z = F.try_divide(
        F.try_divide(conv_a, n_a.cast("double"))
        - F.try_divide(conv_b, n_b.cast("double")),
        F.sqrt(
            p_pool
            * (F.lit(1.0) - p_pool)
            * (F.try_divide(F.lit(1.0), n_a) + F.try_divide(F.lit(1.0), n_b))
        ),
    )
    return s.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        round_compat(F.try_divide(conv_a, n_a.cast("double")), 6).alias("rate_a"),
        round_compat(F.try_divide(conv_b, n_b.cast("double")), 6).alias("rate_b"),
        round_compat(z, 6).alias("z_stat"),
    )


@register(
    "k_anonymity_audit",
    f"""
    WITH q AS (
      SELECT c_nationkey, c_mktsegment,
             (CAST(ROUND(c_acctbal * 100) AS BIGINT) + {BAL_OFFSET_CENTS})
               // {BAL_BUCKET_CENTS} AS bal_bucket
      FROM customer),
    g AS (
      SELECT c_nationkey, c_mktsegment, bal_bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM q GROUP BY c_nationkey, c_mktsegment, bal_bucket)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN cnt < {K_ANON} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_groups,
           CAST(SUM(CASE WHEN cnt < {K_ANON} THEN cnt ELSE 0 END) AS BIGINT)
             AS n_rows_at_risk,
           CAST(MIN(cnt) AS BIGINT) AS min_group_size,
           ROUND(SUM(CASE WHEN cnt < {K_ANON} THEN cnt ELSE 0 END)
                 / CAST(SUM(cnt) AS DOUBLE) * 1e6, 0) / 1e6
             AS suppression_rate
    FROM g
    """,
    f"k-anonymity (k={K_ANON}) privacy audit over the"
    " (nation, segment, balance-bucket) quasi-identifier: group sizes"
    " via one groupBy, quasi-identifier groups smaller than k counted"
    " as re-identification risk with the row-suppression rate; floor"
    " division on integer cents buckets the balance identically in"
    " both engines",
    tags=("diagnostics", "dq", "privacy", "headline"),
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The release-gating privacy audit: every row whose
    quasi-identifier combination is shared by fewer than k individuals
    is re-identifiable and must be suppressed or generalised before
    publication. One groupBy on the quasi-identifier (map-side
    partials; cardinality = the QI-space, bounded far below the row
    count) then a 1-row summary. The balance bucket comes from FLOOR
    division of exact integer cents — engines cannot disagree at
    bucket boundaries the way float binning can."""
    q = read_testdata(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.expr(
            f"(CAST(ROUND(c_acctbal * 100) AS BIGINT) + {BAL_OFFSET_CENTS})"
            f" div {BAL_BUCKET_CENTS}"
        ).alias("bal_bucket"),
    )
    g = q.groupBy("c_nationkey", "c_mktsegment", "bal_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    risk = F.sum(F.when(F.col("cnt") < K_ANON, F.col("cnt")).otherwise(0))
    return g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum(F.when(F.col("cnt") < K_ANON, 1).otherwise(0))
        .cast("bigint")
        .alias("n_violating_groups"),
        risk.cast("bigint").alias("n_rows_at_risk"),
        F.min("cnt").cast("bigint").alias("min_group_size"),
        round_compat(risk / F.sum("cnt").cast("double"), 6).alias(
            "suppression_rate"
        ),
    )


@register(
    "join_size_estimate",
    """
    WITH pk AS (
      SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY l_partkey),
    sk AS (
      SELECT l_suppkey AS k, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY l_suppkey),
    ok AS (
      SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY l_orderkey)
    SELECT 'l_partkey' AS join_key,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(SUM(cnt * cnt) AS BIGINT) AS predicted_self_join_rows
    FROM pk
    UNION ALL
    SELECT 'l_suppkey', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(cnt) AS BIGINT), CAST(SUM(cnt * cnt) AS BIGINT)
    FROM sk
    UNION ALL
    SELECT 'l_orderkey', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(cnt) AS BIGINT), CAST(SUM(cnt * cnt) AS BIGINT)
    FROM ok
    """,
    "join-size estimation without running the join: for each candidate"
    " key of lineitem, |A JOIN A on k| = SUM over keys of cnt² from"
    " the per-key count table — the cost-based-optimizer statistic"
    " that decides broadcast vs shuffle vs salt BEFORE the join runs;"
    " all-integer, exactness pinned against a real bounded join in"
    " tests",
    tags=("diagnostics", "planning", "headline"),
)
def join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What a cost-based optimizer does with column statistics, as an
    explicit operator: the exact size of an equi self-join is
    sum(cnt_k²) over the key histogram, computable from one groupBy
    per key — linear work that predicts a potentially quadratic join.
    At 100 TB you run THIS (or its sketch approximation) before
    deciding a join strategy; a predicted 10^13-row join is a plan
    bug caught for the price of an aggregation. Three keyed groupBys
    with map-side partials, each collapsing to one summary row."""
    li = read_testdata(spark, sf_dir, "lineitem")

    def profile(key: str) -> DataFrame:
        cnts = li.groupBy(F.col(key).alias("k")).agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt")
        )
        return cnts.agg(
            F.lit(key).alias("join_key"),
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.sum("cnt").cast("bigint").alias("n_rows"),
            F.sum(F.col("cnt") * F.col("cnt"))
            .cast("bigint")
            .alias("predicted_self_join_rows"),
        )

    return (
        profile("l_partkey")
        .unionByName(profile("l_suppkey"))
        .unionByName(profile("l_orderkey"))
    )


@register(
    "key_skew_profile",
    """
    WITH pk AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY l_partkey),
    sk AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY l_suppkey),
    ck AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders GROUP BY o_custkey)
    SELECT 'lineitem.l_partkey' AS key_name,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(MAX(cnt) AS BIGINT) AS max_cnt,
           ROUND(SUM(cnt) / CAST(COUNT(*) AS DOUBLE) * 1e6, 0) / 1e6
             AS avg_cnt,
           quantile_cont(cnt, 0.99) AS p99_cnt,
           ROUND(MAX(cnt) / (SUM(cnt) / CAST(COUNT(*) AS DOUBLE)) * 1e6, 0)
             / 1e6 AS skew_ratio
    FROM pk
    UNION ALL
    SELECT 'lineitem.l_suppkey', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(cnt) AS BIGINT), CAST(MAX(cnt) AS BIGINT),
           ROUND(SUM(cnt) / CAST(COUNT(*) AS DOUBLE) * 1e6, 0) / 1e6,
           quantile_cont(cnt, 0.99),
           ROUND(MAX(cnt) / (SUM(cnt) / CAST(COUNT(*) AS DOUBLE)) * 1e6, 0)
             / 1e6
    FROM sk
    UNION ALL
    SELECT 'orders.o_custkey', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(cnt) AS BIGINT), CAST(MAX(cnt) AS BIGINT),
           ROUND(SUM(cnt) / CAST(COUNT(*) AS DOUBLE) * 1e6, 0) / 1e6,
           quantile_cont(cnt, 0.99),
           ROUND(MAX(cnt) / (SUM(cnt) / CAST(COUNT(*) AS DOUBLE)) * 1e6, 0)
             / 1e6
    FROM ck
    """,
    "join/groupBy-key skew diagnostic: per candidate key the count"
    " histogram's cardinality, max, mean, exact p99 and max/mean skew"
    " ratio — the number that decides whether a key needs salting or"
    " AQE skew handling; counts are exact integers, the p99 is the"
    " shared interpolated-percentile-of-integers grain",
    tags=("diagnostics", "planning", "headline"),
)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-flight skew check behind ``salted_join_revenue``'s
    design decision, as data: a skew_ratio near 1 means uniform keys
    (shuffle freely); 100x means one task drags the stage and the key
    needs salting or AQE skew-join splitting. Per key: one groupBy
    (map-side partials) to the key histogram, one aggregate over it.
    The exact percentile runs over the key-cardinality-sized count
    table, not the fact table — bounded, and swappable for
    approx_percentile at extreme key cardinalities."""
    li = read_testdata(spark, sf_dir, "lineitem")
    orders = read_testdata(spark, sf_dir, "orders")

    def profile(df: DataFrame, key: str, label: str) -> DataFrame:
        cnts = df.groupBy(F.col(key).alias("k")).agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt")
        )
        avg = F.sum("cnt") / F.count(F.lit(1)).cast("double")
        return cnts.agg(
            F.lit(label).alias("key_name"),
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.sum("cnt").cast("bigint").alias("n_rows"),
            F.max("cnt").cast("bigint").alias("max_cnt"),
            round_compat(avg, 6).alias("avg_cnt"),
            F.expr("percentile(cnt, 0.99)").alias("p99_cnt"),
            round_compat(F.max("cnt") / avg, 6).alias("skew_ratio"),
        )

    return (
        profile(li, "l_partkey", "lineitem.l_partkey")
        .unionByName(profile(li, "l_suppkey", "lineitem.l_suppkey"))
        .unionByName(profile(orders, "o_custkey", "orders.o_custkey"))
    )


# DP-release demo constants: epsilon and the Laplace scale b = 1/eps
# for a count query of sensitivity 1. The "noise" is DETERMINISTIC
# pseudo-randomness (md5-uniform through the Laplace inverse CDF) so
# both engines — and reruns — produce the identical release; a real
# deployment would swap the hash for a CSPRNG draw, which is the ONLY
# line that changes.
DP_EPSILON = 0.5
DP_SCALE = 1.0 / DP_EPSILON
DP_DENOM = float(1 << 52)


@register(
    "dp_noisy_counts",
    f"""
    WITH c AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS true_n
      FROM events GROUP BY event_type),
    u AS (
      SELECT event_type, true_n,
             (({md5_hash60_sql("('dp|' || event_type)")} % {(1 << 52) - 1}) + 1)
               / {DP_DENOM} AS uu
      FROM c)
    SELECT event_type, true_n,
           ROUND((true_n + (CASE WHEN uu < 0.5 THEN 1.0 ELSE -1.0 END)
                  * {DP_SCALE} * ln(1.0 - 2.0 * ABS(uu - 0.5))) * 1e4, 0) / 1e4
             AS noisy_n,
           {DP_EPSILON} AS epsilon
    FROM u
    """,
    f"differential-privacy release pattern (eps={DP_EPSILON},"
    " sensitivity-1 count query): per-type event counts plus Laplace"
    " noise via the inverse CDF over a DETERMINISTIC md5-uniform (so"
    " the release is engine- and rerun-identical; swap the hash for a"
    " CSPRNG draw in production); constant-size result",
    tags=("diagnostics", "privacy", "headline"),
)
def dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The private-release aggregation shape: the exact groupBy runs
    inside the engine as usual, and the Laplace mechanism is one
    map-side expression over the (constant-size) aggregate — noise
    never touches the fact table, so privacy costs nothing at scale.
    Inverse-CDF Laplace: u ~ Uniform(0,1), noise = -b*sign(u-1/2)*
    ln(1-2|u-1/2|). The uniform is (md5 % (2^52-1) + 1)/2^52 — strictly
    inside (0,1), so the ln() argument never hits 0 — and the ln ulp
    gap between libm implementations is healed by the 1e-4 rounding."""
    c = read_testdata(spark, sf_dir, "events").groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("true_n")
    )
    u = (
        (
            md5_hash60(F.concat(F.lit("dp|"), F.col("event_type")))
            % F.lit((1 << 52) - 1)
        )
        + 1
    ) / F.lit(DP_DENOM)
    noise = (
        F.when(u < 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.lit(DP_SCALE)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u - F.lit(0.5)))
    )
    return c.select(
        "event_type",
        "true_n",
        round_compat(F.col("true_n") + noise, 4).alias("noisy_n"),
        F.lit(DP_EPSILON).alias("epsilon"),
    )


# --------------------------------------------------------------------
# Poisson-surrogate bootstrap CI for the per-segment mean
# --------------------------------------------------------------------

# Replicate count and the order-statistic (type-1 empirical quantile)
# ranks for the 90% interval: ceil(0.05*B) and ceil(0.95*B), 1-based.
BOOT_B = 40
BOOT_K_LO = 2
BOOT_K_HI = 38


@register(
    "bootstrap_mean_ci",
    f"""
    WITH c AS (
      SELECT c_custkey, c_mktsegment AS segment,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer),
    xb AS (
      SELECT c.segment, c.cents, b.b,
             CASE ({md5_hash60_sql("('boot|' || c.c_custkey::VARCHAR || '|' || b.b::VARCHAR)")} % 4)
               WHEN 0 THEN 0 WHEN 3 THEN 2 ELSE 1 END AS w
      FROM c CROSS JOIN (SELECT unnest(range(0, {BOOT_B})) AS b) b),
    rep AS (
      SELECT segment, b, SUM(w) AS sw, SUM(w * cents) AS swx
      FROM xb GROUP BY 1, 2 HAVING SUM(w) > 0),
    m AS (
      SELECT segment, b, swx * 1.0 / sw AS mean_b,
             ROW_NUMBER() OVER (PARTITION BY segment
                                ORDER BY swx * 1.0 / sw, b) AS rn,
             COUNT(*) OVER (PARTITION BY segment) AS n_reps
      FROM rep),
    point AS (
      SELECT segment, SUM(cents) * 1.0 / COUNT(*) AS pm FROM c GROUP BY 1)
    SELECT m.segment, CAST(MAX(m.n_reps) AS BIGINT) AS n_reps,
           ROUND(MAX(point.pm) * 1e6, 0) / 1e6 AS point_mean_r6,
           ROUND(MAX(CASE WHEN m.rn = {BOOT_K_LO} THEN m.mean_b END) * 1e6, 0)
             / 1e6 AS ci_lo_r6,
           ROUND(MAX(CASE WHEN m.rn = {BOOT_K_HI} THEN m.mean_b END) * 1e6, 0)
             / 1e6 AS ci_hi_r6
    FROM m JOIN point ON point.segment = m.segment
    GROUP BY m.segment
    """,
    f"bootstrap confidence interval for the per-segment mean balance:"
    f" {BOOT_B} deterministic hash-weighted resamples (Poisson-"
    "bootstrap surrogate, integer weights 0/1/1/2), replicate means"
    " from exact int64 partial sums, 90% interval as order statistics"
    " — the distributed-resampling pattern (explode xB + combinable"
    " agg), no per-replicate data movement",
    tags=("diagnostics", "stats", "agg", "headline"),
)
def bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Poisson bootstrap is THE way to bootstrap at cluster
    scale (Chamandy et al., Google): instead of materialising B
    resampled datasets, every row draws an independent per-replicate
    weight, so all B replicates aggregate in ONE combinable groupBy
    over an exploded-by-B relation — a bounded xB map-side fanout,
    no shuffle of resampled data. Here the Poisson(1) draw is a
    deterministic md5 surrogate (weights 0/1/1/2 with mean 1,
    reproducible and oracle-pairable; the real thing would use
    rand-seeded Poisson). Replicate means are exact-int64 sums with
    ONE division (bit-identical cross-engine); the 90% interval
    takes the ceil(0.05B)/ceil(0.95B) order statistics of the B
    means — type-1 empirical quantiles, NO float interpolation, so
    the interval bounds are themselves bit-exact replicate means.
    Two shuffles (replicate agg keyed (segment, b), then the
    B-row-per-segment rank window); output is segment-cardinality."""
    from pyspark.sql import Window

    c = read_testdata(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("cents"),
    )
    xb = c.select(
        "c_custkey",
        "segment",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b"),
    )
    h = md5_hash60(
        F.concat(
            F.lit("boot|"),
            F.col("c_custkey").cast("string"),
            F.lit("|"),
            F.col("b").cast("string"),
        )
    ) % F.lit(4)
    w = (
        F.when(h == 0, F.lit(0))
        .when(h == 3, F.lit(2))
        .otherwise(F.lit(1))
        .cast("long")
    )
    rep = (
        xb.withColumn("w", w)
        .groupBy("segment", "b")
        .agg(
            F.sum("w").alias("sw"),
            F.sum(F.col("w") * F.col("cents")).alias("swx"),
        )
        .filter(F.col("sw") > 0)
    )
    mean_b = F.col("swx") * 1.0 / F.col("sw")
    wr = Window.partitionBy("segment").orderBy(mean_b, "b")
    wa = Window.partitionBy("segment")
    m = rep.select(
        "segment",
        mean_b.alias("mean_b"),
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wa).alias("n_reps"),
    )
    point = c.groupBy("segment").agg(
        (F.sum("cents") * 1.0 / F.count(F.lit(1))).alias("pm")
    )
    return (
        m.join(point, "segment")
        .groupBy("segment")
        .agg(
            F.max("n_reps").cast("bigint").alias("n_reps"),
            round_compat(F.max("pm"), 6).alias("point_mean_r6"),
            round_compat(
                F.max(F.when(F.col("rn") == BOOT_K_LO, F.col("mean_b"))), 6
            ).alias("ci_lo_r6"),
            round_compat(
                F.max(F.when(F.col("rn") == BOOT_K_HI, F.col("mean_b"))), 6
            ).alias("ci_hi_r6"),
        )
    )


# --------------------------------------------------------------------
# Welch two-sample t-test: weekday vs weekend spend per event type
# --------------------------------------------------------------------

@register(
    "welch_mean_test",
    """
    WITH e AS (
      SELECT event_type,
             CASE WHEN isodow(CAST(ts AS DATE)) IN (6, 7)
                  THEN 1 ELSE 0 END AS we,
             CAST(ROUND(value * 100) AS BIGINT) AS x
      FROM events WHERE value IS NOT NULL),
    s AS (
      SELECT event_type,
             SUM(CASE WHEN we = 0 THEN 1 ELSE 0 END) AS n1,
             SUM(CASE WHEN we = 0 THEN x ELSE 0 END) AS s1,
             SUM(CASE WHEN we = 0 THEN x * x ELSE 0 END) AS q1,
             SUM(CASE WHEN we = 1 THEN 1 ELSE 0 END) AS n2,
             SUM(CASE WHEN we = 1 THEN x ELSE 0 END) AS s2,
             SUM(CASE WHEN we = 1 THEN x * x ELSE 0 END) AS q2
      FROM e GROUP BY event_type
      HAVING SUM(CASE WHEN we = 0 THEN 1 ELSE 0 END) >= 2
         AND SUM(CASE WHEN we = 1 THEN 1 ELSE 0 END) >= 2),
    f AS (
      SELECT event_type, n1, n2,
             CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2 AS dmean,
             CAST(n1 * q1 - s1 * s1 AS DOUBLE)
               / (CAST(n1 AS DOUBLE) * (n1 - 1)) / n1 AS a1,
             CAST(n2 * q2 - s2 * s2 AS DOUBLE)
               / (CAST(n2 AS DOUBLE) * (n2 - 1)) / n2 AS a2
      FROM s)
    SELECT event_type,
           CAST(n1 AS BIGINT) AS n_weekday, CAST(n2 AS BIGINT) AS n_weekend,
           ROUND(dmean * 1e6, 0) / 1e6 AS mean_diff_cents_r6,
           CASE WHEN a1 + a2 > 0
                THEN ROUND((dmean / sqrt(a1 + a2)) * 1e6, 0) / 1e6
                ELSE NULL END AS t_stat_r6,
           CASE WHEN a1 > 0 OR a2 > 0
                THEN ROUND(((a1 + a2) * (a1 + a2)
                       / (a1 * a1 / (n1 - 1) + a2 * a2 / (n2 - 1)))
                     * 1e6, 0) / 1e6
                ELSE NULL END AS welch_df_r6
    FROM f
    """,
    "Welch's unequal-variance two-sample t-test of weekday vs"
    " weekend spend per event type: t statistic and"
    " Welch-Satterthwaite degrees of freedom entirely from"
    " conditional integer sufficient statistics in ONE groupBy",
    tags=("diagnostics", "stats", "agg", "headline"),
)
def welch_mean_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed hypothesis testing without materialising either
    sample: both groups' sufficient statistics (n, Sx, Sx^2)
    aggregate as CASE-gated sums in a single combinable groupBy —
    one corpus pass, one shuffle, output is event-type-cardinality.
    Sufficient statistics accumulate as DECIMAL(38,0) and the
    variance numerator n*Q - S^2 is computed EXACTLY in decimal
    before the single cast to DOUBLE: the original int64 closing
    chain had n*Q ~ 5e19 > 2^63 at sf10 — the round-11 sf10 sweep
    caught it as an ANSI ARITHMETIC_OVERFLOW (the docstring's old
    "corpus rows < 2^31 keep every sum < 2^63" bound was about the
    SUMS and missed the n*Q product; DuckDB widens to HUGEINT
    natively, so only Spark threw).  Width dispatch (round 12): that
    catch was in the per-event-type CLOSING — k rows — where DECIMAL
    is free; only the corpus-sized groupBy paid the round-11 blanket
    DECIMAL tax.  When parquet footer stats prove n_total·max(cents)²
    < 2^62 (``functions/width``; true through ~1.5e9 events at the
    observed value domain, sf10 included) the six sufficient sums
    accumulate as int64 and are cast to DECIMAL(38,0) after the
    groupBy, so the exact n*Q - S² decimal close is unchanged on
    both widths; decision logged to DISPATCH_LOG.  The t statistic
    and the
    Welch-Satterthwaite df are then a fixed chain of IEEE ops on
    exact inputs, written in identical order in both engines and
    rounded at 1e-6. Sample variance uses the (n*Q - S^2)/(n(n-1))
    form — no mean-subtraction pass. Weekend = ISO days 6-7, pinned
    via isodow in the oracle and dayofweek IN (1,7) in Spark (both
    Sat+Sun); n >= 2 per group via HAVING on both sides; zero
    pooled variance pins NULL on both sides."""
    e = (
        read_testdata(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            weekend(F.col("ts")).alias("we"),
            F.round(F.col("value") * 100, 0).cast("long").alias("x"),
        )
    )
    from aws_etl_global_footprint_network_spark.functions.ranking import (
        _log_dispatch,
    )
    from aws_etl_global_footprint_network_spark.functions.width import (
        cents_sumsq_int64_safe,
    )

    dec = "decimal(38,0)"
    narrow = cents_sumsq_int64_safe(sf_dir, "events", "value")
    _log_dispatch(
        "welch_acc_width", int(narrow), 0,
        "int64 sufficient stats" if narrow else "decimal(38,0) stats",
    )
    wd = F.when(~F.col("we"), F.lit(1)).otherwise(F.lit(0))
    wk = F.when(F.col("we"), F.lit(1)).otherwise(F.lit(0))
    xd = F.col("x") if narrow else F.col("x").cast(dec)
    s = (
        e.groupBy("event_type")
        .agg(
            F.sum(wd).alias("n1"),
            F.sum(wd * xd).alias("s1"),
            F.sum(wd * xd * F.col("x")).alias("q1"),
            F.sum(wk).alias("n2"),
            F.sum(wk * xd).alias("s2"),
            F.sum(wk * xd * F.col("x")).alias("q2"),
        )
        .filter((F.col("n1") >= 2) & (F.col("n2") >= 2))
    )
    if narrow:
        s = s.select(
            "event_type",
            *[F.col(c).cast(dec).alias(c)
              for c in ("n1", "s1", "q1", "n2", "s2", "q2")],
        )
    dmean = F.col("s1").cast("double") / F.col("n1") - F.col("s2").cast(
        "double"
    ) / F.col("n2")
    a1 = (
        (F.col("n1") * F.col("q1") - F.col("s1") * F.col("s1")).cast("double")
        / (F.col("n1").cast("double") * (F.col("n1") - 1))
    ) / F.col("n1")
    a2 = (
        (F.col("n2") * F.col("q2") - F.col("s2") * F.col("s2")).cast("double")
        / (F.col("n2").cast("double") * (F.col("n2") - 1))
    ) / F.col("n2")
    f = s.select(
        "event_type",
        F.col("n1").cast("bigint").alias("n_weekday"),
        F.col("n2").cast("bigint").alias("n_weekend"),
        dmean.alias("dmean"),
        a1.alias("a1"),
        a2.alias("a2"),
        F.col("n1").alias("n1"),
        F.col("n2").alias("n2"),
    )
    return f.select(
        "event_type",
        "n_weekday",
        "n_weekend",
        round_compat(F.col("dmean"), 6).alias("mean_diff_cents_r6"),
        F.when(
            F.col("a1") + F.col("a2") > 0,
            round_compat(
                F.col("dmean") / F.sqrt(F.col("a1") + F.col("a2")), 6
            ),
        ).alias("t_stat_r6"),
        F.when(
            (F.col("a1") > 0) | (F.col("a2") > 0),
            round_compat(
                (F.col("a1") + F.col("a2"))
                * (F.col("a1") + F.col("a2"))
                / (
                    F.col("a1") * F.col("a1") / (F.col("n1") - 1)
                    + F.col("a2") * F.col("a2") / (F.col("n2") - 1)
                ),
                6,
            ),
        ).alias("welch_df_r6"),
    )


# --------------------------------------------------------------------
# Chi-square test of independence: event type x ISO weekday
# --------------------------------------------------------------------

@register(
    "chisq_type_weekday",
    """
    WITH o AS (
      SELECT event_type, isodow(CAST(ts AS DATE)) AS dow,
             CAST(COUNT(*) AS BIGINT) AS obs
      FROM events GROUP BY 1, 2),
    rt AS (SELECT event_type, SUM(obs) AS r FROM o GROUP BY 1),
    ct AS (SELECT dow, SUM(obs) AS c FROM o GROUP BY 1),
    n AS (SELECT SUM(obs) AS n FROM o),
    cells AS (
      SELECT o.event_type, o.dow, o.obs,
             rt.r * 1.0 * ct.c / n.n AS expected
      FROM o JOIN rt USING (event_type) JOIN ct USING (dow) CROSS JOIN n)
    SELECT event_type, CAST(dow AS BIGINT) AS dow,
           obs, ROUND(expected * 1e6, 0) / 1e6 AS expected_r6,
           ROUND(((obs - expected) * (obs - expected) / expected) * 1e6, 0)
             / 1e6 AS chisq_term_r6
    FROM cells
    """,
    "chi-square independence cells for event type x ISO weekday:"
    " observed counts vs expected = row_total * col_total / N, the"
    " per-cell (O-E)^2/E contributions (client sums terms and looks"
    " up the (R-1)(C-1)-df critical value)",
    tags=("diagnostics", "stats", "agg", "headline"),
)
def chisq_type_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical independence testing from ONE contingency pass:
    the observed table is a single groupBy (map-side combinable);
    row totals, column totals and the grand total re-aggregate from
    the CELL table (R*C rows — never a second corpus pass), and the
    expected counts and (O-E)^2/E terms are IEEE ops on exact
    integer inputs in identical order both engines, rounded 1e-6.
    Emitting per-cell contributions rather than the single summed
    statistic keeps every float at exactly ONE arithmetic depth —
    summing R*C rounded terms is the client's (or a 1-row follow-up
    aggregate's) job, and the cell detail is the actionable output
    anyway (which cell deviates). ISO weekday via isodow /
    weekday-shifted dayofweek, pinned cross-engine."""
    e = read_testdata(spark, sf_dir, "events").select(
        "event_type",
        # Spark dayofweek: 1=Sun..7=Sat; ISO: 1=Mon..7=Sun
        ((F.dayofweek(F.col("ts").cast("date")) + 5) % 7 + 1).alias("dow"),
    )
    o = e.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("obs")
    )
    from aws_etl_global_footprint_network_spark.functions.cache import CacheScope

    scope = CacheScope("chisq_type_weekday")
    o = scope.persist(o)
    rt = o.groupBy("event_type").agg(F.sum("obs").alias("r"))
    ct = o.groupBy("dow").agg(F.sum("obs").alias("c"))
    n = o.agg(F.sum("obs").alias("n"))
    expected = F.col("r") * 1.0 * F.col("c") / F.col("n")
    return (
        o.join(rt, "event_type")
        .join(ct, "dow")
        .crossJoin(F.broadcast(n))
        .select(
            "event_type",
            F.col("dow").cast("bigint").alias("dow"),
            "obs",
            round_compat(expected, 6).alias("expected_r6"),
            round_compat(
                (F.col("obs") - expected)
                * (F.col("obs") - expected)
                / expected,
                6,
            ).alias("chisq_term_r6"),
        )
    )


# --------------------------------------------------------------------
# Mann-Whitney U: nonparametric weekday vs weekend spend test
# --------------------------------------------------------------------

@register(
    "mann_whitney_u",
    """
    WITH e AS (
      SELECT event_type,
             CASE WHEN isodow(CAST(ts AS DATE)) IN (6, 7)
                  THEN 1 ELSE 0 END AS we,
             CAST(ROUND(value * 100) AS BIGINT) AS x
      FROM events WHERE value IS NOT NULL),
    v AS (
      SELECT event_type, x,
             SUM(CASE WHEN we = 0 THEN 1 ELSE 0 END) AS n1v,
             COUNT(*) AS t
      FROM e GROUP BY 1, 2),
    c AS (
      SELECT event_type, x, n1v, t,
             COALESCE(SUM(t) OVER (PARTITION BY event_type ORDER BY x
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS cb
      FROM v),
    s AS (
      SELECT event_type,
             SUM(n1v) AS n1, SUM(t - n1v) AS n2, SUM(t) AS n,
             SUM(n1v * (2 * cb + t + 1)) AS r1_twice,
             SUM(t * t * t - t) AS ties
      FROM c GROUP BY event_type
      HAVING SUM(n1v) >= 2 AND SUM(t - n1v) >= 2),
    f AS (
      SELECT event_type, n1, n2,
             (r1_twice - n1 * (n1 + 1)) / 2.0 AS u1,
             n1 * 1.0 * n2 / 2.0 AS mu,
             (n1 * 1.0 * n2 / 12.0)
               * ((n + 1) - ties * 1.0 / (n * 1.0 * (n - 1))) AS var
      FROM s)
    SELECT event_type,
           CAST(n1 AS BIGINT) AS n_weekday, CAST(n2 AS BIGINT) AS n_weekend,
           ROUND(u1 * 1e6, 0) / 1e6 AS u_stat_r6,
           CASE WHEN var > 0
                THEN ROUND(((u1 - mu) / sqrt(var)) * 1e6, 0) / 1e6
                ELSE NULL END AS z_stat_r6
    FROM f
    """,
    "Mann-Whitney U rank-sum test of weekday vs weekend spend per"
    " event type, computed RANK-FREE from value-grouped counts and"
    " an exclusive cumulative count (tie-corrected normal"
    " approximation) — no per-row rank is ever materialised",
    tags=("diagnostics", "stats", "agg", "headline"),
)
def mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale trick: U needs rank SUMS, not ranks. Group both
    samples by VALUE (value-cardinality, not row-cardinality), take
    an exclusive running count cb per value within each event type,
    and every tied row's average rank is (2*cb + t + 1)/2 — so the
    rank sum doubles to the all-integer
    r1_twice = sum(n1v * (2cb + t + 1)) and no per-row rank window
    ever runs. The tie-corrected variance consumes sum(t^3 - t) from
    the same pass. Integer bounds: r1_twice <= 2N^2 keeps exact
    int64 to N ~ 2^31 rows per event type; the z chain is IEEE ops
    on exact inputs in identical order both engines, rounded 1e-6.
    Degenerate variance (all values tied) pins NULL both sides;
    n>=2 per sample via HAVING. The value table, its sizing and its
    partitioning come from ``functions/ranking.value_ranks``: under
    the footer proof one event_type exchange serves the grouping, the
    window and this close (2 jobs, 3 stages)."""
    from aws_etl_global_footprint_network_spark.functions.cache import CacheScope
    from aws_etl_global_footprint_network_spark.functions.ranking import value_ranks

    e = (
        read_testdata(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            weekend(F.col("ts")).alias("we"),
            F.round(F.col("value") * 100, 0).cast("long").alias("x"),
        )
    )
    c = value_ranks(
        e,
        "event_type",
        "x",
        {
            "n1v": F.sum(F.when(~F.col("we"), 1).otherwise(0)),
            "t": F.count(F.lit(1)),
        },
        {"cb": "t"},
        CacheScope("mann_whitney_u"),
        (sf_dir, "events"),
    )
    s = (
        c.groupBy("event_type")
        .agg(
            F.sum("n1v").alias("n1"),
            F.sum(F.col("t") - F.col("n1v")).alias("n2"),
            F.sum("t").alias("n"),
            F.sum(
                F.col("n1v") * (2 * F.col("cb") + F.col("t") + 1)
            ).alias("r1_twice"),
            F.sum(
                F.col("t") * F.col("t") * F.col("t") - F.col("t")
            ).alias("ties"),
        )
        .filter((F.col("n1") >= 2) & (F.col("n2") >= 2))
    )
    u1 = (F.col("r1_twice") - F.col("n1") * (F.col("n1") + 1)) / F.lit(2.0)
    mu = F.col("n1") * 1.0 * F.col("n2") / F.lit(2.0)
    var = (F.col("n1") * 1.0 * F.col("n2") / F.lit(12.0)) * (
        (F.col("n") + 1)
        - F.col("ties") * 1.0 / (F.col("n") * 1.0 * (F.col("n") - 1))
    )
    return s.select(
        "event_type",
        F.col("n1").cast("bigint").alias("n_weekday"),
        F.col("n2").cast("bigint").alias("n_weekend"),
        round_compat(u1, 6).alias("u_stat_r6"),
        F.when(var > 0, round_compat((u1 - mu) / F.sqrt(var), 6)).alias(
            "z_stat_r6"
        ),
    )


# --------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov: weekday vs weekend spend
# --------------------------------------------------------------------

@register(
    "ks_two_sample",
    """
    WITH e AS (
      SELECT event_type,
             CASE WHEN isodow(CAST(ts AS DATE)) IN (6, 7)
                  THEN 1 ELSE 0 END AS we,
             CAST(ROUND(value * 100) AS BIGINT) AS x
      FROM events WHERE value IS NOT NULL),
    v AS (
      SELECT event_type, x,
             SUM(CASE WHEN we = 0 THEN 1 ELSE 0 END) AS n1v,
             SUM(CASE WHEN we = 1 THEN 1 ELSE 0 END) AS n2v
      FROM e GROUP BY 1, 2),
    c AS (
      SELECT event_type, x,
             SUM(n1v) OVER win AS c1, SUM(n2v) OVER win AS c2,
             SUM(n1v) OVER (PARTITION BY event_type) AS n1,
             SUM(n2v) OVER (PARTITION BY event_type) AS n2
      FROM v
      WINDOW win AS (PARTITION BY event_type ORDER BY x
                     ROWS UNBOUNDED PRECEDING)),
    s AS (
      SELECT event_type, n1, n2,
             MAX(ABS(c1 * n2 - c2 * n1)) AS max_cross
      FROM c GROUP BY event_type, n1, n2
      HAVING n1 >= 2 AND n2 >= 2)
    SELECT event_type,
           CAST(n1 AS BIGINT) AS n_weekday, CAST(n2 AS BIGINT) AS n_weekend,
           ROUND((max_cross * 1.0 / (n1 * 1.0 * n2)) * 1e6, 0) / 1e6
             AS ks_d_r6,
           ROUND((max_cross * 1.0 / (n1 * 1.0 * n2))
                 * sqrt(n1 * 1.0 * n2 / (n1 + n2)) * 1e6, 0) / 1e6
             AS ks_scaled_r6
    FROM s
    """,
    "two-sample Kolmogorov-Smirnov distance between weekday and"
    " weekend spend per event type: D = max |F1 - F2| computed as an"
    " INTEGER cross-multiplied max over value-grouped cumulative"
    " counts (one division at the end), plus the"
    " sqrt(n1*n2/(n1+n2))-scaled statistic",
    tags=("diagnostics", "stats", "agg", "headline"),
)
def ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distribution-difference member of the two-sample trio
    (Welch = means, Mann-Whitney = ranks, KS = whole CDFs), on the
    same value table as mann_whitney_u (``ranking.value_ranks``):
    inclusive cumulative counts per sample are the exclusive ones plus
    the value's own count, and the per-type sample totals are window
    sums over the same event_type partitioning (a NULL event_type
    keeps its row, as in the oracle's window). The sup statistic needs
    no floats until the last step — |F1(x) - F2(x)| maximises exactly
    where |c1*n2 - c2*n1| does (cross-multiplied integers, exact in
    int64 to ~2^31 rows per sample), so the max reduces over integers
    and ONE division + one sqrt produce the reported values, identical
    order both engines, rounded 1e-6. Checking F only at sample points
    is exact: the step functions change nowhere else."""
    from aws_etl_global_footprint_network_spark.functions.cache import CacheScope
    from aws_etl_global_footprint_network_spark.functions.ranking import value_ranks

    e = (
        read_testdata(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            weekend(F.col("ts")).alias("we"),
            F.round(F.col("value") * 100, 0).cast("long").alias("x"),
        )
    )
    v = value_ranks(
        e,
        "event_type",
        "x",
        {
            "n1v": F.sum(F.when(~F.col("we"), 1).otherwise(0)),
            "n2v": F.sum(F.when(F.col("we"), 1).otherwise(0)),
        },
        {"b1": "n1v", "b2": "n2v"},
        CacheScope("ks_two_sample"),
        (sf_dir, "events"),
        totals={"n1": F.col("n1v"), "n2": F.col("n2v")},
    )
    c = v.select(
        "event_type",
        (F.col("b1") + F.col("n1v")).alias("c1"),
        (F.col("b2") + F.col("n2v")).alias("c2"),
        "n1",
        "n2",
    )
    s = (
        c.groupBy("event_type", "n1", "n2")
        .agg(
            F.max(
                F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1"))
            ).alias("max_cross")
        )
        .filter((F.col("n1") >= 2) & (F.col("n2") >= 2))
    )
    d = F.col("max_cross") * 1.0 / (F.col("n1") * 1.0 * F.col("n2"))
    return s.select(
        "event_type",
        F.col("n1").cast("bigint").alias("n_weekday"),
        F.col("n2").cast("bigint").alias("n_weekend"),
        round_compat(d, 6).alias("ks_d_r6"),
        round_compat(
            d
            * F.sqrt(
                F.col("n1") * 1.0 * F.col("n2") / (F.col("n1") + F.col("n2"))
            ),
            6,
        ).alias("ks_scaled_r6"),
    )


# --------------------------------------------------------------------
# l-diversity audit (sensitive-attribute diversity per quasi-group)
# --------------------------------------------------------------------

L_DIVERSITY = 3


@register(
    "l_diversity_audit",
    f"""
    WITH q AS (
      SELECT c_nationkey,
             (CAST(ROUND(c_acctbal * 100) AS BIGINT) + {BAL_OFFSET_CENTS})
               // {BAL_BUCKET_CENTS} AS bal_bucket,
             c_mktsegment
      FROM customer),
    g AS (
      SELECT c_nationkey, bal_bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS l
      FROM q GROUP BY c_nationkey, bal_bucket)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN l < {L_DIVERSITY} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_low_diversity_groups,
           CAST(SUM(CASE WHEN l < {L_DIVERSITY} THEN cnt ELSE 0 END)
                AS BIGINT) AS n_rows_at_risk,
           CAST(MIN(l) AS BIGINT) AS min_l,
           ROUND(SUM(CASE WHEN l < {L_DIVERSITY} THEN cnt ELSE 0 END)
                 / CAST(SUM(cnt) AS DOUBLE) * 1e6, 0) / 1e6
             AS disclosure_rate
    FROM g
    """,
    f"l-diversity (l={L_DIVERSITY}) privacy audit: per"
    " (nation, balance-bucket) quasi-identifier group, the number of"
    " DISTINCT sensitive values (market segment) — a k-anonymous"
    " group whose members all share one sensitive value still leaks"
    " it (the homogeneity attack k-anonymity misses)",
    tags=("diagnostics", "dq", "privacy", "headline"),
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity's complement (Machanavajjhala et al.): a group of
    k identical quasi-identifiers protects nothing if all k share
    the same sensitive value — an attacker who locates the group
    learns the attribute with certainty. The audit counts DISTINCT
    sensitive values per quasi-group (one groupBy with a distinct
    aggregate — Spark expands it to a two-phase exact distinct,
    map-side partials both phases) and reduces to a 1-row summary.
    The quasi-identifier here intentionally EXCLUDES the sensitive
    column (k_anonymity_audit's QI included segment; reusing it
    verbatim would make l trivially 1 everywhere). Same exact
    integer-cents bucketing."""
    q = read_testdata(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.expr(
            f"(CAST(ROUND(c_acctbal * 100) AS BIGINT) + {BAL_OFFSET_CENTS})"
            f" div {BAL_BUCKET_CENTS}"
        ).alias("bal_bucket"),
        "c_mktsegment",
    )
    g = q.groupBy("c_nationkey", "bal_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.countDistinct("c_mktsegment").cast("bigint").alias("l"),
    )
    low = F.when(F.col("l") < L_DIVERSITY, F.col("cnt")).otherwise(F.lit(0))
    return g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum(F.when(F.col("l") < L_DIVERSITY, 1).otherwise(0))
        .cast("bigint")
        .alias("n_low_diversity_groups"),
        F.sum(low).cast("bigint").alias("n_rows_at_risk"),
        F.min("l").cast("bigint").alias("min_l"),
        round_compat(
            F.sum(low) / F.sum("cnt").cast("double"), 6
        ).alias("disclosure_rate"),
    )


# --------------------------------------------------------------------
# Population stability index (score-drift monitoring)
# --------------------------------------------------------------------

PSI_BINS = 10


@register(
    "psi_score_drift",
    f"""
    WITH c AS (
      SELECT c_custkey,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS score,
             c_custkey % 2 AS half
      FROM customer),
    base AS (
      SELECT score,
             NTILE({PSI_BINS}) OVER (ORDER BY score, c_custkey) AS b
      FROM c WHERE half = 0),
    edges AS MATERIALIZED (
      SELECT b, MAX(score) AS edge FROM base
      WHERE b < {PSI_BINS} GROUP BY b),
    binned AS (
      SELECT c.half,
             1 + SUM(CASE WHEN c.score > e.edge THEN 1 ELSE 0 END) AS bin
      FROM c CROSS JOIN edges e
      GROUP BY c.c_custkey, c.half, c.score),
    counts AS (
      SELECT bin,
             SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS n_base,
             SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n_cur
      FROM binned GROUP BY bin),
    tot AS (
      SELECT SUM(n_base) AS tb, SUM(n_cur) AS tc FROM counts)
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(n_base AS BIGINT) AS n_base, CAST(n_cur AS BIGINT) AS n_cur,
           ROUND((n_base * 1.0 / tot.tb) * 1e6, 0) / 1e6 AS p_r6,
           ROUND((n_cur * 1.0 / tot.tc) * 1e6, 0) / 1e6 AS q_r6,
           CASE WHEN n_base > 0 AND n_cur > 0
                THEN ROUND(((n_base * 1.0 / tot.tb - n_cur * 1.0 / tot.tc)
                       * ln((n_base * 1.0 / tot.tb)
                            / (n_cur * 1.0 / tot.tc))) * 1e6, 0) / 1e6
                ELSE NULL END AS psi_term_r6
    FROM counts CROSS JOIN tot
    """,
    f"population stability index over {PSI_BINS} baseline-decile"
    " bins: the even-key half fixes exact bin edges (order"
    " statistics), both halves count per bin, per-bin"
    " (p-q)*ln(p/q) contributions — the standard score-drift"
    " monitor, emitted at cell grain like the chi-square operator",
    tags=("diagnostics", "stats", "drift", "headline"),
)
def psi_score_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The model-monitoring drift readout: bin edges come from the
    BASELINE population's exact deciles (computed with
    :func:`adaptive_ntile` — windowed under the measured 200k-row
    cap, the distributed-rank recipe past it; the oracle keeps the
    textbook NTILE
    — then per-decile MAX), and every row of BOTH populations lands
    in a bin via the closed form 1 + count(edges below score) over
    the 9-edge SORTED ARRAY — one broadcast row, the bin computed
    map-only (round-10: the previous crossJoin-9-rows + per-customer
    groupBy re-shuffled a 9x-expanded relation just to sum
    indicators; sf1 A/B 2.55/1.39 s -> 1.15/1.01 s, rows identical).
    The 9-element HOF filter is fine here — the HOF-blocks-codegen
    lesson bites on corpus-sized generators, not constant-width
    arrays. Never a quantile recomputation per population; counts
    are exact
    integers; the PSI contributions are emitted per BIN (one float
    depth each, the actionable detail — which score band moved), a
    degenerate empty cell pins NULL on both sides. Baseline =
    even customer keys, current = odd — deterministic halves both
    engines agree on."""
    from aws_etl_global_footprint_network_spark.functions.cache import CacheScope
    from aws_etl_global_footprint_network_spark.functions.ranking import (
        adaptive_ntile,
    )

    c = read_testdata(spark, sf_dir, "customer").select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("score"),
        (F.col("c_custkey") % 2).alias("half"),
    )
    scope = CacheScope("psi_score_drift")
    c = scope.persist(c)
    # the baseline half is bounded by the customer row count: when the
    # footer proves it under the row-scale cap, the NTILE window branch
    # needs no persist+count action (round 13); past the cap the
    # adaptive dispatch measures exactly as before
    from aws_etl_global_footprint_network_spark.functions.ranking import (
        ROWSCALE_WINDOW_CAP,
    )
    from aws_etl_global_footprint_network_spark.functions.width import (
        value_table_rows_bound,
    )

    base = adaptive_ntile(
        c.filter(F.col("half") == 0),
        [F.col("score").asc(), F.col("c_custkey").asc()],
        PSI_BINS,
        "b",
        scope,
        n_rows=value_table_rows_bound(
            sf_dir, "customer", ROWSCALE_WINDOW_CAP
        ),
    )
    edges_arr = (
        base.filter(F.col("b") < PSI_BINS)
        .groupBy("b")
        .agg(F.max("score").alias("edge"))
        .agg(F.sort_array(F.collect_list("edge")).alias("earr"))
    )
    bin_expr = 1 + F.size(F.filter("earr", lambda e: F.col("score") > e))
    counts = (
        c.crossJoin(F.broadcast(edges_arr))
        .select("half", bin_expr.alias("bin"))
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("n_base"),
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("n_cur"),
        )
    )
    tot = counts.agg(
        F.sum("n_base").alias("tb"), F.sum("n_cur").alias("tc")
    )
    p = F.col("n_base") * 1.0 / F.col("tb")
    q = F.col("n_cur") * 1.0 / F.col("tc")
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            F.col("bin").cast("bigint").alias("bin"),
            F.col("n_base").cast("bigint").alias("n_base"),
            F.col("n_cur").cast("bigint").alias("n_cur"),
            round_compat(p, 6).alias("p_r6"),
            round_compat(q, 6).alias("q_r6"),
            F.when(
                (F.col("n_base") > 0) & (F.col("n_cur") > 0),
                round_compat((p - q) * F.log(p / q), 6),
            ).alias("psi_term_r6"),
        )
    )
