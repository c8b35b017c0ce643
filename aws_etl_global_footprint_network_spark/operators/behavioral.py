"""Behavioral analytics over ``events`` ([EXT]): ordered funnel,
cohort retention, attribution/decay value, RFM, monthly growth,
time-to-convert latency and the cohort LTV curve — the queries every
product-analytics engine (and the reference's events surface) is
ultimately asked for.

Scale posture: both are built on a single hash partitioning by
``user_id`` — the funnel chains window expressions over one shuffle
(no re-sort: same partition key, no ordering requirement), retention
is two aggregations joined on the same key. No driver-side state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_etl_global_footprint_network_spark.registry import register
from aws_etl_global_footprint_network_spark.sources.readers import read_testdata


@register(
    "events_funnel",
    """
    WITH u1 AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1
      FROM events GROUP BY user_id),
    u2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN u1 ON u1.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts >= u1.t1
      GROUP BY e.user_id),
    u3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN u2 ON u2.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= u2.t2
      GROUP BY e.user_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COUNT(u1.t1) AS BIGINT) AS n_view,
           CAST(COUNT(u2.t2) AS BIGINT) AS n_view_click,
           CAST(COUNT(u3.t3) AS BIGINT) AS n_view_click_purchase
    FROM u1 LEFT JOIN u2 USING (user_id) LEFT JOIN u3 USING (user_id)
    """,
    "ordered funnel view -> click -> purchase: users reaching each"
    " stage IN ORDER (each step's timestamp must be at or after the"
    " previous step's first occurrence)",
    tags=("behavioral", "window"),
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained window expressions over ONE partitioning: t1 = first
    view; t2 = first click at-or-after t1; t3 = first purchase
    at-or-after t2. Each step references the previous step's window
    result, so they live in consecutive selects — Catalyst keeps them
    in one Window stage chain on the same hash partitioning (no
    re-shuffle, no sort: unordered frames)."""
    ev = read_testdata(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    s1 = ev.withColumn(
        "t1", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    s2 = s1.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") >= F.col("t1")),
                F.col("ts"),
            )
        ).over(w),
    )
    s3 = s2.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") >= F.col("t2")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = s3.groupBy("user_id").agg(
        F.first("t1").alias("t1"), F.first("t2").alias("t2"), F.first("t3").alias("t3")
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t1").alias("n_view"),
        F.count("t2").alias("n_view_click"),
        F.count("t3").alias("n_view_click_purchase"),
    )


@register(
    "retention_cohorts",
    """
    WITH first_seen AS (
      SELECT user_id,
             CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY user_id),
    activity AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('week', ts) AS DATE) AS active_week
      FROM events)
    SELECT f.cohort_week,
           CAST((a.active_week - f.cohort_week) / 7 AS INT) AS week_offset,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
    FROM first_seen f JOIN activity a USING (user_id)
    GROUP BY f.cohort_week, week_offset
    """,
    "cohort retention matrix: users grouped by first-seen week,"
    " counted per weeks-since-cohort offset",
    tags=("behavioral", "agg"),
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two aggregations + one join, all partitioned by user_id; the
    cohort table is small (one row per user) and joins back to the
    distinct (user, week) activity — at 100 TB both sides are already
    hashed by user_id from their groupBys, so the join is a cheap
    co-partitioned merge under AQE."""
    ev = read_testdata(spark, sf_dir, "events").select("user_id", "ts")
    wk = F.date_trunc("week", "ts").cast("date")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = ev.select("user_id", wk.alias("active_week")).distinct()
    return (
        first_seen.join(activity, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.datediff("active_week", "cohort_week") / 7).cast("int").alias(
                "week_offset"
            ),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@register(
    "orders_monthly_growth",
    """
    WITH monthly AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             ROUND(SUM(o_totalprice) * 100, 0) / 100 AS revenue
      FROM orders GROUP BY 1)
    SELECT month, revenue,
           ROUND(LAG(revenue) OVER (ORDER BY month) * 100, 0) / 100
             AS prev_revenue,
           ROUND((revenue / LAG(revenue) OVER (ORDER BY month) - 1) * 1e6, 0)
             / 1e6 AS growth
    FROM monthly
    """,
    "month-over-month revenue growth: aggregate -> ordered lag window"
    " over the aggregated series",
    tags=("behavioral", "window", "agg"),
)
def orders_monthly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window over an AGGREGATED series: the monthly table is tiny
    (one row per month) so the unpartitioned ordered window is safe at
    any source scale — the scale risk lives in the groupBy, which
    shuffles normally. Growth divides rounded revenues (both engines
    divide identical doubles), then rounds."""
    from aws_etl_global_footprint_network_spark.functions.compat import round_compat

    o = read_testdata(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(round_compat(F.sum("o_totalprice"), 2).alias("revenue"))
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "month",
        "revenue",
        round_compat(prev, 2).alias("prev_revenue"),
        round_compat(F.col("revenue") / prev - 1, 6).alias("growth"),
    )


@register(
    "customer_rfm",
    """
    WITH maxd AS (SELECT CAST(MAX(o_orderdate) AS DATE) AS d FROM orders),
    base AS (
      SELECT o.o_custkey AS c_custkey,
             CAST(date_diff('day', CAST(MAX(o.o_orderdate) AS DATE),
                            (SELECT d FROM maxd)) AS INT) AS recency_days,
             COUNT(*) AS frequency,
             ROUND(SUM(o.o_totalprice) * 100, 0) / 100 AS monetary
      FROM orders o GROUP BY o.o_custkey)
    SELECT c_custkey, recency_days, frequency, monetary,
           CAST(NTILE(4) OVER (ORDER BY recency_days, c_custkey) AS INT) AS r_quartile,
           CAST(NTILE(4) OVER (ORDER BY frequency DESC, c_custkey) AS INT) AS f_quartile,
           CAST(NTILE(4) OVER (ORDER BY monetary DESC, c_custkey) AS INT) AS m_quartile
    FROM base
    """,
    "RFM customer scoring: recency/frequency/monetary + quartile"
    " buckets (deterministic tie-breaks so ntile matches exactly)",
    tags=("behavioral", "window", "agg"),
)
def customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One groupBy on custkey, then three exact quartile assignments
    via :func:`adaptive_ntile` (round-9): the per-customer table is
    persisted and counted once; under the 1M-row dispatch cap all
    three quartile windows fuse into ONE job (each bounded by the cap,
    never by the raw relation), and past it each routes through
    ``distributed_ntile`` — range-repartition + per-partition rank +
    broadcast offsets — because the per-customer table grows with the
    corpus and must never single-task (the round-2 scale-killer
    finding). Every ordering carries the key as tie-break — without
    it, equal values straddling a quartile boundary would bucket
    nondeterministically and break the hash gate. The corpus max date
    enters as a broadcast 1-row aggregate."""
    from aws_etl_global_footprint_network_spark.functions.cache import CacheScope
    from aws_etl_global_footprint_network_spark.functions.compat import round_compat
    from aws_etl_global_footprint_network_spark.functions.ranking import (
        adaptive_ntile,
    )

    o = read_testdata(spark, sf_dir, "orders")
    maxd = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("_maxd"))
    base = (
        o.groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("_last"),
            F.count(F.lit(1)).alias("frequency"),
            round_compat(F.sum("o_totalprice"), 2).alias("monetary"),
        )
        .crossJoin(F.broadcast(maxd))
        .select(
            "c_custkey",
            F.datediff("_maxd", "_last").cast("int").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    scope = CacheScope("customer_rfm")
    base = scope.persist(base)
    n_rows = base.count()
    out = adaptive_ntile(
        base, [F.col("recency_days").asc(), F.col("c_custkey").asc()],
        4, "r_quartile", scope, n_rows=n_rows,
    )
    out = adaptive_ntile(
        out, [F.col("frequency").desc(), F.col("c_custkey").asc()],
        4, "f_quartile", scope, n_rows=n_rows,
    )
    out = adaptive_ntile(
        out, [F.col("monetary").desc(), F.col("c_custkey").asc()],
        4, "m_quartile", scope, n_rows=n_rows,
    )
    return out.select(
        "c_custkey",
        "recency_days",
        "frequency",
        "monetary",
        "r_quartile",
        "f_quartile",
        "m_quartile",
    )


@register(
    "events_topk_per_day",
    """
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, user_id,
             ROUND(SUM(value) * 100, 0) / 100 AS total
      FROM events GROUP BY 1, 2)
    SELECT day, user_id, total, rnk FROM (
      SELECT day, user_id, total,
             CAST(ROW_NUMBER() OVER (PARTITION BY day
                   ORDER BY total DESC, user_id) AS INT) AS rnk
      FROM daily) WHERE rnk <= 3
    """,
    "daily top-3 users by event value: aggregate then per-day ranking"
    " window (the leaderboard shape)",
    tags=("behavioral", "window", "agg"),
)
def events_topk_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy shrinks events to (day, user) rows before the ranking
    window, so the window sorts the aggregate, not the fact table —
    the order-of-operations that matters at 100 TB. Ranking runs on
    the ROUNDED total (engines' summation orders differ) with user_id
    tie-break."""
    from aws_etl_global_footprint_network_spark.functions.compat import round_compat

    ev = read_testdata(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day"), "user_id"
    ).agg(round_compat(F.sum("value"), 2).alias("total"))
    w = Window.partitionBy("day").orderBy(F.col("total").desc(), "user_id")
    return (
        daily.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("day", "user_id", "total", "rnk")
    )


@register(
    "supplier_balance_zscore",
    """
    SELECT s_suppkey, s_nationkey,
           ROUND((s_acctbal - AVG(s_acctbal) OVER (PARTITION BY s_nationkey))
                 / NULLIF(STDDEV_SAMP(s_acctbal) OVER (PARTITION BY s_nationkey), 0)
                 * 1e6, 0) / 1e6 AS zscore
    FROM supplier
    """,
    "per-group z-score standardisation (windowed avg/stddev) — the"
    " feature-normalisation pass of every ML prep pipeline",
    tags=("mlprep", "window", "agg"),
)
def supplier_balance_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed aggregates instead of groupBy+join-back: one shuffle on
    the group key, each row standardised against its partition's
    moments in the same pass. Rounded at 1e-6 (stddev/avg summation
    trees differ between engines). The stddev is NULLIF-guarded on
    both sides: a zero-variance group z-scores to NULL in both engines
    instead of Spark-NULL-vs-DuckDB-Infinity divergence."""
    from aws_etl_global_footprint_network_spark.functions.compat import round_compat

    s = read_testdata(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey")
    sd = F.stddev_samp("s_acctbal").over(w)
    z = (F.col("s_acctbal") - F.avg("s_acctbal").over(w)) / F.when(
        sd != 0, sd
    )
    return s.select("s_suppkey", "s_nationkey", round_compat(z, 6).alias("zscore"))


# Exponential time-decay: half-life in days for recency-weighted value.
DECAY_HALF_LIFE_DAYS = 7


@register(
    "decayed_user_value",
    f"""
    WITH anchor AS (SELECT MAX(ts) AS mx FROM events)
    SELECT user_id,
           COUNT(*) AS n_events,
           ROUND(SUM(value * EXP(-LN(2.0)
                 * ((epoch_us(anchor.mx) - epoch_us(ts)) / 1e6 / 86400.0)
                 / {DECAY_HALF_LIFE_DAYS})) * 1e4, 0) / 1e4
             AS decayed_value
    FROM events CROSS JOIN anchor
    GROUP BY user_id
    """,
    f"recency-weighted user value: exponential decay with a"
    f" {DECAY_HALF_LIFE_DAYS}-day half-life anchored at the corpus max"
    " timestamp — the feature-store scoring pass behind churn/LTV"
    " features",
    tags=("mlprep", "agg", "temporal"),
)
def decayed_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decay anchor is a scalar subquery — Catalyst executes it as
    its own tiny job and folds the result into the map-side weight
    expression, so the scoring pass is map + one groupBy shuffle with
    no driver round-trip. EXP/LN arithmetic is written identically on
    both sides (libm doubles agree bit-for-bit; only the grouped SUM's
    order differs, hence the 1e-4 rounding)."""
    ev = read_testdata(spark, sf_dir, "events")
    ev.createOrReplaceTempView("events_decay")
    return spark.sql(
        f"""
        SELECT user_id,
               COUNT(*) AS n_events,
               ROUND(SUM(value * EXP(-LN(2.0D)
                     * ((unix_micros((SELECT MAX(ts) FROM events_decay))
                         - unix_micros(ts)) / 1e6 / 86400.0D)
                     / {DECAY_HALF_LIFE_DAYS})) * 1e4, 0) / 1e4
                 AS decayed_value
        FROM events_decay
        GROUP BY user_id
        """
    )


# Attribution: channels a purchase can be credited to (the 'error'
# type is not a touchpoint).
TOUCH_TYPES = ("view", "click", "signup")


@register(
    "last_touch_attribution",
    f"""
    WITH touches AS (
      SELECT user_id, ts, event_type FROM (
        SELECT user_id, ts, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id, ts
                   ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type IN {TOUCH_TYPES}) WHERE rn = 1),
    purchases AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase')
    SELECT COALESCE(t.event_type, 'direct') AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           ROUND(SUM(p.value) * 100, 0) / 100 AS attributed_value
    FROM purchases p ASOF LEFT JOIN touches t
      ON p.user_id = t.user_id AND t.ts <= p.ts
    GROUP BY COALESCE(t.event_type, 'direct')
    """,
    "last-touch marketing attribution: every purchase credited to the"
    " user's most recent prior touchpoint (view/click/signup; none ->"
    " 'direct'), aggregated to channel revenue — an as-of join feeding"
    " an aggregate",
    tags=("behavioral", "asof", "agg"),
)
def last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (purchase <- latest touch at-or-before) then a tiny
    groupBy on channel. Tie handling among equal touch timestamps
    (otherwise engine-unspecified) is pinned to max event_id — the
    oracle pre-dedupes with a ROW_NUMBER; the Spark side FUSES that
    tie-break into the as-of itself by leading the carried value
    struct with event_id, so ``last()`` over the (ts, side, struct)
    ordering picks the max-event_id touch on ties without a separate
    dedup shuffle.  One shuffle on user_id total, then a
    channel-cardinality aggregate: nothing here grows faster than the
    event stream.  Round-12 A/B (warm sf1, 3 alternating reps):
    pre-dedup groupBy + as-of 1.9-2.2 s -> fused 1.1-1.3 s,
    identical output."""
    from aws_etl_global_footprint_network_spark.functions.compat import round_compat
    from aws_etl_global_footprint_network_spark.operators.temporal import asof_join

    ev = read_testdata(spark, sf_dir, "events")
    touches = ev.filter(F.col("event_type").isin(*TOUCH_TYPES)).select(
        "user_id",
        F.col("ts").alias("tts"),
        "event_id",
        F.col("event_type").alias("touch_type"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event_id"), "user_id", "ts", "value"
    )
    joined = asof_join(
        purchases,
        touches,
        on=["user_id"],
        left_ts="ts",
        right_ts="tts",
        right_values=["event_id", "touch_type"],
    )
    return joined.groupBy(
        F.coalesce("touch_type", F.lit("direct")).alias("channel")
    ).agg(
        F.count(F.lit(1)).alias("n_purchases"),
        round_compat(F.sum("value"), 2).alias("attributed_value"),
    )


# LTV-curve constant.
LTV_MAX_OFFSET = 5


@register(
    "signup_to_purchase_latency",
    """
    WITH s AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
               AS t_signup
      FROM events GROUP BY user_id),
    p AS (
      SELECT e.user_id,
             MIN(epoch_us(e.ts)) AS t_purchase
      FROM events e JOIN s ON s.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= s.t_signup
      GROUP BY e.user_id),
    lat AS (
      SELECT s.user_id, p.t_purchase - s.t_signup AS lat_us
      FROM s JOIN p ON s.user_id = p.user_id
      WHERE s.t_signup IS NOT NULL)
    SELECT CAST((SELECT COUNT(*) FROM s WHERE t_signup IS NOT NULL) AS BIGINT)
             AS n_signup_users,
           CAST(COUNT(*) AS BIGINT) AS n_converted,
           ROUND(quantile_cont(lat_us, 0.5) / 86400000000.0 * 1e6, 0) / 1e6
             AS p50_days,
           ROUND(quantile_cont(lat_us, 0.9) / 86400000000.0 * 1e6, 0) / 1e6
             AS p90_days,
           ROUND(quantile_cont(lat_us, 0.99) / 86400000000.0 * 1e6, 0) / 1e6
             AS p99_days
    FROM lat
    """,
    "time-to-convert analysis: per user the first signup and the"
    " first purchase at-or-after it, latency percentiles"
    " (p50/p90/p99 days) over exact integer microseconds with ONE"
    " division per quantile; single-row result",
    tags=("behavioral", "analytics"),
)
def signup_to_purchase_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The time-to-event query behind activation dashboards: both
    anchor events reduce through one user_id-keyed aggregation (the
    min-after-min chains the ``events_funnel`` recipe), latencies are
    exact integer microsecond differences, and the percentile runs
    over the converted-users table — user-cardinality, not events.
    The at-or-after filter makes 'purchase before ever signing up'
    count as not-converted on both engines."""
    e = read_testdata(spark, sf_dir, "events")
    s = e.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", F.unix_micros("ts"))
        ).alias("t_signup")
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id", F.unix_micros("ts").alias("t_us"))
        .join(s, "user_id")
        .filter(F.col("t_us") >= F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("t_us").alias("t_purchase"))
    )
    lat = (
        s.filter(F.col("t_signup").isNotNull())
        .join(p, "user_id")
        .select((F.col("t_purchase") - F.col("t_signup")).alias("lat_us"))
    )
    from aws_etl_global_footprint_network_spark.functions.compat import round_compat

    # denominator as an in-plan 1-row broadcast aggregate (the
    # whitelisted scalar-subquery pattern) — keeps the builder lazy so
    # n_signup_users reflects the data at execution time, exactly like
    # the oracle's scalar subquery, instead of a driver-side count()
    # snapshot frozen at build time.
    n1 = (
        s.filter(F.col("t_signup").isNotNull())
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_signup_users"))
    )
    day_us = F.lit(86_400_000_000.0)
    agg = lat.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converted"),
        round_compat(F.expr("percentile(lat_us, 0.5)") / day_us, 6).alias(
            "p50_days"
        ),
        round_compat(F.expr("percentile(lat_us, 0.9)") / day_us, 6).alias(
            "p90_days"
        ),
        round_compat(F.expr("percentile(lat_us, 0.99)") / day_us, 6).alias(
            "p99_days"
        ),
    )
    return agg.crossJoin(F.broadcast(n1)).select(
        "n_signup_users", "n_converted", "p50_days", "p90_days", "p99_days"
    )


@register(
    "cohort_ltv_curve",
    f"""
    WITH fm AS (
      SELECT user_id,
             MIN(epoch_us(ts) // 86400000000) AS cohort_day
      FROM events GROUP BY user_id),
    sz AS (
      SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS cohort_users
      FROM fm GROUP BY cohort_day),
    rev AS (
      SELECT fm.cohort_day,
             epoch_us(e.ts) // 86400000000 - fm.cohort_day AS offset_day,
             CAST(ROUND(e.value * 100) AS BIGINT) AS cents
      FROM events e JOIN fm ON e.user_id = fm.user_id
      WHERE e.event_type = 'purchase'),
    g AS (
      SELECT cohort_day, offset_day, CAST(SUM(cents) AS BIGINT) AS day_cents
      FROM rev WHERE offset_day BETWEEN 0 AND {LTV_MAX_OFFSET}
      GROUP BY cohort_day, offset_day),
    c AS (
      SELECT cohort_day, offset_day, day_cents,
             SUM(day_cents) OVER (PARTITION BY cohort_day ORDER BY offset_day
                                  ROWS UNBOUNDED PRECEDING) AS cum_cents
      FROM g)
    SELECT CAST(c.cohort_day AS BIGINT) AS cohort_day,
           CAST(c.offset_day AS BIGINT) AS offset_day,
           c.day_cents,
           CAST(c.cum_cents AS BIGINT) AS cum_cents,
           sz.cohort_users,
           ROUND(c.cum_cents / CAST(sz.cohort_users AS DOUBLE) / 100.0
                 * 1e6, 0) / 1e6 AS ltv_per_user
    FROM c JOIN sz USING (cohort_day)
    """,
    f"cohort lifetime-value curve: purchase revenue per first-seen-day"
    f" cohort at day offsets 0..{LTV_MAX_OFFSET}, with the running"
    " cumulative (bounded per-cohort window) and per-user LTV;"
    " cohorting is integer epoch-day arithmetic (the corpus spans 30"
    " days, so day is the natural grain) and cents stay integers"
    " until one rounded division",
    tags=("behavioral", "analytics"),
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The marketing-finance curve: does a cohort's cumulative revenue
    per user flatten or keep compounding? One shuffle on user_id
    anchors each user's cohort day; revenue re-joins on the same
    key (no re-partitioning); the cumulative window partitions by
    cohort over at most {LTV_MAX_OFFSET}+1 rows. Day indexing is
    integer floor division of epoch microseconds — no calendar
    truncation semantics to disagree on — and cents stay integers
    until the final per-user division."""
    from aws_etl_global_footprint_network_spark.functions.compat import round_compat

    e = read_testdata(spark, sf_dir, "events")
    day = F.expr("unix_micros(ts) div 86400000000")
    fm = e.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    sz = fm.groupBy("cohort_day").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_users")
    )
    rev = (
        e.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            day.alias("d"),
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
        .join(fm, "user_id")
        .select(
            "cohort_day",
            (F.col("d") - F.col("cohort_day")).alias("offset_day"),
            "cents",
        )
        .filter(F.col("offset_day").between(0, LTV_MAX_OFFSET))
    )
    g = rev.groupBy("cohort_day", "offset_day").agg(
        F.sum("cents").cast("bigint").alias("day_cents")
    )
    w = (
        Window.partitionBy("cohort_day")
        .orderBy("offset_day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = g.withColumn("cum_cents", F.sum("day_cents").over(w))
    return c.join(sz, "cohort_day").select(
        F.col("cohort_day").cast("bigint").alias("cohort_day"),
        F.col("offset_day").cast("bigint").alias("offset_day"),
        "day_cents",
        F.col("cum_cents").cast("bigint").alias("cum_cents"),
        "cohort_users",
        round_compat(
            F.col("cum_cents") / F.col("cohort_users").cast("double") / F.lit(100.0),
            6,
        ).alias("ltv_per_user"),
    )


# --------------------------------------------------------------------
# Sliding 7-day active users (DAU / WAU / stickiness)
# --------------------------------------------------------------------

WAU_DAYS = 7


@register(
    "sliding_active_users",
    f"""
    WITH du AS MATERIALIZED (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events),
    cover AS (
      SELECT user_id, day + CAST(k.k AS INTEGER) AS cday
      FROM du CROSS JOIN (SELECT unnest(range(0, {WAU_DAYS})) AS k) k),
    wau AS (
      SELECT cday, COUNT(DISTINCT user_id) AS wau
      FROM cover GROUP BY cday),
    dau AS (
      SELECT day, COUNT(*) AS dau FROM du GROUP BY day)
    SELECT dau.day, CAST(dau.dau AS BIGINT) AS dau,
           CAST(wau.wau AS BIGINT) AS wau,
           ROUND((dau.dau * 1.0 / wau.wau) * 1e6, 0) / 1e6 AS stickiness
    FROM dau JOIN wau ON wau.cday = dau.day
    """,
    f"daily and trailing-{WAU_DAYS}-day distinct active users plus"
    " the DAU/WAU stickiness ratio — sliding DISTINCT via the"
    " explode-to-cover-days recipe, never a windowed COUNT DISTINCT",
    tags=("behavioral", "time", "agg"),
)
def sliding_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window DISTINCT does not decompose into window frames
    (COUNT(DISTINCT) OVER a RANGE frame re-scans the frame per row
    and single-tasks each partition in any engine). The scalable
    recipe: dedup activity to (user, day) grain, then EXPLODE each
    activity day onto the {WAU_DAYS} cover days it contributes to —
    a bounded x{WAU_DAYS} map-side fanout — so trailing-window
    membership becomes a plain groupBy distinct on (cover_day,
    user). Two shuffles (the dedup, the cover-day count); output is
    calendar-cardinality. Cover days with no direct activity are
    dropped by the join onto the DAU relation, pinning the output
    domain identically in both engines."""
    from aws_etl_global_footprint_network_spark.functions.compat import round_compat

    du = (
        read_testdata(spark, sf_dir, "events")
        .select(
            "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .distinct()
    )
    cover = du.select(
        "user_id",
        "day",
        F.explode(F.sequence(F.lit(0), F.lit(WAU_DAYS - 1))).alias("k"),
    ).select("user_id", F.date_add("day", F.col("k")).alias("cday"))
    wau = cover.groupBy("cday").agg(
        F.countDistinct("user_id").alias("wau")
    )
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    return dau.join(wau, dau["day"] == wau["cday"]).select(
        "day",
        F.col("dau").cast("bigint").alias("dau"),
        F.col("wau").cast("bigint").alias("wau"),
        round_compat(F.col("dau") * 1.0 / F.col("wau"), 6).alias(
            "stickiness"
        ),
    )


# --------------------------------------------------------------------
# Kaplan-Meier churn curve (right-censored survival estimator)
# --------------------------------------------------------------------

# Customers whose last order falls within KM_CENSOR_MONTHS of the
# corpus horizon are right-censored (still alive at observation end),
# not churned — the defining subtlety of the KM estimator. The curve
# runs over ORDER tenure (orders span ~6 years, so ~2/3 of customers
# genuinely churn); the events table's 30-day span would censor
# everyone and produce a flat curve. Month indexes are computed as
# year*12 + month — plain integer arithmetic, identical in both
# engines (datediff('month', ...) semantics differ too easily).
KM_CENSOR_MONTHS = 3


@register(
    "kaplan_meier_churn",
    f"""
    WITH u AS (
      SELECT o_custkey,
             MIN(year(o_orderdate) * 12 + month(o_orderdate)) AS first_m,
             MAX(year(o_orderdate) * 12 + month(o_orderdate)) AS last_m
      FROM orders GROUP BY o_custkey),
    h AS (SELECT MAX(last_m) AS horizon FROM u),
    lt AS (
      SELECT u.last_m - u.first_m AS t,
             CASE WHEN h.horizon - u.last_m <= {KM_CENSOR_MONTHS}
                  THEN 0 ELSE 1 END AS died
      FROM u CROSS JOIN h),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM lt),
    byt AS (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS leaving,
             CAST(SUM(died) AS BIGINT) AS d
      FROM lt GROUP BY t),
    r AS (
      SELECT t, d, leaving,
             tot.n_users
               - COALESCE(SUM(leaving) OVER (ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS n_risk
      FROM byt CROSS JOIN tot),
    s AS (
      SELECT t, d, n_risk,
             CASE WHEN MAX(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
                       OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) = 1
                  THEN 0.0
                  ELSE exp(SUM(ln(1.0 - d * 1.0 / n_risk))
                       OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)) END AS surv
      FROM r)
    SELECT CAST(t AS BIGINT) AS tenure_months,
           CAST(d AS BIGINT) AS churned,
           CAST(n_risk AS BIGINT) AS n_at_risk,
           ROUND(surv * 1e6, 0) / 1e6 AS survival_r6
    FROM s
    """,
    "Kaplan-Meier survival curve of customer order tenure (months"
    " from first to last order), right-censoring customers ordering"
    f" within {KM_CENSOR_MONTHS} months of the corpus horizon;"
    " product-limit estimator via the EXP(SUM(LN))"
    " cumulative-window identity",
    tags=("behavioral", "stats", "timeseries"),
)
def kaplan_meier_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival analysis at warehouse scale: per-customer tenure
    reduces in one custkey groupBy; the horizon is a 1-row broadcast;
    the
    tenure distribution (corpus-bounded: one row per distinct tenure
    length, calendar-cardinality) carries deaths d_t and exits, the
    at-risk count n_t is total minus an EXCLUSIVE running sum of
    exits, and the product-limit estimator
    S(t) = prod(1 - d_i/n_i) rides the same EXP(SUM(LN)) cumulative
    window the A4 compound-return operator pinned (identical fold
    order both engines at this tiny cardinality, rounded 1e-6).
    Censored customers (ordering within KM_CENSOR_MONTHS of the
    horizon) leave the risk set without counting as deaths — the
    defining KM subtlety, pinned by the reference-estimator test.
    Month indexes are year*12+month integers, engine-proof.

    One corpus pass (round-12 rework): censoring needs the global
    horizon, but the horizon is only ever COMPARED against last_m —
    so instead of a horizon pre-pass followed by a second per-customer
    scan, the per-customer frame collapses straight to the calendar-
    bounded (tenure, last_m) grid (<= months^2 rows). The grid is
    persisted; the horizon, the censored death counts, and the user
    total are all derived from that cache, so orders is scanned and
    custkey-shuffled exactly once (the previous shape scanned it
    twice; its persist A/B was a wash precisely because it cached the
    1-row-per-customer frame rather than this grid). sf1 warm-session
    rounds: 1.9/1.8/1.6 s vs 3.12 s on the committed round-12 pair;
    rows/hash green at sf0.01."""
    from aws_etl_global_footprint_network_spark.functions.cache import CacheScope
    from aws_etl_global_footprint_network_spark.functions.compat import round_compat

    month_idx = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    u = (
        read_testdata(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.min(month_idx).alias("first_m"),
            F.max(month_idx).alias("last_m"),
        )
    )
    grid = CacheScope("kaplan_meier_churn").persist(
        u.groupBy(
            (F.col("last_m") - F.col("first_m")).alias("t"), "last_m"
        ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    h = grid.agg(F.max("last_m").alias("horizon"))
    tot = grid.agg(F.sum("n").cast("bigint").alias("n_users"))
    byt = (
        grid.crossJoin(F.broadcast(h))
        .groupBy("t")
        .agg(
            F.sum("n").cast("bigint").alias("leaving"),
            F.sum(
                F.when(
                    F.col("horizon") - F.col("last_m") <= KM_CENSOR_MONTHS,
                    F.lit(0),
                ).otherwise(F.col("n"))
            )
            .cast("bigint")
            .alias("d"),
        )
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
    # Degenerate-step guard (advisor, round 7): if every remaining
    # at-risk customer churns at some tenure (d == n_risk), the KM
    # product hits an exact 0 and stays there. Unguarded, Spark's
    # log(0) yields NULL which F.sum silently SKIPS (surv wrongly
    # recovers), while DuckDB's ln(0) = -inf gives surv = 0 — a
    # silent cross-engine divergence. Pin surv to 0.0 from the first
    # absorbing step on, in BOTH engines, via a cumulative-max flag.
    absorbed = F.max(
        F.when(F.col("d") >= F.col("n_risk"), F.lit(1)).otherwise(F.lit(0))
    ).over(wo.rowsBetween(Window.unboundedPreceding, 0))
    s = r.withColumn(
        "surv",
        F.when(absorbed == 1, F.lit(0.0)).otherwise(
            F.exp(
                F.sum(F.log(1.0 - F.col("d") * 1.0 / F.col("n_risk"))).over(
                    wo.rowsBetween(Window.unboundedPreceding, 0)
                )
            )
        ),
    )
    return s.select(
        F.col("t").cast("bigint").alias("tenure_months"),
        F.col("d").cast("bigint").alias("churned"),
        F.col("n_risk").cast("bigint").alias("n_at_risk"),
        round_compat(F.col("surv"), 6).alias("survival_r6"),
    )


# --------------------------------------------------------------------
# Year-over-year aligned monthly growth
# --------------------------------------------------------------------

@register(
    "orders_yoy_growth",
    """
    WITH monthly AS (
      SELECT year(o_orderdate) * 12 + month(o_orderdate) AS m_idx,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY 1, 2)
    SELECT cur.month, cur.cents / 100.0 AS revenue,
           prev.cents / 100.0 AS revenue_prior_year,
           ROUND((cur.cents * 1.0 / prev.cents - 1.0) * 1e6, 0) / 1e6
             AS yoy_growth_r6
    FROM monthly cur
    JOIN monthly prev ON prev.m_idx = cur.m_idx - 12
    """,
    "year-over-year monthly revenue growth: the calendar-ALIGNED"
    " comparison (month m vs month m-12 via integer month-index"
    " shifted join — a 12-row LAG would silently misalign across"
    " gap months); exact-cents sums, one rounded ratio",
    tags=("behavioral", "time", "agg"),
)
def orders_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The seasonal sibling of orders_monthly_growth (MoM): YoY must
    align by CALENDAR month, and the robust recipe is the shifted
    equi-join on an integer month index (year*12+month) — LAG(12)
    over the monthly series silently compares against the wrong
    month as soon as any month is absent from the data. The monthly
    relation is calendar-cardinality and all sums are exact integer
    cents with a single rounded division. The shifted comparison is a
    SCATTER, not a self-join: each monthly row contributes itself to
    its own month index AND (shifted +12) to next year's index; one
    tiny groupBy(index) gathers current and prior-year cents in the
    same pass, and months without a prior-year counterpart drop via
    the null filter — the same inner-join semantics, but orders is
    scanned exactly once with no persist generation and no join
    machinery (the previous persisted-self-join shape still paid the
    cache materialization + broadcast on the pair protocol's cold
    first run). Months without a counterpart are dropped identically
    in both engines (sf1, warm-session rounds: 1.4/1.1/1.1 s vs
    2.71 s on the committed round-12 pair; rows/hash green at
    sf0.01)."""
    from aws_etl_global_footprint_network_spark.functions.compat import round_compat

    o = read_testdata(spark, sf_dir, "orders")
    monthly = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("m_idx"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
            "cents"
        )
    )
    contrib = monthly.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("m_idx").alias("t_idx"),
                    F.lit(0).alias("shift"),
                    F.col("month").alias("month"),
                    F.col("cents").alias("cents"),
                ),
                F.struct(
                    (F.col("m_idx") + 12).alias("t_idx"),
                    F.lit(12).alias("shift"),
                    F.col("month").alias("month"),
                    F.col("cents").alias("cents"),
                ),
            )
        ).alias("c")
    ).select("c.*")
    gathered = (
        contrib.groupBy("t_idx")
        .agg(
            F.max(F.when(F.col("shift") == 0, F.col("month"))).alias("month"),
            F.max(F.when(F.col("shift") == 0, F.col("cents"))).alias(
                "cur_cents"
            ),
            F.max(F.when(F.col("shift") == 12, F.col("cents"))).alias(
                "prev_cents"
            ),
        )
        .filter(
            F.col("month").isNotNull() & F.col("prev_cents").isNotNull()
        )
    )
    return gathered.select(
        "month",
        (F.col("cur_cents") / 100.0).alias("revenue"),
        (F.col("prev_cents") / 100.0).alias("revenue_prior_year"),
        round_compat(
            F.col("cur_cents") * 1.0 / F.col("prev_cents") - 1.0, 6
        ).alias("yoy_growth_r6"),
    )
