"""Temporal operators ([EXT], SURVEY §2.11/§4: as-of, range join,
session windows, multi-granularity time rollup).

The as-of join is the one operator here Spark genuinely lacks; it is
implemented as union + last(ignorenulls) over a window — one shuffle
on (key, ts), no merge_asof Python path, no broadcast requirement —
and validated against DuckDB's native ASOF JOIN, the strongest
possible oracle for it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_etl_global_footprint_network_spark.functions.compat import round_compat
from aws_etl_global_footprint_network_spark.registry import register
from aws_etl_global_footprint_network_spark.sources.readers import read_testdata


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    right_values: list[str],
) -> DataFrame:
    """For each left row, attach the right row with the greatest
    ``right_ts`` <= ``left_ts`` within the ``on`` group (inclusive
    as-of semantics, like ``ASOF JOIN ... ON r.ts <= l.ts``).

    Implementation: tag and union both sides, sort each key group by
    (ts, side) with right rows first on ties, and carry the right row
    forward with ``last(ignorenulls)`` over a STRUCT of the right
    values — the struct is non-null whenever a right row exists, so a
    right row whose value column is legitimately NULL is still the one
    returned (matches DuckDB ASOF; a per-column last(ignorenulls)
    would skip it). Duplicate right timestamps are tie-broken
    deterministically by the value struct itself (max wins). Exactly
    one shuffle, and skew on the key is handled by AQE like any
    window. At 100 TB this beats a per-key ``merge_asof`` (no Python,
    no per-group memory) and beats an inequality join (which Catalyst
    would plan as a broadcast nested loop).
    """
    from pyspark.sql import types as T

    lcols = left.columns
    r_struct_type = T.StructType(
        [T.StructField(v, right.schema[v].dataType) for v in right_values]
    )
    l = left.select(
        *lcols,
        F.col(left_ts).alias("_asof_ts"),
        F.lit(1).alias("_asof_side"),
        F.lit(None).cast(r_struct_type).alias("_r"),
    )
    r = right.select(
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols if c not in on],
        *on,
        F.col(right_ts).alias("_asof_ts"),
        F.lit(0).alias("_asof_side"),
        F.struct(*[F.col(v).alias(v) for v in right_values]).alias("_r"),
    ).select(  # align column order with l
        *lcols, "_asof_ts", "_asof_side", "_r"
    )
    # Order: right rows before left at equal ts (side 0 < 1); among
    # equal right timestamps, ascending by the value struct so last()
    # picks the max — a deterministic tie-break.
    w = (
        Window.partitionBy(*on)
        .orderBy("_asof_ts", "_asof_side", "_r")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = l.unionByName(r).select(
        *lcols,
        "_asof_side",
        F.last("_r", ignorenulls=True).over(w).alias("_r_carried"),
    )
    return (
        carried.filter(F.col("_asof_side") == 1)
        .select(*lcols, *[F.col(f"_r_carried.{v}").alias(v) for v in right_values])
    )


@register(
    "asof_last_purchase",
    """
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
    purchases AS (
      SELECT user_id, ts FROM events WHERE event_type = 'purchase')
    SELECT c.event_id, c.user_id, c.ts AS click_ts,
           p.ts AS last_purchase_ts,
           epoch_us(c.ts) - epoch_us(p.ts) AS gap_us
    FROM clicks c ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND p.ts <= c.ts
    """,
    "as-of join: latest purchase at-or-before each click (oracle:"
    " DuckDB native ASOF JOIN)",
    tags=("temporal", "asof", "headline"),
)
def asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_testdata(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts")
    )
    joined = asof_join(
        clicks, purchases, on=["user_id"], left_ts="ts", right_ts="pts",
        right_values=["pts"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("pts").alias("last_purchase_ts"),
        (F.unix_micros("ts") - F.unix_micros("pts")).alias("gap_us"),
    )


@register(
    "lineitem_ship_window_range",
    """
    SELECT CAST(date_trunc('month', o.o_orderdate) AS DATE) AS order_month,
           COUNT(*) AS n,
           SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))) / 10000.0
             AS revenue
    FROM lineitem l JOIN orders o
      ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate <= o.o_orderdate + INTERVAL 60 DAY
    GROUP BY 1
    """,
    "range join (equi key + time-interval band) — prompt shipments;"
    " revenue summed as exact integer cents x discount-percent, so the"
    " result is order-independent and bit-identical at every scale",
    tags=("temporal", "join"),
)
def lineitem_ship_window_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The equi key carries the hash join; the band predicate is a
    post-join filter, so this stays a shuffled hash/merge join — NOT a
    nested loop. A pure band join (no equi key) would instead bucket
    the time axis and join on bucket.

    Money lesson from the sf1 sweep (round 5): ROUND(SUM(double), 2)
    on a ~1e8-magnitude sum of 10^5+ terms flips the last cent when
    the two engines accumulate in different orders (observed:
    88705671.32 vs .33 at sf1 — the only sf1 divergence in 135
    queries). Prices and discounts are exact 2-decimal quantities, so
    both twins now quantize per ROW to integer cents
    (price_cents x (100 - discount_pct)), sum exactly in BIGINT, and
    divide once at the end — order-independent at any scale."""
    li = read_testdata(spark, sf_dir, "lineitem")
    o = read_testdata(spark, sf_dir, "orders")
    j = li.join(
        o,
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate >= o.o_orderdate)
        & (li.l_shipdate <= o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
    )
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long") * (
        100 - F.round(F.col("l_discount") * 100, 0).cast("long")
    )
    return (
        j.groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").alias("order_month")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(cents) / 10000.0).alias("revenue"),
        )
    )


@register(
    "session_window_native",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged)
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
    "native session_window grouping; oracle reconstructs gap-merge"
    " semantics with lag + running sum",
    tags=("temporal", "window", "sessionize", "headline"),
)
def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's built-in session_window: events merge while the gap is
    < 30 min (session end = last event + gap). Same operator works
    unchanged in Structured Streaming with a watermark."""
    ev = read_testdata(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


# Resample grid: one point every RESAMPLE_HOURS, per user, from the
# user's first day (midnight) to their last event.
RESAMPLE_HOURS = 6


@register(
    "events_resample_ffill",
    f"""
    WITH spans AS (
      SELECT user_id, date_trunc('day', MIN(ts)) AS t0, MAX(ts) AS t1
      FROM events GROUP BY user_id),
    spine AS (
      SELECT user_id,
             unnest(generate_series(t0, t1, INTERVAL {RESAMPLE_HOURS} HOUR))
               AS grid_ts
      FROM spans),
    obs AS (
      SELECT user_id, ts, event_id, value FROM (
        SELECT user_id, ts, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, ts
                   ORDER BY event_id DESC, value DESC) AS rn
        FROM events) WHERE rn = 1)
    SELECT s.user_id, s.grid_ts,
           o.event_id AS src_event_id,
           ROUND(o.value * 100, 0) / 100 AS filled_value
    FROM spine s ASOF LEFT JOIN obs o
      ON s.user_id = o.user_id AND o.ts <= s.grid_ts
    """,
    f"time-series resample to a {RESAMPLE_HOURS}-hour grid with"
    " forward-fill: per-user spine (generate_series) as-of joined to"
    " the observations — gap filling for feature stores / downsampled"
    " dashboards (oracle: DuckDB native ASOF against its own"
    " generate_series spine)",
    tags=("temporal", "asof", "resample", "headline"),
)
def events_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample + forward-fill as a composition of existing primitives:
    the spine is sequence()/explode off a per-user (min, max) aggregate
    (map-side expansion, grid size bounded by span/step per user), and
    the fill is the repo's as-of join (one shuffle on user). Grid
    points before a user's first event keep NULLs — the ffill boundary
    contract. At 100 TB the spine is generated, never materialised to
    storage, and the as-of shuffle is the only data movement.

    The observation side is pre-deduped to one row per (user_id, ts)
    by (event_id, value) DESC — identically in the DuckDB twin —
    because DuckDB's ASOF LEFT JOIN picks an UNSPECIFIED row among
    equal timestamps while this repo's asof_join picks the max value
    struct; without the dedup a future data generation containing
    per-user timestamp ties would make the parity gate flap."""
    ev = read_testdata(spark, sf_dir, "events")
    obs_raw = ev.select("user_id", "ts", "event_id", "value")
    obs = (
        obs_raw.groupBy("user_id", "ts")
        .agg(F.max(F.struct("event_id", "value")).alias("s"))
        .select(
            "user_id",
            "ts",
            F.col("s.event_id").alias("event_id"),
            F.col("s.value").alias("value"),
        )
    )
    spans = obs.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("t0"),
        F.max("ts").alias("t1"),
    )
    spine = spans.select(
        "user_id",
        F.explode(
            F.sequence("t0", "t1", F.expr(f"INTERVAL {RESAMPLE_HOURS} HOURS"))
        ).alias("grid_ts"),
    )
    filled = asof_join(
        spine,
        obs.select("user_id", "ts", "event_id", "value"),
        on=["user_id"],
        left_ts="grid_ts",
        right_ts="ts",
        right_values=["event_id", "value"],
    )
    return filled.select(
        "user_id",
        "grid_ts",
        F.col("event_id").alias("src_event_id"),
        round_compat("value", 2).alias("filled_value"),
    )


@register(
    "time_rollup_multi_grain",
    """
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(date_trunc('month', ts) AS DATE) AS month,
           COUNT(*) AS n, ROUND(SUM(value) * 100, 0) / 100 AS total_value
    FROM events
    GROUP BY GROUPING SETS ((date_trunc('day', ts)),
                            (date_trunc('month', ts)), ())
    """,
    "hypertable-style multi-granularity rollup (day+month+total in"
    " one pass via grouping sets)",
    tags=("temporal", "agg"),
)
def time_rollup_multi_grain(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_testdata(spark, sf_dir, "events")
    ev.createOrReplaceTempView("events_trmg")
    # Scaled ROUND(x*100,0)/100 on BOTH sides: Spark's ROUND(x, 2)
    # (BigDecimal HALF_UP) and DuckDB's disagree near .xx5 boundaries.
    return spark.sql(
        """
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(date_trunc('month', ts) AS DATE) AS month,
               COUNT(*) AS n, ROUND(SUM(value) * 100, 0) / 100 AS total_value
        FROM events_trmg
        GROUP BY GROUPING SETS ((date_trunc('day', ts)),
                                (date_trunc('month', ts)), ())
        """
    )


# OHLC bar width for the downsampling compactor (pre-multiplied to
# microseconds in Python: `21600 * 1000000` written in DuckDB SQL
# would multiply two INT32s and overflow).
OHLC_HOURS = 6
OHLC_BAR_US = OHLC_HOURS * 3600 * 1_000_000


@register(
    "events_ohlc_bars",
    f"""
    WITH b AS (
      SELECT user_id, value, ts,
             make_timestamp((epoch_us(ts) // {OHLC_BAR_US}) * {OHLC_BAR_US})
               AS bar_start
      FROM events)
    SELECT user_id, bar_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           arg_min(value, ts) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           arg_max(value, ts) AS close
    FROM b GROUP BY user_id, bar_start
    """,
    f"OHLC downsampling: per-user {OHLC_HOURS}-hour bars with"
    " open/high/low/close picked by event time (min_by/max_by ==="
    " DuckDB arg_min/arg_max) — the time-series compaction every"
    " metrics store runs before long-horizon queries",
    tags=("temporal", "agg", "resample", "headline"),
)
def events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One groupBy on (user, bar): min_by/max_by carry the open/close
    through the partial-aggregation path like any other agg — no
    window, no second pass. The bar boundary is explicit epoch
    arithmetic in BOTH twins (Spark's window() aligns to the 1970
    epoch, DuckDB's time_bucket to 2000-01-03; writing the floor by
    hand removes the origin-convention trap). open/high/low/close are
    exact row values from the same parquet — no rounding needed.
    Event timestamps are globally unique in this corpus, so the
    arg_min/arg_max tie-break never fires; a corpus with ties would
    need a composite order key here like the as-of operators use."""
    ev = read_testdata(spark, sf_dir, "events")
    # exact integer floor-to-bar in microseconds (x - x % bar): no
    # double division anywhere near a bar boundary
    us = F.unix_micros("ts")
    bar = F.timestamp_micros(us - F.pmod(us, F.lit(OHLC_BAR_US)))
    return (
        ev.select("user_id", "value", "ts", bar.alias("bar_start"))
        .groupBy("user_id", "bar_start")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min_by("value", "ts").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "ts").alias("close"),
        )
    )


# --------------------------------------------------------------------
# Windowed aggregation join (kdb+ wj / "window join")
# --------------------------------------------------------------------

WJ_WINDOW_US = 1_800_000_000  # 30-minute lookback, integer microseconds


@register(
    "window_agg_join",
    f"""
    WITH e AS (
      SELECT event_id, user_id, event_type, epoch_us(ts) AS t,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events),
    p AS (SELECT event_id, user_id, t FROM e WHERE event_type = 'purchase'),
    v AS (SELECT user_id, t, cents FROM e
          WHERE event_type IN ('view', 'click')),
    j AS (
      SELECT p.event_id, p.user_id,
             COUNT(v.t) AS n_prior,
             COALESCE(SUM(v.cents), 0) AS prior_cents
      FROM p LEFT JOIN v
        ON v.user_id = p.user_id
       AND v.t >= p.t - {WJ_WINDOW_US} AND v.t < p.t
      GROUP BY p.event_id, p.user_id)
    SELECT CAST(event_id AS BIGINT) AS event_id,
           CAST(user_id AS BIGINT) AS user_id,
           CAST(n_prior AS BIGINT) AS n_prior,
           CAST(prior_cents AS BIGINT) AS prior_cents
    FROM j
    """,
    "windowed aggregation join (kdb+ wj): for every purchase, the"
    " count and cents sum of the same user's view/click events in the"
    " preceding 30 minutes — a point-in-interval aggregate across two"
    " relations, bucketized into an equi-join",
    tags=("temporal", "join", "headline"),
)
def window_agg_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third member of the temporal-join family: as-of attaches
    ONE nearest row, interval-overlap pairs ranges, this AGGREGATES
    every right row inside a per-left-row time window. The naive plan
    is a non-equi theta join (nested loop); the scale form buckets
    time into window-width cells so each purchase only meets its own
    and its previous cell — an EQUI join on (user, bucket) that
    shuffle-partitions and AQE-skew-splits like any other, with the
    exact band predicate as a residual filter. Left semantics are
    preserved (purchases with no prior views emit zeros) by
    conditional aggregation over the left-joined bucket pairs.
    Integer-microsecond arithmetic and integer cents throughout — no
    float contract."""
    e = (
        read_testdata(spark, sf_dir, "events")
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("t"),
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
    )
    w = F.lit(WJ_WINDOW_US)
    # Exact integer floor division for the bucket index (advisor,
    # round 7): double division + cast truncates (not floors) and its
    # precision headroom shrinks as t grows; (t - pmod(t, w)) DIV w is
    # exact int64 floor division for any sign of t.
    bucket = F.expr(f"(t - pmod(t, {WJ_WINDOW_US})) DIV {WJ_WINDOW_US}")
    p = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "t", bucket.alias("b")
    )
    v = e.filter(F.col("event_type").isin("view", "click")).select(
        F.col("user_id").alias("v_user"),
        F.col("t").alias("tv"),
        "cents",
        bucket.alias("vb"),
    )
    # each purchase probes its own and the previous window-width cell
    pb = p.select(
        "event_id",
        "user_id",
        "t",
        F.explode(F.array(F.col("b") - 1, F.col("b"))).alias("probe_b"),
    )
    hit = (F.col("tv") >= F.col("t") - w) & (F.col("tv") < F.col("t"))
    joined = pb.join(
        v,
        (F.col("v_user") == F.col("user_id")) & (F.col("vb") == F.col("probe_b")),
        "left",
    )
    return joined.groupBy("event_id", "user_id").agg(
        F.sum(F.when(hit, 1).otherwise(0)).cast("bigint").alias("n_prior"),
        F.sum(F.when(hit, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("prior_cents"),
    ).select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("user_id").cast("bigint").alias("user_id"),
        "n_prior",
        "prior_cents",
    )


# --------------------------------------------------------------------
# Interval coverage merge (union of overlapping activity spans)
# --------------------------------------------------------------------

# Each event opens a fixed activity span; overlapping/touching spans
# merge into coverage islands. 5 minutes in integer microseconds —
# all island arithmetic stays exact int64.
COVER_SPAN_US = 5 * 60 * 1_000_000


@register(
    "interval_coverage_merge",
    f"""
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + {COVER_SPAN_US} AS e
      FROM events),
    m AS (
      SELECT user_id, s, e,
             MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prev_max_e
      FROM iv),
    isl AS (
      SELECT user_id, s, e,
             SUM(CASE WHEN prev_max_e IS NULL OR s > prev_max_e
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY s, e
                     ROWS UNBOUNDED PRECEDING) AS island
      FROM m),
    sp AS (
      SELECT user_id, island, MIN(s) AS island_s, MAX(e) AS island_e
      FROM isl GROUP BY user_id, island)
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(island_e - island_s) AS BIGINT) AS covered_us,
           CAST(MAX(island_e - island_s) AS BIGINT) AS longest_us
    FROM sp GROUP BY user_id
    """,
    "interval union / coverage merge: each event opens a 5-minute"
    " activity span, overlapping spans merge into islands via the"
    " running-max-of-ends recipe; per user the island count, total"
    " covered microseconds and longest island — all integer-exact",
    tags=("temporal", "window", "agg", "headline"),
)
def interval_coverage_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The interval-union pattern (distinct from gap_islands'
    consecutive-streak detection): an interval starts a NEW island
    exactly when its start exceeds the running MAX of all previous
    ends — a plain max window with an exclusive frame, then a
    running-sum island id over the same (user_id, start) ordering,
    so both windows and the island aggregation share ONE user_id
    shuffle. Everything is integer microseconds (span bounds add
    exactly; island durations subtract exactly), so the hash gate
    needs no rounding anywhere. Per-user output; windows never run
    unpartitioned."""
    iv = read_testdata(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(COVER_SPAN_US)).alias("e"),
    )
    wo = Window.partitionBy("user_id").orderBy("s", "e")
    m = iv.withColumn(
        "prev_max_e",
        F.max("e").over(wo.rowsBetween(Window.unboundedPreceding, -1)),
    )
    isl = m.withColumn(
        "island",
        F.sum(
            F.when(
                F.col("prev_max_e").isNull()
                | (F.col("s") > F.col("prev_max_e")),
                1,
            ).otherwise(0)
        ).over(wo.rowsBetween(Window.unboundedPreceding, 0)),
    )
    sp = isl.groupBy("user_id", "island").agg(
        F.min("s").alias("island_s"), F.max("e").alias("island_e")
    )
    return sp.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_islands"),
        F.sum(F.col("island_e") - F.col("island_s"))
        .cast("bigint")
        .alias("covered_us"),
        F.max(F.col("island_e") - F.col("island_s"))
        .cast("bigint")
        .alias("longest_us"),
    ).select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "n_islands",
        "covered_us",
        "longest_us",
    )


# --------------------------------------------------------------------
# Nearest as-of join (merge_asof direction='nearest' semantics)
# --------------------------------------------------------------------

@register(
    "asof_nearest_purchase",
    """
    WITH clicks AS (
      SELECT event_id, user_id, epoch_us(ts) AS cus
      FROM events WHERE event_type = 'click'),
    purchases AS (
      SELECT user_id, epoch_us(ts) AS pus
      FROM events WHERE event_type = 'purchase'),
    tagged AS (
      SELECT user_id, cus AS us, 0 AS is_p, event_id, NULL AS pus
      FROM clicks
      UNION ALL
      SELECT user_id, pus, 1, NULL, pus FROM purchases),
    w AS (
      SELECT *,
             MAX(pus) OVER (PARTITION BY user_id
                            ORDER BY us, is_p
                            ROWS UNBOUNDED PRECEDING) AS back_pus,
             MIN(pus) OVER (PARTITION BY user_id
                            ORDER BY us, is_p
                            ROWS BETWEEN CURRENT ROW
                            AND UNBOUNDED FOLLOWING) AS fwd_pus
      FROM tagged)
    SELECT CAST(event_id AS BIGINT) AS event_id,
           CAST(user_id AS BIGINT) AS user_id,
           CAST(CASE
             WHEN back_pus IS NULL THEN fwd_pus
             WHEN fwd_pus IS NULL THEN back_pus
             WHEN us - back_pus <= fwd_pus - us THEN back_pus
             ELSE fwd_pus END AS BIGINT) AS nearest_pus,
           CAST(CASE
             WHEN back_pus IS NULL THEN fwd_pus - us
             WHEN fwd_pus IS NULL THEN us - back_pus
             WHEN us - back_pus <= fwd_pus - us THEN us - back_pus
             ELSE fwd_pus - us END AS BIGINT) AS gap_us
    FROM w WHERE is_p = 0
    """,
    "nearest as-of join (merge_asof direction='nearest'): each click"
    " matched to its temporally CLOSEST purchase, behind or ahead,"
    " backward preferred on exact ties — one union + two windows on"
    " one user_id partitioning, no join at all",
    tags=("temporal", "asof", "headline"),
)
def asof_nearest_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'nearest' direction pandas' merge_asof offers and most
    SQL engines don't: tag both relations into ONE stream, and on a
    single (user_id, timestamp) ordering take the running MAX of
    purchase times (last at-or-before) and, with the mirrored
    current-row-to-end frame, the running MIN (first at-or-after) —
    both sides of the nearest decision from one shuffle and one
    sort, with NO join operator anywhere. At equal timestamps the
    is_p tiebreak sorts the click first, so a same-instant purchase
    reaches it through the FORWARD frame with gap 0 (the reported
    match is identical either way); equal nonzero gaps prefer the
    backward match via the <= comparison — both rules identical in
    both engines. All distances are integer microseconds, exact.
    Clicks with no purchase either side keep NULLs on both engines
    (gap NULL)."""
    ev = read_testdata(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.lit(0).alias("is_p"),
        "event_id",
        F.lit(None).cast("long").alias("pus"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.lit(1).alias("is_p"),
        F.lit(None).cast("long").alias("event_id"),
        F.unix_micros("ts").alias("pus"),
    )
    tagged = clicks.unionByName(purchases)
    wo = Window.partitionBy("user_id").orderBy("us", "is_p")
    w = tagged.select(
        "user_id",
        "us",
        "is_p",
        "event_id",
        F.max("pus")
        .over(wo.rowsBetween(Window.unboundedPreceding, 0))
        .alias("back_pus"),
        F.min("pus")
        .over(wo.rowsBetween(0, Window.unboundedFollowing))
        .alias("fwd_pus"),
    ).filter(F.col("is_p") == 0)
    back_gap = F.col("us") - F.col("back_pus")
    fwd_gap = F.col("fwd_pus") - F.col("us")
    prefer_back = back_gap <= fwd_gap
    nearest = (
        F.when(F.col("back_pus").isNull(), F.col("fwd_pus"))
        .when(F.col("fwd_pus").isNull(), F.col("back_pus"))
        .when(prefer_back, F.col("back_pus"))
        .otherwise(F.col("fwd_pus"))
    )
    gap = (
        F.when(F.col("back_pus").isNull(), fwd_gap)
        .when(F.col("fwd_pus").isNull(), back_gap)
        .when(prefer_back, back_gap)
        .otherwise(fwd_gap)
    )
    return w.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("user_id").cast("bigint").alias("user_id"),
        nearest.cast("bigint").alias("nearest_pus"),
        gap.cast("bigint").alias("gap_us"),
    )
