"""Warehouse analytics patterns round-out ([EXT] — operator-surface
breadth beyond the reference's own queries, per the build brief):
exact-cents proration (largest-remainder allocation), gap-and-islands
streak detection, a Benford first-digit data-quality check, a Markov
event-transition matrix, a bounded-frame exact rolling median, a
median/MAD robust-outlier screen, an offline CUSUM changepoint
detector, market-basket association rules, a snapshot-diff
reconciliation audit, per-type inter-arrival SLA statistics, and
distributed percent-rank feature normalization.

Scale posture: every operator here partitions its windows by a natural
high-cardinality key (order, customer, user) or aggregates to a
constant-size result (9 digit rows, |event_types|² transitions, 25
nation rows) — no unpartitioned windows, no driver-side loops, one
shuffle each (MAD's exact per-group percentile is the one documented
trade; see its docstring).

Oracle float contract: proration, gap-islands and CUSUM are pure
integer arithmetic (exact in any engine); benford/markov divide
integer counts once and round the quotient on both sides; the rolling
median and MAD operate on integer cents with a single exact-input
division at the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_etl_global_footprint_network_spark.functions.compat import round_compat
from aws_etl_global_footprint_network_spark.functions.kernels import local_frame
from aws_etl_global_footprint_network_spark.registry import register
from aws_etl_global_footprint_network_spark.sources.readers import read_testdata


@register(
    "proration_largest_remainder",
    """
    WITH li AS (
      SELECT l_orderkey, l_linenumber,
             CAST(ROUND(l_quantity * 100) AS BIGINT) AS qty_u
      FROM lineitem),
    o AS (
      SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS total_cents
      FROM orders),
    j AS (
      SELECT l.l_orderkey, l.l_linenumber, l.qty_u, o.total_cents,
             SUM(l.qty_u) OVER (PARTITION BY l.l_orderkey) AS order_qty_u
      FROM li l JOIN o ON l.l_orderkey = o.o_orderkey),
    base AS (
      SELECT *,
             total_cents * qty_u // order_qty_u AS floor_share,
             total_cents * qty_u % order_qty_u AS remainder
      FROM j),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                ORDER BY remainder DESC, l_linenumber, qty_u)
               AS rk,
             total_cents - SUM(floor_share) OVER (PARTITION BY l_orderkey)
               AS leftover
      FROM base)
    SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
           CAST(l_linenumber AS INT) AS l_linenumber,
           CAST(floor_share + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_cents
    FROM ranked
    """,
    "allocate each order's total price across its lineitems pro-rata"
    " by quantity in EXACT integer cents via largest-remainder"
    " rounding — per-order allocations sum to the order total to the"
    " cent, bit-identical across engines (pure integer arithmetic);"
    " the remainder rank tie-breaks on (linenumber, qty) because the"
    " synthetic lineitem reuses linenumbers within an order, and rows"
    " identical on the full grain are interchangeable in the output",
    tags=("analytics", "finance", "headline"),
)
def proration_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic financial-allocation pattern: floor the
    proportional share in integer cents, then hand the leftover cents
    to the largest fractional remainders (linenumber tie-break).
    Integer division/modulo only — no float enters the allocation, so
    the result is engine- and plan-independent. All three windows
    partition by order key, the natural high-cardinality key, so at
    100 TB this is one shuffle on l_orderkey and bounded per-group
    state (an order has few lineitems)."""
    li = read_testdata(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_quantity") * 100, 0).cast("long").alias("qty_u"),
    )
    o = read_testdata(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("total_cents"),
    )
    per_order = Window.partitionBy("l_orderkey")
    j = li.join(o, li.l_orderkey == o.o_orderkey).withColumn(
        "order_qty_u", F.sum("qty_u").over(per_order)
    )
    base = j.withColumn(
        "floor_share",
        F.expr("(total_cents * qty_u) div order_qty_u"),
    ).withColumn(
        "remainder", (F.col("total_cents") * F.col("qty_u")) % F.col("order_qty_u")
    )
    rk_w = Window.partitionBy("l_orderkey").orderBy(
        F.col("remainder").desc(), "l_linenumber", "qty_u"
    )
    ranked = base.withColumn("rk", F.row_number().over(rk_w)).withColumn(
        "leftover", F.col("total_cents") - F.sum("floor_share").over(per_order)
    )
    return ranked.select(
        F.col("l_orderkey").cast("bigint").alias("l_orderkey"),
        F.col("l_linenumber").cast("int").alias("l_linenumber"),
        (
            F.col("floor_share")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("alloc_cents"),
    )


@register(
    "gap_islands_order_months",
    """
    WITH m AS (
      SELECT DISTINCT o_custkey,
             CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
               AS month_idx
      FROM orders),
    g AS (
      SELECT o_custkey, month_idx,
             month_idx - ROW_NUMBER() OVER (PARTITION BY o_custkey
                                            ORDER BY month_idx) AS grp
      FROM m),
    islands AS (
      SELECT o_custkey, grp,
             MIN(month_idx) AS start_idx, MAX(month_idx) AS end_idx,
             COUNT(*) AS streak_months
      FROM g GROUP BY o_custkey, grp)
    SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
           CAST(start_idx AS BIGINT) AS start_idx,
           CAST(end_idx AS BIGINT) AS end_idx,
           CAST(streak_months AS BIGINT) AS streak_months
    FROM islands
    """,
    "gap-and-islands: maximal runs of consecutive calendar months with"
    " at least one order, per customer — the month_idx - ROW_NUMBER()"
    " constant-difference trick; all-integer, windows partitioned by"
    " customer",
    tags=("analytics", "window", "headline"),
)
def gap_islands_order_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-month streaks per customer: distinct order months
    collapse to islands because month_idx minus its per-customer rank
    is constant exactly while months are consecutive. ONE shuffle on
    o_custkey, genuinely (round-10): the distinct used to plan its
    own (custkey, month) exchange and the window re-shuffled by
    custkey after it; an explicit repartition on o_custkey alone
    satisfies the distinct's clustering (subset rule), the window,
    AND the island groupBy, so everything past the single exchange
    is exchange-free — the lone_fault_suppliers layout. Map-side
    combine for the distinct is lost, but orders-per-customer-month
    is small so the pre-aggregation saved little. sf1 A/B, one warm
    session, two rounds: 4.29/2.73 s -> 2.49/2.52 s, rows identical.
    Per-group state is the customer's distinct months — bounded."""
    o = read_testdata(spark, sf_dir, "orders")
    m = (
        o.select(
            "o_custkey",
            (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
            .cast("bigint")
            .alias("month_idx"),
        )
        .repartition("o_custkey")
        .distinct()
    )
    w = Window.partitionBy("o_custkey").orderBy("month_idx")
    g = m.withColumn("grp", F.col("month_idx") - F.row_number().over(w))
    return (
        g.groupBy("o_custkey", "grp")
        .agg(
            F.min("month_idx").alias("start_idx"),
            F.max("month_idx").alias("end_idx"),
            F.count(F.lit(1)).alias("streak_months"),
        )
        .select(
            F.col("o_custkey").cast("bigint").alias("o_custkey"),
            F.col("start_idx").cast("bigint").alias("start_idx"),
            F.col("end_idx").cast("bigint").alias("end_idx"),
            F.col("streak_months").cast("bigint").alias("streak_months"),
        )
    )


# Benford expected first-digit probabilities ln(1+1/d)/ln(10), written
# as literals so both engines use the identical constant.
_BENFORD = {d: f"ln(1.0 + 1.0/{d}) / ln(10.0)" for d in range(1, 10)}


@register(
    "benford_first_digit",
    f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INT) AS digit
      FROM orders WHERE o_totalprice > 0),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM digits),
    obs AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM digits GROUP BY digit),
    expect AS (
      SELECT * FROM (VALUES
        {', '.join(f'({d}, {sql})' for d, sql in _BENFORD.items())})
        AS v(digit, p))
    SELECT e.digit,
           COALESCE(o.cnt, 0) AS cnt,
           ROUND(COALESCE(o.cnt, 0) / n.total * 1e6, 0) / 1e6 AS observed_p,
           ROUND(e.p * 1e6, 0) / 1e6 AS benford_p,
           ROUND((COALESCE(o.cnt, 0) - n.total * e.p)
                 * (COALESCE(o.cnt, 0) - n.total * e.p)
                 / (n.total * e.p) * 1e6, 0) / 1e6 AS chi2_term
    FROM expect e LEFT JOIN obs o ON e.digit = o.digit CROSS JOIN n
    """,
    "Benford's-law data-quality check on order totals: observed vs"
    " expected first-digit distribution with per-digit chi-square"
    " terms; the first digit is taken from the cents-integer's string"
    " form (no float log10 edge cases), result is 9 rows",
    tags=("analytics", "dq", "headline"),
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fabricated-data screen: genuine financial amounts follow
    Benford's law; a flat digit histogram is a red flag. Map-side
    digit extraction + a 9-key groupBy — constant-size result at any
    scale. The digit comes from the exact cents integer rendered as a
    string, so engines cannot disagree at power-of-ten boundaries the
    way floor(log10(x)) can."""
    o = read_testdata(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digits = o.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100, 0).cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    obs = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("cnt"))
    # total = the sum of the per-digit counts (identical integer to a
    # COUNT(*) over digits): one corpus scan instead of two subtrees
    # (round 13 — the separate count aggregate re-scanned orders)
    n = obs.agg(F.sum("cnt").cast("double").alias("total"))
    expect = local_frame(spark, {"digit": range(1, 10)}, "digit int").withColumn(
        "p",
        F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit")) / F.log(F.lit(10.0)),
    )
    joined = (
        expect.join(obs, "digit", "left")
        .crossJoin(F.broadcast(n))
        .withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0)))
    )
    dev = F.col("cnt") - F.col("total") * F.col("p")
    return joined.select(
        "digit",
        F.col("cnt").cast("bigint").alias("cnt"),
        round_compat(F.col("cnt") / F.col("total"), 6).alias("observed_p"),
        round_compat(F.col("p"), 6).alias("benford_p"),
        round_compat(dev * dev / (F.col("total") * F.col("p")), 6).alias("chi2_term"),
    )


@register(
    "markov_event_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events),
    t AS (
      SELECT event_type AS from_type, next_type AS to_type,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type),
    tot AS (
      SELECT from_type, SUM(cnt) AS row_total FROM t GROUP BY from_type)
    SELECT t.from_type, t.to_type, t.cnt,
           ROUND(t.cnt / CAST(tot.row_total AS DOUBLE) * 1e6, 0) / 1e6 AS prob
    FROM t JOIN tot USING (from_type)
    """,
    "first-order Markov transition matrix over per-user event"
    " sequences: P(next event type | event type); LEAD ordered by"
    " (ts, event_id) so the sequence is total and engine-independent",
    tags=("analytics", "behavioral", "headline"),
)
def markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-model primitive: one window shuffle on user_id to
    form (event, next-event) pairs, then a groupBy on the transition
    pair — whose cardinality is |event_types|², a constant. The
    event_id tie-break makes simultaneous-timestamp ordering total
    (the registry's determinism contract)."""
    e = read_testdata(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    t = seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    tot = t.groupBy("from_type").agg(F.sum("cnt").alias("row_total"))
    return t.join(tot, "from_type").select(
        "from_type",
        "to_type",
        F.col("cnt").cast("bigint").alias("cnt"),
        round_compat(F.col("cnt") / F.col("row_total").cast("double"), 6).alias(
            "prob"
        ),
    )


@register(
    "rolling_median_cents",
    """
    WITH e AS (
      SELECT event_id, user_id, ts,
             CAST(ROUND(value * 100) AS BIGINT) AS v_cents
      FROM events WHERE value IS NOT NULL),
    w AS (
      SELECT event_id, user_id, v_cents,
             list_sort(list(v_cents) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS arr
      FROM e)
    SELECT CAST(event_id AS BIGINT) AS event_id,
           CAST(user_id AS BIGINT) AS user_id,
           v_cents,
           (arr[(len(arr) + 1) // 2] + arr[len(arr) // 2 + 1]) / 200.0
             AS trailing_median
    FROM w
    """,
    "exact rolling median of event value over a trailing 7-row frame"
    " per user (median filter / robust smoothing); the bounded frame"
    " is materialised as a sorted 7-element array, so the median is"
    " integer-cents arithmetic with ONE final division",
    tags=("analytics", "timeseries", "headline"),
)
def rolling_median_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median filtering (robust trend extraction) as a BOUNDED-frame
    window: ``collect_list`` over ROWS BETWEEN 6 PRECEDING AND CURRENT
    keeps at most 7 elements per row, so memory per row is constant
    and the only shuffle is the user_id window partition — this scales
    by users, unlike a percentile over an unbounded frame which
    re-sorts the whole history per row. Median of the sorted array is
    pure integer arithmetic (the odd/even cases collapse to the same
    two-element formula); the single ``/200.0`` is exact-input IEEE
    division, identical in both engines, so no rounding contract is
    needed."""
    # NULL contract pinned explicitly: Spark's collect_list silently
    # drops NULLs while DuckDB's list() keeps them, so a nullable
    # `value` would silently diverge — both twins filter NULLs up
    # front instead of assuming the corpus is non-null.
    e = (
        read_testdata(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_id",
            "user_id",
            "ts",
            F.round(F.col("value") * 100, 0).cast("long").alias("v_cents"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    return (
        e.withColumn("arr", F.array_sort(F.collect_list("v_cents").over(w)))
        .select(
            F.col("event_id").cast("bigint").alias("event_id"),
            F.col("user_id").cast("bigint").alias("user_id"),
            "v_cents",
            (
                (
                    F.expr("element_at(arr, CAST((size(arr) + 1) div 2 AS INT))")
                    + F.expr("element_at(arr, CAST(size(arr) div 2 + 1 AS INT))")
                )
                / F.lit(200.0)
            ).alias("trailing_median"),
        )
    )


@register(
    "mad_outlier_stats",
    """
    WITH c AS (
      SELECT c_nationkey,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal FROM customer),
    med AS (
      SELECT c_nationkey, quantile_cont(bal, 0.5) AS med
      FROM c GROUP BY c_nationkey),
    dev AS (
      SELECT c.c_nationkey, c.bal, med.med, ABS(c.bal - med.med) AS d
      FROM c JOIN med USING (c_nationkey)),
    mad AS (
      SELECT c_nationkey, quantile_cont(d, 0.5) AS mad
      FROM dev GROUP BY c_nationkey)
    SELECT CAST(dev.c_nationkey AS BIGINT) AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_custs,
           MIN(dev.med) AS median_cents,
           MIN(mad.mad) AS mad_cents,
           CAST(SUM(CASE WHEN dev.d > 3.0 * 1.4826 * mad.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(SUM(CASE WHEN dev.d > 1.4826 * mad.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_mild
    FROM dev JOIN mad USING (c_nationkey)
    GROUP BY dev.c_nationkey
    """,
    "robust per-nation outlier screen on customer balances: exact"
    " median + median-absolute-deviation (MAD) in integer cents, flag"
    " |x - med| > 3 * 1.4826 * MAD (the normal-consistency robust"
    " z-score); two exact percentile passes, bounds joined back",
    tags=("analytics", "dq", "headline"),
)
def mad_outlier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: mean/stddev z-scores are themselves
    dragged by the outliers they hunt (masking); median/MAD have a 50%
    breakdown point. Two grouped exact-percentile passes over integer
    cents — medians of integers are exact halves and MADs exact
    quarters in doubles, and the 3*1.4826*MAD threshold is the same
    literal product in both engines, so the comparison is
    deterministic without a rounding grain. The per-nation medians
    (25 rows) broadcast back. At 100 TB swap ``percentile`` for
    ``approx_percentile`` or the distributed-NTILE selection recipe in
    ``functions/ranking.py`` — exact per-group medians need the full
    group sorted (the documented trade, as in
    ``winsorized_acctbal_stats``)."""
    c = read_testdata(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("bal"),
    )
    med = c.groupBy("c_nationkey").agg(F.expr("percentile(bal, 0.5)").alias("med"))
    dev = c.join(F.broadcast(med), "c_nationkey").withColumn(
        "d", F.abs(F.col("bal") - F.col("med"))
    )
    mad = dev.groupBy("c_nationkey").agg(F.expr("percentile(d, 0.5)").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "c_nationkey")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_custs"),
            F.min("med").alias("median_cents"),
            F.min("mad").alias("mad_cents"),
            F.sum(
                F.when(
                    F.col("d") > F.lit(3.0) * F.lit(1.4826) * F.col("mad"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
            F.sum(
                F.when(F.col("d") > F.lit(1.4826) * F.col("mad"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_mild"),
        )
        .select(
            F.col("c_nationkey").cast("bigint").alias("nationkey"),
            "n_custs",
            "median_cents",
            "mad_cents",
            "n_outliers",
            "n_mild",
        )
    )


@register(
    "cusum_changepoint",
    """
    WITH e AS (
      SELECT user_id, event_id, ts,
             CAST(ROUND(value * 100) AS BIGINT) AS v FROM events),
    w AS (
      SELECT user_id, event_id,
             SUM(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS s_k,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS k,
             SUM(v) OVER (PARTITION BY user_id) AS s_n,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM e),
    d AS (
      SELECT user_id, event_id, k, n, ABS(n * s_k - k * s_n) AS d_stat
      FROM w WHERE k < n),
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY d_stat DESC, k) AS rn
      FROM d)
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(event_id AS BIGINT) AS cp_event_id,
           CAST(k AS BIGINT) AS cp_index,
           CAST(n AS BIGINT) AS n_events,
           CAST(d_stat AS BIGINT) AS d_stat
    FROM r WHERE rn = 1
    """,
    "offline CUSUM changepoint per user: the split k maximising"
    " |n*S_k - k*S_n| (the mean-shift statistic cleared of divisions"
    " — ALL integer cents, exact in any engine); earliest-k tie-break",
    tags=("analytics", "timeseries", "headline"),
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where did each user's spending level shift? The classic CUSUM
    statistic max_k |mean(1..k) - mean(k+1..n)| * k(n-k)/n reduces,
    after multiplying through by n (rank-preserving within a user), to
    |n*S_k - k*S_n| over integer-cents prefix sums — zero float ops,
    so parity is structural. One window shuffle on user_id computes
    prefix sum, rank, total and count together; the argmax is a
    per-user ROW_NUMBER on the same partitioning (no second shuffle —
    same key). Magnitudes: n <= 1e6 events/user x S <= 1e11 cents
    stays far inside int64. k = n is excluded (a split must leave a
    non-empty right segment)."""
    e = read_testdata(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.col("value") * 100, 0).cast("long").alias("v"),
    )
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wa = Window.partitionBy("user_id")
    d = (
        e.select(
            "user_id",
            "event_id",
            F.sum("v").over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias("s_k"),
            F.row_number().over(wo).alias("k"),
            F.sum("v").over(wa).alias("s_n"),
            F.count(F.lit(1)).over(wa).alias("n"),
        )
        .filter(F.col("k") < F.col("n"))
        .withColumn(
            "d_stat", F.abs(F.col("n") * F.col("s_k") - F.col("k") * F.col("s_n"))
        )
    )
    wr = Window.partitionBy("user_id").orderBy(F.col("d_stat").desc(), "k")
    return (
        d.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            F.col("event_id").cast("bigint").alias("cp_event_id"),
            F.col("k").cast("bigint").alias("cp_index"),
            F.col("n").cast("bigint").alias("n_events"),
            F.col("d_stat").cast("bigint").alias("d_stat"),
        )
    )


# Market-basket constants: rule cut size and the deterministic ordering.
BASKET_TOP = 25


@register(
    "market_basket_rules",
    f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (
      SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS n_orders
      FROM lineitem),
    cnt AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c
      FROM items GROUP BY l_partkey),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(COUNT(*) AS BIGINT) AS n_both
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey),
    top AS (
      SELECT * FROM pairs
      ORDER BY n_both DESC, part_a, part_b LIMIT {BASKET_TOP})
    SELECT CAST(top.part_a AS BIGINT) AS part_a,
           CAST(top.part_b AS BIGINT) AS part_b,
           top.n_both,
           ca.c AS n_a, cb.c AS n_b,
           ROUND(top.n_both / n.n_orders * 1e6, 0) / 1e6 AS support,
           ROUND(top.n_both / CAST(ca.c AS DOUBLE) * 1e6, 0) / 1e6
             AS confidence_ab,
           ROUND(top.n_both * n.n_orders
                 / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)) * 1e6, 0) / 1e6
             AS lift
    FROM top
    JOIN cnt ca ON top.part_a = ca.l_partkey
    JOIN cnt cb ON top.part_b = cb.l_partkey
    CROSS JOIN n
    """,
    f"market-basket association rules over co-purchased parts: top-"
    f"{BASKET_TOP} item pairs by basket co-occurrence with support,"
    " confidence(a->b) and lift from integer counts; pair generation"
    " is the per-basket self-join (bounded by items-per-order, never"
    " all-parts-squared), ties broken by part ids",
    tags=("analytics", "behavioral", "shared-build", "headline"),
)
def market_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining, the Apriori candidate-pair step: each
    basket contributes C(items,2) pairs — cost scales with orders x
    (basket size)², a constant per basket, NOT with the part
    catalogue squared. The
    pair groupBy gets map-side partials; the cut is a distributed
    TakeOrdered on (count, ids); the single-row order total enters as
    a broadcast scalar (whitelisted scalar-subquery pattern) and the
    per-part counts join against the 25-row top set. All metrics are
    single divisions of exact integer counts, rounded on the shared
    grain in both engines.

    Shuffle shape: the naive form (DISTINCT + keyed self-join + pair
    groupBy) is four shuffles over fact-sized data; instead ONE
    groupBy on l_orderkey builds each basket as a sorted distinct
    array, pairs explode MAP-SIDE from the array (x < y for free from
    sort order), and the persisted basket table feeds the order
    count, the per-item counts and the pair counts without rescanning
    lineitem."""
    from aws_etl_global_footprint_network_spark.functions.cache import CacheScope

    from aws_etl_global_footprint_network_spark.functions.baskets import (
        basket_arrays,
    )

    scope = CacheScope("market_basket_rules")
    baskets = basket_arrays(spark, sf_dir).withColumnRenamed("arr", "ps")
    n = baskets.agg(F.count(F.lit(1)).cast("double").alias("n_orders"))
    cnt = (
        baskets.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    # pair generation as TWO index explodes + element_at rather than a
    # nested HOF lambda building structs: generators over sequence()
    # stay in whole-stage codegen, the lambda form is interpreted per
    # output row (measured ~20% faster on the pair stage at sf0.1);
    # sort order makes part_a < part_b for free. sequence() needs
    # start <= stop, hence the size >= 2 guard (1-item baskets have no
    # pairs anyway).
    pairs = (
        baskets.filter(F.size("ps") >= 2)
        .select("ps", F.explode(F.sequence(F.lit(1), F.size("ps") - 1)).alias("i"))
        .select(
            "ps", "i", F.explode(F.sequence(F.col("i") + 1, F.size("ps"))).alias("j")
        )
        .select(
            F.element_at("ps", F.col("i")).alias("part_a"),
            F.element_at("ps", F.col("j")).alias("part_b"),
        )
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    top = pairs.orderBy(
        F.col("n_both").desc(), "part_a", "part_b"
    ).limit(BASKET_TOP)
    ca = cnt.select(F.col("l_partkey").alias("part_a"), F.col("c").alias("n_a"))
    cb = cnt.select(F.col("l_partkey").alias("part_b"), F.col("c").alias("n_b"))
    return (
        top.join(ca, "part_a")
        .join(cb, "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            F.col("part_a").cast("bigint").alias("part_a"),
            F.col("part_b").cast("bigint").alias("part_b"),
            "n_both",
            "n_a",
            "n_b",
            round_compat(F.col("n_both") / F.col("n_orders"), 6).alias("support"),
            round_compat(
                F.col("n_both") / F.col("n_a").cast("double"), 6
            ).alias("confidence_ab"),
            round_compat(
                F.col("n_both")
                * F.col("n_orders")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
                6,
            ).alias("lift"),
        )
    )


# Snapshot-diff churn rules (deterministic, engine-independent):
# deletes, updates (+1 cent) and inserts (key offset) selected by
# modular arithmetic on the order key.
DIFF_DEL_MOD = 97
DIFF_UPD_MOD = 31
DIFF_INS_MOD = 101
DIFF_INS_OFFSET = 1_000_000_000


@register(
    "snapshot_diff_audit",
    f"""
    WITH old AS (
      SELECT o_orderkey AS k,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
      FROM orders),
    new AS (
      SELECT k,
             CASE WHEN k % {DIFF_UPD_MOD} = 0 THEN c + 1 ELSE c END AS c
      FROM old WHERE k % {DIFF_DEL_MOD} <> 0
      UNION ALL
      SELECT k + {DIFF_INS_OFFSET}, c FROM old WHERE k % {DIFF_INS_MOD} = 0),
    d AS (
      SELECT o.c AS oc, n.c AS nc
      FROM old o FULL OUTER JOIN new n ON o.k = n.k),
    s AS (
      SELECT CASE WHEN oc IS NULL THEN 'added'
                  WHEN nc IS NULL THEN 'removed'
                  WHEN oc <> nc THEN 'changed'
                  ELSE 'unchanged' END AS status,
             COALESCE(oc, 0) AS oc, COALESCE(nc, 0) AS nc
      FROM d)
    SELECT status,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(oc) AS BIGINT) AS sum_old_cents,
           CAST(SUM(nc) AS BIGINT) AS sum_new_cents
    FROM s GROUP BY status
    """,
    "snapshot diff / replication reconciliation: row-level"
    " added/removed/changed/unchanged audit between a table and its"
    " churned next version (deterministic modular churn: deletes %"
    f"{DIFF_DEL_MOD}, +1-cent updates %{DIFF_UPD_MOD}, key-offset"
    f" inserts %{DIFF_INS_MOD}) via one full outer join on the key;"
    " all-integer output",
    tags=("analytics", "lakehouse", "dq", "headline"),
)
def snapshot_diff_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The table-diff primitive behind replication validation and
    lakehouse snapshot audits: one full outer join on the primary
    key, per-row status from null-ness and value comparison, then a
    4-row status aggregate. Scale: the join shuffles both snapshots
    once on the key (bucketed layouts make it exchange-free — the
    ``bucketed_join_colocated`` recipe); sums are exact integer
    cents. The churned 'new' snapshot is derived deterministically
    inside the query so both engines construct byte-identical
    inputs."""
    old = read_testdata(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("c"),
    )
    survivors = old.filter(F.col("k") % DIFF_DEL_MOD != 0).select(
        "k",
        F.when(F.col("k") % DIFF_UPD_MOD == 0, F.col("c") + 1)
        .otherwise(F.col("c"))
        .alias("c"),
    )
    inserts = old.filter(F.col("k") % DIFF_INS_MOD == 0).select(
        (F.col("k") + F.lit(DIFF_INS_OFFSET)).alias("k"), "c"
    )
    new = survivors.unionByName(inserts)
    d = old.select(F.col("k"), F.col("c").alias("oc")).join(
        new.select(F.col("k"), F.col("c").alias("nc")), "k", "full_outer"
    )
    s = d.select(
        F.when(F.col("oc").isNull(), "added")
        .when(F.col("nc").isNull(), "removed")
        .when(F.col("oc") != F.col("nc"), "changed")
        .otherwise("unchanged")
        .alias("status"),
        F.coalesce("oc", F.lit(0)).alias("oc"),
        F.coalesce("nc", F.lit(0)).alias("nc"),
    )
    return s.groupBy("status").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("oc").cast("bigint").alias("sum_old_cents"),
        F.sum("nc").cast("bigint").alias("sum_new_cents"),
    )


@register(
    "event_interarrival_stats",
    """
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS us, event_id
      FROM events),
    g AS (
      SELECT event_type,
             us - LAG(us) OVER (PARTITION BY user_id, event_type
                                ORDER BY us, event_id) AS gap_us
      FROM e)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           ROUND(quantile_cont(gap_us, 0.5) / 1e6 * 1e6, 0) / 1e6
             AS p50_seconds,
           ROUND(quantile_cont(gap_us, 0.95) / 1e6 * 1e6, 0) / 1e6
             AS p95_seconds,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
    FROM g WHERE gap_us IS NOT NULL
    GROUP BY event_type
    """,
    "operational inter-arrival analysis: per event type the p50/p95"
    " gap between a user's consecutive events of that type (LAG over"
    " (user, type) on integer microseconds, (ts, event_id) total"
    " order), plus the max gap — the SLA/heartbeat-monitoring query",
    tags=("analytics", "timeseries", "headline"),
)
def event_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heartbeat monitoring: a p95 inter-arrival gap blowing out is
    the first sign of an ingestion stall. One window shuffle on
    (user_id, event_type) — the natural high-cardinality composite —
    produces exact integer-microsecond gaps; the percentile then runs
    per event type over the gap table (events-cardinality, but
    grouped into |event_types| constant-size results with partial
    aggregation). The division to seconds is one exact-input op per
    quantile, rounded on the shared grain."""
    e = read_testdata(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us"), "event_id"
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("us", "event_id")
    g = e.select(
        "event_type", (F.col("us") - F.lag("us").over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    return g.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        round_compat(F.expr("percentile(gap_us, 0.5)") / F.lit(1e6), 6).alias(
            "p50_seconds"
        ),
        round_compat(F.expr("percentile(gap_us, 0.95)") / F.lit(1e6), 6).alias(
            "p95_seconds"
        ),
        F.max("gap_us").cast("bigint").alias("max_gap_us"),
    )


@register(
    "percent_rank_normalize",
    """
    WITH c AS (
      SELECT c_custkey, CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
      FROM customer)
    SELECT CAST(c_custkey AS BIGINT) AS c_custkey, bal_cents,
           ROUND(PERCENT_RANK() OVER (ORDER BY bal_cents) * 1e6, 0) / 1e6
             AS pct_rank
    FROM c
    """,
    "rank-based feature normalization: PERCENT_RANK of every"
    " customer's balance over the WHOLE relation, computed"
    " scale-safely (range repartition + per-partition row_number +"
    " broadcast offsets + per-value min for tie sharing) — never the"
    " single-task global window the SQL form implies",
    tags=("analytics", "ml-prep", "scale", "headline"),
)
def percent_rank_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The feature-engineering transform behind rank-gauss / quantile
    normalization: pct = (rank - 1) / (n - 1) with ties sharing the
    minimum rank (standard PERCENT_RANK). The naive window is an
    unpartitioned global sort through one task; this uses the
    ``functions/ranking`` distributed recipe — total order
    (bal_cents, c_custkey) for determinism, then RANK recovered as
    MIN(row_number) within each tie group (a window partitioned BY
    VALUE, bounded by tie-group size). The final division is one
    exact-input op, rounded on the shared grain."""
    from aws_etl_global_footprint_network_spark.functions.cache import CacheScope
    from aws_etl_global_footprint_network_spark.functions.ranking import (
        adaptive_row_number,
    )

    scope = CacheScope("percent_rank_normalize")
    c = read_testdata(spark, sf_dir, "customer").select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("bal_cents"),
    )
    rn = adaptive_row_number(
        c, [F.col("bal_cents"), F.col("c_custkey")], "rn", scope
    )
    # relation size enters as an in-plan 1-row broadcast aggregate
    # (the whitelisted scalar-subquery pattern), keeping the builder
    # lazy — n reflects the data at execution time, like the oracle's
    # PERCENT_RANK. n <= 1 is guarded to 0.0, matching PERCENT_RANK's
    # single-row convention instead of x/0.0 -> NULL.
    n1 = c.agg(F.count(F.lit(1)).alias("n_total"))
    rank = F.min("rn").over(Window.partitionBy("bal_cents"))
    return (
        rn.crossJoin(F.broadcast(n1))
        .select(
            F.col("c_custkey").cast("bigint").alias("c_custkey"),
            "bal_cents",
            round_compat(
                F.when(F.col("n_total") > 1,
                       (rank - F.lit(1)).cast("double")
                       / (F.col("n_total") - F.lit(1)).cast("double"))
                .otherwise(F.lit(0.0)),
                6,
            ).alias("pct_rank"),
        )
    )


BAG_TOP = 20


@register(
    "bag_set_ops_quantities",
    f"""
    WITH a AS (SELECT l_partkey FROM lineitem WHERE l_linenumber = 1),
    b AS (SELECT l_partkey FROM lineitem WHERE l_linenumber = 2),
    ex AS (
      SELECT 'except_all' AS op, l_partkey,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT l_partkey FROM a EXCEPT ALL SELECT l_partkey FROM b)
      GROUP BY l_partkey),
    ia AS (
      SELECT 'intersect_all' AS op, l_partkey,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT l_partkey FROM a INTERSECT ALL SELECT l_partkey FROM b)
      GROUP BY l_partkey),
    u AS (SELECT * FROM ex UNION ALL SELECT * FROM ia)
    SELECT op, CAST(l_partkey AS BIGINT) AS l_partkey, cnt
    FROM u
    ORDER BY cnt DESC, op, l_partkey LIMIT {BAG_TOP}
    """,
    "bag-semantics set operations (EXCEPT ALL / INTERSECT ALL,"
    " Spark's exceptAll/intersectAll): multiset difference and"
    f" intersection of part keys between first and second lineitems,"
    f" per-key multiplicities, top-{BAG_TOP} by (count, op, key)",
    tags=("relational", "setops", "headline"),
)
def bag_set_ops_quantities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ALL variants the DISTINCT set ops miss: EXCEPT ALL keeps
    max(count_a - count_b, 0) copies per key, INTERSECT ALL keeps
    min(count_a, count_b) — duplicate-preserving semantics Spark
    implements natively (``exceptAll`` / ``intersectAll``, planned as
    count-aggregate + generate, never a distinct). One shuffle per
    operand pair, then the bounded TakeOrdered cut; output is
    all-integer."""
    li = read_testdata(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_linenumber") == 1).select("l_partkey")
    b = li.filter(F.col("l_linenumber") == 2).select("l_partkey")
    ex = (
        a.exceptAll(b)
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .select(F.lit("except_all").alias("op"), "l_partkey", "cnt")
    )
    ia = (
        a.intersectAll(b)
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .select(F.lit("intersect_all").alias("op"), "l_partkey", "cnt")
    )
    return (
        ex.unionByName(ia)
        .orderBy(F.col("cnt").desc(), "op", "l_partkey")
        .limit(BAG_TOP)
        .select("op", F.col("l_partkey").cast("bigint").alias("l_partkey"), "cnt")
    )


# --------------------------------------------------------------------
# Per-user OLS spend trend (exact sufficient statistics)
# --------------------------------------------------------------------

@register(
    "spend_trend_ols",
    """
    WITH d AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS y
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    s AS (
      SELECT user_id, COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM (SELECT user_id,
                   CAST(datediff('day', DATE '1970-01-01', day) AS BIGINT)
                     AS x, y
            FROM d)
      GROUP BY user_id HAVING COUNT(*) >= 2),
    f AS (
      SELECT user_id, n,
             (n * sxy - sx * sy) * 1.0 AS num,
             (n * sxx - sx * sx) * 1.0 AS d1,
             (n * syy - sy * sy) * 1.0 AS d2,
             sx, sy
      FROM s)
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(n AS BIGINT) AS n_days,
           ROUND((num / d1) * 1e6, 0) / 1e6 AS slope_r6,
           ROUND(((sy - (num / d1) * sx) / n) * 1e6, 0) / 1e6
             AS intercept_r6,
           CASE WHEN d2 > 0
                THEN ROUND((num * num / (d1 * d2)) * 1e6, 0) / 1e6
                ELSE NULL END AS r2_r6
    FROM f
    """,
    "per-user OLS trend of daily spend vs calendar day: slope,"
    " intercept and r^2 from the five integer sufficient statistics"
    " (n, Sx, Sy, Sxy, Sxx, Syy) — one combinable groupBy, exact"
    " integer aggregation, two float divisions rounded both sides",
    tags=("analytics", "timeseries", "agg", "headline"),
)
def spend_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed regression the way it scales: never materialise a
    per-user series, just aggregate the five OLS sufficient
    statistics in one map-side-combinable groupBy (x = epoch day,
    y = integer cents, so every sum is EXACT int64 — magnitudes:
    x ~ 2e4, n <= ~1e3 day-rows/user, y <= ~2^23 cents/day keep
    n*Syy < 2^62). slope = (nSxy - SxSy)/(nSxx - Sx^2) and r^2 =
    num^2/(d1*d2) are then a handful of IEEE double ops on exact
    integer inputs, written in identical order in both engines and
    rounded at 1e-6. Daily-grain x values are distinct within a
    user, so n >= 2 (pinned with HAVING on both sides) implies
    d1 > 0; zero y-variance pins r2 to NULL in both engines. Two
    shuffles total (daily pre-agg, per-user stats); output is
    user-cardinality."""
    d = (
        read_testdata(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .groupBy(
            "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("y")
        )
        .select(
            "user_id",
            F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
            .cast("bigint")
            .alias("x"),
            "y",
        )
    )
    s = (
        d.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
        .filter(F.col("n") >= 2)
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) * F.lit(1.0)
    d1 = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) * F.lit(1.0)
    d2 = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")) * F.lit(1.0)
    slope = num / d1
    return s.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("n").cast("bigint").alias("n_days"),
        round_compat(slope, 6).alias("slope_r6"),
        round_compat((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept_r6"
        ),
        F.when(d2 > 0, round_compat(num * num / (d1 * d2), 6)).alias("r2_r6"),
    )


# --------------------------------------------------------------------
# Autocorrelation of daily event counts (lags 1..ACF_MAX_LAG)
# --------------------------------------------------------------------

ACF_MAX_LAG = 7


@register(
    "acf_daily_counts",
    f"""
    WITH d AS MATERIALIZED (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    lagged AS (
      SELECT l.event_type, k.k, l.n AS x, r.n AS y
      FROM (SELECT event_type, day, n FROM d) l
      CROSS JOIN (SELECT unnest(range(1, {ACF_MAX_LAG + 1})) AS k) k
      JOIN d r ON r.event_type = l.event_type
              AND r.day = l.day + CAST(k.k AS INTEGER)),
    s AS (
      SELECT event_type, k, COUNT(*) AS np,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM lagged GROUP BY 1, 2 HAVING COUNT(*) >= 3)
    SELECT event_type, CAST(k AS BIGINT) AS lag_days,
           CAST(np AS BIGINT) AS n_pairs,
           CASE WHEN (np * sxx - sx * sx) > 0 AND (np * syy - sy * sy) > 0
                THEN ROUND(((np * sxy - sx * sy) * 1.0
                       / sqrt((np * sxx - sx * sx) * 1.0
                              * ((np * syy - sy * sy) * 1.0))) * 1e6, 0) / 1e6
                ELSE NULL END AS acf_r6
    FROM s
    """,
    f"sample autocorrelation of each event type's daily-count series"
    f" at lags 1..{ACF_MAX_LAG}: lagged pairs by CALENDAR day (gap-"
    "aware shifted-copy equi-join, not rank adjacency), Pearson r"
    " from exact integer sufficient statistics",
    tags=("analytics", "timeseries", "agg", "headline"),
)
def acf_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality detection at corpus scale: pair each day's count
    with the count k CALENDAR days later via the shifted-copy
    equi-join (the day key is shifted k days on one side, so a
    missing day simply produces no pair — rank-based lag() would
    silently pair across gaps), then reduce each (type, lag) group
    to the five integer sufficient statistics and finish with one
    sqrt+division on exact inputs, identical order both engines,
    rounded 1e-6. The lag fanout is a bounded x{ACF_MAX_LAG}
    map-side explode of the DAILY relation (calendar-cardinality,
    pre-aggregated — never the raw corpus); two shuffles (daily
    agg, lag-pair agg). Degenerate variance pins NULL on both
    sides."""
    d = (
        read_testdata(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_trunc("day", "ts").cast("date").alias("day"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    lef = d.select(
        "event_type",
        "day",
        F.col("n").alias("x"),
        F.explode(
            F.sequence(F.lit(1), F.lit(ACF_MAX_LAG))
        ).alias("k"),
    ).select(
        "event_type", F.date_add("day", F.col("k")).alias("jday"), "x", "k"
    )
    r = d.select(
        F.col("event_type").alias("r_type"),
        F.col("day").alias("r_day"),
        F.col("n").alias("y"),
    )
    lagged = lef.join(
        r,
        (F.col("r_type") == F.col("event_type"))
        & (F.col("r_day") == F.col("jday")),
    )
    s = (
        lagged.groupBy("event_type", "k")
        .agg(
            F.count(F.lit(1)).alias("np"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
        .filter(F.col("np") >= 3)
    )
    d1 = (F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx")) * F.lit(1.0)
    d2 = (F.col("np") * F.col("syy") - F.col("sy") * F.col("sy")) * F.lit(1.0)
    num = (F.col("np") * F.col("sxy") - F.col("sx") * F.col("sy")) * F.lit(1.0)
    return s.select(
        "event_type",
        F.col("k").cast("bigint").alias("lag_days"),
        F.col("np").cast("bigint").alias("n_pairs"),
        F.when(
            (d1 > 0) & (d2 > 0),
            round_compat(num / F.sqrt(d1 * d2), 6),
        ).alias("acf_r6"),
    )
