"""Second relational batch: lateral explode, statistical aggregates,
ordered string aggregation, median, date arithmetic, unpivot."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_etl_global_footprint_network_spark.functions.compat import round_compat
from aws_etl_global_footprint_network_spark.functions.text import tokens, tokens_sql
from aws_etl_global_footprint_network_spark.registry import register
from aws_etl_global_footprint_network_spark.sources.readers import read_testdata


@register(
    "top_tokens_exploded",
    f"""
    WITH tok AS (
      SELECT unnest({tokens_sql('text')}) AS token FROM documents)
    SELECT token, COUNT(*) AS n FROM tok
    GROUP BY token ORDER BY n DESC, token LIMIT 20
    """,
    "explode (lateral unnest) + frequency count + ordered limit — the"
    " vocabulary query",
    tags=("text", "explode"),
)
def top_tokens_exploded(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_testdata(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(20)
    )


@register(
    "price_quantity_correlation",
    """
    SELECT l_returnflag,
           ROUND(corr(l_quantity, l_extendedprice) * 1000000, 0) / 1000000
             AS qty_price_corr,
           ROUND(covar_samp(l_discount, l_tax) * 1000000000, 0) / 1000000000
             AS disc_tax_covar,
           ROUND(var_samp(l_quantity) * 10000, 0) / 10000 AS qty_var,
           bool_and(l_quantity > 0)  AS all_positive,
           bool_or(l_discount > 0.09) AS any_high_discount
    FROM lineitem GROUP BY l_returnflag
    """,
    "statistical aggregates: corr/covar/variance/bool_and/bool_or",
    tags=("agg", "stats"),
)
def price_quantity_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_testdata(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        round_compat(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "qty_price_corr"
        ),
        round_compat(F.covar_samp("l_discount", "l_tax"), 9).alias(
            "disc_tax_covar"
        ),
        round_compat(F.var_samp("l_quantity"), 4).alias("qty_var"),
        F.bool_and(F.col("l_quantity") > 0).alias("all_positive"),
        F.bool_or(F.col("l_discount") > 0.09).alias("any_high_discount"),
    )


@register(
    "supplier_names_agg",
    """
    SELECT s_nationkey,
           string_agg(s_name, ',' ORDER BY s_name) AS names,
           COUNT(*) AS n
    FROM supplier GROUP BY s_nationkey
    """,
    "ordered string aggregation (listagg)",
    tags=("agg", "string"),
)
def supplier_names_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = read_testdata(spark, sf_dir, "supplier")
    return s.groupBy("s_nationkey").agg(
        F.array_join(F.array_sort(F.collect_list("s_name")), ",").alias("names"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "median_order_value",
    """
    SELECT o_orderpriority,
           ROUND(median(o_totalprice) * 10000, 0) / 10000 AS median_price,
           COUNT(*) AS n
    FROM orders GROUP BY o_orderpriority
    """,
    "exact median per group",
    tags=("agg", "percentile"),
)
def median_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_testdata(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        round_compat(F.median("o_totalprice"), 4).alias("median_price"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "date_functions_suite",
    """
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE)                          AS order_date,
           CAST(date_diff('day', o_orderdate,
                TIMESTAMP '2000-01-01 00:00:00') AS INT)      AS days_to_y2k,
           CAST(o_orderdate + INTERVAL 3 MONTH AS DATE)       AS plus_3m,
           CAST(last_day(o_orderdate) AS DATE)                AS month_end,
           CAST(date_trunc('week', o_orderdate) AS DATE)      AS week_start,
           CAST(year(o_orderdate) AS INT)                     AS y,
           CAST(month(o_orderdate) AS INT)                    AS m,
           CAST(dayofweek(o_orderdate) + 1 AS INT)            AS dow_sunday1
    FROM orders WHERE o_orderkey <= 400
    """,
    "date arithmetic: diff/add-months/last_day/trunc-week/extract",
    tags=("time", "projection"),
)
def date_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB dayofweek is Sunday=0; Spark dayofweek is Sunday=1 —
    aligned here to Sunday=1 (the oracle adds 1). date_trunc('week')
    is Monday-start in both engines."""
    o = read_testdata(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.filter(F.col("o_orderkey") <= 400).select(
        "o_orderkey",
        d.cast("date").alias("order_date"),
        F.datediff(F.lit("2000-01-01").cast("date"), d.cast("date"))
        .cast("int")
        .alias("days_to_y2k"),
        F.add_months(d, 3).cast("date").alias("plus_3m"),
        F.last_day(d).cast("date").alias("month_end"),
        F.date_trunc("week", d).cast("date").alias("week_start"),
        F.year(d).cast("int").alias("y"),
        F.month(d).cast("int").alias("m"),
        F.dayofweek(d).cast("int").alias("dow_sunday1"),
    )


@register(
    "lineitem_unpivot",
    """
    SELECT l_orderkey, l_linenumber, 'quantity' AS measure,
           l_quantity AS val
    FROM lineitem WHERE l_orderkey <= 200
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'price', l_extendedprice
    FROM lineitem WHERE l_orderkey <= 200
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', l_discount
    FROM lineitem WHERE l_orderkey <= 200
    """,
    "unpivot (wide -> long) via the native melt/stack operator",
    tags=("reshape",),
)
def lineitem_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_testdata(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 200)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure",
        "val",
    ).withColumn(
        "measure",
        F.when(F.col("measure") == "l_quantity", "quantity")
        .when(F.col("measure") == "l_extendedprice", "price")
        .otherwise("discount"),
    )


@register(
    "key_uniqueness_checks",
    """
    SELECT 'orders_pk' AS key_name,
           CAST(COUNT(*) AS BIGINT) AS n_violations
    FROM (SELECT o_orderkey FROM orders
          GROUP BY o_orderkey HAVING COUNT(*) > 1)
    UNION ALL
    SELECT 'lineitem_pk',
           CAST(COUNT(*) AS BIGINT)
    FROM (SELECT l_orderkey, l_linenumber FROM lineitem
          GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1)
    UNION ALL
    SELECT 'events_user_ts',
           CAST(COUNT(*) AS BIGINT)
    FROM (SELECT user_id, ts FROM events
          GROUP BY user_id, ts HAVING COUNT(*) > 1)
    """,
    "business-key uniqueness profiling (the reference's EDA idiom,"
    " reference: mkt_returns/sql_test_mkt_returns.ipynb:595-658)",
    tags=("checks", "agg"),
)
def key_uniqueness_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ... HAVING COUNT>1 per candidate key, collapsed to a
    violations count — the uniqueness EDA the reference runs before
    trusting a key, as one reusable profiling query."""
    def violations(df: DataFrame, cols: list[str], name: str) -> DataFrame:
        v = (
            df.groupBy(*cols)
            .agg(F.count(F.lit(1)).alias("cnt"))
            .filter(F.col("cnt") > 1)
            .agg(F.count(F.lit(1)).alias("n_violations"))
        )
        return v.select(F.lit(name).alias("key_name"), "n_violations")

    o = read_testdata(spark, sf_dir, "orders")
    li = read_testdata(spark, sf_dir, "lineitem")
    ev = read_testdata(spark, sf_dir, "events")
    return (
        violations(o, ["o_orderkey"], "orders_pk")
        .unionByName(violations(li, ["l_orderkey", "l_linenumber"], "lineitem_pk"))
        .unionByName(violations(ev, ["user_id", "ts"], "events_user_ts"))
    )


@register(
    "referential_integrity_checks",
    """
    SELECT
      (SELECT COUNT(*) FROM orders o LEFT JOIN customer c
         ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL)
        AS orphan_orders,
      (SELECT COUNT(*) FROM lineitem l LEFT JOIN orders o
         ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL)
        AS orphan_lineitems,
      (SELECT COUNT(*) FROM supplier s LEFT JOIN nation n
         ON s.s_nationkey = n.n_nationkey WHERE n.n_nationkey IS NULL)
        AS orphan_suppliers
    """,
    "referential-integrity audit across the star schema: orphaned"
    " foreign keys per fact/dim edge (the post-load ETL gate)",
    tags=("checks", "join"),
)
def referential_integrity_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each FK edge is a LEFT ANTI join + count — at scale the dim
    side broadcasts and each check is one map-side pass over the fact;
    the three 1-row results cross-join (broadcast) into the single
    audit row the reference's run_checks pattern expects."""
    o = read_testdata(spark, sf_dir, "orders")
    c = read_testdata(spark, sf_dir, "customer")
    li = read_testdata(spark, sf_dir, "lineitem")
    s = read_testdata(spark, sf_dir, "supplier")
    n = read_testdata(spark, sf_dir, "nation")

    def orphans(fact: DataFrame, dim: DataFrame, fk: str, pk: str, name: str) -> DataFrame:
        return (
            fact.join(dim, fact[fk] == dim[pk], "left_anti")
            .agg(F.count(F.lit(1)).alias(name))
        )

    return (
        orphans(o, c, "o_custkey", "c_custkey", "orphan_orders")
        .crossJoin(F.broadcast(orphans(li, o, "l_orderkey", "o_orderkey", "orphan_lineitems")))
        .crossJoin(F.broadcast(orphans(s, n, "s_nationkey", "n_nationkey", "orphan_suppliers")))
    )


HIST_WIDTH = 50_000


@register(
    "order_value_histogram",
    f"""
    WITH b AS (
      SELECT CAST(floor(o_totalprice / {HIST_WIDTH}) AS INT) AS bucket,
             o_totalprice FROM orders)
    SELECT bucket,
           CAST(bucket * {HIST_WIDTH} AS DOUBLE) AS bucket_lo,
           CAST((bucket + 1) * {HIST_WIDTH} AS DOUBLE) AS bucket_hi,
           COUNT(*) AS n,
           ROUND(MIN(o_totalprice) * 100, 0) / 100 AS min_val,
           ROUND(MAX(o_totalprice) * 100, 0) / 100 AS max_val
    FROM b GROUP BY bucket
    """,
    f"fixed-width value histogram of order totals (width {HIST_WIDTH})"
    " — the distribution-profiling pass behind partition/skew sizing",
    tags=("agg", "checks"),
)
def order_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One groupBy on the derived bucket key: the same single-shuffle
    shape at any scale, and the output is bounded by the value range,
    not the row count — safe to collect, plot, or alert on."""
    o = read_testdata(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / HIST_WIDTH).cast("int")
    return (
        o.select(bucket.alias("bucket"), "o_totalprice")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            round_compat(F.min("o_totalprice"), 2).alias("min_val"),
            round_compat(F.max("o_totalprice"), 2).alias("max_val"),
        )
        .select(
            "bucket",
            (F.col("bucket").cast("double") * HIST_WIDTH).alias("bucket_lo"),
            ((F.col("bucket") + 1).cast("double") * HIST_WIDTH).alias("bucket_hi"),
            "n",
            "min_val",
            "max_val",
        )
    )


@register(
    "part_regex_funcs",
    r"""
    SELECT p_partkey,
           regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
           regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
           CASE WHEN regexp_matches(p_name, '^a') THEN 1 ELSE 0 END AS starts_a,
           CASE WHEN p_name LIKE '%red%' THEN 1 ELSE 0 END AS has_red,
           CAST(length(regexp_replace(p_name, '[^ ]', '', 'g')) + 1 AS INT)
             AS n_words
    FROM part WHERE p_partkey <= 200
    """,
    "regex scalar functions (extract/replace/match) + LIKE — patterns"
    " restricted to the class-and-anchor subset where Java and RE2"
    " dialects agree",
    tags=("projection", "regex"),
)
def part_regex_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex dialects (Java in Spark, RE2 in DuckDB) agree on character
    classes, anchors, and literal alternation — the subset used here;
    backrefs/lookaround would not port and are deliberately excluded
    from the engine's compatibility surface."""
    p = read_testdata(spark, sf_dir, "part")
    return p.filter(F.col("p_partkey") <= 200).select(
        "p_partkey",
        F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
        F.when(F.col("p_name").rlike("^a"), 1).otherwise(0).alias("starts_a"),
        F.when(F.col("p_name").like("%red%"), 1).otherwise(0).alias("has_red"),
        (F.length(F.regexp_replace("p_name", "[^ ]", "")) + 1)
        .cast("int")
        .alias("n_words"),
    )


@register(
    "null_semantics_suite",
    """
    WITH base AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_acctbal END AS v,
             CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_acctbal END AS w
      FROM customer WHERE c_custkey <= 300)
    SELECT c_custkey,
           ROUND(COALESCE(v, w, 0.0) * 100, 0) / 100 AS first_non_null,
           CASE WHEN v IS NOT DISTINCT FROM w THEN 1 ELSE 0 END AS null_safe_eq,
           ROUND(NULLIF(COALESCE(v, 0.0), 0.0) * 100, 0) / 100 AS nullif_zero,
           CASE WHEN v IS NULL THEN 1 ELSE 0 END AS v_is_null,
           ROUND(IFNULL(v, -1.0) * 100, 0) / 100 AS v_or_neg1
    FROM base
    """,
    "NULL-semantics suite: COALESCE / NULLIF / IFNULL / IS [NOT]"
    " DISTINCT FROM (null-safe equality) / IS NULL",
    tags=("projection", "nulls"),
)
def null_semantics_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_testdata(spark, sf_dir, "customer")
    base = c.filter(F.col("c_custkey") <= 300).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 3 == 0, None)
        .otherwise(F.col("c_acctbal"))
        .alias("v"),
        F.when(F.col("c_custkey") % 5 == 0, None)
        .otherwise(F.col("c_acctbal"))
        .alias("w"),
    )
    return base.select(
        "c_custkey",
        round_compat(F.coalesce("v", "w", F.lit(0.0)), 2).alias("first_non_null"),
        F.when(F.col("v").eqNullSafe(F.col("w")), 1).otherwise(0).alias("null_safe_eq"),
        round_compat(F.nullif(F.coalesce("v", F.lit(0.0)), F.lit(0.0)), 2).alias(
            "nullif_zero"
        ),
        F.when(F.col("v").isNull(), 1).otherwise(0).alias("v_is_null"),
        round_compat(F.ifnull("v", F.lit(-1.0)), 2).alias("v_or_neg1"),
    )


@register(
    "approx_percentile_prices",
    """
    SELECT p_brand,
           ROUND(quantile_cont(p_retailprice, 0.5), 2) AS exact_median,
           ROUND(quantile_cont(p_retailprice, 0.9), 2) AS exact_p90,
           TRUE AS approx_within_2pct
    FROM part GROUP BY p_brand
    """,
    "approx_percentile (t-digest-style sketch) validated against the"
    " exact continuous quantile: the sketch value is engine-specific,"
    " so the hashable contract is the exact quantile plus a"
    " relative-error bound check — same pattern as"
    " approx_distinct_parts",
    tags=("agg", "approx"),
)
def approx_percentile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: like HLL for distinct counts, the percentile sketch is
    why this works at 100 TB — bounded memory per partition and one
    sketch merge, where exact percentile needs a full sort. The exact
    quantile here is the verification twin; ``approx_within_2pct``
    pins the sketch to it (accuracy=10000 is far tighter than 2% on
    these group sizes)."""
    p = read_testdata(spark, sf_dir, "part")
    exact_med = F.expr("percentile(p_retailprice, 0.5)")
    exact_p90 = F.expr("percentile(p_retailprice, 0.9)")
    approx_med = F.expr("approx_percentile(p_retailprice, 0.5, 10000)")
    return p.groupBy("p_brand").agg(
        round_compat(exact_med, 2).alias("exact_median"),
        round_compat(exact_p90, 2).alias("exact_p90"),
        (F.abs(approx_med - exact_med) <= 0.02 * exact_med).alias(
            "approx_within_2pct"
        ),
    )


EQUI_DEPTH_BINS = 10


@register(
    "equi_depth_histogram",
    f"""
    WITH b AS (
      SELECT p_retailprice,
             NTILE({EQUI_DEPTH_BINS})
               OVER (ORDER BY p_retailprice, p_partkey) AS bin
      FROM part)
    SELECT CAST(bin AS INT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(MIN(p_retailprice) * 100, 0) / 100 AS lo,
           ROUND(MAX(p_retailprice) * 100, 0) / 100 AS hi
    FROM b GROUP BY bin
    """,
    f"equi-depth histogram: exact {EQUI_DEPTH_BINS}-quantile bin"
    " boundaries of part retail price (each bin holds the same row"
    " count ±1) — the optimizer/UI statistic equi-width histograms"
    " can't give you on skewed data",
    tags=("agg", "stats", "ranking", "headline"),
)
def equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact NTILE via :func:`adaptive_ntile`: a plain window when
    the measured input is under the measured 200k-row
    ``ROWSCALE_WINDOW_CAP`` (bounded single task by construction),
    the distributed ranking recipe
    (range repartition + per-partition rank + broadcast offsets)
    past it — an UNBOUNDED unpartitioned NTILE window would
    single-task the table."""
    from aws_etl_global_footprint_network_spark.functions.cache import CacheScope
    from aws_etl_global_footprint_network_spark.functions.ranking import (
        adaptive_ntile,
    )

    p = read_testdata(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    scope = CacheScope("equi_depth_histogram")
    b = adaptive_ntile(
        p,
        [F.col("p_retailprice"), F.col("p_partkey")],
        EQUI_DEPTH_BINS,
        "bin",
        scope,
    )
    return b.groupBy(F.col("bin").cast("int").alias("bin")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        round_compat(F.min("p_retailprice"), 2).alias("lo"),
        round_compat(F.max("p_retailprice"), 2).alias("hi"),
    )


@register(
    "star_denormalize_revenue",
    """
    SELECT r.r_name AS region, p.p_brand AS brand,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))) / 10000.0
             AS revenue
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey = c.c_custkey
    JOIN nation n    ON c.c_nationkey = n.n_nationkey
    JOIN region r    ON n.n_regionkey = r.r_regionkey
    JOIN part p      ON l.l_partkey = p.p_partkey
    JOIN supplier s  ON l.l_suppkey = s.s_suppkey
    GROUP BY r.r_name, p.p_brand
    """,
    "full star-schema denormalization: the fact table joined through"
    " six dimensions in one plan (orders->customer->nation->region +"
    " part + supplier), aggregated to region x brand revenue — the"
    " canonical warehouse ETL shape; revenue in exact integer cents"
    " (engine-order-independent)",
    tags=("join", "agg", "star", "headline"),
)
def star_denormalize_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Catalyst plan, six joins: the true dimensions
    (nation/region/part/supplier) sit under the broadcast threshold so
    Catalyst broadcast-hash-joins them against the fact scan with no
    shuffle; orders/customer are fact-sized and shuffle on their keys
    — exactly the split a 100 TB star wants. Declaring all six joins
    at once (instead of materialising intermediates) lets the
    optimizer reorder them by size."""
    li = read_testdata(spark, sf_dir, "lineitem")
    o = read_testdata(spark, sf_dir, "orders")
    c = read_testdata(spark, sf_dir, "customer")
    n = read_testdata(spark, sf_dir, "nation")
    r = read_testdata(spark, sf_dir, "region")
    p = read_testdata(spark, sf_dir, "part")
    s = read_testdata(spark, sf_dir, "supplier")
    wide = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
    )
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long") * (
        100 - F.round(F.col("l_discount") * 100, 0).cast("long")
    )
    return wide.groupBy(
        F.col("r_name").alias("region"), F.col("p_brand").alias("brand")
    ).agg(
        F.count(F.lit(1)).alias("n_items"),
        (F.sum(cents) / 10000.0).alias("revenue"),
    )


# Data-quality rules with real hit rates in this corpus; the array
# construction order is part of the contract (both twins emit reasons
# in this sequence).
DQ_RULES = (
    ("ship_before_order", "l_shipdate < o_orderdate"),
    ("excessive_quantity", "l_quantity > 45"),
    ("discount_above_policy", "l_discount >= 0.09"),
    ("tax_above_policy", "l_tax >= 0.07"),
)


@register(
    "dq_violation_report",
    f"""
    WITH flagged AS (
      SELECT {", ".join(f"CASE WHEN {expr} THEN 1 ELSE 0 END AS f{i}"
                        for i, (_, expr) in enumerate(DQ_RULES))}
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    tot AS (SELECT COUNT(*) AS n FROM flagged)
    {" UNION ALL ".join(
        f'''SELECT '{name}' AS rule,
                   CAST(SUM(f{i}) AS BIGINT) AS n_violations,
                   ROUND(SUM(f{i}) * 1.0 / (SELECT n FROM tot) * 1e6, 0) / 1e6
                     AS violation_rate
            FROM flagged'''
        for i, (name, _) in enumerate(DQ_RULES))}
    """,
    "data-quality violation report: four business rules evaluated"
    " row-wise over the order-joined fact table (ship-before-order,"
    " quantity/discount/tax policy), aggregated to per-rule counts and"
    " rates — the expectation-suite pattern (Deequ/Great Expectations)"
    " as one Spark plan",
    tags=("quality", "agg", "headline"),
)
def dq_violation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All rules evaluate in ONE scan of the joined fact table
    (map-side flag columns, then a single aggregate) — N rules cost
    one pass, not N passes. The total enters as a scalar subquery.
    At 100 TB you persist the flagged frame and fan the per-rule
    report out of it; here the one-pass shape is the point."""
    li = read_testdata(spark, sf_dir, "lineitem")
    o = read_testdata(spark, sf_dir, "orders")
    li.join(o, li.l_orderkey == o.o_orderkey).createOrReplaceTempView(
        "dq_flagged_src"
    )
    flags = ", ".join(
        f"CASE WHEN {expr} THEN 1 ELSE 0 END AS f{i}"
        for i, (_, expr) in enumerate(DQ_RULES)
    )
    unions = " UNION ALL ".join(
        f"""SELECT '{name}' AS rule,
                   CAST(SUM(f{i}) AS BIGINT) AS n_violations,
                   ROUND(SUM(f{i}) * 1.0 / (SELECT n FROM dq_tot) * 1e6, 0) / 1e6
                     AS violation_rate
            FROM dq_flagged"""
        for i, (name, _) in enumerate(DQ_RULES)
    )
    return spark.sql(
        f"""
        WITH dq_flagged AS (SELECT {flags} FROM dq_flagged_src),
        dq_tot AS (SELECT COUNT(*) AS n FROM dq_flagged)
        {unions}
        """
    )


# --- Winsorized robust statistics -----------------------------------------
# Exact two-pass winsorization: per-nation p05/p95 of customer account
# balance, then the mean of values clipped to those bounds. The clip
# decision and the bounds are taken on the SAME rounded grain in both
# twins, so an interpolated percentile a last-ulp apart cannot flip
# which side of the bound a value lands on.
WINSOR_LO = 0.05
WINSOR_HI = 0.95


@register(
    "winsorized_acctbal_stats",
    f"""
    WITH b AS (
      SELECT c_nationkey,
             ROUND(quantile_cont(c_acctbal, {WINSOR_LO}) * 1e4, 0) / 1e4 AS lo,
             ROUND(quantile_cont(c_acctbal, {WINSOR_HI}) * 1e4, 0) / 1e4 AS hi
      FROM customer GROUP BY c_nationkey)
    SELECT n.n_name AS nation, b.lo AS p05, b.hi AS p95,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(AVG(CASE WHEN c.c_acctbal < b.lo THEN b.lo
                          WHEN c.c_acctbal > b.hi THEN b.hi
                          ELSE c.c_acctbal END) * 1e4, 0) / 1e4
             AS winsorized_mean
    FROM customer c
    JOIN b ON b.c_nationkey = c.c_nationkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name, b.lo, b.hi
    """,
    "winsorized robust statistics: per-nation p05/p95 account-balance"
    " bounds (exact interpolated percentiles) and the mean of values"
    " clipped to them — the outlier-robust aggregate (two passes:"
    " bounds, then clip+mean; bounds broadcast back, 25 rows); clip"
    " decided on the shared rounded grain in both engines",
    tags=("agg", "stats", "robust", "headline"),
)
def winsorized_acctbal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's exact ``percentile`` aggregate sorts within each group
    (memory bounded by group size — fine for dimension-grouped stats;
    at 10^9-row groups swap in approx_percentile, the same two-pass
    shape). Pass 2 re-scans with the 25-row bounds table broadcast:
    the clip is map-side, the mean partial-aggregates."""
    c = read_testdata(spark, sf_dir, "customer")
    n = read_testdata(spark, sf_dir, "nation")
    b = c.groupBy("c_nationkey").agg(
        round_compat(F.percentile("c_acctbal", F.lit(WINSOR_LO)), 4).alias("lo"),
        round_compat(F.percentile("c_acctbal", F.lit(WINSOR_HI)), 4).alias("hi"),
    )
    clipped = F.when(F.col("c_acctbal") < F.col("lo"), F.col("lo")).when(
        F.col("c_acctbal") > F.col("hi"), F.col("hi")
    ).otherwise(F.col("c_acctbal"))
    return (
        c.join(F.broadcast(b), "c_nationkey")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("lo").alias("p05"),
            F.col("hi").alias("p95"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            round_compat(F.avg(clipped), 4).alias("winsorized_mean"),
        )
    )


# --- Incremental aggregate maintenance ------------------------------------
# The materialized-view delta-refresh pattern: a persisted per-key
# aggregate ("base") is combined with the aggregate of newly arrived
# rows ("delta") by re-aggregating the combinable partials — count and
# sum add, avg derives — instead of recomputing over all history. The
# oracle computes the same result directly over the full table, which
# is exactly the IVM correctness contract. Value sums are exact
# integer cents, so merge order cannot move a hash.
IVM_DELTA_MOD = 10


@register(
    "incremental_agg_maintenance",
    f"""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS total_value,
           ROUND(SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0
                 / COUNT(*) * 1e6, 0) / 1e6 AS avg_value
    FROM events
    GROUP BY user_id
    """,
    "incremental aggregate maintenance: a persisted per-user base"
    " aggregate merged with the delta batch's partial aggregate"
    " (counts and exact-cents sums re-add, avg derives) — the"
    " materialized-view refresh that touches only the delta, verified"
    " against the full recompute (the oracle)",
    tags=("agg", "incremental", "scale", "headline"),
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merge is a second groupBy over the union of two partial
    tables — at scale the base side is the stored MV (key-partitioned,
    no rescan of history) and only the delta scans raw data. Partials
    carry (count, cents-sum): both combinable, so re-aggregation is
    exact regardless of how batches were split — pinned by using a
    deterministic event_id split here and the full recompute as the
    oracle."""
    ev = read_testdata(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).alias("cents"),
        )

    base = partial(ev.filter(F.col("event_id") % IVM_DELTA_MOD != 0))
    delta = partial(ev.filter(F.col("event_id") % IVM_DELTA_MOD == 0))
    merged = (
        base.unionByName(delta)
        .groupBy("user_id")
        .agg(F.sum("n").alias("n"), F.sum("cents").alias("cents"))
    )
    return merged.select(
        "user_id",
        F.col("n").cast("bigint").alias("n_events"),
        (F.col("cents") / 100.0).alias("total_value"),
        round_compat(F.col("cents") / 100.0 / F.col("n"), 6).alias("avg_value"),
    )


@register(
    "incremental_agg_retraction",
    f"""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS total_value,
           ROUND(SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0
                 / COUNT(*) * 1e6, 0) / 1e6 AS avg_value
    FROM events WHERE event_id % {IVM_DELTA_MOD} <> 0
    GROUP BY user_id
    """,
    "incremental aggregate maintenance with RETRACTIONS: the stored"
    " per-user view absorbs a delete batch as negated partials"
    " (counts and exact-cents sums subtract), groups whose count"
    " reaches zero drop from the view — the delete/update half of"
    " materialized-view refresh, verified against the direct"
    " aggregate over the surviving rows",
    tags=("agg", "incremental", "cdc", "scale", "headline"),
)
def incremental_agg_retraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The other half of IVM: inserts add partials, deletes SUBTRACT
    them. Count and exact-integer-cents sum are abelian-group
    aggregates (they have inverses), so a retraction batch merges
    through the same re-aggregation as an insert batch with its signs
    flipped — no history rescan, order-independent, and a group is
    dropped exactly when its maintained count hits zero (never
    negative: the delete batch is a subset of history by
    construction). AVG re-derives from the maintained pair. MIN/MAX
    would NOT survive retraction (no inverse) — that boundary is the
    documented reason real IVM systems keep per-group delete-aware
    structures for non-invertible aggregates."""
    ev = read_testdata(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")

    def partial(df: DataFrame, sign: int) -> DataFrame:
        return df.groupBy("user_id").agg(
            (F.lit(sign) * F.count(F.lit(1))).alias("n"),
            (F.lit(sign) * F.sum(cents)).alias("cents"),
        )

    base = partial(ev, 1)  # the stored view: all of history
    deletes = partial(ev.filter(F.col("event_id") % IVM_DELTA_MOD == 0), -1)
    merged = (
        base.unionByName(deletes)
        .groupBy("user_id")
        .agg(F.sum("n").alias("n"), F.sum("cents").alias("cents"))
        .filter(F.col("n") > 0)
    )
    return merged.select(
        "user_id",
        F.col("n").cast("bigint").alias("n_events"),
        (F.col("cents") / 100.0).alias("total_value"),
        round_compat(F.col("cents") / 100.0 / F.col("n"), 6).alias("avg_value"),
    )


Q21_TOP = 25


@register(
    "lone_fault_suppliers",
    f"""
    SELECT CAST(l1.l_suppkey AS BIGINT) AS l_suppkey,
           CAST(COUNT(*) AS BIGINT) AS numwait
    FROM lineitem l1
    WHERE l1.l_returnflag = 'R'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R')
    GROUP BY l1.l_suppkey
    ORDER BY numwait DESC, l1.l_suppkey LIMIT {Q21_TOP}
    """,
    "TPC-H Q21-shaped EXISTS / NOT-EXISTS chain: suppliers whose"
    " returned lineitems sit on multi-supplier orders where NO other"
    " supplier had a return (the lone-fault pattern); oracle keeps the"
    " correlated-subquery form, the Spark plan uses the aggregate"
    f" rewrite; top-{Q21_TOP} by count",
    tags=("relational", "subquery", "headline"),
)
def lone_fault_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic doubly-correlated pattern (TPC-H Q21's shape on
    this schema's columns). The oracle states it with EXISTS and NOT
    EXISTS verbatim; executing correlated subqueries per row is a
    nested loop, so the Spark plan uses the standard aggregate
    rewrite: ONE per-order aggregation computes n_suppliers (distinct
    suppliers on the order) and n_fault_suppliers (distinct suppliers
    with a return), and the two EXISTS conditions collapse to
    ``n_suppliers > 1 AND n_fault_suppliers = 1`` joined back to the
    returned rows — hash-identical to the subquery form. The final
    cut is a TakeOrdered on (count desc, suppkey).

    Shuffle shape (round-8 rewrite, 10.5 s -> ~3 s at sf1): the
    one-pass double countDistinct triggered Expand (x2 fact rows
    shuffled, distinct machinery on both branches) plus a SECOND
    lineitem scan+shuffle for the semi-join side. Instead ONE
    combinable groupBy to the (orderkey, suppkey) grain carries
    n_r (this supplier's returned lines on this order) — distinct
    suppliers become a plain count(*) one level up, fault suppliers
    a count of n_r > 0, and the numwait rows are the persisted
    grain table re-filtered (no second fact scan).

    One-exchange layout (round-10): the grain aggregate is fed by an
    explicit repartition on l_orderkey ALONE — hashpartitioning(ok)
    satisfies the (ok, sk) aggregate's clustering AND every
    per-order op downstream, so the whole chain after the single
    fact shuffle is exchange-free (the natural groupBy(ok, sk)
    partitioning satisfied none of the downstream ops and re-shuffled
    the grain table twice). Map-side combine is sacrificed, but
    (ok, sk) is nearly unique in lineitem so partial aggregation was
    saving almost nothing. sf1 A/B, one warm session, two rounds:
    5.05/3.26 s -> 3.45/1.58 s, rows identical.

    Window fusion (round-12 continuation): the per-order counts used
    to be a second aggregate over a PERSISTED grain table, semi-joined
    back — a cache generation plus a join, three reads of the grain.
    Both counts are per-order window aggregates over the SAME
    hashpartitioning(ok) layout the grain aggregate already has, so
    they fuse into the one chain: no persist, no semi join, one
    in-partition sort (WindowExec's), and the only other exchange is
    the tiny post-filter suppkey rollup. sf1 A/B, one warm session,
    7 alternating rounds under host noise: medians 2.73 s -> 2.38 s
    (minima 1.88 vs 2.05 — a warm wash); kept because the pair
    protocol's cold first run no longer pays the cache
    materialization, and the plan drops a persist generation and a
    join outright. Rows identical."""
    li = read_testdata(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    per_os = (
        li.repartition("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("n_r"))
    )
    w = Window.partitionBy("l_orderkey")
    flagged = per_os.select(
        "l_suppkey",
        "n_r",
        F.count(F.lit(1)).over(w).alias("n_suppliers"),
        F.count(F.when(F.col("n_r") > 0, 1)).over(w).alias(
            "n_fault_suppliers"
        ),
    )
    return (
        flagged.filter(
            (F.col("n_r") > 0)
            & (F.col("n_suppliers") > 1)
            & (F.col("n_fault_suppliers") == 1)
        )
        .groupBy("l_suppkey")
        .agg(F.sum("n_r").cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "l_suppkey")
        .limit(Q21_TOP)
        .select(F.col("l_suppkey").cast("bigint").alias("l_suppkey"), "numwait")
    )


# --- Incremental JOIN maintenance (delta-join algebra) ---------------------
# The third leg of the IVM family (aggregates merge, retractions
# subtract, JOINS expand by the product rule):
#   delta(A join B) = dA join B_old  UNION ALL  A_old join dB
#                     UNION ALL  dA join dB
# so the maintained view is the four-term union — only the delta
# terms scan new data; the base-join term is the stored view. Splits
# are deterministic functions of the keys so both engines carve the
# same base/delta.
IVM_JOIN_ORDER_MOD = 7   # orders with o_orderkey % 7 == 0 are the delta
IVM_JOIN_CUST_MOD = 11   # customers with c_custkey % 11 == 0 are the delta


@register(
    "incremental_join_maintenance",
    f"""
    WITH j AS (
      SELECT c.c_nationkey,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey)
    SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           SUM(cents) / 100.0 AS revenue
    FROM j GROUP BY c_nationkey
    """,
    "incremental JOIN maintenance: the delta-join product rule"
    " (dA><B + A><dB + dA><dB unioned onto the stored base join) —"
    " the view-refresh algebra for joins, verified against the"
    " direct full join (the oracle); exact-cents revenue by nation",
    tags=("join", "incremental", "scale", "headline"),
)
def incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized JOIN views refresh by the product rule, not by
    re-joining history: with A = orders, B = customer split into
    old/delta by deterministic key predicates, the maintained view is
      (A_old >< B_old)   -- the STORED view, no rescan at refresh
      + (dA >< B_old) + (A_old >< dB) + (dA >< dB),
    each term a plain equi-join that only touches a delta on at
    least one side (except the stored first term, which at scale is
    read back from the MV table, not recomputed — recomputed here
    only because the test harness is stateless). The four-term
    UNION ALL must be row-for-row equal to the full join — pinned by
    aggregating it to exact-cents revenue by nation against the
    oracle's direct join. Every join shuffles on the same custkey;
    AQE broadcasts genuinely small delta sides unhinted."""
    o = read_testdata(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    c = read_testdata(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    a_old = o.filter(F.col("o_orderkey") % IVM_JOIN_ORDER_MOD != 0)
    d_a = o.filter(F.col("o_orderkey") % IVM_JOIN_ORDER_MOD == 0)
    b_old = c.filter(F.col("c_custkey") % IVM_JOIN_CUST_MOD != 0)
    d_b = c.filter(F.col("c_custkey") % IVM_JOIN_CUST_MOD == 0)

    def term(orders: DataFrame, custs: DataFrame) -> DataFrame:
        return orders.join(
            custs, orders["o_custkey"] == custs["c_custkey"]
        ).select("c_nationkey", "cents")

    maintained = (
        term(a_old, b_old)
        .unionAll(term(d_a, b_old))
        .unionAll(term(a_old, d_b))
        .unionAll(term(d_a, d_b))
    )
    return maintained.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        (F.sum("cents") / 100.0).alias("revenue"),
    ).select(
        F.col("c_nationkey").cast("bigint").alias("nationkey"),
        "n_orders",
        "revenue",
    )


# --- Partial correlation (controlling for a confounder) --------------------

@register(
    "partial_corr_price_qty",
    """
    WITH s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             corr(l_extendedprice, l_quantity) AS r_xy,
             corr(l_extendedprice, l_discount) AS r_xz,
             corr(l_quantity, l_discount) AS r_yz
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, n,
           ROUND(r_xy * 1e6, 0) / 1e6 AS r_xy_r6,
           CASE WHEN ABS(r_xz) < 1.0 AND ABS(r_yz) < 1.0
                THEN ROUND(((r_xy - r_xz * r_yz)
                       / sqrt((1.0 - r_xz * r_xz)
                              * (1.0 - r_yz * r_yz))) * 1e6, 0) / 1e6
                ELSE NULL END AS partial_r_r6
    FROM s
    """,
    "first-order partial correlation of price and quantity"
    " CONTROLLING for discount: (r_xy - r_xz*r_yz) /"
    " sqrt((1-r_xz^2)(1-r_yz^2)) from the three pairwise"
    " correlations of one grouped pass — the confounder-adjusted"
    " association readout",
    tags=("agg", "stats", "headline"),
)
def partial_corr_price_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does price relate to quantity beyond what discount explains?
    All three pairwise correlations come out of ONE combinable
    grouped pass (each is a corr aggregate — map-side partials, no
    second scan), and the first-order partial-correlation formula is
    a fixed chain of IEEE ops written identically in both engines.
    The native corr aggregates may differ across engines at ~1e-12
    from summation order (the precedent set by
    price_quantity_correlation); the formula keeps that noise orders
    of magnitude below the 1e-6 rounding grain except at |r| -> 1,
    which the degenerate guard pins to NULL on both sides."""
    li = read_testdata(spark, sf_dir, "lineitem")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.corr("l_extendedprice", "l_quantity").alias("r_xy"),
        F.corr("l_extendedprice", "l_discount").alias("r_xz"),
        F.corr("l_quantity", "l_discount").alias("r_yz"),
    )
    partial = (F.col("r_xy") - F.col("r_xz") * F.col("r_yz")) / F.sqrt(
        (F.lit(1.0) - F.col("r_xz") * F.col("r_xz"))
        * (F.lit(1.0) - F.col("r_yz") * F.col("r_yz"))
    )
    return s.select(
        "l_returnflag",
        "n",
        round_compat(F.col("r_xy"), 6).alias("r_xy_r6"),
        F.when(
            (F.abs(F.col("r_xz")) < 1.0) & (F.abs(F.col("r_yz")) < 1.0),
            round_compat(partial, 6),
        ).alias("partial_r_r6"),
    )


# --- Spearman rank correlation (rank-free, integer sufficient stats) -------

@register(
    "spearman_rank_corr",
    """
    WITH li AS (
      SELECT l_returnflag AS flag,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS x,
             CAST(l_quantity AS BIGINT) AS y
      FROM lineitem),
    vx AS (
      SELECT flag, x,
             2 * COALESCE(SUM(t) OVER (PARTITION BY flag ORDER BY x
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + t + 1 AS r2x
      FROM (SELECT flag, x, COUNT(*) AS t FROM li GROUP BY 1, 2)),
    vy AS (
      SELECT flag, y,
             2 * COALESCE(SUM(t) OVER (PARTITION BY flag ORDER BY y
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + t + 1 AS r2y
      FROM (SELECT flag, y, COUNT(*) AS t FROM li GROUP BY 1, 2)),
    ranked AS (
      SELECT li.flag, vx.r2x, vy.r2y
      FROM li JOIN vx ON vx.flag = li.flag AND vx.x = li.x
              JOIN vy ON vy.flag = li.flag AND vy.y = li.y),
    s AS (
      SELECT flag, COUNT(*) AS n,
             SUM(r2x) AS s1, SUM(r2y) AS s2,
             SUM(r2x * r2x) AS s11, SUM(r2y * r2y) AS s22,
             SUM(r2x * r2y) AS s12
      FROM ranked GROUP BY flag),
    f AS (
      SELECT flag, n,
             CAST(n AS DOUBLE) * CAST(s11 AS DOUBLE)
               - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) AS d1,
             CAST(n AS DOUBLE) * CAST(s22 AS DOUBLE)
               - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) AS d2,
             CAST(n AS DOUBLE) * CAST(s12 AS DOUBLE)
               - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE) AS num
      FROM s)
    SELECT flag AS l_returnflag, CAST(n AS BIGINT) AS n,
           CASE WHEN d1 > 0 AND d2 > 0
                THEN ROUND((num / sqrt(d1 * d2)) * 1e6, 0) / 1e6
                ELSE NULL END AS spearman_r6
    FROM f
    """,
    "Spearman rank correlation of price vs quantity per return flag,"
    " computed RANK-FREE: tied average ranks from value-grouped"
    " exclusive cumulative counts (the doubled-rank integers"
    " 2*cb + t + 1), joined back by VALUE key, then Pearson on the"
    " integer rank sums — no per-row rank window ever runs",
    tags=("agg", "stats", "rank-grain-floor", "headline"),
)
def spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monotone association at corpus scale: Spearman is Pearson on
    ranks, and ranks come from the same value tables as
    mann_whitney_u (``ranking.value_ranks``) — per distinct value, the
    doubled tied-average rank 2*cb + t + 1 is an INTEGER, so the
    per-variable rank tables are exact and ranks attach by joining to
    each value's entry (never a per-row rank window, which
    single-tasks each group). Under the window cap a rank table comes
    back broadcast-hinted, so both rank joins are map-side and the
    pair table never shuffles for them. The sufficient sums
    accumulate as exact integers whose WIDTH is dispatched on the
    parquet-footer row count (round 12): int64 while the provable
    moment bound N·(2N+2)² stays under 2^62 (sf0.1: 3.3-4.0 s vs
    4.3-5.5 s decimal, same hash), DECIMAL(38,0) above it — the rank
    products overflow int64 past ~7e5 rows per group (caught by the
    sf1 sweep under ANSI mode), while 38 digits hold to ~3e12
    rows/group and DuckDB's integer sums widen to HUGEINT natively —
    but only the JOINT moment Σ r2x·r2y needs the pair path: the four
    marginal moments Σr2, Σr2² regroup by value (Σ_values t·r2^k,
    identical integers) and aggregate over the value-cardinality rank
    tables instead (round-12 rework; sf1 A/B, one warm session, three
    alternating rounds: five-sum row path 9.05/6.34/6.19 s ->
    joint-only 6.75/5.86/6.03 s, same hash). The closing Pearson
    formula is an identical-order IEEE chain rounded 1e-6 consuming
    identical exact integers, so the row-based oracle twin is
    unchanged. Zero rank variance (all values tied) pins NULL on both
    sides.

    MEASURED FLOOR (round 13, tag ``rank-grain-floor``): three
    structural alternatives bracket the pair-grain plan within noise
    on the regenerated seed — (a) the shuffle-free row path (round 12:
    wash at sf0.1, LOST at sf1), (b) the direct-value-table variant
    (``git show cf696a5:scripts/ab_spearman_r13.py``: 5.2-5.5 s both
    arms, warm alternating, identical rows), (c) the pair-grain shape
    kept here. With l_extendedprice ~unique the pair/value tables are
    ~row-cardinality at sf0.1, so the cost IS the exact tied-rank
    grain: one pair shuffle + one value shuffle per variable + a
    per-flag rank pass is the sufficient-statistics minimum for
    Spearman with ties, not a plan defect. Re-examined on
    ``value_ranks`` (no per-variable count collect, sf0.1 16 -> 10
    jobs): ``scripts/ab.py`` at sf0.1, 4-core host, five alternating
    rounds, old 3.81-4.90 s (median 4.01) vs new 3.38-4.56 s (median
    3.91), identical rows — the floor stands."""
    from aws_etl_global_footprint_network_spark.functions.cache import CacheScope
    from aws_etl_global_footprint_network_spark.functions.ranking import (
        _log_dispatch,
        value_ranks,
    )
    from aws_etl_global_footprint_network_spark.functions.width import (
        INT64_SAFE_BOUND,
        table_num_rows,
    )

    scope = CacheScope("spearman_rank_corr")
    li = read_testdata(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("x"),
        F.col("l_quantity").cast("long").alias("y"),
    )
    # PAIR grain (round-12 continuation rework): every sufficient
    # statistic of Spearman is a function of the (flag, x, y)
    # contingency table — the joint moment is Σ t_xy·r2x·r2y over
    # pairs, the marginals regroup pairs by one coordinate, and n is
    # Σ t_xy. On this corpus the pair table is ~10x smaller than the
    # relation (600k pairs vs 6M rows at sf1: y has 50 distinct
    # values, x ~583k, and x nearly determines the pair set), so ONE
    # raw scan + ONE shuffle builds the persisted pair table and
    # everything downstream — both value tables, the rank joins, and
    # the DECIMAL(38,0) joint moment — runs at pair cardinality
    # instead of row scale (sf1 A/B, one warm session, 4 alternating
    # rounds under host load: 5.67/3.84/4.51/3.88 s ->
    # 4.24/3.54/2.98/3.05 s, same hash). Each value table is the pair
    # table weighted by t_xy, and lineitem's footer bounds both.
    p = scope.persist(
        li.groupBy("flag", "x", "y").agg(F.count(F.lit(1)).alias("txy"))
    )

    # Width dispatch (round 12, the gini/anova pattern): every rank
    # moment here is bounded by N·(2N+2)² — the doubled tied-average
    # rank is <= 2N+1 and Σt = N — with N the parquet-footer row count
    # of lineitem (metadata-only, no job).  Below 2^62 the sums
    # accumulate in int64 (ANSI mode would RAISE, not corrupt, if the
    # proof were ever wrong); above it, or when the footer is
    # unreadable, the exact DECIMAL(38,0) path stands.  Both widths
    # are exact integers, so the closing double chain — and the hash —
    # is width-independent.  sf0.1 (600k rows, 4N³ ≈ 8.6e17) runs
    # narrow; sf1 (6M rows, ≈ 8.6e20) runs wide.
    n_rows = table_num_rows(sf_dir, "lineitem")
    narrow = (
        n_rows is not None
        and n_rows * float(2 * n_rows + 2) ** 2 < INT64_SAFE_BOUND
    )
    # the logged n_rows field carries the MOMENT BOUND N*(2N+2)^2 (the
    # quantity compared against the cap), not a row count; -1 only
    # when the footer was unreadable (n_rows is None — an explicit
    # None test so a legitimately empty table logs bound 0, advisor
    # round 12)
    _log_dispatch(
        "spearman_moment_bound",
        int(n_rows * float(2 * n_rows + 2) ** 2) if n_rows is not None else -1,
        int(INT64_SAFE_BOUND),
        "int64" if narrow else "decimal(38,0)",
    )
    dec = "long" if narrow else "decimal(38,0)"

    def rank_table(col: str, out: str, s1n: str, s11n: str) -> DataFrame:
        """(flag, col, out) with the doubled rank ``out`` and the flag's
        marginal moments Σ t·r2 and Σ t·r2², totals of the rank table."""
        td = F.col("t").cast(dec)
        rd = (2 * F.col("cb") + F.col("t") + 1).cast(dec)
        c = value_ranks(
            p, "flag", col, {"t": F.sum("txy")}, {"cb": "t"}, scope,
            (sf_dir, "lineitem"),
            totals={s1n: td * rd, s11n: td * rd * rd},
            broadcast=True,
        )
        return c.select(
            "flag", col, (2 * F.col("cb") + F.col("t") + 1).alias(out), s1n, s11n
        )

    # Marginal moments off the pair path (round-12 rework): Σr2, Σr2²
    # over ROWS group by VALUE — Σ_values t·r2 and t·r2² are the same
    # exact integers — so they are per-flag totals of the rank tables
    # and ride the rank joins as constants; the pair path keeps only
    # the joint moment Σ t_xy·r2x·r2y (plus the count).
    vx = rank_table("x", "r2x", "s1", "s11")
    vy = rank_table("y", "r2y", "s2", "s22")
    ranked = p.join(vx, ["flag", "x"]).join(vy, ["flag", "y"])
    # Decimal casts happen BEFORE any multiply: no int64 product on
    # the pair path (t_xy·r2x·r2y overflows int64 past ~7e5 rows per
    # group under ANSI mode — caught by the sf1 sweep).
    r2xd, r2yd = F.col("r2x").cast(dec), F.col("r2y").cast(dec)
    txyd = F.col("txy").cast(dec)
    s = ranked.groupBy("flag").agg(
        F.sum("txy").cast("bigint").alias("n"),
        F.sum(txyd * r2xd * r2yd).alias("s12"),
        *[F.max(m).alias(m) for m in ("s1", "s11", "s2", "s22")],
    )
    nd = F.col("n").cast("double")
    s1d, s2d = F.col("s1").cast("double"), F.col("s2").cast("double")
    d1 = nd * F.col("s11").cast("double") - s1d * s1d
    d2 = nd * F.col("s22").cast("double") - s2d * s2d
    num = nd * F.col("s12").cast("double") - s1d * s2d
    return s.select(
        F.col("flag").alias("l_returnflag"),
        F.col("n").cast("bigint").alias("n"),
        F.when(
            (d1 > 0) & (d2 > 0),
            round_compat(num / F.sqrt(d1 * d2), 6),
        ).alias("spearman_r6"),
    )
