"""Advanced relational surface: scalar subqueries, exact percentiles,
math/array scalar functions, and SCD2/MERGE emulation (SURVEY §2.11 ★
categories + guide's CDC pattern)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_etl_global_footprint_network_spark.functions.compat import round_compat
from aws_etl_global_footprint_network_spark.registry import register
from aws_etl_global_footprint_network_spark.sources.readers import read_testdata


@register(
    "acctbal_vs_global_avg",
    """
    SELECT c_custkey,
           ROUND(c_acctbal - (SELECT AVG(c_acctbal) FROM customer), 4) AS diff
    FROM customer WHERE c_custkey <= 300
    """,
    "uncorrelated scalar subquery (global-average centering)",
    tags=("subquery",),
)
def acctbal_vs_global_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built with a cross-joined 1-row aggregate — the plan Spark
    produces for a scalar subquery (broadcast of a single row)."""
    c = read_testdata(spark, sf_dir, "customer")
    avg = c.agg(F.avg("c_acctbal").alias("_avg"))
    return (
        c.filter(F.col("c_custkey") <= 300)
        .crossJoin(F.broadcast(avg))
        .select(
            "c_custkey",
            round_compat(F.col("c_acctbal") - F.col("_avg"), 4).alias("diff"),
        )
    )


@register(
    "price_percentiles_per_brand",
    """
    SELECT p_brand,
           ROUND(quantile_cont(p_retailprice, 0.25), 4) AS p25,
           ROUND(quantile_cont(p_retailprice, 0.5), 4)  AS p50,
           ROUND(quantile_cont(p_retailprice, 0.75), 4) AS p75,
           COUNT(*) AS n
    FROM part GROUP BY p_brand
    """,
    "exact continuous percentiles per group",
    tags=("agg", "percentile"),
)
def price_percentiles_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentile needs the group's values together — fine per
    brand; for a single global percentile over 100 TB you'd switch to
    percentile_approx (bounded memory sketch, see
    approx_distinct_parts)."""
    p = read_testdata(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(
        round_compat(F.percentile("p_retailprice", F.lit(0.25)), 4).alias("p25"),
        round_compat(F.percentile("p_retailprice", F.lit(0.5)), 4).alias("p50"),
        round_compat(F.percentile("p_retailprice", F.lit(0.75)), 4).alias("p75"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "math_scalar_funcs",
    """
    SELECT l_orderkey, l_linenumber,
           ROUND(abs(l_extendedprice - 1000), 6)          AS abs_diff,
           CAST(ceil(l_quantity) AS BIGINT)               AS qty_ceil,
           CAST(floor(l_tax * 100) AS BIGINT)             AS tax_floor,
           ROUND(sqrt(l_extendedprice), 6)                AS price_sqrt,
           ROUND(pow(1 + l_discount, 2), 6)               AS disc_sq,
           CAST(sign(l_discount - 0.05) AS DOUBLE)        AS disc_sign,
           CAST(l_orderkey % 97 AS BIGINT)                AS key_mod
    FROM lineitem WHERE l_orderkey <= 500
    """,
    "math scalar functions (abs/ceil/floor/sqrt/pow/sign/mod)",
    tags=("projection", "math"),
)
def math_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_testdata(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_orderkey") <= 500).select(
        "l_orderkey",
        "l_linenumber",
        round_compat(F.abs(F.col("l_extendedprice") - 1000), 6).alias("abs_diff"),
        F.ceil("l_quantity").cast("bigint").alias("qty_ceil"),
        F.floor(F.col("l_tax") * 100).cast("bigint").alias("tax_floor"),
        round_compat(F.sqrt("l_extendedprice"), 6).alias("price_sqrt"),
        round_compat(F.pow(F.lit(1) + F.col("l_discount"), 2), 6).alias("disc_sq"),
        F.signum(F.col("l_discount") - 0.05).cast("double").alias("disc_sign"),
        (F.col("l_orderkey") % 97).cast("bigint").alias("key_mod"),
    )


@register(
    "array_functions_embeddings",
    """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
               WHERE vec_id < 100)
    SELECT vec_id,
           CAST(len(e) AS INT)                    AS dim,
           e[1]                                   AS first_el,
           e[len(e)]                              AS last_el,
           list_min(e)                            AS min_el,
           list_max(e)                            AS max_el,
           ROUND(list_sum(e) / len(e), 6)         AS mean_el,
           list_sort(e)[1]                        AS small1,
           list_sort(e)[2]                        AS small2,
           list_sort(e)[3]                        AS small3
    FROM v
    """,
    "array scalar functions (size/index/min/max/mean/sort/slice);"
    " slice emitted as scalar columns so the hash gate (pandas"
    " canonicalizer) never sees an array cell",
    tags=("projection", "array"),
)
def array_functions_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_testdata(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    e = F.col("embedding").cast("array<double>")
    base = emb.select("vec_id", e.alias("e"))
    mean = F.aggregate("e", F.lit(0.0), lambda a, x: a + x) / F.size("e")
    sorted_e = F.array_sort("e")
    return base.select(
        "vec_id",
        F.size("e").cast("int").alias("dim"),
        F.element_at("e", 1).alias("first_el"),
        F.element_at("e", F.size("e")).alias("last_el"),
        F.array_min("e").alias("min_el"),
        F.array_max("e").alias("max_el"),
        round_compat(mean, 6).alias("mean_el"),
        F.element_at(sorted_e, 1).alias("small1"),
        F.element_at(sorted_e, 2).alias("small2"),
        F.element_at(sorted_e, 3).alias("small3"),
    )


@register(
    "scd2_merge_emulation",
    """
    WITH updates AS (
      SELECT c_custkey, c_name, ROUND(c_acctbal + 1000, 2) AS c_acctbal
      FROM customer WHERE c_custkey % 10 = 0)
    SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS c_acctbal,
           FALSE AS was_updated
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.c_custkey = c.c_custkey)
    UNION ALL
    SELECT c_custkey, c_name, c_acctbal, TRUE AS was_updated FROM updates
    """,
    "MERGE/upsert emulation without Delta: anti-join unchanged rows +"
    " union updates (the CDC pattern)",
    tags=("merge", "etl"),
)
def scd2_merge_emulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Without a transactional table format, MERGE INTO = anti-join
    the target against the update keys, union the updates, rewrite.
    With Delta/Iceberg on the cluster this whole operator collapses
    to one MERGE statement (connector stub, see sources docs)."""
    c = read_testdata(spark, sf_dir, "customer")
    updates = c.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        "c_name",
        round_compat(F.col("c_acctbal") + 1000, 2).alias("c_acctbal"),
    )
    unchanged = c.join(updates.select("c_custkey"), "c_custkey", "left_anti").select(
        "c_custkey",
        "c_name",
        round_compat("c_acctbal", 2).alias("c_acctbal"),
    )
    return unchanged.withColumn("was_updated", F.lit(False)).unionByName(
        updates.withColumn("was_updated", F.lit(True))
    )


@register(
    "incremental_upsert_partition",
    """
    WITH base AS (
      SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS yr,
             ROUND(o_totalprice * 100, 0) / 100 AS p
      FROM orders),
    my AS (SELECT MAX(yr) AS y FROM base)
    SELECT o_orderkey, yr,
           ROUND((CASE WHEN yr = (SELECT y FROM my)
                       THEN ROUND((p + 1) * 100, 0) / 100
                       ELSE p END) * 100, 0) / 100 AS o_totalprice
    FROM base
    """,
    "partition-level incremental upsert: physical dynamic-partition"
    " overwrite of the latest year, applied twice to prove idempotency;"
    " oracle states the merged result declaratively",
    tags=("merge", "etl"),
)
def incremental_upsert_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physically exercises operators.ingestion.upsert_partitions: full
    load of orders partitioned by year, then a +1-price update for the
    max year upserted TWICE (the second run must change nothing), then
    the table read back. Only the max-year partition is rewritten —
    the drawio event-driven per-year refresh. The single collect() is
    a 1-row scalar (max year), the same bounded pattern as the
    reference's verification queries."""
    from aws_etl_global_footprint_network_spark.operators.ingestion import (
        drop_table_and_location,
        upsert_partitions,
    )

    o = read_testdata(spark, sf_dir, "orders").select(
        "o_orderkey",
        round_compat("o_totalprice", 2).alias("o_totalprice"),
        F.year("o_orderdate").cast("int").alias("yr"),
    )
    table = "orders_upsert_demo"
    drop_table_and_location(spark, table)
    o.write.partitionBy("yr").format("parquet").saveAsTable(table)
    max_yr = o.agg(F.max("yr")).collect()[0][0]
    updates = o.filter(F.col("yr") == max_yr).withColumn(
        "o_totalprice", round_compat(F.col("o_totalprice") + 1, 2)
    )
    upsert_partitions(updates, table, "yr")
    upsert_partitions(updates, table, "yr")  # idempotent re-run
    return spark.table(table).select(
        "o_orderkey", "yr", round_compat("o_totalprice", 2).alias("o_totalprice")
    )


@register(
    "events_json_path",
    """
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS INT) AS k_int
    FROM events WHERE event_id < 300
    """,
    "JSON path extraction from a string column",
    tags=("projection", "json"),
)
def events_json_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_testdata(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return ev.filter(F.col("event_id") < 300).select(
        "event_id",
        k.alias("k_str"),
        k.cast("int").alias("k_int"),
    )


@register(
    "parts_at_brand_max_price",
    """
    SELECT p_partkey, p_brand, p_retailprice
    FROM part p
    WHERE p_retailprice = (SELECT MAX(p2.p_retailprice) FROM part p2
                           WHERE p2.p_brand = p.p_brand)
    """,
    "correlated scalar subquery (per-group max membership)",
    tags=("subquery",),
)
def parts_at_brand_max_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalyst de-correlates this into an aggregate + join — the same
    plan the window formulation produces, pinned in SQL form here."""
    read_testdata(spark, sf_dir, "part").createOrReplaceTempView("part_corr")
    return spark.sql(
        """
        SELECT p_partkey, p_brand, p_retailprice
        FROM part_corr p
        WHERE p_retailprice = (SELECT MAX(p2.p_retailprice) FROM part_corr p2
                               WHERE p2.p_brand = p.p_brand)
        """
    )


@register(
    "table_profile_orders",
    """
    SELECT COUNT(*) AS n_rows,
           CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) AS custkey_nulls,
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS status_card,
           ROUND(MIN(o_totalprice) * 100, 0) / 100 AS min_price,
           ROUND(MAX(o_totalprice) * 100, 0) / 100 AS max_price,
           CAST(MIN(o_orderdate) AS DATE) AS first_order,
           CAST(MAX(o_orderdate) AS DATE) AS last_order
    FROM orders
    """,
    "one-pass table profile (the reference's EDA/run_checks idiom"
    " generalised: nulls, cardinality, ranges)",
    tags=("checks", "agg"),
)
def table_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_testdata(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("o_custkey")).alias("custkey_nulls"),
        F.countDistinct("o_orderstatus").alias("status_card"),
        round_compat(F.min("o_totalprice"), 2).alias("min_price"),
        round_compat(F.max("o_totalprice"), 2).alias("max_price"),
        F.min(F.col("o_orderdate").cast("date")).alias("first_order"),
        F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
    )


@register(
    "merge_rowlevel_cow",
    """
    WITH base AS (
      SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS yr,
             ROUND(o_totalprice * 100, 0) / 100 AS p
      FROM orders),
    ty AS (SELECT MAX(yr) - 1 AS y FROM base),
    upd AS (
      SELECT o_orderkey, yr, ROUND((p + 5) * 100, 0) / 100 AS p
      FROM base, ty WHERE yr = y AND o_orderkey % 10 = 0),
    ins AS (
      SELECT o_orderkey + 10000000 AS o_orderkey, yr, 99.99 AS p
      FROM base, ty WHERE yr = y AND o_orderkey % 100 = 0),
    tgt AS (
      SELECT * FROM base
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd))
    SELECT o_orderkey, yr, p AS o_totalprice FROM tgt
    UNION ALL SELECT o_orderkey, yr, p FROM upd
    UNION ALL SELECT o_orderkey, yr, p FROM ins
    """,
    "row-level copy-on-write MERGE: update every 10th order of the"
    " second-newest year, insert new keys, preserve unmatched rows in"
    " the rewritten partition; applied twice (idempotent); only the"
    " touched partition's files are rewritten",
    # physical-write-floor: steady state is one full-table write + two
    # single-partition rewrites + the audit read-back (docstring A/B)
    # — the oracle states the merged RESULT declaratively and pays no
    # I/O, so the ratio prices physical writes the plan cannot remove
    tags=("merge", "etl", "physical-write-floor"),
)
def merge_rowlevel_cow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physically exercises operators.ingestion.merge_rowlevel: full
    load of orders partitioned by year, then one update batch (updates
    + inserts into the second-newest year) merged TWICE — the second
    run must rewrite identical bytes. Distinct from
    incremental_upsert_partition (which replaces whole partitions):
    here unmatched rows inside the touched partition survive, which is
    the row-level MERGE contract.

    Job shape (round-9 verdict item 7): the update BATCH and the
    in-year slice it derives from are persisted — each merge
    references the batch twice (touched-partition collect + the
    anti-join union) and the batch references the slice twice
    (updates + inserts), so the unpersisted form re-derived the full
    orders projection four times across the two merges. Lineage
    stays SOURCE-derived on purpose: deriving the batch from the
    written table would re-read already-merged rows if a lost cache
    block ever forced recompute between the two merges (+5 applied
    twice — silent corruption on a cluster); from the source parquet,
    recompute is always idempotent. The remaining floor is genuinely
    write-inclusive — one full-table write + two single-partition
    rewrites + the final audit read-back dominate. sf1 A/B, one warm
    session, three alternating rounds: unpersisted 6.34/3.67/3.01 s
    -> persisted 3.95/3.21/2.99 s, rows identical — the persist
    removes the re-derivation spikes, and the ~3 s steady state on
    both sides is the physical write volume, not plan work."""
    from aws_etl_global_footprint_network_spark.functions.cache import (
        CacheScope,
    )
    from aws_etl_global_footprint_network_spark.operators.ingestion import (
        drop_table_and_location,
        merge_rowlevel,
    )

    scope = CacheScope("merge_rowlevel_cow")
    o = read_testdata(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("yr"),
        round_compat("o_totalprice", 2).alias("o_totalprice"),
    )
    table = "orders_merge_cow_demo"
    drop_table_and_location(spark, table)
    o.write.partitionBy("yr").format("parquet").saveAsTable(table)
    # max over the PARTITION column of the written table is
    # metadata-only (partition listing, no data scan)
    target_yr = spark.table(table).agg(F.max("yr") - 1).collect()[0][0]
    in_year = scope.persist(o.filter(F.col("yr") == target_yr))
    updates = in_year.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_totalprice", round_compat(F.col("o_totalprice") + 5, 2)
    )
    inserts = in_year.filter(F.col("o_orderkey") % 100 == 0).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "yr",
        F.lit(99.99).alias("o_totalprice"),
    )
    batch = scope.persist(updates.unionByName(inserts))
    merge_rowlevel(batch, table, "o_orderkey", "yr")
    merge_rowlevel(batch, table, "o_orderkey", "yr")  # idempotent re-run
    return spark.table(table).select(
        "o_orderkey", "yr", round_compat("o_totalprice", 2).alias("o_totalprice")
    )


# SCD2 dimension: every 10th customer gets a second version with
# acctbal+1000 effective at this boundary; the lookup must pick the
# version valid at each order's date.
SCD2_BOUNDARY = "1998-01-01"


@register(
    "scd2_lookup_join",
    f"""
    SELECT o.o_orderkey, o.o_custkey,
           CAST(o.o_orderdate AS DATE) AS o_orderdate,
           ROUND((CASE WHEN o.o_custkey % 10 = 0
                        AND o.o_orderdate >= TIMESTAMP '{SCD2_BOUNDARY}'
                       THEN c.c_acctbal + 1000 ELSE c.c_acctbal END)
                 * 100, 0) / 100 AS acctbal_at_order
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    "SCD2 point-in-time dimension lookup: each order joined to the"
    " customer version valid AT ITS ORDER DATE (every 10th customer"
    " has a second version effective 1998-01-01) — the"
    " slowly-changing-dimension temporal join every warehouse fact"
    " load runs; oracle computes the validity directly from the"
    " version rule",
    tags=("join", "asof", "etl"),
)
def scd2_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark side runs the REAL machinery — an as-of join of facts
    against the version table on (custkey, valid_from <= orderdate) —
    while the oracle, knowing the synthetic version rule, states the
    correct answer in one CASE. When validity intervals partition time
    (they do, by construction of SCD2), as-of on valid_from IS the
    BETWEEN-join, with one shuffle and no interval explosion. The
    version table is built deterministically from customer: v1 at
    -inf (epoch), v2 at the boundary for custkey % 10 = 0."""
    from aws_etl_global_footprint_network_spark.operators.temporal import asof_join

    o = read_testdata(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    c = read_testdata(spark, sf_dir, "customer")
    v1 = c.select(
        F.col("c_custkey").alias("o_custkey"),
        F.lit("1970-01-01").cast("timestamp").alias("valid_from"),
        F.col("c_acctbal").alias("acctbal"),
    )
    v2 = c.filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("o_custkey"),
        F.lit(SCD2_BOUNDARY).cast("timestamp").alias("valid_from"),
        (F.col("c_acctbal") + 1000).alias("acctbal"),
    )
    versions = v1.unionByName(v2)
    joined = asof_join(
        o,
        versions,
        on=["o_custkey"],
        left_ts="o_orderdate",
        right_ts="valid_from",
        right_values=["acctbal"],
    )
    return joined.select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
        round_compat("acctbal", 2).alias("acctbal_at_order"),
    )


@register(
    "variant_props_aggregate",
    """
    WITH v AS (
      SELECT event_id,
             CAST(json_extract_string(props, '$.k') AS INT) AS k,
             json_extract_string(props, '$.missing') AS missing
      FROM events)
    SELECT CAST(k % 10 AS BIGINT) AS k_mod,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           CAST(SUM(CASE WHEN missing IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_missing
    FROM v GROUP BY k % 10
    """,
    "semi-structured ingestion through the VARIANT type (Spark 4):"
    " parse_json -> variant_get typed extraction + try_variant_get"
    " missing-path NULL contract, aggregated by extracted key",
    tags=("projection", "json", "variant", "json-parse-floor", "headline"),
)
def variant_props_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark-4-native path for semi-structured columns: VARIANT
    parses once into a binary-encoded tree (vs per-path string
    re-parsing with get_json_object), typed extraction happens
    JVM-side, and shredding pushes down into the scan when the source
    is a VARIANT parquet column. try_variant_get on an absent path
    yields NULL — pinned against the oracle's json_extract_string
    NULL — so schema drift in the props payload degrades softly
    instead of failing the pipeline.

    Perf floor (round-12 A/B, ``git show
    cf696a5:scripts/ab_variant_parse.py``, one warm sf1 session,
    alternating reps): VARIANT 2.9/3.3 s, from_json with
    an explicit schema 2.5/2.7 s, get_json_object x2 paths 4.4/5.7 s,
    vs the DuckDB oracle's yyjson ~0.3 s.  The gap to the oracle is
    Spark's row-wise JSON parse machinery, not this plan: the chosen
    VARIANT path is within ~15% of the best Spark alternative and is
    the feature this query exists to demonstrate (the `json-parse-
    floor` tag surfaces that in the bench sidecar's query_flags).  At
    100 TB the answer is shredded VARIANT parquet (parse once at
    ingest, extraction pushes to the scan), not a faster re-parse."""
    ev = read_testdata(spark, sf_dir, "events")
    # parse ONCE into a variant column, then extract — two
    # variant_get expressions over parse_json(props) would each
    # re-parse the payload per row (no CSE across them)
    parsed = ev.select(F.parse_json("props").alias("v"))
    k = F.variant_get("v", "$.k", "int")
    missing = F.try_variant_get("v", "$.missing", "string")
    return (
        parsed.select(k.alias("k"), missing.alias("missing"))
        .groupBy((F.col("k") % 10).cast("bigint").alias("k_mod"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.sum(F.when(F.col("missing").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_missing"),
        )
    )


# --------------------------------------------------------------------
# MAP-type function suite (map_from_entries / map_filter / explode)
# --------------------------------------------------------------------

# Per-(user, type) counts average ~13 at EVERY scale factor (events
# and users scale together), so a threshold above the mean keeps the
# map_filter genuinely selective at all scales.
MAP_MIN_COUNT = 14


@register(
    "map_functions_suite",
    f"""
    WITH counts AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY user_id, event_type)
    SELECT CAST(user_id AS BIGINT) AS user_id, event_type, n
    FROM counts WHERE n >= {MAP_MIN_COUNT}
    """,
    "MAP-type surface suite: per-user event-type counts assembled"
    " into a map column (map_from_entries over collected structs),"
    f" thresholded with a map_filter lambda (n >= {MAP_MIN_COUNT}),"
    " exploded back to rows — the oracle checks the identical"
    " relation computed map-free, so the MAP round-trip must be"
    " lossless",
    tags=("functions", "map", "agg", "headline"),
)
def map_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exercises Spark's MAP column type end-to-end on real data:
    (1) map CONSTRUCTION — ``map_from_entries`` over per-user
    collected (type, count) structs (collect_list order is
    nondeterministic, which is exactly why a map is the right
    container: the exploded result is order-free); (2) map
    TRANSFORMATION — a ``map_filter`` lambda keeps entries at or
    above the count threshold; (3) map CONSUMPTION — ``explode``
    back to (key, value) rows. The DuckDB oracle computes the same
    final relation with a plain filtered groupBy, so any loss or
    duplication in the map round-trip breaks the hash. Keys per map
    are bounded by |event_types| (single digits), so collect_list
    here is per-GROUP bounded state, not a corpus collect; the whole
    plan is two shuffles on the same user_id key."""
    counts = (
        read_testdata(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    mapped = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "n"))
        ).alias("m")
    )
    filtered = mapped.select(
        "user_id",
        F.map_filter("m", lambda k, v: v >= MAP_MIN_COUNT).alias("m"),
    )
    return filtered.select(
        "user_id", F.explode("m").alias("event_type", "n")
    ).select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "event_type",
        F.col("n").cast("bigint").alias("n"),
    )
