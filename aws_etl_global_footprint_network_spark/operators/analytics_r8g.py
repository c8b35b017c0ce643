"""Round-8 batch-11 operators ([EXT]): entity-resolution clusters
(blocking -> verified pairs -> transitive closure -> canonical ids),
the Qini uplift-by-decile curve, GDPR deletion impact analysis, and
the graph degree distribution in log bins.

House rules: exact integer sufficient statistics, bounded windows
only, hint-free joins, one rounded float close mirrored in the
oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_etl_global_footprint_network_spark.functions.compat import round_compat
from aws_etl_global_footprint_network_spark.functions.hashing import md5_hash60_sql
from aws_etl_global_footprint_network_spark.registry import register
from aws_etl_global_footprint_network_spark.sources.readers import read_testdata

# --------------------------------------------------------------------
# Entity resolution: fuzzy pairs -> connected components -> entities
# --------------------------------------------------------------------

ER_TOP = 25


def _er_pairs_oracle() -> str:
    # the fuzzy_name_pairs ground-truth formulation: direct pairwise
    # levenshtein over the bounded distinct-name vocabulary
    return """
      SELECT a.p_name AS name_a, b.p_name AS name_b
      FROM (SELECT DISTINCT p_name FROM part) a
      JOIN (SELECT DISTINCT p_name FROM part) b
        ON b.p_name > a.p_name
      WHERE levenshtein(a.p_name, b.p_name) <= 1
    """


@register(
    "entity_resolution_clusters",
    f"""
    WITH RECURSIVE
    pairs AS ({_er_pairs_oracle()}),
    edges AS (
      SELECT name_a AS u, name_b AS v FROM pairs
      UNION
      SELECT name_b AS u, name_a AS v FROM pairs),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
        WHERE e.v <> r.u),
    ent AS (
      SELECT u AS name, LEAST(u, MIN(v)) AS canonical
      FROM reach GROUP BY u)
    SELECT canonical, CAST(COUNT(*) AS BIGINT) AS n_members
    FROM ent GROUP BY canonical
    ORDER BY n_members DESC, canonical LIMIT {ER_TOP}
    """,
    "entity resolution end-to-end: SymSpell deletion blocking ->"
    " exact levenshtein verify -> transitive closure (connected"
    " components) -> canonical entity per cluster — the record-"
    " linkage pipeline composed from the repo's fuzzy-pair and"
    f" components kernels; multi-member entities top-{ER_TOP}",
    tags=("dedup", "mlprep", "iterative", "graph", "headline"),
)
def entity_resolution_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage is pair detection + CLUSTERING + survivorship:
    A~B and B~C must resolve to ONE entity even when A~C fails the
    edit-distance test. Reuses the registered kernels end-to-end —
    fuzzy_name_pairs (deletion-variant blocking, never all-pairs) for
    the verified edge set, connected_components (bounded-round
    min-label Pregel with lineage cuts) for the closure — and closes
    with the canonical (minimum) name per entity. The oracle states
    the pipeline independently: direct pairwise levenshtein over the
    bounded name vocabulary + a recursive-CTE transitive closure
    (the dedup_clusters precedent). String node ids are supported by
    the components kernel as-is."""
    from aws_etl_global_footprint_network_spark.operators.join_accel import (
        fuzzy_name_pairs,
    )
    from aws_etl_global_footprint_network_spark.operators.ml_prep import (
        connected_components,
    )

    pairs = fuzzy_name_pairs(spark, sf_dir).select(
        F.col("name_a").alias("u"), F.col("name_b").alias("v")
    )
    ent = connected_components(pairs)
    return (
        ent.groupBy(F.col("cluster_id").alias("canonical"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
        .orderBy(F.col("n_members").desc(), "canonical")
        .limit(ER_TOP)
    )


# --------------------------------------------------------------------
# Qini uplift-by-decile curve (the eval for incrementality targeting)
# --------------------------------------------------------------------

UPLIFT_BINS = 10
_H60_USER = md5_hash60_sql("('ab|' || user_id::VARCHAR)")
_AB_WINDOW_US = 7 * 24 * 3600 * 1_000_000  # the A/B op's 7-day window


@register(
    "qini_uplift_by_bin",
    f"""
    WITH u AS (
      SELECT user_id,
             CAST({_H60_USER} % 2 AS INT) AS treated,
             SUM(CASE WHEN value IS NOT NULL
                      THEN CAST(ROUND(value * 100) AS BIGINT)
                      ELSE 0 END) AS spend,
             CASE WHEN MIN(CASE WHEN event_type = 'purchase'
                               THEN epoch_us(ts) END)
                       <= MIN(epoch_us(ts)) + {_AB_WINDOW_US}
                  THEN 1 ELSE 0 END AS converted
      FROM events GROUP BY user_id),
    mm AS (SELECT MIN(spend) AS mn, MAX(spend) AS mx FROM u),
    b AS (
      SELECT CAST(((spend - mn) * {UPLIFT_BINS}) // (mx - mn + 1)
                  AS BIGINT) AS bin,
             treated, converted
      FROM u CROSS JOIN mm),
    g AS (
      SELECT bin,
             CAST(SUM(treated) AS BIGINT) AS n_t,
             CAST(SUM(treated * converted) AS BIGINT) AS conv_t,
             CAST(SUM(1 - treated) AS BIGINT) AS n_c,
             CAST(SUM((1 - treated) * converted) AS BIGINT) AS conv_c
      FROM b GROUP BY bin),
    c AS (
      SELECT bin, n_t, conv_t, n_c, conv_c,
             SUM(n_t) OVER w AS cnt, SUM(conv_t) OVER w AS cct,
             SUM(n_c) OVER w AS cnc, SUM(conv_c) OVER w AS ccc
      FROM g WINDOW w AS (ORDER BY bin DESC
                          ROWS UNBOUNDED PRECEDING))
    SELECT bin, n_t, conv_t, n_c, conv_c,
           CASE WHEN n_t > 0 AND n_c > 0
                THEN ROUND((conv_t * 1.0 / n_t - conv_c * 1.0 / n_c)
                           * 1e6, 0) / 1e6 END AS uplift_r6,
           CASE WHEN cnc > 0
                THEN ROUND((cct - ccc * 1.0 * cnt / cnc) * 1e4, 0) / 1e4
           END AS qini_r4
    FROM c ORDER BY bin DESC
    """,
    "Qini uplift curve: users bucketed by total spend (the targeting"
    " score), per-bin treated-vs-control conversion uplift and the"
    " cumulative Qini statistic (incremental conversions vs a"
    " scaled control) walking DOWN the score — the standard eval"
    " for incrementality targeting, on the A/B op's salted split"
    " and 7-day conversion window",
    tags=("diagnostics", "analytics", "mlprep", "headline"),
)
def qini_uplift_by_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ATE answers 'does the treatment work on average'; uplift
    targeting asks WHO to treat — the Qini curve walks the
    score-ranked population from the top and accumulates incremental
    conversions (treated conversions minus control conversions
    scaled to the treated exposure). One corpus pass to the user
    grain (same conversion rule as ab_test_conversion, same salted
    split), exact integer-DIV score bins, and the cumulative close
    runs on the bounded {UPLIFT_BINS}-row bin table (the
    stump_split_gain bounded-window precedent). Degenerate arms pin
    NULL on both engines."""
    e = read_testdata(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("value").isNotNull(),
                F.round(F.col("value") * 100, 0).cast("long"),
            ).otherwise(0)
        ).alias("spend"),
        F.when(
            F.min(
                F.when(
                    F.col("event_type") == "purchase",
                    F.unix_micros("ts"),
                )
            )
            <= F.min(F.unix_micros("ts")) + F.lit(_AB_WINDOW_US),
            1,
        )
        .otherwise(0)
        .alias("converted"),
    )
    from aws_etl_global_footprint_network_spark.operators.analytics_r8c import (
        _variant,
    )

    u = u.select(_variant("user_id").alias("treated"), "spend", "converted")
    mm = u.agg(F.min("spend").alias("mn"), F.max("spend").alias("mx"))
    b = u.crossJoin(F.broadcast(mm)).select(
        F.expr(
            f"CAST(((spend - mn) * {UPLIFT_BINS}) DIV (mx - mn + 1)"
            " AS BIGINT)"
        ).alias("bin"),
        "treated",
        "converted",
    )
    g = b.groupBy("bin").agg(
        F.sum("treated").cast("bigint").alias("n_t"),
        F.sum(F.col("treated") * F.col("converted"))
        .cast("bigint")
        .alias("conv_t"),
        F.sum(1 - F.col("treated")).cast("bigint").alias("n_c"),
        F.sum((1 - F.col("treated")) * F.col("converted"))
        .cast("bigint")
        .alias("conv_c"),
    )
    # bounded cumulative close: <= UPLIFT_BINS rows by construction
    w = Window.orderBy(F.col("bin").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = g.select(
        "bin",
        "n_t",
        "conv_t",
        "n_c",
        "conv_c",
        F.sum("n_t").over(w).alias("cnt"),
        F.sum("conv_t").over(w).alias("cct"),
        F.sum("n_c").over(w).alias("cnc"),
        F.sum("conv_c").over(w).alias("ccc"),
    )
    return c.select(
        "bin",
        "n_t",
        "conv_t",
        "n_c",
        "conv_c",
        F.when(
            (F.col("n_t") > 0) & (F.col("n_c") > 0),
            round_compat(
                F.col("conv_t") * 1.0 / F.col("n_t")
                - F.col("conv_c") * 1.0 / F.col("n_c"),
                6,
            ),
        ).alias("uplift_r6"),
        F.when(
            F.col("cnc") > 0,
            round_compat(
                F.col("cct")
                - F.col("ccc") * 1.0 * F.col("cnt") / F.col("cnc"),
                4,
            ),
        ).alias("qini_r4"),
    ).orderBy(F.col("bin").desc())


# --------------------------------------------------------------------
# GDPR deletion impact (right-to-be-forgotten cascade audit)
# --------------------------------------------------------------------

GDPR_MOD = 97  # deterministic ~1% forget-set: c_custkey % 97 == 0


@register(
    "gdpr_delete_impact",
    f"""
    WITH forget AS (
      SELECT c_custkey FROM customer WHERE c_custkey % {GDPR_MOD} = 0),
    del_orders AS (
      SELECT o_orderkey FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM forget)),
    rows AS (
      SELECT 'customer' AS table_name,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS n_rows,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM forget) AS n_deleted
      UNION ALL
      SELECT 'orders',
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
             (SELECT CAST(COUNT(*) AS BIGINT) FROM del_orders)
      UNION ALL
      SELECT 'lineitem',
             (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
             (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
              WHERE l_orderkey IN (SELECT o_orderkey FROM del_orders)))
    SELECT table_name, n_rows, n_deleted,
           CAST(n_rows - n_deleted AS BIGINT) AS n_remaining,
           ROUND(n_deleted * 1.0 / n_rows * 1e6, 0) / 1e6
             AS deleted_share_r6
    FROM rows ORDER BY table_name
    """,
    "GDPR right-to-be-forgotten impact audit: a deterministic ~1%"
    " customer forget-set cascaded through the foreign-key chain"
    " (customer -> orders -> lineitem via semi joins), per-table"
    " deleted / remaining counts and shares — the blast-radius"
    " report every deletion pipeline runs before executing",
    tags=("governance", "relational", "headline"),
)
def gdpr_delete_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion compliance is a CASCADE problem: forgetting a
    customer must take their orders and those orders' lineitems.
    The cascade is two LEFT SEMI joins down the foreign-key chain
    (each one keyed, hint-free — at 100 TB the forget-set side is
    the small one and AQE broadcasts it), and the report is three
    count pairs unioned into the per-table blast-radius table. The
    forget-set predicate is deterministic (key modulus) so both
    engines audit the identical deletion."""
    c = read_testdata(spark, sf_dir, "customer").select("c_custkey")
    o = read_testdata(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey"
    )
    li = read_testdata(spark, sf_dir, "lineitem").select("l_orderkey")
    forget = c.filter(F.col("c_custkey") % GDPR_MOD == 0)
    del_orders = o.join(
        forget, o.o_custkey == forget.c_custkey, "left_semi"
    ).select("o_orderkey")
    del_li = li.join(
        del_orders, li.l_orderkey == del_orders.o_orderkey, "left_semi"
    )

    def row(name: str, total: DataFrame, deleted: DataFrame) -> DataFrame:
        t = total.agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        d = deleted.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_deleted")
        )
        return (
            t.crossJoin(F.broadcast(d))
            .select(
                F.lit(name).alias("table_name"), "n_rows", "n_deleted"
            )
        )

    rows = (
        row("customer", c, forget)
        .unionByName(row("orders", o, del_orders))
        .unionByName(row("lineitem", li, del_li))
    )
    return rows.select(
        "table_name",
        "n_rows",
        "n_deleted",
        (F.col("n_rows") - F.col("n_deleted"))
        .cast("bigint")
        .alias("n_remaining"),
        round_compat(F.col("n_deleted") * 1.0 / F.col("n_rows"), 6).alias(
            "deleted_share_r6"
        ),
    ).orderBy("table_name")


# --------------------------------------------------------------------
# Degree distribution of the co-purchase graph in log2 bins
# --------------------------------------------------------------------


def _dd_edges_sql() -> str:
    return """
    b AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey
                       FROM lineitem),
    e0 AS (
      SELECT DISTINCT a.l_partkey AS u, c.l_partkey AS v
      FROM b a JOIN b c ON c.l_orderkey = a.l_orderkey
                       AND c.l_partkey > a.l_partkey),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT u AS node, v FROM e0 UNION ALL SELECT v, u FROM e0)
      GROUP BY node)
    """


@register(
    "degree_distribution_log_bins",
    f"""
    WITH {_dd_edges_sql()}
    SELECT CAST(FLOOR(LOG2(d)) AS BIGINT) AS log2_bin,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(d) AS BIGINT) AS min_degree,
           CAST(MAX(d) AS BIGINT) AS max_degree
    FROM deg GROUP BY 1 ORDER BY 1
    """,
    "co-purchase graph degree distribution in log2 bins: the"
    " heavy-tail diagnostic read before choosing graph-algorithm"
    " parameters (the k-core threshold, the triangle support floor,"
    " skew salting) — node degrees from one pair-grain groupBy,"
    " bounded log-bin histogram close",
    tags=("graph", "diagnostics", "agg", "shared-build", "headline"),
)
def degree_distribution_log_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every graph-operator parameter in this repo (KCORE_K, the
    triangle support floor, LPA's min support) was chosen by looking
    at exactly this histogram — now it is a registered, hash-checked
    query instead of an ad-hoc notebook cell. Degrees come from the
    shared basket-array edge builder (two shuffles); the log2 bin is
    FLOOR(LOG2(d)) — exact cross-engine because IEEE doubles
    represent log2 of int64-range values to well under the 0.5 ULP
    a floor could flip at powers of two."""
    from aws_etl_global_footprint_network_spark.operators.mining import (
        _copurchase_edges,
    )

    e0 = _copurchase_edges(spark, sf_dir)
    deg = (
        e0.select(F.col("u").alias("node"))
        .unionAll(e0.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    return (
        deg.groupBy(
            F.floor(F.log2("d")).cast("bigint").alias("log2_bin")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.min("d").cast("bigint").alias("min_degree"),
            F.max("d").cast("bigint").alias("max_degree"),
        )
        .orderBy("log2_bin")
    )
