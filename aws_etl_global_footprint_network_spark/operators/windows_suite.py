"""Ranking/analytic window completeness (SURVEY §2.11 ★): every
standard window function family in one deterministic query, plus a
value-based RANGE frame. Written through the SQL API (EP3 path) —
Catalyst plans it identically to the DataFrame form."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from aws_etl_global_footprint_network_spark.registry import register
from aws_etl_global_footprint_network_spark.sources.readers import read_testdata

_SQL = """
    SELECT p_partkey, p_brand, p_retailprice,
           LEAD(p_partkey) OVER w                          AS next_part,
           FIRST_VALUE(p_partkey) OVER w                   AS cheapest_part,
           LAST_VALUE(p_partkey) OVER
             (PARTITION BY p_brand ORDER BY p_retailprice, p_partkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                                                           AS priciest_part,
           NTH_VALUE(p_partkey, 2) OVER
             (PARTITION BY p_brand ORDER BY p_retailprice, p_partkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                                                           AS second_cheapest,
           CAST(NTILE(4) OVER w AS INT)                    AS price_quartile,
           ROUND(PERCENT_RANK() OVER w * 1000000, 0) / 1000000
                                                           AS pct_rank,
           ROUND(CUME_DIST() OVER w * 1000000, 0) / 1000000
                                                           AS cume,
           CAST(RANK() OVER w AS INT)                      AS rnk,
           CAST(DENSE_RANK() OVER w AS INT)                AS drnk,
           ROUND(SUM(p_retailprice) OVER
             (PARTITION BY p_brand ORDER BY p_retailprice
              RANGE BETWEEN 100 PRECEDING AND CURRENT ROW) * 100, 0) / 100
                                                           AS near_price_mass
    FROM {table}
    WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice, p_partkey)
"""


@register(
    "window_analytic_suite",
    _SQL.format(table="part"),
    "lead/first/last/nth_value/ntile/percent_rank/cume_dist/rank +"
    " value-based RANGE frame in one pass",
    tags=("window", "headline"),
)
def window_analytic_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One shuffle on p_brand serves all eleven window expressions
    (same partitioning + compatible ordering -> one Window node chain,
    no re-sort). Rounding uses the scaled form inline to stay
    DuckDB-hash-compatible (see functions.compat)."""
    read_testdata(spark, sf_dir, "part").createOrReplaceTempView("part_ws")
    return spark.sql(_SQL.format(table="part_ws"))


@register(
    "events_trailing_1h_avg",
    """
    SELECT event_id, user_id, ts,
           ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
                 * 1e6, 0) / 1e6 AS trailing_avg,
           CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_in_window
    FROM events
    """,
    "time-interval RANGE window frame: per-user trailing 1-hour"
    " average and count at every event — the moving-aggregate shape"
    " numeric ROWS/RANGE frames can't express (frame size varies with"
    " event density)",
    tags=("window", "temporal"),
)
def events_trailing_1h_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark has no INTERVAL RANGE frame literal, but an equivalent
    exists: order the window by unix_micros(ts) (a bigint) and bound
    the frame numerically at -3.6e9 microseconds. Same shuffle
    profile as any per-user window (one hash partition by user_id);
    the frame is evaluated incrementally, never materialised. AVG is
    rounded at 1e-6 on both sides — sliding-frame aggregation trees
    differ between engines (segment tree vs running pair), so the
    fold order is NOT shared, unlike running-total windows."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from aws_etl_global_footprint_network_spark.functions.compat import round_compat

    ev = read_testdata(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        round_compat(F.avg("value").over(w), 6).alias("trailing_avg"),
        F.count(F.lit(1)).over(w).alias("n_in_window"),
    )
