"""Pareto frontier (skyline) operator ([EXT] — operator-surface
breadth beyond the reference): the set of parts not dominated on
(p_retailprice, p_size), both minimized — "no other part is at least
as cheap AND at least as small, and strictly better on one".

Scale posture — the skyline is DISTRIBUTIVE: a globally non-dominated
point is non-dominated within its partition, so
``union(local frontiers) ⊇ global frontier``. That licenses the
classic two-phase plan:

1. map-side prune (``kernels.batch_map``): each Arrow batch sorts by
   (price, size) and keeps rows whose size equals the running minimum
   — a superset of the batch's frontier, vectorized, no shuffle. At
   100 TB this discards ~everything; survivors per partition are
   O(frontier) ≈ O(log n) for independent dims.
2. exact dominance filter among the tiny candidate set: a broadcast
   non-equi self-join (bounded — candidates, not the relation).

The DuckDB oracle uses a *different* algorithm (per-price group min +
strict-prefix min over price order) — an independent derivation of the
same set, which is the point of differential testing. No arithmetic
touches the values (raw-parquet doubles compared with <,<=), so parity
is exact by construction.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_etl_global_footprint_network_spark.functions import kernels
from aws_etl_global_footprint_network_spark.registry import register
from aws_etl_global_footprint_network_spark.sources.readers import read_testdata, spread

_CAND_SCHEMA = "p_partkey bigint, p_retailprice double, p_size int"


def _local_frontier(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-batch skyline superset: after sorting by (price, size), a
    row can only be dominated by a predecessor, and any dominating
    predecessor has strictly smaller size — so keeping rows whose size
    equals the running min keeps every frontier point (ties included)."""
    s = pdf.sort_values(["p_retailprice", "p_size"], kind="mergesort")
    return s[s["p_size"] <= s["p_size"].cummin()]


# Candidate sets at or below this row count broadcast for the exact
# dominance pass; above it (an adversarial anti-correlated
# distribution makes the frontier O(n) — every point non-dominated)
# the same non-equi join runs UNHINTED so Spark executes it as a
# distributed cartesian instead of collecting O(n) rows to the
# driver. Typical skylines for independent dims are O(log^(d-1) n),
# so the cap only ever binds on adversarial data.
PARETO_BROADCAST_CAP = 200_000


def _exact_dominance(cand: DataFrame, max_broadcast: int) -> DataFrame:
    """Exact skyline of the pruned candidate set: drop every candidate
    some other candidate weakly dominates with one strict improvement.
    The candidate set is counted first (already persisted — the count
    materializes the cache the downstream joins reuse); under
    ``max_broadcast`` the dominating side broadcasts for a non-equi
    semi join.  ABOVE the cap the semi-join form is useless as a
    fallback: Spark plans a non-equi ``left_semi`` only as
    BroadcastNestedLoopJoin, which broadcasts one side REGARDLESS of
    size (CartesianProductExec is inner-only) — the round-7 cap
    comment claimed a distributed cartesian that could never be
    planned (round-8 advice).  The above-cap path therefore states an
    INNER cross join + dominance filter + distinct, which Catalyst
    does plan as a distributed CartesianProduct: quadratic work
    spread over the cluster, nothing resident on a single node —
    the honest cost of an adversarial O(n) frontier."""
    a = cand.select(
        F.col("p_partkey").alias("k"),
        F.col("p_retailprice").alias("pr_a"),
        F.col("p_size").alias("sz_a"),
    )
    b = cand.select(
        F.col("p_retailprice").alias("pr_b"), F.col("p_size").alias("sz_b")
    )
    dominates = (
        (F.col("pr_b") <= F.col("pr_a"))
        & (F.col("sz_b") <= F.col("sz_a"))
        & ((F.col("pr_b") < F.col("pr_a")) | (F.col("sz_b") < F.col("sz_a")))
    )
    if cand.count() <= max_broadcast:
        dominated = a.join(F.broadcast(b), dominates, "left_semi").select(
            F.col("k").alias("p_partkey")
        )
    else:
        dominated = (
            a.crossJoin(b)
            .filter(dominates)
            .select(F.col("k").alias("p_partkey"))
            .distinct()
        )
    return cand.join(dominated, "p_partkey", "left_anti")


@register(
    "pareto_frontier_parts",
    """
    WITH p AS (
      SELECT p_partkey, p_retailprice, p_size FROM part),
    per_price AS (
      SELECT p_retailprice, MIN(p_size) AS min_sz
      FROM p GROUP BY p_retailprice),
    pref AS (
      SELECT p_retailprice, min_sz,
             MIN(min_sz) OVER (ORDER BY p_retailprice
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS prefix_min
      FROM per_price)
    SELECT CAST(p.p_partkey AS BIGINT) AS p_partkey,
           p.p_retailprice, CAST(p.p_size AS INT) AS p_size
    FROM p JOIN pref USING (p_retailprice)
    WHERE p.p_size = pref.min_sz
      AND (pref.prefix_min IS NULL OR pref.prefix_min > p.p_size)
    """,
    "Pareto frontier of parts minimizing (retailprice, size): Spark"
    " runs the distributive two-phase skyline (vectorized per-partition"
    " prune + exact dominance filter on the bounded candidate set);"
    " the oracle independently derives the same set via per-price min"
    " + strict prefix min — no arithmetic, exact parity",
    tags=("analytics", "skyline", "headline"),
)
def pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase distributed skyline; see module docstring. The final
    dominance self-join is deliberately non-equi but runs on the
    candidate set only — bounded by the frontier's size, not the
    relation's (whitelisted in the plan gate alongside the other
    bounded broadcast patterns), and broadcast only below
    PARETO_BROADCAST_CAP (see _exact_dominance)."""
    p = spread(read_testdata(spark, sf_dir, "part")).select(
        F.col("p_partkey").cast("bigint").alias("p_partkey"),
        "p_retailprice",
        F.col("p_size").cast("int").alias("p_size"),
    )
    # persisted: the candidate set feeds both dominance sides AND the
    # final anti join — without the cache the per-partition Python
    # frontier stage (mapInPandas + its spread shuffle) runs three
    # times. Bounded by the frontier size, not the relation.
    from aws_etl_global_footprint_network_spark.functions.cache import CacheScope

    scope = CacheScope("pareto_frontier_parts")
    cand = scope.persist(kernels.batch_map(p, _local_frontier, _CAND_SCHEMA))
    return _exact_dominance(cand, PARETO_BROADCAST_CAP)
