"""Data-layout operators ([EXT]): multi-dimensional Z-order (Morton)
clustering — the lakehouse ``OPTIMIZE ZORDER BY`` primitive that makes
min/max data skipping work on more than one column.

A linear sort on (a, b) gives tight file-level min/max ranges on ``a``
only; interleaving the bits of both keys into one Morton value and
range-bucketing on it gives every file a tight range in BOTH
dimensions, so a predicate on either column prunes files. The whole
computation is integer bit arithmetic — exact and identical in Spark
and DuckDB — and runs map-side; the only shuffle is the final
range bucketing (at scale: ``repartitionByRange`` on the z-value
followed by a per-file write).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_etl_global_footprint_network_spark.registry import register
from aws_etl_global_footprint_network_spark.sources.readers import read_testdata

# 16 bits per dimension -> 32-bit Morton codes; dimensions are min/max
# normalised onto the full 16-bit range first (as Delta's OPTIMIZE
# ZORDER does with range-partition ids), so the codes fill the space
# whatever the key domain is.
ZBITS = 16
ZMAX = (1 << ZBITS) - 1
ZFILES = 64  # target file count of the clustered write


def _morton(a: Column, b: Column) -> Column:
    """Interleave the low ZBITS bits of two ints: a -> even bit
    positions, b -> odd. Pure codegen-able bit arithmetic."""
    z = F.lit(0).cast("bigint")
    for i in range(ZBITS):
        z = (
            z
            + F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def _morton_sql(a: str, b: str) -> str:
    terms = []
    for i in range(ZBITS):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


@register(
    "zorder_layout",
    f"""
    WITH bounds AS (
      SELECT MIN(l_partkey) AS pmin, MAX(l_partkey) AS pmax,
             MIN(l_suppkey) AS smin, MAX(l_suppkey) AS smax
      FROM lineitem),
    dims AS (
      SELECT (l_partkey - pmin) * {ZMAX} // GREATEST(pmax - pmin, 1) AS pk,
             (l_suppkey - smin) * {ZMAX} // GREATEST(smax - smin, 1) AS sk
      FROM lineitem, bounds),
    coded AS (
      SELECT pk, sk, {_morton_sql('pk', 'sk')} AS z FROM dims),
    bucketed AS (
      SELECT pk, sk, z, CAST(z * {ZFILES} // {1 << (2 * ZBITS)} AS BIGINT)
               AS file_id
      FROM coded)
    SELECT file_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(pk) AS BIGINT) AS pk_min, CAST(MAX(pk) AS BIGINT) AS pk_max,
           CAST(MIN(sk) AS BIGINT) AS sk_min, CAST(MAX(sk) AS BIGINT) AS sk_max,
           CAST(MIN(z) AS BIGINT) AS z_min, CAST(MAX(z) AS BIGINT) AS z_max
    FROM bucketed GROUP BY file_id
    """,
    "Z-order (Morton) clustering layout over lineitem (l_partkey x"
    " l_suppkey): 32-bit interleaved codes, range-bucketed into"
    f" {ZFILES} files, emitting each file's min/max in BOTH dimensions"
    " — the per-file skipping bounds a lakehouse OPTIMIZE ZORDER"
    " write would produce",
    tags=("layout", "agg", "headline"),
)
def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The emitted (file_id, pk/sk min-max) table IS the proof of the
    layout's value: every file covers ~1/sqrt(files) of each
    dimension's range (vs all of dim 2 under a linear sort), so
    single-column predicates on either key prune most files. At
    scale the same z expression feeds ``repartitionByRange(ZFILES,
    z)`` + per-partition write; here the file assignment is computed
    arithmetically (z is uniform-ish over the code space) so the
    oracle stays exact."""
    li = read_testdata(spark, sf_dir, "lineitem")
    # One bounded 1-row aggregate collect (the same scalar any
    # OPTIMIZE ZORDER planner computes before coding); the oracle's
    # twin is a scalar-subquery cross join on its side.
    b = li.agg(
        F.min("l_partkey").alias("pmin"),
        F.max("l_partkey").alias("pmax"),
        F.min("l_suppkey").alias("smin"),
        F.max("l_suppkey").alias("smax"),
    ).collect()[0]
    pspan = max(b.pmax - b.pmin, 1)
    sspan = max(b.smax - b.smin, 1)
    dims = li.select(
        F.floor((F.col("l_partkey") - b.pmin) * ZMAX / pspan).alias("pk"),
        F.floor((F.col("l_suppkey") - b.smin) * ZMAX / sspan).alias("sk"),
    )
    coded = dims.withColumn("z", _morton(F.col("pk"), F.col("sk")))
    bucketed = coded.withColumn(
        "file_id",
        F.floor(F.col("z") * ZFILES / (1 << (2 * ZBITS))).cast("bigint"),
    )
    return bucketed.groupBy("file_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("pk").cast("bigint").alias("pk_min"),
        F.max("pk").cast("bigint").alias("pk_max"),
        F.min("sk").cast("bigint").alias("sk_min"),
        F.max("sk").cast("bigint").alias("sk_max"),
        F.min("z").cast("bigint").alias("z_min"),
        F.max("z").cast("bigint").alias("z_max"),
    )
