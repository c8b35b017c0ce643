"""File readers.

Reference reads CSV with DuckDB inference
(reference: mkt_returns/sql_test_mkt_returns.ipynb:239-240) and JSON with Polars
(reference: local_test/scripts/local_data_ingestion.py:93-99). We standardise on
explicit schemas — at 100 TB, schema inference is an extra full pass
and CSV date inference is engine-dependent.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from aws_etl_global_footprint_network_spark.schemas import (
    MARKET_DATA_RAW_SCHEMA,
    TESTDATA_TABLES,
)


def read_market_data(spark: SparkSession, path: str) -> DataFrame:
    """Read ``data.csv`` shaped market data and normalise the header
    typo ``RETUNR_TYPE`` -> ``RETURN_TYPE``
    (reference: mkt_returns/sql_test_mkt_returns.ipynb:241 does it via
    ALTER TABLE RENAME COLUMN).
    """
    df = spark.read.csv(path, header=True, schema=MARKET_DATA_RAW_SCHEMA)
    return df.withColumnRenamed("RETUNR_TYPE", "RETURN_TYPE")


def ensure_session_confs(spark: SparkSession) -> None:
    """Defensive: the driver may hand us a session built without our
    factory (session.get_spark). Both confs are runtime-settable and
    required for correctness — nanosAsLong to read the events table's
    TIMESTAMP(NANOS) parquet at all, UTC so timestamp values agree
    with the (UTC-naive) DuckDB oracle."""
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz not in ("UTC", "Etc/UTC", "GMT"):
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def read_testdata_raw(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read one driver test table with no normalisation (nanosecond
    timestamps appear as LongType under
    spark.sql.legacy.parquet.nanosAsLong). Memoized like
    ``read_testdata``: a warm call, ``.schema`` included, runs no job."""
    return _memo_read(spark, sf_dir, table, raw=True)


def normalize_nanos(df: DataFrame) -> DataFrame:
    """Normalise timestamp columns to TIMESTAMP (LTZ, session tz UTC).

    Two driver-data generations exist: TIMESTAMP(NANOS) parquet (read
    as bigint under nanosAsLong — integer-divide to micros, the same
    truncation DuckDB applies), and TIMESTAMP(MICROS) without a
    timezone (read as TIMESTAMP_NTZ in Spark 4). Both are mapped to
    the instant type: watermarks, ``unix_micros`` and interval
    arithmetic require TIMESTAMP, and with the session timezone pinned
    to UTC (ensure_session_confs) the wall-clock values are identical
    to what the UTC-naive DuckDB oracle computes."""
    from pyspark.sql import functions as F

    out = df
    for name, dtype in df.dtypes:
        if name == "ts" and dtype == "bigint":
            out = out.withColumn(
                name, F.timestamp_micros(F.expr(f"{name} DIV 1000"))
            )
        elif dtype == "timestamp_ntz":
            out = out.withColumn(name, F.col(name).cast("timestamp"))
    return out


# Logical-plan memo for the driver test tables: spark.read.parquet
# resolves the file listing + footer schema through py4j on EVERY
# call (~100-300 ms, one ``parquet at`` job), and a 90-query bench
# re-reads the same ten tables hundreds of times; the six streaming
# builders read the raw events schema on every run. DataFrames are
# immutable logical plans, so reusing one per (session, path, mtime,
# raw) is safe; the mtime key drops the memo if the file is
# regenerated, and the applicationId key drops plans owned by a
# stopped session. Bounded: sessions x tables x scale dirs x 2.
_READ_MEMO: dict[tuple[str, str, float, bool], DataFrame] = {}


def _memo_read(spark: SparkSession, sf_dir: str, table: str, raw: bool) -> DataFrame:
    """The memoized frame of one test table, raw or normalised."""
    ensure_session_confs(spark)
    path = os.path.abspath(os.path.join(sf_dir, f"{table}.parquet"))
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        mtime = -1.0
    app_id = spark.sparkContext.applicationId
    key = (app_id, path, mtime, raw)
    df = _READ_MEMO.get(key)
    if df is None:
        # Evict on insert (advisor, round 7): keys carrying a stopped
        # session's applicationId, or this path under a stale mtime,
        # are dead plans that would otherwise accumulate for the life
        # of the driver process (each pinning a JVM-side logical
        # plan). A miss means either a new session or a regenerated
        # file — both invalidate exactly those entries.
        for k in [
            k
            for k in _READ_MEMO
            if k[0] != app_id or (k[1] == path and k[2] != mtime)
        ]:
            del _READ_MEMO[k]
        if raw:
            df = spark.read.parquet(path)
        else:
            df = normalize_nanos(_memo_read(spark, sf_dir, table, raw=True))
        _READ_MEMO[key] = df
    return df


def read_testdata(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read one driver test table (TESTDATA.md), types normalised."""
    return _memo_read(spark, sf_dir, table, raw=False)


def spread(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Round-robin repartition for compute-heavy map stages.

    A single-file parquet scan yields ONE input partition, so an
    expression-heavy stage (vector folds, per-token md5) runs in one
    task regardless of cores — measured 26s single-task vs ~2s spread
    for the all-pairs cosine at sf0.1. Operators whose per-row cost
    dominates I/O must set their own parallelism rather than inherit
    the file layout's."""
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n)


def testdata_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every test table and register each as a temp view, so both
    the DataFrame API and ``spark.sql`` can address them (the
    reference's DuckDB replacement-scan idiom,
    reference: local_test/scripts/local_data_ingestion.py:125).
    """
    out: dict[str, DataFrame] = {}
    for t in TESTDATA_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            df = read_testdata(spark, sf_dir, t)
            df.createOrReplaceTempView(t)
            out[t] = df
    return out
