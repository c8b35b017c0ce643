"""Edge semantics of the generic as-of join, and EP3 parity: the
flagship analytics expressed as pure Spark SQL text (the notebook's
view-chain idiom, reference: mkt_returns/sql_test_mkt_returns.ipynb:671-705)
must produce the identical result as the DataFrame builders."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from aws_etl_global_footprint_network_spark.operators.temporal import asof_join


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def quotes_trades(spark):
    trades = spark.createDataFrame(
        [
            (1, "A", _ts("2024-01-01 10:00:05")),
            (2, "A", _ts("2024-01-01 10:00:10")),
            (3, "B", _ts("2024-01-01 09:00:00")),  # before any quote
            (4, "A", _ts("2024-01-01 10:00:10")),  # tie with a quote ts
        ],
        "trade_id long, sym string, ts timestamp",
    )
    quotes = spark.createDataFrame(
        [
            ("A", _ts("2024-01-01 10:00:00"), 100.0),
            ("A", _ts("2024-01-01 10:00:10"), 101.0),  # equal-ts quote
            ("B", _ts("2024-01-01 12:00:00"), 50.0),
        ],
        "sym string, qts timestamp, price double",
    )
    return trades, quotes


def test_asof_basic_and_ties(spark, quotes_trades):
    trades, quotes = quotes_trades
    out = {
        r.trade_id: r.price
        for r in asof_join(
            trades, quotes, ["sym"], "ts", "qts", ["price"]
        ).collect()
    }
    assert out[1] == 100.0          # latest quote before 10:00:05
    assert out[2] == 101.0          # 10:00:10 quote included (<=)
    assert out[3] is None           # no quote at-or-before -> NULL
    assert out[4] == 101.0          # tie: right row sorts first


def test_asof_preserves_left_rowcount(spark, quotes_trades):
    trades, quotes = quotes_trades
    assert asof_join(trades, quotes, ["sym"], "ts", "qts", ["price"]).count() == 4


def test_asof_carries_legitimate_null_value(spark):
    """A right row whose VALUE column is NULL must still be the row
    returned when it is the latest at-or-before match — the struct
    carry must not skip it in favour of an older non-NULL row (DuckDB
    ASOF semantics; regression pin for the round-1 advice fix)."""
    trades = spark.createDataFrame(
        [(1, "A", _ts("2024-01-01 10:00:20"))],
        "trade_id long, sym string, ts timestamp",
    )
    quotes = spark.createDataFrame(
        [
            ("A", _ts("2024-01-01 10:00:00"), 100.0),
            ("A", _ts("2024-01-01 10:00:10"), None),  # latest match, NULL value
        ],
        "sym string, qts timestamp, price double",
    )
    out = asof_join(trades, quotes, ["sym"], "ts", "qts", ["price"]).collect()
    assert len(out) == 1 and out[0].price is None


@pytest.mark.reference
def test_flagship_as_pure_sql_text(spark, reference_csv):
    """EP3: the engine must accept the workload as SQL text. Build the
    notebook's CTE chain in Spark SQL (with our %W expression inlined)
    and compare against the DataFrame form bit-for-bit."""
    from aws_etl_global_footprint_network_spark.operators.mkt_returns import (
        weekly_returns,
    )
    from aws_etl_global_footprint_network_spark.sources.calendar import build_calendar
    from aws_etl_global_footprint_network_spark.sources.readers import read_market_data

    market = read_market_data(spark, reference_csv)
    calendar = build_calendar(spark, "2024-12-01", "2025-03-31")
    market.createOrReplaceTempView("tb_market_data")
    calendar.createOrReplaceTempView("tb_calendar")
    sql_result = spark.sql(
        """
        WITH daily_returns AS (
          SELECT mkt.FUND_CODE, mkt.RETURN_TYPE, mkt.MARKET_DATE,
                 mkt.DAILY_RETURN,
                 CONCAT(YEAR(mkt.MARKET_DATE), '-',
                        LPAD(CAST(FLOOR((DAYOFYEAR(mkt.MARKET_DATE) - 1 + 7
                             - (DAYOFWEEK(mkt.MARKET_DATE) + 5) % 7) / 7)
                             AS STRING), 2, '0')) AS YEAR_WEEK
          FROM tb_market_data mkt
          JOIN tb_calendar cal ON mkt.MARKET_DATE = cal.DATE
          WHERE cal.IS_WORKING_DAY = TRUE),
        weekly_returns AS (
          SELECT FUND_CODE, RETURN_TYPE, YEAR_WEEK,
                 EXP(SUM(LN(1 + DAILY_RETURN))) - 1 AS WEEKLY_RETURN
          FROM daily_returns
          GROUP BY FUND_CODE, RETURN_TYPE, YEAR_WEEK)
        SELECT d.FUND_CODE, d.RETURN_TYPE, d.MARKET_DATE, d.DAILY_RETURN,
               d.YEAR_WEEK, w.WEEKLY_RETURN
        FROM daily_returns d
        JOIN weekly_returns w
          ON d.FUND_CODE = w.FUND_CODE AND d.RETURN_TYPE = w.RETURN_TYPE
         AND d.YEAR_WEEK = w.YEAR_WEEK
        """
    )
    df_result = weekly_returns(market, calendar)
    key = ["FUND_CODE", "RETURN_TYPE", "MARKET_DATE"]
    a = {tuple(r[k] for k in key): r.WEEKLY_RETURN for r in sql_result.collect()}
    b = {tuple(r[k] for k in key): r.WEEKLY_RETURN for r in df_result.collect()}
    assert a == b and len(a) == 344
