"""End-to-end replication of the reference's flagship workload on its
own committed data (mkt_returns/data.csv), asserted against the golden
values embedded in the notebook (SURVEY §6 / BASELINE.md)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from aws_etl_global_footprint_network_spark.operators.mkt_returns import (
    daily_compound_evolution,
    weekly_returns,
)
from aws_etl_global_footprint_network_spark.sources.calendar import build_calendar
from aws_etl_global_footprint_network_spark.sources.readers import read_market_data

pytestmark = pytest.mark.reference


@pytest.fixture(scope="module")
def market(spark, reference_csv):
    return read_market_data(spark, reference_csv)


@pytest.fixture(scope="module")
def calendar(spark):
    return build_calendar(spark, "2024-12-01", "2025-03-31")


def test_input_invariants(market):
    # 472 rows; (fund, date) duplicated, (fund, date, type) unique
    # (reference: mkt_returns/sql_test_mkt_returns.ipynb:595-658).
    assert market.count() == 472
    dup2 = (
        market.groupBy("FUND_CODE", "MARKET_DATE")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter("cnt > 1")
        .count()
    )
    dup3 = (
        market.groupBy("FUND_CODE", "MARKET_DATE", "RETURN_TYPE")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter("cnt > 1")
        .count()
    )
    assert dup2 > 0 and dup3 == 0
    assert market.filter(F.col("DAILY_RETURN").isNull()).count() == 128


def test_weekly_returns_golden(market, calendar):
    view = weekly_returns(market, calendar)
    rows = view.collect()
    # 344 rows = 8 series x 43 working days
    # (reference: mkt_returns/sql_test_mkt_returns.ipynb:743).
    assert len(rows) == 344
    vals = {
        (r.FUND_CODE, r.RETURN_TYPE, r.YEAR_WEEK): r.WEEKLY_RETURN for r in rows
    }
    golden = {
        ("FUND_01", "TYPE_A", "2025-00"): 0.5582162431456255,
        ("FUND_01", "TYPE_B", "2025-00"): 0.5805392234716797,
        ("FUND_01", "TYPE_A", "2025-01"): 0.9862496965157128,
        ("FUND_04", "TYPE_A", "2025-08"): 2.79573265014471,
    }
    for k, v in golden.items():
        assert math.isclose(vals[k], v, rel_tol=1e-12), (k, vals[k], v)


def test_window_form_equals_aggregate_form(market, calendar):
    """The reference asserts this equivalence by rewriting cell 12 as
    cell 14: last cumulative value per (fund,type,week) == the week's
    aggregate (reference: mkt_returns/sql_test_mkt_returns.ipynb:723 vs :818)."""
    evo = daily_compound_evolution(market, calendar)
    last = (
        evo.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("FUND_CODE", "RETURN_TYPE", "YEAR_WEEK").orderBy(
                    F.col("MARKET_DATE").desc()
                )
            ),
        )
        .filter("rn = 1")
        .select(
            "FUND_CODE",
            "RETURN_TYPE",
            "YEAR_WEEK",
            F.col("DAILY_COMPOUND_EVOLUTION").alias("last_evo"),
        )
    )
    weekly = (
        weekly_returns(market, calendar)
        .select("FUND_CODE", "RETURN_TYPE", "YEAR_WEEK", "WEEKLY_RETURN")
        .distinct()
    )
    joined = last.join(weekly, ["FUND_CODE", "RETURN_TYPE", "YEAR_WEEK"]).collect()
    assert len(joined) == 72  # 8 series x 9 weeks
    for r in joined:
        assert math.isclose(r.last_evo, r.WEEKLY_RETURN, rel_tol=1e-12)
    evo_vals = {
        (r.FUND_CODE, r.RETURN_TYPE, str(r.MARKET_DATE)): r.DAILY_COMPOUND_EVOLUTION
        for r in evo.collect()
    }
    assert math.isclose(
        evo_vals[("FUND_01", "TYPE_A", "2025-01-02")],
        0.49390199643674215,
        rel_tol=1e-12,
    )


def test_null_compound_semantics(spark, calendar):
    """NULL returns on working days must be skipped by SUM, not treated
    as 0; all-NULL group -> NULL (SURVEY §2.5 A4 pinned semantics)."""
    import datetime as dt

    rows = [
        ("F", dt.date(2025, 1, 6), "A", 0.1),
        ("F", dt.date(2025, 1, 7), "A", None),
        ("F", dt.date(2025, 1, 8), "A", 0.2),
        ("G", dt.date(2025, 1, 6), "A", None),
    ]
    market = spark.createDataFrame(
        rows, "FUND_CODE string, MARKET_DATE date, RETURN_TYPE string, DAILY_RETURN double"
    )
    out = {
        (r.FUND_CODE, r.YEAR_WEEK): r.WEEKLY_RETURN
        for r in weekly_returns(market, calendar).collect()
    }
    assert math.isclose(out[("F", "2025-01")], 1.1 * 1.2 - 1, rel_tol=1e-12)
    assert out[("G", "2025-01")] is None


def test_inferred_schema_csv_end_to_end(spark, tmp_path, reference_csv):
    """S1's INFERENCE path, end to end: regenerate calendar.csv from
    the calendar builder, read BOTH CSVs back with inferSchema=True
    (the reference reads them with DuckDB inference,
    sql_test_mkt_returns.ipynb:239-240, DESCRIBE :256-261 shows
    DATE/BIGINT/BOOLEAN), and feed the inferred-schema frames — not
    the explicit-schema readers — through the weekly-returns pipeline.
    Golden: the same 344-row view with the same spot value."""
    cal_path = str(tmp_path / "calendar_csv")
    build_calendar(spark, "2024-12-01", "2025-03-31").coalesce(1).write.option(
        "header", True
    ).csv(cal_path)

    cal = spark.read.csv(cal_path, header=True, inferSchema=True)
    types = dict(cal.dtypes)
    # DuckDB's DESCRIBE tb_calendar: DATE / BIGINT / VARCHAR / BOOLEAN.
    # Spark infers the narrower int where DuckDB says BIGINT — widen to
    # match the reference types exactly; everything else must infer.
    assert types["DATE"] == "date", types
    assert types["DAY_OF_WEEK"] in ("int", "bigint"), types
    assert types["IS_HOLIDAY"] == "boolean", types
    assert types["IS_WORKING_DAY"] == "boolean", types
    cal = cal.withColumn("DAY_OF_WEEK", F.col("DAY_OF_WEEK").cast("long"))

    market = spark.read.csv(
        reference_csv, header=True, inferSchema=True
    ).withColumnRenamed("RETUNR_TYPE", "RETURN_TYPE")
    mtypes = dict(market.dtypes)
    assert mtypes["MARKET_DATE"] == "date", mtypes
    assert mtypes["DAILY_RETURN"] == "double", mtypes

    view = weekly_returns(market, cal)
    rows = view.collect()
    assert len(rows) == 344
    vals = {
        (r.FUND_CODE, r.RETURN_TYPE, r.YEAR_WEEK): r.WEEKLY_RETURN for r in rows
    }
    assert math.isclose(
        vals[("FUND_01", "TYPE_A", "2025-00")],
        0.5582162431456255,
        rel_tol=1e-12,
    )
