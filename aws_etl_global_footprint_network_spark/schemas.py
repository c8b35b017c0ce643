"""Explicit schemas for the reference's tables and the driver test data.

The reference mixes explicit DDL (warehouse table,
reference: local_test/scripts/local_data_ingestion.py:31-49) with read-time
inference (CSV/JSON, reference: mkt_returns/sql_test_mkt_returns.ipynb cell 5,
local_data_ingestion.py:97). We keep explicit StructTypes for everything
we own — inference on 100 TB means an extra full scan and silently
string-typed dates.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Warehouse table carbon_footprint
# (reference: local_test/scripts/local_data_ingestion.py:31-47 — DDL column
# order preserved; all columns nullable as in the DDL).
CARBON_FOOTPRINT_SCHEMA = T.StructType(
    [
        T.StructField("year", T.IntegerType()),
        T.StructField("country_code", T.IntegerType()),
        T.StructField("country_name", T.StringType()),
        T.StructField("short_name", T.StringType()),
        T.StructField("isoa2", T.StringType()),
        T.StructField("record", T.StringType()),
        T.StructField("crop_land", T.DoubleType()),
        T.StructField("grazing_land", T.DoubleType()),
        T.StructField("forest_land", T.DoubleType()),
        T.StructField("fishing_ground", T.DoubleType()),
        T.StructField("builtup_land", T.DoubleType()),
        T.StructField("carbon", T.DoubleType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("score", T.StringType()),
    ]
)

# camelCase API field -> warehouse column
# (reference: local_test/scripts/local_data_ingestion.py:20-28).
CARBON_COLUMN_MAPPING = {
    "countryCode": "country_code",
    "countryName": "country_name",
    "shortName": "short_name",
    "isoa2": "isoa2",
    "cropLand": "crop_land",
    "grazingLand": "grazing_land",
    "forestLand": "forest_land",
    "fishingGround": "fishing_ground",
    "builtupLand": "builtup_land",
}

# Raw-zone JSON record shape (camelCase, one array-of-records file per
# year; written by the extractor,
# reference: local_test/scripts/local_data_extraction.py:52-60).
CARBON_RAW_SCHEMA = T.StructType(
    [
        T.StructField("year", T.IntegerType()),
        T.StructField("countryCode", T.IntegerType()),
        T.StructField("countryName", T.StringType()),
        T.StructField("shortName", T.StringType()),
        T.StructField("isoa2", T.StringType()),
        T.StructField("record", T.StringType()),
        T.StructField("cropLand", T.DoubleType()),
        T.StructField("grazingLand", T.DoubleType()),
        T.StructField("forestLand", T.DoubleType()),
        T.StructField("fishingGround", T.DoubleType()),
        T.StructField("builtupLand", T.DoubleType()),
        T.StructField("carbon", T.DoubleType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("score", T.StringType()),
    ]
)

# Market data (reference: mkt_returns/data.csv header at line 1; DuckDB-inferred
# types shown by DESCRIBE in mkt_returns/sql_test_mkt_returns.ipynb cell 7).
# The RETUNR_TYPE typo is source fidelity; normalised at read time
# (reference: mkt_returns/sql_test_mkt_returns.ipynb:241).
MARKET_DATA_RAW_SCHEMA = T.StructType(
    [
        T.StructField("FUND_CODE", T.StringType()),
        T.StructField("MARKET_DATE", T.DateType()),
        T.StructField("RETUNR_TYPE", T.StringType()),
        T.StructField("DAILY_RETURN", T.DoubleType()),
    ]
)

# Driver test tables (/root/testdata, TESTDATA.md) — names only; parquet
# carries its own schema.
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
