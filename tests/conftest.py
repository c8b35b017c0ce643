from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aws_etl_global_footprint_network_spark.session import get_spark

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
REFERENCE = "/root/reference"
# The reference's own market data. Tests marked ``reference`` read it
# and skip when it is absent.
REFERENCE_CSV = os.path.join(REFERENCE, "mkt_returns", "data.csv")


def pytest_configure(config):
    config.addinivalue_line(
        "markers", f"reference: reads {REFERENCE_CSV}; skipped when it is absent"
    )


def pytest_collection_modifyitems(config, items):
    if os.path.exists(REFERENCE_CSV):
        return
    skip = pytest.mark.skip(reason=f"{REFERENCE_CSV} not present")
    for item in items:
        if item.get_closest_marker("reference"):
            item.add_marker(skip)


def pytest_report_collectionfinish(config, start_path, items):
    """Name the reference-gated tests when the data is missing. Unlike
    the session header, these lines also print under ``-q``."""
    if os.path.exists(REFERENCE_CSV):
        return []
    gated = [i.nodeid for i in items if i.get_closest_marker("reference")]
    if not gated:
        return []
    return [f"{REFERENCE_CSV} is missing; {len(gated)} tests skip:"] + [
        f"  {nodeid}" for nodeid in gated
    ]


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    wh = tmp_path_factory.mktemp("spark-warehouse")
    s = get_spark(
        app_name="tests",
        shuffle_partitions=8,
        extra_conf={
            "spark.sql.warehouse.dir": str(wh),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    yield s
    from aws_etl_global_footprint_network_spark.functions.baskets import (
        release_builds,
    )

    release_builds()


@pytest.fixture(scope="session")
def reference_csv():
    return REFERENCE_CSV


@pytest.fixture(scope="session")
def sf_dir():
    return os.path.join(TESTDATA, "sf0.001")


@pytest.fixture(scope="session")
def sf_dir_mid():
    return os.path.join(TESTDATA, "sf0.01")
