from __future__ import annotations

import sys
from pathlib import Path

import pytest

# the checkout these tests live in, not whichever copy is installed
REPO_ROOT = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, REPO_ROOT)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from mmw_geoprocessing_spark.session import get_spark

    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tables(spark):
    from mmw_geoprocessing_spark.sources.tables import register_views

    return register_views(spark, SF_DIR)


@pytest.fixture(scope="session")
def duck():
    import duckdb

    from mmw_geoprocessing_spark.sources.tables import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: long-running end-to-end replays (the 61-HUC reference batch)",
    )
