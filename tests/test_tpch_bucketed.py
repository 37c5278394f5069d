"""Bucketed TPC-H serving layout (r10 verdict #1): with
SPARK_GRAFT_BUCKETED_FIXTURES=1, the registered tpch_q3/q5/q10/q18
builders read orders/lineitem bucketed + sorted on orderkey
(sources/tpch_layout.py) and plan the fact-fact orderkey join WITHOUT
an exchange — while returning rows identical to the raw-parquet path.

The plan assertions run with auto-broadcast disabled, the sf10
scenario where neither fact side is broadcastable; explicit
F.broadcast dim hints survive the conf, as they do in production.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR

QUERIES = ["tpch_q3", "tpch_q5", "tpch_q10", "tpch_q18"]


def _exchange_lines(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]


@pytest.fixture(scope="module")
def entry():
    import __spark_entry__ as m

    return m


@pytest.fixture()
def bucket_mode(spark, tables, monkeypatch):
    from mmw_geoprocessing_spark.sources import fixtures as fx

    monkeypatch.setenv("SPARK_GRAFT_BUCKETED_FIXTURES", "1")
    yield
    fx.clear_fixture_cache()


@pytest.mark.parametrize("name", QUERIES)
def test_bucketed_serving_plan_has_no_orderkey_exchange(
    spark, tables, entry, bucket_mode, name
):
    qs = entry.queries()
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = qs[name](spark, SF_DIR)
        bad = [ln for ln in _exchange_lines(df) if "orderkey" in ln]
        assert not bad, f"{name} still shuffles on orderkey:\n" + "\n".join(bad)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


@pytest.mark.parametrize("name", QUERIES)
def test_bucketed_serving_results_match_plain(
    spark, tables, entry, bucket_mode, name
):
    from mmw_geoprocessing_spark.sources import fixtures as fx

    qs = entry.queries()
    bucketed = qs[name](spark, SF_DIR).collect()
    # leave bucket mode: same builder now reads the raw parquet
    fx.clear_fixture_cache()
    import os

    os.environ.pop("SPARK_GRAFT_BUCKETED_FIXTURES", None)
    plain = qs[name](spark, SF_DIR).collect()
    key = lambda r: tuple(str(v) for v in r)
    assert sorted(bucketed, key=key) == sorted(plain, key=key)


@pytest.mark.parametrize("name", ["tpch_q3_preagg", "tpch_q10_preagg"])
def test_preagg_serving_skips_lineitem_and_rides_buckets(
    spark, tables, entry, bucket_mode, name
):
    """r13 verdict #3: the revenue-MV serving path must contain NO
    lineitem scan and NO money kernel at query time — the plan reads
    the pre-aggregated MV, joins it to orders on the co-bucketed
    orderkey without an exchange, and tops-k. Results equal the direct
    plan's (same oracle hash-gates both)."""
    qs = entry.queries()
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = qs[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "lineitem" not in plan, f"{name} still scans lineitem"
        assert "revmv" in plan, f"{name} does not read the revenue MV"
        bad = [ln for ln in _exchange_lines(df) if "orderkey" in ln]
        assert not bad, f"{name} still shuffles on orderkey:\n" + "\n".join(bad)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    direct = qs[name.replace("_preagg", "")](spark, SF_DIR).collect()
    served = qs[name](spark, SF_DIR).collect()
    key = lambda r: tuple(str(v) for v in r)
    assert sorted(served, key=key) == sorted(direct, key=key)


def test_q18_having_aggregation_rides_buckets(spark, tables, entry, bucket_mode):
    """q18's groupBy(l_orderkey) HAVING aggregation — the 15 M-group
    shuffle that was its sf10 floor — must aggregate in place on the
    bucketed layout: no exchange between the lineitem scan and the
    orderkey-grouped aggregate."""
    from pyspark.sql import functions as F

    from mmw_geoprocessing_spark.sources.tpch_layout import bucketed_fact

    li = bucketed_fact(spark, SF_DIR, "lineitem")
    agg = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 250)
    )
    assert not _exchange_lines(agg)
