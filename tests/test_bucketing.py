"""Bucketed-layout contract (SCALE.md): pixel tables stored bucketed +
sorted on the pixel key join WITHOUT a shuffle — the exchange-free layer
join the 100 TB design relies on. Demonstrated, not just documented:
the bucketed full-outer join plan must contain ZERO Exchange operators.

Two planner facts this pins (found by measurement):
- buckets must be on ALL FOUR pixel-key columns: Spark v1 bucketing
  only lines up with a join whose keys equal the bucket keys;
- ``spark.sql.sources.bucketing.autoBucketedScan.enabled`` must be off
  for this shape — the auto rule mis-classifies the bucketed scan as
  unnecessary and re-shuffles.
"""

from __future__ import annotations

import re
import shutil
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from mmw_geoprocessing_spark.sources import fixtures as fx

BUCKET_PATH = "/tmp/spark_graft_bucketed"
KEY = ["key_col", "key_row", "cell_col", "cell_row"]


@pytest.fixture(scope="module")
def bucketed_tables(spark, tables):
    """Write nlcd + soil pixel tables bucketed by the full pixel key
    (external tables under /tmp, so no warehouse config is needed)."""
    shutil.rmtree(BUCKET_PATH, ignore_errors=True)
    prev = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    names = []
    for rid in ("nlcd", "soil"):
        name = f"bkt_{rid}"
        (
            fx.raster_df(spark, rid)
            .write.bucketBy(8, *KEY)
            .sortBy(*KEY)
            .option("path", f"{BUCKET_PATH}/{name}")
            .mode("overwrite")
            .saveAsTable(name)
        )
        names.append(name)
    yield names
    for name in names:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", prev)
    shutil.rmtree(BUCKET_PATH, ignore_errors=True)


def test_bucketed_layer_join_has_no_exchange(spark, bucketed_tables):
    """Joining two co-bucketed pixel tables on the pixel key must plan
    with ZERO Exchange operators — the exchange-free layer join."""
    a, b = (spark.table(n) for n in bucketed_tables)
    joined = a.join(b, on=KEY, how="full")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:2000]
    assert plan.count("Bucketed: true") == 2
    # sanity: the join actually runs and preserves the key-union contract
    n_a, n_b, n_j = a.count(), b.count(), joined.count()
    assert n_j >= max(n_a, n_b)


def test_unbucketed_join_needs_exchange_control(spark, tables):
    """Control: the same join over non-bucketed (checkpointed) fixtures
    DOES shuffle — proving the bucketed layout is what removes it."""
    a = fx.raster_df(spark, "nlcd")
    b = fx.raster_df(spark, "soil")
    joined = a.join(b, on=KEY, how="full")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan


def test_bucketed_mode_flip_restores_auto_bucketed_scan_conf(spark, tables, monkeypatch):
    """Entering bucketed-fixture mode flips autoBucketedScan off for the
    session; clear_fixture_cache() must restore the pre-mode value, so a
    long-lived session that toggles modes is left exactly as found."""
    conf_key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    spark.conf.set(conf_key, "true")
    fx.clear_fixture_cache()  # fresh mode state
    monkeypatch.setenv("SPARK_GRAFT_BUCKETED_FIXTURES", "1")
    try:
        fx.raster_df(spark, "nlcd")  # enters bucketed mode -> conf off
        assert spark.conf.get(conf_key) == "false"
        fx.clear_fixture_cache()  # exits mode -> conf restored
        assert spark.conf.get(conf_key) == "true"
    finally:
        monkeypatch.delenv("SPARK_GRAFT_BUCKETED_FIXTURES", raising=False)
        fx.clear_fixture_cache()
        spark.conf.unset(conf_key)


def test_bucketed_aggregation_avoids_exchange_on_bucket_keys(spark, bucketed_tables):
    """Aggregation grouped by the full bucket key also plans without a
    shuffle (map-side-complete aggregation over co-located buckets)."""
    a = spark.table(bucketed_tables[0])
    agg = a.groupBy(*KEY).agg(F.count(F.lit(1)).alias("n"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:2000]
    assert agg.count() > 0


# Bucket counts the fixture-layout tests run at: the pixel-count rule's
# (1 at sf0.001, where any plan is trivially co-partitioned) and a
# forced 4, so the co-partitioning guards also hold above one bucket.
BUCKET_COUNTS = pytest.mark.parametrize("n_buckets", [None, 4], ids=["rule", "4"])


@BUCKET_COUNTS
def test_bucketed_fixture_reattaches_from_disk(spark, tables, monkeypatch, n_buckets):
    """A bucketed fixture written by a previous PROCESS (simulated by
    dropping the catalog entry, which keeps the external files) is
    re-attached via CLUSTERED BY DDL instead of re-derived, and the
    re-attached table still joins Exchange-free with identical rows."""
    monkeypatch.setattr(fx, "_N_BUCKETS", n_buckets)
    monkeypatch.setenv("SPARK_GRAFT_BUCKETED_FIXTURES", "1")
    fx.clear_fixture_cache()
    try:
        before = fx.raster_df(spark, "nlcd")
        tbl = [t.name for t in spark.catalog.listTables() if t.name.endswith("_r_nlcd")]
        assert tbl, "bucketed table registered"
        want = before.count()
        spark.sql(f"DROP TABLE {tbl[0]}")  # external: files survive
        fx.clear_fixture_cache()
        import os.path

        import mmw_geoprocessing_spark.sources.fixtures as fxmod

        assert os.path.exists(f"{fxmod._BUCKET_DIR}/{tbl[0]}/_SUCCESS")
        monkeypatch.setenv("SPARK_GRAFT_BUCKETED_FIXTURES", "1")
        after = fx.raster_df(spark, "nlcd")
        assert after.count() == want
        joined = after.join(fx.raster_df(spark, "soil"), on=KEY, how="full")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:2000]
    finally:
        monkeypatch.delenv("SPARK_GRAFT_BUCKETED_FIXTURES", raising=False)
        fx.clear_fixture_cache()


def _only_exchange_feeds_final_aggregate(plan: str) -> bool:
    """The physical plan has exactly one Exchange, and it sits between
    the final and the partial HashAggregate."""
    lines = plan.splitlines()
    hits = [i for i, ln in enumerate(lines) if "Exchange" in ln]
    return (
        len(hits) == 1
        and 0 < hits[0] < len(lines) - 1
        and "HashAggregate" in lines[hits[0] - 1]
        and "HashAggregate" in lines[hits[0] + 1]
    )


def _grouped_plans(spark):
    from mmw_geoprocessing_spark.operators import mapshed, zonal

    nlcd, soil, gwn = (fx.raster_df(spark, r) for r in ("nlcd", "soil", "gwn"))
    slope, awc = fx.raster_df(spark, "slope"), fx.raster_df(spark, "awc")
    mask = fx.mask_df(spark, "huc8_01")
    masks = fx.mask_all_df(spark).where(F.col("aoi_id").isin("huc8_01", "huc12_01"))
    return {
        "grouped_count_2": zonal.raster_grouped_count([nlcd, soil], mask),
        "grouped_count_3": zonal.raster_grouped_count([nlcd, soil, gwn], mask),
        "grouped_average": zonal.raster_grouped_average([nlcd], slope, mask),
        "grouped_sum": zonal.raster_grouped_sum([nlcd], awc, mask),
        "lines_join": zonal.raster_lines_join(
            [nlcd, soil], fx.line_pixels_df(spark), mask
        ),
        "template_grouped_count": mapshed.template_df(
            "nlcd_soil", "grouped_count", [nlcd, soil], None, masks
        ),
    }


@BUCKET_COUNTS
def test_mask_first_operators_shuffle_only_into_final_aggregate(
    spark, tables, monkeypatch, n_buckets
):
    """Over bucketed fixtures the mask-first join chain (mask LEFT JOIN
    each layer, merge-hinted) keeps the mask's bucket partitioning: the
    only Exchange of each grouped plan is the one feeding the final
    HashAggregate. A whole-layer full-outer join re-shuffles its
    coalesced keys before the mask join and fails this."""
    monkeypatch.setattr(fx, "_N_BUCKETS", n_buckets)
    monkeypatch.setenv("SPARK_GRAFT_BUCKETED_FIXTURES", "1")
    fx.clear_fixture_cache()
    try:
        for name, df in _grouped_plans(spark).items():
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "Bucketed: true" in plan, (name, plan[:3000])
            assert _only_exchange_feeds_final_aggregate(plan), (name, plan[:3000])
            assert df.count() > 0, name
    finally:
        monkeypatch.delenv("SPARK_GRAFT_BUCKETED_FIXTURES", raising=False)
        fx.clear_fixture_cache()


@pytest.mark.parametrize(
    "pixels, want",
    [(6_000, 1), (60_175, 1), (600_000, 4), (6_001_215, 32), (60_000_000, 256)],
)
def test_bucket_count_follows_pixel_count(pixels, want):
    """The largest power of two <= pixels / 2^17, at least 1: sf0.001,
    sf0.01, the sf0.1 benchmark world, sf1 and sf10 row counts."""
    assert fx.bucket_count_for(pixels) == want


def _selected_buckets(df) -> set[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return set(re.findall(r"SelectedBucketsCount: (\d+ out of \d+)", plan))


def test_bucketed_fixture_scan_uses_rule_bucket_count(spark, tables, monkeypatch):
    """A bucketed fixture is written with the rule's bucket count for the
    session's pixel world, and ``_N_BUCKETS`` overrides the rule."""
    want = fx.bucket_count_for(tables["lineitem"].count())
    monkeypatch.setenv("SPARK_GRAFT_BUCKETED_FIXTURES", "1")
    fx.clear_fixture_cache()
    try:
        sf_dir = fx._ACTIVE_DIR.get(id(spark)) or fx._ACTIVE_DIR.get(0, "")
        assert fx.fixture_bucket_count(spark, sf_dir) == want
        assert _selected_buckets(fx.raster_df(spark, "nlcd")) == {f"{want} out of {want}"}
        monkeypatch.setattr(fx, "_N_BUCKETS", 4)
        fx.clear_fixture_cache()
        assert _selected_buckets(fx.raster_df(spark, "nlcd")) == {"4 out of 4"}
    finally:
        monkeypatch.delenv("SPARK_GRAFT_BUCKETED_FIXTURES", raising=False)
        fx.clear_fixture_cache()


def test_pixel_count_is_counted_once_under_concurrent_first_use(monkeypatch):
    """Server warm-up resolves fixtures from one thread per CPU: the
    first calls for a session race on the memoized pixel count, which
    must run its Spark count once and give every caller the same N."""
    calls = []

    class _Rows:
        def count(self):
            calls.append(1)
            time.sleep(0.01)
            return 600_000

    class _Session:
        def table(self, name):
            assert name == "lineitem"
            return _Rows()

    monkeypatch.setattr(fx, "_N_BUCKETS", None)
    session, key = _Session(), "/pixel-world"
    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(16) as pool:
            futures = [
                pool.submit(fx.fixture_bucket_count, session, key) for _ in range(64)
            ]
            got = [f.result(timeout=60) for f in futures]
    finally:
        sys.setswitchinterval(prev)
        fx._PIXEL_COUNT_CACHE.pop((id(session), key), None)
    assert got == [4] * 64
    assert len(calls) == 1


@pytest.mark.parametrize("kind", ["fixture", "pyramid", "extent"])
def test_cold_fixture_is_built_once_under_concurrent_requests(spark, tables, monkeypatch, kind):
    """Concurrent cold requests resolve the same fixture: each memoized
    relation (a fixture table, a pyramid level, the grid extent) must be
    derived once, and every caller must get the same result."""
    from mmw_geoprocessing_spark.operators import zonal

    monkeypatch.delenv("SPARK_GRAFT_BUCKETED_FIXTURES", raising=False)
    fx.clear_fixture_cache()
    builds = []

    def counted(owner, attr, wanted=lambda *a: True):
        orig = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            if wanted(*args):
                builds.append(1)
                time.sleep(0.2)  # hold the race window open
            return orig(*args, **kwargs)

        monkeypatch.setattr(owner, attr, wrapper)

    if kind == "fixture":
        counted(fx, "with_fixtures", lambda body, *names: names == ("r_soil",))
        resolve = lambda: fx.raster_df(spark, "soil")  # noqa: E731
    elif kind == "pyramid":
        fx.raster_df(spark, "soil")
        counted(zonal, "pyramid_down")
        resolve = lambda: fx.raster_df_at_zoom(spark, "soil", 12)  # noqa: E731
    else:
        fx.fixture_df(spark, "cells")
        counted(fx, "fixture_df", lambda spark_, name: name == "cells")
        resolve = lambda: fx.grid_key_extent(spark)  # noqa: E731
    try:
        with ThreadPoolExecutor(8) as pool:
            got = [f.result(timeout=120) for f in [pool.submit(resolve) for _ in range(8)]]
    finally:
        monkeypatch.undo()
        fx.clear_fixture_cache()
    assert len(builds) == 1
    assert all(g is got[0] for g in got)


# ------------------------------------------------ TPC-H bucketed joins
# (round 10 final: the sf10 TPC-H comparison's recorded follow-up,
# exercised — bucketing orders/lineitem on orderkey removes the join
# exchanges that are the q3/q10/q18 scan+shuffle floor at sf10)


def test_bucketed_orderkey_join_is_exchange_free(spark, tables):
    import pyspark.sql.functions as F

    from mmw_geoprocessing_spark.operators.relational import _sum_money

    import shutil

    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    # DROP only clears the catalog entry; a stale managed-table dir
    # from an earlier session still blocks saveAsTable
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_orders", "b_lineitem"):
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    (
        tables["orders"].write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey").mode("overwrite").saveAsTable("b_orders")
    )
    (
        tables["lineitem"].withColumnRenamed("l_orderkey", "o_orderkey")
        .write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey").mode("overwrite").saveAsTable("b_lineitem")
    )
    bo, bl = spark.table("b_orders"), spark.table("b_lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # the q3/q10 fact-fact core: orderkey join + grouped money agg.
    # Disable broadcast so the plan must rely on bucket co-location
    # (at sf10 neither side is broadcastable — that is the scenario
    # this layout exists for).
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (
            bo.filter(F.col("o_orderdate") < F.lit("1997-01-01"))
            .join(bl, "o_orderkey")
            .groupBy("o_orderkey", "o_orderpriority")
            .agg(_sum_money(rev, 10000).alias("revenue"))
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # bucketed co-location: the fact-fact join AND the
        # groupBy(o_orderkey, ...) ride the bucket partitioning —
        # zero shuffle exchanges, buckets read as join partitions
        assert "Exchange hashpartitioning" not in plan
        assert "SortMergeJoin" in plan
        assert "SelectedBucketsCount: 8 out of 8" in plan
        joined = joined.localCheckpoint()  # materialize under the conf
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # identical results to the plain-parquet plan
    plain = (
        tables["orders"].filter(F.col("o_orderdate") < F.lit("1997-01-01"))
        .join(
            tables["lineitem"].withColumnRenamed("l_orderkey", "o_orderkey"),
            "o_orderkey",
        )
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(_sum_money(rev, 10000).alias("revenue"))
    )
    assert joined.exceptAll(plain).count() == 0
    assert plain.exceptAll(joined).count() == 0
