"""Reply cache of ``plans/api.py``: a repeated request over session
fixtures is answered without Spark, every answer-affecting field is part
of the key, and nothing that is not a pure function of fixtures (GeoJSON,
stream lines, an external catalog, a failed request) is ever stored."""

from __future__ import annotations

import json
import shutil
import time

import pytest

from mmw_geoprocessing_spark import geometry
from mmw_geoprocessing_spark.errors import (
    MissingStreamLinesError,
    MissingTargetRasterError,
    UnknownRasterError,
)
from mmw_geoprocessing_spark.http_server import GeoprocessingServer
from mmw_geoprocessing_spark.plans import api
from mmw_geoprocessing_spark.plans.model import InputData, MultiInput, Operation
from mmw_geoprocessing_spark.sources import catalog
from mmw_geoprocessing_spark.sources import fixtures as fx

SQUARE = json.dumps(
    {"type": "Polygon", "coordinates": [[[0, 0], [40, 0], [40, 24], [0, 24], [0, 0]]]}
)


def _spark_jobs(spark, call):
    """Run ``call()`` in a fresh job group; return (its result, the
    number of Spark jobs the group ran)."""
    sc = spark.sparkContext
    group = f"reply-cache-{time.monotonic_ns()}"
    sc.setJobGroup(group, "reply cache test")
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_repeated_run_request_runs_no_spark_job(spark, tables):
    req = InputData("RasterGroupedCount", rasters=["nlcd", "soil"], aoi_ids=["huc12_01"])
    api.REPLY_CACHE.clear()
    first, first_jobs = _spark_jobs(spark, lambda: api.run_request(spark, req))
    hits = api.REPLY_CACHE.hits
    again, again_jobs = _spark_jobs(spark, lambda: api.run_request(spark, req))
    assert first_jobs > 0  # the miss ran Spark: the check can fail
    assert again_jobs == 0 and api.REPLY_CACHE.hits == hits + 1
    assert again == first and first


def test_repeated_multi_request_runs_no_spark_job(spark, tables):
    req = MultiInput(
        shapes=["huc12_01", "huc12_02"],
        operations=[
            Operation("RasterGroupedCount", "lc", rasters=["nlcd"]),
            Operation("RasterGroupedAverage", "avg_slope", target_raster="slope"),
        ],
    )
    api.REPLY_CACHE.clear()
    first, first_jobs = _spark_jobs(spark, lambda: api.multi_request(spark, req))
    again, again_jobs = _spark_jobs(spark, lambda: api.multi_request(spark, req))
    assert first_jobs > 0
    assert again_jobs == 0
    assert again == first and set(first) == {"huc12_01", "huc12_02"}


def _count(**kw):
    return InputData("RasterGroupedCount", rasters=["nlcd"], aoi_ids=["huc12_01"], **kw)


# (base request, a request differing in one answer-affecting field)
FIELD_VARIANTS = {
    "raster_order": (
        InputData("RasterGroupedCount", rasters=["nlcd", "soil"], aoi_ids=["huc12_01"]),
        InputData("RasterGroupedCount", rasters=["soil", "nlcd"], aoi_ids=["huc12_01"]),
    ),
    "aoi_order": (
        InputData("RasterGroupedCountMany", rasters=["nlcd"], aoi_ids=["huc12_01", "huc12_02"]),
        InputData("RasterGroupedCountMany", rasters=["nlcd"], aoi_ids=["huc12_02", "huc12_01"]),
    ),
    "zoom": (_count(), _count(zoom=12)),
    "pixel_is_area": (_count(), _count(pixel_is_area=True)),
    "target_raster": (
        InputData("RasterGroupedSum", rasters=["nlcd"], target_raster="slope",
                  aoi_ids=["huc12_01"]),
        InputData("RasterGroupedSum", rasters=["nlcd"], target_raster="awc",
                  aoi_ids=["huc12_01"]),
    ),
    "use_line_pixels": (
        InputData("RasterLinesJoin", rasters=["nlcd"], aoi_ids=["huc12_01"],
                  use_line_pixels=True),
        InputData("RasterLinesJoin", rasters=["nlcd"], aoi_ids=["huc12_01"]),
    ),
}


def _answer(spark, req):
    try:
        reply = api.run_request(spark, req)
    except Exception as e:  # noqa: BLE001 — the error is the answer
        return ("raises", type(e).__name__)
    # dict equality ignores order; the order of AOIs and keys is answer too
    return reply, json.dumps(reply)


@pytest.mark.parametrize("field", list(FIELD_VARIANTS))
def test_each_answer_affecting_field_misses(spark, tables, field):
    base, variant = FIELD_VARIANTS[field]
    api.REPLY_CACHE.clear()
    want = _answer(spark, variant)  # computed with nothing cached
    api.REPLY_CACHE.clear()
    _answer(spark, base)
    misses = api.REPLY_CACHE.misses
    assert _answer(spark, variant) == want
    assert api.REPLY_CACHE.misses == misses + 1


def test_raster_order_changes_the_reply(spark, tables):
    """The variants above are not vacuous: swapping rasters swaps keys."""
    a, b = FIELD_VARIANTS["raster_order"]
    assert _answer(spark, a) != _answer(spark, b)
    assert _answer(spark, FIELD_VARIANTS["use_line_pixels"][1])[0] == "raises"


def test_geojson_requests_run_spark_on_every_call(spark, tables):
    req = InputData("RasterGroupedCount", rasters=["nlcd"], shape_geojson=[SQUARE],
                    shape_crs="ConusAlbers")
    api.REPLY_CACHE.clear()
    first, _ = _spark_jobs(spark, lambda: api.run_request(spark, req))
    again, jobs = _spark_jobs(spark, lambda: api.run_request(spark, req))
    assert again == first and first
    assert jobs > 0
    assert len(api.REPLY_CACHE) == 0


def test_catalog_root_requests_run_spark_on_every_call(spark, tables, monkeypatch):
    root = "/tmp/spark_graft_reply_cache_catalog"
    shutil.rmtree(root, ignore_errors=True)
    req = _count()
    try:
        catalog.write_layer(fx.raster_df(spark, "nlcd"), root, "nlcd",
                            layout=geometry.GridLayout())
        monkeypatch.setenv("SPARK_GRAFT_CATALOG_ROOT", root)
        api.REPLY_CACHE.clear()
        first, _ = _spark_jobs(spark, lambda: api.run_request(spark, req))
        again, jobs = _spark_jobs(spark, lambda: api.run_request(spark, req))
        assert again == first and first
        assert jobs > 0
        assert len(api.REPLY_CACHE) == 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_typed_400_leaves_no_entry(spark, tables):
    api.REPLY_CACHE.clear()
    with pytest.raises(UnknownRasterError):
        api.run_request(spark, InputData("RasterGroupedCount", rasters=["bogus"],
                                         aoi_ids=["huc12_01"]))
    with pytest.raises(MissingTargetRasterError):
        api.run_request(spark, InputData("RasterGroupedSum", rasters=["nlcd"],
                                         aoi_ids=["huc12_01"]))
    with pytest.raises(MissingStreamLinesError):
        api.run_request(spark, InputData("RasterLinesJoin", rasters=["nlcd"],
                                         aoi_ids=["huc12_01"]))
    assert len(api.REPLY_CACHE) == 0


def test_cancelled_timeout_leaves_no_entry(spark, tables):
    import urllib.error
    import urllib.request

    api.REPLY_CACHE.clear()  # the request must run Spark to time out
    srv = GeoprocessingServer(spark, port=0, request_timeout_sec=0.02).start()
    try:
        doc = {"operationType": "RasterGroupedCount", "rasters": ["nlcd", "soil"],
               "aoiIds": ["huc8_01"]}
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/run", data=json.dumps(doc).encode(),
            method="POST",
        )
        with pytest.raises(urllib.error.HTTPError) as err:
            urllib.request.urlopen(req)
        assert err.value.code == 503
    finally:
        srv.stop()
        srv._pool.shutdown(wait=True)  # the cancelled request has ended
    assert len(api.REPLY_CACHE) == 0


def test_clear_fixture_cache_empties_reply_cache(spark, tables):
    api.run_request(spark, _count())
    assert len(api.REPLY_CACHE) > 0
    fx.clear_fixture_cache()
    assert len(api.REPLY_CACHE) == 0


def test_mutating_a_reply_does_not_change_the_next_hit(spark, tables):
    req = InputData("RasterSummary", rasters=["slope"], aoi_ids=["huc12_01"])
    first = api.run_request(spark, req)
    want = json.loads(json.dumps(first))
    first[0]["min"] = -1.0
    hit = api.run_request(spark, req)
    assert hit == want
    hit[0]["max"] = -1.0
    assert api.run_request(spark, req) == want


def test_byte_budget_evicts_least_recently_used():
    reply = {"List(1)": 1}
    size = len("a") + len(json.dumps(reply))
    cache = api.ReplyCache(budget_bytes=3 * size)
    for key in "abc":
        cache.put(key, reply)
    assert cache.get("a") == reply  # "b" is now the least recently used
    cache.put("d", reply)
    assert len(cache) == 3
    assert cache.get("b") is None
    assert all(cache.get(k) == reply for k in "acd")
    cache.put("e", {"List(1)": "x" * (3 * size)})  # larger than the budget
    assert cache.get("e") is None and len(cache) == 3
