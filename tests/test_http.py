"""End-to-end HTTP wire-layer tests (reference WebServer.scala:64-111):
/ping, /run, /multi, the 400 taxonomy, the 50 MB body limit and the
request timeout — all over a real socket against a live SparkSession."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from mmw_geoprocessing_spark.http_server import GeoprocessingServer
from mmw_geoprocessing_spark.plans import api
from mmw_geoprocessing_spark.plans.model import InputData


@pytest.fixture(scope="module")
def server(spark, tables):
    srv = GeoprocessingServer(spark, port=0).start()
    yield srv
    srv.stop()


def _get(srv, path):
    with urllib.request.urlopen(f"http://127.0.0.1:{srv.port}{path}") as r:
        return r.status, json.loads(r.read())


def _post(srv, path, doc):
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}",
        data=json.dumps(doc).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_ping(server):
    status, body = _get(server, "/ping")
    assert status == 200 and body == "pong"


def test_run_grouped_count_matches_direct_call(server, spark):
    doc = {
        "operationType": "RasterGroupedCount",
        "rasters": ["nlcd", "soil"],
        "aoiIds": ["huc8_01"],
    }
    status, body = _post(server, "/run", doc)
    assert status == 200
    direct = api.run_request(
        spark,
        InputData(
            operation_type="RasterGroupedCount",
            rasters=["nlcd", "soil"],
            aoi_ids=["huc8_01"],
        ),
    )
    assert body == direct
    assert all(k.startswith("List(") for k in body)


def test_multi_endpoint(server, spark):
    doc = {
        "shapes": ["huc12_01", "huc12_02"],
        "operations": [
            {"name": "RasterGroupedCount", "label": "nlcd", "rasters": ["nlcd"]},
            {
                "name": "RasterGroupedAverage",
                "label": "avg_slope",
                "rasters": [],
                "targetRaster": "slope",
            },
        ],
    }
    status, body = _post(server, "/multi", doc)
    assert status == 200
    assert set(body) == {"huc12_01", "huc12_02"}
    assert set(body["huc12_01"]) == {"nlcd", "avg_slope"}
    assert body["huc12_02"]["avg_slope"]["List(0)"] > 0


def test_invalid_operation_400(server):
    status, body = _post(server, "/run", {"operationType": "Nope"})
    assert status == 400 and body["error"] == "InvalidOperationError"


def test_missing_vector_400(server):
    status, body = _post(
        server, "/run", {"operationType": "RasterGroupedCount", "rasters": ["nlcd"]}
    )
    assert status == 400 and body["error"] == "MissingVectorError"


def test_missing_crs_400(server):
    status, body = _post(
        server,
        "/run",
        {
            "operationType": "RasterGroupedCount",
            "rasters": ["nlcd"],
            "polygon": ['{"type":"Polygon","coordinates":[[[0,0],[1,0],[1,1],[0,0]]]}'],
        },
    )
    assert status == 400 and body["error"] == "MissingVectorCRSError"


def test_unknown_path_404(server):
    status, body = _post(server, "/nope", {})
    assert status == 404


def test_malformed_json_400(server):
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}/run", data=b"{not json", method="POST"
    )
    try:
        with urllib.request.urlopen(req) as r:
            status = r.status
    except urllib.error.HTTPError as e:
        status, body = e.code, json.loads(e.read())
    assert status == 400 and body["error"] == "MalformedJSON"


def test_body_limit_413(spark, tables):
    srv = GeoprocessingServer(spark, port=0, max_body_bytes=64).start()
    try:
        status, body = _post(srv, "/run", {"operationType": "x" * 200})
        assert status == 413 and body["error"] == "PayloadTooLarge"
    finally:
        srv.stop()


def test_request_timeout_503(spark, tables):
    api.REPLY_CACHE.clear()  # a cached reply would beat the timeout
    srv = GeoprocessingServer(spark, port=0, request_timeout_sec=1e-4).start()
    try:
        status, body = _post(
            srv,
            "/run",
            {
                "operationType": "RasterGroupedCount",
                "rasters": ["nlcd"],
                "aoiIds": ["huc8_01"],
            },
        )
        assert status == 503 and body["error"] == "RequestTimeout"
    finally:
        srv.stop()


def test_concurrent_requests(server):
    """The threaded server + worker pool must serve parallel requests
    (Spark accepts concurrent job submission from multiple threads)."""
    from concurrent.futures import ThreadPoolExecutor

    doc = {
        "operationType": "RasterGroupedCount",
        "rasters": ["nlcd"],
        "aoiIds": ["huc12_01"],
    }
    api.REPLY_CACHE.clear()  # each of the parallel requests runs Spark
    with ThreadPoolExecutor(max_workers=4) as pool:
        results = list(pool.map(lambda _: _post(server, "/run", doc), range(4)))
    assert all(status == 200 for status, _ in results)
    bodies = [b for _, b in results]
    assert all(b == bodies[0] for b in bodies)


def test_multi_wire_huc_objects_unwrap():
    """Reference /multi wire shapes are HUC objects {id, shape}
    (WebServer.scala:32-35): the parser must unwrap the GeoJSON string
    and keep the id for response keying; bare-string shapes (engine
    extension) pass through with no ids."""
    from mmw_geoprocessing_spark.http_server import multi_input_from_json

    geo = '{"type": "MultiPolygon", "coordinates": []}'
    m = multi_input_from_json(
        {"shapes": [{"id": "huc12__55174", "shape": geo}, {"shape": geo}],
         "operations": []}
    )
    assert m.shapes == [geo, geo]
    assert m.shape_ids == ["huc12__55174", None]

    m2 = multi_input_from_json({"shapes": ["huc12_01", "huc12_02"], "operations": []})
    assert m2.shapes == ["huc12_01", "huc12_02"]
    assert m2.shape_ids is None


def test_concurrent_mixed_requests_isolated(server):
    """The reference is an Akka server built for OVERLAPPING requests
    (WebServer.scala:64-111; the 120 s timeout exists because they
    overlap). Drive 16 simultaneous /run + /multi requests spanning 8
    DISTINCT request documents (different ops, rasters, AOIs, and both
    endpoints) and assert every response equals its serially-computed
    expectation — no cross-request bleed through the fixture/plan
    caches, no job-group interference."""
    from concurrent.futures import ThreadPoolExecutor

    cases = [
        ("/run", {"operationType": "RasterGroupedCount", "rasters": ["nlcd"],
                  "aoiIds": ["huc12_01"]}),
        ("/run", {"operationType": "RasterGroupedCount", "rasters": ["nlcd", "soil"],
                  "aoiIds": ["huc12_02"]}),
        ("/run", {"operationType": "RasterGroupedAverage", "rasters": ["nlcd"],
                  "targetRaster": "slope", "aoiIds": ["huc12_01"]}),
        ("/run", {"operationType": "RasterGroupedSum", "rasters": ["nlcd"],
                  "targetRaster": "slope", "aoiIds": ["huc12_03"]}),
        ("/run", {"operationType": "RasterSummary", "rasters": ["slope"],
                  "aoiIds": ["huc12_02"]}),
        ("/run", {"operationType": "RasterLinesJoin", "rasters": ["nlcd"],
                  "aoiIds": ["huc12_01"], "useLinePixels": True}),
        ("/multi", {"shapes": ["huc12_01", "huc12_02"], "operations": [
            {"name": "RasterGroupedCount", "label": "lc", "rasters": ["nlcd"]}]}),
        ("/multi", {"shapes": ["huc12_03"], "operations": [
            {"name": "RasterGroupedCount", "label": "lc", "rasters": ["soil"]},
            {"name": "RasterGroupedAverage", "label": "avg_slope",
             "rasters": [], "targetRaster": "slope"}]}),
    ]
    expected = []
    for path, doc in cases:
        status, body = _post(server, path, doc)
        assert status == 200, body
        expected.append(body)

    jobs = [(path, doc, want) for (path, doc), want in zip(cases, expected)] * 2
    api.REPLY_CACHE.clear()  # the simultaneous requests run Spark, not the cache
    with ThreadPoolExecutor(max_workers=16) as pool:
        results = list(pool.map(lambda j: _post(server, j[0], j[1]), jobs))
    for (path, doc, want), (status, body) in zip(jobs, results):
        assert status == 200, (path, doc, body)
        assert body == want, f"cross-request bleed on {path} {doc}"


def test_malformed_zoom_400(server):
    """Shape-coercion failures during request parsing are 400s (the
    reference's malformed-request taxonomy), not worker-side 500s."""
    status, body = _post(
        server,
        "/run",
        {"operationType": "RasterGroupedCount", "rasters": ["nlcd"],
         "aoiIds": ["huc12_01"], "zoom": "abc"},
    )
    assert status == 400 and body["error"] == "MalformedRequest"

    status, body = _post(server, "/multi", {"shapes": ["huc12_01"], "operations": [17]})
    assert status == 400 and body["error"] == "MalformedRequest"


def test_timeout_cancels_job_group_and_frees_worker(spark, tables):
    """After a timeout the Spark jobs behind the request are cancelled
    (job group), so the pool worker frees and the server keeps serving —
    a burst of slow requests must not 503 the server forever."""
    import time

    api.REPLY_CACHE.clear()  # the timed-out requests must run Spark
    srv = GeoprocessingServer(spark, port=0, request_timeout_sec=0.02).start()
    try:
        doc = {"operationType": "RasterGroupedCount", "rasters": ["nlcd", "soil"],
               "aoiIds": ["huc8_01"]}
        for _ in range(3):
            status, body = _post(srv, "/run", doc)
            assert status == 503 and body["error"] == "RequestTimeout"
        # workers must be free again shortly after: a fast request on a
        # generous-timeout server sharing the SAME session still works
        time.sleep(1.0)
    finally:
        srv.stop()
    srv2 = GeoprocessingServer(spark, port=0).start()
    try:
        status, _ = _get(srv2, "/ping")
        assert status == 200
        status, body = _post(
            srv2, "/run",
            {"operationType": "RasterGroupedCount", "rasters": ["nlcd"],
             "aoiIds": ["huc12_01"]},
        )
        assert status == 200 and body
    finally:
        srv2.stop()


@pytest.mark.parametrize(
    "path, doc, error",
    [
        ("/run", {"operationType": "RasterGroupedCount", "rasters": ["bogus"],
                  "aoiIds": ["huc12_01"]}, "UnknownRasterError"),
        ("/run", {"operationType": "RasterGroupedSum", "rasters": ["nlcd"],
                  "targetRaster": "bogus", "aoiIds": ["huc12_01"]}, "UnknownRasterError"),
        ("/run", {"operationType": "RasterGroupedCount", "rasters": ["nlcd"],
                  "aoiIds": ["huc12_01", "bogus"]}, "UnknownAoiError"),
        ("/run", {"operationType": "RasterGroupedCount", "rasters": ["nlcd"],
                  "aoiIds": ["bogus_1", "bogus_2"]}, "UnknownAoiError"),
        ("/multi", {"shapes": ["huc99"], "operations": [
            {"name": "RasterGroupedCount", "label": "lc", "rasters": ["nlcd"]}]},
         "UnknownAoiError"),
        ("/multi", {"shapes": ["huc12_01"], "operations": [
            {"name": "RasterGroupedCount", "label": "lc", "rasters": ["bogus"]}]},
         "UnknownRasterError"),
    ],
    ids=["raster", "target", "one_aoi", "two_aois", "multi_shape", "multi_raster"],
)
def test_unknown_ids_typed_400(server, path, doc, error):
    entries = len(api.REPLY_CACHE)
    status, body = _post(server, path, doc)
    assert status == 400 and body["error"] == error, body
    assert len(api.REPLY_CACHE) == entries


@pytest.mark.parametrize("coord", ["NaN", "Infinity", "-Infinity"])
def test_non_finite_coordinates_typed_400(server, coord):
    polygon = (
        '{"type": "Polygon", "coordinates": '
        f'[[[0, 0], [40, 0], [40, {coord}], [0, 24], [0, 0]]]}}'
    )
    line = f'{{"type": "LineString", "coordinates": [[0, 0], [{coord}, 10]]}}'
    square = '{"type": "Polygon", "coordinates": [[[0, 0], [40, 0], [40, 24], [0, 24], [0, 0]]]}'
    for doc in (
        {"operationType": "RasterGroupedCount", "rasters": ["nlcd"],
         "polygon": [polygon], "polygonCRS": "ConusAlbers"},
        {"operationType": "RasterLinesJoin", "rasters": ["nlcd"],
         "polygon": [square], "polygonCRS": "ConusAlbers", "vector": [line]},
    ):
        status, body = _post(server, "/run", doc)
        assert status == 400 and body["error"] == "InvalidGeometryError", body


def _raw_post(srv, content_length: str) -> bytes:
    """POST /run with the given Content-Length header and no body; the
    bytes the server sends back within 5 s."""
    import socket

    with socket.create_connection(("127.0.0.1", srv.port), timeout=5) as sock:
        sock.sendall(
            b"POST /run HTTP/1.1\r\nHost: localhost\r\n"
            + f"Content-Length: {content_length}\r\n\r\n".encode()
        )
        reply = b""
        while chunk := sock.recv(65536):
            reply += chunk
    return reply


@pytest.mark.parametrize("content_length", ["-1", "abc"])
def test_bad_content_length_400(server, content_length):
    reply = _raw_post(server, content_length)
    head, _, body = reply.partition(b"\r\n\r\n")
    assert head.split(b" ")[1] == b"400", reply
    assert json.loads(body)["error"] == "MalformedRequest"


def test_missing_catalog_layer_is_typed_400(server, tmp_path, monkeypatch):
    """Under a catalog root, a raster id with no ``layer=<id>`` directory
    is an UnknownRasterError on both endpoints, not a Spark
    PATH_NOT_FOUND 500."""
    (tmp_path / "layer=nlcd").mkdir()
    monkeypatch.setenv("SPARK_GRAFT_CATALOG_ROOT", str(tmp_path))
    shape = '{"type":"Polygon","coordinates":[[[0,0],[16,0],[16,16],[0,16],[0,0]]]}'
    status, body = _post(server, "/run", {
        "operationType": "RasterGroupedCount", "rasters": ["nope"],
        "polygon": [shape], "polygonCRS": "ConusAlbers",
    })
    assert status == 400 and body["error"] == "UnknownRasterError", body
    status, body = _post(server, "/multi", {
        "shapes": [shape], "shapeCRS": "ConusAlbers",
        "operations": [{"name": "RasterGroupedCount", "label": "c", "rasters": ["nlcd", "nope"]}],
    })
    assert status == 400 and body["error"] == "UnknownRasterError", body
