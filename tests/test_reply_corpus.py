"""Wire-reply corpus: the JSON text of ``/run`` and ``/multi`` replies over
the sf0.001 fixtures, pinned byte for byte in ``golden/api_replies.json``.

The corpus covers every ``/run`` operation over AOI ids and over GeoJSON,
both pixel modes, zooms 0, 13 and 12, fixture line pixels and request
stream lines, ``/multi`` over id and GeoJSON shapes with every operation
kind, and the typed 400s. A reply's text must not change: ``/run`` counts
stay integers, ``/multi`` values stay doubles, and key and list order are
kept.

Regenerate the golden file (only when a reply is meant to change) with
``python tests/test_reply_corpus.py``.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from conftest import SF_DIR  # noqa: E402

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "api_replies.json")

# world units per fixture cell at each zoom (geometry.ZOOM_LAYOUTS)
_CELL = {0: 1.0, 13: 30.0, 12: 60.0}


def _polygon(ring, scale: float) -> str:
    return json.dumps(
        {"type": "Polygon", "coordinates": [[[x * scale, y * scale] for x, y in ring]]}
    )


def _square(scale: float) -> str:
    return _polygon([(0, 0), (16, 0), (16, 16), (0, 16), (0, 0)], scale)


def _triangle(scale: float) -> str:
    # off-centre vertices, so area and point sampling differ
    return _polygon([(18.3, 0.7), (30.6, 2.2), (21.1, 13.9), (18.3, 0.7)], scale)


def _lines(scale: float) -> list[str]:
    return [
        json.dumps({"type": "LineString",
                    "coordinates": [[0.5 * scale, 0.5 * scale, 0], [15.5 * scale, 10.5 * scale, 0]]}),
        json.dumps({"type": "MultiLineString",
                    "coordinates": [[[2.5 * scale, 14.0 * scale], [2.5 * scale, 1.0 * scale]],
                                    [[19.0 * scale, 1.5 * scale], [27.0 * scale, 6.0 * scale]]]}),
    ]


def _latlng_square() -> str:
    from mmw_geoprocessing_spark import projection

    ring = [(0, 0), (16, 0), (16, 16), (0, 16), (0, 0)]
    return json.dumps({"type": "Polygon", "coordinates": [[
        list(projection.conus_albers_to_latlng(x * 30.0, y * 30.0)) for x, y in ring
    ]]})


_ID_RUNS = [
    {"operationType": "RasterGroupedCount", "rasters": ["nlcd", "soil"], "aoiIds": ["huc12_01"]},
    {"operationType": "RasterGroupedCount", "rasters": ["nlcd", "gwn"],
     "aoiIds": ["huc12_01", "huc12_02"]},
    {"operationType": "RasterGroupedCountMany", "rasters": ["nlcd"],
     "aoiIds": ["huc12_02", "huc12_01"]},
    {"operationType": "RasterGroupedAverage", "targetRaster": "slope", "aoiIds": ["huc12_01"]},
    {"operationType": "RasterGroupedAverage", "rasters": ["nlcd"], "targetRaster": "slope",
     "aoiIds": ["huc12_01"]},
    {"operationType": "RasterGroupedSum", "rasters": ["nlcd"], "targetRaster": "awc",
     "aoiIds": ["huc12_03"]},
    {"operationType": "RasterLinesJoin", "rasters": ["nlcd"], "aoiIds": ["huc8_01"],
     "useLinePixels": True},
    {"operationType": "RasterSummary", "rasters": ["slope", "awc"], "aoiIds": ["huc12_01"]},
]

_EMPTY_RUNS = [
    {"operationType": "RasterGroupedCount", "rasters": ["nlcd"], "aoiIds": ["huc12_empty"]},
    {"operationType": "RasterGroupedAverage", "targetRaster": "slope", "aoiIds": ["huc12_empty"]},
    {"operationType": "RasterSummary", "rasters": ["slope"], "aoiIds": ["huc12_empty"]},
]

# outside the fixture grid: an empty mask by construction
_FAR = _polygon([(9000, 9000), (9016, 9000), (9016, 9016), (9000, 9016), (9000, 9000)], 1.0)
_FAR_RUNS = [
    {"operationType": "RasterGroupedCount", "rasters": ["nlcd"]},
    {"operationType": "RasterGroupedCountMany", "rasters": ["nlcd"]},
    {"operationType": "RasterGroupedAverage", "targetRaster": "slope"},
    {"operationType": "RasterGroupedAverage", "rasters": ["nlcd"], "targetRaster": "slope"},
    {"operationType": "RasterSummary", "rasters": ["slope", "awc"]},
]


def _geojson_runs(zoom: int, area: bool) -> list[dict]:
    s = _CELL[zoom]
    base = {"polygon": [_square(s)], "polygonCRS": "ConusAlbers", "zoom": zoom,
            "pixelIsArea": area}
    return [
        {**base, "operationType": "RasterGroupedCount", "rasters": ["nlcd", "soil"]},
        {**base, "operationType": "RasterGroupedCountMany", "rasters": ["nlcd"],
         "polygon": [_square(s), _triangle(s)]},
        {**base, "operationType": "RasterGroupedAverage", "targetRaster": "slope"},
        {**base, "operationType": "RasterGroupedAverage", "rasters": ["nlcd"],
         "targetRaster": "kfactor"},
        {**base, "operationType": "RasterGroupedSum", "rasters": ["nlcd"], "targetRaster": "awc"},
        {**base, "operationType": "RasterLinesJoin", "rasters": ["nlcd"], "vector": _lines(s),
         "vectorCRS": "ConusAlbers"},
        {**base, "operationType": "RasterSummary", "rasters": ["slope", "awc"],
         "polygon": [_triangle(s)]},
    ]


def _multi_ops(area: bool) -> list[dict]:
    return [
        {"name": "RasterGroupedCount", "label": "nlcd_soil", "rasters": ["nlcd", "soil"],
         "pixelIsArea": area},
        {"name": "RasterLinesJoin", "label": "nlcd_streams", "rasters": ["nlcd"],
         "pixelIsArea": area},
        {"name": "RasterGroupedSum", "label": "nlcd_awc", "rasters": ["nlcd"],
         "targetRaster": "awc", "pixelIsArea": area},
        {"name": "RasterGroupedAverage", "label": "slope", "targetRaster": "slope",
         "pixelIsArea": area},
        {"name": "RasterGroupedAverage", "label": "nlcd_kfactor", "rasters": ["nlcd"],
         "targetRaster": "kfactor", "pixelIsArea": not area},
    ]


_ERRORS = [
    ("run", {"operationType": "RasterNope", "rasters": ["nlcd"], "aoiIds": ["huc12_01"]}),
    ("run", {"operationType": "RasterGroupedCount", "rasters": ["nope"], "aoiIds": ["huc12_01"]}),
    ("run", {"operationType": "RasterGroupedCount", "rasters": ["nlcd"], "aoiIds": ["huc99"]}),
    ("run", {"operationType": "RasterGroupedCount", "rasters": [], "aoiIds": ["huc12_01"]}),
    ("run", {"operationType": "RasterGroupedCount", "rasters": ["nlcd"]}),
    ("run", {"operationType": "RasterGroupedCountMany", "rasters": ["nlcd"]}),
    ("run", {"operationType": "RasterGroupedAverage", "rasters": ["nlcd"], "aoiIds": ["huc12_01"]}),
    ("run", {"operationType": "RasterLinesJoin", "rasters": ["nlcd"], "aoiIds": ["huc12_01"]}),
    ("run", {"operationType": "RasterSummary", "rasters": [], "aoiIds": ["huc12_01"]}),
    ("run", {"operationType": "RasterGroupedCount", "rasters": ["nlcd"], "zoom": 5,
             "polygon": [_square(1.0)], "polygonCRS": "ConusAlbers"}),
    ("run", {"operationType": "RasterGroupedCount", "rasters": ["nlcd"],
             "polygon": [_square(1.0)], "polygonCRS": "Mars2000"}),
    ("multi", {"shapes": ["huc12_01"], "operations": [
        {"name": "RasterSummary", "label": "s", "rasters": ["slope"]}]}),
    ("multi", {"shapes": ["huc12_01"], "operations": [
        {"name": "RasterGroupedCountMany", "label": "m", "rasters": ["nlcd"]}]}),
    ("multi", {"shapes": ["huc12_01"], "operations": [
        {"name": "RasterGroupedCount", "label": "c", "rasters": ["nope"]}]}),
    ("multi", {"shapes": ["huc99"], "operations": [
        {"name": "RasterGroupedCount", "label": "c", "rasters": ["nlcd"]}]}),
    ("multi", {"shapes": ["huc12_01"], "operations": [
        {"name": "RasterGroupedAverage", "label": "a", "rasters": ["nlcd"]}]}),
    ("multi", {"shapes": [_square(1.0)], "shapeCRS": "ConusAlbers", "operations": [
        {"name": "RasterLinesJoin", "label": "l", "rasters": ["nlcd"]}]}),
]


def corpus() -> list[tuple[str, str, dict]]:
    """(name, endpoint, request document) for every case, in order."""
    cases: list[tuple[str, str, dict]] = []
    for zoom in (0, 13, 12):
        for i, doc in enumerate(_ID_RUNS):
            cases.append((f"run_ids_z{zoom}_{i}", "run", {**doc, "zoom": zoom}))
        for area in (False, True):
            for i, doc in enumerate(_geojson_runs(zoom, area)):
                cases.append((f"run_geojson_z{zoom}_area{int(area)}_{i}", "run", doc))
        cases.append((f"multi_ids_z{zoom}", "multi", {
            "shapes": ["huc12_01", "huc8_01", "huc12_empty"], "zoom": zoom,
            "operations": _multi_ops(False),
        }))
        s = _CELL[zoom]
        cases.append((f"multi_geojson_z{zoom}", "multi", {
            "shapes": [{"id": "sq", "shape": _square(s)}, _triangle(s)],
            "shapeCRS": "ConusAlbers", "zoom": zoom, "streamLines": _lines(s),
            "operations": _multi_ops(zoom != 13),
        }))
    for i, doc in enumerate(_EMPTY_RUNS):
        cases.append((f"run_empty_{i}", "run", doc))
    for i, doc in enumerate(_FAR_RUNS):
        cases.append((f"run_far_{i}", "run", {
            **doc, "polygon": [_FAR], "polygonCRS": "ConusAlbers"}))
    cases.append(("multi_far", "multi", {
        "shapes": [_FAR, _square(1.0)], "shapeCRS": "ConusAlbers",
        "streamLines": _lines(1.0), "operations": _multi_ops(False),
    }))
    cases.append(("run_latlng_z13", "run", {
        "operationType": "RasterGroupedCount", "rasters": ["nlcd", "soil"],
        "polygon": [_latlng_square()], "polygonCRS": "LatLng", "rasterCRS": "ConusAlbers",
        "zoom": 13,
    }))
    cases.append(("multi_latlng_z13", "multi", {
        "shapes": [_latlng_square()], "zoom": 13, "operations": _multi_ops(False)[::2],
    }))
    for i, (endpoint, doc) in enumerate(_ERRORS):
        cases.append((f"error_{i}", endpoint, doc))
    return cases


def reply_text(spark, endpoint: str, doc: dict) -> str:
    """The JSON text the HTTP layer sends for ``doc``: the reply, or
    ``{"error", "message"}`` for a typed 400."""
    from mmw_geoprocessing_spark import http_server
    from mmw_geoprocessing_spark.errors import GeoprocessingError
    from mmw_geoprocessing_spark.plans import api

    try:
        if endpoint == "run":
            reply = api.run_request(spark, http_server.input_data_from_json(doc))
        else:
            reply = api.multi_request(spark, http_server.multi_input_from_json(doc))
    except GeoprocessingError as e:
        reply = {"error": type(e).__name__, "message": str(e)}
    return json.dumps(reply)


def _golden() -> dict[str, str]:
    with open(GOLDEN) as f:
        return {c["name"]: c["reply"] for c in json.load(f)}


@pytest.mark.parametrize("name,endpoint,doc", corpus(), ids=[c[0] for c in corpus()])
def test_reply_matches_golden(spark, tables, name, endpoint, doc):
    assert reply_text(spark, endpoint, doc) == _golden()[name]


def test_corpus_names_match_golden():
    assert [c[0] for c in corpus()] == list(_golden())


def main() -> None:
    from mmw_geoprocessing_spark.session import get_spark
    from mmw_geoprocessing_spark.sources.tables import register_views

    spark = get_spark(app_name="reply-corpus", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    register_views(spark, SF_DIR)
    out = [
        {"name": name, "endpoint": endpoint, "request": doc,
         "reply": reply_text(spark, endpoint, doc)}
        for name, endpoint, doc in corpus()
    ]
    with open(sys.argv[1] if len(sys.argv) > 1 else GOLDEN, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    spark.stop()


if __name__ == "__main__":
    main()
