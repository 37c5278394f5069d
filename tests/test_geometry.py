"""Geometry path: rasterizer semantics including the PixelIsPoint vs
PixelIsArea divergence (FIXTURES.md §7.8, reference Utils.scala:109-118)."""

from __future__ import annotations

import pytest

from mmw_geoprocessing_spark import geometry


def _mask_set(spark, polys, pixel_is_area, layout=geometry.DEFAULT_LAYOUT):
    df = geometry.rasterize_polygons(spark, polys, pixel_is_area, layout)
    return {
        (r.key_col, r.key_row, r.cell_col, r.cell_row) for r in df.collect()
    }


def test_point_vs_area_sampling_diverge(spark):
    """A polygon clipping cell corners but missing centers: PixelIsArea
    (includePartial) must cover strictly more cells than PixelIsPoint."""
    polys = geometry.parse_multipolygon(
        '{"type":"Polygon","coordinates":[[[0.9,0.9],[3.1,0.9],[3.1,3.1],[0.9,3.1],[0.9,0.9]]]}'
    )
    pt = _mask_set(spark, polys, pixel_is_area=False)
    ar = _mask_set(spark, polys, pixel_is_area=True)
    assert pt  # centers of cells 1..2 x 1..2
    assert pt < ar  # area sampling adds the partially-covered rim cells
    assert len(pt) == 4 and len(ar) == 16


def test_polygon_with_hole(spark):
    """Even-odd ring handling: the hole's cells are excluded."""
    polys = geometry.parse_multipolygon(
        '{"type":"Polygon","coordinates":['
        "[[0,0],[8,0],[8,8],[0,8],[0,0]],"
        "[[2,2],[6,2],[6,6],[2,6],[2,2]]"
        "]}"
    )
    pt = _mask_set(spark, polys, pixel_is_area=False)
    assert len(pt) == 64 - 16  # 8x8 outer minus 4x4 hole
    assert (0, 0, 3, 3) not in pt  # inside the hole


def test_area_sampling_catches_sliver(spark):
    """A thin sliver crossing cells 1..6 touches them ONLY via edge
    crossings — no cell center inside, no cell corner inside, no polygon
    vertex in those cells. Exact PixelIsArea must still include them."""
    polys = geometry.parse_multipolygon(
        '{"type":"Polygon","coordinates":[[[0.4,0.1],[7.6,0.2],[0.4,0.2],[0.4,0.1]]]}'
    )
    pt = _mask_set(spark, polys, pixel_is_area=False)
    ar = _mask_set(spark, polys, pixel_is_area=True)
    assert pt == set()  # no cell centers (y=0.5) inside
    assert {(0, 0, c, 0) for c in range(8)} <= ar  # all 8 crossed cells


def test_non_polygon_geojson_tolerant(spark):
    assert geometry.parse_multipolygon('{"type":"Point","coordinates":[1,2]}') == []


@pytest.mark.parametrize("coord", [float("nan"), float("inf"), float("-inf")])
def test_non_finite_coordinates_rejected(coord):
    """JSON parsers accept NaN and Infinity literals: such a vertex is a
    typed 400, not an empty mask or an overflow in the grid arithmetic."""
    import json

    from mmw_geoprocessing_spark.errors import InvalidGeometryError

    ring = [[0, 0], [4, 0], [4, coord], [0, 4], [0, 0]]
    for geo in (
        {"type": "Polygon", "coordinates": [ring]},
        {"type": "MultiPolygon", "coordinates": [[[[0, 0], [1, 0], [0, 1], [0, 0]]], [ring]]},
    ):
        with pytest.raises(InvalidGeometryError):
            geometry.parse_multipolygon(json.dumps(geo))


def test_line_walk_crosses_tiles(spark):
    df = geometry.rasterize_lines(spark, [[(0.5, 0.5), (20.5, 0.5)]])
    rows = df.collect()
    assert {r.key_col for r in rows} == {0, 1, 2}  # crosses 3 tiles of 8
    assert len(rows) == 21  # 21 cells under the 20-unit horizontal segment


def test_overlapping_polygons_union_not_xor(spark):
    """Two overlapping squares must rasterize as their UNION (reference
    unions geometries before rasterizing, Utils.scala:70-73): the overlap
    region is counted once, not XOR'd out."""
    polys = geometry.parse_multipolygon(
        '{"type":"MultiPolygon","coordinates":['
        "[[[0,0],[4,0],[4,4],[0,4],[0,0]]],"
        "[[[2,2],[6,2],[6,6],[2,6],[2,2]]]"
        "]}"
    )
    pt = _mask_set(spark, polys, pixel_is_area=False)
    # union of a 4x4 and a 4x4 overlapping on a 2x2 -> 16 + 16 - 4 cells
    assert len(pt) == 28
    assert (0, 0, 3, 3) in pt  # center of the overlap region stays in


def test_hole_still_subtracts_within_its_polygon(spark):
    """The per-polygon even-odd split must not break hole handling when
    another polygon overlaps elsewhere."""
    polys = geometry.parse_multipolygon(
        '{"type":"MultiPolygon","coordinates":['
        "[[[0,0],[8,0],[8,8],[0,8],[0,0]],[[2,2],[6,2],[6,6],[2,6],[2,2]]],"
        "[[[10,0],[12,0],[12,2],[10,2],[10,0]]]"
        "]}"
    )
    pt = _mask_set(spark, polys, pixel_is_area=False)
    assert (0, 0, 3, 3) not in pt  # hole of polygon 1
    assert (1, 0, 2, 0) in pt  # cell (10..11, 0..1) center of polygon 2
    assert len(pt) == (64 - 16) + 4


def test_bowtie_even_odd_matches_buffer0_lobes(spark):
    """Self-intersecting 'bowtie' ring: the winding repair (pure-python
    buffer(0), triggered because ring_is_simple is False) fills exactly
    the two lobes — the region GEOS buffer(0) (the reference's repair,
    Utils.scala:137-143) resolves the ring to, and identical to the
    formerly-pinned even-odd mask for this shape (lobes have winding
    ±1). The divergent case — winding 2 — is pinned by the pentagram
    test below."""
    polys = geometry.parse_multipolygon(
        '{"type":"Polygon","coordinates":[[[0,0],[8,8],[8,0],[0,8],[0,0]]]}'
    )
    pt = _mask_set(spark, polys, pixel_is_area=False)
    # left lobe triangle (0,0),(0,8),(4,4) and right lobe (8,8),(8,0),(4,4)
    assert (0, 0, 0, 3) in pt and (0, 0, 7, 3) in pt  # deep in each lobe
    assert (0, 0, 3, 0) not in pt and (0, 0, 4, 7) not in pt  # above/below X
    # exactly the bowtie's 32 cells (area 2 x 16); strict interiors are
    # 12 per lobe, and the 8 centers lying exactly ON the crossing
    # diagonals resolve to the right lobe (strict px < xint edge rule) —
    # the pinned deterministic boundary behavior
    left_strict = {(0, 0, c, r) for c in range(8) for r in range(8) if r > c and r + c < 7}
    right_strict = {(0, 0, c, r) for c in range(8) for r in range(8) if r < c and r + c > 7}
    on_diag = {(0, 0, c, c) for c in range(4, 8)} | {(0, 0, c, 7 - c) for c in range(4, 8)}
    assert pt == left_strict | right_strict | on_diag
    assert len(pt) == 32


def test_layout_512_tile(spark):
    """Reference-style 512x512 tile layout: same polygon, one big tile."""
    layout = geometry.GridLayout(tile_size=512)
    polys = geometry.parse_multipolygon(
        '{"type":"Polygon","coordinates":[[[0.9,0.9],[3.1,0.9],[3.1,3.1],[0.9,3.1],[0.9,0.9]]]}'
    )
    df = geometry.rasterize_polygons(spark, polys, layout=layout)
    cells = {(r.key_col, r.key_row, r.cell_col, r.cell_row) for r in df.collect()}
    assert cells == {(0, 0, c, r) for c in (1, 2) for r in (1, 2)}


def test_layout_origin_cellsize(spark):
    """A 30 m grid anchored at (1000, 2000): world coords divide through
    the layout, producing the same mask as the unit-grid equivalent."""
    layout = geometry.GridLayout(tile_size=8, origin_x=1000.0, origin_y=2000.0, cellsize=30.0)
    polys = [[[(1000 + 0.9 * 30, 2000 + 0.9 * 30), (1000 + 3.1 * 30, 2000 + 0.9 * 30),
               (1000 + 3.1 * 30, 2000 + 3.1 * 30), (1000 + 0.9 * 30, 2000 + 3.1 * 30),
               (1000 + 0.9 * 30, 2000 + 0.9 * 30)]]]
    df = geometry.rasterize_polygons(spark, polys, layout=layout)
    cells = {(r.key_col, r.key_row, r.cell_col, r.cell_row) for r in df.collect()}
    assert cells == {(0, 0, c, r) for c in (1, 2) for r in (1, 2)}


def test_line_layout_scaled(spark):
    layout = geometry.GridLayout(tile_size=8, origin_x=100.0, origin_y=0.0, cellsize=10.0)
    df = geometry.rasterize_lines(spark, [[(105.0, 5.0), (305.0, 5.0)]], layout=layout)
    rows = df.collect()
    assert {r.key_col for r in rows} == {0, 1, 2}
    assert len(rows) == 21


# An AOI 128 x 18 tiles wide: 147,456 candidate cells, three driver
# chunks at the default chunk size. Vertices sit off the half-cell
# lattice, so no cell center lies on an edge.
_WIDE_SIMPLE = [[[
    (3.17, 2.29), (611.43, 9.71), (1019.61, 71.13), (702.37, 139.83),
    (388.91, 88.41), (151.77, 141.57), (40.33, 97.19), (3.17, 2.29),
]]]
_WIDE_SELF_CROSSING = [[[  # a bowtie: its two edges cross mid-AOI
    (3.17, 2.29), (1019.61, 141.57), (1019.61, 2.29), (3.17, 141.57), (3.17, 2.29),
]]]


@pytest.mark.parametrize("chunk", [None, 777])
@pytest.mark.parametrize("pixel_is_area", [False, True])
@pytest.mark.parametrize("polys", [_WIDE_SIMPLE, _WIDE_SELF_CROSSING], ids=["simple", "bowtie"])
def test_mask_independent_of_candidate_chunks(spark, monkeypatch, chunk, pixel_is_area, polys):
    """The driver-side kernel runs over bounded chunks of candidates; a
    chunk boundary must not change the mask. The whole AOI's mask equals
    the union of the masks of its per-tile-row pieces (each one chunk),
    for a simple and a self-crossing ring, in both pixel modes, at the
    default chunk size and at one that cuts through tiles."""
    import dataclasses

    if chunk is not None:
        monkeypatch.setattr(geometry, "_CANDIDATE_CHUNK", chunk)
    whole = _mask_set(spark, polys, pixel_is_area)
    assert not geometry.ring_is_simple(_WIDE_SELF_CROSSING[0][0])
    pieces = set()
    for kr in range(18):
        row = dataclasses.replace(geometry.DEFAULT_LAYOUT, extent_keys=(0, kr, 127, kr))
        pieces |= _mask_set(spark, polys, pixel_is_area, row)
    assert whole and whole == pieces
    assert {k[1] for k in whole} == set(range(18))  # the AOI spans every tile row


def test_point_mask_equals_scalar_containment_on_cell_centers(spark):
    """PixelIsPoint over several chunks equals the vectorized scalar
    containment helper evaluated on every candidate cell center."""
    import numpy as np

    whole = _mask_set(spark, _WIDE_SIMPLE, pixel_is_area=False)
    gx, gy = np.meshgrid(np.arange(128 * 8), np.arange(18 * 8), indexing="ij")
    gx, gy = gx.ravel(), gy.ravel()
    inside = geometry._points_in_polys_batch(
        gx + 0.5, gy + 0.5, _WIDE_SIMPLE, geometry._poly_simple_flags(_WIDE_SIMPLE)
    )
    want = {
        (int(x) // 8, int(y) // 8, int(x) % 8, int(y) % 8)
        for x, y in zip(gx[inside], gy[inside])
    }
    assert geometry.ring_is_simple(_WIDE_SIMPLE[0][0])
    assert len(gx) > 2 * geometry._CANDIDATE_CHUNK  # three chunks
    assert whole == want


# ---------------------------------------------------------------------------
# Reprojection (projection.py) — closed-form Albers / Web Mercator
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

from mmw_geoprocessing_spark import projection

# CONUS extent (the domain EPSG:5070 is defined for)
conus_lon = st.floats(min_value=-124.7, max_value=-66.9)
conus_lat = st.floats(min_value=24.5, max_value=49.4)


def test_albers_origin_maps_to_zero():
    x, y = projection.latlng_to_conus_albers(-96.0, 23.0)
    assert abs(x) < 1e-6 and abs(y) < 1e-6


def test_albers_axis_orientation():
    x_e, _ = projection.latlng_to_conus_albers(-90.0, 40.0)
    x_w, _ = projection.latlng_to_conus_albers(-100.0, 40.0)
    assert x_e > 0 > x_w  # east of lon0 -> +x
    _, y_n = projection.latlng_to_conus_albers(-96.0, 45.0)
    _, y_s = projection.latlng_to_conus_albers(-96.0, 30.0)
    assert y_n > y_s > 0  # north of lat0 -> larger y


@settings(max_examples=200, deadline=None)
@given(conus_lon, conus_lat)
def test_albers_round_trip(lon, lat):
    x, y = projection.latlng_to_conus_albers(lon, lat)
    lon2, lat2 = projection.conus_albers_to_latlng(x, y)
    assert abs(lon2 - lon) < 1e-9 and abs(lat2 - lat) < 1e-9


@settings(max_examples=200, deadline=None)
@given(st.floats(min_value=-179.9, max_value=179.9), st.floats(min_value=-85.0, max_value=85.0))
def test_mercator_round_trip(lon, lat):
    x, y = projection.latlng_to_web_mercator(lon, lat)
    lon2, lat2 = projection.web_mercator_to_latlng(x, y)
    assert abs(lon2 - lon) < 1e-9 and abs(lat2 - lat) < 1e-9


@settings(max_examples=50, deadline=None)
@given(conus_lon, conus_lat)
def test_cross_crs_transform_hub(lon, lat):
    """WebMercator -> ConusAlbers goes through LatLng exactly."""
    mx, my = projection.latlng_to_web_mercator(lon, lat)
    ax, ay = projection.transform_point(mx, my, "WebMercator", "ConusAlbers")
    ax2, ay2 = projection.latlng_to_conus_albers(lon, lat)
    assert abs(ax - ax2) < 1e-6 and abs(ay - ay2) < 1e-6


def test_latlng_request_matches_native_crs_request(spark, tables):
    """End-to-end reprojection parity (reference Utils.scala:96-98):
    a GeoJSON AOI given in LatLng against an Albers-framed 30 m grid
    produces the SAME mask as the identical AOI given natively in
    ConusAlbers."""
    import json as _json

    from mmw_geoprocessing_spark.plans import api
    from mmw_geoprocessing_spark.plans.model import InputData

    def _mask(spark, d):
        return api._resolve(spark, api._from_run(d)).masks[d.pixel_is_area]

    # a 30 m grid anchored near Philadelphia in EPSG:5070
    ox, oy = projection.latlng_to_conus_albers(-75.2, 39.9)
    layout = geometry.GridLayout(tile_size=8, origin_x=ox, origin_y=oy, cellsize=30.0)

    # square AOI in the Albers frame, then the same square in LatLng
    albers_ring = [
        (ox + 20.0, oy + 25.0), (ox + 200.0, oy + 25.0),
        (ox + 200.0, oy + 190.0), (ox + 20.0, oy + 190.0), (ox + 20.0, oy + 25.0),
    ]
    latlng_ring = [projection.conus_albers_to_latlng(x, y) for x, y in albers_ring]

    def gj(ring):
        return _json.dumps(
            {"type": "Polygon", "coordinates": [[list(p) for p in ring]]}
        )

    native = InputData(
        operation_type="RasterGroupedCount", rasters=["nlcd"],
        shape_geojson=[gj(albers_ring)], shape_crs="ConusAlbers", layout=layout,
    )
    reproj = InputData(
        operation_type="RasterGroupedCount", rasters=["nlcd"],
        shape_geojson=[gj(latlng_ring)], shape_crs="LatLng",
        raster_crs="ConusAlbers", layout=layout,
    )
    cells_native = {tuple(r) for r in _mask(spark, native).collect()}
    cells_reproj = {tuple(r) for r in _mask(spark, reproj).collect()}
    assert cells_native and cells_native == cells_reproj


def test_overlap_union_holds_in_area_mode(spark):
    """PixelIsArea sampling must also treat overlapping polygons as a
    union: the shared boundary region is included once, never XOR'd."""
    polys = geometry.parse_multipolygon(
        '{"type":"MultiPolygon","coordinates":['
        "[[[0.2,0.2],[3.8,0.2],[3.8,3.8],[0.2,3.8],[0.2,0.2]]],"
        "[[[2.2,2.2],[5.8,2.2],[5.8,5.8],[2.2,5.8],[2.2,2.2]]]"
        "]}"
    )
    ar = _mask_set(spark, polys, pixel_is_area=True)
    # both squares' full pixel footprints, overlap counted once
    sq1 = {(0, 0, c, r) for c in range(4) for r in range(4)}
    sq2 = {(0, 0, c, r) for c in range(2, 6) for r in range(2, 6)}
    assert ar == sq1 | sq2


def test_clip_lines_convex_and_notched():
    """Parameter-interval clipping: exact sub-segments inside the AOI
    union (reference Utils.scala:196-198 clips geometrically before
    rasterizing)."""
    import pytest

    from mmw_geoprocessing_spark.geometry import clip_lines

    square = [[[(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)]]]
    segs = clip_lines([[(-2.0, 2.0), (6.0, 2.0)]], square)
    assert len(segs) == 1
    (xa, ya), (xb, yb) = segs[0]
    assert (xa, ya, xb, yb) == pytest.approx((0.0, 2.0, 4.0, 2.0))

    # non-convex U shape: horizontal line crosses the notch -> 2 pieces
    u_shape = [[[(0.0, 0.0), (6.0, 0.0), (6.0, 4.0), (4.0, 4.0), (4.0, 1.0),
                 (2.0, 1.0), (2.0, 4.0), (0.0, 4.0), (0.0, 0.0)]]]
    segs = clip_lines([[(-1.0, 2.0), (7.0, 2.0)]], u_shape)
    assert len(segs) == 2
    spans = sorted((round(a[0], 9), round(b[0], 9)) for a, b in segs)
    assert spans == [(0.0, 2.0), (4.0, 6.0)]

    # fully-outside segment clips to nothing
    assert clip_lines([[(10.0, 10.0), (12.0, 10.0)]], square) == []


def test_ring_is_simple_detection():
    square = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)]
    bowtie = [(0.0, 0.0), (8.0, 8.0), (8.0, 0.0), (0.0, 8.0), (0.0, 0.0)]
    assert geometry.ring_is_simple(square)
    assert not geometry.ring_is_simple(bowtie)


def test_pentagram_winding_repair_fills_center(spark):
    """The canonical buffer(0) case even-odd gets WRONG: a pentagram
    drawn as one self-crossing ring. Its center pentagon has winding 2 —
    GEOS buffer(0) (Utils.scala:137-143) resolves the ring to the full
    star including the center; plain even-odd drops the center. The
    winding repair must fill the center cell."""
    import math as m

    cx0, cy0, r = 4.0, 4.0, 4.0
    pts = [
        (cx0 + r * m.cos(m.radians(90 + 72 * k)), cy0 + r * m.sin(m.radians(90 + 72 * k)))
        for k in range(5)
    ]
    star_order = [0, 2, 4, 1, 3, 0]  # connect every second vertex
    ring = [pts[i] for i in star_order]
    assert not geometry.ring_is_simple(ring)

    import json as j

    polys = geometry.parse_multipolygon(
        j.dumps({"type": "Polygon", "coordinates": [[list(p) for p in ring]]})
    )
    cells = _mask_set(spark, polys, pixel_is_area=False)
    # center cell (4,4) has its center (4.5,4.5) just off the exact
    # star center — winding 2 region, even-odd parity 0
    assert (0, 0, 4, 4) in cells
    # a star-arm cell (winding 1) must stay filled
    assert (0, 0, 2, 4) in cells
    # and the scalar helper agrees (clip_lines consistency)
    from mmw_geoprocessing_spark.geometry import _point_in_polys

    assert _point_in_polys(4.5, 4.5, polys)
    assert not _point_in_polys(7.9, 7.9, polys)
