"""Seeded inputs for the service benchmark: the pixel source tables and the
request streams of each workload.

Everything here is owned by the benchmark, not by the program under test,
so a change to the program never changes what the benchmark sends:

- ``write_tables`` writes the two parquet tables the raster fixtures are
  derived from (``lineitem`` orders the pixels, ``nation`` ids the stream
  lines). The content is fixed; only the row count varies. The fixtures
  depend only on the row order and count, so 600,000 rows give the sf0.1
  pixel world (32 x 293 tiles of 8 x 8 cells) bit for bit.
- ``make_stream`` turns (workload, seed) into a warm-up list and a timed
  request list. Request mixes are stratified (a fixed cycle of operation
  kinds and size classes; the seed picks rasters, AOIs and shapes inside
  each slot) so a run's median sees the same mix on every seed.
- ``rasterize`` is the benchmark's own even-odd scanline rasterizer over
  the generator's ConusAlbers vertices, used to derive the expected answer
  of every GeoJSON request independently of ``geometry.rasterize_polygons``.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np

TILE = 8
GRID_COLS = 32 * TILE  # fixtures: key_col = (pix / 64) % 32
ZOOM = 13
CELLSIZE = 30.0  # geometry.ZOOM_LAYOUTS[13]: 8x8 tiles of 30 m cells at origin (0, 0)

# run_aoi: every 10 requests fill these slots of (operation, raster count,
# AOI); the seed only picks among rasters and HUC-12s of equal cost, so the
# cost of a run's mix does not depend on the seed. About 50 distinct
# documents, so requests repeat within a run. The rasters and AOIs are
# few because set-up writes one bucketed fixture table for each.
AOI_CYCLE = [
    ("RasterGroupedCount", 1, "huc12"),
    ("RasterSummary", 1, "huc12"),
    ("RasterGroupedCount", 2, "huc8_01"),
    ("RasterGroupedAverage", 1, "huc12"),
    ("RasterLinesJoin", 1, "huc8_01"),
    ("RasterGroupedCount", 3, "huc12"),
    ("RasterGroupedSum", 1, "huc12"),
    ("RasterGroupedCount", 1, "huc8_01"),
    ("RasterGroupedCount", 2, "huc12_empty"),
    ("RasterSummary", 1, "huc8_01"),
]
HUC12_IDS = ["huc12_01", "huc12_02"]
GROUP_RASTERS = ["nlcd", "soil", "gwn"]
TARGET_RASTERS = ["slope"]

# run_geojson / catalog_geojson: every 16 requests cover 4 vertex counts x
# 4 AOI sizes (cells), each with one of the four operations. "MapShed" is a
# /multi request with the polygon as its one shape and two MapShed
# worksheet operations over the same rasters (MAPSHED_SLOT_OPERATIONS).
# The ladder stops at 1,024 vertices: a 4,096-vertex polygon costs 1-2 s of
# driver CPU more than the rest of its request, and with a dozen requests
# per run those few slow slots made the run's median jump (on 4 shared
# vCPUs, quartile spread 0.13 of the median over 5 seeds with them, 0.11
# without).
VERTEX_LADDER = [64, 256, 512, 1024]
CELLS_LADDER = [600, 1_300, 2_800, 6_000]
# GeoJSON AOIs fall in the bottom 8 key rows, the band the catalog
# workload ingests: 256 tile files per layer (a full sf0.1 layer has
# 9,376, about a minute of ingest per layer)
GEOJSON_BAND_ROWS = 8 * TILE
GEOJSON_OPS = [
    ("RasterGroupedCount", ["nlcd"]),
    ("RasterGroupedCount", ["nlcd", "soil"]),
    ("RasterSummary", ["slope"]),
    ("MapShed", []),
]

# multi_mapshed: the MapShed worksheet (operators.mapshed.TEMPLATES) over
# huc8_01 and its 8 HUC-12 subbasins, as the reference's benchmark sends it
MAPSHED_SHAPES = ["huc8_01", *(f"huc12_0{k}" for k in range(1, 9))]
MAPSHED_OPERATIONS = [
    {"name": "RasterGroupedCount", "label": "nlcd_soil", "rasters": ["nlcd", "soil"]},
    {"name": "RasterLinesJoin", "label": "nlcd_streams", "rasters": ["nlcd"]},
    {"name": "RasterGroupedCount", "label": "gwn", "rasters": ["gwn"]},
    {"name": "RasterGroupedAverage", "label": "avg_awc", "rasters": [], "targetRaster": "awc"},
    {"name": "RasterGroupedAverage", "label": "nlcd_slope", "rasters": ["nlcd"], "targetRaster": "slope"},
    {"name": "RasterGroupedAverage", "label": "slope", "rasters": [], "targetRaster": "slope"},
    {"name": "RasterGroupedAverage", "label": "nlcd_kfactor", "rasters": ["nlcd"], "targetRaster": "kfactor"},
    {"name": "RasterGroupedAverage", "label": "soiln", "rasters": [], "targetRaster": "soiln"},
    {"name": "RasterGroupedAverage", "label": "soilp", "rasters": [], "targetRaster": "soilp"},
    {"name": "RasterGroupedAverage", "label": "recess_coef", "rasters": [], "targetRaster": "bfi"},
]
# two worksheet operations over the GeoJSON rasters, a grouped count and a
# plain average, so that the slot costs about as much as a /run request
# (the whole worksheet is the multi_mapshed workload)
MAPSHED_SLOT_OPERATIONS = [
    op for op in MAPSHED_OPERATIONS if op["label"] in ("nlcd_soil", "slope")
]

WORKLOADS = {
    # name -> closed-loop clients. The GeoJSON workloads use one: with two,
    # a request's latency depends on which request the other client runs
    # beside it, and a run has only a dozen requests to average that out.
    "run_aoi": 4,
    "run_geojson": 1,
    "multi_mapshed": 1,
    "catalog_geojson": 1,
}


def write_tables(out_dir: str, rows: int) -> None:
    """Write ``lineitem`` (l_orderkey, l_linenumber) and ``nation``
    (n_nationkey) parquet files. Fixed content for a given row count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(42)
    lines = rng.integers(1, 8, rows // 4 + 8)  # 1..7 lines per order, as TPC-H
    orderkey = np.repeat(np.arange(1, len(lines) + 1, dtype=np.int64) * 4, lines)[:rows]
    linenumber = np.concatenate([np.arange(1, k + 1, dtype=np.int32) for k in lines])[:rows]
    for name, table in (
        ("lineitem", pa.table({"l_orderkey": orderkey, "l_linenumber": linenumber})),
        ("nation", pa.table({"n_nationkey": np.arange(25, dtype=np.int32)})),
    ):
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


def grid_rows(rows: int) -> int:
    """Cell rows fully covered by pixels (whole key rows only)."""
    return (rows // (GRID_COLS * TILE)) * TILE


# ---------------------------------------------------------------------------
# ConusAlbers (EPSG:5070) inverse, from Snyder, Map Projections - A Working
# Manual (USGS PP 1395), eqs. 14-10, 14-11 and 3-16. Kept here so the
# generated LatLng vertices never depend on the program's projection code.
# ---------------------------------------------------------------------------
_A = 6378137.0
_F = 1.0 / 298.257222101
_E2 = _F * (2.0 - _F)
_E = math.sqrt(_E2)


def _q(s: float) -> float:
    return (1.0 - _E2) * (
        s / (1.0 - _E2 * s * s) - (1.0 / (2.0 * _E)) * math.log((1.0 - _E * s) / (1.0 + _E * s))
    )


def _m(phi: float) -> float:
    s = math.sin(phi)
    return math.cos(phi) / math.sqrt(1.0 - _E2 * s * s)


_M1, _M2 = _m(math.radians(29.5)), _m(math.radians(45.5))
_Q0, _Q1, _Q2 = (_q(math.sin(math.radians(d))) for d in (23.0, 29.5, 45.5))
_N = (_M1 * _M1 - _M2 * _M2) / (_Q2 - _Q1)
_C = _M1 * _M1 + _N * _Q1
_RHO0 = _A * math.sqrt(_C - _N * _Q0) / _N
_LON0 = math.radians(-96.0)


def albers_to_latlng(x: float, y: float) -> tuple[float, float]:
    rho = math.hypot(x, _RHO0 - y)
    theta = math.atan2(x, _RHO0 - y)
    q = (_C - (rho * _N / _A) ** 2) / _N
    phi = math.asin(q / 2.0)
    for _ in range(20):
        s = math.sin(phi)
        d = 1.0 - _E2 * s * s
        corr = (d * d / (2.0 * math.cos(phi))) * (
            q / (1.0 - _E2) - s / d + (1.0 / (2.0 * _E)) * math.log((1.0 - _E * s) / (1.0 + _E * s))
        )
        phi += corr
        if abs(corr) < 1e-15:
            break
    return math.degrees(_LON0 + theta / _N), math.degrees(phi)


# ---------------------------------------------------------------------------
# Polygon generation and the benchmark's own rasterizer
# ---------------------------------------------------------------------------


def star_polygon(rng: np.random.Generator, n_vertices: int, cells: int, height: int) -> np.ndarray:
    """A simple (star-shaped) polygon in grid-cell units with about
    ``cells`` cells of area, inside the 256-cell-wide, ``height``-tall
    grid. Returns an (n, 2) array without the closing vertex."""
    wobble = 0.15
    cells = min(cells, GRID_COLS * height // 4)
    aspect = rng.uniform(1.0, 3.0)  # ry / rx
    rx = math.sqrt(cells / (math.pi * aspect))
    rx = min(rx, (GRID_COLS / 2 - 2) / (1 + wobble))
    ry = min(cells / (math.pi * rx), (height / 2 - 2) / (1 + wobble))
    span_x, span_y = rx * (1 + wobble) + 1, ry * (1 + wobble) + 1
    cx = rng.uniform(span_x, GRID_COLS - span_x)
    cy = rng.uniform(span_y, height - span_y)
    theta = np.sort(rng.uniform(0.0, 2.0 * math.pi, n_vertices))
    radius = np.ones(n_vertices)
    for k in (2, 3, 5, 7):
        radius += (wobble / 4) * np.sin(k * theta + rng.uniform(0, 2 * math.pi))
    return np.column_stack([cx + rx * radius * np.cos(theta), cy + ry * radius * np.sin(theta)])


def rasterize(poly: np.ndarray, height: int) -> np.ndarray:
    """Cells (x, y) whose centers are inside ``poly`` by the even-odd rule,
    with the half-open crossing test ``(y_i > py) != (y_j > py)``. Returns
    an (m, 2) int array sorted by (y, x)."""
    xs, ys = poly[:, 0], poly[:, 1]
    xj, yj = np.roll(xs, 1), np.roll(ys, 1)
    y0 = max(int(math.floor(ys.min())), 0)
    y1 = min(int(math.ceil(ys.max())), height - 1)
    out = []
    centers = np.arange(GRID_COLS) + 0.5
    for row in range(y0, y1 + 1):
        py = row + 0.5
        cross = (ys > py) != (yj > py)
        if not cross.any():
            continue
        a, b, c, d = xs[cross], ys[cross], xj[cross], yj[cross]
        xint = np.sort(a + (py - b) / (d - b) * (c - a))
        # a center is inside iff an odd number of crossings lie right of it
        right = len(xint) - np.searchsorted(xint, centers, side="right")
        inside = np.nonzero(right % 2 == 1)[0]
        if len(inside):
            out.append(np.column_stack([inside, np.full(len(inside), row)]))
    if not out:
        return np.zeros((0, 2), dtype=np.int64)
    return np.concatenate(out).astype(np.int64)


def polygon_geojson(poly: np.ndarray) -> str:
    """GeoJSON Polygon in LatLng for a grid-unit polygon (closed ring)."""
    ring = [list(albers_to_latlng(x * CELLSIZE, y * CELLSIZE)) for x, y in poly]
    ring.append(ring[0])
    return json.dumps({"type": "Polygon", "coordinates": [ring]})


# ---------------------------------------------------------------------------
# Request streams
# ---------------------------------------------------------------------------


def _aoi_doc(rng: np.random.Generator, slot: tuple[str, int, str]) -> dict:
    op, k, aoi = slot
    aoi_ids = [str(rng.choice(HUC12_IDS))] if aoi == "huc12" else [aoi]
    if op == "RasterSummary":
        rasters = [str(r) for r in rng.permutation(TARGET_RASTERS)[:k]]
        return {"operationType": op, "rasters": rasters, "aoiIds": aoi_ids}
    doc = {
        "operationType": op,
        "rasters": [str(r) for r in rng.permutation(GROUP_RASTERS)[:k]],
        "aoiIds": aoi_ids,
    }
    if op in ("RasterGroupedAverage", "RasterGroupedSum"):
        doc["targetRaster"] = str(rng.choice(TARGET_RASTERS))
    if op == "RasterLinesJoin":  # over the fixture stream-line pixels
        doc["useLinePixels"] = True
    return doc


def _aoi_stream(rng: np.random.Generator, n: int) -> list[dict]:
    """Requests drawn, slot by slot, from a pool of the slot's distinct
    documents with Zipf-like popularity, so the stream repeats documents
    the way many users asking about the same watersheds would."""
    pools = []
    for slot in AOI_CYCLE:
        seen: dict[str, dict] = {}
        for _ in range(200):
            doc = _aoi_doc(rng, slot)
            seen.setdefault(json.dumps(doc, sort_keys=True), doc)
        pool = list(seen.values())
        w = 1.0 / np.arange(1, len(pool) + 1) ** 1.1
        pools.append((pool, w / w.sum()))
    out = []
    for i in range(n):
        pool, p = pools[i % len(AOI_CYCLE)]
        out.append(pool[int(rng.choice(len(pool), p=p))])
    return out


def _geojson_requests(rng: np.random.Generator, n: int, height: int) -> list[dict]:
    """GeoJSON requests; each carries its grid-unit polygon under ``_poly``
    (stripped before sending)."""
    out = []
    for i in range(n):
        # a Latin square: each operation meets every vertex count and
        # every size once per 16 requests
        op, rasters = GEOJSON_OPS[(i + i // 4) % 4]
        poly = star_polygon(
            rng, VERTEX_LADDER[i % 4], CELLS_LADDER[(i // 4) % 4], height
        )
        if op == "MapShed":
            out.append({
                "shapes": [polygon_geojson(poly)],
                "shapeCRS": "LatLng",
                "rasterCRS": "ConusAlbers",
                "zoom": ZOOM,
                "operations": MAPSHED_SLOT_OPERATIONS,
                "_poly": poly,
            })
            continue
        out.append({
            "operationType": op,
            "rasters": list(rasters),
            "polygon": [polygon_geojson(poly)],
            "polygonCRS": "LatLng",
            "rasterCRS": "ConusAlbers",
            "zoom": ZOOM,
            "_poly": poly,
        })
    return out


def make_stream(workload: str, seed: int, n: int, rows: int) -> tuple[list[dict], list[dict]]:
    """(warm-up requests, timed requests) for a workload and seed."""
    rng = np.random.default_rng([seed, 1 + list(WORKLOADS).index(workload)])
    height = min(grid_rows(rows), GEOJSON_BAND_ROWS)
    if workload == "run_aoi":
        # one warm-up request per operation kind
        warm = [_aoi_doc(rng, slot) for slot in {s[0]: s for s in AOI_CYCLE}.values()]
        return warm, _aoi_stream(rng, n)
    if workload == "multi_mapshed":
        doc = {"shapes": MAPSHED_SHAPES, "operations": MAPSHED_OPERATIONS}
        return [doc], [doc] * n
    # the catalog workload serves the run_geojson stream of the same seed
    rng = np.random.default_rng([seed, 1 + list(WORKLOADS).index("run_geojson")])
    # the first four requests of a stream hold one of each operation
    warm = _geojson_requests(np.random.default_rng([seed, 99]), len(GEOJSON_OPS), height)
    return warm, _geojson_requests(rng, n, height)


def fixtures_used(docs: list[dict]) -> list[str]:
    """Fixture relations (sources.fixtures names) a request list reads."""
    names: list[str] = []
    for d in docs:
        if "shapes" in d:
            names.append("cells" if "_poly" in d else "mask_all")
            for op in d["operations"]:
                names += [f"r_{r}" for r in op["rasters"]]
                if op.get("targetRaster"):
                    names.append(f"r_{op['targetRaster']}")
                if op["name"] == "RasterLinesJoin":
                    names.append("line_pixels")
            continue
        names += [f"r_{r}" for r in d["rasters"]]
        if d.get("targetRaster"):
            names.append(f"r_{d['targetRaster']}")
        names += [f"mask_{a}" for a in d.get("aoiIds", [])]
        if d.get("useLinePixels"):
            names.append("line_pixels")
        if "polygon" in d:
            names.append("cells")
    return list(dict.fromkeys(names))
