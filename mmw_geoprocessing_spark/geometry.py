"""Geometry handling: GeoJSON parsing, validation, and rasterization.

Reference pipeline (Utils.scala:66-98,129-143): parse GeoJSON ->
reproject -> buffer(0) -> union -> rasterize. This environment ships no
shapely/pyproj, so:

- GeoJSON parsing/validation is pure-python (json);
- PixelIsPoint rasterization (cell-center containment, the reference
  default, Utils.scala:109-118) is an exact, vectorized numpy
  ray-casting test run on the driver over bounded chunks of candidate
  cells, its hits handed to Spark as a local relation — as the
  reference rasterizes in its service process via GeoTrellis'
  ``Rasterizer.foreachCellByMultiPolygon`` (Geoprocessing.scala:356).
  Building a GeoJSON mask therefore launches no Spark job;
- ``buffer(0)`` regularization is pure-python: a self-crossing
  (invalid) ring is detected by ``ring_is_simple`` and filled by the
  NONZERO-WINDING rule instead of even-odd — our pinned repair
  convention (test-pinned on the bowtie), matching GEOS ``buffer(0)``
  for positively-wound regions (a bowtie fills both lobes, a
  doubly-wound loop fills once; even-odd would drop the doubly-wound
  interior). GEOS/JTS is orientation- and version-dependent for
  negatively-wound lobes, so this is a convention, not pointwise
  ``buffer(0)`` equality. Valid rings keep even-odd, so holes still
  subtract.

Scan pruning: the AOI bounding box is converted to (key_col, key_row)
ranges *before* the scan — the Spark analogue of the reference's
``Intersects(aoi)`` tile-level pushdown (Utils.scala:241-248). Catalyst
pushes the range predicate into the parquet reader, so only
bbox-intersecting tiles are read — at 100 TB this is the difference
between scanning a watershed and scanning a continent.

Grid layouts: world<->grid arithmetic goes through a ``GridLayout``
(tile_size, origin, cellsize) — the analogue of the reference's
``TileLayerMetadata`` (Geoprocessing.scala:219-221), which it derives
per layer (512x512 tiles, arbitrary extents). The fixture layout is
``GridLayout()``: x = key_col*8 + cell_col, y = key_row*8 + cell_row,
cell centers at +0.5.

Union semantics: overlapping input polygons rasterize as their UNION
(even-odd containment per polygon, OR across polygons) — matching the
reference, which unions geometries before rasterizing
(Utils.scala:70-73). A polygon's own rings still combine even-odd, so
holes subtract only within their polygon.
"""

from __future__ import annotations

import json
import math
from dataclasses import dataclass

from pyspark.sql import DataFrame

from mmw_geoprocessing_spark.errors import (
    InvalidGeometryError,
    MissingVectorCRSError,
    UnknownCRSError,
)
from mmw_geoprocessing_spark.plans.model import VALID_CRS

TILE = 8  # fixture-layout tile size (DEFAULT_LAYOUT below)


@dataclass(frozen=True)
class GridLayout:
    """Tile-grid frame: world (x, y) -> (key_col, key_row, cell_col,
    cell_row). ``grid = (world - origin) / cellsize``; a cell's center
    sits at grid +0.5. The reference derives the equivalent
    ``TileLayerMetadata`` per layer (512x512 tiles, arbitrary extents,
    Geoprocessing.scala:219-221)."""

    tile_size: int = TILE
    origin_x: float = 0.0
    origin_y: float = 0.0
    cellsize: float = 1.0
    # Optional LAYER extent in tile-key space (kc0, kr0, kc1, kr1),
    # inclusive. GeoTrellis rasterizes an AOI against the layer's
    # TileLayerMetadata extent (Geoprocessing.scala:219-221) — the mask
    # can only ever join tiles that exist, so candidate enumeration
    # outside the layer grid is pure waste. A continent-sized AOI over
    # a regional layer (the reference's DRB examples replayed against
    # the synthetic fixture grid) would otherwise enumerate millions of
    # cells that no layer tile can match.
    extent_keys: tuple[int, int, int, int] | None = None

    def to_grid(self, x: float, y: float) -> tuple[float, float]:
        return (x - self.origin_x) / self.cellsize, (y - self.origin_y) / self.cellsize


DEFAULT_LAYOUT = GridLayout()

# Zoom -> grid frame. The reference selects the tile layer (and with it
# the grid) by zoom: layer ids are suffixed with the 512 tile size and
# served from a pyramid whose cell size halves per zoom step
# (scripts/benchmark-mapshed:31-34 "nlcd-2011-30m-epsg5070-512";
# Geoprocessing.scala:219-221 derives the layout from the layer).
# Engine convention: zoom 0 is the fixture frame (8x8 tiles, unit
# cells); positive zooms use 512x512 tiles with a 30 m cell at the
# native zoom 13, doubling per step down. Deployments with real layer
# pyramids extend ZOOM_LAYOUTS with their measured frames.
ZOOM_TILE_SIZE = 512
ZOOM_NATIVE = 13  # the reference's 30 m NLCD native level
ZOOM_NATIVE_CELLSIZE = 30.0

# Registered ladder. Zoom 0 is the synthetic fixture frame (unit cells).
# Zooms 13 and 12 are REAL registered levels over the same fixture
# layers: the reference's NLCD pyramid convention (zoom 13 native at
# 30 m, cell size doubling each step down — scripts/benchmark-mapshed:
# 31-34 layer naming), with the grid's tile size taken from the LAYER
# (8x8 fixture tiles), exactly how the reference derives the layout
# from the tile layer rather than from the zoom alone
# (Geoprocessing.scala:219-221). A /run at zoom 13 therefore expects
# world coordinates in meters-like units; the mask it rasterizes joins
# the same pixel keyspace as zoom 0 (parity pinned in tests/test_api).
# Deployments reading an external catalog extend this dict from layer
# metadata via sources.catalog.register_zoom_layouts.
ZOOM_LAYOUTS: dict[int, GridLayout] = {
    0: DEFAULT_LAYOUT,
    13: GridLayout(tile_size=TILE, cellsize=ZOOM_NATIVE_CELLSIZE),
    12: GridLayout(tile_size=TILE, cellsize=ZOOM_NATIVE_CELLSIZE * 2.0),
}


def layout_for_zoom(zoom: int) -> GridLayout:
    """Resolve the grid frame for a request zoom (plans/model.py
    ``InputData.zoom``): registry hit first, else the pyramid formula."""
    if zoom in ZOOM_LAYOUTS:
        return ZOOM_LAYOUTS[zoom]
    return GridLayout(
        tile_size=ZOOM_TILE_SIZE,
        cellsize=ZOOM_NATIVE_CELLSIZE * 2.0 ** (ZOOM_NATIVE - zoom),
    )


def parse_multipolygon(geojson: str) -> list[list[list[tuple[float, float]]]]:
    """GeoJSON -> list of polygons, each a list of rings (outer first).

    Tolerant like the reference (Utils.scala:129-135): non-(Multi)Polygon
    geometries yield an empty list rather than an error. A NaN or
    infinite coordinate is a typed 400.
    """
    g = json.loads(geojson)
    if g.get("type") == "Feature":
        g = g.get("geometry", {})
    t = g.get("type")
    if t == "Polygon":
        polys = [g["coordinates"]]
    elif t == "MultiPolygon":
        polys = g["coordinates"]
    else:
        return []
    out = [[[(float(x), float(y)) for x, y in ring] for ring in poly] for poly in polys]
    require_finite(ring for poly in out for ring in poly)
    return out


def require_finite(paths) -> None:
    """Raise ``InvalidGeometryError`` unless every coordinate of every
    ``[(x, y), ...]`` path is finite. JSON parsers accept ``NaN`` and
    ``Infinity``; such a vertex would otherwise rasterize to nothing (a
    silent ``{}``) or overflow the grid arithmetic."""
    for path in paths:
        for x, y in path:
            if not (math.isfinite(x) and math.isfinite(y)):
                raise InvalidGeometryError(f"non-finite coordinate ({x}, {y})")


def validate_crs(crs: str | None) -> str:
    if crs is None:
        raise MissingVectorCRSError("vector geometry given without a CRS")
    if crs not in VALID_CRS:
        raise UnknownCRSError(f"unknown CRS {crs!r}; expected one of {sorted(VALID_CRS)}")
    return crs


def ring_is_simple(ring) -> bool:
    """True iff no two non-adjacent edges of the closed ring properly
    cross (O(E^2) pairs, evaluated as one numpy broadcast — ring vertex
    counts are request-sized, but real watershed boundaries run to
    ~1000+ vertices and the pure-python double loop was the 61-HUC
    replay's bottleneck). A ring that fails this is 'invalid' in the
    OGC sense and triggers the winding repair below, the pure-python
    equivalent of the reference's ``buffer(0)`` regularization
    (Utils.scala:137-143)."""
    import numpy as np

    pts = list(ring)
    if len(pts) > 1 and pts[0] == pts[-1]:
        pts = pts[:-1]
    n = len(pts)
    if n < 4:
        return True

    r = np.asarray(pts, dtype=np.float64)
    ax, ay = r[:, 0], r[:, 1]
    bx, by = np.roll(ax, -1), np.roll(ay, -1)
    j_idx = np.arange(n)[None, :]

    # orient(a_i, b_i, p_j) for edge-pair blocks, via broadcast; the
    # elementwise formula is identical to the scalar (b-a) x (p-a)
    # cross product, so the sign tests match exactly. Blocked over i
    # (BLK x n arrays, not n x n — a 10k-vertex watershed ring would
    # otherwise materialize ~6 GB of temporaries) with early exit.
    BLK = 128
    for s in range(0, n, BLK):
        e = min(s + BLK, n)
        i_idx = np.arange(s, e)[:, None]
        abx = (bx - ax)[s:e, None]
        aby = (by - ay)[s:e, None]
        o1 = abx * (ay[None, :] - ay[s:e, None]) - aby * (ax[None, :] - ax[s:e, None])
        o2 = abx * (by[None, :] - ay[s:e, None]) - aby * (bx[None, :] - ax[s:e, None])
        cdx = (bx - ax)[None, :]
        cdy = (by - ay)[None, :]
        o3 = cdx * (ay[s:e, None] - ay[None, :]) - cdy * (ax[s:e, None] - ax[None, :])
        o4 = cdx * (by[s:e, None] - ay[None, :]) - cdy * (bx[s:e, None] - ax[None, :])

        proper = (o1 * o2 < 0) & (o3 * o4 < 0)
        # same exclusions as the scalar: j in (i+2 .. n-1), and not the
        # wraparound-adjacent (i == 0, j == n-1) pair
        nonadj = (j_idx > i_idx + 1) & ~((i_idx == 0) & (j_idx == n - 1))
        if bool((proper & nonadj).any()):
            return False
    return True


def bbox(polys) -> tuple[float, float, float, float]:
    xs = [x for poly in polys for ring in poly for x, _ in ring]
    ys = [y for poly in polys for ring in poly for _, y in ring]
    return min(xs), min(ys), max(xs), max(ys)


def rasterize_polygons(
    spark, polys, pixel_is_area: bool = False, layout: GridLayout = DEFAULT_LAYOUT
) -> DataFrame:
    """Rasterize a multipolygon into a mask DataFrame
    ``(key_col, key_row, cell_col, cell_row)``.

    PixelIsPoint (default): exact even-odd ray casting on cell centers.
    PixelIsArea (includePartial): exact — a cell is included iff the
    closed cell square intersects the polygon: any corner inside
    (even-odd), any polygon vertex inside the cell, or any polygon edge
    crossing any cell edge. All three tests vectorize in numpy.

    Overlapping polygons rasterize as their union (per-polygon even-odd
    OR'd across polygons, reference Utils.scala:70-73); ring coords are
    converted to grid units first so the kernel is layout-free.

    The kernel runs on the driver over chunks of at most
    ``_CANDIDATE_CHUNK`` candidate cells, and the hits become a local
    relation (``LocalTableScan``): building the mask launches no Spark
    job, as the reference rasterizes in its own service process.
    """
    import numpy as np
    import pandas as pd

    T = layout.tile_size
    hits: list[tuple] = []
    # per-polygon ring groups, in grid units (cells are unit squares)
    poly_rings = [
        [[layout.to_grid(x, y) for x, y in ring] for ring in poly] for poly in polys
    ]
    if poly_rings:
        x0, y0, x1, y1 = bbox(poly_rings)
        kc0, kc1 = int(math.floor(x0 / T)), int(math.floor(x1 / T))
        kr0, kr1 = int(math.floor(y0 / T)), int(math.floor(y1 / T))
        # clip the candidate tile range to the layer extent (see
        # GridLayout.extent_keys) — the analogue of partition pruning on
        # the layer scan side
        if layout.extent_keys is not None:
            ekc0, ekr0, ekc1, ekr1 = layout.extent_keys
            kc0, kc1 = max(kc0, ekc0), min(kc1, ekc1)
            kr0, kr1 = max(kr0, ekr0), min(kr1, ekr1)
        n_rows = kr1 - kr0 + 1
        total = max(kc1 - kc0 + 1, 0) * max(n_rows, 0) * T * T
        # winding-repair flags: an invalid (self-crossing) ring fills by
        # the NONZERO-WINDING rule — OUR pinned repair convention
        # (test-pinned on the bowtie), matching GEOS buffer(0) for
        # positively-wound regions (bowtie -> both lobes, winding ±1;
        # doubly-wound ring -> filled once, winding ±2). GEOS itself is
        # orientation- and version-dependent for negatively-wound lobes,
        # so this is a convention, not pointwise buffer(0) equality.
        # Valid rings keep even-odd.
        poly_simple = _poly_simple_flags(poly_rings) if total else []
        # candidate cells: the bbox-pruned cartesian of tile and cell
        # coordinates (the analogue of the reference's tile-level
        # Intersects pushdown), enumerated by flat index one chunk at a
        # time so memory stays bounded whatever the AOI's size
        for start in range(0, total, _CANDIDATE_CHUNK):
            idx = np.arange(start, min(start + _CANDIDATE_CHUNK, total), dtype=np.int64)
            tile, cell = np.divmod(idx, T * T)
            kc, kr = np.divmod(tile, n_rows)
            cand = (kc + kc0, kr + kr0, cell // T, cell % T)
            cx = (cand[0] * T + cand[2] + 0.5).astype(np.float64)
            cy = (cand[1] * T + cand[3] + 0.5).astype(np.float64)
            mask = _cells_in_polys(cx, cy, poly_rings, poly_simple, pixel_is_area)
            if mask.any():
                hits.append(tuple(c[mask].astype(np.int32) for c in cand))
    cols = [np.concatenate(c) for c in zip(*hits)] if hits else [np.empty(0, np.int32)] * 4
    return spark.createDataFrame(
        pd.DataFrame(dict(zip(("key_col", "key_row", "cell_col", "cell_row"), cols))),
        "key_col int, key_row int, cell_col int, cell_row int",
    )


# candidate cells per kernel call: bounds the kernel's per-candidate
# temporaries to a few MB whatever the AOI's bounding box
_CANDIDATE_CHUNK = 1 << 16


def _cells_in_polys(cx, cy, poly_rings, poly_simple, pixel_is_area: bool):
    """The rasterization kernel: which candidate cells, given by their
    centers ``(cx, cy)`` in grid units, the union of ``poly_rings``
    covers — at the center (PixelIsPoint) or anywhere in the closed cell
    square (PixelIsArea)."""
    import numpy as np

    all_rings = [ring for poly in poly_rings for ring in poly]

    def inside_one(px, py, rings, simple_flags):
        """Containment for ONE polygon: XOR across rings of the
        per-ring fill (even-odd for simple rings, nonzero
        winding for self-crossing rings — the buffer(0) repair)."""
        acc = np.zeros(len(px), dtype=bool)
        for ring, simple in zip(rings, simple_flags):
            r = np.asarray(ring, dtype=np.float64)
            xs, ys = r[:, 0], r[:, 1]
            xj, yj = np.roll(xs, 1), np.roll(ys, 1)  # edge: j -> i
            if simple:
                ring_fill = np.zeros(len(px), dtype=bool)
                for i in range(len(xs)):
                    cond = (ys[i] > py) != (yj[i] > py)
                    denom = yj[i] - ys[i]
                    if denom == 0:
                        continue
                    xint = xs[i] + (py - ys[i]) / denom * (xj[i] - xs[i])
                    ring_fill ^= cond & (px < xint)
            else:
                wn = np.zeros(len(px), dtype=np.int64)
                for i in range(len(xs)):
                    denom = yj[i] - ys[i]
                    if denom == 0:
                        continue
                    xint = xs[i] + (py - ys[i]) / denom * (xj[i] - xs[i])
                    left = px < xint
                    up = (ys[i] <= py) & (yj[i] > py)
                    down = (yj[i] <= py) & (ys[i] > py)
                    wn += np.where(up & left, 1, 0) - np.where(down & left, 1, 0)
                ring_fill = wn != 0
            acc ^= ring_fill
        return acc

    def inside(px, py):
        """Union across polygons: per-polygon fill, OR."""
        res = np.zeros(len(px), dtype=bool)
        for rings, flags in zip(poly_rings, poly_simple):
            res |= inside_one(px, py, rings, flags)
        return res

    mask = inside(cx, cy)
    if pixel_is_area:
        # (a) any cell corner inside the polygon
        for dx, dy in ((-0.5, -0.5), (-0.5, 0.5), (0.5, -0.5), (0.5, 0.5)):
            mask |= inside(cx + dx, cy + dy)
        # (b) any polygon vertex inside the cell square
        x0, y0 = cx - 0.5, cy - 0.5
        for ring in all_rings:
            r = np.asarray(ring, dtype=np.float64)
            for vx, vy in r:
                mask |= (
                    (vx >= x0) & (vx <= x0 + 1) & (vy >= y0) & (vy <= y0 + 1)
                )
        # (c) any polygon edge crossing any cell edge
        def seg_cross(p1x, p1y, p2x, p2y, q1x, q1y, q2x, q2y):
            def orient(ax, ay, bx, by, px, py):
                return np.sign((bx - ax) * (py - ay) - (by - ay) * (px - ax))

            o1 = orient(p1x, p1y, p2x, p2y, q1x, q1y)
            o2 = orient(p1x, p1y, p2x, p2y, q2x, q2y)
            o3 = orient(q1x, q1y, q2x, q2y, p1x, p1y)
            o4 = orient(q1x, q1y, q2x, q2y, p2x, p2y)
            crosses = (o1 * o2 <= 0) & (o3 * o4 <= 0)
            # the sign test alone accepts collinear-but-disjoint
            # segments (all orients 0): require interval overlap
            collinear = (o1 == 0) & (o2 == 0) & (o3 == 0) & (o4 == 0)
            overlap = (
                (np.minimum(p1x, p2x) <= np.maximum(q1x, q2x))
                & (np.maximum(p1x, p2x) >= np.minimum(q1x, q2x))
                & (np.minimum(p1y, p2y) <= np.maximum(q1y, q2y))
                & (np.maximum(p1y, p2y) >= np.minimum(q1y, q2y))
            )
            return np.where(collinear, overlap, crosses)

        cell_edges = [
            (x0, y0, x0 + 1, y0),
            (x0 + 1, y0, x0 + 1, y0 + 1),
            (x0 + 1, y0 + 1, x0, y0 + 1),
            (x0, y0 + 1, x0, y0),
        ]
        for ring in all_rings:
            r = np.asarray(ring, dtype=np.float64)
            for (ax, ay), (bx, by) in zip(r, np.roll(r, -1, axis=0)):
                for (e1x, e1y, e2x, e2y) in cell_edges:
                    todo = ~mask
                    if not todo.any():
                        break
                    mask |= seg_cross(
                        np.full_like(cx, ax), np.full_like(cy, ay),
                        np.full_like(cx, bx), np.full_like(cy, by),
                        e1x, e1y, e2x, e2y,
                    )
    return mask


def _poly_simple_flags(polys) -> list[list[bool]]:
    """Per-poly, per-ring ``ring_is_simple`` — computed ONCE per AOI.
    The O(E^2) simplicity test must never run per tested point (it did,
    via ``_point_in_polys``'s inline call, and made the 61-HUC
    streamLines clip effectively unbounded)."""
    return [[ring_is_simple(ring) for ring in poly] for poly in polys]


def _point_in_polys(px: float, py: float, polys, simple_flags=None) -> bool:
    """Scalar union containment, same rules as the rasterization
    kernel: per ring even-odd when simple, nonzero winding when
    self-crossing (the buffer(0) repair); XOR across a polygon's
    rings, OR across polygons."""
    if simple_flags is None:
        simple_flags = _poly_simple_flags(polys)
    res = False
    for poly, flags in zip(polys, simple_flags):
        fill = False
        for ring, simple in zip(poly, flags):
            if simple:
                crossings = 0
                for (ax, ay), (bx, by) in zip(ring, ring[1:]):
                    if (ay > py) != (by > py):
                        xin = ax + (py - ay) / (by - ay) * (bx - ax)
                        if px < xin:
                            crossings += 1
                ring_fill = crossings % 2 == 1
            else:
                wn = 0
                for (ax, ay), (bx, by) in zip(ring, ring[1:]):
                    if ay == by:
                        continue
                    xin = ax + (py - ay) / (by - ay) * (bx - ax)
                    if px < xin:
                        if ay <= py < by:
                            wn += 1
                        elif by <= py < ay:
                            wn -= 1
                ring_fill = wn != 0
            fill ^= ring_fill
        res |= fill
    return res


def _points_in_polys_batch(pxs, pys, polys, simple_flags):
    """Vectorized union containment for a batch of points — the same
    per-element formulas as ``_point_in_polys`` (even-odd crossing /
    nonzero winding with identical xin arithmetic), evaluated as
    (points x edges) numpy broadcasts per ring."""
    import numpy as np

    px = np.asarray(pxs, dtype=np.float64)
    py = np.asarray(pys, dtype=np.float64)
    res = np.zeros(len(px), dtype=bool)
    for poly, flags in zip(polys, simple_flags):
        fill = np.zeros(len(px), dtype=bool)
        for ring, simple in zip(poly, flags):
            r = np.asarray(ring, dtype=np.float64)
            ax, ay = r[:-1, 0], r[:-1, 1]   # edges: consecutive pairs,
            bx, by = r[1:, 0], r[1:, 1]     # ring explicitly closed
            dy = by - ay
            with np.errstate(divide="ignore", invalid="ignore"):
                # xin[e, p] = ax + (py - ay)/(by - ay) * (bx - ax)
                xin = ax[:, None] + (py[None, :] - ay[:, None]) / dy[:, None] * (
                    bx - ax
                )[:, None]
            left = px[None, :] < xin
            if simple:
                crossing = (ay[:, None] > py[None, :]) != (by[:, None] > py[None, :])
                ring_fill = ((crossing & left).sum(axis=0) % 2) == 1
            else:
                nz = dy != 0.0
                up = (ay[:, None] <= py[None, :]) & (py[None, :] < by[:, None])
                dn = (by[:, None] <= py[None, :]) & (py[None, :] < ay[:, None])
                wn = (left & up & nz[:, None]).sum(axis=0) - (
                    left & dn & nz[:, None]
                ).sum(axis=0)
                ring_fill = wn != 0
            fill ^= ring_fill
        res |= fill
    return res


def clip_lines(lines, polys):
    """Clip polylines to the union of polygons — the reference's
    geometric clip-before-rasterize (Utils.scala:196-198
    ``line.intersection(shape)``), not a cell-level mask semi-join.

    Exact parameter-interval clipping (works for arbitrary, also
    non-convex, polygons where Sutherland-Hodgman does not): every
    crossing of a segment with a polygon edge splits the segment's
    [0, 1] parameter range; each sub-interval is kept iff its midpoint
    lies inside the union. Request-sized input (a handful of lines and
    one AOI boundary) -> pure-python driver-side, like reprojection.

    Returns a list of 2-point segments (``rasterize_lines`` accepts any
    polyline list and dedups cells).
    """
    import numpy as np

    edges = [
        (ax, ay, bx, by)
        for poly in polys
        for ring in poly
        for (ax, ay), (bx, by) in zip(ring, ring[1:])
    ]
    simple_flags = _poly_simple_flags(polys)  # O(E^2) ONCE, not per point

    # flatten all input segments, keeping input order (the output order
    # contract: line order, then parameter order within a segment)
    seg = np.asarray(
        [
            (x0, y0, x1, y1)
            for line in lines
            for (x0, y0), (x1, y1) in zip(line, line[1:])
        ],
        dtype=np.float64,
    ).reshape(-1, 4)
    if len(seg) == 0 or not edges:
        # no polygon edges: containment alone decides (degenerate AOIs)
        out0: list[list[tuple[float, float]]] = []
        for x0, y0, x1, y1 in seg:
            tm = 0.5
            if _point_in_polys(
                x0 + (x1 - x0) * tm, y0 + (y1 - y0) * tm, polys, simple_flags
            ):
                out0.append([(x0, y0), (x1, y1)])
        return out0

    E = np.asarray(edges, dtype=np.float64)
    eax, eay, ebx, eby = E[:, 0], E[:, 1], E[:, 2], E[:, 3]
    ex, ey = ebx - eax, eby - eay

    # AOI bbox prune: a segment whose bbox misses the polygon bbox can
    # produce no crossings and no inside midpoints — for per-shape
    # clipping of a basin-wide stream network this removes most of the
    # (segments x edges) work
    bx0, by0 = E[:, [0, 2]].min(), E[:, [1, 3]].min()
    bx1, by1 = E[:, [0, 2]].max(), E[:, [1, 3]].max()
    sx0 = np.minimum(seg[:, 0], seg[:, 2])
    sx1 = np.maximum(seg[:, 0], seg[:, 2])
    sy0 = np.minimum(seg[:, 1], seg[:, 3])
    sy1 = np.maximum(seg[:, 1], seg[:, 3])
    alive = ~((sx1 < bx0) | (sx0 > bx1) | (sy1 < by0) | (sy0 > by1))

    out: list[list[tuple[float, float]]] = []
    CHUNK = 512  # segments per broadcast block (bounds the S x E arrays)
    idx_alive = np.nonzero(alive)[0]
    # gather cut lists per surviving segment (vectorized inner loop),
    # then midpoint-test every candidate sub-interval in ONE batch per
    # chunk — the same formulas as the scalar path, so results match
    # bit-for-bit
    for start in range(0, len(idx_alive), CHUNK):
        ids = idx_alive[start : start + CHUNK]
        s = seg[ids]
        x0, y0 = s[:, 0], s[:, 1]
        dx, dy = s[:, 2] - x0, s[:, 3] - y0
        with np.errstate(divide="ignore", invalid="ignore"):
            den = dx[:, None] * ey[None, :] - dy[:, None] * ex[None, :]
            t = (
                (eax[None, :] - x0[:, None]) * ey[None, :]
                - (eay[None, :] - y0[:, None]) * ex[None, :]
            ) / den
            u = (
                (eax[None, :] - x0[:, None]) * dy[:, None]
                - (eay[None, :] - y0[:, None]) * dx[:, None]
            ) / den
        valid = (den != 0.0) & (t > 0.0) & (t < 1.0) & (u >= 0.0) & (u <= 1.0)

        # per-segment sorted unique cut parameters + interval midpoints
        cand_mx: list[float] = []
        cand_my: list[float] = []
        cand_seg: list[int] = []
        cand_ab: list[tuple[float, float]] = []
        for k in range(len(ids)):
            ts = {0.0, 1.0}
            ts.update(t[k][valid[k]].tolist())
            cuts = sorted(ts)
            for ta, tb in zip(cuts, cuts[1:]):
                tm = (ta + tb) / 2.0
                cand_mx.append(x0[k] + dx[k] * tm)
                cand_my.append(y0[k] + dy[k] * tm)
                cand_seg.append(k)
                cand_ab.append((ta, tb))
        if not cand_seg:
            continue
        inside = _points_in_polys_batch(cand_mx, cand_my, polys, simple_flags)
        for keep, k, (ta, tb) in zip(inside, cand_seg, cand_ab):
            if keep:
                out.append(
                    [
                        (x0[k] + dx[k] * ta, y0[k] + dy[k] * ta),
                        (x0[k] + dx[k] * tb, y0[k] + dy[k] * tb),
                    ]
                )
    return out


def rasterize_lines(
    spark, lines: list[list[tuple[float, float]]], layout: GridLayout = DEFAULT_LAYOUT
) -> DataFrame:
    """Rasterize polylines to crossed cells (reference U10,
    ``foreachCellByMultiLineString``, Geoprocessing.scala:224) via
    Amanatides-Woo grid traversal. Lines arrive in the request payload
    (a handful), so the walk runs driver-side and the result becomes a
    (small) DataFrame joined against pixel tables.
    Output: ``(line_id, key_col, key_row, cell_col, cell_row)``.
    """
    T = layout.tile_size
    rows: list[tuple[int, int, int, int, int]] = []
    for li, pts in enumerate(lines):
        grid_pts = [layout.to_grid(x, y) for x, y in pts]
        for (ax, ay), (bx, by) in zip(grid_pts, grid_pts[1:]):
            for gx, gy in _walk_cells(ax, ay, bx, by):
                rows.append((li, gx // T, gy // T, gx % T, gy % T))
    if not rows:
        return spark.range(0).selectExpr(
            "CAST(0 AS INT) line_id", "CAST(0 AS INT) key_col", "CAST(0 AS INT) key_row",
            "CAST(0 AS INT) cell_col", "CAST(0 AS INT) cell_row"
        ).limit(0)
    return spark.createDataFrame(
        sorted(set(rows)),
        "line_id int, key_col int, key_row int, cell_col int, cell_row int",
    )


def _walk_cells(ax: float, ay: float, bx: float, by: float):
    """Cells crossed by segment (ax,ay)-(bx,by): Amanatides & Woo (1987)."""
    x, y = int(math.floor(ax)), int(math.floor(ay))
    xe, ye = int(math.floor(bx)), int(math.floor(by))
    dx, dy = bx - ax, by - ay
    sx = 1 if dx > 0 else -1
    sy = 1 if dy > 0 else -1
    tmx = ((x + (sx > 0)) - ax) / dx if dx != 0 else math.inf
    tmy = ((y + (sy > 0)) - ay) / dy if dy != 0 else math.inf
    tdx = abs(1 / dx) if dx != 0 else math.inf
    tdy = abs(1 / dy) if dy != 0 else math.inf
    yield x, y
    guard = 0
    while (x, y) != (xe, ye) and guard < 100000:
        guard += 1
        if tmx < tmy:
            x += sx
            tmx += tdx
        else:
            y += sy
            tmy += tdy
        yield x, y
