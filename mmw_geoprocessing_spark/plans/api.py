"""Request dispatch — parity with the reference's /run, /multi, /ping
endpoints (reference WebServer.scala:64-111) as plain Python functions.

The dispatch table, conditional-field validation, result-key format
(``"List(v1, v2)"``), nested /multi shape, and the typed 400 taxonomy all
mirror the reference; plug an HTTP layer (FastAPI/Flask) over these for
wire parity — the engine itself is transport-agnostic.

A reply is a pure function of the request and of immutable layers, so
replies to requests whose every input is a session fixture (``aoiIds``
masks, fixture layers, ``useLinePixels``) are kept in ``REPLY_CACHE`` and
a repeated request runs no Spark job. See ``_memoized`` for the rule.
"""

from __future__ import annotations

import dataclasses
import json
import os
import threading
from collections import OrderedDict
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mmw_geoprocessing_spark import geometry, projection
from mmw_geoprocessing_spark.errors import (
    InvalidOperationError,
    InvalidZoomError,
    MissingStreamLinesError,
    MissingTargetRasterError,
    MissingVectorError,
    UnknownAoiError,
    UnknownRasterError,
)
from mmw_geoprocessing_spark.operators import mapshed, zonal
from mmw_geoprocessing_spark.plans.model import VALID_OPERATIONS, InputData, MultiInput
from mmw_geoprocessing_spark.sources import catalog
from mmw_geoprocessing_spark.sources import fixtures as fx

# Upper bound on the reply cache: the JSON text of the keys and replies it
# holds. Replies over the fixture world are a few kB, so this keeps
# thousands of them at a fixed, small share of the server's memory.
REPLY_CACHE_BYTES = 32 << 20


class ReplyCache:
    """Least-recently-used map from a request key to the reply's JSON
    text, bounded by ``budget_bytes`` of key plus text. Every hit decodes
    a fresh reply, so a caller that mutates its reply cannot change the
    next one. One lock guards the map; replies are computed outside it,
    so concurrent misses of one key each compute (only while cold)."""

    def __init__(self, budget_bytes: int) -> None:
        self.budget_bytes = budget_bytes
        self.hits = 0
        self.misses = 0
        self._entries: OrderedDict[str, str] = OrderedDict()
        self._bytes = 0
        self._lock = threading.Lock()

    def __len__(self) -> int:
        return len(self._entries)

    def get(self, key: str):
        """The cached reply for ``key``, or None."""
        with self._lock:
            text = self._entries.get(key)
            if text is None:
                self.misses += 1
                return None
            self.hits += 1
            self._entries.move_to_end(key)
        return json.loads(text)

    def put(self, key: str, reply) -> None:
        text = json.dumps(reply)  # ASCII: one byte per character
        size = len(key) + len(text)
        if size > self.budget_bytes:
            return
        with self._lock:
            old = self._entries.pop(key, None)
            if old is not None:
                self._bytes -= len(key) + len(old)
            self._entries[key] = text
            self._bytes += size
            while self._bytes > self.budget_bytes:
                k, v = self._entries.popitem(last=False)
                self._bytes -= len(k) + len(v)

    def clear(self) -> None:
        with self._lock:
            self._entries.clear()
            self._bytes = 0


# Emptied by fixtures.clear_fixture_cache(): replies live exactly as long
# as the fixtures they were computed from.
REPLY_CACHE = ReplyCache(REPLY_CACHE_BYTES)


def _catalog_root() -> str | None:
    return os.environ.get("SPARK_GRAFT_CATALOG_ROOT")


def _memoized(spark: SparkSession, endpoint: str, model, cacheable: bool, compute):
    """``compute(spark, model)``, answered from ``REPLY_CACHE`` when the
    request is ``cacheable`` (reads session fixtures only) and no external
    catalog serves the layers. The key is the SparkContext, the active
    fixture directory, the endpoint and every field of the parsed model in
    order (raster and AOI order change the reply); wire fields the parser
    drops are not in it. A request that raises stores nothing."""
    if not cacheable or _catalog_root():
        return compute(spark, model)
    key = json.dumps(
        [spark.sparkContext.applicationId, fx.active_dir(spark), endpoint,
         dataclasses.asdict(model)]
    )
    reply = REPLY_CACHE.get(key)
    if reply is None:
        reply = compute(spark, model)
        REPLY_CACHE.put(key, reply)
    return reply


def ping() -> str:
    """GET /ping (WebServer.scala:70-74)."""
    return "pong"


# operationType -> zonal operator kind (RasterGroupedAverage: "average"
# without group rasters, "grouped_average" with them)
_KINDS = {
    "RasterGroupedCount": "grouped_count",
    "RasterGroupedCountMany": "grouped_count",
    "RasterGroupedSum": "grouped_sum",
    "RasterLinesJoin": "lines_join",
    "RasterSummary": "summary",
}
_TARGET_KINDS = {"average", "grouped_average", "grouped_sum"}
_MULTI_OPERATIONS = {"RasterGroupedCount", "RasterGroupedAverage", "RasterGroupedSum", "RasterLinesJoin"}


@dataclasses.dataclass
class _Op:
    """One operation, resolved to its zonal operator kind."""

    label: str
    kind: str
    rasters: list[str]
    target: str | None
    pixel_is_area: bool


def _op(name: str, label: str, rasters, target, pixel_is_area: bool) -> _Op:
    """The operation's kind; typed 400s when it misses an input."""
    if name == "RasterGroupedAverage":
        kind = "grouped_average" if rasters else "average"
    else:
        kind = _KINDS[name]
    if kind in _TARGET_KINDS and not target:
        raise MissingTargetRasterError(f"{name} requires targetRaster")
    if kind not in _TARGET_KINDS and not rasters:
        raise MissingVectorError(f"{name} requires rasters")
    return _Op(label, kind, list(rasters), target if kind in _TARGET_KINDS else None, pixel_is_area)


@dataclasses.dataclass
class _Request:
    """A /run or /multi request in one form: shapes, operations, frames.
    AOI ids are checked when it is built, before any Spark work."""

    endpoint: str
    shapes: list[str]  # AOI ids, or GeoJSON strings when ``geojson``
    geojson: bool
    # each shape's aoi_id; None: one shape, the union of all of them (the
    # reference unions AOIs before rasterizing, Utils.scala:70-73)
    labels: list[str] | None
    ops: list[_Op]
    shape_crs: str | None
    raster_crs: str | None
    vector_crs: str | None
    zoom: int
    layout: object | None
    stream_lines: list[str] | None
    fixture_lines: bool  # line pixels from the session fixture

    def __post_init__(self) -> None:
        if not self.geojson:
            _check_aois(self.shapes)


def _from_run(d: InputData) -> _Request:
    """POST /run as one operation over its shape — over its N shapes,
    one per AOI id or GeoJSON string, for RasterGroupedCountMany."""
    name = d.operation_type
    if name not in VALID_OPERATIONS:
        raise InvalidOperationError(f"invalid operationType {name!r}")
    op = _op(name, name, d.rasters, d.target_raster, d.pixel_is_area)
    shapes = d.aoi_ids or d.shape_geojson
    many = name == "RasterGroupedCountMany"
    if not shapes:
        raise MissingVectorError(
            "RasterGroupedCountMany requires aoi_ids or polygon" if many
            else "operation requires an AOI (aoi_ids or shape GeoJSON)"
        )
    labels = None
    if many:
        labels = list(d.aoi_ids or (f"shape_{i}" for i in range(len(shapes))))
    return _Request(
        "run", list(shapes), not d.aoi_ids, labels, [op], d.shape_crs, d.raster_crs,
        d.vector_crs, d.zoom, d.layout, d.stream_lines_geojson, d.use_line_pixels,
    )


def _geojson_shapes(multi: MultiInput) -> bool:
    return bool(multi.shapes) and multi.shapes[0].lstrip().startswith("{")


def _from_multi(m: MultiInput) -> _Request:
    """POST /multi: M shapes x K operations. GeoJSON shapes (the
    reference's wire shape, Geoprocessing.scala:23-24) are keyed by their
    wire HUC id (WebServer.scala:32-35), else ``shape_{i}`` in input
    order; AOI-id shapes by their id, with fixture line pixels."""
    ops = []
    for o in m.operations:
        if o.name not in _MULTI_OPERATIONS:
            raise InvalidOperationError(f"/multi does not support {o.name!r}")
        ops.append(_op(o.name, o.label, o.rasters, o.target_raster, o.pixel_is_area))
    geojson = _geojson_shapes(m)
    labels = list(m.shapes)
    if geojson:
        ids = m.shape_ids or [None] * len(m.shapes)
        labels = [hid if hid is not None else f"shape_{i}" for i, hid in enumerate(ids)]
    return _Request(
        "multi", list(m.shapes), geojson, labels, ops, m.shape_crs, m.raster_crs,
        None, m.zoom, None, m.stream_lines_geojson, not geojson,
    )


def _check_aois(aoi_ids) -> None:
    """Typed 400 for AOI ids that name no pre-rasterized mask."""
    unknown = [a for a in aoi_ids if a not in fx.AOI_DEFS and a not in fx.SWEEP_ONLY_AOI_DEFS]
    if unknown:
        raise UnknownAoiError(f"unknown AOI id(s) {unknown}")


def _check_rasters(spark: SparkSession, raster_ids: list[str]) -> None:
    """Typed 400 for raster ids that name no layer: no fixture layer, or
    no ``layer=<id>`` directory under ``SPARK_GRAFT_CATALOG_ROOT``."""
    root = _catalog_root()
    known = catalog.stored_layers(spark, root) if root else fx.RASTER_DEFS
    unknown = [r for r in raster_ids if known is not None and r not in known]
    if unknown:
        raise UnknownRasterError(
            f"unknown raster id(s) {unknown}; known: {sorted(known)}"
        )


def _union(parts: list[DataFrame]) -> DataFrame:
    return reduce(DataFrame.unionByName, parts)


def _id_masks(spark: SparkSession, aoi_ids: list[str], zoom: int, tagged: bool = False):
    """The masks of pre-rasterized AOIs at ``zoom``, read per id (the
    sweep-only HUC-12s are not in ``mask_all``). ``tagged``: one row per
    (aoi_id, pixel). Untagged: the AOIs' union, each pixel once — the
    reference unions AOIs before rasterizing (Utils.scala:70-73), so
    overlapping AOIs must not double-count shared pixels."""
    ids = list(dict.fromkeys(aoi_ids))
    parts = [fx.mask_df_at_zoom(spark, a, zoom) for a in ids]
    if tagged:
        return _union([p.withColumn("aoi_id", F.lit(a)) for p, a in zip(parts, ids)])
    if len(parts) == 1:
        return parts[0]
    return _union(parts).dropDuplicates(zonal.PIXEL_KEY)


def _shape_polys(req: _Request) -> list:
    """Each GeoJSON shape's polygons, parsed and reprojected into the
    raster frame (Utils.scala:96-98; /multi's wire default is LatLng
    shapes against a ConusAlbers grid, Geoprocessing.scala:23-24)."""
    geometry.validate_crs(req.shape_crs)
    polys = [geometry.parse_multipolygon(g) for g in req.shapes]
    if req.raster_crs and req.raster_crs != req.shape_crs:
        geometry.validate_crs(req.raster_crs)
        polys = [projection.reproject_polygons(p, req.shape_crs, req.raster_crs) for p in polys]
    return polys


def _per_shape(req: _Request, polys: list, build) -> DataFrame:
    """``build(polygons)`` over the request's one shape (all its
    polygons), or over each labelled shape, tagged with its ``aoi_id``."""
    if req.labels is None:
        return build([p for ps in polys for p in ps])
    return _union([
        build(ps).withColumn("aoi_id", F.lit(label)) for label, ps in zip(req.labels, polys)
    ])


def _layout(req: _Request):
    # Explicit layout wins (caller vouches it matches its layers); else
    # the request zoom must resolve to a REGISTERED layer layout. The
    # reference derives the grid from the tile layer itself
    # (Geoprocessing.scala:219-221), so mask and layer frames cannot
    # diverge; rasterizing a mask in the raw pyramid formula's frame
    # while fixture layers are keyed in the zoom-0 frame would join
    # mismatched pixel keys and return silently wrong counts.
    if req.layout:
        return req.layout
    if req.zoom not in geometry.ZOOM_LAYOUTS:
        raise InvalidZoomError(
            f"zoom {req.zoom} has no registered layer layout; "
            f"registered zooms: {sorted(geometry.ZOOM_LAYOUTS)}"
        )
    return geometry.ZOOM_LAYOUTS[req.zoom]


def _with_layer_extent(spark: SparkSession, layout):
    """Attach the layer grid's tile-key extent to the rasterization
    frame (GridLayout.extent_keys) — GeoTrellis rasterizes an AOI
    against the LAYER's TileLayerMetadata extent
    (Geoprocessing.scala:219-221), so candidate cells outside the layer
    grid are never enumerated. All fixture layers share the cells grid;
    a catalog deployment passes per-layer extents through
    register_zoom_layouts instead."""
    if layout.extent_keys is not None:
        return layout
    return dataclasses.replace(layout, extent_keys=fx.grid_key_extent(spark))


def _parse_lines_geojson(strings: list[str]) -> list[list[tuple[float, float]]]:
    """GeoJSON (Multi)LineString strings -> [[(x, y), ...], ...]. A third
    (elevation) ordinate — the reference's NHD payloads carry
    [x, y, 0] — is dropped. A NaN or infinite coordinate is a typed 400."""
    lines: list[list[tuple[float, float]]] = []
    for g in strings:
        geo = json.loads(g)
        if geo.get("type") == "LineString":
            lines.append([tuple(p[:2]) for p in geo["coordinates"]])
        elif geo.get("type") == "MultiLineString":
            lines.extend(
                [[tuple(p[:2]) for p in line] for line in geo["coordinates"]]
            )
    geometry.require_finite(lines)
    return lines


def _line_pixels(spark: SparkSession, req: _Request, polys, layout) -> DataFrame:
    """The stream-line pixels: the session fixture's at the request zoom,
    or the request's lines in the raster frame, clipped per shape."""
    if req.fixture_lines:
        return fx.line_pixels_df_at_zoom(spark, req.zoom)
    if not req.stream_lines:
        where = " in /multi" if req.endpoint == "multi" else ""
        raise MissingStreamLinesError(f"RasterLinesJoin{where} requires streamLines")
    lines = _parse_lines_geojson(req.stream_lines)
    src_crs = req.vector_crs or req.shape_crs or "LatLng"
    if req.raster_crs and req.raster_crs != src_crs:
        # typed 400s for unknown frames (Utils.scala:208-213), not a
        # KeyError out of the projection kernel
        geometry.validate_crs(src_crs)
        geometry.validate_crs(req.raster_crs)
        lines = projection.reproject_lines(lines, src_crs, req.raster_crs)

    def rasterize(shape_polys):
        # geometric clip to the shape before rasterizing (reference
        # Utils.scala:196-198): a segment that crosses a mask cell only
        # where the AOI does not must contribute nothing to that cell —
        # the cell-level mask semi-join cannot distinguish that case.
        # AOI-id shapes have no geometry; the semi-join clips them.
        clipped = lines if shape_polys is None else geometry.clip_lines(lines, shape_polys)
        return geometry.rasterize_lines(spark, clipped, layout=layout)

    return rasterize(None) if polys is None else _per_shape(req, polys, rasterize)


def _layers(
    spark: SparkSession, req: _Request, raster_ids: list[str], polys, layout
) -> dict[str, DataFrame]:
    """Resolve raster layers for a request. Default: the synthetic
    session fixtures at the request zoom. With ``SPARK_GRAFT_CATALOG_ROOT``
    set, layers come from the external tile-block catalog with the
    shapes' bbox pushed down as block pruning — the reference's
    ``cropRastersToAOI`` (Utils.scala:34-41): each layer is read once,
    only the blocks of Intersects-ing tiles are scanned."""
    root = _catalog_root()
    if not root:
        # the REAL per-zoom pyramid level (the reference fetches a
        # different layer per zoom, not a reframed native one)
        return {r: fx.raster_df_at_zoom(spark, r, req.zoom) for r in raster_ids}
    # layout validation (the reference derives the grid FROM the layer,
    # Geoprocessing.scala:219-221, so mask and layer frames cannot
    # diverge): when a layer carries a _layout.json sidecar, its stored
    # grid must equal the request's resolved layout — the mask is
    # rasterized in the request frame, and a zoom/layer mismatch would
    # join mismatched pixel keys and return silently wrong results. The
    # read reuses the same sidecar for its value type and block files.
    metas: dict[str, dict] = {}
    for rid in raster_ids:
        try:
            meta = metas[rid] = catalog.read_layer_meta(root, rid)
            stored, _zoom = catalog.layout_from_meta(rid, meta)
        except (OSError, ValueError):
            continue  # no sidecar or no grid in it — caller vouches for the frame
        if stored != layout:
            raise InvalidZoomError(
                f"layer {rid!r} is stored in grid {stored}, but the request "
                f"resolves to {layout} (zoom {req.zoom}); a "
                "mask/layer frame mismatch would join mismatched pixel keys"
            )
    aoi = [p for ps in polys for p in ps] if polys is not None else None
    layers = catalog.read_layers_for_aoi(
        spark, root, raster_ids, aoi, layout if aoi else None, metas=metas
    )
    return dict(zip(raster_ids, layers))


@dataclasses.dataclass
class _Resolved:
    """A request's inputs: one mask per pixel mode its operations use,
    ``([aoi_id,] pixel key)``; its layers by raster id; its line pixels."""

    masks: dict[bool, DataFrame]
    layers: dict[str, DataFrame]
    line_pixels: DataFrame | None


def _resolve(spark: SparkSession, req: _Request) -> _Resolved:
    """Masks, layers and line pixels for every operation of ``req``.
    Ids are checked and GeoJSON is parsed, reprojected and rasterized
    (on the driver) before any Spark job; each layer is resolved once and
    shared by every (shape, operation) pair — the reference's shared
    raster fetch (CHANGELOG.md:82-91)."""
    raster_ids = list(dict.fromkeys(
        r for op in req.ops for r in (*op.rasters, *([op.target] if op.target else []))
    ))
    _check_rasters(spark, raster_ids)
    layout = _layout(req)
    polys = _shape_polys(req) if req.geojson else None
    layers = _layers(spark, req, raster_ids, polys, layout)
    # one mask per sampling mode requested (each /multi op carries its
    # own pixelIsArea, Utils.scala:109-118); AOI-id masks have one mode
    modes = dict.fromkeys(op.pixel_is_area for op in req.ops)
    if polys is None:
        masks = dict.fromkeys(
            modes, _id_masks(spark, req.shapes, req.zoom, tagged=req.labels is not None)
        )
    else:
        grid = _with_layer_extent(spark, layout)
        masks = {
            mode: _per_shape(
                req, polys,
                lambda ps, mode=mode: geometry.rasterize_polygons(spark, ps, mode, layout=grid),
            )
            for mode in modes
        }
    line_pixels = None
    if any(op.kind == "lines_join" for op in req.ops):
        line_pixels = _line_pixels(spark, req, polys, layout)
    return _Resolved(masks, layers, line_pixels)


def _plan(req: _Request, res: _Resolved) -> DataFrame:
    """One plan for all of the request's operations: each runs once over
    all shapes, ``aoi_id`` in its grouping key — /run through its zonal
    operator, /multi through its MapShed template, every template in one
    union (M x K cases, K plans, one collect)."""
    parts = []
    for op in req.ops:
        args = (
            op.kind, [res.layers[r] for r in op.rasters], res.layers.get(op.target),
            res.masks[op.pixel_is_area], res.line_pixels,
        )
        parts.append(
            mapshed.template_df(op.label, *args) if req.endpoint == "multi"
            else zonal.operator(*args)
        )
    return _union(parts)


def run_request(spark: SparkSession, input_data: InputData) -> dict:
    """POST /run (WebServer.scala:76-93): dispatch on operationType,
    return the reference's ``{"List(...)": value}`` JSON shape. Requests
    over fixture AOIs (no GeoJSON, no stream lines) are memoized."""
    cacheable = (
        bool(input_data.aoi_ids)
        and not input_data.shape_geojson
        and not input_data.stream_lines_geojson
        and input_data.layout is None  # set by in-process callers only
    )
    return _memoized(spark, "run", input_data, cacheable, _run)


def _run(spark: SparkSession, input_data: InputData) -> dict:
    req = _from_run(input_data)
    rows = _plan(req, _resolve(spark, req)).collect()
    op = req.ops[0]
    if op.kind == "summary":
        by_idx = {r["raster_idx"]: r for r in rows}
        # input-raster order preserved (Geoprocessing.scala:422-423);
        # a raster with no surviving mask cells (e.g. an AOI outside
        # the layer extent, where the mask is empty by construction)
        # still answers its {min, avg, max} slot, all-NULL
        return [
            {
                "min": r["min_value"] if r is not None else None,
                "avg": r["avg_value"] if r is not None else None,
                "max": r["max_value"] if r is not None else None,
            }
            for r in (by_idx.get(i) for i in range(len(op.rasters)))
        ]
    if req.labels is None:
        return {r["list_key"]: r[-1] for r in rows}
    # input-polygon order preserved (Geoprocessing.scala:124): keyed by
    # AOI id, or one histogram per GeoJSON string — ResultManyInt
    # (Geoprocessing.scala:114-126)
    per_shape: dict[str, dict] = {label: {} for label in req.labels}
    for r in rows:
        per_shape[r["aoi_id"]][r["list_key"]] = r[-1]
    return list(per_shape.values()) if req.geojson else per_shape


def multi_request(spark: SparkSession, multi: MultiInput) -> dict:
    """POST /multi (Geoprocessing.scala:21-89): shapes x operations.
    Requests over fixture AOI ids (no GeoJSON, no stream lines) are
    memoized; see ``_plan`` for the plan."""
    cacheable = (
        bool(multi.shapes)
        and not _geojson_shapes(multi)
        and not multi.stream_lines_geojson
    )
    return _memoized(spark, "multi", multi, cacheable, _multi)


def _multi(spark: SparkSession, multi: MultiInput) -> dict:
    """POST /multi, uncached. Shapes whose op results are empty emit
    ``{}`` (CHANGELOG.md:66-79)."""
    req = _from_multi(multi)
    out: dict[str, dict] = {label: {} for label in req.labels}
    if not req.shapes or not req.ops:
        return out
    for r in _plan(req, _resolve(spark, req)).collect():
        out[r["aoi_id"]].setdefault(r["op_label"], {})[r["list_key"]] = r["value"]
    return out
