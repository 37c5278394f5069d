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
from mmw_geoprocessing_spark.operators import zonal
from mmw_geoprocessing_spark.plans.model import VALID_OPERATIONS, InputData, MultiInput
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


def _check_rasters(raster_ids) -> None:
    """Typed 400 for raster ids that name no fixture layer."""
    unknown = [r for r in raster_ids if r not in fx.RASTER_DEFS]
    if unknown:
        raise UnknownRasterError(
            f"unknown raster id(s) {unknown}; known: {sorted(fx.RASTER_DEFS)}"
        )


def _check_aois(aoi_ids) -> None:
    """Typed 400 for AOI ids that name no pre-rasterized mask."""
    unknown = [a for a in aoi_ids if a not in fx.AOI_DEFS and a not in fx.SWEEP_ONLY_AOI_DEFS]
    if unknown:
        raise UnknownAoiError(f"unknown AOI id(s) {unknown}")


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


def _aoi_polys(input_data: InputData):
    """Parse + reproject the request's GeoJSON AOI into the raster
    frame; None when the request uses pre-rasterized aoi_ids."""
    if not input_data.shape_geojson:
        return None
    geometry.validate_crs(input_data.shape_crs)
    polys = [p for g in input_data.shape_geojson for p in geometry.parse_multipolygon(g)]
    if input_data.raster_crs and input_data.raster_crs != input_data.shape_crs:
        geometry.validate_crs(input_data.raster_crs)
        polys = projection.reproject_polygons(
            polys, input_data.shape_crs, input_data.raster_crs
        )
    return polys


def _layout(input_data: InputData):
    # Explicit layout wins (caller vouches it matches its layers); else
    # the request zoom must resolve to a REGISTERED layer layout. The
    # reference derives the grid from the tile layer itself
    # (Geoprocessing.scala:219-221), so mask and layer frames cannot
    # diverge; rasterizing a mask in the raw pyramid formula's frame
    # while fixture layers are keyed in the zoom-0 frame would join
    # mismatched pixel keys and return silently wrong counts.
    if input_data.layout:
        return input_data.layout
    if input_data.zoom not in geometry.ZOOM_LAYOUTS:
        raise InvalidZoomError(
            f"zoom {input_data.zoom} has no registered layer layout; "
            f"registered zooms: {sorted(geometry.ZOOM_LAYOUTS)}"
        )
    return geometry.ZOOM_LAYOUTS[input_data.zoom]


def _fixture_zoom(input_data: InputData) -> int:
    """The pyramid level fixture layers, masks and line pixels are served
    at: the stored pixels at zoom 0 and the native level, pyramid_down'ed
    levels below it, so masks and layers join in one pixel keyspace
    (unpyramided masks against pyramided layers silently join mismatched
    keys). Unregistered zooms are a typed 400."""
    if input_data.zoom not in (0, fx.ZOOM_NATIVE):
        _layout(input_data)
    return input_data.zoom


def _mask(spark: SparkSession, input_data: InputData):
    if input_data.aoi_ids:
        return _id_masks(spark, input_data.aoi_ids, _fixture_zoom(input_data))
    polys = _aoi_polys(input_data)
    if polys is not None:
        return geometry.rasterize_polygons(
            spark, polys, input_data.pixel_is_area,
            layout=_with_layer_extent(spark, _layout(input_data)),
        )
    raise MissingVectorError("operation requires an AOI (aoi_ids or shape GeoJSON)")


def _with_layer_extent(spark: SparkSession, layout):
    """Attach the layer grid's tile-key extent to the rasterization
    frame (GridLayout.extent_keys) — GeoTrellis rasterizes an AOI
    against the LAYER's TileLayerMetadata extent
    (Geoprocessing.scala:219-221), so candidate cells outside the layer
    grid are never enumerated. All fixture layers share the cells grid;
    a catalog deployment passes per-layer extents through
    register_zoom_layouts instead."""
    import dataclasses

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


def _lines(spark: SparkSession, input_data: InputData):
    if input_data.use_line_pixels:
        return fx.line_pixels_df_at_zoom(spark, _fixture_zoom(input_data))
    if input_data.stream_lines_geojson:
        lines = _parse_lines_geojson(input_data.stream_lines_geojson)
        src_crs = input_data.vector_crs or input_data.shape_crs or "LatLng"
        if input_data.raster_crs and input_data.raster_crs != src_crs:
            # typed 400s for unknown frames (Utils.scala:208-213), not a
            # KeyError out of the projection kernel
            geometry.validate_crs(src_crs)
            geometry.validate_crs(input_data.raster_crs)
            lines = projection.reproject_lines(lines, src_crs, input_data.raster_crs)
        # geometric clip to the AOI before rasterizing (reference
        # Utils.scala:196-198): a segment that crosses a mask cell only
        # where the AOI does not must contribute nothing to that cell —
        # the cell-level mask semi-join in raster_lines_join cannot
        # distinguish that case.
        polys = _aoi_polys(input_data)
        if polys is not None:
            lines = geometry.clip_lines(lines, polys)
        return geometry.rasterize_lines(spark, lines, layout=_layout(input_data))
    raise MissingStreamLinesError("RasterLinesJoin requires streamLines")


def _layers(spark: SparkSession, input_data: InputData, raster_ids: list[str]):
    """Resolve raster layers for a request. Default: the synthetic
    session fixtures. With ``SPARK_GRAFT_CATALOG_ROOT`` set, layers come
    from the external partitioned catalog with the AOI's bbox pushed
    down as partition pruning — the reference's ``cropRastersToAOI``
    (Utils.scala:34-41): each layer is read once, only Intersects-ing
    tiles are scanned."""
    root = _catalog_root()
    if not root:
        # the REAL per-zoom pyramid level (the reference fetches a
        # different layer per zoom, not a reframed native one)
        zoom = _fixture_zoom(input_data)
        return [fx.raster_df_at_zoom(spark, r, zoom) for r in raster_ids]
    from mmw_geoprocessing_spark.sources import catalog

    polys = _aoi_polys(input_data) if input_data.shape_geojson else None
    layout = _layout(input_data) if polys else None
    # layout validation (the reference derives the grid FROM the layer,
    # Geoprocessing.scala:219-221, so mask and layer frames cannot
    # diverge): when a layer carries a _layout.json sidecar, its stored
    # grid must equal the request's resolved layout — the mask is
    # rasterized in the request frame, and a zoom/layer mismatch would
    # join mismatched pixel keys and return silently wrong results. The
    # same sidecar read gives the layer's value type, which lets the
    # read declare its schema instead of inferring it in a Spark job.
    req_layout = layout if layout is not None else _layout(input_data)
    value_types: dict[str, str | None] = {}
    for rid in dict.fromkeys(raster_ids):
        try:
            meta = catalog.read_layer_meta(root, rid)
            value_types[rid] = meta.get("value_type")
            stored, _zoom = catalog.layout_from_meta(rid, meta)
        except (OSError, ValueError):
            continue  # no sidecar or no grid in it — caller vouches for the frame
        if stored != req_layout:
            raise InvalidZoomError(
                f"layer {rid!r} is stored in grid {stored}, but the request "
                f"resolves to {req_layout} (zoom {input_data.zoom}); a "
                "mask/layer frame mismatch would join mismatched pixel keys"
            )
    return catalog.read_layers_for_aoi(
        spark, root, raster_ids, polys, layout, value_types=value_types
    )


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
    op = input_data.operation_type
    if op not in VALID_OPERATIONS:
        raise InvalidOperationError(f"invalid operationType {op!r}")
    # ids are checked before any Spark work
    _check_aois(input_data.aoi_ids or [])
    if not _catalog_root():
        _check_rasters(input_data.rasters)
        if op in ("RasterGroupedAverage", "RasterGroupedSum") and input_data.target_raster:
            _check_rasters([input_data.target_raster])

    layers = _layers(spark, input_data, input_data.rasters)

    if op == "RasterGroupedCount":
        if not layers:
            raise MissingVectorError("RasterGroupedCount requires rasters")
        df = zonal.raster_grouped_count(layers, _mask(spark, input_data))
        return {r["list_key"]: r["cnt"] for r in df.collect()}

    if op == "RasterGroupedCountMany":
        if not input_data.aoi_ids:
            if input_data.shape_geojson:
                # the reference wire path (TR55 example): one histogram
                # per input polygon STRING, in input order — ResultManyInt
                # (Geoprocessing.scala:114-126). Tiles are fetched once
                # for all polygons (one plan, aoi_id in the grouping key).
                geometry.validate_crs(input_data.shape_crs)
                labels = [f"shape_{i}" for i in range(len(input_data.shape_geojson))]
                # clipped to the layer extent like _mask's: candidates
                # outside the layer grid cannot match any layer tile
                layout = _with_layer_extent(spark, _layout(input_data))
                parts = []
                for label, g in zip(labels, input_data.shape_geojson):
                    polys = geometry.parse_multipolygon(g)
                    if (
                        input_data.raster_crs
                        and input_data.raster_crs != input_data.shape_crs
                    ):
                        geometry.validate_crs(input_data.raster_crs)
                        polys = projection.reproject_polygons(
                            polys, input_data.shape_crs, input_data.raster_crs
                        )
                    parts.append(
                        geometry.rasterize_polygons(
                            spark,
                            polys,
                            input_data.pixel_is_area,
                            layout=layout,
                        ).withColumn("aoi_id", F.lit(label))
                    )
                rows = zonal.raster_grouped_count_many(layers, _union(parts)).collect()
                return [
                    {r["list_key"]: r["cnt"] for r in rows if r["aoi_id"] == label}
                    for label in labels
                ]
            raise MissingVectorError(
                "RasterGroupedCountMany requires aoi_ids or polygon"
            )
        mask_many = _id_masks(
            spark, input_data.aoi_ids, _fixture_zoom(input_data), tagged=True
        )
        df = zonal.raster_grouped_count_many(layers, mask_many)
        rows = df.collect()
        # input-polygon order preserved (Geoprocessing.scala:124)
        return {
            aoi: {r["list_key"]: r["cnt"] for r in rows if r["aoi_id"] == aoi}
            for aoi in input_data.aoi_ids
        }

    if op in ("RasterGroupedAverage", "RasterGroupedSum"):
        if not input_data.target_raster:
            raise MissingTargetRasterError(f"{op} requires targetRaster")
        target = _layers(spark, input_data, [input_data.target_raster])[0]
        mask = _mask(spark, input_data)
        if op == "RasterGroupedSum":
            df = zonal.raster_grouped_sum(layers, target, mask)
            return {r["list_key"]: r["sum_value"] for r in df.collect()}
        if not layers:  # ungrouped average path (Geoprocessing.scala:61,148)
            df = zonal.raster_average(target, mask)
            return {r["list_key"]: r["avg_value"] for r in df.collect()}
        df = zonal.raster_grouped_average(layers, target, mask)
        return {r["list_key"]: r["avg_value"] for r in df.collect()}

    if op == "RasterLinesJoin":
        if not layers:
            raise MissingVectorError("RasterLinesJoin requires rasters")
        df = zonal.raster_lines_join(layers, _lines(spark, input_data), _mask(spark, input_data))
        return {r["list_key"]: r["cnt"] for r in df.collect()}

    if op == "RasterSummary":
        targets = layers
        if not targets:
            raise MissingVectorError("RasterSummary requires rasters")
        df = zonal.raster_summary(targets, _mask(spark, input_data))
        by_idx = {r["raster_idx"]: r for r in df.collect()}
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
            for r in (by_idx.get(i) for i in range(len(targets)))
        ]

    raise InvalidOperationError(op)  # unreachable


_MULTI_KINDS = {
    "RasterGroupedCount": "grouped_count",
    "RasterLinesJoin": "lines_join",
    "RasterGroupedSum": "grouped_sum",
}


def multi_request(spark: SparkSession, multi: MultiInput) -> dict:
    """POST /multi (Geoprocessing.scala:21-89): shapes x operations.
    Requests over fixture AOI ids (no GeoJSON, no stream lines) are
    memoized; see ``_multi`` for the plan."""
    cacheable = (
        bool(multi.shapes)
        and not _geojson_shapes(multi)
        and not multi.stream_lines_geojson
    )
    return _memoized(spark, "multi", multi, cacheable, _multi)


def _geojson_shapes(multi: MultiInput) -> bool:
    return bool(multi.shapes) and multi.shapes[0].lstrip().startswith("{")


def _multi_kind(op) -> str:
    """The mapshed.template_df kind of one /multi operation."""
    if op.name == "RasterGroupedAverage":
        return "average" if not op.rasters else "grouped_average"
    if op.name in _MULTI_KINDS:
        return _MULTI_KINDS[op.name]
    raise InvalidOperationError(f"/multi does not support {op.name!r}")


def _multi(spark: SparkSession, multi: MultiInput) -> dict:
    """POST /multi, uncached.

    Single-pass: each operation runs ONCE over all shapes with aoi_id in
    its grouping key (mapshed.template_df); M x K cases cost K plans in
    one union and one collect — the reference's shared-raster-fetch
    optimization (CHANGELOG.md:82-91) without its per-pair request loop.
    Shapes whose op results are empty emit ``{}`` (CHANGELOG.md:66-79).

    Shapes may be pre-rasterized aoi ids OR GeoJSON strings (the
    reference's wire shape, Geoprocessing.scala:23-24): GeoJSON shapes
    are rasterized into per-shape masks keyed ``shape_{i}`` in input
    order; ``multi.shape_crs`` is validated like /run's.
    """
    from mmw_geoprocessing_spark.operators.mapshed import template_df

    # operations and ids are checked before any Spark work
    kinds = [_multi_kind(op) for op in multi.operations]
    for op, kind in zip(multi.operations, kinds):
        _check_rasters(op.rasters)
        if kind in ("average", "grouped_average", "grouped_sum"):
            if not op.target_raster:
                raise MissingTargetRasterError(f"{op.name} requires targetRaster")
            _check_rasters([op.target_raster])
    if _geojson_shapes(multi):
        geometry.validate_crs(multi.shape_crs)
        # response keys are the reference HUC ids when the wire carried
        # them (WebServer.scala:32-35), positional labels otherwise
        ids = multi.shape_ids or [None] * len(multi.shapes)
        shape_labels = [
            hid if hid is not None else f"shape_{i}" for i, hid in enumerate(ids)
        ]
        polys_per_shape = [geometry.parse_multipolygon(g) for g in multi.shapes]
        # normalize into the raster frame (reference Geoprocessing.scala:
        # 23-24 normalizeHuc; Utils.scala:96-98): the wire default is
        # LatLng shapes against a ConusAlbers grid
        if multi.raster_crs and multi.raster_crs != multi.shape_crs:
            geometry.validate_crs(multi.raster_crs)
            polys_per_shape = [
                projection.reproject_polygons(polys, multi.shape_crs, multi.raster_crs)
                for polys in polys_per_shape
            ]

        # rasterize once per sampling mode actually requested (each op
        # carries its own pixelIsArea, Utils.scala:109-118)
        if multi.zoom not in geometry.ZOOM_LAYOUTS:
            raise InvalidZoomError(
                f"zoom {multi.zoom} has no registered layer layout; "
                f"registered zooms: {sorted(geometry.ZOOM_LAYOUTS)}"
            )
        multi_layout = _with_layer_extent(spark, geometry.ZOOM_LAYOUTS[multi.zoom])

        def masks_for(pixel_is_area: bool):
            return _union([
                geometry.rasterize_polygons(
                    spark, polys, pixel_is_area, layout=multi_layout
                ).withColumn("aoi_id", F.lit(label))
                for label, polys in zip(shape_labels, polys_per_shape)
            ])

        masks_by_mode = {
            mode: masks_for(mode) for mode in {op.pixel_is_area for op in multi.operations}
        }

        # request streamLines (reference MultiInput.streamLines,
        # WebServer.scala:47): clip geometrically PER SHAPE
        # (Utils.scala:196-198 via Geoprocessing.scala:64-66), rasterize
        # in the request frame, tag aoi_id — one union consumed by every
        # lines_join template through the same masks semi-join as /run
        multi_line_pixels = None
        wants_lines = "lines_join" in kinds
        if wants_lines and not multi.stream_lines_geojson:
            # reference MissingStreamLinesException
            # (Geoprocessing.scala:70-74) -> typed 400. The fixture
            # line-pixel fallback belongs only to the pre-rasterized
            # aoi-id path below.
            raise MissingStreamLinesError(
                "RasterLinesJoin in /multi requires streamLines"
            )
        if multi.stream_lines_geojson and wants_lines:
            lines = _parse_lines_geojson(multi.stream_lines_geojson)
            if multi.raster_crs and multi.raster_crs != multi.shape_crs:
                lines = projection.reproject_lines(
                    lines, multi.shape_crs, multi.raster_crs
                )
            multi_line_pixels = _union([
                geometry.rasterize_lines(
                    spark, geometry.clip_lines(lines, polys), layout=multi_layout
                ).withColumn("aoi_id", F.lit(label))
                for label, polys in zip(shape_labels, polys_per_shape)
            ])
    else:
        _check_aois(multi.shapes)
        shape_labels = list(multi.shapes)
        masks_by_mode = None
        multi_line_pixels = None

    out: dict[str, dict] = {label: {} for label in shape_labels}
    if not shape_labels or not kinds:
        return out
    if masks_by_mode is None:
        # fixture masks sit at the native frame
        masks = _id_masks(spark, shape_labels, 0, tagged=True)
    parts = [
        template_df(
            spark,
            op.label,
            kind,
            list(op.rasters),
            op.target_raster,
            masks_by_mode[op.pixel_is_area] if masks_by_mode is not None else masks,
            line_pixels=multi_line_pixels if kind == "lines_join" else None,
        )
        for op, kind in zip(multi.operations, kinds)
    ]
    for r in _union(parts).collect():
        out[r["aoi_id"]].setdefault(r["op_label"], {})[r["list_key"]] = r["value"]
    return out
