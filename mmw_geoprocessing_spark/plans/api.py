"""Request dispatch — parity with the reference's /run, /multi, /ping
endpoints (reference WebServer.scala:64-111) as plain Python functions.

The dispatch table, conditional-field validation, result-key format
(``"List(v1, v2)"``), nested /multi shape, and the typed 400 taxonomy all
mirror the reference; plug an HTTP layer (FastAPI/Flask) over these for
wire parity — the engine itself is transport-agnostic.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from mmw_geoprocessing_spark import geometry, projection
from mmw_geoprocessing_spark.errors import (
    InvalidOperationError,
    InvalidZoomError,
    MissingStreamLinesError,
    MissingTargetRasterError,
    MissingVectorError,
)
from mmw_geoprocessing_spark.operators import zonal
from mmw_geoprocessing_spark.plans.model import VALID_OPERATIONS, InputData, MultiInput
from mmw_geoprocessing_spark.sources import fixtures as fx


def ping() -> str:
    """GET /ping (WebServer.scala:70-74)."""
    return "pong"


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


def _mask(spark: SparkSession, input_data: InputData):
    if input_data.aoi_ids:
        # pre-rasterized masks are stored at the native frame; at a
        # coarser registered zoom they are served pyramid_down'ed so the
        # mask joins the same pixel keyspace as the per-zoom layers
        # (unpyramided masks against pyramided layers silently join
        # mismatched keys). Unregistered zooms stay a typed 400.
        if input_data.zoom not in (0, fx.ZOOM_NATIVE):
            _layout(input_data)  # typed 400 for unregistered zooms
            if len(input_data.aoi_ids) == 1:
                return fx.mask_df_at_zoom(spark, input_data.aoi_ids[0], input_data.zoom)
            many = fx.mask_all_df_at_zoom(spark, input_data.zoom)
            return (
                many.filter(many.aoi_id.isin(input_data.aoi_ids))
                .drop("aoi_id")
                .dropDuplicates(zonal.PIXEL_KEY)
            )
        if len(input_data.aoi_ids) == 1:
            return fx.mask_df(spark, input_data.aoi_ids[0])
        many = fx.mask_all_df(spark)
        # union-of-AOIs semantics (reference Utils.scala:70-73): overlapping
        # AOIs must not double-count shared pixels
        return (
            many.filter(many.aoi_id.isin(input_data.aoi_ids))
            .drop("aoi_id")
            .dropDuplicates(zonal.PIXEL_KEY)
        )
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
    [x, y, 0] — is dropped."""
    import json

    lines: list[list[tuple[float, float]]] = []
    for g in strings:
        geo = json.loads(g)
        if geo.get("type") == "LineString":
            lines.append([tuple(p[:2]) for p in geo["coordinates"]])
        elif geo.get("type") == "MultiLineString":
            lines.extend(
                [[tuple(p[:2]) for p in line] for line in geo["coordinates"]]
            )
    return lines


def _lines(spark: SparkSession, input_data: InputData):
    if input_data.use_line_pixels:
        if input_data.zoom not in (0, fx.ZOOM_NATIVE):
            _layout(input_data)  # typed 400 for unregistered zooms
            return fx.line_pixels_df_at_zoom(spark, input_data.zoom)
        return fx.line_pixels_df(spark)
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
    import os

    root = os.environ.get("SPARK_GRAFT_CATALOG_ROOT")
    if not root:
        if input_data.zoom not in (0, fx.ZOOM_NATIVE):
            # serve the REAL per-zoom pyramid level (the reference
            # fetches a different layer per zoom, not a reframed native
            # one; coarser levels derived via zonal.pyramid_down)
            _layout(input_data)  # typed 400 for unregistered zooms
            return [
                fx.raster_df_at_zoom(spark, r, input_data.zoom) for r in raster_ids
            ]
        return [fx.raster_df(spark, r) for r in raster_ids]
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
    return the reference's ``{"List(...)": value}`` JSON shape."""
    op = input_data.operation_type
    if op not in VALID_OPERATIONS:
        raise InvalidOperationError(f"invalid operationType {op!r}")

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
                from pyspark.sql import functions as F

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
                mask_many = parts[0]
                for p in parts[1:]:
                    mask_many = mask_many.unionByName(p)
                rows = zonal.raster_grouped_count_many(layers, mask_many).collect()
                return [
                    {r["list_key"]: r["cnt"] for r in rows if r["aoi_id"] == label}
                    for label in labels
                ]
            raise MissingVectorError(
                "RasterGroupedCountMany requires aoi_ids or polygon"
            )
        if input_data.zoom not in (0, fx.ZOOM_NATIVE):
            _layout(input_data)  # typed 400 for unregistered zooms
            mask_many = fx.mask_all_df_at_zoom(spark, input_data.zoom)
        else:
            mask_many = fx.mask_all_df(spark)
        mask_many = mask_many.filter(mask_many.aoi_id.isin(input_data.aoi_ids))
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
    from pyspark.sql import functions as F

    from mmw_geoprocessing_spark.operators.mapshed import template_df

    if multi.shapes and multi.shapes[0].lstrip().startswith("{"):
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
            parts_masks = [
                geometry.rasterize_polygons(
                    spark, polys, pixel_is_area, layout=multi_layout
                ).withColumn("aoi_id", F.lit(label))
                for label, polys in zip(shape_labels, polys_per_shape)
            ]
            out = parts_masks[0]
            for p in parts_masks[1:]:
                out = out.unionByName(p)
            return out

        masks_by_mode = {
            mode: masks_for(mode) for mode in {op.pixel_is_area for op in multi.operations}
        }

        # request streamLines (reference MultiInput.streamLines,
        # WebServer.scala:47): clip geometrically PER SHAPE
        # (Utils.scala:196-198 via Geoprocessing.scala:64-66), rasterize
        # in the request frame, tag aoi_id — one union consumed by every
        # lines_join template through the same masks semi-join as /run
        multi_line_pixels = None
        wants_lines = any(
            _MULTI_KINDS.get(op.name) == "lines_join" for op in multi.operations
        )
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
            lp_parts = [
                geometry.rasterize_lines(
                    spark, geometry.clip_lines(lines, polys), layout=multi_layout
                ).withColumn("aoi_id", F.lit(label))
                for label, polys in zip(shape_labels, polys_per_shape)
            ]
            multi_line_pixels = lp_parts[0]
            for p in lp_parts[1:]:
                multi_line_pixels = multi_line_pixels.unionByName(p)
    else:
        shape_labels = list(multi.shapes)
        m = fx.mask_all_df(spark)
        m = m.filter(m.aoi_id.isin(multi.shapes))
        masks_by_mode = None
        multi_line_pixels = None
        masks = m

    parts = []
    for op in multi.operations:
        if op.name == "RasterGroupedAverage":
            kind = "average" if not op.rasters else "grouped_average"
        elif op.name in _MULTI_KINDS:
            kind = _MULTI_KINDS[op.name]
        else:
            raise InvalidOperationError(f"/multi does not support {op.name!r}")
        op_masks = masks_by_mode[op.pixel_is_area] if masks_by_mode is not None else masks
        parts.append(
            template_df(
                spark,
                op.label,
                kind,
                list(op.rasters),
                op.target_raster,
                op_masks,
                line_pixels=multi_line_pixels if kind == "lines_join" else None,
            )
        )
    union = parts[0]
    for p in parts[1:]:
        union = union.unionAll(p)

    out: dict[str, dict] = {label: {} for label in shape_labels}
    for r in union.collect():
        out[r["aoi_id"]].setdefault(r["op_label"], {})[r["list_key"]] = r["value"]
    return out
