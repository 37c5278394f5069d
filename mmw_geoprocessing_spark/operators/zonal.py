"""Zonal-statistics operators — the reference's public query surface.

Every operator is one instance of the reference's single plan shape
(SURVEY.md §0): scan → N-way full-outer layer join on pixel key →
polygon-mask join → hash aggregate grouped by the value tuple. The
operators evaluate it mask first, as the reference does (it crops every
layer to the AOI before joining them, Utils.scala:34-41,221-232): see
``mask_join``.

Inputs are *pixel tables*: ``(key_col INT, key_row INT, cell_col INT,
cell_row INT, value INT|DOUBLE)`` — the long-form equivalent of the
reference's ``TileLayerCollection[SpatialKey]`` (package.scala:9). Masks
are ``(key_col, key_row, cell_col, cell_row)`` pixel sets, the output of
rasterizing an AOI polygon (Geoprocessing.scala:356).

Scale design (100 TB):
- The plan starts from the AOI mask: each layer is LEFT-joined onto the
  mask rows (``mask_join``), so the join never materializes a layer
  beyond the AOI. The joins are equi-joins on the 4 pixel-key columns;
  with mask and layers bucketed on that key, Catalyst plans them as
  co-partitioned sort-merge joins (merge-hinted) that keep the mask's
  partitioning — the only Exchange is the one feeding the final
  aggregate. AOI bbox predicates prune partitions at the scan.
- Aggregation output is tiny (a few hundred value tuples), so partial
  (map-side) aggregation collapses nearly all rows before the single
  cheap shuffle; AQE coalesces the post-shuffle partitions.
- No driver-side loops: a mask that carries ``aoi_id`` puts the per-AOI
  dimension into the grouping key of every operator instead of looping
  (one pass, reference needed a request per polygon: CHANGELOG.md:82-91).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mmw_geoprocessing_spark.functions.nodata import NODATA_INT, list_key

PIXEL_KEY = ["key_col", "key_row", "cell_col", "cell_row"]


def join_layers(layers: Sequence[DataFrame]) -> DataFrame:
    """N-way full-outer join of pixel tables on the pixel key.

    Reference ``joinCollectionLayers`` (Utils.scala:221-232): the key set
    is the *union* of the per-layer key sets and a layer missing a pixel
    contributes NODATA — i.e. FULL OUTER + ``coalesce(value, NODATA)``.

    Returns columns ``key_col,key_row,cell_col,cell_row,v1..vN`` (vi INT,
    NODATA-filled).

    This whole-layer form is the reference the tests compare against;
    the operators build on ``mask_join``. Its coalesced keys lose the
    layers' bucket partitioning, so a mask joined to it re-shuffles the
    whole joined layer.
    """
    out = layers[0].selectExpr(*PIXEL_KEY, "value AS v1")
    for i, layer in enumerate(layers[1:], start=2):
        out = out.join(
            layer.selectExpr(*PIXEL_KEY, f"value AS v{i}"),
            on=PIXEL_KEY,
            how="full",
        )
    fills = [f"coalesce(v{i}, {NODATA_INT}) AS v{i}" for i in range(1, len(layers) + 1)]
    return out.selectExpr(*PIXEL_KEY, *fills)


def mask_join(
    mask: DataFrame,
    layers: Sequence[DataFrame],
    target: DataFrame | None = None,
    target_in_key_set: bool = False,
) -> DataFrame:
    """The layer join restricted to the pixels of ``mask``, built from the
    mask outward: ``join_layers(layers)`` inner-joined to the mask gives
    the same rows.

    Each layer is LEFT-joined onto the mask rows (``value AS v{i}`` plus a
    ``true`` presence flag); a row is kept when any key-set layer has the
    pixel, and missing values are filled with NODATA. Presence is the
    flag, not ``value IS NOT NULL``: NODATA pixels are stored as NULL
    values and still count.

    ``target`` is LEFT-joined the same way and returned unfilled as
    ``_t``. With ``target_in_key_set`` its presence also keeps a row (the
    reference joins ``targetLayer +: rasterLayers``); without it the key
    set is the group layers' alone.

    Every join is merge-hinted: mask and layers are bucketed on the pixel
    key, so each is a sort-merge join that needs no Exchange and keeps
    the mask's partitioning (the planner would otherwise broadcast-build
    each layer per fresh plan, a shape that cannot exist at 100 TB).

    Returns ``[aoi_id,] key_col, key_row, cell_col, cell_row, v1..vN[, _t]``
    — ``aoi_id`` when the mask carries one.
    """
    extra = ["aoi_id"] if "aoi_id" in mask.columns else []
    out = mask.select(*extra, *PIXEL_KEY)
    flags = []
    for i, layer in enumerate(layers, start=1):
        out = out.join(
            layer.selectExpr(*PIXEL_KEY, f"value AS v{i}", f"true AS _p{i}").hint("merge"),
            on=PIXEL_KEY,
            how="left",
        )
        flags.append(f"_p{i}")
    tail = []
    if target is not None:
        out = out.join(
            target.selectExpr(*PIXEL_KEY, "value AS _t", "true AS _pt").hint("merge"),
            on=PIXEL_KEY,
            how="left",
        )
        if target_in_key_set:
            flags.append("_pt")
        tail = ["_t"]
    fills = [f"coalesce(v{i}, {NODATA_INT}) AS v{i}" for i in range(1, len(layers) + 1)]
    return out.where(" OR ".join(f"{f} IS NOT NULL" for f in flags)).selectExpr(
        *extra, *PIXEL_KEY, *fills, *tail
    )


def _value_cols(n: int) -> list[F.Column]:
    return [F.col(f"v{i}") for i in range(1, n + 1)]


def _aoi(mask: DataFrame) -> list[str]:
    """``["aoi_id"]`` when the mask carries one: every operator then
    answers per AOI, with ``aoi_id`` leading its grouping key."""
    return ["aoi_id"] if "aoi_id" in mask.columns else []


def raster_grouped_count(layers: Sequence[DataFrame], mask: DataFrame) -> DataFrame:
    """O1 RasterGroupedCount (Geoprocessing.scala:338-368): zonal histogram
    of the value tuple across N rasters, NODATA participating as a value.

    Output: ``([aoi_id,] list_key STRING, cnt BIGINT)``.
    """
    aoi, vals = _aoi(mask), _value_cols(len(layers))
    return (
        mask_join(mask, layers)
        .groupBy(*aoi, *vals)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(*aoi, list_key(*vals).alias("list_key"), "cnt")
    )


def raster_grouped_count_many(layers: Sequence[DataFrame], mask_many: DataFrame) -> DataFrame:
    """O2 RasterGroupedCountMany (Geoprocessing.scala:114-126): O1 for each
    AOI in one pass — the AOI id joins the grouping key instead of looping
    per polygon.

    ``mask_many``: ``(aoi_id, key_col, key_row, cell_col, cell_row)``.
    Output: ``(aoi_id STRING, list_key STRING, cnt BIGINT)``.
    """
    return raster_grouped_count(layers, mask_many.select("aoi_id", *PIXEL_KEY))


def raster_average(target: DataFrame, mask: DataFrame) -> DataFrame:
    """O3 RasterAverage (Geoprocessing.scala:245-277): ungrouped mean of the
    target over the AOI. NODATA target cells are coerced to 0.0 and *still
    counted in the denominator* (:266-270) — ``avg(coalesce(v, 0.0))``, not
    ``avg(v)``. The row set is mask ∩ target-present pixels (inner join):
    the reference iterates the *target layer's* tiles, so mask pixels on
    tiles absent from the target are never visited (NODATA cells on
    present tiles ARE rows with NULL value and are visited). Result key
    is literally ``"List(0)"`` (:275). Without ``aoi_id`` the aggregate
    is global: an empty mask still answers one NULL row.

    Output: ``([aoi_id,] list_key STRING, avg_value DOUBLE)``.
    """
    aoi = _aoi(mask)
    return (
        mask.select(*aoi, *PIXEL_KEY)
        .join(target, on=PIXEL_KEY, how="inner")
        .groupBy(*aoi)
        .agg(F.avg(F.coalesce(F.col("value"), F.lit(0.0))).alias("avg_value"))
        .select(*aoi, F.lit("List(0)").alias("list_key"), "avg_value")
    )


def raster_grouped_average(
    layers: Sequence[DataFrame], target: DataFrame, mask: DataFrame
) -> DataFrame:
    """O4 RasterGroupedAverage (Geoprocessing.scala:288-329): mean of the
    target per distinct tuple of group-raster values within the AOI; NODATA
    target -> 0.0 as in O3; group tuples may contain NODATA ints.

    Key-set semantics: the reference joins ``targetLayer +: rasterLayers``
    (joinCollectionLayers, Utils.scala:221-232), so the pixel universe is
    the UNION of target and group keys — a target pixel on a tile the
    group layers miss is still counted, under an all-NODATA group tuple.
    Hence the target's presence counts towards the key set.

    Output: ``([aoi_id,] list_key STRING, avg_value DOUBLE)``.
    """
    aoi, vals = _aoi(mask), _value_cols(len(layers))
    return (
        mask_join(mask, layers, target, target_in_key_set=True)
        .groupBy(*aoi, *vals)
        .agg(F.avg(F.coalesce(F.col("_t"), F.lit(0.0))).alias("avg_value"))
        .select(*aoi, list_key(*vals).alias("list_key"), "avg_value")
    )


def raster_grouped_sum(
    layers: Sequence[DataFrame], target: DataFrame, mask: DataFrame
) -> DataFrame:
    """O8 RasterGroupedSum (reference CHANGELOG.md:151-153, historical
    v1.2.0 operator): sum of the target grouped by the raster-value tuple,
    clipped to the AOI. NULL target cells contribute 0.

    Key set: the group layers' key union (target left-joined) — the
    historical operator has no current reference implementation to
    mirror, so the declared contract is: target pixels outside the group
    layers' tiles are not counted (documented divergence from O4's
    union semantics).

    Output: ``([aoi_id,] list_key STRING, sum_value DOUBLE)``.
    """
    aoi, vals = _aoi(mask), _value_cols(len(layers))
    return (
        mask_join(mask, layers, target)
        .groupBy(*aoi, *vals)
        .agg(F.sum(F.coalesce(F.col("_t"), F.lit(0.0))).alias("sum_value"))
        .select(*aoi, list_key(*vals).alias("list_key"), "sum_value")
    )


def raster_lines_join(
    layers: Sequence[DataFrame], line_pixels: DataFrame, mask: DataFrame
) -> DataFrame:
    """O5 RasterLinesJoin (Geoprocessing.scala:210-235): count of *distinct
    pixels* touched by >=1 rasterized line, grouped by the raster-value
    tuple at the pixel. Lines are clipped to the AOI first (Utils.scala:
    196-198); a pixel crossed by 5 lines counts once (:225-227).

    Distinctness needs NO explicit dropDuplicates (the r5 10-exchange
    regression): the AOI clip is ``mask LEFT SEMI line_pixels`` — the
    mask has one row per pixel, so the semi join against the
    (duplicated) line pixels keeps each touched pixel exactly once. The
    mask must stay on the left: with the line pixels on the left, a
    pixel crossed by k lines would be counted k times. The clipped mask
    then feeds ``mask_join``; line pixels are bucketed on the pixel key
    like the mask, so the merge-hinted semi join needs no Exchange.

    ``line_pixels`` either serve every AOI or, when both they and the
    mask carry ``aoi_id`` (lines clipped per shape), only their own AOI.

    Output: ``([aoi_id,] list_key STRING, cnt BIGINT)``.
    """
    aoi = _aoi(mask)
    on = [*(aoi if "aoi_id" in line_pixels.columns else []), *PIXEL_KEY]
    on_lines = mask.select(*aoi, *PIXEL_KEY).join(
        line_pixels.select(*on).hint("merge"), on=on, how="left_semi"
    )
    return raster_grouped_count(layers, on_lines)


def raster_summary(targets: Sequence[DataFrame], mask: DataFrame) -> DataFrame:
    """O6 RasterSummary (Geoprocessing.scala:380-431): per input raster (in
    input order) ``{min, avg, max}`` over AOI pixels. min/max skip NODATA
    (Utils.scala:266-284 combiners' evident intent); avg = sum/count over
    *all* rasterized pixels with NODATA as 0 (:385-393,427).

    One pass (optimization round 14, guide §2.4): instead of a UNION of
    N mask-join branches (N mask scans, N+1 Exchanges), every target is
    LEFT-joined onto the mask rows once (bucketed pixel key -> zero-
    exchange sort-merge joins; each target has at most one row per
    pixel, so mask row count is preserved) and all 3N statistics land
    in ONE global aggregate; ``inline()`` unpivots the single stat row
    back into the per-raster shape. The per-branch COUNT(*) equals the
    shared mask row count, so ``sum(coalesce(v,0))/n`` is the identical
    avg; an empty mask yields zero rows via the ``n > 0`` guard (the
    union shape's empty-aggregate contract). ``inline()`` over the one
    stat row emits the rasters in input order, so no sort (and no
    range-partitioning Exchange) is needed.

    Output: ``(raster_idx INT, min_value, avg_value, max_value DOUBLE)``.
    """
    joined = mask.select(*PIXEL_KEY)
    for i, t in enumerate(targets):
        # merge hint: keep the zero-exchange co-bucketed sort-merge
        # chain — the planner would otherwise broadcast each target
        # (a shape that cannot exist at 100 TB; see mapshed note)
        joined = joined.join(
            t.selectExpr(*PIXEL_KEY, f"value AS _t{i}").hint("merge"),
            on=PIXEL_KEY,
            how="left",
        )
    aggs: list[F.Column] = [F.count(F.lit(1)).alias("_n")]
    for i in range(len(targets)):
        aggs.append(F.min(f"_t{i}").alias(f"_mn{i}"))  # min/max skip NULLs
        aggs.append(F.sum(F.coalesce(F.col(f"_t{i}"), F.lit(0.0))).alias(f"_sm{i}"))
        aggs.append(F.max(f"_t{i}").alias(f"_mx{i}"))
    structs = ", ".join(
        f"named_struct('raster_idx', {i}, 'min_value', _mn{i}, "
        f"'avg_value', _sm{i} / _n, 'max_value', _mx{i})"
        for i in range(len(targets))
    )
    return (
        joined.agg(*aggs)
        .where(F.col("_n") > 0)
        .selectExpr(f"inline(array({structs}))")
    )


def operator(
    kind: str,
    layers: Sequence[DataFrame],
    target: DataFrame | None,
    mask: DataFrame,
    line_pixels: DataFrame | None = None,
) -> DataFrame:
    """The operator of one request kind over resolved inputs — ``kind`` in
    {grouped_count, lines_join, average, grouped_average, grouped_sum,
    summary}. The value is the last column."""
    if kind == "grouped_count":
        return raster_grouped_count(layers, mask)
    if kind == "lines_join":
        return raster_lines_join(layers, line_pixels, mask)
    if kind == "average":
        return raster_average(target, mask)
    if kind == "grouped_average":
        return raster_grouped_average(layers, target, mask)
    if kind == "grouped_sum":
        return raster_grouped_sum(layers, target, mask)
    return raster_summary(layers, mask)


def _parent_key_cols(tile_size: int, factor: int) -> list[F.Column]:
    """Child pixel key -> parent pixel key (one pyramid step down).

    ``pmod`` + float-division ``floor`` (not Spark's sign-following
    ``%`` / int division), so the decomposition is correct for NEGATIVE
    grid coordinates too — catalog layers whose extent lies below/left
    of the layout origin have negative key_col/key_row, and
    ``floor(g/f)*T + pmod(g,T) == g`` must hold for every sign."""
    T = tile_size
    gx = F.col("key_col") * T + F.col("cell_col")
    gy = F.col("key_row") * T + F.col("cell_row")
    px = F.floor(gx / factor).cast("int")
    py = F.floor(gy / factor).cast("int")
    return [
        F.floor(px / T).cast("int").alias("key_col"),
        F.floor(py / T).cast("int").alias("key_row"),
        F.pmod(px, F.lit(T)).cast("int").alias("cell_col"),
        F.pmod(py, F.lit(T)).cast("int").alias("cell_row"),
    ]


def pyramid_down_keys(
    pixels: DataFrame,
    extra_cols: Sequence[str] = (),
    tile_size: int = 8,
    factor: int = 2,
) -> DataFrame:
    """Coarsen a *pixel-set* table (an AOI mask or rasterized line
    pixels — no ``value`` column) by one pyramid level: a parent cell is
    present iff >=1 child cell is present (conservative cover, the
    rasterizer's own any-intersection convention). ``extra_cols``
    (e.g. ``aoi_id`` / ``line_id``) ride along and join the dedup key.

    One shuffle (the dropDuplicates partial-distinct collapses the
    factor^2 children map-side) — same scale shape as pyramid_down."""
    cols = list(extra_cols)
    out = pixels.select(*cols, *_parent_key_cols(tile_size, factor))
    return out.dropDuplicates([*cols, *PIXEL_KEY])


def pyramid_down(
    pixels: DataFrame, tile_size: int = 8, factor: int = 2, agg: str = "mode"
) -> DataFrame:
    """Build the next pyramid level DOWN (coarser) from a pixel table:
    each ``factor x factor`` block of child cells collapses to one
    parent cell in the same world frame (parent cellsize = child
    cellsize * factor — e.g. the zoom-13 -> zoom-12 step of the
    reference's layer pyramid, whose catalogs store one such level per
    zoom; scripts/benchmark-mapshed:31-34 layer naming).

    ``agg``:
    - ``"mode"`` (categorical rasters like NLCD): most frequent child
      value per block, ties to the SMALLEST value, NULLs (NODATA) not
      voting; a block of only-NULL children yields NULL.
    - ``"avg"`` (continuous rasters): mean of non-NULL children.

    Scale shape: one shuffle on the parent pixel key (plus one more for
    mode's per-value counting) — pyramid building over 100 TB is a
    single pass per level, and levels halve in size.

    Output: the same pixel-table schema, keyed in the parent grid.
    """
    parented = pixels.select(*_parent_key_cols(tile_size, factor), "value")
    if agg == "avg":
        return parented.groupBy(*PIXEL_KEY).agg(F.avg("value").alias("value"))
    if agg != "mode":
        raise ValueError(f"agg must be 'mode' or 'avg', got {agg!r}")
    from pyspark.sql import Window

    counts = (
        parented.where(F.col("value").isNotNull())
        .groupBy(*PIXEL_KEY, "value")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy(*PIXEL_KEY).orderBy(F.col("cnt").desc(), F.col("value").asc())
    modes = (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(*PIXEL_KEY, "value")
    )
    # blocks whose children are ALL NODATA still exist at the parent
    # level (as NODATA cells) — restore them via the distinct parent set
    parents = parented.select(*PIXEL_KEY).dropDuplicates(PIXEL_KEY)
    return parents.join(modes, on=PIXEL_KEY, how="left").select(*PIXEL_KEY, "value")
