"""The reference's benchmark workload: the MapShed suite — the
benchmark script's 7 templates (reference scripts/benchmark-mapshed:
25-107 — nlcd_soil, nlcd_streams, gwn, avg_awc, nlcd_slope, slope,
nlcd_kfactor) plus the live worksheet's 3 extra ungrouped averages
(examples/MultiOperationRequestHUC12.json — soiln, soilp, recess_coef)
over one HUC-8 plus the 8-HUC-12 subbasin partition
(scripts/benchmark-subbasin:110-121).

Single-pass shape: instead of 10 ops x 9 shapes = 90 jobs (the
reference's request loop), each template runs ONCE with ``aoi_id``
folded into its grouping key — 10 plans, one union, one collect. This is
the plan shape that survives 1000 shapes at 100 TB: the shape dimension
rides the shuffle key, and every raster is scanned once (the
reference's own key optimization, CHANGELOG.md:82-91, taken further).

Output: ``(op_label, aoi_id, list_key, value DOUBLE)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mmw_geoprocessing_spark.operators import zonal
from mmw_geoprocessing_spark.operators.zonal import PIXEL_KEY
from mmw_geoprocessing_spark.sources import fixtures as fx

# template -> (kind, group rasters, target)
TEMPLATES: dict[str, tuple[str, list[str], str | None]] = {
    "nlcd_soil": ("grouped_count", ["nlcd", "soil"], None),
    "nlcd_streams": ("lines_join", ["nlcd"], None),
    "gwn": ("grouped_count", ["gwn"], None),
    "avg_awc": ("average", [], "awc"),
    "nlcd_slope": ("grouped_average", ["nlcd"], "slope"),
    "slope": ("average", [], "slope"),
    "nlcd_kfactor": ("grouped_average", ["nlcd"], "kfactor"),
    # the live MMW worksheet adds three ungrouped averages beyond the
    # benchmark-mapshed 7 (reference examples/MultiOperationRequestHUC12
    # .json operations: soiln / soilp / recess_coef, ResultDouble each)
    "soiln": ("average", [], "soiln"),
    "soilp": ("average", [], "soilp"),
    "recess_coef": ("average", [], "bfi"),
}

# The REGISTERED suite workload: both r7 HUC-8s plus their 16 HUC-12
# subbasins — 18 AOIs x 10 templates = 180 cases per run, ONE union +
# ONE collect (the shared-raster-fetch shape). Held at the r7 size so
# bench/gate numbers stay comparable across rounds.
MAPSHED_AOIS = ["huc8_01", *fx.SUBBASIN_AOIS, "huc8_02", *fx.SUBBASIN_AOIS_2]

# The FULL fixture-world sweep (round 8: third HUC-8 + huc12_17..32,
# then the 29 sweep-only subbasins huc12_33..61 → 64 AOIs, 61 HUC-12s —
# the reference's 61-subbasin count 1:1): used by the per-(AOI,
# template) golden discipline (tools/make_goldens.subbasin_cases →
# frozen files, the analogue of the reference's 61-subbasin x
# 7-template output set, scripts/benchmark-subbasin:110-121). The
# sweep-only subbasins are NOT in mask_all, so registered workloads
# stay bit-stable (sources/fixtures.SWEEP_ONLY_AOI_DEFS).
SWEEP_AOIS = [*MAPSHED_AOIS, "huc8_03", *fx.SUBBASIN_AOIS_3, *fx.SWEEP_ONLY_AOIS]


def _masks(spark: SparkSession, aoi_ids: list[str]) -> DataFrame:
    m = fx.mask_all_df(spark)
    # Sweep-only subbasins (huc12_33..61) are deliberately absent from
    # mask_all; filtering for them here would silently yield ZERO rows
    # for those AOIs. Fail loudly instead — the sweep path goes through
    # per-AOI mask fixtures (tools/make_goldens.py), not this table.
    # mask_all's universe is exactly AOI_DEFS (fixtures.py), so the
    # check is static — no extra Spark job on the suite hot path.
    absent = sorted(set(aoi_ids) - set(fx.AOI_DEFS))
    if absent:
        raise ValueError(
            f"aoi_ids not present in mask_all (sweep-only AOIs need "
            f"per-AOI mask fixtures, see tools/make_goldens.py): {absent}"
        )
    return m.filter(m.aoi_id.isin(aoi_ids))


def template_df(
    label: str,
    kind: str,
    layers: list[DataFrame],
    target: DataFrame | None,
    masks: DataFrame,
    line_pixels: DataFrame | None = None,
) -> DataFrame:
    """One template over a many-AOI mask table, aoi_id in the grouping
    key: the ``zonal`` operator of ``kind`` (grouped_count, lines_join,
    average, grouped_average or grouped_sum) over resolved layers, with
    the value cast to DOUBLE (the reference's /multi result type).
    Output: ``(op_label, aoi_id, list_key, value DOUBLE)``.

    ``line_pixels`` (lines_join): pixel rows shared by every AOI, or
    per-AOI rows carrying ``aoi_id`` (lines clipped per shape).
    """
    df = zonal.operator(kind, layers, target, masks, line_pixels)
    # selectExpr: one parsed projection per template (plan-construction
    # hot path)
    return df.selectExpr(
        f"'{label}' AS op_label", "aoi_id", "list_key",
        f"CAST({df.columns[-1]} AS DOUBLE) AS value",
    )


def _fused_suite(spark: SparkSession, masks: DataFrame) -> DataFrame:
    """The suite as ONE pass (optimization round 14, guide §2.4): every
    raster is LEFT-joined onto the mask rows once (all bucketed on the
    pixel key -> zero-exchange sort-merge joins), a per-layer presence
    flag preserves each template's key-set semantics (a template's row
    participates iff >=1 of ITS layers has the pixel — exactly the
    mask ∩ layer-universe row set of the per-template join), and the 10
    template aggregates ride ONE shuffle via a manual expand: per mask
    row an ``inline()`` of 10 (op_label, list_key, count-contrib,
    avg-contrib) structs, then a single partial+final hash aggregate.
    Replaces the 10-branch union (42 Exchanges, 13 raster + 10 mask
    scans at sf0.1) with 1 Exchange over pre-aggregated rows.

    Correctness contract (hash-gated by the unchanged oracle):
    - count templates: SUM(1.0 per participating row) == CAST(COUNT(*)
      AS DOUBLE) over the per-template join (exact doubles far below
      2^53);
    - average templates: AVG over participating rows only (CASE yields
      NULL otherwise; AVG ignores NULLs) == AVG(COALESCE(t, 0.0)) over
      the per-template inner/union join;
    - groups that exist only via non-participating rows aggregate to
      NULL and are filtered — they have no row in the per-template
      plan;
    - lines_join participation = line-touched AND layer-present, with
      the line-pixel dedup a zero-exchange partial distinct on the
      bucketed line_pixels fixture.
    """
    from mmw_geoprocessing_spark.functions.nodata import NODATA_INT

    # value/presence columns per distinct raster used by any template
    rasters: list[str] = []
    for _label, (_kind, rs, target) in TEMPLATES.items():
        for r in [*rs, *([target] if target else [])]:
            if r not in rasters:
                rasters.append(r)

    # hint("merge"): without it the planner broadcasts every raster
    # (each under the 64 MB threshold at bench scale) — 9 collect+
    # broadcast jobs per fresh plan, and the shape that CANNOT exist at
    # 100 TB. The merge hint keeps the zero-exchange co-bucketed
    # sort-merge chain (both sides bucketed+sorted on the pixel key).
    base = masks
    for r in rasters:
        layer = fx.raster_df(spark, r).selectExpr(
            *PIXEL_KEY, f"value AS v_{r}", f"true AS p_{r}"
        )
        base = base.join(layer.hint("merge"), on=PIXEL_KEY, how="left")
    line_flag = (
        fx.line_pixels_df(spark)
        .select(*PIXEL_KEY)
        .dropDuplicates(PIXEL_KEY)
        .selectExpr(*PIXEL_KEY, "true AS line_t")
    )
    base = base.join(line_flag.hint("merge"), on=PIXEL_KEY, how="left")

    def _key(rs: list[str]) -> str:
        casts = ", ".join(
            f"cast(coalesce(v_{r}, {NODATA_INT}) as string)" for r in rs
        )
        return f"concat('List(', concat_ws(', ', {casts}), ')')"

    entries: list[str] = []
    for label, (kind, rs, target) in TEMPLATES.items():
        if kind in ("grouped_count", "lines_join"):
            part = " OR ".join(f"p_{r} IS TRUE" for r in rs)
            if kind == "lines_join":
                part = f"({part}) AND line_t IS TRUE"
            entries.append(
                f"named_struct('op_label', '{label}', 'list_key', {_key(rs)}, "
                f"'c', CASE WHEN {part} THEN cast(1.0 as double) END, "
                f"'a', cast(NULL as double))"
            )
        elif kind == "average":
            entries.append(
                f"named_struct('op_label', '{label}', 'list_key', 'List(0)', "
                f"'c', cast(NULL as double), "
                f"'a', CASE WHEN p_{target} IS TRUE "
                f"THEN coalesce(v_{target}, cast(0.0 as double)) END)"
            )
        else:  # grouped_average: union key set (layers OR target present)
            part = " OR ".join(f"p_{r} IS TRUE" for r in [*rs, target])
            entries.append(
                f"named_struct('op_label', '{label}', 'list_key', {_key(rs)}, "
                f"'c', cast(NULL as double), "
                f"'a', CASE WHEN {part} "
                f"THEN coalesce(v_{target}, cast(0.0 as double)) END)"
            )

    exploded = base.selectExpr("aoi_id", f"inline(array({', '.join(entries)}))")
    return (
        exploded.groupBy("op_label", "aoi_id", "list_key")
        .agg(F.sum("c").alias("_c"), F.avg("a").alias("_a"))
        .selectExpr(
            "op_label", "aoi_id", "list_key", "coalesce(_c, _a) AS value"
        )
        .filter(F.col("value").isNotNull())
    )


def mapshed_suite(spark: SparkSession, aoi_ids: list[str] | None = None) -> DataFrame:
    aoi_ids = aoi_ids or MAPSHED_AOIS
    masks = _masks(spark, aoi_ids)
    return _fused_suite(spark, masks)
