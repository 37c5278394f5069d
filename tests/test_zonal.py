"""Zonal-operator semantics pinned to the reference's correctness traps
(SURVEY.md §2.4 / FIXTURES.md §7)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mmw_geoprocessing_spark.functions.nodata import NODATA_INT
from mmw_geoprocessing_spark.operators import zonal
from mmw_geoprocessing_spark.sources import fixtures as fx


def test_grouped_count_totals_equal_mask_size(spark, tables):
    """Property: histogram counts sum to the mask's pixel count."""
    layers = [fx.raster_df(spark, r) for r in ("nlcd", "soil")]
    mask = fx.mask_df(spark, "huc8_01")
    hist = zonal.raster_grouped_count(layers, mask)
    assert hist.agg(F.sum("cnt")).collect()[0][0] == mask.count()


def test_nodata_participates_in_keys(spark, tables):
    """NODATA ints must appear inside group keys (CHANGELOG.md:61-63)."""
    layers = [fx.raster_df(spark, r) for r in ("nlcd", "gwn")]
    hist = zonal.raster_grouped_count(layers, fx.mask_df(spark, "huc8_01"))
    keys = [r["list_key"] for r in hist.collect()]
    assert any(str(NODATA_INT) in k for k in keys)


def test_average_counts_nodata_as_zero(spark, tables):
    """O3: avg(coalesce(v, 0)) over ALL mask pixels, not avg(v)
    (Geoprocessing.scala:265-270)."""
    target = fx.raster_df(spark, "slope")
    mask = fx.mask_df(spark, "huc8_01")
    got = zonal.raster_average(target, mask).collect()[0]
    joined = mask.join(target, on=zonal.PIXEL_KEY, how="left")
    total = joined.agg(F.sum(F.coalesce(F.col("value"), F.lit(0.0)))).collect()[0][0]
    n = mask.count()
    assert got["list_key"] == "List(0)"
    assert abs(got["avg_value"] - total / n) < 1e-12
    # and it differs from the NODATA-skipping mean (sanity that the trap bites)
    naive = joined.agg(F.avg("value")).collect()[0][0]
    assert abs(got["avg_value"] - naive) > 1e-9


def test_grouped_average_with_no_groups_equals_average(spark, tables):
    """Property: O4 with a constant group == O3 value."""
    target = fx.raster_df(spark, "awc")
    mask = fx.mask_df(spark, "huc8_01")
    o3 = zonal.raster_average(target, mask).collect()[0]["avg_value"]
    const_layer = fx.raster_df(spark, "nlcd").withColumn("value", F.lit(1))
    o4 = zonal.raster_grouped_average([const_layer], target, mask).collect()
    assert len(o4) == 1 and abs(o4[0]["avg_value"] - o3) < 1e-12


def test_lines_join_dedups_shared_pixels(spark, tables):
    """O5 counts distinct pixels, not line crossings
    (Geoprocessing.scala:225-227)."""
    layers = [fx.raster_df(spark, "nlcd")]
    lines = fx.line_pixels_df(spark)
    mask = fx.mask_df(spark, "huc8_01")
    total = (
        zonal.raster_lines_join(layers, lines, mask)
        .agg(F.sum("cnt")).collect()[0][0]
    )
    distinct_pixels = (
        lines.join(mask, on=zonal.PIXEL_KEY, how="left_semi")
        .dropDuplicates(zonal.PIXEL_KEY)
        .count()
    )
    raw_rows = lines.join(mask, on=zonal.PIXEL_KEY, how="inner").count()
    assert total == distinct_pixels
    assert raw_rows > distinct_pixels  # fixtures guarantee shared pixels


def test_empty_aoi_yields_empty_not_error(spark, tables):
    """CHANGELOG.md:66-79: no intersecting lines -> {} not an error."""
    out = zonal.raster_lines_join(
        [fx.raster_df(spark, "nlcd")],
        fx.line_pixels_df(spark),
        fx.mask_df(spark, "huc12_empty"),
    )
    assert out.count() == 0


def test_summary_minmax_skip_nodata_avg_counts_all(spark, tables):
    """O6 asymmetry (Utils.scala:266-284 vs Geoprocessing.scala:427)."""
    target = fx.raster_df(spark, "slope")
    mask = fx.mask_df(spark, "huc8_01")
    row = zonal.raster_summary([target], mask).collect()[0]
    joined = mask.join(target, on=zonal.PIXEL_KEY, how="left")
    assert row["min_value"] == joined.agg(F.min("value")).collect()[0][0]
    assert row["max_value"] == joined.agg(F.max("value")).collect()[0][0]
    n = mask.count()
    s = joined.agg(F.sum(F.coalesce(F.col("value"), F.lit(0.0)))).collect()[0][0]
    assert abs(row["avg_value"] - s / n) < 1e-12


def test_summary_preserves_input_order(spark, tables):
    targets = [fx.raster_df(spark, r) for r in ("kfactor", "slope", "awc")]
    rows = zonal.raster_summary(targets, fx.mask_df(spark, "huc8_01")).collect()
    assert [r["raster_idx"] for r in rows] == [0, 1, 2]


def test_summary_plan_has_no_global_sort(spark, tables, monkeypatch):
    """``inline()`` emits the per-raster rows in input order, so
    RasterSummary needs no ORDER BY. Over one-bucket fixtures (the
    pixel-count rule's layout for small worlds) the global aggregate
    needs no Exchange, and a sort would add a range-partitioning
    Exchange and its sampling job to every request."""
    monkeypatch.setattr(fx, "_N_BUCKETS", 1)
    monkeypatch.setenv("SPARK_GRAFT_BUCKETED_FIXTURES", "1")
    fx.clear_fixture_cache()
    try:
        targets = [fx.raster_df(spark, r) for r in ("kfactor", "slope", "awc")]
        df = zonal.raster_summary(targets, fx.mask_df(spark, "huc8_01"))
        assert [r["raster_idx"] for r in df.collect()] == [0, 1, 2]
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan, plan[:3000]
        assert "rangepartitioning" not in plan, plan[:3000]
    finally:
        monkeypatch.delenv("SPARK_GRAFT_BUCKETED_FIXTURES", raising=False)
        fx.clear_fixture_cache()


def test_full_outer_layer_join_fills_nodata(spark, tables):
    """Missing tiles -> NODATA-filled join (Utils.scala:221-232)."""
    joined = zonal.join_layers(
        [fx.raster_df(spark, "nlcd"), fx.raster_df(spark, "gwn")]
    )
    # gwn is absent for key_col % 4 == 3: every such pixel must carry NODATA
    missing = joined.filter((F.col("key_col") % 4 == 3) & (F.col("v2") != NODATA_INT))
    assert missing.count() == 0
    present = joined.filter((F.col("key_col") % 4 == 3)).count()
    assert present > 0


def test_grouped_average_target_extends_key_set(spark, tables):
    """Reference joinCollectionLayers(target +: layers) key-set union
    (Utils.scala:221-232): pixels on tiles the group layers miss but the
    target covers are counted, under an all-NODATA group tuple. gwn is
    missing every 4th tile column; slope covers everything."""
    gwn = fx.raster_df(spark, "gwn")
    slope = fx.raster_df(spark, "slope")
    mask = fx.mask_df(spark, "huc8_01")
    out = zonal.raster_grouped_average([gwn], slope, mask)
    rows = {r["list_key"]: r["avg_value"] for r in out.collect()}
    # the all-NODATA tuple exists and covers the gwn-absent tiles
    assert f"List({NODATA_INT})" in rows
    # total pixel coverage == the whole mask (union key set), which the
    # old group-layers-only join would undercount by the missing tiles
    n_covered = (
        zonal.join_layers([gwn])
        .join(slope.select(*zonal.PIXEL_KEY), on=zonal.PIXEL_KEY, how="full")
        .join(mask.select(*zonal.PIXEL_KEY), on=zonal.PIXEL_KEY, how="inner")
        .count()
    )
    assert n_covered == mask.count()


def test_average_skips_target_absent_tiles(spark, tables):
    """O3 key set: the reference iterates the target layer's tiles, so
    mask pixels on tiles absent from the target are never visited —
    with gwn (missing tile columns) as target, the denominator is the
    covered subset, not the whole mask."""
    gwn = fx.raster_df(spark, "gwn").withColumn("value", F.col("value").cast("double"))
    mask = fx.mask_df(spark, "huc8_01")
    got = zonal.raster_average(gwn, mask).collect()[0]["avg_value"]
    covered = mask.join(gwn, on=zonal.PIXEL_KEY, how="inner")
    total = covered.agg(F.sum(F.coalesce(F.col("value"), F.lit(0.0)))).collect()[0][0]
    n = covered.count()
    assert n < mask.count()  # the trap bites: gwn really is missing tiles
    assert abs(got - total / n) < 1e-12


def test_pyramid_down_mode_and_avg_match_oracle(spark, tables, duck):
    """Pyramid building (zoom-13 -> zoom-12 step): mode/avg downsampling
    verified against a DuckDB oracle running the identical dialect-
    neutral SQL over the same fixture CTEs."""
    from mmw_geoprocessing_spark.operators.zonal import pyramid_down
    from mmw_geoprocessing_spark.sources import fixtures as fx

    # FLOOR everywhere: DuckDB CAST(double AS INT) ROUNDS, Spark
    # truncates — the fixture-CTE convention (always CAST(FLOOR(...)))
    parent = (
        "SELECT CAST(FLOOR(FLOOR((key_col*8+cell_col)/2) / 8) AS INT) AS key_col, "
        "CAST(FLOOR(FLOOR((key_row*8+cell_row)/2) / 8) AS INT) AS key_row, "
        "CAST(CAST(FLOOR((key_col*8+cell_col)/2) AS BIGINT) % 8 AS INT) AS cell_col, "
        "CAST(CAST(FLOOR((key_row*8+cell_row)/2) AS BIGINT) % 8 AS INT) AS cell_row, "
        "value FROM {src}"
    )

    # mode (categorical): per-value counts -> row_number, ties to min value
    mode_sql = fx.with_fixtures(
        "SELECT p.key_col, p.key_row, p.cell_col, p.cell_row, m.value FROM "
        "(SELECT DISTINCT key_col, key_row, cell_col, cell_row FROM parented) p "
        "LEFT JOIN (SELECT key_col, key_row, cell_col, cell_row, value FROM ("
        "  SELECT key_col, key_row, cell_col, cell_row, value, "
        "         ROW_NUMBER() OVER (PARTITION BY key_col, key_row, cell_col, cell_row "
        "                            ORDER BY cnt DESC, value ASC) AS rn "
        "  FROM (SELECT key_col, key_row, cell_col, cell_row, value, COUNT(*) AS cnt "
        "        FROM parented WHERE value IS NOT NULL GROUP BY 1,2,3,4,5)) "
        " WHERE rn = 1) m USING (key_col, key_row, cell_col, cell_row)",
        "r_nlcd",
        extra_ctes="parented AS (" + parent.format(src="r_nlcd") + ")",
    )
    want = {tuple(r) for r in duck.execute(mode_sql).fetchall()}
    got = {tuple(r) for r in pyramid_down(fx.raster_df(spark, "nlcd")).collect()}
    assert got == want

    # avg (continuous): binary-fraction grid -> exact doubles both sides
    avg_sql = fx.with_fixtures(
        "SELECT key_col, key_row, cell_col, cell_row, AVG(value) AS value "
        "FROM parented GROUP BY 1,2,3,4",
        "r_slope",
        extra_ctes="parented AS (" + parent.format(src="r_slope") + ")",
    )
    want = {tuple(r) for r in duck.execute(avg_sql).fetchall()}
    got = {
        tuple(r)
        for r in pyramid_down(fx.raster_df(spark, "slope"), agg="avg").collect()
    }
    assert got == want


def test_pyramid_down_shrinks_and_preserves_world(spark, tables):
    """Level invariants: the parent level has <= ceil(n/4)-ish cells and
    every parent cell covers >= 1 child; a parent grid cell's world
    footprint at zoom 12 equals its children's at zoom 13."""
    from mmw_geoprocessing_spark.operators.zonal import pyramid_down
    from mmw_geoprocessing_spark.sources import fixtures as fx

    child = fx.raster_df(spark, "nlcd")
    par = pyramid_down(child)
    n_child, n_par = child.count(), par.count()
    assert n_par <= n_child // 2  # 2x2 blocks: strictly coarser
    assert n_par > 0


def test_pyramid_down_negative_coordinates(spark):
    """Catalog layers whose extent lies below/left of the layout origin
    have negative key_col/key_row; the parent-key decomposition must use
    pmod/floor-division so negative grid coordinates land in the right
    parent block (sign-following % would produce negative cell indices
    and wrong parents)."""
    from mmw_geoprocessing_spark.operators.zonal import pyramid_down, pyramid_down_keys

    T = 8
    cells = [
        (-1, -1, 0, 0), (-1, -1, 7, 7), (-1, 0, 3, 2),
        (0, -1, 1, 6), (-2, 1, 5, 5), (0, 0, 0, 0),
    ]
    rows = [(kc, kr, cc, cr, i + 1) for i, (kc, kr, cc, cr) in enumerate(cells)]
    df = spark.createDataFrame(
        rows, "key_col int, key_row int, cell_col int, cell_row int, value int"
    )
    got = {
        (r.key_col, r.key_row, r.cell_col, r.cell_row): r.value
        for r in pyramid_down(df, tile_size=T).collect()
    }
    want = {}
    from collections import Counter, defaultdict

    blocks = defaultdict(list)
    for (kc, kr, cc, cr, v) in rows:
        gx, gy = kc * T + cc, kr * T + cr
        px, py = gx // 2, gy // 2  # python // is floor division
        blocks[(px // T, py // T, px % T, py % T)].append(v)  # python % is pmod
    for k, vs in blocks.items():
        cnt = Counter(vs)
        want[k] = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))[0]
    assert got == want
    # every emitted cell index is in [0, T)
    assert all(0 <= cc < T and 0 <= cr < T for (_, _, cc, cr) in got)

    # pixel-set variant: same key mapping, presence-only semantics
    mask = df.select("key_col", "key_row", "cell_col", "cell_row")
    got_keys = {tuple(r) for r in pyramid_down_keys(mask, tile_size=T).collect()}
    assert got_keys == set(want)


def test_sweep_only_subbasins_partition_huc8_01(spark, tables):
    """The 29 sweep-only HUC-12s (huc12_33..61) are a PARTITION of
    huc8_01: pairwise disjoint and their union is exactly the parent --
    the hydrological invariant the reference's 61-subbasin sweep
    assumes (scripts/benchmark-subbasin:110-121). Also pins that they
    are absent from mask_all (registered workloads stay bit-stable)."""
    from pyspark.sql import functions as F

    from mmw_geoprocessing_spark.sources import fixtures as fx

    parent = fx.mask_df(spark, "huc8_01").count()
    union_cnt = 0
    distinct_union = None
    for aoi in fx.SWEEP_ONLY_AOIS:
        m = fx.mask_df(spark, aoi)
        union_cnt += m.count()
        distinct_union = m if distinct_union is None else distinct_union.unionByName(m)
    # disjoint + covering: sum of parts == parent == distinct union size
    assert union_cnt == parent
    assert distinct_union.distinct().count() == parent
    in_mask_all = {
        r["aoi_id"]
        for r in fx.mask_all_df(spark).select("aoi_id").distinct().collect()
    }
    assert not (set(fx.SWEEP_ONLY_AOIS) & in_mask_all)


def test_mapshed_suite_rejects_sweep_only_aois(spark, tables):
    """Sweep-only AOIs (huc12_33..61) are absent from mask_all by
    design; mapshed_suite must raise instead of silently returning
    zero rows for them (round-8 ADVICE)."""
    import pytest

    from mmw_geoprocessing_spark.operators import mapshed

    with pytest.raises(ValueError, match="not present in mask_all"):
        mapshed.mapshed_suite(spark, [mapshed.MAPSHED_AOIS[0], fx.SWEEP_ONLY_AOIS[0]])


def test_null_valued_layer_rows_count_as_nodata(spark, tables):
    """A layer row whose value is NULL (a stored NODATA pixel) is present:
    it counts under the NODATA key. A ``value IS NOT NULL`` presence test
    would drop it."""
    gwn = fx.raster_df(spark, "gwn")
    mask = fx.mask_df(spark, "huc8_01")
    rows = {r["list_key"]: r["cnt"] for r in zonal.raster_grouped_count([gwn], mask).collect()}
    null_rows = (
        gwn.where(F.col("value").isNull())
        .join(mask, on=zonal.PIXEL_KEY, how="left_semi")
        .count()
    )
    assert null_rows > 0
    assert rows[f"List({NODATA_INT})"] == null_rows


# ------------------------------------------------ mask-first == reference
# Every grouped operator and mapshed template kind, against the
# whole-layer reference form: ``join_layers`` (full outer), then the mask.


def _ref_masked(layers, mask):
    return zonal.join_layers(layers).join(mask, on=zonal.PIXEL_KEY, how="inner")


def _ref_union_with_target(layers, target):
    refill = [
        F.coalesce(F.col(f"v{i}"), F.lit(NODATA_INT)).alias(f"v{i}")
        for i in range(1, len(layers) + 1)
    ]
    return (
        zonal.join_layers(layers)
        .join(target.withColumnRenamed("value", "_t"), on=zonal.PIXEL_KEY, how="full")
        .select(*zonal.PIXEL_KEY, *refill, "_t")
    )


def _grouped(df, n, agg, keys=()):
    from mmw_geoprocessing_spark.functions.nodata import list_key

    vals = [F.col(f"v{i}") for i in range(1, n + 1)]
    return df.groupBy(*keys, *vals).agg(F.expr(agg).alias("value")).select(
        *keys, list_key(*vals).alias("list_key"), F.col("value").cast("double")
    )


_CNT = "count(1)"
_T_SUM = "sum(coalesce(_t, 0.0D))"
_T_AVG = "avg(coalesce(_t, 0.0D))"


def _operator_pair(spark, kind, rasters, target_id, aoi):
    """(mask-first answer, reference answer) for one operator kind."""
    from mmw_geoprocessing_spark.operators import mapshed

    layers = [fx.raster_df(spark, r) for r in rasters]
    target = fx.raster_df(spark, target_id)
    mask = fx.mask_df(spark, aoi).select(*zonal.PIXEL_KEY)
    lines = fx.line_pixels_df(spark).select(*zonal.PIXEL_KEY)
    masks = fx.mask_all_df(spark).where(F.col("aoi_id") == aoi)
    n = len(layers)
    if kind == "grouped_count":
        return zonal.raster_grouped_count(layers, mask), _grouped(
            _ref_masked(layers, mask), n, _CNT
        )
    if kind == "grouped_count_many":
        return zonal.raster_grouped_count_many(layers, masks), _grouped(
            _ref_masked(layers, masks), n, _CNT, ["aoi_id"]
        )
    if kind == "grouped_average":
        ref = _ref_union_with_target(layers, target).join(mask, on=zonal.PIXEL_KEY)
        return zonal.raster_grouped_average(layers, target, mask), _grouped(ref, n, _T_AVG)
    if kind == "grouped_sum":
        ref = _ref_masked(layers, mask).join(
            target.withColumnRenamed("value", "_t"), on=zonal.PIXEL_KEY, how="left"
        )
        return zonal.raster_grouped_sum(layers, target, mask), _grouped(ref, n, _T_SUM)
    if kind == "lines_join":
        clipped = lines.join(mask, on=zonal.PIXEL_KEY, how="left_semi")
        ref = zonal.join_layers(layers).join(clipped, on=zonal.PIXEL_KEY, how="left_semi")
        return zonal.raster_lines_join(layers, lines, mask), _grouped(ref, n, _CNT)

    # mapshed.template_df kinds, aoi_id in the grouping key
    tmpl_kind = kind.removeprefix("template_")
    got = mapshed.template_df(
        "t", tmpl_kind, layers, target, masks, lines
    ).drop("op_label")
    if tmpl_kind == "grouped_count":
        ref = _grouped(_ref_masked(layers, masks), n, _CNT, ["aoi_id"])
    elif tmpl_kind == "lines_join":
        clipped = masks.join(lines, on=zonal.PIXEL_KEY, how="left_semi")
        ref = _grouped(_ref_masked(layers, clipped), n, _CNT, ["aoi_id"])
    elif tmpl_kind == "grouped_sum":
        ref = _ref_masked(layers, masks).join(
            target.withColumnRenamed("value", "_t"), on=zonal.PIXEL_KEY, how="left"
        )
        ref = _grouped(ref, n, _T_SUM, ["aoi_id"])
    else:
        ref = _ref_union_with_target(layers, target).join(masks, on=zonal.PIXEL_KEY)
        ref = _grouped(ref, n, _T_AVG, ["aoi_id"])
    return got, ref


def _answer(df):
    return {tuple(r[:-1]): float(r[-1]) for r in df.collect()}


@pytest.mark.parametrize("aoi", ["huc8_01", "huc12_03", "huc12_empty"])
@pytest.mark.parametrize(
    "rasters,target_id",
    [(("gwn",), "slope"), (("nlcd", "gwn", "soil"), "awc"), (("nlcd",), "gwn")],
    ids=["gwn-slope", "nlcd_gwn_soil-awc", "nlcd-gwn"],
)
@pytest.mark.parametrize(
    "kind",
    [
        "grouped_count", "grouped_count_many", "grouped_average", "grouped_sum",
        "lines_join", "template_grouped_count", "template_lines_join",
        "template_grouped_sum", "template_grouped_average",
    ],
)
def test_mask_first_equals_whole_layer_join(spark, tables, kind, rasters, target_id, aoi):
    """Mask-first operators return the answers of the full-outer
    ``join_layers``-then-mask form, over layers with missing tiles (gwn
    lacks every 4th tile column; as a target it narrows the key set) and
    over a HUC-8, a HUC-12 and an AOI no line touches."""
    got, ref = _operator_pair(spark, kind, rasters, target_id, aoi)
    want = _answer(ref)
    assert _answer(got) == pytest.approx(want, rel=1e-12)
    if kind not in ("lines_join", "template_lines_join") or aoi != "huc12_empty":
        assert want, "the reference answer is non-empty"
