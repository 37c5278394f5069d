"""External partitioned layer-catalog reader (sources/catalog.py).

Pins the production-source contract: a ``layer=/key_col=/key_row=``
parquet directory reads back into zonal-compatible pixel tables, an
AOI bbox becomes PARTITION pruning (PartitionFilters in the scan, the
Spark analogue of the reference's Intersects() pushdown,
Utils.scala:241-248), and catalog-fed zonal queries agree exactly with
the fixture-fed ones.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from mmw_geoprocessing_spark.operators import zonal
from mmw_geoprocessing_spark.sources import catalog, fixtures as fx

CATALOG_ROOT = "/tmp/spark_graft_layer_catalog"


@pytest.fixture(scope="module")
def layer_catalog(spark, tables):
    """Write the nlcd + soil fixture pixel tables into a real partitioned
    catalog directory, as a deployment's ingest job would."""
    shutil.rmtree(CATALOG_ROOT, ignore_errors=True)
    for rid in ("nlcd", "soil"):
        catalog.write_layer(fx.raster_df(spark, rid), CATALOG_ROOT, rid)
    yield CATALOG_ROOT
    shutil.rmtree(CATALOG_ROOT, ignore_errors=True)


def _scan_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_catalog_roundtrip_matches_fixture(spark, layer_catalog):
    """Unpruned read returns exactly the written pixel set."""
    got = catalog.read_layer(spark, layer_catalog, "nlcd")
    want = fx.raster_df(spark, "nlcd")
    assert got.columns == ["key_col", "key_row", "cell_col", "cell_row", "value"]
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_bbox_read_has_partition_filters(spark, layer_catalog):
    """The key-window predicates must land in PartitionFilters (directory
    pruning), NOT as data filters evaluated per row."""
    df = catalog.read_layer(spark, layer_catalog, "nlcd", key_bounds=(2, 5, 0, 1))
    plan = _scan_plan(df)
    assert "PartitionFilters" in plan
    pf = plan[plan.index("PartitionFilters") :].splitlines()[0]
    for frag in ("key_col", "key_row"):
        assert frag in pf, pf
    # the window predicates are partition-level: no key_col/key_row in
    # the post-scan Filter over data columns
    assert df.count() > 0
    vals = df.select(
        F.min("key_col"), F.max("key_col"), F.min("key_row"), F.max("key_row")
    ).first()
    assert vals[0] >= 2 and vals[1] <= 5 and vals[2] >= 0 and vals[3] <= 1


def test_bbox_read_prunes_discovery_paths(spark, layer_catalog):
    """Driver-side key_col pruning: out-of-range key_col subtrees are not
    even handed to partition discovery."""
    paths = catalog._pruned_layer_paths(layer_catalog, "nlcd", (2, 5, 0, 0))
    assert len(paths) == 4
    assert all(f"key_col={c}" in p for c, p in zip((2, 3, 4, 5), paths))
    # fully out-of-range window -> no paths -> empty, schema-stable DF
    empty = catalog.read_layer(spark, layer_catalog, "nlcd", key_bounds=(999, 1000, 0, 0))
    assert empty.count() == 0
    assert empty.columns == ["key_col", "key_row", "cell_col", "cell_row", "value"]


def test_key_bounds_for_polys_matches_rasterize_window(spark):
    """Bounds derivation agrees with the rasterizer's candidate window."""
    # unit-cell fixture layout: tile size 8 -> a polygon spanning
    # x in [3, 20], y in [9, 17] touches key_col 0..2, key_row 1..2
    polys = [[[(3.0, 9.0), (20.0, 9.0), (20.0, 17.0), (3.0, 17.0), (3.0, 9.0)]]]
    assert catalog.key_bounds_for_polys(polys) == (0, 2, 1, 2)


def test_catalog_fed_zonal_query_matches_fixture_fed(spark, layer_catalog, tables):
    """RasterGroupedCount over catalog-read layers == over fixtures: the
    catalog is a drop-in production source for every zonal operator."""
    mask = fx.mask_df(spark, "huc8_01")
    from_fixtures = zonal.raster_grouped_count(
        [fx.raster_df(spark, "nlcd"), fx.raster_df(spark, "soil")], mask
    )
    # AOI covers the whole fixture grid -> bounds from the mask extent
    ext = mask.select(F.max("key_col"), F.max("key_row")).first()
    layers = [
        catalog.read_layer(spark, layer_catalog, rid, key_bounds=(0, ext[0], 0, ext[1]))
        for rid in ("nlcd", "soil")
    ]
    from_catalog = zonal.raster_grouped_count(layers, mask)
    a = {(r["list_key"]): r["cnt"] for r in from_fixtures.collect()}
    b = {(r["list_key"]): r["cnt"] for r in from_catalog.collect()}
    assert a == b


def test_run_request_served_from_catalog(spark, layer_catalog, tables, monkeypatch):
    """Production serving path: with SPARK_GRAFT_CATALOG_ROOT set, /run
    reads its rasters from the external catalog with the AOI bbox
    pushed down (the reference's cropRastersToAOI, Utils.scala:34-41)
    and returns results identical to the fixture path."""
    import json

    from mmw_geoprocessing_spark.plans import api
    from mmw_geoprocessing_spark.plans.model import InputData

    shape = json.dumps(
        {"type": "Polygon",
         "coordinates": [[[0, 0], [40, 0], [40, 24], [0, 24], [0, 0]]]}
    )
    req = InputData(
        "RasterGroupedCount", rasters=["nlcd", "soil"],
        shape_geojson=[shape], shape_crs="ConusAlbers", raster_crs=None,
    )
    from_fixtures = api.run_request(spark, req)
    monkeypatch.setenv("SPARK_GRAFT_CATALOG_ROOT", layer_catalog)
    from_cat = api.run_request(spark, req)
    assert from_cat == from_fixtures and from_cat


def test_layout_metadata_roundtrip_and_zoom_registration(spark, tables):
    """Layer-derived grid frames (the reference derives the layout FROM
    the layer, Geoprocessing.scala:219-221): write_layer persists the
    grid sidecar, read_layer_layout recovers it, register_zoom_layouts
    extends the ladder, and conflicting zoom declarations raise."""
    import shutil

    from mmw_geoprocessing_spark import geometry
    from mmw_geoprocessing_spark.geometry import GridLayout

    root = "/tmp/spark_graft_zoom_catalog"
    shutil.rmtree(root, ignore_errors=True)
    lay = GridLayout(tile_size=8, cellsize=15.0)
    try:
        catalog.write_layer(
            fx.raster_df(spark, "nlcd").limit(100), root, "nlcd-15m", layout=lay, zoom=14
        )
        got, zoom = catalog.read_layer_layout(root, "nlcd-15m")
        assert got == lay and zoom == 14
        assert 14 not in geometry.ZOOM_LAYOUTS
        added = catalog.register_zoom_layouts(root, ["nlcd-15m"])
        assert added == {14: lay}
        assert geometry.ZOOM_LAYOUTS[14] == lay
        # conflicting declaration for the same zoom must raise
        catalog.write_layer(
            fx.raster_df(spark, "soil").limit(100), root, "soil-7m",
            layout=GridLayout(tile_size=8, cellsize=7.5), zoom=14,
        )
        with pytest.raises(ValueError):
            catalog.register_zoom_layouts(root, ["soil-7m"])
        # the sidecar must not break the pixel reader (underscore files
        # are metadata to Spark's file index)
        assert catalog.read_layer(spark, root, "nlcd-15m").count() == 100
    finally:
        geometry.ZOOM_LAYOUTS.pop(14, None)
        shutil.rmtree(root, ignore_errors=True)


def test_read_layers_for_aoi_dedups_and_prunes(spark, layer_catalog):
    """U2/U3 parity: duplicate layer ids are one read; AOI polys derive
    the pruning window."""
    polys = [[[(0.0, 0.0), (15.0, 0.0), (15.0, 15.0), (0.0, 15.0), (0.0, 0.0)]]]
    layers = catalog.read_layers_for_aoi(
        spark, layer_catalog, ["nlcd", "soil", "nlcd"], polys
    )
    assert len(layers) == 3
    assert layers[0] is layers[2]  # memoized, fetched once
    plan = _scan_plan(layers[0])
    assert "PartitionFilters" in plan
    ext = layers[0].select(F.max("key_col"), F.max("key_row")).first()
    assert ext[0] <= 1 and ext[1] <= 1


def test_write_layer_reingest_is_idempotent(spark, tables):
    """ADVICE r5: re-running an ingest must REPLACE the layer's
    partitions (dynamic partition overwrite), not append duplicate
    pixel rows — duplicates silently corrupt every downstream
    count/average. Other layers in the same root stay untouched."""
    root = "/tmp/spark_graft_reingest_catalog"
    shutil.rmtree(root, ignore_errors=True)
    try:
        catalog.write_layer(fx.raster_df(spark, "soil"), root, "soil")
        n_soil = catalog.read_layer(spark, root, "soil").count()
        catalog.write_layer(fx.raster_df(spark, "nlcd"), root, "nlcd")
        catalog.write_layer(fx.raster_df(spark, "nlcd"), root, "nlcd")  # re-ingest
        assert catalog.read_layer(spark, root, "nlcd").count() == fx.raster_df(
            spark, "nlcd"
        ).count()
        assert catalog.read_layer(spark, root, "soil").count() == n_soil
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_empty_pruned_read_preserves_value_type(spark, tables):
    """ADVICE r5: a fully-pruned-empty read of a DOUBLE layer (slope)
    must come back with a DOUBLE value column — schema-identical to a
    non-empty read — or downstream unions break."""
    root = "/tmp/spark_graft_vtype_catalog"
    shutil.rmtree(root, ignore_errors=True)
    try:
        catalog.write_layer(fx.raster_df(spark, "slope"), root, "slope")
        nonempty = catalog.read_layer(spark, root, "slope")
        empty = catalog.read_layer(spark, root, "slope", key_bounds=(999, 1000, 0, 0))
        assert empty.count() == 0
        assert empty.schema == nonempty.schema
        assert dict(empty.dtypes)["value"] == "double"
        # explicit override wins even without a sidecar value_type
        forced = catalog.read_layer(
            spark, root, "slope", key_bounds=(999, 1000, 0, 0), value_type="bigint"
        )
        assert dict(forced.dtypes)["value"] == "bigint"
        # unions of empty + non-empty now typecheck
        assert nonempty.unionByName(empty).count() == nonempty.count()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_catalog_serving_rejects_layout_mismatch(spark, tables, monkeypatch):
    """ADVICE r5 medium: the catalog serving path must validate a
    layer's stored grid (_layout.json) against the request's resolved
    layout — a zoom/layer frame mismatch would join mismatched pixel
    keys and return silently wrong results. Matching frames serve."""
    import json

    from mmw_geoprocessing_spark.errors import InvalidZoomError
    from mmw_geoprocessing_spark.geometry import GridLayout
    from mmw_geoprocessing_spark.plans import api
    from mmw_geoprocessing_spark.plans.model import InputData

    root = "/tmp/spark_graft_mismatch_catalog"
    shutil.rmtree(root, ignore_errors=True)
    shape = json.dumps(
        {"type": "Polygon",
         "coordinates": [[[0, 0], [40, 0], [40, 24], [0, 24], [0, 0]]]}
    )
    req = InputData(
        "RasterGroupedCount", rasters=["nlcd"],
        shape_geojson=[shape], shape_crs="ConusAlbers", raster_crs=None,
    )
    try:
        # stored at a 15 m grid; request resolves to the zoom-0 fixture
        # frame (unit cells) -> typed 400, not silent garbage
        catalog.write_layer(
            fx.raster_df(spark, "nlcd"), root, "nlcd",
            layout=GridLayout(tile_size=8, cellsize=15.0), zoom=14,
        )
        monkeypatch.setenv("SPARK_GRAFT_CATALOG_ROOT", root)
        with pytest.raises(InvalidZoomError):
            api.run_request(spark, req)
        # re-ingest in the request frame -> serves fine
        catalog.write_layer(
            fx.raster_df(spark, "nlcd"), root, "nlcd", layout=GridLayout()
        )
        assert api.run_request(spark, req)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_catalog_on_uri_root_prunes_without_os_listdir(spark, tables, caplog):
    """Object-store hardening (reference reads S3 directly, Utils.scala:
    22-23): with a ``file:`` URI root — which os.listdir cannot serve —
    driver-side discovery pruning must still work through the Hadoop
    FileSystem API: in-range (key_col, key_row) leaf dirs only, bbox
    predicates in PartitionFilters, and results identical to the plain
    local-path read. No silent full-tree fallback."""
    import pytest as _pytest

    local_root = "/tmp/spark_graft_uri_catalog"
    shutil.rmtree(local_root, ignore_errors=True)
    uri_root = f"file:{local_root}"
    try:
        catalog.write_layer(fx.raster_df(spark, "nlcd"), uri_root, "nlcd")
        # os.listdir genuinely cannot list this root
        with _pytest.raises(OSError):
            __import__("os").listdir(f"{uri_root}/layer=nlcd")
        bounds = (2, 5, 0, 1)
        paths = catalog._pruned_layer_paths(uri_root, "nlcd", bounds, spark)
        # both levels pruned: 4 cols x <=2 rows, every leaf in-window
        assert paths and all("key_col=" in p and "key_row=" in p for p in paths)
        cols = {int(p.split("key_col=")[1].split("/")[0]) for p in paths}
        rows = {int(p.split("key_row=")[1]) for p in paths}
        assert cols <= {2, 3, 4, 5} and rows <= {0, 1}
        got = catalog.read_layer(spark, uri_root, "nlcd", key_bounds=bounds)
        assert "PartitionFilters" in _scan_plan(got)
        want = catalog.read_layer(spark, local_root, "nlcd", key_bounds=bounds)
        assert got.count() == want.count() > 0
        assert got.exceptAll(want).count() == 0
        # sidecar readers work through the FS API too (value_type was
        # written via the Hadoop path on the URI root)
        assert catalog.read_layer_value_type(uri_root, "nlcd") == "int"
        empty = catalog.read_layer(spark, uri_root, "nlcd", key_bounds=(900, 901, 0, 0))
        assert empty.count() == 0 and dict(empty.dtypes)["value"] == "int"
    finally:
        shutil.rmtree(local_root, ignore_errors=True)


def test_catalog_on_viewfs_root_prunes_and_reads(spark, tables):
    """Closest object-store stand-in this sandbox can host (VERDICT r7
    next-round #5): this PySpark build ships NO hadoop-aws/aws-sdk jars
    and package installs are unavailable, so no s3a:// endpoint can
    exist here — recorded in SCALE.md. Instead: a ``viewfs://`` mount
    table, a REAL non-local Hadoop FileSystem scheme resolved purely
    through ``fs.viewfs.*`` config, driving the exact
    ``FileSystem.get(URI, conf)`` discovery/pruning path an s3a root
    would take (reference reads S3 directly, Utils.scala:22-23)."""
    local_root = "/tmp/spark_graft_viewfs_catalog"
    shutil.rmtree(local_root, ignore_errors=True)
    os.makedirs(local_root)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set("fs.viewfs.mounttable.sandbox.link./cat", f"file:{local_root}")
    root = "viewfs://sandbox/cat"
    try:
        catalog.write_layer(fx.raster_df(spark, "nlcd"), root, "nlcd")
        bounds = (2, 5, 0, 1)
        paths = catalog._pruned_layer_paths(root, "nlcd", bounds, spark)
        assert paths and all(p.startswith("viewfs://sandbox/") for p in paths)
        assert all("key_col=" in p and "key_row=" in p for p in paths)
        got = catalog.read_layer(spark, root, "nlcd", key_bounds=bounds)
        assert "PartitionFilters" in _scan_plan(got)
        want = catalog.read_layer(spark, local_root, "nlcd", key_bounds=bounds)
        assert got.count() == want.count() > 0
        assert got.exceptAll(want).count() == 0
        assert catalog.read_layer_value_type(root, "nlcd") == "int"
    finally:
        hconf.unset("fs.viewfs.mounttable.sandbox.link./cat")
        shutil.rmtree(local_root, ignore_errors=True)


def test_unlistable_root_warns_and_degrades_declaratively(spark, caplog):
    """A root NO filesystem can list must fall back to full-tree
    discovery loudly (logged warning), not silently."""
    import logging

    with caplog.at_level(logging.WARNING, logger="mmw_geoprocessing_spark.sources.catalog"):
        paths = catalog._pruned_layer_paths(
            "unknownscheme://bucket/cat", "nlcd", (0, 1, 0, 1), spark
        )
    assert paths == ["unknownscheme://bucket/cat/layer=nlcd"]
    assert any("full-tree" in r.message for r in caplog.records)


def test_key_row_pruning_skipped_for_wide_windows(spark, tables, monkeypatch):
    """When more than _ROW_PRUNE_MAX_COLS key_col dirs are in range,
    the second (key_row) listing level is skipped — one listing total,
    row pruning stays declarative via PartitionFilters."""
    root = "/tmp/spark_graft_wide_catalog"
    shutil.rmtree(root, ignore_errors=True)
    try:
        catalog.write_layer(fx.raster_df(spark, "soil"), root, "soil")
        monkeypatch.setattr(catalog, "_ROW_PRUNE_MAX_COLS", 4)
        wide = (0, 31, 0, 0)  # fixture grid has 32 key_col dirs > cap
        paths = catalog._pruned_layer_paths(root, "soil", wide, spark)
        assert paths and all("key_row=" not in p for p in paths)
        narrow = catalog._pruned_layer_paths(root, "soil", (0, 3, 0, 0), spark)
        assert narrow and all("key_row=0" in p for p in narrow)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_multi_reads_catalog_layers_like_run(spark, tables, monkeypatch):
    """Under a catalog root /multi reads its layers from the catalog, as
    /run does: a catalog-only layer gives equal answers on both
    endpoints, and a fixture-only id is an unknown raster, not a layer
    silently served from the session fixtures."""
    import json

    from mmw_geoprocessing_spark.errors import UnknownRasterError
    from mmw_geoprocessing_spark.plans import api
    from mmw_geoprocessing_spark.plans.model import InputData, MultiInput, Operation

    root = "/tmp/spark_graft_multi_catalog"
    shutil.rmtree(root, ignore_errors=True)
    shape = json.dumps(
        {"type": "Polygon", "coordinates": [[[0, 0], [40, 0], [40, 24], [0, 24], [0, 0]]]}
    )

    def multi(rasters):
        return api.multi_request(spark, MultiInput(
            shapes=[shape], shape_crs="ConusAlbers",
            operations=[Operation("RasterGroupedCount", "c", rasters=rasters)],
        ))

    try:
        shifted = fx.raster_df(spark, "nlcd").withColumn("value", F.col("value") + 100)
        catalog.write_layer(shifted, root, "nlcdx")
        monkeypatch.setenv("SPARK_GRAFT_CATALOG_ROOT", root)
        run = api.run_request(spark, InputData(
            "RasterGroupedCount", rasters=["nlcdx"], shape_geojson=[shape],
            shape_crs="ConusAlbers",
        ))
        assert run and all(int(k[5:-1]) >= 100 for k in run if "-" not in k)
        assert multi(["nlcdx"])["shape_0"]["c"] == {k: float(v) for k, v in run.items()}
        with pytest.raises(UnknownRasterError):
            multi(["gwn"])
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _wait_for_listener_bus(spark):
    """Job start events reach the status tracker through the listener
    bus; drain it before asking which jobs a group ran."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def test_geojson_request_plans_without_spark_jobs(spark, tables, monkeypatch):
    """Building a GeoJSON request against the catalog launches no Spark
    job: the mask is rasterized on the driver into a local relation, and
    each layer read declares its schema from the sidecar and re-lists
    its (here 64, above Spark's default threshold of 32) tile
    directories on the driver. Only the collect runs jobs, as in the
    reference, which rasterizes in its service process and fetches the
    intersecting tiles with no schema or listing pass."""
    import json

    from pyspark.sql.classic.dataframe import DataFrame

    from mmw_geoprocessing_spark import geometry
    from mmw_geoprocessing_spark.plans import api
    from mmw_geoprocessing_spark.plans.model import InputData

    root = "/tmp/spark_graft_jobfree_catalog"
    shutil.rmtree(root, ignore_errors=True)
    shape = json.dumps(
        {"type": "Polygon",
         "coordinates": [[[0.5, 0.5], [255.5, 0.5], [255.5, 15.5], [0.5, 15.5], [0.5, 0.5]]]}
    )
    requests = [
        InputData("RasterGroupedCount", rasters=["nlcd"],
                  shape_geojson=[shape], shape_crs="ConusAlbers"),
        InputData("RasterSummary", rasters=["slope"],
                  shape_geojson=[shape], shape_crs="ConusAlbers"),
    ]
    try:
        for rid in ("nlcd", "slope"):  # INT and DOUBLE value types
            catalog.write_layer(fx.raster_df(spark, rid), root, rid, layout=geometry.GridLayout())
        assert catalog.read_layer_value_type(root, "slope") == "double"
        assert len(catalog._pruned_layer_paths(root, "slope", (0, 31, 0, 1), spark)) == 64
        fx.grid_key_extent(spark)  # the fixture extent is cached once per session
        monkeypatch.setenv("SPARK_GRAFT_CATALOG_ROOT", root)

        planned = []
        monkeypatch.setattr(DataFrame, "collect", lambda df: planned.append(df) or [])
        sc = spark.sparkContext
        group = "test-geojson-plan-without-jobs"
        sc.setJobGroup(group, "plan GeoJSON requests without collecting")
        try:
            for req in requests:
                api.run_request(spark, req)
            _wait_for_listener_bus(spark)
            assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
            assert len(planned) == 2
            # the same plans do run jobs once collected: the check can fail
            monkeypatch.undo()
            assert planned[0].collect() and planned[1].collect()
            _wait_for_listener_bus(spark)
            assert list(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_driver_mask_is_a_local_relation(spark):
    """The rasterizer's output plans as a LocalTableScan: no Python
    worker (MapInPandas / PythonMapInArrow) and no cross join."""
    from mmw_geoprocessing_spark import geometry

    polys = [[[(0.5, 0.5), (40.5, 0.5), (40.5, 20.5), (0.5, 20.5), (0.5, 0.5)]]]
    for pixel_is_area in (False, True):
        plan = _scan_plan(geometry.rasterize_polygons(spark, polys, pixel_is_area))
        assert "LocalTableScan" in plan, plan
        for node in ("MapInPandas", "PythonMapInArrow", "CartesianProduct", "BroadcastNestedLoopJoin"):
            assert node not in plan, plan


def test_layer_without_sidecar_value_type_reads_by_inference(spark, tables):
    """A layer whose sidecar records no value type (written before the
    sidecar carried one) still reads, with its real value type, because
    the reader falls back to schema inference."""
    root = "/tmp/spark_graft_infer_catalog"
    shutil.rmtree(root, ignore_errors=True)
    try:
        catalog.write_layer(fx.raster_df(spark, "slope"), root, "slope")
        with open(os.path.join(root, "layer=slope", "_layout.json"), "w") as f:
            f.write("{}")
        assert catalog.read_layer_value_type(root, "slope") is None
        for key_bounds in (None, (0, 31, 0, 1)):
            got = catalog.read_layer(spark, root, "slope", key_bounds=key_bounds)
            assert dict(got.dtypes)["value"] == "double"
            assert got.columns == ["key_col", "key_row", "cell_col", "cell_row", "value"]
        want = fx.raster_df(spark, "slope")
        got = catalog.read_layer(spark, root, "slope")
        assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    finally:
        shutil.rmtree(root, ignore_errors=True)
