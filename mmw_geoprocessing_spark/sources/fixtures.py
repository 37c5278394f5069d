"""Deterministic raster-fixture derivation, shared between Spark and DuckDB.

The reference engine's tables are tiled raster layers
(``TileLayerCollection[SpatialKey]``, reference package.scala:9), AOI masks
(cells emitted by ``Rasterizer.foreachCellByMultiPolygon``,
Geoprocessing.scala:356) and rasterized stream lines
(``foreachCellByMultiLineString``, Geoprocessing.scala:224).

The driver's correctness gate compares our Spark plans against DuckDB SQL
over the same parquet inputs — so every raster/mask/line fixture here is
derived from ``lineitem`` with *dialect-neutral SQL* that parses and
evaluates identically in Spark SQL and DuckDB. One pixel per lineitem row:

    pix      = row_number() over (order by l_orderkey, l_linenumber) - 1
    cell_col = pix % 8            -- 8x8 tiles (FIXTURES.md convention)
    cell_row = (pix / 8) % 8
    key_col  = (pix / 64) % 32    -- SpatialKey grid, 32 tile columns
    key_row  =  pix / 2048

The decomposition is bijective, so each raster has at most one value per
pixel key — matching the reference's one-tile-per-SpatialKey model.

Numeric determinism: every DOUBLE raster value sits on a binary-fraction
grid (multiples of 0.5 / 2^-6 / 2^-7), so SUM/AVG over them is *exact* in
IEEE double regardless of summation order — Spark and DuckDB aggregate in
different orders yet produce bit-identical results.

Fixture inventory (mirrors FIXTURES.md):
- 6 rasters: nlcd, soil, gwn (int) / slope, awc, kfactor (double);
  each with ~2-3%% NODATA (NULL) cells; ``gwn`` is missing every 4th tile
  column to exercise the full-outer NODATA-fill layer join
  (reference Utils.scala:221-232, CHANGELOG.md:51-64).
- AOIs: huc8_01 (~60%% of pixels), huc12_01..08 (disjoint partition of
  huc8_01 — the subbasin scenario), huc12_empty (intersects no lines —
  empty-result contract, CHANGELOG.md:66-79).
- 12 stream lines with overlapping pixels (pins O5's distinct-pixel dedup,
  Geoprocessing.scala:225-227).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession

NODATA_INT = -2147483648

PIXEL_KEY = ["key_col", "key_row", "cell_col", "cell_row"]

# ---------------------------------------------------------------------------
# Dialect-neutral CTE bodies. Each parses in Spark SQL and DuckDB.
# ---------------------------------------------------------------------------

_CTE_BODIES: dict[str, str] = {
    # pix = ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) - 1,
    # computed WITHOUT a global single-partition window: a global
    # ROW_NUMBER funnels every lineitem row through ONE task in Spark
    # (measured: 551 s of a single zonal query's 551 s at the 60 M-row
    # sf10 replica). Because bkt = floor(l_orderkey / 65536) is monotone
    # in the global sort order, the same value decomposes into a
    # per-bucket ROW_NUMBER (hash-parallel across ~n_orders/65536
    # buckets) plus an exclusive prefix-sum of bucket counts (a window
    # over only the tiny bucket table). Bit-identical in both engines,
    # so goldens and oracle hashes are unchanged.
    "pix_base": (
        "SELECT CAST(o.off + b.rn - 1 AS BIGINT) AS pix "
        "FROM (SELECT CAST(FLOOR(l_orderkey / 65536) AS BIGINT) AS bkt, "
        "ROW_NUMBER() OVER (PARTITION BY CAST(FLOOR(l_orderkey / 65536) AS BIGINT) "
        "ORDER BY l_orderkey, l_linenumber) AS rn FROM lineitem) b "
        "JOIN (SELECT bkt, SUM(cnt) OVER (ORDER BY bkt) - cnt AS off "
        "FROM (SELECT CAST(FLOOR(l_orderkey / 65536) AS BIGINT) AS bkt, "
        "COUNT(*) AS cnt FROM lineitem GROUP BY 1) g) o "
        "ON b.bkt = o.bkt"
    ),
    "cells": (
        "SELECT pix, "
        "CAST(pix % 8 AS INT) AS cell_col, "
        "CAST(CAST(FLOOR(pix / 8) AS BIGINT) % 8 AS INT) AS cell_row, "
        "CAST(CAST(FLOOR(pix / 64) AS BIGINT) % 32 AS INT) AS key_col, "
        "CAST(FLOOR(pix / 2048) AS INT) AS key_row "
        "FROM pix_base"
    ),
}

_CTE_DEPS: dict[str, list[str]] = {"pix_base": [], "cells": ["pix_base"]}

# raster_id -> (value expression over `pix`, extent predicate or None, is_double)
RASTER_DEFS: dict[str, tuple[str, str | None, bool]] = {
    "nlcd": (
        "CASE WHEN pix % 37 = 0 THEN CAST(NULL AS INT) ELSE CAST(21 + (pix * 7) % 15 AS INT) END",
        None,
        False,
    ),
    "soil": (
        "CASE WHEN pix % 41 = 0 THEN CAST(NULL AS INT) ELSE CAST(1 + (pix * 3) % 7 AS INT) END",
        None,
        False,
    ),
    # missing tile columns -> exercises full-outer NODATA fill
    "gwn": (
        "CASE WHEN pix % 53 = 0 THEN CAST(NULL AS INT) ELSE CAST((pix * 5) % 50 AS INT) END",
        "key_col % 4 <> 3",
        False,
    ),
    # doubles on binary-fraction grids: order-independent exact sums
    "slope": (
        "CASE WHEN pix % 43 = 0 THEN CAST(NULL AS DOUBLE) "
        "ELSE CAST((pix % 100) AS DOUBLE) * 0.5 + 0.25 END",
        None,
        True,
    ),
    "awc": (
        "CASE WHEN pix % 47 = 0 THEN CAST(NULL AS DOUBLE) "
        "ELSE CAST((pix * 13) % 200 AS DOUBLE) * 0.015625 END",
        None,
        True,
    ),
    "kfactor": (
        "CASE WHEN pix % 59 = 0 THEN CAST(NULL AS DOUBLE) "
        "ELSE CAST((pix * 11) % 64 AS DOUBLE) * 0.0078125 END",
        None,
        True,
    ),
    # the live MMW worksheet's three extra ungrouped-average targets
    # (reference examples/MultiOperationRequestHUC12.json: soiln-epsg5070,
    # soilpallland2-epsg5070, bfi48grd-epsg5070)
    "soiln": (
        "CASE WHEN pix % 61 = 0 THEN CAST(NULL AS DOUBLE) "
        "ELSE CAST((pix * 17) % 128 AS DOUBLE) * 0.03125 END",
        None,
        True,
    ),
    "soilp": (
        "CASE WHEN pix % 67 = 0 THEN CAST(NULL AS DOUBLE) "
        "ELSE CAST((pix * 19) % 96 AS DOUBLE) * 0.0625 END",
        None,
        True,
    ),
    "bfi": (
        "CASE WHEN pix % 71 = 0 THEN CAST(NULL AS DOUBLE) "
        "ELSE CAST((pix * 23) % 80 AS DOUBLE) * 0.015625 END",
        None,
        True,
    ),
}

# aoi_id -> predicate over `pix` (all dialect-neutral). Three HUC-8s
# (rounds 7/8 widened the world toward the reference's 61-subbasin
# sweep, scripts/benchmark-subbasin:110-121): huc8_01 (~60 % of pixels)
# partitioned into huc12_01..08, the disjoint huc8_02 (~30 %)
# partitioned into huc12_09..16, and huc8_03 (the remaining ~10 %)
# partitioned into huc12_17..32 — 32 HUC-12s total. huc8_01/02 and
# their subbasins are BIT-STABLE across rounds (existing goldens and
# recorded reference replays stay valid); round 8 only adds.
AOI_DEFS: dict[str, str] = {
    "huc8_01": "pix % 10 < 6",
    **{
        f"huc12_0{k + 1}": f"pix % 10 < 6 AND CAST(FLOOR(pix / 10) AS BIGINT) % 8 = {k}"
        for k in range(8)
    },
    "huc8_02": "pix % 10 >= 6 AND pix % 10 < 9",
    **{
        f"huc12_{k + 9:02d}": (
            "pix % 10 >= 6 AND pix % 10 < 9 "
            f"AND CAST(FLOOR(pix / 10) AS BIGINT) % 8 = {k}"
        )
        for k in range(8)
    },
    "huc8_03": "pix % 10 = 9",
    **{
        f"huc12_{k + 17:02d}": (
            f"pix % 10 = 9 AND CAST(FLOOR(pix / 10) AS BIGINT) % 16 = {k}"
        )
        for k in range(16)
    },
    # pix % 2350 = 13 avoids both line families below (13 ∉ {0..11} mod 50;
    # 13 ∉ {(j*5)%47 : j<12} mod 47) -> intersects no line pixels.
    "huc12_empty": "pix % 2350 = 13",
}

SUBBASIN_AOIS = [f"huc12_0{k + 1}" for k in range(8)]
SUBBASIN_AOIS_2 = [f"huc12_{k + 9:02d}" for k in range(8)]
SUBBASIN_AOIS_3 = [f"huc12_{k + 17:02d}" for k in range(16)]

# Sweep-only subbasins (round 8): 29 more HUC-12s — a finer partition
# of huc8_01 — bringing the fixture world to 61 HUC-12s total, the
# reference's 61-subbasin sweep proportion 1:1
# (scripts/benchmark-subbasin:110-121). Registered as INDIVIDUAL mask
# fixtures only, deliberately NOT unioned into mask_all: the registered
# count_many / multi_operation / mapshed workloads (and every recorded
# gate, bench, and golden artifact over them) stay bit-stable. They are
# exercised by the per-(AOI, template) golden sweep
# (tools/make_goldens.subbasin_cases → tests/test_golden.py).
SWEEP_ONLY_AOI_DEFS: dict[str, str] = {
    f"huc12_{k + 33:02d}": (
        f"pix % 10 < 6 AND CAST(FLOOR(pix / 10) AS BIGINT) % 29 = {k}"
    )
    for k in range(29)
}
SWEEP_ONLY_AOIS = list(SWEEP_ONLY_AOI_DEFS)

N_LINES = 12


def _register(name: str, body: str, deps: list[str]) -> None:
    _CTE_BODIES[name] = body
    _CTE_DEPS[name] = deps


for _rid, (_vexpr, _pred, _dbl) in RASTER_DEFS.items():
    _where = f" WHERE {_pred}" if _pred else ""
    _register(
        f"r_{_rid}",
        f"SELECT key_col, key_row, cell_col, cell_row, {_vexpr} AS value FROM cells{_where}",
        ["cells"],
    )

for _aid, _pred in AOI_DEFS.items():
    _register(
        f"mask_{_aid}",
        f"SELECT key_col, key_row, cell_col, cell_row FROM cells WHERE {_pred}",
        ["cells"],
    )

# sweep-only masks: individual fixtures, never part of mask_all (see
# SWEEP_ONLY_AOI_DEFS above)
for _aid, _pred in SWEEP_ONLY_AOI_DEFS.items():
    _register(
        f"mask_{_aid}",
        f"SELECT key_col, key_row, cell_col, cell_row FROM cells WHERE {_pred}",
        ["cells"],
    )

# all masks in one table, for CountMany / multi (FIXTURES.md §2)
_register(
    "mask_all",
    " UNION ALL ".join(
        f"SELECT '{aid}' AS aoi_id, key_col, key_row, cell_col, cell_row "
        f"FROM cells WHERE {pred}"
        for aid, pred in AOI_DEFS.items()
    ),
    ["cells"],
)

# 12 polylines; two congruence families so distinct lines share pixels
# (O5 dedup, Geoprocessing.scala:225-227). Line ids come from `nation`.
_register(
    "line_pixels",
    "SELECT CAST(n.n_nationkey AS INT) AS line_id, "
    "c.key_col, c.key_row, c.cell_col, c.cell_row "
    f"FROM cells c, nation n WHERE n.n_nationkey < {N_LINES} "
    "AND (c.pix % 50 = n.n_nationkey OR c.pix % 47 = (n.n_nationkey * 5) % 47)",
    ["cells"],
)


def cte_names() -> list[str]:
    return list(_CTE_BODIES)


def _expand(names: list[str]) -> list[str]:
    """Dependency-ordered closure of the requested CTE names."""
    out: list[str] = []

    def visit(n: str) -> None:
        if n in out:
            return
        for d in _CTE_DEPS[n]:
            visit(d)
        out.append(n)

    for n in names:
        visit(n)
    return out


def with_fixtures(body: str, *names: str, extra_ctes: str = "") -> str:
    """Prepend the needed fixture CTEs (dependency-ordered) to a query body.

    ``extra_ctes``: additional ``name AS (...)`` clauses appended after the
    fixture CTEs (so a caller can layer its own CTEs without nesting WITH).

    The resulting SQL runs unmodified in Spark SQL (after registering the
    parquet tables as temp views) and in DuckDB (driver-registered views).
    """
    ordered = _expand(list(names))
    ctes = ", ".join(f"{n} AS ({_CTE_BODIES[n]})" for n in ordered)
    if extra_ctes:
        ctes = f"{ctes}, {extra_ctes}"
    return f"WITH {ctes} {body}"


# (session id, sf_dir, name) -> cached DataFrame. Fixture relations are
# deterministic functions of the immutable driver tables; caching them is
# the analogue of the reference's one-fetch-per-raster scan sharing
# (Geoprocessing.scala:28-37, CHANGELOG.md:82-91).
_FIXTURE_CACHE: dict[tuple[int, str, str], DataFrame] = {}
_ACTIVE_DIR: dict[int, str] = {}
# session id -> (SparkSession, {conf key -> value before bucketed mode
# changed it}). Restored by clear_fixture_cache() so leaving
# bucketed-fixture mode never strands a session-wide conf change.
_SAVED_BUCKET_CONFS: dict[int, tuple[SparkSession, dict[str, str | None]]] = {}

# Bucketed-mode session confs: autoBucketedScan must be OFF for the
# bucketed scans to stay Exchange-free, and the legacy outputOrdering
# flag lets a scan of a sortBy'd table with ONE file per bucket report
# its sort order — sort-merge joins on the pixel key then elide their
# per-side Sort (the files are written pre-sorted; see
# _bucketed_fixture's repartition).
_BUCKET_MODE_CONFS: dict[str, str] = {
    "spark.sql.sources.bucketing.autoBucketedScan.enabled": "false",
    "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
    # SPARK-35703: allow a join whose keys are a SUPERSET of the bucket
    # keys to ride the bucket partitioning (tpch_q5 joins on
    # (orderkey, nationkey) — the theta filter folds into the join keys
    # — and must not re-shuffle the orderkey-bucketed facts)
    "spark.sql.requireAllClusterKeysForCoPartition": "false",
}


def enter_bucket_mode(spark: SparkSession) -> None:
    """Enter bucketed-layout session mode: save the pre-mode values of
    the bucket-mode confs (once per session) and set them. Shared by
    the pixel fixtures and the bucketed TPC-H fact layout
    (sources/tpch_layout.py); clear_fixture_cache() restores."""
    if id(spark) not in _SAVED_BUCKET_CONFS:
        saved: dict[str, str | None] = {}
        for conf_key in _BUCKET_MODE_CONFS:
            try:
                saved[conf_key] = spark.conf.get(conf_key)
            except Exception:
                saved[conf_key] = None
        _SAVED_BUCKET_CONFS[id(spark)] = (spark, saved)
    for conf_key, val in _BUCKET_MODE_CONFS.items():
        spark.conf.set(conf_key, val)


def set_active_dir(sf_dir: str, spark: SparkSession | None = None) -> None:
    """Record which sf_dir the session's temp views point at; keyed per
    session so concurrent sessions don't mislabel each other's caches."""
    _ACTIVE_DIR[id(spark) if spark is not None else 0] = sf_dir


def active_dir(spark: SparkSession) -> str:
    """The sf_dir the session's fixtures are derived from ("" if unset)."""
    return _ACTIVE_DIR.get(id(spark)) or _ACTIVE_DIR.get(0, "")


# One lock per key being built: concurrent cold requests (or the warm-up
# threads of a server) build each memoized fixture once, instead of each
# deriving the same relation and racing on its saveAsTable. Builds only
# wait on builds of other keys further down the derivation (a pyramid
# level on the level above it, the extent on ``cells``), so no cycle.
_BUILD_LOCKS: dict[tuple[int, tuple], threading.Lock] = {}
_BUILD_LOCKS_GUARD = threading.Lock()


def _memo(cache: dict, key: tuple, build):
    """``cache[key]``, built by ``build()`` once per key across threads."""
    hit = cache.get(key)
    if hit is not None:
        return hit
    with _BUILD_LOCKS_GUARD:
        lock = _BUILD_LOCKS.setdefault((id(cache), key), threading.Lock())
    with lock:
        hit = cache.get(key)
        if hit is None:
            hit = cache[key] = build()
        return hit


_BUCKET_DIR = "/tmp/spark_graft_bucketed_fixtures"
# Bucket count of the bucketed fixtures, derived from the fixture
# world's pixel count (one pixel per lineitem row): the largest power of
# two <= pixels / 2^17, at least 1. Every zero-exchange join stage runs
# one task per bucket, so the count sets both the per-task data and the
# per-request task overhead. It gives 1 bucket at sf0.001, 4 at sf0.1
# (600,000 pixels), 32 at sf1 and 256 at sf10. 2^17 pixels per bucket
# is the largest power-of-two target that picks both measured optima:
# - sf1~ replica, in-process A/B: 32
#   buckets beat 16 on 5 of 7 zonal/mapshed rows (mapshed 11.6 -> 10.3 s);
# - sf0.1 service, 4 vCPU, 4 closed-loop clients on the run_aoi stream:
#   16/8/4/2/1 buckets gave 3.57/6.08/6.34/6.65/7.00 req/s, and the
#   serial huc8 2-layer count 0.63/0.43/0.45/0.48/0.60 s — sub-MB
#   tasks pay scheduling overhead, not a lack of parallelism.
# Powers of two change the layout only when the pixel count doubles. The
# tag fingerprint in _bucketed_fixture folds the count in, so a copy
# written at another count is rebuilt, never re-attached.
_PIXELS_PER_BUCKET = 1 << 17
# Overrides the derived count when set (tests only).
_N_BUCKETS: int | None = None
# (session id, sf_dir) -> lineitem row count, memoized like _EXTENT_CACHE
_PIXEL_COUNT_CACHE: dict[tuple[int, str], int] = {}


def bucket_count_for(pixels: int) -> int:
    """Bucket count for a fixture world of ``pixels`` pixels: the largest
    power of two <= ``pixels / _PIXELS_PER_BUCKET``, at least 1."""
    return 1 << max(0, (pixels // _PIXELS_PER_BUCKET).bit_length() - 1)


def fixture_bucket_count(spark: SparkSession, sf_dir: str) -> int:
    """The bucket count of this session's bucketed fixtures for
    ``sf_dir``: ``_N_BUCKETS`` when set, else derived from the
    ``lineitem`` row count (counted once per session and sf_dir)."""
    if _N_BUCKETS is not None:
        return _N_BUCKETS
    pixels = _memo(
        _PIXEL_COUNT_CACHE, (id(spark), sf_dir), lambda: spark.table("lineitem").count()
    )
    return bucket_count_for(pixels)


def _bucketed_fixture(spark: SparkSession, name: str, sf_dir: str) -> DataFrame:
    """Materialize the fixture as a parquet table bucketed + sorted on
    the full pixel key: layer/mask joins then plan with NO Exchange on
    the bucketed sides (tests/test_bucketing.py pins the planner
    contract). ``fixture_bucket_count`` sets the bucket count. One-time
    write per (session, sf); paid during warm-up.
    Measured at sf0.1: raster_grouped_count 1.34 s -> 0.66 s.

    The table name is keyed on a content fingerprint (source parquet
    mtime + size), so regenerating the testdata within one process
    invalidates previously written bucketed copies instead of silently
    serving stale pixels."""
    import hashlib
    import os as _os

    try:
        st = _os.stat(_os.path.join(sf_dir, "lineitem.parquet"))
        fp = f"{sf_dir}|{st.st_mtime_ns}|{st.st_size}"
    except OSError:
        fp = sf_dir
    n_buckets = fixture_bucket_count(spark, sf_dir)
    # The bucket SPEC and the fixture's DERIVATION SQL are part of the
    # fingerprint: a stale on-disk copy written under a different
    # bucket count / PIXEL_KEY must never be re-attached under the new
    # CLUSTERED BY metadata (ADVICE r7), and a fixture whose defining
    # CTE changed (e.g. widening AOI_DEFS changes mask_all's content)
    # must rebuild rather than re-attach the old rows
    fp += f"|b{n_buckets}|{','.join(PIXEL_KEY)}"
    fp += "|" + with_fixtures(f"SELECT * FROM {name}", name)
    tag = hashlib.md5(fp.encode()).hexdigest()[:8]
    tbl = f"sgb_{tag}_{name}"
    path = f"{_BUCKET_DIR}/{tbl}"
    if not spark.catalog.tableExists(tbl) and _os.path.exists(
        _os.path.join(path, "_SUCCESS")
    ):
        # A previous PROCESS already wrote this bucketed copy (the tag
        # fingerprints the source parquet, so on-disk content is
        # current) but the in-memory catalog forgot it. Re-attach via
        # external-bucketed-table DDL instead of re-deriving — at the
        # 60 M-row sf10 replica each fixture build is ~1 min, and a
        # family-per-process gate would otherwise pay it per process.
        schema = spark.read.parquet(path).schema
        cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema)
        key = ", ".join(f"`{c}`" for c in PIXEL_KEY)
        spark.sql(
            f"CREATE TABLE {tbl} ({cols}) USING PARQUET "
            f"CLUSTERED BY ({key}) SORTED BY ({key}) "
            f"INTO {n_buckets} BUCKETS LOCATION '{path}'"
        )
    if not spark.catalog.tableExists(tbl):
        df = spark.sql(with_fixtures(f"SELECT * FROM {name}", name))
        (
            # repartition on the bucket hash FIRST: one task per bucket
            # -> exactly ONE file per bucket, which is the condition for
            # the scan to report the sortBy order (outputOrdering) and
            # let sort-merge joins elide their per-side Sort entirely
            df.repartition(n_buckets, *PIXEL_KEY)
            .write.bucketBy(n_buckets, *PIXEL_KEY)
            .sortBy(*PIXEL_KEY)
            .option("path", f"{_BUCKET_DIR}/{tbl}")
            .mode("overwrite")
            .saveAsTable(tbl)
        )
    return spark.table(tbl)


def fixture_df(spark: SparkSession, name: str) -> DataFrame:
    """Materialize one fixture relation as a DataFrame (cached per
    session + sf_dir, built once however many threads ask for it cold).

    Requires the base tables to be registered as temp views
    (see ``sources.tables.register_views``).

    Two materialization modes:
    - default: ``localCheckpoint`` — truncates the derivation lineage so
      downstream queries plan against a leaf relation (otherwise
      Catalyst re-analyzes the full CTE tree per query, which dominates
      latency). The LogicalRDD leaf reports UnknownPartitioning, so
      joins re-shuffle.
    - ``SPARK_GRAFT_BUCKETED_FIXTURES=1``: parquet tables bucketed on
      the pixel key — the production layout: layer joins plan with no
      Exchange (see _bucketed_fixture). perfbench/run.py enables this. The
      bucket count follows the session's pixel count
      (``fixture_bucket_count``), so every fixture of one sf_dir —
      masks and layers alike — shares it and joins co-partitioned.
    """
    import os

    sf_dir = active_dir(spark)

    def build() -> DataFrame:
        if os.environ.get("SPARK_GRAFT_BUCKETED_FIXTURES", "0") == "1":
            # Bucketed-fixture mode is a SESSION mode (opted into via the
            # env flag, perfbench/run.py / the tests set it deliberately): scans of
            # the bucketed tables only stay Exchange-free while
            # autoBucketedScan is off, so the conf is part of the mode's
            # contract — set visibly when the mode is entered, not as a
            # hidden side effect of one table read. The pre-mode value is
            # saved (once per session) and restored by
            # clear_fixture_cache() when the mode is exited.
            enter_bucket_mode(spark)
            return _bucketed_fixture(spark, name, sf_dir)
        return spark.sql(with_fixtures(f"SELECT * FROM {name}", name)).localCheckpoint()

    return _memo(_FIXTURE_CACHE, (id(spark), sf_dir, name), build)


def clear_fixture_cache() -> None:
    """Drop memoized fixture DataFrames (used when switching between the
    localCheckpoint and bucketed materialization modes in one process)
    and restore any session conf the bucketed mode changed
    (autoBucketedScan), so exiting the mode leaves each session exactly
    as it was found."""
    _FIXTURE_CACHE.clear()
    _PYRAMID_CACHE.clear()
    _EXTENT_CACHE.clear()
    _PIXEL_COUNT_CACHE.clear()
    with _BUILD_LOCKS_GUARD:
        _BUILD_LOCKS.clear()
    # replies over fixtures live exactly as long as the fixtures
    from mmw_geoprocessing_spark.plans import api
    from mmw_geoprocessing_spark.sources import tpch_layout

    api.REPLY_CACHE.clear()
    tpch_layout.clear_tpch_layout_cache()
    while _SAVED_BUCKET_CONFS:
        _, (spark, saved) = _SAVED_BUCKET_CONFS.popitem()
        for conf_key, prior in saved.items():
            try:
                if prior is None:
                    spark.conf.unset(conf_key)
                else:
                    spark.conf.set(conf_key, prior)
            except Exception:
                # session already stopped — nothing to restore
                pass


def raster_df(spark: SparkSession, raster_id: str) -> DataFrame:
    return fixture_df(spark, f"r_{raster_id}")


# (session id, sf_dir, raster_id, zoom) -> derived pyramid level
_PYRAMID_CACHE: dict[tuple[int, str, str, int], DataFrame] = {}

ZOOM_NATIVE = 13  # geometry.ZOOM_NATIVE: the fixture grid's native level


def raster_df_at_zoom(spark: SparkSession, raster_id: str, zoom: int) -> DataFrame:
    """Per-zoom layer resolution, the reference's pyramid model: zoom 0
    and the native level serve the stored pixels; coarser levels are
    DERIVED via ``zonal.pyramid_down`` (mode for int rasters, avg for
    double — RASTER_DEFS carries the type) and memoized per session.
    Each step down halves the grid, so zoom z costs (native - z) chained
    2x downsamples, built once."""
    if zoom in (0, ZOOM_NATIVE):
        return raster_df(spark, raster_id)
    if not 0 < zoom < ZOOM_NATIVE:
        raise ValueError(f"no layer pyramid at zoom {zoom}")

    def build() -> DataFrame:
        from mmw_geoprocessing_spark.operators.zonal import pyramid_down

        is_double = RASTER_DEFS[raster_id][2]
        level = raster_df_at_zoom(spark, raster_id, zoom + 1)
        return pyramid_down(level, agg="avg" if is_double else "mode").localCheckpoint()

    return _memo(_PYRAMID_CACHE, (id(spark), active_dir(spark), raster_id, zoom), build)


def mask_df(spark: SparkSession, aoi_id: str) -> DataFrame:
    return fixture_df(spark, f"mask_{aoi_id}")


def mask_all_df(spark: SparkSession) -> DataFrame:
    return fixture_df(spark, "mask_all")


def line_pixels_df(spark: SparkSession) -> DataFrame:
    return fixture_df(spark, "line_pixels")


def _pixelset_df_at_zoom(
    spark: SparkSession, name: str, zoom: int, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Pixel-SET fixtures (masks / line pixels) at a pyramid zoom: the
    native level serves the stored pixels; coarser levels are derived
    via ``zonal.pyramid_down_keys`` (parent present iff any child
    present) so a /run at zoom z joins masks and layers in the SAME
    keyspace — pre-rasterized fixtures are native-frame only, and
    serving them unpyramided against pyramided layers silently joins
    mismatched pixel keys (the round-5 ADVICE high finding)."""
    if zoom in (0, ZOOM_NATIVE):
        return fixture_df(spark, name)
    if not 0 < zoom < ZOOM_NATIVE:
        raise ValueError(f"no pyramid at zoom {zoom}")

    def build() -> DataFrame:
        from mmw_geoprocessing_spark.operators.zonal import pyramid_down_keys

        level = _pixelset_df_at_zoom(spark, name, zoom + 1, extra_cols)
        return pyramid_down_keys(level, extra_cols).localCheckpoint()

    return _memo(_PYRAMID_CACHE, (id(spark), active_dir(spark), name, zoom), build)


def mask_df_at_zoom(spark: SparkSession, aoi_id: str, zoom: int) -> DataFrame:
    return _pixelset_df_at_zoom(spark, f"mask_{aoi_id}", zoom)


def mask_all_df_at_zoom(spark: SparkSession, zoom: int) -> DataFrame:
    return _pixelset_df_at_zoom(spark, "mask_all", zoom, ("aoi_id",))


def line_pixels_df_at_zoom(spark: SparkSession, zoom: int) -> DataFrame:
    return _pixelset_df_at_zoom(spark, "line_pixels", zoom, ("line_id",))


# (session id, sf_dir) -> fixture grid key extent. One tiny agg over the
# cells CTE, computed once per session like the other fixture caches.
_EXTENT_CACHE: dict[tuple[int, str], tuple[int, int, int, int]] = {}


def grid_key_extent(spark: SparkSession) -> tuple[int, int, int, int]:
    """The fixture layer grid's tile-key extent ``(kc0, kr0, kc1, kr1)``
    — the analogue of the reference's per-layer TileLayerMetadata extent
    (Geoprocessing.scala:219-221). AOI rasterization clips its candidate
    enumeration to this range (geometry.GridLayout.extent_keys): a
    request whose AOI lies outside the layer grid then costs O(1)
    instead of O(AOI-bbox cells)."""

    def build() -> tuple[int, int, int, int]:
        row = fixture_df(spark, "cells").selectExpr(
            "min(key_col) AS kc0",
            "min(key_row) AS kr0",
            "max(key_col) AS kc1",
            "max(key_row) AS kr1",
        ).collect()[0]
        return (int(row["kc0"]), int(row["kr0"]), int(row["kc1"]), int(row["kr1"]))

    return _memo(_EXTENT_CACHE, (id(spark), active_dir(spark)), build)
