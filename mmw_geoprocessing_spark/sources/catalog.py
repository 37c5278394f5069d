"""External raster-layer catalog: the production source.

The synthetic fixtures (``sources.fixtures``) derive pixel tables in
session; a real deployment reads them from an on-disk/object-store
catalog. This module is that reader/writer — the Spark-native
counterpart of the reference's S3 GeoTrellis layer store
(``S3CollectionLayerReader`` at Utils.scala:22-23) and its spatial
pushdown (``.where(Intersects(shape))``, Utils.scala:241-248).

Layout (tile-block parquet):

    root/layer=<layer_id>/_layout.json
    root/layer=<layer_id>/block_col=<bc>/block_row=<br>/part-*.parquet

A block is a square of B x B tile ``SpatialKey``s,
``bc = floor(key_col / B)``, ``br = floor(key_row / B)``, written as one
file whose rows ``(key_col, key_row, cell_col, cell_row, value)`` are
sorted by tile key. B follows from the tile size (:func:`block_tiles`):
the largest B with B² x tile_size² <= 2^16 pixels, at least 1 — 32 at
8x8 tiles, 1 at the reference's 512x512 tiles, whose one-tile objects
(about 262k pixels, Utils.scala:22-23, 241-248) are already coarse. With
one directory per 64-pixel tile a GeoJSON request opened a median of 42
files, and planning and scanning them went into per-file overhead:
block files took perfbench's ``catalog_geojson`` from a median 1.69 to
2.26 requests/s (10 alternating 20 s pairs, 4 vCPU), its median layer
read from 0.11 to 0.03 s and its catalog ingest from 7.7 to 1.1 s (one
traced pair). A block is bounded by its pixel count, so blocks stay
even in size, unlike locality clusters that follow the data (REPOSE,
ICDE 2021).

The ``_layout.json`` sidecar is the layer's manifest: value type, grid
frame, ``block_tiles`` (B) and every block's files. A read turns the
AOI's tile-key window into a block window by floor division (negative
keys included), hands Spark the in-range block files with the declared
schema, and keeps the key window as a data filter Spark pushes into the
parquet scan (``PushedFilters``), as the reference fetches only the
tiles that intersect the AOI (Utils.scala:241-248).

100 TB design notes:
- A read lists no directory: the file paths come from the sidecar, so a
  continent-wide catalog costs a watershed query one small sidecar read
  per layer and one file open per in-range block, on ``s3a://``/
  ``hdfs://``/``file:`` roots alike (the reference reads S3 directly,
  Utils.scala:22-23). Listing happens once per ingest, when
  :func:`write_layer` records the layer's files through the Hadoop
  FileSystem API.
- Planning a read launches no Spark job, as the reference fetches tiles
  with no schema or listing pass: the schema is declared from the
  sidecar's value type instead of inferred from a file footer. Only a
  layer written without a recorded value type pays an inference job.
- Tile-interior pixels stay long-form ``(cell_col, cell_row, value)``:
  parquet RLE/dictionary encodes the coordinates to almost nothing, the
  vectorized reader keeps the scan JVM-side, and the pixel schema
  matches ``operators.zonal`` with zero reshaping.
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mmw_geoprocessing_spark.geometry import GridLayout, bbox

PIXEL_KEY = ["key_col", "key_row", "cell_col", "cell_row"]
PIXEL_COLS = [*PIXEL_KEY, "value"]

# pixels per block file at most (see block_tiles)
BLOCK_PIXELS = 1 << 16


def block_tiles(tile_size: int) -> int:
    """B, the side of a block in tiles: the largest B with
    B² x tile_size² <= ``BLOCK_PIXELS``, at least 1."""
    return max(1, math.isqrt(BLOCK_PIXELS) // tile_size)


def _has_scheme(path: str) -> bool:
    """True for URI-style paths (``file:``, ``s3a://``, ``hdfs://``...)
    that must NOT hit the plain-os fast paths — os.makedirs would
    happily create a literal ``./file:`` directory."""
    import re

    return re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*:", path) is not None


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the JVM gateway — works for
    any registered scheme (``file:``, ``hdfs:``, ``s3a://``...), which
    plain ``os.listdir`` does not (the reference reads S3 directly,
    Utils.scala:22-23)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _list_dir(spark: SparkSession | None, path: str) -> list[str] | None:
    """Child entry NAMES of a directory. Local fast path first; else the
    Hadoop FileSystem API. None = could not list."""
    if not _has_scheme(path):
        try:
            return os.listdir(path)
        except OSError:
            return None
    if spark is None:
        spark = SparkSession.getActiveSession()
    if spark is None:
        return None
    try:
        fs, jpath = _hadoop_fs(spark, path)
        if not fs.exists(jpath):
            return None
        return [st.getPath().getName() for st in fs.listStatus(jpath)]
    except Exception:
        return None


def stored_layers(spark: SparkSession | None, root: str) -> set[str] | None:
    """The ids of the layers stored under ``root`` (its ``layer=<id>``
    directories); None when the root cannot be listed."""
    entries = _list_dir(spark, root)
    if entries is None:
        return None
    return {e[len("layer="):] for e in entries if e.startswith("layer=")}


def _read_text(spark: SparkSession | None, path: str) -> str:
    """Read a small sidecar file from any filesystem scheme."""
    if not _has_scheme(path):
        with open(path) as f:
            return f.read()
    if spark is None:
        spark = SparkSession.getActiveSession()
    if spark is None:
        raise OSError(f"no active SparkSession to read URI path {path}")
    try:
        fs, jpath = _hadoop_fs(spark, path)
        if not fs.exists(jpath):
            raise FileNotFoundError(path)
    except FileNotFoundError:
        raise
    except Exception as e:  # py4j errors -> uniform OSError contract
        raise OSError(f"cannot read {path}: {e}") from e
    stream = fs.open(jpath)
    try:
        # py4j can't fill a Java byte[] in place; commons-io (bundled
        # with Spark) drains the stream JVM-side in one call
        return spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def _write_text(spark: SparkSession | None, path: str, text: str) -> None:
    """Write a small sidecar file to any filesystem scheme."""
    if not _has_scheme(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(text)
        return
    if spark is None:
        spark = SparkSession.getActiveSession()
    if spark is None:
        raise OSError(f"no active SparkSession to write URI path {path}")
    fs, jpath = _hadoop_fs(spark, path)
    stream = fs.create(jpath, True)
    try:
        stream.write(bytearray(text.encode()))
    finally:
        stream.close()


def write_layer(
    pixels: DataFrame,
    root: str,
    layer_id: str,
    layout: GridLayout | None = None,
    zoom: int | None = None,
) -> None:
    """Materialize one pixel table into the catalog's tile-block layout.

    ``pixels``: ``(key_col, key_row, cell_col, cell_row, value)``. Rows
    are repartitioned by block and sorted by tile key, so each block
    receives one file from one task. B comes from ``layout``'s tile size
    (the fixture grid's when None; :func:`block_tiles`).

    ``layout``/``zoom``: optional grid metadata persisted in the
    ``_layout.json`` sidecar in the layer directory — the catalog
    equivalent of the reference deriving ``TileLayerMetadata`` from the
    stored layer (Geoprocessing.scala:219-221); readers recover it with
    :func:`read_layer_layout` / :func:`register_zoom_layouts`. The
    sidecar also records the layer's value type, from which reads
    declare their schema (so empty pruned reads stay schema-identical
    to non-empty ones), and the manifest of block files that reads take
    their paths from.

    Idempotent re-ingest: a block is the unit a write replaces. The write
    uses DYNAMIC partition overwrite — only the ``(layer, block_col,
    block_row)`` blocks present in ``pixels`` are replaced, other blocks
    and other layers in the same root are untouched, and re-running an
    ingest replaces the layer's blocks instead of appending duplicate
    pixel rows (which would corrupt every downstream count/average).
    The manifest is then rebuilt from a listing of the layer's blocks,
    so it names the files on disk, old blocks included.
    """
    spark = pixels.sparkSession
    B = block_tiles((layout or GridLayout()).tile_size)
    value_type = pixels.schema["value"].dataType.simpleString()
    (
        # INT coordinates: the schema read_layer declares for the files
        pixels.select(*(F.col(c).cast("int").alias(c) for c in PIXEL_KEY), "value")
        .withColumn("layer", F.lit(layer_id))
        # floor, not integer division: blocks of negative keys match the
        # reader's Python // (a key of -1 is in block -1, not 0)
        .withColumn("block_col", F.floor(F.col("key_col") / B).cast("int"))
        .withColumn("block_row", F.floor(F.col("key_row") / B).cast("int"))
        .repartition("block_col", "block_row")
        .sortWithinPartitions("layer", "block_col", "block_row", *PIXEL_KEY)
        .write.partitionBy("layer", "block_col", "block_row")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(root)
    )

    meta: dict = {"value_type": value_type}
    if layout is not None:
        meta.update(
            tile_size=layout.tile_size,
            origin_x=layout.origin_x,
            origin_y=layout.origin_y,
            cellsize=layout.cellsize,
        )
        if zoom is not None:
            meta["zoom"] = zoom
    meta["block_tiles"] = B
    meta["blocks"] = _list_blocks(spark, root, layer_id)
    _write_text(spark, os.path.join(_layer_dir(root, layer_id), "_layout.json"), json.dumps(meta))


def _layer_dir(root: str, layer_id: str) -> str:
    return os.path.join(root, f"layer={layer_id}")


def _list_blocks(spark: SparkSession, root: str, layer_id: str) -> list[list]:
    """``[block_col, block_row, [file, ...]]`` for every block of the
    layer, files relative to its directory; OSError when a level cannot
    be listed (a manifest missing blocks would silently drop pixels)."""
    layer_dir = _layer_dir(root, layer_id)

    def listed(path: str) -> list[str]:
        entries = _list_dir(spark, path)
        if entries is None:
            raise OSError(f"cannot list {path} to record the layer's block files")
        return entries

    def children(rel: str, prefix: str) -> list[tuple[int, str]]:
        return sorted(
            (int(e[len(prefix):]), os.path.join(rel, e))
            for e in listed(os.path.join(layer_dir, rel))
            if e.startswith(prefix)
        )

    # a write of no pixels creates no layer directory
    if f"layer={layer_id}" not in listed(root):
        return []
    blocks = []
    for bc, col_dir in children("", "block_col="):
        for br, block_dir in children(col_dir, "block_row="):
            # Spark's own rule for data files: no _ or . prefix
            entries = listed(os.path.join(layer_dir, block_dir))
            files = sorted(e for e in entries if not e.startswith(("_", ".")))
            blocks.append([bc, br, [f"{block_dir}/{f}" for f in files]])
    return blocks


def read_layer_meta(root: str, layer_id: str) -> dict:
    """The layer's ``_layout.json`` sidecar as written by
    :func:`write_layer`. Raises OSError when it is missing and
    ValueError when it is not JSON."""
    return json.loads(_read_text(None, os.path.join(_layer_dir(root, layer_id), "_layout.json")))


def read_layer_layout(root: str, layer_id: str) -> tuple[GridLayout, int | None]:
    """Recover the grid frame a layer was written with (the reference
    derives the grid FROM the layer, never from the request alone)."""
    return layout_from_meta(layer_id, read_layer_meta(root, layer_id))


def layout_from_meta(layer_id: str, meta: dict) -> tuple[GridLayout, int | None]:
    """``(layout, zoom)`` from a sidecar dict (:func:`read_layer_meta`);
    ValueError when the layer was written without grid metadata."""
    if "tile_size" not in meta:
        raise ValueError(f"layer {layer_id!r} sidecar has no grid metadata")
    layout = GridLayout(
        tile_size=int(meta["tile_size"]),
        origin_x=float(meta["origin_x"]),
        origin_y=float(meta["origin_y"]),
        cellsize=float(meta["cellsize"]),
    )
    return layout, meta.get("zoom")


def register_zoom_layouts(root: str, layer_ids: list[str]) -> dict[int, GridLayout]:
    """Extend ``geometry.ZOOM_LAYOUTS`` from catalog layer metadata so
    requests at those zooms resolve to the layers' own grids (the
    production path for the zoom ladder). Conflicting registrations for
    one zoom raise rather than silently overwrite."""
    from mmw_geoprocessing_spark import geometry

    added: dict[int, GridLayout] = {}
    for lid in layer_ids:
        layout, zoom = read_layer_layout(root, lid)
        if zoom is None:
            continue
        existing = geometry.ZOOM_LAYOUTS.get(zoom, added.get(zoom))
        if existing is not None and existing != layout:
            raise ValueError(
                f"layer {lid!r} declares zoom {zoom} with layout {layout}, "
                f"but that zoom is already registered as {existing}"
            )
        geometry.ZOOM_LAYOUTS[zoom] = layout
        added[zoom] = layout
    return added


def key_bounds_for_polys(
    polys, layout: GridLayout | None = None
) -> tuple[int, int, int, int]:
    """AOI polygons -> inclusive tile-key bounds ``(kc0, kc1, kr0, kr1)``.

    The driver-side derivation of the reference's ``Intersects(aoi)``
    tile filter: the polygon bbox in grid units, floored to tile keys.
    """
    layout = layout or GridLayout()
    T = layout.tile_size
    rings = [[layout.to_grid(x, y) for x, y in ring] for poly in polys for ring in poly]
    x0, y0, x1, y1 = bbox([rings])
    return (
        int(math.floor(x0 / T)),
        int(math.floor(x1 / T)),
        int(math.floor(y0 / T)),
        int(math.floor(y1 / T)),
    )


def _pruned_layer_paths(
    root: str,
    layer_id: str,
    key_bounds: tuple[int, int, int, int] | None,
    meta: dict,
) -> list[str]:
    """The files of the layer's blocks that intersect the inclusive tile-key
    window ``key_bounds`` (every block when None), taken from the sidecar
    manifest ``meta`` without listing a directory. Empty list: no block
    is in range."""
    if "blocks" not in meta:
        raise ValueError(
            f"layer {layer_id!r} under {root} has no block manifest in its "
            "_layout.json; re-ingest it with write_layer"
        )
    B = int(meta["block_tiles"])
    if key_bounds is None:
        bc0 = br0 = -math.inf
        bc1 = br1 = math.inf
    else:
        kc0, kc1, kr0, kr1 = key_bounds
        # floor division, as the writer's F.floor: correct for negative keys
        bc0, bc1, br0, br1 = kc0 // B, kc1 // B, kr0 // B, kr1 // B
    layer_dir = _layer_dir(root, layer_id)
    return [
        f"{layer_dir}/{f}"
        for bc, br, files in meta["blocks"]
        if bc0 <= bc <= bc1 and br0 <= br <= br1
        for f in files
    ]


def read_layer(
    spark: SparkSession,
    root: str,
    layer_id: str,
    key_bounds: tuple[int, int, int, int] | None = None,
    value_type: str | None = None,
    meta: dict | None = None,
) -> DataFrame:
    """Read one layer from the catalog as a zonal-compatible pixel table.

    ``key_bounds``: inclusive ``(kc0, kc1, kr0, kr1)`` tile-key window
    (from ``key_bounds_for_polys``). When given, only the files of the
    blocks it touches are handed to Spark, and the window is a data
    filter Spark pushes into the parquet scan (``PushedFilters``), which
    drops the blocks' out-of-window tiles.

    ``value_type``: the layer's ``value`` column type. Default: the
    write-time type recorded in the sidecar. With a type the read
    declares its schema and plans without a Spark job; a fully-pruned
    empty read keeps it too, so a DOUBLE layer like slope does not come
    back INT and break downstream unions. Without one (a sidecar with no
    recorded type) the schema is inferred, and an empty read falls back
    to INT.

    ``meta``: the layer's sidecar, when the caller has already read it.

    Output: ``(key_col, key_row, cell_col, cell_row, value)``.
    """
    if meta is None:
        meta = read_layer_meta(root, layer_id)
    value_type = value_type or meta.get("value_type")
    paths = _pruned_layer_paths(root, layer_id, key_bounds, meta)
    if not paths:
        return spark.range(0).selectExpr(
            *(f"CAST(NULL AS INT) AS {c}" for c in PIXEL_KEY),
            f"CAST(NULL AS {value_type or 'int'}) AS value",
        )
    reader = spark.read
    if value_type is not None:
        reader = reader.schema(
            ", ".join(f"{c} INT" for c in PIXEL_KEY) + f", value {value_type}"
        )
    df = reader.parquet(*paths)
    if key_bounds is not None:
        # SQL text: one parsed predicate instead of a py4j call per
        # Column, which made up most of a read's planning time
        df = df.where(
            "key_col BETWEEN {} AND {} AND key_row BETWEEN {} AND {}".format(*map(int, key_bounds))
        )
    return df


def read_layers_for_aoi(
    spark: SparkSession,
    root: str,
    layer_ids: list[str],
    polys,
    layout: GridLayout | None = None,
    metas: dict[str, dict] | None = None,
) -> list[DataFrame]:
    """The reference's ``cropRastersToAOI`` (Utils.scala:34-41): one
    bbox-pruned scan per requested layer, ready to be LEFT-joined onto
    the AOI mask by ``zonal.mask_join``. Duplicate ids are read once (U3,
    Geoprocessing.scala:28-29).

    ``metas``: layer sidecars the caller has already read;
    ``read_layer`` reads any layer missing from it."""
    key_bounds = key_bounds_for_polys(polys, layout) if polys else None
    metas = metas or {}
    seen: dict[str, DataFrame] = {}
    for lid in layer_ids:
        if lid not in seen:
            seen[lid] = read_layer(spark, root, lid, key_bounds, meta=metas.get(lid))
    return [seen[lid] for lid in layer_ids]
