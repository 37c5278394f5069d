"""External partitioned raster-layer catalog: the production source.

The synthetic fixtures (``sources.fixtures``) derive pixel tables in
session; a real deployment reads them from an on-disk/object-store
catalog. This module is that reader/writer — the Spark-native
counterpart of the reference's S3 GeoTrellis layer store
(``S3CollectionLayerReader`` at Utils.scala:22-23) and its spatial
pushdown (``.where(Intersects(shape))``, Utils.scala:241-248).

Layout (hive-partitioned parquet):

    root/layer=<layer_id>/key_col=<c>/key_row=<r>/part-*.parquet

One directory per tile ``SpatialKey`` per layer; file rows carry
``(cell_col, cell_row, value)``. The partition columns ARE the spatial
key, so an AOI's bounding box becomes min/max predicates on partition
columns and Catalyst prunes whole tile directories at planning time
(visible as ``PartitionFilters`` in the scan node) — the exact analogue
of the reference fetching only Intersects-ing 512x512 tiles.

100 TB design notes:
- Partition pruning removes the IO, but *partition discovery* would
  still list the directory tree. ``read_layer`` therefore prunes the
  ``layer=``, ``key_col=`` AND ``key_row=`` levels driver-side (cheap
  single-level listings through the Hadoop FileSystem API, so it works
  on ``s3a://``/``hdfs://``/``file:`` roots exactly like the
  reference's direct S3 reads) and hands Spark only the in-range tile
  directories with ``basePath`` set — a continent-wide catalog never
  gets a full recursive listing for a watershed-sized query. Windows
  wider than ``_ROW_PRUNE_MAX_COLS`` key columns skip the row-level
  listings (PartitionFilters still prunes declaratively). A root that
  no filesystem can list degrades to full-tree discovery WITH a
  warning.
- Planning a read launches no Spark job, as the reference fetches
  tiles with no schema or listing pass (Utils.scala:22-23, 241-248):
  the schema is declared from the ``_layout.json`` sidecar's value
  type instead of inferred from a file footer, and Spark re-lists the
  handed-over tile directories on the driver (``session.get_spark``
  raises ``spark.sql.sources.parallelPartitionDiscovery.threshold`` to
  1024) instead of shipping the listing to executors as a job. Only a
  layer written without a recorded value type pays an inference job.
- Tile-interior pixels stay long-form ``(cell_col, cell_row, value)``:
  parquet RLE/dictionary encodes the two cell coordinates to almost
  nothing, the vectorized reader keeps the scan JVM-side, and the pixel
  schema matches ``operators.zonal`` with zero reshaping.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mmw_geoprocessing_spark.geometry import GridLayout, bbox

logger = logging.getLogger(__name__)

PIXEL_KEY = ["key_col", "key_row", "cell_col", "cell_row"]
PIXEL_COLS = [*PIXEL_KEY, "value"]

# above this many in-range key_col directories, skip the second
# (key_row) listing level: one listStatus per key_col dir is cheap for
# watershed-sized windows but needless for continent-sized ones, where
# Catalyst's PartitionFilters already prune the row level declaratively
_ROW_PRUNE_MAX_COLS = 256


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
    Hadoop FileSystem API. None = could not list (caller falls back to
    full-tree discovery and LOGS it — the r5 silent-degrade fix)."""
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
    """Materialize one pixel table into the catalog layout.

    ``pixels``: ``(key_col, key_row, cell_col, cell_row, value)``.
    Rows are repartitioned by tile key before the write so each tile
    directory receives one file from one task (no small-file spray when
    the input partitioning doesn't align with the key grid).

    ``layout``/``zoom``: optional grid metadata persisted as a
    ``_layout.json`` sidecar in the layer directory — the catalog
    equivalent of the reference deriving ``TileLayerMetadata`` from the
    stored layer (Geoprocessing.scala:219-221); readers recover it with
    :func:`read_layer_layout` / :func:`register_zoom_layouts`. The
    sidecar also records the layer's value type so empty pruned reads
    stay schema-identical to non-empty ones.

    Idempotent re-ingest: the write uses DYNAMIC partition overwrite —
    only the ``(layer, key_col, key_row)`` partitions present in
    ``pixels`` are replaced, other layers in the same root are
    untouched, and re-running an ingest replaces the layer's tiles
    instead of silently appending duplicate pixel rows (which would
    corrupt every downstream count/average).
    """
    value_type = pixels.schema["value"].dataType.simpleString()
    (
        # INT coordinates: the schema read_layer declares for the files
        pixels.select(*(F.col(c).cast("int").alias(c) for c in PIXEL_KEY), "value")
        .withColumn("layer", F.lit(layer_id))
        .repartition("key_col", "key_row")
        .write.partitionBy("layer", "key_col", "key_row")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(root)
    )
    import json

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
    _write_text(
        pixels.sparkSession,
        os.path.join(root, f"layer={layer_id}", "_layout.json"),
        json.dumps(meta),
    )


def read_layer_meta(root: str, layer_id: str) -> dict:
    """The layer's ``_layout.json`` sidecar as written by
    :func:`write_layer`. Raises OSError when it is missing and
    ValueError when it is not JSON."""
    import json

    return json.loads(
        _read_text(None, os.path.join(root, f"layer={layer_id}", "_layout.json"))
    )


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


def read_layer_value_type(root: str, layer_id: str) -> str | None:
    """The layer's ``value`` column type as recorded at write time
    (``_layout.json`` sidecar), or None when unknowable."""
    try:
        return read_layer_meta(root, layer_id).get("value_type")
    except (OSError, ValueError):
        return None


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
    import math

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


def _prune_children(
    entries: list[str], prefix: str, lo: int, hi: int
) -> list[str]:
    """Partition-directory names ``prefix<int>`` with lo <= int <= hi."""
    out = []
    for e in entries:
        if e.startswith(prefix):
            try:
                v = int(e[len(prefix) :])
            except ValueError:
                continue
            if lo <= v <= hi:
                out.append(e)
    return sorted(out)


def _pruned_layer_paths(
    root: str,
    layer_id: str,
    key_bounds: tuple[int, int, int, int] | None,
    spark: SparkSession | None = None,
) -> list[str]:
    """Driver-side partition-discovery pruning: list ONLY the ``layer=``
    level, its in-range ``key_col=`` children, and (for windows up to
    ``_ROW_PRUNE_MAX_COLS`` columns wide) their in-range ``key_row=``
    children. Listings go through the Hadoop FileSystem API when
    ``os.listdir`` can't serve the root (``s3a://``/``hdfs://``/
    ``file:`` URIs) — the reference reads S3 directly (Utils.scala:
    22-23). Returns the sub-directory paths Spark should discover
    under; empty list means the layer has no in-range tile directory.
    A root no filesystem can list falls back to full-tree discovery
    with declarative PartitionFilters only — and WARNS (the r5 silent
    degrade)."""
    layer_dir = os.path.join(root, f"layer={layer_id}")
    if key_bounds is None:
        return [layer_dir]
    kc0, kc1, kr0, kr1 = key_bounds
    entries = _list_dir(spark, layer_dir)
    if entries is None:
        logger.warning(
            "catalog: cannot list %s driver-side; falling back to full-tree "
            "partition discovery (declarative pruning only). At object-store "
            "scale this lists the whole layer tree per query.",
            layer_dir,
        )
        return [layer_dir]
    col_dirs = _prune_children(entries, "key_col=", kc0, kc1)
    if len(col_dirs) > _ROW_PRUNE_MAX_COLS:
        return [os.path.join(layer_dir, c) for c in col_dirs]
    out = []
    for c in col_dirs:
        col_path = os.path.join(layer_dir, c)
        children = _list_dir(spark, col_path)
        if children is None:
            out.append(col_path)
            continue
        out.extend(
            os.path.join(col_path, r)
            for r in _prune_children(children, "key_row=", kr0, kr1)
        )
    return out


def read_layer(
    spark: SparkSession,
    root: str,
    layer_id: str,
    key_bounds: tuple[int, int, int, int] | None = None,
    value_type: str | None = None,
) -> DataFrame:
    """Read one layer from the catalog as a zonal-compatible pixel table.

    ``key_bounds``: inclusive ``(kc0, kc1, kr0, kr1)`` tile-key window
    (from ``key_bounds_for_polys``). When given, the window is applied
    as partition-column predicates — Catalyst shows them under
    ``PartitionFilters`` and never reads out-of-range tile directories —
    and the ``key_col`` level is additionally pruned driver-side before
    discovery (see module notes).

    ``value_type``: the layer's ``value`` column type. Default: the
    write-time type recorded in the ``_layout.json`` sidecar. With a
    type the read declares its schema and plans without a Spark job; a
    fully-pruned-empty read keeps it too, so a DOUBLE layer like slope
    does not come back INT and break downstream unions. Without one
    (a layer written with no recorded type) the schema is inferred, and
    an empty read falls back to INT.

    Output: ``(key_col, key_row, cell_col, cell_row, value)``.
    """
    if value_type is None:
        value_type = read_layer_value_type(root, layer_id)
    paths = _pruned_layer_paths(root, layer_id, key_bounds, spark)
    if not paths:
        return spark.range(0).selectExpr(
            *(f"CAST(NULL AS INT) AS {c}" for c in PIXEL_KEY),
            f"CAST(NULL AS {value_type or 'int'}) AS value",
        )
    reader = spark.read.option("basePath", root)
    if value_type is not None:
        reader = reader.schema(
            f"cell_col INT, cell_row INT, value {value_type}, "
            "layer STRING, key_col INT, key_row INT"
        )
    df = reader.parquet(*paths).where(F.col("layer") == layer_id)
    if key_bounds is not None:
        # SQL text: one parsed predicate and one projection instead of a
        # py4j call per Column, which made up most of a read's planning time
        df = df.where(
            "key_col BETWEEN {} AND {} AND key_row BETWEEN {} AND {}".format(*map(int, key_bounds))
        )
    return df.selectExpr(*(f"CAST({c} AS INT) AS {c}" for c in PIXEL_KEY), "value")


def read_layers_for_aoi(
    spark: SparkSession,
    root: str,
    layer_ids: list[str],
    polys,
    layout: GridLayout | None = None,
    value_types: dict[str, str | None] | None = None,
) -> list[DataFrame]:
    """The reference's ``cropRastersToAOI`` (Utils.scala:34-41): one
    bbox-pruned scan per requested layer, ready to be LEFT-joined onto
    the AOI mask by ``zonal.mask_join``. Duplicate ids are read once (U3,
    Geoprocessing.scala:28-29).

    ``value_types``: layer value types the caller has already read from
    the sidecars; ``read_layer`` looks up any layer missing from it."""
    key_bounds = key_bounds_for_polys(polys, layout) if polys else None
    value_types = value_types or {}
    seen: dict[str, DataFrame] = {}
    for lid in layer_ids:
        if lid not in seen:
            seen[lid] = read_layer(spark, root, lid, key_bounds, value_types.get(lid))
    return [seen[lid] for lid in layer_ids]
