"""Expected answers for every request, computed in DuckDB over the same
parquet tables the server reads, and the reply comparison.

- Pre-rasterized (``aoiIds``) requests and the /multi MapShed worksheet use
  the program's DuckDB oracle builders (``mmw_geoprocessing_spark.oracle``).
- GeoJSON requests use the benchmark's own rasterization of the generated
  ConusAlbers vertices (``workloads.rasterize``), loaded into DuckDB as a
  mask table and joined to the fixture rasters through the fixture SQL
  (``sources.fixtures.with_fixtures``), with the NODATA-filled full-outer
  layer join of the reference. A GeoJSON /multi request uses the MapShed
  oracle with that mask in place of the AOI masks.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np

import workloads

NODATA_INT = -2147483648
PK = "key_col, key_row, cell_col, cell_row"


def canonical(doc: dict) -> str:
    """The document as sent, minus benchmark-private fields."""
    return json.dumps({k: v for k, v in doc.items() if not k.startswith("_")}, sort_keys=True)


def connect(data_dir: str):
    import duckdb

    con = duckdb.connect(config={"threads": 4})
    for name in ("lineitem", "nation"):
        con.execute(
            f"CREATE TABLE {name} AS SELECT * FROM read_parquet('{data_dir}/{name}.parquet')"
        )
    return con


def _rows(con, sql: str) -> list[dict]:
    cur = con.execute(sql)
    cols = [c[0] for c in cur.description]
    return [dict(zip(cols, r)) for r in cur.fetchall()]


def _aoi_answer(con, doc: dict):
    from mmw_geoprocessing_spark import oracle

    op, rasters, aoi = doc["operationType"], doc["rasters"], doc["aoiIds"][0]
    if op == "RasterGroupedCount":
        return {r["list_key"]: r["cnt"] for r in _rows(con, oracle.grouped_count(rasters, aoi))}
    if op == "RasterGroupedAverage":
        sql = oracle.grouped_average(rasters, doc["targetRaster"], aoi)
        return {r["list_key"]: r["avg_value"] for r in _rows(con, sql)}
    if op == "RasterGroupedSum":
        sql = oracle.grouped_sum(rasters, doc["targetRaster"], aoi)
        return {r["list_key"]: r["sum_value"] for r in _rows(con, sql)}
    if op == "RasterLinesJoin":
        return {r["list_key"]: r["cnt"] for r in _rows(con, oracle.lines_join(rasters, aoi))}
    if op == "RasterSummary":
        by_idx = {r["raster_idx"]: r for r in _rows(con, oracle.summary(rasters, aoi))}
        return [
            {"min": r["min_value"], "avg": r["avg_value"], "max": r["max_value"]}
            if r is not None
            else {"min": None, "avg": None, "max": None}
            for r in (by_idx.get(i) for i in range(len(rasters)))
        ]
    raise ValueError(f"no oracle for {op}")


def _mapshed_answer(con, doc: dict):
    from mmw_geoprocessing_spark import oracle

    out: dict = {s: {} for s in doc["shapes"]}
    labels = [op["label"] for op in doc["operations"]]
    for r in _rows(con, oracle.mapshed_suite(doc["shapes"], labels)):
        out[r["aoi_id"]].setdefault(r["op_label"], {})[r["list_key"]] = r["value"]
    return out


def _geojson_answers(con, docs: list[dict], height: int) -> list:
    """One DuckDB pass per operation shape over all GeoJSON masks."""
    from mmw_geoprocessing_spark.sources.fixtures import with_fixtures

    import pandas as pd

    parts = []
    for i, d in enumerate(docs):
        cells = workloads.rasterize(d["_poly"], height)
        x, y = cells[:, 0], cells[:, 1]
        parts.append(pd.DataFrame({
            "rid": np.full(len(cells), i, dtype=np.int64),
            "key_col": (x // 8).astype(np.int32), "key_row": (y // 8).astype(np.int32),
            "cell_col": (x % 8).astype(np.int32), "cell_row": (y % 8).astype(np.int32),
        }))
    con.register("bench_mask_df", pd.concat(parts, ignore_index=True))
    con.execute("CREATE OR REPLACE TABLE bench_mask AS SELECT * FROM bench_mask_df")
    con.unregister("bench_mask_df")

    answers: list = [None] * len(docs)
    for i, d in enumerate(docs):
        if "shapes" in d:
            answers[i] = _multi_geojson_answer(con, d, i)
    shapes = {(d["operationType"], tuple(d["rasters"])) for d in docs if "shapes" not in d}
    for op, rasters in sorted(shapes):
        rids = [i for i, d in enumerate(docs)
                if (d.get("operationType"), tuple(d.get("rasters", ()))) == (op, rasters)]
        rid_list = ", ".join(map(str, rids))
        if op == "RasterGroupedCount":
            layers = [f"_l{i} AS (SELECT {PK}, value AS w{i} FROM r_{r})" for i, r in enumerate(rasters)]
            joins = "_l0" + "".join(f" FULL OUTER JOIN _l{i} USING ({PK})" for i in range(1, len(rasters)))
            fills = ", ".join(f"COALESCE(w{i}, {NODATA_INT}) AS v{i}" for i in range(len(rasters)))
            key = " || ', ' || ".join(f"CAST(v{i} AS VARCHAR)" for i in range(len(rasters)))
            vs = ", ".join(f"v{i}" for i in range(len(rasters)))
            sql = with_fixtures(
                f"SELECT rid, 'List(' || {key} || ')' AS list_key, COUNT(*) AS cnt "
                f"FROM joined JOIN bench_mask USING ({PK}) WHERE rid IN ({rid_list}) "
                f"GROUP BY rid, {vs}",
                *[f"r_{r}" for r in rasters],
                extra_ctes=", ".join(layers) + f", joined AS (SELECT {PK}, {fills} FROM {joins})",
            )
            for i in rids:
                answers[i] = {}
            for r in _rows(con, sql):
                answers[r["rid"]][r["list_key"]] = r["cnt"]
        elif op == "RasterSummary":
            stats = {}
            for j, r in enumerate(rasters):
                sql = with_fixtures(
                    f"SELECT rid, MIN(t.value) AS mn, SUM(COALESCE(t.value, 0.0)) / COUNT(*) AS av, "
                    f"MAX(t.value) AS mx FROM bench_mask m LEFT JOIN r_{r} t USING ({PK}) "
                    f"WHERE rid IN ({rid_list}) GROUP BY rid",
                    f"r_{r}",
                )
                for row in _rows(con, sql):
                    stats[(row["rid"], j)] = {"min": row["mn"], "avg": row["av"], "max": row["mx"]}
            empty = {"min": None, "avg": None, "max": None}
            for i in rids:
                answers[i] = [stats.get((i, j), empty) for j in range(len(rasters))]
        else:
            raise ValueError(f"no GeoJSON oracle for {op}")
    return answers


def _multi_geojson_answer(con, doc: dict, rid: int):
    """The MapShed oracle with its AOI masks replaced by this request's
    rasterized polygon, labelled the way /multi labels a GeoJSON shape."""
    from mmw_geoprocessing_spark.sources import fixtures as fx

    saved = fx._CTE_BODIES["mask_all"]
    fx._CTE_BODIES["mask_all"] = f"SELECT 'shape_0' AS aoi_id, {PK} FROM bench_mask WHERE rid = {rid}"
    try:
        return _mapshed_answer(con, {"shapes": ["shape_0"], "operations": doc["operations"]})
    finally:
        fx._CTE_BODIES["mask_all"] = saved


def _materialize_fixtures(con, names: list[str]) -> dict[str, str]:
    """Derive each fixture relation once, into a DuckDB table, and point
    the fixture SQL at the tables (every oracle query would otherwise
    re-derive the pixel numbering from ``lineitem``). Returns the CTE
    bodies to restore."""
    from mmw_geoprocessing_spark.sources import fixtures as fx

    saved = {}
    for n in names:
        con.execute(f"CREATE TABLE fx_{n} AS {fx.with_fixtures(f'SELECT * FROM {n}', n)}")
    for n in names:
        saved[n] = fx._CTE_BODIES[n]
        fx._CTE_BODIES[n] = f"SELECT * FROM fx_{n}"
    return saved


def expected_answers(data_dir: str, docs: list[dict], rows: int,
                     cache_path: str | None = None) -> dict[str, object]:
    """canonical request document -> expected reply body, for every
    distinct document in ``docs`` (warm-up requests are checked by the
    server's own success, not here). Answers to pre-rasterized and /multi
    documents are kept in ``cache_path``: each is computed once per
    checkout, and the documents repeat across seeds."""
    from mmw_geoprocessing_spark.sources import fixtures as fx

    distinct: dict[str, dict] = {}
    for d in docs:
        distinct.setdefault(canonical(d), d)
    if all("_poly" in d for d in distinct.values()):
        con = connect(data_dir)
        saved = _materialize_fixtures(con, workloads.fixtures_used(list(distinct.values())))
        try:
            keys = list(distinct)
            answers = _geojson_answers(con, [distinct[k] for k in keys], workloads.grid_rows(rows))
            return dict(zip(keys, answers))
        finally:
            fx._CTE_BODIES.update(saved)
            con.close()
    known: dict[str, object] = {}
    if cache_path and os.path.exists(cache_path):
        with open(cache_path) as f:
            known = json.load(f)
    todo = {k: d for k, d in distinct.items() if k not in known}
    if todo:
        con = connect(data_dir)
        saved = _materialize_fixtures(con, workloads.fixtures_used(list(todo.values())))
        try:
            for k, d in todo.items():
                known[k] = _mapshed_answer(con, d) if "shapes" in d else _aoi_answer(con, d)
        finally:
            fx._CTE_BODIES.update(saved)
            con.close()
        if cache_path:
            with open(cache_path + ".tmp", "w") as f:
                json.dump(known, f)
            os.replace(cache_path + ".tmp", cache_path)
    return {k: known[k] for k in distinct}


def matches(got, want) -> bool:
    """Structural equality; numbers equal within 1e-9 relative (Spark and
    DuckDB may divide an exact sum in a different precision)."""
    if isinstance(want, dict):
        return isinstance(got, dict) and got.keys() == want.keys() and all(
            matches(got[k], want[k]) for k in want
        )
    if isinstance(want, list):
        return isinstance(got, list) and len(got) == len(want) and all(
            matches(g, w) for g, w in zip(got, want)
        )
    if want is None or isinstance(want, str):
        return got == want
    if isinstance(got, bool) or not isinstance(got, (int, float)):
        return False
    return math.isclose(float(got), float(want), rel_tol=1e-9, abs_tol=1e-12)
