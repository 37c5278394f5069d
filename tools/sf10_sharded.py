"""Sharded-oracle sf10 verdicts for the two union-of-ops zonal queries.

``mapshed_suite`` and ``multi_operation`` are UNION ALLs of independent
per-template / per-op SELECTs. Their single-statement DuckDB oracles are
infeasible at the 100x replica — one statement materializes every
joined-raster CTE simultaneously and exhausts spill disk (>75 GB of
duckdb_temp_* before dying; observed twice in the r8 gate runs). The
Spark side is fine: its union executes template-by-template with
per-template exchanges.

This tool restores a FULL-strength verdict instead of settling for
``oracle_infeasible``: run the Spark query ONCE, then verify each
oracle shard (one template / one op per DuckDB statement, fresh
connection, spill dir wiped between shards) against the matching
``op_label`` slice of the Spark result. Because the outer oracle query
is a UNION ALL of exactly these shards, shard-wise equality of the
label-partitioned bags is equality of the whole result — the same
row-count + sorted-column value-hash the driver gate computes, just
label-partitioned. A coverage check asserts the shard labels partition
the Spark result (no op_label left unverified).

Usage: python tools/sf10_sharded.py [sf_dir] [out.json]
Env: SF10_DUCK_MEM (default 70GB), SF10_DUCK_THREADS (default 4).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import duckdb

_TOOLS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(_TOOLS))
sys.path.insert(0, _TOOLS)

from selfcheck import _hash  # noqa: E402  (shared canonical hasher)


def _fresh_con(sf_dir: str):
    from mmw_geoprocessing_spark.sources.tables import TABLE_NAMES

    shutil.rmtree("/tmp/duck_spill", ignore_errors=True)
    con = duckdb.connect()
    con.execute(f"SET memory_limit='{os.environ.get('SF10_DUCK_MEM', '70GB')}'")
    con.execute(f"SET threads={int(os.environ.get('SF10_DUCK_THREADS', '4'))}")
    con.execute("SET temp_directory='/tmp/duck_spill'")
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _shards() -> dict[str, list[tuple[str, str, str]]]:
    """query -> [(shard_name, label_prefix_in_spark_result, oracle_sql)].

    A grouped-count op inside /multi labels rows ``'<label>:<aoi>'``
    (plans/api semantics), so its Spark slice is a PREFIX match
    ``'<label>:'``; every other shard label is exact (encoded here as a
    prefix that cannot over-match because no other label shares it).
    """
    from mmw_geoprocessing_spark import oracle
    from mmw_geoprocessing_spark.operators.mapshed import MAPSHED_AOIS, TEMPLATES

    mapshed = [
        (label, label, oracle.mapshed_suite(MAPSHED_AOIS, labels=[label]))
        for label in TEMPLATES
    ]
    multi = [
        (
            "nlcd_soil",
            "nlcd_soil:",
            oracle.multi({"nlcd_soil": ["nlcd", "soil"]}, {}, {}),
        ),
        (
            "nlcd_slope",
            "nlcd_slope",
            oracle.multi({}, {"nlcd_slope": (["nlcd"], "slope", "huc8_01")}, {}),
        ),
        (
            "avg_awc",
            "avg_awc",
            oracle.multi({}, {}, {"avg_awc": ("awc", "huc8_01")}),
        ),
    ]
    return {"mapshed_suite": mapshed, "multi_operation": multi}


def _slice(pdf, prefix: str, all_prefixes: list[str]):
    """Rows whose op_label belongs to this shard: longest-prefix match so
    'nlcd_soil:' never absorbs a hypothetical exact 'nlcd_soil' label."""
    mine = pdf["op_label"].map(
        lambda s: max(
            (p for p in all_prefixes if s == p or s.startswith(p)),
            key=len,
            default=None,  # no-match labels stay uncovered -> coverage check reports them
        )
        == prefix
    )
    return pdf[mine].reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark_graft_sf10"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf10_parts/zonal_sharded.json"

    import __spark_entry__ as entrymod
    from mmw_geoprocessing_spark.session import get_spark

    spark = get_spark(shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    only = {s for s in os.environ.get("SF10_QUERIES", "").split(",") if s}
    results: dict[str, dict] = {}
    failures = 0
    for name, shards in _shards().items():
        if only and name not in only:
            continue
        t0 = time.time()
        spdf = qs[name](spark, sf_dir).toPandas()
        prefixes = [p for _, p, _ in shards]
        shard_rows: dict[str, dict] = {}
        covered = 0
        ok = True
        for shard_name, prefix, sql in shards:
            st0 = time.time()
            mine = _slice(spdf, prefix, prefixes)
            try:
                con = _fresh_con(sf_dir)
                odf = con.execute(sql).df()
                con.close()
            except Exception as e:  # noqa: BLE001 — recorded verbatim
                print(f"FAIL  {name}/{shard_name}: {str(e)[:200]}", flush=True)
                shard_rows[shard_name] = {"err": str(e)[:200]}
                ok = False
                continue
            finally:
                shutil.rmtree("/tmp/duck_spill", ignore_errors=True)
            rows_match = len(mine) == len(odf)
            schema_match = sorted(mine.columns) == sorted(odf.columns)
            hash_match = schema_match and rows_match and _hash(mine) == _hash(odf)
            shard_rows[shard_name] = {
                "rows_match": rows_match,
                "schema_match": schema_match,
                "hash_match": hash_match,
                "spark_rows": len(mine),
                "oracle_rows": len(odf),
                "secs": round(time.time() - st0, 1),
            }
            covered += len(mine)
            ok = ok and hash_match
            print(
                f"{'OK  ' if hash_match else 'FAIL'}  {name}/{shard_name}: "
                f"spark {len(mine)} / duck {len(odf)} rows "
                f"[{time.time() - st0:.1f}s]",
                flush=True,
            )
        coverage = covered == len(spdf)
        if not coverage:
            print(f"FAIL  {name}: shard slices cover {covered}/{len(spdf)} rows")
        ok = ok and coverage
        failures += not ok
        results[name] = {
            "rows_match": ok,
            "schema_match": ok,
            "hash_match": ok,
            "spark_rows": len(spdf),
            "oracle_rows": covered,
            "method": "duckdb_sharded_oracle",
            "shards": shard_rows,
            "shard_coverage_complete": coverage,
            "secs": round(time.time() - t0, 1),
        }

    artifact = {
        "sf_dir": sf_dir,
        "n_queries": len(results),
        "n_failures": failures,
        "note": "sf10 family zonal_sharded (per-template oracle shards)",
        "queries": results,
    }
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as f:
        json.dump(artifact, f, indent=1)
    print(f"wrote {out_path}: {len(results)} queries, {failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
