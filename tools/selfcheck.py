"""Registry correctness check: every query against its DuckDB twin.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same sf directory, compares row count, sorted-column
value hash, and prints one line per query. Exit code 1 on any mismatch.

Usage: python tools/selfcheck.py [sf_dir] [query_prefix]

With ``SELFCHECK_JSON=<path>`` set, also records per-query verdicts plus
the money-guard state (whether the DECIMAL(38,0) accumulator was
selected for the money sums at this sf — the scale-dependent branch the
sf0.01 gate never exercises) as one JSON artifact.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb


def _canon(pdf):
    import pandas as pd

    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    pdf = pdf.sort_values(list(pdf.columns), kind="mergesort").reset_index(drop=True)
    return pdf


def _hash(pdf) -> str:
    return hashlib.md5(
        _canon(pdf).to_csv(index=False, float_format="%.12g").encode()
    ).hexdigest()


def _compare_big(spark, df, oracle_sql: str, con, name: str) -> dict:
    """Exact compare without driver-side materialization.

    The driver's hasher needs the full result in pandas; at sf10 four
    registry queries return 10-35 M rows and the toPandas + astype(str)
    + sorted-CSV pipeline is what OOM'd the first gate attempt (the
    ENGINES were fine). Instead: Spark writes its result to parquet
    (distributed write), DuckDB reads it back and runs a two-way
    EXCEPT ALL against the oracle — engine-native bag equality that
    hash-joins and SPILLS under the memory cap. Strictly stronger than
    the hash (no string-collision window) and identical in intent:
    both canonicalize every column to text ('%.12g' for floats, the
    same format the hash path uses) before comparing.
    """
    import shutil

    out = f"/tmp/selfcheck_big/{name}"
    shutil.rmtree(out, ignore_errors=True)
    try:
        return _compare_big_inner(spark, df, oracle_sql, con, out)
    finally:
        # always reclaim the 10-35 M-row spill copy, also on the error
        # paths (ADVICE r7: failed attempts leaked a parquet dir each)
        shutil.rmtree(out, ignore_errors=True)


def _compare_big_inner(spark, df, oracle_sql: str, con, out: str) -> dict:
    df.write.mode("overwrite").parquet(out)
    con.execute(
        f"CREATE OR REPLACE TEMP VIEW big_spark AS "
        f"SELECT * FROM read_parquet('{out}/*.parquet')"
    )
    # Materialize the oracle ONCE. As a view it is re-evaluated by the
    # count AND by each EXCEPT ALL direction — 3 full evaluations of the
    # oracle pipeline. For pipeline_curate_corpus at sf10 each
    # evaluation spills ~25 GB (the MinHash shingle expansion), and the
    # 3x re-evaluation is what filled the disk and killed the first r9
    # gate attempt. The RESULT is small-to-moderate (0.4-35 M rows,
    # compact columnar temp storage); the INTERMEDIATE state is what's
    # huge — evaluate it exactly once.
    con.execute("DROP TABLE IF EXISTS big_oracle")
    con.execute(f"CREATE TEMP TABLE big_oracle AS {oracle_sql}")
    s_types = {r[0]: r[1] for r in con.execute("DESCRIBE big_spark").fetchall()}
    o_types = {r[0]: r[1] for r in con.execute("DESCRIBE big_oracle").fetchall()}
    cols_match = sorted(s_types) == sorted(o_types)
    if not cols_match:
        return {
            "rows_match": False,
            "schema_match": False,
            "except_all_match": False,
            "method": "duckdb_except_all",
            "err": f"columns differ: spark={sorted(s_types)} oracle={sorted(o_types)}",
        }

    def canon(view: str) -> str:
        exprs = []
        for c in sorted(s_types):
            floaty = any(
                k in (s_types[c] + o_types[c]).upper()
                for k in ("DOUBLE", "FLOAT", "REAL")
            )
            if floaty:
                exprs.append(f"printf('%.12g', CAST(\"{c}\" AS DOUBLE)) AS \"{c}\"")
            else:
                exprs.append(f'CAST("{c}" AS VARCHAR) AS "{c}"')
        return f"SELECT {', '.join(exprs)} FROM {view}"

    n_s = con.execute("SELECT count(*) FROM big_spark").fetchone()[0]
    n_o = con.execute("SELECT count(*) FROM big_oracle").fetchone()[0]
    n_diff = con.execute(
        f"SELECT count(*) FROM (({canon('big_spark')} EXCEPT ALL {canon('big_oracle')})"
        f" UNION ALL ({canon('big_oracle')} EXCEPT ALL {canon('big_spark')}))"
    ).fetchone()[0]
    return {
        "rows_match": n_s == n_o,
        "schema_match": True,
        "except_all_match": n_diff == 0,
        "hash_match": n_s == n_o and n_diff == 0,
        "spark_rows": int(n_s),
        "oracle_rows": int(n_o),
        "except_all_diff_rows": int(n_diff),
        "method": "duckdb_except_all",
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    prefix = sys.argv[2] if len(sys.argv) > 2 else ""

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from mmw_geoprocessing_spark.session import get_spark
    from mmw_geoprocessing_spark.sources.tables import TABLE_NAMES

    spark = get_spark(shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    # Bound the oracle's memory so big-SF gates SPILL instead of
    # OOM-dying (the first sf10 ngram run was OOM-killed at ~100 GB RSS
    # under DuckDB's default 80%-of-RAM limit), and keep the spill off
    # the repo working tree.
    con.execute(f"SET memory_limit='{os.environ.get('SELFCHECK_DUCK_MEM', '64GB')}'")
    con.execute("SET temp_directory='/tmp/duck_spill'")
    # Big-SF runs share the box with a 32-thread Spark JVM; DuckDB's
    # default one-thread-per-CPU both fragments its memory budget
    # (per-thread operator state pushed the sf10 dedup oracles past the
    # limit in non-spillable list builds) and risks thread exhaustion.
    duck_threads = os.environ.get("SELFCHECK_DUCK_THREADS")
    if duck_threads:
        con.execute(f"SET threads={int(duck_threads)}")
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    prefixes = [p for p in prefix.split(",") if p]
    # SELFCHECK_SKIP: comma-separated query names to exclude, recorded
    # as skipped in the JSON artifact. Since round 7 the sf1~ run needs
    # NO skips: the formerly-skipped similarity_cosine_neardup is now
    # candidate-bounded (NEARDUP_BUCKET_CAP, SCALE.md) and gates at
    # sf1~ with truncation engaged.
    skip = {s for s in os.environ.get("SELFCHECK_SKIP", "").split(",") if s}
    # SELFCHECK_BIGRESULT: comma-separated query names whose result is
    # too large to toPandas + CSV-hash on the driver (10-35 M rows at
    # sf10); compared via _compare_big instead — same verdict fields,
    # method recorded.
    big = {s for s in os.environ.get("SELFCHECK_BIGRESULT", "").split(",") if s}
    failures = 0
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if prefixes and not any(name.startswith(p) for p in prefixes):
            continue
        if name in skip:
            print(f"SKIP  {name} (SELFCHECK_SKIP)")
            # SELFCHECK_SKIP_REASON: recorded with the skip so the
            # artifact carries WHY, not just THAT (no silent skips)
            results[name] = {
                "skipped": True,
                "verdict": "skipped",
                "reason": os.environ.get("SELFCHECK_SKIP_REASON") or None,
                "rows": None,
            }
            continue
        if name in big and name in oracles:
            t0 = time.time()
            try:
                res = _compare_big(spark, qs[name](spark, sf_dir), oracles[name], con, name)
            except Exception as e:
                print(f"FAIL  {name}: bigresult error: {str(e)[:300]}")
                failures += 1
                results[name] = {
                    "err": f"bigresult: {str(e)[:200]}",
                    "verdict": "fail",
                    "reason": f"bigresult error: {str(e)[:200]}",
                    "rows": None,
                }
                continue
            ok = res.get("hash_match", False)
            failures += not ok
            status = "OK  " if ok else "FAIL"
            print(
                f"{status}  {name}: spark {res.get('spark_rows')} rows / duck "
                f"{res.get('oracle_rows')} rows, except_all_diff="
                f"{res.get('except_all_diff_rows')} (duckdb_except_all) "
                f"[{time.time() - t0:.1f}s]"
            )
            res["verdict"] = "pass" if ok else "fail"
            res["reason"] = (
                "EXCEPT ALL empty both ways vs DuckDB oracle (big-result path)"
                if ok
                else "EXCEPT ALL non-empty vs DuckDB oracle"
            )
            res["rows"] = res.get("spark_rows")
            results[name] = res
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {str(e)[:300]}")
            failures += 1
            results[name] = {
                "err": f"spark: {str(e)[:200]}",
                "verdict": "fail",
                "reason": f"spark error: {str(e)[:200]}",
                "rows": None,
            }
            continue
        t1 = time.time()
        if name not in oracles:
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle) [{t1 - t0:.1f}s]")
            results[name] = {
                "spark_rows": len(sdf),
                "oracle": None,
                "verdict": "rows_only",
                "reason": "no oracle registered (non-SQL-expressible)",
                "rows": len(sdf),
            }
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as e:
            # SELFCHECK_ORACLE_OPTIONAL (comma-separated names): queries
            # whose DuckDB twin is known to be infeasible at this scale
            # (e.g. the ngram-Jaccard oracle's non-spillable list builds
            # exceed any memory cap at the 100x replica). The SPARK side
            # already ran; record its row count plus the oracle's error
            # REASON — an explicit weaker verdict, never a silent pass.
            optional = {
                s
                for s in os.environ.get("SELFCHECK_ORACLE_OPTIONAL", "").split(",")
                if s
            }
            if name in optional:
                print(
                    f"ROWS  {name}: spark {len(sdf)} rows; oracle infeasible "
                    f"at this scale: {str(e)[:200]}"
                )
                results[name] = {
                    "spark_rows": len(sdf),
                    "oracle_infeasible": str(e)[:200],
                    "verdict": "rows_only",
                    "reason": f"oracle infeasible at this scale: {str(e)[:160]}",
                    "rows": len(sdf),
                }
                continue
            print(f"FAIL  {name}: duckdb error: {str(e)[:300]}")
            failures += 1
            results[name] = {
                "err": f"duckdb: {str(e)[:200]}",
                "verdict": "fail",
                "reason": f"duckdb error: {str(e)[:200]}",
                "rows": len(sdf),
            }
            continue
        ok_rows = len(sdf) == len(ddf)
        ok_cols = sorted(sdf.columns) == sorted(ddf.columns)
        # dtype-kind strictness: the driver's hasher is dtype-sensitive
        # (DuckDB HUGEINT -> float64 vs Spark int64 caused r01 hash fails
        # that '%.12g' formatting hid locally), so flag kind mismatches.
        ok_kinds = ok_cols and all(
            sdf[c].dtype.kind == ddf[c].dtype.kind for c in sdf.columns
        )
        ok_hash = ok_rows and ok_cols and ok_kinds and _hash(sdf) == _hash(ddf)
        status = "OK  " if ok_hash else "FAIL"
        failures += not ok_hash
        kinds = "" if ok_kinds else " DTYPE-KIND MISMATCH: " + ", ".join(
            f"{c}: spark={sdf[c].dtype} duck={ddf[c].dtype}"
            for c in (sdf.columns if ok_cols else [])
            if ddf[c].dtype.kind != sdf[c].dtype.kind
        )
        print(
            f"{status}  {name}: spark {len(sdf)} rows / duck {len(ddf)} rows, "
            f"cols_match={ok_cols} hash_match={ok_hash} [{t1 - t0:.1f}s]{kinds}"
        )
        results[name] = {
            "rows_match": ok_rows,
            "schema_match": ok_cols and ok_kinds,
            "hash_match": ok_hash,
            "spark_rows": len(sdf),
            "oracle_rows": len(ddf),
            "verdict": "pass" if ok_hash else "fail",
            "reason": (
                "rows + schema + order-insensitive value hash vs DuckDB oracle"
                if ok_hash
                else "mismatch: rows_match=%s schema_match=%s hash_match=%s"
                % (ok_rows, ok_cols and ok_kinds, ok_hash)
            ),
            "rows": len(sdf),
        }
        if not ok_hash and ok_cols and ok_rows:
            s, d = _canon(sdf), _canon(ddf)
            neq = (s != d).any(axis=1)
            if neq.any():
                i = neq.idxmax()
                print(f"      first diff row {i}:\n      spark: {s.iloc[i].to_dict()}\n      duck : {d.iloc[i].to_dict()}")
    n_run = len([k for k in qs if not prefixes or any(k.startswith(p) for p in prefixes)])
    print(f"\n{failures} failures / {n_run} queries")

    import json

    json_path = os.environ.get("SELFCHECK_JSON")
    if json_path:
        from mmw_geoprocessing_spark.operators.relational import (
            money_sum_overflow_possible,
        )
        from mmw_geoprocessing_spark.sources.tables import load_table

        lineitem = load_table(spark, sf_dir, "lineitem")
        artifact = {
            # schema v2 (r9 verdict #7): every row carries machine-
            # readable {verdict, reason, rows}; verdict in
            # {pass, fail, rows_only, skipped}.
            "schema_version": 2,
            "sf_dir": sf_dir,
            "n_queries": len(results),
            "n_failures": failures,
            # free-form provenance: which queries a partial run excluded
            # and why (SELFCHECK_NOTE env; the "no silent caps" rule
            # applies to gates too)
            "note": os.environ.get("SELFCHECK_NOTE"),
            "prefix_filter": prefix or None,
            # the scale-dependent branch: True means the money sums ran
            # on the DECIMAL(38,0) accumulator at this sf
            "money_guard_decimal_engaged": bool(
                money_sum_overflow_possible(lineitem, 10000)
            ),
            "money_guard_forced": os.environ.get("SPARK_GRAFT_FORCE_DECIMAL_MONEY") == "1",
            "queries": results,
        }
        with open(json_path, "w") as f:
            json.dump(artifact, f, indent=1)
        print(f"wrote {json_path}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
