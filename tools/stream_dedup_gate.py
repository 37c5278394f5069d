"""At-scale gate for the streaming ingest-dedup operators.

``stream_exact_dedup`` / ``stream_content_dedup`` are not
SQL-expressible (stateful Structured Streaming), so the driver records
only pytest coverage for them. This tool gives them real artifact rows
(the ``curate_stream`` technique): build an at-least-once replay source
from the sf directory's events table (chunk 2 re-delivers half of
chunk 1, plus content-identical payloads under fresh surrogate ids),
drain each operator through the REAL streaming path (availableNow +
durable checkpoint + parquet sink), and compare the drained sink
against a DuckDB batch-twin oracle over the same replay files:

- exact dedup twin:   SELECT DISTINCT * — re-deliveries are
  byte-identical, so first-arrival-per-event_id == the distinct rows.
- content dedup twin: SELECT DISTINCT <content cols> — survivors are
  compared on the content columns only (the surviving surrogate id is
  which-arrival-dependent; the content payload is not).

Rows are written as a selfcheck-shaped JSON (``SELFCHECK_JSON``'s
format) with method ``availablenow_replay_vs_duckdb_batch_twin``.

Usage: python tools/stream_dedup_gate.py [sf_dir] [out.json]
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import tempfile
import time

CONTENT_COLS = ["user_id", "event_type", "value", "props"]


def _canon(pdf):
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


def _build_replay_dir(spark, sf_dir: str) -> str:
    """Two parquet chunks: chunk 1 = even event_ids; chunk 2 re-delivers
    a quarter of them byte-identically (at-least-once), adds the odd
    ids, AND re-sends 1/8 of chunk 1 content-identically under fresh
    surrogate event_ids (the case only content dedup catches). Shared
    with the registry entries (streaming.windows.replay_events_dir)."""
    from mmw_geoprocessing_spark.streaming.windows import replay_events_dir

    return replay_events_dir(spark, sf_dir, resend_surrogates=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/stream_dedup_gate.json"

    import duckdb

    from mmw_geoprocessing_spark.session import get_spark
    from mmw_geoprocessing_spark.streaming import windows as sw

    spark = get_spark(app_name="stream_dedup_gate")
    spark.sparkContext.setLogLevel("ERROR")

    src = _build_replay_dir(spark, sf_dir)
    results: dict[str, dict] = {}
    failures = 0
    try:
        con = duckdb.connect()
        cases = {
            # exact: first arrival per event_id == DISTINCT rows
            # (re-deliveries byte-identical); resent surrogate ids survive
            "stream_exact_dedup": (
                sw.stream_exact_dedup,
                None,  # all columns
                f"SELECT DISTINCT * FROM read_parquet('{src}/*.parquet')",
            ),
            # content: survivors compared on content columns only
            "stream_content_dedup": (
                sw.stream_content_dedup,
                CONTENT_COLS,
                "SELECT DISTINCT "
                + ", ".join(CONTENT_COLS)
                + f" FROM read_parquet('{src}/*.parquet')",
            ),
        }
        for name, (op, cols, oracle_sql) in cases.items():
            t0 = time.time()
            ckpt = tempfile.mkdtemp(prefix=f"{name}_ckpt_")
            sink = tempfile.mkdtemp(prefix=f"{name}_sink_")
            shutil.rmtree(sink)  # parquet sink wants to create it
            sw.run_availablenow(
                op(sw.stream_events(spark, src)),
                ckpt,
                sink_path=sink,
                timeout_s=1800,
            )
            got = spark.read.parquet(sink)
            if cols:
                got = got.select(*cols)
            spdf = got.toPandas()
            odf = con.execute(oracle_sql).df()
            rows_match = len(spdf) == len(odf)
            schema_match = sorted(spdf.columns) == sorted(odf.columns)
            hash_match = rows_match and schema_match and _hash(spdf) == _hash(odf)
            ok = hash_match
            failures += not ok
            results[name] = {
                "rows_match": rows_match,
                "schema_match": schema_match,
                "hash_match": hash_match,
                "spark_rows": len(spdf),
                "oracle_rows": len(odf),
                "method": "availablenow_replay_vs_duckdb_batch_twin",
                "compare_cols": cols or "all",
                "secs": round(time.time() - t0, 1),
            }
            print(
                f"{'OK  ' if ok else 'FAIL'}  {name}: spark {len(spdf)} / "
                f"duck {len(odf)} rows [{time.time() - t0:.1f}s]",
                flush=True,
            )
            shutil.rmtree(ckpt, ignore_errors=True)
            shutil.rmtree(sink, ignore_errors=True)
        con.close()
    finally:
        pass  # src is the shared cached replay dir (reused by registry calls)

    artifact = {
        "sf_dir": sf_dir,
        "note": (
            "streaming ingest dedup via availableNow replay (2-chunk "
            "at-least-once source: re-deliveries + content-identical "
            "resends under fresh surrogate ids) vs DuckDB batch twin"
        ),
        "n_queries": len(results),
        "n_failures": failures,
        "queries": results,
    }
    with open(out_path, "w") as f:
        json.dump(artifact, f, indent=1)
    print(f"wrote {out_path}: {failures} failures / {len(results)} queries")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(main())
