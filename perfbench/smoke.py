"""Smoke test of the benchmark itself, at sf0.001 (6,000 pixels):

- every workload runs briefly, answers correctly and prints every
  end-to-end metric by name with its unit;
- a traced run prints every per-layer metric with its unit;
- a deliberately corrupted expected answer is counted as a failure;
- outside a checkout of the program the benchmark exits non-zero without
  printing a result.

    python3 perfbench/smoke.py
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import workloads  # noqa: E402


def bench(*args: str, cwd: str | None = None) -> tuple[int, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd or os.path.dirname(HERE), "perfbench", "run.py"),
         "--seed", "1", "--seconds", "6", "--rows", "6000", *args],
        cwd=cwd or os.path.dirname(HERE), capture_output=True, text=True, timeout=300,
    )
    return proc.returncode, proc.stdout


def result(out: str) -> dict:
    return json.loads(out.strip().splitlines()[-1])


def check_metrics(res: dict, wanted: dict[str, str]) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert set(res["metrics"]) == set(wanted), sorted(set(res["metrics"]) ^ set(wanted))
    for name, unit in wanted.items():
        assert res["metrics"][name]["unit"] == unit, (name, res["metrics"][name])
        assert isinstance(res["metrics"][name]["value"], float), name


def main() -> int:
    for w in workloads.WORKLOADS:
        rc, out = bench("--workload", w, "--trace", "0")
        assert rc == 0, (w, rc)
        res = result(out)
        check_metrics(res, run.END_TO_END)
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, (w, res)
        print(f"ok   {w}: {res['attempted']} requests, every end-to-end metric printed")

    for w in ("run_geojson", "catalog_geojson"):
        rc, out = bench("--workload", w, "--trace", "1")
        assert rc == 0, (w, rc)
        res = result(out)
        check_metrics(res, run.PER_LAYER)
        m = {k: v["value"] for k, v in res["metrics"].items()}
        assert res["correct"] and m["trace.requests"] >= 1, res
        assert m["geometry.vertices"] > 0 and m["projection.points"] > 0, m
        assert m["operators.mapshed.build_s"] > 0 and m["spark.jobs"] > 0, m
        if w == "catalog_geojson":
            assert m["sources.catalog.tiles_read"] > 0 and m["sources.catalog.files_written"] > 0, m
        print(f"ok   {w} traced: every per-layer metric printed")

    rc, out = bench("--workload", "run_aoi", "--trace", "0", "--corrupt-expected")
    res = result(out)
    assert rc == 0 and not res["correct"] and res["failed"] >= 1, res
    assert "error_rate=0.0000" not in out, out
    print(f"ok   corrupted expected answer counted: {res['failed']} of {res['attempted']} failed")

    bare = os.path.join(HERE, ".state", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".state", "__pycache__"))
    shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), bare)
    rc, out = bench("--workload", "run_aoi", "--trace", "0", cwd=bare)
    shutil.rmtree(bare)
    assert rc != 0 and '"correct"' not in out, (rc, out)
    print(f"ok   without the program: exit {rc}, no result printed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
