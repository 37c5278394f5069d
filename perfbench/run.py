"""Service benchmark: drives a live ``GeoprocessingServer`` over real
sockets and prints request latency, throughput, set-up time and memory.

    python3 perfbench/run.py --workload run_aoi --seed 1 --seconds 20 --trace 0

Each run starts cold: the benchmark's state directory (bucketed fixture
copies, catalog store, Spark scratch) is emptied, the seeded request
stream is written out, a server process is started with a pinned
environment, and then this one process, with the workload's fixed number
of closed-loop clients, sends requests for ``--seconds``. After the load
every reply is compared to the expected answer of its request, computed
in DuckDB (``expected.py``).

``--trace 1`` installs span wrappers in the server (``tracing.py``) and
prints the per-layer metrics instead of the end-to-end ones. The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. See README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import selectors
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(HERE, ".state")
SETUP_TIMEOUT_S = 120
HEAP = "1536m"  # the server JVM's heap
# state that makes a later run start differently; emptied before each run
COLD_DIRS = ["bucketed", "catalog", "spark-local", "tmp", "server"]

END_TO_END = {
    "latency_p50_s": "s",
    "throughput_rps": "1/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "http_server.overhead_s": "s",
    "http_server.request_kb": "kB",
    "http_server.response_kb": "kB",
    "plans.api.self_s": "s",
    "geometry.parse_s": "s",
    "geometry.rasterize_build_s": "s",
    "geometry.vertices": "count",
    "geometry.candidate_cells": "count",
    "geometry.mask_cells": "count",
    "geometry.mask_cells_per_candidate": "ratio",
    "projection.reproject_s": "s",
    "projection.points": "count",
    "sources.fixtures.build_s": "s",
    "sources.fixtures.resolve_s": "s",
    "sources.fixtures.cache_misses": "count",
    "sources.catalog.read_s": "s",
    "sources.catalog.tiles_read": "count",
    "sources.catalog.tiles_read_per_mask_tile": "ratio",
    "sources.catalog.ingest_s": "s",
    "sources.catalog.files_written": "count",
    "operators.zonal.build_s": "s",
    "operators.mapshed.build_s": "s",
    "spark.collect_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_kb": "kB",
    "spark.input_kb": "kB",
    "spark.executor_run_s": "s",
    "trace.overhead_s": "s",
    "trace.requests": "count",
}


def hd_median(x) -> float:
    """Harrell-Davis estimate of the median: a weighted mean of all order
    statistics, with Beta((n+1)/2, (n+1)/2) weights. A run yields 10-40
    latencies from a mix of fast and slow slots, and the plain middle
    sample jumps between the two groups from run to run; this estimate
    does not."""
    x = np.sort(np.asarray(x, dtype=float))
    a = (len(x) + 1) / 2
    grid = np.linspace(0.0, 1.0, 20001)
    pdf = grid ** (a - 1) * (1 - grid) ** (a - 1)
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    weights = np.diff(np.interp(np.arange(len(x) + 1) / len(x), grid, cdf / cdf[-1]))
    return float(weights @ x)


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


# ---------------------------------------------------------------------------
# server process
# ---------------------------------------------------------------------------


def server_env(catalog: bool) -> dict[str, str]:
    """The program's environment, pinned: every variable it reads is set
    here or removed, so inherited settings never change a run."""
    env = dict(os.environ)
    for var in ("SPARK_SHUFFLE_PARTITIONS", "SPARK_GRAFT_FIXTURE_BUCKETS", "SPARK_GRAFT_SF_DIR",
                "SPARK_GRAFT_CATALOG_ROOT", "PYSPARK_PIN_THREAD", "SPARK_CONF_DIR"):
        env.pop(var, None)
    tmp = os.path.join(STATE, "tmp")
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEMORY=HEAP,
        SPARK_LOCAL_DIRS=os.path.join(STATE, "spark-local"),
        SPARK_GRAFT_BUCKETED_FIXTURES="1",
        # the whole heap is committed and touched at start, so peak RSS
        # does not depend on how far the heap happened to grow in a run
        PYSPARK_SUBMIT_ARGS="--conf spark.ui.showConsoleProgress=false "
                            f"--driver-java-options '-Xms{HEAP} -XX:+AlwaysPreTouch' pyspark-shell",
        TMPDIR=tmp,
        # fewer malloc arenas in the JVM's native threads: peak RSS then
        # varies less between runs
        MALLOC_ARENA_MAX="2",
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONDONTWRITEBYTECODE="1",
    )
    if catalog:
        env["SPARK_GRAFT_CATALOG_ROOT"] = os.path.join(STATE, "catalog")
    return env


def start_server(plan_path: str, data_dir: str, catalog: bool, trace_out: str | None):
    """Start the server; return (process, READY info, set-up seconds)."""
    cmd = [sys.executable, os.path.join(HERE, "server.py"), "--state", STATE,
           "--data", data_dir, "--requests", plan_path]
    if catalog:
        cmd.append("--catalog")
    if trace_out:
        cmd += ["--trace-out", trace_out]
    log = open(os.path.join(STATE, "server.log"), "w")
    t0 = time.perf_counter()
    proc = subprocess.Popen(
        cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=log,
        cwd=os.path.join(STATE, "server"), env=server_env(catalog), start_new_session=True,
    )
    log.close()
    sel = selectors.DefaultSelector()
    sel.register(proc.stdout, selectors.EVENT_READ)
    buf = b""
    try:
        while b"\n" not in buf:
            left = SETUP_TIMEOUT_S - (time.perf_counter() - t0)
            if left <= 0 or not sel.select(timeout=left):
                raise RuntimeError(f"server not ready within {SETUP_TIMEOUT_S} s")
            chunk = os.read(proc.stdout.fileno(), 65536)
            if not chunk:
                raise RuntimeError("server exited during set-up")
            buf += chunk
            if b"\n" in buf and not buf.startswith(b"READY "):
                buf = buf.split(b"\n", 1)[1]  # stray output before READY
        setup_s = time.perf_counter() - t0
    finally:
        sel.close()
    return proc, json.loads(buf.split(b"\n", 1)[0][len(b"READY "):]), setup_s


def _session_pids(sid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields 3 and 6 of stat: state and session id; a zombie has ended
        if fields[0] != "Z" and int(fields[3]) == sid:
            pids.append(int(entry))
    return pids


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of the server's Python driver plus its
    JVM, in MB."""
    total_kb = 0
    for p in _session_pids(pid):
        try:
            with open(f"/proc/{p}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{p}/status") as f:
                status = f.read()
        except OSError:
            continue
        if p == pid or comm == "java":
            for line in status.splitlines():
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def stop_server(proc) -> None:
    """Close the server's stdin (its stop signal), wait for it, then make
    sure every process of its session has ended."""
    try:
        proc.stdin.close()
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    deadline = time.monotonic() + 20
    while _session_pids(proc.pid):
        if time.monotonic() > deadline:
            for p in _session_pids(proc.pid):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 20
        time.sleep(0.1)
    proc.stdout.close()


# ---------------------------------------------------------------------------
# load generator
# ---------------------------------------------------------------------------


def run_load(port: int, paths: list[str], bodies: list[bytes], clients: int,
             seconds: float) -> list[dict]:
    """Closed loop: each client sends its next request when the previous
    reply has been read, until ``seconds`` have passed. Requests are taken
    in stream order. Returns one record per request, with the reply body
    under ``"body"``."""
    records: list[dict] = []
    lock = threading.Lock()
    nxt = iter(range(len(bodies)))
    deadline = time.perf_counter() + seconds

    def client() -> None:
        while time.perf_counter() < deadline:
            with lock:
                i = next(nxt, None)
            if i is None:
                return
            rec = {"i": i, "status": 0, "req_b": len(bodies[i]), "body": b""}
            conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
            t0 = time.perf_counter()
            try:
                conn.request("POST", paths[i], bodies[i], {"Content-Type": "application/json"})
                resp = conn.getresponse()
                data = resp.read()
                rec["latency"] = time.perf_counter() - t0
                rec["status"], rec["body"] = resp.status, data
            except (OSError, http.client.HTTPException) as e:
                rec["latency"] = time.perf_counter() - t0
                rec["error"] = repr(e)
            finally:
                conn.close()
            with lock:
                records.append(rec)

    threads = [threading.Thread(target=client) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return records


# ---------------------------------------------------------------------------
# per-layer aggregation
# ---------------------------------------------------------------------------


def _layer_totals(spans: list[dict]) -> dict[str, float]:
    """Per span name: summed duration of spans not nested in a span of the
    same name (recursive calls count once), and summed counts."""
    by_id = {s["id"]: s for s in spans}
    out: dict[str, float] = {}
    for s in spans:
        p = by_id.get(s["parent"])
        while p is not None and p["name"] != s["name"]:
            p = by_id.get(p["parent"])
        if p is None:
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        for k in ("vertices", "candidate_cells", "mask_cells", "mask_tiles", "points",
                  "miss", "tiles", "layers"):
            if k in s:
                key = f"{s['name']}#{k}"
                out[key] = out.get(key, 0.0) + s[k]
    return out


def _self_time(root: dict, spans: list[dict]) -> float:
    """Root duration minus the union of its direct children's intervals."""
    iv = sorted((s["start"], s["end"]) for s in spans if s["parent"] == root["id"])
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return root["end"] - root["start"] - covered


def per_layer_metrics(trace: dict, records: list[dict], traced: set[int], ready: dict) -> dict:
    by_rid: dict[int, list[dict]] = {}
    for s in trace["spans"]:
        by_rid.setdefault(s["rid"], []).append(s)
    rows = []
    for r in records:
        spans = by_rid.get(r["i"])
        if r["i"] not in traced or not spans or not r["ok"]:
            continue
        root = next(s for s in spans if s["parent"] is None)
        t = _layer_totals(spans)

        def span(name: str, count: str | None = None) -> float | None:
            """A span's total (or one of its counts); None if the request
            never entered it."""
            return t.get(f"{name}#{count}" if count else name, 0.0) if name in t else None

        sp = trace["spark"].get(str(r["i"]), trace["spark"].get(r["i"], {}))
        cand = span("geometry.rasterize", "candidate_cells")
        mask = span("geometry.rasterize", "mask_cells")
        mask_tiles = t.get("geometry.rasterize#mask_tiles", 0.0) * t.get("sources.catalog.read#layers", 0.0)
        tiles = span("sources.catalog.list", "tiles")
        rows.append({
            "http_server.overhead_s": r["latency"] - (root["end"] - root["start"]),
            "http_server.request_kb": r["req_b"] / 1024.0,
            "http_server.response_kb": r["resp_b"] / 1024.0,
            "plans.api.self_s": _self_time(root, spans),
            "geometry.parse_s": span("geometry.parse"),
            "geometry.rasterize_build_s": span("geometry.rasterize"),
            "geometry.vertices": span("geometry.parse", "vertices"),
            "geometry.candidate_cells": cand,
            "geometry.mask_cells": mask,
            "geometry.mask_cells_per_candidate": mask / cand if cand else None,
            "projection.reproject_s": span("projection.reproject"),
            "projection.points": span("projection.reproject", "points"),
            "sources.fixtures.resolve_s": span("sources.fixtures.resolve"),
            "sources.fixtures.cache_misses": span("sources.fixtures.resolve", "miss"),
            "sources.catalog.read_s": span("sources.catalog.read"),
            "sources.catalog.tiles_read": tiles,
            "sources.catalog.tiles_read_per_mask_tile": tiles / mask_tiles if tiles is not None and mask_tiles else None,
            "operators.zonal.build_s": span("operators.zonal"),
            "operators.mapshed.build_s": span("operators.mapshed"),
            "spark.collect_s": span("spark.collect"),
            "spark.jobs": sp.get("jobs", 0),
            "spark.stages": sp.get("stages", 0),
            "spark.tasks": sp.get("tasks", 0),
            "spark.shuffle_write_kb": sp.get("shuffle_write_b", 0) / 1024.0,
            "spark.input_kb": sp.get("input_b", 0) / 1024.0,
            "spark.executor_run_s": sp.get("run_ms", 0) / 1000.0,
        })
    # per layer: the median over the traced requests that entered it
    out = {}
    for k in rows[0] if rows else ():
        vals = [row[k] for row in rows if row[k] is not None]
        out[k] = float(statistics.median(vals)) if vals else 0.0
    lat_t = [r["latency"] for r in records if r["ok"] and r["i"] in traced]
    lat_u = [r["latency"] for r in records if r["ok"] and r["i"] not in traced]
    out["trace.overhead_s"] = (
        statistics.median(lat_t) - statistics.median(lat_u) if lat_t and lat_u else 0.0
    )
    out["trace.requests"] = float(len(rows))
    out["sources.fixtures.build_s"] = ready["build_s"]
    out["sources.catalog.ingest_s"] = ready["ingest_s"]
    out["sources.catalog.files_written"] = float(ready["files_written"])
    return {k: out.get(k, 0.0) for k in PER_LAYER}


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, default=600_000,
                    help="pixels in the fixture world (600000 = sf0.1)")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="alter one expected answer (checks that mismatches are counted)")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "mmw_geoprocessing_spark", "http_server.py")):
        return fail(f"the program (mmw_geoprocessing_spark/) is not next to {HERE}")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import expected as exp
    import workloads

    if args.workload not in workloads.WORKLOADS:
        return fail(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    clients = min(workloads.WORKLOADS[args.workload], len(os.sched_getaffinity(0)))
    catalog = args.workload == "catalog_geojson"

    for d in COLD_DIRS:
        shutil.rmtree(os.path.join(STATE, d), ignore_errors=True)
        os.makedirs(os.path.join(STATE, d))
    data_dir = os.path.join(STATE, f"data-{args.rows}")
    if not os.path.exists(os.path.join(data_dir, "nation.parquet")):
        workloads.write_tables(data_dir, args.rows)

    # the request stream, written out before any load starts; long enough
    # for about 3x the throughput measured at sf0.1
    n_requests = {"run_aoi": 6, "multi_mapshed": 1}.get(args.workload, 3) * int(args.seconds + 1) + 16
    warm, docs = workloads.make_stream(args.workload, args.seed, n_requests, args.rows)
    # half the requests are traced: odd positions in the first ten, even
    # ones in the next ten, and so on, so each slot of a stream's mix is
    # traced and untraced alike
    traced = {i for i in range(len(docs)) if args.trace and (i + i // 10) % 2 == 1}
    bodies = []
    for i, d in enumerate(docs):
        body = {k: v for k, v in d.items() if not k.startswith("_")}
        body["perfbenchId"] = i
        if i in traced:
            body["perfbenchTrace"] = True
        bodies.append(json.dumps(body).encode())
    plan = {
        "fixtures": workloads.fixtures_used(warm + docs),
        "warmup": [{k: v for k, v in d.items() if not k.startswith("_")} for d in warm],
        "catalog_layers": sorted({r for d in warm + docs for r in d.get("rasters", [])}),
        "catalog_key_rows": workloads.GEOJSON_BAND_ROWS // workloads.TILE,
    }
    plan_path = os.path.join(STATE, "server", "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    with open(os.path.join(STATE, "requests.jsonl"), "wb") as f:
        f.writelines(b + b"\n" for b in bodies)

    trace_out = os.path.join(STATE, "server", "trace.json") if args.trace else None
    try:
        proc, ready, setup_s = start_server(plan_path, data_dir, catalog, trace_out)
    except RuntimeError as e:
        with open(os.path.join(STATE, "server.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        return fail(str(e))
    try:
        paths = ["/multi" if "shapes" in d else "/run" for d in docs]
        records = run_load(ready["port"], paths, bodies, clients, args.seconds)
        rss = peak_rss_mb(proc.pid)
    finally:
        stop_server(proc)

    # every reply against the expected answer of its request, computed
    # after the load so that only the requests sent are derived
    keys = [exp.canonical(d) for d in docs]
    t0 = time.perf_counter()
    expected = exp.expected_answers(data_dir, [docs[r["i"]] for r in records], args.rows,
                                    os.path.join(STATE, f"expected-{args.rows}.json"))
    oracle_s = time.perf_counter() - t0
    if args.corrupt_expected and records:
        key = keys[min(r["i"] for r in records)]
        want = expected[key]
        expected[key] = {"corrupted": 1} if not isinstance(want, dict) or want else {"x": 0}
    for r in records:
        body = r.pop("body")
        r["resp_b"] = len(body)
        try:
            r["ok"] = r["status"] == 200 and exp.matches(json.loads(body), expected[keys[r["i"]]])
        except ValueError as e:
            r["ok"], r["error"] = False, repr(e)

    with open(os.path.join(STATE, "records.jsonl"), "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in sorted(records, key=lambda r: r["i"]))
    attempted = len(records)
    good = [r for r in records if r["ok"]]
    failed = attempted - len(good)
    if attempted == 0:
        return fail("no request completed")
    lat = np.array([r["latency"] for r in records])
    e2e = {
        "latency_p50_s": hd_median(lat),
        # every client is busy for the whole run (a closed loop), so the
        # summed latency over the clients is the run's length, without the
        # rounding of a wall clock that stops at the last reply
        "throughput_rps": len(good) * clients / float(lat.sum()),
        "setup_s": setup_s,
        "peak_rss_mb": rss,
    }
    print(f"workload={args.workload} seed={args.seed} clients={clients} seconds={args.seconds} "
          f"requests={attempted} distinct={len(set(keys[r['i']] for r in records))} "
          f"error_rate={failed / attempted:.4f} oracle_s={oracle_s:.1f}")
    print("  server set-up: " + ", ".join(
        f"{k}={v:.1f}" for k, v in ready.items() if k.endswith("_s")))
    if len(records) == len(docs):
        print("  warning: the request stream ran out before the time was up")
    print(f"  sample median latency = {np.median(lat):.6g} s over {len(lat)} requests")
    if len(records) >= 100:
        print(f"  latency_p90_s = {np.percentile(lat, 90):.6g} s")
    for r in records:
        if not r["ok"]:
            print(f"  failed request {r['i']}: status={r['status']} {r.get('error', '')}")
    if args.trace:
        with open(trace_out) as f:
            trace = json.load(f)
        metrics, units = per_layer_metrics(trace, records, traced, ready), PER_LAYER
    else:
        metrics, units = e2e, END_TO_END
    for k, v in metrics.items():
        print(f"  {k} = {v:.6g} {units[k]}")
    for d in ("bucketed", "catalog", "spark-local", "tmp"):
        shutil.rmtree(os.path.join(STATE, d), ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
