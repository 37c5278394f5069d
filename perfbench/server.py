"""The server process of the benchmark: one ``GeoprocessingServer`` over one
SparkSession, started cold, exactly as a deployment would start it.

Started by ``run.py`` with the environment it pins. Set-up (everything
before the ``READY`` line, which ``run.py`` times as ``setup_s``):
the SparkSession with the program's defaults, the two source views, the
fixture relations the workload reads (written as bucketed parquet into the
benchmark's state directory), the catalog ingest for the catalog workload,
and one warm-up request per operation kind through ``plans.api``. Each of
the last three steps runs its independent parts from one thread per CPU,
as a server warming up would.

The process then serves until its standard input closes; with tracing on
it writes its spans to ``--trace-out``, and then it ends its process
group.

    python3 perfbench/server.py --state DIR --data DIR --requests FILE [--trace-out FILE]
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--state", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--requests", required=True)
    ap.add_argument("--catalog", action="store_true")
    ap.add_argument("--trace-out")
    args = ap.parse_args()

    with open(args.requests) as f:
        plan = json.load(f)

    from mmw_geoprocessing_spark import geometry, session
    from mmw_geoprocessing_spark.http_server import (
        GeoprocessingServer,
        input_data_from_json,
        multi_input_from_json,
    )
    from mmw_geoprocessing_spark.plans import api
    from mmw_geoprocessing_spark.sources import catalog, tables
    from mmw_geoprocessing_spark.sources import fixtures as fx

    # the bucketed fixture copies live in the benchmark's state directory,
    # which run.py empties before every run
    fx._BUCKET_DIR = os.path.join(args.state, "bucketed")

    t_start = time.perf_counter()
    spark = session.get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    tracer = None
    if args.trace_out:
        import tracing

        tracer = tracing.install(spark)

    for name in ("lineitem", "nation"):
        tables.load_table(spark, args.data, name).createOrReplaceTempView(name)
    fx.set_active_dir(args.data, spark)
    session_s = time.perf_counter() - t_start

    pool = ThreadPoolExecutor(len(os.sched_getaffinity(0)))

    def each(fn, items) -> None:
        for _ in pool.map(fn, items):  # re-raises the first failure
            pass

    t0 = time.perf_counter()
    # the first fixture enters the bucketed-fixture session mode alone
    fx.fixture_df(spark, plan["fixtures"][0])
    each(lambda name: fx.fixture_df(spark, name), plan["fixtures"][1:])
    if "cells" in plan["fixtures"]:
        fx.grid_key_extent(spark)
    build_s = time.perf_counter() - t0

    ingest_s, files_written = 0.0, 0
    if args.catalog:
        root = os.environ["SPARK_GRAFT_CATALOG_ROOT"]

        def ingest(rid: str) -> None:
            band = fx.raster_df(spark, rid).where(f"key_row < {plan['catalog_key_rows']}")
            catalog.write_layer(band, root, rid, layout=geometry.ZOOM_LAYOUTS[13], zoom=13)

        t0 = time.perf_counter()
        each(ingest, plan["catalog_layers"])
        ingest_s = time.perf_counter() - t0
        files_written = sum(
            f.endswith(".parquet") for _, _, fs in os.walk(root) for f in fs
        )

    def warm(doc: dict) -> None:
        if "shapes" in doc:
            api.multi_request(spark, multi_input_from_json(doc))
        else:
            api.run_request(spark, input_data_from_json(doc))

    t0 = time.perf_counter()
    each(warm, plan["warmup"])
    pool.shutdown()

    server = GeoprocessingServer(spark, port=0).start()
    print("READY " + json.dumps({
        "port": server.port,
        "session_s": session_s,
        "build_s": build_s,
        "warmup_s": time.perf_counter() - t0,
        "ingest_s": ingest_s,
        "files_written": files_written,
    }), flush=True)

    sys.stdin.read()  # run.py closes our stdin to stop us

    server.stop()
    if tracer is not None:
        tracer.close()
        with open(args.trace_out, "w") as f:
            json.dump({"spans": tracer.spans, "spark": tracer.spark_stats}, f)
    # Nothing the session holds outlives the run (run.py empties the state
    # directory), so the process group (this process, the JVM and its
    # Python workers) ends at once instead of through spark.stop(), which
    # takes seconds.
    os.killpg(os.getpgid(0), signal.SIGKILL)
    return 0


if __name__ == "__main__":
    sys.exit(main())
