"""r15 verdict #2: A/B the bucketed-fixture bucket count at sf0.1.

The zonal/mapshed zero-exchange join stages run exactly one task per
bucket, so the r14 layout's 16 buckets capped them at 16 tasks on 32
cores. The fixture bucket count follows the pixel count
(`fixtures.fixture_bucket_count`); this script sets the module
attribute `fixtures._N_BUCKETS`, which overrides it, and measures the
candidate values INSIDE ONE PROCESS (co-tenant bursts invalidate
cross-process timing on this box): alternating blocks per bucket
count, each block re-pointing the fixture layer (the tag fingerprints
the bucket spec, so layouts coexist on disk; switching is a cache
clear + catalog re-attach, paid in the block's warm-up run, never in
a timed run), then fresh-plan noop-sink runs.

Usage: python tools/r15_bucket_ab.py [bucketsA bucketsB ...]
Env: R15_BUCKET_BLOCKS (default 4 blocks per value),
     R15_BUCKET_RUNS (default 2 timed runs per query per block),
     SPARK_GRAFT_CPUS (cores, default 32)
"""

from __future__ import annotations

import collections
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

QUERIES = [
    "raster_grouped_count",
    "raster_grouped_count_many",
    "raster_grouped_average",
    "raster_lines_join",
    "raster_summary",
    "multi_operation",
    "mapshed_suite",
]

BLOCKS = int(os.environ.get("R15_BUCKET_BLOCKS", "4"))
RUNS = int(os.environ.get("R15_BUCKET_RUNS", "2"))


def main() -> None:
    os.environ["SPARK_GRAFT_BUCKETED_FIXTURES"] = "1"
    buckets = [int(x) for x in (sys.argv[1:] or ["16", "32"])]

    import __spark_entry__ as entrymod
    from mmw_geoprocessing_spark.session import get_spark
    from mmw_geoprocessing_spark.sources import fixtures as fx

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="r15_bucket_ab")
    spark.sparkContext.setLogLevel("ERROR")
    # bench.py's sf0.1 config — the layout question must be answered in
    # the configuration the driver measures. R15_BUCKET_BENCHCONF=0
    # keeps the engine defaults instead (the replica-scale story, as in
    # tools/crossover.py / r15_scale_ab.py).
    if os.environ.get("R15_BUCKET_BENCHCONF", "1") == "1":
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", "16")
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))

    qs = entrymod.queries(prepared=False)

    def switch(n: int) -> None:
        fx._N_BUCKETS = n
        fx.clear_fixture_cache()

    def run(name: str) -> float:
        t0 = time.time()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    # first pass: build/attach each layout once (the one-time bucketed
    # write for new bucket counts lands here) + capture result rows for
    # the cross-layout equality check
    rows: dict[int, dict[str, list]] = {}
    for n in buckets:
        switch(n)
        rows[n] = {}
        for q in QUERIES:
            spark.sparkContext.setJobDescription(f"b{n} build+collect {q}")
            rows[n][q] = sorted(map(tuple, qs[q](spark, sf_dir).collect()))
    for q in QUERIES:
        vals = [rows[n][q] for n in buckets]
        assert all(v == vals[0] for v in vals), f"results differ across layouts: {q}"
    print(json.dumps({"results_equal_across_layouts": True, "buckets": buckets}))

    series: dict[tuple[int, str], list[float]] = collections.defaultdict(list)
    for blk in range(BLOCKS):
        for n in buckets:
            switch(n)
            # warm-up: re-attach catalog entries outside the timed runs
            spark.sparkContext.setJobDescription(f"b{n} blk{blk} warmup")
            qs[QUERIES[0]](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            for q in QUERIES:
                for r in range(RUNS):
                    spark.sparkContext.setJobDescription(f"b{n} blk{blk} {q} run{r}")
                    series[(n, q)].append(run(q))

    def med(xs):
        s = sorted(xs); k = len(s)
        return s[k // 2] if k % 2 else (s[k // 2 - 1] + s[k // 2]) / 2

    out = {"cpus": os.environ.get("SPARK_GRAFT_CPUS", "?"), "per_query": {}}
    for q in QUERIES:
        out["per_query"][q] = {
            str(n): {
                "median": round(med(series[(n, q)]), 3),
                "min": round(min(series[(n, q)]), 3),
                "series": [round(x, 3) for x in series[(n, q)]],
            }
            for n in buckets
        }
        tot = {str(n): round(med(series[(n, q)]), 3) for n in buckets}
        print(json.dumps({"query": q, **tot}), flush=True)
    path = os.path.join(
        REPO, "plans", "r15",
        f"bucket_ab_c{os.environ.get('SPARK_GRAFT_CPUS', 'x')}.json",
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
