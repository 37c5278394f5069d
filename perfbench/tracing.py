"""Per-layer spans for the traced run, recorded from outside the program.

``install`` replaces each layer's public entry points (module attributes,
looked up by the callers at call time) with wrappers that record a span:
name, start, end, parent span and request id. Only requests whose document
carries ``perfbenchTrace: true`` are recorded; every other call goes
straight to the original function, so a run can interleave traced and
untraced requests and report the tracing overhead as the difference.

Spans live in memory and are written out once, when the server stops.
Spark job, stage and task counts come from the status tracker and the JVM
status store, keyed by the job group the HTTP layer gives each request.
"""

from __future__ import annotations

import functools
import itertools
import math
import queue
import threading
import time

import numpy as np


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[dict] = []
        self.spark_stats: dict[str, dict] = {}
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._groups: queue.Queue = queue.Queue()
        self._stop = threading.Event()
        self._collector = threading.Thread(target=self._collect_loop, daemon=True)
        self._collector.start()

    # -- spans ---------------------------------------------------------------

    def _run(self, name: str, rid, fn, args, kwargs, pre=None, post=None):
        stack = self._local.__dict__.setdefault("stack", [])
        span = {
            "id": next(self._ids),
            "name": name,
            "rid": rid,
            "parent": stack[-1]["id"] if stack else None,
        }
        if pre is not None:
            span.update(pre(args, kwargs))
        stack.append(span)
        span["start"] = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        finally:
            span["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(span)
        if post is not None:
            span.update(post(args, kwargs, out))
        return out

    def wrap(self, owner, attr: str, name: str, pre=None, post=None) -> None:
        """Record a child span around ``owner.attr`` inside traced requests."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            stack = getattr(tracer._local, "stack", None)
            if not stack:
                return orig(*args, **kwargs)
            return tracer._run(name, stack[0]["rid"], orig, args, kwargs, pre, post)

        setattr(owner, attr, wrapper)

    def wrap_root(self, owner, attr: str, name: str) -> None:
        """Record the request's root span around an ``api.*_request``
        dispatch whose model was tagged by ``wrap_parser``."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(spark, model):
            rid = getattr(model, "_perfbench_rid", None)
            if rid is None:
                return orig(spark, model)
            gid = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
            try:
                return tracer._run(name, rid, orig, (spark, model), {})
            finally:
                tracer._groups.put((time.monotonic(), rid, gid))

        setattr(owner, attr, wrapper)

    @staticmethod
    def wrap_parser(owner, attr: str) -> None:
        """Tag the parsed model of a traced request with its request id."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(doc):
            model = orig(doc)
            if doc.get("perfbenchTrace"):
                model._perfbench_rid = doc["perfbenchId"]
            return model

        setattr(owner, attr, wrapper)

    # -- Spark job statistics ------------------------------------------------

    def _collect_loop(self) -> None:
        while not (self._stop.is_set() and self._groups.empty()):
            try:
                queued, rid, gid = self._groups.get(timeout=0.2)
            except queue.Empty:
                continue
            # the status listener runs on its own bus; give it a moment
            time.sleep(max(0.0, queued + 0.5 - time.monotonic()))
            self.spark_stats[rid] = self._job_group_stats(gid)

    def _job_group_stats(self, gid: str) -> dict:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        stats = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_write_b": 0, "input_b": 0, "run_ms": 0}
        for job in tracker.getJobIdsForGroup(gid):
            info = tracker.getJobInfo(job)
            if info is None:
                continue
            stats["jobs"] += 1
            for sid in info.stageIds:
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # evicted from the status store
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                stats["stages"] += 1
                stats["tasks"] += sd.numCompleteTasks()
                stats["shuffle_write_b"] += sd.shuffleWriteBytes()
                stats["input_b"] += sd.inputBytes()
                stats["run_ms"] += sd.executorRunTime()
        return stats

    def close(self) -> None:
        self._stop.set()
        self._collector.join(timeout=60)


# ---------------------------------------------------------------------------
# Wiring: which functions of which layer get a span, and the counts
# recorded at the same boundaries
# ---------------------------------------------------------------------------

ZONAL_FUNCTIONS = [
    "join_layers", "raster_grouped_count", "raster_grouped_count_many", "raster_average",
    "raster_grouped_average", "raster_grouped_sum", "raster_lines_join", "raster_summary",
]


def _ring_points(polys) -> int:
    return sum(len(ring) for poly in polys for ring in poly)


def _rasterize_counts(args, kwargs, out) -> dict:
    """Candidate cells the rasterizer enumerates (tile bbox clipped to the
    layer extent, as ``geometry.rasterize_polygons`` does) and the cells
    and tiles of the resulting mask, by the benchmark's own rasterizer."""
    import workloads
    from mmw_geoprocessing_spark import geometry

    polys = args[1]
    layout = kwargs.get("layout", args[3] if len(args) > 3 else geometry.DEFAULT_LAYOUT)
    if not polys:
        return {"candidate_cells": 0, "mask_cells": 0, "mask_tiles": 0}
    t = layout.tile_size
    rings = [[layout.to_grid(x, y) for x, y in ring] for poly in polys for ring in poly]
    xs = [p[0] for r in rings for p in r]
    ys = [p[1] for r in rings for p in r]
    kc0, kc1 = math.floor(min(xs) / t), math.floor(max(xs) / t)
    kr0, kr1 = math.floor(min(ys) / t), math.floor(max(ys) / t)
    if layout.extent_keys is not None:
        e = layout.extent_keys
        kc0, kc1, kr0, kr1 = max(kc0, e[0]), min(kc1, e[2]), max(kr0, e[1]), min(kr1, e[3])
    cand = max(0, kc1 - kc0 + 1) * max(0, kr1 - kr0 + 1) * t * t
    counts = {"candidate_cells": cand}
    if len(rings) == 1:  # the generator's polygons: one outer ring
        ring = np.asarray(rings[0][:-1] if rings[0][0] == rings[0][-1] else rings[0])
        cells = workloads.rasterize(ring, (kr1 + 1) * t)
        counts["mask_cells"] = len(cells)
        counts["mask_tiles"] = len({(x // t, y // t) for x, y in cells.tolist()})
    return counts


def install(spark) -> Tracer:
    from pyspark.sql.classic.dataframe import DataFrame

    from mmw_geoprocessing_spark import geometry, http_server, projection
    from mmw_geoprocessing_spark.operators import mapshed, zonal
    from mmw_geoprocessing_spark.plans import api
    from mmw_geoprocessing_spark.sources import catalog
    from mmw_geoprocessing_spark.sources import fixtures as fx

    tr = Tracer(spark)
    tr.wrap_parser(http_server, "input_data_from_json")
    tr.wrap_parser(http_server, "multi_input_from_json")
    tr.wrap_root(api, "run_request", "plans.api")
    tr.wrap_root(api, "multi_request", "plans.api")
    tr.wrap(geometry, "parse_multipolygon", "geometry.parse",
            post=lambda a, k, out: {"vertices": _ring_points(out)})
    tr.wrap(geometry, "rasterize_polygons", "geometry.rasterize", post=_rasterize_counts)
    tr.wrap(projection, "reproject_polygons", "projection.reproject",
            pre=lambda a, k: {"points": _ring_points(a[0])})

    def fixture_miss(a, k):
        spark_, name = a[0], a[1]
        sf_dir = fx._ACTIVE_DIR.get(id(spark_)) or fx._ACTIVE_DIR.get(0, "")
        return {"miss": int((id(spark_), sf_dir, name) not in fx._FIXTURE_CACHE)}

    tr.wrap(fx, "fixture_df", "sources.fixtures.resolve", pre=fixture_miss)
    tr.wrap(catalog, "read_layers_for_aoi", "sources.catalog.read",
            pre=lambda a, k: {"layers": len(set(a[2]))})
    tr.wrap(catalog, "_pruned_layer_paths", "sources.catalog.list",
            post=lambda a, k, out: {"tiles": len(out)})
    for fn in ZONAL_FUNCTIONS:
        tr.wrap(zonal, fn, "operators.zonal")
    tr.wrap(mapshed, "template_df", "operators.mapshed")
    tr.wrap(DataFrame, "collect", "spark.collect")
    return tr
