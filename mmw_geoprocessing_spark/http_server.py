"""HTTP wire layer over ``plans/api.py`` — parity with the reference's
Akka-HTTP service (reference WebServer.scala:64-111, application.conf:
10-21): ``GET /ping``, ``POST /run``, ``POST /multi``.

Pure stdlib (``http.server``) — the container ships no web framework;
the engine itself stays transport-agnostic in ``plans/api.py``.

Contract parity:
- request timeout (default 120 s, reference application.conf idle/
  request-timeout) -> 503 with a JSON error body;
- max request body 50 MB (reference parsing.max-content-length) -> 413;
- the typed 400 taxonomy (errors.py <-> reference ErrorHandler.scala:
  8-46): GeoprocessingError subclasses -> 400 with the error class name,
  anything else -> 500.

Request JSON uses the reference's camelCase field names
(WebServer.scala:11-49): operationType, rasters, targetRaster, polygon,
polygonCRS, rasterCRS, streamLines, zoom — plus the engine's
pre-rasterized extensions (aoiIds, useLinePixels, pixelIsArea).
"""

from __future__ import annotations

import json
import threading
import uuid
from concurrent.futures import ThreadPoolExecutor
from concurrent.futures import TimeoutError as FutureTimeout
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import SparkSession

from mmw_geoprocessing_spark.errors import GeoprocessingError
from mmw_geoprocessing_spark.plans import api
from mmw_geoprocessing_spark.plans.model import InputData, MultiInput, Operation

MAX_BODY_BYTES = 50 * 1024 * 1024  # reference: parsing.max-content-length = 50m
REQUEST_TIMEOUT_SEC = 120.0  # reference: request-timeout = 120 s


def input_data_from_json(doc: dict) -> InputData:
    """Reference InputData JSON (WebServer.scala:11-22) -> model."""
    return InputData(
        operation_type=doc.get("operationType", ""),
        rasters=list(doc.get("rasters", [])),
        target_raster=doc.get("targetRaster"),
        shape_geojson=doc.get("polygon"),
        shape_crs=doc.get("polygonCRS"),
        # the reference /run field is ``vector`` (WebServer.scala:20);
        # ``streamLines`` is kept as the engine's alias (it is the
        # reference's /multi field name)
        stream_lines_geojson=doc.get("vector", doc.get("streamLines")),
        vector_crs=doc.get("vectorCRS"),
        aoi_ids=doc.get("aoiIds"),
        use_line_pixels=bool(doc.get("useLinePixels", False)),
        pixel_is_area=bool(doc.get("pixelIsArea", False)),
        zoom=int(doc.get("zoom", 0)),
        raster_crs=doc.get("rasterCRS"),
    )


def multi_input_from_json(doc: dict) -> MultiInput:
    """Reference MultiInput JSON (WebServer.scala:45-49) -> model.

    The reference wire shape is ``shapes: [{id, shape}]`` (HUC objects,
    WebServer.scala:32-35) whose ids key the response map; bare strings
    (aoi ids or raw GeoJSON — engine extensions) pass through with
    positional fallback labels.
    """
    shapes: list[str] = []
    shape_ids: list[str | None] = []
    for entry in doc.get("shapes", []):
        if isinstance(entry, dict):
            shapes.append(str(entry["shape"]))
            huc_id = entry.get("id")
            shape_ids.append(None if huc_id is None else str(huc_id))
        else:
            shapes.append(str(entry))
            shape_ids.append(None)
    return MultiInput(
        shapes=shapes,
        shape_ids=shape_ids if any(i is not None for i in shape_ids) else None,
        stream_lines_geojson=doc.get("streamLines"),
        operations=[
            Operation(
                name=op.get("name", ""),
                label=op.get("label", op.get("name", "")),
                rasters=list(op.get("rasters", [])),
                target_raster=op.get("targetRaster"),
                pixel_is_area=bool(op.get("pixelIsArea", False)),
            )
            for op in doc.get("operations", [])
        ],
        shape_crs=doc.get("shapeCRS", "LatLng"),
        raster_crs=doc.get("rasterCRS", "ConusAlbers"),
        zoom=int(doc.get("zoom", 0)),
    )


class GeoprocessingServer:
    """Threaded HTTP server bound to one SparkSession.

    Dispatch runs on a worker pool so the accept loop can enforce the
    120 s request timeout; Spark itself is thread-safe for concurrent
    job submission (each request becomes independent Spark jobs).
    """

    @staticmethod
    def _pinned_thread_mode(spark: SparkSession) -> bool:
        """True iff the RUNNING context launched its JVM gateway in
        pinned-thread mode. py4j's ClientServer is the pinned transport
        (one JVM thread per Python thread); JavaGateway is the legacy
        shared-thread transport. Falls back to env var + version when the
        gateway is not observable (e.g. Spark Connect has no gateway and
        no shared JVM thread-locals, so pinning is moot -> True)."""
        try:
            gateway = spark.sparkContext._gateway
        except Exception:
            return True
        try:
            from py4j.clientserver import ClientServer

            return isinstance(gateway, ClientServer)
        except Exception:
            import os as _os

            env = _os.environ.get("PYSPARK_PIN_THREAD")
            if env is not None:
                return env.lower() not in ("false", "0", "no")
            major, minor = (int(x) for x in spark.version.split(".")[:2])
            return (major, minor) >= (3, 2)

    def __init__(
        self,
        spark: SparkSession,
        host: str = "127.0.0.1",
        port: int = 8090,
        request_timeout_sec: float = REQUEST_TIMEOUT_SEC,
        max_body_bytes: int = MAX_BODY_BYTES,
    ) -> None:
        self.spark = spark
        self.request_timeout_sec = request_timeout_sec
        self.max_body_bytes = max_body_bytes
        # Per-request setJobGroup/cancelJobGroup isolation relies on
        # PySpark pinned-thread mode (each Python thread pinned to its
        # own JVM thread; default ON since Spark 3.2). With it disabled,
        # pool threads share JVM thread-locals and a timeout cancel
        # could kill a CONCURRENT request's jobs — refuse to start.
        # The mode is fixed when the SparkContext's JVM gateway launches,
        # so probe the LIVE gateway (pinned mode uses py4j's ClientServer;
        # legacy mode uses JavaGateway) rather than trusting the env var,
        # which may have changed since context creation and whose unset
        # default is only ON for Spark >= 3.2.
        if not self._pinned_thread_mode(spark):
            raise RuntimeError(
                "GeoprocessingServer requires PySpark pinned-thread mode "
                "(set PYSPARK_PIN_THREAD=true BEFORE SparkContext creation; "
                "its default is ON only for Spark >= 3.2): per-request "
                "job-group cancellation is only thread-isolated when each "
                "Python worker thread maps to its own JVM thread"
            )
        self._pool = ThreadPoolExecutor(max_workers=8)
        outer = self

        class Handler(BaseHTTPRequestHandler):
            # quiet the default stderr access log
            def log_message(self, fmt, *args):  # noqa: D102
                pass

            def _reply(self, status: int, payload) -> None:
                body = json.dumps(payload).encode()
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self):  # noqa: N802
                if self.path == "/ping":
                    self._reply(200, api.ping())
                else:
                    self._reply(404, {"error": "NotFound", "message": self.path})

            def do_POST(self):  # noqa: N802
                if self.path not in ("/run", "/multi"):
                    self._reply(404, {"error": "NotFound", "message": self.path})
                    return
                # a negative length would block in rfile.read(-1) until the
                # client hangs up; a non-integer one would drop the
                # connection with no reply
                raw_length = self.headers.get("Content-Length", "0")
                try:
                    length = int(raw_length)
                except ValueError:
                    length = -1
                if length < 0:
                    self._reply(
                        400,
                        {
                            "error": "MalformedRequest",
                            "message": f"bad Content-Length {raw_length!r}",
                        },
                    )
                    return
                if length > outer.max_body_bytes:
                    self._reply(
                        413,
                        {
                            "error": "PayloadTooLarge",
                            "message": f"body {length} > {outer.max_body_bytes} bytes",
                        },
                    )
                    return
                try:
                    doc = json.loads(self.rfile.read(length) or b"{}")
                except json.JSONDecodeError as e:
                    self._reply(400, {"error": "MalformedJSON", "message": str(e)})
                    return

                # parse the request document BEFORE pool submission so
                # shape-coercion failures (e.g. "zoom": "abc", non-dict
                # operations entries) are the reference's 400 malformed-
                # request taxonomy, not a generic 500 from the worker
                try:
                    if self.path == "/run":
                        model, runner = input_data_from_json(doc), api.run_request
                    else:
                        model, runner = multi_input_from_json(doc), api.multi_request
                except (ValueError, TypeError, KeyError, AttributeError) as e:
                    self._reply(400, {"error": "MalformedRequest", "message": str(e)})
                    return

                # run under a per-request job group: on timeout the
                # group is cancelled JVM-side, so the Spark jobs stop
                # and the pool worker frees — fut.cancel() alone is a
                # no-op for an already-running task and a burst of slow
                # requests would otherwise pin all workers forever
                gid = f"http-{uuid.uuid4().hex}"

                def task():
                    sc = outer.spark.sparkContext
                    sc.setJobGroup(gid, f"http {self.path}", interruptOnCancel=True)
                    try:
                        return runner(outer.spark, model)
                    finally:
                        # clear the group so the pool thread's next
                        # request never inherits a stale group id (a
                        # later cancel of THIS gid must not touch it)
                        try:
                            sc.setLocalProperty("spark.jobGroup.id", None)
                            sc.setLocalProperty("spark.job.description", None)
                            sc.setLocalProperty("spark.job.interruptOnCancel", None)
                        except Exception:
                            pass

                fut = outer._pool.submit(task)
                try:
                    self._reply(200, fut.result(timeout=outer.request_timeout_sec))
                except FutureTimeout:
                    fut.cancel()  # covers the not-yet-started case
                    try:
                        # the group's later jobs are cancelled too: a request
                        # between two jobs stops at its next one instead of
                        # running to the end (and caching a reply) after its 503
                        outer.spark.sparkContext._jsc.sc().cancelJobGroupAndFutureJobs(gid)
                    except Exception:
                        pass  # session already stopped
                    self._reply(
                        503,
                        {
                            "error": "RequestTimeout",
                            "message": f"request exceeded {outer.request_timeout_sec}s",
                        },
                    )
                except GeoprocessingError as e:
                    # typed 400 taxonomy (reference ErrorHandler.scala:8-46)
                    self._reply(e.status, {"error": type(e).__name__, "message": str(e)})
                except Exception as e:  # unknown -> 500
                    self._reply(500, {"error": type(e).__name__, "message": str(e)})

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self._httpd.server_address[1]

    def start(self) -> "GeoprocessingServer":
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        self._pool.shutdown(wait=False)
        if self._thread:
            self._thread.join(timeout=5)
