"""SparkSession builder tuned for this engine.

Local testing runs on ``local[N]`` but every setting is chosen for a real
multi-executor cluster at large scale:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic join-strategy demotion — essential at 100 TB where static
  partition counts are always wrong for some stage.
- Arrow on: all pandas UDF / toPandas traffic is Arrow-batched.
- shuffle partitions default sized for the local fixture scale; on a real
  cluster this should be ~2-3x total cores (AQE coalesces downward).
- parallel partition discovery only above 1024 paths (Spark's default is
  32): ``sources.catalog`` hands a read the in-range block files named
  in its sidecar manifest, and fetching the status of a few hundred of
  them on the driver is cheaper than a listing job on the executors,
  which a large-AOI catalog request would otherwise launch while its
  plan is built.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "mmw-geoprocessing-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
