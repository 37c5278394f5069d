"""Parquet table sources.

The driver materializes deterministic TPC-H-ish tables (TESTDATA.md):
``region nation customer supplier part orders lineitem events documents
embeddings`` — one parquet file each under ``/root/testdata/sf*/``.

At 100 TB these would be directory-partitioned datasets; the reader is a
plain ``spark.read.parquet`` so Catalyst's vectorized parquet scan,
predicate pushdown, and column pruning all apply unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# (session id, sf_dir) -> {table: DataFrame}; the tables are immutable
# driver fixtures, so memoizing the readers is safe and avoids re-listing
# and re-deriving per query call.
_TABLE_CACHE: dict[tuple[int, str], dict[str, DataFrame]] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # The driver's events.ts is parquet TIMESTAMP(NANOS); Spark has no
        # nanosecond timestamp type, so read it as int64 nanos and truncate
        # to micros — the same truncation DuckDB applies when casting
        # TIMESTAMP_NS to its native microsecond TIMESTAMP. Re-written
        # copies (e.g. scaled-up replicas) already carry
        # microsecond timestamps and skip the conversion.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        if dict(df.dtypes)["ts"] == "bigint":
            return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    key = (id(spark), sf_dir)
    if key not in _TABLE_CACHE:
        _TABLE_CACHE[key] = {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}
    return _TABLE_CACHE[key]


# session id -> sf_dir whose views are CURRENTLY registered. Temp views
# are global per session name, so the memo must track the LAST registered
# dir, not an "ever registered" set: alternating sf dirs (A, B, A) must
# re-register A's views or spark.sql plans silently read B's data.
_VIEWS_LAST: dict[int, str] = {}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view (for spark.sql plans).

    Memoized on the session's last-registered sf_dir: repeated calls for
    the same dir are no-ops; a different dir re-registers every view so
    the session's views always match the active fixture dir."""
    from mmw_geoprocessing_spark.sources import fixtures

    dfs = load_tables(spark, sf_dir)
    if _VIEWS_LAST.get(id(spark)) == sf_dir:
        fixtures.set_active_dir(sf_dir, spark)
        return dfs
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    fixtures.set_active_dir(sf_dir, spark)
    _VIEWS_LAST[id(spark)] = sf_dir
    return dfs
