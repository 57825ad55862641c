"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the configs below are the ones
that matter at cluster scale too: AQE on (skew joins — a few OSM
relations have 10^4 members, a few TPC-H orderkeys are hot), Arrow
for pandas-UDF kernels, and a shuffle-partition count sized to the
local core count (on a real cluster you'd size it to ~2-3x total
cores or let AQE coalesce).

Spark's generated-code cache is sized to hold one import's classes.
A warm 108k-object import generates ~110 distinct classes, more than
the default 100 entries, so the cache evicted them before the next
import could reuse them and every import Janino-compiled them again.
At CODEGEN_CACHE_ENTRIES a later import in the same session runs on
code that is already compiled and JIT-warm.  The setting is static:
it only takes effect in the builder, before the session exists.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

CODEGEN_CACHE_ENTRIES = 1000


def get_spark(app_name: str = "osm2pgsql-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus != "*" else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # the events table carries TIMESTAMP(NANOS) parquet values,
        # which Spark only reads via this legacy flag (as raw int64);
        # sources.testdata converts them back to timestamps.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    return builder.getOrCreate()
