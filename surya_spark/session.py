"""SparkSession factory with scale-aware defaults.

Local mode is single-JVM; on a real cluster the same configs apply per
executor. Shuffle-partition count tracks core count (not the 200 default)
because our payloads are image blobs — oversized partitions OOM, undersized
ones thrash the Arrow serializer.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app: str = "surya_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "24g",
) -> SparkSession:
    cores = cores or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    # AQE defaults ON (coalescing + skew splitting matter at real scale).
    # SPARK_GRAFT_AQE=0 turns it off: its per-stage driver re-planning is a
    # SERIAL cost (~0.2-0.5 s × ~20 stages for the extraction DAG) that
    # dominates wall time only at toy input sizes — scale benchmarks
    # disable it so they measure executor scaling, not driver latency.
    aqe = os.environ.get("SPARK_GRAFT_AQE", "1") != "0"
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", str(aqe).lower())
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold",
                os.environ.get("SPARK_GRAFT_ABJT", str(64 * 1024 * 1024)))
        # mid-pipeline broadcast children can be whole UDF stages; at low
        # parallelism their computation alone exceeds the 300 s default
        .config("spark.sql.broadcastTimeout", "3600")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

