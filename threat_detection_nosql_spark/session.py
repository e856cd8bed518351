"""SparkSession factory tuned for both local testing and cluster scale.

The reference pipeline is single-process pandas + a Neo4j server
(SURVEY.md §3); here the execution engine is Spark itself, so the only
"setup" is a session with AQE + Arrow enabled and shuffle partitions
sized to the environment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "threat_detection_nosql_spark") -> SparkSession:
    """Build (or reuse) a SparkSession.

    Local mode uses ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the
    master/memory settings come from spark-submit and these configs are
    harmless. AQE handles runtime coalescing and skew joins, so a fixed
    ``spark.sql.shuffle.partitions`` (one per core) is only the upper
    bound pre-AQE.
    """
    builder = (
        SparkSession.builder
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", _DEFAULT_CPUS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # driver testdata stores events.ts as TIMESTAMP(NANOS); Spark has
        # no nanos type — read as long, converted in sources.readers.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
    )
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = (builder
                   .master(f"local[{_DEFAULT_CPUS}]")
                   .config("spark.driver.memory",
                           os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
