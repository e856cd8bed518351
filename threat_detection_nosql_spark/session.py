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

    Spark compiles its generated code (each whole-stage-codegen stage,
    projection, predicate) with Janino and keeps the classes in an LRU
    of ``spark.sql.codegen.cache.maxEntries``. Spark's 100 is smaller
    than one threat-suite pass, so a suite run again evicts every class
    before its next use and recompiles nearly all of them; 1000 holds
    the working set (numbers at the conf below).

    Static confs such as this one apply only when this call creates the
    SparkContext. ``getOrCreate`` on a running context (one started by
    spark-submit, a notebook or another builder) keeps that context's
    own value; the runtime confs here still apply.

    Local sessions write streaming checkpoints (offsets, commits,
    source log, state-store ``*.delta`` files) through Hadoop's
    ``FileSystem`` API rather than Spark's default ``FileContext``.
    Every checkpoint file is written to a temp name and renamed. A
    ``FileContext`` rename on the local filesystem looks up the link
    status of its paths, and without a native ``libhadoop`` Hadoop
    forks ``readlink`` for that, about three times per rename: 672
    ``readlink`` processes in one warm stream-twins pass. The
    ``FileSystem`` rename is ``File.renameTo``, one rename(2), and
    forks nothing. The 223 ``chmod`` forks per pass, from
    ``setPermission`` on each created file, are the same under both.

    ``FileContext`` renames with "fail if the target exists" in one
    atomic step; the ``FileSystem`` manager checks ``exists()`` and
    then renames. The gap matters only to two writers on one
    checkpoint at once. A local session has one driver, and its
    ``StreamingQueryManager`` keeps one run per query id active: a
    second ``start()`` on a checkpoint stops the first run before it
    starts (Spark's default) or is refused
    (``spark.sql.streaming.stopActiveRunOnRestart=false``). A cluster
    session can have writers in other drivers, on a store where the
    atomic rename counts, so it keeps ``FileContext``.
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
        # static conf, sized from the traffic rather than tuned: ~145
        # distinct classes per threat-suite pass (73 per stream-twins
        # pass); with 100 entries every warm suite pass recompiled ~130.
        # At ~23 KB of metaspace per class a full cache is ~25 MB.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = (builder
                   .master(f"local[{_DEFAULT_CPUS}]")
                   .config("spark.driver.memory",
                           os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
                   # one driver, so no second writer can race a rename;
                   # FileContext forked ~3 readlink per checkpoint file
                   .config("spark.sql.streaming.checkpointFileManagerClass",
                           "org.apache.spark.sql.execution.streaming."
                           "checkpointing.FileSystemBasedCheckpointFileManager"))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
