"""Sources (SURVEY.md §2.1 S1–S3).

The reference eagerly materializes a CSV into driver RAM
(`data_preprocessing.py:12`); here every source is a lazy DataFrame
scan, so filter pushdown / column pruning reach the file format.
Parquet tables are typed by their footers (``load_table`` passes no
schema); the CSV reader has no footer and passes an explicit one.

The reference loads its activity log into the graph once and runs every
analytic against it. The analog here is a per-session table catalog:
the first ``load_table`` of a table lists the file, reads its footer
and normalizes ``events.ts``; the resulting relation is kept under
(session UUID, path, mtime_ns, size) and returned by every later call
until the file changes or another session asks. The catalog holds
metadata and query plans only, never rows: every action on a returned
relation still scans the file.
"""

from __future__ import annotations

import os
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from threat_detection_nosql_spark import schemas


class _Entry(NamedTuple):
    df: DataFrame          # resolved relation, ``ts`` normalized
    raw: T.StructType      # footer schema as the session reads it


_catalog: dict[tuple, _Entry] = {}


def _normalized(df: DataFrame, name: str, raw: T.StructType) -> DataFrame:
    """One normalization: ``events.ts`` is TIMESTAMP(NANOS) or
    TIMESTAMP(MICROS) in the files; both become a session-zoned
    microsecond timestamp, with the truncation DuckDB applies."""
    if name != "events":
        return df
    dt = raw["ts"].dataType
    if isinstance(dt, T.LongType):
        # nanosecond longs: a session built with nanosAsLong=true
        # (session.get_spark) reading TIMESTAMP(NANOS)
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        # vanilla session (a caller's own SparkSession): Spark 4.1 reads
        # TIMESTAMP(NANOS) as micro-truncated TIMESTAMP_NTZ; cast to the
        # session-zoned type every downstream temporal function
        # (unix_micros, window, watermark) expects. The cast interprets
        # NTZ wall-clock in the session timezone, fixed when the cast is
        # analyzed: _resolve pins UTC before any cast is built.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _pin_utc(spark: SparkSession, name: str, raw: T.StructType) -> None:
    """DuckDB's read is zoneless, so the NTZ cast's parity requires
    UTC. A classic DataFrame is analyzed as it is built, which fixes the
    cast's zone, so this runs before ``_normalized`` builds it.
    session.timeZone is runtime-settable (unlike nanosAsLong), so it is
    pinned on every resolution, hits included, rather than trusting the
    host JVM default or a caller's later change."""
    if name == "events" and isinstance(raw["ts"].dataType,
                                       T.TimestampNTZType):
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def _resolve(spark: SparkSession, sf_dir: str, name: str) -> _Entry:
    """The catalog entry of one testdata table in this session.

    Keyed on what can be observed: the session, and the file's path,
    mtime and size, so a table rewritten in place (test fixtures) is
    re-resolved. A miss evicts other sessions' entries and stale ones
    for the same path. A path that cannot be stat-ed (missing, or on a
    remote filesystem) is resolved uncached, and Spark reports it."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    session = spark._jsparkSession.sessionUUID()
    try:
        st = os.stat(path)
    except OSError:
        key = None
    else:
        key = (session, path, st.st_mtime_ns, st.st_size)
    entry = _catalog.get(key)
    if entry is None:
        from threat_detection_nosql_spark.deploy import (
            ensure_package_on_workers)
        ensure_package_on_workers(spark)
        if name == "events":
            # effective only if no parquet read happened yet on this
            # session; harmless otherwise (the NTZ branch covers that)
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        raw = df.schema
        _pin_utc(spark, name, raw)
        entry = _Entry(_normalized(df, name, raw), raw)
        if key is not None:
            for k in [k for k in _catalog
                      if k[0] != session or k[1] == path]:
                del _catalog[k]
            _catalog[key] = entry
    else:
        _pin_utc(spark, name, entry.raw)
    return entry


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of one testdata table (S1 analog), resolved
    through the session's table catalog: repeat calls return the same
    DataFrame while the file is unchanged."""
    return _resolve(spark, sf_dir, name).df


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One testdata table as a parquet file stream over
    ``sf_dir``: the streaming twin of ``load_table``, with the schema
    and ``ts`` normalization of the table's catalog entry (a file stream
    cannot infer the schema, and the session decides how
    TIMESTAMP(NANOS) surfaces)."""
    raw = _resolve(spark, sf_dir, name).raw
    df = (spark.readStream.schema(raw)
          .option("pathGlobFilter", f"{name}.parquet")
          .parquet(sf_dir))
    return _normalized(df, name, raw)


def load_tables(spark: SparkSession, sf_dir: str,
                names: list[str] | None = None) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n)
            for n in (names or schemas.TABLES)}


def read_activity_csv(spark: SparkSession, path: str) -> DataFrame:
    """Reference-shaped CSV scan (S1, `data_preprocessing.py:12`).

    Explicit schema (no pandas-style inference); `timestamp` is read as a
    string and parsed downstream with null-on-invalid semantics (S2) to
    mirror ``pd.to_datetime(errors='coerce')``.
    """
    return spark.read.csv(path, header=True, schema=schemas.ACTIVITY_LOG_RAW)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Temp views for the SQL API, one per testdata table."""
    for name in schemas.TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


_spread_memo: dict[tuple, bool] = {}


def spread(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Round-robin repartition IFF the plan currently has fewer input
    partitions than cores. At real scale (100 TB = tens of thousands of
    parquet splits) this is a no-op; it exists because a single small
    parquet file scans as ONE partition, serializing per-row-heavy
    operators (minhash signatures, n-gram explosions, SRP dot products)
    onto one core at test scale. Only those CPU-bound operators call
    it — plain relational queries never pay the extra exchange.

    The partition-count probe (``df.rdd.getNumPartitions()``) forces an
    RDD plan conversion, so its verdict is memoized per (application,
    analyzed-plan ``semanticHash``, target) — repeat calls on the same
    logical plan (every registered query rebuilds identical scans) skip
    the conversion. A hash collision could only mis-route the
    repartition decision (perf, never correctness), and dead
    applications' keys are evicted on the next call."""
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    key = (sc.applicationId, df.semanticHash(), target)
    if key not in _spread_memo:
        for k in [k for k in _spread_memo if k[0] != sc.applicationId]:
            _spread_memo.pop(k)
        _spread_memo[key] = df.rdd.getNumPartitions() < target
    return df.repartition(target) if _spread_memo[key] else df
