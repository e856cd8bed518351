"""ETL operators (SURVEY.md §2.2, §2.7: P1–P2, F1–F5).

The reference derives temporal features with pandas, including two
row-at-a-time ``Series.apply`` lambdas (`data_preprocessing.py:18-21`).
Here every feature is a built-in column expression — the whole stage
stays inside whole-stage codegen and nothing leaves the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from threat_detection_nosql_spark.sources.readers import load_table


def _temporal_features(ts_col: str) -> dict[str, Column]:
    """Temporal feature columns (`data_preprocessing.py:15-21`).

    - ``hour_of_day``: 0-23 (F2)
    - ``day_of_week``: Monday=0 like ``pandas.dt.dayofweek`` — Spark's
      ``dayofweek`` is Sunday=1, hence the +5 mod 7 shift (F3)
    - ``is_weekend``: dow >= 5 (F4)
    - ``is_after_hours``: hour < 8 or hour > 18 (F5)
    """
    ts = F.col(ts_col)
    hour = F.hour(ts)
    dow_mon0 = (F.dayofweek(ts) + F.lit(5)) % 7
    return {"hour_of_day": hour,
            "day_of_week": dow_mon0,
            "is_weekend": (dow_mon0 >= 5).cast("int"),
            "is_after_hours": ((hour < 8) | (hour > 18)).cast("int")}


def derive_temporal_features(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Append the temporal feature columns of ``ts_col`` (F2–F5)."""
    return df.withColumns(_temporal_features(ts_col))


def preprocess_activity_log(df: DataFrame) -> DataFrame:
    """Reference-shaped ETL (`data_preprocessing.py:5-31`): parse the raw
    string timestamp with null-on-invalid (S2, ``errors='coerce'``
    semantics), derive temporal features, drop rows null in the key
    columns (P2).
    """
    # try_to_timestamp, not to_timestamp: under ANSI mode (Spark 4
    # default) to_timestamp THROWS on malformed input; try_ gives the
    # reference's errors='coerce' null-on-invalid semantics
    parsed = df.withColumn("timestamp", F.try_to_timestamp("timestamp"))
    featured = derive_temporal_features(parsed, "timestamp")
    return featured.na.drop(subset=["user", "pc", "activity", "resource"])


def null_audit(df: DataFrame) -> DataFrame:
    """Per-column null counts as one row (P1, `data_preprocessing.py:24-26`)."""
    return df.select([
        F.sum(F.col(c).isNull().cast("int")).alias(f"nulls_{c}")
        for c in df.columns
    ])


# sf_dir -> (the events relation, session time zone, the log built on
# them); see activity_log
_logs: dict[str, tuple[DataFrame, str, DataFrame]] = {}


def activity_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's fact table: driver `events` mapped onto the reference
    activity-log model (FIXTURES.md §1 role mapping).

    Column mapping (deterministic, oracle-reproducible):
      - ``user``      = user_id          (≙ `neo4j_setup.py:45` User node key)
      - ``activity``  = event_type       (≙ `neo4j_setup.py:57`)
      - ``resource``  = int k of the props JSON payload (≙ `neo4j_setup.py:63`)
      - ``pc``        = event_id % 13    (≙ `neo4j_setup.py:51` System key;
                        synthetic but deterministic workstation assignment)

    Because each log row yields one edge of each type in the reference
    graph (SURVEY.md §1.2), this single DataFrame *is* the whole graph.

    The reference builds its graph once and every analytic reads it;
    here every query starts from this view, so it is built once too:
    the log is kept per ``sf_dir`` and returned by every later call
    while ``load_table`` returns the same ``events`` relation (the
    catalog's key: session, path, mtime and size) and
    ``spark.sql.session.timeZone`` is unchanged, since ``hour_of_day``
    and ``day_of_week`` fix their zone when they are analyzed. It holds
    a plan, never rows: every action still scans the file.
    """
    ev = load_table(spark, sf_dir, "events")
    tz = spark.conf.get("spark.sql.session.timeZone")
    hit = _logs.get(sf_dir)
    if hit is not None and hit[0] is ev and hit[1] == tz:
        return hit[2]
    log = ev.select(
        "event_id", "ts",
        F.col("user_id").alias("user"),
        (F.col("event_id") % 13).alias("pc"),
        F.col("event_type").alias("activity"),
        F.regexp_extract("props", r'"k": (\d+)', 1).cast("long")
        .alias("resource"),
        "value",
        *[c.alias(n) for n, c in _temporal_features("ts").items()])
    _logs[sf_dir] = (ev, tz, log)
    return log


# DuckDB-equivalent SQL fragment for the same view, used by oracle_sql()
# entries so queries() and the oracle share one definition of the log.
ACTIVITY_LOG_ORACLE_SQL = """
SELECT event_id,
       ts,
       user_id AS user,
       event_id % 13 AS pc,
       event_type AS activity,
       TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS resource,
       value,
       hour(ts) AS hour_of_day,
       isodow(ts) - 1 AS day_of_week,
       CASE WHEN isodow(ts) - 1 >= 5 THEN 1 ELSE 0 END AS is_weekend,
       CASE WHEN hour(ts) < 8 OR hour(ts) > 18 THEN 1 ELSE 0 END AS is_after_hours
FROM events
"""
