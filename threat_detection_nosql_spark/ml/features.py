"""Feature assembly for the ML stages (SURVEY.md §1.3, M1, M16).

The reference builds a per-user numpy matrix in driver RAM and scales it
with sklearn's StandardScaler (`Comparaison_ML.py:125-128`). Here the
feature matrix IS a DataFrame (computed distributed by
queries/threat.user_features), assembled to an `ml.linalg.Vector`
column and scaled by Spark ML — fit is a distributed pass, transform is
executor-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# numeric projection (P5): all features except the key, mirroring
# `neo4j_analysis.py:177-185` + entropies
FEATURE_COLS = [
    "total_activities", "after_hours_activities", "weekend_activities",
    "unique_systems", "unique_resources", "activity_types",
    "after_hours_ratio", "weekend_ratio",
    "activity_entropy", "temporal_entropy",
]


def assemble_features(df: DataFrame, cols: list[str] | None = None,
                      out_col: str = "features",
                      exclude: tuple[str, ...] = ("is_anomaly",)
                      ) -> DataFrame:
    """Explicit cols win; else the known feature schema; else the P5
    dtype rule itself (`Comparaison_ML.py:125`: select numeric dtypes,
    drop the label)."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.sql import types as T
    cols = (cols or [c for c in FEATURE_COLS if c in df.columns]
            or [f.name for f in df.schema.fields
                if isinstance(f.dataType, T.NumericType)
                and f.name not in exclude])
    # VectorAssembler casts a non-double input under an alias that holds
    # its random uid, and the alias lands in the generated code. It is
    # given double copies instead, so every build compiles the same
    # source (and hits the codegen cache); the copies are dropped, so
    # the returned columns keep their types.
    doubles = {f"{c}_double": F.col(c).cast("double") for c in cols}
    df = df.na.fill(0.0, subset=cols).withColumns(doubles)
    return (VectorAssembler(inputCols=list(doubles), outputCol=out_col)
            .transform(df).drop(*doubles))


def scale_features(df: DataFrame, in_col: str = "features",
                   out_col: str = "scaled") -> DataFrame:
    """M1: z-score scaling (withMean+withStd), the sklearn
    StandardScaler equivalent (`Comparaison_ML.py:127-128`)."""
    from py4j.protocol import Py4JJavaError
    from pyspark.ml.feature import StandardScaler
    scaler = StandardScaler(inputCol=in_col, outputCol=out_col,
                            withMean=True, withStd=True)
    try:
        model = scaler.fit(df)
    except Py4JJavaError:
        # the fit fails on zero rows, which scale to zero rows; asked
        # only after a failure, so a fit that works runs no extra job
        if not df.isEmpty():
            raise
        return df.withColumn(out_col, F.col(in_col))
    return model.transform(df)


def scaled_user_features(spark: SparkSession, sf_dir: str,
                         pins: list[DataFrame] | None = None) -> DataFrame:
    """End-to-end: events → per-user feature matrix → assembled +
    scaled vector column. The DataFrame every detector consumes.

    The assembled matrix is cached before the scaler fit, so the fit's
    job fills the cache and the detectors' jobs read it: the feature
    build runs once, not once for the fit and again for the detector.
    ``pins``, when given, receives that cached frame, so a caller that
    drops the result can unpersist it."""
    from threat_detection_nosql_spark.queries.threat import user_features
    assembled = assemble_features(user_features(spark, sf_dir)).cache()
    if pins is not None:
        pins.append(assembled)
    return scale_features(assembled)


def synthetic_anomaly_fixture(spark: SparkSession, n: int = 200,
                              n_anomalies: int = 20, n_features: int = 8,
                              seed: int = 42) -> DataFrame:
    """The reference's planted-anomaly generator
    (`Comparaison_ML.py:79-109`, seed 42): n standard-normal rows, the
    last n_anomalies shifted +3 and scaled ×2, labeled `is_anomaly`.
    Distribution-equivalent Spark version (randn streams differ from
    numpy's RNG — detection *quality* on the planted anomalies is the
    parity gate, per BASELINE.md)."""
    # single partition: the fixture is O(100) rows by definition, and
    # iterative fits (GBT: one job per tree) otherwise schedule
    # default-parallelism empty tasks every iteration
    df = spark.range(0, n, 1, 1).withColumnRenamed("id", "user")
    is_anom = (F.col("user") >= n - n_anomalies).cast("int")
    for i in range(n_features):
        base = F.randn(seed + i)
        df = df.withColumn(
            f"f{i}",
            F.when(is_anom == 1, base * 2 + 3).otherwise(base))
    return df.withColumn("is_anomaly", is_anom)
