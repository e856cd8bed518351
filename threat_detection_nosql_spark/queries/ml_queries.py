"""ML queries (rows-only: RNG/algorithm-specific values — the
correctness gate is detection quality on the planted-anomaly fixture,
per BASELINE.md; see tests/test_ml.py).

Detector outputs are memoized per (application, sf_dir) and persisted,
and so is the one scaled feature frame they all consume: the registry
runs the seven individual detector queries and then the ensemble, which
would otherwise re-fit all seven and the scaler — with the memo the
ensemble is a 7-way join of cached per-user frames. Outputs are tiny
(one row per user), so the cache cost is negligible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from threat_detection_nosql_spark.ml import unsupervised as U
from threat_detection_nosql_spark.ml.features import (
    assemble_features,
    scale_features,
    scaled_user_features,
    synthetic_anomaly_fixture,
)
from threat_detection_nosql_spark.ml.supervised import supervised_report

_DETECTORS = {
    "kmeans": lambda scaled: U.kmeans_detector(scaled),
    "iforest": lambda scaled: U.iforest_detector(scaled),
    "pca": lambda scaled: U.pca_reconstruction_detector(scaled),
    "maha": lambda scaled: U.mahalanobis_detector(scaled),
    "dbscan": lambda scaled: U.dbscan_detector(scaled),
    "ae": lambda scaled: U.autoencoder_detector(scaled),
    "ocsvm": lambda scaled: U.rff_ocsvm_detector(scaled),
}

# Memoized per (Spark application, sf_dir, name): keyed by
# applicationId — unlike id(spark), which a garbage-collected session
# can recycle and alias a stale cached frame onto a new session. When
# the application changes, every cached frame from the dead app is
# dropped (its cache blocks died with the app's executors anyway, so
# this is bookkeeping, not an unpersist RPC into a dead context).
# Names are the detectors' and "scaled", the one scaled feature frame
# all detectors and the ensemble share.
_memo: dict[tuple, DataFrame] = {}

# The frames each memo entry's build cached, by memo key. Timed runs
# clear _memo before each query (perfbench, bench.time_query); the
# frames a dropped entry pinned are unpersisted at the next miss,
# before its build starts, so repeated runs do not pile up cache.
_pinned: dict[tuple, list[DataFrame]] = {}

# Each detector's columns besides the key: the result of an empty
# feature frame, on which every fit fails.
_EMPTY_COLUMNS = {name: {f"{name}_score": "double", f"{name}_anomaly": "int"}
                  for name in _DETECTORS}
_EMPTY_COLUMNS["dbscan"] = {"cluster": "bigint", "dbscan_anomaly": "int",
                            "dbscan_score": "double"}


def _release_dropped(app_id: str) -> None:
    # newest first: a detector's output goes before the feature frame
    # it was computed from
    for key in reversed([k for k in _pinned if k not in _memo]):
        for df in _pinned.pop(key):
            if key[0] == app_id:
                df.unpersist()


def _memoized(spark: SparkSession, sf_dir: str, name: str,
              build) -> DataFrame:
    """``build(pins)`` makes the frame and appends to ``pins`` every
    frame it caches."""
    app_id = spark.sparkContext.applicationId
    stale = [k for k in _memo if k[0] != app_id]
    for k in stale:
        _memo.pop(k)
    key = (app_id, sf_dir, name)
    if key not in _memo:
        _release_dropped(app_id)
        pins: list[DataFrame] = []
        try:
            _memo[key] = build(pins)
        finally:
            _pinned[key] = pins
    return _memo[key]


def _scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memoized(spark, sf_dir, "scaled",
                     lambda pins: scaled_user_features(spark, sf_dir, pins))


def _fit_detector(scaled: DataFrame, name: str) -> DataFrame:
    try:
        return _DETECTORS[name](scaled)
    except Exception:
        # zero rows fail each fit its own way (a JVM error, numpy on an
        # empty sample, a zero count); emptiness is asked only after a
        # failure, so a fit that works runs no extra job
        if not scaled.isEmpty():
            raise
        from pyspark.sql import functions as F
        return scaled.select("user", *[
            F.lit(None).cast(t).alias(c)
            for c, t in _EMPTY_COLUMNS[name].items()])


def _detector(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    def build(pins: list[DataFrame]) -> DataFrame:
        out = _fit_detector(_scaled(spark, sf_dir), name).cache()
        pins.append(out)
        return out
    return _memoized(spark, sf_dir, name, build)


def kmeans_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _detector(spark, sf_dir, "kmeans")


def iforest_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _detector(spark, sf_dir, "iforest")


def pca_reconstruction_anomalies(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    return _detector(spark, sf_dir, "pca")


def mahalanobis_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _detector(spark, sf_dir, "maha")


def autoencoder_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 proper: nonlinear bottleneck autoencoder reconstruction
    error (vs the linear PCA substitute) — see
    ml.unsupervised.autoencoder_detector."""
    return _detector(spark, sf_dir, "ae")


def ocsvm_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 proper: one-class SVM in random-Fourier-feature space
    (margin-shaped, vs the distribution-shaped Mahalanobis
    substitute) — see ml.unsupervised.rff_ocsvm_detector."""
    return _detector(spark, sf_dir, "ocsvm")


def dbscan_noise_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _detector(spark, sf_dir, "dbscan")


def ensemble_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = {name: _detector(spark, sf_dir, name) for name in _DETECTORS}
    return U.ensemble_detector(_scaled(spark, sf_dir), parts=parts)


_SMOTE_N, _SMOTE_ANOM = 200, 20
_SMOTE_RATIO, _UNDER_RATIO = 0.7, 0.8


def smote_resampled_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M10 as a queryable op: SMOTE(0.7) + undersample(0.8) on the
    planted-anomaly fixture (`Comparaison_ML.py:568-582` pipeline),
    returning per-class counts before/after.

    Oracle-backed since round 9: the SMOTE synthetic count is pure
    integer arithmetic (max(0, floor(0.7·n_maj) − n_min) — feature
    values never touch it), and the undersample runs in the portable
    hash mode (``undersample_majority(hash_col="user")``), so the kept
    majority set is a function of md5(user), not a Spark RNG stream.
    The oracle replays the md5 threshold over generate_series and the
    same count arithmetic (``hash_keep_threshold`` is shared code, so
    both sides run identical float-then-floor ops). The interpolated
    feature VALUES still use engine RNG — they are deliberately not
    part of this query's output."""
    from pyspark.sql import functions as F

    from threat_detection_nosql_spark.ml.resample import (
        smote_oversample,
        undersample_majority,
    )
    fix = synthetic_anomaly_fixture(spark, n=_SMOTE_N,
                                    n_anomalies=_SMOTE_ANOM)
    res = undersample_majority(
        smote_oversample(fix, [f"f{i}" for i in range(8)],
                         ratio=_SMOTE_RATIO),
        ratio=_UNDER_RATIO, hash_col="user")
    before = fix.groupBy("is_anomaly").agg(F.count("*").alias("n_before"))
    after = res.groupBy("is_anomaly").agg(F.count("*").alias("n_after"))
    return before.join(after, "is_anomaly")


def _smote_counts_sql() -> str:
    """Oracle: replay the count arithmetic and the md5 keep-set.
    n_min/n_maj/target/n_new mirror smote_oversample line by line;
    the majority keep count re-derives each kept user id from the
    SAME top-40-md5-bits threshold the operator filters on."""
    from threat_detection_nosql_spark.ml.resample import (
        hash_keep_threshold)
    n_maj = _SMOTE_N - _SMOTE_ANOM
    n_min0 = _SMOTE_ANOM
    target = int(_SMOTE_RATIO * n_maj)
    n_min1 = n_min0 + max(0, target - n_min0)
    t = hash_keep_threshold(n_min1, n_maj, _UNDER_RATIO)
    return f"""
WITH maj AS (SELECT unnest(generate_series(0, {n_maj - 1})) AS u),
kept AS (
  SELECT CAST(count(*) AS BIGINT) AS c FROM maj
  WHERE CAST(('0x' || substr(md5(CAST(u AS VARCHAR)), 1, 10)) AS BIGINT)
        < {t})
SELECT CAST(0 AS INT) AS is_anomaly,
       CAST({n_maj} AS BIGINT) AS n_before, c AS n_after FROM kept
UNION ALL
SELECT CAST(1 AS INT), CAST({n_min0} AS BIGINT), CAST({n_min1} AS BIGINT)
"""


def supervised_model_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trains on the reference's planted-anomaly fixture (M16) — the
    `rapport_performances.csv` analog, independent of sf_dir."""
    fix = synthetic_anomaly_fixture(spark)
    scaled = scale_features(assemble_features(
        fix, cols=[f"f{i}" for i in range(8)]))
    return supervised_report(scaled)


QUERIES = {
    "kmeans_anomalies": kmeans_anomalies,
    "iforest_anomalies": iforest_anomalies,
    "pca_reconstruction_anomalies": pca_reconstruction_anomalies,
    "mahalanobis_anomalies": mahalanobis_anomalies,
    "dbscan_noise_anomalies": dbscan_noise_anomalies,
    "ensemble_anomalies": ensemble_anomalies,
    "smote_resampled_counts": smote_resampled_counts,
    "supervised_model_report": supervised_model_report,
}

ORACLES: dict[str, str] = {  # the detector queries stay rows-only
    "smote_resampled_counts": _smote_counts_sql(),
}

# autoencoder_anomalies / ocsvm_anomalies retired from the registry in
# round 12 (r11 verdict ask #6): both were rows-only purely for
# RNG-seeded weights and both now have md5-fixed oracle twins
# (autoencoder_fixed_anomalies / ocsvm_fixed_anomalies below) that
# hash-verify the full distributed scoring path. The callables,
# planted-fixture recovery tests and golden-band coverage stay — the
# same retirement the r11 round applied to ivf_ann_topk /
# minhash_dedup once their oracle twins landed.
QUERIES_TAIL = {}


# ---------------------------------------------------------------------------
# Deterministic, ORACLE-CHECKED KMeans anomaly detector (A13/M4 on the
# fixed-iteration Lloyd quantizer — the one detector whose every value a
# SQL engine can replay, unlike the Spark-ML/RNG-backed family above)
# ---------------------------------------------------------------------------

_KF_FEATURES = [
    "total_activities", "after_hours_activities", "weekend_activities",
    "unique_systems", "unique_resources", "activity_types",
    "after_hours_ratio", "weekend_ratio",
]
_KF_K = 2
_KF_ITERS = 2


def _kf_vectors(spark: SparkSession, sf_dir: str,
                materialize: bool = True):
    """Shared min-max-scaled per-user feature vectors for the fixed
    k-means family (anomalies + silhouette): A10 feature build → exact
    A17 scaling → array vector per user. Factored so both queries and
    both oracles replay ONE definition."""
    from pyspark.sql import functions as F

    from threat_detection_nosql_spark.operators.etl import activity_log

    log = activity_log(spark, sf_dir)
    divisor = F.when(F.col("total_activities") > 0,
                     F.col("total_activities")).otherwise(F.lit(1))
    base = (log.groupBy("user").agg(
        F.count("*").alias("total_activities"),
        F.sum(F.when(F.col("is_after_hours") == 1, 1).otherwise(0))
         .alias("after_hours_activities"),
        F.sum(F.when(F.col("is_weekend") == 1, 1).otherwise(0))
         .alias("weekend_activities"),
        F.countDistinct("pc").alias("unique_systems"),
        F.countDistinct("resource").alias("unique_resources"),
        F.countDistinct("activity").alias("activity_types"))
        .withColumn("after_hours_ratio",
                    F.round(F.col("after_hours_activities") / divisor, 6))
        .withColumn("weekend_ratio",
                    F.round(F.col("weekend_activities") / divisor, 6)))
    if materialize:
        # base is consumed TWICE (the min-max agg and the vector
        # build) — without this pin the events scan + Expand agg (the
        # whole query's dominant cost) runs twice; |users| rows, so
        # the checkpoint is trivial and every Lloyd branch downstream
        # reads materialized rows
        base = base.coalesce(4).localCheckpoint(eager=True)
    mm = base.agg(*[f for c in _KF_FEATURES
                    for f in (F.min(c).alias(f"mn_{c}"),
                              F.max(c).alias(f"mx_{c}"))])
    span = {c: F.when(F.col(f"mx_{c}") > F.col(f"mn_{c}"),
                      F.col(f"mx_{c}") - F.col(f"mn_{c}"))
            .otherwise(F.lit(1.0)) for c in _KF_FEATURES}
    return (base.crossJoin(F.broadcast(mm))
            .select(F.col("user").alias("vec_id"),
                    F.array(*[((F.col(c) - F.col(f"mn_{c}")) / span[c])
                              .cast("double")
                              for c in _KF_FEATURES]).alias("v")))


def kmeans_fixed_anomalies(spark: SparkSession, sf_dir: str,
                           materialize: bool = True) -> DataFrame:
    """End-to-end oracle-checkable anomaly detection: the A10 per-user
    feature matrix → exact min-max scaling (A17) → k=2 fixed-iteration
    Lloyd (deterministic seeds, no RNG) → smaller cluster = anomaly
    (A13). Every intermediate is IEEE-reproducible, so the DuckDB
    oracle replays feature build, scaling, both Lloyd iterations and
    the final flags value-for-value — the correctness standard the
    RNG-backed detectors can only meet with planted-fixture tests.

    ``materialize=False`` returns the LAZY plan (no localCheckpoint)
    so plan tests can inspect the Lloyd join strategy; the registered
    default pins the feature table and the final assignment with eager
    localCheckpoints (|users| rows each) so the events scan + Expand
    agg — the query's dominant cost — runs exactly once per call, with
    no cached blocks outliving the call."""
    from pyspark.sql import functions as F

    from threat_detection_nosql_spark.operators.clustering import (
        kmeans_fixed,
    )

    vecs = _kf_vectors(spark, sf_dir, materialize)
    assigned, _cent = kmeans_fixed(vecs, k=_KF_K, n_iters=_KF_ITERS)
    if materialize:
        # |users| rows: the two consumers below (cluster sizes + flag
        # projection) would otherwise each replay the full Lloyd
        # lineage; pinned, the iteration DAG executes once (every
        # branch reads the checkpointed base, so replays of the vector
        # build itself are trivial)
        assigned = assigned.coalesce(4).localCheckpoint(eager=True)
    sizes = assigned.groupBy("cell").agg(F.count("*").alias("n"))
    pick = sizes.agg(
        F.min_by("cell", F.struct("n", "cell")).alias("anom_cell"))
    out = (assigned.crossJoin(F.broadcast(pick))
           .select(F.col("vec_id").alias("user"),
                   F.col("cell").alias("cluster"),
                   (F.col("cell") == F.col("anom_cell")).cast("int")
                   .alias("is_anomaly"),
                   F.round("dist", 6).alias("dist_to_centroid")))
    return out


def _kf_prefix() -> tuple[list, str, str]:
    """The shared oracle CTE chain (feature build → scaling → seeded
    Lloyd iterations → final assignment); returns (ctes, final
    assignment name, final centroid name) so the anomaly and
    silhouette oracles replay one definition."""
    feats = _KF_FEATURES
    mins = ",\n         ".join(
        f"min({c}) AS mn_{c}, max({c}) AS mx_{c}" for c in feats)
    scaled = ",\n        ".join(
        f"(({c} - mn_{c}) / CASE WHEN mx_{c} > mn_{c} "
        f"THEN mx_{c} - mn_{c} ELSE 1.0 END)::DOUBLE AS {c}"
        for c in feats)
    vec = ", ".join(feats)
    assign = (
        "{out} AS (SELECT vec_id, v, cell, dist FROM (\n"
        "  SELECT e.vec_id, e.v, c.cell, list_distance(e.v, c.cv) AS dist,\n"
        "         row_number() OVER (PARTITION BY e.vec_id\n"
        "           ORDER BY list_distance(e.v, c.cv), c.cell) AS rn\n"
        "  FROM emb e CROSS JOIN {cent} c) t WHERE rn = 1)")
    update = (
        "{out} AS (SELECT cell, list(val ORDER BY pos) AS cv FROM (\n"
        "  SELECT cell, pos, avg(v[pos]) AS val\n"
        "  FROM {asg}, LATERAL (SELECT unnest(range(1, len(v) + 1))\n"
        "                       AS pos) ix\n"
        "  GROUP BY cell, pos) s GROUP BY cell)")
    ctes = [
        """log AS (
  SELECT user_id AS user, event_id % 13 AS pc, event_type AS activity,
         TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT)
           AS resource,
         CASE WHEN isodow(ts) - 1 >= 5 THEN 1 ELSE 0 END AS is_weekend,
         CASE WHEN hour(ts) < 8 OR hour(ts) > 18 THEN 1 ELSE 0 END
           AS is_after_hours
  FROM events)""",
        """base AS (
  SELECT user,
         count(*) AS total_activities,
         sum(CASE WHEN is_after_hours = 1 THEN 1 ELSE 0 END)
           AS after_hours_activities,
         sum(CASE WHEN is_weekend = 1 THEN 1 ELSE 0 END)
           AS weekend_activities,
         count(DISTINCT pc) AS unique_systems,
         count(DISTINCT resource) AS unique_resources,
         count(DISTINCT activity) AS activity_types,
         round(sum(CASE WHEN is_after_hours = 1 THEN 1 ELSE 0 END) * 1.0
               / (CASE WHEN count(*) > 0 THEN count(*) ELSE 1 END), 6)
           AS after_hours_ratio,
         round(sum(CASE WHEN is_weekend = 1 THEN 1 ELSE 0 END) * 1.0
               / (CASE WHEN count(*) > 0 THEN count(*) ELSE 1 END), 6)
           AS weekend_ratio
  FROM log GROUP BY user)""",
        f"mm AS (SELECT {mins} FROM base)",
        f"""sc AS (SELECT user,
        {scaled}
        FROM base CROSS JOIN mm)""",
        f"emb AS (SELECT user AS vec_id, [{vec}]::DOUBLE[] AS v FROM sc)",
        f"c0 AS (SELECT CAST(vec_id AS INT) AS cell, v AS cv FROM emb "
        f"WHERE vec_id < {_KF_K})",
    ]
    for i in range(_KF_ITERS):
        ctes.append(assign.format(out=f"a{i + 1}", cent=f"c{i}"))
        ctes.append(update.format(out=f"c{i + 1}", asg=f"a{i + 1}"))
    final = f"a{_KF_ITERS + 1}"
    ctes.append(assign.format(out=final, cent=f"c{_KF_ITERS}"))
    return ctes, final, f"c{_KF_ITERS}"


def _kf_sql() -> str:
    ctes, final, _cent = _kf_prefix()
    ctes = list(ctes)
    ctes.append(f"sizes AS (SELECT cell, count(*) AS n FROM {final} "
                f"GROUP BY cell)")
    ctes.append("pick AS (SELECT cell AS anom_cell FROM sizes "
                "ORDER BY n, cell LIMIT 1)")
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT vec_id AS user, cell AS cluster,
       CASE WHEN cell = anom_cell THEN 1 ELSE 0 END AS is_anomaly,
       round(dist, 6) AS dist_to_centroid
FROM {final} CROSS JOIN pick""")


QUERIES["kmeans_fixed_anomalies"] = kmeans_fixed_anomalies
ORACLES["kmeans_fixed_anomalies"] = _kf_sql()


def kmeans_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality evaluation for the deterministic k-means:
    per-cluster mean CENTROID-based silhouette s = (b − a)/max(a, b),
    a = distance to the own centroid, b = distance to the nearest
    OTHER centroid (the simplified silhouette — O(n·k) instead of the
    O(n²) pairwise form, the only formulation that scales; Rousseeuw
    1987 / simplified variant — public knowledge). The evaluation row
    the anomaly query's "smaller cluster" heuristic should be read
    with: low silhouette means the two-cluster story itself is weak.

    Reuses the SAME vector build and Lloyd chain as
    ``kmeans_fixed_anomalies`` (shared ``_kf_vectors`` /
    ``_kf_prefix``); b comes from one broadcast join against the k-row
    centroid table. Mean silhouette rounds at 6."""
    from pyspark.sql import functions as F

    from threat_detection_nosql_spark.operators.clustering import (
        _sq_dist,
        kmeans_fixed,
    )

    vecs = _kf_vectors(spark, sf_dir)
    assigned, cent = kmeans_fixed(vecs, k=_KF_K, n_iters=_KF_ITERS)
    assigned = assigned.coalesce(4).localCheckpoint(eager=True)
    other = (assigned
             .join(F.broadcast(cent.withColumnRenamed("cell", "ocell")),
                   F.col("ocell") != F.col("cell"))
             .withColumn("od", F.sqrt(_sq_dist(F.col("v"), F.col("cv"))))
             .groupBy("vec_id").agg(F.min("od").alias("b")))
    sil = (assigned.join(other, "vec_id")
           .withColumn("s", F.when(
               F.greatest(F.col("dist"), F.col("b")) > 0,
               (F.col("b") - F.col("dist"))
               / F.greatest(F.col("dist"), F.col("b")))
               .otherwise(F.lit(0.0))))
    return (sil.groupBy(F.col("cell").alias("cluster"))
            .agg(F.count("*").alias("n"),
                 F.round(F.avg("s"), 6).alias("mean_silhouette"))
            .orderBy("cluster"))


def _kf_silhouette_sql() -> str:
    ctes, final, cent = _kf_prefix()
    ctes = list(ctes)
    ctes.append(
        f"""ob AS (SELECT a.vec_id, min(list_distance(a.v, c.cv)) AS b
       FROM {final} a JOIN {cent} c ON c.cell <> a.cell
       GROUP BY a.vec_id)""")
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT cell AS cluster, CAST(count(*) AS BIGINT) AS n,
       round(avg(CASE WHEN greatest(dist, b) > 0
                      THEN (b - dist) / greatest(dist, b)
                      ELSE 0.0 END), 6) AS mean_silhouette
FROM {final} JOIN ob USING (vec_id)
GROUP BY cell
ORDER BY cell""")


QUERIES_TAIL = {**globals().get("QUERIES_TAIL", {}),
                "kmeans_silhouette": kmeans_silhouette}
ORACLES_TAIL = {**globals().get("ORACLES_TAIL", {}),
                "kmeans_silhouette": _kf_silhouette_sql()}


# -- oracle-backed PCA: fixed-iteration power method --------------------------
#
# The Spark-ML SVD variant (ml.unsupervised.pca_2d_projection, M8)
# stays as the operator; the REGISTERED query computes the same top-2
# projection by a deterministic fixed-iteration power method whose
# every float op a SQL engine replays bit-for-bit:
#   - the 6 features are exact BIGINT counts, so n/Σx/Σxy (and hence
#     each correlation numerator/denominator) are exact integers in
#     BOTH engines — no cross-row float summation anywhere;
#   - the 6x6 correlation matrix, the _PCA_ITERS power iterations with
#     per-step normalization, the deflation, and the sign pin are all
#     written with the SAME left-associated expression shapes here (in
#     driver Python over one collected 28-integer row) and in the
#     oracle's recursive CTE — identical IEEE doubles by construction;
#   - per-user z-scores and projections are per-row expressions over
#     exact integers and the (identical) eigenvector components.

_PCA_ITERS = 100
_PCA_PPB = 10 ** 9  # eigenvector quantization grid (parts-per-billion)
_PCA_FEATS = ("total_activities", "after_hours_activities",
              "weekend_activities", "unique_systems",
              "unique_resources", "activity_types")


def _power_components(R: list[list[float]]) -> tuple[list[float],
                                                      list[float]]:
    """Top-2 eigenvectors of symmetric R by _PCA_ITERS power
    iterations + one deflation. Every op is left-associated to match
    the oracle SQL's expression order exactly. Each converged, sign-
    pinned eigenvector is floor-quantized to the ppb grid (the MMR
    pattern — ADVICE r8) BEFORE deflation/projection: downstream
    parity then rests on identical 9-decimal integers, not on the two
    engines' libm staying bit-identical through 2×100 amplifying
    iterations (a single-ulp sqrt divergence mid-iteration is absorbed
    unless the converged component lands within ~1e-9 of a grid
    line)."""
    import math
    d = len(R)

    def matvec(M, v):
        out = []
        for j in range(d):
            acc = M[j][0] * v[0]
            for i in range(1, d):
                acc = acc + M[j][i] * v[i]
            out.append(acc)
        return out

    def normalize(w):
        acc = w[0] * w[0]
        for i in range(1, d):
            acc = acc + w[i] * w[i]
        nrm = math.sqrt(acc)
        return [x / nrm for x in w]

    def iterate(M):
        v = normalize([1.0] * d)
        for _ in range(_PCA_ITERS):
            v = normalize(matvec(M, v))
        mx = 0  # sign pin: first-largest-|component| positive
        for i in range(1, d):
            if abs(v[i]) > abs(v[mx]):
                mx = i
        if v[mx] < 0:
            v = [-1.0 * x for x in v]
        return [math.floor(x * _PCA_PPB) / _PCA_PPB for x in v]

    v1 = iterate(R)
    w = matvec(R, v1)
    lam = v1[0] * w[0]
    for i in range(1, d):
        lam = lam + v1[i] * w[i]
    R2 = [[R[j][i] - lam * v1[j] * v1[i] for i in range(d)]
          for j in range(d)]
    return v1, iterate(R2)


def _user_count_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from threat_detection_nosql_spark.operators.etl import activity_log
    log = activity_log(spark, sf_dir)
    return (log.groupBy("user").agg(
        F.count("*").alias("total_activities"),
        F.sum(F.when(F.col("is_after_hours") == 1, 1).otherwise(0))
         .alias("after_hours_activities"),
        F.sum(F.when(F.col("is_weekend") == 1, 1).otherwise(0))
         .alias("weekend_activities"),
        F.countDistinct("pc").alias("unique_systems"),
        F.countDistinct("resource").alias("unique_resources"),
        F.countDistinct("activity").alias("activity_types")))


def user_pca_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user (PC1, PC2) scatter coordinates — the data behind the
    reference's committed resultats_non_supervise.csv PC1/PC2 columns
    — via the exact-parity power method (see block comment above).
    One aggregation collects the 28 exact integer moments (the only
    driver fetch — 100 TB safe: the moments agg is map-combinable and
    its result is one row); the d×2 rotation rides back into the plan
    as literals, so the projection itself is a pure per-row
    expression."""
    import math

    from pyspark.sql import functions as F

    feats = _user_count_features(spark, sf_dir).localCheckpoint()
    d = len(_PCA_FEATS)
    aggs = [F.count("*").alias("n")]
    aggs += [F.sum(c).alias(f"s{j}") for j, c in enumerate(_PCA_FEATS)]
    aggs += [F.sum(F.col(_PCA_FEATS[j]) * F.col(_PCA_FEATS[k]))
             .alias(f"s{j}_{k}")
             for j in range(d) for k in range(j, d)]
    m = feats.agg(*aggs).collect()[0]
    n = int(m["n"])
    sx = [int(m[f"s{j}"]) for j in range(d)]
    sxx = {(j, k): int(m[f"s{j}_{k}"])
           for j in range(d) for k in range(j, d)}
    var = [n * sxx[(j, j)] - sx[j] * sx[j] for j in range(d)]
    den = [math.sqrt(float(v)) if v > 0 else 0.0 for v in var]
    R = [[(float(n * sxx[(min(j, k), max(j, k))] - sx[j] * sx[k])
           / (den[j] * den[k]))
          if var[j] > 0 and var[k] > 0 else 0.0
          for k in range(d)] for j in range(d)]
    v1, v2 = _power_components(R)

    def z(j):
        if var[j] <= 0:
            return F.lit(0.0)
        return ((F.lit(n) * F.col(_PCA_FEATS[j]) - F.lit(sx[j]))
                .cast("double") / F.lit(den[j]))

    def proj(v, name):
        e = z(0) * F.lit(v[0])
        for j in range(1, d):
            e = e + z(j) * F.lit(v[j])
        return F.round(e, 6).alias(name)

    return feats.select("user", proj(v1, "pc1"), proj(v2, "pc2"))


def _pca_sql() -> str:
    """Oracle: the SAME fixed-iteration power method in DuckDB — exact
    integer moments, recursive-CTE iterations with per-step
    normalization, greatest-|component| sign pin, deflation, and the
    per-row projection. Every float expression is left-associated to
    mirror _power_components exactly."""
    from threat_detection_nosql_spark.operators.etl import (
        ACTIVITY_LOG_ORACLE_SQL,
    )
    d = len(_PCA_FEATS)
    rng = range(d)
    T = _PCA_ITERS

    def matvec(m, v):  # left-assoc R·v expressions
        return [" + ".join(f"{m}_{j}_{i}*{v}{i}" for i in rng)
                for j in rng]

    def sq_norm(ws):
        return " + ".join(f"({w})*({w})" for w in ws)

    def recursion(name, mat, mcte):
        ws = matvec(mat, f"{name}.v")
        upd = ", ".join(f"w{j}/nrm AS v{j}" for j in rng)
        wsel = ", ".join(f"{w} AS w{j}" for j, w in enumerate(ws))
        return f"""{name} AS (
  SELECT 0 AS i, {', '.join(f'CAST(1.0 AS DOUBLE)/sqrt(CAST({d}.0 AS DOUBLE)) AS v{j}' for j in rng)}
  UNION ALL
  SELECT i + 1, {upd}
  FROM (SELECT i, {', '.join(f'w{j}' for j in rng)},
               sqrt({sq_norm([f'w{j}' for j in rng])}) AS nrm
        FROM (SELECT {name}.i, {wsel}
              FROM {name}, {mcte} WHERE {name}.i < {T}) a) b)"""

    def pin(src, out):
        # sign pin, then floor-quantize to the ppb grid — mirrors
        # _power_components.iterate's trailing quantization exactly
        # (floor of an integer-valued double ≤ 1e9 divided by the
        # exactly-representable 1e9: identical IEEE ops both engines).
        m = f"greatest({', '.join(f'abs(v{j})' for j in rng)})"
        sel = "CASE " + " ".join(
            f"WHEN abs(v{j}) >= m THEN v{j}" for j in rng) + " END"
        cols = ", ".join(
            f"floor(sgn*v{j} * {float(_PCA_PPB)})/{float(_PCA_PPB)} "
            f"AS p{j}" for j in rng)
        return f"""{out}a AS (SELECT *, {m} AS m FROM {src} WHERE i = {T}),
{out}b AS (SELECT *, CASE WHEN ({sel}) < 0
                          THEN CAST(-1.0 AS DOUBLE)
                          ELSE CAST(1.0 AS DOUBLE) END AS sgn
           FROM {out}a),
{out} AS (SELECT {cols} FROM {out}b)"""

    feat_sql = {
        0: "CAST(count(*) AS BIGINT)",
        1: "CAST(sum(CASE WHEN is_after_hours = 1 THEN 1 ELSE 0 END) "
           "AS BIGINT)",
        2: "CAST(sum(CASE WHEN is_weekend = 1 THEN 1 ELSE 0 END) "
           "AS BIGINT)",
        3: "CAST(count(DISTINCT pc) AS BIGINT)",
        4: "CAST(count(DISTINCT resource) AS BIGINT)",
        5: "CAST(count(DISTINCT activity) AS BIGINT)",
    }
    f_cols = ", ".join(f"{feat_sql[j]} AS x{j}" for j in rng)
    mom = (["CAST(count(*) AS BIGINT) AS n"]
           + [f"CAST(sum(x{j}) AS BIGINT) AS s{j}" for j in rng]
           + [f"CAST(sum(x{j}*x{k}) AS BIGINT) AS s{j}_{k}"
              for j in rng for k in rng if j <= k])
    vars_ = ", ".join(f"n*s{j}_{j} - s{j}*s{j} AS var{j}" for j in rng)
    r_cols = ", ".join(
        f"CASE WHEN var{j} > 0 AND var{k} > 0 THEN "
        f"CAST(n*s{min(j, k)}_{max(j, k)} - s{j}*s{k} AS DOUBLE)"
        f"/(sqrt(CAST(var{j} AS DOUBLE))*sqrt(CAST(var{k} AS DOUBLE))) "
        f"ELSE CAST(0.0 AS DOUBLE) END AS r_{j}_{k}"
        for j in rng for k in rng)
    # lam = p·(R p), each term left-assoc, matching _power_components
    lam_terms = " + ".join(
        "p{j}*({w})".format(
            j=j, w=" + ".join(f"r_{j}_{i}*p{i}" for i in rng))
        for j in rng)
    q_cols = ", ".join(f"r_{j}_{k} - lam*p{j}*p{k} AS q_{j}_{k}"
                       for j in rng for k in rng)
    z = {j: (f"CASE WHEN var{j} > 0 THEN "
             f"CAST(n*x{j} - s{j} AS DOUBLE)"
             f"/sqrt(CAST(var{j} AS DOUBLE)) "
             f"ELSE CAST(0.0 AS DOUBLE) END") for j in rng}
    pc1 = " + ".join(f"({z[j]})*p1c.p{j}" for j in rng)
    pc2 = " + ".join(f"({z[j]})*p2c.p{j}" for j in rng)
    # MATERIALIZED everywhere: a recursive member re-evaluates every
    # CTE it references on EVERY iteration — without materialization
    # the 2x101 iterations re-scanned the fact table ~200 times (the
    # round-5 iterative-oracle lesson, relearned on a 10x soak).
    return f"""WITH RECURSIVE log AS MATERIALIZED ({ACTIVITY_LOG_ORACLE_SQL}),
f AS MATERIALIZED (SELECT user, {f_cols} FROM log GROUP BY user),
mom AS MATERIALIZED (SELECT {', '.join(mom)} FROM f),
vr AS MATERIALIZED (SELECT *, {vars_} FROM mom),
rmat AS MATERIALIZED (SELECT *, {r_cols} FROM vr),
{recursion('it1', 'r', 'rmat')},
{pin('it1', 'p1c')},
lamc AS (SELECT {lam_terms} AS lam FROM p1c,
         (SELECT {', '.join(f'r_{j}_{k} AS r_{j}_{k}'
                            for j in rng for k in rng)} FROM rmat) r),
qmat AS MATERIALIZED (SELECT {q_cols} FROM rmat, p1c, lamc),
{recursion('it2', 'q', 'qmat')},
{pin('it2', 'p2c')}
SELECT f.user, round({pc1}, 6) AS pc1, round({pc2}, 6) AS pc2
FROM f CROSS JOIN vr CROSS JOIN p1c CROSS JOIN p2c
"""


QUERIES_TAIL["user_pca_projection"] = user_pca_projection
ORACLES_TAIL["user_pca_projection"] = _pca_sql()


# -- M9 substitute: 2-D neighbor embedding (t-SNE's slot) ----------------------

_TSNE_K = 5        # neighbors per point
_TSNE_ROUNDS = 3   # smoothing rounds
_TSNE_CELL = 0.75  # grid cell size in PCA units (z-scored space)


def tsne_substitute_projection(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """M9's slot (`Comparaison_ML.py:888-889` feeds a t-SNE scatter
    plot) — filled by an HONEST substitute, not Barnes-Hut t-SNE: the
    deterministic PCA projection (user_pca_projection's power-method
    machinery) initializes 2-D coordinates, then ``_TSNE_ROUNDS``
    rounds of neighbor-mean smoothing over a ``_TSNE_K``-NN graph pull
    local clusters together — the local-structure emphasis t-SNE
    exists for, with none of its RNG, perplexity calibration, or
    O(n·iter) KL gradient. Scope note: the reference uses t-SNE only
    as plot input; this substitute is plot-equivalent, documented as
    such (COVERAGE.md §2.8), and registered rows-only (float summation
    order in the neighbor means is engine-specific).

    Scale shape: the kNN graph is a GRID-BUCKETED spatial join — each
    point joins only its own and the 8 surrounding cells of a
    ``_TSNE_CELL``-sized lattice over the 2-D plane (the IVF-cell
    pattern), never the O(n²) all-pairs frame; smoothing rounds are
    ≤ k-row-per-node aggregations against a localCheckpoint-pinned
    edge list."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    # Round-11 hang fix (r10 verdict ask #4 + ADVICE): the round-10
    # form chained FIVE eager persist+count materializations and twice
    # parked forever in AQE's withFinalPlanUpdate at the 10x soak (an
    # upstream race between adaptive re-planning and eager
    # materialization — the thread blocks in the final-plan event-queue
    # take with no running jobs). Now only the two multi-consumer
    # frames (PCA points, kNN edge list) are pinned, both built with
    # AQE OFF so the implicated code path never runs during the eager
    # jobs; the three smoothing rounds stay lazy (single-consumer
    # chain, bounded 2x3-join lineage) and execute under the session's
    # normal config. localCheckpoint blocks are freed by the
    # ContextCleaner when the frame is GC'd — no persist leak across
    # sweep sessions (the round-10 form never unpersisted).
    conf = spark.conf
    prev_aqe = conf.get("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.enabled", "false")
    try:
        pts = user_pca_projection(spark, sf_dir).localCheckpoint()
        cells = pts.select(
            "user", "pc1", "pc2",
            F.floor(F.col("pc1") / _TSNE_CELL).alias("cx"),
            F.floor(F.col("pc2") / _TSNE_CELL).alias("cy"))
        # candidate pairs: same or adjacent cell (3x3 neighborhood)
        off = spark.range(9).select(
            (F.col("id") % 3 - 1).alias("dx"),
            (F.col("id") / 3).cast("long").alias("dy0")) \
            .select("dx", (F.col("dy0") - 1).alias("dy"))
        probes = (cells.crossJoin(F.broadcast(off))
                  .select("user", "pc1", "pc2",
                          (F.col("cx") + F.col("dx")).alias("cx"),
                          (F.col("cy") + F.col("dy")).alias("cy")))
        nbrs = (probes.alias("a")
                .join(cells.select(F.col("user").alias("nbr"),
                                   F.col("pc1").alias("npc1"),
                                   F.col("pc2").alias("npc2"),
                                   "cx", "cy").alias("b"),
                      ["cx", "cy"])
                .filter(F.col("user") != F.col("nbr"))
                .withColumn("d2", (F.col("pc1") - F.col("npc1")) ** 2
                            + (F.col("pc2") - F.col("npc2")) ** 2))
        w = Window.partitionBy("user").orderBy(F.asc("d2"), F.asc("nbr"))
        edges = (nbrs.withColumn("rk", F.row_number().over(w))
                 .filter(F.col("rk") <= _TSNE_K)
                 .select("user", "nbr")
                 .localCheckpoint())
    finally:
        conf.set("spark.sql.adaptive.enabled", prev_aqe)
    cur = pts.select("user", F.col("pc1").alias("x"),
                     F.col("pc2").alias("y"))
    for _ in range(_TSNE_ROUNDS):
        nbr_mean = (edges
                    .join(cur.select(F.col("user").alias("nbr"),
                                     F.col("x").alias("nx"),
                                     F.col("y").alias("ny")), "nbr")
                    .groupBy("user")
                    .agg(F.avg("nx").alias("mx"), F.avg("ny").alias("my")))
        cur = (cur.join(nbr_mean, "user", "left")
               .select("user",
                       ((F.col("x") + F.coalesce("mx", F.col("x")))
                        / 2).alias("x"),
                       ((F.col("y") + F.coalesce("my", F.col("y")))
                        / 2).alias("y")))
    return cur.select("user", F.round("x", 6).alias("x"),
                      F.round("y", 6).alias("y")).orderBy("user")


QUERIES_TAIL["tsne_substitute_projection"] = tsne_substitute_projection


# -- Fixed-weights scoring twins for the two RNG-only detectors ----------------
# (r11 verdict ask #6.) autoencoder_anomalies / ocsvm_anomalies are
# rows-only PURELY because trained weights depend on RNG streams no
# SQL engine replays. These twins pin portable md5-derived weights
# (the e2lsh_params h60 derivation, emitted as driver-side float
# literals into BOTH plans) and verify the full distributed SCORING
# path — feature build, exact min-max scaling, the forward pass, the
# threshold/quantile cut — value-for-value against DuckDB. The
# activation is softsign x/(1+|x|) rather than tanh/cos: division and
# abs are correctly-rounded IEEE ops identical across engines, while
# libm tanh/cos may differ by 1 ulp between the JVM and DuckDB's C
# runtime (the cross-libm trap the JPEG oracles dodge with literal
# basis tables).

_AEF_HID = 3
_OCF_PLANES = 16


def _h60(s: str) -> int:
    import hashlib
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _u01(s: str) -> float:
    """md5-derived double in [-1, 1) — the e2lsh_params mapping."""
    return _h60(s) / float(1 << 59) - 1.0


def _aef_weights() -> tuple[list, list]:
    """Glorot-scaled md5-derived weights for the d->3->d bottleneck
    (biases zero, the Keras Dense default)."""
    import math
    d, h = len(_KF_FEATURES), _AEF_HID
    lim1 = math.sqrt(6.0 / (d + h))
    lim2 = math.sqrt(6.0 / (h + d))
    w1 = [[_u01(f"aef:1:{j}:{k}") * lim1 for k in range(h)]
          for j in range(d)]
    w2 = [[_u01(f"aef:2:{k}:{j}") * lim2 for j in range(d)]
          for k in range(h)]
    return w1, w2


def autoencoder_fixed_anomalies(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Oracle twin of M6 (autoencoder_anomalies): the A10 feature
    matrix -> exact min-max scaling -> a FIXED md5-derived d->3->d
    bottleneck (softsign hidden, linear output) -> per-user
    reconstruction MSE -> top-ceil(n/10) flagged (rank by MSE desc,
    user asc — exact integer quota, no float-contamination ceil).
    Every arithmetic step is IEEE-identical in DuckDB, so the hash
    pins the whole distributed scoring path; the RNG-trained detector
    keeps its planted-fixture + golden-band coverage for the TRAINING
    loop this twin cannot replay."""
    from pyspark.sql import functions as F

    from threat_detection_nosql_spark.operators.ranking import (
        with_global_rank)

    d, hdim = len(_KF_FEATURES), _AEF_HID
    w1, w2 = _aef_weights()
    vecs = _kf_vectors(spark, sf_dir)
    x = [F.element_at(F.col("v"), j + 1) for j in range(d)]

    def fold(terms):
        e = terms[0]
        for t in terms[1:]:
            e = e + t
        return e

    pre = vecs.select(
        "vec_id", "v",
        *[fold([x[j] * F.lit(w1[j][k]) for j in range(d)])
          .alias(f"p{k}") for k in range(hdim)])
    hid = pre.select(
        "vec_id", "v",
        *[(F.col(f"p{k}") / (F.lit(1.0) + F.abs(F.col(f"p{k}"))))
          .alias(f"h{k}") for k in range(hdim)])
    rec = hid.select(
        "vec_id", "v",
        *[fold([F.col(f"h{k}") * F.lit(w2[k][j]) for k in range(hdim)])
          .alias(f"r{j}") for j in range(d)])
    xr = [F.element_at(F.col("v"), j + 1) for j in range(d)]
    mse = rec.select(
        "vec_id",
        (fold([(F.col(f"r{j}") - xr[j]) * (F.col(f"r{j}") - xr[j])
               for j in range(d)]) / F.lit(float(d))).alias("mse"))
    ranked = with_global_rank(
        mse, [F.desc("mse"), F.asc("vec_id")],
        rank_col="rn", total_col="n")
    return (ranked.select(
        F.col("vec_id").alias("user"),
        F.round("mse", 6).alias("ae_mse"),
        (F.col("rn") <= F.expr("(n + 9) div 10")).cast("int")
        .alias("is_anomaly"))
        .orderBy("user"))


def _aef_sql() -> str:
    d, hdim = len(_KF_FEATURES), _AEF_HID
    w1, w2 = _aef_weights()
    feats = _kf_prefix()[0][:5]  # log/base/mm/sc/emb CTEs only
    pre = ", ".join(
        " + ".join(f"v[{j + 1}] * {w1[j][k]!r}::DOUBLE"
                   for j in range(d)) + f" AS p{k}"
        for k in range(hdim))
    hid = ", ".join(f"p{k} / (1.0::DOUBLE + abs(p{k})) AS h{k}"
                    for k in range(hdim))
    rec = ", ".join(
        " + ".join(f"h{k} * {w2[k][j]!r}::DOUBLE"
                   for k in range(hdim)) + f" AS r{j}"
        for j in range(d))
    mse = " + ".join(f"(r{j} - v[{j + 1}]) * (r{j} - v[{j + 1}])"
                     for j in range(d))
    return ("WITH " + ",\n".join(feats) + f""",
pre AS (SELECT vec_id, v, {pre} FROM emb),
hid AS (SELECT vec_id, v, {hid} FROM pre),
rec AS (SELECT vec_id, v, {rec} FROM hid),
m AS (SELECT vec_id, ({mse}) / {float(d)!r}::DOUBLE AS mse FROM rec),
rk AS (SELECT vec_id, mse,
              row_number() OVER (ORDER BY mse DESC, vec_id) AS rn,
              count(*) OVER () AS n
       FROM m)
SELECT vec_id AS user, round(mse, 6) AS ae_mse,
       CASE WHEN rn <= (n + 9) // 10 THEN 1 ELSE 0 END AS is_anomaly
FROM rk ORDER BY user""")


QUERIES_TAIL["autoencoder_fixed_anomalies"] = autoencoder_fixed_anomalies
ORACLES_TAIL["autoencoder_fixed_anomalies"] = _aef_sql()


def _ocf_params() -> tuple[list, list, list]:
    d = len(_KF_FEATURES)
    planes = [[_u01(f"ocf:{i}:{j}") for j in range(d)]
              for i in range(_OCF_PLANES)]
    offs = [_u01(f"ocfb:{i}") for i in range(_OCF_PLANES)]
    mix = [_u01(f"ocfu:{i}") for i in range(_OCF_PLANES)]
    return planes, offs, mix


def ocsvm_fixed_anomalies(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Oracle twin of M3 (ocsvm_anomalies): fixed md5-derived random
    feature planes z_i = softsign(v·w_i + b_i), margin f = Σ z_i·u_i,
    and the KKT ν-quantile step the real detector performs — ρ = the
    ceil(n/10)-th smallest margin (type-1 quantile, rank-extracted
    identically in both engines) — with the ν lowest-margin users
    flagged. Verifies the distributed RFF-shaped scoring + exact
    quantile extraction; the RNG-trained boundary keeps golden-band
    coverage."""
    from pyspark.sql import functions as F

    from threat_detection_nosql_spark.operators.ranking import (
        with_global_rank)

    d = len(_KF_FEATURES)
    planes, offs, mix = _ocf_params()
    vecs = _kf_vectors(spark, sf_dir)
    x = [F.element_at(F.col("v"), j + 1) for j in range(d)]

    def fold(terms):
        e = terms[0]
        for t in terms[1:]:
            e = e + t
        return e

    pre = vecs.select(
        "vec_id",
        *[(fold([x[j] * F.lit(planes[i][j]) for j in range(d)])
           + F.lit(offs[i])).alias(f"p{i}")
          for i in range(_OCF_PLANES)])
    marg = pre.select(
        "vec_id",
        fold([(F.col(f"p{i}") / (F.lit(1.0) + F.abs(F.col(f"p{i}"))))
              * F.lit(mix[i]) for i in range(_OCF_PLANES)])
        .alias("f"))
    ranked = with_global_rank(
        marg, [F.asc("f"), F.asc("vec_id")],
        rank_col="rn", total_col="n").localCheckpoint()
    rho = (ranked.filter(F.col("rn") == F.expr("(n + 9) div 10"))
           .select(F.col("f").alias("rho")))
    return (ranked.crossJoin(F.broadcast(rho))
            .select(F.col("vec_id").alias("user"),
                    F.round("f", 6).alias("ocsvm_margin"),
                    F.round("rho", 6).alias("rho"),
                    (F.col("rn") <= F.expr("(n + 9) div 10"))
                    .cast("int").alias("is_anomaly"))
            .orderBy("user"))


def _ocf_sql() -> str:
    d = len(_KF_FEATURES)
    planes, offs, mix = _ocf_params()
    feats = _kf_prefix()[0][:5]
    pre = ", ".join(
        " + ".join(f"v[{j + 1}] * {planes[i][j]!r}::DOUBLE"
                   for j in range(d))
        + f" + {offs[i]!r}::DOUBLE AS p{i}"
        for i in range(_OCF_PLANES))
    f_expr = " + ".join(
        f"p{i} / (1.0::DOUBLE + abs(p{i})) * {mix[i]!r}::DOUBLE"
        for i in range(_OCF_PLANES))
    return ("WITH " + ",\n".join(feats) + f""",
pre AS (SELECT vec_id, {pre} FROM emb),
m AS (SELECT vec_id, {f_expr} AS f FROM pre),
rk AS (SELECT vec_id, f,
              row_number() OVER (ORDER BY f, vec_id) AS rn,
              count(*) OVER () AS n
       FROM m),
rho AS (SELECT f AS rho FROM rk WHERE rn = (n + 9) // 10)
SELECT vec_id AS user, round(f, 6) AS ocsvm_margin,
       round(rho, 6) AS rho,
       CASE WHEN rn <= (n + 9) // 10 THEN 1 ELSE 0 END AS is_anomaly
FROM rk CROSS JOIN rho ORDER BY user""")


QUERIES_TAIL["ocsvm_fixed_anomalies"] = ocsvm_fixed_anomalies
ORACLES_TAIL["ocsvm_fixed_anomalies"] = _ocf_sql()
