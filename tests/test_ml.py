"""ML quality gates on the planted-anomaly fixture (BASELINE.md band:
contamination-0.1 detectors flag ~10%; supervised F1 in the 0.4–1.0
band on the 20-anomaly/200-row fixture)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from threat_detection_nosql_spark.ml import unsupervised as U
from threat_detection_nosql_spark.ml.features import (
    assemble_features,
    scale_features,
    synthetic_anomaly_fixture,
)
from threat_detection_nosql_spark.ml.supervised import (
    confusion_matrix,
    stratified_split,
    supervised_report,
    with_class_weights,
)


@pytest.fixture(scope="module")
def fixture(spark):
    fix = synthetic_anomaly_fixture(spark)
    scaled = scale_features(assemble_features(
        fix, cols=[f"f{i}" for i in range(8)])).cache()
    labels = {r.user: r.is_anomaly
              for r in fix.select("user", "is_anomaly").collect()}
    return scaled, labels


def _tp(df, flag, labels):
    flagged = {r.user for r in df.collect() if r[flag] == 1}
    return len(flagged), sum(1 for u in flagged if labels[u] == 1)


def test_kmeans_detector_recovers_planted(spark, fixture):
    scaled, labels = fixture
    n, tp = _tp(U.kmeans_detector(scaled), "kmeans_anomaly", labels)
    assert tp >= 18  # reference K-Means found the planted cluster

def test_iforest_detector_contamination_and_quality(spark, fixture):
    scaled, labels = fixture
    n, tp = _tp(U.iforest_detector(scaled, n_trees=100),
                "iforest_anomaly", labels)
    assert n == 20          # contamination 0.1 of 200 (exact percentile)
    assert tp >= 16         # ≥80% of planted anomalies recovered


def test_rff_ocsvm_detector_quality(spark, fixture):
    """M3 proper: RFF one-class SVM flags exactly the nu fraction of
    the fit sample (KKT rho) and recovers most planted anomalies."""
    scaled, labels = fixture
    n, tp = _tp(U.rff_ocsvm_detector(scaled), "ocsvm_anomaly", labels)
    assert n == 20               # nu-property, exact on the fit sample
    assert tp >= 14


def test_mahalanobis_detector_quality(spark, fixture):
    scaled, labels = fixture
    n, tp = _tp(U.mahalanobis_detector(scaled), "maha_anomaly", labels)
    assert n == 20 and tp >= 14


def test_pca_detector_flags_contamination(spark, fixture):
    scaled, labels = fixture
    n, tp = _tp(U.pca_reconstruction_detector(scaled), "pca_anomaly", labels)
    assert n == 20 and tp >= 8   # linear AE: weaker but in-band


def test_autoencoder_detector_beats_or_matches_pca(spark, fixture):
    """M6 parity gate (VERDICT r3 stretch): the nonlinear AE must
    recover at least as many planted anomalies as the linear PCA
    substitute, at the same exact-percentile contamination."""
    scaled, labels = fixture
    n_pca, tp_pca = _tp(U.pca_reconstruction_detector(scaled),
                        "pca_anomaly", labels)
    n_ae, tp_ae = _tp(U.autoencoder_detector(scaled), "ae_anomaly", labels)
    assert n_ae == 20            # contamination 0.1 of 200, exact
    assert tp_ae >= tp_pca


def test_dbscan_noise_recovers_all_planted(spark, fixture):
    scaled, labels = fixture
    n, tp = _tp(U.dbscan_noise_detector(scaled, eps=2.0),
                "dbscan_anomaly", labels)
    assert tp == 20              # planted points are isolated
    assert n <= 60               # reference DBSCAN over-flags (74/100)


def test_ensemble_majority_vote(spark, fixture):
    scaled, labels = fixture
    out = U.ensemble_detector(scaled)
    n, tp = _tp(out, "ensemble_anomaly", labels)
    assert tp == 20 and n <= 30
    scores = out.select("ensemble_score").collect()
    assert all(0.0 <= r.ensemble_score <= 1.0 for r in scores)


def test_stratified_split_preserves_classes(spark, fixture):
    scaled, _ = fixture
    train, test = stratified_split(scaled)
    assert train.count() + test.count() == 200
    assert test.filter(F.col("is_anomaly") == 1).count() >= 1


def test_class_weights_balanced(spark, fixture):
    scaled, _ = fixture
    w = with_class_weights(scaled)
    rows = w.select("is_anomaly", "weight").distinct().collect()
    weights = {r.is_anomaly: r.weight for r in rows}
    assert weights[1] > weights[0]  # minority upweighted


def test_supervised_report_quality(spark, fixture):
    scaled, _ = fixture
    rep = {r.model: r for r in supervised_report(scaled).collect()}
    assert set(rep) == {"random_forest", "gbt", "hist_gbdt",
                        "linear_svc", "rbf_rff_lr"}
    # planted anomalies are separable: accuracy ≥ reference band (0.85+)
    for r in rep.values():
        assert r.accuracy >= 0.85
        assert r.f1 >= 0.4  # reference SVM F1=0.40 is the floor


def test_confusion_matrix_sums_to_n(spark, fixture):
    scaled, _ = fixture
    from threat_detection_nosql_spark.ml.supervised import (
        _fit_svc, stratified_split as split)
    train, test = split(scaled)
    model = _fit_svc(with_class_weights(train), "is_anomaly", 42)
    cm = confusion_matrix(model.transform(test))
    assert cm.agg(F.sum("n")).first()[0] == test.count()


def test_sparkxgb_used_when_importable(spark, fixture):
    """M14 parity gate: the moment `xgboost.spark` is importable,
    _fit_gbt must train a real SparkXGBClassifier (reference:
    `Comparaison_ML.py:643-688`) and its predictions must hold the
    reference band. Skips (not passes) wherever the library is absent
    so parity flips on automatically with the dependency.

    Install trail (2026-08-14): `pip install --dry-run xgboost` fails
    with "No matching distribution found" — the container has no
    package-index network access, so the vendor path has never
    executed here. The from-scratch histogram GBDT (ml/boosting.py)
    is the executed M14; this skip is the auditable record of the
    vendor-parity gap, not silence."""
    pytest.importorskip(
        "xgboost.spark",
        reason="xgboost not installable in this container (no network; "
               "pip dry-run: 'No matching distribution found', "
               "2026-08-14); executed M14 is ml/boosting.py hist_gbdt")
    from threat_detection_nosql_spark.ml.supervised import (
        _fit_gbt, classification_metrics, stratified_split as split)
    scaled, _ = fixture
    train, test = split(scaled)
    model = _fit_gbt(with_class_weights(train), "is_anomaly", 42)
    assert type(model).__name__ == "SparkXGBClassifierModel"
    m = classification_metrics(model.transform(test))
    assert m["accuracy"] >= 0.85 and m["f1"] >= 0.4


def test_detector_memo_evicts_dead_application_keys(spark):
    """The detector memo keys by applicationId: entries from another
    (dead) application must be evicted on the next call, never aliased
    onto the live session (id(spark) could be recycled; applicationId
    cannot)."""
    from tests.conftest import SF_DIR
    from threat_detection_nosql_spark.queries import ml_queries as MQ

    sentinel = object()
    MQ._memo.clear()
    MQ._memo[("app-from-a-dead-session", SF_DIR, "kmeans")] = sentinel
    out = MQ._detector(spark, SF_DIR, "kmeans")
    assert out is not sentinel
    assert all(k[0] == spark.sparkContext.applicationId for k in MQ._memo)
    # same app + args memoizes
    assert MQ._detector(spark, SF_DIR, "kmeans") is out


def test_ensemble_shares_one_scaled_frame(spark, monkeypatch):
    """All seven detectors and the ensemble consume the one memoized
    scaled frame of (application, sf_dir); a repeat ensemble call fits
    nothing and caches nothing new."""
    from tests.conftest import SF_SMALL
    from threat_detection_nosql_spark.queries import ml_queries as MQ

    seen = []

    def recording(fn):
        def detector(scaled):
            seen.append(scaled)
            return fn(scaled)
        return detector

    monkeypatch.setattr(MQ, "_DETECTORS", {
        name: recording(fn) for name, fn in MQ._DETECTORS.items()})
    ensemble = U.ensemble_detector
    monkeypatch.setattr(U, "ensemble_detector", lambda scaled, **kw: (
        seen.append(scaled), ensemble(scaled, **kw))[1])
    MQ._memo.clear()
    MQ.ensemble_anomalies(spark, SF_SMALL).collect()
    assert len(seen) == len(MQ._DETECTORS) + 1 == 8
    assert all(s is seen[0] for s in seen)
    jsc = spark.sparkContext._jsc
    cached = jsc.getPersistentRDDs().size()
    MQ.ensemble_anomalies(spark, SF_SMALL).collect()
    assert len(seen) == 9 and seen[-1] is seen[0]
    assert jsc.getPersistentRDDs().size() == cached


def test_hist_gbdt_separates_planted_and_is_deterministic(spark, fixture):
    """M14 proper: the from-scratch histogram booster must separate the
    planted fixture cleanly and, with no RNG anywhere (fixed-width
    bins, exact argmax), refitting must give identical trees."""
    from threat_detection_nosql_spark.ml.boosting import hist_gbdt_fit
    from threat_detection_nosql_spark.ml.supervised import (
        classification_metrics, stratified_split, with_class_weights)

    scaled, _labels = fixture
    train, test = stratified_split(scaled, "is_anomaly")
    train = with_class_weights(train, "is_anomaly").cache()
    m1 = hist_gbdt_fit(train, "is_anomaly", n_rounds=10)
    met = classification_metrics(m1.transform(test), "is_anomaly")
    assert met["accuracy"] >= 0.95 and met["f1"] >= 0.8, met
    m2 = hist_gbdt_fit(train, "is_anomaly", n_rounds=10)
    assert [t.splits for t in m1.trees] == [t.splits for t in m2.trees]
    assert [t.leaves for t in m1.trees] == [t.leaves for t in m2.trees]


def test_pca_2d_projection_variance_order_and_sign_pin(spark, fixture):
    """The scatter-plot data analog of the reference's PC1/PC2 CSV
    columns: PC1 must carry at least as much variance as PC2, and the
    sign pin must make refits identical."""
    from pyspark.sql import functions as F

    from threat_detection_nosql_spark.ml.unsupervised import (
        pca_2d_projection)

    scaled, _labels = fixture
    p1 = pca_2d_projection(scaled).cache()
    v = p1.agg(F.variance("pc1").alias("v1"),
               F.variance("pc2").alias("v2")).first()
    assert v.v1 >= v.v2 > 0
    p2 = pca_2d_projection(scaled)
    a = {r.user: (r.pc1, r.pc2) for r in p1.collect()}
    b = {r.user: (r.pc1, r.pc2) for r in p2.collect()}
    assert a == b
    p1.unpersist()


def test_eps_pairs_exact_empty_input(spark, fixture):
    """Empty input must yield an empty (a, b, d) frame, not a numpy
    stack error — the GEMM rewrite regressed this vs the old
    broadcast self-join (ADVICE r6)."""
    scaled, _ = fixture
    empty = scaled.filter(F.lit(False))
    out = U._eps_pairs(empty, eps=2.0, key="user", exact=True)
    assert out.columns == ["a", "b", "d"]
    assert out.count() == 0


def test_eps_pairs_exact_matches_on_fixture(spark, fixture):
    """GEMM exact path is symmetric and self-pair-free."""
    scaled, _ = fixture
    rows = U._eps_pairs(scaled.limit(40), eps=3.0, key="user",
                        exact=True).collect()
    pairs = {(r.a, r.b) for r in rows}
    assert pairs and all(a != b for a, b in pairs)
    assert all((b, a) in pairs for a, b in pairs)


def test_memo_miss_unpersists_what_dropped_entries_cached(spark):
    """Timed runs clear the detector memo before every query. The
    feature frame and detector output a dropped entry cached are
    unpersisted at the next miss, so repeated runs hold the cache at
    the size one run leaves, with the same rows."""
    from tests.conftest import SF_SMALL
    from threat_detection_nosql_spark.queries import ml_queries as MQ

    sc = spark.sparkContext
    # only RDDs made from here on: Spark's cleaner drops unreachable
    # RDDs of earlier tests whenever the JVM collects garbage
    first_id = sc.emptyRDD().id()
    counts, results = [], []
    for _ in range(3):
        MQ._memo.clear()
        rows = MQ.mahalanobis_anomalies(spark, SF_SMALL).collect()
        counts.append(sum(1 for i in sc._jsc.sc().getRDDStorageInfo()
                          if i.id() > first_id))
        results.append(sorted(
            tuple(round(v, 9) if isinstance(v, float) else v for v in r)
            for r in rows))
    assert counts == [counts[0]] * 3
    assert results == [results[0]] * 3


def test_detectors_on_empty_and_single_user_features(spark, tmp_path):
    """On an events table with no rows every detector returns no rows,
    with the columns it returns on a one-user table; a detector that
    cannot fit one user still raises."""
    import pyarrow.parquet as pq

    from tests.conftest import SF_SMALL
    from threat_detection_nosql_spark.queries import ml_queries as MQ

    events = pq.read_table(f"{SF_SMALL}/events.parquet")
    dirs = {}
    for n in (0, 1):
        dirs[n] = tmp_path / f"events{n}"
        dirs[n].mkdir()
        pq.write_table(events.slice(0, n), dirs[n] / "events.parquet")
    queries = {"kmeans": MQ.kmeans_anomalies,
               "iforest": MQ.iforest_anomalies,
               "pca": MQ.pca_reconstruction_anomalies,
               "maha": MQ.mahalanobis_anomalies,
               "ae": MQ.autoencoder_anomalies,
               "ocsvm": MQ.ocsvm_anomalies,
               "dbscan": MQ.dbscan_noise_anomalies}
    MQ._memo.clear()
    empty = {}
    for name, fn in queries.items():
        empty[name] = fn(spark, str(dirs[0]))
        assert empty[name].count() == 0
    ens = MQ.ensemble_anomalies(spark, str(dirs[0]))
    assert ens.count() == 0
    assert {"votes", "ensemble_anomaly", "ensemble_score"} <= set(ens.columns)
    # k=2 clusters and a covariance need two users: those fits still
    # fail, and the failure is not turned into an empty result
    for name, fn in queries.items():
        if name in ("kmeans", "pca"):
            with pytest.raises(Exception):
                fn(spark, str(dirs[1]))
            continue
        one = fn(spark, str(dirs[1]))
        assert one.count() == 1
        assert one.dtypes == empty[name].dtypes, name
