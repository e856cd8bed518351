"""Golden-band parity against the reference's committed result CSVs.

The reference commits de-facto golden outputs (SURVEY.md §5.1):
`rapport_performances.csv` holds per-model anomaly counts and
supervised metrics from its 100-user run (`Comparaison_ML.py:
1166-1201`). Exact score equality is out of reach by construction
(different RNG streams, different kernels — BASELINE.md), so the
parity gate is the BANDS those numbers define, parsed from the CSV
itself rather than hardcoded:

- contamination-driven detectors (IsolationForest, One-Class SVM
  analog) flag the same fraction the reference flags (10/100);
- clustering-driven detectors (K-Means smaller cluster, DBSCAN noise)
  flag at most the reference's fraction (42/100, 74/100 — both ran on
  un-separated real features; on the planted fixture the fraction can
  only be tighter);
- supervised accuracy/F1 meet or beat the reference's weakest model
  (SVM: accuracy 0.85, F1 0.40).

Runs on the replicated M16 fixture (seed 42, 200×8, 20 planted —
`Comparaison_ML.py:79-109`). Skips wherever the reference snapshot
isn't mounted.
"""

from __future__ import annotations

import csv
import os

import pytest

from threat_detection_nosql_spark.ml import unsupervised as U
from threat_detection_nosql_spark.ml.features import (
    assemble_features,
    scale_features,
    synthetic_anomaly_fixture,
)
from threat_detection_nosql_spark.ml.supervised import supervised_report

_RAPPORT = "/root/reference/rapport_performances.csv"

pytestmark = pytest.mark.skipif(
    not os.path.exists(_RAPPORT),
    reason="reference snapshot not mounted")


@pytest.fixture(scope="module")
def golden():
    """rapport_performances.csv rows keyed by model name (French
    headers: Modèle / Type / Anomalies détectées / Exactitude /
    F1-Score)."""
    with open(_RAPPORT, encoding="utf-8") as f:
        rows = list(csv.reader(f))
    head, body = rows[0], rows[1:]
    out = {}
    for r in body:
        rec = dict(zip(head, r))
        out[r[0]] = rec
    return out


@pytest.fixture(scope="module")
def fixture(spark):
    fix = synthetic_anomaly_fixture(spark)  # seed 42, 200×8, 20 planted
    scaled = scale_features(assemble_features(
        fix, cols=[f"f{i}" for i in range(8)])).cache()
    return fix, scaled


# The reference's unsupervised run covered 100 users
# (resultats_non_supervise.csv); fractions below are per-model
# anomaly count / 100.
_REF_N = 100


def _frac(golden, model):
    return int(golden[model]["Anomalies détectées"]) / _REF_N


def test_contamination_detectors_match_reference_fraction(
        spark, fixture, golden):
    """IsolationForest and the OCSVM substitute flag exactly the
    reference's contamination fraction (10%)."""
    fix, scaled = fixture
    n = fix.count()
    # Mahalanobis reads the plain feature columns, the others the
    # scaled vector
    for det, frame, flag, ref_model in (
            (lambda df: U.iforest_detector(df, n_trees=100), scaled,
             "iforest_anomaly", "Isolation Forest"),
            (U.mahalanobis_detector, fix, "maha_anomaly", "One-Class SVM"),
            (U.rff_ocsvm_detector, scaled, "ocsvm_anomaly",
             "One-Class SVM")):
        want = round(_frac(golden, ref_model) * n)
        got = det(frame).filter(f"{flag} = 1").count()
        assert got == want, (ref_model, got, want)


def test_cluster_detectors_within_reference_fraction(
        spark, fixture, golden):
    """K-Means smaller-cluster flags at most the reference's fraction
    (42%) — the planted fixture is cleanly separable, so this can only
    be tighter, never looser. DBSCAN's 74% band is asserted by
    test_dbscan_full_detector_matches_reference_score_shape."""
    fix, scaled = fixture
    n = fix.count()
    km = U.kmeans_detector(scaled).filter("kmeans_anomaly = 1").count()
    assert 0 < km <= _frac(golden, "K-Means") * n


def test_dbscan_full_detector_matches_reference_score_shape(
        spark, fixture, golden):
    """M5 proper (cluster assignment + two-sided score) against the
    DBSCAN row of the golden CSVs: the flag count stays inside the
    74/100 band, and the score distribution reproduces the SHAPE of
    the reference's committed `resultats_non_supervise.csv` DBSCAN
    scores (100 users: min 0, max ~1, noise median 0.438 vs member
    median 0.038 — an order of magnitude apart, with the entire top
    decile noise). Exact values are fixture-dependent; the shape is
    the semantics."""
    fix, scaled = fixture
    n = fix.count()
    # eps=2.0: the reference's eps=0.5 is tuned to ITS feature scale —
    # on the 8-d scaled fixture everything is farther than 0.5 from
    # everything (degenerate all-noise), so the established fixture eps
    # (tests/test_ml.py) is used; the band stays the reference's 74%
    out = U.dbscan_detector(scaled, eps=2.0).cache()
    flagged = out.filter("dbscan_anomaly = 1").count()
    assert 0 < flagged <= _frac(golden, "DBSCAN") * n
    # every flagged point has NO cluster; every unflagged point has one
    assert out.filter("dbscan_anomaly = 1 AND cluster IS NOT NULL") \
        .count() == 0
    assert out.filter("dbscan_anomaly = 0 AND cluster IS NULL") \
        .count() == 0
    import pyspark.sql.functions as F
    stats = out.agg(F.min("dbscan_score").alias("mn"),
                    F.max("dbscan_score").alias("mx")).first()
    assert stats.mn == 0.0 and abs(stats.mx - 1.0) < 1e-9
    med = {r.dbscan_anomaly: r.med for r in
           out.groupBy("dbscan_anomaly")
           .agg(F.expr("percentile(dbscan_score, 0.5)").alias("med"))
           .collect()}
    assert med[1] > 3 * med[0], med          # noise ≫ member (ref: 10x)
    # top decile ≥95% noise: the two populations overlap slightly in
    # the reference CSV too (noise min 0.109 < member max 0.137), so a
    # remote cluster member may outrank the nearest-to-core noise point
    top = out.orderBy(F.desc("dbscan_score")) \
        .limit(max(1, n // 10)).filter("dbscan_anomaly = 0").count()
    assert top <= max(1, n // 200), top
    out.unpersist()


def test_supervised_metrics_meet_reference_band(spark, fixture, golden):
    """Every supervised model meets the reference's WEAKEST committed
    metrics (SVM: accuracy 0.85 / F1 0.40) and the strongest committed
    F1 (0.667) is met by at least one model."""
    _, scaled = fixture
    sup = {m: golden[m] for m in ("Random Forest", "SVM", "XGBoost")}
    floor_acc = min(float(r["Exactitude"]) for r in sup.values())
    floor_f1 = min(float(r["F1-Score"]) for r in sup.values())
    best_f1 = max(float(r["F1-Score"]) for r in sup.values())
    rep = {r.model: r for r in supervised_report(scaled).collect()}
    assert set(rep) == {"random_forest", "gbt", "hist_gbdt",
                        "linear_svc", "rbf_rff_lr"}
    for r in rep.values():
        assert r.accuracy >= floor_acc, (r.model, r.accuracy)
        assert r.f1 >= floor_f1, (r.model, r.f1)
    assert max(r.f1 for r in rep.values()) >= best_f1


@pytest.mark.slow
def test_tuned_grid_supervised_meets_reference_band(spark, fixture, golden):
    """M12/M15 with the FULL grid CV actually executed: tune=True runs
    CrossValidator(numFolds=3, f1) over the numTrees x maxDepth grid —
    a superset of the reference's committed single-point grid
    (`Comparaison_ML.py:588-595`: n_estimators [200], max_depth [10];
    every other param list there is also length 1, so the reference
    "grid search" evaluates exactly one candidate per model). The
    tuned report must still clear the rapport_performances bands —
    closing the 'reduced grid never executed' caveat."""
    _, scaled = fixture
    sup = {m: golden[m] for m in ("Random Forest", "SVM", "XGBoost")}
    floor_acc = min(float(r["Exactitude"]) for r in sup.values())
    floor_f1 = min(float(r["F1-Score"]) for r in sup.values())
    rep = {r.model: r for r in
           supervised_report(scaled, tune=True).collect()}
    for r in rep.values():
        assert r.accuracy >= floor_acc, (r.model, r.accuracy)
        assert r.f1 >= floor_f1, (r.model, r.f1)
