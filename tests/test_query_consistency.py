"""Queries that read one shared per-user relation agree with each other:
the triage report with the four standalone signal queries, the session
queries on the session count, and the fixed-ML feature builds with
``user_features``."""

from __future__ import annotations

import numpy as np
import pytest

from tests.conftest import SF_SMALL


def _by_user(rows, col):
    return {r["user"]: r[col] for r in rows}


def test_triage_report_matches_standalone_signals(spark):
    """Each triage column equals its standalone query's value for every
    user in both outputs, and the triage report's top 10 by that column
    (NULLs out, ties by user) are the standalone top-10's users."""
    from threat_detection_nosql_spark.queries.temporal import (
        arrival_burstiness_top10,
        sequence_surprise_top10,
        user_activity_trend,
    )
    from threat_detection_nosql_spark.queries.threat import (
        rare_resource_access_top10,
        user_triage_report,
    )
    triage = user_triage_report(spark, SF_SMALL).collect()
    cases = [
        ("rarity_score", rare_resource_access_top10, "rarity_score", True),
        ("dispersion", arrival_burstiness_top10, "dispersion", True),
        ("sequence_surprise", sequence_surprise_top10, "surprise", True),
        ("trend_slope", user_activity_trend, "slope", False),
    ]
    for col, query, qcol, is_top10 in cases:
        mine = _by_user(triage, col)
        theirs = _by_user(query(spark, SF_SMALL).collect(), qcol)
        common = set(mine) & set(theirs)
        assert common == set(theirs), col
        assert {u: mine[u] for u in common} == theirs, col
        if is_top10:
            ranked = sorted((u for u, v in mine.items() if v is not None),
                            key=lambda u: (-mine[u], u))
            assert set(ranked[:10]) == set(theirs), col


def test_session_queries_agree_on_session_count(spark):
    from pyspark.sql import functions as F

    from threat_detection_nosql_spark.queries.temporal import (
        event_sessions,
        session_entry_exit_report,
        session_funnel_conversion,
    )
    n_sessions = event_sessions(spark, SF_SMALL).count()
    funnel = session_funnel_conversion(spark, SF_SMALL).collect()[0]
    ends = (session_entry_exit_report(spark, SF_SMALL)
            .agg(F.sum("n_entries").alias("entries"),
                 F.sum("n_exits").alias("exits")).collect()[0])
    assert n_sessions > 0
    assert funnel["sessions"] == n_sessions
    assert ends["entries"] == n_sessions == ends["exits"]


@pytest.fixture(scope="module")
def features(spark):
    from threat_detection_nosql_spark.queries.threat import user_features
    return {r["user"]: r for r in user_features(spark, SF_SMALL).collect()}


def test_kf_vectors_scale_user_features(spark, features):
    """The fixed k-means family's vectors are the exact min-max scaling
    of ``user_features``' count and ratio columns, row for row."""
    from threat_detection_nosql_spark.queries.ml_queries import (
        _KF_FEATURES,
        _kf_vectors,
    )
    vecs = {r["vec_id"]: r["v"]
            for r in _kf_vectors(spark, SF_SMALL, materialize=False)
            .collect()}
    assert set(vecs) == set(features)
    cols = {c: [features[u][c] for u in features] for c in _KF_FEATURES}
    lo = {c: min(v) for c, v in cols.items()}
    span = {c: (max(v) - lo[c]) or 1.0 for c, v in cols.items()}
    for u, v in vecs.items():
        assert v == [(features[u][c] - lo[c]) / span[c]
                     for c in _KF_FEATURES], u


def test_pca_projection_reads_user_features_counts(spark, features):
    """PC1 and PC2 are linear in ``user_features``' six z-scored
    counts: a least-squares fit on them leaves only the output's 1e-6
    rounding, and each fitted direction has unit norm."""
    from threat_detection_nosql_spark.queries.ml_queries import (
        _PCA_FEATS,
        user_pca_projection,
    )
    proj = {r["user"]: (r["pc1"], r["pc2"])
            for r in user_pca_projection(spark, SF_SMALL).collect()}
    assert set(proj) == set(features)
    users = sorted(proj)
    x = np.array([[features[u][c] for c in _PCA_FEATS] for u in users],
                 dtype=float)
    sd = x.std(axis=0)
    z = np.where(sd > 0, (x - x.mean(axis=0)) / np.where(sd > 0, sd, 1), 0)
    y = np.array([proj[u] for u in users])
    coef, *_ = np.linalg.lstsq(z, y, rcond=None)
    assert np.abs(z @ coef - y).max() < 1e-5
    assert np.allclose(np.linalg.norm(coef, axis=0), 1.0, atol=1e-4)
