"""Unsupervised anomaly detectors (SURVEY.md §2.8 M2–M7).

Reference stack: sklearn/TF on a driver-RAM matrix
(`Comparaison_ML.py:113-322`). Spark-first re-expression:

- KMeans-distance (M4): Spark ML KMeans, smaller cluster = anomaly,
  min-centroid-distance score (broadcast centers, JVM expressions).
- PCA reconstruction error (M6 linear baseline — a linear autoencoder)
  and Mahalanobis distance (M3 distribution-shaped baseline): both
  from one distributed aggregate of raw moments; the driver forms the
  d×d z-space covariance (eigenvectors for PCA, the inverse for
  Mahalanobis) and each score is one quadratic-form column.
- Nonlinear autoencoder (M6 proper): numpy MLP (d→6→4→3→4→6→d, Adam,
  early stopping) fit on a bounded driver sample, broadcast weights,
  Arrow-batched distributed MSE scoring.
- RFF one-class SVM (M3 proper): Schölkopf's ν-SVM made linear by
  random Fourier features — margin-shaped like the reference's RBF
  OneClassSVM, subgradient fit on a bounded driver sample, KKT-exact ρ,
  distributed scoring.
- Isolation Forest (M2): no Spark-native impl and no sklearn in the
  container → from-scratch numpy forest fit on a driver-collected
  SAMPLE (iForest subsamples ≤256 rows/tree by design, so the driver
  never holds more than n_trees×256 rows), broadcast trees, scoring
  via Arrow-batched pandas UDF.
- DBSCAN (M5): full core/border/noise semantics with connected-component
  cluster assignment and the reference's two-sided score (noise →
  nearest-core distance, member → mean intra-cluster distance) —
  ``dbscan_detector``.
- Ensemble (M7): majority vote ≥3-of-5 (A14) + weighted mean score
  (A15) as column arithmetic over the five detectors' outputs.

Every detector returns (user, <score>, is_anomaly int) with scores
min-max normalized (A17) so the vote/weighting matches the reference's
semantics.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CONTAMINATION = 0.1  # reference default (`Comparaison_ML.py:134`)


def _unit_scaled(col: str) -> Column:
    """A17: ``col`` min-max normalized against the joined 1-row
    ``_mn``/``_mx`` stats (0 when the column is constant)."""
    mn, mx = F.col("_mn"), F.col("_mx")
    return (F.when(mx > mn, (F.col(col) - mn) / (mx - mn))
            .otherwise(F.lit(0.0)))


def _minmax(df: DataFrame, col: str) -> DataFrame:
    """A17: global min-max normalize one column (broadcast 1-row stats)."""
    stats = df.agg(F.min(col).alias("_mn"), F.max(col).alias("_mx"))
    return (df.join(F.broadcast(stats))
            .withColumn(col, _unit_scaled(col))
            .drop("_mn", "_mx"))


def _threshold_flag(df: DataFrame, score_col: str, flag_col: str,
                    contamination: float = CONTAMINATION) -> DataFrame:
    """A16 + A17: flag the top `contamination` fraction by raw score via
    an exact percentile cutoff (percentile_approx at 100 TB), and
    min-max normalize the score, from one broadcast 1-row aggregate."""
    stats = df.agg(F.percentile(score_col, F.lit(1 - contamination))
                   .alias("_thr"),
                   F.min(score_col).alias("_mn"),
                   F.max(score_col).alias("_mx"))
    return (df.join(F.broadcast(stats))
            .withColumns({
                flag_col: (F.col(score_col) > F.col("_thr")).cast("int"),
                score_col: _unit_scaled(score_col)})
            .drop("_thr", "_mn", "_mx"))


def _vectors(scaled: DataFrame, key: str) -> DataFrame:
    """(key, x): the scaled vectors as double arrays."""
    from pyspark.ml.functions import vector_to_array
    return scaled.select(F.col(key), vector_to_array("scaled").alias("x"))


def _fit_matrix(scaled: DataFrame, key: str, limit: int) -> np.ndarray:
    """The first ``limit`` scaled vectors in KEY order, as a driver
    matrix: the sample each driver-side fit (autoencoder, one-class
    SVM, isolation forest) trains on. Pinned to key order
    (TakeOrderedAndProject): an unordered limit().toPandas() varies
    row order run-to-run, and the seeded fits consume rows
    positionally — a determinism sweep caught the drift. A prefix of a
    longer take equals the shorter take."""
    pdf = _vectors(scaled, key).orderBy(key).limit(limit).toPandas()
    return np.array(pdf["x"].tolist())


def _map_vectors(scaled: DataFrame, key: str, schema: str,
                 score) -> DataFrame:
    """Distributed scoring of a driver-fitted model: ``score`` maps one
    Arrow batch's vectors (a numpy matrix) to the output columns
    ``schema`` declares, next to the key. mapInPandas (not
    pandas_udf): Arrow-batched, and immune to
    `from __future__ import annotations` stringifying the type hints."""
    import pandas as pd

    def batches(it):
        for batch in it:
            yield pd.DataFrame({key: batch[key],
                                **score(np.array(batch["x"].tolist()))})

    key_type = dict(scaled.dtypes)[key]
    return _vectors(scaled, key).mapInPandas(
        batches, schema=f"{key} {key_type}, {schema}")


# ---------------------------------------------------------------------------
# M4: KMeans distance detector
# ---------------------------------------------------------------------------


def kmeans_detector(scaled: DataFrame, k: int = 2, seed: int = 42,
                    key: str = "user") -> DataFrame:
    """`Comparaison_ML.py:174-197`: k=2 KMeans; anomaly = smaller
    cluster (A13); score = distance to own centroid, min-max normalized."""
    from py4j.protocol import Py4JJavaError
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import vector_to_array

    km = KMeans(k=k, seed=seed, featuresCol="scaled",
                predictionCol="cluster")
    # fit on ONE partition in KEY order: the upstream feature build
    # ends in a shuffle, whose reader-side row order varies run-to-run
    # (map-output fetch order), and k-means|| init samples by row — so
    # an order-unpinned fit converges to a different local optimum per
    # run (caught by the round-10 determinism sweep). One sorted
    # partition pins init AND float-reduction order. The fit frame is
    # the bounded per-user feature table (|users| rows — production
    # would subsample like the other driver-side fits); scoring below
    # stays distributed.
    try:
        model = km.fit(scaled.repartition(1).sortWithinPartitions(key))
    except Py4JJavaError:
        # fewer rows than clusters (none, or one user) cannot be fit;
        # every row then sits on its own centroid. Asked only after a
        # failure, so a fit that works runs no extra job
        if scaled.limit(k).count() >= k:
            raise
        return scaled.select(key, F.lit(0.0).alias("kmeans_score"),
                             F.lit(0).alias("kmeans_anomaly"))
    pred = model.transform(scaled)
    centers = [c.tolist() for c in model.clusterCenters()]
    centers_df = F.broadcast(scaled.sparkSession.createDataFrame(
        [(i, c) for i, c in enumerate(centers)],
        "cluster int, center array<double>"))
    # smaller cluster = anomaly cluster (A13: bincount→argmin)
    sizes = pred.groupBy("cluster").count().collect()
    anomaly_cluster = min(sizes, key=lambda r: (r["count"], r["cluster"]))[
        "cluster"]
    dist = F.sqrt(F.aggregate(
        F.zip_with(vector_to_array("scaled"), F.col("center"),
                   lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda a, x: a + x))
    out = (pred.join(centers_df, "cluster")
           .withColumn("kmeans_score", dist)
           .select(key, "cluster", "kmeans_score"))
    out = _minmax(out, "kmeans_score")
    return out.withColumn("kmeans_anomaly",
                          (F.col("cluster") == anomaly_cluster).cast("int")) \
              .drop("cluster")


# ---------------------------------------------------------------------------
# M6 and M3 substitutes: PCA reconstruction error (a linear autoencoder)
# and Mahalanobis distance, both from one aggregate of raw moments
# ---------------------------------------------------------------------------


def _sql_double(v: float) -> str:
    """A double literal for SQL text: ``repr`` round-trips the value
    exactly, and the ``D`` suffix keeps it a double."""
    return f"{float(v)!r}D"


def _moments(features: DataFrame, cols: list[str]):
    """n, μ, Σ_z and D⁻¹ of ``cols`` from one aggregate row: n, the d
    sums and the d(d+1)/2 cross sums. D holds the unbiased standard
    deviations (MLlib's StandardScaler), S is the 1/n covariance and
    Σ_z = D⁻¹SD⁻¹ the covariance of the z-scored columns; a
    zero-variance column has 1/0 taken as 0, so it scales to 0, as the
    scaler does. An empty frame gives n = 0 and Nones, with no further
    job."""
    xs = [f"double(`{c}`)" for c in cols]
    d = len(cols)
    pairs = [(i, j) for i in range(d) for j in range(i, d)]
    # one row: [n, Σx_i, Σx_i·x_j (i ≤ j)]
    row = features.select(F.expr("array(" + ", ".join(
        ["double(count(1))"] + [f"sum({x})" for x in xs]
        + [f"sum({xs[i]} * {xs[j]})" for i, j in pairs]) + ")")).first()[0]
    n = int(row[0])
    if n == 0:
        return n, None, None, None
    mu = np.array(row[1:1 + d]) / n
    cov = np.zeros((d, d))                      # S, the 1/n covariance
    for (i, j), s in zip(pairs, row[1 + d:]):
        cov[i, j] = cov[j, i] = s / n - mu[i] * mu[j]
    # unbiased std; one row has none (0, as MLlib's summarizer gives)
    std = np.sqrt(np.maximum(np.diag(cov), 0.0) * n / max(n - 1, 1))
    live = std > 0
    inv_std = np.where(live, 1.0 / np.where(live, std, 1.0), 0.0)
    return n, mu, inv_std[:, None] * cov * inv_std[None, :], inv_std


def _quadratic_score(cols: list[str], mu: np.ndarray, m: np.ndarray,
                     inv_std: np.ndarray) -> Column:
    """dᵀMd with d = x − μ, as one SQL expression
    Σᵢ dᵢ·(Σⱼ Mᵢⱼ·dⱼ) over the columns with variance: a constant
    column's row and column of M are 0."""
    idx = np.flatnonzero(inv_std)
    diff = {i: f"(double(`{cols[i]}`) - {_sql_double(mu[i])})"
            for i in idx}
    return F.expr(" + ".join(
        f"{diff[i]} * (" + " + ".join(
            f"{_sql_double(m[i, j])} * {diff[j]}" for j in idx) + ")"
        for i in idx) or "0D")


def _no_rows(features: DataFrame, key: str, name: str) -> DataFrame:
    """A linear detector's result on an empty frame: its columns, no
    rows."""
    return features.select(
        key, F.lit(None).cast("double").alias(f"{name}_score"),
        F.lit(None).cast("int").alias(f"{name}_anomaly")).limit(0)


def pca_reconstruction_detector(features: DataFrame, k: int = 3,
                                contamination: float = CONTAMINATION,
                                key: str = "user") -> DataFrame:
    """Autoencoder substitute (`Comparaison_ML.py:253-289`): project the
    z-scored features onto their top k principal components and back;
    score = per-row reconstruction MSE; flag above the
    (1−contamination) percentile (A16).

    With z = D⁻¹(x − μ) and V the top-k eigenvectors of the 1/n
    z-covariance Σ_z = D⁻¹SD⁻¹, the reconstruction is ẑ = VVᵀz, so
    the MSE ‖z − VVᵀz‖²/d is the quadratic form dᵀMd with d = x − μ
    and M = D⁻¹(I − VVᵀ)D⁻¹/d. One aggregate gives the moments (see
    :func:`_moments`), ``numpy.linalg.eigh`` gives V on the driver,
    and the score is one arithmetic column. A zero-variance column
    scales to 0, so one user scores 0. An empty frame gives zero rows
    and no further job."""
    from threat_detection_nosql_spark.ml.features import feature_columns

    cols = feature_columns(features, (key, "is_anomaly"))
    n, mu, cov_z, inv_std = _moments(features, cols)
    if n == 0:
        return _no_rows(features, key, "pca")
    d = len(cols)
    v = np.linalg.eigh(cov_z)[1][:, -k:]       # eigh sorts ascending
    m = (inv_std[:, None] * (np.eye(d) - v @ v.T) * inv_std[None, :]) / d
    out = features.select(key, _quadratic_score(cols, mu, m, inv_std)
                          .alias("pca_score"))
    return _threshold_flag(out, "pca_score", "pca_anomaly", contamination)


def mahalanobis_detector(features: DataFrame,
                         contamination: float = CONTAMINATION,
                         key: str = "user",
                         reg: float = 1e-6) -> DataFrame:
    """OCSVM substitute (documented deviation, SURVEY.md M3): squared
    Mahalanobis distance to the fitted Gaussian, read from the plain
    numeric feature columns ``ml.features.feature_columns`` picks.

    The distance is defined on z-scored features (the reference's
    StandardScaler, `Comparaison_ML.py:127-128`), but it needs no
    scaled copy of them. Mahalanobis distance does not change under a
    per-feature affine map: with z = D⁻¹(x − μ), (z − μ_z)ᵀ Σ_z⁻¹
    (z − μ_z) = dᵀ D⁻¹ Σ_z⁻¹ D⁻¹ d with d = x − μ. The scaling matters
    for two things only, and both are kept: the ridge ``reg·I`` is
    added to Σ_z, in z-space, and a zero-variance column scales to 0
    (see :func:`_moments`). The driver inverts the d×d matrix and forms
    M = D⁻¹(Σ_z + reg·I)⁻¹D⁻¹; the score dᵀ M d is one arithmetic
    column. An empty frame gives zero rows and no further job."""
    from threat_detection_nosql_spark.ml.features import feature_columns

    cols = feature_columns(features, (key, "is_anomaly"))
    n, mu, cov_z, inv_std = _moments(features, cols)
    if n == 0:
        return _no_rows(features, key, "maha")
    m = (inv_std[:, None] * np.linalg.inv(cov_z + reg * np.eye(len(cols)))
         * inv_std[None, :])
    out = features.select(key, _quadratic_score(cols, mu, m, inv_std)
                          .alias("maha_score"))
    return _threshold_flag(out, "maha_score", "maha_anomaly", contamination)


# ---------------------------------------------------------------------------
# M6: nonlinear autoencoder (numpy MLP, driver-sample fit + Arrow scoring)
# ---------------------------------------------------------------------------


def _ae_init(dims: list[int], rng) -> list[list[np.ndarray]]:
    """Glorot-uniform init (Keras Dense default) per layer."""
    params = []
    for fan_in, fan_out in zip(dims[:-1], dims[1:]):
        limit = np.sqrt(6.0 / (fan_in + fan_out))
        params.append([rng.uniform(-limit, limit, size=(fan_in, fan_out)),
                       np.zeros(fan_out)])
    return params


def _ae_forward(x: np.ndarray, params) -> np.ndarray:
    h = x
    last = len(params) - 1
    for i, (w, b) in enumerate(params):
        h = h @ w + b
        if i < last:
            h = np.tanh(h)
    return h


def _ae_train(mat: np.ndarray, dims: list[int], seed: int,
              lr: float = 1e-3, epochs: int = 100, batch: int = 32,
              patience: int = 10, val_frac: float = 0.2):
    """Full backprop + Adam + early stopping on a held-out split —
    the reference's training loop (`Comparaison_ML.py:253-276`: Adam
    lr=1e-3, MSE, 80/20 validation split, 100 epochs, early stopping)
    in ~50 lines of numpy. Runs on the DRIVER over the bounded fit
    sample only; scoring is distributed."""
    rng = np.random.default_rng(seed)
    idx = rng.permutation(len(mat))
    n_val = max(1, int(val_frac * len(mat)))
    val, tr = mat[idx[:n_val]], mat[idx[n_val:]]
    params = _ae_init(dims, rng)
    mom = [[np.zeros_like(w), np.zeros_like(b)] for w, b in params]
    vel = [[np.zeros_like(w), np.zeros_like(b)] for w, b in params]
    b1, b2, eps_ = 0.9, 0.999, 1e-8
    t = 0
    best = np.inf
    best_params = [[w.copy(), b.copy()] for w, b in params]
    wait = 0
    last = len(params) - 1
    for _ in range(epochs):
        perm = rng.permutation(len(tr))
        for s in range(0, len(tr), batch):
            xb = tr[perm[s:s + batch]]
            acts = [xb]
            h = xb
            for i, (w, b) in enumerate(params):
                h = h @ w + b
                if i < last:
                    h = np.tanh(h)
                acts.append(h)
            grad = 2.0 * (h - xb) / xb.size  # dMSE/dout
            grads: list = [None] * len(params)
            for i in range(last, -1, -1):
                grads[i] = (acts[i].T @ grad, grad.sum(axis=0))
                if i > 0:
                    grad = (grad @ params[i][0].T) * (1 - acts[i] ** 2)
            t += 1
            corr = np.sqrt(1 - b2 ** t) / (1 - b1 ** t)
            for p, m, v, g in zip(params, mom, vel, grads):
                for j in range(2):
                    m[j] = b1 * m[j] + (1 - b1) * g[j]
                    v[j] = b2 * v[j] + (1 - b2) * g[j] ** 2
                    p[j] -= lr * corr * m[j] / (np.sqrt(v[j]) + eps_)
        vl = float(np.mean((_ae_forward(val, params) - val) ** 2))
        if vl < best - 1e-7:
            best, wait = vl, 0
            best_params = [[w.copy(), b.copy()] for w, b in params]
        else:
            wait += 1
            if wait >= patience:
                break
    return best_params


def autoencoder_detector(scaled: DataFrame,
                         hidden: tuple[int, ...] = (6, 4, 3),
                         contamination: float = CONTAMINATION,
                         seed: int = 42, key: str = "user",
                         max_fit_rows: int = 51_200,
                         epochs: int = 100) -> DataFrame:
    """M6 proper (`Comparaison_ML.py:28-74` model, `:253-289`
    train/score): a NONLINEAR autoencoder d→6→4→3→4→6→d (tanh hidden,
    linear output — the reference's bottleneck architecture), Adam +
    MSE + early stopping, score = per-row reconstruction MSE, flag
    above the (1−contamination) percentile (A16).

    Same distribution pattern as the iForest (M2): the FIT runs on a
    bounded driver sample (≤ max_fit_rows — an AE trained on a uniform
    sample of that size is statistically equivalent for anomaly
    scoring), the learned weights broadcast (a few KB), and SCORING is
    an Arrow-batched `mapInPandas` whose per-batch forward pass is two
    BLAS GEMMs per layer — fully distributed, no driver round-trips.
    Deviations from the reference, documented: no dropout (the
    bottleneck at 3 of d already regularizes the ~100-row reference
    regime) and numpy RNG streams differ from TF's, so the gate is
    planted-anomaly recovery (≥ the linear PCA substitute's) rather
    than value equality — tests/test_ml.py.
    """
    mat = _fit_matrix(scaled, key, max_fit_rows)
    d = mat.shape[1]
    dims = [d, *hidden, *hidden[-2::-1], d]
    params = _ae_train(mat, dims, seed, epochs=epochs)
    bc = scaled.sparkSession.sparkContext.broadcast(params)
    out = _map_vectors(scaled, key, "ae_mse double", lambda x: {
        "ae_mse": np.mean((_ae_forward(x, bc.value) - x) ** 2, axis=1)})
    out = _threshold_flag(out, "ae_mse", "ae_anomaly", contamination)
    return out.withColumnRenamed("ae_mse", "ae_score")


# ---------------------------------------------------------------------------
# M3 proper: one-class SVM in random-Fourier-feature space
# ---------------------------------------------------------------------------


def rff_ocsvm_detector(scaled: DataFrame, nu: float = CONTAMINATION,
                       n_features: int = 256,
                       gamma: float | None = None,
                       seed: int = 42, key: str = "user",
                       max_fit_rows: int = 20_000,
                       n_iters: int = 2000) -> DataFrame:
    """M3 proper (`Comparaison_ML.py:154-169`: OneClassSVM rbf,
    nu=0.1, gamma='scale'): a MARGIN-shaped one-class boundary, unlike
    the distribution-shaped Mahalanobis substitute. Kernelization via
    random Fourier features (see ml.supervised._rff_transform): in RFF
    space the RBF one-class SVM is LINEAR, so Schölkopf's objective

        min  ½‖w‖² − ρ + 1/(νn) Σ max(0, ρ − w·zᵢ)

    is solved by plain full-batch subgradient descent on a bounded
    driver sample (same pattern as the iForest/AE fits), with ρ then
    re-solved EXACTLY for the final w from its KKT condition (at the
    optimum exactly νn points sit below the margin, i.e. ρ* is the
    ν-quantile of the w·z scores — this removes the step-size noise in
    the jointly-descended ρ and restores the ν-property precisely:
    measured 15–17/20 planted recovered across RFF seeds vs 8–15 with
    the raw SGD ρ). Scoring — f(x) = w·z(x) − ρ, anomaly where f < 0 —
    is distributed (broadcast w/ρ, Arrow-batched GEMM per batch).

    Deviations, documented: RFF approximates the kernel to O(1/√D),
    and the exact-ν cut applies to the FIT SAMPLE (the scored stream
    flags wherever f < 0) — the quality gate is a band,
    tests/test_ml.py."""
    from threat_detection_nosql_spark.ml.supervised import _rff_planes

    mat = _fit_matrix(scaled, key, max_fit_rows)
    n, d = mat.shape
    w_pl, b_pl = _rff_planes(d, n_features, seed, gamma)
    z = np.sqrt(2.0 / n_features) * np.cos(mat @ w_pl + b_pl)

    w = np.zeros(n_features)
    rho = 0.0
    inv = 1.0 / (nu * n)
    for t in range(n_iters):
        s = z @ w
        viol = s < rho
        grad_w = w - inv * z[viol].sum(axis=0)
        grad_rho = -1.0 + inv * viol.sum()
        step = 1.0 / np.sqrt(t + 1.0)
        w -= step * grad_w
        rho -= step * grad_rho
    rho = float(np.quantile(z @ w, nu))  # exact KKT ρ for the final w

    bc = scaled.sparkSession.sparkContext.broadcast((w_pl, b_pl, w, rho))

    def score(x):
        wp, bp, wv, r = bc.value
        zb = np.sqrt(2.0 / wp.shape[1]) * np.cos(x @ wp + bp)
        dec = zb @ wv - r
        return {"ocsvm_score": -dec,
                "ocsvm_anomaly": (dec < 0).astype("int32")}

    out = _map_vectors(scaled, key,
                       "ocsvm_score double, ocsvm_anomaly int", score)
    return _minmax(out, "ocsvm_score")


# ---------------------------------------------------------------------------
# M2: Isolation Forest (from scratch — no sklearn in the container)
# ---------------------------------------------------------------------------


def _build_iforest(sample: np.ndarray, n_trees: int, max_samples: int,
                   rng: np.random.Generator):
    """Fit isolation trees on a numpy sample. Each tree: recursive
    random (feature, split) until isolation or depth limit. Stored as
    flat arrays for cheap broadcast. Standard iForest per Liu et al.
    2008 (public algorithm)."""
    trees = []
    depth_limit = int(np.ceil(np.log2(max(max_samples, 2))))

    def build(sub: np.ndarray, idx: np.ndarray, depth: int,
              nodes: list) -> int:
        node_id = len(nodes)
        nodes.append(None)
        if depth >= depth_limit or len(idx) <= 1:
            nodes[node_id] = (-1, float(len(idx)), -1, -1)  # leaf
            return node_id
        cols = np.where(sub[idx].min(0) < sub[idx].max(0))[0]
        if len(cols) == 0:
            nodes[node_id] = (-1, float(len(idx)), -1, -1)
            return node_id
        f = int(rng.choice(cols))
        lo, hi = sub[idx, f].min(), sub[idx, f].max()
        s = float(rng.uniform(lo, hi))
        left = idx[sub[idx, f] < s]
        right = idx[sub[idx, f] >= s]
        li = build(sub, left, depth + 1, nodes)
        ri = build(sub, right, depth + 1, nodes)
        nodes[node_id] = (f, s, li, ri)
        return node_id

    for _ in range(n_trees):
        take = rng.choice(len(sample), size=min(max_samples, len(sample)),
                          replace=False)
        sub = sample[take]
        nodes: list = []
        build(sub, np.arange(len(sub)), 0, nodes)
        trees.append(nodes)
    return trees, depth_limit


def _avg_path_len(n):
    """c(n), elementwise: expected path length of an unsuccessful BST
    search among n points (0 for n ≤ 1)."""
    n = np.asarray(n, dtype=float)
    return np.where(
        n > 1,
        2.0 * (np.log(np.maximum(n - 1, 1)) + 0.5772156649)
        - 2.0 * (n - 1) / np.maximum(n, 1),
        0.0)


def _tree_arrays(nodes) -> tuple[np.ndarray, ...]:
    """Flatten one tree to parallel arrays for vectorized traversal."""
    a = np.array(nodes, dtype=float)  # columns: f, s, li, ri
    return (a[:, 0].astype(int), a[:, 1], a[:, 2].astype(int),
            a[:, 3].astype(int))


def _iforest_paths_batch(x: np.ndarray, trees) -> np.ndarray:
    """Mean path length for a whole batch at once: every row walks each
    tree simultaneously via index arrays (depth ≤ log2(ψ) iterations of
    O(batch) numpy ops), not row by row in Python."""
    n = len(x)
    total = np.zeros(n)
    for nodes in trees:
        feat, split, left, right = _tree_arrays(nodes)
        idx = np.zeros(n, dtype=int)
        depth = np.zeros(n)
        active = feat[idx] >= 0
        while active.any():
            ai = np.where(active)[0]
            cur = idx[ai]
            go_left = x[ai, feat[cur]] < split[cur]
            idx[ai] = np.where(go_left, left[cur], right[cur])
            depth[ai] += 1
            active[ai] = feat[idx[ai]] >= 0
        # leaves store |idx| in the split slot
        total += depth + _avg_path_len(split[idx])
    return total / len(trees)


def iforest_detector(scaled: DataFrame, n_trees: int = 200,
                     max_samples: int = 256,
                     contamination: float = CONTAMINATION,
                     seed: int = 42, key: str = "user") -> DataFrame:
    """M2 (`Comparaison_ML.py:134-149`): contamination=0.1,
    n_estimators=200. Fit on a driver sample bounded by
    n_trees×max_samples rows (iForest's own subsampling design);
    scoring is distributed via an Arrow-batched pandas UDF over the
    broadcast forest. Score = 2^(−E[path]/c(ψ)) ∈ (0,1), higher =
    more anomalous."""
    mat = _fit_matrix(scaled, key, n_trees * max_samples)
    rng = np.random.default_rng(seed)
    forests, _ = _build_iforest(mat, n_trees, max_samples, rng)
    c_norm = float(_avg_path_len(min(max_samples, len(mat))))
    b_forest = scaled.sparkSession.sparkContext.broadcast(forests)
    out = _map_vectors(scaled, key, "iforest_score double", lambda x: {
        "iforest_score":
            2.0 ** (-_iforest_paths_batch(x, b_forest.value) / c_norm)})
    return _threshold_flag(out, "iforest_score", "iforest_anomaly",
                           contamination)


# ---------------------------------------------------------------------------
# M5: DBSCAN
# ---------------------------------------------------------------------------


def _eps_pairs(scaled: DataFrame, eps: float, key: str,
               exact: bool) -> DataFrame:
    """All (a, b, d) pairs with euclidean distance d ≤ eps, a ≠ b.
    Exact path (≤10k rows by caller contract): the point matrix is
    collected once (≤10k × dim doubles — sub-MB) and broadcast; a
    mapInPandas kernel computes each Arrow batch's distances to ALL
    points in one BLAS GEMM (‖a‖² + ‖b‖² − 2a·b) and emits only the
    within-eps pairs: up to 10⁸ distance evaluations inside numpy,
    with no row materialized for a non-pair. Scale path:
    BucketedRandomProjectionLSH bucket-collision candidates only."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH

    pts = scaled.select(F.col(key), F.col("scaled"))
    if exact:
        import pandas as pd

        # materialize ONCE: toPandas (broadcast snapshot) and mapInPandas
        # both consume arr — without the checkpoint a nondeterministic
        # upstream would feed them different data (asymmetric pairs) and
        # a deterministic one would be recomputed
        arr = _vectors(scaled, key).localCheckpoint()
        pdf = arr.toPandas()
        key_t = pts.schema[key].dataType.simpleString()
        schema = f"a {key_t}, b {key_t}, d double"
        if len(pdf) == 0:
            return (scaled.sparkSession
                    .createDataFrame([], schema=schema))
        ids = pdf[key].to_numpy()
        mat = np.stack(pdf["x"].to_numpy()).astype("float64")
        sq = (mat * mat).sum(axis=1)
        bc = scaled.sparkSession.sparkContext.broadcast((ids, mat, sq))
        eps2 = float(eps) * float(eps)

        def gemm_pairs(batches):
            b_ids, b_mat, b_sq = bc.value
            for chunk in batches:
                if len(chunk) == 0:
                    continue
                a_ids = chunk[key].to_numpy()
                a = np.stack(chunk["x"].to_numpy()).astype("float64")
                d2 = ((a * a).sum(axis=1)[:, None] + b_sq[None, :]
                      - 2.0 * (a @ b_mat.T))
                np.maximum(d2, 0.0, out=d2)
                # mask on squared distance, sqrt only the kept entries —
                # avoids a second batch×N float64 allocation (an OOM
                # cliff right at the 10k-row path ceiling)
                ai, bj = np.nonzero(d2 <= eps2)
                keep = a_ids[ai] != b_ids[bj]
                ai, bj = ai[keep], bj[keep]
                yield pd.DataFrame({"a": a_ids[ai], "b": b_ids[bj],
                                    "d": np.sqrt(d2[ai, bj])})

        return arr.mapInPandas(gemm_pairs, schema=schema)
    lsh = BucketedRandomProjectionLSH(
        inputCol="scaled", outputCol="hashes",
        bucketLength=eps * 2, numHashTables=4, seed=42)
    model = lsh.fit(pts)
    joined = model.approxSimilarityJoin(pts, pts, eps, distCol="d")
    return (joined
            .select(F.col(f"datasetA.{key}").alias("a"),
                    F.col(f"datasetB.{key}").alias("b"), "d")
            .filter(F.col("a") != F.col("b")))


def dbscan_detector(scaled: DataFrame, eps: float = 0.5,
                    min_samples: int | None = None,
                    key: str = "user",
                    exact: bool | None = None,
                    max_iter: int = 30) -> DataFrame:
    """M5 proper: full DBSCAN — core/border/noise classification,
    cluster assignment, and the reference's two-sided score
    (`Comparaison_ML.py:204-251`): noise scores its distance to the
    NEAREST CORE point, cluster members score their MEAN distance to
    every member of their own cluster (self included, distance 0 — the
    reference's ``euclidean_distances([X[i]], cluster_points)`` keeps
    X[i] in ``cluster_points``), then one global min-max. Returns
    (key, cluster, dbscan_anomaly, dbscan_score); noise carries
    cluster NULL.

    sklearn semantics: a point is core iff its eps-ball holds ≥
    ``min_samples`` points INCLUDING itself; border points (non-core
    within eps of a core) join a cluster and are NOT noise. Clusters
    are connected components of the core-core eps-graph, computed by
    iterative min-label propagation: each pass is one edge join +
    group-min, localCheckpoint-pinned (small frame, Lloyd-like bounded
    driver traffic), converging in O(component diameter) ≤
    ``max_iter`` passes. Border points take the smallest core-neighbor
    label (sklearn's assignment is scan-order-dependent; smallest-label
    is the deterministic re-expression). The per-cluster mean-distance
    score is a self-join on the cluster label — Σ|cluster|² work, the
    same quadratic the reference pays in numpy, bounded per cluster
    rather than global.
    """
    n = scaled.count()
    if min_samples is None:
        min_samples = max(5, int(0.01 * n))
    if exact is None:
        exact = n <= 10_000

    pairs = _eps_pairs(scaled, eps, key, exact).localCheckpoint()
    counts = pairs.groupBy("a").agg(F.count("*").alias("n_nbrs"))
    pts = scaled.select(F.col(key), F.col("scaled"))
    # core iff |eps-ball ∪ {self}| ≥ min_samples
    role = (pts.join(counts, F.col(key) == F.col("a"), "left")
            .select(key, "scaled",
                    (F.coalesce("n_nbrs", F.lit(0)) + 1
                     >= min_samples).alias("is_core")))
    core_ids = (role.filter("is_core").select(F.col(key).alias("cid"))
                .localCheckpoint())

    # connected components over core-core edges (shared operator);
    # isolated core points (no core-core edge) are singleton clusters
    from threat_detection_nosql_spark.operators.graph import (
        connected_components)
    cc_edges = (pairs
                .join(core_ids.withColumnRenamed("cid", "a"), "a")
                .join(core_ids.withColumnRenamed("cid", "b"), "b")
                .select("a", "b"))
    comp = connected_components(cc_edges, "a", "b", max_iter=max_iter)
    labels = (core_ids
              .join(comp, F.col("cid") == F.col("node"), "left")
              .select("cid", F.coalesce("component", "cid")
                      .alias("cluster")))

    # border points: non-core with ≥1 core neighbor → smallest
    # core-neighbor's cluster label
    border = (pairs
              .join(labels.withColumnRenamed("cid", "b")
                    .withColumnRenamed("cluster", "b_cluster"), "b")
              .groupBy("a").agg(F.min("b_cluster").alias("border_cluster")))
    assigned = (role
                .join(labels, F.col(key) == F.col("cid"), "left")
                .join(border, F.col(key) == F.col("a"), "left")
                .select(key, "scaled", "is_core",
                        F.when(F.col("is_core"), F.col("cluster"))
                        .otherwise(F.col("border_cluster"))
                        .alias("cluster"))
                .withColumn("dbscan_anomaly",
                            F.col("cluster").isNull().cast("int"))
                .localCheckpoint())

    from pyspark.ml.functions import vector_to_array
    # cluster members: mean distance to own cluster (self included)
    mem = assigned.filter(F.col("cluster").isNotNull()).select(
        key, "cluster", vector_to_array("scaled").alias("va"))
    peer = mem.select(F.col("cluster"),
                      F.col("va").alias("vb"))
    pair_d = F.sqrt(F.aggregate(
        F.zip_with("va", "vb", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, x: acc + x))
    member_score = (mem.join(peer, "cluster")
                    .select(key, pair_d.alias("d"))
                    .groupBy(key).agg(F.avg("d").alias("raw_score")))
    # noise: distance to nearest core point (broadcast the small side)
    core_vecs = (assigned.filter("is_core")
                 .select(vector_to_array("scaled").alias("vb")))
    noise = (assigned.filter(F.col("cluster").isNull())
             .select(F.col(key).alias("nk"),
                     vector_to_array("scaled").alias("va")))
    noise_score = (core_vecs.join(F.broadcast(noise))
                   .select("nk", pair_d.alias("d"))
                   .groupBy("nk").agg(F.min("d").alias("noise_raw")))
    out = (assigned
           .join(member_score, key, "left")
           .join(noise_score, F.col(key) == F.col("nk"), "left")
           .select(key, "cluster", "dbscan_anomaly",
                   F.when(F.col("dbscan_anomaly") == 1,
                          # no core points at all → eps lower-bounds the
                          # true noise-core distance
                          F.coalesce("noise_raw", F.lit(float(eps))))
                   .otherwise(F.coalesce("raw_score", F.lit(0.0)))
                   .alias("dbscan_score")))
    return _minmax(out, "dbscan_score")


# ---------------------------------------------------------------------------
# M7: ensemble vote + weighted score
# ---------------------------------------------------------------------------

ENSEMBLE_WEIGHTS = {  # `Comparaison_ML.py:306-317`
    "iforest_score": 0.25,
    "maha_score": 0.20,
    "kmeans_score": 0.15,
    "dbscan_score": 0.20,
    "pca_score": 0.20,
}


def ensemble_detector(parts: dict[str, DataFrame],
                      key: str = "user") -> DataFrame:
    """Combine the five detectors' outputs (``parts`` keys: kmeans,
    pca, maha, iforest, dbscan): majority vote ≥3/5 (A14) and weighted
    mean of normalized scores (A15) — all column arithmetic after
    joining on the key (J7 done relationally, not positionally). It
    fits nothing itself: the query registry hands in the memoized
    frames the individual detector queries built."""
    dbs = parts["dbscan"].select(key, "dbscan_anomaly", "dbscan_score")
    out = (parts["kmeans"].join(parts["pca"], key).join(parts["maha"], key)
           .join(parts["iforest"], key).join(dbs, key))
    votes = (F.col("kmeans_anomaly") + F.col("pca_anomaly")
             + F.col("maha_anomaly") + F.col("iforest_anomaly")
             + F.col("dbscan_anomaly"))
    wsum = sum(ENSEMBLE_WEIGHTS.values())
    wscore = sum(F.col(c) * w for c, w in ENSEMBLE_WEIGHTS.items()) / wsum
    return (out
            .withColumn("votes", votes)
            .withColumn("ensemble_anomaly", (votes >= 3).cast("int"))
            .withColumn("ensemble_score", F.round(wscore, 6)))
