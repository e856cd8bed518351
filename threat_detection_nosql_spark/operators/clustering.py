"""Deterministic fixed-iteration Lloyd clustering (KMeans without RNG).

Spark ML's KMeans is model-state + engine RNG — correct, but not
oracle-checkable. This variant pins every source of nondeterminism:
initial centroids are the vectors of the ``k`` smallest ids, iteration
count is fixed (no convergence test), and argmin ties break on cell id
— so a SQL engine can replay the exact assignment. It is the coarse
quantizer behind the oracle-checked IVF ANN query
(queries/advanced.ivf_fixed_ann_topk).

Scale shape per iteration: the centroid table is k rows → broadcast;
assignment is a map-side argmin over k array expressions (no shuffle of
the corpus); the update is one map-combined (cell, pos) average — the
shuffle carries k·dim rows. The corpus is scanned once per iteration,
exactly like production distributed Lloyd.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _sq_dist(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                       F.lit(0.0), lambda acc, x: acc + x)


def kmeans_fixed(emb: DataFrame, k: int = 8, n_iters: int = 2,
                 vec_col: str = "v", id_col: str = "vec_id",
                 group_col: str | None = None, pin_final: bool = True
                 ) -> tuple[DataFrame, DataFrame]:
    """Run ``n_iters`` synchronous Lloyd steps from the deterministic
    seed (vectors with the ``k`` smallest ids). Returns
    ``(assigned, centroids)``: (id, v, cell, dist) with dist = Euclidean
    distance to the final centroid, and (cell, cv) centroid arrays.

    ``group_col``: train INDEPENDENT codebooks per group value in ONE
    Lloyd chain (the PQ subspace trainer) — assignment windows key on
    (group, id), the update aggregates on (group, cell), and the
    centroid broadcast becomes an equi-join on the group. Per-group
    arithmetic is identical to k separate calls (the groups never mix
    in any aggregate), but the corpus is scanned once per iteration
    for ALL groups instead of once per iteration per group.

    ``pin_final``: localCheckpoint the FINAL k·|groups|-row centroid
    table (lazily — materialized inside the first consumer job). The
    round-9 lazy design replayed the whole
    iteration lineage once per consumer — fine for a single-consumer
    query, but multi-consumer compositions (PQ's LUT + codes sides,
    the silhouette's b-join, the recall harness) re-ran every Lloyd
    step per reference and their physical plans grew to 96-156
    Exchange nodes (`python scripts/dump_plans.py TAG SUFFIX
    pq_adc_topk pq_quantization_report` writes the plans to
    plans/TAG/). Pinning k·dim doubles
    costs one bounded job and matches how distributed Lloyd ships
    centroids between iterations at real scale (guide §2.4/§5:
    truncate multi-consumer lineage at tiny state)."""
    gcols = [group_col] if group_col else []
    cent = (emb.filter(F.col(id_col) < k)
            .select(*gcols, F.col(id_col).cast("int").alias("cell"),
                    F.col(vec_col).alias("cv")))

    def assign(centroids: DataFrame) -> DataFrame:
        d = F.sqrt(_sq_dist(F.col(vec_col), F.col("cv")))
        w = Window.partitionBy(*gcols, id_col).orderBy(F.asc("dist"),
                                                       F.asc("cell"))
        joined = (emb.join(F.broadcast(centroids), group_col)
                  if group_col else emb.crossJoin(F.broadcast(centroids)))
        return (joined
                .withColumn("dist", d)
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .select(*gcols, id_col, vec_col, "cell", "dist"))

    for _ in range(n_iters):
        assigned = assign(cent)
        cent = (assigned
                .select(*gcols, "cell", F.posexplode(vec_col).alias("pos", "val"))
                .groupBy(*gcols, "cell", "pos")
                .agg(F.avg("val").alias("w"))
                .groupBy(*gcols, "cell")
                .agg(F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s["w"]).alias("cv")))
    if pin_final:
        # eager=False: the checkpoint materializes inside the FIRST
        # consumer job and is reused by every later one — callers that
        # discard the centroid table (kmeans_fixed_anomalies) pay
        # nothing, unlike an eager pin which would run the Lloyd chain
        # as its own extra job
        cent = cent.localCheckpoint(eager=False)
    return assign(cent), cent


def probe_cells(centroids: DataFrame, queries: DataFrame,
                n_probe: int = 2) -> DataFrame:
    """(q_id, q_v, cell) probe list: the ``n_probe`` nearest-centroid
    cells per query (ties on cell id). Split out of
    ``ivf_fixed_neighbors`` so the ANN recall harness
    (queries/advanced.ann_recall_report) can count the exact candidate
    budget the probe implies without re-deriving the probe logic."""
    d = F.sqrt(_sq_dist(F.col("v"), F.col("cv")))
    w = Window.partitionBy("q_id").orderBy(F.asc("qc_dist"), F.asc("cell"))
    return (queries.crossJoin(F.broadcast(centroids))
            .withColumn("qc_dist", d)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= n_probe)
            .select("q_id", F.col("v").alias("q_v"), "cell"))


def ivf_fixed_neighbors(assigned: DataFrame, centroids: DataFrame,
                        queries: DataFrame, k: int = 5,
                        n_probe: int = 2) -> DataFrame:
    """IVF probe over a ``kmeans_fixed`` index: each query searches only
    the ``n_probe`` cells whose centroids are closest (ties on cell id),
    then cosine-scores the vectors assigned to those cells. Fully
    deterministic, so the whole index+search replays in SQL
    (queries/advanced.ivf_fixed_ann_topk).

    Scale shape: centroid table is k rows → broadcast against the query
    batch; (q_id, cell) probes broadcast against the corpus, which at
    production scale is WRITTEN partitioned by cell — the probe join
    prunes to n_probe partitions per query, no corpus-wide shuffle.
    """
    q_cells = probe_cells(centroids, queries, n_probe)

    dot = F.aggregate(F.zip_with("v", "q_v", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    norm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(F.col(c), lambda x: x * x),
        F.lit(0.0), lambda acc, x: acc + x))
    scored = (assigned.join(F.broadcast(q_cells), "cell")
              .filter(F.col("q_id") != F.col("vec_id"))
              .select("q_id", "vec_id",
                      F.round(dot / (norm("v") * norm("q_v")), 6)
                      .alias("cosine")))
    rw = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(rw))
            .filter(F.col("rank") <= k)
            .select("q_id", "vec_id", "cosine", "rank"))
