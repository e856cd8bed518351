"""Corpus-curation operators: LM-perplexity quality filtering,
importance reweighting, and hard-negative mining.

These extend the LLM-data-pipeline family (``queries/pipeline.py``,
``queries/corpus.py``) with the three selection mechanisms a
training-data pipeline runs after dedup/cleaning:

- ``doc_perplexity_filter`` — the CCNet-style quality gate (Wenzek et
  al. 2020, public knowledge): score every document under a language
  model trained on a held-out half of the corpus, bucket the corpus
  into head/middle/tail by the perplexity distribution.
- ``dsir_importance_weights`` — Data Selection with Importance
  Resampling (Xie et al. 2023, public knowledge): hashed-n-gram
  log-likelihood ratio of a target distribution vs the source
  distribution, the score DSIR resamples by.
- ``hard_negative_mining`` — contrastive-training data mining: for
  each query embedding, the nearest neighbors that carry a DIFFERENT
  label (the "hard negatives" a retrieval/embedding model trains
  against).

Cross-engine determinism: every per-document accumulation here is an
exact-BIGINT sum of pre-rounded 1e-9-unit log terms (summation order
never matters), and every emitted float is a single IEEE division of
exact integers followed by the explicit ``floor(x*1e6+0.5)/1e6``
rounding both engines share.  These are beyond-reference operators
(the training-data-pipeline mandate); the nearest reference surface
is the pandas feature scoring in data_preprocessing.py, which has no
corpus-selection step at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from threat_detection_nosql_spark.operators.dedup import _portable_hash60
from threat_detection_nosql_spark.sources.readers import load_table

_DSIR_BUCKETS = 256


def _round6(col):
    """The explicit half-up rounding both engines agree on bit-for-bit
    (Spark round() is decimal HALF_UP, DuckDB round() is float — they
    can differ one ulp exactly on the .5 boundary; floor(x*1e6+0.5)
    cannot)."""
    return F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)


# -- doc_perplexity_filter ---------------------------------------------------

def doc_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity quality filter: train an add-one-smoothed
    unigram LM on the even-doc_id half of the corpus (a deterministic
    held-out split, so scores are honest for the odd half), score every
    document's per-token cross-entropy under it (unseen tokens take the
    shared OOV mass 1/(N+V+1)), and bucket the corpus head/middle/tail
    at the 25th/75th cross-entropy percentiles — head is the fluent
    quarter a quality-gated pipeline keeps, tail the quarter it drops
    or downsamples.

    Differs from ``unigram_logprob_scores`` (the memoryless in-corpus
    score) in the three ways that make it a *filter*: held-out
    training split, explicit OOV smoothing (a corpus-external document
    can be scored at all), and the distribution-relative bucket label.

    Exactness: each token's −log2 p is pre-rounded to an integer number
    of 1e-9 units, so the per-document sum is exact BIGINT arithmetic —
    order-independent under any partitioning — and the final
    cross-entropy is one integer division + shared floor-rounding.

    Scale shape: one tokenize → one (doc, token) map-combinable agg
    feeds both the LM build and the scoring pass; the scoring join
    shuffles on token (skew keys are exactly the map-combined ones);
    the LM constants and the two percentile thresholds ride broadcast
    single-row frames.  The percentile is an exact single-pass agg over
    the |docs|-row score frame (entity grain, post-aggregation — the
    approx_percentile + broadcast-join swap applies at 100× like
    ``customer_value_ntiles``)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (docs.select(
        "doc_id", F.explode(F.split(F.col("text"), r"\s+")).alias("token"))
        .filter(F.col("token") != ""))
    dt = toks.groupBy("doc_id", "token").agg(F.count("*").alias("cnt"))
    vocab = (dt.filter(F.col("doc_id") % 2 == 0)
             .groupBy("token").agg(F.sum("cnt").alias("tf")))
    consts = vocab.agg(
        (F.sum("tf") + F.count("*") + F.lit(1)).cast("double").alias("denom"))
    lq_seen = F.floor(-F.log2((F.col("tf") + F.lit(1.0)) / F.col("denom"))
                      * F.lit(1e9) + F.lit(0.5))
    lq_oov = F.floor(-F.log2(F.lit(1.0) / F.col("denom"))
                     * F.lit(1e9) + F.lit(0.5))
    scored = (dt.join(vocab, "token", "left")
              .crossJoin(F.broadcast(consts))
              .select("doc_id", "cnt",
                      F.when(F.col("tf").isNotNull(), lq_seen)
                       .otherwise(lq_oov).alias("lq")))
    perdoc = (scored.groupBy("doc_id")
              .agg(F.sum("cnt").alias("n_tokens"),
                   F.sum(F.col("cnt") * F.col("lq")).alias("ce_units")))
    ce = perdoc.select(
        "doc_id", "n_tokens",
        _round6(F.col("ce_units") / (F.col("n_tokens") * F.lit(1e9)))
        .alias("cross_entropy"))
    thr = ce.agg(
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY cross_entropy)")
        .alias("q25"),
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY cross_entropy)")
        .alias("q75"))
    return (ce.crossJoin(F.broadcast(thr))
            .select("doc_id", "n_tokens", "cross_entropy",
                    F.when(F.col("cross_entropy") <= F.col("q25"), "head")
                     .when(F.col("cross_entropy") <= F.col("q75"), "middle")
                     .otherwise("tail").alias("ppl_bucket")))


_PERPLEXITY_SQL = r"""
WITH toks AS (SELECT doc_id,
                     unnest(string_split_regex(text, '\s+')) AS token
              FROM documents),
dt AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS cnt
       FROM toks WHERE token <> '' GROUP BY doc_id, token),
vocab AS (SELECT token, CAST(sum(cnt) AS BIGINT) AS tf
          FROM dt WHERE doc_id % 2 = 0 GROUP BY token),
consts AS (SELECT CAST(sum(tf) + count(*) + 1 AS DOUBLE) AS denom
           FROM vocab),
scored AS (SELECT doc_id, cnt,
                  CASE WHEN tf IS NOT NULL
                       THEN CAST(floor(-log2((tf + CAST(1 AS DOUBLE)) / denom)
                                       * 1e9 + 0.5) AS BIGINT)
                       ELSE CAST(floor(-log2(CAST(1 AS DOUBLE) / denom)
                                       * 1e9 + 0.5) AS BIGINT) END AS lq
           FROM dt LEFT JOIN vocab USING (token) CROSS JOIN consts),
perdoc AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
                  CAST(sum(cnt * lq) AS BIGINT) AS ce_units
           FROM scored GROUP BY doc_id),
ce AS (SELECT doc_id, n_tokens,
              floor(ce_units / (n_tokens * 1e9) * 1e6 + 0.5) / 1e6
                AS cross_entropy
       FROM perdoc),
thr AS (SELECT quantile_disc(cross_entropy, 0.25) AS q25,
               quantile_disc(cross_entropy, 0.75) AS q75
        FROM ce)
SELECT doc_id, n_tokens, cross_entropy,
       CASE WHEN cross_entropy <= q25 THEN 'head'
            WHEN cross_entropy <= q75 THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM ce CROSS JOIN thr
"""


# -- dsir_importance_weights -------------------------------------------------

def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): featurize every
    document as hashed unigrams + bigrams (the hashing trick — no
    global vocabulary, no second pass), fit add-one-smoothed bucket
    distributions for the TARGET slice (``lang = 'en'``) and the
    SOURCE remainder, and score each document by its hashed-n-gram
    log-likelihood ratio Σ cnt_b·log(p_target(b)/p_source(b)) — the
    quantity DSIR importance-resamples by to tilt a raw crawl toward a
    target domain.  Emitted both raw (``log_ratio``, DSIR's sampling
    key) and per-feature (``avg_log_ratio``, length-debiased for
    inspection).

    Exactness: per-bucket log-ratios are pre-rounded to 1e-9-unit
    BIGINTs, so per-document accumulation is exact integer arithmetic;
    final floats are single divisions + shared floor-rounding.

    Scale shape: the n-gram unfold is map-side array work on a pinned
    split column (never a positional self-join); bucket stats are one
    map-combinable agg with a hard 256-key domain (skew-proof by
    construction); the 256-row log-ratio table broadcasts onto the
    per-(doc, bucket) counts.  Scoring never reshuffles the corpus by
    anything wider than the 256-bucket key."""
    from threat_detection_nosql_spark.sources.readers import spread
    docs = spread(load_table(spark, sf_dir, "documents"))
    # pin the filtered split to a column FIRST: referencing split()
    # inside array lambdas re-tokenizes per element access (the
    # doc_novelty_scores O(words²) trap, PLANS.md round-5)
    base = docs.select(
        "doc_id", "lang",
        F.filter(F.split(F.col("text"), r"\s+"),
                 lambda x: x != "").alias("toks"))
    n = F.size(F.col("toks"))
    bigrams = F.zip_with(
        F.slice(F.col("toks"), 1, F.greatest(n - 1, F.lit(0))),
        F.slice(F.col("toks"), 2, F.greatest(n - 1, F.lit(0))),
        lambda x, y: F.concat_ws(" ", x, y))
    feats = (base
             .select("doc_id", "lang",
                     F.explode(F.concat(F.col("toks"), bigrams))
                     .alias("feat")))
    bucket = _portable_hash60(F.col("feat")) % _DSIR_BUCKETS
    fb = feats.select("doc_id", "lang", bucket.alias("bucket"))
    # ONE pass over the exploded features (guide §2.4): the before-plan
    # built the explode+md5 chain twice — once for the bucket stats and
    # once for the per-doc counts. The (doc, lang, bucket) pre-agg is
    # pinned (≤ |docs|·256 rows) and BOTH the bucket distributions and
    # the per-doc scoring aggregate from it; per-bucket sums of the
    # grouped counts are the same exact integers as per-feature sums.
    dbc = (fb.groupBy("doc_id", "lang", "bucket")
           .agg(F.count("*").alias("cnt"))
           .localCheckpoint(eager=False))
    is_t = (F.col("lang") == "en")
    stats = (dbc.groupBy("bucket")
             .agg(F.sum(F.when(is_t, F.col("cnt")).otherwise(F.lit(0)))
                  .alias("ct"),
                  F.sum(F.when(is_t, F.lit(0)).otherwise(F.col("cnt")))
                  .alias("cs")))
    totals = stats.agg(F.sum("ct").alias("nt"), F.sum("cs").alias("ns"))
    b = F.lit(float(_DSIR_BUCKETS))
    lr = F.floor((F.log2((F.col("ct") + F.lit(1.0)) / (F.col("nt") + b))
                  - F.log2((F.col("cs") + F.lit(1.0)) / (F.col("ns") + b)))
                 * F.lit(1e9) + F.lit(0.5))
    lrs = (stats.crossJoin(F.broadcast(totals))
           .select("bucket", lr.alias("lr")))
    perdoc = (dbc.join(F.broadcast(lrs), "bucket")
              .groupBy("doc_id", "lang")
              .agg(F.sum("cnt").alias("n_feats"),
                   F.sum(F.col("cnt") * F.col("lr")).alias("units")))
    return perdoc.select(
        "doc_id", "lang", "n_feats",
        _round6(F.col("units") / F.lit(1e9)).alias("log_ratio"),
        _round6(F.col("units") / (F.col("n_feats") * F.lit(1e9)))
        .alias("avg_log_ratio"))


_DSIR_SQL = rf"""
WITH p AS (SELECT doc_id, lang,
                  list_filter(string_split_regex(text, '\s+'),
                              x -> x <> '') AS l
           FROM documents),
toks AS (SELECT doc_id, lang, unnest(l) AS token,
                generate_subscripts(l, 1) AS pos
         FROM p),
feats AS (SELECT doc_id, lang, token AS feat FROM toks
          UNION ALL
          SELECT a.doc_id, a.lang, a.token || ' ' || b.token AS feat
          FROM toks a JOIN toks b
            ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
fb AS (SELECT doc_id, lang,
              CAST(('0x' || substr(md5(feat), 1, 15)) AS BIGINT)
                % {_DSIR_BUCKETS} AS bucket,
              CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t
       FROM feats),
stats AS (SELECT bucket, CAST(sum(is_t) AS BIGINT) AS ct,
                 CAST(sum(1 - is_t) AS BIGINT) AS cs
          FROM fb GROUP BY bucket),
totals AS (SELECT CAST(sum(ct) AS BIGINT) AS nt,
                  CAST(sum(cs) AS BIGINT) AS ns
           FROM stats),
lrs AS (SELECT bucket,
               CAST(floor((log2((ct + CAST(1 AS DOUBLE))
                                / (nt + CAST({_DSIR_BUCKETS} AS DOUBLE)))
                           - log2((cs + CAST(1 AS DOUBLE))
                                  / (ns + CAST({_DSIR_BUCKETS} AS DOUBLE))))
                          * 1e9 + 0.5) AS BIGINT) AS lr
        FROM stats CROSS JOIN totals),
perdoc AS (SELECT doc_id, lang, CAST(sum(cnt) AS BIGINT) AS n_feats,
                  CAST(sum(cnt * lr) AS BIGINT) AS units
           FROM (SELECT doc_id, lang, bucket,
                        CAST(count(*) AS BIGINT) AS cnt
                 FROM fb GROUP BY doc_id, lang, bucket) c
           JOIN lrs USING (bucket)
           GROUP BY doc_id, lang)
SELECT doc_id, lang, n_feats,
       floor(units / 1e9 * 1e6 + 0.5) / 1e6 AS log_ratio,
       floor(units / (n_feats * 1e9) * 1e6 + 0.5) / 1e6 AS avg_log_ratio
FROM perdoc
"""


# -- hard_negative_mining ----------------------------------------------------

def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    embedding (vec_id < 8, same query set as ``cosine_topk``), the
    top-5 most-cosine-similar vectors whose label DIFFERS from the
    query's — the near-miss negatives an embedding/retrieval model is
    trained to push away.  The exact complement of nearest-neighbor
    retrieval: same distance kernel, inverted label predicate.

    Scale shape identical to ``cosine_topk`` (its docstring has the
    plan): the query set broadcasts, the corpus never shuffles, norms
    precompute scan-side, and the top-k window runs on the |Q|-keyed
    score stream.  The SRP/IVF ANN variants (operators/similarity.py,
    operators/clustering.py) are the subquadratic path — mine negatives
    from ANN candidates when the corpus outgrows brute force."""
    norm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    emb = (load_table(spark, sf_dir, "embeddings")
           .select("vec_id", "label",
                   F.col("embedding").cast("array<double>").alias("v"))
           .withColumn("nv", norm(F.col("v"))))
    queries = (emb.filter(F.col("vec_id") < 8)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("label").alias("q_label"),
                       F.col("v").alias("q_v"), F.col("nv").alias("nq")))
    dot = F.aggregate(F.zip_with("v", "q_v", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    scored = (emb.crossJoin(F.broadcast(queries))
              .filter(F.col("label") != F.col("q_label"))
              .select("q_id", "q_label", "vec_id",
                      F.col("label").alias("neg_label"),
                      F.round(dot / (F.col("nv") * F.col("nq")),
                              6).alias("cosine")))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select("q_id", "q_label", "vec_id", "neg_label",
                    "cosine", "rank"))


_HARD_NEG_SQL = """
WITH emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
             FROM embeddings),
q AS (SELECT vec_id AS q_id, label AS q_label, v AS q_v
      FROM emb WHERE vec_id < 8),
scored AS (
  SELECT q_id, q_label, vec_id, label AS neg_label,
         round(list_dot_product(v, q_v)
               / (sqrt(list_dot_product(v, v))
                  * sqrt(list_dot_product(q_v, q_v))), 6) AS cosine
  FROM emb CROSS JOIN q
  WHERE label <> q_label)
SELECT q_id, q_label, vec_id, neg_label, cosine, rank FROM (
  SELECT q_id, q_label, vec_id, neg_label, cosine,
         CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
  FROM scored) t
WHERE rank <= 5
"""


QUERIES = {
    "doc_perplexity_filter": doc_perplexity_filter,
    "dsir_importance_weights": dsir_importance_weights,
    "hard_negative_mining": hard_negative_mining,
}

ORACLES = {
    "doc_perplexity_filter": _PERPLEXITY_SQL,
    "dsir_importance_weights": _DSIR_SQL,
    "hard_negative_mining": _HARD_NEG_SQL,
}

QUERIES_TAIL: dict = {}
ORACLES_TAIL: dict = {}
