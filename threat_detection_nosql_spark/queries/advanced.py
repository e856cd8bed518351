"""Hash-seeded / ML-backed dedup & ANN queries.

Most of these are ORACLE-CHECKED since the operators moved to the
portable md5-derived hash (`operators/dedup._portable_hash60`): SimHash
fingerprints/pairs, winnowing fingerprints/overlap, and the
signature-based MinHash LSH are reproduced bit-for-bit by generated
DuckDB SQL below.

Still rows-only by construction: the Spark-ML MinHashLSH pair
(`minhash_near_dups`/`minhash_dedup`, MLlib xxhash64 signatures),
the engine-seeded ANN variants (`lsh_ann_topk` Spark-RNG hyperplanes /
`ivf_ann_topk` KMeans centroids — iterative/model-state, not
SQL-expressible), and the stubbed media kernels. Unit tests with
planted duplicates assert their semantics (tests/test_dedup.py,
tests/test_similarity.py). `srp_ann_topk` is the oracle-checked ANN:
same banded-LSH shape, but its hyperplanes derive from the portable
md5 hash, so DuckDB replays candidate generation + scoring exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from threat_detection_nosql_spark.operators import dedup, multimodal, similarity
from threat_detection_nosql_spark.sources.readers import load_table


# MLlib approxSimilarityJoin is the PARITY CHECK for the product path
# (minhash_sig_near_dups, oracle-backed portable signatures) — not the
# path itself: at the 10x soak the uncapped join ran 73x the banded
# product query (round-10 bench table). These registered variants cap
# the corpus to a fixed doc_id prefix (the _SIM_USER_CAP precedent) so
# no registry query degenerates at soak scale; the full sf0.01
# verification corpus stays under the cap, so driver records are
# unchanged there. The uncapped operator remains available to callers.
_MLLIB_PARITY_CAP = 5_000


def minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < _MLLIB_PARITY_CAP))
    return dedup.minhash_near_dup_pairs(docs, jaccard_threshold=0.9)


def minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < _MLLIB_PARITY_CAP))
    return dedup.minhash_dedup_keep(docs, jaccard_threshold=0.5)


def minhash_sig_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_signature_near_dups(docs)


def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_fingerprints(docs)


def simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_near_dup_pairs(docs, max_hamming=3)


def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.winnowing_fingerprints(docs)


def fingerprint_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.fingerprint_overlap_pairs(docs)


# query set = the N_QUERIES smallest vec_ids; the DuckDB oracles below
# (_srp_sql, _ivf_fixed_sql) interpolate this same constant, so the
# Spark query and the oracle can never drift apart
_N_QUERIES = 8


def _emb_and_queries(spark: SparkSession, sf_dir: str):
    emb = (load_table(spark, sf_dir, "embeddings")
           .select("vec_id",
                   F.col("embedding").cast("array<double>").alias("v")))
    qs = (emb.filter(F.col("vec_id") < _N_QUERIES)
          .select(F.col("vec_id").alias("q_id"), "v"))
    return emb, qs


# E2LSH knobs: 8 tables x 1 quantized projection, bucket width 0.1 in
# normalized-projection units — tuned offline against brute force on
# the testdata (recall 0.95/0.85 at sf0.01/sf0.001; this corpus's true
# neighbors sit at cosine ~0.3, so like the MLlib variant the tables
# trade pruning for recall). The oracle interpolates the same
# literals, so query and oracle can never drift.
_E2_TABLES, _E2_PROJ, _E2_W = 8, 1, 0.1


def lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Euclidean-bucket LSH ANN — ORACLE-BACKED since round 11: the
    md5-derived portable E2LSH (operators/similarity.e2lsh_neighbors)
    replaced Spark-RNG BucketedRandomProjectionLSH here (r10 verdict
    ask #7); the MLlib variant stays as an operator
    (similarity.lsh_cosine_neighbors) under tests/test_similarity.py."""
    emb, qs = _emb_and_queries(spark, sf_dir)
    return similarity.e2lsh_neighbors(
        emb, qs, k=5, n_tables=_E2_TABLES, n_proj=_E2_PROJ,
        bucket_w=_E2_W, queries_in_corpus=True)


# RETIRED from the registry in round 11 (r10 verdict ask #7), kept as
# a callable for tests: redundant with the oracle-backed
# ivf_fixed_ann_topk twin (same IVF algorithm, portable fixed-Lloyd
# quantizer instead of engine-seeded MLlib KMeans state).
def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb, qs = _emb_and_queries(spark, sf_dir)
    return similarity.ivf_cosine_neighbors(emb, qs, k=5)


def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode → value-histogram features (round 9 retired the
    byte-histogram ``_fake_decode`` stand-in): plant the deterministic
    BMP/PPM/WAV blobs, parse them back with the lib-free codecs, and
    bucket every decoded pixel byte / PCM sample into exact integer
    counts. The oracle regenerates the planted pixel lattice / sample
    series with generate_series and replays the same bucketing —
    decode drift anywhere breaks the hash."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.synth_media(docs)
    return multimodal.media_value_histogram(media, bucket=32)


def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strided keyframe sampling over REAL decoded PCM (round 9
    retired the metadata-only explode over fake media): 16-sample
    frames, every 4th kept, exact-integer stats per kept frame. Oracle
    = generate_series replay of the planted sawtooth with the same
    framing + stride filter."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.synth_media(docs)
    return multimodal.frame_sample(media, frame_len=16, every_n=4)


# Oracle replay of the planted patterns (operators/multimodal.py
# _synth_blob): bmp pixel[r,c,k] = base+r+16k+(c%4) over (8 x 4+id%5);
# ppm pixel[r,c,k] = base+c+32k over (6 x 3+id%7); wav s[i] =
# base+7*(i%40) over n = 64+id%100 samples. Sequential CTE levels so
# the generate_series unnests CROSS (stacked in one SELECT they zip).
_MEDIA_HIST_SQL = """
WITH d AS (
  SELECT doc_id, doc_id % 3 AS kind,
         CASE WHEN doc_id % 3 = 0 THEN 4 + doc_id % 5
              WHEN doc_id % 3 = 1 THEN 3 + doc_id % 7 END AS w,
         CASE WHEN doc_id % 3 = 0 THEN 8
              WHEN doc_id % 3 = 1 THEN 6 END AS h,
         doc_id % 180 AS ibase,
         doc_id % 1000 AS wbase, 64 + doc_id % 100 AS n
  FROM documents),
rws AS (
  SELECT doc_id, kind, w, ibase,
         unnest(generate_series(0, h - 1)) AS r
  FROM d WHERE kind IN (0, 1)),
px AS (
  SELECT doc_id, kind, ibase, r,
         unnest(generate_series(0, w - 1)) AS c
  FROM rws),
chan AS (
  SELECT doc_id, kind, ibase, r, c,
         unnest(generate_series(0, 2)) AS k
  FROM px),
imgv AS (
  SELECT doc_id,
         CASE WHEN kind = 0 THEN 'bmp' ELSE 'ppm' END AS media_kind,
         CASE WHEN kind = 0 THEN ibase + r + 16 * k + c % 4
              ELSE ibase + c + 32 * k END AS v
  FROM chan),
wavs AS (
  SELECT doc_id, wbase,
         unnest(generate_series(0, n - 1)) AS i
  FROM d WHERE kind = 2),
wavv AS (
  SELECT doc_id, 'wav' AS media_kind, wbase + 7 * (i % 40) AS v
  FROM wavs),
allv AS (SELECT * FROM imgv UNION ALL SELECT * FROM wavv)
SELECT doc_id, media_kind, CAST(v // 32 AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_values
FROM allv
GROUP BY doc_id, media_kind, v // 32
"""

_FRAME_SAMPLE_SQL = """
WITH d AS (
  SELECT doc_id, doc_id % 1000 AS base, 64 + doc_id % 100 AS n
  FROM documents WHERE doc_id % 3 = 2),
s0 AS (
  SELECT doc_id, base, unnest(generate_series(0, n - 1)) AS i FROM d),
s AS (
  SELECT doc_id, CAST(i AS BIGINT) AS i,
         CAST(base + 7 * (i % 40) AS BIGINT) AS v
  FROM s0),
frames AS (
  SELECT doc_id, CAST(i // 16 AS INT) AS frame_idx,
         CAST(count(*) AS INT) AS n_samples,
         CAST(sum(v) AS BIGINT) AS sample_sum,
         CAST(max(v) AS INT) AS frame_peak
  FROM s GROUP BY doc_id, i // 16)
SELECT * FROM frames WHERE frame_idx % 4 = 0
"""


# ---------------------------------------------------------------------------
# Generated DuckDB oracles (mirror operators/dedup.py bit-for-bit)
# ---------------------------------------------------------------------------

def _h60(x: str) -> str:
    """DuckDB spelling of operators/dedup._portable_hash60."""
    return f"CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"


_BITS = 60

# SimHash fingerprint CTE: token explode → hash60 → 60 ±1 bit sums →
# packed bigint (same shape as dedup.simhash_fingerprints)
_SIMHASH_BITSUMS = ",\n         ".join(
    f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
    for i in range(_BITS))
_SIMHASH_PACK = "\n           + ".join(
    f"CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(_BITS))
_SIMHASH_CTE = rf"""
tok AS (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok
        FROM documents),
h AS (SELECT doc_id, {_h60('tok')} AS h FROM tok),
bs AS (SELECT doc_id,
         {_SIMHASH_BITSUMS}
       FROM h GROUP BY doc_id),
fp AS (SELECT doc_id, CAST({_SIMHASH_PACK} AS BIGINT) AS simhash FROM bs)
"""

_SIMHASH_FP_SQL = f"WITH {_SIMHASH_CTE} SELECT doc_id, simhash FROM fp"

# pairs: the Spark banding is exact for max_hamming=3 (n_bands=4 covers
# all bits), so brute-force Hamming ≤ 3 is the semantic ground truth
_SIMHASH_PAIRS_SQL = f"""
WITH {_SIMHASH_CTE}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""

# Winnowing (k=8, window=16): 1-based k-gram positions; a window starts
# at pos while pos + window - 1 ≤ n_grams (Spark's posexplode pos is
# 0-based, hence its `pos <= n_grams - window` is this same bound)
_WINNOW_K = 8
_WINNOW_W = 16
_WINNOW_CTE = f"""
g AS (SELECT doc_id, i AS pos,
             {_h60(f'substring(text, i, {_WINNOW_K})')} AS h
      FROM documents,
           LATERAL (SELECT unnest(range(1,
                    greatest(length(text) - {_WINNOW_K - 1}, 0) + 1)) AS i)
                    ix),
wm AS (SELECT doc_id, pos,
              min(h) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN CURRENT ROW
                           AND {_WINNOW_W - 1} FOLLOWING) AS winmin,
              count(*) OVER (PARTITION BY doc_id) AS n_grams
       FROM g),
fps AS (SELECT DISTINCT doc_id, winmin AS fingerprint
        FROM wm WHERE pos <= n_grams - {_WINNOW_W} + 1)
"""

_WINNOW_FP_SQL = f"WITH {_WINNOW_CTE} SELECT doc_id, fingerprint FROM fps"

_FP_OVERLAP_SQL = f"""
WITH {_WINNOW_CTE},
df AS (SELECT fingerprint FROM fps
       GROUP BY fingerprint HAVING count(*) BETWEEN 2 AND 64),
ff AS (SELECT fps.doc_id, fps.fingerprint FROM fps JOIN df USING (fingerprint))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS shared_fingerprints
FROM ff a JOIN ff b
  ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= 2
"""

# MinHash signatures (n_hashes=16, shingle_len=3, bands of r=2):
# one base hash per shingle, affine permutations over GF(2^31−1) with
# the same md5-derived constants as operators/dedup.minhash_params
_MH_N = 16
_MH_R = 2
_MH_P = dedup._MH_PRIME
_MH_SIG = ",\n        ".join(
    f"min(({a} * ({_h60('shingle')} % {_MH_P}) + {b}) % {_MH_P}) AS s{i}"
    for i, (a, b) in enumerate(dedup.minhash_params(_MH_N)))
_MH_BAND_COND = "\n    OR ".join(
    "(" + " AND ".join(f"a.s{b * _MH_R + j} = b.s{b * _MH_R + j}"
                       for j in range(_MH_R)) + ")"
    for b in range(_MH_N // _MH_R))
_MH_EST = " + ".join(
    f"CASE WHEN sa.s{i} = sb.s{i} THEN 1 ELSE 0 END" for i in range(_MH_N))
_MINHASH_SIG_SQL = rf"""
WITH w AS (SELECT doc_id, string_split_regex(text, '\s+') AS wds
           FROM documents),
sh AS (SELECT DISTINCT doc_id,
              wds[i] || ' ' || wds[i+1] || ' ' || wds[i+2] AS shingle
       FROM w, LATERAL (SELECT unnest(range(1, len(wds) - 1)) AS i) ix),
sig AS (SELECT doc_id,
        {_MH_SIG}
        FROM sh GROUP BY doc_id),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         AND ({_MH_BAND_COND}))
SELECT c.doc_a, c.doc_b,
       round(({_MH_EST}) / {_MH_N}.0, 6) AS est_jaccard
FROM cand c
JOIN sig sa ON sa.doc_id = c.doc_a
JOIN sig sb ON sb.doc_id = c.doc_b
"""


# Round-11 registry deltas (r10 verdict ask #7): lsh_ann_topk moved to
# the oracle-backed portable E2LSH; ivf_ann_topk and minhash_dedup
# retired (redundant with oracle-backed twins ivf_fixed_ann_topk /
# minhash_sig_near_dups + the registered minhash_near_dups parity
# record) — the callables stay for tests/test_similarity.py and
# tests/test_dedup.py.
QUERIES = {
    "minhash_near_dups": minhash_near_dups,
    "minhash_sig_near_dups": minhash_sig_near_dups,
    "simhash_fingerprints": simhash_fingerprints,
    "simhash_near_dups": simhash_near_dups,
    "winnowing_fingerprints": winnowing_fingerprints,
    "fingerprint_overlap": fingerprint_overlap,
    "lsh_ann_topk": lsh_ann_topk,
    "media_features": media_features,
    "media_frame_sample": media_frame_sample,
}

ORACLES: dict[str, str] = {
    "minhash_sig_near_dups": _MINHASH_SIG_SQL,
    "simhash_fingerprints": _SIMHASH_FP_SQL,
    "simhash_near_dups": _SIMHASH_PAIRS_SQL,
    "winnowing_fingerprints": _WINNOW_FP_SQL,
    "fingerprint_overlap": _FP_OVERLAP_SQL,
    "media_features": _MEDIA_HIST_SQL,
    "media_frame_sample": _FRAME_SAMPLE_SQL,
}


# ---------------------------------------------------------------------------
# Portable SRP-LSH ANN — oracle-checked (deterministic hyperplanes)
# ---------------------------------------------------------------------------

_SRP_PLANES = 24
_SRP_BAND_BITS = 3
_SRP_DIM = 64


def srp_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb, qs = _emb_and_queries(spark, sf_dir)
    return similarity.srp_lsh_neighbors(
        emb, qs, k=5, n_planes=_SRP_PLANES, band_bits=_SRP_BAND_BITS,
        dim=_SRP_DIM, queries_in_corpus=True)


_EMB_CTE = "emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"


def _srp_ctes() -> list[str]:
    """SRP candidate-generation CTE chain (consumes ``emb``): planes →
    sign bits → banded signatures → distinct band-collision candidate
    pairs.  Shared by the standalone ANN oracle and the recall
    harness oracle so the two can never drift."""
    planes = similarity.srp_planes(_SRP_PLANES, _SRP_DIM)
    rows = ",\n  ".join(
        f"({p}, {p // _SRP_BAND_BITS}, {p % _SRP_BAND_BITS}, "
        f"[{', '.join(repr(w) for w in plane)}]::DOUBLE[])"
        for p, plane in enumerate(planes))
    return [f"""planes(plane, band, pos, w) AS (VALUES
  {rows})""", """
bits AS (SELECT vec_id, band, pos,
                CASE WHEN list_dot_product(v, w) > 0 THEN 1 ELSE 0 END AS bit
         FROM emb CROSS JOIN planes)""", """
sigs AS (SELECT vec_id, band, CAST(sum(bit << pos) AS BIGINT) AS sig
         FROM bits GROUP BY vec_id, band)""", f"""
cand AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS vec_id
         FROM sigs q JOIN sigs c ON q.band = c.band AND q.sig = c.sig
         WHERE q.vec_id < {_N_QUERIES} AND c.vec_id <> q.vec_id)"""]


_SRP_SCORED_CTE = """
srp_scored AS (SELECT q_id, cand.vec_id,
                  round(list_dot_product(a.v, b.v)
                        / (sqrt(list_dot_product(a.v, a.v))
                           * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
           FROM cand
           JOIN emb a ON a.vec_id = cand.q_id
           JOIN emb b ON b.vec_id = cand.vec_id)"""


def _srp_sql() -> str:
    return ("WITH " + ",\n".join([_EMB_CTE, *_srp_ctes(),
                                  _SRP_SCORED_CTE]) + """
SELECT q_id, vec_id, cosine, rank FROM (
  SELECT q_id, vec_id, cosine,
         CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
  FROM srp_scored) t
WHERE rank <= 5
""")


QUERIES["srp_ann_topk"] = srp_ann_topk
ORACLES["srp_ann_topk"] = _srp_sql()


def _e2lsh_sql() -> str:
    """Replay the portable E2LSH end-to-end: (table, projection)
    direction/offset literals → normalized-projection bucket ids →
    base-1000-packed table keys → key-collision candidates → the
    shared exact-cosine rescore. Identical op order to
    operators/similarity.e2lsh_keys (raw dot first, norm divides
    after, floor last)."""
    dirs, offs = similarity.e2lsh_params(
        _E2_TABLES, _E2_PROJ, _SRP_DIM, _E2_W)
    rows = ",\n  ".join(
        f"({t}, {i}, [{', '.join(repr(c) for c in d)}]::DOUBLE[], "
        f"{offs[t][i]!r})"
        for t, tbl in enumerate(dirs) for i, d in enumerate(tbl))
    mult = ("CASE pos "
            + " ".join(f"WHEN {i} THEN {1000 ** i}"
                       for i in range(_E2_PROJ))
            + " END")
    return f"""WITH {_EMB_CTE},
e2p(tbl, pos, w_vec, b) AS (VALUES
  {rows}),
e2b AS (SELECT e.vec_id, p.tbl, p.pos,
               CAST(floor((list_dot_product(e.v, p.w_vec)
                           / sqrt(list_dot_product(e.v, e.v)) + p.b)
                          / {_E2_W!r}) AS BIGINT) AS bk
        FROM emb e CROSS JOIN e2p p),
e2k AS (SELECT vec_id, tbl,
               CAST(sum((bk + 500) * {mult}) AS BIGINT) AS key
        FROM e2b GROUP BY vec_id, tbl),
cand AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS vec_id
         FROM e2k q JOIN e2k c ON q.tbl = c.tbl AND q.key = c.key
         WHERE q.vec_id < {_N_QUERIES} AND c.vec_id <> q.vec_id),
{_SRP_SCORED_CTE.lstrip()}
SELECT q_id, vec_id, cosine, rank FROM (
  SELECT q_id, vec_id, cosine,
         CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
  FROM srp_scored) t
WHERE rank <= 5
"""


ORACLES["lsh_ann_topk"] = _e2lsh_sql()


# ---------------------------------------------------------------------------
# Deterministic IVF ANN — oracle-checked (fixed-iteration Lloyd quantizer)
# ---------------------------------------------------------------------------

_IVF_K = 8        # coarse-quantizer cells
_IVF_ITERS = 2    # fixed Lloyd iterations (no convergence test)
_IVF_PROBE = 2    # cells searched per query
_IVF_TOPK = 5


def ivf_fixed_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN whose index is fully replayable in SQL: the coarse
    quantizer is operators/clustering.kmeans_fixed (deterministic seed =
    the _IVF_K smallest vec_ids, _IVF_ITERS synchronous Lloyd steps, no
    RNG), so the DuckDB oracle below unrolls the same iterations and
    reproduces index + probe + scoring end-to-end — unlike ivf_ann_topk,
    whose Spark-ML KMeans state is engine-seeded (rows-only check)."""
    from threat_detection_nosql_spark.operators import clustering
    emb, qs = _emb_and_queries(spark, sf_dir)
    assigned, cent = clustering.kmeans_fixed(
        emb, k=_IVF_K, n_iters=_IVF_ITERS)
    return clustering.ivf_fixed_neighbors(
        assigned, cent, qs, k=_IVF_TOPK, n_probe=_IVF_PROBE)


def _ivf_ctes() -> tuple[list[str], str]:
    """Unroll _IVF_ITERS Lloyd steps as CTE pairs (assign_i, cent_i):
    assignment = argmin Euclidean distance (ties on cell id), update =
    per-position mean reassembled in position order — bit-compatible
    with clustering.kmeans_fixed.  Consumes ``emb``; returns the CTE
    chain up through the probe (``qc``) plus the final-assignment CTE
    name, so both the standalone IVF oracle and the recall harness
    oracle replay the identical index."""
    assign = (
        "{out} AS (SELECT vec_id, v, cell FROM (\n"
        "  SELECT e.vec_id, e.v, c.cell,\n"
        "         row_number() OVER (PARTITION BY e.vec_id\n"
        "           ORDER BY list_distance(e.v, c.cv), c.cell) AS rn\n"
        "  FROM emb e CROSS JOIN {cent} c) t WHERE rn = 1)")
    update = (
        "{out} AS (SELECT cell, list(val ORDER BY pos) AS cv FROM (\n"
        "  SELECT cell, pos, avg(v[pos]) AS val\n"
        "  FROM {asg}, LATERAL (SELECT unnest(range(1, len(v) + 1))\n"
        "                       AS pos) ix\n"
        "  GROUP BY cell, pos) s GROUP BY cell)")
    ctes = [f"c0 AS (SELECT CAST(vec_id AS INT) AS cell, v AS cv "
            f"FROM emb WHERE vec_id < {_IVF_K})"]
    for i in range(_IVF_ITERS):
        ctes.append(assign.format(out=f"a{i + 1}", cent=f"c{i}"))
        ctes.append(update.format(out=f"c{i + 1}", asg=f"a{i + 1}"))
    final_asg, final_cent = f"a{_IVF_ITERS + 1}", f"c{_IVF_ITERS}"
    ctes.append(assign.format(out=final_asg, cent=final_cent))
    ctes.append(f"""
qc AS (SELECT q_id, q_v, cell FROM (
  SELECT q.vec_id AS q_id, q.v AS q_v, c.cell,
         row_number() OVER (PARTITION BY q.vec_id
           ORDER BY list_distance(q.v, c.cv), c.cell) AS rn
  FROM (SELECT * FROM emb WHERE vec_id < {_N_QUERIES}) q
  CROSS JOIN {final_cent} c) t WHERE rn <= {_IVF_PROBE})""")
    return ctes, final_asg


def _ivf_scored_cte(final_asg: str) -> str:
    return f"""
ivf_scored AS (SELECT qc.q_id, a.vec_id,
  round(list_dot_product(qc.q_v, a.v)
        / (sqrt(list_dot_product(qc.q_v, qc.q_v))
           * sqrt(list_dot_product(a.v, a.v))), 6) AS cosine
  FROM qc JOIN {final_asg} a USING (cell)
  WHERE a.vec_id <> qc.q_id)"""


def _ivf_fixed_sql() -> str:
    ctes, final_asg = _ivf_ctes()
    return ("WITH " + ",\n".join([_EMB_CTE, *ctes,
                                  _ivf_scored_cte(final_asg)]) + f"""
SELECT q_id, vec_id, cosine, rank FROM (
  SELECT q_id, vec_id, cosine,
         CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
  FROM ivf_scored) t
WHERE rank <= {_IVF_TOPK}""")


QUERIES["ivf_fixed_ann_topk"] = ivf_fixed_ann_topk
ORACLES["ivf_fixed_ann_topk"] = _ivf_fixed_sql()


# ---------------------------------------------------------------------------
# Near-dup GROUP canonicalization (round-5): the step an actual dedup
# pipeline runs after pair generation — transitive closure of the
# near-dup relation and one canonical survivor per group. Pairs alone
# under-delete: if A~B and B~C but A!~C, keeping "one of each pair"
# keeps two of {A,B,C}. Components fix that.
# ---------------------------------------------------------------------------

_NDG_THRESHOLD = 0.5


def near_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the portable-MinHash near-dup pair
    graph (est_jaccard ≥ 0.5), canonical = smallest doc_id per
    component. Every document keeps a row — docs with no near-dup are
    their own singleton component and their own canonical.

    Scale shape: pair generation is the banded-LSH equi-join
    (operators/dedup.minhash_signature_near_dups — never all-pairs);
    components run min-label propagation (operators/graph.
    connected_components) whose pass count is the dup-cluster
    diameter — near-dup clusters are cliques-ish, so single digits;
    the final assignment is one left join on doc_id. The oracle
    replays signatures, banding, threshold AND the transitive closure
    (recursive CTE) value-for-value."""
    from threat_detection_nosql_spark.operators.graph import (
        connected_components)

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_signature_near_dups(
        docs, min_est_jaccard=_NDG_THRESHOLD)
    comp = connected_components(pairs, "doc_a", "doc_b")
    return (docs.select("doc_id")
            .join(comp, F.col("doc_id") == F.col("node"), "left")
            .select("doc_id",
                    F.coalesce("component", "doc_id").alias("component"))
            .withColumn("is_canonical",
                        (F.col("doc_id") == F.col("component"))
                        .cast("int")))


_NEAR_DUP_GROUPS_SQL = rf"""
WITH RECURSIVE w AS (SELECT doc_id, string_split_regex(text, '\s+') AS wds
           FROM documents),
sh AS (SELECT DISTINCT doc_id,
              wds[i] || ' ' || wds[i+1] || ' ' || wds[i+2] AS shingle
       FROM w, LATERAL (SELECT unnest(range(1, len(wds) - 1)) AS i) ix),
sig AS (SELECT doc_id,
        {_MH_SIG}
        FROM sh GROUP BY doc_id),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         AND ({_MH_BAND_COND})),
pairs AS (SELECT c.doc_a, c.doc_b
          FROM cand c
          JOIN sig sa ON sa.doc_id = c.doc_a
          JOIN sig sb ON sb.doc_id = c.doc_b
          WHERE round(({_MH_EST}) / {_MH_N}.0, 6) >= {_NDG_THRESHOLD}),
edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
reach(node, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.u, reach.r FROM edges e JOIN reach ON reach.node = e.v)
SELECT node AS doc_id, min(r) AS component,
       CASE WHEN node = min(r) THEN 1 ELSE 0 END AS is_canonical
FROM reach GROUP BY node
"""


QUERIES_TAIL = {"near_dup_groups": near_dup_groups}
ORACLES_TAIL = {"near_dup_groups": _NEAR_DUP_GROUPS_SQL}


def near_dup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup survivor selection: one row per near-dup
    component with the member KEPT by the policy every production
    dedup actually ships — the highest-quality doc (longest n_chars,
    ties to the smallest doc_id), not merely the smallest id. The
    min-id canonical of ``near_dup_groups`` answers "which cluster";
    this answers "which copy survives into the training set".

    Shape: the component labels (shared connected-components over the
    banded MinHash pair graph), one join to the doc metadata, one
    per-component argmax window, one size roll-up of the SAME join —
    all keyed on component after the closure, so one extra shuffle
    total over the group query."""
    from pyspark.sql.window import Window as W
    # pinned: BOTH consumers below (metadata join + size roll-up)
    # otherwise replay the group query's join lineage (guide §2.4)
    comp = (near_dup_groups(spark, sf_dir).select("doc_id", "component")
            .localCheckpoint(eager=False))
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    j = comp.join(docs, "doc_id")
    w = W.partitionBy("component").orderBy(F.desc("n_chars"),
                                           F.asc("doc_id"))
    best = (j.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1))
    sizes = comp.groupBy("component").agg(F.count("*").alias("n_members"))
    return (best.join(sizes, "component")
            .select("component", "n_members",
                    F.col("doc_id").alias("keep_doc_id"),
                    F.col("n_chars").alias("keep_n_chars")))


_KEEP_BEST_SQL = (
    _NEAR_DUP_GROUPS_SQL.rsplit("SELECT node AS doc_id", 1)[0]
    + """, comp AS (SELECT node AS doc_id, min(r) AS component
           FROM reach GROUP BY node),
sized AS (SELECT component, CAST(count(*) AS BIGINT) AS n_members
          FROM comp GROUP BY 1),
ranked AS (SELECT c.component, d.doc_id, d.n_chars,
                  row_number() OVER (PARTITION BY c.component
                       ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
           FROM comp c JOIN documents d ON d.doc_id = c.doc_id)
SELECT component, n_members, doc_id AS keep_doc_id,
       n_chars AS keep_n_chars
FROM ranked JOIN sized USING (component)
WHERE rn = 1
""")

QUERIES_TAIL["near_dup_keep_best"] = near_dup_keep_best
ORACLES_TAIL["near_dup_keep_best"] = _KEEP_BEST_SQL


# ---------------------------------------------------------------------------
# ANN recall benchmark harness (round 7): recall@k of each approximate
# index against the exact brute-force top-k, WITH the candidate budget
# each method actually spent. This is the measurement a pipeline owner
# runs before trusting an ANN default: "what recall does this buy, and
# how many cosine evaluations did it cost vs the exact scan?"
# ---------------------------------------------------------------------------

_RECALL_K = 5


def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per method (exact / ivf_fixed / srp): query count, the
    candidate budget (pairs cosine-scored: exact = |Q|·(N−1), ANN =
    its pruned candidate set), and recall@5 vs the exact top-5 —
    average and worst query. Exact is its own baseline (recall 1.0 by
    construction, computed honestly through the same join).

    Determinism: recall ratios are single divisions of integer counts
    (total hits / (n_queries·k), min hits / k) — no float aggregation,
    so the DuckDB oracle replays bit-exactly. The ANN layers reuse the
    oracle-checked srp/ivf queries and candidate logic verbatim
    (operators/similarity.srp_signatures, operators/clustering
    .probe_cells), so the budget numbers are the real ones, not
    re-derivations that could drift.

    Scale shape: top-k frames are |Q|·k rows; the candidate COUNTS are
    map-combined aggregations over the banded-join / probe-join frames
    that the ANN queries already build — nothing materializes the
    candidate pairs wider than the ANN queries themselves do. The
    exact row's budget is computed as |Q|·(N−1) from two scalar
    counts, not by building the cross join."""
    k = _RECALL_K
    parts = _ann_recall_parts(spark, sf_dir)
    exact = parts["exact"]
    qset = exact.select("q_id").distinct()

    def summary(method: str, top: DataFrame,
                cand_count: DataFrame) -> DataFrame:
        """``cand_count``: 1-row frame with a long ``candidates``."""
        hits = (top.join(exact, ["q_id", "vec_id"])
                .groupBy("q_id").agg(F.count("*").alias("h")))
        per_q = (qset.join(hits, "q_id", "left")
                 .select(F.coalesce("h", F.lit(0)).alias("h")))
        tot = per_q.agg(F.count("*").alias("n_queries"),
                        F.sum("h").alias("tot_hits"),
                        F.min("h").alias("min_hits"))
        return (tot.crossJoin(F.broadcast(cand_count)).select(
            F.lit(method).alias("method"),
            F.col("n_queries").cast("long").alias("n_queries"),
            "candidates",
            F.round(F.col("tot_hits") / (F.col("n_queries") * k), 6)
             .alias("avg_recall"),
            F.round(F.col("min_hits") / k, 6).alias("min_recall")))

    def count1(cand: DataFrame) -> DataFrame:
        return cand.agg(F.count("*").cast("long").alias("candidates"))

    return (summary("exact", exact, parts["exact_cand"])
            .unionByName(summary("ivf_fixed", parts["ivf_top"],
                                 count1(parts["ivf_cand"])))
            .unionByName(summary("srp", parts["srp_top"],
                                 count1(parts["srp_cand"])))
            .orderBy("method"))


def _ann_recall_parts(spark: SparkSession,
                      sf_dir: str) -> dict[str, DataFrame]:
    """The recall harness's per-method frames, factored so
    tests/test_round13_parity.py can assert the inline srp/ivf top-k
    row-equal the standalone oracle-checked queries (the inline chains
    share the operators but not the code path — the parity test pins
    them together; r12 ADVICE #4)."""
    from threat_detection_nosql_spark.operators import clustering
    from threat_detection_nosql_spark.queries.pipeline import cosine_topk

    emb, qs = _emb_and_queries(spark, sf_dir)
    # lazy pin (same rationale as c_sig below): the exact top-k feeds
    # qset and all three summary branches of one final action — the
    # pinned partitions materialize once inside that action instead of
    # in a separate eager job at construction time
    exact = (cosine_topk(spark, sf_dir)
             .select("q_id", "vec_id").localCheckpoint(eager=False))
    qset = exact.select("q_id").distinct()

    # exact budget: |Q|·(N−1) from two scalar counts — the cross join
    # is never built
    n = emb.agg(F.count("*").alias("n"))
    exact_cand = (qset.agg(F.count("*").alias("nq"))
                  .crossJoin(F.broadcast(n))
                  .select((F.col("nq") * (F.col("n") - 1))
                          .cast("long").alias("candidates")))

    # srp budget AND top-k from ONE signature build: the round-7 form
    # called srp_ann_topk() for the top-k, which rebuilt the SRP
    # signature kernel pass a second time for the same rows — the
    # pinned (vec_id, band, sig) frame (|emb|·n_bands rows) now feeds
    # the band-collision budget count and the rescore candidates
    # (guide §2.4: two consumers, one exchange)
    planes = similarity.srp_planes(_SRP_PLANES, _SRP_DIM)
    # lazy pin: eager would run the full |emb|·n_bands signature job
    # at DataFrame-construction time (plan dumps, registry walks);
    # both consumers share the pinned partitions within the first
    # real action anyway
    c_sig = (similarity.srp_signatures(emb, planes, _SRP_BAND_BITS)
             .localCheckpoint(eager=False))
    q_sig = (c_sig.filter(F.col("vec_id") < _N_QUERIES)
             .select(F.col("vec_id").alias("q_id"), "band", "sig"))
    # NOTE (r13 negative result): pinning this candidate set (eager or
    # lazy) measured 5.6 -> 7.8 s — the ExistingRDD scan defeats the
    # planner's broadcast/AQE choices downstream and costs more than
    # the duplicated band join it saves. Left unpinned deliberately.
    srp_cand = (c_sig.join(q_sig, ["band", "sig"])
                .filter(F.col("q_id") != F.col("vec_id"))
                .select("q_id", "vec_id").distinct())
    # identical rows to srp_ann_topk (same candidate set, same shared
    # rescore path), without the second signature pass
    srp_top = (similarity.cosine_topk_from_candidates(
        emb, qs, srp_cand, k=_RECALL_K).select("q_id", "vec_id"))

    # ivf budget: vectors assigned to the probed cells (cells are
    # disjoint, so no distinct needed); the SAME pinned Lloyd chain
    # feeds the top-k below instead of ivf_fixed_ann_topk() re-training
    # its own copy of the quantizer
    assigned, cent = clustering.kmeans_fixed(
        emb, k=_IVF_K, n_iters=_IVF_ITERS)
    q_cells = clustering.probe_cells(cent, qs, n_probe=_IVF_PROBE)
    ivf_cand = (assigned.join(F.broadcast(
                    q_cells.select("q_id", "cell")), "cell")
                .filter(F.col("q_id") != F.col("vec_id"))
                .select("q_id", "vec_id"))
    ivf_top = (clustering.ivf_fixed_neighbors(
        assigned, cent, qs, k=_IVF_TOPK, n_probe=_IVF_PROBE)
        .select("q_id", "vec_id"))

    return {"exact": exact, "exact_cand": exact_cand,
            "srp_top": srp_top, "srp_cand": srp_cand,
            "ivf_top": ivf_top, "ivf_cand": ivf_cand}


def _ann_recall_sql() -> str:
    """Composite oracle: replay exact / srp / ivf top-5 AND each
    method's candidate budget from the same shared CTE chains the
    standalone oracles use, then the integer-count recall rollup."""
    k = _RECALL_K
    ivf_chain, final_asg = _ivf_ctes()
    srp_top_sql = """
srp_top AS (SELECT q_id, vec_id FROM (
  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         ORDER BY cosine DESC, vec_id ASC) AS rn
  FROM srp_scored) t WHERE rn <= %d)""" % k
    ivf_top_sql = """
ivf_top AS (SELECT q_id, vec_id FROM (
  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         ORDER BY cosine DESC, vec_id ASC) AS rn
  FROM ivf_scored) t WHERE rn <= %d)""" % k
    exact_sql = f"""
exact_scored AS (
  SELECT q.vec_id AS q_id, c.vec_id,
         round(list_dot_product(c.v, q.v)
               / (sqrt(list_dot_product(c.v, c.v))
                  * sqrt(list_dot_product(q.v, q.v))), 6) AS cosine
  FROM emb c CROSS JOIN (SELECT * FROM emb
                         WHERE vec_id < {_N_QUERIES}) q
  WHERE c.vec_id <> q.vec_id),
exact_top AS (SELECT q_id, vec_id FROM (
  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         ORDER BY cosine DESC, vec_id ASC) AS rn
  FROM exact_scored) t WHERE rn <= {k}),
qset AS (SELECT DISTINCT q_id FROM exact_top),
ivf_cand AS (SELECT qc.q_id, a.vec_id
             FROM qc JOIN {final_asg} a USING (cell)
             WHERE a.vec_id <> qc.q_id),
exact_n AS (SELECT (SELECT count(*) FROM qset)
                 * ((SELECT count(*) FROM emb) - 1) AS c)"""
    summ = """
sum_{m} AS (
  SELECT '{label}' AS method,
         CAST(count(*) AS BIGINT) AS n_queries,
         {cand} AS candidates,
         round(CAST(sum(h) AS DOUBLE) / (count(*) * {k}), 6)
           AS avg_recall,
         round(CAST(min(h) AS DOUBLE) / {k}, 6) AS min_recall
  FROM (SELECT q.q_id, coalesce(t.h, 0) AS h
        FROM qset q LEFT JOIN (
          SELECT s.q_id, count(*) AS h
          FROM {top} s JOIN exact_top e
            ON s.q_id = e.q_id AND s.vec_id = e.vec_id
          GROUP BY s.q_id) t ON q.q_id = t.q_id) p)"""
    sums = [
        summ.format(m="exact", label="exact", top="exact_top", k=k,
                    cand="(SELECT CAST(c AS BIGINT) FROM exact_n)"),
        summ.format(m="ivf", label="ivf_fixed", top="ivf_top", k=k,
                    cand="(SELECT CAST(count(*) AS BIGINT) "
                         "FROM ivf_cand)"),
        summ.format(m="srp", label="srp", top="srp_top", k=k,
                    cand="(SELECT CAST(count(*) AS BIGINT) FROM cand)"),
    ]
    return ("WITH " + ",\n".join(
        [_EMB_CTE, *_srp_ctes(), _SRP_SCORED_CTE, srp_top_sql,
         *ivf_chain, _ivf_scored_cte(final_asg), ivf_top_sql,
         exact_sql, *sums]) + """
SELECT * FROM sum_exact
UNION ALL SELECT * FROM sum_ivf
UNION ALL SELECT * FROM sum_srp
ORDER BY method""")


QUERIES_TAIL["ann_recall_report"] = ann_recall_report
ORACLES_TAIL["ann_recall_report"] = _ann_recall_sql()


# ---------------------------------------------------------------------------
# Round-7: leakage-aware split repair — the step that makes dedup and
# split assignment COMPOSE. A hash split assigns docs independently,
# so two near-duplicates can straddle train/valid — exactly the
# contamination benchmark_decontamination hunts after the fact. The
# repair moves every member of a near-dup component to its canonical
# member's split BEFORE training.
# ---------------------------------------------------------------------------


def split_leakage_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc split repair over the near-dup components: every doc in
    a multi-member MinHash component (est_jaccard >= 0.5 closure —
    the same graph as near_dup_groups) adopts the split of the
    component canonical (min doc_id); ``moved`` flags the docs whose
    98/1/1 hash split (corpus.dataset_split_assignment, same salt)
    changed. Singleton components never move and are excluded from
    the report.

    Scale shape: reuses the banded-LSH pair join + min-label
    components (never all-pairs); the repair itself is two broadcast-
    size joins on doc_id keyed by component. The oracle replays
    signatures, banding, closure AND the split hash value-for-value."""
    from threat_detection_nosql_spark.operators.graph import (
        connected_components)
    from threat_detection_nosql_spark.queries.corpus import (
        dataset_split_assignment)

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_signature_near_dups(
        docs, min_est_jaccard=_NDG_THRESHOLD)
    comp = (connected_components(pairs, "doc_a", "doc_b")
            .select(F.col("node").alias("doc_id"), "component"))
    sizes = (comp.groupBy("component").agg(F.count("*").alias("n"))
             .filter(F.col("n") >= 2).select("component"))
    multi = comp.join(sizes, "component")
    spl = dataset_split_assignment(spark, sf_dir)
    canon = (spl.select(F.col("doc_id").alias("component"),
                        F.col("split").alias("new_split")))
    return (multi.join(spl, "doc_id")
            .withColumnRenamed("split", "orig_split")
            .join(canon, "component")
            .select("doc_id", "component", "orig_split", "new_split",
                    F.when(F.col("orig_split") != F.col("new_split"), 1)
                    .otherwise(0).alias("moved"))
            .orderBy("component", "doc_id"))


_SPLIT_REPAIR_SQL = rf"""
WITH RECURSIVE w AS (SELECT doc_id, string_split_regex(text, '\s+') AS wds
           FROM documents),
sh AS (SELECT DISTINCT doc_id,
              wds[i] || ' ' || wds[i+1] || ' ' || wds[i+2] AS shingle
       FROM w, LATERAL (SELECT unnest(range(1, len(wds) - 1)) AS i) ix),
sig AS (SELECT doc_id,
        {_MH_SIG}
        FROM sh GROUP BY doc_id),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         AND ({_MH_BAND_COND})),
pairs AS (SELECT c.doc_a, c.doc_b
          FROM cand c
          JOIN sig sa ON sa.doc_id = c.doc_a
          JOIN sig sb ON sb.doc_id = c.doc_b
          WHERE round(({_MH_EST}) / {_MH_N}.0, 6) >= {_NDG_THRESHOLD}),
edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
reach(node, r) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.u, reach.r FROM edges e JOIN reach ON reach.node = e.v),
comp AS (SELECT node AS doc_id, min(r) AS component
         FROM reach GROUP BY node),
spl AS (SELECT doc_id,
               CASE WHEN b < 9800 THEN 'train'
                    WHEN b < 9900 THEN 'valid'
                    ELSE 'test' END AS split
        FROM (SELECT doc_id,
                     CAST(('0x' || substr(md5('split:'
                          || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                       % 10000 AS b
              FROM documents) t)
SELECT c.doc_id, c.component,
       s.split AS orig_split, cs.split AS new_split,
       CASE WHEN s.split <> cs.split THEN 1 ELSE 0 END AS moved
FROM comp c
JOIN spl s ON s.doc_id = c.doc_id
JOIN spl cs ON cs.doc_id = c.component
ORDER BY c.component, c.doc_id
"""

QUERIES_TAIL["split_leakage_repair"] = split_leakage_repair
ORACLES_TAIL["split_leakage_repair"] = _SPLIT_REPAIR_SQL


# -- Incremental corpus dedup: a NEW batch screened against the corpus --------

_INC_EST_MIN = 8  # near-dup verify: >= 8/16 agreeing signature parts


_INC_BANDS, _INC_R = 8, 2


def _inc_normh() -> Column:
    return F.md5(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")))


def _inc_band_rows(sig: DataFrame, id_alias: str) -> DataFrame:
    """(id, band, v0..v{r-1}) long form of a signature frame — the
    join-key layout the persisted band index stores."""
    return sig.select(
        F.col("doc_id").alias(id_alias),
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     *[F.col(f"s{b * _INC_R + j}").alias(f"v{j}")
                       for j in range(_INC_R)])
            for b in range(_INC_BANDS)])).alias("bkey")
    ).select(id_alias, "bkey.*")


def _cache_root() -> str:
    """Per-user 0700 cache directory for persisted indexes (r10
    ADVICE): the former predictable world-shared /tmp paths let any
    other local user pre-plant a poisoned index that ``_index_ready``
    would trust. Override with TDNS_CACHE_DIR (e.g. a job-scoped
    scratch dir on a shared cluster)."""
    import os
    import tempfile
    root = os.environ.get("TDNS_CACHE_DIR") or os.path.join(
        tempfile.gettempdir(), f"tdns-{os.getuid()}")
    os.makedirs(root, mode=0o700, exist_ok=True)
    st = os.stat(root)
    if st.st_uid != os.getuid():
        raise RuntimeError(
            f"index cache {root} is owned by uid {st.st_uid}, "
            f"not {os.getuid()} — set TDNS_CACHE_DIR")
    os.chmod(root, 0o700)  # makedirs mode only applies on creation
    return root


def _sweep_stale_indexes(prefix: str, keep: str,
                         max_age_s: float = 7 * 86400) -> None:
    """Best-effort GC of old mtime-keyed index dirs (every rebuild of
    a soak directory mints a new key, so stale siblings accumulate
    unbounded). Only dirs untouched for ``max_age_s`` go — a
    concurrent session's live index for another dataset is never
    younger than its own build."""
    import os
    import shutil
    import time
    root = _cache_root()
    now = time.time()
    for name in os.listdir(root):
        p = os.path.join(root, name)
        if name.startswith(prefix) and p != keep:
            try:
                if now - os.path.getmtime(p) > max_age_s:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                pass


def _dedup_index_path(sf_dir: str) -> str:
    import hashlib
    import os
    doc = os.path.join(os.path.abspath(sf_dir), "documents.parquet")
    key = hashlib.md5(
        f"{doc}|{os.path.getmtime(doc)}".encode()).hexdigest()[:16]
    return os.path.join(_cache_root(), f"dedup_index_{key}")


def ensure_corpus_dedup_index(spark: SparkSession, sf_dir: str) -> str:
    """Persist the corpus side of the continuous-crawl dedup screen
    once per dataset: ``exact/`` (normalized-text md5 → smallest
    owning doc_id), ``signatures/`` (old_id, s0..s15), and ``bands/``
    (band, v0, v1, old_id) partitioned by band. Append-only in
    production (MinHash signatures are mergeable state; a new batch's
    signatures union in after screening). At 100 TB the bands table
    would be BUCKETED on the band key (sources/writers.write_bucketed)
    so each batch probe shuffles only the batch side; the partitioned
    parquet layout here keeps the same read pattern at test scale.
    Concurrent-safe via :func:`_promote_index`."""
    import os

    from threat_detection_nosql_spark.operators.sampling import hash_bucket
    path = _dedup_index_path(sf_dir)
    if _index_ready(path):
        return path
    staging = _index_staging(spark, path)
    try:
        docs = load_table(spark, sf_dir, "documents")
        corpus = docs.filter(
            hash_bucket(F.col("doc_id"), salt="batch") < 8000)
        (corpus.select(F.col("doc_id").alias("old_id"),
                       _inc_normh().alias("h"))
         .groupBy("h").agg(F.min("old_id").alias("exact_old"))
         .write.mode("overwrite").parquet(os.path.join(staging, "exact")))
        sig = dedup.minhash_signatures(corpus).localCheckpoint()
        (sig.withColumnRenamed("doc_id", "old_id")
         .write.mode("overwrite")
         .parquet(os.path.join(staging, "signatures")))
        (_inc_band_rows(sig, "old_id").repartition("band")
         .write.mode("overwrite").partitionBy("band")
         .parquet(os.path.join(staging, "bands")))
    except BaseException:
        import shutil
        shutil.rmtree(staging, ignore_errors=True)  # no leaked staging
        raise
    _promote_index(staging, path)
    _sweep_stale_indexes("dedup_index_", path)
    return path


def incremental_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-crawl dedup: screen an incoming batch against the
    EXISTING corpus instead of re-deduping the world. Docs split by
    the portable hash (salt 'batch': <80% = existing corpus, rest =
    the incoming batch); every incoming doc is classified
    'exact_dup' (normalized-text md5 matches an existing doc),
    'near_dup' (shares a MinHash LSH band with an existing doc AND
    >= 8/16 signature components agree — the S-curve verify), or
    'unique', with the smallest matching existing doc_id attached.

    Round 10 gave the corpus side the PRODUCTION shape its round-9
    docstring promised: :func:`ensure_corpus_dedup_index` builds the
    exact-hash map, signature table, and band index ONCE per dataset
    and persists them; every invocation after the first touches only
    the batch documents plus the persisted index — the asymmetric
    (new × old) screen that never rescans (let alone re-pairs) the
    corpus. The build is the same deterministic machinery
    (operators/dedup.minhash_signatures: one md5 per shingle, affine
    permutations in codegen), so the UNCHANGED oracle still replays
    normalization, signatures, banding, and agreement bit-for-bit —
    the hash compare proves the persisted round-trip changes nothing.

    Scale shape: batch signature build over ~20% of docs, band
    equi-join against the persisted index bounded by bucket
    collisions, one agreement verify join on the |candidates| frame,
    two broadcast-size left joins back onto the batch."""
    import os

    from threat_detection_nosql_spark.operators.sampling import hash_bucket
    path = ensure_corpus_dedup_index(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(hash_bucket(F.col("doc_id"), salt="batch") >= 8000)
    new_h = (batch.select("doc_id", _inc_normh().alias("h"))
             .localCheckpoint())
    exact_idx = spark.read.parquet(os.path.join(path, "exact"))
    exact = new_h.join(exact_idx, "h").select("doc_id", "exact_old")

    bsig = dedup.minhash_signatures(batch).localCheckpoint()
    old_b = spark.read.parquet(os.path.join(path, "bands"))
    cand = (_inc_band_rows(bsig, "new_id")
            .join(old_b, ["band"] + [f"v{j}" for j in range(_INC_R)])
            .select("new_id", "old_id").distinct())
    sa = bsig.select(F.col("doc_id").alias("new_id"),
                     *[F.col(f"s{i}").alias(f"a{i}") for i in range(16)])
    sc = (spark.read.parquet(os.path.join(path, "signatures"))
          .select("old_id",
                  *[F.col(f"s{i}").alias(f"b{i}") for i in range(16)]))
    agree = sum((F.col(f"a{i}") == F.col(f"b{i}")).cast("int")
                for i in range(16))
    near = (cand.join(sa, "new_id").join(sc, "old_id")
            .filter(agree >= F.lit(_INC_EST_MIN))
            .groupBy("new_id").agg(F.min("old_id").alias("near_old"))
            .withColumnRenamed("new_id", "doc_id"))
    return (new_h.select("doc_id")
            .join(exact, "doc_id", "left")
            .join(near, "doc_id", "left")
            .select("doc_id",
                    F.when(F.col("exact_old").isNotNull(),
                           F.lit("exact_dup"))
                     .when(F.col("near_old").isNotNull(),
                           F.lit("near_dup"))
                     .otherwise(F.lit("unique")).alias("status"),
                    F.coalesce("exact_old", "near_old")
                    .alias("matched_old"))
            .orderBy("doc_id"))


_INC_SQL = rf"""
WITH w AS (SELECT doc_id, string_split_regex(text, '\s+') AS wds
           FROM documents),
sh AS (SELECT DISTINCT doc_id,
              wds[i] || ' ' || wds[i+1] || ' ' || wds[i+2] AS shingle
       FROM w, LATERAL (SELECT unnest(range(1, len(wds) - 1)) AS i) ix),
sig AS (SELECT doc_id,
        {_MH_SIG}
        FROM sh GROUP BY doc_id),
bkt AS (SELECT doc_id,
               CAST(('0x' || substr(md5('batch:'
                    || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                 % 10000 AS bk
        FROM documents),
nh AS (SELECT d.doc_id,
              md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS h
       FROM documents d),
newd AS (SELECT doc_id FROM bkt WHERE bk >= 8000),
oldd AS (SELECT doc_id FROM bkt WHERE bk < 8000),
exact AS (SELECT n.doc_id, min(o.doc_id) AS exact_old
          FROM newd n
          JOIN nh a ON a.doc_id = n.doc_id
          JOIN nh b ON b.h = a.h
          JOIN oldd o ON o.doc_id = b.doc_id
          GROUP BY n.doc_id),
cand AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
         FROM sig a JOIN sig b ON ({_MH_BAND_COND})
         JOIN newd n ON n.doc_id = a.doc_id
         JOIN oldd o ON o.doc_id = b.doc_id),
near AS (SELECT new_id AS doc_id, min(old_id) AS near_old FROM (
           SELECT c.new_id, c.old_id
           FROM cand c
           JOIN sig sa ON sa.doc_id = c.new_id
           JOIN sig sb ON sb.doc_id = c.old_id
           WHERE ({_MH_EST}) >= {_INC_EST_MIN}) t
         GROUP BY new_id)
SELECT n.doc_id,
       CASE WHEN e.exact_old IS NOT NULL THEN 'exact_dup'
            WHEN r.near_old IS NOT NULL THEN 'near_dup'
            ELSE 'unique' END AS status,
       coalesce(e.exact_old, r.near_old) AS matched_old
FROM newd n
LEFT JOIN exact e ON e.doc_id = n.doc_id
LEFT JOIN near r ON r.doc_id = n.doc_id
ORDER BY n.doc_id
"""

QUERIES_TAIL["incremental_corpus_dedup"] = incremental_corpus_dedup
ORACLES_TAIL["incremental_corpus_dedup"] = _INC_SQL


def minhash_calibration_report(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """MinHash accuracy audit: for every banded-LSH candidate pair,
    the EXACT shingle Jaccard is computed (restricted to candidates —
    never all-pairs) and grouped by the signature agreement count k
    (the estimate is exactly k/16). Per k: pair count, the estimate,
    and mean/min/max exact Jaccard — the calibration curve that tells
    an operator whether the 16-permutation sketch is trustworthy at
    their dedup threshold (the companion to ann_recall_report, for
    the MinHash family).

    Exactness: k is recovered as round(est·16) (est is k/16 rounded
    to 6 — an exact decimal, 1/16 steps); per-pair exact Jaccard is
    scaled to an integer j_ppm = |∩|·10⁶ div |∪| BEFORE the
    cross-pair mean, so the sum is order-independent; min/max ride
    the same integers.

    Scale shape: the intersection join fans out candidate pairs by
    doc_a's shingles then equi-joins on (doc_b, shingle) — work
    proportional to Σ|shingles(a)| over candidate pairs, the same
    budget as rescoring, not corpus²; per-doc set sizes are one agg,
    joined twice; output is ≤17 rows."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_signature_near_dups(docs)
    cand = pairs.select(
        "doc_a", "doc_b",
        F.round(F.col("est_jaccard") * 16).cast("int").alias("k"))
    sh = dedup.minhash_shingles(docs).localCheckpoint()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (cand.join(sa, "doc_a").join(sb, ["doc_b", "shingle"])
             .groupBy("doc_a", "doc_b", "k")
             .agg(F.count("*").alias("inter")))
    scored = (cand.join(inter.select("doc_a", "doc_b", "inter"),
                        ["doc_a", "doc_b"], "left")
              .withColumn("inter", F.coalesce("inter", F.lit(0)))
              .join(sizes.withColumnRenamed("doc_id", "doc_a")
                    .withColumnRenamed("n_sh", "na"), "doc_a")
              .join(sizes.withColumnRenamed("doc_id", "doc_b")
                    .withColumnRenamed("n_sh", "nb"), "doc_b")
              .withColumn("j_ppm",
                          F.expr("CAST(inter * 1000000 AS BIGINT) "
                                 "div (na + nb - inter)")))
    return (scored.groupBy("k")
            .agg(F.count("*").alias("n_pairs"),
                 F.sum("j_ppm").alias("sum_ppm"),
                 F.min("j_ppm").alias("min_ppm"),
                 F.max("j_ppm").alias("max_ppm"))
            .select(
                "k", "n_pairs",
                F.round(F.col("k") / 16.0, 6).alias("est_jaccard"),
                F.round(F.col("sum_ppm").cast("double")
                        / F.col("n_pairs") / 1e6, 6)
                .alias("mean_exact_jaccard"),
                F.round(F.col("min_ppm").cast("double") / 1e6, 6)
                .alias("min_exact_jaccard"),
                F.round(F.col("max_ppm").cast("double") / 1e6, 6)
                .alias("max_exact_jaccard"))
            .orderBy("k"))


_MH_CALIB_SQL = rf"""
WITH w AS (SELECT doc_id, string_split_regex(text, '\s+') AS wds
           FROM documents),
sh AS (SELECT DISTINCT doc_id,
              wds[i] || ' ' || wds[i+1] || ' ' || wds[i+2] AS shingle
       FROM w, LATERAL (SELECT unnest(range(1, len(wds) - 1)) AS i) ix),
sig AS (SELECT doc_id,
        {_MH_SIG}
        FROM sh GROUP BY doc_id),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         AND ({_MH_BAND_COND})),
ck AS (SELECT c.doc_a, c.doc_b,
              CAST(({_MH_EST}) AS INT) AS k
       FROM cand c
       JOIN sig sa ON sa.doc_id = c.doc_a
       JOIN sig sb ON sb.doc_id = c.doc_b),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
          FROM sh GROUP BY doc_id),
inter AS (SELECT k.doc_a, k.doc_b,
                 CAST(count(sb.shingle) AS BIGINT) AS inter
          FROM ck k
          LEFT JOIN sh sa ON sa.doc_id = k.doc_a
          LEFT JOIN sh sb ON sb.doc_id = k.doc_b
                         AND sb.shingle = sa.shingle
          GROUP BY k.doc_a, k.doc_b),
scored AS (
  SELECT k.k,
         CAST(i.inter * 1000000 AS BIGINT)
           // (za.n_sh + zb.n_sh - i.inter) AS j_ppm
  FROM ck k
  JOIN inter i ON i.doc_a = k.doc_a AND i.doc_b = k.doc_b
  JOIN sizes za ON za.doc_id = k.doc_a
  JOIN sizes zb ON zb.doc_id = k.doc_b)
SELECT k, CAST(count(*) AS BIGINT) AS n_pairs,
       round(k / 16.0, 6) AS est_jaccard,
       round(CAST(sum(j_ppm) AS DOUBLE) / count(*) / 1e6, 6)
         AS mean_exact_jaccard,
       round(CAST(min(j_ppm) AS DOUBLE) / 1e6, 6) AS min_exact_jaccard,
       round(CAST(max(j_ppm) AS DOUBLE) / 1e6, 6) AS max_exact_jaccard
FROM scored
GROUP BY k
ORDER BY k
"""

QUERIES_TAIL["minhash_calibration_report"] = minhash_calibration_report
ORACLES_TAIL["minhash_calibration_report"] = _MH_CALIB_SQL


# ---------------------------------------------------------------------------
# PQ: product quantization — the compression half of IVF-PQ ANN
# (codebook quality report + asymmetric-distance top-k search)
# ---------------------------------------------------------------------------

_PQ_M = 4        # subspaces: the 64-dim embeddings split into 16-dim slices
_PQ_K = 4        # codes per subspace codebook
_PQ_ITERS = 2    # fixed synchronous Lloyd steps per codebook (no RNG)
_PQ_TOPK = 5
_PQ_DIM = _SRP_DIM // _PQ_M  # 16


def _pq_codebooks(spark: SparkSession, sf_dir: str):
    """Fused per-subspace PQ trainer: ONE grouped kmeans_fixed chain
    over the exploded (m, vec_id, 16-dim slice) frame instead of M
    independent Lloyd chains (operators/clustering.kmeans_fixed
    group_col — deterministic seed = _PQ_K smallest vec_ids per
    subspace, no RNG, per-subspace arithmetic identical because no
    aggregate ever mixes m values). The round-11 per-book form
    replayed each book's full Lloyd lineage into every consumer and
    pq_adc_topk's physical plan carried 156 Exchange nodes
    (`python scripts/dump_plans.py TAG SUFFIX pq_adc_topk` writes the
    plan to plans/TAG/); fused + final-centroid pin it
    scans the corpus once per iteration for all M books (guide §2.4).
    Returns (assigned, cent, qs): (m, vec_id, v, cell, dist) and the
    pinned (m, cell, cv) codebook table."""
    from threat_detection_nosql_spark.operators import clustering
    emb, qs = _emb_and_queries(spark, sf_dir)
    sliced = (emb.select(
        "vec_id",
        F.explode(F.array(*[
            F.struct(F.lit(m).alias("m"),
                     F.slice("v", m * _PQ_DIM + 1, _PQ_DIM).alias("v"))
            for m in range(_PQ_M)])).alias("s"))
        .select("vec_id", F.col("s.m").alias("m"), F.col("s.v").alias("v")))
    assigned, cent = clustering.kmeans_fixed(
        sliced, k=_PQ_K, n_iters=_PQ_ITERS, group_col="m")
    return assigned, cent, qs


def pq_quantization_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-subspace PQ codebook quality: vectors quantized, codes
    actually used, mean/max squared reconstruction error. The go/no-go
    audit before swapping a 100 TB float corpus for M-byte codes —
    64 dims × 4 B become 4 code bytes (64× smaller), and this report
    says what that costs in distortion, per subspace."""
    assigned, _cent, _qs = _pq_codebooks(spark, sf_dir)
    return (assigned.groupBy("m")
            .agg(F.count("*").alias("n"),
                 F.countDistinct("cell").alias("n_codes_used"),
                 F.round(F.avg(F.col("dist") * F.col("dist")), 6)
                  .alias("mse"),
                 F.round(F.max("dist"), 6).alias("max_dist"))
            .select(F.col("m").alias("subspace"), "n", "n_codes_used",
                    "mse", "max_dist"))


def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance PQ search: each query precomputes a lookup
    table of squared distances from its m-th slice to every codebook
    centroid (|Q|·M·K rows — tiny, broadcast), then the corpus is
    scored by JOINING ITS CODES against the LUT and summing M partial
    distances per (query, vector). The corpus side never touches
    floats at search time — at 100 TB the scan reads 4 code bytes per
    vector instead of 256 float bytes, the LUT join is broadcast, and
    the only shuffle is the (q_id, vec_id) partial-sum aggregation,
    pre-combined map-side. Rank by rounded distance with a vec_id
    tie-break so the top-k set is deterministic in both engines."""
    from pyspark.sql.window import Window as W

    from threat_detection_nosql_spark.operators.clustering import _sq_dist
    assigned, cent, qs = _pq_codebooks(spark, sf_dir)
    codes = assigned.select("m", "vec_id", F.col("cell").alias("code"))
    # per-(query, m) LUT rows: the query's m-th slice against the m-th
    # codebook — one crossJoin of |Q| queries with the pinned
    # M·K-row codebook table replaces M per-book scans of qs
    luts = (qs.crossJoin(F.broadcast(cent))
            .select("q_id", "m", F.col("cell").alias("code"),
                    _sq_dist(F.slice("v", F.col("m") * _PQ_DIM + 1,
                                     F.lit(_PQ_DIM)),
                             F.col("cv")).alias("pd")))
    scored = (codes.join(F.broadcast(luts), ["m", "code"])
              .filter(F.col("vec_id") != F.col("q_id"))
              .groupBy("q_id", "vec_id")
              .agg(F.round(F.sum("pd"), 6).alias("adist")))
    w = W.partitionBy("q_id").orderBy(F.asc("adist"), F.asc("vec_id"))
    return (scored.withColumn("rank",
                              F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= _PQ_TOPK)
            .select("q_id", "vec_id", "adist", "rank"))


def _pq_ctes(src: str = "emb") -> tuple[list[str], list[tuple[str, str]]]:
    """Unroll the M per-subspace Lloyd chains as CTEs (the _ivf_ctes
    pattern, parameterized by a sliced source): s{m} is the m-th
    16-dim slice of ``src`` (a (vec_id, v) CTE — the raw embeddings
    for plain PQ, coarse-cell residuals for IVF-PQ), p{m}c{i}/p{m}a{i}
    the centroid/assignment states.
    Returns (ctes, [(final_assign, final_cent) per subspace])."""
    assign = (
        "{out} AS (SELECT vec_id, v, cell FROM (\n"
        "  SELECT e.vec_id, e.v, c.cell,\n"
        "         row_number() OVER (PARTITION BY e.vec_id\n"
        "           ORDER BY list_distance(e.v, c.cv), c.cell) AS rn\n"
        "  FROM {src} e CROSS JOIN {cent} c) t WHERE rn = 1)")
    update = (
        "{out} AS (SELECT cell, list(val ORDER BY pos) AS cv FROM (\n"
        "  SELECT cell, pos, avg(v[pos]) AS val\n"
        "  FROM {asg}, LATERAL (SELECT unnest(range(1, len(v) + 1))\n"
        "                       AS pos) ix\n"
        "  GROUP BY cell, pos) s GROUP BY cell)")
    ctes: list[str] = []
    finals: list[tuple[str, str]] = []
    for m in range(_PQ_M):
        lo, hi = m * _PQ_DIM + 1, (m + 1) * _PQ_DIM
        sliced = f"s{m}"
        ctes.append(f"{sliced} AS (SELECT vec_id, v[{lo}:{hi}] AS v "
                    f"FROM {src})")
        ctes.append(f"p{m}c0 AS (SELECT CAST(vec_id AS INT) AS cell, "
                    f"v AS cv FROM {sliced} WHERE vec_id < {_PQ_K})")
        for i in range(_PQ_ITERS):
            ctes.append(assign.format(out=f"p{m}a{i + 1}", src=sliced,
                                      cent=f"p{m}c{i}"))
            ctes.append(update.format(out=f"p{m}c{i + 1}",
                                      asg=f"p{m}a{i + 1}"))
        final_asg = f"p{m}a{_PQ_ITERS + 1}"
        ctes.append(assign.format(out=final_asg, src=sliced,
                                  cent=f"p{m}c{_PQ_ITERS}"))
        finals.append((final_asg, f"p{m}c{_PQ_ITERS}"))
    return ctes, finals


def _pq_report_sql() -> str:
    ctes, finals = _pq_ctes()
    parts = []
    for m, (asg, cent) in enumerate(finals):
        parts.append(f"""
SELECT {m} AS subspace, CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT a.cell) AS BIGINT) AS n_codes_used,
       round(avg(pow(list_distance(a.v, c.cv), 2)), 6) AS mse,
       round(max(list_distance(a.v, c.cv)), 6) AS max_dist
FROM {asg} a JOIN {cent} c USING (cell)""")
    return ("WITH " + ",\n".join([_EMB_CTE, *ctes])
            + "\nSELECT * FROM (" + "\nUNION ALL".join(parts) + ") t")


def _pq_adc_sql() -> str:
    ctes, finals = _pq_ctes()
    code_parts = [f"SELECT {m} AS m, vec_id, cell AS code FROM {asg}"
                  for m, (asg, _cent) in enumerate(finals)]
    lut_parts = []
    for m, (_asg, cent) in enumerate(finals):
        lo, hi = m * _PQ_DIM + 1, (m + 1) * _PQ_DIM
        lut_parts.append(f"""
SELECT q.vec_id AS q_id, {m} AS m, c.cell AS code,
       pow(list_distance(q.v[{lo}:{hi}], c.cv), 2) AS pd
FROM (SELECT * FROM emb WHERE vec_id < {_N_QUERIES}) q
CROSS JOIN {cent} c""")
    return ("WITH " + ",\n".join([
        _EMB_CTE, *ctes,
        "codes AS (" + " UNION ALL ".join(code_parts) + ")",
        "lut AS (" + " UNION ALL ".join(lut_parts) + ")",
        """scored AS (SELECT l.q_id, cd.vec_id,
       round(sum(l.pd), 6) AS adist
  FROM codes cd JOIN lut l USING (m, code)
  WHERE cd.vec_id <> l.q_id
  GROUP BY l.q_id, cd.vec_id)"""]) + f"""
SELECT q_id, vec_id, adist, rank FROM (
  SELECT q_id, vec_id, adist,
         CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY adist ASC, vec_id ASC) AS INT) AS rank
  FROM scored) t
WHERE rank <= {_PQ_TOPK}""")


QUERIES_TAIL["pq_quantization_report"] = pq_quantization_report
ORACLES_TAIL["pq_quantization_report"] = _pq_report_sql()
QUERIES_TAIL["pq_adc_topk"] = pq_adc_topk
ORACLES_TAIL["pq_adc_topk"] = _pq_adc_sql()


# ---------------------------------------------------------------------------
# Truncated-embedding (prefix-dimension) retrieval audit
# ---------------------------------------------------------------------------

_TRUNC_DIMS = (8, 16, 32)
_TRUNC_TOPK = 5


def truncated_embedding_recall(spark: SparkSession, sf_dir: str
                               ) -> DataFrame:
    """Recall@5 of prefix-truncated cosine search against the exact
    full-dimension top-5, per truncation width — the audit behind the
    matryoshka-style storage knob: if the first 16 of 64 dims already
    carry recall ~1, the ANN index (and every distance computation)
    shrinks 4x with no re-embedding. Complements the PQ report
    (codes) and sq8 audit (scalar quantization) as the third
    compression axis: dimensionality.

    Shape: the same broadcast-queries exact scan as cosine_topk run
    once per width over sliced arrays — an audit run on a sample at
    100 TB, never the serving path (that is the ANN family)."""
    from pyspark.sql.window import Window as W
    norm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x * x), F.lit(0.0),
        lambda acc, x: acc + x))
    dot = F.aggregate(F.zip_with("v", "q_v", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    emb0, _ = _emb_and_queries(spark, sf_dir)

    def topk(d: int | None) -> DataFrame:
        emb = (emb0 if d is None else
               emb0.select("vec_id", F.slice("v", 1, d).alias("v")))
        qs = (emb.filter(F.col("vec_id") < _N_QUERIES)
              .select(F.col("vec_id").alias("q_id"),
                      F.col("v").alias("q_v")))
        scored = (emb.crossJoin(F.broadcast(qs))
                  .filter(F.col("vec_id") != F.col("q_id"))
                  .select("q_id", "vec_id",
                          F.round(dot / (norm(F.col("v"))
                                         * norm(F.col("q_v"))), 6)
                          .alias("cosine")))
        w = W.partitionBy("q_id").orderBy(F.desc("cosine"),
                                          F.asc("vec_id"))
        return (scored.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= _TRUNC_TOPK)
                .select("q_id", "vec_id"))

    # the exact baseline is joined into every per-width branch — pin
    # its 40 rows once instead of replaying the full-dimension corpus
    # scan per truncation width
    exact = topk(None).localCheckpoint()
    denom = float(_N_QUERIES * _TRUNC_TOPK)
    out = None
    for d in _TRUNC_DIMS:
        inter = (topk(d).join(exact, ["q_id", "vec_id"])
                 .agg(F.count("*").alias("n_inter")))
        one = inter.select(
            F.lit(d).alias("trunc_dim"),
            F.col("n_inter"),
            F.round(F.col("n_inter") / F.lit(denom), 4)
            .alias("mean_recall"))
        out = one if out is None else out.unionByName(one)
    return out


def _trunc_recall_sql() -> str:
    def topk_cte(name: str, vexpr: str) -> str:
        return f"""{name} AS (
  SELECT q_id, vec_id FROM (
    SELECT q.q_id, e.vec_id,
           round(list_dot_product({vexpr('e')}, {vexpr('q')})
                 / (sqrt(list_dot_product({vexpr('e')}, {vexpr('e')}))
                    * sqrt(list_dot_product({vexpr('q')},
                                            {vexpr('q')}))), 6)
             AS cosine,
           row_number() OVER (PARTITION BY q.q_id
             ORDER BY round(list_dot_product({vexpr('e')}, {vexpr('q')})
                 / (sqrt(list_dot_product({vexpr('e')}, {vexpr('e')}))
                    * sqrt(list_dot_product({vexpr('q')},
                                            {vexpr('q')}))), 6) DESC,
               e.vec_id ASC) AS rank
    FROM emb e CROSS JOIN
         (SELECT vec_id AS q_id, v FROM emb
          WHERE vec_id < {_N_QUERIES}) q
    WHERE e.vec_id <> q.q_id) t
  WHERE rank <= {_TRUNC_TOPK})"""

    full = lambda a: f"{a}.v"  # noqa: E731
    ctes = [_EMB_CTE, topk_cte("ex", full)]
    selects = []
    denom = float(_N_QUERIES * _TRUNC_TOPK)
    for d in _TRUNC_DIMS:
        sliced = lambda a, d=d: f"{a}.v[1:{d}]"  # noqa: E731
        ctes.append(topk_cte(f"t{d}", sliced))
        selects.append(f"""
SELECT {d} AS trunc_dim, CAST(count(*) AS BIGINT) AS n_inter,
       round(count(*) / {denom}, 4) AS mean_recall
FROM t{d} JOIN ex USING (q_id, vec_id)""")
    return ("WITH " + ",\n".join(ctes)
            + "\nUNION ALL\n".join(selects))


QUERIES_TAIL["truncated_embedding_recall"] = truncated_embedding_recall
ORACLES_TAIL["truncated_embedding_recall"] = _trunc_recall_sql()


# ---------------------------------------------------------------------------
# IVF-PQ: the full composed ANN index — coarse quantizer for pruning,
# residual product quantization for in-cell scoring
# ---------------------------------------------------------------------------

def _ivfpq_train(spark: SparkSession, sf_dir: str):
    """Deterministic IVF-PQ index build: fixed-Lloyd coarse quantizer,
    then per-subspace fixed-Lloyd codebooks over COARSE-CELL RESIDUALS
    (v − centroid) — the residual trick is what makes 4 code bytes
    competitive, because residual magnitudes are a fraction of raw
    ones. Returns ``(cent, books, codes)``: (cell, cv) coarse
    centroids, (m, code, cv) flattened codebooks, and
    (vec_id, ccell, m, code) corpus codes.

    kmeans_fixed is deliberately lazy (single-consumer queries replay
    the short Lloyd lineage cheaper than a collect round-trip), but
    the build fans each trainer output into several consumers
    (residuals, codes, codebook write) — pin them once via
    localCheckpoint before the sink writes."""
    from threat_detection_nosql_spark.operators import clustering

    emb, _qs = _emb_and_queries(spark, sf_dir)
    assigned, cent = clustering.kmeans_fixed(
        emb, k=_IVF_K, n_iters=_IVF_ITERS)
    assigned = assigned.localCheckpoint()
    cent = cent.localCheckpoint()
    res = (assigned.join(cent, "cell")
           .select("vec_id",
                   F.zip_with("v", "cv", lambda x, y: x - y).alias("v")))
    coarse = assigned.select("vec_id", F.col("cell").alias("ccell"))
    books = codes = None
    for m in range(_PQ_M):
        sub = res.select(
            "vec_id", F.slice("v", m * _PQ_DIM + 1, _PQ_DIM).alias("v"))
        pasg, pcent = clustering.kmeans_fixed(
            sub, k=_PQ_K, n_iters=_PQ_ITERS)
        pasg, pcent = pasg.localCheckpoint(), pcent.localCheckpoint()
        b = pcent.select(F.lit(m).alias("m"),
                         F.col("cell").alias("code"), "cv")
        books = b if books is None else books.unionByName(b)
        c = (pasg.select("vec_id", F.col("cell").alias("code"))
             .join(coarse, "vec_id")
             .select("vec_id", "ccell", F.lit(m).alias("m"), "code"))
        codes = c if codes is None else codes.unionByName(c)
    return cent, books, codes


def _ivfpq_index_path(sf_dir: str) -> str:
    """Index location keyed by dataset identity (absolute path + source
    mtime), so a rebuilt soak directory invalidates the index while
    bench/check/driver runs over the same data reuse one build."""
    import hashlib
    import os
    emb = os.path.join(os.path.abspath(sf_dir), "embeddings.parquet")
    key = hashlib.md5(
        f"{emb}|{os.path.getmtime(emb)}".encode()).hexdigest()[:16]
    return os.path.join(_cache_root(), f"ivfpq_index_{key}")


def _index_ready(path: str) -> bool:
    import os
    ok = os.path.exists(os.path.join(path, "_INDEX_READY"))
    if ok:
        # reset the GC clock on every successful open: directory mtime
        # is otherwise frozen at build time, so a long-lived index
        # another session still reads would look stale to
        # _sweep_stale_indexes after max_age_s and get rmtree'd
        # mid-query (r11 ADVICE)
        try:
            os.utime(path, None)
        except OSError:
            pass
    return ok


def _index_staging(spark: SparkSession, path: str) -> str:
    import os
    return (f"{path}.build-{spark.sparkContext.applicationId}"
            f"-{os.getpid()}")


def _promote_index(staging: str, path: str) -> None:
    """Atomic publish of a freshly built index: marker file, then ONE
    rename. The loser of a concurrent-build race discards its staging
    dir and uses the winner's — no torn index is ever visible."""
    import os
    import shutil
    open(os.path.join(staging, "_INDEX_READY"), "w").close()
    try:
        os.rename(staging, path)
    except OSError:  # another session promoted first — use theirs
        shutil.rmtree(staging, ignore_errors=True)


def ensure_ivfpq_index(spark: SparkSession, sf_dir: str) -> str:
    """Build the IVF-PQ index once per dataset and persist it:
    ``coarse/`` (k rows), ``codebooks/`` (M·K rows), and ``codes/``
    cell-partitioned like write_ivf_index so a probe scans only the
    probed directories. Concurrent-safe via :func:`_promote_index`."""
    import os
    path = _ivfpq_index_path(sf_dir)
    if _index_ready(path):
        return path
    staging = _index_staging(spark, path)
    try:
        cent, books, codes = _ivfpq_train(spark, sf_dir)
        cent.write.mode("overwrite").parquet(
            os.path.join(staging, "coarse"))
        books.write.mode("overwrite").parquet(
            os.path.join(staging, "codebooks"))
        (codes.repartition("ccell")
         .write.mode("overwrite").partitionBy("ccell")
         .parquet(os.path.join(staging, "codes")))
    except BaseException:
        import shutil
        shutil.rmtree(staging, ignore_errors=True)  # no leaked staging
        raise
    _promote_index(staging, path)
    _sweep_stale_indexes("ivfpq_index_", path)
    return path


def ivfpq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ANN composition, now split build/search (round-9
    verdict ask): :func:`ensure_ivfpq_index` trains the deterministic
    coarse quantizer + residual PQ ONCE per dataset and persists the
    index; every invocation after the first is SEARCH-ONLY — probe the
    _IVF_PROBE nearest cells per query, slice per-subspace LUTs from
    the persisted codebooks, and asymmetric-distance-score only the
    code bytes in the probed cell directories. Because the build is
    the same fixed-Lloyd machinery, the Lloyd-unrolled DuckDB oracle
    still replays index build + probe + ADC end-to-end — the hash
    compare proves the persisted round-trip changes nothing.

    Scale shape: the corpus persists as (coarse cell, 4 code bytes),
    cell-partitioned, so the probe scan lists only n_probe directories
    per query batch (PartitionFilters, pinned by test) and never reads
    a float vector; the LUT (|Q|·probe·M·K rows) broadcasts; the only
    shuffle is the (q_id, vec_id) partial-sum aggregation. Candidates
    joining on (coarse cell, m, code) means non-probed cells never
    produce rows — pruning happens IN the join key AND in the file
    listing."""
    import os

    from pyspark.sql.window import Window as W

    from threat_detection_nosql_spark.operators.clustering import (
        _sq_dist,
        probe_cells,
    )
    path = ensure_ivfpq_index(spark, sf_dir)
    _emb, qs = _emb_and_queries(spark, sf_dir)
    cent = spark.read.parquet(os.path.join(path, "coarse"))
    books = spark.read.parquet(os.path.join(path, "codebooks"))
    probes = probe_cells(cent, qs, n_probe=_IVF_PROBE)
    qres = (probes.join(cent, "cell")
            .select("q_id", F.col("cell").alias("ccell"),
                    F.zip_with("q_v", "cv", lambda x, y: x - y)
                    .alias("rqv")))
    # per-(m, code) LUT: slice the query residual by the codebook's own
    # m column (Column-typed slice start), one broadcastable frame
    lut = (qres.crossJoin(F.broadcast(books))
           .select("q_id", "ccell", "m", "code",
                   _sq_dist(F.slice("rqv", F.col("m") * _PQ_DIM + 1,
                                    F.lit(_PQ_DIM)),
                            F.col("cv")).alias("pd")))
    # bounded driver action: ≤ |Q|·n_probe cell ids → partition pruning
    probed = sorted({r["cell"] for r in
                     probes.select("cell").distinct().collect()})
    codes = (spark.read.parquet(os.path.join(path, "codes"))
             .filter(F.col("ccell").isin(probed)))
    scored = (codes.join(F.broadcast(lut), ["ccell", "m", "code"])
              .filter(F.col("vec_id") != F.col("q_id"))
              .groupBy("q_id", "vec_id")
              .agg(F.round(F.sum("pd"), 6).alias("adist")))
    w = W.partitionBy("q_id").orderBy(F.asc("adist"), F.asc("vec_id"))
    return (scored.withColumn("rank",
                              F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= _IVF_TOPK)
            .select("q_id", "vec_id", "adist", "rank"))


def _ivfpq_sql() -> str:
    coarse_ctes, coarse_final = _ivf_ctes()
    final_cent = f"c{_IVF_ITERS}"
    res = (f"res AS (SELECT a.vec_id,\n"
           f"  list_transform(generate_series(1, len(a.v)),\n"
           f"                 i -> a.v[i] - c.cv[i]) AS v\n"
           f"  FROM {coarse_final} a JOIN {final_cent} c USING (cell))")
    pq_ctes, pq_finals = _pq_ctes(src="res")
    qres = (f"qres AS (SELECT qc.q_id, qc.cell AS ccell,\n"
            f"  list_transform(generate_series(1, len(qc.q_v)),\n"
            f"                 i -> qc.q_v[i] - c.cv[i]) AS rqv\n"
            f"  FROM qc JOIN {final_cent} c USING (cell))")
    code_parts = [
        f"SELECT a.vec_id, a.cell AS ccell, {m} AS m, p.cell AS code\n"
        f"  FROM {pasg} p JOIN {coarse_final} a USING (vec_id)"
        for m, (pasg, _pc) in enumerate(pq_finals)]
    lut_parts = []
    for m, (_pasg, pcent) in enumerate(pq_finals):
        lo, hi = m * _PQ_DIM + 1, (m + 1) * _PQ_DIM
        lut_parts.append(
            f"SELECT q_id, ccell, {m} AS m, pc.cell AS code,\n"
            f"  pow(list_distance(rqv[{lo}:{hi}], pc.cv), 2) AS pd\n"
            f"  FROM qres CROSS JOIN {pcent} pc")
    return ("WITH " + ",\n".join([
        _EMB_CTE, *coarse_ctes, res, *pq_ctes, qres,
        "codes AS (" + " UNION ALL ".join(code_parts) + ")",
        "lut AS (" + " UNION ALL ".join(lut_parts) + ")",
        """scored AS (SELECT l.q_id, cd.vec_id,
       round(sum(l.pd), 6) AS adist
  FROM codes cd
  JOIN lut l ON l.ccell = cd.ccell AND l.m = cd.m AND l.code = cd.code
  WHERE cd.vec_id <> l.q_id
  GROUP BY l.q_id, cd.vec_id)"""]) + f"""
SELECT q_id, vec_id, adist, rank FROM (
  SELECT q_id, vec_id, adist,
         CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY adist ASC, vec_id ASC) AS INT) AS rank
  FROM scored) t
WHERE rank <= {_IVF_TOPK}""")


QUERIES_TAIL["ivfpq_adc_topk"] = ivfpq_adc_topk
ORACLES_TAIL["ivfpq_adc_topk"] = _ivfpq_sql()
