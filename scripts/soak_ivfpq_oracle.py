"""Soak-scale IVF-PQ oracle: replay SEARCH ONLY against the persisted
index (round-9 verdict ask #4).

The registered ``ivfpq_adc_topk`` oracle unrolls the Lloyd training
chains as DuckDB CTEs — exact, but DuckDB OOMs materializing them at
the 100x soak (documented capacity boundary).  Since round 10 the
registered query persists its index (queries/advanced.ensure_
ivfpq_index: ``coarse/`` + ``codebooks/`` + cell-partitioned
``codes/``), so the soak check can replay just probe + LUT + ADC with
DuckDB reading the SAME index parquet the Spark search reads — no
Lloyd re-derivation, no OOM, full hash coverage at any soak scale.

What this does and does not prove: the search half (probe selection,
LUT construction, ADC scoring, ranking) is hash-proven at soak scale;
the build half is hash-proven by the registered Lloyd-unrolled oracle
at sf0.001/sf0.01/10x (where DuckDB can materialize it).  Together the
two cover the whole pipeline.

Usage: python scripts/soak_ivfpq_oracle.py [soak_dir]   (default
/tmp/soak_sf10, the 100x directory)
"""
from __future__ import annotations

import os
import sys
import time

import duckdb

from check_all import _canon, _hash

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/soak_sf10"
    from pyspark.sql import SparkSession
    from threat_detection_nosql_spark.queries import advanced as A

    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.driver.memory", "8g")
             .config("spark.ui.enabled", "false").getOrCreate())
    t = time.time()
    spark_pdf = _canon(A.ivfpq_adc_topk(spark, sf_dir).toPandas())
    t_spark = time.time() - t
    index = A._ivfpq_index_path(sf_dir)

    sql = f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v
             FROM read_parquet('{sf_dir}/embeddings.parquet*')),
coarse AS (SELECT cell, cv
           FROM read_parquet('{index}/coarse/*.parquet')),
books AS (SELECT m, code, cv
          FROM read_parquet('{index}/codebooks/*.parquet')),
codes AS (SELECT vec_id, m, code, CAST(ccell AS INT) AS ccell
          FROM read_parquet('{index}/codes/*/*.parquet',
                            hive_partitioning=true)),
qc AS (SELECT q_id, q_v, cell FROM (
  SELECT q.vec_id AS q_id, q.v AS q_v, c.cell,
         row_number() OVER (PARTITION BY q.vec_id
           ORDER BY list_distance(q.v, c.cv), c.cell) AS rn
  FROM (SELECT * FROM emb WHERE vec_id < {A._N_QUERIES}) q
  CROSS JOIN coarse c) t WHERE rn <= {A._IVF_PROBE}),
qres AS (SELECT qc.q_id, qc.cell AS ccell,
  list_transform(generate_series(1, len(qc.q_v)),
                 i -> qc.q_v[i] - c.cv[i]) AS rqv
  FROM qc JOIN coarse c USING (cell)),
lut AS (SELECT q_id, ccell, b.m, b.code,
  pow(list_distance(rqv[(b.m * {A._PQ_DIM} + 1):((b.m + 1)
                        * {A._PQ_DIM})], b.cv), 2) AS pd
  FROM qres CROSS JOIN books b),
scored AS (SELECT l.q_id, cd.vec_id, round(sum(l.pd), 6) AS adist
  FROM codes cd
  JOIN lut l ON l.ccell = cd.ccell AND l.m = cd.m AND l.code = cd.code
  WHERE cd.vec_id <> l.q_id
  GROUP BY l.q_id, cd.vec_id)
SELECT q_id, vec_id, adist, rank FROM (
  SELECT q_id, vec_id, adist,
         CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY adist ASC, vec_id ASC) AS INT) AS rank
  FROM scored) t
WHERE rank <= {A._IVF_TOPK}"""
    t = time.time()
    oracle_pdf = _canon(duckdb.connect().execute(sql).fetchdf())
    t_oracle = time.time() - t
    ok = (_hash(spark_pdf) == _hash(oracle_pdf)
          and len(spark_pdf) == len(oracle_pdf))
    print(f"{'OK' if ok else 'HASH MISMATCH'}  ivfpq search-replay "
          f"@ {sf_dir}: spark={len(spark_pdf)} rows {t_spark:.1f}s, "
          f"oracle={len(oracle_pdf)} rows {t_oracle:.1f}s")
    if not ok:
        print(spark_pdf.head(10))
        print(oracle_pdf.head(10))
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
