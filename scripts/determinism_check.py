"""Same-engine determinism sweep for the rows-only registry queries.

The driver's correctness gate hashes oracle-backed queries against
DuckDB; rows-only queries (engine RNG / model state / stream state)
only get a rows-returned check. This script closes the remaining gap
the oracle can't: it runs each rows-only query TWICE — in two separate
vanilla SparkSessions — and compares the driver-style canonical hash
(columns sorted, rows sorted, floats rounded to 6). A mismatch means
the query's output depends on partitioning/scheduling luck, which
would also make the driver's rows-only record unstable.

Usage: python scripts/determinism_check.py [--sf DIR] [names...]
"""
from __future__ import annotations

import hashlib
import os
import sys
import time

import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.01"

# Queries whose output is EXPECTED to differ run-to-run, with the
# reason. Everything else rows-only must be bit-stable. Empty since
# round 10: the one exception (sketch_value_quantiles, unseeded
# DataSketches KLL compaction) was demoted to test-only coverage and
# the registry slot passed to the deterministic kmv_value_quantiles.
EXPECTED_NONDETERMINISTIC: dict[str, str] = {}


# Not check_all._canon: this one stringifies object columns, while
# check_all must fail on them as the correctness gate does.
def _canon(pdf: pd.DataFrame, float_round: int = 6) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)]
    for c in pdf.columns:
        if pdf[c].dtype.kind == "f":
            pdf[c] = pdf[c].round(float_round)
        elif pdf[c].dtype == object:
            # array/struct cells aren't sortable; stringify first
            pdf[c] = pdf[c].astype(str)
    pdf = pdf.sort_values(list(pdf.columns), kind="mergesort")
    return pdf.reset_index(drop=True)


def _hash(pdf: pd.DataFrame) -> str:
    return hashlib.md5(
        pdf.to_csv(index=False, float_format="%.6f").encode()).hexdigest()


def main() -> int:
    args = sys.argv[1:]
    sf_dir = SF_DIR
    if args and args[0] == "--sf":
        sf_dir, args = args[1], args[2:]
    sys.path.insert(0, REPO)
    import __spark_entry__ as entry
    from pyspark.sql import SparkSession

    queries = entry.queries()
    oracles = entry.oracle_sql()
    names = args or [n for n in queries if n not in oracles]
    problems = 0
    for name in names:
        hashes = []
        for _run in range(2):
            spark = (SparkSession.builder.master("local[8]")
                     .config("spark.sql.shuffle.partitions", "8")
                     .config("spark.ui.enabled", "false")
                     .appName(f"det_{name}_{_run}").getOrCreate())
            try:
                t0 = time.time()
                pdf = queries[name](spark, sf_dir).toPandas()
                hashes.append((_hash(_canon(pdf)), len(pdf),
                               round(time.time() - t0, 2)))
            except Exception as exc:  # noqa: BLE001
                hashes.append((f"ERR:{exc}"[:80], -1, 0.0))
            finally:
                spark.stop()
        # any ERR hash is a problem on its own — two different
        # failures truncated to the same 80 chars must not compare OK
        ok = (hashes[0][0] == hashes[1][0]
              and hashes[0][1] >= 0 and hashes[1][1] >= 0
              and not any(h[0].startswith("ERR:") for h in hashes))
        if not ok and name in EXPECTED_NONDETERMINISTIC:
            print(f"RND {name:40s} rows={hashes[0][1]} "
                  f"(expected: {EXPECTED_NONDETERMINISTIC[name][:60]}...)")
            continue
        problems += 0 if ok else 1
        print(f"{'OK ' if ok else 'BAD'} {name:40s} "
              f"rows={hashes[0][1]} {hashes[0][2]}s/{hashes[1][2]}s"
              + ("" if ok else f"  {hashes[0][0][:20]} != "
                 f"{hashes[1][0][:20]}"))
    print(f"{problems} problem(s) over {len(names)} rows-only queries")
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
