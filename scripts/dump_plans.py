"""Dump ``explain("formatted")`` for named queries into plans/<tag>/.

Usage: python scripts/dump_plans.py TAG SUFFIX name [name ...]

Writes plans/TAG/<name>_<SUFFIX>.txt (e.g. TAG=r12, SUFFIX=before).
Uses the bench session (get_spark) so the plan shape matches what the
bench actually executes (AQE on, 64MB broadcast threshold, etc.).
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import SF_DIR  # noqa: E402
from threat_detection_nosql_spark.queries import all_queries  # noqa: E402
from threat_detection_nosql_spark.session import get_spark  # noqa: E402


def main() -> int:
    tag, suffix, *names = sys.argv[1:]
    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump_plans")
    queries = all_queries()
    for name in names:
        try:
            df = queries[name](spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as exc:  # noqa: BLE001 — record the failure
            plan = f"PLAN BUILD FAILED: {exc!r}\n"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print("wrote", path)
    return 0


if __name__ == "__main__":
    sys.exit(main())
