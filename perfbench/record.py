"""Run the benchmark over several seeds and summarise it.

    python3 perfbench/record.py

For every workload in BENCHMARK.json: one untraced run for each of
`SEEDS`, each of the first `TRACED` of them followed at once by its
traced run, one process each, in sequence. Writes
`perfbench/baseline.json`: each end-to-end metric's and each unbounded
figure's median, quartiles and spread (interquartile distance over the
median, as `statistics.quantiles(n=4)` gives them), the traced runs'
per-layer medians, and the tracing overhead: per traced seed, its traced
minus its untraced `pass_s`, so both sides ran over the same data and
close in time, when the host was about as busy. Run from the repository
root.
"""

from __future__ import annotations

import json
import statistics
import subprocess
import sys
import time

SEEDS = range(1, 11)
TRACED = 2
OUT = "perfbench/baseline.json"


def run_once(cmd: list[str], workload: str, seed: int, seconds: int,
             trace: int) -> tuple[dict, dict]:
    t0 = time.time()
    out = subprocess.run(
        [*cmd, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True).stdout.splitlines()
    rec, res = json.loads(out[-2]), json.loads(out[-1])
    rec["wall_s"] = time.time() - t0
    print(workload, seed, trace, round(rec["wall_s"], 1),
          {k: round(v["value"], 4) for k, v in res["metrics"].items()
           if trace == 0}, file=sys.stderr, flush=True)
    return rec, res


def summary(values: list[float]) -> dict[str, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}


def main() -> int:
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report: dict = {"run_seconds": spec["run_seconds"], "workloads": {}}
    for w in spec["workloads"]:
        name = w["name"]
        records, runs, traced = [], [], []
        for seed in SEEDS:
            rec, res = run_once(spec["command"], name, seed,
                                spec["run_seconds"], 0)
            records.append(rec)
            runs.append(res)
            if seed in SEEDS[:TRACED]:
                traced.append(run_once(spec["command"], name, seed,
                                       spec["run_seconds"], 1)[1])
        e2e = {}
        for metric, bound in bounds.items():
            e2e[metric] = summary([r["metrics"][metric]["value"]
                                   for r in runs])
            e2e[metric]["bound"] = bound
            e2e[metric]["unit"] = runs[0]["metrics"][metric]["unit"]
        layers = {}
        for key in traced[0]["metrics"]:
            vals = [t["metrics"][key]["value"] for t in traced]
            layers[key] = {"median": statistics.median(vals),
                           "unit": traced[0]["metrics"][key]["unit"]}
        report["workloads"][name] = {
            "seeds": list(SEEDS),
            "traced_seeds": list(SEEDS[:TRACED]),
            "run_wall_s": summary([r["wall_s"] for r in records]),
            "attempted": sum(r["attempted"] for r in runs),
            "failed": sum(r["failed"] for r in runs),
            "fail_ratio": (sum(r["failed"] for r in runs)
                           / sum(r["attempted"] for r in runs)),
            "failing_queries": sorted({q for r in records
                                       for q in [*r["raised"],
                                                 *r["failures"]]}),
            "warm_passes": [r["warm_passes"] for r in records],
            "inputs": records[0]["inputs"], "cpus": records[0]["cpus"],
            "actions": records[0]["actions"],
            "end_to_end": e2e,
            "unbounded": {k: summary([r["unbounded"][k]["value"]
                                      for r in records])
                          for k in records[0]["unbounded"]},
            "per_layer": layers,
            "tracing_overhead_s": [
                t["metrics"]["trace.pass_s"]["value"]
                - r["metrics"]["pass_s"]["value"]
                for t, r in zip(traced, runs)],
        }
    with open(OUT, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
