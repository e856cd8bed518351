"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload threat_suite --seed 1 \
        --seconds 15 --trace 0

Run from the repository root. Load is a closed loop with one client: a
single driver process on local[<cores>] runs the workload's queries one
at a time, each result consumed before the next query is built. A run:

1. writes the seeded `events` table (untimed);
2. imports the program, launches the JVM, builds the session with
   `get_spark` and runs a warm-up query (`setup_s`);
3. runs one cold pass, then warm passes until `--seconds` have passed
   (at least two); the query order of every pass is a permutation drawn
   from the seed;
4. checks every query's output (untimed);
5. stops the JVM and its Python workers, and removes its scratch.

`--trace 1` runs the same passes with spans around each layer call,
Spark's event log and a streaming-progress listener, and reports the
per-layer metrics instead of the end-to-end ones. The last stdout line
is the result object; the line before it records the seed, CPU count,
inputs, unbounded figures, actions and failures of the run, and the
wall and CPU seconds of every pass.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()   # set-up time counts from here

import argparse
import contextlib
import importlib.util
import json
import os
import random
import shlex
import shutil
import signal
import statistics
import sys
import threading
import traceback

import datagen
import tracing
import workloads

T_IMPORTED = time.perf_counter()

N_EVENTS = 20_000
MIN_WARM_PASSES = 2
MB = 1024 * 1024
# the program's 24g default lets the heap's growth, and so the peak RSS,
# vary from run to run, and may outgrow a small machine's memory; a
# small fixed cap keeps the footprint comparable
DRIVER_MEM = "1g"


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def pin_launch(work: str, trace: bool) -> int:
    """Launch environment of the program: cores, scratch dirs, and (for
    the traced run only) the JSON event log. Returns the core count."""
    cpus = len(os.sched_getaffinity(0))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": os.path.join(work, "eventlog")})
    tmp = os.path.join(work, "tmp")
    args = [f"--conf {k}={v}" for k, v in conf.items()]
    # -XX:-UsePerfData: a JVM's perf-counter file always goes to /tmp;
    # SPARK_LAUNCHER_OPTS covers the JVM spark-submit builds its command in
    args.append("--driver-java-options " + shlex.quote(
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join(args + ["pyspark-shell"]),
    })
    for sub in ("tmp", "local", "eventlog", "data"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    return cpus


def _stat(path: str) -> tuple[int, float]:
    """(parent pid, CPU seconds) from a /proc stat file."""
    with open(path) as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[1]),
            (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK"))


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (parent pid, CPU seconds) for every visible process."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            with contextlib.suppress(OSError):
                out[int(d)] = _stat(f"/proc/{d}/stat")
    return out


def descendants(table: dict[int, tuple], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with pages shared between
    processes split among them. A plain RSS sum counts a forked child's
    copy-on-write image twice (the JVM forks shell helpers)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak summed resident memory (PSS) of this process and all its
    descendants (driver Python, JVM, Python workers)."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self.halt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self.halt.wait(self.interval):
            tree = [me, *descendants(_proc_table(), me)]
            self.peak = max(self.peak, sum(pss_bytes(p) for p in tree))

    def cpu_s(self) -> float:
        """CPU seconds this sampler thread has used."""
        return _stat(f"/proc/self/task/{self.native_id}/stat")[1]

    def stop(self) -> float:
        self.halt.set()
        self.join()
        return self.peak / MB


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers; wait for all."""
    from pyspark import SparkContext
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=120)
        SparkContext._gateway = None
        SparkContext._jvm = None
    # Python workers exit once the JVM has gone; kill any that linger,
    # then give up after a second grace period rather than hang
    deadline = time.time() + 30
    killed = False
    while left := descendants(_proc_table(), os.getpid()):
        if time.time() > deadline:
            if killed:
                return
            for pid in left:
                with contextlib.suppress(OSError):
                    os.kill(pid, signal.SIGKILL)
            killed = True
            deadline = time.time() + 30
        time.sleep(0.1)


def tree_cpu_s(sampler: RssSampler) -> float:
    """CPU seconds used so far by this process and its live descendants,
    less the memory sampler's own."""
    table = _proc_table()
    me = os.getpid()
    return sum(table[p][1] for p in [me, *descendants(table, me)]
               if p in table) - sampler.cpu_s()


def warm_up(spark) -> None:
    spark.range(1_000_000).selectExpr("sum(id)").collect()


class Bench:
    def __init__(self, args, work: str):
        t0 = time.perf_counter()
        from threat_detection_nosql_spark.queries import (
            all_oracles, all_queries, ml_queries)
        # the run's own imports (pyspark, numpy, pyarrow among them) and
        # the program's, leaving out the data written in between
        self.import_s = T_IMPORTED - T_START + time.perf_counter() - t0
        self.args = args
        self.name = args.workload
        self.wl = workloads.WORKLOADS[args.workload]
        self.data_dir = os.path.join(work, "data")
        self.fns = all_queries()
        self.oracles = all_oracles()
        self.memo = ml_queries._memo
        self.rng = random.Random(args.seed)
        self.tracer = tracing.Tracer() if args.trace else None
        self.listener = None
        self.sampler = RssSampler()
        self.spark = None
        self.passes: list[dict] = []
        self.errors: dict[str, str] = {}

    def span(self, name: str):
        return (self.tracer.span(name) if self.tracer
                else contextlib.nullcontext())

    def launch(self) -> None:
        """Launch the JVM and the session, ready for queries."""
        from threat_detection_nosql_spark.session import get_spark
        t0 = time.perf_counter()
        with self.span("session.get_spark"):
            self.spark = get_spark("perfbench")
        with self.span("session.warmup"):
            warm_up(self.spark)
        self.launch_s = time.perf_counter() - t0

    def run_pass(self, idx: int) -> None:
        order = list(self.wl.queries)
        self.rng.shuffle(order)
        self.memo.clear()
        lat: dict[str, float] = {}
        out: dict[str, tuple] = {}
        plans: dict[str, tuple[int, int]] = {}
        raised: list[str] = []
        sc = self.spark.sparkContext
        if self.tracer:
            self.tracer.ctx = (self.name, idx, "")
        cpu0 = tree_cpu_s(self.sampler)
        t0 = time.perf_counter()
        with self.span("pass"):
            for q in order:
                if self.tracer:
                    self.tracer.ctx = (self.name, idx, q)
                    sc.setJobGroup(f"{self.name}.{q}.{idx}", "query")
                tq = time.perf_counter()
                try:
                    with self.span("query"):
                        with self.span("queries.build"):
                            df = self.fns[q](self.spark, self.data_dir)
                        if self.tracer:
                            with self.span("queries.plan"):
                                plans[q] = tracing.plan_counts(
                                    df._jdf.queryExecution().executedPlan()
                                    .toString())
                        with self.span("queries.action"):
                            if q in self.wl.noop:
                                (df.write.format("noop").mode("overwrite")
                                 .save())
                                rows = None
                            else:
                                rows = df.collect()
                except Exception:  # a failing query is counted, not fatal
                    self.errors.setdefault(q, traceback.format_exc(limit=3))
                    raised.append(q)
                    df = rows = None
                lat[q] = time.perf_counter() - tq
                out[q] = (df, rows)
        rec = {"pass_s": time.perf_counter() - t0,
               "cpu_s": tree_cpu_s(self.sampler) - cpu0, "latency_s": lat,
               "out": out, "plans": plans, "raised": raised}
        if self.tracer:
            self.tracer.ctx = ()
            self.listener.drain()
            rec["storage"] = self.storage()
        self.passes.append(rec)

    def storage(self) -> dict[str, float]:
        jsc = self.spark.sparkContext._jsc.sc()
        infos = jsc.getRDDStorageInfo()
        cached = [i for i in infos if i.numCachedPartitions() > 0]
        views = {t.name for t in self.spark.catalog.listTables()
                 if t.isTemporary}
        return {"cached_rdds": len(cached),
                "cached_mb": sum(i.memSize() + i.diskSize()
                                 for i in cached) / MB,
                "memory_sink_tables": len(views & self.listener.names)}

    def verify(self) -> dict[str, str]:
        """Check the last pass's output of every query (re-running the
        noop-consumed ones with collect); returns failures by query.
        Raises if the session reads `events.ts` other than as the
        program's own sessions do, as nanosecond longs."""
        ts = self.spark.read.parquet(os.path.join(
            self.data_dir, "events.parquet")).schema["ts"].dataType
        if ts.typeName() != "long":
            raise RuntimeError(f"events.ts read as {ts.simpleString()}, "
                               "not as the nanosecond longs load_table "
                               "expects from get_spark")
        checker = workloads.Checker(self.data_dir, self.oracles)
        failures: dict[str, str] = {}
        self.result_rows: dict[str, int] = {}
        try:
            last = self.passes[-1]
            for q, (df, rows) in last["out"].items():
                if q in last["raised"]:
                    continue    # already counted as a failed attempt
                try:
                    if rows is None:
                        self.memo.clear()
                        df = self.fns[q](self.spark, self.data_dir)
                        rows = df.collect()
                    columns = df.columns
                except Exception:
                    failures[q] = traceback.format_exc(limit=3)
                    continue
                self.result_rows[q] = len(rows)
                problem = checker.check(q, columns, rows)
                if problem:
                    failures[q] = problem
        finally:
            checker.close()
        return failures

    def run(self) -> dict:
        self.sampler.start()
        try:
            self.launch()
            if self.tracer:
                self.listener = tracing.ProgressListener(self.tracer)
                self.spark.streams.addListener(self.listener)
            self.run_pass(0)
            t0 = time.perf_counter()
            while (len(self.passes) - 1 < MIN_WARM_PASSES
                   or time.perf_counter() - t0 < self.args.seconds):
                self.run_pass(len(self.passes))
        finally:
            peak_mb = self.sampler.stop()
        t_verify = time.perf_counter()
        failures = self.verify()
        self.app_id = self.spark.sparkContext.applicationId
        phases = {"import": self.import_s, "launch": self.launch_s,
                  "passes": sum(p["pass_s"] for p in self.passes),
                  "verify": time.perf_counter() - t_verify}
        return {"peak_rss_mb": peak_mb, "failures": failures,
                "phases": phases}


def late_pass_ratio(bench: Bench) -> float:
    """Per query, the median latency over the last third of the warm
    passes over that of the first third; the median over queries."""
    warm = bench.passes[1:]
    third = max(1, len(warm) // 3)
    ratios = []
    for q in bench.wl.queries:
        per = [p["latency_s"][q] for p in warm]
        ratios.append(statistics.median(per[-third:])
                      / statistics.median(per[:third]))
    return statistics.median(ratios)


def unbounded(bench: Bench) -> dict[str, tuple[float, str]]:
    """Figures printed in the run record but not bounded."""
    lat = [s for p in bench.passes[1:] for s in p["latency_s"].values()]
    return {
        "import_s": (bench.import_s, "s"),
        "query_p50_s": (statistics.median(lat), "s"),
        "query_p75_s": (statistics.quantiles(lat, n=4)[2], "s"),
        "late_pass_ratio": (late_pass_ratio(bench), "ratio"),
    }


def as_json(metrics: dict[str, tuple[float, str]]) -> dict[str, dict]:
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def end_to_end(bench: Bench, res: dict) -> dict[str, tuple[float, str]]:
    warm = bench.passes[1:]
    return {
        "setup_s": (bench.import_s + bench.launch_s, "s"),
        "cold_pass_s": (bench.passes[0]["pass_s"], "s"),
        "pass_s": (statistics.median(p["pass_s"] for p in warm), "s"),
        "cold_pass_cpu_s": (bench.passes[0]["cpu_s"], "s"),
        "pass_cpu_s": (statistics.median(p["cpu_s"] for p in warm), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }


def per_layer(bench: Bench, work: str) -> dict[str, tuple[float, str]]:
    """Median over the warm passes of each per-pass layer figure."""
    tr = bench.tracer
    jobs, stages = tracing.read_event_log(os.path.join(work, "eventlog"),
                                          bench.app_id)
    phases = sorted((s.start, s.end, s.ctx[1], s.name) for s in tr.spans
                    if s.name.startswith("queries.") and len(s.ctx) > 1)
    per_pass: dict[str, list[float]] = {}

    def add(key: str, value: float) -> None:
        per_pass.setdefault(key, []).append(value)

    for idx in range(1, len(bench.passes)):
        rec = bench.passes[idx]
        st = tr.self_times(idx)
        tot = {k: sum(v) for k, v in st.items()}
        add("sources.load_table_calls", len(st.get("sources.load_table",
                                                   [])))
        add("sources.load_table_s", tot.get("sources.load_table", 0.0))
        add("queries.build_s", tot.get("queries.build", 0.0))
        add("queries.plan_s", tot.get("queries.plan", 0.0))
        add("queries.action_s", tot.get("queries.action", 0.0))
        add("queries.result_rows", sum(bench.result_rows.values()))
        add("queries.exchanges", sum(e for e, _ in rec["plans"].values()))
        add("queries.file_scans", sum(f for _, f in rec["plans"].values()))
        add("ml.features_s", tot.get("ml.features", 0.0))
        add("ml.fit_s", tot.get("ml.fit", 0.0))
        # jobs of this pass, by the phase span they were submitted in
        mine = []
        build_jobs = 0
        for job in jobs.values():
            for start, end, p, name in phases:
                if p == idx and start <= job.submitted <= end:
                    mine.append(job)
                    build_jobs += name == "queries.build"
                    break
        add("queries.build_jobs", build_jobs)
        sids = set().union(*(j.stages for j in mine)) & stages.keys()
        sums: dict[str, float] = {}
        for sid in sids:
            for k, v in stages[sid].items():
                sums[k] = sums.get(k, 0.0) + v
        add("exec.jobs", len(mine))
        add("exec.stages", len(sids))
        add("exec.tasks", sums.get("tasks", 0.0))
        add("exec.task_run_s", sums.get("run_s", 0.0))
        add("exec.task_cpu_s", sums.get("cpu_s", 0.0))
        add("exec.gc_s", sums.get("gc_s", 0.0))
        for key in ("input", "shuffle_write", "shuffle_read", "spill",
                    "result"):
            add(f"exec.{key}_mb", sums.get(f"{key}_b", 0.0) / MB)
        prog = [r for ctx, r in bench.listener.progress
                if len(ctx) > 1 and ctx[1] == idx]
        dur = {}
        for r in prog:
            for k, v in r["duration_ms"].items():
                dur[k] = dur.get(k, 0) + v / 1e3
        last_state: dict[str, tuple[int, float]] = {}
        for ctx, r in bench.listener.progress:
            if len(ctx) > 1 and ctx[1] == idx:
                last_state[ctx[2]] = (r["state_rows"], r["state_bytes"])
        add("stream.batches", len(prog))
        add("stream.input_rows", sum(r["input_rows"] for r in prog))
        add("stream.trigger_s", dur.get("triggerExecution", 0.0))
        add("stream.add_batch_s", dur.get("addBatch", 0.0))
        add("stream.query_planning_s", dur.get("queryPlanning", 0.0))
        add("stream.wal_commit_s", dur.get("walCommit", 0.0))
        add("stream.drive_s", tot.get("stream.run_stream_to_table", 0.0)
            - dur.get("triggerExecution", 0.0))
        add("stream.source_s", tot.get("stream.events_stream", 0.0))
        add("stream.state_rows", sum(r for r, _ in last_state.values()))
        add("stream.state_mb", sum(b for _, b in last_state.values()) / MB)
        add("trace.pass_s", rec["pass_s"])
        add("trace.unattributed_s", tot.get("pass", 0.0)
            + tot.get("query", 0.0))
    last = bench.passes[-1]["storage"]
    units = {"_s": "s", "_mb": "MB"}
    out = {}
    for key, values in per_pass.items():
        unit = next((u for sfx, u in units.items() if key.endswith(sfx)),
                    "count")
        out[key] = (statistics.median(values), unit)
    for key, value in last.items():
        out[f"storage.{key}"] = (value, "MB" if key.endswith("_mb")
                                 else "count")
    for s in tr.spans:
        if s.name.startswith("session."):
            out[f"{s.name}_s"] = (s.end - s.start, "s")
    out["session.import_s"] = (bench.import_s, "s")
    out["exec.codegen_fallbacks"] = (
        tracing.codegen_fallbacks(os.path.join(work, "run.log")), "count")
    out["trace.warm_passes"] = (len(bench.passes) - 1, "count")
    out["trace.late_pass_ratio"] = (late_pass_ratio(bench), "ratio")
    out["trace.cpu_s"] = (statistics.median(p["cpu_s"]
                                            for p in bench.passes[1:]), "s")
    return out


def main() -> int:
    args = parse_args()
    root = os.getcwd()
    work = os.path.join(root, ".perfbench",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    sys.path.insert(0, root)
    if importlib.util.find_spec(tracing.PKG) is None:
        sys.exit(f"perfbench: no {tracing.PKG} package under {root}; "
                 "run from the repository root")
    cpus = pin_launch(work, bool(args.trace))
    bench = None
    try:
        inputs = datagen.write_events(os.path.join(work, "data"), args.seed,
                                      N_EVENTS)
        # the JVM and its Python workers inherit fd 2: keep their log in
        # the run's scratch and give Python a copy of the real stderr
        real_err = os.dup(2)
        log_fd = os.open(os.path.join(work, "run.log"),
                         os.O_WRONLY | os.O_CREAT | os.O_TRUNC)
        os.dup2(log_fd, 2)
        os.close(log_fd)
        sys.stderr = os.fdopen(real_err, "w", buffering=1)
        bench = Bench(args, work)
        if bench.tracer:
            tracing.install(bench.tracer)
        res = bench.run()
        t_stop = time.perf_counter()
        stop_spark(bench.spark)
        bench.spark = None
        res["phases"]["stop"] = time.perf_counter() - t_stop
        if bench.tracer:
            metrics = per_layer(bench, work)
            bench.tracer.dump(os.path.join(
                root, ".perfbench", f"spans-{args.workload}-{args.seed}.json"))
        else:
            metrics = end_to_end(bench, res)
    except BaseException:
        with contextlib.suppress(OSError), open(
                os.path.join(work, "run.log"), errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        raise
    finally:
        if bench is not None and bench.spark is not None:
            stop_spark(bench.spark)
        shutil.rmtree(work, ignore_errors=True)
    n_queries = len(bench.wl.queries)
    failed = (sum(len(p["raised"]) for p in bench.passes)
              + len(res["failures"]))
    attempted = len(bench.passes) * n_queries + n_queries
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "cpus": cpus,
        "trace": args.trace, "inputs": inputs,
        "warm_passes": len(bench.passes) - 1,
        "unbounded": as_json(unbounded(bench)),
        "fail_ratio": failed / attempted,
        "actions": {q: "noop" if q in bench.wl.noop else "collect"
                    for q in bench.wl.queries},
        "raised": bench.errors, "failures": res["failures"],
        "phases_s": {k: round(v, 3) for k, v in res["phases"].items()},
        "pass_s": [round(p["pass_s"], 4) for p in bench.passes],
        "cpu_s": [round(p["cpu_s"], 4) for p in bench.passes],
        "latency_s": [{q: round(v, 4) for q, v in p["latency_s"].items()}
                      for p in bench.passes],
    }))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": as_json(metrics),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
