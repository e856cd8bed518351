"""bench.py's tables name real queries, and its one timing routine
clears the ML memo and picks the action from COUNT. Runs no Spark job:
a renamed query should fail here, not after minutes of timed groups."""

from __future__ import annotations

import bench
from threat_detection_nosql_spark.queries import all_queries
from threat_detection_nosql_spark.queries import ml_queries


def _benched() -> list[str]:
    return bench.HEADLINE + [n for names in bench.GROUPS.values()
                             for n in names]


def test_every_bench_name_is_registered():
    registered = all_queries()
    names = (_benched() + bench.ISOLATE_ALWAYS
             + [n for n, _ in bench.COLD_BUILD])
    assert [n for n in names if n not in registered] == []


def test_no_name_is_benched_twice():
    benched = _benched()
    assert len(benched) == len(set(benched))


def test_count_names_are_benched():
    assert bench.COUNT <= set(_benched())


class _Frame:
    def __init__(self, calls: list):
        self.calls = calls

    def count(self):
        self.calls.append("count")
        return 0

    def collect(self):
        self.calls.append("collect")
        return []


def test_routine_clears_memo_and_picks_action(monkeypatch):
    monkeypatch.setattr(ml_queries, "_memo", {})
    calls: list = []

    def fake(spark, sf_dir):
        # a memoized detector would leave its model behind for the
        # next rep; the routine must clear it before every build
        calls.append(("memo_empty", not ml_queries._memo))
        ml_queries._memo["fitted"] = object()
        return _Frame(calls)

    count_name = sorted(bench.COUNT)[0]
    collect_name = bench.HEADLINE[0]
    assert collect_name not in bench.COUNT
    queries = {count_name: fake, collect_name: fake}
    for name, action in ((count_name, "count"),
                         (collect_name, "collect")):
        calls.clear()
        runs = bench.time_sorted3(None, queries, name)
        assert len(runs) == 3 and runs == sorted(runs)
        assert calls == [("memo_empty", True), action] * 3
