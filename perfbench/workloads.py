"""Workload definitions and output checks.

A workload is a list of registered queries (`queries.all_queries()`),
all reading the seeded `events` table. Each query's timed action is
fixed here: small results are collected, results over ~10k rows are
consumed through the `noop` sink so the whole plan runs without a
transfer to Python (a `count()` would let Catalyst prune work).

Queries with a DuckDB oracle are checked against it. An ML detector has
none (its scores depend on the fitting algorithm), so its output is
checked for shape: its columns, one row per user, scores min-max
normalised to [0, 1], and a flagged share in the band BASELINE.md gives
for contamination-0.1 detectors (~10% of rows).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    noop: frozenset[str] = field(default_factory=frozenset)


WORKLOADS = {
    # the reference's ten Cypher analytics, the per-user feature matrix
    # and one anomaly detector fitted on it: one table, grouped by user,
    # twelve times over
    "threat_suite": Workload(
        queries=("after_hours_top10", "weekend_top10",
                 "high_activity_top10", "unusual_resources_top10",
                 "activity_profiles", "degree_centrality_top10",
                 "activity_entropy", "temporal_entropy",
                 "resource_entropy", "two_hop_resource_paths",
                 "user_features", "mahalanobis_anomalies"),
        noop=frozenset({"two_hop_resource_paths"})),
    # Structured Streaming twins, each driven to completion through a
    # memory sink: a complete-mode top-k, an event-time window, a
    # watermarked dedup and per-user session windows
    "stream_twins": Workload(
        queries=("stream_after_hours_top10", "stream_windowed_user_counts",
                 "stream_deduped_counts", "stream_session_windows"),
        noop=frozenset({"stream_windowed_user_counts",
                        "stream_session_windows"})),
}


# detector query -> (key, score, flag) columns of its output
DETECTORS = {
    "mahalanobis_anomalies": ("user", "maha_score", "maha_anomaly"),
}
FLAGGED_SHARE = (0.05, 0.15)


def normalize(rows, columns, float_round: int = 6) -> list[tuple]:
    """The tier-1 harness normalization: columns sorted by name, floats
    rounded, rows sorted."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(round(r[i], float_round) if isinstance(r[i], float)
                 else r[i] for i in idx) for r in rows]
    return sorted(out, key=repr)


def digest(rows: list[tuple]) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()


class Checker:
    """Compares query outputs against the DuckDB oracles over the same
    parquet inputs."""

    def __init__(self, data_dir: str, oracles: dict[str, str]):
        import duckdb
        self.oracles = oracles
        self.con = duckdb.connect()
        self.con.execute(f"CREATE VIEW events AS SELECT * FROM "
                         f"'{data_dir}/events.parquet'")

    def close(self) -> None:
        self.con.close()

    def check(self, name: str, columns: list[str], rows: list) -> str | None:
        """None if the output is correct, else what is wrong."""
        if name in DETECTORS:
            return self.check_detector(DETECTORS[name], columns, rows)
        rel = self.con.sql(self.oracles[name])
        want_cols = list(rel.columns)
        if sorted(columns) != sorted(want_cols):
            return f"schema {sorted(columns)} != {sorted(want_cols)}"
        got = normalize(rows, columns)
        want = normalize(rel.fetchall(), want_cols)
        if len(got) != len(want):
            return f"rows {len(got)} != {len(want)}"
        if digest(got) != digest(want):
            bad = next(i for i, (a, b) in enumerate(zip(got, want))
                       if a != b)
            return f"hash differs, first at row {bad}: {got[bad]!r}"
        return None

    def check_detector(self, cols: tuple[str, str, str], columns: list[str],
                       rows: list) -> str | None:
        if sorted(columns) != sorted(cols):
            return f"schema {sorted(columns)} != {sorted(cols)}"
        key, score, flag = (columns.index(c) for c in cols)
        users = self.con.sql("SELECT count(DISTINCT user_id) "
                             "FROM events").fetchone()[0]
        if len({r[key] for r in rows}) != len(rows) or len(rows) != users:
            return f"rows {len(rows)}, want one per user ({users})"
        if not all(0.0 <= r[score] <= 1.0 for r in rows):
            return f"{cols[1]} outside [0, 1]"
        share = sum(r[flag] for r in rows) / len(rows)
        lo, hi = FLAGGED_SHARE
        if not lo <= share <= hi:
            return f"flagged share {share:.3f} outside [{lo}, {hi}]"
        return None
