"""Streaming queries vs batch oracle at sf0.01 + stateful profile checks."""

from __future__ import annotations

import pytest

from tests.conftest import compare_query_to_oracle
from threat_detection_nosql_spark.queries import streaming_queries as SQ

ORACLE_BACKED = sorted({**SQ.ORACLES, **SQ.ORACLES_TAIL})


@pytest.mark.parametrize("name", ORACLE_BACKED)
def test_streaming_query_matches_batch_oracle(spark, ddb, name):
    queries = {**SQ.QUERIES, **SQ.QUERIES_TAIL}
    oracles = {**SQ.ORACLES, **SQ.ORACLES_TAIL}
    compare_query_to_oracle(spark, ddb, queries[name], oracles[name])


def test_stateful_profiles_match_batch_counts(spark):
    from tests.conftest import SF_SMALL
    out = SQ.stream_stateful_profiles(spark, SF_SMALL)
    rows = {r.user: r for r in out.collect()}
    from threat_detection_nosql_spark.queries.threat import user_features
    batch = {r.user: r for r in user_features(spark, SF_SMALL).collect()}
    assert set(rows) == set(batch)
    for u, r in rows.items():
        assert r.total_activities == batch[u].total_activities
        assert r.after_hours_activities == batch[u].after_hours_activities


def test_stream_model_scores_match_batch(spark):
    """Batch-trained model applied to the stream must produce exactly
    the scores batch inference produces on the same finite input."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import VectorAssembler
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMALL
    from threat_detection_nosql_spark.operators.etl import activity_log

    streamed = {(r["window_start"], r["user"]): r["is_anomaly"]
                for r in SQ.stream_model_scores(spark, SF_SMALL).collect()}

    batch = (activity_log(spark, SF_SMALL)
             .groupBy(F.window("ts", "1 hour"), "user")
             .agg(F.count("*").alias("n_events"),
                  F.sum("is_after_hours").alias("n_after_hours"))
             .select(F.col("window.start").alias("window_start"), "user",
                     F.col("n_events").cast("double").alias("n_events"),
                     F.col("n_after_hours").cast("double")
                      .alias("n_after_hours")))
    asm = VectorAssembler(inputCols=["n_events", "n_after_hours"],
                          outputCol="features")
    train = asm.transform(batch)
    model = KMeans(k=2, seed=42, featuresCol="features",
                   predictionCol="cluster").fit(train)
    sizes = model.transform(train).groupBy("cluster").count().collect()
    anom = min(sizes, key=lambda r: (r["count"], r["cluster"]))["cluster"]
    expected = {(r["window_start"], r["user"]): int(r["cluster"] == anom)
                for r in model.transform(train).collect()}
    assert streamed == expected
    assert sum(streamed.values()) > 0  # some windows flag as anomalous


def test_stream_stream_join_respects_interval_bounds(spark, tmp_path):
    """Planted pairs: only same-user errors within the 30-minute gap
    after a purchase may join; later errors and other users' errors
    must not."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from threat_detection_nosql_spark.streaming.stream_queries import (
        purchase_error_pairs)

    def ns(hhmm):
        h, m = hhmm.split(":")
        base = 1704096000  # 2024-01-01 08:00:00 UTC
        return (base + int(h) * 3600 + int(m) * 60) * 1_000_000_000

    rows = [  # (event_id, ts_ns, user_id, event_type)
        (100, ns("2:00"), 1, "purchase"),
        (200, ns("2:10"), 1, "error"),     # in window -> pair
        (201, ns("3:00"), 1, "error"),     # > 30 min -> no pair
        (202, ns("2:05"), 2, "error"),     # other user -> no pair
        (101, ns("2:50"), 2, "purchase"),
        (203, ns("2:55"), 2, "error"),     # in window -> pair
    ]
    table = pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows],
                       pa.timestamp("ns")),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows], pa.string()),
        "value": pa.array([0.0] * len(rows), pa.float64()),
        "props": pa.array(["{}"] * len(rows), pa.string()),
    })
    pq.write_table(table, str(tmp_path / "events.parquet"))

    got = {(r["user"], r["purchase_event_id"], r["error_event_id"],
            r["gap_us"])
           for r in purchase_error_pairs(spark, str(tmp_path)).collect()}
    assert got == {(1, 100, 200, 600 * 1_000_000),
                   (2, 101, 203, 300 * 1_000_000)}


def test_stream_dedup_drops_redelivered_events(spark, tmp_path):
    """Planted redelivery: the same event_id arrives twice (second copy
    within the watermark window) — dropDuplicatesWithinWatermark must
    keep exactly one."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "dups")
    rows = [(1, "2024-01-01 10:00:00", 7),
            (2, "2024-01-01 10:01:00", 7),
            (1, "2024-01-01 10:02:00", 7),   # redelivery of event 1
            (3, "2024-01-01 10:03:00", 8)]
    (spark.createDataFrame(rows, "event_id long, ts_s string, user long")
     .select("event_id", F.to_timestamp("ts_s").alias("ts"), "user")
     .coalesce(1).write.mode("overwrite").parquet(src))

    stream = (spark.readStream
              .schema("event_id long, ts timestamp, user long")
              .parquet(src)
              .withWatermark("ts", "10 minutes")
              .dropDuplicatesWithinWatermark(["event_id"])
              .groupBy("user").agg(F.count("*").alias("n")))
    q = (stream.writeStream.outputMode("complete")
         .format("memory").queryName("dedup_test").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["user"]: r["n"] for r in spark.table("dedup_test").collect()}
    assert got == {7: 2, 8: 1}


def test_stream_static_join_matches_batch(spark):
    from threat_detection_nosql_spark.streaming import stream_queries as S
    sf = "/root/testdata/sf0.001"
    out = S.static_enriched_nation_counts(spark, sf).toPandas()
    ev = spark.read.parquet(f"{sf}/events.parquet")
    cust = spark.read.parquet(f"{sf}/customer.parquet")
    import pyspark.sql.functions as F
    batch = (ev.join(cust, ev.user_id == cust.c_custkey)
             .groupBy("c_nationkey")
             .agg(F.count("*").alias("n_events"),
                  F.round(F.sum("value"), 4).alias("total_value"))
             .toPandas())
    a = out.sort_values("c_nationkey").reset_index(drop=True)
    b = batch.sort_values("c_nationkey").reset_index(drop=True)
    assert a.equals(b)


def test_available_now_trigger_drains_and_stops(spark):
    """Trigger.AvailableNow: the production batch-over-stream pattern —
    drain everything available with checkpointed exactly-once batches,
    then self-terminate (cron-scheduled incremental jobs)."""
    from threat_detection_nosql_spark.streaming.stream_queries import (
        events_stream,
    )
    ev = events_stream(spark, "/root/testdata/sf0.001")
    agg = ev.groupBy("user").count()
    q = (agg.writeStream.outputMode("complete").format("memory")
         .queryName("avnow").trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert not q.isActive
    assert spark.table("avnow").count() > 0


def test_twin_leaves_no_sink_table(spark):
    """A drained twin's frame holds its memory sink, so the sink's
    ``s_*`` view is dropped and later queries still read the rows."""
    from tests.conftest import SF_SMALL
    out = SQ.stream_deduped_counts(spark, SF_SMALL)
    assert not [t.name for t in spark.catalog.listTables()
                if t.name.startswith("s_")]
    rows = out.collect()
    assert rows and out.collect() == rows


def test_tws_profiles_match_batch_or_skip(spark):
    """transformWithStateInPandas profile: post-drain state must equal
    the batch aggregate. Skipped where google.protobuf (the state-server
    protocol dependency) is unavailable — the container gate mirrored by
    queries/streaming_queries._tws_available."""
    from tests.conftest import SF_SMALL
    from pyspark.sql import functions as F

    from threat_detection_nosql_spark.queries.streaming_queries import (
        _tws_available,
    )
    if not _tws_available():
        pytest.skip("google.protobuf unavailable; transformWithState "
                    "cannot start its state server")
    from threat_detection_nosql_spark.operators.etl import activity_log
    from threat_detection_nosql_spark.streaming.stream_queries import (
        tws_user_profiles,
    )
    got = {r["user"]: (r["total_activities"], r["after_hours_activities"])
           for r in tws_user_profiles(spark, SF_SMALL).collect()}
    want = {r["user"]: (r["n"], r["ah"]) for r in
            (activity_log(spark, SF_SMALL).groupBy("user")
             .agg(F.count("*").alias("n"),
                  F.sum("is_after_hours").alias("ah")).collect())}
    assert got == want


def test_rate_source_smoke(spark):
    """Source breadth: the built-in rate source drains under an
    AvailableNow trigger and produces monotone (timestamp, value)
    rows — the generator used to soak-test streaming topologies
    without files or Kafka."""
    import uuid

    import time

    name = f"rate_{uuid.uuid4().hex[:8]}"
    q = (spark.readStream.format("rate")
         .option("rowsPerSecond", "100").load()
         .writeStream.format("memory").queryName(name).start())
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            rows = spark.table(name).collect()
            if rows:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert len(rows) >= 1
    assert all(r["value"] >= 0 for r in rows)


def test_markov_counter_resequences_out_of_order_batch(spark, tmp_path):
    """The stateful sequence counter must sort each group chunk by
    (ts, event_id) BEFORE pairing: an out-of-order source file still
    yields the event-time transition chain, not the arrival-order one
    (which would produce read->login garbage)."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from threat_detection_nosql_spark.streaming.stream_queries import (
        markov_transition_counts)

    t0 = dt.datetime(2024, 1, 1, 9, 0, 0)
    rows = [  # arrival order deliberately scrambled vs event time
        (1, t0 + dt.timedelta(minutes=1), 1, "read"),
        (0, t0, 1, "login"),
        (2, t0 + dt.timedelta(minutes=2), 1, "write"),
    ]
    pq.write_table(pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows]),
        "value": pa.array([1.0] * len(rows), pa.float64()),
        "props": pa.array(['{"k": 1}'] * len(rows)),
    }), os.path.join(str(tmp_path), "events.parquet"))

    got = {(r["prev_activity"], r["activity"]): r["n"]
           for r in markov_transition_counts(spark, str(tmp_path)).collect()}
    assert got == {("login", "read"): 1, ("read", "write"): 1}
