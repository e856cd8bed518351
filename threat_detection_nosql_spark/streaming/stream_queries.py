"""Structured Streaming surface (SURVEY.md §2.9, §7 step 7 — the
north-star extension: the reference is batch-only, BASELINE.json asks
for "Spark Streaming + DataFrame anomaly detection").

The same activity-log fact schema flows as a stream: file source here
(tests drive a finite parquet dir through ``processAllAvailable``), a
Kafka/socket source in production — the transformations are identical.
Event-time semantics: watermark on ``ts``, tumbling/sliding/session
windows, and an ``applyInPandasWithState`` stateful per-user profile
(state schema = the running feature row).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from threat_detection_nosql_spark.operators.etl import derive_temporal_features
from threat_detection_nosql_spark.sources.readers import (
    load_table,
    stream_table,
)


def events_stream(spark: SparkSession, sf_dir: str,
                  watermark: str | None = "1 hour") -> DataFrame:
    """`events` as a file stream with event-time watermark — the
    streaming twin of operators.etl.activity_log. ``watermark=None``
    defers watermarking to the caller (e.g. stream-stream joins must
    watermark the renamed per-side time columns instead).

    The source schema and the TIMESTAMP(NANOS) handling come from the
    table's catalog entry (sources.readers.stream_table), so a stream
    and a batch read of `events` in one session agree on ``ts``.
    """
    df = stream_table(spark, sf_dir, "events").withColumns(
        {"user": F.col("user_id"), "activity": F.col("event_type")})
    out = derive_temporal_features(df, "ts")
    return out.withWatermark("ts", watermark) if watermark else out


# Observability side-channel: after every run_stream_to_table drain,
# the final batch's state-operator metrics land here (list of dicts
# with operatorName / numRowsTotal / numRowsUpdated, plus the drain's
# cumulative numInputRows). scripts/soak_stream_state.py reads it to
# build the state-rows-vs-input scaling table; product code never
# depends on it.
LAST_STREAM_PROGRESS: dict = {}


def run_stream_to_table(stream_df: DataFrame, *,
                        mode: str = "complete") -> DataFrame:
    """Drive a finite stream to completion through a memory sink and
    return the materialized result (test/driver harness; production
    uses kafka/parquet sinks + real triggers)."""
    name = f"s_{uuid.uuid4().hex[:12]}"
    q = (stream_df.writeStream.outputMode(mode)
         .format("memory").queryName(name).start())
    try:
        q.processAllAvailable()
        state_ops: list[dict] = []
        for prog in reversed(q.recentProgress):
            ops = prog.get("stateOperators") or []
            if ops:
                state_ops = [{k: op.get(k) for k in
                              ("operatorName", "numRowsTotal",
                               "numRowsUpdated")} for op in ops]
                break
        LAST_STREAM_PROGRESS.clear()
        LAST_STREAM_PROGRESS.update({
            "state_operators": state_ops,
            "input_rows": sum(p.get("numInputRows", 0)
                              for p in q.recentProgress),
        })
    finally:
        q.stop()
    # the resolved frame holds the sink itself, so the view can go: a
    # sink then lives as long as its frame, not as long as the session
    spark = stream_df.sparkSession
    table = spark.table(name)
    spark.catalog.dropTempView(name)
    return table


def windowed_user_counts(spark: SparkSession, sf_dir: str,
                         window: str = "1 hour") -> DataFrame:
    """Tumbling event-time window per user — the streaming analog of
    the per-user activity counts (A2). Complete mode: every window is
    emitted, making the result oracle-checkable against a batch
    time-bucket GROUP BY."""
    ev = events_stream(spark, sf_dir)
    agg = (ev.groupBy(F.window("ts", window), "user")
           .agg(F.count("*").alias("n_events"),
                F.sum(F.col("is_after_hours")).alias("n_after_hours")))
    out = agg.select(F.col("window.start").alias("window_start"),
                     "user", "n_events", "n_after_hours")
    return run_stream_to_table(out, mode="complete")


def sliding_type_counts(spark: SparkSession, sf_dir: str,
                        window: str = "2 hours",
                        slide: str = "1 hour") -> DataFrame:
    """Sliding windows per activity type (each event lands in
    window/slide overlapping windows)."""
    ev = events_stream(spark, sf_dir)
    agg = (ev.groupBy(F.window("ts", window, slide), "activity")
           .agg(F.count("*").alias("n_events")))
    out = agg.select(F.col("window.start").alias("window_start"),
                     F.col("window.end").alias("window_end"),
                     "activity", "n_events")
    return run_stream_to_table(out, mode="complete")


def session_windows_per_user(spark: SparkSession, sf_dir: str,
                             gap: str = "30 minutes") -> DataFrame:
    """Event-time session windows (gap-based) per user — Spark's
    native ``session_window``; the batch oracle is the classic
    gaps-and-islands rewrite."""
    ev = events_stream(spark, sf_dir)
    agg = (ev.groupBy(F.session_window("ts", gap), "user")
           .agg(F.count("*").alias("n_events")))
    out = agg.select(F.col("session_window.start").alias("session_start"),
                     F.col("session_window.end").alias("session_end"),
                     "user", "n_events")
    return run_stream_to_table(out, mode="complete")


_PROFILE_STATE_SCHEMA = ("total long, after_hours long, weekend long")
_PROFILE_OUT_SCHEMA = (
    "user long, total_activities long, after_hours_activities long, "
    "weekend_activities long, after_hours_ratio double")


def stateful_user_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (`applyInPandasWithState`): running
    per-user behavioral profile — the streaming version of the
    user_features aggregate (A10), state schema = the running counts.
    Emits the updated profile row on every micro-batch; the update-mode
    memory sink APPENDS those rows (it does not upsert), so a
    multi-batch source yields several rows per user — the result is
    deduped to the latest profile (max total_activities, which is
    monotone in batch order) after materializing."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = events_stream(spark, sf_dir).select(
        "user", "is_after_hours", "is_weekend")

    def update(key, pdfs, state: GroupState):
        total = ah = we = 0
        if state.exists:
            total, ah, we = state.get
        for pdf in pdfs:
            total += len(pdf)
            ah += int(pdf["is_after_hours"].sum())
            we += int(pdf["is_weekend"].sum())
        state.update((total, ah, we))
        yield pd.DataFrame({
            "user": [key[0]],
            "total_activities": [total],
            "after_hours_activities": [ah],
            "weekend_activities": [we],
            "after_hours_ratio": [ah / total if total else 0.0],
        })

    profiles = ev.groupBy("user").applyInPandasWithState(
        update,
        outputStructType=_PROFILE_OUT_SCHEMA,
        stateStructType=_PROFILE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout)
    out = run_stream_to_table(profiles, mode="update")
    # keep only each user's latest emitted profile (the memory sink
    # appends one row per user per micro-batch; counts are monotone)
    w = Window.partitionBy("user").orderBy(F.desc("total_activities"))
    return (out.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def streaming_anomaly_flags(spark: SparkSession, sf_dir: str,
                            window: str = "1 hour",
                            threshold: int = 5) -> DataFrame:
    """Streaming threat rule: flag (window, user) cells whose
    after-hours count exceeds a threshold — the real-time version of
    the flagship after-hours query, expressed on the same stream."""
    ev = events_stream(spark, sf_dir)
    agg = (ev.filter(F.col("is_after_hours") == 1)
           .groupBy(F.window("ts", window), "user")
           .agg(F.count("*").alias("n_after_hours")))
    out = (agg.filter(F.col("n_after_hours") >= threshold)
           .select(F.col("window.start").alias("window_start"), "user",
                   "n_after_hours"))
    return run_stream_to_table(out, mode="complete")


def model_scored_stream(spark: SparkSession, sf_dir: str,
                        window: str = "1 hour", k: int = 2,
                        seed: int = 42) -> DataFrame:
    """Batch-trained model scores the stream (the north-star pattern:
    train offline, serve online on the same feature schema).

    Batch side: per-(window, user) counts → KMeans(k) fit once; the
    anomaly cluster is the smaller one (A13). Stream side: the SAME
    feature derivation as a windowed streaming agg, scored by the
    fitted model — ``KMeansModel.transform`` is a stateless vector op,
    so it runs inside the micro-batch plan with the centers broadcast;
    nothing about serving touches the driver per-row. Deterministic
    parity with batch scoring is pinned by
    tests/test_streaming.py::test_stream_model_scores_match_batch.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import VectorAssembler

    from threat_detection_nosql_spark.operators.etl import activity_log

    # ---- batch training on the same windowed feature shape
    batch = (activity_log(spark, sf_dir)
             .groupBy(F.window("ts", window), "user")
             .agg(F.count("*").alias("n_events"),
                  F.sum("is_after_hours").alias("n_after_hours"))
             .select(F.col("n_events").cast("double"),
                     F.col("n_after_hours").cast("double")))
    asm = VectorAssembler(inputCols=["n_events", "n_after_hours"],
                          outputCol="features")
    # one sorted partition pins k-means|| init sampling and float
    # reduction order (post-shuffle row order varies run-to-run —
    # same fix as ml/unsupervised.kmeans_detector, round 10)
    train = asm.transform(batch).repartition(1).sortWithinPartitions(
        "n_events", "n_after_hours")
    model = KMeans(k=k, seed=seed, featuresCol="features",
                   predictionCol="cluster").fit(train)
    sizes = (model.transform(train).groupBy("cluster").count().collect())
    anomaly_cluster = min(sizes, key=lambda r: (r["count"], r["cluster"]))[
        "cluster"]

    # ---- streaming serve path
    ev = events_stream(spark, sf_dir)
    agg = (ev.groupBy(F.window("ts", window), "user")
           .agg(F.count("*").alias("n_events"),
                F.sum("is_after_hours").alias("n_after_hours")))
    feats = agg.select(F.col("window.start").alias("window_start"), "user",
                       F.col("n_events").cast("double").alias("n_events"),
                       F.col("n_after_hours").cast("double")
                        .alias("n_after_hours"))
    scored = model.transform(asm.transform(feats))
    out = scored.select(
        "window_start", "user", "n_events", "n_after_hours",
        (F.col("cluster") == anomaly_cluster).cast("int")
         .alias("is_anomaly"))
    return run_stream_to_table(out, mode="complete")


def purchase_error_pairs(spark: SparkSession, sf_dir: str,
                         max_gap_minutes: int = 30) -> DataFrame:
    """Stream-stream interval join (append mode): correlate each
    purchase with the errors the same user hits within the next
    ``max_gap_minutes``. Both sides carry watermarks and the join
    condition bounds event time on both ends, so Spark can evict join
    state (a purchase older than watermark-minus-gap can never match a
    future error); without the time-range condition the join state
    grows without bound. Inner join => matches emit as soon as both
    sides arrive — no watermark-delay on output."""
    pur = (events_stream(spark, sf_dir, watermark=None)
           .where(F.col("activity") == "purchase")
           .select(F.col("user").alias("p_user"),
                   F.col("event_id").alias("purchase_event_id"),
                   F.col("ts").alias("p_ts"))
           .withWatermark("p_ts", "1 hour"))
    err = (events_stream(spark, sf_dir, watermark=None)
           .where(F.col("activity") == "error")
           .select(F.col("user").alias("e_user"),
                   F.col("event_id").alias("error_event_id"),
                   F.col("ts").alias("e_ts"))
           .withWatermark("e_ts", "1 hour"))
    joined = pur.join(err, F.expr(f"""
        p_user = e_user
        AND e_ts >= p_ts
        AND e_ts <= p_ts + INTERVAL {int(max_gap_minutes)} MINUTES"""))
    out = joined.select(
        F.col("p_user").alias("user"),
        "purchase_event_id", "error_event_id",
        (F.unix_micros("e_ts") - F.unix_micros("p_ts")).alias("gap_us"))
    return run_stream_to_table(out, mode="append")


def deduped_event_counts(spark: SparkSession, sf_dir: str,
                         watermark: str = "1 hour") -> DataFrame:
    """Streaming exactly-once event dedup: at-least-once sources
    (kafka redeliveries, retried file batches) re-emit events;
    ``dropDuplicatesWithinWatermark`` on the event key keeps one copy
    with state bounded by the watermark horizon (a plain
    dropDuplicates would grow state forever). Downstream: per-user
    counts over the deduped stream."""
    ev = events_stream(spark, sf_dir, watermark=watermark)
    deduped = ev.dropDuplicatesWithinWatermark(["event_id"])
    out = (deduped.groupBy("user")
           .agg(F.count("*").alias("n_events")))
    return run_stream_to_table(out, mode="complete")


def static_enriched_nation_counts(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against the
    static customer dimension (user_id → nation), then a per-nation
    rollup. The static side is broadcast — each micro-batch plans a
    broadcast-hash join with NO stream-state (stream-static inner
    joins are stateless by construction), which is the 100 TB shape:
    the dim re-broadcasts per batch while the unbounded side never
    shuffles for the join. AQE doesn't re-plan inside micro-batches,
    so the explicit broadcast hint matters here more than in batch."""
    ev = events_stream(spark, sf_dir)
    cust = (load_table(spark, sf_dir, "customer")
            .select(F.col("c_custkey"), F.col("c_nationkey")))
    joined = ev.join(F.broadcast(cust),
                     ev["user_id"] == cust["c_custkey"])
    agg = (joined.groupBy("c_nationkey")
           .agg(F.count("*").alias("n_events"),
                F.round(F.sum("value"), 4).alias("total_value")))
    return run_stream_to_table(agg, mode="complete")


def run_foreach_batch_upsert(stream_df: DataFrame, keys: list[str],
                             sums: list[str], target_path: str,
                             checkpoint: str):
    """Incremental materialized aggregate via ``foreachBatch``: each
    micro-batch's per-key partial sums MERGE into a parquet target
    (insert new keys, add into existing) with a staged-write + rename
    commit. This is the production pattern when the sink store has no
    native upsert (plain parquet/object storage): the stream stays
    append-only and tiny (per-batch partials), the target is rewritten
    copy-on-write.

    ``foreachBatch`` itself is only at-least-once — a crash after the
    target swap but before the checkpoint commit replays the batch on
    restart, and an additive merge would double-add. The sink is
    therefore made idempotent explicitly: the max applied ``batch_id``
    is staged WITH the data (``_applied_batch_id`` sidecar inside the
    target directory, written before the atomic rename) and replayed
    batches with ``batch_id <= stored`` are skipped, which upgrades the
    end-to-end guarantee to effectively-once (pinned by
    tests/test_stream_sink.py::test_foreach_batch_upsert_is_exactly_once
    and ``..._replay_is_idempotent``). The swap itself is
    rename-to-backup → rename-staged-in → drop-backup, with crash
    recovery from the backup on the next batch, so no window loses the
    target entirely.

    The merge is union + re-aggregate rather than a join: additive
    merges commute, so the plan is two map-combined aggs and no join
    state; at 100 TB the target would be key-partitioned and only
    touched partitions rewritten.
    """
    import os
    import shutil

    marker = "_applied_batch_id"
    backup = f"{target_path}__backup"

    def _applied(path: str) -> int:
        try:
            with open(os.path.join(path, marker)) as f:
                return int(f.read().strip())
        except (OSError, ValueError):
            return -1

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        if not os.path.exists(target_path) and os.path.exists(backup):
            os.rename(backup, target_path)  # crash between the two renames
        if batch_id <= _applied(target_path):
            return  # at-least-once replay of an already-merged batch
        inc = batch_df.groupBy(*keys).agg(
            *[F.sum(c).alias(c) for c in sums])
        if os.path.exists(target_path):
            cur = sp.read.parquet(target_path)
            merged = (cur.unionByName(inc)
                      .groupBy(*keys)
                      .agg(*[F.sum(c).alias(c) for c in sums]))
        else:
            merged = inc
        staged = f"{target_path}__staged"
        merged.write.mode("overwrite").parquet(staged)
        with open(os.path.join(staged, marker), "w") as f:
            f.write(str(batch_id))
        if os.path.exists(backup):
            shutil.rmtree(backup)
        if os.path.exists(target_path):
            os.rename(target_path, backup)
        os.rename(staged, target_path)
        if os.path.exists(backup):
            shutil.rmtree(backup)

    q = (stream_df.writeStream
         .foreachBatch(upsert)
         .option("checkpointLocation", checkpoint)
         .start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def tws_user_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user profile on the Spark 4 ``transformWithState``
    stateful API (the arbitrary-state successor to
    ``applyInPandasWithState``: typed state variables, timers, TTL —
    here a single ValueState of running counts). Requires the RocksDB
    state store, which is also the 100 TB answer: state lives off-heap
    per task with incremental checkpointing, not in executor heap.

    The update-mode memory sink appends one row per (user, batch);
    counts are monotone, so keeping each user's max-total row yields
    the post-drain state — which equals the batch aggregate, making
    this stateful operator fully oracle-checkable."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class ProfileProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._counts = handle.getValueState(
                "counts", "total LONG, after_hours LONG")

        def handleInputRows(self, key, rows, timerValues):
            total = ah = 0
            if self._counts.exists():
                total, ah = self._counts.get()
            for pdf in rows:
                total += len(pdf)
                ah += int(pdf["is_after_hours"].sum())
            self._counts.update((total, ah))
            yield pd.DataFrame({
                "user": [key[0]],
                "total_activities": [total],
                "after_hours_activities": [ah],
            })

        def close(self) -> None:
            pass

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider")
    ev = events_stream(spark, sf_dir).select("user", "is_after_hours")
    profiles = ev.groupBy("user").transformWithStateInPandas(
        statefulProcessor=ProfileProcessor(),
        outputStructType=("user LONG, total_activities LONG, "
                          "after_hours_activities LONG"),
        outputMode="Update",
        timeMode="None")
    out = run_stream_to_table(profiles, mode="update")
    w = Window.partitionBy("user").orderBy(F.desc("total_activities"))
    return (out.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def streaming_after_hours_top10(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """The flagship reference query (top-10 users by after-hours
    activity, `neo4j_analysis.py:15-22`) as a LIVE leaderboard:
    complete-mode streaming aggregation + sort + limit — the only
    output mode where ordering/limit are legal, and the right one for
    a small always-current ranking (state = |users| counts, output =
    10 rows per trigger)."""
    ev = events_stream(spark, sf_dir)
    top = (ev.filter(F.col("is_after_hours") == 1)
           .groupBy("user")
           .agg(F.count("*").alias("after_hours_count"))
           .orderBy(F.desc("after_hours_count"), F.asc("user"))
           .limit(10))
    return run_stream_to_table(top, mode="complete")


def countmin_user_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Count-Min sketch of the user-id stream — the sketch
    family's streaming twin. Because CM is a LINEAR sketch, the
    streaming update is just the cell aggregation in complete mode,
    and the stateful-agg state is bounded at depth×width counters
    REGARDLESS of user cardinality — the property that makes sketches
    the streaming answer where a per-key groupBy's state grows without
    bound. Post-drain cells equal the batch sketch over the same
    events (linearity), so the oracle is the same generated SQL."""
    from threat_detection_nosql_spark.operators.sketches import (
        countmin_cells,
    )
    ev = events_stream(spark, sf_dir)
    weighted = ev.select(F.col("user").cast("string").alias("tok"),
                         F.lit(1).alias("cnt"))
    cells = countmin_cells(weighted, depth=4, width=1024)
    return run_stream_to_table(cells, mode="complete")


_DRIFT_CUTOFF = "2024-01-16"
_DRIFT_BINS = 10
_DRIFT_EPS = 1e-6


def drift_psi_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PSI drift monitor: the frozen reference slice
    (events before the cutoff) defines the bin edges and reference
    fractions ONCE, batch-side; the live slice streams through the
    same fixed-edge binning into a complete-mode bin-count aggregation
    whose state is bounded at ``_DRIFT_BINS`` rows. The PSI arithmetic
    itself is a 10-row batch join on the drained state — in production
    it runs per trigger in foreachBatch against the frozen reference.
    Out-of-range live values clamp into the edge bins (fixed edges are
    what makes reference vs live comparable)."""
    static = (load_table(spark, sf_dir, "events")
              .filter((F.col("ts") < _DRIFT_CUTOFF)
                      & F.col("value").isNotNull()))
    mm = static.agg(F.min("value").alias("mn"),
                    F.max("value").alias("mx")).collect()[0]
    mn, mx = float(mm["mn"]), float(mm["mx"])
    span = (mx - mn) / _DRIFT_BINS or 1.0

    def bin_col(c):
        return F.least(F.greatest(
            F.floor((c - F.lit(mn)) / F.lit(span)), F.lit(0)),
            F.lit(_DRIFT_BINS - 1)).cast("int")

    ref = (static.groupBy(bin_col(F.col("value")).alias("bin"))
           .agg(F.count("*").alias("ref_n")))

    live = (events_stream(spark, sf_dir)
            .filter((F.col("ts") >= _DRIFT_CUTOFF)
                    & F.col("value").isNotNull())
            .groupBy(bin_col(F.col("value")).alias("bin"))
            .agg(F.count("*").alias("cur_n")))
    cur = run_stream_to_table(live, mode="complete")

    tot = (ref.agg(F.sum("ref_n").alias("ref_tot")).crossJoin(
        cur.agg(F.sum("cur_n").alias("cur_tot"))))
    rf = F.greatest(F.col("ref_n") / F.col("ref_tot"),
                    F.lit(_DRIFT_EPS))
    cf = F.greatest(F.col("cur_n") / F.col("cur_tot"),
                    F.lit(_DRIFT_EPS))
    return (ref.join(cur, "bin", "full")
            .fillna(0, ["ref_n", "cur_n"])
            .crossJoin(F.broadcast(tot))
            .select("bin", "ref_n", "cur_n",
                    F.round(rf, 6).alias("ref_frac"),
                    F.round(cf, 6).alias("cur_frac"),
                    F.round((cf - rf) * F.log(cf / rf), 6)
                    .alias("psi_term")))


def unmatched_purchases(spark: SparkSession, sf_dir: str,
                        max_gap_minutes: int = 30) -> DataFrame:
    """LEFT OUTER stream-stream interval join (append mode): every
    purchase pairs with the errors its user hits within the next
    ``max_gap_minutes``; purchases with NO such error emit exactly one
    null-padded row — but only once the watermark passes the end of
    their match interval, because until then a matching error could
    still arrive. That unmatched-emission deferral is the semantics
    inner joins don't exercise: left-side state holds each purchase
    until ``p_ts + gap < watermark`` (global watermark = min over both
    sides of max-event-time − 1 h), then the no-data micro-batch after
    the final file batch evicts and emits. Purchases younger than the
    final watermark horizon never emit their unmatched row — the
    batch-morph oracle replays that cutoff exactly."""
    pur = (events_stream(spark, sf_dir, watermark=None)
           .where(F.col("activity") == "purchase")
           .select(F.col("user").alias("p_user"),
                   F.col("event_id").alias("purchase_event_id"),
                   F.col("ts").alias("p_ts"))
           .withWatermark("p_ts", "1 hour"))
    err = (events_stream(spark, sf_dir, watermark=None)
           .where(F.col("activity") == "error")
           .select(F.col("user").alias("e_user"),
                   F.col("event_id").alias("error_event_id"),
                   F.col("ts").alias("e_ts"))
           .withWatermark("e_ts", "1 hour"))
    joined = pur.join(err, F.expr(f"""
        p_user = e_user
        AND e_ts >= p_ts
        AND e_ts <= p_ts + INTERVAL {int(max_gap_minutes)} MINUTES"""),
        "leftOuter")
    out = joined.select(
        F.col("p_user").alias("user"),
        "purchase_event_id",
        F.coalesce("error_event_id", F.lit(-1)).alias("error_event_id"),
        F.coalesce(F.unix_micros("e_ts") - F.unix_micros("p_ts"),
                   F.lit(-1)).alias("gap_us"))
    return run_stream_to_table(out, mode="append")


def bloom_user_words(spark: SparkSession, sf_dir: str,
                     n_hashes: int = 4, m_bits: int = 7200) -> DataFrame:
    """Streaming Bloom filter of the user-id stream — the membership
    sketch's streaming twin. bit_or is IDEMPOTENT and commutative, so
    the complete-mode word aggregation needs no distinct and no
    watermark, its state is bounded at m/60 rows regardless of user
    cardinality, and the post-drain word table equals the batch
    ``operators.sketches.bloom_words`` over the distinct users — the
    oracle replays every packed word."""
    from threat_detection_nosql_spark.operators.sketches import (
        _BLOOM_WORD_BITS,
        bloom_positions,
    )
    ev = events_stream(spark, sf_dir)
    pos = ev.select(F.explode(bloom_positions(
        F.col("user").cast("string"), n_hashes, m_bits)).alias("pos"))
    word = ((F.col("pos") - F.col("pos") % _BLOOM_WORD_BITS)
            / _BLOOM_WORD_BITS).cast("long")
    bit = F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                 f"CAST(pos % {_BLOOM_WORD_BITS} AS INT))")
    words = (pos.select(word.alias("word"), bit.alias("b"))
             .groupBy("word").agg(F.bit_or("b").alias("word_bits")))
    return run_stream_to_table(words, mode="complete")


def topk_active_users(spark: SparkSession, sf_dir: str,
                      k: int = 20) -> DataFrame:
    """Streaming GLOBAL top-k — complete-mode aggregation feeding a
    sort+limit, the one place Structured Streaming allows a full
    ORDER BY (the leaderboard every live dashboard runs). State is the
    per-user count table; the drained top-k equals the batch top-k
    because complete mode re-emits the whole aggregate each batch, so
    the final emission IS the batch answer — integer counts with a
    total (count DESC, user ASC) tie-break, no float anywhere."""
    ev = events_stream(spark, sf_dir)
    counts = ev.groupBy("user").agg(F.count("*").alias("n_events"))
    top = counts.orderBy(F.desc("n_events"), F.asc("user")).limit(k)
    return run_stream_to_table(top, mode="complete")


_MARKOV_OUT_SCHEMA = ("user long, prev_activity string, activity string, "
                      "n long")


def markov_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful SEQUENCE operator (`applyInPandasWithState`):
    per-user (prev activity → activity) transition counts where the
    state carries the user's LAST activity across micro-batches — the
    continuous form of the batch Markov matrix, and the shape of every
    CEP-style pattern counter (state = suffix of the sequence seen so
    far).

    Each batch sorts its group chunk by (ts, event_id) before pairing
    — within one batch that reproduces the batch lag() exactly, so on
    a single-batch drive (one source file) the drained counts equal
    the batch pairs and the oracle replays them value-for-value.
    Multi-batch caveat, documented not hidden: rows arriving in a
    later batch pair with the stored last activity, so cross-batch
    out-of-order events would need event-time timers to resequence —
    the single-file drive keeps ordering exact.
    ``markov_ordered_transitions`` below is that upgrade (watermark-
    gated buffer drain + event-time timers); this simpler operator is
    kept as the arrival-order variant. Update-mode emissions
    re-state a user's full count table per batch; the memory sink
    APPENDS them, so the materialized table is deduped to the latest
    emission per (user, pair) — max(n) is monotone in batch order."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = events_stream(spark, sf_dir).select(
        "user", "ts", "event_id", "activity")

    def update(key, pdfs, state: GroupState):
        chunk = pd.concat(list(pdfs), ignore_index=True)
        chunk = chunk.sort_values(["ts", "event_id"], kind="mergesort")
        last = state.get[0] if state.exists else None
        counts: dict[tuple[str, str], int] = {}
        if state.exists and len(state.get) > 1 and state.get[1]:
            for item in state.get[1].split("|"):
                p, a, n = item.split(",")
                counts[(p, a)] = int(n)
        for act in chunk["activity"].tolist():  # list, not Series iter
            if last is not None:
                counts[(last, act)] = counts.get((last, act), 0) + 1
            last = act
        # codec guard: keys must not contain the state separators
        # (explicit raise, not assert — asserts vanish under -O and
        # this is corruption protection, not a debug check)
        if any("|" in p or "," in p or "|" in a or "," in a
               for p, a in counts):
            raise ValueError(
                "transition key contains a state-codec separator")
        packed = "|".join(f"{p},{a},{n}" for (p, a), n in
                          sorted(counts.items()))
        state.update((last, packed))
        yield pd.DataFrame({
            "user": [key[0]] * len(counts),
            "prev_activity": [p for p, _ in sorted(counts)],
            "activity": [a for _, a in sorted(counts)],
            "n": [counts[k] for k in sorted(counts)],
        })

    out = ev.groupBy("user").applyInPandasWithState(
        update,
        outputStructType=_MARKOV_OUT_SCHEMA,
        stateStructType="last_activity string, packed string",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout)
    table = run_stream_to_table(out, mode="update")
    latest = (table.groupBy("user", "prev_activity", "activity")
              .agg(F.max("n").alias("n")))
    return latest


def hll_user_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HyperLogLog register table over the user-id stream —
    the cardinality sketch's streaming twin, closing the sketch-twin
    family (Count-Min: sum-mergeable; Bloom: or-mergeable; HLL:
    MAX-mergeable). max is idempotent and commutative, so the
    complete-mode register aggregation needs no distinct and no
    watermark, state is bounded at 2^p rows regardless of user
    cardinality, and the drained registers equal the batch
    ``operators.sketches.hll_portable_registers`` — the oracle replays
    every register value."""
    from threat_detection_nosql_spark.operators.sketches import (
        _HLL_W_BITS,
    )
    from threat_detection_nosql_spark.operators.dedup import (
        _portable_hash60,
    )
    ev = events_stream(spark, sf_dir)
    x = _portable_hash60(F.col("user").cast("string"))
    w = x % F.lit(1 << _HLL_W_BITS)
    idx = ((x - w) / F.lit(float(1 << _HLL_W_BITS))).cast("long")
    rho = F.when(w == 0, F.lit(_HLL_W_BITS + 1)).otherwise(
        F.lit(_HLL_W_BITS + 1) - F.length(F.bin(w)))
    regs = (ev.select(idx.alias("idx"), rho.alias("rho"))
            .groupBy("idx").agg(F.max("rho").alias("r")))
    return run_stream_to_table(regs, mode="complete")


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`documents` as a file stream — the live-ingest twin of the
    corpus table (no event-time column, so complete-mode aggregations
    need no watermark; state-boundedness comes from the aggregate's
    own key domain instead)."""
    return stream_table(spark, sf_dir, "documents")


def token_df_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming vocabulary statistics — token -> document frequency +
    collection frequency over a live document feed (the continuously-
    maintained half of the inverted index; pipeline.inverted_postings
    is its batch form).

    Streaming legality is the design constraint: df = count DISTINCT
    doc has no incremental form without dedup state, and stacking a
    (doc, token) agg under a (token) agg is two stateful aggregations
    — both rejected by Structured Streaming. Instead each exploded
    occurrence carries a map-side ``is_first_in_doc`` flag
    (array_position over the PINNED split array == its own pos; a doc
    is one row, so the flag never splits across batches), making df a
    plain SUM — one stateful agg, fully merge-able across any
    batching, state bounded at |vocab|. The per-doc flag scan is
    O(len) per occurrence (the price of single-agg legality),
    amortized trivial at ~30-token docs and linear in corpus size."""
    agg = token_df_agg(documents_stream(spark, sf_dir))
    return run_stream_to_table(agg, mode="complete")


def token_df_agg(docs: DataFrame) -> DataFrame:
    """The single-stateful-agg plan behind ``token_df_counts`` —
    factored so tests can drive it over an arbitrarily-batched
    document stream and assert the any-batching merge property."""
    w = docs.select("doc_id", F.split(F.col("text"), r"\s+").alias("arr"))
    tok = (w.select("doc_id", "arr",
                    F.posexplode("arr").alias("pos", "token"))
           .filter(F.col("token") != ""))
    is_first = (F.expr("array_position(arr, token)")
                == F.col("pos") + 1).cast("long")
    return (tok.withColumn("isf", is_first)
            .groupBy("token")
            .agg(F.count("*").alias("cf"), F.sum("isf").alias("df"))
            .select("token", "df", "cf"))


_MARKOV_ORD_STATE = ("last_activity string, buffered string, "
                     "packed string")


def markov_ordered_transitions(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """The event-time-timer upgrade of ``markov_transition_counts``:
    cross-batch out-of-order events are RESEQUENCED before pairing.
    Arriving rows are buffered in state; a pair is only counted once
    the watermark passes the later row, at which point every buffered
    row at or below the watermark is drained in (ts, event_id) order
    against the carried last activity. An event-time timer
    (``setTimeoutTimestamp``) re-fires each group on the no-data
    micro-batch so the final watermark advance drains the tail —
    the same final-watermark cutoff semantics as the stream-stream
    join (rows above ``max(ts) − delay`` are never emitted, and the
    oracle replays exactly that cutoff). Rows that arrive already
    below the watermark are late by definition and dropped — which is
    what makes the emitted sequence a clean ts-ordered prefix, so the
    drained counts equal the batch lag() over the in-watermark slice
    under ANY batching and ANY arrival order.

    State = last activity + the buffered window (bounded by the
    watermark delay — one hour of one user's events) + the count
    table. Scale: state is per-user and delay-bounded; emission is
    update-mode count re-statements deduped downstream by max(n)
    (monotone in batch order)."""
    ev = events_stream(spark, sf_dir).select(
        "user", "ts", "event_id", "activity")
    table = run_stream_to_table(markov_ordered_agg(ev), mode="update")
    return (table.groupBy("user", "prev_activity", "activity")
            .agg(F.max("n").alias("n")))


def markov_ordered_agg(ev: DataFrame) -> DataFrame:
    """The watermark-gated stateful plan behind
    ``markov_ordered_transitions`` — factored so tests can drive it
    over an arbitrarily-batched, arbitrarily-ordered stream and assert
    the resequencing property. ``ev`` must be a watermarked stream of
    (user, ts, event_id, activity)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        wm = state.getCurrentWatermarkMs()
        last, buffered, counts = None, [], {}
        if state.exists:
            last0, buf0, packed0 = state.get
            last = last0 or None
            if buf0:
                for item in buf0.split("|"):
                    ms, eid, act = item.split(",", 2)
                    buffered.append((int(ms), int(eid), act))
            if packed0:
                for item in packed0.split("|"):
                    p, a, n = item.split(",")
                    counts[(p, a)] = int(n)
        for chunk in pdfs:
            # vectorized arrival decode (guide §4.2): the per-row
            # pd.Timestamp(...).value loop was ~half the batch's Python
            # time at 100k rows; numpy converts the whole column at once
            ms_arr = (chunk["ts"].to_numpy(dtype="datetime64[ns]")
                      .astype("int64") // 1_000_000)
            live = ms_arr > wm  # at/below watermark on arrival = late
            buffered.extend(zip(
                ms_arr[live].tolist(),
                chunk["event_id"].to_numpy()[live].astype(int).tolist(),
                chunk["activity"].to_numpy()[live].tolist()))
        buffered.sort()
        drain = [b for b in buffered if b[0] <= wm]
        keep = [b for b in buffered if b[0] > wm]
        for _, _, act in drain:
            if last is not None:
                counts[(last, act)] = counts.get((last, act), 0) + 1
            last = act
        # state codec guard: activity rides last in each ','-record and
        # records join on '|' — a '|' INSIDE an activity value would
        # corrupt decode (',' is safe: decode splits (',', 2) keeping
        # the tail intact). The vocabulary is fixed today; assert so a
        # future free-text activity fails loudly instead of silently.
        if any("|" in act for _, _, act in keep):
            raise ValueError(
                "activity value contains the '|' record separator")
        # the (prev, act, n) records split on BOTH separators
        if any("|" in p or "," in p or "|" in a or "," in a
               for p, a in counts):
            raise ValueError(
                "transition key contains a state-codec separator")
        items = sorted(counts.items())  # one sort, shared with the emit
        state.update((
            last or "",
            "|".join(f"{ms},{eid},{act}" for ms, eid, act in keep),
            "|".join(f"{p},{a},{n}" for (p, a), n in items)))
        if keep:  # re-fire on the next watermark advance to drain
            state.setTimeoutTimestamp(wm + 1)
        yield pd.DataFrame({
            "user": pd.array([key[0]] * len(items), dtype="Int64"),
            "prev_activity": [p for (p, _), _ in items],
            "activity": [a for (_, a), _ in items],
            "n": pd.array([n for _, n in items], dtype="Int64"),
        })

    return ev.groupBy("user").applyInPandasWithState(
        update,
        outputStructType=_MARKOV_OUT_SCHEMA,
        stateStructType=_MARKOV_ORD_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout)


def dedup_matches_agg(docs_stream: DataFrame,
                      old_docs: DataFrame) -> DataFrame:
    """The plan behind ``incremental_dedup_matches``, factored so
    tests can drive it over arbitrary batchings: per incoming doc the
    smallest EXISTING-corpus doc it near-duplicates (MinHash band
    collision + >= 8/16 signature agreement — the same constants as
    the batch family).

    Streaming legality by construction: a document arrives as ONE
    row, so its 16-component signature is computed STATELESSLY with
    array expressions (operators/dedup.minhash_signature_exprs — the
    per-shingle md5 array is pinned to a column so CollapseProject
    cannot inline it 16x); band explode is a generator; the corpus
    side is a STATIC frame (signatures would be a precomputed,
    append-only table in production), so the band join is a
    stream-static equi-join (stateless); the ONLY stateful operator
    is the final min-per-doc aggregation, state bounded at |matched
    incoming docs|."""
    from threat_detection_nosql_spark.operators import dedup as D

    n_bands, r, n = 8, 2, 16
    old_sig = D.minhash_signatures(old_docs)
    old_bands = old_sig.select(
        F.col("doc_id").alias("old_id"),
        *[F.col(f"s{i}").alias(f"b{i}") for i in range(n)],
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     *[F.col(f"s{b * r + j}").alias(f"v{j}")
                       for j in range(r)])
            for b in range(n_bands)])).alias("bkey"))

    xs, sigs = D.minhash_signature_exprs(F.col("text"))
    # the file-stream batch arrives as ONE split at test scale, so the
    # interpreted per-row signature lambdas would run single-core;
    # round-robin the incoming rows across the cluster first (stateless
    # repartition — legal pre-state, and a no-op cost next to the
    # 16-hash array expressions it parallelizes; guide §2)
    par = docs_stream.sparkSession.sparkContext.defaultParallelism
    new_sig = (docs_stream.repartition(par)
               .withColumn(D.MH_XS_COL, xs)
               .select("doc_id", *sigs))
    new_bands = new_sig.select(
        "doc_id", *[f"s{i}" for i in range(n)],
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     *[F.col(f"s{b * r + j}").alias(f"v{j}")
                       for j in range(r)])
            for b in range(n_bands)])).alias("bkey"))

    agree = sum((F.col(f"s{i}") == F.col(f"b{i}")).cast("int")
                for i in range(n))
    # broadcast the BATCH side (guide §3.1): the incoming micro-batch
    # is bounded by the trigger while the corpus side is the whole
    # persisted index — broadcasting new_bands means the corpus is
    # never shuffled by bkey (the before-plan shuffled BOTH sides into
    # a sort-merge join; row-identical, verified hash-equal).
    # The bound is a contract on the trigger, not a guard: the first
    # batch after downtime, or availableNow over a backlog, carries the
    # whole backlog and is broadcast unbounded.
    return (F.broadcast(new_bands).join(old_bands, "bkey")
            .filter(agree >= F.lit(8))
            .groupBy("doc_id")
            .agg(F.min("old_id").alias("matched_old")))


def incremental_dedup_matches(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Streaming twin of queries/advanced.incremental_corpus_dedup's
    near-dup screen: the incoming batch is the document STREAM
    (portable-hash bucket >= 80%), the existing corpus is static."""
    from threat_detection_nosql_spark.operators.sampling import (
        hash_bucket,
    )
    docs = load_table(spark, sf_dir, "documents")
    bucket = hash_bucket(F.col("doc_id"), salt="batch")
    old = docs.filter(bucket < 8000)
    stream = (documents_stream(spark, sf_dir)
              .filter(hash_bucket(F.col("doc_id"), salt="batch")
                      >= 8000))
    agg = dedup_matches_agg(stream, old)
    return run_stream_to_table(agg, mode="complete")


_PEAK_OUT_SCHEMA = ("event_type string, n_drained long, n_opens long, "
                    "peak long, peak_at_us long")
_PEAK_STATE = ("run long, peak long, peak_at_us long, n_opens long, "
               "n_drained long, buffered string")
_PEAK_TTL_US = 30 * 60 * 1_000_000          # 30-minute interval span


def peak_concurrency_agg(ev: DataFrame) -> DataFrame:
    """The watermark-gated stateful plan behind
    ``ordered_peak_concurrency`` — factored so tests can drive it
    over arbitrary batchings and arrival orders. ``ev`` must be a
    watermarked stream of (event_type, ts).

    Each arriving event contributes BOTH sweep boundaries (+1 at ts,
    −1 at ts+30m) to the per-type buffer — deriving them inside the
    state function (not as a pre-state explode) keeps the pair atomic:
    an event is either entirely in the sweep or entirely late-dropped,
    so the running sum can never drift negative from a half-dropped
    interval. Boundaries at or below the watermark drain in
    (t, delta) order — closes before opens at the same instant, the
    half-open semantics of the batch twin — carrying the running
    count, peak, and earliest peak time in state; an event-time timer
    (setTimeoutTimestamp(wm+1)) re-fires each group on the no-data
    batch so the final watermark advance drains the tail. State is
    bounded: the buffer holds at most one watermark-delay + 30m of
    one type's boundaries.

    Emission is update-mode re-statement; ``n_drained`` increases
    monotonically with every drained boundary, so downstream
    max(struct(n_drained, ...)) recovers the final state under any
    batching."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        wm = state.getCurrentWatermarkMs()
        run = peak = n_opens = n_drained = 0
        peak_at = 0
        buffered: list = []
        if state.exists:
            run, peak, peak_at, n_opens, n_drained, buf0 = state.get
            if buf0:
                for item in buf0.split("|"):
                    us, delta = item.split(",")
                    buffered.append((int(us), int(delta)))
        for chunk in pdfs:
            # vectorized arrival decode (guide §4.2): both sweep
            # boundaries still derive from the same in-state row, so
            # the open/close pair stays atomic
            us_arr = (chunk["ts"].to_numpy(dtype="datetime64[ns]")
                      .astype("int64") // 1_000)
            for us in us_arr[us_arr // 1_000 > wm].tolist():
                buffered.append((us, 1))
                buffered.append((us + _PEAK_TTL_US, -1))
        buffered.sort()
        keep = []
        for us, delta in buffered:
            if us // 1_000 <= wm:
                run += delta
                n_drained += 1
                if delta == 1:
                    n_opens += 1
                    if run > peak:
                        peak, peak_at = run, us
            else:
                keep.append((us, delta))
        state.update((run, peak, peak_at, n_opens, n_drained,
                      "|".join(f"{us},{d}" for us, d in keep)))
        if keep:      # re-fire on the next watermark advance
            state.setTimeoutTimestamp(wm + 1)
        if peak > 0:
            yield pd.DataFrame({
                "event_type": [key[0]],
                "n_drained": pd.array([n_drained], dtype="Int64"),
                "n_opens": pd.array([n_opens], dtype="Int64"),
                "peak": pd.array([peak], dtype="Int64"),
                "peak_at_us": pd.array([peak_at], dtype="Int64"),
            })
        else:
            yield pd.DataFrame({
                "event_type": pd.array([], dtype=object),
                "n_drained": pd.array([], dtype="Int64"),
                "n_opens": pd.array([], dtype="Int64"),
                "peak": pd.array([], dtype="Int64"),
                "peak_at_us": pd.array([], dtype="Int64"),
            })

    return ev.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=_PEAK_OUT_SCHEMA,
        stateStructType=_PEAK_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout)


def ordered_peak_concurrency(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Streaming twin of queries/temporal.peak_concurrency_by_type:
    per-type peak concurrent 30-minute intervals, resequenced behind
    the watermark so out-of-order arrival cannot corrupt the running
    sum (the same event-time-timer recipe as
    markov_ordered_transitions). Rows above the final watermark
    (max(ts) − 1h) are never emitted — the oracle replays exactly
    that cutoff."""
    ev = events_stream(spark, sf_dir).select("event_type", "ts")
    table = run_stream_to_table(peak_concurrency_agg(ev),
                                mode="update")
    final = (table.groupBy("event_type")
             .agg(F.max(F.struct("n_drained", "n_opens", "peak",
                                 "peak_at_us")).alias("s")))
    return (final.select(
        "event_type",
        F.col("s.n_opens").alias("n_opens"),
        F.col("s.peak").alias("peak_concurrency"),
        F.date_format(F.timestamp_micros(F.col("s.peak_at_us")),
                      "yyyy-MM-dd HH:mm:ss").alias("peak_at"))
        .orderBy("event_type"))


def cdc_live_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of queries/relational.cdc_last_writer_state:
    the op-coded changelog arrives as a stream and the live table is
    maintained by ONE streaming aggregation — max over the
    (ts, event_id, op, cents) struct per key. Struct-max is
    associative/commutative with a total order (the (ts, event_id)
    prefix is unique), so the drained state equals the batch
    last-writer-wins under ANY batching and arrival order — no
    resequencing buffer needed, unlike the running-sum twins. State
    is one struct per key, watermark-free by design (a late row
    simply loses the max). Final DELETE winners are filtered
    downstream of the drain."""
    ev = events_stream(spark, sf_dir, watermark=None)
    log = ev.select(
        F.col("user").alias("k"), "ts", "event_id",
        F.when(F.col("activity") == "error", F.lit("D"))
        .otherwise(F.lit("U")).alias("op"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"))
    agg = (log.groupBy("k")
           .agg(F.max(F.struct("ts", "event_id", "op", "cents"))
                .alias("w")))
    table = run_stream_to_table(agg, mode="complete")
    return (table.filter(F.col("w.op") == "U")
            .select(F.col("k").alias("user_id"),
                    F.col("w.cents").alias("live_value_cents"))
            .orderBy("user_id"))


# -- watermark-resequenced ordered funnel -------------------------------------

_FUNNEL_ORD_STATE = "t1_us long, t2_us long, t3_us long, buffered string"
_FUNNEL_ORD_OUT = "user long, reached1 long, reached2 long, reached3 long"


def funnel_ordered_conversion(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Streaming twin of temporal.funnel_conversion via the
    event-time-timer recipe (markov_ordered_transitions precedent):
    per-user view → click → purchase stage timestamps, correct under
    ANY batching and ANY cross-batch arrival order.

    Why a buffer is required at all: the ordered-funnel rule
    t2 = min click STRICTLY AFTER t1 is not monotone under arrival —
    a late-arriving earlier view lowers t1 and can re-admit a click
    that was previously skipped, so no per-arrival update is final
    until the watermark passes it. Buffering every arrival above the
    watermark and draining rows at/below it in (ts, event_id) order
    makes each stage assignment final at drain time: processing in
    event-time order means t1 is the global min view the moment it
    drains, so 'first click with ts > t1' seen in drain order IS the
    batch min — stage state never needs revision.

    State per user = three stage timestamps (µs; the strict
    ``>`` compares run at full parquet micro resolution, matching the
    batch oracle's timestamp compares) + the delay-bounded buffer.
    An event-time timer re-fires each group on the no-data batch so
    the final watermark advance drains the tail; rows above
    max(ts) − delay are never drained — the same final-watermark
    cutoff the oracle replays. Update-mode re-emissions are monotone
    0→1 flags, collapsed downstream by max()."""
    ev = events_stream(spark, sf_dir).select(
        "user", "ts", "event_id", "activity")
    table = run_stream_to_table(funnel_ordered_agg(ev), mode="update")
    per_user = table.groupBy("user").agg(
        F.max("reached1").alias("r1"), F.max("reached2").alias("r2"),
        F.max("reached3").alias("r3"))
    return per_user.agg(
        F.sum("r1").alias("viewed"),
        F.sum("r2").alias("clicked_after_view"),
        F.sum("r3").alias("purchased_after_click"))


def funnel_ordered_agg(ev: DataFrame) -> DataFrame:
    """The stateful plan behind ``funnel_ordered_conversion`` —
    factored so tests can drive it over arbitrarily-batched,
    arbitrarily-ordered streams and assert drained == batch. ``ev``
    must be a watermarked stream of (user, ts, event_id, activity)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        wm = state.getCurrentWatermarkMs()
        t1, t2, t3, buffered = -1, -1, -1, []
        if state.exists:
            t1, t2, t3, buf0 = state.get
            if buf0:
                for item in buf0.split("|"):
                    us, eid, act = item.split(",", 2)
                    buffered.append((int(us), int(eid), act))
        for chunk in pdfs:
            # vectorized arrival decode (guide §4.2) — same shape as
            # markov_ordered_agg: one numpy pass replaces the per-row
            # pd.Timestamp loop
            us_arr = (chunk["ts"].to_numpy(dtype="datetime64[ns]")
                      .astype("int64") // 1_000)
            live = us_arr // 1_000 > wm  # at/below watermark = late
            buffered.extend(zip(
                us_arr[live].tolist(),
                chunk["event_id"].to_numpy()[live].astype(int).tolist(),
                chunk["activity"].to_numpy()[live].tolist()))
        buffered.sort()
        keep = []
        for us, eid, act in buffered:
            if us // 1_000 > wm:
                keep.append((us, eid, act))
                continue
            if act == "view" and t1 < 0:
                t1 = us
            elif act == "click" and t1 >= 0 and us > t1 and t2 < 0:
                t2 = us
            elif act == "purchase" and t2 >= 0 and us > t2 and t3 < 0:
                t3 = us
        # codec guard: activity rides last (split(',', 2) keeps its
        # tail) but '|' joins records — must not appear in the value
        if any("|" in act for _, _, act in keep):
            raise ValueError(
                "activity value contains the '|' record separator")
        state.update((t1, t2, t3,
                      "|".join(f"{us},{eid},{act}"
                               for us, eid, act in keep)))
        if keep:  # re-fire on the next watermark advance
            state.setTimeoutTimestamp(wm + 1)
        yield pd.DataFrame({
            "user": pd.array([key[0]], dtype="Int64"),
            "reached1": pd.array([1 if t1 >= 0 else 0], dtype="Int64"),
            "reached2": pd.array([1 if t2 >= 0 else 0], dtype="Int64"),
            "reached3": pd.array([1 if t3 >= 0 else 0], dtype="Int64"),
        })

    return ev.groupBy("user").applyInPandasWithState(
        update,
        outputStructType=_FUNNEL_ORD_OUT,
        stateStructType=_FUNNEL_ORD_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout)


def linear_attribution_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream self interval join feeding the linear-attribution
    credit rollup: purchases matched to the same user's view/click
    touches in the preceding 7 days. Both sides watermark their own
    event-time column and the join bounds time on both ends, so
    purchase state evicts one hour past the watermark and touch state
    seven days past it (delay-bounded, like purchase_error_pairs —
    without the range condition the self-join state would grow without
    bound). Inner join in append mode: a pair emits as soon as both
    sides have arrived, so the drained pair SET equals the batch
    interval join under any batching.

    State budget (the design cost of a 7-day horizon, stated not
    hidden): steady-state rows ≈ touch_rate × (7 d + 1 h delay) +
    purchase_rate × 1 h — linear in the horizon, independent of total
    stream length. Eviction at the horizon is pinned by
    tests/test_round8_queries.py::
    test_attribution_join_state_evicts_past_watermark; shrinking the
    horizon (e.g. 3 d) cuts state proportionally but must change the
    batch oracle in lockstep (temporal._LINEAR_ATTR_SQL hardcodes the
    same 7-day window)."""
    pur = (events_stream(spark, sf_dir, watermark=None)
           .where(F.col("activity") == "purchase")
           .select(F.col("event_id").alias("p_id"),
                   F.col("user").alias("p_user"),
                   F.col("ts").alias("p_ts"),
                   F.round(F.col("value") * 100, 0).cast("long")
                   .alias("cents"))
           .withWatermark("p_ts", "1 hour"))
    tch = (events_stream(spark, sf_dir, watermark=None)
           .where(F.col("activity").isin("view", "click"))
           .select(F.col("user").alias("t_user"),
                   F.col("event_id").alias("t_id"),
                   F.col("activity").alias("touch"),
                   F.col("ts").alias("t_ts"))
           .withWatermark("t_ts", "1 hour"))
    joined = pur.join(tch, F.expr("""
        p_user = t_user
        AND t_ts < p_ts
        AND t_ts >= p_ts - INTERVAL 7 DAYS"""))
    out = joined.select("p_id", "cents", "touch",
                        F.unix_micros("t_ts").alias("t_us"), "t_id")
    return run_stream_to_table(out, mode="append")


# ---------------------------------------------------------------------------
# Streaming KMV quantile sketch (bottom-k by md5 — bounded state,
# portable, exactly oracle-replayable)
# ---------------------------------------------------------------------------

_KMV_OUT_SCHEMA = ("event_type string, seq long, n_sampled long, "
                   "p50 double, p90 double, p99 double")
_KMV_STATE = "seq long, packed string"


def kmv_quantile_agg(ev: DataFrame, k: int = 256) -> DataFrame:
    """Streaming twin of operators.sketches' KMV rollup: per
    event_type, keep the k rows with the smallest md5(event_id) —
    FIXED state per group no matter how long the stream runs — and
    re-emit discrete quantiles of the sample each batch (update
    mode). Because the bottom-k of a union is the bottom-k of
    per-part bottom-k's, the drained final sample equals the batch
    sketch under ANY batching, so the batch oracle replays every
    value. The md5 rank is computed pre-state with Spark's
    md5(CAST(event_id AS STRING)) — the same hex string hashlib and
    DuckDB's md5(...) produce; quantiles use the percentile_disc convention
    sorted[ceil(q*n)-1] (an OBSERVED value — no interpolation
    arithmetic to diverge). `seq` is a monotone per-group update
    counter so the consumer (and the registered query) can take each
    group's LAST emission from an append-only sink."""
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # the md5 rank is computed pre-state in codegen (guide §4: built-in
    # over a per-row Python hashlib loop — Spark md5(CAST(event_id AS
    # STRING)) yields the identical hex string)
    ev = ev.withColumn("h", F.md5(F.col("event_id").cast("string")))

    def update(key, pdfs, state: GroupState):
        seq = 0
        sample: list[tuple[str, int, float]] = []
        if state.exists:
            seq = int(state.get[0])
            packed = state.get[1]
            if packed:
                for item in packed.split("|"):
                    h, eid, val = item.split(",", 2)
                    sample.append((h, int(eid), float(val)))
        for chunk in pdfs:
            sample.extend(zip(chunk["h"].tolist(),
                              chunk["event_id"].tolist(),
                              chunk["value"].tolist()))
        sample.sort()
        sample = sample[:k]
        seq += 1
        # repr() round-trips doubles exactly; h is hex (no separators)
        state.update((seq, "|".join(f"{h},{eid},{val!r}"
                                    for h, eid, val in sample)))
        vals = sorted(v for _, _, v in sample)
        n = len(vals)

        def disc(q: float) -> float:
            return vals[max(0, math.ceil(q * n) - 1)]

        yield pd.DataFrame({
            "event_type": [key[0]],
            "seq": pd.array([seq], dtype="Int64"),
            "n_sampled": pd.array([n], dtype="Int64"),
            "p50": [disc(0.5)], "p90": [disc(0.9)], "p99": [disc(0.99)],
        })

    return ev.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=_KMV_OUT_SCHEMA,
        stateStructType=_KMV_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout)


def stream_kmv_quantiles(spark: SparkSession, sf_dir: str,
                         k: int = 256) -> DataFrame:
    """Drive the streaming KMV sketch over the finite events stream
    and return each type's final quantiles (latest emission per group
    via struct-max on the monotone seq)."""
    ev = events_stream(spark, sf_dir).select(
        "event_type", "event_id", "value")
    table = run_stream_to_table(kmv_quantile_agg(ev, k), mode="update")
    last = (table.groupBy("event_type")
            .agg(F.max(F.struct("seq", "n_sampled",
                                "p50", "p90", "p99")).alias("s")))
    return (last.select("event_type",
                        F.col("s.n_sampled").alias("n_sampled"),
                        F.col("s.p50").alias("p50"),
                        F.col("s.p90").alias("p90"),
                        F.col("s.p99").alias("p99"))
            .orderBy("event_type"))


# -- Theta sketch on the stream (round 11) -------------------------------------

_THETA_OUT_SCHEMA = "event_type string, seq long, hs string"
_THETA_STATE = "seq long, packed string"


def theta_sketch_agg(ev: DataFrame, k: int) -> DataFrame:
    """Streaming twin of operators.sketches.theta_user_sketches: per
    event_type keep the k smallest DISTINCT md5-60bit user hashes —
    FIXED state per group no matter how long the stream runs (the
    set-dedup happens inside the bounded sample: a hash already in
    the bottom-k inserts as a no-op; one outside it can only enter by
    being smaller than the current k-th, so the state never exceeds k
    entries). Bottom-k-of-union mergeability makes the drained final
    sketch equal the batch sketch under ANY batching, so the batch
    theta-overlap oracle replays the stream end to end."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from threat_detection_nosql_spark.operators.dedup import (
        _portable_hash60,
    )

    # the 60-bit md5 rank is computed pre-state in codegen (guide §4:
    # built-in over a per-row Python hashlib loop — same value:
    # conv(substring(md5(x),1,15),16,10) == int(md5(str(uid))[:15],16))
    ev = ev.withColumn("h", _portable_hash60(F.col("user_id")
                                             .cast("string")))

    def update(key, pdfs, state: GroupState):
        seq = 0
        sample: list[int] = []
        if state.exists:
            seq = int(state.get[0])
            packed = state.get[1]
            if packed:
                sample = [int(x) for x in packed.split(",")]
        have = set(sample)
        for chunk in pdfs:
            # sorted-set semantics: dedup + sort + truncate commute,
            # so a bulk set-union replaces the per-row membership loop
            have.update(chunk["h"].tolist())
        sample = sorted(have)[:k]
        seq += 1
        state.update((seq, ",".join(str(h) for h in sample)))
        yield pd.DataFrame({
            "event_type": [key[0]],
            "seq": pd.array([seq], dtype="Int64"),
            "hs": [",".join(str(h) for h in sample)],
        })

    return ev.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=_THETA_OUT_SCHEMA,
        stateStructType=_THETA_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout)


def stream_theta_sketches(spark: SparkSession, sf_dir: str,
                          k: int) -> DataFrame:
    """Drive the streaming theta sketch over the finite events stream
    and return the final (event_type, h) sketch rows — the exact
    shape operators.sketches.theta_overlap_estimates consumes."""
    ev = events_stream(spark, sf_dir).select("event_type", "user_id")
    table = run_stream_to_table(theta_sketch_agg(ev, k), mode="update")
    last = (table.groupBy("event_type")
            .agg(F.max(F.struct("seq", "hs")).alias("s")))
    return (last.select("event_type",
                        F.explode(F.split("s.hs", ",")).alias("hstr"))
            .select("event_type", F.col("hstr").cast("long").alias("h")))
