"""The per-session table catalog behind ``sources.readers.load_table``:
one resolved relation per (session, file version), shared by batch
reads and the `events` stream source."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameReader

from tests.conftest import SF_SMALL
from threat_detection_nosql_spark.operators.etl import activity_log
from threat_detection_nosql_spark.sources.readers import load_table
from threat_detection_nosql_spark.streaming.stream_queries import (
    events_stream,
    run_stream_to_table,
)


def _events(n: int) -> pa.Table:
    return pq.read_table(f"{SF_SMALL}/events.parquet").slice(0, n)


def test_repeat_calls_return_the_same_relation(spark):
    first = load_table(spark, SF_SMALL, "events")
    assert load_table(spark, SF_SMALL, "events") is first
    assert load_table(spark, SF_SMALL, "region") is not first


def test_rewritten_table_is_re_resolved(spark, tmp_path):
    path = tmp_path / "events.parquet"
    pq.write_table(_events(100), path)
    first = load_table(spark, str(tmp_path), "events")
    assert first.count() == 100
    pq.write_table(_events(250), path)
    second = load_table(spark, str(tmp_path), "events")
    assert second is not first
    assert second.count() == 250


def test_new_session_gets_its_own_relation(spark):
    other = spark.newSession()
    mine = load_table(spark, SF_SMALL, "events")
    theirs = load_table(other, SF_SMALL, "events")
    assert theirs is not mine
    assert theirs.sparkSession is other
    # and the first session re-resolves rather than reusing the other's
    again = load_table(spark, SF_SMALL, "events")
    assert again.sparkSession is spark
    assert again.count() == mine.count()


def test_events_stream_reuses_the_catalog_entry(spark, monkeypatch):
    load_table(spark, SF_SMALL, "events")
    calls = []
    parquet = DataFrameReader.parquet

    def counting(self, *paths, **options):
        calls.append(paths)
        return parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", counting)
    ev = events_stream(spark, SF_SMALL)
    assert ev.isStreaming
    assert calls == []
    assert ev.schema["ts"].dataType.typeName() == "timestamp"


def test_nanos_timestamps_agree_between_batch_and_stream(spark, tmp_path):
    """TIMESTAMP(NANOS) files (read as nanosecond longs by get_spark
    sessions) come out micro-truncated, the same in both readers."""
    tbl = _events(50)
    ts = pa.array([t.value * 1000 + 999 for t in tbl["ts"]],
                  pa.timestamp("ns"))
    pq.write_table(tbl.set_column(1, "ts", ts),
                   tmp_path / "events.parquet")
    batch = load_table(spark, str(tmp_path), "events")
    assert batch.schema["ts"].dataType.typeName() == "timestamp"
    want = sorted(tuple(r) for r in
                  batch.select("event_id", "ts").collect())
    stream = events_stream(spark, str(tmp_path), watermark=None)
    got = run_stream_to_table(
        stream.select("event_id", "ts"), mode="append").collect()
    assert sorted(tuple(r) for r in got) == want
    micros = {r.event_id: r.us for r in batch.select(
        "event_id", F.unix_micros("ts").alias("us")).collect()}
    orig = dict(zip(tbl["event_id"].to_pylist(),
                    (t.value for t in tbl["ts"])))
    assert micros == orig


def test_first_ntz_read_is_utc_under_another_session_zone(spark, tmp_path):
    """TIMESTAMP(MICROS) files read as TIMESTAMP_NTZ; the very first
    (uncached) resolution must cast them in UTC even when the session
    zone was something else when it was called."""
    tbl = _events(50)
    pq.write_table(tbl.set_column(1, "ts", tbl["ts"].cast(pa.timestamp("us"))),
                   tmp_path / "events.parquet")
    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        ev = load_table(spark, str(tmp_path), "events")
        log = activity_log(spark, str(tmp_path))
        micros = {r.event_id: r.us for r in ev.select(
            "event_id", F.unix_micros("ts").alias("us")).collect()}
        hours = {r.event_id: r.hour_of_day for r in
                 log.select("event_id", "hour_of_day").collect()}
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
    ids = tbl["event_id"].to_pylist()
    assert micros == dict(zip(ids, (t.value for t in tbl["ts"])))
    assert hours == dict(zip(ids, (t.as_py().hour for t in tbl["ts"])))


def test_repeat_log_calls_return_the_same_view(spark):
    first = activity_log(spark, SF_SMALL)
    assert activity_log(spark, SF_SMALL) is first


def test_rewritten_events_give_a_new_log_view(spark, tmp_path):
    path = tmp_path / "events.parquet"
    pq.write_table(_events(100), path)
    first = activity_log(spark, str(tmp_path))
    assert first.count() == 100
    pq.write_table(_events(250), path)
    second = activity_log(spark, str(tmp_path))
    assert second is not first
    assert second.count() == 250


def test_log_view_is_rebuilt_in_a_new_session_zone(spark, tmp_path):
    """hour_of_day takes the session zone when the view is analyzed,
    so a zone change gives a new view. TIMESTAMP(NANOS) files read as
    longs here, so no UTC pin (see the test above) applies."""
    from datetime import timezone
    from zoneinfo import ZoneInfo

    tbl = _events(50)
    ts = pa.array([t.value * 1000 for t in tbl["ts"]], pa.timestamp("ns"))
    pq.write_table(tbl.set_column(1, "ts", ts), tmp_path / "events.parquet")
    conf, zone = "spark.sql.session.timeZone", "America/New_York"
    saved = spark.conf.get(conf)

    def hours(tz):
        spark.conf.set(conf, tz)
        log = activity_log(spark, str(tmp_path))
        return log, {r.event_id: r.hour_of_day for r in
                     log.select("event_id", "hour_of_day").collect()}

    try:
        utc, utc_hours = hours("UTC")
        there, there_hours = hours(zone)
    finally:
        spark.conf.set(conf, saved)
    assert there is not utc
    at = {i: t.as_py().replace(tzinfo=timezone.utc)
          for i, t in zip(tbl["event_id"].to_pylist(), tbl["ts"])}
    assert utc_hours == {i: t.hour for i, t in at.items()}
    assert there_hours == {i: t.astimezone(ZoneInfo(zone)).hour
                           for i, t in at.items()}


def test_new_session_gets_its_own_log_view(spark):
    other = spark.newSession()
    mine = activity_log(spark, SF_SMALL)
    theirs = activity_log(other, SF_SMALL)
    assert theirs is not mine
    assert theirs.sparkSession is other
