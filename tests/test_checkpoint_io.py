"""Local sessions write streaming checkpoints through Hadoop's FileSystem API.

Spark's default checkpoint manager renames every checkpoint file with
`FileContext.rename`. On the local filesystem, without a native
libhadoop, that rename forks `readlink` to resolve links. `get_spark`
picks the `FileSystem` manager in local sessions, whose rename is one
rename(2). Hadoop's local filesystem also forks `chmod` for each file
and directory it creates; `get_spark` swaps in the package's
`NioLocalFileSystem`, which sets the same mode with one chmod(2) and
keeps the `.crc` files. These tests pin both choices, count the forks,
compare a checkpoint with one Hadoop's own class writes, and check that
restart and the one-writer guard still hold under the new manager.
"""

from __future__ import annotations

import os
import shutil
import stat
import subprocess
import sys
import textwrap
import time

import pytest
from pyspark.errors import PySparkException
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import functions as F
from py4j.protocol import Py4JJavaError

from tests.conftest import SF_SMALL
from threat_detection_nosql_spark import cds, localfs

FS_MANAGER = ("org.apache.spark.sql.execution.streaming.checkpointing."
              "FileSystemBasedCheckpointFileManager")
RAW_CLASS = localfs.CLASS_NAME + "$Raw"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_local_session_picks_the_filesystem_manager(spark, tmp_path):
    jvm = spark._jvm
    manager = (jvm.org.apache.spark.sql.execution.streaming.checkpointing
               .CheckpointFileManager.create(
                   jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
                   spark._jsparkSession.sessionState().newHadoopConf()))
    assert manager.getClass().getName() == FS_MANAGER


# runs in a child process, whose JVM inherits the shim-first PATH; the
# JVM forks one witness of each command, which shows the shim is on its
# PATH; then only spawns made during a warm pass of the query count
_CHILD = textwrap.dedent("""
    import os, sys
    from threat_detection_nosql_spark.queries.streaming_queries import (
        stream_deduped_counts)
    from threat_detection_nosql_spark.session import get_spark

    def spawned():
        with open(os.environ["SPAWN_LOG"]) as fh:
            names = fh.read().split()
        return {cmd: names.count(cmd) for cmd in ("readlink", "chmod")}

    spark = get_spark("spawn_count")
    # a cold pass: Spark forks `chmod a+x` on each fetch of the package
    # zip that ships to the Python workers, once per session
    stream_deduped_counts(spark, sys.argv[1]).collect()
    jvm = spark._jvm
    print("raw", jvm.org.apache.hadoop.fs.FileSystem.getLocal(
        spark._jsc.hadoopConfiguration()).getRawFileSystem()
        .getClass().getName())
    before = spawned()
    for cmd in ("readlink", "chmod u+w"):
        jvm.java.lang.Runtime.getRuntime().exec(
            f"{cmd} {os.getcwd()}").waitFor()
    witness = spawned()
    stream_deduped_counts(spark, sys.argv[1]).collect()
    after = spawned()
    for cmd in before:
        print(cmd, witness[cmd] - before[cmd], after[cmd] - witness[cmd])
    spark.stop()
""")


def _shim(bin_dir, log) -> None:
    """A `readlink` and a `chmod` that log their name and run the real
    command."""
    os.makedirs(bin_dir)
    for cmd in ("readlink", "chmod"):
        path = os.path.join(bin_dir, cmd)
        with open(path, "w") as fh:
            fh.write(f'#!/bin/sh\necho {cmd} >> "{log}"\n'
                     f'exec {shutil.which(cmd)} "$@"\n')
        os.chmod(path, 0o755)
    open(log, "w").close()


def test_stateful_stream_forks_no_readlink(tmp_path, monkeypatch):
    # a cache of its own, where this (live) process claims the CDS dump:
    # the child then launches without dumping an archive, since a
    # dumping launch keeps Hadoop's own local filesystem
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    cds.plan(_find_spark_home())
    if localfs.build(_find_spark_home()) is None:
        pytest.skip("no javac: the session keeps Hadoop's local filesystem")
    bin_dir, log = str(tmp_path / "bin"), str(tmp_path / "spawn.log")
    _shim(bin_dir, log)
    env = {**os.environ,
           "PATH": bin_dir + os.pathsep + os.environ["PATH"],
           "PYTHONPATH": REPO,
           "SPAWN_LOG": log,
           "SPARK_GRAFT_CPUS": "2",
           "SPARK_GRAFT_DRIVER_MEM": "1g",
           "SPARK_LOCAL_DIRS": str(tmp_path / "local")}
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    out = subprocess.run([sys.executable, "-c", _CHILD, SF_SMALL],
                         env=env, cwd=str(tmp_path), capture_output=True,
                         text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    lines = dict(line.split(" ", 1) for line in out.stdout.splitlines()
                 if line.startswith(("raw ", "readlink ", "chmod ")))
    assert lines["raw"] == RAW_CLASS
    # (witness forks, forks during the warm pass)
    assert lines["readlink"].split() == ["1", "0"]
    assert lines["chmod"].split() == ["1", "0"]


def _write_part(spark, path, rows) -> None:
    (spark.createDataFrame(rows, "user long, value long")
     .coalesce(1).write.parquet(path))


def _totals(spark, src, ckpt, name, trigger):
    """Start a per-user stateful aggregation over `src`, one file per
    micro-batch, into a complete-mode memory sink."""
    agg = (spark.readStream.schema("user long, value long")
           .option("maxFilesPerTrigger", 1)
           .parquet(src)
           .groupBy("user")
           .agg(F.count("*").alias("n"), F.sum("value").alias("total")))
    return (agg.writeStream.outputMode("complete").format("memory")
            .queryName(name).option("checkpointLocation", ckpt)
            .trigger(**trigger).start())


def _rows(spark, name) -> set[tuple]:
    return {tuple(r) for r in spark.table(name).collect()}


@pytest.fixture()
def two_file_stream(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_part(spark, f"{src}/a", [(1, 10), (2, 20), (1, 5)])
    _write_part(spark, f"{src}/b", [(1, 7), (3, 30), (2, 1)])
    return f"{src}/*"


def _first_batch_only(spark, src, ckpt, name):
    """Start the aggregation on an hourly trigger: the first batch runs
    at once, the next an hour later. Returns the query after batch 0."""
    q = _totals(spark, src, ckpt, name, {"processingTime": "1 hour"})
    deadline = time.monotonic() + 120
    while not any(p["batchId"] == 0 for p in q.recentProgress):
        assert time.monotonic() < deadline, "batch 0 never completed"
        q.awaitTermination(0.2)
    return q


def test_restart_from_checkpoint_matches_one_shot(spark, tmp_path,
                                                  two_file_stream):
    one_shot = _totals(spark, two_file_stream, str(tmp_path / "ck_all"),
                       "ck_one_shot", {"availableNow": True})
    one_shot.awaitTermination(120)
    expected = _rows(spark, "ck_one_shot")
    assert expected == {(1, 3, 22), (2, 2, 21), (3, 1, 30)}

    ckpt = str(tmp_path / "ck_restart")
    first = _first_batch_only(spark, two_file_stream, ckpt, "ck_first")
    first.stop()
    assert _rows(spark, "ck_first") == {(1, 2, 15), (2, 1, 20)}

    # the restart reads batch 0's state and offsets back from the
    # checkpoint, so it must process only the second file
    again = _totals(spark, two_file_stream, ckpt, "ck_again",
                    {"availableNow": True})
    again.awaitTermination(120)
    assert [p["batchId"] for p in again.recentProgress] == [1]
    assert _rows(spark, "ck_again") == expected


# The FileSystem manager's rename is exists-then-rename, not atomic, so
# two runs writing one checkpoint at once could race it. A driver lets
# one run per query id be active: a second start() on the checkpoint
# either stops the first run before it starts (Spark's default) or is
# refused. These two tests pin both halves of that guard.

def test_second_start_on_a_checkpoint_stops_the_first(spark, tmp_path,
                                                      two_file_stream):
    ckpt = str(tmp_path / "ck_active")
    first = _first_batch_only(spark, two_file_stream, ckpt, "ck_first_run")
    second = _totals(spark, two_file_stream, ckpt, "ck_second_run",
                     {"availableNow": True})
    assert not first.isActive
    assert second.id == first.id
    second.awaitTermination(120)
    assert _rows(spark, "ck_second_run") == {(1, 3, 22), (2, 2, 21),
                                            (3, 1, 30)}


def test_second_start_on_an_active_checkpoint_is_refused(spark, tmp_path,
                                                         two_file_stream):
    ckpt = str(tmp_path / "ck_active")
    first = _first_batch_only(spark, two_file_stream, ckpt, "ck_active_1")
    spark.conf.set("spark.sql.streaming.stopActiveRunOnRestart", "false")
    try:
        with pytest.raises((PySparkException, Py4JJavaError),
                           match="already active"):
            _totals(spark, two_file_stream, ckpt, "ck_active_2",
                    {"availableNow": True}).stop()
        assert first.isActive
    finally:
        spark.conf.unset("spark.sql.streaming.stopActiveRunOnRestart")
        first.stop()


def _session_fs(spark, tmp_path):
    """The session's local filesystem for ``tmp_path``, as a stream's
    checkpoint manager gets it; skips when the session launched with
    Hadoop's own (a launch that dumped the CDS archive, or no javac)."""
    if spark.sparkContext.getConf().get(localfs.IMPL_CONF, None) is None:
        pytest.skip("this session launched with Hadoop's local filesystem")
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    return jvm.org.apache.hadoop.fs.Path(str(tmp_path)).getFileSystem(conf)


def _tree(root) -> dict[str, int]:
    """Relative path -> permission bits of everything under ``root``."""
    out = {}
    for dirpath, dirs, files in os.walk(root):
        for name in dirs + files:
            path = os.path.join(dirpath, name)
            out[os.path.relpath(path, root)] = stat.S_IMODE(
                os.stat(path).st_mode)
    return out


def test_checkpoint_matches_hadoops_local_filesystem(spark, tmp_path,
                                                     two_file_stream):
    """A stateful stream's checkpoint written through the session's
    filesystem has the same files, ``.crc`` files and mode bits as one
    written through a stock ``LocalFileSystem`` in the same session."""
    fs = _session_fs(spark, tmp_path)
    assert fs.getClass().getName() == localfs.CLASS_NAME
    assert fs.getRawFileSystem().getClass().getName() == RAW_CLASS
    nio, stock = tmp_path / "ck_nio", tmp_path / "ck_stock"
    _totals(spark, two_file_stream, str(nio), "ck_nio",
            {"availableNow": True}).awaitTermination(120)
    # the FileSystem cache is keyed by scheme, not class: bypass it so
    # the stream's checkpoint manager builds Hadoop's class
    spark.conf.set("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
    spark.conf.set("fs.file.impl.disable.cache", "true")
    try:
        assert (_session_fs(spark, tmp_path).getRawFileSystem().getClass()
                .getName() == "org.apache.hadoop.fs.RawLocalFileSystem")
        _totals(spark, two_file_stream, str(stock), "ck_stock",
                {"availableNow": True}).awaitTermination(120)
    finally:
        spark.conf.unset("fs.file.impl")
        spark.conf.unset("fs.file.impl.disable.cache")
    assert _rows(spark, "ck_nio") == _rows(spark, "ck_stock")
    tree = _tree(nio)
    assert tree == _tree(stock)
    files = [p for p in tree
             if os.path.isfile(nio / p) and not p.endswith(".crc")]
    assert any(p.startswith("state") for p in files)
    for p in files:
        head, name = os.path.split(p)
        assert os.path.join(head, f".{name}.crc") in tree


def test_sticky_mode_defers_to_hadoop(spark, tmp_path):
    """java.nio cannot set the sticky bit, so such a mode goes through
    Hadoop's own setPermission; plain modes are applied as given."""
    fs = _session_fs(spark, tmp_path)
    jvm = spark._jvm
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission
    sticky, plain = tmp_path / "sticky", tmp_path / "plain"
    sticky.mkdir()
    plain.write_text("")
    fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(sticky)),
                     perm("1751"))
    fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(plain)), perm("640"))
    assert stat.S_IMODE(sticky.stat().st_mode) == 0o1751
    assert stat.S_IMODE(plain.stat().st_mode) == 0o640
