"""The local driver JVM starts from a class-data-sharing archive.

`get_spark` launches the driver JVM with `-XX:ArchiveClassesAtExit`
when no archive exists yet and with `-XX:SharedArchiveFile` once one
does (`threat_detection_nosql_spark.cds`). The first test launches two
child sessions against an empty cache; the others check, without a
JVM, when CDS is turned off, how finished dumps are adopted and how
one launch at a time claims the dump.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest
from pyspark.find_spark_home import _find_spark_home

from threat_detection_nosql_spark import cds, localfs

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the archive is written while the JVM exits, so the child waits for
# its JVM before it exits itself
_CHILD = textwrap.dedent("""
    from pyspark import SparkContext
    from threat_detection_nosql_spark import cds, localfs
    from threat_detection_nosql_spark.session import get_spark

    spark = get_spark("cds")
    print("mode", cds.mode(spark),
          spark.range(10).selectExpr("sum(id)").first()[0], flush=True)
    print("raw", spark._jvm.org.apache.hadoop.fs.FileSystem.getLocal(
        spark._jsc.hadoopConfiguration()).getRawFileSystem().getClass()
        .getName(), flush=True)
    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=300)
""")


def _dead_pid() -> int:
    proc = subprocess.Popen([sys.executable, "-c", ""])
    proc.wait()
    return proc.pid


def test_second_launch_maps_the_archive_the_first_wrote(tmp_path,
                                                        monkeypatch):
    # probed in a cache of its own: a plan claims the dump name for
    # this (live) process, which would keep the children from dumping
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "probe"))
    if cds.plan(_find_spark_home()) is None:
        pytest.skip("CDS does not apply here (Spark conf or class path)")
    cache = tmp_path / "cache"
    monkeypatch.setenv("XDG_CACHE_HOME", str(cache))
    env = {**os.environ,
           "PYTHONPATH": REPO,
           "SPARK_GRAFT_CPUS": "2",
           "SPARK_GRAFT_DRIVER_MEM": "1g",
           "SPARK_LOCAL_DIRS": str(tmp_path / "local")}
    env.pop("PYSPARK_SUBMIT_ARGS", None)

    def launch(submit_args=None):
        if submit_args:
            env["PYSPARK_SUBMIT_ARGS"] = submit_args
        out = subprocess.run([sys.executable, "-c", _CHILD], env=env,
                             cwd=str(tmp_path), capture_output=True,
                             text=True, timeout=600)
        assert out.returncode == 0, out.stderr[-2000:]
        return out.stdout

    root = cache / "threat_detection_nosql_spark" / "cds"
    out = launch()
    assert "mode wrote 45" in out
    # a dump never records the local filesystem's jar, so launches
    # without it (no javac, an older checkout) still map the archive
    assert "raw org.apache.hadoop.fs.RawLocalFileSystem" in out
    # the dump replaced the empty file its launch claimed the name with
    dumps = list(root.glob("*.jsa"))
    assert len(dumps) == 1 and dumps[0].name.count(".") == 2
    # -Xshare:on makes the JVM refuse to start unless the archive maps,
    # here with the local filesystem's jar appended to the class path
    out = launch("--conf 'spark.driver.extraJavaOptions=-Xshare:on "
                 "-Xlog:cds' pyspark-shell")
    assert "mode used 45" in out
    assert "Mapped dynamic region" in out
    if localfs.build(_find_spark_home()) is not None:
        assert f"raw {localfs.CLASS_NAME}$Raw" in out
    key = dumps[0].name.split(".")[0]
    assert sorted(p.name for p in root.glob("*.jsa")) == [f"{key}.jsa"]


def _spark_home(tmp_path, conf_files):
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "jars" / "a.jar").write_bytes(b"jar")
    (home / "conf").mkdir()
    for name in conf_files:
        (home / "conf" / name).write_text("")
    return str(home)


def test_real_configuration_turns_cds_off(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    for var in ("SPARK_DIST_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR"):
        monkeypatch.delenv(var, raising=False)

    home = _spark_home(tmp_path, ["spark-defaults.conf.template"])
    with cds.launching(home) as launch:
        assert "-XX:ArchiveClassesAtExit=" in launch.java_options
        assert os.environ["SPARK_CONF_DIR"] == launch.conf_dir
        assert os.listdir(launch.conf_dir) == []
    assert "SPARK_CONF_DIR" not in os.environ

    monkeypatch.setenv("HADOOP_CONF_DIR", str(tmp_path))
    with cds.launching(home) as launch:
        assert launch is None
    monkeypatch.delenv("HADOOP_CONF_DIR")

    real = _spark_home(tmp_path / "real", ["spark-defaults.conf"])
    conf_dir = os.path.join(real, "conf")
    monkeypatch.setenv("SPARK_CONF_DIR", conf_dir)
    with cds.launching(real) as launch:
        assert launch is None
        assert os.environ["SPARK_CONF_DIR"] == conf_dir
    assert os.environ["SPARK_CONF_DIR"] == conf_dir


def test_one_dump_is_adopted_and_stale_keys_removed(tmp_path):
    root = tmp_path / "cds"
    root.mkdir()
    first, second = _dead_pid(), _dead_pid()
    (root / f"key.{first}.jsa").write_bytes(cds._MAGIC + b"first")
    (root / f"key.{second}.jsa").write_bytes(cds._MAGIC + b"second")
    # still being written by a live process: no header yet, kept
    (root / f"key.{os.getpid()}.jsa").write_bytes(b"\0" * 8)
    (root / "old.jsa").write_bytes(cds._MAGIC)
    (root / f"old.{first}.jsa").write_bytes(cds._MAGIC)

    archive = cds.adopt(str(root), "key")
    assert archive == str(root / "key.jsa")
    assert sorted(p.name for p in root.iterdir()) == [
        f"key.{os.getpid()}.jsa", "key.jsa"]
    assert (root / "key.jsa").read_bytes() in (cds._MAGIC + b"first",
                                               cds._MAGIC + b"second")
    assert cds.adopt(str(root), "key") == archive
    assert cds.adopt(str(root), "other") is None


def test_a_live_dump_claim_turns_other_launches_off(tmp_path, monkeypatch):
    """The first launch with no archive claims the dump name with an
    empty file; while its process lives, no other launch dumps a second
    archive (each dump adds seconds to its JVM's exit)."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    for var in ("SPARK_DIST_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR"):
        monkeypatch.delenv(var, raising=False)
    home = _spark_home(tmp_path, [])
    root = tmp_path / "cache" / "threat_detection_nosql_spark" / "cds"

    first = cds.plan(home)
    assert "-XX:ArchiveClassesAtExit=" in first.java_options
    claims = list(root.glob("*.jsa"))
    assert [p.name.split(".")[1] for p in claims] == [str(os.getpid())]
    assert claims[0].read_bytes() == b""
    # this process is alive and holds the claim: no second dump
    assert cds.plan(home) is None
    # a claim whose process died without dumping does not block ...
    key = claims[0].name.split(".")[0]
    claims[0].rename(root / f"{key}.{_dead_pid()}.jsa")
    assert "-XX:ArchiveClassesAtExit=" in cds.plan(home).java_options
    # ... and a finished dump of a dead process is adopted instead
    for p in root.glob(f"{key}.*.jsa"):
        p.unlink()
    (root / f"{key}.{_dead_pid()}.jsa").write_bytes(cds._MAGIC)
    assert "-XX:SharedArchiveFile=" in cds.plan(home).java_options
    assert [p.name for p in root.glob("*.jsa")] == [f"{key}.jsa"]
