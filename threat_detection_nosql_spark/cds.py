"""Class-data sharing (CDS) for the local driver JVM.

Before it runs a query, a driver JVM loads thousands of classes from
Spark's jars. JDK 17's dynamic AppCDS writes the classes a JVM loaded
to an archive when it exits (``-XX:ArchiveClassesAtExit``), and a later
JVM maps them from that archive (``-XX:SharedArchiveFile``) instead of
reading, parsing and verifying them again.

The archive lives under ``$XDG_CACHE_HOME/threat_detection_nosql_spark/
cds/`` (``~/.cache`` when the variable is unset), named by a key over
the JDK and the class-path jars, so a JDK or Spark upgrade starts a new
archive. Each dump goes to a name holding the launching process's pid,
claimed with an empty file when the JVM launches, and a later launch
adopts a finished dump by ``os.replace``. While a live process holds a
claim and no archive is finished, other launches run without CDS
rather than dump a second archive. The JVM checks
the archive against its JDK and class path and, under the default
``-Xshare:auto``, loads classes the usual way on any mismatch, so a
stale archive costs speed, never correctness. A dump counts as
finished once its header is in place, which HotSpot writes last; a
file cut short after that (by hand, or by a failing disk) makes the
JVM abort at start. Deleting the directory is always safe: the next
launch writes a new archive.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shlex
import shutil
import time
from collections.abc import Iterator
from dataclasses import dataclass

# A finished dynamic archive starts with HotSpot's magic (0xf00baba8,
# little-endian). HotSpot writes the header after the class regions, so
# a dump still being written, or one cut short, does not start with it.
_MAGIC = (0xF00BABA8).to_bytes(4, "little")

# Variables that put more entries, directories among them, on the
# driver's class path. JDK 17 refuses to dump an archive while a
# non-empty directory is on the class path.
_CLASSPATH_ENV = ("SPARK_DIST_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR")

# A dump that never got its header (its JVM was killed) and has not
# been written to for this long is removed.
_STALE_S = 600

# The launch options go to spark.driver.defaultJavaOptions: spark-submit
# places them before spark.driver.extraJavaOptions, which
# --driver-java-options replaces, so the two never overwrite each other.
JAVA_OPTIONS_CONF = "spark.driver.defaultJavaOptions"


@dataclass(frozen=True)
class Launch:
    """How to launch one driver JVM with class-data sharing."""
    java_options: str  # the value for JAVA_OPTIONS_CONF
    conf_dir: str      # the empty SPARK_CONF_DIR to launch with

    @property
    def dumps(self) -> bool:
        """True when this JVM writes the archive as it exits."""
        return "-XX:ArchiveClassesAtExit=" in self.java_options


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache")
    return os.path.join(base, "threat_detection_nosql_spark", "cds")


def _java_home() -> str | None:
    """The JDK spark-class runs: $JAVA_HOME, else the ``java`` on PATH."""
    if os.environ.get("JAVA_HOME"):
        return os.environ["JAVA_HOME"]
    java = shutil.which("java")
    return (os.path.dirname(os.path.dirname(os.path.realpath(java)))
            if java else None)


def _only_templates(conf_dir: str) -> bool:
    """True when ``conf_dir`` holds nothing Spark would read."""
    try:
        names = os.listdir(conf_dir)
    except FileNotFoundError:
        return True
    return all(n.endswith(".template") for n in names)


def archive_key(java_home: str, jars_dir: str) -> str:
    """A key over the JDK (its release file, the size and mtime of its
    module image) and the name, size and mtime of each class-path jar."""
    h = hashlib.sha256()
    with open(os.path.join(java_home, "release"), "rb") as fh:
        h.update(fh.read())
    st = os.stat(os.path.join(java_home, "lib", "modules"))
    h.update(f"modules {st.st_size} {st.st_mtime_ns}".encode())
    for entry in sorted(os.scandir(jars_dir), key=lambda e: e.name):
        if entry.name.endswith(".jar"):
            st = entry.stat()
            h.update(f"\n{entry.name} {st.st_size} {st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def _finished(path: str) -> bool:
    try:
        with open(path, "rb") as fh:
            return fh.read(len(_MAGIC)) == _MAGIC
    except OSError:
        return False


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _dumps(root: str, key: str) -> list[tuple[str, int]]:
    """(path, pid) of every ``<key>.<pid>.jsa`` in ``root``, in name
    order."""
    out = []
    for name in sorted(os.listdir(root)):
        stem, _, pid = name.removesuffix(".jsa").partition(".")
        if stem == key and pid.isdigit() and name.endswith(".jsa"):
            out.append((os.path.join(root, name), int(pid)))
    return out


def adopt(root: str, key: str) -> str | None:
    """The path of the finished archive for ``key`` in ``root``, or None.

    A dump ``<key>.<pid>.jsa`` whose writer has exited becomes the
    archive when there is no finished one yet, and is removed when there
    is. On adoption, the archives under every other key are removed.
    """
    archive = os.path.join(root, f"{key}.jsa")
    adopted = False
    for path, pid in _dumps(root, key):
        if _alive(pid):
            continue
        with contextlib.suppress(OSError):
            if _finished(path) and not _finished(archive):
                os.replace(path, archive)
                adopted = True
            elif (_finished(path)
                  or time.time() - os.stat(path).st_mtime > _STALE_S):
                os.remove(path)
    if adopted:
        for name in os.listdir(root):
            if name.endswith(".jsa") and not name.startswith(f"{key}."):
                with contextlib.suppress(OSError):
                    os.remove(os.path.join(root, name))
    return archive if _finished(archive) else None


def _claim(root: str, key: str) -> str | None:
    """Claim this process's dump name ``<key>.<pid>.jsa`` with an empty
    file, or None when a live process already holds a claim for
    ``key`` (its JVM will dump the archive at exit, so a second dump
    would only cost another slow exit). HotSpot removes and recreates
    the claimed file when it dumps."""
    if any(_alive(pid) for _, pid in _dumps(root, key)):
        return None
    dump = os.path.join(root, f"{key}.{os.getpid()}.jsa")
    try:
        os.close(os.open(dump, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
    except FileExistsError:
        return None
    return dump


def plan(spark_home: str) -> Launch | None:
    """The CDS launch for a driver JVM of ``spark_home``, or None when
    CDS does not apply: a class path the archive cannot cover, a conf
    dir with real configuration, a cache that cannot be written, or no
    finished archive while another live launch holds the dump claim.
    A launch that will dump claims the dump name (``_claim``)."""
    if any(os.environ.get(v) for v in _CLASSPATH_ENV):
        return None
    java_home = _java_home()
    jars = os.path.join(spark_home, "jars")
    conf = (os.environ.get("SPARK_CONF_DIR")
            or os.path.join(spark_home, "conf"))
    if (java_home is None or not os.path.isdir(jars)
            or not _only_templates(conf)):
        return None
    root = cache_dir()
    empty = os.path.join(root, "empty-conf")
    try:
        os.makedirs(empty, exist_ok=True)
        if os.listdir(empty) or not os.access(root, os.W_OK):
            return None
        key = archive_key(java_home, jars)
        archive = adopt(root, key)
        dump = None if archive is not None else _claim(root, key)
    except OSError:
        return None
    if archive is not None:
        flag = f"-XX:SharedArchiveFile={archive}"
    elif dump is not None:
        flag = f"-XX:ArchiveClassesAtExit={dump}"
    else:
        return None
    # a dump logs ~600 warnings (classes it cannot archive) to stdout,
    # which a program's own output shares; -Xlog:cds in
    # spark.driver.extraJavaOptions turns the log back on
    return Launch(f"{shlex.quote(flag)} -Xlog:cds*=off", empty)


@contextlib.contextmanager
def launching(spark_home: str) -> Iterator[Launch | None]:
    """Plan a CDS launch; while the block runs, point SPARK_CONF_DIR at
    the plan's empty conf dir, and restore it afterwards.

    Spark puts SPARK_CONF_DIR first on the driver class path. The conf
    dir is swapped only when it holds nothing but ``*.template`` files,
    which Spark never reads, so no configuration is hidden; the swap
    lasts only while the JVM starts, since it reads the variable then.
    """
    launch = plan(spark_home)
    if launch is None:
        yield None
        return
    with setenv("SPARK_CONF_DIR", launch.conf_dir):
        yield launch


@contextlib.contextmanager
def setenv(name: str, value: str) -> Iterator[None]:
    """Set the environment variable ``name`` while the block runs."""
    saved = os.environ.get(name)
    os.environ[name] = value
    try:
        yield
    finally:
        if saved is None:
            os.environ.pop(name, None)
        else:
            os.environ[name] = saved


def mode(spark) -> str:
    """``used``, ``wrote`` or ``off``: how the session's driver JVM was
    launched (mapping an archive, dumping one at exit, or neither)."""
    opts = spark.sparkContext.getConf().get(JAVA_OPTIONS_CONF, "")
    if "-XX:SharedArchiveFile=" in opts:
        return "used"
    if "-XX:ArchiveClassesAtExit=" in opts:
        return "wrote"
    return "off"
