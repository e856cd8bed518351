"""A local Hadoop filesystem that sets permissions without forking.

Without a native ``libhadoop``, Hadoop's ``RawLocalFileSystem`` sets a
permission by forking ``chmod``, and it does so for every file and
directory it creates with one: each streaming checkpoint file, its
``.crc`` and each state-store directory. ``NioLocalFileSystem.java``
(next to this module) is Hadoop's checksummed ``LocalFileSystem``, so
the ``.crc`` files stay, over a ``RawLocalFileSystem`` whose
``setPermission`` is ``Files.setPosixFilePermissions``: one chmod(2)
with the same mode. It defers to Hadoop when native IO is available or
the mode has bits beyond 0777 (the sticky bit).

The source is compiled once with the JDK's ``javac`` against Spark's
``hadoop-client-api`` jar into a jar under ``$XDG_CACHE_HOME/
threat_detection_nosql_spark/`` (``~/.cache`` by default), named by a
key over the JDK, the source and the Hadoop jar. Deleting it is safe:
the next launch compiles it again.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import subprocess
import tempfile
import zipfile
from collections.abc import Iterator

from threat_detection_nosql_spark import cds

_SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "NioLocalFileSystem.java")
CLASS_NAME = "threat_detection_nosql_spark.NioLocalFileSystem"
IMPL_CONF = "spark.hadoop.fs.file.impl"


def _jar_key(java_home: str, hadoop_jar: str) -> str:
    """A key over the JDK's release file, the Java source and the name,
    size and mtime of the Hadoop jar it compiles against."""
    h = hashlib.sha256()
    with open(os.path.join(java_home, "release"), "rb") as fh:
        h.update(fh.read())
    with open(_SOURCE, "rb") as fh:
        h.update(fh.read())
    st = os.stat(hadoop_jar)
    h.update(f"\n{os.path.basename(hadoop_jar)} {st.st_size} "
             f"{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def build(spark_home: str) -> str | None:
    """The path of the compiled jar for ``spark_home``, compiling it on
    the first call; None with no ``javac``, no single Hadoop API jar, an
    unwritable cache or a failed compile."""
    java_home = cds._java_home()
    apis = glob.glob(os.path.join(spark_home, "jars",
                                  "hadoop-client-api-*.jar"))
    if java_home is None or len(apis) != 1:
        return None
    javac = os.path.join(java_home, "bin", "javac")
    root = os.path.dirname(cds.cache_dir())
    try:
        key = _jar_key(java_home, apis[0])
        jar = os.path.join(root, f"localfs-{key}.jar")
        if os.path.isfile(jar):
            return jar
        os.makedirs(root, exist_ok=True)
        # compiled and zipped in a directory of its own, then moved in
        # whole, so a launch never sees a jar half written
        with tempfile.TemporaryDirectory(dir=root) as tmp:
            classes = os.path.join(tmp, "classes")
            subprocess.run([javac, "-nowarn", "-d", classes,
                            "-cp", apis[0], _SOURCE],
                           check=True, capture_output=True, timeout=120)
            part = os.path.join(tmp, "out.jar")
            with zipfile.ZipFile(part, "w") as zf:
                for path in sorted(glob.glob(f"{classes}/**/*.class",
                                             recursive=True)):
                    zf.write(path, os.path.relpath(path, classes))
            os.replace(part, jar)
    except (OSError, subprocess.SubprocessError):
        return None
    return jar


@contextlib.contextmanager
def launching(spark_home: str) -> Iterator[str | None]:
    """Build the jar; while the block runs, append it to
    SPARK_DIST_CLASSPATH and yield the class for ``IMPL_CONF``, or
    yield None when there is no jar.

    Spark's launcher puts SPARK_DIST_CLASSPATH after its own jars, so a
    class-data-sharing archive of those jars still maps
    (``spark.driver.extraClassPath`` would go first and break it).
    """
    jar = build(spark_home)
    if jar is None:
        yield None
        return
    dist = os.environ.get("SPARK_DIST_CLASSPATH")
    with cds.setenv("SPARK_DIST_CLASSPATH",
                    os.pathsep.join(filter(None, (dist, jar)))):
        yield CLASS_NAME
