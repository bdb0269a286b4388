"""Engine-visible filesystem helpers.

Every state/version/sentinel probe in the streaming state layer goes
through the JVM Hadoop ``FileSystem`` API instead of the driver's POSIX
view (``os.path.exists`` / ``os.listdir``), so the same code works where
the driver's local filesystem is NOT the data plane — HDFS, S3A, ABFS —
which is the posture a 1000-executor deployment actually runs in
(r12 verdict #2). On ``local[*]`` the resolved scheme is
``LocalFileSystem`` and behavior is identical to the old ``os.*`` calls.

Only the Hadoop client that ships inside pyspark is used — no extra
dependencies, no network.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs(spark: SparkSession, path: str):
    """Resolve (FileSystem, Path) for ``path`` through the session's
    Hadoop configuration — the engine's view, not the driver's."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def exists(spark: SparkSession, path: str) -> bool:
    fs, jpath = _fs(spark, path)
    return bool(fs.exists(jpath))


def touch(spark: SparkSession, path: str) -> None:
    """Create an empty sentinel file (parents created as needed). The
    file becomes visible with its full name only once ``close()`` runs,
    which is what makes name-encoded commit records atomic."""
    fs, jpath = _fs(spark, path)
    out = fs.create(jpath, True)
    out.close()


def rmtree(spark: SparkSession, path: str) -> None:
    """Recursive delete; no error if the path is absent."""
    fs, jpath = _fs(spark, path)
    if fs.exists(jpath):
        fs.delete(jpath, True)


def list_names(spark: SparkSession, path: str) -> list[str]:
    """Child names of a directory ([] if absent) — the Hadoop
    ``listStatus`` twin of ``os.listdir``."""
    fs, jpath = _fs(spark, path)
    if not fs.exists(jpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(jpath)]
