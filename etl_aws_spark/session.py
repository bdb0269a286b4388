"""SparkSession factory with scale-aware defaults.

The reference job inherits whatever Glue gives it (no tuning anywhere in
`glue.py`). Here the session is configured deliberately:

- AQE on: runtime coalescing, skew-join splitting, dynamic broadcast.
- ``spark.sql.shuffle.partitions`` sized to cores for local runs; on a real
  cluster this is superseded by AQE coalescing from a higher initial value.
- Arrow enabled: every pandas-interop boundary (``applyInPandas``,
  ``toPandas``) is vectorized.
- Session timezone pinned to UTC so timestamp semantics are stable across
  engines (the reference mixes São Paulo tz-aware and naive timestamps;
  see SURVEY.md §1.2).
- Dynamic partition overwrite: daily re-runs replace only the partitions
  they produce (the reference's static overwrite clobbers the whole
  refined tree, `glue.py:237`).

The driver JVM starts from a class-data-sharing archive. The reference is
a batch job, so every run starts a new driver, and about half of that start
goes to loading, parsing and verifying Spark's classes from the jars under
``$SPARK_HOME/jars``. When ``get_session`` launches the gateway JVM itself,
it passes a JDK dynamic CDS archive (JEP 350, JDK 13+) of those classes:
the first start that finds no archive dumps one as its JVM exits
(``-XX:ArchiveClassesAtExit``), and every later start maps it
(``-XX:SharedArchiveFile``), which took a bare session start from about
5.6 s to 3.1 s on a 4-core VM with JDK 17 and Spark 4.1. Sessions, plans and
results are the same either way.

- The archive is a per-install cache, like ``__pycache__``:
  ``$XDG_CACHE_HOME/etl_aws_spark/jvm/<key>.jsa`` (default ``~/.cache``).
  The key fingerprints the ``java`` executable, every classpath jar and the
  conf-dir path; a new key dumps a new archive and the old ones are
  deleted. It is not under ``suite._util._CACHE_ROOT``: that root holds
  data artifacts keyed by input, and the benchmark and ``tools/check.py``
  point it at a fresh directory on every run, so every run would dump.
- JDK 17 refuses to dump when a non-empty directory is on the classpath,
  and Spark always puts the conf dir there. A conf dir that holds only
  ``*.template`` files (Spark reads none of them) is swapped for an empty
  one at launch. Any other file in it, or a non-empty ``HADOOP_CONF_DIR``,
  ``YARN_CONF_DIR`` or ``SPARK_DIST_CLASSPATH`` directory, means a plain
  start.
- Only the JVM writes the archive: a truncated archive that kept its
  header crashes the JVM that maps it (SIGBUS). The JVM writes the header
  last, so a file that starts with the dynamic-archive magic was written
  whole, and one killed mid-dump is redumped. One start at a time dumps,
  under ``<key>.lock``, which holds the dumping JVM's pid. Its Python
  process waits for that JVM at interpreter exit, at most ``DUMP_WAIT_S``,
  and then removes the lock. An archive is mapped only once its lock is
  gone: a process killed while its session was starting leaves the lock,
  and its JVM's archive holds only the classes loaded by then.
- A session that already exists, and ``tune_existing``, are not touched.
  Any error in this logic means a plain start, never a failed session, and
  no CDS log line goes to stdout.
"""

from __future__ import annotations

import atexit
import contextlib
import fcntl
import glob
import hashlib
import logging
import os
import shutil
import subprocess
import sys

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# the first bytes of a complete JDK dynamic CDS archive
_JSA_MAGIC = (0xF00BABA8).to_bytes(4, sys.byteorder)
# CDS warnings (a dump prints hundreds) default to stdout, which tools
# parse; only "Unable to use shared archive" is kept, on stderr
_CDS_LOG = "-Xlog:cds*=off -Xlog:cds+dynamic=warning:stderr"
# the dump of a full Spark driver took ~13 s at JVM exit
DUMP_WAIT_S = 120
_log = logging.getLogger(__name__)


def get_session(app_name: str = "etl_aws_spark", extra_conf: dict | None = None) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism; defaults to all cores.
    """
    conf = {
        "spark.sql.shuffle.partitions": "32",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        **(extra_conf or {}),
    }
    try:
        launch = _archive_launch(conf)
    except Exception:
        _log.warning("driver JVM class-data sharing skipped", exc_info=True)
        launch = None
    spark = _build(app_name, conf) if launch is None else _build_from_archive(app_name, conf, *launch)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _build(app_name: str, conf: dict) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _build_from_archive(app_name: str, conf: dict, flag: str, conf_dir: str, lock: str | None) -> SparkSession:
    """Launch the gateway JVM with the archive ``flag``; a launch that
    fails with it is retried plain."""
    opts = " ".join(filter(None, [conf.get("spark.driver.extraJavaOptions"), flag, _CDS_LOG]))
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        return _build(app_name, {**conf, "spark.driver.extraJavaOptions": opts})
    except Exception:
        if SparkContext._gateway is not None:
            raise  # the JVM is up: the failure is not the archive's
        _log.warning("driver JVM failed to start with %s; starting it plain", flag, exc_info=True)
    finally:
        if saved is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = saved
        if lock is not None:
            _hand_over(lock)
    return _build(app_name, conf)


def _hand_over(lock: str) -> None:
    """The dump lock passes from this process to its JVM, which this
    process then waits for at exit; with no JVM it is released."""
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        with contextlib.suppress(OSError):
            os.unlink(lock)
        return
    with contextlib.suppress(OSError):
        _write_lock(lock, _proc_id(proc.pid))  # spark-submit execs into the JVM
    atexit.register(_await_dump, proc, lock)


def _archive_launch(conf: dict) -> tuple[str, str, str | None] | None:
    """(archive flag, conf dir, lock) for a gateway JVM this call launches:
    map the archive when it is whole and its dump lock is gone, else dump it
    when no other start is dumping (the lock is then this process's), else
    None: a plain start."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None  # no launch here
    if os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell").strip() != "pyspark-shell":
        return None  # submit flags may change the classpath or java options
    opts = conf.get("spark.driver.extraJavaOptions", "")
    if "spark.driver.extraClassPath" in conf or any(
        f in opts for f in ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")
    ):
        return None
    found = _archive_stem()
    if found is None:
        return None
    stem, conf_dir = found
    jsa, lock = stem + ".jsa", stem + ".lock"
    fd = os.open(os.path.dirname(stem), os.O_RDONLY)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)  # one start at a time decides
        _prune(stem)
        if not os.path.exists(lock) and _complete(jsa):
            return f"-XX:SharedArchiveFile={jsa}", conf_dir, None
        if _holder_alive(lock):
            return None  # another start is dumping
        # a lock left behind: its dump was killed, or its JVM exited before
        # the session was up and archived only the classes loaded so far
        with contextlib.suppress(FileNotFoundError):
            os.unlink(lock)
        with os.fdopen(os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644), "w") as f:
            f.write(_proc_id(os.getpid()))
        return f"-XX:ArchiveClassesAtExit={jsa}", conf_dir, lock
    finally:
        os.close(fd)


def _archive_stem() -> tuple[str, str] | None:
    """(``<cache dir>/<key>``, the conf dir to launch with) for this Java +
    Spark install, or None when its driver JVM cannot dump an archive."""
    home = os.environ.get("JAVA_HOME")  # spark-class's choice of java
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not java or not os.path.isfile(java):
        return None
    java = os.path.realpath(java)
    if _java_major(os.path.dirname(os.path.dirname(java))) < 13:
        return None  # dynamic archives are JDK 13+
    spark_home = _find_spark_home()
    jars = sorted(glob.glob(os.path.join(spark_home, "jars", "*.jar")))
    if not jars:
        return None
    cache = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache"),
        "etl_aws_spark", "jvm",
    )
    os.makedirs(cache, exist_ok=True)
    conf_dir = _launch_conf_dir(spark_home, cache)
    if conf_dir is None:
        return None
    h = hashlib.sha256()
    for path in [java, *jars]:
        st = os.stat(path)
        name = path if path == java else os.path.basename(path)
        h.update(f"{name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    h.update(conf_dir.encode())
    return os.path.join(cache, h.hexdigest()[:20]), conf_dir


def _java_major(java_home: str) -> int:
    """The feature release of the JDK at ``java_home`` (0 if unknown)."""
    with contextlib.suppress(OSError, ValueError), open(os.path.join(java_home, "release")) as f:
        for line in f:
            if line.startswith("JAVA_VERSION="):
                parts = line.split("=", 1)[1].strip().strip('"').split(".")
                return int(parts[1] if parts[0] == "1" else parts[0])
    return 0


def _launch_conf_dir(spark_home: str, cache: str) -> str | None:
    """The conf dir for the driver classpath, which must hold no non-empty
    directory for a dump; None when that cannot be had without changing
    what Spark reads."""
    for var in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH"):
        for p in os.environ.get(var, "").split(os.pathsep):
            if p and os.path.isdir(p) and os.listdir(p):
                return None
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    names = os.listdir(conf) if os.path.isdir(conf) else []
    if not names:
        return conf
    if not all(n.endswith(".template") for n in names):
        return None
    empty = os.path.join(cache, "conf")
    os.makedirs(empty, exist_ok=True)
    return None if os.listdir(empty) else empty


def _complete(jsa: str) -> bool:
    try:
        with open(jsa, "rb") as f:
            return f.read(4) == _JSA_MAGIC
    except OSError:
        return False


def _proc_id(pid: int) -> str | None:
    """``"<pid> <start time>"`` of a live process: a later process that
    reuses the pid has another start time."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] in ("Z", "X") else f"{pid} {fields[19]}"


def _holder_alive(lock: str) -> bool:
    try:
        with open(lock) as f:
            held = f.read().strip()
    except OSError:
        return False
    pid = held.split(" ", 1)[0]
    return pid.isdigit() and _proc_id(int(pid)) == held


def _write_lock(lock: str, holder: str | None) -> None:
    tmp = f"{lock}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        f.write(holder or "")
    os.replace(tmp, lock)


def _prune(stem: str) -> None:
    """Delete the archives and locks of other keys whose dumper is gone."""
    cache, key = os.path.split(stem)
    for name in os.listdir(cache):
        other = name.split(".", 1)[0]
        if other == key or not name.endswith((".jsa", ".lock", ".tmp")):
            continue
        if _holder_alive(os.path.join(cache, other + ".lock")):
            continue
        with contextlib.suppress(OSError):
            os.unlink(os.path.join(cache, name))


def _await_dump(proc, lock: str) -> None:
    """At interpreter exit, let the dumping JVM finish its archive so it
    does not outlive this process; past ``DUMP_WAIT_S`` it is killed, which
    leaves a zero header that the next start redumps."""
    sc = SparkContext._active_spark_context
    if sc is not None and proc.poll() is None:
        # stopped first, pyspark's accumulator server does not print an
        # EOFError traceback when the exiting JVM drops its connection
        with contextlib.suppress(Exception):
            sc.stop()
    try:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF, dumping
        proc.wait(DUMP_WAIT_S)
    except (OSError, subprocess.TimeoutExpired):
        proc.kill()
        proc.wait()
    with contextlib.suppress(OSError):
        os.unlink(lock)


def tune_existing(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-created session.

    The driver hands us a session it built; master/memory are fixed at that
    point, but SQL confs are not. Called from ``__spark_entry__``.
    """
    for k, v in [
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.sources.partitionOverwriteMode", "dynamic"),
        ("spark.sql.shuffle.partitions", "32"),
    ]:
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf locked by the driver — keep its value
    return spark
