"""The driver JVM's class-data-sharing archive (``session.get_session``):
the first start dumps it, later starts map it, a broken archive, a stale
lock and an unconfirmed dump are rebuilt over, and a conf dir that would
make the dump fail means a plain start. Each case starts its session in a child process with its own
``XDG_CACHE_HOME``; the module starts three JVMs."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from etl_aws_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_TAG = "SESSIONJSON "
CHILD = f"""
import json, sys
sys.path.insert(0, {ROOT!r})
from pyspark import SparkContext
from etl_aws_spark.session import get_session

spark = get_session("test_session")
jvm = SparkContext._gateway.proc.pid
with open(f"/proc/{{jvm}}/maps") as f:
    maps = sorted({{ln.split()[-1] for ln in f if ln.rstrip().endswith(".jsa")}})
with open(f"/proc/{{jvm}}/cmdline", "rb") as f:
    argv = f.read().decode().split("\\0")
print({_TAG!r} + json.dumps({{"count": spark.range(5).count(), "maps": maps, "argv": argv}}), flush=True)
"""


def _env(cache, **extra) -> dict:
    return {**os.environ, "XDG_CACHE_HOME": str(cache), "SPARK_GRAFT_CPUS": "1", **extra}


def _start(env: dict) -> dict:
    """One child session; returns what it saw of its JVM."""
    p = subprocess.run([sys.executable, "-c", CHILD], env=env, capture_output=True, text=True, timeout=600)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith(_TAG)]
    assert p.returncode == 0 and lines, p.stderr[-2000:]
    assert not [ln for ln in p.stdout.splitlines() if "[cds" in ln], "a CDS log line reached stdout"
    return json.loads(lines[-1][len(_TAG):])


def _stem(env: dict) -> str:
    with pytest.MonkeyPatch.context() as mp:
        for k in ("XDG_CACHE_HOME", "SPARK_CONF_DIR"):
            if k in env:
                mp.setenv(k, env[k])
        found = session._archive_stem()
    assert found is not None, "this install cannot dump an archive"
    return found[0]


def _gone_pid() -> int:
    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


def _archive_flags(argv: list[str]) -> list[str]:
    return [a for a in argv if a.startswith("-XX:") and "Archive" in a]


@pytest.fixture(scope="module")
def rebuilt(tmp_path_factory):
    """A start over a zero-header archive and a lock whose JVM is gone."""
    env = _env(tmp_path_factory.mktemp("xdg"))
    stem = _stem(env)
    with open(stem + ".jsa", "wb") as f:
        f.write(bytes(1 << 16))  # a dump killed before it wrote its header
    with open(stem + ".lock", "w") as f:
        f.write(f"{_gone_pid()} 1")
    return env, stem, _start(env)


def test_broken_archive_and_stale_lock_are_rebuilt(rebuilt):
    _env_, stem, seen = rebuilt
    assert seen["count"] == 5
    assert _archive_flags(seen["argv"]) == [f"-XX:ArchiveClassesAtExit={stem}.jsa"]
    # the child waited for its JVM's dump at exit and released the lock
    assert session._complete(stem + ".jsa")
    assert not os.path.exists(stem + ".lock")


def test_later_start_maps_the_archive(rebuilt):
    env, stem, _ = rebuilt
    seen = _start(env)
    assert seen["count"] == 5
    assert _archive_flags(seen["argv"]) == [f"-XX:SharedArchiveFile={stem}.jsa"]
    assert stem + ".jsa" in seen["maps"]


def test_archive_whose_dumper_left_its_lock_is_redumped(tmp_path, monkeypatch):
    """A JVM whose Python process was killed while the session was starting
    still dumps at exit, a whole file of the few classes loaded by then,
    and its lock stays behind. The next start dumps again instead of
    mapping that archive; once a dump's lock is released, starts map it.
    Decided in this process: no JVM starts."""
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_gateway", None)  # as if none ran yet
    env = _env(tmp_path)
    monkeypatch.setenv("XDG_CACHE_HOME", env["XDG_CACHE_HOME"])
    stem = _stem(env)
    with open(stem + ".jsa", "wb") as f:
        f.write(session._JSA_MAGIC + bytes(1 << 16))
    with open(stem + ".lock", "w") as f:
        f.write(f"{_gone_pid()} 1")
    flag, _conf_dir, lock = session._archive_launch({})
    assert flag == f"-XX:ArchiveClassesAtExit={stem}.jsa" and lock == stem + ".lock"
    with open(lock) as f:
        assert f.read() == session._proc_id(os.getpid())
    os.unlink(lock)
    assert session._archive_launch({}) == (f"-XX:SharedArchiveFile={stem}.jsa", _conf_dir, None)


def test_conf_dir_with_a_real_file_starts_plain(tmp_path):
    """Spark would read the file, so the conf dir cannot be swapped for an
    empty one, and JDK 17 refuses to dump with it on the classpath."""
    from pyspark.find_spark_home import _find_spark_home

    conf = tmp_path / "conf"
    src = os.path.join(_find_spark_home(), "conf")
    if os.path.isdir(src):
        shutil.copytree(src, conf)
    else:
        conf.mkdir()
    (conf / "spark-defaults.conf").write_text("# no settings\n")
    cache = tmp_path / "xdg"
    seen = _start(_env(cache, SPARK_CONF_DIR=str(conf)))
    assert seen["count"] == 5
    assert not [a for a in seen["argv"] if a.startswith("-XX:") and ("Archive" in a or "Shared" in a)]
    jvm = cache / "etl_aws_spark" / "jvm"
    assert not list(jvm.glob("*.jsa")) and not list(jvm.glob("*.lock"))
