"""A stopped tools/check.py run removes its per-run artifact cache dir
and leaves no JVM behind."""

import os
import signal
import subprocess
import sys
import time

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def test_sigterm_removes_check_cache_dir(tmp_path):
    # the whole registry, so the run is still going when its first row is
    # printed; signalling then (not during the JVM start) lets the JVM see
    # its stdin close and exit with the run
    p = subprocess.Popen(
        [sys.executable, os.path.join(TOOLS, "check.py"), "/root/testdata/sf0.001"],
        env={**os.environ, "TMPDIR": str(tmp_path), "PYTHONUNBUFFERED": "1"},
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )
    try:
        # stdout also carries Spark's JSON log lines; wait for a result row
        assert any(line[:1] in ("✓", "✗") for line in p.stdout), "no result row"
        assert list(tmp_path.glob("check_cache_*"))
        p.send_signal(signal.SIGTERM)
        assert p.wait(timeout=60) == 128 + signal.SIGTERM
    finally:
        if p.poll() is None:
            p.kill()
        p.stdout.close()
    assert not list(tmp_path.glob("check_cache_*"))


def _children() -> dict[int, list[int]]:
    """Parent pid -> child pids, from /proc/<pid>/stat."""
    out: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the comm field may hold spaces and parens: ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        out.setdefault(ppid, []).append(int(d))
    return out


def _gateway_jvm(pid: int) -> int | None:
    """The SparkSubmit JVM below ``pid`` (not the short-lived launcher JVM
    that spark-class runs first to build its command line)."""
    kids, todo = _children(), [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            try:
                with open(f"/proc/{c}/cmdline", "rb") as f:
                    argv = f.read().split(b"\0")
            except OSError:
                continue
            if (
                os.path.basename(argv[0]) == b"java"
                and b"org.apache.spark.deploy.SparkSubmit" in argv
                and b"org.apache.spark.launcher.Main" not in argv
            ):
                return c
            todo.append(c)
    return None


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def test_sigterm_during_session_start_leaves_no_jvm(tmp_path):
    """Stopped while its JVM is still starting, check.py must not leave
    that JVM running on its own."""
    p = subprocess.Popen(
        [sys.executable, os.path.join(TOOLS, "check.py"), "/root/testdata/sf0.001"],
        env={**os.environ, "TMPDIR": str(tmp_path)},
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    java = None
    try:
        deadline = time.monotonic() + 60
        while java is None and p.poll() is None and time.monotonic() < deadline:
            java = _gateway_jvm(p.pid)
            time.sleep(0.05)
        assert java is not None, "no JVM started"
        p.send_signal(signal.SIGTERM)
        p.wait(timeout=60)
        deadline = time.monotonic() + 30
        while _alive(java) and time.monotonic() < deadline:
            time.sleep(0.2)
        assert not _alive(java), "the JVM outlived the stopped run"
    finally:
        if p.poll() is None:
            p.kill()
        if java is not None and _alive(java):
            os.kill(java, signal.SIGKILL)
    assert not list(tmp_path.glob("check_cache_*"))
