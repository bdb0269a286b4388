"""A stopped tools/check.py run removes its per-run artifact cache dir."""

import os
import signal
import subprocess
import sys

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
