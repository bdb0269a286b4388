"""tools/timing.py: the leg schedule, the best-of loop and one child leg."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tools.timing import best_of, run_leg, schedule  # noqa: E402

SF = "/root/testdata/sf0.001"


def test_schedule_visits_every_variant_once_per_pass_alternating():
    assert schedule(3) == [0, 1, 2, 0, 1, 2]
    assert schedule(2) == [0, 1, 0, 1]


def test_best_of_warms_once_then_times_each_repeat(spark):
    calls = []

    def fake(s, d):
        calls.append(d)
        return s.range(10)

    runs = best_of(spark, fake, SF, 3)
    assert calls == [SF] * 4
    assert len(runs) == 3 and all(isinstance(r, float) and r >= 0 for r in runs)


def test_run_leg_returns_the_child_runs():
    out = run_leg({"names": ["agg_group_generic"], "reps": 2, "sf": SF, "conf": {}, "cpus": "1"})
    assert list(out) == ["agg_group_generic"]
    assert len(out["agg_group_generic"]) == 2
    assert all(r > 0 for r in out["agg_group_generic"])


def test_run_leg_raises_with_child_stderr_on_unknown_query():
    with pytest.raises(RuntimeError, match=r"unknown queries: \['no_such_query'\]"):
        run_leg({"names": ["no_such_query"], "reps": 1, "sf": SF, "conf": {}})
