"""Every metric the benchmark emits is declared in BENCHMARK.json, and back."""

import json
import os
import re

import pytest

import run

with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
NAME_OK = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _fake_run(bench, tmp_path):
    """Spans and pass results shaped like a real traced run, without Spark."""
    os.makedirs(os.path.join(bench.work, "eventlog"))
    with open(os.path.join(bench.work, "eventlog", "events"), "w") as f:
        f.write(json.dumps({"Event": "SparkListenerJobStart", "Job ID": 0,
                            "Submission Time": 0, "Stage IDs": [0]}) + "\n")
    bench.setup = {"registry.import_s": 1.0, "inputs.generate_s": 0.1, "session.start_s": 5.0}

    def one_pass(idx):
        with bench.spans.span("pass", idx=idx) as ps:
            for q in bench.wl.queries:
                with bench.spans.span("query", query=q):
                    for step in ("build", "exec"):
                        with bench.spans.span(step):
                            pass
        return run.PassResult(ps)

    return one_pass(0), [one_pass(1), one_pass(2)], [one_pass(3), one_pass(4)]


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_emitted_names_match_the_declared_ones(workload, tmp_path):
    bench = run.Bench(workload, 1, 1.0, str(tmp_path / "work"))
    cold, warm, traced = _fake_run(bench, tmp_path)
    e2e = bench.end_to_end(cold, warm)
    layer = bench.per_layer(cold, warm, traced, 100.0)
    assert set(e2e) == {m["name"] for m in SPEC["end_to_end"]}
    assert set(layer) == {m["name"] for m in SPEC["per_layer"]}
    units = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}
    for name, (value, unit) in {**e2e, **layer}.items():
        assert NAME_OK.match(name), name
        assert unit == units[name], name
        assert isinstance(value, (int, float)), name


def test_declared_workloads_are_the_runnable_ones():
    assert {w["name"] for w in SPEC["workloads"]} == set(run.WORKLOADS)
