"""The event-log parser against a tiny local session whose work is known."""

import time

import pytest

import tracing


@pytest.fixture(scope="module")
def event_log(tmp_path_factory):
    from pyspark import TaskContext
    from pyspark.sql import SparkSession

    log = tmp_path_factory.mktemp("eventlog")
    spark = (
        SparkSession.builder.master("local[2,2]")  # a failed task is retried once
        .appName("perfbench-tracing-test")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + str(log))
        .config("spark.eventLog.compress", "false")
        .getOrCreate()
    )
    spans = tracing.Spans()

    def fail_first_attempt(it):
        ctx = TaskContext.get()
        if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
            raise RuntimeError("injected task failure")
        return it

    try:
        with spans.span("plain"):
            spark.range(0, 100, 1, 4).selectExpr("id + 1").collect()
        time.sleep(0.05)
        with spans.span("python"):
            spark.range(40, numPartitions=3).mapInPandas(lambda it: it, "id long").collect()
        time.sleep(0.05)
        with spans.span("retry"):
            spark.sparkContext.parallelize(range(10), 2).mapPartitions(fail_first_attempt).count()
    finally:
        spark.stop()
    jobs, stages = tracing.read_event_log(str(log))
    return spans, jobs, stages


def _metrics(event_log, name):
    spans, jobs, stages = event_log
    span = next(s for s in spans.spans if s.name == name)
    return tracing.engine_metrics(jobs, stages, span)


def test_counts_jobs_stages_tasks_per_span(event_log):
    m = _metrics(event_log, "plain")
    assert (m["jobs"], m["stages"], m["tasks"], m["python_stages"]) == (1, 1, 4, 0)
    assert m["failed_tasks"] == 0
    assert 0 < m["busy_s"] and m["driver_gap_s"] >= 0


def test_detects_python_stages(event_log):
    m = _metrics(event_log, "python")
    assert m["jobs"] >= 1 and m["python_stages"] >= 1
    assert m["python_run_s"] <= m["executor_run_s"]


def test_counts_failed_and_retried_tasks(event_log):
    m = _metrics(event_log, "retry")
    assert m["jobs"] == 1 and m["failed_tasks"] == 1 and m["tasks"] == 3


def test_every_job_lands_in_exactly_one_span(event_log):
    spans, jobs, _ = event_log
    owners = [[s.name for s in spans.spans if j in tracing.jobs_in(jobs, s)] for j in jobs]
    assert all(len(o) == 1 for o in owners)


def test_union_of_intervals():
    assert tracing.union_s([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing.union_s([]) == 0
