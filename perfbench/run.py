"""Closed-loop benchmark of the etl_aws_spark batch jobs.

Usage (from the repository root):

    python3 perfbench/run.py --workload refined_etl --seed 1 --seconds 12 --trace 0

One client runs one query at a time through the public API
(``session.get_session``, ``registry.all_queries``,
``sources.writers.write_daily_partition``, ``sources.readers``) with
``SPARK_GRAFT_CPUS`` set to every core. A run sets up (imports and registry,
seeded input generation, session start), runs a cold pass in the fresh
session, then warm passes until ``--seconds`` have passed and at least the
workload's ``min_warm`` ran. Every pass's outputs are checked against the
DuckDB oracles outside the timed spans. With ``--trace 1`` the run then
restarts the session with Spark's event log on, repeats the warm passes,
and reports per-layer metrics instead of end-to-end ones. NOTES.md says why
each workload exists and what each metric should move.

The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. Everything the run writes lives
under ``perfbench/.work/`` and is deleted when it ends.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import inputs  # noqa: E402
import tracing  # noqa: E402


@dataclass(frozen=True)
class Workload:
    replicas: int  # copies of the sf0.01-sized base unit
    tables: tuple[str, ...]
    queries: tuple[str, ...]
    # warm passes that always outlast --seconds, so every run medians the
    # same number: a slow run that fit one pass fewer would report an
    # earlier, less warmed-up pass
    min_warm: int


WORKLOADS = {
    # bytes-bound: scan, shuffle and the refined-layer write beside its read
    "refined_etl": Workload(
        10, ("events", "nation"), ("pipeline_refined", "window_ewm_macd"), min_warm=4
    ),
    # action- and Arrow-kernel-bound: streaming kNN maintenance rewrites its
    # versioned state every pass; the PQ index is built on the cold pass and
    # only read after
    "vector_index": Workload(
        1,
        ("embeddings",),
        ("streaming_knn_index_maintenance", "similarity_pq_index_adc_search"),
        min_warm=2,
    ),
}
ALL_QUERIES = tuple(q for w in WORKLOADS.values() for q in w.queries)
# pipeline_refined's frame is landed as the daily-partitioned refined layer
# and read back; the read-back layer is what gets checked
LAYER_QUERY = "pipeline_refined"
INDEX_QUERY = "similarity_pq_index_adc_search"
GENERATIONS = 3  # set-up repeats input generation and reports the median


def tree_stats(root: str, since: float = 0.0) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``root`` modified at or after ``since``."""
    size = files = 0
    for dirpath, _dirs, names in os.walk(root):
        for name in names:
            st = os.stat(os.path.join(dirpath, name))
            if st.st_mtime >= since:
                size += st.st_size
                files += 1
    return size, files


def child_jvm_pid() -> int | None:
    """The JVM that PySpark launched as a child of this process."""
    me = os.getpid()
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        if int(fields[1]) == me and comm == "java":
            return int(pid)
    return None


def peak_rss_mb(pid: int | None) -> float:
    if pid is None:
        return 0.0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


@dataclass
class PassResult:
    span: tracing.Span
    written_b: int = 0  # everything the pass persisted: layer, index, state
    layer_b: int = 0
    layer_files: int = 0
    state_b: int = 0
    state_files: int = 0
    state_versions: int = 0


class Bench:
    """One benchmark run: set-up, passes, checks, teardown."""

    def __init__(self, workload: str, seed: int, seconds: float, work: str) -> None:
        self.name = workload
        self.wl = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.in_dir = os.path.join(work, "inputs")
        self.layer = os.path.join(work, "refined")
        self.cache = os.path.join(work, "cache")
        self.spans = tracing.Spans()
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.spark = None
        self.oracle = None
        self.setup: dict[str, float] = {}

    # --- set-up -----------------------------------------------------------

    def set_up(self) -> None:
        from etl_aws_spark.registry import all_oracles, all_queries
        from etl_aws_spark.session import get_session
        from etl_aws_spark.sources import readers, writers
        from etl_aws_spark.suite import _util

        self.queries = all_queries()
        oracles = all_oracles()
        t_registry = time.time()
        self.readers, self.writers, self.get_session = readers, writers, get_session
        # persisted artifacts (PQ index, stream landing and state) are keyed
        # under this root; a fresh root per run makes every cold pass build them
        _util._CACHE_ROOT = self.cache

        gen_s, fps = [], []
        for g in range(GENERATIONS):
            out = self.in_dir if g == 0 else os.path.join(self.work, f"inputs{g}")
            t = time.time()
            inputs.generate(out, self.seed, self.wl.replicas, self.wl.tables)
            gen_s.append(time.time() - t)
            fps.append(inputs.fingerprint(out))
            if g:
                shutil.rmtree(out)
        self.record("inputs are identical across generations of one seed", len(set(fps)) == 1)
        self.input_fp = fps[0]

        from oracle import Oracle  # imports tools.check from the repository root

        self.oracle = Oracle(self.in_dir, self.input_fp, {q: oracles[q] for q in self.wl.queries})

        t = time.time()
        self.spark = self.start_session(traced=False)
        self.setup = {
            "registry.import_s": t_registry - T_PROCESS,
            "inputs.generate_s": median(gen_s),
            "session.start_s": time.time() - t,
        }

    def start_session(self, traced: bool):
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if traced:
            log = os.path.join(self.work, "eventlog")
            os.makedirs(log, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        spark = self.get_session("perfbench", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    # --- passes -----------------------------------------------------------

    def record(self, what: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{what}: {detail}")

    def run_pass(self, idx: int, session: str) -> PassResult:
        outputs: dict[str, object] = {}
        with self.spans.span("pass", idx=idx, session=session) as ps:
            for q in self.wl.queries:
                with self.spans.span("query", query=q):
                    try:
                        with self.spans.span("build"):
                            df = self.queries[q](self.spark, self.in_dir)
                        if q == LAYER_QUERY:
                            with self.spans.span("write"):
                                self.writers.write_daily_partition(df, self.layer, "date")
                            with self.spans.span("readback"):
                                pdf = self.readers.read_parquet_partitioned(
                                    self.spark, self.layer
                                ).toPandas()
                        else:
                            with self.spans.span("exec"):
                                pdf = df.toPandas()
                        outputs[q] = pdf
                    except Exception:  # a failing query is counted, the run goes on
                        outputs[q] = traceback.format_exc(limit=5)
        # everything below is outside the timed spans
        for q, out in outputs.items():
            if isinstance(out, str):
                self.record(f"pass {idx} {q}", False, out.strip().splitlines()[-1])
                continue
            if q == LAYER_QUERY:
                out = self.check_layer(out, idx)
            ok, detail = self.oracle.check(q, out)
            self.record(f"pass {idx} {q}", ok, detail)
        res = PassResult(ps)
        res.layer_b, res.layer_files = tree_stats(self.layer, ps.start)
        res.written_b = res.layer_b + tree_stats(self.cache, ps.start)[0]
        for state in glob.glob(os.path.join(self.cache, "*", "stream_knn_maint", "state")):
            res.state_b, res.state_files = tree_stats(state)
            res.state_versions = sum(
                1 for d in glob.glob(os.path.join(state, "v*")) if os.path.isdir(d)
            )
        print(f"{session} pass {idx}: {ps.wall:.3f} s, wrote {res.written_b / 1e6:.3f} MB  " + "  ".join(
            f"{q.attrs['query']}={q.wall:.3f}" for q in self.spans.children(ps, "query")
        ), flush=True)
        return res

    def check_layer(self, pdf, idx: int):
        """The read-back layer's partition columns must match its dates."""
        dates = pdf["date"]
        ok = (
            (pdf["ano"] == dates.dt.year).all()
            and (pdf["mes"] == dates.dt.month).all()
            and (pdf["dia"] == dates.dt.day).all()
        )
        self.record(f"pass {idx} refined-layer partition columns", bool(ok))
        return pdf.drop(columns=["ano", "mes", "dia"])

    def run_passes(self, session: str) -> tuple[PassResult, list[PassResult]]:
        """A first pass in a fresh session, then warm passes until ``seconds``
        have passed and at least the workload's ``min_warm`` ran."""
        first = self.run_pass(0, session)
        warm: list[PassResult] = []
        t0 = time.time()
        while len(warm) < self.wl.min_warm or time.time() - t0 < self.seconds:
            warm.append(self.run_pass(len(warm) + 1, session))
        return first, warm

    # --- metrics ----------------------------------------------------------

    def query_spans(self, passes: list[PassResult], q: str) -> list[tracing.Span]:
        out = []
        for p in passes:
            out += [s for s in self.spans.children(p.span, "query") if s.attrs["query"] == q]
        return out

    def end_to_end(self, cold: PassResult, warm: list[PassResult]) -> dict[str, tuple[float, str]]:
        return {
            "setup_s": (sum(self.setup.values()), "s"),
            "cold_s": (cold.span.wall, "s"),
            "pass_s": (median(p.span.wall for p in warm), "s"),
        }

    def per_layer(
        self, cold: PassResult, warm: list[PassResult], traced: list[PassResult], rss_mb: float
    ) -> dict[str, tuple[float, str]]:
        jobs, stages = tracing.read_event_log(os.path.join(self.work, "eventlog"))
        m: dict[str, tuple[float, str]] = {k: (v, "s") for k, v in self.setup.items()}
        units = {"jobs": "count", "stages": "count", "tasks": "count", "failed_tasks": "count",
                 "python_stages": "count"}
        per_pass = [tracing.engine_metrics(jobs, stages, p.span) for p in traced]
        for k in per_pass[0]:
            unit = units.get(k, "MB" if k.endswith("_mb") else "s")
            agg = sum if k == "failed_tasks" else median
            m[f"engine.{k}"] = (agg(pp[k] for pp in per_pass), unit)

        def sub(p: PassResult, name: str) -> list[tracing.Span]:
            return [c for q in self.spans.children(p.span, "query") for c in self.spans.children(q, name)]

        m["suite.build_s"] = (median(sum(s.wall for s in sub(p, "build")) for p in traced), "s")
        m["suite.build_jobs"] = (
            median(sum(len(tracing.jobs_in(jobs, s)) for s in sub(p, "build")) for p in traced),
            "count",
        )
        m["sources.write_s"] = (median(sum(s.wall for s in sub(p, "write")) for p in traced), "s")
        m["sources.readback_s"] = (
            median(sum(s.wall for s in sub(p, "readback")) for p in traced), "s"
        )
        m["sources.write_mb"] = (median(p.layer_b for p in traced) / 1e6, "MB")
        m["sources.files_written"] = (median(p.layer_files for p in traced), "count")

        index_b = sum(tree_stats(d)[0] for d in glob.glob(os.path.join(self.cache, "*", "pq_index")))
        build = 0.0
        if INDEX_QUERY in self.wl.queries:
            cold_q = self.query_spans([cold], INDEX_QUERY)[0].wall
            build = max(0.0, cold_q - median(s.wall for s in self.query_spans(warm, INDEX_QUERY)))
        m["similarity.index_build_s"] = (build, "s")
        m["similarity.index_mb"] = (index_b / 1e6, "MB")
        m["streaming.state_mb"] = (median(p.state_b for p in traced) / 1e6, "MB")
        m["streaming.state_files"] = (median(p.state_files for p in traced), "count")
        m["streaming.versions"] = (median(p.state_versions for p in traced), "count")

        for q in ALL_QUERIES:
            spans = self.query_spans(traced, q)
            m[f"{q}.wall_s"] = (median(s.wall for s in spans), "s")
            m[f"{q}.build_s"] = (
                median(sum(b.wall for b in self.spans.children(s, "build")) for s in spans), "s"
            )
            m[f"{q}.jobs"] = (median(len(tracing.jobs_in(jobs, s)) for s in spans), "count")

        untraced = median(p.span.wall for p in warm)
        m["trace.pass_s"] = (median(p.span.wall for p in traced), "s")
        m["trace.overhead_s"] = (m["trace.pass_s"][0] - untraced, "s")
        m["run.passes"] = (float(len(warm)), "count")
        m["run.written_mb"] = (median(p.written_b for p in warm) / 1e6, "MB")
        m["jvm.peak_rss_mb"] = (rss_mb, "MB")
        return m

    # --- run --------------------------------------------------------------

    def run(self, traced: bool) -> dict[str, tuple[float, str]]:
        with self.spans.span("run", workload=self.name, seed=self.seed):
            self.set_up()
            cold, warm = self.run_passes("untraced")
            if not traced:
                return self.end_to_end(cold, warm)
            # a second session in the same JVM, with the event log on; its
            # first pass re-warms the session and is not measured
            self.stop_session()
            self.spark = self.start_session(traced=True)
            _, traced_passes = self.run_passes("traced")
            rss_mb = peak_rss_mb(child_jvm_pid())
            self.stop_session()  # flushes the event log
        metrics = self.per_layer(cold, warm, traced_passes, rss_mb)
        os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
        with open(os.path.join(HERE, ".out", f"spans-{self.name}-{self.seed}.json"), "w") as f:
            json.dump(self.spans.to_json(), f)
        return metrics

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop Spark and its JVM, wait for it to exit, delete the run's files."""
        try:
            self.stop_session()
            from pyspark import SparkContext

            gw = SparkContext._gateway
            if gw is not None:
                proc = getattr(gw, "proc", None)
                gw.shutdown()
                SparkContext._gateway = SparkContext._jvm = None
                if proc is not None:
                    proc.stdin.close()  # the gateway JVM exits on stdin EOF
                    proc.wait(timeout=60)
        finally:
            if self.oracle is not None:
                self.oracle.close()
            shutil.rmtree(self.work, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT]
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM of the run (the launcher and the driver) keeps its temporary
    # files in the run directory, and its perf counters in memory, not /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:+PerfDisableSharedMem"
    )

    bench = Bench(args.workload, args.seed, args.seconds, work)
    try:
        metrics = bench.run(traced=bool(args.trace))
    finally:
        bench.close()

    for line in bench.failures:
        print("FAILED", line)
    print(
        f"{args.workload} seed={args.seed}: attempted={bench.attempted} failed={bench.failed} "
        f"failed_frac={bench.failed / bench.attempted:.4f} live_oracle_replays={bench.oracle.live_replays}"
    )
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
