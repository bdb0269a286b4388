"""The one wall-clock loop: warm run, then best-of-N to the `noop` sink.

`best_of(spark, fn, sf_dir, repeats)` is the loop. The noop sink executes
the whole plan with no driver-side collect, so the number measures the
engine, not result transfer. `bench.py` times its canary and headline set
with it.

As a script it compares variants along ONE axis, each variant in its own
child process with a fresh JVM (the master's core count is fixed per JVM),
and alternates the variants over two passes so sandbox drift hits all of
them:

    python tools/timing.py --cpus 8,32 <query ...> [--reps N]
    python tools/timing.py --conf "k=v,k=v;k=v" <query ...> [--reps N]
    python tools/timing.py --sf <dir>,<dir> <query ...> [--reps N]

It prints {query: {variant: best_s, ..., "ratio": last/first}}, best_s
being the minimum over both passes. `--cpus` and `--conf` read the data
from $SPARK_GRAFT_SF_DIR (default sf0.1); an empty `--conf` variant is the
default session. The ROADMAP's "8-vs-32-core ratio" (c8/c32) is
`--cpus 32,8`; the second scale octave is `--sf <sf1 dir>,<sf3 dir>` over
`tools/gen_sf1.py` fixtures.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the child's result line; Spark's logger also writes JSON lines to stdout
_TAG = "TIMINGJSON "


def best_of(spark, fn, sf_dir: str, repeats: int) -> list[float]:
    """One warm run (plan, JIT, page cache), then `repeats` timed runs.

    Returns the timed walls in seconds, rounded to 3 decimals. Take the
    min: a single post-warmup run cannot tell a plan regression from a
    noisy sandbox."""
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    runs = []
    for _ in range(repeats):
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        runs.append(round(time.time() - t0, 3))
    return runs


def queries() -> dict:
    """The registry plus `q_feature_block`, bench.py's flagship, which is
    the reference job's feature block and not a registry query."""
    from etl_aws_spark.operators.windows import glue_feature_block
    from etl_aws_spark.registry import all_queries
    from etl_aws_spark.sources.readers import read_table

    def q_feature_block(spark, d):
        return glue_feature_block(read_table(spark, d, "events"), "value", "user_id", ["ts", "event_id"])

    return {**all_queries(), "q_feature_block": q_feature_block}


def schedule(n_variants: int) -> list[int]:
    """Variant order of the legs: every variant once per pass, two passes."""
    return [*range(n_variants)] * 2


def run_leg(leg: dict) -> dict[str, list[float]]:
    """Time `leg["names"]` in a child process; returns {query: runs}.

    `leg` holds names, reps, sf and conf, and optionally cpus."""
    p = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--leg", json.dumps(leg)],
        capture_output=True, text=True,
    )
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith(_TAG)]
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"leg {leg} exited {p.returncode}:\n{p.stderr[-2000:]}")
    return json.loads(lines[-1][len(_TAG):])


def _child(leg: dict) -> None:
    qs = queries()
    unknown = [n for n in leg["names"] if n not in qs]
    if unknown:  # before the session starts, so a typo fails fast
        raise SystemExit(f"unknown queries: {unknown}")
    if leg.get("cpus"):
        os.environ["SPARK_GRAFT_CPUS"] = leg["cpus"]
    from etl_aws_spark.session import get_session

    spark = get_session("timing", extra_conf=leg["conf"])
    spark.sparkContext.setLogLevel("ERROR")
    out = {n: best_of(spark, qs[n], leg["sf"], leg["reps"]) for n in leg["names"]}
    print(_TAG + json.dumps(out), flush=True)


def _conf(spec: str) -> dict[str, str]:
    kvs = (kv.split("=", 1) for kv in spec.split(",") if kv.strip())
    return {k.strip(): v.strip() for k, v in kvs}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    axis = ap.add_mutually_exclusive_group(required=True)
    axis.add_argument("--cpus", help="core counts, e.g. 8,32")
    axis.add_argument("--conf", help='conf variants, e.g. "k=v,k=v;k=v"')
    axis.add_argument("--sf", help="data dirs, e.g. <sf1 dir>,<sf3 dir>")
    axis.add_argument("--leg", help=argparse.SUPPRESS)
    ap.add_argument("names", nargs="*", metavar="query")
    ap.add_argument("--reps", type=int, default=3)
    a = ap.parse_args()
    if a.leg:
        return _child(json.loads(a.leg))
    if not a.names:
        ap.error("name at least one query")

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    base = {"names": a.names, "reps": a.reps, "sf": sf, "conf": {}}
    if a.cpus:
        variants = {f"c{c}": {**base, "cpus": c} for c in a.cpus.split(",")}
    elif a.conf is not None:
        variants = {s or "default": {**base, "conf": _conf(s)} for s in a.conf.split(";")}
    else:
        variants = {d: {**base, "sf": d} for d in a.sf.split(",")}

    labels = list(variants)
    runs: dict[str, dict[str, list[float]]] = {lb: {n: [] for n in a.names} for lb in labels}
    for i, v in enumerate(schedule(len(labels))):
        out = run_leg(variants[labels[v]])
        print(f"  leg {i} {labels[v]}: {json.dumps(out)}", file=sys.stderr)
        for n, r in out.items():
            runs[labels[v]][n] += r

    result = {}
    for n in a.names:
        row = {lb: min(runs[lb][n]) for lb in labels}
        row["ratio"] = round(row[labels[-1]] / row[labels[0]], 3)
        result[n] = row
    print(json.dumps(result, indent=1))


if __name__ == "__main__":
    main()
