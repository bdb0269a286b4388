"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": sf}. Each query is materialized through the
`noop` sink — full execution, no driver-side collect, so the number measures
the engine, not result transfer.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# headline set: one representative per engine subsystem
HEADLINE = [
    "q_feature_block",        # flagship: scan -> window block -> fill (glue.py core)
    "pipeline_refined",       # full raw->refined composition, broadcast join + observe
    "window_rsi",             # chained window frames
    "window_ewm_macd",        # applyInPandas (Arrow grouped-map) path
    "window_first_n_split",   # row_number split
    "stat_autocorr_lag_k",    # window + grouped aggregate
    "agg_group_generic",      # hash aggregate over lineitem
    "join_left_equi_dim",     # broadcast dim join
    "showcase_topk_revenue_3way",    # TPC-H Q3 shape: 3-way join + top-k
    "showcase_regional_revenue_5way",  # TPC-H Q5 shape: 5-way join chain
    "text_dedup_near_minhash",  # HOF signatures + LSH banding
    "text_fingerprint",       # posexplode + sliding window min
    "similarity_topk_cosine", # vector fold + per-query rank
    # r6 additions — the four most expensive registry queries, so the
    # heavy iterative/graph/compressed-ANN layer is regression-guarded
    # too (VERDICT r5 #3). Totals are NOT comparable to r1-r5 BENCH
    # files; compare per-query or on the original 13 (BASELINE.md r6
    # note).
    "text_dedup_connected_components",  # iterative CC closure rounds
    "text_dedup_keep_best",   # CC + survivor ranking composition
    "graph_triangle_clustering",  # self-join graph + wedge closure
    "similarity_topk_pq_adc",  # PQ train+encode+ADC search in one plan
    "similarity_pq_index_adc_search",  # r8: ADC search-only leg vs persisted index
    # r9 additions (VERDICT r8 #5): the three most expensive sweep rows
    # outside the headline set, so the driver bench — the only perf
    # signal the builder doesn't control — regression-guards them too.
    # Totals are NOT comparable to r1-r8 BENCH files; compare per-query
    # or on the original 13.
    "text_dedup_simhash_hamming",   # distinct-signature banded Hamming
    "pipeline_semantic_dedup",      # kmeans cells x LSH sub-blocked SemDeDup
    "similarity_ivfpq_residual_adc",  # IVFADC on centered residuals
    # r10 additions: the round's flagship composition and the new ANN
    # verb, so both are driver-regression-guarded. Totals are NOT
    # comparable to r1-r9 BENCH files; compare per-query or on the
    # original 13 (and use the canary's phase_factor first).
    "pipeline_corpus_release",      # filter -> dedup -> CC -> cluster split
    "similarity_knn_join",          # all-pairs budget-bounded kNN join
    # r10 session-2 additions: the two heaviest new verbs of the wave —
    # corpus-wide first-occurrence novelty (explode + hash-keyed join)
    # and the leakage-free PIT training frame (one per-user shuffle,
    # range + row trailing frames).
    "text_ngram_novelty_decay",
    "join_point_in_time_features",
    # r11 additions: the kNN-index lifecycle's two heaviest verbs, so the
    # driver bench regression-guards the new maintenance layer. Totals
    # remain NOT comparable across rounds; compare per-query or on the
    # original 13 after phase-normalizing by the canary.
    "streaming_knn_index_maintenance",
    "similarity_knn_join_incremental",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from etl_aws_spark.session import get_session
    from tools.timing import best_of, queries

    spark = get_session("bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()

    # best-of-N: a single post-warmup iteration cannot distinguish a plan
    # regression from a noisy sandbox (the r3 episode: uniform ~1.8x
    # slowdown on untouched queries). min over repeats is the standard
    # defensible estimator for wall-clock under interference.
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))

    # Noise canary (VERDICT r9 #5): bench rounds keep landing in sandbox
    # noise phases (r3, r6-late, r9 — uniform 15-70% swings on queries
    # whose plans are byte-identical across rounds). Measure a fixed,
    # never-changing reference query FIRST in this process and report the
    # phase factor vs its pinned uncontended wall (BENCH_r08, the last
    # bench taken outside a noise phase), plus phase-normalized per-query
    # walls, so a judge can separate "this round's sandbox is slow" from
    # "this query regressed" without a re-measure cycle.
    CANARY = "agg_group_generic"
    CANARY_REFERENCE_SEC = 0.292  # BENCH_r08 uncontended best-of-3
    cfn = qs[CANARY]

    # pre-run canary: measured r10 ~2x slower than the SAME query mid-run
    # (whole-JVM C2 warmup, not sandbox phase) — kept for the warmup
    # delta, NOT used for normalization
    canary_pre_runs = best_of(spark, cfn, sf_dir, repeats)
    print(f"  canary-pre {CANARY}: best={min(canary_pre_runs)}", file=sys.stderr)

    timings: dict[str, float] = {}
    spreads: dict[str, list[float]] = {}
    for name in HEADLINE:
        fn = qs.get(name)
        if fn is None:
            continue
        runs = best_of(spark, fn, sf_dir, repeats)
        timings[name] = min(runs)
        spreads[name] = runs
        print(f"  {name}: best={min(runs)} runs={runs}", file=sys.stderr)

    # post-run canary at JVM steady state: THIS is the sandbox-phase
    # calibration (VERDICT r9 #5) — normalize per-query walls by it
    canary_runs = best_of(spark, cfn, sf_dir, repeats)
    canary_sec = min(canary_runs)
    phase_factor = round(canary_sec / CANARY_REFERENCE_SEC, 3)
    print(
        f"  canary-post {CANARY}: best={canary_sec} phase_factor={phase_factor}",
        file=sys.stderr,
    )

    print(
        json.dumps(
            {
                "metric": "headline_total_wall",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "repeats": repeats,
                "spread": spreads,
                "canary": {
                    "query": CANARY,
                    "sec": canary_sec,
                    "runs": canary_runs,
                    "pre_runs": canary_pre_runs,  # warmup delta: pre vs post
                    "reference_sec": CANARY_REFERENCE_SEC,
                    "reference_sf": 0.1,  # phase_factor is calibrated at sf0.1
                    "phase_factor": phase_factor,
                },
                "queries_normalized": {
                    k: round(v / phase_factor, 3) for k, v in timings.items()
                },
            }
        )
    )


if __name__ == "__main__":
    main()
