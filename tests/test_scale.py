"""fan_out_small_scan contract: scale no-op + cost-aware width (r14)."""

from __future__ import annotations

from etl_aws_spark.operators.scale import (
    HEAVY_BYTES_PER_PART,
    _MIN_BYTES_PER_PART,
    _plan_size_bytes,
    fan_out_small_scan,
)
from etl_aws_spark.registry import load

SF_DIR = "/root/testdata/sf0.1"


def test_noop_on_already_wide_frame(spark):
    # the 100 TB posture: a frame with >= defaultParallelism partitions
    # must come back UNTOUCHED (same object, no added exchange)
    wide = load(spark, SF_DIR, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    assert fan_out_small_scan(wide) is wide


def test_width_capped_by_bytes_floor(spark):
    # a ~0.8 MB single-split scan must fan out to ceil(bytes/64KB)
    # partitions, NOT all the way to defaultParallelism (BENCH_r13_c8:
    # per-task floors beat the parallelism on small frames)
    emb = load(spark, SF_DIR, "embeddings")
    assert emb.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    size = _plan_size_bytes(emb)
    want = min(
        spark.sparkContext.defaultParallelism,
        max(2, -(-size // _MIN_BYTES_PER_PART)),
    )
    got = fan_out_small_scan(emb).rdd.getNumPartitions()
    assert got == want
    # the floor binds at sf0.1 only when the bytes-derived width is below
    # the core count; on a small box the core cap binds first
    if -(-size // _MIN_BYTES_PER_PART) < spark.sparkContext.defaultParallelism:
        assert got < spark.sparkContext.defaultParallelism


def test_heavy_floor_widens_more(spark):
    # superlinear consumers pass the 8 KB floor and get a wider fan-out
    # than the default class for the same frame
    cust = load(spark, SF_DIR, "customer")
    light = fan_out_small_scan(cust).rdd.getNumPartitions()
    heavy = fan_out_small_scan(cust, HEAVY_BYTES_PER_PART).rdd.getNumPartitions()
    # widening needs headroom: once the light width reaches the core
    # count both classes sit at the same cap
    if light < spark.sparkContext.defaultParallelism:
        assert heavy > light
    assert heavy >= light
    assert heavy <= spark.sparkContext.defaultParallelism


def test_no_shrink_below_current_partitions(spark):
    # if the cost-aware width is <= the frame's current partition count
    # the helper must not add an exchange at all
    emb = load(spark, SF_DIR, "embeddings")
    size = _plan_size_bytes(emb)
    width = max(2, -(-size // _MIN_BYTES_PER_PART))
    pre = emb.repartition(width + 1)
    assert fan_out_small_scan(pre) is pre
