"""applyInPandasWithState: incremental EWMA equals the batch fold, and
state persists across micro-batches (checkpoint-recovered restart)."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import types as T

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("x", T.DoubleType()),
    ]
)


def _run_stream(spark, landing, ckpt, out_dir):
    from etl_aws_spark.streaming import ingest, stateful

    stream = spark.readStream.schema(SCHEMA).parquet(landing)
    ewma = stateful.ewma_stateful(stream, "k", "ts", "x", span=12)
    ingest.run_available_now(
        ewma.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
    )


def test_stateful_ewma_matches_batch_fold(spark, tmp_path):
    landing, ckpt, out = (str(tmp_path / d) for d in ("in", "ck", "out"))
    os.makedirs(landing)
    rows = [
        (k, datetime.datetime(2024, 1, 1, 9, i), float(100 + 3 * i + k))
        for k in (1, 2)
        for i in range(10)
    ]
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(landing)
    _run_stream(spark, landing, ckpt, out)
    got = {
        (r.key, r.ts): r.ewma for r in spark.read.parquet(out).collect()
    }
    assert len(got) == 20
    # batch fold reference (identical recurrence to operators/timeseries.macd)
    a, b = 2.0 / 13.0, 11.0 / 13.0
    for k in (1, 2):
        acc = None
        for i in range(10):
            x = float(100 + 3 * i + k)
            acc = x if acc is None else a * x + b * acc
            assert got[(k, datetime.datetime(2024, 1, 1, 9, i))] == pytest.approx(acc, rel=1e-12)

    # second batch: restart from the checkpoint — per-key state carries
    # over, so the accumulator continues from the first run (not reset)
    more = [
        (1, datetime.datetime(2024, 1, 1, 10, i), float(200 + i)) for i in range(3)
    ]
    spark.createDataFrame(more, SCHEMA).coalesce(1).write.mode("append").parquet(landing)
    _run_stream(spark, landing, ckpt, out)
    got2 = {
        r.ts: r.ewma for r in spark.read.parquet(out).filter("key = 1").collect()
    }
    acc = None
    for i in range(10):
        x = float(100 + 3 * i + 1)
        acc = x if acc is None else a * x + b * acc
    for i in range(3):
        x = float(200 + i)
        acc = a * x + b * acc
        assert got2[datetime.datetime(2024, 1, 1, 10, i)] == pytest.approx(acc, rel=1e-12)


# sketch sink -> (run it over a stream into a state path, state sort keys)
_SKETCH_SINKS = {
    "cms": (
        lambda ingest, stream, state: ingest.cms_merge_stream(
            stream, state, "user_id", depth=4, width=16
        ),
        ["depth", "bucket"],
    ),
    "hll": (
        lambda ingest, stream, state: ingest.hll_merge_stream(
            stream, state, "user_id", ["grp"], p=6
        ),
        ["grp", "j"],
    ),
    "bloom": (
        lambda ingest, stream, state: ingest.bloom_merge_stream(
            stream, state, "user_id", ["grp"], m_bits=256, n_hashes=2
        ),
        ["grp", "word_idx"],
    ),
    "hdr": (
        lambda ingest, stream, state: ingest.hdr_merge_stream(
            stream, state, "value", ["grp"]
        ),
        ["grp", "bucket"],
    ),
}


@pytest.mark.parametrize("sketch", sorted(_SKETCH_SINKS))
def test_sketch_stream_state_is_batch_split_invariant(spark, tmp_path, sketch):
    """Every sketch merge (cell-wise sum, register max, bit_or) is
    associative, so 5 micro-batches of 2 files and 1 micro-batch of all 9
    must commit the same state."""
    from pyspark.sql import functions as F, types as T

    from etl_aws_spark.streaming import ingest

    run, order = _SKETCH_SINKS[sketch]
    landing = str(tmp_path / "landing")
    spark.range(0, 900).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 3).cast("string").alias("grp"),
        (F.col("id") % 37).alias("user_id"),
        ((F.col("id") % 50) * 1.37 + 0.01).alias("value"),
    ).repartition(9).write.mode("overwrite").parquet(landing)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("grp", T.StringType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    states = []
    for files_per_trigger in (2, 9):
        state = str(tmp_path / f"state_{files_per_trigger}")
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", files_per_trigger)
            .parquet(landing)
        )
        run(ingest, stream, state)
        states.append(
            spark.read.parquet(state).toPandas().sort_values(order).reset_index(drop=True)
        )
    assert len(states[0]) > 1
    assert states[0].equals(states[1])
    if sketch == "cms":
        assert states[0].cell_n.sum() == 900 * 4


def test_cms_state_commit_is_replay_idempotent_and_atomic(spark, tmp_path):
    """foreachBatch is at-least-once: replaying already-merged batch_ids
    (here: wiping the checkpoint and re-running the identical stream) must
    NOT double-add the grid, and the state must be a version dir
    published by rename so a crash mid-commit can never truncate it."""
    import os
    import shutil

    from pyspark.sql import functions as F, types as T

    from etl_aws_spark.streaming import ingest

    landing = str(tmp_path / "landing")
    spark.range(0, 300).select(
        F.col("id").alias("event_id"), (F.col("id") % 11).alias("user_id")
    ).repartition(6).write.mode("overwrite").parquet(landing)
    schema = T.StructType(
        [T.StructField("event_id", T.LongType()), T.StructField("user_id", T.LongType())]
    )
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(landing)
        )
        ingest.cms_merge_stream(
            stream, state, "user_id", depth=4, width=16, checkpoint=ckpt
        )

    run()
    grid1 = (
        spark.read.parquet(state).toPandas()
        .sort_values(["depth", "bucket"]).reset_index(drop=True)
    )
    assert grid1.cell_n.sum() == 300 * 4
    # committed state is a published plain dir, batch_id recoverable
    # from the name-encoded commit records
    assert os.path.isdir(state) and not os.path.islink(state)
    assert ingest._committed_batch_id(spark, state) is not None

    # wipe the checkpoint: the re-run replays every batch with the same
    # batch_ids from 0 — the guard must skip all of them
    shutil.rmtree(ckpt)
    run()
    grid2 = (
        spark.read.parquet(state).toPandas()
        .sort_values(["depth", "bucket"]).reset_index(drop=True)
    )
    assert grid1.equals(grid2), "replayed batches were double-merged"

    # reset_state clears the published copy, version store, and records
    ingest.reset_state(spark, state)
    assert not os.path.lexists(state)
    assert not os.path.exists(state + ".versions")
    assert not os.path.exists(state + ".commits")


def test_available_now_timeout_stops_the_query_and_raises(spark, tmp_path, monkeypatch):
    """A run still going after RUN_TIMEOUT_S must fail instead of letting
    its caller read a half-written sink, and must not leave the query
    running behind the error."""
    import time

    from etl_aws_spark.streaming import ingest

    landing = str(tmp_path / "landing")
    spark.range(0, 10).write.parquet(landing)
    monkeypatch.setattr(ingest, "RUN_TIMEOUT_S", 1)

    def slow_sink(batch_df, batch_id):
        time.sleep(3)

    writer = (
        spark.readStream.schema("id long").parquet(landing).writeStream.foreachBatch(slow_sink)
    )
    with pytest.raises(TimeoutError):
        ingest.run_available_now(writer)
    assert spark.streams.active == []


def test_transform_with_state_topk_carries_across_batches(spark, tmp_path):
    """transformWithStateInPandas top-k: with maxFilesPerTrigger=1 the
    stream runs multiple micro-batches, and the final per-key state must
    equal the batch top-3 — i.e. state genuinely carries between
    triggers (an append-mode emit per batch can only IMPROVE ranks)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from etl_aws_spark.suite.q_streaming import streaming_topk_state

    out = streaming_topk_state(spark, "/root/testdata/sf0.001").toPandas()
    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", "value")
        .toPandas()
    )
    exp_rows = []
    for uid, g in ev.groupby("user_id"):
        g = g.sort_values(["value", "event_id"], ascending=[False, True]).head(3)
        for rk, (_, r) in enumerate(g.iterrows(), 1):
            exp_rows.append((uid, rk, r["value"]))
    exp = pd.DataFrame(exp_rows, columns=["user_id", "rank", "value"])
    got = out.sort_values(["user_id", "rank"]).reset_index(drop=True)
    exp = exp.sort_values(["user_id", "rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got.astype({"user_id": "int64", "rank": "int64"}),
                                  exp.astype({"user_id": "int64", "rank": "int64"}))


def test_scd2_stream_replay_is_idempotent(spark, tmp_path):
    """Wiping the checkpoint and re-running the SCD2 maintenance stream
    replays every batch with the same batch_ids — the state's replay
    guard must skip them all, leaving the version table unchanged."""
    import os
    import shutil

    from etl_aws_spark.suite.q_streaming import streaming_scd2_maintenance

    sf = "/root/testdata/sf0.001"
    first = (
        streaming_scd2_maintenance(spark, sf)
        .toPandas()
        .sort_values(["user_id", "valid_from"])
        .reset_index(drop=True)
    )
    from etl_aws_spark.suite._util import cache_dir

    ckpt = os.path.join(cache_dir(sf, "stream_scd2"), "ckpt")
    shutil.rmtree(ckpt)
    second = (
        streaming_scd2_maintenance(spark, sf)
        .toPandas()
        .sort_values(["user_id", "valid_from"])
        .reset_index(drop=True)
    )
    assert first.equals(second), "replayed batches mutated the version table"


def test_kmv_stream_equals_batch_sketch_at_any_split(spark, tmp_path):
    from pyspark.sql import functions as F, types as T

    from etl_aws_spark.operators.sketch import kmv_sketch
    from etl_aws_spark.streaming import ingest

    landing = str(tmp_path / "kmv_landing")
    df = spark.range(0, 600).select(
        (F.col("id") % 3).cast("string").alias("grp"),
        (F.col("id") % 211).alias("key"),
    )
    df.repartition(6).write.mode("overwrite").parquet(landing)
    schema = T.StructType(
        [T.StructField("grp", T.StringType()), T.StructField("key", T.LongType())]
    )
    batch = kmv_sketch(spark.read.parquet(landing), "key", ["grp"], k=32)
    for files_per_trigger in (1, 6):
        state = str(tmp_path / f"kmv_state_{files_per_trigger}")
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", files_per_trigger)
            .parquet(landing)
        )
        ingest.kmv_merge_stream(stream, state, "key", ["grp"], k=32)
        streamed = spark.read.parquet(state).select("grp", "h")
        # bottom-k merge is associative + idempotent: the streamed sketch
        # must equal the one-shot batch sketch hash-for-hash
        assert streamed.exceptAll(batch.select("grp", "h")).count() == 0
        assert batch.select("grp", "h").exceptAll(streamed).count() == 0


def test_ivf_assign_stream_is_batch_split_invariant(spark, tmp_path):
    """Fixed-point component sums are exact BIGINTs, so any micro-batch
    split converges to the one-shot batch assignment state; every vector
    lands in exactly one cell."""
    from pyspark.sql import functions as F, types as T

    from etl_aws_spark.streaming import ingest

    dim = 8
    # 3 well-separated cells: vectors cluster around axis-aligned centers
    rows = []
    for i in range(120):
        c = i % 3
        v = [0.0] * dim
        v[c] = 10.0
        v[(c + 3) % dim] = 1.0 + (i % 7) * 0.01
        rows.append((i, [float(x) for x in v], c))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    from etl_aws_spark.similarity import knn

    cents = knn.label_centroids(emb, "label", "embedding", dim).localCheckpoint(True)
    landing = str(tmp_path / "landing")
    emb.select("vec_id", "embedding").repartition(6).write.mode("overwrite").parquet(landing)
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    grids = []
    for files_per_trigger in (1, 6):
        state = str(tmp_path / f"state_{files_per_trigger}")
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", files_per_trigger)
            .parquet(landing)
        )
        ingest.ivf_assign_stream(stream, state, cents, "vec_id", "embedding", dim)
        pdf = (
            spark.read.parquet(state)
            .toPandas()
            .sort_values(["cell", "pos"])
            .reset_index(drop=True)
        )
        grids.append(pdf)
    assert grids[0].equals(grids[1])
    # every vector assigned exactly once: per-cell counts sum to N at each pos
    per_pos = grids[0].groupby("pos").n.sum()
    assert (per_pos == 120).all()
    # separated fixture: assignment recovers the generating cell sizes
    assert sorted(grids[0][grids[0].pos == 0].n.tolist()) == [40, 40, 40]


def test_ivf_assign_stream_replay_is_idempotent(spark, tmp_path):
    """Wiping the checkpoint replays every batch with the same batch_ids —
    the commit guard must skip them all, leaving the cell state exactly
    once-merged."""
    import os
    import shutil

    from pyspark.sql import functions as F, types as T

    from etl_aws_spark.similarity import knn
    from etl_aws_spark.streaming import ingest

    dim = 4
    rows = [(i, [10.0 if j == i % 2 else float(i % 5) for j in range(dim)], i % 2)
            for i in range(80)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    cents = knn.label_centroids(emb, "label", "embedding", dim).localCheckpoint(True)
    landing = str(tmp_path / "landing")
    emb.select("vec_id", "embedding").repartition(4).write.mode("overwrite").parquet(landing)
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )
        ingest.ivf_assign_stream(
            stream, state, cents, "vec_id", "embedding", dim, checkpoint=ckpt
        )

    run()
    g1 = (spark.read.parquet(state).toPandas()
          .sort_values(["cell", "pos"]).reset_index(drop=True))
    assert g1.groupby("pos").n.sum().eq(80).all()
    assert os.path.isdir(state) and not os.path.islink(state)
    assert ingest._committed_batch_id(spark, state) is not None
    shutil.rmtree(ckpt)
    run()
    g2 = (spark.read.parquet(state).toPandas()
          .sort_values(["cell", "pos"]).reset_index(drop=True))
    assert g1.equals(g2), "replayed batches were double-merged"


def test_pit_features_state_carries_across_time_ordered_batches(spark, tmp_path):
    """pit_features_stateful: split the event log into two time-ordered
    files with maxFilesPerTrigger=1 (two micro-batches) — every label row
    must carry the same features as the single-batch run, i.e. the pruned
    click window, view carry-forward, and count genuinely survive in
    state across triggers."""
    import pandas as pd
    from pyspark.sql import functions as F

    from etl_aws_spark.sources.readers import read_table
    from etl_aws_spark.streaming import ingest, stateful

    sf = "/root/testdata/sf0.001"
    ev = read_table(spark, sf, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    landing = str(tmp_path / "landing")
    early = ev.filter(F.col("ts") < F.lit("1995-06-01"))
    late = ev.filter(F.col("ts") >= F.lit("1995-06-01"))
    early.repartition(1).write.parquet(os.path.join(landing, "b=0"))
    late.repartition(1).write.parquet(os.path.join(landing, "b=1"))

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )

    def run(max_files):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", str(max_files))
            .parquet(landing + "/b=*")
        )
        out_dir = str(tmp_path / f"out{max_files}")
        ingest.run_available_now(
            stateful.pit_features_stateful(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / f"ck{max_files}"))
            .outputMode("append")
        )
        return (
            spark.read.parquet(out_dir)
            .toPandas()
            .sort_values(["key", "event_id"])
            .reset_index(drop=True)
        )

    split = run(1)   # two micro-batches: state must carry
    whole = run(10)  # single micro-batch baseline
    assert len(split) and len(split) == len(whole)
    pd.testing.assert_frame_equal(split, whole)


def test_stream_stream_join_restart_under_backlog(spark, tmp_path):
    """Crash/recover parity for the stream-stream time join (the one
    stateful twin previously without a restart test — memory-sink
    limitation documented in SCALE.md; this uses the parquet-sink
    pattern): run the click→purchase join over a first tranche, stop,
    land a second tranche whose purchases match FIRST-tranche clicks
    (only checkpoint-recovered join state can produce those matches),
    restart from the checkpoint under a multi-file backlog
    (maxFilesPerTrigger=1), and assert the accumulated output equals the
    batch range join over everything."""
    import datetime

    from pyspark.sql import functions as F
    from etl_aws_spark.streaming import ingest

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    landing, ckpt, out = (str(tmp_path / d) for d in ("in", "ck", "out"))
    os.makedirs(landing)
    base = datetime.datetime(2024, 1, 1, 9, 0)

    def land(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(landing)

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(landing)
        )
        clicks = stream.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"),
            "ts",
            F.col("user_id").alias("key_u"),
        )
        purchases = stream.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("pts"),
            F.col("user_id").alias("key_u"),
        )
        joined = ingest.stream_stream_time_join(
            clicks, purchases, key="key_u", left_ts="ts", right_ts="pts",
            within="1 hour",
        )
        ingest.run_available_now(
            joined.select("click_id", "purchase_id")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
        )

    eid = 0
    t1 = []
    for u in range(1, 5):
        for i in range(3):
            eid += 1
            t1.append(
                (eid, base + datetime.timedelta(minutes=5 * i), u, "click")
            )
        eid += 1
        t1.append((eid, base + datetime.timedelta(minutes=20), u, "purchase"))
    land(t1)
    run()
    n_first = spark.read.parquet(out).count()
    assert n_first == 12  # 3 clicks x 1 purchase x 4 users, all within 1h

    # second tranche in TWO files (a real backlog for maxFilesPerTrigger=1):
    # the minute-50 purchases join tranche-1 clicks — impossible without
    # the click state recovered from the checkpoint
    t2a, t2b = [], []
    for u in range(1, 5):
        eid += 1
        t2a.append((eid, base + datetime.timedelta(minutes=50), u, "purchase"))
        eid += 1
        t2b.append((eid, base + datetime.timedelta(minutes=55), u, "click"))
        eid += 1
        t2b.append((eid, base + datetime.timedelta(minutes=58), u, "purchase"))
    land(t2a)
    land(t2b)
    run()

    got = {
        (r.click_id, r.purchase_id)
        for r in spark.read.parquet(out).collect()
    }
    ev = spark.createDataFrame(t1 + t2a + t2b, schema)
    c = ev.filter("event_type = 'click'").alias("c")
    p = ev.filter("event_type = 'purchase'").alias("p")
    expected = {
        (r.click_id, r.purchase_id)
        for r in c.join(
            p,
            F.expr(
                "c.user_id = p.user_id AND p.ts >= c.ts "
                "AND p.ts <= c.ts + interval 1 hour"
            ),
        )
        .select(
            F.col("c.event_id").alias("click_id"),
            F.col("p.event_id").alias("purchase_id"),
        )
        .collect()
    }
    assert got == expected and len(got) > n_first


def test_knn_maintenance_restart_mid_lifecycle(spark, tmp_path):
    """Kill-between-batches restart parity for the streaming kNN-index
    maintenance lifecycle (r11 verdict task #6): land tranche 1, run one
    availableNow pass (its termination IS the crash point — the stream
    dies between micro-batches), land tranche 2, RESTART against the
    same checkpoint and versioned state tree, and assert the final
    artifact equals the one-shot batch kNN join over the epoch pool
    (budgeted old rows + the FULL unbudgeted delta). A restart that
    re-folds tranche 1 doubles its pool contribution; one that misses
    tranche 2 never indexes it — either breaks the equality. Exercises
    the EXACT production fold (streaming/maintenance.py), not a copy."""
    from pyspark.sql import functions as F

    from etl_aws_spark.registry import load
    from etl_aws_spark.similarity import knn
    from etl_aws_spark.streaming import maintenance as mt

    dim = 64
    sf = "/root/testdata/sf0.001"
    emb = load(spark, sf, "embeddings").select("vec_id", "embedding", "label")
    is_delta = F.pmod(F.col("vec_id"), F.lit(40)) == 7
    old, delta = emb.filter(~is_delta), emb.filter(is_delta)
    d1 = delta.filter(F.pmod(F.col("vec_id"), F.lit(80)) == 7)
    d2 = delta.filter(F.pmod(F.col("vec_id"), F.lit(80)) == 47)
    landing, state, ckpt = (str(tmp_path / d) for d in ("in", "st", "ck"))

    mt.init_state(spark, old, state, dim, k=5, budget=200)
    d1.coalesce(1).write.mode("append").parquet(landing)
    mt.run_maintenance_pass(spark, emb, landing, state, ckpt, dim, k=5, budget=200)
    from etl_aws_spark.streaming.state import VersionedState

    st = VersionedState(spark, state)
    assert st.version() == 1  # tranche 1 folded exactly once

    # --- crash window: more data lands while the stream is down ---
    d2.coalesce(1).write.mode("append").parquet(landing)
    mt.run_maintenance_pass(spark, emb, landing, state, ckpt, dim, k=5, budget=200)
    # the restart folded ONLY the new tranche (v2, not v3): the
    # checkpoint remembered tranche 1 as processed
    assert st.version() == 2

    got = (
        mt.read_final_topk(spark, state, k=5)
        .toPandas()
        .sort_values(["vec_id", "rank"])
        .reset_index(drop=True)
    )
    # one-shot batch answer over the same epoch pool algebra
    bpool = delta.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("_lb"),
        F.col("embedding").alias("_bvec"),
    )
    pool = knn.knn_pool(old, "vec_id", "embedding", "label", budget=200).unionAll(
        bpool
    )
    expected = (
        knn.knn_join(emb, "vec_id", "embedding", "label", dim, k=5, pool=pool)
        .select(
            F.col("id").cast("long").alias("vec_id"),
            F.col("neighbor_id").cast("long").alias("neighbor_id"),
            (F.round(F.col("cos"), 6) + F.lit(0.0)).alias("cos"),
            F.col("rank").cast("int").alias("rank"),
        )
        .toPandas()
        .sort_values(["vec_id", "rank"])
        .reset_index(drop=True)
    )
    import pandas as pd

    pd.testing.assert_frame_equal(got, expected)


def test_neardup_cluster_restart_mid_lifecycle(spark, tmp_path):
    """Kill-between-batches restart parity for the streaming near-dup
    clustering (streaming/clustering.py): land tranche 1, run one
    availableNow pass, land tranche 2 with docs whose only near-dup
    partners live in TRANCHE 1 (cross-tranche merges are impossible
    unless the persisted bucket-min and label state recovered), restart
    against the same checkpoint/state, and assert the final clustering
    equals the one-shot batch star-edge closure over everything."""
    from pyspark.sql import functions as F

    from etl_aws_spark.operators import graph
    from etl_aws_spark.registry import load
    from etl_aws_spark.streaming import clustering as cl
    from etl_aws_spark.text import dedup

    sf = "/root/testdata/sf0.001"
    docs = load(spark, sf, "documents").select("doc_id", "text")
    t1 = docs.filter(F.col("doc_id") % 3 != 1)
    t2 = docs.filter(F.col("doc_id") % 3 == 1)
    landing, state, ckpt = (str(tmp_path / d) for d in ("in", "st", "ck"))

    cl.init_state(spark, state)
    t1.coalesce(1).write.mode("append").parquet(landing)
    cl.run_clustering_pass(spark, landing, state, ckpt)
    from etl_aws_spark.streaming.state import VersionedState

    v1 = VersionedState(spark, state).version()
    assert v1 >= 1  # tranche 1 folded

    t2.coalesce(1).write.mode("append").parquet(landing)
    cl.run_clustering_pass(spark, landing, state, ckpt)
    # the restart folded ONLY the new tranche
    assert VersionedState(spark, state).version() == v1 + 1

    got = (
        cl.read_clusters(spark, state)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    # one-shot batch answer: star edges to bucket minima + CC closure
    bands = dedup.minhash_band_keys(docs, "doc_id", "text")
    bmin = bands.groupBy("bk").agg(F.min("doc_id").alias("mn"))
    edges = (
        bands.join(bmin, "bk")
        .filter(F.col("doc_id") != F.col("mn"))
        .select(F.col("doc_id").alias("src"), F.col("mn").alias("dst"))
    )
    comp = graph.connected_components(
        docs.select("doc_id").distinct(), edges, id_col="doc_id"
    )
    expected = (
        comp.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("component_id").cast("long").alias("component_id"),
            (F.col("doc_id") != F.col("component_id")).cast("int").alias("is_dup"),
        )
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    import pandas as pd

    pd.testing.assert_frame_equal(got, expected)
    # cross-tranche merges actually happened: some tranche-2 doc belongs
    # to a component rooted at a tranche-1 doc (or vice versa)
    m2 = got[(got.doc_id % 3 == 1) & (got.component_id % 3 != 1)]
    m1 = got[(got.doc_id % 3 != 1) & (got.component_id % 3 == 1)]
    assert len(m2) + len(m1) > 0


def test_star_edges_close_like_bucket_cliques(spark):
    """The streaming clustering's core claim: per-bucket STAR edges
    (doc -> bucket min) yield EXACTLY the components of full bucket
    cliques — including through a HOT bucket (30 docs) and a chain of
    pairwise-overlapping buckets — while emitting O(docs) edges where
    cliques emit O(Σ|bucket|²). This is why the streaming fold needs no
    hot-bucket cap."""
    from pyspark.sql import functions as F

    from etl_aws_spark.operators import graph

    rows = []
    # hot bucket: docs 100..129 all share bucket 'H'
    rows += [(i, "H") for i in range(100, 130)]
    # chain: b0:{1,2} b1:{2,3} b2:{3,4} -> one component {1,2,3,4}
    rows += [(1, "b0"), (2, "b0"), (2, "b1"), (3, "b1"), (3, "b2"), (4, "b2")]
    # isolated doc 500 in its own bucket
    rows += [(500, "solo")]
    bands = spark.createDataFrame(rows, "doc_id long, bk string")
    verts = bands.select("doc_id").distinct()

    bmin = bands.groupBy("bk").agg(F.min("doc_id").alias("mn"))
    star = (
        bands.join(bmin, "bk")
        .filter(F.col("doc_id") != F.col("mn"))
        .select(F.col("doc_id").alias("src"), F.col("mn").alias("dst"))
    )
    a, b = bands.alias("a"), bands.alias("b")
    clique = (
        a.join(b, (F.col("a.bk") == F.col("b.bk"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
        .distinct()
    )
    got = sorted(map(tuple, graph.connected_components(
        verts, star, id_col="doc_id").collect()))
    want = sorted(map(tuple, graph.connected_components(
        verts, clique, id_col="doc_id").collect()))
    assert got == want
    # and the star form is linear: ≤ 1 edge per (doc, bucket) membership
    assert star.count() <= bands.count()
    # sanity on the crafted shape: chain collapsed to min 1, hot to 100
    comp = dict(got)
    assert comp[4] == 1 and comp[129] == 100 and comp[500] == 500
