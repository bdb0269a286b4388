"""Structured Streaming ingest: AvailableNow catch-up, watermarked dedup,
foreachBatch merge into a partitioned refined layer."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ]
)


@pytest.fixture()
def dirs(tmp_path):
    d = {
        "landing": str(tmp_path / "landing"),
        "refined": str(tmp_path / "refined"),
        "ckpt": str(tmp_path / "ckpt"),
    }
    os.makedirs(d["landing"])
    return d


def _land(spark, path: str, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


def test_stream_dedup_and_merge(spark, dirs):
    from etl_aws_spark.streaming import ingest

    rows = [
        (1, "2024-01-01 10:00:00", 7, 1.0),
        (2, "2024-01-01 11:00:00", 7, 2.0),
        (2, "2024-01-01 11:00:00", 7, 2.0),  # duplicate delivery
        (3, "2024-01-02 09:00:00", 8, 3.0),
    ]
    rows = [(i, __import__("datetime").datetime.fromisoformat(t), u, v) for i, t, u, v in rows]
    _land(spark, dirs["landing"], rows)

    stream = ingest.read_stream(spark, dirs["landing"], SCHEMA)
    assert stream.isStreaming
    deduped = ingest.dedup_with_watermark(stream, "ts", ["event_id"])
    ingest.merge_into_refined(
        deduped,
        dirs["refined"],
        partition_cols=["dia"],
        transform=lambda df: df.withColumn("dia", F.dayofmonth("ts")),
        checkpoint=dirs["ckpt"],
    )

    out = spark.read.parquet(dirs["refined"])
    assert out.count() == 3  # duplicate dropped
    assert sorted(r.dia for r in out.select("dia").distinct().collect()) == [1, 2]

    # catch-up run: new file lands, restart with same checkpoint processes
    # ONLY the new data; the old partition is untouched (dynamic overwrite)
    import datetime

    _land(spark, dirs["landing"], [(4, datetime.datetime(2024, 1, 3, 8), 9, 4.0)])
    stream2 = ingest.read_stream(spark, dirs["landing"], SCHEMA)
    ingest.merge_into_refined(
        ingest.dedup_with_watermark(stream2, "ts", ["event_id"]),
        dirs["refined"],
        partition_cols=["dia"],
        transform=lambda df: df.withColumn("dia", F.dayofmonth("ts")),
        checkpoint=dirs["ckpt"],
    )
    out2 = spark.read.parquet(dirs["refined"])
    assert out2.count() == 4
    assert out2.filter(F.col("dia") == 1).count() == 2  # day-1 rows survived


def test_windowed_counts_schema(spark, dirs):
    from etl_aws_spark.streaming import ingest

    import datetime

    _land(
        spark,
        dirs["landing"],
        [
            (1, datetime.datetime(2024, 1, 1, 10), 7, 1.0),
            (2, datetime.datetime(2024, 1, 1, 11), 7, 2.0),
            (3, datetime.datetime(2024, 1, 2, 9), 8, 3.0),
        ],
    )
    stream = ingest.read_stream(spark, dirs["landing"], SCHEMA)
    agg = ingest.windowed_counts(stream, "ts", "user_id")
    ingest.run_available_now(
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
    )
    got = {
        (r.window_start.day, r.user_id): (r.n, r.sum_value)
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    assert got == {(1, 7): (2, 3.0), (2, 8): (1, 3.0)}


def test_watermark_late_data_replay(spark, dirs):
    # SURVEY §2.11 late-quote-correction: out-of-order micro-batches against
    # a 1-hour watermark. Run 1 advances the watermark to max(ts) - 1h;
    # run 2 (same checkpoint) replays a within-horizon late row (kept), a
    # too-late row (dropped by the watermark), and a re-delivered duplicate
    # (dropped by dedup state, which outlives rows newer than the watermark).
    import datetime

    from etl_aws_spark.streaming import ingest

    def land(rows):
        _land(
            spark,
            dirs["landing"],
            [(i, datetime.datetime.fromisoformat(t), u, v) for i, t, u, v in rows],
        )

    def run():
        stream = ingest.read_stream(spark, dirs["landing"], SCHEMA)
        ingest.merge_into_refined(
            ingest.dedup_with_watermark(stream, "ts", ["event_id", "ts"], late="1 hour"),
            dirs["refined"],
            partition_cols=["dia"],
            transform=lambda df: df.withColumn("dia", F.dayofmonth("ts")),
            checkpoint=dirs["ckpt"],
            mode="append",  # late rows land in already-written partitions
        )

    land([(1, "2024-01-01 10:00:00", 7, 1.0), (2, "2024-01-01 12:00:00", 7, 2.0)])
    run()  # watermark after this run: 11:00

    land(
        [
            (5, "2024-01-01 11:30:00", 7, 5.0),  # late but inside horizon
            (6, "2024-01-01 09:00:00", 7, 6.0),  # older than watermark
            (2, "2024-01-01 12:00:00", 7, 2.0),  # duplicate re-delivery
        ]
    )
    run()

    got = sorted(r.event_id for r in spark.read.parquet(dirs["refined"]).collect())
    assert got == [1, 2, 5]


def test_dedup_within_watermark_restamped_duplicates(spark, dirs):
    # The Lambda re-run case where the retry re-stamps the quote: same
    # event_id, event times a few minutes apart. Key-only dedup must keep
    # exactly one row per id inside the horizon.
    import datetime

    from etl_aws_spark.streaming import ingest

    _land(
        spark,
        dirs["landing"],
        [
            (1, datetime.datetime(2024, 1, 1, 10, 0), 7, 1.0),
            (1, datetime.datetime(2024, 1, 1, 10, 7), 7, 1.0),  # re-stamped retry
            (2, datetime.datetime(2024, 1, 1, 11, 0), 8, 2.0),
        ],
    )
    stream = ingest.read_stream(spark, dirs["landing"], SCHEMA)
    ingest.run_available_now(
        ingest.dedup_within_watermark(stream, "ts", ["event_id"], late="1 hour")
        .writeStream.format("memory")
        .queryName("wm_dedup")
        .outputMode("append")
    )
    got = sorted(r.event_id for r in spark.sql("SELECT * FROM wm_dedup").collect())
    assert got == [1, 2]


def test_session_window_boundary_semantics(spark, dirs):
    # session_window merges only strictly-overlapping windows: a gap of
    # exactly the duration starts a NEW session (documented divergence from
    # the batch operator's `gap > threshold` rule).
    import datetime

    from etl_aws_spark.streaming import ingest

    t0 = datetime.datetime(2024, 1, 1, 0, 0)
    rows = [
        (1, t0, 1, 1.0),
        (2, t0 + datetime.timedelta(minutes=59), 1, 2.0),   # merges
        (3, t0 + datetime.timedelta(minutes=179), 1, 4.0),  # exactly 1h later -> new
    ]
    _land(spark, dirs["landing"], rows)
    stream = ingest.read_stream(spark, dirs["landing"], SCHEMA)
    agg = ingest.session_window_stats(stream, "ts", "user_id", gap="1 hour")
    ingest.run_available_now(
        agg.writeStream.format("memory").queryName("swtest")
        .outputMode("complete")
    )
    got = {
        (r.session_start, r.n_events): r.sum_value
        for r in spark.table("swtest").collect()
    }
    assert got == {
        (t0, 2): 3.0,
        (t0 + datetime.timedelta(minutes=179), 1): 4.0,
    }


def test_stream_stream_join_time_bounds(spark, dirs):
    # purchase exactly at click+1h is included (<=); outside the window or
    # wrong user never matches
    import datetime

    from etl_aws_spark.streaming import ingest

    t0 = datetime.datetime(2024, 1, 1, 12, 0)
    rows = [
        (1, t0, 1, 1.0),                                   # click u1
        (2, t0 + datetime.timedelta(hours=1), 1, 1.0),     # purchase at bound
        (3, t0 + datetime.timedelta(hours=2), 1, 1.0),     # too late
        (4, t0 + datetime.timedelta(minutes=5), 9, 1.0),   # other user
    ]
    _land(spark, dirs["landing"], rows)
    stream = ingest.read_stream(spark, dirs["landing"], SCHEMA)
    clicks = stream.filter(F.col("event_id") == 1).select(
        F.col("event_id").alias("click_id"), "ts", F.col("user_id").alias("k")
    )
    buys = stream.filter(F.col("event_id") > 1).select(
        F.col("event_id").alias("buy_id"), F.col("ts").alias("bts"),
        F.col("user_id").alias("k"),
    )
    j = ingest.stream_stream_time_join(clicks, buys, "k", "ts", "bts", within="1 hour")
    ingest.run_available_now(
        j.select("click_id", "buy_id").writeStream.format("memory")
        .queryName("ssj_test").outputMode("append")
    )
    got = {(r.click_id, r.buy_id) for r in spark.table("ssj_test").collect()}
    assert got == {(1, 2)}


def test_stream_stream_join_checkpoint_restart(spark, dirs):
    # Restart coverage for the dual-watermark join state (the r4 gap): run 1
    # buffers a click in the join state store; run 2 restarts from the same
    # checkpoint and lands a purchase matching that OLD click — the pair can
    # only be emitted if the click's buffered state was recovered. Parquet
    # sink (a memory sink cannot recover a checkpoint) and exactly-once:
    # run 2 must not re-emit run 1's match.
    import datetime

    from etl_aws_spark.streaming import ingest

    t0 = datetime.datetime(2024, 1, 1, 12, 0)
    out_path = dirs["refined"]

    def run():
        stream = ingest.read_stream(spark, dirs["landing"], SCHEMA)
        clicks = stream.filter(F.col("value") == 1.0).select(
            F.col("event_id").alias("click_id"), "ts", F.col("user_id").alias("k")
        )
        buys = stream.filter(F.col("value") == 2.0).select(
            F.col("event_id").alias("buy_id"), F.col("ts").alias("bts"),
            F.col("user_id").alias("k"),
        )
        j = ingest.stream_stream_time_join(clicks, buys, "k", "ts", "bts", within="1 hour")
        ingest.run_available_now(
            j.select("click_id", "buy_id")
            .writeStream.format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", dirs["ckpt"])
            .outputMode("append")
        )

    # run 1: click c1 + purchase p10 within the hour -> (1, 10)
    _land(spark, dirs["landing"], [
        (1, t0, 7, 1.0),
        (10, t0 + datetime.timedelta(minutes=30), 7, 2.0),
    ])
    run()
    got1 = {(r.click_id, r.buy_id) for r in spark.read.parquet(out_path).collect()}
    assert got1 == {(1, 10)}

    # run 2 (same checkpoint): p11 matches the RESTORED c1 state; c2+p12 is
    # a fresh in-run match; p13 is outside c1's window and must not match
    _land(spark, dirs["landing"], [
        (11, t0 + datetime.timedelta(minutes=45), 7, 2.0),
        (2, t0 + datetime.timedelta(hours=3), 7, 1.0),
        (12, t0 + datetime.timedelta(hours=3, minutes=5), 7, 2.0),
        (13, t0 + datetime.timedelta(hours=2), 7, 2.0),
    ])
    run()
    got2 = sorted(
        (r.click_id, r.buy_id) for r in spark.read.parquet(out_path).collect()
    )
    assert got2 == [(1, 10), (1, 11), (2, 12)], got2


def test_upsert_latest_state_two_runs_and_batch_split(spark, dirs):
    # The upsert state must (a) survive a second AvailableNow catch-up run
    # against the same checkpoint, taking newer rows and keeping untouched
    # keys, and (b) be independent of micro-batch boundaries.
    import datetime

    from etl_aws_spark.streaming import ingest

    t0 = datetime.datetime(2024, 1, 1, 12, 0)
    state = dirs["refined"]

    def run(max_files=None):
        reader = spark.readStream.schema(SCHEMA)
        if max_files:
            reader = reader.option("maxFilesPerTrigger", str(max_files))
        stream = reader.parquet(dirs["landing"])
        ingest.upsert_latest_state(
            stream, state, keys=["user_id"], order_cols=["ts", "event_id"],
            checkpoint=dirs["ckpt"],
        )

    _land(spark, dirs["landing"], [
        (1, t0, 7, 10.0),
        (2, t0 + datetime.timedelta(minutes=5), 7, 11.0),
        (3, t0, 8, 20.0),
    ])
    run(max_files=1)
    got1 = {r.user_id: (r.event_id, r.value)
            for r in spark.read.parquet(state).collect()}
    assert got1 == {7: (2, 11.0), 8: (3, 20.0)}

    # run 2, same checkpoint: user 7 gets a newer row, user 9 appears, an
    # OLDER re-delivery for user 8 must NOT regress its state
    _land(spark, dirs["landing"], [
        (4, t0 + datetime.timedelta(minutes=9), 7, 12.0),
        (5, t0 + datetime.timedelta(minutes=1), 9, 30.0),
        (0, t0 - datetime.timedelta(minutes=60), 8, 19.0),
    ])
    run(max_files=1)
    got2 = {r.user_id: (r.event_id, r.value)
            for r in spark.read.parquet(state).collect()}
    assert got2 == {7: (4, 12.0), 8: (3, 20.0), 9: (5, 30.0)}
