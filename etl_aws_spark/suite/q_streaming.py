"""SURVEY §2.11 streaming query: the daily micro-ingest as a Structured
Streaming catch-up run (rows-only — streaming execution isn't
SQL-expressible; invariants are pinned in tests/test_streaming.py)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_aws_spark import fsutil
from etl_aws_spark.registry import load, query
from etl_aws_spark.sources import writers
from etl_aws_spark.streaming import ingest
from etl_aws_spark.streaming.state import VersionedState
from etl_aws_spark.suite._util import cache_dir as _cache_dir


@query(
    "streaming_ingest_dedup",
    # Exact oracle (promoted r8 from rows-only): the landing tree is
    # events ∪ a re-delivered 10% slice of itself, the stream dedups on
    # event_id, and event_id is unique in the fixture — so the refined
    # final state is exactly the events table projected to
    # (event_id, user_id, day-of-month). Every column is integral, so no
    # rounding bridge is needed; an UNDROPPED duplicate fails rows_match
    # and a wrong merge partition fails the value hash on `dia`.
    oracle="""
    SELECT event_id, user_id, CAST(date_part('day', ts) AS INT) AS dia
    FROM events
    """,
    category="streaming",
)
def streaming_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source readStream over the daily-partitioned landing tree →
    watermarked stateful dedup → foreachBatch dynamic-partition merge into
    refined, AvailableNow trigger (the Lambda daily batch, `lambda_function
    .py:21-101`, as an incremental catch-up run). Returns the refined
    read-back: one row per unique event_id."""
    root = _cache_dir(sf_dir, "stream")
    landing, refined_p, ckpt = (
        os.path.join(root, "landing"),
        os.path.join(root, "refined"),
        os.path.join(root, "ckpt"),
    )
    if not fsutil.exists(spark, os.path.join(landing, "_SUCCESS")):
        fsutil.rmtree(spark, root)
        ev = load(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
        # re-deliver ~10% of events: the stream must drop them
        redelivered = ev.filter(F.col("event_id") % 10 == 0)
        ev.unionByName(redelivered).write.mode("overwrite").parquet(landing)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    if not fsutil.exists(spark, refined_p):
        stream = ingest.read_stream(spark, landing, schema)
        deduped = ingest.dedup_with_watermark(stream, "ts", ["event_id"])
        ingest.merge_into_refined(
            deduped,
            refined_p,
            partition_cols=["dia"],
            transform=lambda df: df.withColumn("dia", F.dayofmonth("ts")),
            checkpoint=ckpt,
        )
    return spark.read.parquet(refined_p).select("event_id", "user_id", "dia")


@query(
    "streaming_session_window",
    # batch oracle for the stream: Spark's session_window starts a NEW
    # session when the gap >= duration (windows must strictly overlap to
    # merge), so the oracle's gap rule is >= 3600 — intentionally different
    # from window_sessionize's pandas-style `> 3600` (see
    # streaming/ingest.py session_window_stats docstring).
    oracle="""
    WITH g AS (
      SELECT user_id, ts, value,
             CASE WHEN date_part('epoch', ts)
                       - lag(date_part('epoch', ts)) OVER (PARTITION BY user_id ORDER BY ts)
                       >= 3600
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS s
      FROM events
    ), sess AS (
      SELECT user_id, ts, value,
             sum(s) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM g
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 1 HOUR AS session_end,
           count(*) AS n_events,
           round(sum(value), 4) + 0.0 AS sum_value
    FROM sess GROUP BY user_id, sid
    """,
    category="streaming",
)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session-window aggregation as a stream (`F.session_window` +
    watermark, AvailableNow) — the streaming twin of the batch gap
    sessionization fixed in r4. The oracle recomputes sessions in batch SQL
    under session_window's own boundary rule, so the driver hash-checks
    stream/batch parity for stateful session merging."""
    root = _cache_dir(sf_dir, "stream_sw")
    landing = os.path.join(root, "landing")
    if not fsutil.exists(spark, os.path.join(landing, "_SUCCESS")):
        fsutil.rmtree(spark, root)
        ev = load(spark, sf_dir, "events").select("ts", "user_id", "value")
        ev.write.mode("overwrite").parquet(landing)
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    name = "sesswin_" + os.path.basename(os.path.dirname(root))
    stream = ingest.read_stream(spark, landing, schema)
    agg = ingest.session_window_stats(stream, "ts", "user_id", gap="1 hour")
    ingest.run_available_now(
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
    )
    return spark.table(name).select(
        "user_id", "session_start", "session_end", "n_events",
        (F.round(F.col("sum_value"), 4) + F.lit(0.0)).alias("sum_value"),
    )


@query(
    "streaming_stream_stream_join",
    # batch oracle: the equivalent range join — on a finite AvailableNow
    # run the stream-stream join emits exactly the batch match set
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           c.user_id AS user_id, c.ts AS click_ts, p.ts AS purchase_ts
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
    category="streaming",
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with time bounds (click → purchase within
    1 h, the attribution pattern): watermarks on both sides bound the state
    buffers; the driver hash-checks the emitted matches against the batch
    range join — stream/batch parity for the hardest stateful operator."""
    root = _cache_dir(sf_dir, "stream_ssj")
    landing = os.path.join(root, "landing")
    if not fsutil.exists(spark, os.path.join(landing, "_SUCCESS")):
        fsutil.rmtree(spark, root)
        ev = load(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type")
        ev.write.mode("overwrite").parquet(landing)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    name = "ssjoin_" + os.path.basename(os.path.dirname(root))
    stream = ingest.read_stream(spark, landing, schema)
    clicks = stream.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("ts"), F.col("user_id").alias("key_u")
    )
    purchases = stream.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
        F.col("user_id").alias("key_u"),
    )
    joined = ingest.stream_stream_time_join(
        clicks, purchases, key="key_u", left_ts="ts", right_ts="pts", within="1 hour",
    )
    # Each shuffle partition carries TWO state stores for a stream-stream
    # join; store open/commit overhead is per-partition-per-batch, so size
    # the stateful shuffle to the STATE volume (tiny here), not the batch
    # throughput — at 100 TB this dial turns the other way.
    # NOTE: spark.sql.shuffle.partitions is session-global and there is no
    # per-query streaming override — the set/restore below is safe only
    # because the gate (and bench.py) run queries serially on this session;
    # a concurrently-planned query would observe the temporary value. The
    # finally clause restores it even if the run throws.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        ingest.run_available_now(
            joined.select(
                "click_id", "purchase_id",
                F.col("l.key_u").alias("user_id"),
                F.col("ts").alias("click_ts"),
                F.col("pts").alias("purchase_ts"),
            )
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


@query(
    "streaming_windowed_counts",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           user_id,
           count(*) AS n,
           round(sum(value), 4) + 0.0 AS sum_value
    FROM events GROUP BY 1, 2
    """,
    category="streaming",
)
def streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window per-key aggregation as an AvailableNow
    streaming run (SURVEY §2.11: the daily re-aggregation the reference
    recomputes from scratch, incrementalized). The oracle is the BATCH
    day-grouping over the same events — so the driver value-hash checks
    stream/batch parity, the strongest invariant a streaming operator can
    offer. Complete output mode to a memory sink; the landing tree is the
    deterministic parquet snapshot of `events`."""
    root = _cache_dir(sf_dir, "stream_wc")
    landing = os.path.join(root, "landing")
    if not fsutil.exists(spark, os.path.join(landing, "_SUCCESS")):
        fsutil.rmtree(spark, root)
        ev = load(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
        ev.write.mode("overwrite").parquet(landing)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    name = "wincounts_" + os.path.basename(os.path.dirname(root))
    stream = ingest.read_stream(spark, landing, schema)
    agg = ingest.windowed_counts(stream, "ts", "user_id", window="1 day", late="3 days")
    ingest.run_available_now(
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
    )
    return spark.table(name).select(
        F.to_date("window_start").cast("timestamp").alias("day"),
        "user_id",
        F.col("n").cast("bigint").alias("n"),
        (F.round(F.col("sum_value"), 4) + F.lit(0.0)).alias("sum_value"),
    )


@query(
    "streaming_static_enrich",
    # batch oracle: stream-static join + tumbling day aggregation emits
    # exactly the batch join-group result on a finite AvailableNow run
    oracle="""
    SELECT CAST(date_trunc('day', e.ts) AS TIMESTAMP) AS day,
           c.c_mktsegment,
           count(*) AS n,
           round(sum(e.value), 4) + 0.0 AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
    category="streaming",
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment — the streaming form of the
    reference's fact⋈dim join (`glue.py:100-135`): the event stream joins
    the static customer dimension (broadcast per micro-batch, no state
    store needed for the static side), then a watermarked tumbling-day
    aggregation rolls up per segment. The oracle is the batch join+group
    over the same inputs — stream/batch parity, value-hashed."""
    root = _cache_dir(sf_dir, "stream_enrich")
    landing = os.path.join(root, "landing")
    if not fsutil.exists(spark, os.path.join(landing, "_SUCCESS")):
        fsutil.rmtree(spark, root)
        ev = load(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
        ev.write.mode("overwrite").parquet(landing)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    dim = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    name = "enrich_" + os.path.basename(os.path.dirname(root))
    stream = ingest.read_stream(spark, landing, schema)
    joined = stream.join(
        F.broadcast(dim), stream["user_id"] == dim["c_custkey"], "inner"
    )
    agg = (
        joined.withWatermark("ts", "3 days")
        .groupBy(F.window("ts", "1 day"), "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
    )
    ingest.run_available_now(
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
    )
    return spark.table(name).select(
        F.col("window.start").alias("day"),
        "c_mktsegment",
        "n",
        (F.round(F.col("sum_value"), 4) + F.lit(0.0)).alias("sum_value"),
    )


def _reset_uncommitted(spark: SparkSession, state: str, ckpt: str) -> bool:
    """True when ``state`` holds no committed version. The state and its
    checkpoint ``ckpt`` are then removed together, so the caller rebuilds
    both: a checkpoint left behind would mark every landed file as done
    and fold nothing into the fresh state. The rename-publish layout's
    ``<state>.versions`` and ``<state>.commits`` siblings go with them."""
    if VersionedState(spark, state).version() >= 0:
        return False
    for p in (state, state + ".versions", state + ".commits", ckpt):
        fsutil.rmtree(spark, p)
    return True


@query(
    "streaming_upsert_latest",
    oracle="""
    WITH r AS (
      SELECT user_id, ts, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, ts AS last_ts, round(value, 4) + 0.0 AS last_value
    FROM r WHERE rn = 1
    """,
    category="streaming",
)
def streaming_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC compaction as a stream: a file-source readStream over the events
    landing (multiple micro-batches via maxFilesPerTrigger) drives a
    foreachBatch keyed upsert that maintains latest-row-per-user parquet
    state. 'Latest by (ts, event_id)' is associative, so the final state is
    independent of how the stream was split into batches — which is exactly
    what the batch-SQL oracle checks: the streamed state must equal the
    one-shot window over the whole history."""
    root = _cache_dir(sf_dir, "stream_upsert")
    landing, state_p, ckpt = (
        os.path.join(root, "landing"),
        os.path.join(root, "state"),
        os.path.join(root, "ckpt"),
    )
    if not fsutil.exists(spark, os.path.join(landing, "_SUCCESS")):
        fsutil.rmtree(spark, root)
        ev = load(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
        # many files -> several AvailableNow micro-batches under the trigger cap
        ev.repartition(8, "user_id").write.mode("overwrite").parquet(landing)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    if _reset_uncommitted(spark, state_p, ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "3")
            .parquet(landing)
        )
        ingest.upsert_latest_state(
            stream, state_p, keys=["user_id"], order_cols=["ts", "event_id"],
            checkpoint=ckpt,
        )
    st = ingest.read_state(spark, state_p)
    return st.select(
        "user_id",
        F.col("ts").alias("last_ts"),
        (F.round("value", 4) + F.lit(0.0)).alias("last_value"),
    )


@query(
    "streaming_sliding_window_counts",
    # batch oracle: every event belongs to exactly two 12h-aligned 1-day
    # sliding windows — unnest both starts and group, replaying Spark's
    # window(ts, '1 day', '12 hours') assignment exactly
    oracle="""
    WITH t12 AS (
      SELECT event_type, value,
             date_trunc('day', ts)
               + CASE WHEN extract(hour FROM ts) >= 12
                      THEN INTERVAL 12 HOUR ELSE INTERVAL 0 HOUR END AS w0
      FROM events
    ), assigned AS (
      SELECT event_type, value,
             unnest([w0, w0 - INTERVAL 12 HOUR]) AS window_start
      FROM t12
    )
    SELECT CAST(window_start AS TIMESTAMP) AS window_start,
           event_type,
           count(*) AS n,
           round(sum(value), 4) + 0.0 AS sum_value
    FROM assigned GROUP BY 1, 2
    """,
    category="streaming",
)
def streaming_sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window per-type aggregation (1-day window, 12-hour slide —
    each event feeds TWO overlapping windows) as an AvailableNow streaming
    run: the moving-average-style dashboards the reference recomputes in
    pandas, incrementalized with watermark-bounded state. The oracle
    replays Spark's overlap assignment via the two aligned window starts
    per event — stream/batch parity, value-hashed."""
    root = _cache_dir(sf_dir, "stream_swc")
    landing = os.path.join(root, "landing")
    if not fsutil.exists(spark, os.path.join(landing, "_SUCCESS")):
        fsutil.rmtree(spark, root)
        ev = load(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
        ev.write.mode("overwrite").parquet(landing)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    name = "slidewin_" + os.path.basename(os.path.dirname(root))
    stream = ingest.read_stream(spark, landing, schema)
    agg = (
        stream.withWatermark("ts", "3 days")
        .groupBy(F.window("ts", "1 day", "12 hours"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
    )
    ingest.run_available_now(
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
    )
    return spark.table(name).select(
        F.col("window.start").alias("window_start"),
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        (F.round(F.col("sum_value"), 4) + F.lit(0.0)).alias("sum_value"),
    )


def _events_stream(
    spark: SparkSession, sf_dir: str, layout: str, schema: T.StructType
) -> tuple[DataFrame, str]:
    """The events-sketch fixture: land the ``schema`` columns of `events`
    once as 8 files under ``layout``, reset the sketch state beside them,
    and stream the landing 3 files per trigger, so every sketch merges
    across several micro-batches. Returns (stream, state path)."""
    root = _cache_dir(sf_dir, layout)
    landing = os.path.join(root, "landing")
    state = os.path.join(root, "state")
    if not fsutil.exists(spark, os.path.join(landing, "_SUCCESS")):
        fsutil.rmtree(spark, root)
        ev = load(spark, sf_dir, "events").select(*schema.fieldNames())
        ev.repartition(8).write.mode("overwrite").parquet(landing)
    fsutil.rmtree(spark, state)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 3)
        .parquet(landing)
    )
    return stream, state


def _cms_grid_oracle() -> str:
    from etl_aws_spark.text import _dialect as D

    branches = " UNION ALL ".join(
        f"SELECT ({D.hash60(f'''concat('cms{j}:', key)''', D.DUCK)}) % 32 AS bucket,"
        f" {j} AS depth FROM k"
        for j in range(4)
    )
    return f"""
    WITH k AS (
      SELECT CAST(user_id AS VARCHAR) AS key FROM events
    ), pairs AS (
      {branches}
    )
    SELECT depth, bucket, count(*) AS cell_n
    FROM pairs GROUP BY depth, bucket
    """


@query("streaming_sketch_count_min", oracle=_cms_grid_oracle(), category="streaming")
def streaming_sketch_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch maintained AS A STREAM (foreachBatch cell-wise
    grid merge, several micro-batches forced via maxFilesPerTrigger): the
    state is 4x32 longs forever, independent of stream length or key
    cardinality, and grid addition is associative — so the final grid
    must EQUAL the batch-built one regardless of batch boundaries, which
    is exactly what the batch oracle value-checks. The streaming twin of
    `sketch_count_min_freq`'s offline accuracy harness."""
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
        ]
    )
    stream, state = _events_stream(spark, sf_dir, "stream_cms", schema)
    ingest.cms_merge_stream(stream, state, "user_id", depth=4, width=32)
    return ingest.read_state(spark, state).select(
        F.col("depth").cast("int").alias("depth"),
        F.col("bucket").cast("long").alias("bucket"),
        F.col("cell_n").cast("long").alias("cell_n"),
    )


@query(
    "streaming_corpus_dedup_state",
    # batch parity oracle: the streamed keep-first state must equal exact
    # dedup over the whole corpus in one shot — min doc_id per normalized
    # text digest
    oracle="""
    WITH h AS (
      SELECT doc_id,
             md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS hh
      FROM documents
    )
    SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, hh AS text_digest
    FROM h GROUP BY hh
    """,
    category="streaming",
)
def streaming_corpus_dedup_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL corpus building: documents stream in (multi-batch
    AvailableNow) and foreachBatch maintains the keep-first exact-dedup
    state — one surviving doc_id per normalized-text digest. Reuses
    `upsert_latest_state` unchanged: keep-first(min doc_id) is
    latest-by(-doc_id), which is associative, so the state is independent
    of how the corpus was split into micro-batches — and the versioned
    versioned commit (streaming/ingest.py) makes it exact under
    at-least-once retries. The oracle is the ONE-SHOT batch dedup over
    the full corpus: stream/batch parity, value-hashed. This is the
    streaming twin of `text_dedup_exact` — what a production pipeline
    runs as each crawl drop lands, without rescanning the corpus."""
    root = _cache_dir(sf_dir, "stream_corpus_dedup")
    landing, state_p, ckpt = (
        os.path.join(root, "landing"),
        os.path.join(root, "state"),
        os.path.join(root, "ckpt"),
    )
    if not fsutil.exists(spark, os.path.join(landing, "_SUCCESS")):
        fsutil.rmtree(spark, root)
        docs = load(spark, sf_dir, "documents").select("doc_id", "text")
        docs.repartition(8).write.mode("overwrite").parquet(landing)
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    if _reset_uncommitted(spark, state_p, ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "3")
            .parquet(landing)
        ).select(
            "doc_id",
            F.md5(
                F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
            ).alias("text_digest"),
            (-F.col("doc_id")).alias("_neg_id"),
        )
        ingest.upsert_latest_state(
            stream, state_p, keys=["text_digest"], order_cols=["_neg_id"],
            checkpoint=ckpt,
        )
    st = ingest.read_state(spark, state_p)
    return st.select(F.col("doc_id").cast("long").alias("doc_id"), "text_digest")


def _neardup_bands_sql(bands: int = 4, r: int = 4) -> str:
    """Mirror of dedup.minhash_band_keys over the raw documents table —
    the q_text._minhash_bands_sql machinery with `documents` as the
    source (this stream runs on the un-planted corpus)."""
    from etl_aws_spark.text import _dialect as D

    perms = D.perm_constants(bands * r)
    sigs = ",\n".join(
        f"{D.perm_min('h', a, b)} AS mh{i}" for i, (a, b) in enumerate(perms)
    )
    band_selects = "\n      UNION ALL\n".join(
        "SELECT doc_id, md5(concat_ws('_', "
        + ", ".join(f"mh{b * r + j}" for j in range(r))
        + ")) AS bk FROM sig"
        for b in range(bands)
    )
    return (
        f"toks AS (SELECT doc_id, unnest({D.distinct_tokens('text', D.DUCK)}) AS tok FROM documents), "
        f"base AS (SELECT doc_id, {D.token_base_hash('tok', D.DUCK)} AS h FROM toks), "
        f"sig AS (SELECT doc_id, {sigs} FROM base GROUP BY doc_id), bands AS ({band_selects})"
    )


@query(
    "streaming_neardup_cluster_state",
    # batch-parity oracle: bucket-min STAR edges over the FULL corpus +
    # a recursive reachability closure — true components computed from
    # scratch by a completely different algorithm. Equality proves the
    # incremental star fold is order/tranche-independent, not just
    # row-complete.
    oracle=f"""
    WITH RECURSIVE {_neardup_bands_sql()},
    bmin AS (SELECT bk, min(doc_id) AS mn FROM bands GROUP BY bk),
    -- closure runs on the BUCKET graph (buckets linked by any shared
    -- doc), not the doc graph: doc–doc and bucket–bucket connectivity
    -- coincide through the bipartite (doc, bucket) relation, and the
    -- recursive reach CTE's Sigma|component|^2 pair growth is bounded by
    -- |buckets| (1.5k at sf1) instead of |docs| (50k, where an uncapped
    -- mega-component made the doc-level closure quadratically infeasible)
    bedges AS (
      SELECT DISTINCT a.bk AS s, b.bk AS d
      FROM bands a JOIN bands b ON a.doc_id = b.doc_id AND a.bk < b.bk
    ),
    bsym AS (
      SELECT s AS u, d AS v FROM bedges
      UNION SELECT d AS u, s AS v FROM bedges
    ),
    breach AS (
      SELECT bk AS id, bk AS r FROM (SELECT DISTINCT bk FROM bands)
      UNION
      SELECT s.u AS id, breach.r FROM breach JOIN bsym s ON s.v = breach.id
    ),
    bcomp AS (
      SELECT breach.id AS bk, min(m.mn) AS comp
      FROM breach JOIN bmin m ON breach.r = m.bk
      GROUP BY breach.id
    ),
    doclbl AS (
      SELECT b.doc_id, min(c.comp) AS component_id
      FROM bands b JOIN bcomp c USING (bk)
      GROUP BY b.doc_id
    )
    SELECT d.doc_id,
           coalesce(x.component_id, d.doc_id) AS component_id,
           CAST(d.doc_id <> coalesce(x.component_id, d.doc_id) AS INT) AS is_dup
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN doclbl x USING (doc_id)
    """,
    category="streaming",
)
def streaming_neardup_cluster_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING NEAR-DUP CLUSTERING — the streaming twin of
    `text_dedup_connected_components`, completing the dedup lifecycle the
    way `streaming_knn_index_maintenance` completed the kNN index's:
    documents land as file tranches and every micro-batch folds into a
    persisted GLOBAL clustering (streaming/clustering.py) held as two
    versioned trees — per-bucket running minima and component labels —
    advanced atomically per batch (the `write_versioned` discipline).

    The fold is STAR-edged: each batch doc links to its LSH buckets'
    current minima, a bucket whose minimum moves chains old→new min, and
    the previous labels ride along as their own star edges, so the
    per-batch closure converges in O(1) rounds over 2-column frames.
    Per-bucket star chains connect exactly what full bucket cliques
    would — same components — while every doc ever contributes ≤ n_bands
    edges, so NO hot-bucket cap is needed (the batch clique form must
    drop degenerate buckets to stay sub-quadratic; the star form is
    linear by construction, which is precisely why it is the streaming
    choice). The oracle recomputes true components from scratch
    (bucket-min star edges over the full corpus + recursive reachability)
    — value-hash equality proves the incremental fold is order- and
    tranche-independent.

    Scale shape (100 TB): per batch, signatures cost one pass over the
    BATCH only; bucket-min state is |buckets| narrow rows map-side
    combined; the closure shuffles 2-column (id, label) frames over
    touched vertices. Nothing rescans the seen corpus text — the
    persisted state carries everything the fold needs."""
    from etl_aws_spark.streaming import clustering as cl

    root = _cache_dir(sf_dir, "stream_neardup_cc")
    landing = os.path.join(root, "landing")
    state = os.path.join(root, "state")
    ckpt = os.path.join(root, "ckpt")
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    if not fsutil.exists(spark, os.path.join(landing, "_LANDING_COMPLETE")):
        fsutil.rmtree(spark, landing)
        # two tranches so the closure must merge ACROSS micro-batches
        docs.filter(F.col("doc_id") % 3 != 1).coalesce(2).write.mode(
            "append"
        ).parquet(landing)
        docs.filter(F.col("doc_id") % 3 == 1).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
        fsutil.touch(spark, os.path.join(landing, "_LANDING_COMPLETE"))
    # state AND checkpoint reset together (the GDPR-desync lesson)
    fsutil.rmtree(spark, state)
    fsutil.rmtree(spark, ckpt)
    cl.init_state(spark, state)
    cl.run_clustering_pass(spark, landing, state, ckpt)
    return cl.read_clusters(spark, state)


@query(
    "streaming_ewma_stateful",
    # batch oracle: the identical adjust=False recurrence replayed as a
    # per-row prefix fold (the window_ewm_macd pattern) — the stream's
    # carried (accumulator, count) state must land on the same numbers.
    oracle="""
    WITH s AS (
      SELECT user_id, ts, value,
             list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS pre,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS n
      FROM events
    )
    SELECT user_id AS key, ts, value,
           round(list_reduce(pre, (acc, x) -> 2.0/13.0*x + 11.0/13.0*acc), 4)
             + 0.0 AS ewma,
           CAST(n AS BIGINT) AS n
    FROM s
    """,
    category="streaming",
)
def streaming_ewma_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful streaming operator via ``applyInPandasWithState``
    (streaming/stateful.py ewma_stateful): per-key incremental EWMA whose
    state is TWO numbers (accumulator + count) per key forever — each
    micro-batch folds only its own rows, O(new), where the reference
    recomputes the whole window from a 10-day re-read every run
    (glue.py:183-195). The driver hash-checks every emitted row against
    the batch prefix-fold replay: stream/batch parity for the
    arbitrary-state API, the strongest check a custom stateful op can
    get. The landing set is written as one file so the single
    AvailableNow batch folds each key's series in event order; in
    production the same operator rides watermarked event-time order and
    the seeded recurrence makes any batch split land on identical
    numbers."""
    from etl_aws_spark.streaming import stateful

    root = _cache_dir(sf_dir, "stream_ewma")
    landing = os.path.join(root, "landing")
    if not fsutil.exists(spark, os.path.join(landing, "_SUCCESS")):
        fsutil.rmtree(spark, root)
        ev = load(spark, sf_dir, "events").select("ts", "user_id", "value")
        # single file -> single AvailableNow micro-batch -> deterministic
        # in-batch event-time sort (ts is unique per user in the fixtures)
        ev.repartition(1).write.mode("overwrite").parquet(landing)
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = spark.readStream.schema(schema).parquet(landing)
    out = stateful.ewma_stateful(stream, "user_id", "ts", "value", span=12)
    name = "ewma_stateful_" + os.path.basename(os.path.dirname(root))
    ingest.run_available_now(
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
    )
    return spark.table(name).select(
        "key",
        "ts",
        "value",
        (F.round(F.col("ewma"), 4) + F.lit(0.0)).alias("ewma"),
        "n",
    )


@query(
    "streaming_topk_state",
    # batch-parity oracle: the per-user top-3 purchase values with
    # (value DESC, event_id ASC) ranking — the stream's maintained state
    # must land on exactly these rows.
    oracle="""
    SELECT user_id, CAST(rk AS INT) AS rank, value
    FROM (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY value DESC, event_id ASC) AS rk
      FROM events WHERE event_type = 'purchase'
    ) WHERE rk <= 3
    """,
    category="streaming",
)
def streaming_topk_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key top-k as STREAMING STATE via ``applyInPandasWithState``:
    each user's three highest purchase values ride a flattened
    (v1,e1,v2,e2,v3,e3) GroupState that every micro-batch merges into —
    O(k) state per key forever, and the merge (sort the union of carried
    state and batch rows, keep 3) is associative, so ANY batch split
    lands on identical final state. ``maxFilesPerTrigger=2`` over a
    4-file landing forces multiple micro-batches, so the state genuinely
    carries across triggers (pinned in tests/test_streaming_stateful.py);
    append-mode emits each batch's running top-k and rank values only
    improve over time, so the max per (user, rank) is the final state.
    (Spark 4's ``transformWithStateInPandas`` is the successor API for
    this exact shape; it needs the protobuf wheel, absent in this
    container — the GroupState form is semantically identical here.)"""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key_tuple, pdfs, state: GroupState):
        import math

        import pandas as pd

        cur = []
        if state.exists:
            vals = state.get
            for v, e in zip(*[iter(vals)] * 2):
                if v is not None and not (isinstance(v, float) and math.isnan(v)):
                    cur.append((float(v), int(e)))
        for pdf in pdfs:
            cur.extend(
                (float(v), int(e)) for v, e in zip(pdf["value"], pdf["event_id"])
            )
        cur.sort(key=lambda t: (-t[0], t[1]))
        cur = cur[:3]
        flat = []
        for v, e in cur:
            flat.extend((v, e))
        while len(flat) < 6:
            flat.append(None)
        state.update(tuple(flat))
        (uid,) = key_tuple
        yield pd.DataFrame(
            {
                "user_id": pd.Series([int(uid)] * len(cur), dtype="int64"),
                "rank": pd.Series(range(1, len(cur) + 1), dtype="int32"),
                "value": pd.Series([v for v, _ in cur], dtype=float),
            }
        )

    root = _cache_dir(sf_dir, "stream_topk")
    landing = os.path.join(root, "landing")
    if not fsutil.exists(spark, os.path.join(landing, "_SUCCESS")):
        fsutil.rmtree(spark, root)
        ev = (
            load(spark, sf_dir, "events")
            .filter(F.col("event_type") == "purchase")
            .select("event_id", "user_id", "value")
        )
        ev.repartition(4).write.mode("overwrite").parquet(landing)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(landing)
    )
    out = (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id bigint, rank int, value double",
            stateStructType=(
                "v1 double, e1 bigint, v2 double, e2 bigint, v3 double, e3 bigint"
            ),
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    name = "topk_state_" + os.path.basename(os.path.dirname(root))
    ingest.run_available_now(
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
    )
    # append mode emits each key's running top-k once per batch it appears
    # in; ranks only improve as data accumulates, so max per (user, rank)
    # IS the final state
    snap = spark.table(name)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "rank").orderBy(F.desc("value"))
    return (
        snap.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "rank", "value")
    )


@query(
    "streaming_watermark_late_drop",
    # batch oracle: run-1 rows all count; run-2 stragglers (re-delivered
    # day<10 rows with fresh ids) are beyond the checkpoint-persisted
    # watermark (~day 30 - 1h), so ONLY the original corpus contributes
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY date_trunc('day', ts)
    """,
    category="streaming",
)
def streaming_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA semantics pinned end-to-end across RESTARTS:
    run 1 processes the full corpus (watermark advances to max(ts) − 1h
    and is committed to the checkpoint); a straggler file re-delivering
    every day<10 row with FRESH event_ids (so dedup can't save them —
    only the watermark can) lands after; run 2 resumes from the same
    checkpoint, reads only the new file, and must DROP every straggler:
    their day-windows closed weeks before the restored watermark, so the
    emitted daily counts equal the original corpus exactly. This is the
    contract that BOUNDS streaming state at 100 TB (without the drop,
    every day-window lives forever) and the recovery-correctness story
    (the watermark survives restarts via the checkpoint) in one query.
    Emitted updates append to a parquet log via foreachBatch; the final
    count per window is the max over its emissions."""
    root = _cache_dir(sf_dir, "stream_late2")
    landing = os.path.join(root, "landing")
    updates = os.path.join(root, "updates")
    ckpt = os.path.join(root, "ckpt")
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )

    def run_catchup():
        stream = spark.readStream.schema(schema).parquet(landing)
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 day").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"))
        )

        def emit(batch_df, batch_id):
            batch_df.select(
                F.col("w.start").alias("day"), "n_events"
            ).write.mode("append").parquet(updates)

        ingest.run_available_now(
            agg.writeStream.foreachBatch(emit)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
        )

    if not fsutil.exists(spark, os.path.join(root, "_DONE")):
        fsutil.rmtree(spark, root)
        ev = load(spark, sf_dir, "events").select("event_id", "ts", "value")
        ev.coalesce(1).write.mode("overwrite").parquet(landing)
        run_catchup()  # run 1: corpus; watermark committed to checkpoint
        late = ev.filter(F.dayofmonth("ts") < 10).select(
            (F.col("event_id") + 10_000_000).alias("event_id"), "ts", "value"
        )
        late.coalesce(1).write.mode("append").parquet(landing)
        run_catchup()  # run 2: stragglers only — all beyond the watermark
        fsutil.touch(spark, os.path.join(root, "_DONE"))
    snap = spark.read.parquet(updates)
    return snap.groupBy("day").agg(
        F.max("n_events").cast("long").alias("n_events")
    )


@query(
    "streaming_scd2_maintenance",
    # batch-parity oracle: the stream-maintained version table must equal
    # the one-shot SCD2 build over the full change log
    oracle="""
    WITH ch AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    ), seg AS (
      SELECT user_id, event_type, ts, event_id
      FROM ch WHERE prev IS NULL OR event_type <> prev
    )
    SELECT user_id, event_type, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           CAST(CASE WHEN lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     IS NULL THEN 1 ELSE 0 END AS INTEGER) AS is_current
    FROM seg
    """,
    category="streaming",
)
def streaming_scd2_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension history MAINTAINED AS A STREAM — the warehouse
    operation `merge_scd2_history` runs nightly, done incrementally per
    micro-batch: each batch run-length-compresses ITS OWN change rows,
    then merges against the persisted version table — a user's open
    version either EXTENDS (batch starts with the same attribute: the
    batch's first segment inherits the open version's valid_from),
    CLOSES (attribute changed: valid_to = the batch's first change), or
    passes through untouched (user absent from the batch). State commits
    ride the atomic versioned-snapshot commit with the batch-id replay guard
    (exactly-once under retries), and the landing is three
    event-time-ordered files with maxFilesPerTrigger=1, so the merge
    logic genuinely exercises version extension and closure across
    batch boundaries. The final table must equal the one-shot batch
    build row-for-row — stream/batch parity for dimension maintenance.
    Per batch the work is O(batch + affected versions), never a history
    re-read."""
    from etl_aws_spark.operators import changedata as cd

    root = _cache_dir(sf_dir, "stream_scd2")
    landing = os.path.join(root, "landing")
    state = os.path.join(root, "state")
    ckpt = os.path.join(root, "ckpt")
    if not fsutil.exists(spark, os.path.join(root, "_READY")):
        fsutil.rmtree(spark, root)
        ev = load(spark, sf_dir, "events").select(
            "user_id", "event_type", "ts", "event_id"
        )
        for lo, hi in ((1, 10), (11, 20), (21, 31)):
            chunk = ev.filter(F.dayofmonth("ts").between(lo, hi))
            chunk.coalesce(1).write.mode("append").parquet(landing)
        fsutil.touch(spark, os.path.join(root, "_READY"))
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_id", T.LongType()),
        ]
    )

    _reset_uncommitted(spark, state, ckpt)
    st = VersionedState(spark, state)

    def merge(batch_df, batch_id):
        if st.already_folded(batch_id):
            return
        bseg = cd.scd2_from_log(
            batch_df, key="user_id", attr="event_type", ts_col="ts",
            order_tail=["event_id"],
        ).select("user_id", "event_type", "valid_from", "valid_to")
        if st.version() >= 0:
            prev = ingest.read_state(spark, state).select(
                "user_id", "event_type", "valid_from", "valid_to"
            )
        else:
            prev = spark.createDataFrame(
                [],
                "user_id long, event_type string, valid_from timestamp, "
                "valid_to timestamp",
            )
        open_prev = prev.filter(F.col("valid_to").isNull())
        closed_prev = prev.filter(F.col("valid_to").isNotNull())
        firsts = (
            bseg.groupBy("user_id")
            .agg(F.min("valid_from").alias("first_from"))
            .join(bseg, "user_id")
            .filter(F.col("valid_from") == F.col("first_from"))
            .select("user_id", F.col("event_type").alias("first_attr"), "first_from")
        )
        op = open_prev.join(firsts, "user_id", "left")
        # case A (user absent): keep open; case C (attr changed): close at
        # the batch's first change; case B (continuation): drop — the
        # batch's first segment inherits this version's valid_from below
        kept_open = op.filter(
            F.col("first_from").isNull()
            | (F.col("first_attr") != F.col("event_type"))
        ).select(
            "user_id",
            "event_type",
            "valid_from",
            F.when(F.col("first_from").isNotNull(), F.col("first_from")).alias(
                "valid_to"
            ),
        )
        cont = op.filter(
            F.col("first_from").isNotNull()
            & (F.col("first_attr") == F.col("event_type"))
        ).select(
            "user_id",
            F.col("valid_from").alias("inherit_from"),
            F.col("first_from").alias("first_from"),
        )
        bseg_adj = (
            bseg.join(cont, "user_id", "left")
            .select(
                "user_id",
                "event_type",
                F.when(
                    F.col("inherit_from").isNotNull()
                    & (F.col("valid_from") == F.col("first_from")),
                    F.col("inherit_from"),
                )
                .otherwise(F.col("valid_from"))
                .alias("valid_from"),
                "valid_to",
            )
        )
        new_state = closed_prev.unionByName(kept_open).unionByName(bseg_adj)
        st.publish({ingest.STATE_TREE: new_state}, batch_id)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
    )
    ingest.run_available_now(
        stream.writeStream.foreachBatch(merge).option("checkpointLocation", ckpt)
    )
    out = ingest.read_state(spark, state)
    return out.select(
        "user_id",
        "event_type",
        "valid_from",
        "valid_to",
        F.col("valid_to").isNull().cast("int").alias("is_current"),
    )


def _hll_stream_oracle() -> str:
    from etl_aws_spark.operators.sketch import hll_est_expr, hll_hash_expr, hll_rho_expr
    from etl_aws_spark.text import _dialect as D

    return f"""
    WITH hashed AS (
      SELECT event_type, {D.hash60(hll_hash_expr("user_id"), D.DUCK)} AS h
      FROM events
    ), reg AS (
      SELECT event_type, h % 256 AS j, max({hll_rho_expr(D.DUCK, 8)}) AS m_reg
      FROM hashed GROUP BY event_type, h % 256
    ), sk AS (
      SELECT event_type, count(*) AS n_hit,
             sum((1::BIGINT << CAST(50 - m_reg AS INT))) AS s_obs
      FROM reg GROUP BY event_type
    ), fx AS (
      SELECT event_type, n_hit, 256 - n_hit AS v_zero,
             s_obs + (256 - n_hit) * 1125899906842624 AS s_fixed
      FROM sk
    )
    SELECT event_type,
           CAST(n_hit AS INT) AS n_registers_hit,
           round({hll_est_expr(8)}, 4) + 0.0 AS hll_estimate
    FROM fx
    """


@query(
    "streaming_sketch_hll_distinct",
    # batch parity: register-wise max is associative AND idempotent, so the
    # streamed register table must equal the one-shot batch build exactly —
    # the oracle recomputes registers and the estimate from the raw log
    oracle=_hll_stream_oracle(),
    category="streaming",
)
def streaming_sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type maintained AS A STREAM: each
    micro-batch (several forced via maxFilesPerTrigger) builds its own HLL
    register partial and foreachBatch merges it into the parquet state by
    register-wise max (streaming/ingest.py hll_merge_stream) — the
    lossless HLL union, associative and idempotent, so the final registers
    EQUAL the batch-built table regardless of batch boundaries or replays;
    the batch oracle value-checks exactly that, estimate included. The
    streaming twin of `agg_hll_distinct_users` and the third mergeable
    sketch kept as stream state beside the count-min grid and the top-k
    map: distinct-user dashboards over an unbounded event stream in
    O(types·m) state, no raw-id retention."""
    schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("user_id", T.LongType()),
        ]
    )
    stream, state = _events_stream(spark, sf_dir, "stream_hll", schema)
    ingest.hll_merge_stream(stream, state, "user_id", ["event_type"], p=8)
    from etl_aws_spark.operators.sketch import hll_fold

    regs = ingest.read_state(spark, state)
    est = hll_fold(regs, ["event_type"], p=8)
    from etl_aws_spark.suite._util import rnd

    return est.select(
        "event_type",
        F.col("n_hit").cast("int").alias("n_registers_hit"),
        rnd(F.col("est"), 4).alias("hll_estimate"),
    )


def _kmv_stream_oracle() -> str:
    from etl_aws_spark.suite.q_aggregates import _kmv_oracle_sketch

    return f"""
    WITH {_kmv_oracle_sketch()},
    fold AS (
      SELECT event_type, count(*) AS sketch_size, max(h) AS kth_min_hash
      FROM sk GROUP BY event_type
    )
    SELECT event_type,
           CAST(sketch_size AS INT) AS sketch_size,
           round(CASE WHEN sketch_size < 64 THEN CAST(sketch_size AS DOUBLE)
                      ELSE 63e0 * 1152921504606846976e0
                           / CAST(kth_min_hash AS DOUBLE)
                 END, 4) + 0.0 AS kmv_estimate
    FROM fold
    """


@query(
    "streaming_sketch_kmv_distinct",
    # batch parity: the bottom-k merge (k smallest of the union) is
    # associative and idempotent, so the streamed sketch must equal the
    # one-shot batch sketch exactly — the oracle recomputes it from the raw
    # log, estimate included
    oracle=_kmv_stream_oracle(),
    category="streaming",
)
def streaming_sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type as a KMV (bottom-k) sketch maintained
    AS STREAM STATE: each micro-batch's k-min-hash partial merges into the
    parquet state by keeping the k smallest of the union
    (streaming/ingest.py kmv_merge_stream) — associative, idempotent, so
    batch boundaries and replays cannot change the final sketch; the batch
    oracle value-checks register-for-register parity, estimate included.
    The fourth mergeable sketch kept as stream state (HLL registers,
    count-min grid, top-k map came first), and the one whose retained
    hashes keep supporting SET ALGEBRA (`agg_kmv_jaccard_pairs`) after any
    amount of streaming — O(types·k) state, no raw-id retention."""
    schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("user_id", T.LongType()),
        ]
    )
    stream, state = _events_stream(spark, sf_dir, "stream_kmv", schema)
    ingest.kmv_merge_stream(stream, state, "user_id", ["event_type"], k=64)
    from etl_aws_spark.operators.sketch import kmv_estimate

    sk = ingest.read_state(spark, state)
    est = kmv_estimate(sk, ["event_type"], k=64)
    from etl_aws_spark.suite._util import rnd

    return est.select(
        "event_type",
        F.col("sketch_size").cast("int").alias("sketch_size"),
        rnd(F.col("est"), 4).alias("kmv_estimate"),
    )


@query(
    "streaming_kalman_stateful",
    # batch-parity oracle: the identical Kalman recurrence replayed as a
    # per-row prefix fold with a [level, P] list accumulator (the
    # streaming_ewma_stateful pattern, adaptive-gain edition) — the
    # stream's carried (level, P, n) state must land on the same numbers.
    oracle="""
    WITH s AS (
      SELECT user_id, ts, value,
             list(CAST(value AS DOUBLE))
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS n
      FROM events
    ), f AS (
      SELECT user_id, ts, value, n,
             list_reduce(
               list_prepend([pre[1], CAST(1.0 AS DOUBLE)],
                 list_transform(pre[2:], z -> [z, CAST(0.0 AS DOUBLE)])),
               (acc, m) -> [
                 acc[1] + (acc[2] + 0.125) / (acc[2] + 0.125 + 4.0)
                          * (m[1] - acc[1]),
                 (acc[2] + 0.125) - (acc[2] + 0.125)
                   / (acc[2] + 0.125 + 4.0) * (acc[2] + 0.125)
               ]) AS st
      FROM s
    )
    SELECT user_id AS key, ts, value,
           round(st[1] + sign(st[1]) * 1e-9, 6) + 0.0 AS level,
           round(st[2] + sign(st[2]) * 1e-9, 6) + 0.0 AS variance,
           CAST(n AS BIGINT) AS n
    FROM f
    """,
    category="streaming",
)
def streaming_kalman_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Kalman filtering as STREAM STATE via ``applyInPandasWithState``
    (streaming/stateful.py kalman_stateful) — the adaptive-gain upgrade
    of `streaming_ewma_stateful`: per-key state is THREE numbers (level,
    error covariance, count) forever, each micro-batch folds only its own
    rows, and the gain adapts from the carried covariance instead of a
    fixed α. The recurrence is the identical IEEE op chain as the batch
    `window_kalman_filter_1d` fold, so the driver hash-checks every
    emitted row against the batch prefix-fold replay — stream/batch
    parity for a numeric-state estimator, the strongest check a custom
    stateful op can get."""
    from etl_aws_spark.streaming import stateful
    from etl_aws_spark.suite._util import rnd_nudged

    root = _cache_dir(sf_dir, "stream_kalman")
    landing = os.path.join(root, "landing")
    if not fsutil.exists(spark, os.path.join(landing, "_SUCCESS")):
        fsutil.rmtree(spark, root)
        ev = load(spark, sf_dir, "events").select("ts", "user_id", "value")
        ev.repartition(1).write.mode("overwrite").parquet(landing)
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = spark.readStream.schema(schema).parquet(landing)
    out = stateful.kalman_stateful(stream, "user_id", "ts", "value")
    name = "kalman_stateful_" + os.path.basename(os.path.dirname(root))
    ingest.run_available_now(
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
    )
    return spark.table(name).select(
        "key",
        "ts",
        "value",
        rnd_nudged(F.col("level"), 6).alias("level"),
        rnd_nudged(F.col("variance"), 6).alias("variance"),
        "n",
    )


@query(
    "streaming_sketch_bloom_membership",
    # batch parity: bit_or is associative and idempotent, so the streamed
    # packed words must equal the one-shot batch filter bit-for-bit — the
    # oracle rebuilds words from the raw log and re-derives occupancy and
    # the ln-based distinct estimate (nudged transcendental).
    oracle="""
    WITH keys AS (
      SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS key FROM events
    ), pos AS (
      SELECT event_type,
             ('0x' || substr(md5('bloom0:' || key), 1, 15))::BIGINT % 8192 AS p
      FROM keys
      UNION ALL
      SELECT event_type,
             ('0x' || substr(md5('bloom1:' || key), 1, 15))::BIGINT % 8192 AS p
      FROM keys
    ), words AS (
      SELECT event_type, p // 32 AS word_idx,
             bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS word
      FROM pos GROUP BY event_type, p // 32
    ), agg AS (
      SELECT event_type, count(*) AS n_words, sum(bit_count(word)) AS set_bits
      FROM words GROUP BY event_type
    ), est AS (
      SELECT event_type, n_words, set_bits,
             round(ln(1e0 - CAST(set_bits AS DOUBLE) / 8192e0)
                   + sign(ln(1e0 - CAST(set_bits AS DOUBLE) / 8192e0)) * 1e-9,
                   8) + 0.0 AS lr
      FROM agg
    )
    SELECT event_type,
           CAST(n_words AS INT) AS n_words_nonzero,
           CAST(set_bits AS BIGINT) AS set_bits,
           round(-4096e0 * lr + 1e-9, 4) + 0.0 AS bloom_distinct_est
    FROM est
    """,
    category="streaming",
)
def streaming_sketch_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type BLOOM FILTER maintained AS STREAM STATE: each
    micro-batch ORs its packed-word partial into the parquet state
    (streaming/ingest.py bloom_merge_stream) — bitwise OR is associative
    and idempotent, so batch boundaries and at-least-once replays cannot
    change a single bit, and the streamed filter equals the one-shot
    batch build exactly (the HLL/KMV/count-min/top-k/bitmap parity law,
    sketch #6 in the family). The filter then serves membership without
    the raw log: this query reports per-type occupancy (exact integer
    set-bit counts over the words) and the standard occupancy inversion
    estimate n̂ = -(m/k)·ln(1 - X/m) — the nudged-transcendental recipe
    keeps the one ln() engine-exact.

    Scale shape (100 TB): state is |types|·m/32 packed longs FOREVER
    (8 KiB per type here); the per-batch partial is one explode + one
    map-side-combined bit_or; the merge touches state rows only. The
    prefilter consumer (`join_bloom_prefilter`) shows what the filter
    buys at the shuffle."""
    schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("user_id", T.LongType()),
        ]
    )
    stream, state = _events_stream(spark, sf_dir, "stream_bloom", schema)
    ingest.bloom_merge_stream(
        stream, state, "user_id", ["event_type"], m_bits=8192, n_hashes=2
    )
    words = ingest.read_state(spark, state)
    agg = words.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.bit_count("word")).alias("set_bits"),
    )
    ln_arg = F.lit(1.0) - F.col("set_bits").cast("double") / F.lit(8192.0)
    lr = F.round(
        F.log(ln_arg) + F.signum(F.log(ln_arg)) * F.lit(1e-9), 8
    ) + F.lit(0.0)
    return agg.select(
        "event_type",
        F.col("n_words").cast("int").alias("n_words_nonzero"),
        F.col("set_bits").cast("long").alias("set_bits"),
        (F.round(F.lit(-4096.0) * lr + F.lit(1e-9), 4) + F.lit(0.0)).alias(
            "bloom_distinct_est"
        ),
    )


@query(
    "streaming_sketch_hdr_quantiles",
    # batch parity: cell-wise addition is associative, so the streamed
    # histogram equals the one-shot batch histogram exactly; the oracle
    # rebuilds it from the raw log and reads the same p50/p95/p99 bucket
    # bounds off the cumulative — bit arithmetic, no transcendental.
    oracle="""
    WITH cents AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
      FROM events
    ), hist AS (
      SELECT event_type, length(bin(c)) AS bucket, count(*) AS n
      FROM cents GROUP BY 1, 2
    ), cum AS (
      SELECT event_type, bucket, n,
             sum(n) OVER (PARTITION BY event_type ORDER BY bucket) AS cum_n,
             sum(n) OVER (PARTITION BY event_type) AS total
      FROM hist
    ), pcts AS (
      SELECT unnest([0.5, 0.95, 0.99]) AS p
    ), hit AS (
      SELECT c.event_type, p.p, min(c.bucket) AS bucket
      FROM pcts p JOIN cum c ON c.cum_n >= p.p * c.total
      GROUP BY c.event_type, p.p
    )
    SELECT h.event_type, h.p,
           CAST(h.bucket AS INT) AS bucket,
           round((1::BIGINT << (h.bucket - 1)) / 100.0, 2) + 0.0 AS lo_value,
           round(((1::BIGINT << h.bucket) - 1) / 100.0, 2) + 0.0 AS hi_value,
           CAST(c.total AS BIGINT) AS total
    FROM hit h JOIN cum c ON h.event_type = c.event_type
                         AND h.bucket = c.bucket
    """,
    category="streaming",
)
def streaming_sketch_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type HDR LOG-HISTOGRAM maintained AS STREAM STATE —
    sketch #7 in the family, and the one that answers QUANTILE questions
    (p50/p95/p99 value bands) without ever sorting: each micro-batch's
    log2-bucket partial ADDS into ~27 integer cells per type
    (streaming/ingest.py hdr_merge_stream), addition is associative so
    the streamed state equals the one-shot batch histogram exactly
    (batch-parity oracle), and the percentile readout is a cumulative
    over the tiny state frame — the streaming twin of
    `agg_hdr_log_histogram_percentiles`.

    Scale shape (100 TB): state is |types|·~27 cells forever; per-batch
    work is one map-side-combined bucket count; readout never touches
    the raw log."""
    schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream, state = _events_stream(spark, sf_dir, "stream_hdr", schema)
    ingest.hdr_merge_stream(stream, state, "value", ["event_type"])
    from pyspark.sql import Window

    hist = ingest.read_state(spark, state)
    wc = Window.partitionBy("event_type").orderBy("bucket")
    wt = Window.partitionBy("event_type")
    cum = hist.select(
        "event_type", "bucket", "n",
        F.sum("n").over(wc).alias("cum_n"),
        F.sum("n").over(wt).alias("total"),
    )
    pcts = spark.createDataFrame([(0.5,), (0.95,), (0.99,)], "p double")
    hit = (
        cum.crossJoin(F.broadcast(pcts))
        .filter(F.col("cum_n") >= F.col("p") * F.col("total"))
        .groupBy("event_type", "p")
        .agg(F.min("bucket").alias("bucket"))
    )
    return hit.join(cum.select("event_type", "bucket", "total").distinct(),
                    ["event_type", "bucket"]).select(
        "event_type",
        "p",
        F.col("bucket").cast("int").alias("bucket"),
        (
            F.round(F.expr("shiftleft(1L, bucket - 1)") / 100.0, 2) + F.lit(0.0)
        ).alias("lo_value"),
        (
            F.round((F.expr("shiftleft(1L, bucket)") - 1) / 100.0, 2)
            + F.lit(0.0)
        ).alias("hi_value"),
        F.col("total").cast("long").alias("total"),
    )


@query(
    "streaming_embedding_cell_assign",
    # Batch parity: fixed-point component sums and counts are exact
    # BIGINTs, so cell-wise addition is associative and the streamed
    # state equals the one-shot batch assignment exactly. The oracle
    # replays centroids (rounded label means), nearest-cell assignment
    # (same fold cosine, same (cos desc, label asc) tie-break), the same
    # floor(val*1e6 + 0.5) scaling, and pos-ordered drift folds.
    oracle="""
    WITH parts AS (
      SELECT label, i, CAST(embedding[i] AS DOUBLE) AS val
      FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) s
    ), comp AS (
      SELECT label, i, round(avg(val), 4) + 0.0 AS val FROM parts GROUP BY label, i
    ), cents AS (
      SELECT label, list(val ORDER BY i) AS centroid FROM comp GROUP BY label
    ), scored AS (
      SELECT e.vec_id, e.embedding, c.label,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(1, 65),
                 i -> CAST(e.embedding[i] AS DOUBLE) * c.centroid[i])),
               (acc, x) -> acc + x)
             / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                  list_transform(range(1, 65),
                    i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
                  (acc, x) -> acc + x))
                * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list_transform(range(1, 65), i -> c.centroid[i] * c.centroid[i])),
                    (acc, x) -> acc + x))) AS ccos
      FROM embeddings e CROSS JOIN cents c
    ), assigned AS (
      SELECT vec_id, embedding, label AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
          ORDER BY ccos DESC, label ASC) AS pr
        FROM scored
      ) WHERE pr = 1
    ), grid AS (
      SELECT cell, i AS pos,
             sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS ssum,
             count(*) AS n
      FROM assigned CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) s
      GROUP BY cell, i
    ), drift AS (
      SELECT g.cell,
             max(g.n) AS n_assigned,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(c.val * (CAST(g.ssum AS DOUBLE) / 1e6 / g.n) ORDER BY g.pos)),
               (a, x) -> a + x) AS dot,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(c.val * c.val ORDER BY g.pos)), (a, x) -> a + x) AS cc,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list((CAST(g.ssum AS DOUBLE) / 1e6 / g.n)
                    * (CAST(g.ssum AS DOUBLE) / 1e6 / g.n) ORDER BY g.pos)),
               (a, x) -> a + x) AS mm
      FROM grid g JOIN comp c ON g.cell = c.label AND g.pos = c.i
      GROUP BY g.cell
    )
    SELECT CAST(cell AS INT) AS cell, CAST(n_assigned AS BIGINT) AS n_assigned,
           round(dot / (sqrt(cc) * sqrt(mm)), 6) + 0.0 AS drift_cos
    FROM drift
    """,
    category="streaming",
)
def streaming_embedding_cell_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-INDEX MAINTENANCE AS A STREAM (the embedding twin of the
    sketch family): vectors arrive in micro-batches, each batch assigns
    to the nearest cell of the STATIC persisted coarse quantizer and
    ADDS into the mergeable cell state — exact-integer fixed-point
    component sums + counts, |cells|·dim rows forever
    (streaming/ingest.py ivf_assign_stream). The readout is the
    index-health monitor: per-cell occupancy and DRIFT — cosine between
    the static centroid and the running mean of what actually landed in
    the cell — the signal that tells an embedding ingest pipeline when
    the quantizer needs retraining.

    Scale shape (100 TB): per-batch work is one broadcast centroid
    scoring + one map-side-combined (cell, pos) aggregate; state never
    grows; the readout never touches raw vectors. Companions:
    `streaming_sketch_hll_distinct` (the same state discipline on
    counts), `similarity_topk_ivf` (the batch search this index
    serves)."""
    from etl_aws_spark.similarity import knn

    root = _cache_dir(sf_dir, "stream_ivf")
    landing = os.path.join(root, "landing")
    state = os.path.join(root, "state")
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"), "label"
    )
    if not fsutil.exists(spark, os.path.join(landing, "_SUCCESS")):
        fsutil.rmtree(spark, root)
        emb.select("vec_id", "embedding").repartition(8).write.mode(
            "overwrite"
        ).parquet(landing)
    fsutil.rmtree(spark, state)
    cents = knn.label_centroids(emb, "label", "embedding", 64).localCheckpoint(
        eager=True
    )
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 3)
        .parquet(landing)
    )
    ingest.ivf_assign_stream(stream, state, cents, "vec_id", "embedding", 64)

    grid = ingest.read_state(spark, state)
    # both sides are 0-based posexplode positions; the oracle's 1-based
    # generate_series indices only need to agree WITHIN the oracle
    comp = knn.label_centroid_components(emb, "label", "embedding").select(
        F.col("label").alias("cell"),
        "pos",
        F.col("val").alias("cval"),
    )
    mean = grid.select(
        "cell",
        "pos",
        (F.col("ssum").cast("double") / 1e6 / F.col("n")).alias("mval"),
        "n",
    )
    fold = (
        "aggregate(transform(array_sort(collect_list(struct(pos, {t} as tv))), "
        "x -> x.tv), cast(0.0 as double), (a, y) -> a + y)"
    )
    j = mean.join(comp, ["cell", "pos"])
    out = j.groupBy("cell").agg(
        F.max("n").cast("long").alias("n_assigned"),
        F.expr(fold.format(t="cval * mval")).alias("_dot"),
        F.expr(fold.format(t="cval * cval")).alias("_cc"),
        F.expr(fold.format(t="mval * mval")).alias("_mm"),
    )
    return out.select(
        F.col("cell").cast("int").alias("cell"),
        "n_assigned",
        (
            F.round(
                F.col("_dot") / (F.sqrt("_cc") * F.sqrt("_mm")), 6
            )
            + F.lit(0.0)
        ).alias("drift_cos"),
    )


@query(
    "streaming_cdc_tombstone_state",
    # batch parity: 'latest by (ts, eid)' is associative, so the streamed
    # compaction equals the one-shot latest-row pick over the identical
    # ops log (events + the same md5-derived deletion queue the batch
    # gdpr job consumes, each delete stamped at that user's max(ts) - 3d)
    oracle="""
    WITH delq AS (
      SELECT user_id FROM (SELECT DISTINCT user_id FROM events) u
      ORDER BY md5('gdpr:' || CAST(user_id AS VARCHAR)), user_id LIMIT 5
    ), del AS (
      SELECT e.user_id, max(e.ts) - INTERVAL 3 DAY AS dts
      FROM events e JOIN delq USING (user_id) GROUP BY e.user_id
    ), ops AS (
      SELECT user_id, ts, CAST(event_id AS BIGINT) AS eid, 'u' AS op,
             CAST(value AS DOUBLE) AS value
      FROM events
      UNION ALL
      SELECT user_id, dts AS ts, CAST(-1 AS BIGINT) AS eid, 'd' AS op,
             CAST(NULL AS DOUBLE) AS value
      FROM del
    ), latest AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY user_id ORDER BY ts DESC, eid DESC) AS rn
        FROM ops
      ) WHERE rn = 1
    )
    SELECT user_id,
           CAST(op = 'u' AS INT) AS alive,
           CAST(day(ts) AS BIGINT) AS last_day,
           round(value, 4) + 0.0 AS last_value
    FROM latest
    """,
    category="streaming",
)
def streaming_cdc_tombstone_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC COMPACTION WITH DELETE TOMBSTONES as stream state — the
    Kafka-compacted-topic / CDC-apply semantics that complete the keyed
    upsert family: the ops log carries updates AND delete records (the
    SAME md5-derived deletion queue `maintain_gdpr_delete` consumes for
    its nightly rewrite — this is the in-flight layer between rewrites),
    state keeps the LATEST op per key INCLUDING tombstones (a tombstone
    must persist to defeat late-arriving older updates), and the readout
    excludes dead keys. Each delete is stamped at its user's
    max(ts) − 3 days, so users active in their last 3 days are
    legitimately RESURRECTED by later updates — the subtle CDC ordering
    case a naive "drop deleted keys" merge gets wrong.

    Scale shape (100 TB): per-batch work collapses the batch to
    |batch keys| rows before touching state; state is |keys| rows
    forever (streaming/ingest.py upsert_latest_state — versioned-dir
    commits, replay-guarded). Companions: `streaming_upsert_latest`
    (the delete-free base), `merge_scd2_history` (when history must be
    KEPT instead)."""
    root = _cache_dir(sf_dir, "stream_cdc_tomb")
    landing = os.path.join(root, "landing")
    state = os.path.join(root, "state")
    ev = load(spark, sf_dir, "events")
    if not fsutil.exists(spark, os.path.join(landing, "_SUCCESS")):
        fsutil.rmtree(spark, root)
        delq = (
            ev.select("user_id")
            .distinct()
            .orderBy(
                F.md5(F.concat(F.lit("gdpr:"), F.col("user_id").cast("string"))),
                "user_id",
            )
            .limit(5)
        )
        dels = (
            ev.join(F.broadcast(delq), "user_id")
            .groupBy("user_id")
            .agg((F.max("ts") - F.expr("INTERVAL 3 DAYS")).alias("ts"))
            .select(
                "user_id",
                "ts",
                F.lit(-1).cast("long").alias("eid"),
                F.lit("d").alias("op"),
                F.lit(None).cast("double").alias("value"),
            )
        )
        ops = ev.select(
            "user_id",
            "ts",
            F.col("event_id").cast("long").alias("eid"),
            F.lit("u").alias("op"),
            F.col("value").cast("double").alias("value"),
        ).unionByName(dels)
        ops.repartition(8).write.mode("overwrite").parquet(landing)
    fsutil.rmtree(spark, state)
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("eid", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 3)
        .parquet(landing)
    )
    ingest.upsert_latest_state(
        stream, state, keys=["user_id"], order_cols=["ts", "eid"]
    )
    st = ingest.read_state(spark, state)
    return st.select(
        "user_id",
        (F.col("op") == "u").cast("int").alias("alive"),
        F.dayofmonth("ts").cast("long").alias("last_day"),
        (F.round("value", 4) + F.lit(0.0)).alias("last_value"),
    )


@query(
    "streaming_pit_features_state",
    # batch-parity oracle: the identical PIT window replay as
    # join_point_in_time_features — the stream's carried state must land
    # every label row on the same feature values.
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, ts, event_type, value,
             epoch_us(ts) AS us,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_click
      FROM events
    ), f AS (
      SELECT event_id, user_id, ts, event_type, value,
             sum(is_click) OVER (PARTITION BY user_id ORDER BY us
                 RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING)
               AS clicks_7d,
             last_value(CASE WHEN event_type = 'view' THEN value END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_view_value,
             count(*) OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS n_events_before
      FROM e
    )
    SELECT event_id, user_id AS key, ts AS label_ts, value AS label,
           CAST(coalesce(clicks_7d, 0) AS BIGINT) AS clicks_7d,
           last_view_value,
           CAST(n_events_before AS BIGINT) AS n_events_before
    FROM f WHERE event_type = 'purchase'
    """,
    category="streaming",
)
def streaming_pit_features_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE feature store: point-in-time feature assembly as STREAMING
    STATE (streaming/stateful.py pit_features_stateful) — purchases are
    emitted as training rows the moment they arrive, carrying features
    from the key's history strictly before them (trailing-7d clicks, last
    view value, lifetime count). State per key is the pruned trailing
    click-µs window + 2 scalars — O(7-day activity), never O(history).
    The batch twin `join_point_in_time_features` computes the same frame
    offline; the oracle replays that batch window plan, so the check IS
    online/offline feature parity — the consistency property feature
    stores exist to guarantee (and the reference's recompute-everything
    Glue runs silently violate between daily refreshes).

    The landing set is one file so the single AvailableNow batch walks
    each key in event order; multi-batch state carry is pinned separately
    in tests/test_streaming_stateful.py (any time-ordered split lands on
    identical rows because the pruned click window and carried scalars
    are exactly the information the trailing frames need)."""
    from etl_aws_spark.streaming import stateful

    root = _cache_dir(sf_dir, "stream_pit")
    landing = os.path.join(root, "landing")
    if not fsutil.exists(spark, os.path.join(landing, "_SUCCESS")):
        fsutil.rmtree(spark, root)
        ev = load(spark, sf_dir, "events").select(
            "event_id", "user_id", "ts", "event_type", "value"
        )
        ev.repartition(1).write.mode("overwrite").parquet(landing)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = spark.readStream.schema(schema).parquet(landing)
    out = stateful.pit_features_stateful(stream)
    name = "pit_features_" + os.path.basename(os.path.dirname(root))
    ingest.run_available_now(
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
    )
    return spark.table(name).select(
        "event_id", "key", "label_ts", "label",
        "clicks_7d", "last_view_value", "n_events_before",
    )


@query(
    "streaming_knn_index_maintenance",
    # identical oracle to similarity_knn_join_incremental's batch replay:
    # the append-only merge algebra is ORDER-INDEPENDENT across delta
    # tranches, so however the file source slices the stream the final
    # state must value-hash-equal the one-shot batch answer over the full
    # epoch pool (budgeted old rows + every delta row).
    oracle="""
    WITH e AS MATERIALIZED (
      SELECT vec_id AS id, label, embedding FROM embeddings
    ), oldp AS MATERIALIZED (
      SELECT id, label, embedding FROM (
        SELECT id, label, embedding,
               row_number() OVER (PARTITION BY label
                 ORDER BY md5('knnjoin:' || CAST(id AS VARCHAR)), id) AS hrn
        FROM e WHERE id % 40 <> 7
      ) WHERE hrn <= 200
    ), pool AS MATERIALIZED (
      SELECT id, label, embedding FROM oldp
      UNION ALL
      SELECT id, label, embedding FROM e WHERE id % 40 = 7
    ), p AS MATERIALIZED (
      SELECT a.id AS aid, b.id AS bid,
             (list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(1, 65),
               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
               (acc, x) -> acc + x))
             / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(range(1, 65),
                 i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))),
                 (acc, x) -> acc + x))
                * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(range(1, 65),
                 i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
                 (acc, x) -> acc + x))) AS cos
      FROM e a JOIN pool b ON a.label = b.label AND a.id <> b.id
    ), r AS (
      SELECT aid, bid, cos,
             CAST(row_number() OVER (PARTITION BY aid
               ORDER BY cos DESC, bid ASC) AS INTEGER) AS rank
      FROM p
    )
    SELECT CAST(aid AS BIGINT) AS vec_id, CAST(bid AS BIGINT) AS neighbor_id,
           round(cos, 6) + 0.0 AS cos, rank
    FROM r WHERE rank <= 5
    """,
    category="streaming",
)
def streaming_knn_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-INDEX MAINTENANCE AS A STREAM — the streaming twin of
    `similarity_knn_join_incremental`: delta embeddings land as files and
    every micro-batch folds into the persisted top-5 artifact with the
    SAME append-only epoch-pool algebra (old rows score only the batch's
    delta candidates; batch rows probe the pool-so-far plus themselves;
    the pool appends). State is two versioned parquet trees (edges; the
    corpus with an `in_pool` membership flag — r12 consolidated pool/seen,
    one fewer read+write+commit point per batch) advanced atomically —
    v{n} is only read after v{n+1} is fully written, the
    `write_versioned` discipline.

    The algebra is order-independent across tranches (top-k over an
    append-only union), so the final state equals the one-shot batch
    answer however the file source slices the stream — and the oracle IS
    that batch answer, making the driver's value-hash gate a proof of
    the streaming fold. At 100 TB each batch costs O(N·|delta-in-cell|),
    the same amortization as the PQ/IVF persisted indexes.

    Like the PQ index beside it, the old-epoch v0 is built once, on the
    first call; every later call rolls the state back to that committed
    v0 and wipes only the stream checkpoint, so a warm call pays just
    the two folds (6 jobs each) and the final read."""
    _DIM, _K, _BUDGET = 64, 5, 200
    root = _cache_dir(sf_dir, "stream_knn_maint")
    landing = os.path.join(root, "landing")
    state = os.path.join(root, "state")
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    is_delta = F.pmod(F.col("vec_id"), F.lit(40)) == 7
    old, delta = emb.filter(~is_delta), emb.filter(is_delta)

    # guard on a MANUAL sentinel, not Spark's own _SUCCESS: the tranche
    # data is written by TWO append jobs and the first already emits
    # _SUCCESS, so a crash between the appends would leave a "complete-
    # looking" landing dir with half the delta (ADVICE r11). The manual
    # marker only exists once both appends finished — the
    # maintain_snapshot_time_travel discipline.
    if not fsutil.exists(spark, os.path.join(landing, "_LANDING_COMPLETE")):
        fsutil.rmtree(spark, landing)
        # two tranche files so the merge runs across >1 micro-batch
        delta.filter(F.pmod(F.col("vec_id"), F.lit(80)) == 7).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
        delta.filter(F.pmod(F.col("vec_id"), F.lit(80)) == 47).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
        fsutil.touch(spark, os.path.join(landing, "_LANDING_COMPLETE"))
    # the lifecycle itself lives in streaming/maintenance.py so the
    # crash/restart parity test (tests/test_streaming_stateful.py)
    # exercises the EXACT production fold, not a copy
    from etl_aws_spark.streaming import maintenance as mt

    # state AND checkpoint reset together: a surviving checkpoint would
    # mark the landing files already-processed against a reset state tree
    # (the maintain_gdpr_delete desync lesson, SWEEPS r10-final). The
    # state resets by rolling back to its committed v0 (built only on
    # the first call); the checkpoint is wiped.
    mt.reset_state(spark, old, state, _DIM, k=_K, budget=_BUDGET)
    ckpt = os.path.join(root, "ckpt")
    fsutil.rmtree(spark, ckpt)
    mt.run_maintenance_pass(
        spark, emb, landing, state, ckpt, _DIM, k=_K, budget=_BUDGET
    )
    return mt.read_final_topk(spark, state, k=_K)
