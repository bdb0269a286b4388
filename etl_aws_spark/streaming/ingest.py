"""File-source streaming ingest with watermarked dedup and batch merge."""

from __future__ import annotations

import posixpath
import re
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import StructType

from etl_aws_spark import fsutil


# --- atomic, replay-idempotent parquet state commits -----------------------
#
# foreachBatch is at-least-once: a retried micro-batch re-invokes the sink
# with the SAME batch_id, and a crash mid-write must never corrupt the
# committed state. The state sinks below therefore commit through a
# versioned-dir + commit-record + publish protocol, all probed through the
# Hadoop FileSystem API (`fsutil`) so it works where the driver's POSIX
# view is not the data plane (HDFS/S3A — r12 verdict: no symlinks, no
# `os.*` in version resolution):
#
#   <state_path>.versions/v{batch_id}/  — each commit writes a FRESH dir
#   <state_path>.commits/b{batch_id}    — empty, name-encoded commit record
#   <state_path>/                       — the published (readable) copy
#
# Order: write version dir → touch commit record (THE commit point; the
# record's full name appears only at create+close, so it cannot tear) →
# publish by delete-old + rename-version-into-place → GC older records.
# `spark.read.parquet(state_path)` keeps working unchanged for every
# downstream reader. Crash windows: mid-version-write → record absent, the
# replay overwrites the partial dir; between record and publish →
# `_committed_batch_id` sees the still-present version dir and finishes
# the publish (healing is idempotent, and on this availableNow/foreachBatch
# lifecycle no reader races the sink). A replayed batch (batch_id <=
# committed) is skipped instead of double-merged — the batch-split
# invariance that cell-wise CMS addition and 'latest-by' upserts
# advertise, now including under retries. These states are bounded
# aggregates (sketch grids, latest-per-key), so the per-batch full
# rewrite is O(state), deliberately — the delta protocol for
# corpus-growing state lives in `streaming/state.py`.
#
# LIFECYCLE COUPLING (r6 advice, made explicit): the state tree and the
# streaming checkpoint are ONE unit — batch_ids are only monotonic within
# a single checkpoint lineage. Deleting the checkpoint while keeping the
# state resets batch_ids to 0, and the replay guard above would then skip
# every fresh batch as "already committed"; keeping the checkpoint while
# deleting the state silently drops the accumulated grid. Always drop or
# keep <ckpt> and <state_path>(.versions/.commits) together — the suite's
# fixture caches do this by rooting both under the same
# cache_dir(sf_dir, ...) tree, which the content-fingerprinted tag
# abandons atomically.

_COMMIT_RE = re.compile(r"^b(\d+)$")

# How long `run_available_now` waits for a run to finish before it stops
# the query and fails: a fixture-sized catch-up finishes in seconds, so a
# run still going after this is stuck, and its sink holds a partial state.
RUN_TIMEOUT_S = 300


def _committed_batch_id(spark: SparkSession, state_path: str) -> int | None:
    """batch_id of the newest committed state version (None if no state),
    finishing any crash-interrupted publish as a side effect."""
    ids = [
        int(m.group(1))
        for name in fsutil.list_names(spark, state_path + ".commits")
        if (m := _COMMIT_RE.match(name))
    ]
    if not ids:
        return None
    done = max(ids)
    vdir = posixpath.join(state_path + ".versions", "v%012d" % done)
    if fsutil.exists(spark, vdir):
        # committed but not yet published: finish the publish
        fsutil.rmtree(spark, state_path)
        fsutil.rename(spark, vdir, state_path)
    return done


def _commit_state(df: DataFrame, state_path: str, batch_id: int) -> None:
    """Materialize df into a fresh version dir, commit it via the
    name-encoded record, publish it at ``state_path``, GC older records."""
    spark = df.sparkSession
    vdir = posixpath.join(state_path + ".versions", "v%012d" % batch_id)
    df.write.mode("overwrite").parquet(vdir)
    commits = state_path + ".commits"
    fsutil.touch(spark, posixpath.join(commits, "b%d" % batch_id))
    fsutil.rmtree(spark, state_path)
    fsutil.rename(spark, vdir, state_path)
    for name in fsutil.list_names(spark, commits):
        m = _COMMIT_RE.match(name)
        if m and int(m.group(1)) < batch_id:
            fsutil.rmtree(spark, posixpath.join(commits, name))


def reset_state(spark: SparkSession, state_path: str) -> None:
    """Remove a published state, its version store, and its commit
    records (test/rebuild hook)."""
    for p in (state_path, state_path + ".versions", state_path + ".commits"):
        fsutil.rmtree(spark, p)


def read_stream(
    spark: SparkSession, path: str, schema: StructType, fmt: str = "parquet"
) -> DataFrame:
    """Streaming scan of a landing directory. Schema is mandatory —
    streaming readers cannot infer, and the batch engine shouldn't either
    (SURVEY §1.2: the reference declares a schema then never uses it)."""
    return spark.readStream.format(fmt).schema(schema).load(path)


def dedup_with_watermark(
    df: DataFrame, event_time: str, keys: list[str], late: str = "3 days"
) -> DataFrame:
    """Stateful duplicate drop within the lateness horizon: re-delivered
    rows (the Lambda re-run case, `lambda_function.py:42`) are discarded;
    state is bounded by the watermark so it cannot grow unboundedly."""
    return df.withWatermark(event_time, late).dropDuplicates(keys)


def dedup_within_watermark(
    df: DataFrame, event_time: str, keys: list[str], late: str = "3 days"
) -> DataFrame:
    """Duplicate drop where re-deliveries of the SAME key may carry
    slightly different event times (retried fetches re-stamp the quote):
    ``dropDuplicatesWithinWatermark`` keeps one row per key as long as the
    duplicates arrive within the lateness horizon, without requiring the
    event-time column in the key. Use :func:`dedup_with_watermark` when
    (key, event_time) together identify a row exactly."""
    return df.withWatermark(event_time, late).dropDuplicatesWithinWatermark(keys)


def windowed_counts(
    df: DataFrame, event_time: str, key: str, window: str = "1 day", late: str = "3 days"
) -> DataFrame:
    """Tumbling-window per-key aggregate with late-data handling — the
    incremental form of the daily re-aggregation the reference recomputes
    from scratch every run."""
    return (
        df.withWatermark(event_time, late)
        .groupBy(F.window(event_time, window).alias("win"), F.col(key))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"), key, "n", "sum_value"
        )
    )


def session_window_stats(
    df: DataFrame,
    event_time: str,
    key: str,
    gap: str = "1 hour",
    late: str = "30 days",
    value: str = "value",
) -> DataFrame:
    """Per-key SESSION-window aggregate — the streaming twin of the batch
    lag-gap-cumsum sessionization (operators/temporal_joins.py sessionize):
    Spark merges each event's [ts, ts+gap) window into the running session
    while they overlap, with watermark-bounded state.

    Boundary semantics differ by design: ``session_window`` starts a NEW
    session when the gap is >= the duration (windows must strictly
    overlap to merge), while the batch operator's ``gap > threshold`` keeps
    an exactly-threshold gap in-session (pandas convention). Oracles mirror
    each operator's own rule. ``session_end`` is last event time + gap
    (Spark's window end), not the last event time.
    """
    return (
        df.withWatermark(event_time, late)
        .groupBy(F.session_window(event_time, gap).alias("sw"), F.col(key))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value).alias("sum_value"),
        )
        .select(
            key,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def stream_stream_time_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    within: str = "1 hour",
    late: str = "30 days",
) -> DataFrame:
    """STREAM-STREAM inner join within a time bound — the attribution
    pattern (click → purchase inside the window). Both sides carry
    watermarks and the join condition carries the time range, so Spark can
    bound each side's state buffer: a left row is dropped once the right
    watermark passes ``left_ts + within`` — state is O(rows within the
    horizon), not O(stream). On a finite AvailableNow run every match is
    emitted, so the result equals the batch range join (the oracle)."""
    l = left.withWatermark(left_ts, late).alias("l")
    r = right.withWatermark(right_ts, late).alias("r")
    return l.join(
        r,
        F.expr(
            f"l.{key} = r.{key} AND r.{right_ts} >= l.{left_ts} "
            f"AND r.{right_ts} <= l.{left_ts} + interval {within}"
        ),
    )


def run_available_now(writer: DataStreamWriter) -> None:
    """Start ``writer`` with the availableNow trigger and wait for it to
    process everything present at start. A query that fails raises its
    ``StreamingQueryException``; one still running after
    ``RUN_TIMEOUT_S`` is stopped and raises ``TimeoutError`` — its sink
    holds a partial result, which no caller may read as the answer."""
    q = writer.trigger(availableNow=True).start()
    if not q.awaitTermination(RUN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(
            f"availableNow query {q.name or q.id} still running after "
            f"{RUN_TIMEOUT_S} s; stopped"
        )


def _merge_state_stream(
    stream_df: DataFrame,
    state_path: str,
    partial: Callable[[DataFrame], DataFrame],
    merge: Callable[[DataFrame], DataFrame],
    checkpoint: str | None,
) -> None:
    """Run ``stream_df`` to the end, folding it into the bounded parquet
    state at ``state_path``: each micro-batch reduces itself with
    ``partial``; when a state is published, ``merge`` re-reduces the union
    of that partial with it. The result commits through the versioned-dir
    + rename-publish protocol (`_commit_state`), and a replayed batch_id
    is skipped, so ``merge`` need not be idempotent."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        done = _committed_batch_id(spark, state_path)
        if done is not None and batch_id <= done:
            return  # at-least-once replay of an already-merged batch
        g = partial(batch_df)
        if fsutil.exists(spark, posixpath.join(state_path, "_SUCCESS")):
            prev = spark.read.parquet(state_path).select(*g.columns)
            g = merge(g.unionByName(prev))
        _commit_state(g, state_path, batch_id)

    writer = stream_df.writeStream.foreachBatch(sink)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    run_available_now(writer)


def merge_into_refined(
    stream_df: DataFrame,
    refined_path: str,
    partition_cols: list[str],
    transform: Callable[[DataFrame], DataFrame] | None = None,
    checkpoint: str | None = None,
    mode: str = "overwrite",
) -> None:
    """foreachBatch merge: each micro-batch runs the (batch) transform and
    dynamic-partition-overwrites only the partitions it touches — the
    streaming twin of the glue.py write with the clobbering fixed
    (`glue.py:237` static overwrite wipes the whole refined tree).

    ``mode``: 'overwrite' (default) replaces each touched partition with
    the micro-batch's rows — idempotent on foreachBatch replay, correct
    when a partition always arrives as one complete drop (the daily-land
    pattern). 'append' adds files to existing partitions — required when
    LATE rows trickle into already-written partitions (the watermarked
    late-quote-correction path), at the cost of relying on the upstream
    watermark dedup for replay idempotence; a transactional table format
    (Delta/Iceberg MERGE) gives both at once and is the production choice.
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be 'overwrite' or 'append', got {mode!r}")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        out = transform(batch_df) if transform else batch_df
        writer = out.write.mode(mode)
        if mode == "overwrite":
            writer = writer.option("partitionOverwriteMode", "dynamic")
        writer.partitionBy(*partition_cols).parquet(refined_path)

    writer = stream_df.writeStream.foreachBatch(sink)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    run_available_now(writer)


def upsert_latest_state(
    stream_df: DataFrame,
    state_path: str,
    keys: Sequence[str],
    order_cols: Sequence[str],
    checkpoint: str | None = None,
) -> None:
    """foreachBatch keyed upsert: maintain a parquet state table holding the
    LATEST row per key (CDC compaction as a stream).

    Each micro-batch (1) collapses itself to one row per key by the
    ``order_cols`` ordering, (2) unions the existing state, (3) re-collapses
    and atomically replaces the state. The batch-side collapse first means
    the expensive merge window only ever sees |keys| + |batch keys| rows,
    never raw updates. Commits go through the versioned-dir + rename-publish
    protocol (`_commit_state`): the merged frame writes to a FRESH version
    dir (so the lazy read of the old state never races its own overwrite)
    and replayed batch_ids are skipped. Deterministic under ANY batch split:
    'latest by (order_cols)' is associative, so replaying with different
    micro-batch boundaries converges to the same state — the invariant the
    checkpoint-restart test replays. At warehouse scale the same shape
    targets a transactional MERGE (Delta/Iceberg) instead of the
    full-state rewrite; the per-batch plan is identical."""
    from pyspark.sql import Window

    key_list, order_list = list(keys), list(order_cols)

    def latest(df: DataFrame) -> DataFrame:
        w = Window.partitionBy(*key_list).orderBy(
            *[F.desc(c) for c in order_list]
        )
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    _merge_state_stream(stream_df, state_path, latest, latest, checkpoint)


def cms_merge_stream(
    stream_df: DataFrame,
    state_path: str,
    key_col: str,
    depth: int = 4,
    width: int = 32,
    checkpoint: str | None = None,
) -> None:
    """foreachBatch count-min maintenance: each micro-batch aggregates its
    OWN (depth, bucket) partial grid and merges it into the parquet state
    by cell-wise addition — the mergeability that makes a CMS the right
    streaming frequency sketch (state is depth·width longs FOREVER,
    independent of stream length or key cardinality, and addition is
    associative so ANY batch split converges to the batch-built grid —
    the invariant the batch-parity oracle checks — and the rename-publish
    commit with a batch_id replay guard keeps it true under foreachBatch's
    at-least-once retries and mid-write crashes). The ingest side never
    sees per-key state; exact counts exist only in the offline accuracy
    harness (`operators/sketch.py`)."""
    from etl_aws_spark.text import _dialect as D

    def grid_of(df: DataFrame) -> DataFrame:
        pos_exprs = [
            F.expr(
                "(%s) %% %d" % (D.hash60("concat('cms%d:', key)" % j, D.SPARK), width)
            )
            for j in range(depth)
        ]
        pairs = df.select(F.col(key_col).cast("string").alias("key")).select(
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(j).alias("depth"), p.alias("bucket"))
                        for j, p in enumerate(pos_exprs)
                    ]
                )
            ).alias("p")
        ).select("p.depth", "p.bucket")
        return pairs.groupBy("depth", "bucket").agg(
            F.count(F.lit(1)).cast("long").alias("cell_n")
        )

    def add(g: DataFrame) -> DataFrame:
        return g.groupBy("depth", "bucket").agg(
            F.sum("cell_n").cast("long").alias("cell_n")
        )

    _merge_state_stream(stream_df, state_path, grid_of, add, checkpoint)


def hll_merge_stream(
    stream_df: DataFrame,
    state_path: str,
    key_col: str,
    group_cols: list[str],
    p: int = 8,
    checkpoint: str | None = None,
) -> None:
    """foreachBatch HyperLogLog maintenance: each micro-batch builds its
    OWN (group…, j, m_reg) register partial and merges it into the parquet
    state by register-wise MAX — the lossless HLL union. Max-merge is
    associative AND idempotent, so any batch split (and even a replayed
    merge) converges to the batch-built register table — the invariant
    the batch-parity oracle checks; the rename-publish commit with a
    batch_id replay guard covers mid-write crashes. State is at most
    |groups|·2^p rows forever, independent of stream length or key
    cardinality."""
    from etl_aws_spark.operators.sketch import hll_registers

    _merge_state_stream(
        stream_df,
        state_path,
        lambda df: hll_registers(df, key_col, group_cols, p),
        lambda g: g.groupBy(*group_cols, "j").agg(F.max("m_reg").alias("m_reg")),
        checkpoint,
    )


def kmv_merge_stream(
    stream_df: DataFrame,
    state_path: str,
    key_col: str,
    group_cols: list[str],
    k: int = 64,
    checkpoint: str | None = None,
) -> None:
    """foreachBatch KMV (bottom-k) maintenance: each micro-batch builds its
    own k-min-hash partial and merges into the parquet state by KEEPING THE
    k SMALLEST of the union — the bottom-k merge, associative and
    idempotent exactly like HLL's register max (a hash either survives into
    the k smallest or it doesn't; replaying a batch adds only duplicates,
    removed by the distinct). So the streamed sketch EQUALS the batch-built
    sketch regardless of batch boundaries — the batch-parity invariant the
    oracle checks. State is at most |groups|·k rows forever."""
    from pyspark.sql import Window

    from etl_aws_spark.operators.sketch import kmv_sketch

    def bottom_k(g: DataFrame) -> DataFrame:
        w = Window.partitionBy(*group_cols).orderBy("h")
        return (
            g.distinct()
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .drop("_rn")
        )

    _merge_state_stream(
        stream_df,
        state_path,
        lambda df: kmv_sketch(df, key_col, group_cols, k),
        bottom_k,
        checkpoint,
    )


def bloom_merge_stream(
    stream_df: DataFrame,
    state_path: str,
    key_col: str,
    group_cols: list[str],
    m_bits: int = 8192,
    n_hashes: int = 2,
    checkpoint: str | None = None,
) -> None:
    """foreachBatch BLOOM-FILTER maintenance: each micro-batch builds its
    own packed-word partial (the `operators.sketch.bloom_bits` position
    family: md5-derived positions, 32-bit lanes so DuckDB's checked shift
    never sees 1<<63) and merges into the parquet state by BITWISE OR per
    (group, word_idx) — associative and idempotent exactly like HLL's
    register max (a set bit stays set; replaying a batch re-ORs the same
    bits). So the streamed filter EQUALS the batch-built filter
    regardless of batch boundaries — the batch-parity invariant the
    oracle checks, occupancy estimate included. State is at most
    |groups|·m_bits/32 rows forever, and membership probes served from it
    never touch the raw log."""
    from etl_aws_spark.text import _dialect as D

    def or_words(g: DataFrame) -> DataFrame:
        return g.groupBy(*group_cols, "word_idx").agg(F.bit_or("word").alias("word"))

    def words_of(df: DataFrame) -> DataFrame:
        pos_exprs = [
            F.expr(
                "(%s) %% %d"
                % (D.hash60("concat('bloom%d:', key)" % j, D.SPARK), m_bits)
            )
            for j in range(n_hashes)
        ]
        keys = df.select(*group_cols, F.col(key_col).cast("string").alias("key"))
        pos = keys.select(*group_cols, F.explode(F.array(*pos_exprs)).alias("p"))
        return or_words(
            pos.select(
                *group_cols,
                F.expr("p div 32").cast("int").alias("word_idx"),
                F.expr(
                    "shiftleft(cast(1 as bigint), cast(p % 32 as int))"
                ).alias("word"),
            )
        )

    _merge_state_stream(stream_df, state_path, words_of, or_words, checkpoint)


def hdr_merge_stream(
    stream_df: DataFrame,
    state_path: str,
    value_col: str,
    group_cols: list[str],
    checkpoint: str | None = None,
) -> None:
    """foreachBatch HDR-HISTOGRAM maintenance: each micro-batch buckets
    its values into log2 cells of exact integer cents (bucket = bit
    length — no transcendental) and merges into the parquet state by
    cell-wise ADDITION — the mergeable quantile state (~27 integer cells
    per group FOREVER) that replaces a full sort for p50/p99 readouts.
    Addition is associative so any batch split converges to the
    batch-built histogram, and the rename-publish commit's batch_id guard
    keeps the sum exact under at-least-once retries (the
    `cms_merge_stream` discipline)."""

    def hist_of(df: DataFrame) -> DataFrame:
        cents = df.select(
            *group_cols,
            F.floor(F.col(value_col) * 100 + 0.5).cast("long").alias("c"),
        )
        return (
            cents.select(*group_cols, F.length(F.bin("c")).alias("bucket"))
            .groupBy(*group_cols, "bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )

    def add(g: DataFrame) -> DataFrame:
        return g.groupBy(*group_cols, "bucket").agg(F.sum("n").cast("long").alias("n"))

    _merge_state_stream(stream_df, state_path, hist_of, add, checkpoint)


def ivf_assign_stream(
    stream_df: DataFrame,
    state_path: str,
    cents: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    checkpoint: str | None = None,
) -> None:
    """foreachBatch IVF-INDEX MAINTENANCE: embedding vectors arrive as a
    stream, each micro-batch assigns its vectors to the nearest cell of a
    STATIC broadcast coarse quantizer ``cents`` (label, centroid) — tie
    break (cos desc, label asc) — and merges the mergeable cell state:
    per (cell, pos) the exact-integer component sum (values fixed-point
    scaled ``floor(val*1e6 + 0.5)`` BEFORE summing, so the running sums
    are BIGINTs and any batch split converges to the batch-built state —
    float partial sums would be merge-order-dependent) plus the cell
    count. State is |cells|·dim rows FOREVER; per-batch work is one
    broadcast scoring pass + one map-side-combined aggregate.

    This is the streaming twin of the batch IVF build
    (`similarity.knn.label_centroids` + `_ivf_candidates`): the readout —
    cell occupancy and centroid drift — answers "is the persisted coarse
    quantizer still representative of the arriving data", the index-health
    monitor an embedding ingest pipeline runs continuously. Same commit
    discipline as every sketch sink here (versioned dir + rename-publish,
    batch_id replay guard)."""
    from pyspark.sql import Window

    from etl_aws_spark.similarity.knn import _fold_dot

    def grid_of(df: DataFrame) -> DataFrame:
        qc = df.crossJoin(F.broadcast(cents)).select(
            id_col,
            vec_col,
            "label",
            (
                F.expr(_fold_dot(vec_col, "centroid", dim))
                / (
                    F.expr(f"sqrt({_fold_dot(vec_col, vec_col, dim)})")
                    * F.expr(f"sqrt({_fold_dot('centroid', 'centroid', dim)})")
                )
            ).alias("_ccos"),
        )
        w = Window.partitionBy(id_col).orderBy(F.desc("_ccos"), F.asc("label"))
        assigned = (
            qc.withColumn("_pr", F.row_number().over(w))
            .filter(F.col("_pr") == 1)
            .select(
                F.col("label").alias("cell"),
                F.posexplode(vec_col).alias("pos", "val"),
            )
        )
        return assigned.groupBy("cell", "pos").agg(
            F.sum(F.floor(F.col("val") * 1e6 + F.lit(0.5)).cast("long")).alias(
                "ssum"
            ),
            F.count(F.lit(1)).cast("long").alias("n"),
        )

    def add(g: DataFrame) -> DataFrame:
        return g.groupBy("cell", "pos").agg(
            F.sum("ssum").cast("long").alias("ssum"),
            F.sum("n").cast("long").alias("n"),
        )

    _merge_state_stream(stream_df, state_path, grid_of, add, checkpoint)
