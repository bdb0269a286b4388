"""SURVEY §2.1 scan/sink queries.

The fixture tables are single parquet files, so partitioned-layout scans
and every sink are demonstrated round-trip: write the layout under a
deterministic /tmp cache, read it back through the engine's scan path, and
let the oracle check the result against the original table. The write
happens at most once per (sf_dir, layout) and contains no
time/random-dependent values, so reruns are hash-stable.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_aws_spark.registry import load, query
from etl_aws_spark.sources import readers, writers

from etl_aws_spark.suite._util import cache_dir as _cache_dir


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _events_dated_cols() -> dict:
    # built lazily: Column construction needs an active SparkSession, and the
    # driver may import this module before creating one
    return {
        "ano": F.year("ts").cast("bigint"),
        "mes": F.month("ts").cast("bigint"),
        "dia": F.dayofmonth("ts").cast("bigint"),
    }


@query(
    "scan_parquet_partitioned",
    oracle="""
    SELECT event_id, user_id, event_type, value,
           year(ts) AS ano, month(ts) AS mes, day(ts) AS dia
    FROM events
    WHERE make_date(year(ts), month(ts), day(ts))
          BETWEEN DATE '2024-01-10' AND DATE '2024-01-20'
    """,
    category="scan",
)
def scan_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned tree scan with partition-pruned date range
    (`glue.py:78-83`, with the cross-year range bug fixed — the filter is
    BETWEEN on make_date(ano,mes,dia), not independent column ranges)."""
    root = _cache_dir(sf_dir, "events_by_day")
    if not _done(root):
        ev = load(spark, sf_dir, "events").withColumns(_events_dated_cols())
        writers.write_parquet_partitioned(ev, root, ["ano", "mes", "dia"])
    df = readers.read_parquet_partitioned(spark, root)
    pruned = df.filter(
        F.make_date("ano", "mes", "dia").between(F.lit("2024-01-10"), F.lit("2024-01-20"))
    )
    return pruned.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.col("ano").cast("bigint").alias("ano"),
        F.col("mes").cast("bigint").alias("mes"),
        F.col("dia").cast("bigint").alias("dia"),
    )


@query(
    "scan_csv_delim_header",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    category="scan",
)
def scan_csv_delim_header(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`;`-delimited CSV with header and an EXPLICIT schema (`glue.py:100`
    relies on inferSchema; the engine passes the schema — one pass, stable
    types)."""
    path = _cache_dir(sf_dir, "nation_csv")
    if not _done(path):
        writers.write_csv(load(spark, sf_dir, "nation"), path, sep=";")
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    return readers.read_csv(spark, path, schema=schema, sep=";")


@query(
    "scan_parquet_single",
    oracle="SELECT * FROM lineitem",
    category="scan",
)
def scan_parquet_single(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single parquet object scan (`lambda_function.py:73-74` read side)."""
    return readers.read_parquet(spark, os.path.join(sf_dir, "lineitem.parquet"))


@query(
    "sink_parquet_partitioned",
    oracle="SELECT * FROM lineitem",
    category="sink",
)
def sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned overwrite sink (`glue.py:237`) with dynamic partition
    overwrite + sort-within-partitions, verified by reading the layout back:
    the round trip must be lossless."""
    root = _cache_dir(sf_dir, "lineitem_by_flag")
    if not _done(root):
        writers.write_parquet_partitioned(
            load(spark, sf_dir, "lineitem"), root, ["l_returnflag"], sort_within_by=["l_orderkey"]
        )
    df = readers.read_parquet_partitioned(spark, root)
    # partition column comes back at the end; restore source order for clarity
    return df.select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                     "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")


@query(
    "sink_parquet_daily_partition",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value,
           year(ts) AS ano, month(ts) AS mes, day(ts) AS dia
    FROM events
    """,
    category="sink",
)
def sink_parquet_daily_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-partition landing sink `ano=Y/mes=M/dia=D` (`s3.py:72-95`),
    partition values derived from the event date, read back losslessly."""
    root = _cache_dir(sf_dir, "events_daily_sink")
    if not _done(root):
        writers.write_daily_partition(load(spark, sf_dir, "events"), root, "ts")
    df = readers.read_parquet_partitioned(spark, root)
    return df.select(
        "event_id", "ts", "user_id", "event_type", "value",
        F.col("ano").cast("bigint").alias("ano"),
        F.col("mes").cast("bigint").alias("mes"),
        F.col("dia").cast("bigint").alias("dia"),
    )


@query(
    "sink_csv",
    oracle="""
    SELECT event_type, count(*) AS n FROM events GROUP BY event_type
    """,
    category="sink",
)
def sink_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink round trip (`load_data.py:8-11`, `eda.ipynb` cell 49)."""
    path = _cache_dir(sf_dir, "event_counts_csv")
    if not _done(path):
        agg = load(spark, sf_dir, "events").groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
        writers.write_csv(agg, path, sep=";")
    schema = T.StructType(
        [T.StructField("event_type", T.StringType()), T.StructField("n", T.LongType())]
    )
    return readers.read_csv(spark, path, schema=schema, sep=";")


@query(
    "scan_jsonl_schema",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           round(sum(value), 4) + 0.0 AS sum_value,
           min(ts) AS first_ts, max(ts) AS last_ts
    FROM events GROUP BY event_type
    """,
    category="source",
)
def scan_jsonl_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines round trip with an EXPLICIT read schema — the third
    source format beside parquet and CSV (the REST source lands JSON; this
    is its file form). Timestamps serialize as ISO-8601 microsecond
    strings and parse back losslessly; the declared schema means no
    inference pass over the data (at scale, schema inference is a full
    extra scan). The oracle aggregates the original parquet table — the
    round trip must be exact for every value to hash-match."""
    import shutil

    path = _cache_dir(sf_dir, "jsonl")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        shutil.rmtree(path, ignore_errors=True)
        ev = load(spark, sf_dir, "events").select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").alias("ts_iso"),
            "user_id", "event_type", "value",
        )
        ev.write.mode("overwrite").json(path)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts_iso", T.StringType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    back = spark.read.schema(schema).json(path).withColumn(
        "ts", F.to_timestamp("ts_iso", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.round(F.sum("value"), 4) + F.lit(0.0)).alias("sum_value"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


@query(
    "scan_parquet_schema_merge",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(NULL AS VARCHAR) AS o_orderpriority
    FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
    FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
    """,
    category="scan",
)
def scan_parquet_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution scan: two write epochs of the same table — the
    older one predates the ``o_orderpriority`` column — read back as one
    frame with ``mergeSchema``. The scan reconciles per-file schemas into
    the union; pre-evolution rows surface NULL for the added column. The
    oracle replays the same evolution as a typed UNION ALL."""
    root = _cache_dir(sf_dir, "orders_schema_epochs")
    if not _done(root):
        o = load(spark, sf_dir, "orders")
        old = o.filter(F.col("o_orderdate") < "1998-01-01").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        new = o.filter(F.col("o_orderdate") >= "1998-01-01").select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
        )
        old.write.mode("overwrite").parquet(os.path.join(root, "epoch=1"))
        new.write.mode("overwrite").parquet(os.path.join(root, "epoch=2"))
        # root-level marker so reruns skip the rewrite
        with open(os.path.join(root, "_SUCCESS"), "w") as fh:
            fh.write("")
    df = readers.read_parquet_schema_merged(spark, root)
    return df.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")


@query(
    "sink_bucketed_join_noshuffle",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) + 0.0 AS revenue
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
    category="sink",
)
def sink_bucketed_join_noshuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-layout round trip: orders and lineitem are persisted as
    8-bucket tables on their join keys (`sources/bucketed.py`), read back,
    and joined WITHOUT an Exchange — the fact-table shuffle that dominates
    a 100 TB join is paid ONCE at write time and amortized over every later
    join/aggregate on the same key (the plan shape is pinned by
    tests/test_bucketed.py). The merge hint forces the sort-merge path so
    the zero-shuffle property is exercised even at toy scale where Spark
    would otherwise broadcast. The oracle is the plain join — layout must
    never change results."""
    # tag by sf_dir AND application id: a concurrent process (parallel
    # pytest + check.py) sharing the warehouse dir must never drop or
    # overwrite a table this session is lazily reading
    tag = hashlib.sha1(
        f"{sf_dir}:{spark.sparkContext.applicationId}".encode()
    ).hexdigest()[:10]
    t_orders, t_items = f"bkt_orders_{tag}", f"bkt_lineitem_{tag}"
    from etl_aws_spark.sources import bucketed

    if not spark.catalog.tableExists(t_orders):
        bucketed.write_bucketed(
            load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"),
            t_orders, "o_orderkey", 8, sort_col="o_orderkey", owned=True,
        )
    if not spark.catalog.tableExists(t_items):
        bucketed.write_bucketed(
            load(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_extendedprice", "l_discount"
            ),
            t_items, "l_orderkey", 8, sort_col="l_orderkey", owned=True,
        )
    joined = spark.table(t_orders).hint("merge").join(
        spark.table(t_items),
        F.col("o_orderkey") == F.col("l_orderkey"),
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        (
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            + F.lit(0.0)
        ).alias("revenue"),
    )


def _zorder_oracle() -> str:
    from etl_aws_spark.operators import layout

    xn = "((x - x_lo) * 256 // (x_hi - x_lo + 1))"
    yn = "((y - y_lo) * 256 // (y_hi - y_lo + 1))"
    z = layout.zvalue_sql(xn, yn, 8, layout.DUCK)
    return f"""
    WITH raw AS (
      SELECT CAST(l_partkey AS BIGINT) AS x, CAST(l_suppkey AS BIGINT) AS y
      FROM lineitem
    ), bb AS (
      SELECT min(x) AS x_lo, max(x) AS x_hi, min(y) AS y_lo, max(y) AS y_hi
      FROM raw
    ), b AS (
      SELECT ({z} >> 12) AS bucket, x, y FROM raw CROSS JOIN bb
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(x) AS min_x, max(x) AS max_x,
           min(y) AS min_y, max(y) AS max_y,
           (min(x) <= 511 AND max(x) >= 256 AND min(y) <= 31 AND max(y) >= 16)
             AS overlaps_box
    FROM b GROUP BY bucket
    """


@query("layout_zorder_pruning", oracle=_zorder_oracle(), category="sink")
def layout_zorder_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) multi-dimensional clustering stats — the
    Delta/Iceberg `OPTIMIZE ZORDER BY` primitive: lineitem rows cluster by
    the top 4 bits of the (l_partkey, l_suppkey) bit-interleave (each
    prefix = one file of the layout), and the per-bucket min/max footer
    stats show which files a 2-D box predicate (partkey 256-511, suppkey
    16-31) can skip. A single-column sort leaves the second dimension's
    min/max spanning the full domain in every file; the z-layout keeps
    both tight (tests/test_layout.py quantifies the skip-rate win). Exact
    integer bit arithmetic — the oracle replays it bit-for-bit."""
    from etl_aws_spark.operators import layout

    li = load(spark, sf_dir, "lineitem")
    return layout.zorder_bucket_stats(
        li, "l_partkey", "l_suppkey", q_bits=8, prefix_bits=4, box=(256, 511, 16, 31)
    )


@query(
    "maintain_compact_retention",
    # content parity for the SURVIVING slice + the compaction invariant
    # (exactly one file per retained day)
    oracle="""
    SELECT CAST(day(ts) AS BIGINT) AS dia,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(value), 4) + 0.0 AS sum_value,
           CAST(1 AS BIGINT) AS n_files
    FROM events
    WHERE day(ts) <= 15
    GROUP BY day(ts)
    """,
    category="sink",
)
def maintain_compact_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-maintenance janitor: RETENTION (drop partitions past the
    15-day cutoff) + COMPACTION (rewrite each surviving day's many small
    files into one) over a daily-partitioned landing tree — the
    OPTIMIZE + retention job every lake runs nightly. The fragmented
    landing is written once (8 files per day: the small-files problem
    the reference's per-day Lambda appends would create); the
    maintenance pass reads ONLY retained days (the `dia <= 15` predicate
    prunes partitions at the scan), repartitions per day to one file,
    and rewrites. Verification is content parity per day (count + value
    volume vs the source) plus the compaction invariant — the read-back
    counts DISTINCT input files per partition and must find exactly 1
    (where the fragmented tree has 8). At 100 TB the same job runs per
    partition incrementally; a table format makes the swap atomic."""
    frag = _cache_dir(sf_dir, "events_fragmented")
    compacted = _cache_dir(sf_dir, "events_compacted")
    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value", F.dayofmonth("ts").alias("dia")
    )
    if not _done(frag):
        ev.repartition(8).write.mode("overwrite").partitionBy("dia").parquet(frag)
    if not _done(compacted):
        retained = (
            spark.read.parquet(frag)
            .filter(F.col("dia") <= 15)
            .repartition("dia")
            .sortWithinPartitions("dia", "event_id")
        )
        (
            retained.write.mode("overwrite")
            .partitionBy("dia")
            .option("maxRecordsPerFile", 0)
            .parquet(compacted)
        )
    # input_file_name() is non-deterministic for Catalyst: project it to a
    # column first, then aggregate the materialized value
    back = spark.read.parquet(compacted).withColumn("_f", F.input_file_name())
    return back.groupBy(F.col("dia").cast("long").alias("dia")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (F.round(F.sum("value"), 4) + F.lit(0.0)).alias("sum_value"),
        F.countDistinct("_f").cast("long").alias("n_files"),
    )


@query(
    "scan_orc_roundtrip",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4) + 0.0 AS sum_value,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    """,
    category="scan",
)
def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink round trip — the second columnar format beside
    parquet (bundled with Spark; the Hive-ecosystem default). Events are
    written once as ORC with the same predicate-pushdown/column-pruning
    contract as the parquet scans (ORC readers serve min/max stripe
    stats the same way), then the read-back aggregate must reproduce
    the source numbers exactly — format fidelity for timestamps and
    doubles included, which is precisely what a format swap usually
    breaks."""
    root = _cache_dir(sf_dir, "events_orc")
    if not _done(root):
        load(spark, sf_dir, "events").write.mode("overwrite").orc(root)
    ev = spark.read.orc(root)
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.round(F.sum("value"), 4) + F.lit(0.0)).alias("sum_value"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


@query(
    "scan_binary_files",
    # the BMP corpus is closed-form in doc_id (the multimodal fixture
    # generator), so size and count replay analytically: header 54 bytes +
    # 4-byte-padded stride x height
    oracle="""
    WITH d AS (
      SELECT doc_id, 4 + doc_id % 13 AS w, 4 + (doc_id * 7) % 11 AS h
      FROM documents WHERE doc_id < 64
    )
    SELECT CAST(count(*) AS BIGINT) AS n_assets,
           CAST(sum(54 + ((w*3 + 3)//4)*4 * h) AS BIGINT) AS total_bytes,
           CAST(min(54 + ((w*3 + 3)//4)*4 * h) AS BIGINT) AS min_bytes,
           CAST(max(54 + ((w*3 + 3)//4)*4 * h) AS BIGINT) AS max_bytes
    FROM d
    """,
    category="scan",
)
def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`binaryFile` source — THE multimodal ingest format: a directory of
    raw media files read as (path, modificationTime, length, content)
    rows. A 64-asset BMP corpus (the deterministic multimodal fixture
    function) is written to disk as individual .bmp files once; the
    binaryFile scan reads them back and the byte accounting must match
    the closed-form size formula — proving content fidelity without
    trusting the writer. At 100 TB this is the entry point that feeds
    `multimodal_feature_extract_*`: Spark parallelizes over files, and
    `pathGlobFilter`/`recursiveFileLookup` prune at listing time."""
    root = _cache_dir(sf_dir, "binary_assets")
    if not _done(root):
        from etl_aws_spark.multimodal.ops import encode_bmp24, fixture_pixels

        os.makedirs(root, exist_ok=True)
        for did in range(64):
            with open(os.path.join(root, f"asset_{did:04d}.bmp"), "wb") as f:
                f.write(encode_bmp24(fixture_pixels(did)))
        with open(os.path.join(root, "_SUCCESS"), "w"):
            pass
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bmp")
        .load(root)
    )
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("n_assets"),
        F.sum("length").cast("long").alias("total_bytes"),
        F.min("length").cast("long").alias("min_bytes"),
        F.max("length").cast("long").alias("max_bytes"),
    )


@query(
    "scan_csv_corrupt_permissive",
    # every 41st data line is replaced by a malformed row; the oracle
    # counts both populations analytically from the clean source
    oracle="""
    SELECT CAST(count(*) FILTER (WHERE event_id % 41 <> 0) AS BIGINT)
             AS n_parsed,
           CAST(count(*) FILTER (WHERE event_id % 41 = 0) AS BIGINT)
             AS n_corrupt,
           round(sum(value) FILTER (WHERE event_id % 41 <> 0), 4) + 0.0
             AS sum_value_parsed
    FROM events
    """,
    category="scan",
)
def scan_csv_corrupt_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-record tolerant CSV ingest — the messy-feed reality check:
    a landing file where every 41st row is malformed (wrong column count,
    non-numeric junk) is read under PERMISSIVE mode with an explicit
    schema + `columnNameOfCorruptRecord`, so bad lines land in the
    `_corrupt` column instead of killing the job (FAILFAST) or silently
    vanishing (DROPMALFORMED — the dangerous default people reach for).
    The query reports parsed/corrupt counts and the parsed value volume;
    the oracle derives all three from the clean source and the injection
    rule, so the scan must neither drop good rows nor swallow bad ones.
    At 100 TB the `_corrupt` rows route to a quarantine sink for replay."""
    import shutil

    path = _cache_dir(sf_dir, "csv_corrupt")
    if not _done(path):
        shutil.rmtree(path, ignore_errors=True)
        ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
        line = F.when(
            F.col("event_id") % 41 == 0,
            F.concat_ws(",", F.lit("garbage"), F.lit("###")),
        ).otherwise(
            F.concat_ws(
                ",",
                F.col("event_id").cast("string"),
                F.col("user_id").cast("string"),
                F.col("value").cast("decimal(20,10)").cast("string"),
            )
        )
        ev.select(line.alias("value")).write.mode("overwrite").text(path)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
    )
    # PERMISSIVE requires the corrupt column to be materialized before
    # aggregating (Spark refuses corrupt-only filters on a lazy scan)
    df = df.cache()
    return df.agg(
        F.count(F.when(F.col("_corrupt").isNull(), 1)).cast("long").alias("n_parsed"),
        F.count(F.when(F.col("_corrupt").isNotNull(), 1))
        .cast("long")
        .alias("n_corrupt"),
        (
            F.round(F.sum(F.when(F.col("_corrupt").isNull(), F.col("value"))), 4)
            + F.lit(0.0)
        ).alias("sum_value_parsed"),
    )


@query(
    "scan_csv_quoted_multiline",
    # the crafted text embeds commas, double quotes, and newlines derived
    # deterministically from each doc; round-trip digests must survive
    oracle="""
    WITH crafted AS (
      SELECT doc_id,
             concat('say "', substr(text, 1, 20), '", then,', chr(10),
                    substr(text, 21, 20)) AS payload
      FROM documents
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(length(payload)) AS BIGINT) AS total_chars,
           CAST(count(DISTINCT md5(payload)) AS BIGINT) AS n_distinct
    FROM crafted
    """,
    category="scan",
)
def scan_csv_quoted_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV QUOTING torture round trip: every row's payload embeds the
    three things that break naive CSV pipelines — field separators,
    double quotes, and EMBEDDED NEWLINES — written with standard RFC-4180
    quoting (quote doubling) and read back with `multiLine=true`. The
    read-back must preserve every byte: row count, total characters, and
    distinct content digests all hash-check against the crafted source.
    At 100 TB the caveat is real and documented: multiLine CSV is NOT
    splittable (a record can span chunk boundaries), so each file is one
    task — keep quoted-CSV landing files small, or land parquet/JSONL
    instead; this query is the correctness half of that tradeoff."""
    path = _cache_dir(sf_dir, "csv_quoted_multiline")
    crafted_expr = F.concat(
        F.lit('say "'),
        F.substring("text", 1, 20),
        F.lit('", then,\n'),
        F.substring("text", 21, 20),
    )
    if not _done(path):
        docs = load(spark, sf_dir, "documents").select(
            "doc_id", crafted_expr.alias("payload")
        )
        (
            docs.write.mode("overwrite")
            .option("quoteAll", True)
            .option("escape", '"')
            # the WRITER trims whitespace by default — byte fidelity off
            .option("ignoreLeadingWhiteSpace", False)
            .option("ignoreTrailingWhiteSpace", False)
            .csv(path, header=True)
        )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        .csv(path)
    )
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.length("payload")).cast("long").alias("total_chars"),
        F.countDistinct(F.md5("payload")).cast("long").alias("n_distinct"),
    )


@query(
    "sink_nested_sessions_roundtrip",
    # the nested file's content is checked through per-session scalar
    # digests: event counts, value sums, and an order-sensitive md5 chain
    # over the struct array — any field loss, reorder, or type drift in
    # the nested round trip breaks the hash
    oracle="""
    WITH g AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN date_part('epoch', ts)
                       - lag(date_part('epoch', ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > 3600
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS s
      FROM events
    ), sess AS (
      SELECT user_id, event_id, ts, value,
             CAST(sum(s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_id
      FROM g
    )
    SELECT user_id, session_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) + 0.0 AS sum_value,
           md5(string_agg(concat(CAST(event_id AS VARCHAR), '@',
                                 CAST(epoch_us(ts) AS VARCHAR)), '|'
                          ORDER BY ts, event_id)) AS event_chain_digest
    FROM sess GROUP BY user_id, session_id
    """,
    category="sink",
)
def sink_nested_sessions_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NESTED-TYPE parquet round trip: sessionized events pack into one
    row per session with an ``array<struct<event_id, ts, value>>``
    payload (the session-replay export shape every product-analytics
    warehouse ships), write to parquet, read back, and verify through
    per-session scalar digests — including an ORDER-SENSITIVE md5 chain
    over the struct array, so a dropped field, a reordered element, or
    a timestamp precision loss in the nested encoding all break the
    hash. Parquet stores the array as repeated groups with its own
    def/rep levels — this is the fidelity test for that machinery; the
    registry's no-complex-outputs rule is honored by digesting the
    nested column into scalars AFTER the round trip."""
    from etl_aws_spark.operators import temporal_joins as tj
    from etl_aws_spark.operators.temporal_joins import _epoch_micros

    root = _cache_dir(sf_dir, "nested_sessions")
    if not _done(root):
        ev = load(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
        sess = tj.sessionize(
            ev, "user_id", "ts", gap_seconds=3600, order_tail=["event_id"]
        )
        nested = (
            sess.select(
                "user_id",
                "session_id",
                F.struct("ts", "event_id", "value").alias("e"),
            )
            .groupBy("user_id", "session_id")
            .agg(F.array_sort(F.collect_list("e")).alias("events"))
        )
        nested.write.mode("overwrite").parquet(root)
    back = spark.read.parquet(root)
    ex = back.select(
        "user_id", "session_id", F.explode("events").alias("e")
    ).select(
        "user_id",
        "session_id",
        F.col("e.event_id").alias("event_id"),
        F.col("e.ts").alias("ts"),
        F.col("e.value").alias("value"),
    )
    chain = F.md5(
        F.array_join(
            F.expr(
                "transform(array_sort(collect_list(struct(ts, event_id))), "
                "s -> concat(cast(s.event_id as string), '@', "
                "cast(unix_micros(cast(s.ts as timestamp_ltz)) as string)))"
            ),
            "|",
        )
    )
    return ex.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        (F.round(F.sum("value"), 4) + F.lit(0.0)).alias("sum_value"),
        chain.alias("event_chain_digest"),
    )


@query(
    "scan_fixed_width",
    # round trip: customers serialized to a COBOL-style fixed-width layout
    # (key 10 + nationkey 4 + space-padded signed acctbal 12.2 + right-padded segment 12),
    # read back by pure substring/trim/cast expressions. The oracle is the
    # source table — the layout must be lossless for these widths.
    oracle="""
    SELECT c_custkey, c_nationkey,
           round(c_acctbal, 2) + 0.0 AS c_acctbal,
           c_mktsegment
    FROM customer
    """,
    category="scan",
)
def scan_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width (COBOL/mainframe copybook) text ingest — the classic
    enterprise format Spark has no native reader for: records are written
    as zero-padded/right-padded fixed columns and parsed back with pure
    `substring`/`trim`/`cast` expressions over `spark.read.text` — whole
    record = one string column, the parse stays inside codegen, and the
    reader is a 4-line schema map, not a UDF.

    Shape: text-source scan is line-splittable (no quoting ambiguity, the
    advantage fixed-width holds over multiline CSV), so parallelism is
    byte-range splits exactly like CSV; widths are schema metadata. The
    oracle is the source table itself — the layout round trip must be
    lossless."""
    path = _cache_dir(sf_dir, "customer_fixedwidth")
    if not _done(path):
        cust = load(spark, sf_dir, "customer")
        line = F.concat(
            F.lpad(F.col("c_custkey").cast("string"), 10, "0"),
            F.lpad(F.col("c_nationkey").cast("string"), 4, "0"),
            F.lpad(F.format_number(F.col("c_acctbal"), 2), 12, " "),
            F.rpad(F.col("c_mktsegment"), 12, " "),
        )
        cust.select(line.alias("value")).write.mode("overwrite").text(path)
    raw = spark.read.text(path)
    return raw.select(
        F.substring("value", 1, 10).cast("long").alias("c_custkey"),
        F.substring("value", 11, 4).cast("int").alias("c_nationkey"),
        (
            F.round(
                F.regexp_replace(F.trim(F.substring("value", 15, 12)), ",", "").cast(
                    "double"
                ),
                2,
            )
            + F.lit(0.0)
        ).alias("c_acctbal"),
        F.rtrim(F.substring("value", 27, 12)).alias("c_mktsegment"),
    )


@query(
    "maintain_gdpr_delete",
    # content parity: per-day survivor and deleted counts vs the raw
    # table under the identical md5-derived delete set
    oracle="""
    WITH del AS (
      SELECT user_id FROM (SELECT DISTINCT user_id FROM events) u
      ORDER BY md5('gdpr:' || CAST(user_id AS VARCHAR)), user_id LIMIT 5
    )
    SELECT CAST(day(ts) AS BIGINT) AS dia,
           CAST(sum(CASE WHEN user_id IN (SELECT user_id FROM del)
                         THEN 0 ELSE 1 END) AS BIGINT) AS n_after,
           CAST(sum(CASE WHEN user_id IN (SELECT user_id FROM del)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted
    FROM events GROUP BY day(ts)
    """,
    category="sink",
)
def maintain_gdpr_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT-TO-BE-FORGOTTEN delete over a daily-partitioned lake tree —
    the compliance job every data platform runs: purge 5 users (smallest
    salted md5 — the deterministic stand-in for a deletion-request
    queue) by rewriting ONLY the partitions that contain their rows.
    The pass (1) finds affected days with a broadcast semi-join against
    the 5-row delete set, (2) anti-joins the delete set out of exactly
    those days, and (3) swaps them in atomically per-partition via
    DYNAMIC partition overwrite — untouched partitions' files are never
    rewritten (tests/test_layout.py pins byte-identical survivors on a
    sparse fixture; THIS fixture's users span every day, so all
    partitions rewrite here). The read-back per-day survivor/deleted
    counts must match the raw-table oracle exactly.

    Scale shape (100 TB): cost ∝ affected partitions, not table size —
    with a user→partition index (or bucketed layout) the semi-join scan
    prunes too; the O(|days|) driver collect is the canonical partition
    list, not data. Companion: `maintain_compact_retention` (the other
    nightly janitor), `quality_k_anonymity` (what must hold AFTER)."""
    root = _cache_dir(sf_dir, "events_gdpr")
    tree = os.path.join(root, "tree")
    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value", F.dayofmonth("ts").alias("dia")
    )
    # REBUILD + DELETE together every run: partitioned writes under the
    # session's dynamic-overwrite default never leave a root _SUCCESS, so
    # _done() cannot gate partitioned layouts (same always-rebuild posture
    # as maintain_compact_retention). A build-once/delete-once split (the
    # r10 first cut) desynchronizes on the second run — fresh tree, stale
    # "already deleted" marker — and serves undeleted rows.
    ev.repartition(4).write.mode("overwrite").partitionBy("dia").parquet(tree)
    del_users = (
        ev.select("user_id")
        .distinct()
        .orderBy(
            F.md5(F.concat(F.lit("gdpr:"), F.col("user_id").cast("string"))),
            "user_id",
        )
        .limit(5)
        .localCheckpoint(eager=True)
    )
    affected = [
        r.dia
        for r in spark.read.parquet(tree)
        .join(F.broadcast(del_users), "user_id", "leftsemi")
        .select("dia")
        .distinct()
        .collect()
    ]
    if affected:
        # materialize BEFORE the self-overwrite so the write never scans
        # the partitions it is replacing
        cleaned = (
            spark.read.parquet(tree)
            .filter(F.col("dia").isin(affected))
            .join(F.broadcast(del_users), "user_id", "left_anti")
            .localCheckpoint(eager=True)
        )
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            cleaned.write.mode("overwrite").partitionBy("dia").parquet(tree)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    back = spark.read.parquet(tree).groupBy(
        F.col("dia").cast("long").alias("dia")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_after"))
    orig = ev.groupBy(F.col("dia").cast("long").alias("dia")).agg(
        F.count(F.lit(1)).cast("long").alias("n_before")
    )
    return orig.join(back, "dia", "left").select(
        "dia",
        F.coalesce("n_after", F.lit(0)).cast("long").alias("n_after"),
        (F.col("n_before") - F.coalesce("n_after", F.lit(0)))
        .cast("long")
        .alias("n_deleted"),
    )
