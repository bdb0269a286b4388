"""Shared helpers for suite queries (determinism conventions)."""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import Column
from pyspark.sql import functions as F

# re-exported: the suite's queries import the operator-level helper from here
from etl_aws_spark.functions import rnd_nudged  # noqa: F401

_CACHE_ROOT = "/tmp/etl_aws_spark_cache"


def cache_dir(sf_dir: str, layout: str) -> str:
    """Cache path for a derived artifact of ``sf_dir``, keyed on the
    directory name AND a content fingerprint (name/size/mtime of every
    parquet file under it). If the driver regenerates the fixtures
    in-place between rounds, the tag changes and stale artifacts are
    abandoned rather than served (ADVICE r6: the bare-``sf_dir`` tag
    could silently survive a data refresh)."""
    h = hashlib.sha1(sf_dir.encode())
    try:
        for root, _dirs, files in sorted(os.walk(sf_dir)):
            for fname in sorted(files):
                if not fname.endswith(".parquet"):
                    continue
                st = os.stat(os.path.join(root, fname))
                h.update(f"{root}/{fname}:{st.st_size}:{st.st_mtime_ns}".encode())
    except OSError:
        pass
    return os.path.join(_CACHE_ROOT, h.hexdigest()[:16], layout)

# Ordering for the events table: ts is unique per user in the fixtures, but
# event_id is appended as an unconditional tie-break so every windowed result
# is hash-deterministic even if that ever changes.
EVENTS_ORDER = ("ts", "event_id")
EVENTS_ORDER_SQL = "ts, event_id"


def rnd(c: Column, n: int = 4) -> Column:
    """Round a derived double identically to the oracle's ``round(x, n) + 0.0``.

    The ``+ 0.0`` collapses IEEE negative zero so both engines hash the
    same bits. Use n=2 for large-magnitude global sums (double error there
    can exceed 1e-4 absolute), 4 for window-frame stats, 6 for ratios.
    """
    return F.round(c, n) + F.lit(0.0)


def sql_rnd(expr: str, n: int = 4) -> str:
    return f"round({expr}, {n}) + 0.0"


def sql_rnd_nudged(expr: str, n: int = 4) -> str:
    """DuckDB mirror of :func:`etl_aws_spark.functions.rnd_nudged`."""
    return f"round(({expr}) + sign({expr}) * 1e-9, {n}) + 0.0"


def rnd_nudged_rel(c: Column, n: int = 4) -> Column:
    """Magnitude-RELATIVE nudged rounding for large-magnitude derived
    doubles (sums of squares, huge aggregates): the absolute 1e-9 nudge
    is below one ulp once |x| exceeds ~1e7, so it cannot move a value
    off a decimal half-boundary there (found at sf1: stat_two_way_anova's
    ss landed on ...334.285 exactly — Spark's HALF_UP on the shortest
    decimal repr said .29, DuckDB's binary rounding said .28). The
    relative term |x|·1e-12 is ~4000 ulp — far above any cross-engine
    representation difference, far below analytic meaning — and applied
    identically on both engines, so matching values can never diverge.
    Mirror with :func:`sql_rnd_nudged_rel`."""
    nudge = F.signum(c) * F.greatest(F.lit(1e-9), F.abs(c) * F.lit(1e-12))
    return F.round(c + nudge, n) + F.lit(0.0)


def sql_rnd_nudged_rel(expr: str, n: int = 4) -> str:
    return (
        f"round(({expr}) + sign({expr})"
        f" * greatest(1e-9, abs({expr}) * 1e-12), {n}) + 0.0"
    )


def exact_ntile(
    df,
    k: int,
    score_col: str,
    id_col: str,
    bucket: Column,
    descending: bool = False,
    out_col: str = "tier",
):
    """Replicate ``ntile(k) OVER (ORDER BY score [DESC], id ASC)`` exactly
    WITHOUT a single-partition corpus-sized window — the histogram-exact
    quantile formulation (`stat_mann_whitney_u`'s shape, generalized).

    ``bucket`` must be an integer Column monotone NON-DECREASING in the
    ordering direction (e.g. ``floor(score * 100)`` for an ascending
    double score — any coarse histogram cell whose ordering agrees with
    the score's). The only unpartitioned window then runs over the
    |distinct buckets| count frame (bounded by the VALUE DOMAIN, not the
    corpus); per-row ranks come from a window PARTITIONED by bucket, and
    the ntile boundary arithmetic (first N%k buckets get one extra row)
    is applied per-row against broadcast scalars. Ties are impossible by
    construction: ``id_col`` is the unconditional tie-break, so every row
    has a unique global rank and the result is bit-identical to the
    engine's ntile under the same total order.
    """
    from pyspark.sql import Window

    sdir = F.desc if descending else F.asc
    # the bucketed frame feeds THREE consumers (cell counts, the total,
    # the per-row rank join) — materialize it once so chained calls don't
    # re-derive the whole upstream lineage per branch (the frame is
    # entity-level by contract, far below corpus size)
    b = df.withColumn("_entile_bk", bucket.cast("long")).localCheckpoint(
        eager=True
    )
    counts = b.groupBy("_entile_bk").agg(F.count(F.lit(1)).alias("_entile_c"))
    wb = Window.orderBy(sdir("_entile_bk")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    starts = counts.select(
        "_entile_bk",
        F.coalesce(F.sum("_entile_c").over(wb), F.lit(0)).alias("_entile_start"),
    )
    tot = b.agg(F.count(F.lit(1)).alias("_entile_n"))
    ww = Window.partitionBy("_entile_bk").orderBy(sdir(score_col), F.asc(id_col))
    ranked = (
        b.join(F.broadcast(starts), "_entile_bk")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "_entile_rn", F.col("_entile_start") + F.row_number().over(ww)
        )
    )
    q = F.expr(f"_entile_n div {k}")
    r = F.col("_entile_n") % k
    rn = F.col("_entile_rn")
    # buckets 1..r hold q+1 rows, buckets r+1..k hold q rows (ntile's rule)
    tier = F.when(
        rn <= r * (q + F.lit(1)),
        (rn + q) / (q + F.lit(1)),  # == ceil(rn / (q+1)) after floor below
    ).otherwise(
        r + (rn - r * (q + F.lit(1)) + F.greatest(q, F.lit(1)) - 1)
        / F.greatest(q, F.lit(1))
    )
    out = ranked.withColumn(out_col, F.floor(tier).cast("int"))
    return out.drop("_entile_bk", "_entile_c", "_entile_start", "_entile_n", "_entile_rn")


def bucketed_cumsum(
    df,
    order_col: str,
    val_cols,
    bucket: Column,
    out_cols=None,
    inclusive: bool = True,
    descending: bool = False,
    tie_cols=None,
):
    """Exact running sums of INTEGER columns under ``ORDER BY order_col
    [DESC][, tie_cols ASC]`` without a single-partition pass over the
    frame — `exact_ntile`'s cumulative-sum twin.

    ``bucket`` must be an integer Column monotone non-decreasing in
    ``order_col`` (a coarse histogram cell: seconds for µs gaps, thousands
    for currency, id div 65536 for dense ids). Per-bucket subtotals
    cumulate in the only unpartitioned window (|distinct buckets| rows —
    bounded by the value DOMAIN, or corpus/65536 for id buckets); the
    within-bucket running sum is a window PARTITIONED by bucket; the row's
    cumsum is bucket_start + within. Integer arithmetic throughout, so the
    result is bit-identical to the global-window formulation in any
    summation order. The combined (order_col, *tie_cols) order must be
    total — the running sum is otherwise order-ambiguous within ties.

    ``val_cols`` may be one name or a list; ``out_cols`` defaults to
    ``cum_<name>`` per value column.
    """
    from pyspark.sql import Window

    if isinstance(val_cols, str):
        val_cols = [val_cols]
    if out_cols is None:
        out_cols = [f"cum_{v}" for v in val_cols]
    elif isinstance(out_cols, str):
        out_cols = [out_cols]
    tie_cols = list(tie_cols or [])
    sdir = F.desc if descending else F.asc
    # two consumers (bucket subtotals, per-row join) — materialize once
    b = df.withColumn("_bcs_bk", bucket.cast("long")).localCheckpoint(eager=True)
    sub = b.groupBy("_bcs_bk").agg(
        *[F.sum(v).alias(f"_bcs_sub_{i}") for i, v in enumerate(val_cols)]
    )
    wb = Window.orderBy(sdir("_bcs_bk")).rowsBetween(Window.unboundedPreceding, -1)
    starts = sub.select(
        "_bcs_bk",
        *[
            F.coalesce(F.sum(f"_bcs_sub_{i}").over(wb), F.lit(0)).alias(
                f"_bcs_start_{i}"
            )
            for i in range(len(val_cols))
        ],
    )
    end = Window.currentRow if inclusive else -1
    ww = (
        Window.partitionBy("_bcs_bk")
        .orderBy(sdir(order_col), *[F.asc(t) for t in tie_cols])
        .rowsBetween(Window.unboundedPreceding, end)
    )
    out = b.join(F.broadcast(starts), "_bcs_bk")
    for i, (v, o) in enumerate(zip(val_cols, out_cols)):
        out = out.withColumn(
            o,
            F.col(f"_bcs_start_{i}") + F.coalesce(F.sum(v).over(ww), F.lit(0)),
        )
    drops = ["_bcs_bk"] + [f"_bcs_start_{i}" for i in range(len(val_cols))]
    return out.drop(*drops)
