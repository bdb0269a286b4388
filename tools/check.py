"""Local replica of the driver's correctness gate.

Runs every registered query on Spark and its oracle on DuckDB at the given
scale factor, compares row count, column names/types, and order-insensitive
values (exact, with a np.allclose fallback reported as FUZZY so borderline
rounding shows up before the real gate).

Usage: python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import atexit
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if str(pdf[c].dtype).startswith("datetime64"):
            pdf[c] = pdf[c].astype("datetime64[us]")
        # normalize list-ish cells for sorting
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].map(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
    if len(pdf):
        # vectorized column-concat sort key: the old row-wise
        # apply('|'.join, axis=1) dominated large-output compares
        # (600k-row scans spent ~10 s in canon alone)
        key = pdf.iloc[:, 0].astype(str)
        for c in pdf.columns[1:]:
            key = key + "|" + pdf[c].astype(str)
        pdf = pdf.loc[key.sort_values(kind="mergesort").index]
    return pdf.reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> tuple[str, str]:
    if len(spark_pdf) != len(duck_pdf):
        return "FAIL", f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}"
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        return "FAIL", f"columns spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"
    s, d = canon(spark_pdf), canon(duck_pdf)
    issues = []
    fuzzy = False
    for c in s.columns:
        sv, dv = s[c], d[c]
        if str(sv.dtype) != str(dv.dtype):
            issues.append(f"dtype[{c}] spark={sv.dtype} duck={dv.dtype}")
        try:
            if sv.dtype.kind == "f" or dv.dtype.kind == "f":
                a, b = sv.to_numpy(dtype=float), dv.to_numpy(dtype=float)
                both_nan = np.isnan(a) & np.isnan(b)
                eq = np.where(both_nan, True, a == b)
                if not eq.all():
                    close = np.where(both_nan, True, np.isclose(a, b, rtol=1e-9, atol=1e-12, equal_nan=True))
                    if close.all():
                        fuzzy = True
                        issues.append(f"FUZZY[{c}] max|Δ|={np.nanmax(np.abs(a - b)):.3e}")
                    else:
                        i = int(np.argmax(~eq))
                        return "FAIL", f"values[{c}] row{i}: spark={a[i]!r} duck={b[i]!r}"
            else:
                if not sv.equals(dv):
                    neq = sv != dv
                    neq &= ~(sv.isna() & dv.isna())
                    if neq.any():
                        i = int(np.argmax(neq.to_numpy()))
                        return "FAIL", f"values[{c}] row{i}: spark={sv.iloc[i]!r} duck={dv.iloc[i]!r}"
        except Exception as e:
            return "FAIL", f"compare error[{c}]: {e}"
    if fuzzy:
        return "FUZZY", "; ".join(issues)
    if issues:
        return "WARN", "; ".join(issues)
    return "OK", ""


# Queries whose result is too large to transfer through pandas at sf1
# (text_dedup_simhash_hamming: 107M rows broke the Arrow socket — SWEEPS
# r10-s2-sf1-b4). Their compare runs ENGINE-SIDE instead: rowcount +
# sorted column names + an order-insensitive EXACT digest — the sum of
# 60-bit integers derived from md5 over the '|'-joined string-cast row —
# computed by the same formula in both engines (verified bit-equal:
# Spark conv(hex,16,10) == DuckDB's hex fold). Restricted to queries
# whose output schema is integer/string only (float formatting differs
# across engines; every such query keeps the pandas path).
DIGEST_QUERIES = {"text_dedup_simhash_hamming"}

# Queries whose correct output CAN be legitimately empty at small SFs —
# every other oracle-matched result with 0 rows is flagged EMPTY and
# counts as a failure (r11 audit: five queries were green for ten rounds
# while both engines returned 0 rows, proving schema agreement and
# nothing else). Keep this list SHORT and justified.
MAY_BE_EMPTY = {
    # A ⧵ B over hash-partitioned ids: empty at sf0.01 by cardinality,
    # non-empty (and value-checked) at sf0.1 — r11 judge deemed this one
    # acceptable because a non-vacuous SF is inside the gate sweep.
    "setop_except": "empty at sf0.01, value-verified non-empty at sf0.1",
}


def empty_guard(name: str, status: str, n_rows: int) -> tuple[str, str] | None:
    """Downgrade a green-but-empty oracle match to EMPTY unless declared."""
    if status in ("OK", "FUZZY") and n_rows == 0 and name not in MAY_BE_EMPTY:
        return "EMPTY", "0 rows on BOTH engines — vacuous match (declare in MAY_BE_EMPTY if legitimate)"
    return None


def _digest_cell(quoted: str) -> str:
    """Length-prefixed, NULL-sentinel cell encoding for the digest row.

    concat_ws skips NULLs in both engines, so (NULL,'x') and ('x',NULL)
    — or a '|' inside a value spanning a column boundary — could digest
    equal (ADVICE r11). Prefixing every non-null value with its char
    length and ':' makes the row string prefix-decodable (parse length,
    consume value, repeat), and 'N' (which no length prefix can start
    with — those start with a digit) marks NULL, so two different row
    tuples can never encode to the same string. Identical expression
    text works in both dialects.
    """
    return (
        f"CASE WHEN {quoted} IS NULL THEN 'N' ELSE "
        f"concat(cast(length(cast({quoted} as string)) as string), ':', "
        f"cast({quoted} as string)) END"
    )


def digest_compare(sdf, con, oracle_sql: str) -> tuple[str, str]:
    cols = sorted(sdf.columns)
    if any(f.dataType.simpleString() not in ("int", "bigint", "smallint", "string")
           for f in sdf.schema.fields):
        return "FAIL", "digest mode requires an integer/string-only schema"
    # column-set check FIRST: a mismatched name would binder-error inside
    # the digest query before any comparison ran
    dcols = [
        r[0] for r in con.execute(f"DESCRIBE SELECT * FROM ({oracle_sql})").fetchall()
    ]
    if sorted(dcols) != cols:
        return "FAIL", f"columns spark={cols} duck={sorted(dcols)}"
    srow = "concat_ws('|', " + ", ".join(_digest_cell(f"`{c}`") for c in cols) + ")"
    srec = sdf.selectExpr(
        "count(*) as n",
        f"sum(cast(conv(substring(md5({srow}),1,15),16,10) as decimal(38,0))) as dig",
    ).collect()[0]
    drow = "concat_ws('|', " + ", ".join(_digest_cell(f'"{c}"') for c in cols) + ")"
    dn, ddig = con.execute(
        f"""
        WITH _q AS ({oracle_sql})
        SELECT count(*),
               sum(list_reduce(list_prepend(CAST(0 AS HUGEINT),
                     list_transform(string_split_regex(substr(md5({drow}),1,15), ''),
                       ch -> CAST(strpos('0123456789abcdef', ch) - 1 AS HUGEINT))),
                   (acc, x) -> acc * 16 + x))
        FROM _q
        """
    ).fetchone()
    if int(dn) != int(srec["n"]):
        return "FAIL", f"rowcount spark={srec['n']} duck={dn}"
    if int(srec["dig"] or 0) != int(ddig or 0):
        return "FAIL", f"digest spark={srec['dig']} duck={ddig}"
    return "OK", f"digest n={srec['n']} (engine-side, no row transfer)"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and os.path.isdir(sys.argv[1]) else "/root/testdata/sf0.01"
    only = set(sys.argv[2:] if len(sys.argv) > 1 and os.path.isdir(sys.argv[1]) else sys.argv[1:])

    import __spark_entry__ as ent
    from etl_aws_spark.session import get_session
    from etl_aws_spark.suite import _util

    # a stopped run must still remove its cache dir: atexit does not run
    # when a signal kills the process, but it does run on SystemExit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    # persisted artifacts (PQ/IVF indexes, stream state) go under a fresh
    # root per run, so every artifact builder runs and is checked instead
    # of an index cached by older code being served
    _util._CACHE_ROOT = tempfile.mkdtemp(prefix="check_cache_")
    atexit.register(shutil.rmtree, _util._CACHE_ROOT, True)

    spark = get_session("check")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs, oracles = ent.queries(), ent.oracle_sql()
    n_ok = n_bad = 0
    t0 = time.time()
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            tq = time.time()
            sdf = fn(spark, sf_dir)
            if name in DIGEST_QUERIES and name in oracles:
                status, msg = digest_compare(sdf, con, oracles[name])
                if msg.startswith("digest n=0"):
                    downgraded = empty_guard(name, status, 0)
                    if downgraded:
                        status, msg = downgraded
                dt = time.time() - tq
                flag = "✓" if status == "OK" else "✗"
                n_ok += status == "OK"
                n_bad += status != "OK"
                print(f"{flag} {name:32s} {status:9s} {dt:6.2f}s  {msg}")
                continue
            spark_pdf = sdf.toPandas()
            if name in oracles:
                duck_pdf = con.execute(oracles[name]).df()
                status, msg = compare(name, spark_pdf, duck_pdf)
                downgraded = empty_guard(name, status, len(spark_pdf))
                if downgraded:
                    status, msg = downgraded
                elif status == "OK":
                    msg = f"{len(spark_pdf)} rows"
            else:
                status, msg = ("ROWS-ONLY", f"{len(spark_pdf)} rows") if len(spark_pdf) >= 0 else ("FAIL", "no rows")
            dt = time.time() - tq
        except Exception:
            status, msg, dt = "ERROR", traceback.format_exc(limit=40).strip().replace("\n", " | ")[-2000:], 0.0
        flag = "✓" if status in ("OK", "ROWS-ONLY") else "✗"
        if status in ("OK", "ROWS-ONLY"):
            n_ok += 1
        else:
            n_bad += 1
        print(f"{flag} {name:32s} {status:9s} {dt:6.2f}s  {msg}")
    print(f"\n{n_ok} ok, {n_bad} bad, {time.time() - t0:.1f}s total, sf_dir={sf_dir}")
    return 1 if n_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
