"""Output checks against the registry's DuckDB oracles.

A run checks every output of every pass, and replaying an oracle on DuckDB
can take seconds, so each answer is replayed once per input and then pinned:
a pin is the row count and the :func:`digest` of the oracle's answer (plus
that of any output a live ``compare`` accepted), keyed by query, oracle SQL
and input fingerprint, and kept in ``.cache/pins`` for later passes and
later runs in the same checkout. Spark's output is then checked by digest
alone. An input never seen before, or a digest that disagrees with its pin,
falls back to a live replay compared by ``tools/check.py``'s ``compare``,
which is the verdict.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb
import numpy as np
import pandas as pd

from tools.check import compare

HERE = os.path.dirname(os.path.abspath(__file__))
PIN_CACHE = os.path.join(HERE, ".cache", "pins")


def digest(pdf: pd.DataFrame) -> str:
    """Order-insensitive content hash of a result frame.

    Each row is hashed twice with independent keys and the row hashes are
    summed modulo 2**64, so row order does not matter and no sort is needed.
    Columns are taken in name order, integer/bool/float columns are widened
    to 64 bits and timestamps cast to microseconds first, so two answers that
    ``compare`` finds equal hash equal even when one engine returns int32
    where the other returns int64."""
    cols = sorted(pdf.columns)
    c = pdf[cols].copy()
    for col in cols:
        kind = c[col].dtype.kind
        if kind in "iub":
            c[col] = c[col].astype("int64")
        elif kind == "f":
            c[col] = c[col].astype("float64")
        elif kind == "M":
            c[col] = c[col].astype("datetime64[us]")
    h = hashlib.sha256("|".join(cols).encode())
    h.update(str(len(c)).encode())
    for key in ("perfbench-rows-1", "perfbench-rows-2"):
        rows = pd.util.hash_pandas_object(c, index=False, hash_key=key).to_numpy()
        h.update(int(rows.sum(dtype=np.uint64)).to_bytes(8, "little"))
    return h.hexdigest()


def pin_key(query: str, sql: str, input_fp: str) -> str:
    return hashlib.sha256(f"{query}\0{sql}\0{input_fp}".encode()).hexdigest()[:32]


def duck_connect(in_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for fname in sorted(os.listdir(in_dir)):
        if fname.endswith(".parquet"):
            path = os.path.join(in_dir, fname)
            con.execute(f"CREATE VIEW {fname[:-8]} AS SELECT * FROM read_parquet('{path}')")
    return con


class Oracle:
    """Checks query outputs for one input directory."""

    def __init__(self, in_dir: str, input_fp: str, oracles: dict[str, str]) -> None:
        self.in_dir = in_dir
        self.input_fp = input_fp
        self.oracles = oracles
        self._con: duckdb.DuckDBPyConnection | None = None
        self.live_replays = 0
        self.pins: dict[str, dict] = {}

    def _pin(self, key: str) -> dict | None:
        if key in self.pins:
            return self.pins[key]
        path = os.path.join(PIN_CACHE, key + ".json")
        if os.path.exists(path):
            with open(path) as f:
                self.pins[key] = json.load(f)
            return self.pins[key]
        return None

    def answer(self, query: str) -> pd.DataFrame:
        """Replay ``query``'s oracle on DuckDB over the input directory."""
        if self._con is None:
            self._con = duck_connect(self.in_dir)
        self.live_replays += 1
        return self._con.execute(self.oracles[query]).df()

    def check(self, query: str, pdf: pd.DataFrame) -> tuple[bool, str]:
        """Is ``pdf`` the oracle's answer for ``query``? Returns (ok, detail)."""
        key = pin_key(query, self.oracles[query], self.input_fp)
        pin = self._pin(key)
        got = digest(pdf)
        if pin is not None and pin["rows"] == len(pdf) and got in pin["digests"]:
            ok, detail = True, f"{len(pdf)} rows, pinned"
        else:
            ans = self.answer(query)
            status, msg = compare(query, pdf, ans)
            ok, detail = status == "OK", f"{len(pdf)} rows, live {status} {msg}".strip()
            if ok:
                self._save(key, {"rows": len(ans), "digests": sorted({digest(ans), got})})
        if ok and len(pdf) == 0:
            ok, detail = False, "0 rows: an empty answer checks nothing"
        return ok, detail

    def _save(self, key: str, pin: dict) -> None:
        self.pins[key] = pin
        os.makedirs(PIN_CACHE, exist_ok=True)
        tmp = os.path.join(PIN_CACHE, f".{key}.{os.getpid()}")
        with open(tmp, "w") as f:
            json.dump(pin, f)
        os.replace(tmp, os.path.join(PIN_CACHE, key + ".json"))

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
