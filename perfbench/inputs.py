"""Seeded input generator for the benchmark.

The queries read the fixture schema described in FIXTURES.md §B. The
benchmark may read nothing outside its checkout, so it cannot start from the
read-only fixture directories. It builds the tables its workloads read —
``nation``, ``events``, ``documents`` and ``embeddings`` — in two steps:

1. A **base unit** the size of sf0.01 is synthesized from ``seed`` with the
   fixtures' schemas and value domains: one month of events from 150 users,
   uniform 30-word documents of 10–99 words of which about 5 % are an
   earlier document plus the word ``dup``, and unit-norm 64-d embeddings
   with ten labels.
2. ``replicas`` copies of the unit are stacked with the construction of
   ``tools/gen_sf1.py``: every key domain is offset per replica (so joins fan
   out ``replicas``×, not ``replicas``²), replica ``r > 0`` word-shuffles each
   document, and replica ``r > 0`` resamples each embedding from its label's
   per-component mean and standard deviation. Every random draw comes from
   ``seed``, where ``gen_sf1`` hard-codes ``RandomState(1000 + r)``.

The same ``(seed, replicas, tables)`` gives byte-identical parquet files;
:func:`fingerprint` hashes them.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Iterable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ALL_TABLES = ("nation", "events", "documents", "embeddings")

# base-unit row counts: the fixtures' sf0.01 sizes
UNIT = {"events": 10000, "documents": 500, "embeddings": 500}
N_USERS = 150
DIM = 64

# key columns offset per replica, and the key domain each one spans
OFFSET_KEYS = {
    "events": {"event_id": "events", "user_id": "events_user"},
    "documents": {"doc_id": "documents"},
    "embeddings": {"vec_id": "embeddings"},
}
SPAN = dict(UNIT, events_user=N_USERS)

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _pick(rng: np.random.Generator, values, n: int, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(_pick(rng, WORDS, int(rng.integers(10, 100)))))
    return texts


def base_unit(seed: int, tables: Iterable[str]) -> dict[str, dict[str, np.ndarray | list]]:
    """Columns of every requested table at base-unit size, drawn from ``seed``.

    Each table draws from its own stream, so the contents of one table do
    not depend on which others were requested."""
    want = set(tables)
    out: dict[str, dict] = {}
    if "nation" in want:
        out["nation"] = {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    if "events" in want:
        rng, n = _rng(seed, 6), UNIT["events"]
        # strictly increasing µs timestamps over ~30 days: ts is unique per
        # user, which the windowed queries' tie-break conventions assume
        gaps = np.maximum(1, rng.exponential(259e6, n).astype(np.int64))
        start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
        out["events"] = {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": (start + np.cumsum(gaps)).astype("datetime64[us]"),
            "user_id": rng.integers(0, N_USERS, n).astype(np.int64),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, n), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    if "documents" in want:
        rng, n = _rng(seed, 7), UNIT["documents"]
        texts = _documents(rng, n)
        out["documents"] = {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    if "embeddings" in want:
        rng, n = _rng(seed, 8), UNIT["embeddings"]
        mat = rng.standard_normal((n, DIM))
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        out["embeddings"] = {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": mat.astype(np.float32),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    return out


SCHEMAS = {
    "nation": pa.schema(
        [("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())]
    ),
    "events": pa.schema([
        ("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
        ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string()),
    ]),
    "documents": pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64()),
    ]),
    "embeddings": pa.schema([
        ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32()),
    ]),
}


def _replicate(name: str, cols: dict, seed: int, replicas: int) -> dict:
    """Stack ``replicas`` copies of one base table (the gen_sf1 construction)."""
    if name not in OFFSET_KEYS or replicas == 1:
        return cols
    out = {}
    for col, vals in cols.items():
        if col in OFFSET_KEYS[name]:
            span = SPAN[OFFSET_KEYS[name][col]]
            vals = np.asarray(vals)
            out[col] = np.concatenate([vals + r * span for r in range(replicas)])
        elif col == "text":
            # replica r > 0: a seeded word shuffle of every document keeps
            # length, vocabulary and quality distribution but breaks the
            # cross-replica exact duplicates that would make every dedup
            # block grow quadratically by construction
            shuffled = list(vals)
            for r in range(1, replicas):
                rng = _rng(seed, 100, r)
                shuffled += [" ".join(rng.permutation(t.split())) for t in vals]
            out[col] = shuffled
        elif col == "embedding":
            # replica r > 0: resample each vector from its label's
            # per-component mean/std — per-label statistics kept, vectors new
            mat = np.asarray(vals, dtype=np.float64)
            labels = np.asarray(cols["label"])
            reps = [np.asarray(vals, dtype=np.float32)]
            for r in range(1, replicas):
                rng = _rng(seed, 200, r)
                new = np.empty_like(mat)
                for lab in np.unique(labels):
                    m = labels == lab
                    mu, sd = mat[m].mean(axis=0), mat[m].std(axis=0)
                    new[m] = mu + rng.standard_normal((int(m.sum()), DIM)) * sd
                reps.append(new.astype(np.float32))
            out[col] = np.concatenate(reps)
        elif isinstance(vals, list):
            out[col] = vals * replicas
        else:
            out[col] = np.tile(vals, replicas)
    return out


def _to_arrow(name: str, cols: dict) -> pa.Table:
    schema = SCHEMAS[name]
    arrays = []
    for field in schema:
        vals = cols[field.name]
        if field.name == "embedding":
            mat = np.ascontiguousarray(vals, dtype=np.float32)
            offsets = np.arange(0, mat.size + 1, DIM, dtype=np.int32)
            arrays.append(pa.ListArray.from_arrays(offsets, pa.array(mat.ravel())))
        else:
            arrays.append(pa.array(vals, type=field.type))
    return pa.Table.from_arrays(arrays, schema=schema)


def generate(out_dir: str, seed: int, replicas: int, tables: Iterable[str]) -> None:
    """Write ``tables`` at ``replicas`` × the base unit into ``out_dir``."""
    tables = list(tables)
    unknown = set(tables) - set(ALL_TABLES)
    if unknown:
        raise ValueError(f"unknown tables: {sorted(unknown)}")
    if replicas < 1:
        raise ValueError("replicas must be >= 1")
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in base_unit(seed, tables).items():
        table = _to_arrow(name, _replicate(name, cols, seed, replicas))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def fingerprint(in_dir: str) -> str:
    """SHA-256 over the name and bytes of every parquet file in ``in_dir``."""
    h = hashlib.sha256()
    for fname in sorted(os.listdir(in_dir)):
        if fname.endswith(".parquet"):
            h.update(fname.encode())
            with open(os.path.join(in_dir, fname), "rb") as f:
                h.update(f.read())
    return h.hexdigest()
