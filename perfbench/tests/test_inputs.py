import numpy as np
import pyarrow.parquet as pq
import pytest

import inputs

TABLES = ("documents", "embeddings", "events", "nation")


def _gen(tmp_path, name, seed, replicas=2, tables=TABLES):
    out = tmp_path / name
    inputs.generate(str(out), seed, replicas, tables)
    return out


def test_same_seed_gives_identical_inputs(tmp_path):
    a, b = _gen(tmp_path, "a", 7), _gen(tmp_path, "b", 7)
    assert inputs.fingerprint(str(a)) == inputs.fingerprint(str(b))


def test_other_seed_changes_documents_and_embeddings(tmp_path):
    a, b = _gen(tmp_path, "a", 7), _gen(tmp_path, "b", 8)
    for table, col in (("documents", "text"), ("embeddings", "embedding")):
        ta = pq.read_table(a / f"{table}.parquet").column(col).to_pylist()
        tb = pq.read_table(b / f"{table}.parquet").column(col).to_pylist()
        assert ta != tb, table


def test_replicas_offset_keys_and_follow_gen_sf1(tmp_path):
    one, three = _gen(tmp_path, "one", 3, 1), _gen(tmp_path, "three", 3, 3)
    for table, key in (("events", "event_id"), ("documents", "doc_id"), ("embeddings", "vec_id")):
        n1 = pq.read_metadata(one / f"{table}.parquet").num_rows
        keys = pq.read_table(three / f"{table}.parquet").column(key).to_numpy()
        assert len(keys) == 3 * n1 and len(np.unique(keys)) == len(keys), table
    # replicas get disjoint users, so a user's timestamps stay unique
    ev = pq.read_table(three / "events.parquet").to_pandas()
    assert not ev.duplicated(["user_id", "ts"]).any()
    assert pq.read_metadata(three / "nation.parquet").num_rows == 25
    # replica 0 is the base unit verbatim; replica r > 0 word-shuffles text
    base = pq.read_table(one / "documents.parquet").column("text").to_pylist()
    texts = pq.read_table(three / "documents.parquet").column("text").to_pylist()
    n = len(base)
    assert texts[:n] == base
    assert texts[n:2 * n] != base
    assert all(sorted(t.split()) == sorted(b.split()) for t, b in zip(texts[n:2 * n], base))
    # replica r > 0 resamples embeddings per label: new vectors, same labels
    e1 = pq.read_table(one / "embeddings.parquet")
    e3 = pq.read_table(three / "embeddings.parquet")
    assert e3.column("label").to_pylist() == e1.column("label").to_pylist() * 3
    v1 = np.stack(e1.column("embedding").to_numpy(zero_copy_only=False))
    v3 = np.stack(e3.column("embedding").to_numpy(zero_copy_only=False))
    assert np.array_equal(v3[: len(v1)], v1)
    assert not np.array_equal(v3[len(v1): 2 * len(v1)], v1)


def test_base_unit_has_near_duplicates_and_fixture_domains(tmp_path):
    d = _gen(tmp_path, "d", 5, 1, ("documents", "events"))
    texts = pq.read_table(d / "documents.parquet").column("text").to_pylist()
    dups = [t for t in texts if t.endswith(" dup")]
    assert dups and all(t[: -len(" dup")] in texts for t in dups)
    ts = pq.read_table(d / "events.parquet").column("ts").to_numpy()
    assert (np.diff(ts.astype("int64")) > 0).all()
    assert str(ts.min())[:7] == "2024-01"


def test_generate_rejects_bad_arguments(tmp_path):
    with pytest.raises(ValueError):
        inputs.generate(str(tmp_path / "x"), 1, 1, ["nope"])
    with pytest.raises(ValueError):
        inputs.generate(str(tmp_path / "x"), 1, 0, ["events"])
