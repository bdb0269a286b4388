"""The shared versioned-state protocol (streaming/state.py): atomic
name-encoded commits, replay idempotency, delta folds, compaction, and
O(batch) delta writes — the r12 verdict's streaming-state hardening."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_aws_spark.streaming.state import VersionedState

SF_TINY = "/root/testdata/sf0.001"


def _mk(spark, root):
    return VersionedState(spark, str(root))


def test_uncommitted_version_is_invisible(spark, tmp_path):
    """Crash between tree write and commit record: the half-written
    version must be ignored by every reader — version(), read_union,
    read_latest_wins all resolve to the last COMMITTED version."""
    st = _mk(spark, tmp_path / "st")
    df0 = spark.createDataFrame([(1, 10), (2, 20)], "k int, v int")
    st.write_tree(df0, 0, "t")
    st.commit(0, batch_id=-1, base=0)
    # crash point: v1 trees fully written, commit record never created
    st.write_tree(spark.createDataFrame([(1, 99)], "k int, v int"), 1, "t")
    assert st.version() == 0
    got = sorted(map(tuple, st.read_latest_wins("t", ["k"]).collect()))
    assert got == [(1, 10), (2, 20)]
    # the replay overwrites its own partial output and commits
    st.write_tree(spark.createDataFrame([(1, 11)], "k int, v int"), 1, "t")
    st.commit(1, batch_id=0)
    assert st.version() == 1
    got = sorted(map(tuple, st.read_latest_wins("t", ["k"]).collect()))
    assert got == [(1, 11), (2, 20)]


def test_already_folded_guards_replay(spark, tmp_path):
    """Crash AFTER the commit record but before the streaming checkpoint
    offset commit: the replay (same batch_id — Structured Streaming's
    contract) must be a no-op, not a double fold."""
    st = _mk(spark, tmp_path / "st")
    st.write_tree(spark.createDataFrame([(1, 1)], "k int, v int"), 0, "t")
    st.commit(0, batch_id=-1, base=0)
    assert not st.already_folded(0)
    st.write_tree(spark.createDataFrame([(2, 2)], "k int, v int"), 1, "t")
    st.commit(1, batch_id=0)
    assert st.already_folded(0)  # the replayed batch returns early
    assert not st.already_folded(1)  # the next real batch still folds


def test_read_before_any_commit_raises(spark, tmp_path):
    st = _mk(spark, tmp_path / "st")
    with pytest.raises(FileNotFoundError):
        st.read_union("t")
    assert st.version() == -1


def test_latest_wins_and_append_folds(spark, tmp_path):
    st = _mk(spark, tmp_path / "st")
    st.write_tree(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), 0, "t"
    )
    st.commit(0, batch_id=-1, base=0)
    st.write_tree(spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string"), 1, "t")
    st.commit(1, batch_id=0)
    lw = sorted(map(tuple, st.read_latest_wins("t", ["k"]).collect()))
    assert lw == [(1, "a"), (2, "B"), (3, "c")]
    ap = sorted(map(tuple, st.read_append("t").collect()))
    assert ap == [(1, "a"), (2, "B"), (2, "b"), (3, "c")]


def _three_versions(spark, root):
    st = _mk(spark, root)
    for v, rows in enumerate([[(1, 10), (2, 20)], [(2, 21)], [(3, 30)]]):
        st.write_tree(spark.createDataFrame(rows, "k int, v int"), v, "t")
        st.commit(v, batch_id=v - 1, base=0 if v == 0 else None)
    return st


def test_compact_folds_chain_and_gcs(spark, tmp_path):
    import posixpath

    from etl_aws_spark import fsutil

    root = str(tmp_path / "st")
    st = _three_versions(spark, root)
    before = sorted(map(tuple, st.read_latest_wins("t", ["k"]).collect()))
    new_base = st.compact({"t": st.read_latest_wins("t", ["k"])})
    assert new_base == 3
    # pre-base version dirs are gone; the fold result is unchanged
    for v in range(3):
        assert not fsutil.exists(spark, posixpath.join(root, "v%d" % v))
    after = sorted(map(tuple, st.read_latest_wins("t", ["k"]).collect()))
    assert after == before == [(1, 10), (2, 21), (3, 30)]
    # the replay guard survives compaction (batch_id carried forward)
    assert st.already_folded(1) and not st.already_folded(2)


def test_publish_on_empty_store_commits_v0(spark, tmp_path):
    st = _mk(spark, tmp_path / "st")
    assert st.publish({"t": spark.createDataFrame([(1, 10)], "k int, v int")}, 7) == 0
    assert st.commits() == [(0, 7, 0)]
    assert st.already_folded(7) and not st.already_folded(8)
    assert sorted(map(tuple, st.read_append("t").collect())) == [(1, 10)]


def test_publish_prunes_older_versions_and_records(spark, tmp_path):
    """A snapshot publish after a 3-version delta chain leaves exactly one
    version dir and one commit record, and serves only the snapshot."""
    import os

    root = tmp_path / "st"
    st = _three_versions(spark, root)
    snap = spark.createDataFrame([(5, 50)], "k int, v int")
    assert st.publish({"t": snap}, batch_id=2) == 3
    assert st.commits() == [(3, 2, 3)]
    assert sorted(os.listdir(root)) == ["_commits", "v3"]
    assert [f for f in os.listdir(root / "_commits") if not f.startswith(".")] == [
        "c00000003.b2.base00000003"
    ]
    assert sorted(map(tuple, st.read_append("t").collect())) == [(5, 50)]


def test_published_tree_is_invisible_until_committed(spark, tmp_path):
    """Crash between a publish's tree write and its commit record: the
    previous snapshot stays current and the next publish reuses the
    version number, overwriting the partial tree."""
    st = _mk(spark, tmp_path / "st")
    st.publish({"t": spark.createDataFrame([(1, 10)], "k int, v int")}, 0)
    st.write_tree(spark.createDataFrame([(9, 90)], "k int, v int"), 1, "t")
    assert st.version() == 0
    assert sorted(map(tuple, st.read_append("t").collect())) == [(1, 10)]
    assert st.publish({"t": spark.createDataFrame([(2, 20)], "k int, v int")}, 1) == 1
    assert sorted(map(tuple, st.read_append("t").collect())) == [(2, 20)]


def test_lifecycle_compaction_preserves_results(spark, tmp_path):
    """End-to-end: both streaming lifecycles' compaction folds the delta
    chain without changing served results (the compaction-drift
    contract, now on the shared module)."""
    from etl_aws_spark.registry import load
    from etl_aws_spark.streaming import maintenance as mt

    sf = "/root/testdata/sf0.001"
    emb = load(spark, sf, "embeddings").select("vec_id", "embedding", "label")
    is_delta = F.pmod(F.col("vec_id"), F.lit(40)) == 7
    old, delta = emb.filter(~is_delta), emb.filter(is_delta)
    landing, state, ckpt = (str(tmp_path / d) for d in ("in", "st", "ck"))
    mt.init_state(spark, old, state, 64, k=5, budget=200)
    delta.coalesce(1).write.mode("append").parquet(landing)
    mt.run_maintenance_pass(spark, emb, landing, state, ckpt, 64, k=5, budget=200)
    before = sorted(map(tuple, mt.read_final_topk(spark, state, k=5).collect()))
    mt.compact_state(spark, state)
    after = sorted(map(tuple, mt.read_final_topk(spark, state, k=5).collect()))
    assert after == before


def test_delta_writes_are_batch_sized(spark, tmp_path):
    """The r12 verdict's O(batch) criterion, pinned structurally: after a
    small tranche folds into a large committed clustering state, the new
    version's labels delta holds ~|batch| rows, NOT ~|corpus| (the old
    snapshot layout rewrote every doc ever seen)."""
    from etl_aws_spark.registry import load
    from etl_aws_spark.streaming import clustering as cl

    sf = "/root/testdata/sf0.01"
    docs = load(spark, sf, "documents").select("doc_id", "text")
    # the small tranche carries HIGH ids only: min-label components mean a
    # batch introducing a new global-minimum id genuinely relabels every
    # doc it reaches (an honest O(component) delta), which is not the
    # write-amplification this test pins
    big = docs.filter(F.col("doc_id") % 50 != 49)
    small = docs.filter(F.col("doc_id") % 50 == 49)  # ~2% of the corpus
    landing, state, ckpt = (str(tmp_path / d) for d in ("in", "st", "ck"))
    cl.init_state(spark, state)
    big.coalesce(1).write.mode("append").parquet(landing)
    cl.run_clustering_pass(spark, landing, state, ckpt)
    small.coalesce(1).write.mode("append").parquet(landing)
    cl.run_clustering_pass(spark, landing, state, ckpt)
    st = VersionedState(spark, state)
    assert st.version() == 2
    n_big, n_small = big.count(), small.count()
    delta_rows = spark.read.parquet(st.tree_path(2, "labels")).count()
    # the delta carries the batch plus any docs its arrival merged — far
    # below the corpus (a full rewrite would be n_big + n_small rows)
    assert delta_rows < n_small + 0.2 * n_big
    # and the fold still serves every doc
    assert cl.read_clusters(spark, state).count() == n_big + n_small


def test_read_union_extracts_versions_past_ten(spark, tmp_path):
    """``_v`` comes from the file path: a chain past v9 must map every
    row to its own version (``v1`` must not match inside ``v10``)."""
    st = _mk(spark, tmp_path / "st")
    for v in range(12):
        st.write_tree(spark.createDataFrame([(v, v)], "k int, x int"), v, "t")
        st.commit(v, batch_id=v - 1, base=0 if v == 0 else None)
    got = sorted(map(tuple, st.read_union("t").select("x", "_v").collect()))
    assert got == [(v, v) for v in range(12)]
    lw = st.read_latest_wins("t", ["k"]).collect()
    assert sorted(r.x for r in lw) == list(range(12))


def test_read_union_raises_on_missed_version_extraction(spark, tmp_path):
    """A row whose path yields no version must fail the read, not carry
    a null ``_v`` that the latest-wins fold silently drops. The file path
    is URI-encoded, so a tree name with a space misses the pattern."""
    st = _mk(spark, tmp_path / "st")
    for v in range(2):
        st.write_tree(spark.createDataFrame([(v, v)], "k int, x int"), v, "a b")
        st.commit(v, batch_id=v - 1, base=0 if v == 0 else None)
    with pytest.raises(Exception, match="no version segment"):
        st.read_latest_wins("a b", ["k"]).collect()


def test_rollback_drops_newer_versions(spark, tmp_path):
    import posixpath

    from etl_aws_spark import fsutil

    root = str(tmp_path / "st")
    st = _three_versions(spark, root)
    # an uncommitted leftover past the head goes too
    st.write_tree(spark.createDataFrame([(9, 90)], "k int, v int"), 3, "t")
    st.rollback(0)
    assert st.commits() == [(0, -1, 0)]
    for v in (1, 2, 3):
        assert not fsutil.exists(spark, posixpath.join(root, "v%d" % v))
    got = sorted(map(tuple, st.read_latest_wins("t", ["k"]).collect()))
    assert got == [(1, 10), (2, 20)]
    assert not st.already_folded(0)  # batch ids restart after the reset


def test_rollback_rejects_uncommitted_and_pre_base(spark, tmp_path):
    st = _three_versions(spark, tmp_path / "st")
    st.write_tree(spark.createDataFrame([(4, 40)], "k int, v int"), 3, "t")
    with pytest.raises(ValueError, match="not committed"):
        st.rollback(3)
    with pytest.raises(ValueError, match="not committed"):
        st.rollback(7)
    st.compact({"t": st.read_latest_wins("t", ["k"])})  # base moves to 3
    # the compaction pruned v2's commit record: it is still below base
    with pytest.raises(ValueError, match="below base"):
        st.rollback(2)
    assert st.version() == 3


def test_crash_mid_rollback_leaves_committed_prefix(spark, tmp_path):
    """Rollback removes commit records newest first: a crash after only
    the newest record went leaves v0..v1 committed, and every reader
    resolves to that prefix (the orphaned v2 dir is invisible)."""
    st = _three_versions(spark, tmp_path / "st")
    # crash point: rollback(0) removed c2's record and nothing else
    from etl_aws_spark import fsutil

    fsutil.rmtree(spark, st._record(*st.latest()))
    assert st.version() == 1
    assert st.already_folded(0) and not st.already_folded(1)
    lw = sorted(map(tuple, st.read_latest_wins("t", ["k"]).collect()))
    assert lw == [(1, 10), (2, 21)]
    ap = sorted(map(tuple, st.read_append("t").collect()))
    assert ap == [(1, 10), (2, 20), (2, 21)]
    # the retried rollback completes from there
    st.rollback(0)
    assert st.commits() == [(0, -1, 0)]


def _knn_tranches(spark):
    from etl_aws_spark.registry import load

    emb = load(spark, SF_TINY, "embeddings").select("vec_id", "embedding", "label")
    is_delta = F.pmod(F.col("vec_id"), F.lit(40)) == 7
    old, delta = emb.filter(~is_delta), emb.filter(is_delta)
    d1 = delta.filter(F.pmod(F.col("vec_id"), F.lit(80)) == 7)
    d2 = delta.filter(F.pmod(F.col("vec_id"), F.lit(80)) == 47)
    return emb, old, d1, d2


def _topk(spark, state):
    from etl_aws_spark.streaming import maintenance as mt

    return sorted(map(tuple, mt.read_final_topk(spark, state, k=5).collect()))


def test_rollback_then_fold_equals_fresh_lifecycle(spark, tmp_path):
    """rollback(0) after a two-fold lifecycle, then a fresh pass over the
    same landing files, serves exactly what init + pass from scratch
    serves."""
    from etl_aws_spark import fsutil
    from etl_aws_spark.streaming import maintenance as mt

    emb, old, d1, d2 = _knn_tranches(spark)
    landing = str(tmp_path / "in")
    d1.coalesce(1).write.mode("append").parquet(landing)
    d2.coalesce(1).write.mode("append").parquet(landing)
    state, ckpt = str(tmp_path / "st"), str(tmp_path / "ck")
    mt.init_state(spark, old, state, 64, k=5, budget=200)
    mt.run_maintenance_pass(spark, emb, landing, state, ckpt, 64, k=5, budget=200)
    st = VersionedState(spark, state)
    assert st.version() == 2
    st.rollback(0)
    fsutil.rmtree(spark, ckpt)
    mt.run_maintenance_pass(spark, emb, landing, state, ckpt, 64, k=5, budget=200)
    assert st.version() == 2

    fresh, fresh_ck = str(tmp_path / "st2"), str(tmp_path / "ck2")
    mt.init_state(spark, old, fresh, 64, k=5, budget=200)
    mt.run_maintenance_pass(spark, emb, landing, fresh, fresh_ck, 64, k=5, budget=200)
    assert _topk(spark, state) == _topk(spark, fresh)


def test_empty_landing_file_folds_to_unchanged_topk(spark, tmp_path):
    """An empty landed file still runs its micro-batch (there is no
    emptiness probe): it folds as one commit that changes no list."""
    from etl_aws_spark.streaming import maintenance as mt

    emb, old, d1, _ = _knn_tranches(spark)
    landing, state, ckpt = (str(tmp_path / d) for d in ("in", "st", "ck"))
    mt.init_state(spark, old, state, 64, k=5, budget=200)
    d1.coalesce(1).write.mode("append").parquet(landing)
    mt.run_maintenance_pass(spark, emb, landing, state, ckpt, 64, k=5, budget=200)
    before = _topk(spark, state)
    d1.limit(0).coalesce(1).write.mode("append").parquet(landing)
    mt.run_maintenance_pass(spark, emb, landing, state, ckpt, 64, k=5, budget=200)
    st = VersionedState(spark, state)
    assert st.version() == 2  # the empty batch folded and committed
    assert spark.read.parquet(st.tree_path(2, "edges")).count() == 0
    assert _topk(spark, state) == before


def test_declared_state_schemas_match_written(spark, tmp_path):
    """The fold reads its trees with the declared EDGES/CORPUS schemas;
    an explicit-schema read of a renamed or retyped column returns nulls
    without an error, so the declarations are pinned against what
    init_state and a fold actually write."""
    from etl_aws_spark.streaming import maintenance as mt

    emb, old, d1, _ = _knn_tranches(spark)
    landing, state, ckpt = (str(tmp_path / d) for d in ("in", "st", "ck"))
    mt.init_state(spark, old, state, 64, k=5, budget=200)
    d1.coalesce(1).write.mode("append").parquet(landing)
    mt.run_maintenance_pass(spark, emb, landing, state, ckpt, 64, k=5, budget=200)
    st = VersionedState(spark, state)
    assert st.version() == 1
    for v in (0, 1):
        assert spark.read.parquet(st.tree_path(v, "edges")).schema == mt.EDGES
        assert spark.read.parquet(st.tree_path(v, "corpus")).schema == mt.CORPUS


def test_maintenance_query_reuses_v0(spark, tmp_path, monkeypatch):
    """Two calls of the registry query on the same input return the same
    rows; the second rolls back to the persisted v0 instead of
    rebuilding it, so no v0 file is rewritten."""
    import os

    from etl_aws_spark.suite import _util
    from etl_aws_spark.suite.q_streaming import streaming_knn_index_maintenance

    monkeypatch.setattr(_util, "_CACHE_ROOT", str(tmp_path))

    def rows():
        df = streaming_knn_index_maintenance(spark, SF_TINY)
        return sorted(map(tuple, df.collect()))

    first = rows()
    v0 = os.path.join(_util.cache_dir(SF_TINY, "stream_knn_maint"), "state", "v0")

    def mtimes():
        return {
            os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
            for d, _, fs in os.walk(v0)
            for f in fs
        }

    before = mtimes()
    assert before
    assert rows() == first
    assert mtimes() == before


def test_reset_removes_old_layout_siblings(spark, tmp_path, monkeypatch):
    """A state with no committed version is rebuilt, and the old layout's
    ``state.versions/`` and ``state.commits/`` beside it go with it."""
    import os
    import shutil

    from etl_aws_spark.suite import _util
    from etl_aws_spark.suite.q_streaming import streaming_upsert_latest

    monkeypatch.setattr(_util, "_CACHE_ROOT", str(tmp_path))
    first = sorted(map(tuple, streaming_upsert_latest(spark, SF_TINY).collect()))
    root = _util.cache_dir(SF_TINY, "stream_upsert")
    state = os.path.join(root, "state")
    shutil.rmtree(state)
    os.makedirs(os.path.join(state, "v0"))  # a tree that was never committed
    old = [state + ".versions", state + ".commits"]
    for d in old:
        os.makedirs(os.path.join(d, "v0"))
        open(os.path.join(d, "v0", "part-0.parquet"), "w").close()

    again = sorted(map(tuple, streaming_upsert_latest(spark, SF_TINY).collect()))
    assert again == first
    assert [d for d in old if os.path.exists(d)] == []
