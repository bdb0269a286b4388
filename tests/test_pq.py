"""Product-quantization properties: codebook shape, Lloyd improvement,
encode validity, ADC recall on clustered data, numpy cross-check."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from etl_aws_spark.similarity import pq

DIM = 16
DSUB = 4
M = DIM // DSUB
K = 8


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.RandomState(7)
    centers = rng.randn(10, DIM) * 5
    rows = []
    for i in range(200):
        v = centers[i % 10] + rng.randn(DIM) * 0.1
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_codebook_shape_and_determinism(spark, emb):
    rows = pq.train_codebook(emb, "vec_id", "embedding", DSUB, K, iters=1)
    pdf = pd.DataFrame(rows, columns=["sub", "code", "spos", "cw"])
    # full m x k x d_sub grid survives refinement (emptied codes persist)
    assert len(pdf) == M * K * DSUB
    assert set(pdf["sub"]) == set(range(M))
    assert set(pdf.code) == set(range(K))
    assert pq.train_codebook(emb, "vec_id", "embedding", DSUB, K, iters=1) == rows


def test_encode_shape_and_code_range(spark, emb):
    enc = pq.encode(emb, "vec_id", "embedding", DSUB, K, iters=1).toPandas()
    assert len(enc) == 200 * M
    assert enc.groupby("vec_id").size().eq(M).all()
    assert enc.code.between(0, K - 1).all()
    assert (enc.sub_err >= 0).all()


def test_lloyd_refinement_reduces_error(spark, emb):
    e0 = pq.encode(emb, "vec_id", "embedding", DSUB, K, iters=0).toPandas()
    e1 = pq.encode(emb, "vec_id", "embedding", DSUB, K, iters=1).toPandas()
    # one Lloyd step must not increase total quantization error (up to the
    # 4-digit codebook rounding, which perturbs each term by < 1e-3)
    assert e1.sub_err.sum() <= e0.sub_err.sum() + 1e-3 * len(e1)


def test_assign_matches_numpy_argmin(spark, emb):
    cb = pq.init_codebook(emb, "vec_id", "embedding", DSUB, K)
    got = (
        pq._encode_vectors_kernel(emb, "vec_id", "embedding", DSUB, cb)
        .toPandas().sort_values("_id")
    )
    codes, dists = np.stack(got.codes.to_numpy()), np.stack(got.dists.to_numpy())
    pdf = emb.toPandas().sort_values("vec_id")
    X = np.array([np.array(v, dtype=np.float64) for v in pdf.embedding])
    CB = np.round(X[:K], 4)  # init codebook = rounded first-K subvectors
    for sub in range(M):
        xs = X[:, sub * DSUB : (sub + 1) * DSUB]
        cs = CB[:, sub * DSUB : (sub + 1) * DSUB]
        d = ((xs[:, None, :] - cs[None, :, :]) ** 2).sum(axis=2)
        want = d.argmin(axis=1)  # numpy argmin breaks ties low, same rule
        assert (codes[:, sub] == want).all()
        np.testing.assert_allclose(dists[:, sub], d[np.arange(len(X)), want], rtol=1e-12)


def test_adc_topk_finds_query_cluster(spark, emb):
    # PQ collapses a tight cluster to one code combination, so WITHIN the
    # cluster ADC distances tie (real systems re-rank the shortlist with
    # exact distances). The property compressed-domain search must deliver
    # is the shortlist itself: the top-k should come from the query's own
    # cluster, not a neighboring one.
    queries = emb.filter(F.col("vec_id") < 10)
    adc = pq.adc_topk(
        emb, queries, "vec_id", "embedding", DSUB, K, topk=5, iters=1
    ).toPandas()
    fractions = []
    for qid in range(10):
        neigh = adc[adc.query_id == qid].neighbor_id.to_numpy()
        fractions.append(np.mean(neigh % 10 == qid % 10))  # cluster = id % 10
    assert np.mean(fractions) >= 0.9, fractions


def test_adc_matches_numpy_table_lookup(spark, emb):
    # Cross-check the full ADC pipeline against a direct numpy replay:
    # same rounded codebook, same assignments, same table-lookup sums.
    queries = emb.filter(F.col("vec_id") < 3)
    adc = pq.adc_topk(
        emb, queries, "vec_id", "embedding", DSUB, K, topk=5, iters=0
    ).toPandas()
    pdf = emb.toPandas().sort_values("vec_id")
    X = np.array([np.array(v, dtype=np.float64) for v in pdf.embedding])
    CB = np.round(X[:K], 4)
    codes = np.empty((len(X), M), dtype=int)
    for sub in range(M):
        xs = X[:, sub * DSUB : (sub + 1) * DSUB]
        cs = CB[:, sub * DSUB : (sub + 1) * DSUB]
        codes[:, sub] = ((xs[:, None, :] - cs[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    for qid in range(3):
        table = np.empty((M, K))
        for sub in range(M):
            qs = X[qid, sub * DSUB : (sub + 1) * DSUB]
            cs = CB[:, sub * DSUB : (sub + 1) * DSUB]
            table[sub] = ((cs - qs) ** 2).sum(axis=1)
        dist = table[np.arange(M)[None, :], codes].sum(axis=1)
        want = list(np.lexsort((pdf.vec_id.to_numpy(), dist))[:5])
        got = adc[adc.query_id == qid].sort_values("rank").neighbor_id.tolist()
        assert got == [int(pdf.vec_id.iloc[i]) for i in want]


def test_adc_search_equals_adc_topk(spark, emb):
    # the split search leg against a pre-trained index must reproduce the
    # one-plan adc_topk ranking exactly (same codebook, same codes)
    queries = emb.filter(F.col("vec_id") < 3)
    rows = pq.train_codebook(emb, "vec_id", "embedding", DSUB, K, iters=1)
    codes = pq._encode_vectors_kernel(emb, "vec_id", "embedding", DSUB, rows).select(
        "_id", F.posexplode("codes").alias("sub", "code")
    )
    split = (
        pq.adc_search(
            codes, pq._cb_frame(spark, rows), queries, "vec_id", "embedding", DSUB, topk=5
        )
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    one = (
        pq.adc_topk(emb, queries, "vec_id", "embedding", DSUB, K, topk=5, iters=1)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    assert split.neighbor_id.tolist() == one.neighbor_id.tolist()
    np.testing.assert_array_equal(split.adc_dist.to_numpy(), one.adc_dist.to_numpy())


@pytest.fixture(scope="module")
def emb_lbl(spark, emb):
    # cells = the planted cluster id: the ideal coarse quantizer
    return emb.withColumn("label", (F.col("vec_id") % 10).cast("int"))


def test_ivfpq_residual_adc_finds_cluster_neighbors(spark, emb_lbl):
    queries = emb_lbl.filter(F.col("vec_id") < 3)
    out = pq.ivfpq_residual_adc_topk(
        emb_lbl, queries, "vec_id", "embedding", "label",
        dim=DIM, d_sub=DSUB, k_codes=K, n_probe=1, topk=5,
    ).toPandas()
    for qid in range(3):
        sub = out[out.query_id == qid]
        assert len(sub) == 5
        # with tight planted clusters and the true-cluster coarse
        # quantizer, every neighbor comes from the query's own cluster
        assert (sub.neighbor_id % 10 == qid % 10).all()
        assert (sub.cell == qid % 10).all()
        # the query itself is its own nearest compressed neighbor
        assert sub.sort_values("rank").neighbor_id.iloc[0] == qid


def test_ivfpq_recall_bounds_and_rollup(spark, emb_lbl):
    queries = emb_lbl.filter(F.col("vec_id") < 3)
    out = pq.ivfpq_recall_at_k(
        emb_lbl, queries, "vec_id", "embedding", "label",
        dim=DIM, d_sub=DSUB, k_codes=K, k=5, n_probe=2,
    ).toPandas()
    per_q = out[out.query_id.notna()]
    total = out[out.query_id.isna()]
    assert len(per_q) == 3 and len(total) == 1
    assert (per_q.n_true == 5).all()
    assert ((per_q.recall >= 0) & (per_q.recall <= 1)).all()
    assert total.n_hits.iloc[0] == per_q.n_hits.sum()
    # clustered fixture + true-cluster cells: the cell pruning itself
    # loses nothing, but K=8-code PQ reorders the tightly-packed
    # within-cluster neighbors — recall well above chance, not perfect
    assert total.recall.iloc[0] >= 0.5


def test_persisted_index_equals_fresh_train(spark, emb, tmp_path, monkeypatch):
    # the at-rest artifacts of similarity_pq_index_adc_search are exactly a
    # fresh train_codebook (codebook/) and a fresh encode's codes (codes/)
    from etl_aws_spark.registry import all_queries
    from etl_aws_spark.suite import _util
    from etl_aws_spark.suite.q_similarity import _PQ_DSUB, _PQ_K

    sf = str(tmp_path / "data")
    emb.write.parquet(f"{sf}/embeddings.parquet")
    monkeypatch.setattr(_util, "_CACHE_ROOT", str(tmp_path / "cache"))
    all_queries()["similarity_pq_index_adc_search"](spark, sf).collect()
    index = _util.cache_dir(sf, "pq_index")
    assert index.startswith(str(tmp_path / "cache"))

    cb_at_rest = sorted(
        tuple(r) for r in spark.read.parquet(f"{index}/codebook")
        .select("sub", "code", "spos", "cw").collect()
    )
    assert cb_at_rest == pq.train_codebook(emb, "vec_id", "embedding", _PQ_DSUB, _PQ_K)

    codes_at_rest = sorted(
        tuple(r) for r in spark.read.parquet(f"{index}/codes")
        .select("_id", "sub", "code").collect()
    )
    fresh = sorted(
        tuple(r) for r in pq.encode(emb, "vec_id", "embedding", _PQ_DSUB, _PQ_K)
        .select("vec_id", "sub", "code").collect()
    )
    assert codes_at_rest == fresh
    assert len(fresh) == 200 * (DIM // _PQ_DSUB)
