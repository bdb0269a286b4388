"""Property tests for algebraic operator invariants (SURVEY §5.4):
diff∘cumsum = id, leakage-guard frames exclude the current row, fillna
touches only its subset, dedup idempotence. Hypothesis generates the series;
one shared SparkSession keeps runs fast (max_examples kept small — each
example is a Spark job)."""

from __future__ import annotations

import math

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_aws_spark.operators import windows as ow
from etl_aws_spark.plans import refined

series = st.lists(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=32),
    min_size=2,
    max_size=40,
)

SET = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(spark, xs):
    return spark.createDataFrame(
        [(1, i, float(v)) for i, v in enumerate(xs)], "k long, t long, x double"
    )


@given(xs=series)
@SET
def test_diff_inverts_cumsum(spark, xs):
    w = ow.key_window("k", ["t"])
    df = _df(spark, xs).withColumn(
        "csum", F.sum("x").over(w.rowsBetween(-(1 << 30), 0))
    )
    out = ow.lag_diff(df, "csum", w, "diff").orderBy("t").toPandas()
    # diff of running sum recovers the series (first row has no lag);
    # cancellation error scales with the running-sum magnitude, so the
    # absolute tolerance must too
    atol = np.abs(np.cumsum(xs)).max() * 1e-12 + 1e-12
    np.testing.assert_allclose(
        out["diff"].to_numpy()[1:], np.array(xs)[1:], rtol=1e-9, atol=atol
    )
    assert np.isnan(out["diff"].iloc[0])


@given(xs=series)
@SET
def test_trailing_frame_excludes_current_row(spark, xs):
    w = ow.key_window("k", ["t"])
    out = (
        ow.trailing(_df(spark, xs), "x", 3, w, stats=("mean",))
        .orderBy("t")
        .toPandas()
    )
    got = out["rolling_mean_3_x"].to_numpy()
    arr = np.array(xs)
    for i in range(len(arr)):
        lo = max(0, i - 3)
        expect = arr[lo:i].mean() if i > lo else np.nan
        if np.isnan(expect):
            assert np.isnan(got[i])
        else:
            np.testing.assert_allclose(got[i], expect, rtol=1e-9)


@given(xs=series, holes=st.sets(st.integers(min_value=0, max_value=39)))
@SET
def test_fillna_touches_only_subset(spark, xs, holes):
    rows = [
        (1, i, None if i in holes else float(v), float(v))
        for i, v in enumerate(xs)
    ]
    df = spark.createDataFrame(rows, "k long, t long, a double, b double")
    out = df.fillna(0, subset=["a"]).orderBy("t").toPandas()
    assert out["a"].notna().all()
    np.testing.assert_allclose(out["b"].to_numpy(), np.array(xs), rtol=1e-9)  # untouched


@given(xs=series)
@SET
def test_dedup_idempotent_and_deterministic(spark, xs):
    # duplicate every row, then dedup on (k, t): survivor must be the first
    # by the tie-break, and re-deduping changes nothing
    df = _df(spark, xs)
    doubled = df.unionByName(df.withColumn("x", F.col("x") + 1.0))
    once = refined.dedup_last_per_key(doubled, ["k", "t"], ["x"])
    twice = refined.dedup_last_per_key(once, ["k", "t"], ["x"])
    a = once.orderBy("t").toPandas()
    b = twice.orderBy("t").toPandas()
    assert a.equals(b)
    # survivor = min x (the tie-break orders by x asc)
    np.testing.assert_allclose(
        a["x"].to_numpy(), np.minimum(np.array(xs), np.array(xs) + 1.0), rtol=1e-12
    )


budget_rows = st.lists(
    st.tuples(
        st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
        st.integers(min_value=1, max_value=50),
    ),
    min_size=1,
    max_size=30,
)


@given(rows=budget_rows, budget=st.integers(min_value=0, max_value=400))
@SET
def test_token_budget_equals_naive_prefix(spark, rows, budget):
    # two-phase bucket selection == largest prefix of the (quality desc,
    # id asc) order whose token sum fits — for ANY quality distribution
    # (ties, clusters, single bucket) and ANY budget
    from etl_aws_spark.text import curation

    data = [(i, q, t) for i, (q, t) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, q double, tok long")
    got = sorted(
        r.id for r in curation.token_budget_select(df, "id", "q", "tok", budget).collect()
    )
    cum, want = 0, []
    for i, q, t in sorted(data, key=lambda r: (-r[1], r[0])):
        cum += t
        if cum > budget:
            break
        want.append(i)
    assert got == sorted(want)


# --- r8 additions: invariants for the rewritten pair/label engines ---

edge_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=14),
        st.integers(min_value=0, max_value=14),
    ),
    min_size=0,
    max_size=25,
)


@given(edges=edge_lists)
@SET
def test_connected_components_match_union_find(spark, edges):
    """Distributed min-label CC must agree with a sequential union-find on
    arbitrary small graphs (chains, cliques, self-loops, dup edges,
    isolated vertices)."""
    from etl_aws_spark.operators.graph import connected_components

    n = 15
    parent = list(range(n))

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for s, d in edges:
        ra, rb = find(s), find(d)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # expected label = min id reachable = root after full path compression
    expected = {v: find(v) for v in range(n)}
    # roots are always the component min because we always hook max->min
    verts = spark.createDataFrame([(v,) for v in range(n)], "id long")
    edf = spark.createDataFrame(
        [(s, d) for s, d in edges] or [(0, 0)], "src long, dst long"
    )
    got = {
        r["id"]: r["component_id"]
        for r in connected_components(verts, edf, max_rounds=16).collect()
    }
    assert got == expected


vectors = st.lists(
    st.lists(
        st.floats(min_value=-8, max_value=8, allow_nan=False, width=16),
        min_size=8,
        max_size=8,
    ),
    min_size=3,
    max_size=10,
)


@given(vecs=vectors)
@SET
def test_pq_assign_codes_match_bruteforce_argmin(spark, vecs):
    """The Arrow encode kernel must pick, for every (vector, subspace),
    the codeword with minimal squared distance, code-id tie-break —
    identical to a naive python argmin over the same rounded codebook."""
    from etl_aws_spark.similarity import pq

    d_sub, k = 4, 2  # 8-dim vectors -> 2 subspaces, 2 codes (ids 0, 1)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    cb = pq.init_codebook(df, "vec_id", "embedding", d_sub, k)
    got = {
        (r["_id"], sub): (code, round(dist, 9))
        for r in pq._encode_vectors_kernel(df, "vec_id", "embedding", d_sub, cb).collect()
        for sub, (code, dist) in enumerate(zip(r["codes"], r["dists"]))
    }
    # python reference over the same rounded seeds — replays the engine's
    # nudged HALF_UP (sign(x)*1e-9 off the half boundary, then round away
    # from zero), NOT python's half-even round(): component 1.15625 must
    # give 1.1563 on both sides.
    def _r4(x):
        x = float(x)
        s = 1.0 if x > 0 else (-1.0 if x < 0 else 0.0)
        return s * math.floor(abs(x + s * 1e-9) * 1e4 + 0.5) / 1e4 + 0.0

    seeds = {}
    for ci in range(min(k, len(vecs))):
        for sub in range(2):
            seeds[(sub, ci)] = [
                _r4(x) for x in vecs[ci][sub * d_sub : (sub + 1) * d_sub]
            ]
    for i, v in enumerate(vecs):
        for sub in range(2):
            best = None
            for code in sorted(c for (s, c) in seeds if s == sub):
                acc = 0.0
                for j in range(d_sub):
                    t = float(v[sub * d_sub + j]) - seeds[(sub, code)][j]
                    acc = acc + t * t
                if best is None or acc < best[1]:
                    best = (code, acc)
            assert got[(i, sub)][0] == best[0], (i, sub, got[(i, sub)], best)
            assert abs(got[(i, sub)][1] - round(best[1], 9)) < 1e-6


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),      # group
            st.integers(min_value=1, max_value=9999),   # price cents
            st.integers(min_value=1, max_value=50),     # weight
        ),
        min_size=1,
        max_size=60,
    )
)
@SET
def test_weighted_median_histogram_equals_row_crossing(spark, rows):
    """The r10 histogram-cumsum weighted median must equal the naive
    row-level cumulative-weight crossing on arbitrary weighted data —
    the rewrite changed the plan shape, not the value."""
    import pandas as pd

    df = spark.createDataFrame(
        [(g, c / 100.0, float(w), i) for i, (g, c, w) in enumerate(rows)],
        "l_returnflag int, l_extendedprice double, l_quantity double, l_orderkey long",
    ).withColumn("l_linenumber", F.lit(0))

    # engine formulation (mirrors suite/q_aggregates.agg_weighted_median)
    from pyspark.sql import Window

    h = (
        df.select(
            "l_returnflag",
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
            F.col("l_quantity").cast("long").alias("q"),
        )
        .groupBy("l_returnflag", "cents")
        .agg(F.sum("q").alias("w"))
    )
    wp = Window.partitionBy("l_returnflag")
    c = h.select(
        "l_returnflag", "cents",
        F.sum("w").over(wp.orderBy("cents")).alias("cumw"),
        F.sum("w").over(wp).alias("totw"),
    )
    got = (
        c.filter(2 * F.col("cumw") >= F.col("totw"))
        .groupBy("l_returnflag")
        .agg((F.min("cents") / 100.0).alias("wm"))
        .toPandas()
        .set_index("l_returnflag")
        .wm.to_dict()
    )

    # naive row-level crossing in pandas
    pdf = pd.DataFrame(rows, columns=["g", "c", "w"])
    for g, grp in pdf.groupby("g"):
        s = grp.sort_values("c")
        cum = s.w.cumsum()
        half = s.w.sum() / 2.0
        expect = s.c[cum >= half].iloc[0] / 100.0
        assert math.isclose(got[g], expect), (g, got[g], expect)


# --- knn_join scoring kernel (pure pandas, no SparkSession) -----------------

@given(
    st.integers(min_value=1, max_value=9),   # n left rows
    st.integers(min_value=1, max_value=9),   # n pool rows
    st.integers(min_value=1, max_value=4),   # dim
    st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=40, deadline=None)
def test_knn_kernel_matches_scalar_fold_reference(nl, nr, dim, seed):
    import numpy as np
    import pandas as pd

    from etl_aws_spark.similarity.knn import _knn_score_kernel

    rng = np.random.RandomState(seed % 2**31)
    # low-entropy values force cosine TIES so the neighbor-id tie-break
    # is actually exercised; ids overlap so self-pairs are exercised too
    lvec = rng.choice([0.5, 1.0, 2.0], size=(nl, dim))
    rvec = rng.choice([0.5, 1.0, 2.0], size=(nr, dim))
    lid = rng.choice(np.arange(nl + nr), size=nl, replace=False).astype("int64")
    rid = rng.choice(np.arange(nl + nr), size=nr, replace=False).astype("int64")
    k = 3
    left = pd.DataFrame({"id": lid, "_vec": list(lvec)})
    right = pd.DataFrame({"neighbor_id": rid, "_bvec": list(rvec)})
    out = _knn_score_kernel(k)(left, right)

    def fold(xs):  # scalar 0.0-seeded ascending left fold
        acc = 0.0
        for x in xs:
            acc = acc + x
        return acc

    for i in range(nl):
        cands = []
        for j in range(nr):
            if rid[j] == lid[i]:
                continue
            dot = fold(lvec[i] * rvec[j])
            na = fold(lvec[i] * lvec[i]) ** 0.5
            nb = fold(rvec[j] * rvec[j]) ** 0.5
            cands.append((-(dot / (na * nb)), rid[j]))
        cands.sort()
        got = out[out.id == lid[i]].sort_values("rank")
        assert list(got.neighbor_id) == [c[1] for c in cands[:k]]
        assert list(got["cos"]) == [-c[0] for c in cands[: len(got)]]
        assert list(got["rank"]) == list(range(1, min(k, len(cands)) + 1))
