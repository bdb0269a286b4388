"""Distributed PCA: covariance via per-partition partial Grams, top
principal component via relational power iteration.

The 100 TB shape: the corpus is touched ONCE — each Arrow batch reduces
to a d×d partial Gram (``X.T @ X``), per-dimension sums, and a row count,
so the shuffle carries O(partitions · d²) scalars regardless of corpus
size, the same contract as `embedding_label_centroids`. Everything after
that aggregate operates on the d²-row covariance frame: power iteration
is d²-row matrix-vector joins (localCheckpoint keeps per-round lineage
flat, as `operators/graph.py pagerank` does), never touching the corpus
again.

Determinism: both engines sum floats in different orders, so the
covariance is nudge-rounded to 8 decimals BEFORE iterating and every
iterate is nudge-rounded identically on both sides (the SCALE.md §8
half-boundary bridge); from the rounded covariance onward the two
replays are exact mirrors. The start vector is the constant 1/8 — exact
in binary for d = 64 — and power iteration preserves it
deterministically, so there is no sign ambiguity.

Reference analogue: none (the reference's sklearn pipeline has no
dimensionality reduction); extension tier per SURVEY §2.13.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_aws_spark.functions import rnd_nudged


def gram_components(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Reduce a vector corpus to its second-moment components in ONE pass:
    rows ``(i, j, g)`` with j ≥ 0 holding the Gram entry Σ xᵢxⱼ, j = −1
    holding the per-dimension sum Σ xᵢ, and (−1, −1) the row count."""
    raw = df.select(vec_col)

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            G = X.T @ X
            idx = np.arange(dim)
            ii, jj = np.meshgrid(idx, idx, indexing="ij")
            yield pd.DataFrame(
                {"i": ii.ravel(), "j": jj.ravel(), "g": G.ravel()}
            )
            yield pd.DataFrame({"i": idx, "j": -1, "g": X.sum(axis=0)})
            yield pd.DataFrame({"i": [-1], "j": [-1], "g": [float(len(X))]})

    parts = raw.mapInPandas(gen, "i int, j int, g double")
    return parts.groupBy("i", "j").agg(F.sum("g").alias("g"))


def covariance_matrix(components: DataFrame) -> DataFrame:
    """Assemble the nudge-rounded covariance frame ``(i, j, cv)`` from
    :func:`gram_components` output: C = G/N − μμᵀ, rounded to 8 decimals
    so downstream iteration is engine-exact."""
    nv = components.filter(F.col("i") == -1).select(
        F.col("g").alias("nv")
    )
    mu = components.filter((F.col("j") == -1) & (F.col("i") >= 0))
    sa = mu.select(F.col("i").alias("i"), F.col("g").alias("sa"))
    sb = mu.select(F.col("i").alias("j"), F.col("g").alias("sb"))
    gram = components.filter(F.col("j") >= 0)
    raw_cv = (
        F.col("g") / F.col("nv")
        - (F.col("sa") / F.col("nv")) * (F.col("sb") / F.col("nv"))
    )
    return (
        gram.join(F.broadcast(sa), "i")
        .join(F.broadcast(sb), "j")
        .crossJoin(F.broadcast(nv))
        .select("i", "j", rnd_nudged(raw_cv, 8).alias("cv"))
    )


def top_component(df: DataFrame, vec_col: str, dim: int, iters: int = 6) -> DataFrame:
    """Top principal component by ``iters`` rounds of power iteration on
    the rounded covariance; returns ``(pos, loading, eigenvalue)`` — the
    loading vector plus the Rayleigh-quotient eigenvalue estimate
    (repeated per row; the registry bans complex-typed outputs)."""
    cmat = covariance_matrix(
        gram_components(df, vec_col, dim)
    ).localCheckpoint(eager=True)
    v = cmat.select("i").distinct().select(
        F.col("i").alias("pos"), F.lit(1.0 / 8.0).alias("val")
    )
    # The iteration's sums accumulate in FIXED-POINT int64 (products
    # rounded to the 1e-14 grid) so the distributed sum is exact and
    # order-independent: |terms| ≤ d·1e14 = 6.4e15 < 2^53, hence both
    # engines — whatever their summation order — produce bit-identical
    # iterates, and a digit-level rounding flip can never occur mid-
    # iteration (a plain float sum measurably flipped one loading ulp).
    scale = F.lit(1e14)
    for _ in range(iters):
        w = (
            cmat.join(v, cmat["j"] == v["pos"])
            .groupBy("i")
            .agg(
                (
                    F.sum(F.round(F.col("cv") * F.col("val") * scale).cast("long"))
                    .cast("double")
                    / scale
                ).alias("w")
            )
        )
        nrm = w.agg(
            F.sqrt(
                F.sum(F.round(F.col("w") * F.col("w") * scale).cast("long"))
                .cast("double")
                / scale
            ).alias("nm")
        )
        v = (
            w.crossJoin(F.broadcast(nrm))
            .select(
                F.col("i").alias("pos"),
                rnd_nudged(F.col("w") / F.col("nm"), 8).alias("val"),
            )
            .localCheckpoint(eager=True)
        )
    vi = v.select(F.col("pos").alias("i"), F.col("val").alias("vi"))
    vj = v.select(F.col("pos").alias("j"), F.col("val").alias("vj"))
    lam = (
        cmat.join(vi, "i")
        .join(vj, "j")
        .agg(
            (
                F.round(
                    F.sum(
                        F.round(
                            F.col("cv") * F.col("vi") * F.col("vj") * F.lit(1e12)
                        ).cast("long")
                    ).cast("double")
                    / F.lit(1e12),
                    6,
                )
                + F.lit(0.0)
            ).alias("eigenvalue")
        )
    )
    return v.crossJoin(F.broadcast(lam)).select(
        F.col("pos").cast("int").alias("pos"),
        F.col("val").alias("loading"),
        "eigenvalue",
    )
