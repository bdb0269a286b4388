"""Product quantization (PQ) — the compressed-domain ANN path beyond
scalar int8 quantization.

PQ splits each ``dim``-dimensional vector into ``m`` subvectors of
``dim/m`` components, learns a small codebook per subspace (Lloyd
refinement of a sampled init), and stores each vector as ``m`` small
integer codes — 64 doubles become 8 bytes here. Search runs in the
compressed domain via asymmetric distance computation (ADC): a query
precomputes its distance to every codeword once (an ``m × k`` lookup
table), and each corpus vector's approximate distance is the sum of
``m`` table lookups — no original vectors are ever touched at scan time.
Reference analogue: the notebooks' feature-compression prep
(`src/preprocessing/preprocessing.py` scaling blocks) has no ANN path;
this is the §2.13 extension tier (SURVEY.md) built from the public PQ
literature (Jégou et al., TPAMI 2011).

Scale shape (100 TB): the corpus is never shuffled. Encoding runs as
one Arrow kernel (``mapInPandas``) over the scan with the collected
codebook in its closure, so a vector's ``m`` codes come out of the
partition it was read in. Codebooks are ``m·k·(dim/m)`` doubles (1 KiB
here), collected as driver model state and re-entered as local frames.
Training cost is the inherent PQ ``N·dim·k`` codeword-evaluation
product, executed by the same kernel, and each Lloyd recompute shuffles
only map-side-combined ``(sub, code, spos)`` partial means. ADC search
shuffles ``(query, neighbor, dist)`` triples only, and the per-query
distance tables (``|Q|·m·k`` entries) are broadcast.

Determinism contract (FIXTURES.md §C): codebook components are rounded
to 4 digits (the rounded codebook IS the index artifact, exactly as in
:func:`knn.label_centroids`); every distance is an ascending-``spos``
(or ascending-``sub``) left fold starting from 0.0, bit-identical to the
DuckDB ``list_reduce(list_prepend(0.0, list(... ORDER BY ...)))``
mirror; argmin ties break to the lower code id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_aws_spark.functions import rnd_nudged


def init_codebook(
    df: DataFrame, id_col: str, vec_col: str, d_sub: int, k: int, round_digits: int = 4
) -> DataFrame:
    """Sampled-init codebook ``(sub, code, spos, cw)``: codeword ``j`` of
    every subspace is vector ``j``'s subvector (ids ``< k``), components
    nudge-rounded (the one rounding site that previously lacked the house
    half-boundary bridge — closed in r9 after a Hypothesis property test
    caught an exact-half divergence). Deterministic by construction — the
    standard sample-init Lloyd seeds."""
    return df.filter(F.col(id_col) < k).select(
        F.col(id_col).cast("int").alias("code"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("_pos", "val"),
    ).select(
        F.expr("_pos div %d" % d_sub).cast("int").alias("sub"),
        "code",
        (F.col("_pos") % d_sub).cast("int").alias("spos"),
        rnd_nudged(F.col("val"), round_digits).alias("cw"),
    )


def _fold_sq_l2(a: str, b: str) -> str:
    """Squared-L2 between two DOUBLE arrays as the ascending-index left
    fold from 0.0 — bit-identical to the DuckDB ``list_reduce`` mirror
    (``zip_with`` + ``aggregate`` both walk index order)."""
    return (
        f"aggregate(zip_with({a}, {b}, (a, b) -> (a - b) * (a - b)), "
        f"cast(0.0 as double), (acc, x) -> acc + x)"
    )


def _cb_matrix(codebook: DataFrame) -> DataFrame:
    """The whole codebook as ONE broadcastable row
    ``(cbmat: array[sub] of array<struct<code, cwvec>>)``, built in a
    single global aggregate (one SinglePartition exchange — no
    hashpartitioning) with the nesting done by array expressions over the
    (sub, code, spos)-sorted component list."""
    flat = codebook.groupBy().agg(
        F.expr("array_sort(collect_list(struct(sub, code, spos, cw)))").alias("_flat")
    )
    return flat.select(
        F.expr(
            """
            transform(
              array_distinct(transform(_flat, x -> x.sub)),
              s -> transform(
                array_distinct(transform(filter(_flat, x -> x.sub = s), x -> x.code)),
                cd -> named_struct(
                  'code', cd,
                  'cwvec', transform(filter(_flat, x -> x.sub = s and x.code = cd),
                                     x -> x.cw))))
            """
        ).alias("cbmat")
    )


def _scaled(df: DataFrame) -> DataFrame:
    """Scale-adaptive corpus parallelism: the r13 shuffle-free PQ chains
    inherit the SCAN's split count, so a gate-SF corpus (one small file →
    one split) would run every downstream kernel and ADC fold on one
    task. See :func:`etl_aws_spark.operators.scale.fan_out_small_scan` —
    a guaranteed no-op at scale.

    The PQ kernel/fold family is the LIGHTEST per-byte consumer of the
    fan-out (vectorized NumPy over packed arrays, ~0.3-0.5 ms/KB vs the
    ≥1 ms/KB HOF-fold class), so it takes a 2x coarser byte floor: the
    r14 c8/c32 paired sweep measured width 8 beating width 13 beating
    width 32 on all three PQ headline queries at 32 cores (each extra
    kernel task costs an Arrow eval floor that outweighs its share of
    the math at gate SFs)."""
    from etl_aws_spark.operators.scale import fan_out_small_scan

    return fan_out_small_scan(df, 128 * 1024)


def _zero_key(col: Column) -> Column:
    """A constant-valued (always 0) but NON-foldable int key:
    ``least(size(col), 0)`` is always 0 (size of a non-null collection is
    >= 0) yet no Catalyst rule can prove it, so a join on two such keys
    keeps its equi-condition and plans as a BroadcastHashJoin instead of
    a nested-loop. (``size(col) * 0`` does NOT work — Catalyst folds
    multiply-by-zero over non-nullable children.) Key off a CHEAP column
    (a scan attribute), never a derived array, or CollapseProject
    duplicates the derivation into the key."""
    return F.least(F.size(col), F.lit(0))


def _zero_key_scalar(col: Column) -> Column:
    """:func:`_zero_key` for scalar columns: ``least(length(string(col)),
    0)`` — length is always >= 0, so the key is always 0 and still
    non-foldable."""
    return F.least(F.length(col.cast("string")), F.lit(0))


def _fanout_join(left: DataFrame, right: DataFrame, lkey: Column, rkey: Column) -> DataFrame:
    """All-pairs attach of a small broadcast frame via an equi-join on
    constant-valued non-foldable keys on BOTH sides (see :func:`_zero_key`)
    — a BroadcastHashJoin fan-out, never a cartesian."""
    return (
        left.withColumn("_j", lkey)
        .join(F.broadcast(right.withColumn("_j", rkey)), "_j")
        .drop("_j")
    )


# codes are < k <= _DT_STRIDE always (k is 16 in every caller), so
# sub * _DT_STRIDE + code is collision-free as a flat table key.
_DT_STRIDE = 1024


def _cb_rows(codebook) -> list[tuple]:
    """The codebook as driver-side MODEL STATE: collected (sub, code,
    spos, cw) tuples in deterministic (sub, code, spos) order. A codebook
    is m·k·d_sub rounded doubles (~1 KiB) — the same bounded k·dim class
    `knn.kmeans_iterate` already collects between Lloyd iterations, never
    corpus-sized. Accepts an already-collected list and passes it
    through, so a caller can materialize once and feed several
    consumers."""
    if isinstance(codebook, list):
        return codebook
    return sorted(
        (r[0], r[1], r[2], r[3])
        for r in codebook.select("sub", "code", "spos", "cw").collect()
    )


def _cb_arrays(rows: list[tuple]) -> list[tuple]:
    """``_cb_rows`` output as per-subspace numpy pairs
    ``(code_ids int32, codewords float64[k, d_sub])``, codes ascending —
    the closure shape :func:`_pq_assign_kernel` consumes."""
    import numpy as np

    subs: dict[int, dict[int, list[float]]] = {}
    for sub, code, _spos, cw in rows:  # rows already (sub, code, spos)-sorted
        subs.setdefault(sub, {}).setdefault(code, []).append(cw)
    out = []
    for s in sorted(subs):
        cids = sorted(subs[s])
        out.append(
            (
                np.array(cids, dtype=np.int32),
                np.array([subs[s][c] for c in cids], dtype=np.float64),
            )
        )
    return out


def _cb_frame(spark, rows: list[tuple]) -> DataFrame:
    """``_cb_rows`` output back as a codebook frame for the JVM
    distance-table builders, with no training lineage left to replay.
    MUST convert through pandas/Arrow: ``createDataFrame(list)`` builds a
    pickled ParallelCollectionRDD whose every scan runs Python workers
    per task (measured 2.1–2.4 s worker init per task in every consumer
    stage); the Arrow path lands the rows JVM-side."""
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["sub", "code", "spos", "cw"])
    return spark.createDataFrame(pdf, "sub int, code int, spos int, cw double")


def _pq_assign_kernel(d_sub: int, CB: list[tuple], keep_vec: bool = False):
    """Vectorized nearest-codeword assignment (guide §4.2: batch work in
    native code behind the Arrow boundary): per batch, one numpy
    broadcast-subtract + square per subspace with the exact 0.0-seeded
    ascending ``cumsum`` left fold (sequential by definition — bit-equal
    to the ``zip_with``/``aggregate`` fold and the DuckDB mirror), argmin
    ties to the first (= lowest code; codeword rows are code-sorted).
    ``CB`` (:func:`_cb_arrays`) rides the function closure — shipped once
    per task with the serialized command, NOT as a nested Arrow column on
    every input row (the r13-early fan-out join paid a per-row
    nested-struct→pandas conversion that dominated the stage). Module-
    level factory so the kernel is unit-testable without a session."""

    def kern(batches):
        import numpy as np
        import pandas as pd

        for batch in batches:
            if len(batch) == 0:
                continue
            X = np.stack(batch["_invec"].to_numpy()).astype(np.float64)
            n = len(X)
            codes_out = np.empty((n, len(CB)), dtype=np.int32)
            dists_out = np.empty((n, len(CB)), dtype=np.float64)
            for s, (cids, cw) in enumerate(CB):
                sub = X[:, s * d_sub : (s + 1) * d_sub]
                sq = sub[:, None, :] - cw[None, :, :]
                sq *= sq
                sq[..., 0] = 0.0 + sq[..., 0]  # fold seed normalizes -0.0
                dist = np.cumsum(sq, axis=-1)[..., -1]
                am = np.argmin(dist, axis=1)
                codes_out[:, s] = cids[am]
                dists_out[:, s] = dist[np.arange(n), am]
            drop = () if keep_vec else ("_invec",)
            out = {c: batch[c] for c in batch.columns if c not in drop}
            out["codes"] = list(codes_out)
            out["dists"] = list(dists_out)
            yield pd.DataFrame(out)

    return kern


def _encode_vectors_kernel(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    d_sub: int,
    codebook,
    keep_cols: list[str] | None = None,
    keep_vec: bool = False,
) -> DataFrame:
    """Run :func:`_pq_assign_kernel` over the corpus with the collected
    codebook in the closure: returns ``(_id, [keeps], [_invec],
    codes array<int>, dists array<double>)`` with no shuffle and no
    per-row codebook payload; the Python node also acts as the optimizer
    barrier that keeps downstream folds from re-inlining the encode work.
    ``codebook`` is a (sub, code, spos, cw) frame or an already-collected
    ``_cb_rows`` list."""
    keep = list(keep_cols or [])
    CB = _cb_arrays(_cb_rows(codebook))
    src = df.select(
        F.col(id_col).alias("_id"),
        *[F.col(c) for c in keep],
        F.col(vec_col).cast("array<double>").alias("_invec"),
    )
    id_type = df.schema[id_col].dataType.simpleString()
    keep_schema = "".join(
        f"{c} {df.schema[c].dataType.simpleString()}, " for c in keep
    )
    vec_part = "_invec array<double>, " if keep_vec else ""
    schema = (
        f"_id {id_type}, {keep_schema}{vec_part}"
        "codes array<int>, dists array<double>"
    )
    return src.mapInPandas(_pq_assign_kernel(d_sub, CB, keep_vec), schema)


def _query_dtables(
    queries: DataFrame,
    codebook: DataFrame,
    id_col: str,
    vec_col: str,
    d_sub: int,
) -> DataFrame:
    """Per-query ADC distance tables as ONE map column
    ``(query_id, dt: map<sub·stride + code, ddist>)``, built at the vector
    level from the broadcast codebook matrix — zero exchanges, replacing
    the |Q|·m·k scalar-row aggregate. Each ``ddist`` is the identical
    ascending-``spos`` left fold from 0.0."""
    entries = (
        f"flatten(transform(sequence(0, int(size({vec_col}) div {d_sub}) - 1), s -> "
        f"transform(cbmat[s], c -> named_struct('key', s * {_DT_STRIDE} + c.code, "
        "'value', "
        + _fold_sq_l2(
            f"slice(cast({vec_col} as array<double>), s * {d_sub} + 1, {d_sub})",
            "c.cwvec",
        )
        + "))))"
    )
    return _fanout_join(
        queries, _cb_matrix(codebook), _zero_key(F.col(vec_col)), _zero_key(F.col("cbmat"))
    ).select(
        F.col(id_col).alias("query_id"),
        F.expr(f"map_from_entries({entries})").alias("dt"),
    )


# Ascending-sub ADC left fold from 0.0 over the broadcast table — the
# same summation the scored-stage collect_list fold performed, now
# map-side (dt is dense over the codebook, so no lookup can miss).
# The fold iterates the codes ARRAY itself (sub index carried in the
# accumulator) so the array expression is referenced exactly once:
# indexing codes[s] inside the lambda would let CollapseProject re-inline
# the whole encode expression once PER ELEMENT (the known
# staged-column-in-HOF re-evaluation trap).
_ADC_FOLD = (
    "aggregate(codes, named_struct('acc', cast(0.0 as double), 's', 0), "
    f"(st, c) -> named_struct('acc', st.acc + dt[st.s * {_DT_STRIDE} + c], "
    "'s', st.s + 1)).acc"
)


def _refine_kernel(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    d_sub: int,
    codebook: DataFrame,
    round_digits: int = 4,
) -> DataFrame:
    """One Lloyd recompute driven by the vectorized assignment kernel:
    members explode back to (sub, code, spos, val) scalar rows via two
    Generate passes (codegen'd — no k-factor work), and the means shuffle
    only partial (sub, code, spos) aggregates (avg is map-side
    combinable) — O(partitions · m·k·d_sub) exchanged rows instead of the
    old N·dim-row assigned⋈parts join (guide §2.3: aggregate before you
    shuffle). Emptied codewords keep their previous position. The input
    codebook is collected once (driver model state) and re-enters the
    output plan as a LocalRelation, so the pre-refinement lineage is
    never replayed."""
    rows = _cb_rows(codebook)
    enc = _encode_vectors_kernel(
        df, id_col, vec_col, d_sub, rows, keep_vec=True
    )
    members = enc.select(
        F.posexplode("codes").alias("sub", "code"), "_invec"
    ).select(
        "sub",
        "code",
        F.posexplode(F.expr(f"slice(_invec, sub * {d_sub} + 1, {d_sub})")).alias(
            "spos", "val"
        ),
    )
    means = members.groupBy("sub", "code", "spos").agg(
        rnd_nudged(F.avg("val"), round_digits).alias("cw_new")
    )
    return _cb_frame(df.sparkSession, rows).join(
        means, ["sub", "code", "spos"], "left"
    ).select("sub", "code", "spos", F.coalesce("cw_new", "cw").alias("cw"))


def train_codebook(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    d_sub: int,
    k: int,
    iters: int = 1,
    round_digits: int = 4,
) -> list[tuple]:
    """Sample-init + ``iters`` Lloyd refinements per subspace (all
    subspaces train in ONE relational plan — the subspace id is just a
    grouping column, not a loop). Returns the collected codebook, the
    :func:`_cb_rows` list every consumer takes: the encode kernel's
    closure, :func:`_cb_frame` for the distance-table leg, or the
    persisted ``codebook/`` artifact."""
    cb = init_codebook(df, id_col, vec_col, d_sub, k, round_digits)
    for _ in range(iters):
        cb = _refine_kernel(df, id_col, vec_col, d_sub, cb, round_digits)
    return _cb_rows(cb)


def encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    d_sub: int,
    k: int,
    iters: int = 1,
    round_digits: int = 4,
    err_digits: int = 6,
) -> DataFrame:
    """Train and encode: ``(vec_id, sub, code, sub_err)`` — one row per
    (vector, subspace); ``sub_err`` is the squared reconstruction error of
    the chosen codeword (the quantity PQ training minimizes)."""
    df = _scaled(df)
    rows = train_codebook(df, id_col, vec_col, d_sub, k, iters, round_digits)
    enc = _encode_vectors_kernel(df, id_col, vec_col, d_sub, rows)
    return enc.select(
        F.col("_id").alias("vec_id"),
        F.posexplode(F.arrays_zip("codes", "dists")).alias("sub", "_z"),
    ).select(
        "vec_id",
        "sub",
        F.col("_z.codes").alias("code"),
        (F.round(F.col("_z.dists"), err_digits) + F.lit(0.0)).alias("sub_err"),
    )


def adc_search(
    codes: DataFrame,
    codebook: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    d_sub: int,
    topk: int = 10,
) -> DataFrame:
    """The search-only ADC leg against an EXISTING index: ``codes``
    is ``(_id, sub, code)`` (the compressed corpus, typically read from a
    persisted parquet artifact), ``codebook`` is ``(sub, code, spos, cw)``
    with already-rounded components. Exactly two shuffles: packing the
    persisted codes into per-vector arrays, and the top-k window — the
    per-query distance tables build shuffle-free at the vector level and
    broadcast, and the ADC fold runs map-side over them. Returns
    ``(query_id, neighbor_id, adc_dist, rank)`` with rank <= topk."""
    codes_vec = codes.groupBy("_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(sub, code))), s -> s.code)"
        ).alias("codes")
    )
    return _adc_rank(codes_vec, codebook, queries, id_col, vec_col, d_sub, topk)


def _adc_rank(
    codes_vec: DataFrame,
    codebook: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    d_sub: int,
    topk: int,
) -> DataFrame:
    """ADC scoring over per-vector code arrays: the per-query distance
    tables attach via a constant-key BroadcastHashJoin (a pure fan-out —
    exactly the |Q|-way pairing the old (sub, code) join produced, with
    m× fewer intermediate rows), the ascending-``sub`` fold runs map-side,
    and only (query, neighbor, dist) scalars reach the top-k window."""
    dt = _query_dtables(queries, codebook, id_col, vec_col, d_sub)
    scored = _fanout_join(
        codes_vec, dt, _zero_key_scalar(F.col("_id")), _zero_key_scalar(F.col("query_id"))
    ).select(
        "query_id",
        F.col("_id").alias("neighbor_id"),
        F.expr(_ADC_FOLD).alias("adc_dist"),
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


def ivfpq_residual_adc_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    dim: int,
    d_sub: int,
    k_codes: int,
    n_probe: int = 2,
    topk: int = 10,
    round_digits: int = 4,
) -> DataFrame:
    """IVF + PQ on residuals with asymmetric distance — the IVFADC
    architecture (Jégou et al., TPAMI 2011 §IV), the layout every
    billion-vector ANN service ships: a coarse quantizer (the per-label
    centroids) prunes the corpus to ``n_probe`` cells per query, and a
    single product quantizer trained on CENTERED residuals (v − c(v))
    compresses what remains. Residuals concentrate near 0 regardless of
    which cell a vector lives in, so one shared codebook quantizes them
    far better than raw vectors — the reason IVFADC beats flat ADC at
    equal bits.

    Scale shape: the corpus is touched as (id, sub, code) scalars only;
    per (query, probed cell) a fresh m×k distance table is built from the
    QUERY's residual against that cell (|Q|·n_probe·m·k rows — broadcast);
    candidate scoring joins codes to tables on (cell, sub, code) so a
    vector is only ever scored inside its own cell. Probing is a
    |Q|·n_cells centroid-distance aggregate — never a corpus scan.

    Determinism: centroids and codebook components rounded (the artifact
    convention); every distance an ascending-(spos|sub) left fold;
    probe ties break to the lower label, argmin ties to the lower code.
    Returns (query_id, cell, neighbor_id, adc_dist, rank).
    """
    from etl_aws_spark.similarity import knn

    embeddings = _scaled(embeddings)
    comp = knn.label_centroid_components(embeddings, label_col, vec_col, round_digits)
    # centroids packed per cell — the coarse-quantizer artifact, tiny
    # (n_cells·dim rounded doubles) and multi-referenced (residuals,
    # probing, query residuals): collected ONCE as driver model state and
    # re-entered as an Arrow-local frame, so every corpus pass is a
    # parquet scan + broadcast zip_with against a LocalTableScan, nothing
    # corpus-sized is ever materialized, and no consumer can replay the
    # centroid aggregate (guide §2.4, §5).
    import pandas as pd

    cent_rows = sorted(
        (r[0], list(r[1]))
        for r in comp.groupBy("label")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, val))), s -> s.val)"
            ).alias("cvec")
        )
        .collect()
    )
    lbl_type = embeddings.schema[label_col].dataType.simpleString()
    cent = embeddings.sparkSession.createDataFrame(
        pd.DataFrame(cent_rows, columns=["label", "cvec"]),
        f"label {lbl_type}, cvec array<double>",
    )
    resid = (
        embeddings.select(
            F.col(id_col).alias("_id"),
            F.col(label_col).alias("label"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
        .join(F.broadcast(cent), "label")
        .select(
            "_id", "label", F.expr("zip_with(_v, cvec, (a, b) -> a - b)").alias("rvec")
        )
    )
    # the refined codebook is collected once (driver model state): the
    # encode kernel takes its closure form, the distance-table leg a
    # LocalRelation
    cb_rows = train_codebook(resid, "_id", "rvec", d_sub, k_codes, round_digits=round_digits)
    cb = _cb_frame(embeddings.sparkSession, cb_rows)
    # per-vector residual codes, label carried through — no codes⋈labels join
    codes_vec = _encode_vectors_kernel(
        resid, "_id", "rvec", d_sub, cb_rows, keep_cols=["label"]
    ).select("_id", "label", "codes")

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("_q")
    )
    # coarse probe: ascending-pos fold of (q - c)^2 per (query, cell),
    # computed as one zip_with fold per (query, cell) pair
    cell_d = _fanout_join(
        q, cent, _zero_key(F.col("_q")), _zero_key(F.col("cvec"))
    ).select(
        "query_id", "label", F.expr(_fold_sq_l2("_q", "cvec")).alias("l2")
    )
    wp = Window.partitionBy("query_id").orderBy(F.asc("l2"), F.asc("label"))
    probes = (
        cell_d.withColumn("_pr", F.row_number().over(wp))
        .filter(F.col("_pr") <= n_probe)
        .select("query_id", "label")
    )
    # query residual vs each probed cell, then that cell's distance table
    # (vector-level, shuffle-free past the tiny probe window)
    qr = (
        probes.join(q, "query_id")
        .join(F.broadcast(cent), "label")
        .select(
            "query_id", "label",
            F.expr("zip_with(_q, cvec, (a, b) -> a - b)").alias("rq"),
        )
    )
    dt = _query_dtables(
        qr.select(F.struct("query_id", "label").alias("qkey"), "rq"),
        cb, "qkey", "rq", d_sub,
    ).select(
        F.col("query_id.query_id").alias("query_id"),
        F.col("query_id.label").alias("label"),
        "dt",
    )
    # in-cell ADC: codes meet only their own cell's probed tables via a
    # broadcast join on label; the fold is map-side, and only candidate
    # (query, neighbor, dist) scalars reach the top-k window
    scored = codes_vec.join(F.broadcast(dt), "label").select(
        "query_id",
        "label",
        F.col("_id").alias("neighbor_id"),
        F.expr(_ADC_FOLD).alias("adc_dist"),
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(
            "query_id",
            F.col("label").alias("cell"),
            "neighbor_id",
            "adc_dist",
            "rank",
        )
    )


def brute_l2_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int,
) -> DataFrame:
    """Exact squared-L2 top-k — the ground truth the IVFADC path
    approximates (IVFADC minimizes L2 in the residual domain, so recall
    must be judged against the L2 ranking, not cosine). Queries broadcast,
    corpus never shuffles; the distance is the ascending-index
    :func:`knn._fold_l2` fold, bit-identical to the oracle's list fold."""
    from etl_aws_spark.similarity import knn

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    scored = embeddings.crossJoin(F.broadcast(q)).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.expr(knn._fold_l2(vec_col, "_qvec", dim)).alias("l2"),
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("l2"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "l2", "rank")
    )


def ivfpq_recall_at_k(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    dim: int,
    d_sub: int,
    k_codes: int,
    k: int = 10,
    n_probe: int = 2,
) -> DataFrame:
    """Recall@k of :func:`ivfpq_residual_adc_topk` against the exact
    :func:`brute_l2_topk` truth — measures BOTH approximation sources at
    once (cell pruning can miss a cross-cell neighbor; PQ quantization can
    reorder close ones), the accuracy half of the compression/probe knobs.
    One row per query (n_hits, n_true, recall) plus the ROLLUP mean row.
    Both sides are |queries|·k frames, so the join is trivial at any
    corpus size."""
    exact = brute_l2_topk(embeddings, queries, id_col, vec_col, dim, k).select(
        "query_id", "neighbor_id"
    )
    approx = ivfpq_residual_adc_topk(
        embeddings, queries, id_col, vec_col, label_col,
        dim=dim, d_sub=d_sub, k_codes=k_codes, n_probe=n_probe, topk=k,
    ).select("query_id", "neighbor_id", F.lit(1).alias("_hit"))
    marked = exact.join(F.broadcast(approx), ["query_id", "neighbor_id"], "left")
    return (
        marked.rollup("query_id")
        .agg(
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("bigint").alias("n_hits"),
            F.count(F.lit(1)).alias("n_true"),
        )
        .select(
            "query_id",
            "n_hits",
            "n_true",
            (F.col("n_hits") / F.col("n_true")).alias("recall"),
        )
    )


def adc_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    d_sub: int,
    k_codes: int,
    topk: int = 10,
    iters: int = 1,
    round_digits: int = 4,
) -> DataFrame:
    """Asymmetric-distance top-k in the compressed domain: queries keep
    their raw vectors, the corpus is only its PQ codes. The per-query
    distance table (|Q|·m·k rows — 640 here) is built once and broadcast;
    each corpus vector's approximate distance is the ascending-``sub``
    fold of its m table lookups. Trains in the same plan; for the
    train-once / search-many shape, persist :func:`train_codebook`'s
    rows and their :func:`_encode_vectors_kernel` codes (as
    ``similarity_pq_index_adc_search`` does) and call :func:`adc_search`.
    Returns ``(query_id, neighbor_id, adc_dist, rank)`` with rank <= topk."""
    df = _scaled(df)
    # The trained codebook (m·k·d_sub rows, ~1k) is referenced by BOTH the
    # corpus-encoding leg and the query distance-table leg; it comes back
    # collected ONCE (driver model state, one tiny job over the training
    # plan): the encode kernel takes its closure form and the
    # distance-table leg a LocalRelation, so no consumer can replay the
    # training subtree.
    rows = train_codebook(df, id_col, vec_col, d_sub, k_codes, iters, round_digits)
    codes_vec = _encode_vectors_kernel(df, id_col, vec_col, d_sub, rows).select(
        "_id", "codes"
    )
    return _adc_rank(
        codes_vec, _cb_frame(df.sparkSession, rows), queries, id_col, vec_col,
        d_sub, topk,
    )
