"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

All hash math is generated by `_dialect.py` so the DuckDB oracles replay it
exactly. Canonicalization policy is deterministic everywhere: the survivor
of a duplicate group is the **minimum id**.

Scale notes (100 TB posture):
- Signatures (minhash components, simhash, band keys) are per-row HOF
  expressions — linear scan, zero shuffle, whole-stage codegen.
- LSH banding shuffles only ``(band_key, id)`` — never text — and the
  per-bucket reduction is a map-side-combinable ``min``.
- Verified-pair stages join candidates only (bucket-mates), not the cross
  product; the token-set payload rides along as an array column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_aws_spark.text import _dialect as D


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate detection on normalized text (lower/trim/collapsed
    whitespace), md5-keyed. Adds ``canonical_id`` (min id among identical
    texts) and ``is_dup``.

    The group key is the 128-bit digest, not the text — the shuffle payload
    is 32 bytes/row regardless of document size.
    """
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    hashed = df.withColumn("_h", F.md5(norm))
    w = Window.partitionBy("_h")
    return (
        hashed.withColumn("canonical_id", F.min(id_col).over(w))
        .withColumn("is_dup", (F.col(id_col) != F.col("canonical_id")).cast("int"))
        .drop("_h")
    )


def minhash_signature(df: DataFrame, id_col: str, text_col: str, num_hashes: int = 16) -> DataFrame:
    """(id, mh0..mh{n-1}) MinHash signatures via the universal-hash
    permutation family: tokens explode to narrow (id, base_hash) rows — ONE
    md5 per distinct token — and the n components are min-aggregates of
    cheap linear permutations (a_i·h+b_i mod p).

    This is the scale shape: the shuffle carries 16 bytes/row and the mins
    partial-combine map-side, so the exchange is ~|docs|×n values. The
    alternative (n salted hashes folded per row, `_dialect.minhash`) is
    shuffle-free but does n× the hashing — measured 20× slower at n=16."""
    base = df.select(
        id_col,
        F.explode(F.expr(D.distinct_tokens(text_col, D.SPARK))).alias("_tok"),
    ).select(id_col, F.expr(D.token_base_hash("_tok", D.SPARK)).alias("_h"))
    aggs = [
        F.expr(D.perm_min("_h", a, b)).alias(f"mh{i}")
        for i, (a, b) in enumerate(D.perm_constants(num_hashes))
    ]
    return base.groupBy(id_col).agg(*aggs)


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """MinHash + LSH near-duplicate canonicalization.

    signature → ``bands`` band keys (md5 of each r-slice) → explode to
    (band_key, id) → per-bucket min id → per-doc min over its buckets.
    Two narrow shuffles; documents sharing ANY band collapse to one
    canonical id (single union-find round — iterate for full transitive
    closure on pathological corpora).
    """
    r = num_hashes // bands
    sig = minhash_signature(df, id_col, text_col, num_hashes)
    band_keys = [
        F.md5(F.concat_ws("_", *[F.col(f"mh{b * r + j}") for j in range(r)])).alias(f"bk{b}")
        for b in range(bands)
    ]
    keyed = sig.select(id_col, *band_keys)
    exploded = keyed.select(
        id_col,
        F.explode(F.array(*[F.col(f"bk{b}") for b in range(bands)])).alias("bk"),
    )
    bucket_min = exploded.groupBy("bk").agg(F.min(id_col).alias("_bmin"))
    canon = (
        exploded.join(bucket_min, "bk")
        .groupBy(id_col)
        .agg(F.min("_bmin").alias("canonical_id"))
    )
    return df.join(canon, id_col).withColumn(
        "is_dup", (F.col(id_col) != F.col("canonical_id")).cast("int")
    )


def minhash_estimate_quality(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash estimator quality over the LSH candidate pairs: for every
    pair of band-mates, the signature-agreement estimate of Jaccard
    (matching components / num_hashes — the unbiased MinHash estimator)
    against the TRUE distinct-token Jaccard, with the absolute error.
    The dedup-family analogue of ``ann_recall_at_k``: it quantifies what
    the ``num_hashes`` knob buys (stderr ≈ √(J(1−J)/n)).

    Scale shape: candidates come from banding (never all pairs); token
    arrays join onto the bounded candidate set only, so the wide payload
    never rides the banding shuffle. ``max_bucket`` applies the same
    oversized-bucket guard as :func:`minhash_band_edges` — without it a
    degenerate hot band makes the pair set (and the OUTPUT, one row per
    pair) quadratic in the bucket size: measured 7.3M rows / 153 s at
    sf0.1 uncapped vs bounded Σ|bucket|² capped.
    """
    r = num_hashes // bands
    sig = minhash_signature(df, id_col, text_col, num_hashes)
    band_keys = [
        F.md5(F.concat_ws("_", *[F.col(f"mh{b * r + j}") for j in range(r)])).alias(f"bk{b}")
        for b in range(bands)
    ]
    exploded = sig.select(id_col, *band_keys).select(
        id_col,
        F.explode(F.array(*[F.col(f"bk{b}") for b in range(bands)])).alias("bk"),
    )
    if max_bucket is not None:
        exploded = (
            exploded.withColumn(
                "_bn", F.count(F.lit(1)).over(Window.partitionBy("bk"))
            )
            .filter(F.col("_bn") <= max_bucket)
            .drop("_bn")
        )
    pairs = (
        exploded.alias("x")
        .join(exploded.alias("y"), "bk")
        .filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(
            F.col(f"x.{id_col}").alias("id_a"),
            F.col(f"y.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    toks = df.select(
        id_col, F.expr(D.distinct_tokens(text_col, D.SPARK)).alias("_ts")
    )
    feat = sig.join(toks, id_col)
    a = feat.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"mh{i}").alias(f"_a{i}") for i in range(num_hashes)],
        F.col("_ts").alias("_ta"),
    )
    b = feat.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"mh{i}").alias(f"_b{i}") for i in range(num_hashes)],
        F.col("_ts").alias("_tb"),
    )
    est = sum(
        F.when(F.col(f"_a{i}") == F.col(f"_b{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    ) / float(num_hashes)
    inter = F.size(F.array_intersect("_ta", "_tb"))
    union = F.size("_ta") + F.size("_tb") - inter
    true_j = inter.cast("double") / F.nullif(union.cast("double"), F.lit(0.0))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            est.alias("est_jaccard"),
            true_j.alias("true_jaccard"),
            F.abs(est - true_j).alias("abs_err"),
        )
    )


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, nbits: int = 16
) -> DataFrame:
    """(id, simhash) signatures via explode + ONE codegen hash-aggregate.

    The naive per-row form (``D.simhash_bits`` inlined as a column) embeds
    the full tokenize+hash expression inside ``nbits`` independent
    ``aggregate`` HOF lambdas — Catalyst re-inlines the staged token array
    into every lambda body (the CollapseProject trap), so the text is
    tokenized and hashed nbits times, all interpreted (measured ~2 s of
    the simhash-hamming wall at sf0.1). Here the token hashes are computed
    ONCE behind a Generate barrier (explode survives the optimizer), and
    the per-bit ±1 votes are nbits integer SUM aggregates — whole-stage
    codegen, map-side combined, and order-insensitive, so the assembled
    signature is bit-identical to the fold form (and to the DuckDB oracle,
    which keeps the list_transform replay).

    Empty/token-less docs: the fold form yields vote 0 → bit 0 for every
    bit; explode_outer + a null-guarded vote term reproduces exactly that.
    """
    hts = D.hashed_token_array(text_col, "x", D.SPARK)
    tok = df.select(
        F.col(id_col), F.explode_outer(F.expr(hts)).alias("_h")
    )
    votes = [
        F.sum(
            F.when(F.col("_h").isNull(), 0).otherwise(
                F.when(F.shiftright(F.col("_h"), j).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            )
        ).alias(f"_v{j}")
        for j in range(nbits)
    ]
    assembled = sum(
        F.when(F.col(f"_v{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        for j in range(nbits)
    )
    return (
        tok.groupBy(id_col)
        .agg(*votes)
        .select(id_col, assembled.cast("bigint").alias("simhash"))
    )


def simhash(df: DataFrame, id_col: str, text_col: str, nbits: int = 16) -> DataFrame:
    """SimHash signature + exact-signature canonicalization. Signatures
    come from :func:`simhash_signatures` (one hashing pass, codegen votes)
    and join back on ``id_col``; grouping on the ``nbits``-bit integer is
    the cheapest possible shuffle. Hamming-near pairs can be found by
    banding the signature bits (see `simhash_hamming_pairs`)."""
    sig = df.join(simhash_signatures(df, id_col, text_col, nbits), id_col)
    w = Window.partitionBy("simhash")
    return sig.withColumn("canonical_id", F.min(id_col).over(w)).withColumn(
        "is_dup", (F.col(id_col) != F.col("canonical_id")).cast("int")
    )


def simhash_hamming_pairs(
    df: DataFrame, id_col: str, text_col: str, nbits: int = 16, max_distance: int = 2
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ k, candidate-blocked on
    half-signature bands (a pair within distance k ≤ 2 must agree on at
    least one half of the bits), so the join is bucket-local.

    Distinct-signature reduction (r8, the SCALE.md §7f law from the
    perceptual dedup family): duplicate-heavy corpora repeat signatures,
    so the band join runs over DISTINCT signatures only — all quadratic
    band-bucket work is bounded by signature diversity, never by corpus
    size — and doc pairs are recovered afterwards by two O(1)-per-row
    expansion joins (cross-signature) plus one same-signature self-join
    whose output is exactly the true duplicate pairs. A doc pair maps to
    exactly one signature pair, so no post-expansion dedup is needed.
    The signature frame (2 narrow columns) is materialized once — it
    feeds the distinct, both expansion sides, and the same-signature
    join, and each reference would otherwise replay the full
    tokenize+hash signature pass."""
    sig = simhash_signatures(df, id_col, text_col, nbits).localCheckpoint(
        eager=True
    )
    half = nbits // 2
    distinct_sigs = sig.select("simhash").distinct()
    banded = distinct_sigs.select(
        "simhash",
        F.explode(
            F.array(
                F.concat(F.lit("lo:"), (F.col("simhash") % (1 << half)).cast("string")),
                F.concat(F.lit("hi:"), F.shiftright("simhash", half).cast("string")),
            )
        ).alias("band"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    sig_pairs = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.simhash") < F.col("b.simhash")))
        .select(
            F.col("a.simhash").alias("_sa"),
            F.col("b.simhash").alias("_sb"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .dropDuplicates(["_sa", "_sb"])
        .filter(F.col("hamming") <= max_distance)
    )
    da = sig.select(F.col(id_col).alias("_ida"), F.col("simhash").alias("_sa"))
    db = sig.select(F.col(id_col).alias("_idb"), F.col("simhash").alias("_sb"))
    cross = (
        sig_pairs.join(da, "_sa")
        .join(db, "_sb")
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
            "hamming",
        )
    )
    same = (
        sig.alias("x")
        .join(
            sig.alias("y"),
            (F.col("x.simhash") == F.col("y.simhash"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .select(
            F.col(f"x.{id_col}").alias("id_a"),
            F.col(f"y.{id_col}").alias("id_b"),
            F.lit(0).alias("hamming"),
        )
    )
    return cross.unionAll(same.select("id_a", "id_b", F.col("hamming").cast(cross.schema["hamming"].dataType)))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    n: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs inside blocking
    groups. The shingle set is computed once per row (HOF, no explode); the
    pair join is block-local so cost is Σ|block|², not N²."""
    from etl_aws_spark.operators.scale import (
        HEAVY_BYTES_PER_PART,
        fan_out_small_scan,
    )

    # the per-row shingle HOF + per-pair intersections run map-side of a
    # broadcast join at gate SFs, i.e. at SCAN parallelism — fan a
    # single-split corpus out once (no-op at scale; measured 6.6 s of CPU
    # on 2 tasks at sf0.1: the Σ|block|² cost class takes the heavy floor)
    df = fan_out_small_scan(df, HEAVY_BYTES_PER_PART)
    sh = df.select(
        id_col, *block_cols, F.expr(D.word_shingles(text_col, n, D.SPARK)).alias("_sg")
    ).withColumn("_sz", F.size("_sg"))
    a, b = sh.alias("a"), sh.alias("b")
    cond = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    # size prefilter IN the join condition: jaccard ≥ t implies
    # min(|A|,|B|) ≥ t·max(|A|,|B|), so pairs failing it can't pass the
    # threshold — the expensive array_intersect never runs for them, and the
    # result set is provably unchanged (the oracle needs no mirror).
    cond = cond & (
        F.least(F.col("a._sz"), F.col("b._sz"))
        >= F.lit(threshold) * F.greatest(F.col("a._sz"), F.col("b._sz"))
    )
    inter = F.size(F.array_intersect(F.col("a._sg"), F.col("b._sg")))
    union = F.col("a._sz") + F.col("b._sz") - inter
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            (inter.cast("double") / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def winnow_fingerprint(df: DataFrame, id_col: str, text_col: str, k: int = 3, w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (k-gram rolling hashes, min per
    w-window, deduped): one row per (id, fingerprint). The standard
    plagiarism/copy-detection sketch; join two corpora on ``fingerprint``
    to find shared passages.

    Relational formulation: gram hashes posexplode to (id, pos, hash) rows,
    the window min is ``min OVER (ROWS BETWEEN CURRENT AND w-1 FOLLOWING)``,
    then distinct. One narrow shuffle on the id. The nested-HOF formulation
    (`_dialect.winnow_fingerprints`, used by the oracle) is correct but
    catastrophically slow on Spark: Catalyst's CollapseProject re-inlines
    the staged gram array into every per-window reference, re-hashing the
    whole document per window (measured 60× slower at sf0.01)."""
    parts = ", ' ', ".join(f"element_at(_toks, i + {j + 1})" for j in range(k))
    grams = (
        df.withColumn("_toks", F.expr(D.tokens(text_col, D.SPARK)))
        .select(
            id_col,
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, size(_toks) - {k}), "
                    f"i -> {D.hash60(f'concat({parts})', D.SPARK)})"
                )
            ).alias("_pos", "_h"),
        )
    )
    win = (
        Window.partitionBy(id_col)
        .orderBy("_pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    n_gram = Window.partitionBy(id_col)
    fps = (
        grams.withColumn("_n", F.count(F.lit(1)).over(n_gram))
        .withColumn("_wmin", F.min("_h").over(win))
        .filter(F.col("_pos") <= F.col("_n") - w)  # full windows only
        .select(id_col, F.col("_wmin").alias("fingerprint"))
        .distinct()
    )
    return fps


def minhash_band_edges(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate-pair EDGE LIST from LSH banding: (src, dst) with
    src < dst for every pair of docs sharing at least one band key.

    The pair join runs inside band buckets only (Σ|bucket|², never N²);
    the distinct collapses docs sharing several bands to one edge. Feeds
    :func:`etl_aws_spark.operators.graph.connected_components` for the
    full dedup-group closure.

    ``max_bucket``: drop band buckets with more than this many members
    before the pair join. Σ|bucket|² is only safe when buckets are
    bounded; degenerate data (tiny vocabularies, templated text, spam)
    can collapse thousands of docs into ONE bucket and turn the join
    quadratic — measured live: the sf1 synthetic corpus (40-word
    vocabulary, so many docs share an identical distinct-token set and
    therefore an identical signature) wedged the pair stage for 25+
    minutes until this cap existed. Skipping oversized buckets is the
    standard production guard (such buckets carry no discriminative
    signal — near-dup detection inside them belongs to exact-hash dedup,
    which text_dedup_exact already covers); the SQL oracles mirror the
    cap with a count window so parity holds at every scale.

    Physical shape (r8): one groupBy packs each band bucket into a doc
    array — the cap becomes a size() filter on the packed row (no count
    window) and the within-bucket pairs come from a sorted-combination
    explode (src < dst by construction) instead of a bucket self-join,
    dropping the SMJ sorts. The bucket row count (cap semantics) is the
    raw list size BEFORE dedup, exactly what the oracles' count window
    sees; measured 1.8 → 1.1 s warm / 5.7 → 2.1 s cold at sf0.1 with an
    identical edge set.
    """
    sig = minhash_signature(df, id_col, text_col, num_hashes)
    return band_edges_from_signature(sig, id_col, num_hashes, bands, max_bucket)


def band_keys_from_signature(
    sig: DataFrame,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Exploded LSH band keys ``(id_col, bk)`` of a signature frame —
    the (doc, bucket) relation every banded-dedup consumer blocks on,
    split out in r12 so the STREAMING cluster state
    (`streaming/clustering.py`) folds per-bucket minima without paying
    the pair stage. ``bk`` is the md5 of the band's '_'-joined minhash
    components, identical to the oracles' ``bands`` CTE."""
    r = num_hashes // bands
    band_keys = [
        F.md5(
            F.concat_ws("_", *[F.col(f"mh{b * r + j}") for j in range(r)])
        ).alias(f"bk{b}")
        for b in range(bands)
    ]
    keyed = sig.select(id_col, *band_keys)
    return keyed.select(
        id_col,
        F.explode(F.array(*[F.col(f"bk{b}") for b in range(bands)])).alias("bk"),
    )


def minhash_band_keys(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Text → exploded LSH band keys in one call (signature + banding)."""
    sig = minhash_signature(df, id_col, text_col, num_hashes)
    return band_keys_from_signature(sig, id_col, num_hashes, bands)


def band_edges_from_signature(
    sig: DataFrame,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Band/pair stage of :func:`minhash_band_edges` against an ALREADY
    COMPUTED signature frame ``(id, mh0..mh{n-1})`` — split out in r9 so a
    parameter sweep (`text_dedup_lsh_band_sweep`) derives the expensive
    shingle→minhash lineage ONCE (localCheckpoint it) and slices every
    band configuration from the same narrow staged frame instead of
    re-tokenizing the corpus per config."""
    exploded = band_keys_from_signature(sig, id_col, num_hashes, bands)
    grouped = exploded.groupBy("bk").agg(F.collect_list(id_col).alias("_ds"))
    if max_bucket is not None:
        grouped = grouped.filter(F.size("_ds") <= max_bucket)
    combos = grouped.select(F.array_sort(F.array_distinct("_ds")).alias("_ds")).select(
        F.explode(
            F.expr(
                "flatten(transform(_ds, (x, i) -> transform("
                "slice(_ds, i + 2, size(_ds) - i - 1), "
                "y -> struct(x as src, y as dst))))"
            )
        ).alias("_p")
    )
    return combos.select("_p.src", "_p.dst").distinct()


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.9,
    max_df: int = 50,
) -> DataFrame:
    """Asymmetric near-SUPERSET detection: containment(A,B) =
    |A∩B| / min(|A|,|B|) over n-gram shingle sets — the signal that
    catches a short document wholly quoted inside a long one, which
    symmetric Jaccard (and its length-bucket blocking) structurally
    misses because the pair's sizes differ wildly.

    Candidate generation is a corpus-wide INVERTED INDEX on the 60-bit
    shingle hashes: explode distinct (doc, h), drop stop-shingles with
    document frequency > ``max_df`` (bounds the self-join fan-out at
    Σ df² ≤ |shingles|·max_df — the standard cut; a pair sharing ONLY
    ultra-common shingles is not boilerplate inclusion), then count
    shared hashes per pair. Shuffles carry (h, id) and (id, id, cnt)
    scalars only; per-doc set sizes attach via two small joins.

    Output: (id_a, id_b, n_shared, containment, jaccard), containment
    >= threshold.

    Denominators (r8, closing the two-round downward-bias carry):
    ``sz_a``/``sz_b`` are counted on the SAME df-filtered universe as
    ``n_shared``, so containment/jaccard are unbiased ratios over the
    informative (non-stop) shingles — a genuine superset pair keeps
    containment 1.0 no matter how much corpus-common boilerplate both
    docs carry. The stop-shingle cut now only shrinks the universe both
    numerator and denominator live in; it no longer deflates the ratio.
    The size aggregate runs on the already-shuffled filtered frame (one
    extra narrow groupBy, no new corpus-sized shuffle).
    """
    from etl_aws_spark.operators.scale import fan_out_small_scan

    # shingle hashing is per-row map work BEFORE the inverted-index
    # shuffle — widen a single-split gate-SF scan (no-op at scale)
    df = fan_out_small_scan(df)
    sh = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.expr(D.shingle_hashes(text_col, n, D.SPARK))).alias("h"),
    ).distinct()
    live = sh.join(
        sh.groupBy("h").agg(F.count(F.lit(1)).alias("_df")).filter(
            F.col("_df") <= max_df
        ),
        "h",
    ).select("_id", "h")
    sizes = live.groupBy("_id").agg(F.count(F.lit(1)).alias("_sz"))
    a, b = live.alias("a"), live.alias("b")
    shared = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a._id") < F.col("b._id")))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("_id").alias("id_a"), F.col("_sz").alias("sz_a"))
    sb = sizes.select(F.col("_id").alias("id_b"), F.col("_sz").alias("sz_b"))
    out = (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.col("n_shared").cast("long").alias("n_shared"),
            (
                F.col("n_shared")
                / F.least("sz_a", "sz_b").cast("double")
            ).alias("containment"),
            (
                F.col("n_shared")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_shared")).cast("double")
            ).alias("jaccard"),
        )
    )
    return out.filter(F.col("containment") >= threshold)
