"""Distributed connected components — the dedup-group closure primitive.

Near-dup pipelines (MinHash/LSH, SimHash, embedding blocking) emit PAIRS;
turning pairs into groups is a connected-components problem. One LSH round
(`text/dedup.py minhash_lsh_dedup`) collapses docs sharing a band, and
`lsh_closure` compresses pointer chains — but a pure functional-graph
compression cannot merge two branches of a component that hooked to
different roots (A<B<C<D with edges A–C, C–D, D–B: C hooks to A, D hooks
to B, and no pointer chain connects them). This module is the always-
correct form: alternating min-label propagation over the edge list
(invariant-preserving; fixpoint = per-component min id) with pointer-jump
compression (accelerates chains to O(log diameter) rounds).

Scale shape per round: one (vertex)-keyed shuffle for the neighbor-min
aggregate and one self-join on a 2-column (id, label) frame —
`localCheckpoint` keeps lineage flat, convergence probes run every other
round (house pattern from `lsh_closure`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 40,
    # r10: 12 left one sf1 component split (caught by the sf1 oracle
    # parity run on pipeline_corpus_release — one near-dup chain needs
    # >12 propagation steps). The exact-fixpoint probe exits EARLY when
    # converged, so a higher cap costs nothing on converged graphs; the
    # cap only binds where the old default silently returned a partial
    # closure (it raises below instead).
    edges_subset_of_vertices: bool = False,
) -> DataFrame:
    """Label every vertex with the minimum id in its connected component.

    ``vertices``: one column ``id_col`` (distinct). ``edges``: columns
    ``src``/``dst`` (undirected; self-loops and duplicates tolerated).
    Edges touching ids absent from ``vertices`` are DROPPED before the
    closure (r12 ADVICE: the touched-vertex loop would otherwise relay
    min-labels through removed vertices and merge components a filtered
    vertex subset should keep apart). Callers that construct edges from
    the vertex set itself can assert ``edges_subset_of_vertices=True`` to
    skip the two semi-joins — the flag is a contract, checked nowhere,
    so only pass it where the construction guarantees it.

    Propagation step: label(v) := min(label(v), min over neighbors'
    labels) — correct at fixpoint: a stable labeling is constant across
    every edge, hence per-component, and the component min keeps its own
    id. Pointer-jump compression (label(v) := label(label(v))) is safe
    because label(v) is always an id inside v's component, so its label
    is too.

    Wall-clock shape (r7, tightened r8): materializations, not data
    volume, dominate at bench scale — so the loop runs TWO propagation
    steps per materialized "super-round" (one localCheckpoint + one
    convergence probe per two steps), the raw edge list is checkpointed
    BEFORE symmetrization (the union's two legs would otherwise each
    re-derive the whole candidate-pair lineage — the expensive
    subtree; r8 change, ~0.5 s of the sym materialization), and the
    super-round's starting label rides along as an extra column so the
    probe is a scan of the already-materialized 3-column frame, not a
    join. Labels only ever decrease, so "no change across a composite
    super-round" is equivalent to "no change in any internal step" —
    the early exit is exact.

    Returns (id_col, component_id). Raises ``RuntimeError`` when
    ``max_rounds`` runs out while labels are still changing.
    """
    e0 = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d")).filter(
        F.col("_s") != F.col("_d")
    )
    if not edges_subset_of_vertices:
        # implicit vertex-subset filtering: two semi-joins on the (small)
        # touched edge set against the vertex ids
        e0 = e0.join(
            vertices.select(F.col(id_col).alias("_s")), "_s", "left_semi"
        ).join(vertices.select(F.col(id_col).alias("_d")), "_d", "left_semi")
    # no eager checkpoint on e0: since the r11 explode-based
    # symmetrization, `sym` walks the edge lineage exactly ONCE and is
    # itself checkpointed, so a separate e0 materialization only added a
    # job per closure call (r13 opt: the old comment described the
    # two-leg union shape that no longer exists)
    sym = (
        e0.select(
            F.explode(
                F.array(
                    F.struct(F.col("_s").alias("_u"), F.col("_d").alias("_v")),
                    F.struct(F.col("_d").alias("_u"), F.col("_s").alias("_v")),
                )
            ).alias("_e")
        )
        .select("_e._u", "_e._v")
        .distinct()
        .localCheckpoint(eager=True)
    )
    # bootstrap = the first propagation step for free (r11): with identity
    # labels, min-over-neighbor-labels is just min neighbor id — one
    # aggregate over sym, no label join. Same fixpoint, one fewer loop
    # round on every graph (measured ~0.9 s/query on the CC family).
    #
    # r12: the loop runs over TOUCHED vertices only — `sym` carries both
    # directions, so its grouped `_u` set IS every vertex with an edge,
    # and the bootstrap needs no vertex join at all. Isolated vertices
    # (the overwhelming majority on near-dup graphs: most docs have no
    # candidate pair) are their own components by definition and attach
    # once at the end via a left join — every per-round shuffle,
    # checkpoint and probe now scales with |touched| = O(|E|), not |V|.
    nbr0 = sym.groupBy("_u").agg(F.min("_v").alias("_nmin0"))
    labels = nbr0.select(
        F.col("_u").alias("_id"),
        F.least(F.col("_u"), F.col("_nmin0")).alias("_lbl"),
    ).localCheckpoint(eager=True)
    steps_done = 0
    changed = 1
    while steps_done < max_rounds:
        cur = labels.select("_id", F.col("_lbl").alias("_old"), "_lbl")
        for _ in range(min(2, max_rounds - steps_done)):
            # min-label propagation across edges
            lbl_only = cur.select("_id", "_lbl")
            nbr_min = (
                sym.join(lbl_only, sym["_v"] == lbl_only["_id"], "inner")
                .groupBy("_u")
                .agg(F.min("_lbl").alias("_nmin"))
            )
            cur = cur.join(nbr_min, cur["_id"] == nbr_min["_u"], "left").select(
                "_id",
                "_old",
                F.least(F.col("_lbl"), F.coalesce("_nmin", F.col("_lbl"))).alias(
                    "_lbl"
                ),
            )
            steps_done += 1
        # pointer-jump compression: label := label's label. (A second jump
        # per super-round was measured r8: it trades one whole super-round
        # for one extra join in EVERY round — a wash at bench scale, so
        # one jump stays.)
        parent = cur.select(F.col("_id").alias("_pid"), F.col("_lbl").alias("_plbl"))
        # convergence probe rides the checkpoint job itself via observe()
        # (r11): the materialization evaluates the observation, so each
        # super-round costs ONE job, not checkpoint + probe-count
        from pyspark.sql import Observation

        obs = Observation()
        nxt = (
            cur.join(parent, cur["_lbl"] == parent["_pid"], "left")
            .select("_id", "_old", F.coalesce("_plbl", "_lbl").alias("_lbl"))
            .observe(
                obs,
                F.sum(
                    (F.col("_old") != F.col("_lbl")).cast("int")
                ).alias("_changed"),
            )
            .localCheckpoint(eager=True)
        )
        changed = int(obs.get["_changed"] or 0)
        labels = nxt.select("_id", "_lbl")
        if changed == 0:
            break
    if changed != 0:
        # labels still moved on the last super-round: the round budget is
        # exhausted, not converged — components may carry split labels on
        # graphs with diameter >> max_rounds. No caller wants a partial
        # closure, so fail loudly.
        raise RuntimeError(
            f"connected_components: max_rounds={max_rounds} exhausted before "
            "convergence (labels changed on the final super-round); raise "
            "max_rounds."
        )
    # isolated vertices re-attach here: component = own id
    return (
        vertices.select(F.col(id_col).alias("_vid"))
        .join(labels, F.col("_vid") == F.col("_id"), "left")
        .select(
            F.col("_vid").alias(id_col),
            F.coalesce("_lbl", F.col("_vid")).alias("component_id"),
        )
    )


def connected_components_blocked(
    vertices: DataFrame,
    edges: DataFrame,
    block_col: str,
    id_col: str = "id",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Connected components when EVERY edge is confined to a blocking
    group (the SemDeDup shape: candidate pairs are generated within a
    (cluster, LSH-bucket) block, so components can never span blocks).

    The block confinement turns the iterative min-label closure — one
    shuffle + one self-join + one materialization PER ROUND, O(log
    diameter) rounds — into ONE Arrow grouped-map: each block's edge
    list meets a union-find kernel that labels every endpoint with its
    component's minimum id, exactly the closure fixpoint. Vertices that
    appear in no edge are their own singleton component (left join +
    coalesce, no extra shuffle beyond the vertex-keyed join).

    Scale posture (100 TB): per-group memory is O(edges-in-block), which
    the pair-generation budget already bounds (Σ|block|² is capped by
    blocking design — the same argument that makes the pair join
    feasible at all); the kernel itself is O(E α(V)) per block. Do NOT
    use this for unconfined graphs (LSH multi-band edges, mutual-kNN
    graphs) — their components span blocks; use
    :func:`connected_components`.

    Returns (id_col, component_id) for every vertex.
    """

    def unite(pdf):
        import numpy as np
        import pandas as pd

        s = pdf[src].to_numpy()
        d = pdf[dst].to_numpy()
        ids = np.unique(np.concatenate([s, d]))
        pos = {v: i for i, v in enumerate(ids)}
        parent = np.arange(len(ids))

        def find(i):
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        for a, b in zip(s, d):
            ra, rb = find(pos[a]), find(pos[b])
            if ra != rb:
                # union toward the root holding the smaller VERTEX id so
                # the final root is the component min without a second pass
                if ids[ra] < ids[rb]:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
        comp = ids[[find(i) for i in range(len(ids))]]
        return pd.DataFrame({"_id": ids, "_cc": comp})

    linked = (
        edges.select(F.col(src).alias(src), F.col(dst).alias(dst), F.col(block_col))
        .filter(F.col(src) != F.col(dst))
        .groupBy(block_col)
        .applyInPandas(unite, "_id long, _cc long")
    )
    return (
        vertices.select(F.col(id_col).alias(id_col))
        .join(linked, F.col(id_col) == F.col("_id"), "left")
        .select(
            id_col,
            F.coalesce(F.col("_cc"), F.col(id_col)).alias("component_id"),
        )
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 3,
    undirected: bool = True,
) -> DataFrame:
    """Fixed-iteration PageRank over an edge list; returns (id, rank).

    The vertex set is the nodes that appear in edges (so out-degree ≥ 1
    everywhere — no dangling-mass correction needed for the undirected
    case). Each iteration is the classic two-shuffle plan: contributions
    ``rank/outdeg`` route along edges (one (dst)-keyed aggregate), then the
    teleport term folds in as a pure expression. The edge list and degree
    table are computed once and `localCheckpoint`-ed so the per-round
    lineage stays flat; ranks are a 2-column (id, rank) frame however wide
    the original rows were. Fixed n_iter (not convergence-probed) keeps the
    result closed-form replayable by the SQL oracle's unrolled CTEs.
    """
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    if undirected:
        e = e.union(edges.select(F.col(dst).alias("_s"), F.col(src).alias("_d")))
    e = e.filter(F.col("_s") != F.col("_d")).distinct().localCheckpoint(eager=True)
    deg = e.groupBy("_s").agg(F.count(F.lit(1)).alias("_outdeg"))
    verts = deg.select(F.col("_s").alias("_id")).localCheckpoint(eager=True)
    n = verts.count()
    teleport = (1.0 - damping) / n
    ranks = verts.select("_id", F.lit(1.0 / n).alias("_rank"))
    contrib_src = e.join(deg, "_s")
    for _ in range(n_iter):
        inbound = (
            contrib_src.join(ranks, contrib_src["_s"] == ranks["_id"])
            .groupBy("_d")
            .agg(F.sum(F.col("_rank") / F.col("_outdeg")).alias("_in"))
        )
        ranks = (
            verts.join(inbound, verts["_id"] == inbound["_d"], "left")
            .select(
                "_id",
                (F.lit(teleport) + F.lit(damping) * F.coalesce("_in", F.lit(0.0))).alias(
                    "_rank"
                ),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select(F.col("_id").alias("id"), F.col("_rank").alias("rank"))


def triangle_stats(pairs: DataFrame, symmetric: bool = False) -> DataFrame:
    """Per-node triangle counts and local clustering coefficients on an
    undirected graph given as ``(s, d)`` edge rows — ANY orientation,
    duplicates allowed, no self-loops (r12 contract widening: callers no
    longer pay a canonicalizing ``distinct`` — dedup rides this
    operator's one edge repartition for free). ``symmetric=True``
    declares the input already carries BOTH directions of every edge
    (e.g. an x≠y combination explode), skipping the internal
    both-direction doubling — one less Generate over the edge stream.

    Algorithm: degree-ordered edge orientation (Cohen 2009 / the standard
    MapReduce triangle scheme) — each undirected edge points from its
    lower-(degree, id) endpoint to the higher, making the orientation
    acyclic, so every triangle materializes exactly once and closes by
    SORTED-ADJACENCY INTERSECTION (r11): attach N+(a) and N+(b) to every
    oriented edge and count array_intersect matches — only CLOSING wedges
    ever materialize. Orienting by DEGREE (id only as tie-break) is the
    100 TB-critical choice: intersection cost is Σ(|N+(a)|+|N+(b)|) and
    degree orientation caps every out-neighborhood at O(sqrt(|E|))
    regardless of hub skew — a hub with a million neighbors receives its
    edges instead of emitting them.

    Plan shape (r12 rewrite, 4.93 -> 3.36 s bench raw at sf0.1 on
    identical output; first-cut count()-based A/Bs overstated the gain —
    count() let Catalyst ELIMINATE the corners left join entirely, so
    only noop-sink timings are comparable):
    ONE edge-scale repartition does triple duty — both-direction edges
    land hash-partitioned by ``u``, so the duplicate-collapsing
    ``groupBy(u, v)`` AND the degree count ``groupBy(u)`` satisfy their
    distributions with zero further exchanges (HashPartitioning(u) ⊆
    both clustering keys), replacing the old distinct + explode-degree
    pair of shuffles. One localCheckpoint materializes the deduped edge
    set; degree joins ride AQE broadcasts at gate SFs (shuffle-hash on
    int keys at scale); corner counting explodes only the CLOSING third
    vertices — (a, b) corners fold as size(intersection) without a
    per-triangle row.

    Output: (id, degree, n_triangles, clustering) where clustering =
    2T / (deg·(deg−1)), NULL for degree < 2 (nullif, ANSI-safe).
    """
    # both directions in one generate; the repartition makes every later
    # u-keyed aggregate exchange-free inside this job
    if symmetric:
        both = pairs.select(F.col("s").alias("u"), F.col("d").alias("v"))
    else:
        both = pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("s").alias("u"), F.col("d").alias("v")),
                    F.struct(F.col("d").alias("u"), F.col("s").alias("v")),
                )
            ).alias("p")
        ).select("p.u", "p.v")
    e = (
        both.repartition("u")
        .groupBy("u", "v")
        .agg(F.lit(1))
        .select("u", "v")
        .localCheckpoint(eager=True)
    )
    # undirected degree == out-degree in the both-direction edge set
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("_deg"))
    du = deg.select("u", F.col("_deg").alias("_du"))
    dv = deg.select(F.col("u").alias("v"), F.col("_deg").alias("_dv"))
    # second (cheap) checkpoint: oriented feeds THREE consumers (the
    # adjacency build, the tri_ab edge list, and nothing re-derives deg's
    # joins per branch) — without it Catalyst replays the degree joins in
    # every branch (20 exchanges in the final plan vs 8; same wall at
    # sf0.1, 4x fewer edge passes at scale)
    oriented = (
        e.join(du, "u")
        .join(dv, "v")
        .filter(
            (F.col("_du") < F.col("_dv"))
            | ((F.col("_du") == F.col("_dv")) & (F.col("u") < F.col("v")))
        )
        # _dv rides along so the adjacency build can sort each neighbor
        # list by the orientation order (deg, id) — the suffix-pruning
        # contract of the intersection below
        .select("u", "v", "_dv")
        .localCheckpoint(eager=True)
    )
    # r14 rewrite of the closing-wedge intersection (the query's one heavy
    # stage: 156 MB shuffle read, Σdeg² intersect CPU at sf0.1):
    #
    # 1. adjacency lists are sorted by the ORIENTATION order (deg, id) —
    #    the struct sort happens once per vertex, elements stay raw ids;
    # 2. the oriented edge list IS the adjacency explode, so the old
    #    `oriented ⋈ na` attach join (one full a-keyed shuffle of edges +
    #    adjacency arrays) disappears: posexplode(_na) yields every edge
    #    (a, b) WITH a's neighbor list in hand;
    # 3. per edge, only the POSITIONAL SUFFIX of _na after b enters the
    #    b-join — exact because every element of N+(b) sorts after b in
    #    orientation order (that is what out-orientation means), so for
    #    any x ∈ N+(a) ∩ N+(b): x sorts after b, hence x is in the
    #    suffix; and suffix ⊆ N+(a), giving suffix ∩ N+(b) =
    #    N+(a) ∩ N+(b) as SETS — and only the set (and its size) feeds
    #    the corner fold. Suffix length averages (deg−1)/2, halving the
    #    adjacency bytes the b-keyed exchange carries and the intersect
    #    probe work.
    adj = oriented.groupBy("u").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(_dv, v))), s -> s.v)"
        ).alias("_nbrs")
    )
    nb = adj.select(F.col("u").alias("b"), F.col("_nbrs").alias("_nb")).hint(
        "shuffle_hash"
    )
    tri_ab = (
        adj.select(
            F.col("u").alias("a"),
            F.posexplode("_nbrs").alias("_pos", "b"),
            F.col("_nbrs"),
        )
        .select(
            "a",
            "b",
            F.expr(
                "slice(_nbrs, _pos + 2, greatest(size(_nbrs) - _pos - 1, 0))"
            ).alias("_suffix"),
        )
        .join(nb, "b")
        .select("a", "b", F.array_intersect("_suffix", "_nb").alias("_cs"))
        .filter(F.size("_cs") > 0)
    )
    # corner counts in ONE pass of tri_ab: a and b fold as
    # size(intersection), only the closing c vertices explode — a
    # unionAll of two tri_ab projections would re-derive the whole
    # join+intersect subtree per branch (measured ~0.6 s at sf0.1 even
    # with AQE exchange reuse)
    corners = (
        tri_ab.select(
            F.explode(
                F.expr(
                    "concat(array(struct(a as id, size(_cs) as n), "
                    "struct(b as id, size(_cs) as n)), "
                    "transform(_cs, c -> struct(c as id, 1 as n)))"
                )
            ).alias("s")
        )
        .select("s.id", "s.n")
        .groupBy("id")
        .agg(F.sum("n").alias("n_triangles"))
    )
    stats = deg.select(F.col("u").alias("id"), F.col("_deg").alias("degree")).join(
        corners, "id", "left"
    )
    return stats.select(
        "id",
        F.col("degree").cast("long").alias("degree"),
        F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias("n_triangles"),
        (
            F.round(
                2.0
                * F.coalesce(F.col("n_triangles"), F.lit(0))
                / F.nullif(
                    F.col("degree").cast("double") * (F.col("degree") - 1), F.lit(0.0)
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("clustering"),
    )
