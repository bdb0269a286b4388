"""Shared versioned-state store for ``foreachBatch`` folds.

One protocol, three guarantees, used by every streaming state sink: the
bounded-state sinks of `streaming/ingest.py` (and the SCD2 sink built on
them) and both lifecycles (`streaming/clustering.py`,
`streaming/maintenance.py`), so the discipline is written once:

1. **Atomic, engine-visible commits** (r12 verdict #2). A version's
   parquet trees live under ``root/v{n}/{tree}``; they become REAL only
   when a name-encoded, content-free commit record appears under
   ``root/_commits/`` (``c{version}.b{batch_id}.base{base}``). The record
   is an empty file whose full name is visible only once ``create`` +
   ``close`` complete, so readers can never observe a half commit; a
   crash mid-tree-write leaves an uncommitted ``v{n+1}`` that every
   reader ignores. All probing goes through the Hadoop ``FileSystem``
   API (`fsutil`), never the driver's POSIX view, and nothing is ever
   renamed (a directory rename is a copy on S3A).

2. **Replay idempotency** (r12 ADVICE). ``foreachBatch`` is
   at-least-once and Structured Streaming replays a crashed batch under
   the SAME ``batch_id``. Each commit records the batch it folded, so:
   crash BEFORE the commit record → ``already_folded`` is false, the
   replay re-derives from the still-latest v{n} and overwrites its own
   partial v{n+1}; crash AFTER the record but before the checkpoint
   offset commit → ``already_folded`` is true and the replay returns
   without touching state. Double-folding is impossible by construction.

3. **Write I/O sized to the state's shape.** Corpus-growing lifecycle
   state keeps DELTAS, not snapshots: readers union versions
   ``base..latest`` and fold (latest-version-wins per key, plain append,
   or a consumer-side aggregate such as per-bucket MIN), so per-trigger
   write I/O scales with the batch, not the corpus (r12 verdict #1).
   Bounded state (sketch grids, latest-per-key tables) instead
   ``publish``es a full snapshot per fold — O(state) by design — which
   becomes its own base and prunes every older version and record.
   ``compact`` is the same publish for a delta chain, so read-side union
   width stays bounded on always-on streams.

``rollback`` is the reset for a lifecycle replayed over the same base:
it drops commit records newer than the target version, newest first (a
crash mid-way still leaves a committed prefix), then their version dirs,
so the base is reused instead of rebuilt.
"""

from __future__ import annotations

import posixpath
import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from etl_aws_spark import fsutil

_COMMIT_RE = re.compile(r"^c(\d{8})\.b(-?\d+)\.base(\d{8})$")
_VERSION_DIR_RE = re.compile(r"^v(\d+)$")


class VersionedState:
    """Manifest-committed, delta-versioned parquet state rooted at a
    directory. All methods are safe to call from inside ``foreachBatch``
    on the driver; all data I/O is Spark jobs."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    # ---- commit protocol ------------------------------------------------

    def _commits_dir(self) -> str:
        return posixpath.join(self.root, "_commits")

    def commits(self) -> list[tuple[int, int, int]]:
        """All committed (version, batch_id, base), version-ascending."""
        out = []
        for name in fsutil.list_names(self.spark, self._commits_dir()):
            m = _COMMIT_RE.match(name)
            if m:
                out.append((int(m.group(1)), int(m.group(2)), int(m.group(3))))
        return sorted(out)

    def latest(self) -> tuple[int, int, int] | None:
        """(version, batch_id, base) of the newest commit, or None."""
        cs = self.commits()
        return cs[-1] if cs else None

    def version(self) -> int:
        """Latest committed version number (-1 before the first commit)."""
        c = self.latest()
        return c[0] if c else -1

    def already_folded(self, batch_id: int) -> bool:
        """True iff a commit already covers ``batch_id`` — the replay
        guard (commits carry monotonically increasing batch ids)."""
        c = self.latest()
        return c is not None and c[1] >= batch_id

    def commit(self, version: int, batch_id: int, base: int | None = None) -> None:
        """Publish ``version`` atomically. Must run AFTER every tree of
        the version is fully written."""
        if base is None:
            prev = self.latest()
            base = prev[2] if prev else version
        fsutil.touch(self.spark, self._record(version, batch_id, base))

    def _record(self, version: int, batch_id: int, base: int) -> str:
        name = "c%08d.b%d.base%08d" % (version, batch_id, base)
        return posixpath.join(self._commits_dir(), name)

    def rollback(self, version: int) -> None:
        """Reset the state to committed ``version``. Commit records newer
        than ``version`` go first, newest first, so a crash mid-rollback
        still leaves a committed prefix that every reader resolves as
        usual; then every ``v{n}`` dir with n > ``version`` goes,
        committed or not. Raises ``ValueError`` if ``version`` has no
        commit record or lies below the current base (compaction already
        removed what it would restore, with its record)."""
        cs = self.commits()
        where = "under %s" % self.root
        if cs and version < cs[-1][2]:
            raise ValueError(
                "version %d is below base %d %s" % (version, cs[-1][2], where)
            )
        if version not in {c[0] for c in cs}:
            raise ValueError("version %d is not committed %s" % (version, where))
        for c in reversed(cs):
            if c[0] <= version:
                break
            fsutil.rmtree(self.spark, self._record(*c))
        for name in fsutil.list_names(self.spark, self.root):
            m = _VERSION_DIR_RE.match(name)
            if m and int(m.group(1)) > version:
                fsutil.rmtree(self.spark, posixpath.join(self.root, name))

    # ---- tree I/O --------------------------------------------------------

    def tree_path(self, version: int, tree: str) -> str:
        return posixpath.join(self.root, "v%d" % version, tree)

    def write_tree(self, df: DataFrame, version: int, tree: str) -> None:
        """Write one delta tree of an (as yet uncommitted) version.
        Overwrite mode makes a replay clobber its own partial output."""
        df.write.mode("overwrite").parquet(self.tree_path(version, tree))

    def _read(self, paths: list[str], schema: StructType | None) -> DataFrame:
        """One parquet read of ``paths``. A declared ``schema`` skips the
        footer-inference job an undeclared read pays before any data
        moves."""
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(*paths)

    def read_union(self, tree: str, schema: StructType | None = None) -> DataFrame:
        """Union of ``tree`` across committed versions base..latest, with
        a ``_v`` version column for latest-wins folds.

        All version dirs ride ONE multi-path read (r14 opt): the
        per-version ``spark.read.parquet`` calls each cost a driver
        footer/schema job, so an n-version chain paid n jobs per fold
        before any data moved — on the job-count-bound lifecycle queries
        that was measurable wall. ``_v`` is recovered from the file path
        (``.../v{n}/{tree}/part-*``), anchored greedily so only the
        version segment directly enclosing ``tree`` matches. A row whose
        path does not match raises at read time instead of carrying a
        null ``_v`` that the latest-wins fold would silently drop."""
        c = self.latest()
        if c is None:
            raise FileNotFoundError("no committed version under %s" % self.root)
        latest_v, _, base = c
        if latest_v == base:
            return self._read([self.tree_path(base, tree)], schema).withColumn(
                "_v", F.lit(base)
            )
        paths = [self.tree_path(v, tree) for v in range(base, latest_v + 1)]
        pat = ".*/v(\\d+)/" + re.escape(tree) + "/"
        path = F.input_file_name()
        raw = F.regexp_extract(path, pat, 1)
        miss = F.concat(F.lit("no version segment for tree %r in " % tree), path)
        v = F.when(raw == "", F.raise_error(miss)).otherwise(raw).cast("int")
        return self._read(paths, schema).withColumn("_v", v)

    def read_append(self, tree: str, schema: StructType | None = None) -> DataFrame:
        """Fold for append-only trees: the plain union of all deltas."""
        return self.read_union(tree, schema).drop("_v")

    def read_latest_wins(
        self, tree: str, keys: list[str], schema: StructType | None = None
    ) -> DataFrame:
        """Fold for keyed trees: every key's rows from the newest version
        that wrote that key (one key-partitioned shuffle over the state —
        the same shuffle the old snapshot layout paid to re-rank)."""
        u = self.read_union(tree, schema)
        w = Window.partitionBy(*keys)
        return (
            u.withColumn("_mxv", F.max("_v").over(w))
            .filter(F.col("_v") == F.col("_mxv"))
            .drop("_v", "_mxv")
        )

    # ---- snapshots and compaction ----------------------------------------

    def publish(self, trees: dict[str, DataFrame], batch_id: int) -> int:
        """Commit ``trees`` as a full snapshot: write them as version
        latest+1 (0 on an empty store), commit that version as its own
        base stamped ``batch_id``, then remove every older version dir
        and commit record. A crash before the record leaves the previous
        snapshot current; one after it leaves only garbage the next
        publish removes. Returns the new version."""
        new_v = self.version() + 1
        for tree, df in trees.items():
            self.write_tree(df, new_v, tree)
        self.commit(new_v, batch_id, base=new_v)
        for name in fsutil.list_names(self.spark, self.root):
            m = _VERSION_DIR_RE.match(name)
            if m and int(m.group(1)) < new_v:
                fsutil.rmtree(self.spark, posixpath.join(self.root, name))
        for c in self.commits():
            if c[0] < new_v:
                fsutil.rmtree(self.spark, self._record(*c))
        return new_v

    def compact(self, folded: dict[str, DataFrame]) -> int:
        """Fold the delta chain into a single fresh base version: publish
        each tree's caller-folded frame, carrying the latest batch_id
        forward so the replay guard is unaffected. Returns the new base
        version."""
        cur = self.latest()
        if cur is None:
            raise FileNotFoundError("nothing to compact under %s" % self.root)
        # the folds read the versions publish removes: eager-checkpoint
        # them first
        return self.publish(
            {tree: df.localCheckpoint(eager=True) for tree, df in folded.items()},
            cur[1],
        )
