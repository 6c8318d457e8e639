"""Parquet-backed, snapshot-versioned quad store.

Plays the role of the reference's transactional ``DatasetGraph``
(FusekiProjector.java:484-490 begin/commit/abort; MVCC visibility so
readers see the last committed snapshot — SURVEY.md §3.1 step 7).  Delta
Lake is not available in this container, so we implement the same idea
directly: an append-mostly file log plus an atomically-swapped JSON
manifest.

Layout:
    <path>/files/<uuid>/bucket=N/   immutable data leaves, partitioned by a
                                    stable subject-hash bucket
    <path>/_manifest.json           {"version": N, "files": ["<uuid>/bucket=N", ...],
                                     "txns": [...], "tombstones": [[leaf, version], ...]}
    <path>/_manifest.json.tmp       write-then-os.replace for atomicity

Commit protocol (single writer per store, like the reference's one
projector per dataset — FKRegistry.java:45-99):
  1. write new parquet files for the net adds
  2. if there are deletes: rewrite only the files that contain matching
     quads (read, anti-join, write survivor file).  A driver-tier commit
     instead writes each bucket it changes as ONE leaf (its rows after
     the deletes, plus its fresh adds) and retires all of that bucket's
     earlier leaves, so HTTP writes never pile leaves up
  3. atomically swap the manifest (os.replace) — readers referencing the
     old manifest keep a consistent snapshot
Request-sized row commits on a small store run these steps on the driver
with pyarrow; everything else runs them as Spark jobs (``QuadStore.commit``).

Reader protection: a leaf dropped by a commit is tombstoned, and deleted
only once no in-process ``Snapshot`` still lists it (a pin, held until the
reader's Spark job has run) AND ``grace_versions`` newer versions exist
(for readers outside this process, which the pins cannot see).

Idempotent re-apply (at-least-once safety, SURVEY.md §7.4): commits carry a
``txn_id``; re-committing an already-recorded txn_id is a no-op, which makes
"crash between store commit and checkpoint commit" safe — exactly the
ordering the reference gets from writing the offset file only after the
store commit (README.md:193-196, FusekiProjector.java:514-573).

Set semantics: adds are deduped against the current snapshot with a
left-anti join before writing (README.md:148-153 — duplicates must not
accumulate).

Scale notes (100 TB): data leaves are partitioned by a stable hash bucket
of subject and the manifest is bucket-granular, so the delete rewrite reads
and rewrites ONLY the buckets the delete keys hash to — unaffected leaves
carry over untouched.  On a real cluster you would add graph/predicate
partition columns + file-level min/max pruning.  Reads are plain
``spark.read.parquet`` over leaves the manifest lists (``Snapshot``) —
column pruning and predicate pushdown apply as usual.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import uuid
import weakref

from collections import Counter
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..model import QUAD_COLS, QUAD_SCHEMA

_MANIFEST = "_manifest.json"

# One write lock per store *path* (realpath-keyed, process-wide): the manifest
# swap is atomic but commit/compact are read-modify-write over it, so two
# concurrent writers — HTTP update handlers, the streaming foreachBatch, and
# periodic compaction all run in different threads — could both read version N
# and silently drop the loser's files.  Sharing the lock across every
# QuadStore instance on the same path restores the reference's single-writer
# transaction semantics (FusekiProjector.java:484-490) without forcing callers
# to coordinate.  Cross-*process* writers remain out of scope, as in the
# reference (one projector per dataset — FKRegistry.java:45-99).
_STORE_LOCKS: dict[str, threading.RLock] = {}
_STORE_LOCKS_GUARD = threading.Lock()


def _write_lock_for(path: str) -> threading.RLock:
    key = os.path.realpath(path)
    with _STORE_LOCKS_GUARD:
        return _STORE_LOCKS.setdefault(key, threading.RLock())


# Leaves that live snapshots may still read, keyed by store realpath like
# _STORE_LOCKS: {store: {pin token: the snapshot's leaf list}}.  A snapshot
# reads the manifest and registers its leaves under _PINS_LOCK, and
# ``QuadStore._swap`` holds the same lock around its retire decision and
# manifest write, so a leaf is either pinned before a commit decides its
# fate or is no longer listed by the manifest the snapshot reads.
_PINS: dict[str, dict[int, list[str]]] = {}
_PINS_LOCK = threading.Lock()
_PIN_TOKENS = itertools.count()


def _unpin(key: str, token: int) -> None:
    with _PINS_LOCK:
        _PINS[key].pop(token, None)


# Row counts of data leaves, keyed by leaf directory path (process-wide).
# Leaves are immutable and uuid-named, so a count never goes stale: each
# footer is read once, and leaves the driver tier writes are never read.
_LEAF_ROWS: dict[str, int] = {}


def _anti_join_quads(left: DataFrame, right: DataFrame, broadcast_right: bool = False) -> DataFrame:
    """left ANTI JOIN right on all quad columns, null-safe.

    object_datatype / object_lang are nullable; plain ``on=cols`` equality
    would never match NULL==NULL and silently break set-semantics dedup and
    deletes.  ``eqNullSafe`` (<=>) still hash-partitions both sides on the
    join keys, so this stays a shuffle(-or-broadcast) hash join.

    The right side's columns are renamed before the condition is built:
    same-name ``left[c] <=> right[c]`` pairs make Spark log ``WARN
    Column: Constructing trivially true equals predicate`` per column per
    plan build (the aliased frames join correctly, but u01-style update
    bursts spam hundreds of lines and bury real warnings — VERDICT r13
    item 3).
    """
    return left.join(
        _renamed_right(right, broadcast_right), _quad_eq_cond(left), "left_anti"
    )


def _semi_join_quads(left: DataFrame, right: DataFrame, broadcast_right: bool = False) -> DataFrame:
    """left SEMI JOIN right on all quad columns, null-safe (rows of left
    that exist in right)."""
    return left.join(
        _renamed_right(right, broadcast_right), _quad_eq_cond(left), "left_semi"
    )


def _renamed_right(right: DataFrame, broadcast_right: bool) -> DataFrame:
    r = right.select([F.col(c).alias(f"__r_{c}") for c in QUAD_COLS])
    return F.broadcast(r) if broadcast_right else r


def _quad_eq_cond(left: DataFrame):
    return reduce(
        lambda a, b: a & b,
        [left[c].eqNullSafe(F.col(f"__r_{c}")) for c in QUAD_COLS],
    )


def _arrow_table(rows: Sequence[tuple]):
    """Row tuples in QUAD_COLS order -> a pyarrow table of string columns."""
    import pyarrow as pa

    return pa.table(
        {c: [r[i] for r in rows] for i, c in enumerate(QUAD_COLS)},
        schema=pa.schema([pa.field(c, pa.string()) for c in QUAD_COLS]),
    )


def quad_frame(spark: SparkSession, rows: Sequence[tuple]) -> DataFrame:
    """Request-sized row tuples -> a QUAD_SCHEMA DataFrame.  Handed over as
    an Arrow table, so the plan is a LocalRelation: reading it back costs
    no Spark job and no Python worker (a pickled list becomes an RDD whose
    every read is a job)."""
    return spark.createDataFrame(_arrow_table(rows), QUAD_SCHEMA)


class QuadStore:
    def __init__(self, path: str, n_buckets: int = 16, grace_versions: int = 2):
        self.path = path
        self.files_dir = os.path.join(path, "files")
        self.n_buckets = n_buckets
        # MVCC read grace for readers OUTSIDE this process: files dropped by
        # a commit/compaction stay on disk until `grace_versions` further
        # versions have committed (Delta/Iceberg vacuum-retention, in
        # miniature).  In-process readers are protected by their snapshot's
        # pin however many versions commit meanwhile (``_retire``).
        self.grace_versions = grace_versions
        self._key = os.path.realpath(path)
        self._write_lock = _write_lock_for(path)
        os.makedirs(self.files_dir, exist_ok=True)
        # initialize-once under the lock: a second instance racing an
        # in-flight commit must not clobber the committed manifest
        with self._write_lock:
            if not os.path.exists(self._manifest_path()):
                self._write_manifest(
                    {"version": 0, "files": [], "txns": [], "tombstones": []}
                )

    # -- bucket layout ------------------------------------------------------
    # manifest entries are leaf directories "<uuid>/bucket=N": data is
    # physically partitioned by a stable subject-hash bucket, so deletes
    # (and snapshot dedup) read ONLY the buckets their keys hash to —
    # O(affected buckets), not O(store)
    def _bucket_col(self):
        return F.pmod(F.xxhash64(F.col("subject")), F.lit(self.n_buckets))

    @staticmethod
    def _bucket_of(entry: str) -> int:
        return int(entry.rsplit("=", 1)[1])

    # the Spark tier writes commits at or below this row count without the
    # bucket shuffle: a single task writes every bucket leaf.  Ingest-volume
    # batches (the soak writes ~2.5M quads per batch) keep the n_buckets
    # repartition so write parallelism and file sizing hold at scale.  It
    # also bounds the driver tier: the bucket leaves a driver-tier commit
    # reads must hold at most this many rows; and a snapshot of at most
    # this many rows is read as one partition (``read``).
    SMALL_COMMIT_ROWS = 200_000

    # row commits with at most this many add rows and this many exact
    # delete rows run on the DRIVER (the leaves they read permitting, see
    # SMALL_COMMIT_ROWS): set-semantics dedup and the delete rewrite are
    # computed in Python over pyarrow-read leaves and the new leaves are
    # written with pyarrow — no Spark job.  Buckets stay bit-compatible
    # via the pure-Python xxh64 twin (store/xxh64.py, parity-pinned by
    # test).  Request mutations are at most thousands of rows; anything
    # bigger arrives via the ingest stream, which keeps the Spark tier.
    DRIVER_COMMIT_ROWS = 20_000

    # the Spark tier broadcasts a commit join's small side (the deletes in
    # the rewrite anti-join, the adds in the set-semantics dedup) only when
    # that side holds at most this many rows, counted by the per-bucket
    # aggregate the commit runs anyway.  Past it the join carries no hint
    # and Spark sizes it (a shuffle for a store-sized side): a hint
    # bypasses Spark's own size check, so the bound has to live with it.
    # ~4M quad rows is on the order of the broadcasts Spark tolerates.
    BROADCAST_MAX_ROWS = 4_000_000

    def _write_partitioned(self, df: DataFrame, small: bool = False) -> list[str]:
        """Write df bucket-partitioned under a fresh uuid dir; return the
        manifest entries (one per non-empty bucket leaf)."""
        name = uuid.uuid4().hex
        out = os.path.join(self.files_dir, name)
        df = df.withColumn("bucket", self._bucket_col())
        df = df.coalesce(1) if small else df.repartition(self.n_buckets, F.col("bucket"))
        df.write.partitionBy("bucket").mode("overwrite").parquet(out)
        entries = []
        for d in sorted(os.listdir(out)):
            if d.startswith("bucket="):
                entries.append(f"{name}/{d}")
        return entries

    def _entry_row_count(self, entry: str) -> int:
        """Row count of a manifest leaf from its parquet footers — no Spark
        job, and footer I/O only the first time a leaf is seen (memoized
        in ``_LEAF_ROWS``).  Sizes delete rewrites, the driver tier and
        the read layout."""
        import pyarrow.parquet as pq

        leaf = os.path.join(self.files_dir, entry)
        total = _LEAF_ROWS.get(leaf)
        if total is None:
            total = sum(
                pq.read_metadata(os.path.join(leaf, f)).num_rows
                for f in os.listdir(leaf)
                if f.endswith(".parquet")
            )
            _LEAF_ROWS[leaf] = total
        return total

    # -- manifest ---------------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.path, _MANIFEST)

    def _read_manifest(self) -> dict:
        with open(self._manifest_path()) as f:
            return json.load(f)

    def _write_manifest(self, manifest: dict) -> None:
        # unique tmp name: concurrent writers (or a crashed leftover) must
        # never share the staging file, or one os.replace strands the other
        tmp = self._manifest_path() + ".tmp-" + uuid.uuid4().hex
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path())  # atomic on POSIX

    @property
    def version(self) -> int:
        return self._read_manifest()["version"]

    def seen_txn(self, txn_id: str) -> bool:
        return txn_id in self._read_manifest()["txns"]

    def stats(self) -> dict:
        """What the store holds now: its version, live leaves, the most
        leaves any one bucket has, tombstoned leaves not yet deleted, and
        the snapshots in this process that pin leaves."""
        manifest = self._read_manifest()
        per_bucket = Counter(self._bucket_of(f) for f in manifest["files"])
        with _PINS_LOCK:
            pinned = len(_PINS.get(self._key, ()))
        return {
            "version": manifest["version"],
            "leaves": len(manifest["files"]),
            "max_leaves_per_bucket": max(per_bucket.values(), default=0),
            "tombstones": len(manifest["tombstones"]),
            "pinned_snapshots": pinned,
        }

    # -- read -------------------------------------------------------------
    def snapshot(self, spark: SparkSession) -> "Snapshot":
        """The current committed version's leaf list (MVCC: frozen at
        manifest-read time), pinned until ``Snapshot.release`` or until the
        snapshot is garbage-collected.  A query takes one and scans every
        pattern from it, so its patterns all see the same commit."""
        return Snapshot(spark, self)

    def read(self, spark: SparkSession) -> DataFrame:
        """Current committed snapshot as a DataFrame: one scan of every
        leaf (see ``Snapshot.scan``).  The snapshot is not kept, so its pin
        ends here: a caller that runs the frame after later commits is
        protected by ``grace_versions`` only."""
        return self.snapshot(spark).scan()

    def count(self, spark: SparkSession) -> int:
        snapshot = self.snapshot(spark)  # pinned while the count runs
        return snapshot.scan().count()

    # -- write ------------------------------------------------------------
    def commit(
        self,
        spark: SparkSession,
        adds: DataFrame | Sequence[tuple] | None = None,
        deletes: DataFrame | Sequence[tuple] | None = None,
        txn_id: str | None = None,
        assume_unique: bool = False,
    ) -> int:
        """Atomically apply deletes, then adds; returns the new version.

        Each side is either a DataFrame with QUAD_COLS columns or a
        sequence of row tuples in QUAD_COLS order.  A delete tuple holding
        only ``(graph,)`` deletes every quad of that graph.  The caller is
        responsible for net-effect ordering: ``sparql.update._Pending``
        keeps every HTTP write's pending state net, and
        ``ingest.projector`` computes last-op-wins, before calling commit.

        Two tiers:

        * driver — both sides are rows, neither holds more than
          ``DRIVER_COMMIT_ROWS`` rows, and the bucket leaves the commit
          must read hold at most ``SMALL_COMMIT_ROWS`` rows.  Applied with
          pyarrow on the driver; no Spark job (see ``_driver_commit``).
        * Spark — everything else.  Rows are turned into DataFrames here,
          once; a graph-scoped delete becomes a filtered read of the store.
          Each side's rows are counted per bucket before its join, and the
          join broadcasts that side only while the count is at most
          ``BROADCAST_MAX_ROWS`` (see ``_spark_commit``).

        ``assume_unique`` skips the Spark tier's within-batch
        dropDuplicates shuffle when the caller already reduced a DataFrame
        to unique quads (the projector's net-effect aggregate guarantees
        it).

        Thread-safe: holds the per-store write lock for the whole
        read-manifest -> write-files -> swap-manifest sequence, so HTTP
        handlers, the ingest stream, and compaction serialize instead of
        losing each other's commits.
        """
        with self._write_lock:
            return self._commit_locked(spark, adds, deletes, txn_id, assume_unique)

    def _commit_locked(
        self,
        spark: SparkSession,
        adds: DataFrame | Sequence[tuple] | None,
        deletes: DataFrame | Sequence[tuple] | None,
        txn_id: str | None,
        assume_unique: bool,
    ) -> int:
        manifest = self._read_manifest()
        if txn_id is not None and txn_id in manifest["txns"]:
            return manifest["version"]  # idempotent re-apply
        rows_only = not isinstance(adds, DataFrame) and not isinstance(deletes, DataFrame)
        if not isinstance(adds, DataFrame):
            adds = list(dict.fromkeys(map(tuple, adds or ())))
        if not isinstance(deletes, DataFrame):
            deletes = [tuple(d) for d in deletes or ()]
        if rows_only:
            version = self._driver_commit(manifest, adds, deletes, txn_id)
            if version is not None:
                return version
        if isinstance(adds, list):
            adds, assume_unique = (quad_frame(spark, adds) if adds else None), True
        if isinstance(deletes, list):
            deletes = self._delete_frame(spark, deletes)
        return self._spark_commit(spark, manifest, adds, deletes, txn_id, assume_unique)

    def _delete_frame(self, spark: SparkSession, deletes: list[tuple]) -> DataFrame | None:
        """Delete rows -> a DataFrame; a graph-scoped delete becomes a
        filtered read of the store."""
        graphs = [d[0] for d in deletes if len(d) == 1]
        exact = [d for d in deletes if len(d) != 1]
        parts = [quad_frame(spark, exact)] if exact else []
        if graphs:
            parts.append(self.read(spark).filter(F.col("graph").isin(graphs)))
        return reduce(DataFrame.unionByName, parts) if parts else None

    def _spark_commit(
        self,
        spark: SparkSession,
        manifest: dict,
        adds: DataFrame | None,
        deletes: DataFrame | None,
        txn_id: str | None,
        assume_unique: bool,
    ) -> int:
        """The Spark tier; its joins are sized by ``BROADCAST_MAX_ROWS``."""
        current_files = list(manifest["files"])
        new_files: list[str] = []
        drop_files: list[str] = []

        del_stats = []
        if deletes is not None:
            # no dropDuplicates: the anti-join is duplicate-insensitive, so
            # deduping the delete side is pure wasted shuffle.  One
            # aggregation answers "any deletes?", "which buckets?" and "how
            # many rows?" (sizes the join)
            deletes = deletes.select(*QUAD_COLS)
            del_stats = deletes.groupBy(self._bucket_col().alias("b")).count().collect()
        del_buckets = {r["b"] for r in del_stats}

        if del_buckets and current_files:
            # Rewrite-on-delete, restricted to the buckets the delete keys
            # hash to: unaffected bucket leaves are carried over untouched.
            affected = self._leaves_in(current_files, del_buckets)
            untouched = [f for f in current_files if f not in affected]
            if affected:
                paths = [os.path.join(self.files_dir, f) for f in affected]
                current = spark.read.schema(QUAD_SCHEMA).parquet(*paths)
                n_deletes = sum(r["count"] for r in del_stats)
                survivors = _anti_join_quads(
                    current, deletes,
                    broadcast_right=n_deletes <= self.BROADCAST_MAX_ROWS,
                )
                # survivors <= the affected leaves' rows, known from
                # parquet footers — small rewrites skip the bucket shuffle
                affected_rows = sum(self._entry_row_count(f) for f in affected)
                survivor_entries = self._write_partitioned(
                    survivors, small=affected_rows <= self.SMALL_COMMIT_ROWS
                )
                drop_files = affected
                current_files = untouched + survivor_entries

        if adds is not None:
            adds = adds.select(*QUAD_COLS)
            if not assume_unique:
                adds = adds.dropDuplicates(QUAD_COLS)
            # one aggregation answers "which buckets?" (snapshot dedup only
            # needs those) AND "how many rows?" (sizes the joins and the
            # write)
            add_stats = adds.groupBy(self._bucket_col().alias("b")).count().collect()
            n_adds = sum(r["count"] for r in add_stats)
            scan_files = self._leaves_in(current_files, {r["b"] for r in add_stats})
            if scan_files:
                paths = [os.path.join(self.files_dir, f) for f in scan_files]
                current = spark.read.schema(QUAD_SCHEMA).parquet(*paths)
                # set semantics: only insert quads not already present.
                # The store side is the big one — find the duplicates by
                # broadcasting the (micro-batch-sized) adds and scanning the
                # store WITHOUT a shuffle, then anti-join adds against that
                # duplicate set, which is no bigger than the adds.  At
                # bucketed layout the store read is a bucket-pruned scan.
                broadcast = n_adds <= self.BROADCAST_MAX_ROWS
                dups = _semi_join_quads(current, adds, broadcast_right=broadcast)
                adds = _anti_join_quads(adds, dups, broadcast_right=broadcast)
            new_files.extend(
                self._write_partitioned(adds, small=n_adds <= self.SMALL_COMMIT_ROWS)
            )

        return self._swap(manifest, current_files + new_files, drop_files, txn_id)

    def _swap(
        self, manifest: dict, files: list[str], drop_files: list[str], txn_id: str | None
    ) -> int:
        """Publish ``files`` as the next version (the commit point)."""
        manifest["version"] += 1
        manifest["files"] = files
        if txn_id is not None:
            manifest["txns"] = (manifest["txns"] + [txn_id])[-1000:]
        with _PINS_LOCK:
            self._retire(manifest, drop_files)
            self._write_manifest(manifest)
        return manifest["version"]

    def _leaves_in(self, files: list[str], buckets: set[int]) -> list[str]:
        """The leaves of ``files`` that hold rows of ``buckets``."""
        return [f for f in files if self._bucket_of(f) in buckets]

    # -- driver tier ------------------------------------------------------
    def _driver_commit(
        self,
        manifest: dict,
        adds: list[tuple],
        deletes: list[tuple],
        txn_id: str | None,
    ) -> int | None:
        """Apply a request-sized row commit on the driver: read every leaf
        of the buckets it touches with pyarrow and write each bucket it
        CHANGES back as one leaf — the bucket's rows after the deletes,
        then the adds not already present (set semantics; tuple equality
        is null-safe, matching the Spark tier's eqNullSafe joins) — in the
        layout the Spark writer produces (files/<uuid>/bucket=N/, bucket
        directory-encoded, QUAD_COLS inside).  The changed buckets'
        earlier leaves are retired; every other leaf carries over as it
        is.  Returns the new version, or None when the commit is over the
        tier's size gates.

        Exact deletes and adds touch only the buckets their subjects hash
        to (the pure-Python xxh64 twin of Spark's xxhash64, parity-pinned
        by test).  Graphs are not bucketed, so a graph-scoped delete
        first finds the buckets that hold the graph's rows, with one read
        of every leaf filtered on the graph; only those buckets are read
        in full.  A bucket it only filters stays in Arrow.  All touched
        buckets are read in one read, then split by bucket."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        from .xxh64 import spark_bucket

        graphs = sorted({d[0] for d in deletes if len(d) == 1})
        del_set = {d for d in deletes if len(d) != 1}
        if max(len(adds), len(del_set)) > self.DRIVER_COMMIT_ROWS:
            return None

        scol = QUAD_COLS.index("subject")
        subjects: dict[int, set[str]] = {}  # per bucket an add or delete names
        adds_by: dict[int, list[tuple]] = {}
        for r in [*del_set, *adds]:
            subjects.setdefault(spark_bucket(r[scol], self.n_buckets), set()).add(r[scol])
        for r in adds:
            adds_by.setdefault(spark_bucket(r[scol], self.n_buckets), []).append(r)
        files = manifest["files"]
        try:
            # the graph lookup scans every leaf, so it is gated like a read
            # of all of them
            scanned = files if graphs else self._leaves_in(files, set(subjects))
            n_read = sum(self._entry_row_count(f) for f in scanned)
        except OSError:
            return None
        if n_read > self.SMALL_COMMIT_ROWS:
            return None

        touched = set(subjects)
        if graphs:
            in_graphs = ds.field("graph").isin(graphs)
            held = self._read_leaves(files, in_graphs, ["bucket"]).column("bucket")
            touched.update(pc.unique(held).to_pylist())
        leaves = {b: self._leaves_in(files, {b}) for b in touched}
        table = self._read_leaves(
            [f for fs in leaves.values() for f in fs], columns=[*QUAD_COLS, "bucket"]
        )
        merged = {}
        for b in leaves:
            new = old = table.filter(pc.equal(table["bucket"], b)).drop_columns("bucket")
            if graphs:
                new = old.filter(pc.invert(pc.is_in(old["graph"], value_set=pa.array(graphs))))
            changed = new.num_rows < old.num_rows
            if b in subjects:
                # only rows sharing a subject with an add or a delete can
                # equal one: just those leave Arrow
                near = pc.is_in(new["subject"], value_set=pa.array(sorted(subjects[b]), pa.string()))
                t = new.filter(near)
                rows = list(zip(*(t.column(c).to_pylist() for c in QUAD_COLS)))
                kept = [r for r in rows if r not in del_set]
                have = set(kept)
                fresh = [r for r in adds_by.get(b, ()) if r not in have]
                if len(kept) < len(rows) or fresh:
                    far = new.filter(pc.invert(near))
                    new, changed = pa.concat_tables([far, _arrow_table(kept + fresh)]), True
            if changed:
                merged[b] = new
        drop = [f for b in merged for f in leaves[b]]
        carried = [f for f in files if self._bucket_of(f) not in merged]
        return self._swap(manifest, carried + self._write_leaves(merged), drop, txn_id)

    def _read_leaves(self, entries: list[str], filter=None, columns=QUAD_COLS):
        """Leaves as one pyarrow table of ``columns``, in one schema
        whatever the writer's nullability flags and metadata: a single
        ``pyarrow.dataset`` read of every leaf's part files, with
        ``filter`` (a ``pyarrow.dataset`` expression) pushed into the
        scan.  ``bucket`` is a column too, taken from each leaf's
        ``bucket=N`` directory.  The driver's one reader of the store:
        the driver commit tier and ``Snapshot.arrow`` both use it."""
        import pyarrow as pa
        import pyarrow.dataset as ds

        parts = [
            os.path.join(leaf, f)
            for leaf in (os.path.join(self.files_dir, e) for e in entries)
            for f in os.listdir(leaf)
            if f.endswith(".parquet")
        ]
        bucket = pa.field("bucket", pa.int32())
        dataset = ds.dataset(
            parts,
            schema=_arrow_table(()).schema.append(bucket),
            format="parquet",
            partitioning=ds.partitioning(pa.schema([bucket]), flavor="hive"),
            partition_base_dir=self.files_dir,
        )
        return dataset.to_table(columns=list(columns), filter=filter)

    def _write_leaves(self, tables_by_bucket: dict) -> list[str]:
        """Write one pyarrow leaf per non-empty bucket table under a fresh
        uuid dir; return the manifest entries."""
        import pyarrow.parquet as pq

        name = uuid.uuid4().hex
        entries = []
        for b, table in sorted(tables_by_bucket.items()):
            if not table.num_rows:
                continue
            leaf = os.path.join(self.files_dir, name, f"bucket={b}")
            os.makedirs(leaf, exist_ok=True)
            # no ARROW:schema footer entry (~0.6 KB a leaf): every reader
            # goes by the parquet schema
            pq.write_table(
                table, os.path.join(leaf, "part-00000.parquet"), store_schema=False
            )
            _LEAF_ROWS[leaf] = table.num_rows
            entries.append(f"{name}/bucket={b}")
        return entries

    # -- maintenance ------------------------------------------------------
    def compact(self, spark: SparkSession, min_files_per_bucket: int = 2) -> int:
        """Merge small bucket leaves (the small-files problem).

        Every micro-batch commit appends one leaf per touched bucket, so a
        long-running connector accumulates O(commits) files and scan/task
        overhead grows unboundedly — the classic streaming-ingest failure
        mode at scale.  Compaction reads each bucket whose leaf count is
        >= ``min_files_per_bucket``, rewrites it as a single leaf, and atomically swaps the manifest —
        the same MVCC swap as a commit, so concurrent readers keep their
        snapshot and the single writer can run this between batches (the
        reference's TDB2 has the analogous offline ``compact`` operation).
        Returns the new version, or the current one if nothing to do.
        """
        with self._write_lock:
            return self._compact_locked(spark, min_files_per_bucket)

    def _compact_locked(self, spark: SparkSession, min_files_per_bucket: int) -> int:
        manifest = self._read_manifest()
        by_bucket: dict[int, list[str]] = {}
        for f in manifest["files"]:
            by_bucket.setdefault(self._bucket_of(f), []).append(f)
        merge = [f for fs in by_bucket.values() if len(fs) >= min_files_per_bucket for f in fs]
        if len(merge) <= 1:
            return manifest["version"]
        paths = [os.path.join(self.files_dir, f) for f in merge]
        merged = spark.read.schema(QUAD_SCHEMA).parquet(*paths)
        new_entries = self._write_partitioned(merged)
        untouched = [f for f in manifest["files"] if f not in set(merge)]
        return self._swap(manifest, untouched + new_entries, merge, None)

    def _retire(self, manifest: dict, drop_files: list[str], grace: int | None = None) -> None:
        """Tombstone newly dropped leaves at the (already incremented)
        manifest version and physically delete the tombstones that are
        ``grace`` (default ``grace_versions``) versions old and that no
        live in-process snapshot lists.  Runs under ``_PINS_LOCK``, before
        the manifest swap; a crash in between just leaves tombstones
        pointing at already-deleted paths, which re-delete as no-ops next
        time."""
        version = manifest["version"]
        grace = self.grace_versions if grace is None else grace
        pinned = {f for files in _PINS.get(self._key, {}).values() for f in files}
        keep: list[list] = []
        for f, dropped_at in manifest["tombstones"] + [[f, version] for f in drop_files]:
            if version - dropped_at >= grace and f not in pinned:
                self._delete_leaf(f)
            else:
                keep.append([f, dropped_at])
        manifest["tombstones"] = keep

    def vacuum(self) -> int:
        """Delete every tombstoned leaf regardless of age (admin op, like
        Delta VACUUM with retention 0), except those a live in-process
        snapshot still reads.  Returns the number removed."""
        with self._write_lock:
            manifest = self._read_manifest()
            n = len(manifest["tombstones"])
            with _PINS_LOCK:
                self._retire(manifest, [], grace=0)
                self._write_manifest(manifest)
            return n - len(manifest["tombstones"])

    def _delete_leaf(self, f: str) -> None:
        import shutil

        leaf = os.path.join(self.files_dir, f)
        _LEAF_ROWS.pop(leaf, None)
        shutil.rmtree(leaf, ignore_errors=True)


class Snapshot:
    """One committed version's leaf list, read from the manifest once and
    pinned: no commit in this process deletes a leaf it lists until
    ``release()`` is called or the snapshot is garbage-collected.

    ``small`` holds when the version has at most the store's
    ``SMALL_COMMIT_ROWS`` rows, summed from leaf footers (memoized, so an
    unchanged snapshot opens none).  Every scan of a small snapshot is ONE
    partition (``coalesce(1)``): a single partition satisfies every
    clustered and ordered distribution, so aggregates and global sorts
    over it plan no exchange and a bounded ``limit`` finishes in one pass
    — one Spark job where the file-split layout needs a shuffle stage or
    a second scan."""

    def __init__(self, spark: SparkSession, store: QuadStore):
        self.spark = spark
        self.store = store
        token = next(_PIN_TOKENS)
        with _PINS_LOCK:
            self.files = store._read_manifest()["files"]
            _PINS.setdefault(store._key, {})[token] = self.files
        # idempotent: the first call (or collection) unpins
        self.release = weakref.finalize(self, _unpin, store._key, token)
        rows = sum(store._entry_row_count(f) for f in self.files)
        self.small = rows <= store.SMALL_COMMIT_ROWS

    def scan(self, subject: str | None = None) -> DataFrame:
        """One ``FileScan`` of every leaf or, given a constant IRI
        ``subject``, of only the leaves of the bucket it hashes to —
        chosen here on the driver with the xxh64 twin of Spark's
        ``xxhash64``, so the plan never holds the other buckets' files.
        No leaf to scan gives a typed empty frame."""
        from .xxh64 import spark_bucket

        files = self.files
        if subject is not None:
            files = self.store._leaves_in(files, {spark_bucket(subject, self.store.n_buckets)})
        if files:
            paths = [os.path.join(self.store.files_dir, f) for f in files]
            df = self.spark.read.schema(QUAD_SCHEMA).parquet(*paths)
        else:
            df = quad_frame(self.spark, ())
        return df.coalesce(1) if self.small else df

    def arrow(self, filter=None):
        """Every row (matching ``filter``, a ``pyarrow.dataset``
        expression) as one pyarrow table, read on the driver with one
        ``pyarrow.dataset`` read: no Spark job.  Meant for ``small``
        snapshots, as the table holds its rows in driver memory."""
        return self.store._read_leaves(self.files, filter)
