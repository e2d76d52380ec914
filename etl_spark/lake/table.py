"""Snapshot-versioned Parquet lake table with atomic commits.

The north rule requires an exactly-once, schema-evolving, rollback-able
lake sink (the role Iceberg plays on a production cluster — its runtime
jar is not in this image, so the table format is implemented here from
first principles; the public Iceberg *spec* concepts — snapshot
manifests, atomic pointer swap, hidden bucket partitioning, additive
schema evolution, snapshot rollback — are re-derived on plain Parquet).

It replaces, Spark-natively, the reference's warehouse mechanics:

* monthly ``PARTITION BY RANGE`` + on-demand partition DDL
  (/root/reference/etl/insert/ensure_partitions.py:28-58)  ->  hidden
  hash-bucket layout on the merge key (``pmod(xxhash64(key), B)``);
* ``INSERT ... ON CONFLICT DO NOTHING`` idempotency
  (/root/reference/etl/rollup/sql/fact_cell_rollup.sql:138)  ->
  snapshot ``applied_epochs`` bookkeeping: re-committing an epoch is a
  no-op, so replay converges (exactly-once);
* one transaction per load day (/root/reference/main.py:147
  ``conn.commit()``)  ->  one atomic HEAD pointer swap per commit;
* rollback-by-date (/root/reference/etl/init/single_statement_sql/
  98_rollback.sql:1-27)  ->  ``rollback(version)`` pointer move.

Layout::

    <root>/
      data/v<version>/_pb=<bucket>/part-<bucket>.parquet
      _snapshots/v<version>.json      # immutable manifest
      _HEAD                           # atomic pointer: current version

Scale design (100 TB, 1000 executors)
-------------------------------------
* Data is bucketed by ``pmod(xxhash64(key), n_buckets)``; a MERGE only
  reads + rewrites the buckets containing changed keys
  (copy-on-write at bucket granularity — the manifest carries forward
  untouched buckets' file references, so per-epoch write cost is
  proportional to touched data, not table size).
* The ``_bucket`` column is stored physically in every file, so a
  bucket-pruned read is an explicit file-list scan — no directory
  listing of the whole table, no partition discovery job.
* Manifests are O(n_buckets x files-per-bucket) JSON — thousands of
  entries, driver-side trivial (same shape as an Iceberg manifest list).
* Every data file is written by one function, ``write_bucket_file``:
  one file per bucket per commit, in one Arrow layout (timestamps as
  ``timestamp[us, tz=UTC]``), clustered on the event-time column
  (nulls first), with its manifest stats taken from the arrays it has
  just written — no commit re-reads its own output. The manifest's
  per-file [min, max] event-time bounds let a time-range read skip
  files — the successor of the reference's SP-GiST/stbox window
  indexes (/root/reference/etl/init/sql/31_fact_cell.sql:35).
* Commits are optimistic-concurrency guarded (the Iceberg commit
  protocol shape): version ids are claimed atomically (O_EXCL claim
  marker, never reused), the HEAD swap runs under a short O_EXCL lock
  with a parent check, and a loser either rebases its metadata onto
  the new head (appends, disjoint-bucket merges) or raises
  :class:`CommitConflictError` loudly (overlapping bucket rewrites) —
  never a silently dropped snapshot. The atomic rename gives readers
  snapshot isolation either way.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable, Iterable, Sequence
from zoneinfo import ZoneInfo

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

BUCKET_COL = "_bucket"
# Tombstone control column (see etl_spark/schema.py PAGES_SCHEMA): rows
# with _deleted=true are retained delete markers, hidden from default
# reads, arbitrated like live rows by MERGE, GC'd by expire_tombstones.
DELETED_COL = "_deleted"
_PARTITION_DIR_COL = "_pb"  # directory-layout twin of BUCKET_COL


class CommitConflictError(RuntimeError):
    """Two writers raced a commit and the loser's changes could not be
    rebased safely (overlapping bucket rewrite, or a stale/stuck commit
    lock). The losing commit is NOT applied; retry after inspecting."""


def bucket_expr(key_cols: list[str], n_buckets: int):
    """Deterministic bucket id: pmod(xxhash64(keys), B).

    xxhash64 (not random ids) per the reference's own lesson: its random
    trajectory_sub_id generator needs a collision-retry loop
    (/root/reference/etl/insert/insert_trajectories.py:30-50); a
    deterministic hash is replay-stable for free.
    """
    return F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(n_buckets)).cast("int")


def repartition_by_bucket(df: DataFrame, touched: Sequence[int]) -> DataFrame:
    """Hash-partition ``df`` on BUCKET_COL into one wave of tasks:
    ``min(len(touched), defaultParallelism)`` partitions, ``touched``
    being the buckets ``df`` may hold.

    A bucket-granular epoch step (the SPJ merge kernel, the per-epoch
    rollup) costs per bucket, not per delta byte. Left to AQE, its
    shuffle is sized by bytes: a trickle epoch's few hundred KB fall
    under the coalescing floor and ONE task rewrites every touched
    bucket while the other cores idle. An explicit-count repartition is
    never coalesced, and one partition per slot (not per bucket) keeps
    each task's fixed Python-worker cost paid once per core. Every
    bucket still lands in exactly one partition, so a commit's
    ``groupBy(BUCKET_COL)`` write downstream plans no second shuffle."""
    n = min(len(touched), df.sparkSession.sparkContext.defaultParallelism)
    return df.repartition(n, F.col(BUCKET_COL))


def _resolve_filesystem(root: str):
    """Filesystem seam for executor-side data-file IO (the SPJ merge's
    current-side read and its bucket-file write). A POSIX root uses
    pyarrow's LocalFileSystem (the sandbox / shared-NFS case); a URI
    root (``s3://…``, ``hdfs://…``, ``file://…``) resolves through
    ``FileSystem.from_uri`` — pointing the warehouse at an object store
    changes the root string, not the kernel (the Iceberg-SPJ analog:
    data files are fetched by path via the store's client, never
    through the driver)."""
    from pyarrow import fs as pafs

    if "://" in root:
        filesystem, base = pafs.FileSystem.from_uri(root)
        return filesystem, base
    return pafs.LocalFileSystem(), root


def arrow_schema(schema: T.StructType):
    """The Arrow layout executor-side IO reads and writes the table in:
    Spark's own type mapping with timestamps as ``timestamp[us,
    tz=UTC]`` instants, every field nullable (Spark reads files with
    its read schema made nullable anyway)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    return pa.schema(
        [f.with_nullable(True) for f in to_arrow_schema(schema, timestamp_utc=True)]
    )


def _event_time_field(
    schema: T.StructType, event_time_col: str | None
) -> T.StructField | None:
    """The event-time field stats are recorded on, or None when the
    column is absent or not temporal (no bounds can be recorded)."""
    f = next((f for f in schema.fields if f.name == event_time_col), None)
    if f is None or not isinstance(f.dataType, (T.TimestampType, T.DateType)):
        return None
    return f


def _utc_iso(us: int) -> str:
    """A timestamp (microseconds since the epoch) as the manifest records
    it: an ISO UTC instant, whatever the session or process zone."""
    epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
    return (epoch + dt.timedelta(microseconds=us)).isoformat()


def _instants(x: dt.datetime, tz: str | None) -> tuple[dt.datetime, dt.datetime]:
    """Earliest and latest UTC instant ``x`` can denote. An aware
    datetime is exact; a naive one is a wall time in ``tz`` (None: the
    process zone), which a DST change can make ambiguous or skip, so
    both readings count and a caller prunes only on what holds for
    either."""
    if x.tzinfo is not None:
        at = x.astimezone(dt.timezone.utc)
        return at, at
    zone = ZoneInfo(tz) if tz else None
    readings = [
        (x.replace(fold=f, tzinfo=zone) if zone else x.replace(fold=f).astimezone())
        .astimezone(dt.timezone.utc)
        for f in (0, 1)
    ]
    return min(readings), max(readings)


def _bound_instants(x, session_tz: str) -> tuple[dt.datetime, dt.datetime]:
    """A caller's time bound as Spark reads it in a filter: a string
    casts in the session zone (or by its own offset), a naive datetime
    literal converts in the process zone (PySpark's rule), a date is
    its session-zone midnight. ValueError on a junk string."""
    if isinstance(x, str):
        return _instants(dt.datetime.fromisoformat(x), session_tz)
    if isinstance(x, dt.datetime):
        return _instants(x, None)
    return _instants(dt.datetime.combine(x, dt.time()), session_tz)


def _recorded_instants(s: str, session_tz: str) -> tuple[dt.datetime, dt.datetime]:
    """A recorded bound: a UTC instant, a date (compared as its
    session-zone midnight), or — in manifests written before bounds
    were instants — a naive process-zone wall time."""
    if "T" not in s:
        return _instants(dt.datetime.fromisoformat(s), session_tz)
    return _instants(dt.datetime.fromisoformat(s), None)


# One row per data file ``write_bucket_file`` wrote: where it is, its
# size, and the stats a commit records for it.
BUCKET_FILE_SCHEMA = T.StructType(
    [
        T.StructField(BUCKET_COL, T.IntegerType(), False),
        # null: the bucket was left with no rows, and no file was written
        T.StructField("path", T.StringType(), True),
        T.StructField("rows", T.LongType(), False),
        T.StructField("bytes", T.LongType(), False),
        T.StructField("ts_min", T.StringType(), True),
        T.StructField("ts_max", T.StringType(), True),
        T.StructField("n_dead", T.LongType(), False),
        T.StructField("dead_min", T.StringType(), True),
    ]
)


@dataclass
class BucketFileWrite:
    """What every commit with data writes through.

    ``build(version)`` writes each bucket through
    ``LakeTable.write_bucket_file`` under ``version`` and returns its
    ``BUCKET_FILE_SCHEMA`` rows: a DataFrame whose tasks do the writing
    (collected by the commit), or the rows themselves when the driver
    wrote the files. ``version`` is the id the commit claims before
    building, unless the caller claimed it already (files written
    before the commit started, e.g. rollup partials written by the
    merge kernel). ``collected``, when given, receives every collected
    row, extra columns included, before the commit reads its summary
    (the caller may still add what the rows tell it) and publishes.

    A caller brings its own build when it already holds the rows (the
    merge kernel, the lineage flush); a DataFrame handed to ``commit``
    or ``append`` becomes :meth:`LakeTable._frame_write`'s build."""

    build: Callable[[int], DataFrame | list]
    version: int | None = None
    collected: Callable[[list], None] | None = None

    def rows(self, version: int) -> list:
        out = self.build(version)
        rows = out.collect() if isinstance(out, DataFrame) else list(out)
        if self.collected is not None:
            self.collected(rows)
        return rows


@dataclass
class Snapshot:
    version: int
    parent: int | None
    schema_json: str
    key_cols: list[str]
    n_buckets: int
    files: dict[str, list[str]]  # bucket id (as str) -> relative parquet paths
    applied_epochs: list[int]
    summary: dict
    committed_at: float
    # Manifest-level tombstone statistics (Iceberg delete-file stats
    # analog): {"col": <event-time col>, "buckets": {bucket: [count,
    # min-event-time-iso-or-null]}}. A bucket PRESENT in "buckets" has
    # known tombstone state ([0, null] = clean, prunable); a bucket
    # with files but no entry is UNKNOWN and must be scanned. Lets
    # expire_tombstones prune its discovery scan to buckets whose
    # min is past the horizon instead of reading the whole table.
    tombstone_stats: dict = field(default_factory=dict)
    # Per-file event-time bounds (Iceberg per-file column metrics
    # analog, the successor of the reference's SP-GiST/stbox indexes,
    # /root/reference/etl/init/sql/31_fact_cell.sql:35):
    # {"col": <event-time col>, "files": {rel_path: [min-iso-or-null,
    # max-iso-or-null]}}. Written files are clustered on the event-time
    # column (``write_bucket_file`` sorts them), so the bounds are tight;
    # ``read(time_range=...)`` skips files whose bounds fall outside
    # the window. [null, null] = the file holds ONLY null-event-time
    # rows (prunable by ANY range predicate, which excludes nulls); a
    # file with no entry is UNKNOWN and always read. Bounds are ISO UTC
    # instants (manifests written before that hold naive process-zone
    # wall times, still read as such).
    file_stats: dict = field(default_factory=dict)
    # Hidden derived columns: {name: Spark SQL expression over the
    # row}. Every data file a writer produces carries them next to
    # BUCKET_COL, outside the table schema (``read`` never shows them):
    # a DataFrame commit evaluates the expression before its write, the
    # merge kernel receives them on its input. A file that lacks one
    # predates its declaration. The table format stays schema-agnostic;
    # the pipeline declares the pages table's ``_domain`` here.
    derived_cols: dict = field(default_factory=dict)

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(json.loads(self.schema_json))

    def to_json(self) -> str:
        return json.dumps(
            {
                "version": self.version,
                "parent": self.parent,
                "schema_json": self.schema_json,
                "key_cols": self.key_cols,
                "n_buckets": self.n_buckets,
                "files": self.files,
                "applied_epochs": self.applied_epochs,
                "summary": self.summary,
                "committed_at": self.committed_at,
                "tombstone_stats": self.tombstone_stats,
                "file_stats": self.file_stats,
                "derived_cols": self.derived_cols,
            },
            indent=1,
        )

    @staticmethod
    def from_json(raw: str) -> "Snapshot":
        d = json.loads(raw)
        return Snapshot(**d)


class LakeTable:
    """A snapshot-versioned, bucket-partitioned Parquet table."""

    def __init__(self, root: str):
        self.root = root

    # -- paths ------------------------------------------------------------
    @property
    def _head_path(self) -> str:
        return os.path.join(self.root, "_HEAD")

    def _snap_path(self, version: int) -> str:
        return os.path.join(self.root, "_snapshots", f"v{version:06d}.json")

    def _data_dir(self, version: int) -> str:
        return os.path.join(self.root, "data", f"v{version:06d}")

    # -- lifecycle ---------------------------------------------------------
    @staticmethod
    def create(
        root: str,
        schema: T.StructType,
        key_cols: list[str],
        n_buckets: int = 16,
        derived_cols: dict | None = None,
    ) -> "LakeTable":
        """Create an empty table (v0). Successor of the reference's DDL
        bootstrap (/root/reference/etl/init/sqlrunner.py:44-57)."""
        os.makedirs(os.path.join(root, "_snapshots"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        table = LakeTable(root)
        if os.path.exists(table._head_path):
            raise FileExistsError(f"table already exists at {root}")
        snap = Snapshot(
            version=0,
            parent=None,
            schema_json=json.dumps(schema.jsonValue()),
            key_cols=list(key_cols),
            n_buckets=n_buckets,
            files={},
            applied_epochs=[],
            summary={"operation": "create"},
            committed_at=time.time(),
            derived_cols=dict(derived_cols or {}),
        )
        table._write_snapshot(snap)
        table._swap_head(0)
        return table

    @staticmethod
    def exists(root: str) -> bool:
        return os.path.exists(os.path.join(root, "_HEAD"))

    def drop(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)

    # -- snapshot bookkeeping ------------------------------------------------
    def head_version(self) -> int:
        with open(self._head_path) as fh:
            return int(fh.read().strip())

    def snapshot(self, version: int | None = None) -> Snapshot:
        if version is None:
            version = self.head_version()
        with open(self._snap_path(version)) as fh:
            return Snapshot.from_json(fh.read())

    def versions(self) -> list[int]:
        snap_dir = os.path.join(self.root, "_snapshots")
        return sorted(int(f[1:-5]) for f in os.listdir(snap_dir) if f.endswith(".json"))

    def _write_snapshot(self, snap: Snapshot) -> None:
        path = self._snap_path(snap.version)
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            fh.write(snap.to_json())
        os.rename(tmp, path)

    def _swap_head(self, version: int) -> None:
        """Atomic commit: POSIX rename is the transaction boundary —
        the analog of the reference's per-day ``conn.commit()``
        (/root/reference/main.py:147)."""
        tmp = self._head_path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            fh.write(str(version))
        os.rename(tmp, self._head_path)

    def rollback(self, version: int) -> None:
        """Point HEAD at an older snapshot (successor of
        98_rollback.sql's delete-by-date-id undo)."""
        if not os.path.exists(self._snap_path(version)):
            raise FileNotFoundError(f"no snapshot v{version}")
        self._swap_head(version)

    def applied_epochs(self) -> set[int]:
        return set(self.snapshot().applied_epochs)

    def _claim_version(self) -> int:
        """Atomically allocate a version id ABOVE every existing
        snapshot AND every outstanding claim, not head+1.

        Two rules, both Iceberg's: (1) after ``rollback(v)`` the next
        commit starts a new branch, and head+1 would reuse — and
        overwrite, manifest and data directory both — the rolled-back
        branch's numbers, destroying files that later snapshots still
        reference; (2) two concurrent writers must never allocate the
        same id, so the claim is an O_EXCL marker file — the loser's
        O_EXCL fails and it moves to the next id. A crashed writer's
        leftover claim permanently skips that number, which is exactly
        the never-reuse rule. Claims cost one inode each; they are
        removed with their snapshot by expire_snapshots."""
        snap_dir = os.path.join(self.root, "_snapshots")
        v = (
            max(
                int(f[1:].split(".", 1)[0])
                for f in os.listdir(snap_dir)
                if f.endswith((".json", ".claim"))
            )
            + 1
        )
        while True:
            try:
                fd = os.open(
                    self._snap_path(v) + ".claim",
                    os.O_CREAT | os.O_EXCL | os.O_WRONLY,
                )
                os.close(fd)
                return v
            except FileExistsError:
                v += 1

    @contextmanager
    def _commit_lock(self, timeout: float = 10.0):
        """Serialize the (head-check, snapshot-write, head-swap)
        critical section across writers on one warehouse. The section
        is two tiny file writes, so the lock is held for milliseconds;
        a lock outliving ``timeout`` means a writer died inside it —
        fail loudly with the path so an operator can clear it."""
        path = os.path.join(self.root, "_COMMIT_LOCK")
        deadline = time.time() + timeout
        while True:
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                break
            except FileExistsError:
                if time.time() >= deadline:
                    raise CommitConflictError(
                        f"commit lock {path} held for >{timeout}s; a writer "
                        "likely died mid-commit — remove the lock file after "
                        "verifying no commit is in flight"
                    )
                time.sleep(0.005)
        try:
            os.close(fd)
            yield
        finally:
            os.unlink(path)

    @staticmethod
    def _merge_tombstone_stats(
        head: Snapshot,
        written: dict[str, list[str]],
        replaced: Iterable[str],
        overwrite_all: bool,
        written_stats: dict[str, list] | None,
        event_time_col: str | None,
    ) -> dict:
        """Next snapshot's tombstone_stats: carry forward untouched
        buckets, drop ``replaced`` buckets (unknown unless recomputed),
        overlay the just-written buckets' fresh stats. A bucket that is
        written but not replaced (an append) adds the new files' marker
        count and earliest marker to what is on record for it; a bucket
        whose state is unknown stays unknown."""
        head_stats = head.tombstone_stats or {}
        # a caller naming the event-time column adopts it even when the
        # write produced no files (e.g. GC emptied the last marker)
        col = event_time_col or head_stats.get("col")
        if not col:
            return {}
        buckets: dict = {}
        if not overwrite_all and head_stats.get("col") == col:
            buckets.update(head_stats.get("buckets", {}))
        replaced = set(replaced)
        for b in replaced:
            buckets.pop(b, None)
        if written_stats is None:
            # written without stats -> state unknown, must scan
            for b in written:
                buckets.pop(b, None)
            return {"col": col, "buckets": buckets}
        for b, (n, first) in written_stats.items():
            if b in replaced or overwrite_all or not head.files.get(b):
                buckets[b] = [n, first]
            elif b in buckets:
                n0, first0 = buckets[b]
                known = [t for t in (first0, first) if t is not None]
                buckets[b] = [
                    n0 + n,
                    min(known, key=lambda t: _recorded_instants(t, "UTC")[0])
                    if known
                    else None,
                ]
        return {"col": col, "buckets": buckets}

    @staticmethod
    def _merge_file_stats(
        head: Snapshot,
        files: dict[str, list[str]],
        written_file_stats: dict[str, list] | None,
        event_time_col: str | None,
    ) -> dict:
        """Next snapshot's per-file event-time bounds: carry forward
        entries whose files survive, overlay the just-written files'
        fresh bounds, drop entries for removed files. Entries recorded
        under a DIFFERENT event column don't carry (bounds of another
        column are meaningless for pruning this one)."""
        head_stats = head.file_stats or {}
        col = event_time_col or head_stats.get("col")
        if not col:
            return {}
        live = {p for plist in files.values() for p in plist}
        out: dict[str, list] = {}
        if head_stats.get("col") == col:
            out = {
                p: st
                for p, st in head_stats.get("files", {}).items()
                if p in live
            }
        if written_file_stats:
            out.update(
                {p: st for p, st in written_file_stats.items() if p in live}
            )
        return {"col": col, "files": out}

    def _publish(self, snap: Snapshot, added: dict[str, list[str]]) -> bool:
        """Attempt the atomic publish: holds the commit lock, verifies
        HEAD still equals ``snap.parent``, then writes the manifest and
        swaps HEAD. Returns False (without publishing) if another
        writer moved HEAD first — the caller rebases and retries.

        ``added`` (bucket -> relative paths) are the files this commit
        wrote. Each must still exist: an orphan sweep that judged a
        slow writer's claim abandoned may have deleted them, and a HEAD
        naming missing files is never acceptable — raise instead."""
        with self._commit_lock():
            if self.head_version() != snap.parent:
                return False
            missing = [
                p
                for paths in added.values()
                for p in paths
                if not os.path.exists(os.path.join(self.root, p))
            ]
            if missing:
                raise CommitConflictError(
                    f"{len(missing)} data file(s) of this commit are gone "
                    f"(e.g. {missing[0]}); an orphan sweep removed them "
                    "mid-commit — re-run the commit"
                )
            self._write_snapshot(snap)
            self._swap_head(snap.version)
            return True

    # -- read ---------------------------------------------------------------
    def read(
        self,
        spark: SparkSession,
        buckets: Iterable[int] | None = None,
        version: int | None = None,
        with_bucket: bool = False,
        include_deleted: bool = False,
        time_range: tuple | None = None,
    ) -> DataFrame:
        """Snapshot read; optional bucket pruning via explicit file list.

        Old files missing later-added columns read as null (additive
        schema evolution — the explicit read schema fills the gap,
        no mergeSchema full-footer scan needed).

        Tables carrying the tombstone column hide delete markers by
        default; ``include_deleted`` exposes them (the MERGE current-side
        read and maintenance need the markers to arbitrate/GC). The
        filter is a pure Catalyst predicate, so it pushes into the
        parquet scan.

        ``time_range=(lo, hi)`` (datetimes or ISO strings, either side
        None for open-ended) additionally skips files whose manifest
        event-time bounds fall outside [lo, hi] — the manifest-level
        twin of parquet row-group min/max pruning, and the successor of
        the reference's stbox/SP-GiST window indexes (cell_query.sql's
        bread-and-butter read) — and filters rows to
        ``event_time_col BETWEEN lo AND hi`` itself, the column being
        the one the manifest's bounds were recorded on. The result is
        exactly the window whatever files pruning kept: pruning is a pure
        optimisation, and null event times are always excluded (a range
        predicate never matches them), not only when they happen to sit
        in a pruned all-null file. On a table where no commit has
        recorded an event-time column there are neither bounds nor a
        column to filter on, and ``time_range`` leaves the read whole.
        """
        snap = self.snapshot(version)
        schema = snap.schema
        read_schema = T.StructType(
            schema.fields + [T.StructField(BUCKET_COL, T.IntegerType(), False)]
        )
        if buckets is None:
            paths = [p for plist in snap.files.values() for p in plist]
        else:
            paths = [p for b in buckets for p in snap.files.get(str(b), [])]
        in_range = None
        if time_range is not None:
            in_range = self._time_range_predicate(snap, time_range)
            paths = self._prune_paths_by_time(
                snap,
                paths,
                time_range,
                spark.conf.get("spark.sql.session.timeZone"),
            )
        if not paths:
            df = spark.createDataFrame([], read_schema)
        else:
            df = spark.read.schema(read_schema).parquet(
                *[os.path.join(self.root, p) for p in paths]
            )
        if in_range is not None:
            df = df.filter(in_range)
        has_tomb = any(f.name == DELETED_COL for f in schema.fields)
        if has_tomb and not include_deleted:
            # IsNull-OR-EqualTo (not ~coalesce) so the predicate stays
            # parquet-pushable: tombstone-heavy row groups skip on stats.
            df = df.filter(
                F.col(DELETED_COL).isNull() | (F.col(DELETED_COL) == F.lit(False))
            ).drop(DELETED_COL)
        if not with_bucket:
            df = df.drop(BUCKET_COL)
        return df

    @staticmethod
    def _time_range_predicate(
        snap: Snapshot, time_range: tuple
    ) -> F.Column | None:
        """``col BETWEEN lo AND hi`` on the snapshot's event-time column
        (an open side drops its bound; nulls never match), or None when
        no commit has recorded an event-time column. String bounds cast
        in Spark, i.e. in the session time zone, as the caller's own
        ``to_timestamp`` would."""
        import datetime as dt

        col = (snap.file_stats or {}).get("col")
        if not col:
            return None

        def _lit(x):
            if isinstance(x, str):
                dt.datetime.fromisoformat(x)  # ValueError on junk
                return F.lit(x).cast(T.TimestampType())
            return F.lit(x)

        lo, hi = time_range
        pred = F.col(col).isNotNull()
        if lo is not None:
            pred = pred & (F.col(col) >= _lit(lo))
        if hi is not None:
            pred = pred & (F.col(col) <= _lit(hi))
        return pred

    @staticmethod
    def _prune_paths_by_time(
        snap: Snapshot, paths: list[str], time_range: tuple, session_tz: str
    ) -> list[str]:
        """Drop files whose recorded [min, max] event-time bounds prove
        no row can satisfy ``lo <= t <= hi``. Files with no recorded
        bounds are kept (unknown is never pruned); [null, null] files
        hold only null event times and are pruned (a range predicate
        excludes nulls). Bounds and the caller's range compare as UTC
        instants, the range read the way ``_time_range_predicate``'s
        filter reads it (strings in ``session_tz``), so a pruned read
        equals an unpruned one in any session zone."""
        stats = snap.file_stats or {}
        entries = stats.get("files")
        if not entries:
            return paths
        try:
            lo, hi = (
                _bound_instants(x, session_tz) if x is not None else None
                for x in time_range
            )
        except (TypeError, ValueError):
            return paths  # unusable range: correctness over pruning
        out = []
        for p in paths:
            ent = entries.get(p)
            if ent is None:
                out.append(p)  # unknown bounds: must read
                continue
            mn, mx = ent
            if mn is None and mx is None:
                continue  # only null event times: no range can match
            if lo is not None and mx is not None:
                if _recorded_instants(mx, session_tz)[1] < lo[0]:
                    continue
            if hi is not None and mn is not None:
                if _recorded_instants(mn, session_tz)[0] > hi[1]:
                    continue
            out.append(p)
        return out

    def row_count(self, spark: SparkSession) -> int:
        return self.read(spark).count()

    # -- write --------------------------------------------------------------
    @staticmethod
    def read_bucket_files(root: str, paths: list[str], schema: T.StructType):
        """Read data files (relative to ``root``, through the filesystem
        seam) as ONE ``pyarrow.Table`` in the table's write layout (see
        :func:`arrow_schema`), and the set of ``schema`` columns some
        file lacked. Each file is cast to that layout before the concat:
        files written by Spark's parquet writer (tables written before
        every commit went through ``write_bucket_file``) store timestamps
        as INT96, which read back as naive ``timestamp[ns]`` holding UTC
        wall time, ``write_bucket_file`` stores ``timestamp[us,
        tz=UTC]``, and files
        older than an additive schema change (or a derived column's
        declaration) lack its columns (read as nulls) —
        ``concat_tables`` refuses to mix any of these as is."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        target = arrow_schema(schema)
        filesystem, base = _resolve_filesystem(root)
        tables = [target.empty_table()]
        absent: set[str] = set()
        for p in paths:
            # use_threads=False: parallelism comes from Spark tasks;
            # Arrow's default per-call pool (cpu_count threads in EVERY
            # worker process) oversubscribes the box.
            got = pq.read_table(
                f"{base}/{p}", filesystem=filesystem, use_threads=False
            )
            absent.update(f.name for f in target if f.name not in got.column_names)
            tables.append(
                pa.Table.from_arrays(
                    [
                        got[f.name].cast(f.type)
                        if f.name in got.column_names
                        else pa.nulls(got.num_rows, f.type)
                        for f in target
                    ],
                    schema=target,
                )
            )
        return pa.concat_tables(tables), absent

    @staticmethod
    def write_bucket_file(
        root: str, version: int, bucket: int, data, event_time_col: str | None
    ) -> dict:
        """Write one bucket's rows (a ``pyarrow.Table`` in
        ``arrow_schema(schema + _bucket)`` layout) as the single file
        ``data/v<version>/_pb=<bucket>/part-<bucket>.parquet`` and return
        its ``BUCKET_FILE_SCHEMA`` row. Every data file of every table is
        written here: by the merge kernel, the lineage flush, and the
        grouped-map job of a DataFrame commit (:meth:`_frame_write`).

        Rows are clustered on ``event_time_col`` (nulls first); bounds
        are recorded when it is a timestamp or date column. The name is
        a function of (version, bucket) and the bytes land via tmp +
        rename through the filesystem seam, so a retried task replaces
        its own file and a reader never sees a partial one. The stats are
        exact, taken from the arrays just written: min/max ignore nulls,
        timestamps render as ISO UTC instants, and a file's tombstone
        count and earliest tombstone time are recorded when the table
        carries the tombstone column."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        def iso(scalar):
            if not scalar.is_valid:
                return None
            if pa.types.is_timestamp(scalar.type):
                return _utc_iso(scalar.cast(pa.timestamp("us", tz="UTC")).value)
            return scalar.as_py().isoformat()

        if event_time_col in data.column_names:
            data = data.take(
                pc.sort_indices(
                    data, [(event_time_col, "ascending")], null_placement="at_start"
                )
            )
        rel = (
            f"data/v{version:06d}/{_PARTITION_DIR_COL}={bucket}/"
            f"part-{bucket:05d}.parquet"
        )
        buf = pa.BufferOutputStream()
        pq.write_table(data, buf)
        body = buf.getvalue()
        filesystem, base = _resolve_filesystem(root)
        final = f"{base}/{rel}"
        tmp = f"{final}.tmp-{uuid.uuid4().hex}"
        filesystem.create_dir(final.rsplit("/", 1)[0], recursive=True)
        with filesystem.open_output_stream(tmp) as out:
            out.write(body)
        filesystem.move(tmp, final)

        row = {
            BUCKET_COL: bucket,
            "path": rel,
            "rows": data.num_rows,
            "bytes": body.size,
            "ts_min": None,
            "ts_max": None,
            "n_dead": 0,
            "dead_min": None,
        }
        ts = data[event_time_col] if event_time_col in data.column_names else None
        if ts is not None and (
            pa.types.is_timestamp(ts.type) or pa.types.is_date(ts.type)
        ):
            mm = pc.min_max(ts)
            row["ts_min"], row["ts_max"] = iso(mm["min"]), iso(mm["max"])
            if DELETED_COL in data.column_names:
                dead = pc.fill_null(data[DELETED_COL], False)
                row["n_dead"] = pc.sum(dead.cast(pa.int64())).as_py() or 0
                row["dead_min"] = iso(pc.min(pc.filter(ts, dead)))
        return row

    @staticmethod
    def _written_from_rows(
        rows, schema: T.StructType, event_time_col: str | None
    ) -> tuple[dict[str, list[str]], dict | None, dict | None, int]:
        """Fold the ``BUCKET_FILE_SCHEMA`` rows of a :class:`BucketFileWrite`
        — one row per bucket, as every writer writes one file per bucket
        — into what a commit records: bucket -> paths, per-bucket
        tombstone stats, per-file bounds, and the bytes written. A row
        with a null path names a bucket left with no rows: no file. Both
        stats are None when ``event_time_col`` is not a temporal column
        of ``schema``; the tombstone stats also when ``schema`` has no
        tombstone column."""
        rows = [r for r in rows if r["path"] is not None]
        written = {str(r[BUCKET_COL]): [r["path"]] for r in rows}
        n_bytes = sum(int(r["bytes"]) for r in rows)
        if _event_time_field(schema, event_time_col) is None or not rows:
            return written, None, None, n_bytes
        file_stats = {r["path"]: [r["ts_min"], r["ts_max"]] for r in rows}
        if not any(f.name == DELETED_COL for f in schema.fields):
            return written, None, file_stats, n_bytes
        bucket_stats = {
            str(r[BUCKET_COL]): [int(r["n_dead"]), r["dead_min"]] for r in rows
        }
        return written, bucket_stats, file_stats, n_bytes

    def _frame_write(
        self, df: DataFrame, event_time_col: str | None, derived_cols: dict
    ) -> BucketFileWrite:
        """A DataFrame commit input (it must carry BUCKET_COL) as a
        :class:`BucketFileWrite`: one grouped-map job hands each bucket's
        rows to ``write_bucket_file`` as one Arrow table and returns the
        files' stats rows, so a rewrite is a single Spark job with no
        re-scan of its output. ``derived_cols`` (the snapshot's hidden
        columns) are evaluated first, so every rewrite carries them and
        fills them where a legacy input file lacked them.

        ``groupBy(BUCKET_COL)`` shuffles on the bucket unless the input
        is already hash-partitioned on it (``repartition_by_bucket``),
        which Catalyst sees, so no second shuffle is planned. A bucket
        is one group, held in one Python worker's memory, as the merge
        kernel holds it. ``applyInArrow`` hands timestamps over as
        instants in the session zone; the cast to :func:`arrow_schema`
        makes them UTC without moving them."""
        from pyspark.sql.pandas.types import to_arrow_schema

        for name, sql in derived_cols.items():
            df = df.withColumn(name, F.expr(sql))
        root = self.root
        layout = arrow_schema(df.schema)
        row_layout = to_arrow_schema(BUCKET_FILE_SCHEMA)

        def build(version: int) -> DataFrame:
            def write(data):
                import pyarrow as pa

                bucket = data[BUCKET_COL][0].as_py()
                row = LakeTable.write_bucket_file(
                    root, version, bucket, data.cast(layout), event_time_col
                )
                return pa.Table.from_pylist([row], schema=row_layout)

            return df.groupBy(BUCKET_COL).applyInArrow(write, BUCKET_FILE_SCHEMA)

        return BucketFileWrite(build)

    def commit(
        self,
        new_data: DataFrame | BucketFileWrite | None,
        *,
        touched_buckets: Iterable[int] | None = None,
        schema: T.StructType | None = None,
        applied_epoch: int | None = None,
        summary: dict | None = None,
        overwrite_all: bool = False,
        n_buckets: int | None = None,
        event_time_col: str | None = None,
        base: Snapshot | None = None,
    ) -> Snapshot:
        """Write ``new_data`` (with BUCKET_COL) and commit a snapshot.

        ``touched_buckets``: buckets whose files are replaced by the new
        data, on top of every bucket the write returns a row for (a row
        with a null path replaces the bucket's files with none); other
        buckets carry forward (bucket-granular copy-on-write).
        ``overwrite_all`` replaces every bucket.
        Metadata-only commits (schema evolution) pass ``new_data=None``.
        ``event_time_col``: when given, written files are CLUSTERED on
        that column and the manifest records their per-file [min, max]
        bounds — what makes ``read(time_range=...)`` prune — plus, if
        the table carries the tombstone column, per-bucket tombstone
        stats so expire_tombstones can prune its discovery scan; without
        it the written files carry no bounds and the written buckets'
        tombstone state is marked unknown.

        Every kind of input is written the same way: a DataFrame becomes
        a :class:`BucketFileWrite` (:meth:`_frame_write`, one file per
        bucket), a caller's own :class:`BucketFileWrite` (the SPJ merge,
        the rollup partials it writes) brings its build. The build runs
        after the version claim (or brings the version its writer
        claimed); its stats rows become the manifest's stats, and its
        files and bytes land in the summary as
        ``files_added``/``bytes_written``. Everything from the publish
        on — rebase, conflict checks, the missing-file check — is one
        path.

        ``base``: the snapshot ``new_data`` was derived from (default:
        HEAD now). A writer that read the table before building its data
        (the merge kernel) passes the snapshot it read, so a commit that
        lands in between and rewrites one of its buckets is a conflict,
        not a silently overwritten change.
        """
        head = base if base is not None else self.snapshot()
        if applied_epoch is not None and applied_epoch in head.applied_epochs:
            return head  # exactly-once: epoch already applied
        # The spec the caller bucketed ``new_data`` against; a rebase
        # onto a head with a DIFFERENT spec is never safe (see below).
        base_n_buckets = head.n_buckets
        base_key_cols = list(head.key_cols)
        if isinstance(new_data, DataFrame):
            new_data = self._frame_write(new_data, event_time_col, head.derived_cols)
        if new_data is not None and new_data.version is not None:
            version = new_data.version  # claimed by the writer of its files
        else:
            version = self._claim_version()
        written: dict[str, list[str]] = {}
        written_stats, written_file_stats = None, None
        replaced = {str(b) for b in touched_buckets or []}
        if new_data is not None:
            rows = new_data.rows(version)
            replaced.update(str(r[BUCKET_COL]) for r in rows)
            written, written_stats, written_file_stats, n_bytes = (
                self._written_from_rows(
                    rows, schema or head.schema, event_time_col
                )
            )
            # Spark's task output metrics never see these pyarrow writes
            summary = {
                **(summary or {}),
                "files_added": sum(len(p) for p in written.values()),
                "bytes_written": n_bytes,
            }
        # Optimistic-concurrency publish loop (the Iceberg commit
        # protocol shape): data files are written once above; the
        # metadata (files dict, epochs, parent) is rebuilt against the
        # current head on every attempt, so a lost race rebases instead
        # of silently clobbering the winner's snapshot.
        while True:
            if overwrite_all:
                files = written
            else:
                files = dict(head.files)
                for b in replaced:
                    files.pop(b, None)
                files.update(written)
            epochs = list(head.applied_epochs)
            if applied_epoch is not None:
                epochs.append(applied_epoch)
            snap = Snapshot(
                version=version,
                parent=head.version,
                schema_json=json.dumps((schema or head.schema).jsonValue()),
                key_cols=head.key_cols,
                n_buckets=n_buckets or head.n_buckets,
                files=files,
                applied_epochs=sorted(epochs),
                summary=summary or {},
                committed_at=time.time(),
                tombstone_stats=self._merge_tombstone_stats(
                    head,
                    written,
                    replaced,
                    overwrite_all,
                    written_stats,
                    event_time_col,
                ),
                file_stats=self._merge_file_stats(
                    head, files, written_file_stats, event_time_col
                ),
                derived_cols=head.derived_cols,
            )
            if self._publish(snap, written):
                return snap
            # Lost the race. Re-read the winner's head and decide:
            new_head = self.snapshot()
            if applied_epoch is not None and applied_epoch in new_head.applied_epochs:
                return new_head  # the other writer applied this epoch
            if overwrite_all:
                # A full-table rewrite is derived from the pre-race
                # snapshot; republishing it would erase whatever the
                # winner committed in between (and adopting the winner's
                # applied_epochs would suppress replay of the lost
                # epoch). Never rebase — the caller re-derives from the
                # new head (compact/rebucket are pure maintenance, so a
                # rerun is always safe).
                raise CommitConflictError(
                    f"concurrent commit v{new_head.version} landed while "
                    "this overwrite_all commit was derived from "
                    f"v{head.version}; re-derive the rewrite from the "
                    "new head and retry"
                )
            if (
                new_head.n_buckets != base_n_buckets
                or new_head.key_cols != base_key_cols
            ):
                # The winner changed the bucketing spec: this commit's
                # data was hashed under the old (n_buckets, key_cols),
                # so merging its files into the new layout would place
                # rows in buckets pruned reads will never look in.
                raise CommitConflictError(
                    f"concurrent commit v{new_head.version} changed the "
                    f"bucket spec ({base_n_buckets} x {base_key_cols} -> "
                    f"{new_head.n_buckets} x {new_head.key_cols}) while "
                    "this commit's data was bucketed under the old one; "
                    "re-bucket the data against the new head"
                )
            # Write-write conflict: the winner changed a bucket this
            # commit is about to replace — its rows were merged
            # against a stale current-side read, so a rebase would
            # silently drop the winner's changes. Fail loudly.
            clashed = sorted(
                int(b)
                for b in replaced
                if new_head.files.get(b) != head.files.get(b)
            )
            if clashed:
                raise CommitConflictError(
                    f"concurrent commit v{new_head.version} rewrote "
                    f"buckets {clashed[:8]} that this commit also "
                    "touches; re-run the merge against the new head"
                )
            head = new_head
            # fresh id so snapshot versions stay monotone with commit
            # order (the claimed data dir's files remain referenced by
            # their recorded relative paths)
            version = self._claim_version()

    def append(
        self,
        df: DataFrame | BucketFileWrite,
        summary: dict | None = None,
        event_time_col: str | None = None,
    ) -> Snapshot:
        """Append-only commit (the lineage/audit path): rows hash into
        the table's fixed ``n_buckets`` and the new files EXTEND each
        bucket's file list — nothing existing is rewritten. Bucket
        count stays bounded; what grows per append is files-per-bucket,
        which is why append-mode tables need periodic
        ``compact_files``. ``event_time_col``: cluster the appended
        files on that column and record their per-file [min, max]
        bounds (``read(time_range=...)`` then skips whole appends
        outside the window — the append-table pruning story). A
        DataFrame is hashed into the table's buckets and written as
        ``commit`` writes one (:meth:`_frame_write`): one new file per
        bucket it reaches. A :class:`BucketFileWrite` brings files its
        ``build`` wrote (the driver-side lineage flush), already hashed
        into the table's buckets; its files extend the lists the same
        way."""
        head = self.snapshot()
        if isinstance(df, DataFrame):
            df = self._frame_write(
                df.withColumn(BUCKET_COL, bucket_expr(head.key_cols, head.n_buckets)),
                event_time_col,
                head.derived_cols,
            )
        version = self._claim_version()
        written, written_stats, written_file_stats, _ = self._written_from_rows(
            df.rows(version), head.schema, event_time_col
        )
        # Appends only EXTEND file lists, so a lost commit race always
        # rebases cleanly onto the winner's head (no overlap possible)
        # — UNLESS the winner changed the bucketing spec, in which case
        # these files were hashed under the old layout and pruned reads
        # would look for their keys in the wrong bucket.
        base_n_buckets = head.n_buckets
        base_key_cols = list(head.key_cols)
        while True:
            files = dict(head.files)
            for bucket, paths in written.items():
                files.setdefault(bucket, [])
                files[bucket] = files[bucket] + paths
            snap = Snapshot(
                version=version,
                parent=head.version,
                schema_json=head.schema_json,
                key_cols=head.key_cols,
                n_buckets=head.n_buckets,
                files=files,
                applied_epochs=list(head.applied_epochs),
                summary=summary or {"operation": "append"},
                committed_at=time.time(),
                # the appended files' markers add to each bucket's
                # recorded tombstone state
                tombstone_stats=self._merge_tombstone_stats(
                    head, written, (), False, written_stats, event_time_col
                ),
                file_stats=self._merge_file_stats(
                    head, files, written_file_stats, event_time_col
                ),
                derived_cols=head.derived_cols,
            )
            if self._publish(snap, written):
                return snap
            head = self.snapshot()
            if (
                head.n_buckets != base_n_buckets
                or head.key_cols != base_key_cols
            ):
                raise CommitConflictError(
                    f"concurrent commit v{head.version} changed the "
                    f"bucket spec ({base_n_buckets} x {base_key_cols} -> "
                    f"{head.n_buckets} x {head.key_cols}) while this "
                    "append's data was bucketed under the old one; "
                    "re-append against the new head"
                )
            version = self._claim_version()

    # -- schema evolution -----------------------------------------------------
    def add_columns(self, new_fields: list[T.StructField]) -> Snapshot:
        """Additive schema evolution (metadata-only commit): old files
        keep their layout and read the new columns as null — the
        `lang appearing mid-stream` scenario of the north rule."""
        head = self.snapshot()
        existing = {f.name for f in head.schema.fields}
        added = [f for f in new_fields if f.name not in existing]
        if not added:
            return head
        new_schema = T.StructType(head.schema.fields + added)
        return self.commit(
            None,
            schema=new_schema,
            summary={"operation": "add_columns", "columns": [f.name for f in added]},
        )

    # -- maintenance ------------------------------------------------------------
    def expire_snapshots(
        self, keep_last: int = 2, orphan_grace_s: float = 3 * 86400.0
    ) -> list[int]:
        """GC data directories only reachable from expired snapshots.
        (Iceberg's expire_snapshots analog; keeps time travel shallow.)

        Also sweeps lost-race artifacts: a commit loser's first claim
        never gets a snapshot published under its id (the loser
        re-claims a fresh id, or returns early when the winner already
        applied its epoch), so the claim file — and, on the
        exactly-once-early-return path, an entire written-but-never-
        referenced data/v<claim> directory — would otherwise leak
        forever. A claim below HEAD with no snapshot json is such an
        orphan; ``orphan_grace_s`` protects a still-in-flight writer
        (its eventual snapshot may reference its claim's data dir by
        relative path) — only claims whose claim file AND data dir have
        been untouched for longer than the grace are swept, and only
        files unreferenced by every surviving snapshot are deleted
        (Iceberg's remove_orphan_files age guard, whose default is
        also 3 days). A writer slower than the grace fails loudly at
        publish (see ``_publish``) instead of naming deleted files."""
        versions = self.versions()
        head = self.head_version()
        # keep_last=0 must mean "only what HEAD needs" — a bare
        # versions[-0:] slice would be the whole list (keep everything).
        keep = set(versions[-keep_last:]) if keep_last > 0 else set()
        keep.add(head)
        live_files: set[str] = set()
        for v in keep:
            snap = self.snapshot(v)
            live_files.update(p for plist in snap.files.values() for p in plist)
        removed = []
        for v in versions:
            if v in keep:
                continue
            snap = self.snapshot(v)
            for plist in snap.files.values():
                for p in plist:
                    if p not in live_files:
                        full = os.path.join(self.root, p)
                        if os.path.exists(full):
                            os.remove(full)
            os.remove(self._snap_path(v))
            claim = self._snap_path(v) + ".claim"
            if os.path.exists(claim):
                os.remove(claim)  # id can't be reused: higher snapshots exist
            removed.append(v)
        self._sweep_orphan_claims(head, live_files, orphan_grace_s)
        return removed

    def _sweep_orphan_claims(
        self, head: int, live_files: set[str], grace_s: float
    ) -> None:
        """Remove aged claims below HEAD that no snapshot was ever
        published under, plus their data files that no surviving
        snapshot references (see expire_snapshots docstring)."""
        snap_dir = os.path.join(self.root, "_snapshots")
        now = time.time()
        for entry in os.listdir(snap_dir):
            if not entry.endswith(".claim"):
                continue
            v = int(entry[1:].split(".", 1)[0])
            claim = os.path.join(snap_dir, entry)
            data_dir = self._data_dir(v)
            if (
                v >= head
                or os.path.exists(self._snap_path(v))
                or now - self._newest_mtime(claim, data_dir) < grace_s
            ):
                continue
            if os.path.isdir(data_dir):
                for dirpath, _dirs, names in os.walk(data_dir, topdown=False):
                    for name in names:
                        full = os.path.join(dirpath, name)
                        rel = os.path.relpath(full, self.root)
                        if rel not in live_files:
                            os.remove(full)
                    if not os.listdir(dirpath):
                        os.rmdir(dirpath)
            os.remove(claim)

    @staticmethod
    def _newest_mtime(claim: str, data_dir: str) -> float:
        """Last activity of a claim: the newest mtime among the claim
        file and everything under its data dir. A file vanishing
        mid-walk means a writer is active right now."""
        try:
            newest = os.path.getmtime(claim)
            for dirpath, _dirs, names in os.walk(data_dir):
                for path in [dirpath] + [os.path.join(dirpath, n) for n in names]:
                    newest = max(newest, os.path.getmtime(path))
        except FileNotFoundError:
            return time.time()
        return newest

    def compact_files(
        self, spark: SparkSession, max_files: int = 64, rebucket: bool = False
    ) -> Snapshot:
        """Rewrite the table into one file per bucket when fragmentation
        exceeds ``max_files`` (the append path adds one file set per
        epoch: at 10^5 epochs an audit table is 10^5 tiny files and
        every scan pays per-file open cost — Iceberg's
        rewrite_data_files analog). The commit is a normal snapshot
        (rollback-able) and a no-op below the threshold, so it can run
        after every N epochs. It is one Spark job: the read grouped on
        the bucket, each bucket written as one file by
        ``write_bucket_file`` with its stats (see ``commit``).

        ``rebucket=False`` (default) preserves each row's EXISTING
        stored bucket — mandatory for tables with a non-default layout
        (the rollup table identity-buckets on src_bucket and its epoch
        commits depend on that manifest keying; re-hashing would
        scatter rows across manifest keys and corrupt later
        bucket-granular replaces). ``rebucket=True`` re-derives buckets
        from the key columns instead of trusting the stored values —
        for append-mode tables (lineage) whose rows were hashed with
        the same ``bucket_expr`` this re-derivation is a no-op, so it
        is only worth paying when stored bucket values are suspect
        (e.g. files imported from elsewhere). Either way the bucket
        COUNT is already bounded at ``n_buckets``; what compaction
        collapses is the per-bucket file lists the append path grows
        one set per epoch."""
        # Losing a publish race as an overwrite_all commit raises
        # (rebasing a full rewrite would erase the winner's changes);
        # compaction is pure maintenance, so the correct response is to
        # re-derive the rewrite from the new head and try again.
        for _ in range(3):
            snap = self.snapshot()
            n_files = sum(len(p) for p in snap.files.values())
            if n_files <= max_files:
                return snap
            if rebucket:
                df = self.read(spark, with_bucket=False, include_deleted=True)
                df = df.withColumn(
                    BUCKET_COL, bucket_expr(snap.key_cols, snap.n_buckets)
                )
            else:
                df = self.read(spark, with_bucket=True, include_deleted=True)
            try:
                return self.commit(
                    df,
                    overwrite_all=True,
                    # the commit writes one file per bucket; record
                    # tombstone stats under the column already on record
                    # so the full rewrite doesn't reset GC pruning
                    event_time_col=(snap.tombstone_stats or {}).get("col")
                    or (snap.file_stats or {}).get("col"),
                    summary={
                        "operation": "compact_files",
                        "was_files": n_files,
                    },
                )
            except CommitConflictError:
                continue
        raise CommitConflictError(
            "compact_files lost the commit race 3 times; table is under "
            "heavy concurrent write — re-run compaction later"
        )

    def rebucket(self, spark: SparkSession, new_n_buckets: int) -> Snapshot:
        """Partition-spec evolution: rewrite the table into a new bucket
        count (Iceberg's evolve-partition-spec + rewrite analog).

        At 10^10+ rows a bucket count chosen at table creation is
        eventually wrong — buckets outgrow executor memory for the
        grouped-map merge and the touched-list loses pruning power —
        so growth has to be a supported lifecycle operation, not a
        table rebuild. One Spark job with one shuffle (the commit's
        grouping on the new bucket, each new bucket written as one file
        by ``write_bucket_file``); tombstones ride along
        (include_deleted), so late-event arbitration survives the
        migration; applied-epoch bookkeeping is untouched, so
        replay/resume still works. NOTE:
        derived tables keyed by this table's bucket ids (the rollup's
        src_bucket partials) must be refreshed afterwards — use
        pipeline.rebucket_warehouse, which does both.
        """
        if new_n_buckets <= 0:
            raise ValueError("new_n_buckets must be positive")
        # Same re-derive-on-lost-race loop as compact_files: the rewrite
        # is a pure function of the head snapshot.
        for _ in range(3):
            head = self.snapshot()
            if new_n_buckets == head.n_buckets:
                return head
            df = self.read(spark, with_bucket=False, include_deleted=True)
            df = df.withColumn(
                BUCKET_COL, bucket_expr(head.key_cols, new_n_buckets)
            )
            try:
                return self.commit(
                    df,
                    overwrite_all=True,
                    n_buckets=new_n_buckets,
                    event_time_col=(head.tombstone_stats or {}).get("col")
                    or (head.file_stats or {}).get("col"),
                    summary={
                        "operation": "rebucket",
                        "from": head.n_buckets,
                        "to": new_n_buckets,
                    },
                )
            except CommitConflictError:
                continue
        raise CommitConflictError(
            "rebucket lost the commit race 3 times; table is under heavy "
            "concurrent write — re-run later"
        )

    def expire_tombstones(
        self, spark: SparkSession, older_than, event_time_col: str
    ) -> Snapshot:
        """Drop delete markers whose ``event_time_col`` is older than
        the stream's late-event horizon (a timestamp or literal
        string). The event-time column is the caller's to name — the
        table format is schema-agnostic; the pipeline layer supplies
        the pages convention (``warc_ts``).

        Past the horizon no event older than the marker can still
        arrive, so the marker is dead weight — dropping it bounds
        retained tombstone state by delete-rate x horizon instead of
        full delete history (Iceberg's delete-file compaction analog,
        same role as the reference's day-partition DELETE cleanups).
        Bucket-granular: only buckets holding expirable markers are
        rewritten; the commit is a normal snapshot (rollback-able), not
        an epoch, so replay bookkeeping is untouched.

        Discovery is manifest-pruned: commits record per-bucket
        [tombstone count, min event time] (``tombstone_stats``), so the
        scan touches only buckets whose recorded min is past the
        horizon (plus any bucket with unknown state); at 100 TB a GC
        pass with nothing expirable costs zero data reads instead of a
        whole-table scan. Buckets written before stats existed fall
        back to being scanned once, after which their state is known.
        """
        snap = self.snapshot()
        if not any(f.name == DELETED_COL for f in snap.schema.fields):
            return snap
        candidates = self._expirable_candidates(
            snap,
            older_than,
            event_time_col,
            spark.conf.get("spark.sql.session.timeZone"),
        )
        if candidates is not None and not candidates:
            return snap  # manifest proves nothing is expirable: no scan
        horizon = F.to_timestamp(F.lit(older_than)) if isinstance(older_than, str) else F.lit(older_than)
        is_dead = F.coalesce(F.col(DELETED_COL), F.lit(False)) & (
            F.col(event_time_col) < horizon
        )
        scan = self.read(
            spark, buckets=candidates, with_bucket=True, include_deleted=True
        )
        touched = [
            int(r[0])
            for r in scan.filter(is_dead).select(BUCKET_COL).distinct().collect()
        ]
        if not touched:
            return snap
        survivors = self.read(
            spark, buckets=touched, with_bucket=True, include_deleted=True
        ).filter(~is_dead)
        return self.commit(
            survivors,
            touched_buckets=touched,
            event_time_col=event_time_col,
            summary={
                "operation": "expire_tombstones",
                "buckets": len(touched),
            },
        )

    @staticmethod
    def _expirable_candidates(
        snap: Snapshot, older_than, event_time_col: str, session_tz: str
    ) -> list[int] | None:
        """Buckets that COULD hold an expirable tombstone, per the
        manifest stats: known-min past the horizon, or state unknown.
        None = no usable stats (or unparseable horizon) -> scan all.
        The horizon is read the way the GC filter reads it (a string in
        ``session_tz``) and compared with the recorded mins as UTC
        instants."""
        stats = snap.tombstone_stats or {}
        if stats.get("col") != event_time_col:
            return None
        try:
            horizon = _bound_instants(older_than, session_tz)[1]
        except (TypeError, ValueError):
            return None
        known = stats.get("buckets", {})
        out = []
        for b in snap.files:
            ent = known.get(b)
            if ent is None:
                out.append(int(b))  # unknown state: must scan
                continue
            n, mn = ent
            if n and mn is not None and _recorded_instants(mn, session_tz)[0] < horizon:
                out.append(int(b))
        return out
