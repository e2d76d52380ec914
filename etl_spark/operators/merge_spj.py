"""Single-shuffle storage-partitioned MERGE — the engine's one upsert.

Semantics (per key, LWW on the lexicographic (warc_ts, seq) tuple):
I/U upsert the row if it is newer-or-equal to the stored row; D
deletes the key if newer-or-equal; older events lose silently. ``>=``
(not ``>``) makes a replay of the exact same event converge to the same
state instead of flip-flopping — idempotence at row grain, on top of
epoch-grain skip.

A textbook merge shuffles the epoch payload three times: LWW groupBy
(hash by key), full-outer join vs current (hash by key again), and the
write repartition (hash by bucket). This one collapses them into ONE
payload shuffle, and the epoch into ONE Spark job:

    delta.repartition(n, bucket).groupBy(bucket).applyInArrow(merge_bucket)
         -> collect one row per touched bucket -> publish

The kernel's partition count is ``n = min(n_buckets, slots)``
(``lake.table.repartition_by_bucket``), fixed by the table's bucket
count and ``defaultParallelism`` — never by the delta's size in bytes.
The kernel's cost is per bucket (read + rewrite the whole bucket), but
AQE sizes a shuffle by its bytes: a small epoch's shuffle falls under
the coalescing floor and a single Python task would rewrite every
touched bucket while the other cores idle. An explicit count is never
coalesced, so the epoch runs as one full wave. One partition per slot,
not one per bucket, because every Python-worker task pays a fixed
start-up cost (``bench/BASELINE.md``, trickle epoch decomposition).
Nothing runs before the kernel: the buckets the epoch touches, its
event and key counts and its newest event time all come back on the
kernel's rows.

The kernel is Arrow end to end: it takes the bucket's delta as an
iterator of ``pyarrow.RecordBatch`` (the iterator form of
``applyInArrow``) and every step below is a columnar compute kernel, so
a call's cost is its data, not Python per-call overhead. Batches arrive
with exact nullable int64 and with timestamps as instants (tagged with
the session zone); casting them to ``timestamp[us, tz=UTC]`` changes
only metadata. Inside the kernel (one call per bucket):
  1. LWW winner per key, folded over the batches: the running winners
     and the batches since the last fold are concatenated, stably
     sorted on (keys, warc_ts, seq) with nulls first — the same total
     order as the JVM max-struct dedup, ties kept in arrival order —
     and the last row of each key run is kept (an adjacent-key
     ``not_equal`` mask; no hash aggregate). A fold runs once the
     pending batches hold as many rows as the winners;
  2. html -> text extraction for winners only (the SAME frozen kernel,
     functions/extract.extract_text_series — byte-identity preserved;
     its pandas Series is the kernel's only pandas);
  3. executor-local pyarrow read of the bucket's CURRENT parquet files
     (the manifest's file map rides a broadcast) — a hand-rolled
     storage-partitioned join: current rows never cross a shuffle,
     exactly what Iceberg SPJ gives co-bucketed tables. The read goes
     through a pyarrow FileSystem seam (``lake.table._resolve_filesystem``):
     a POSIX root reads locally, a ``s3://``/``hdfs://`` root reads
     via the store's client — no kernel change to leave shared disk.
     Every file is cast to one Arrow layout first (Spark-written INT96
     and kernel-written UTC-micros timestamps, files that predate an
     added payload column);
  4. row arbitration, as one more fold step over keys and order
     tuples only: the current rows (the oldest arrivals) and the
     winners, sorted and cut by the same rule as step 1. A winner
     replaces its current row iff no current row or it is >= on the
     (warc_ts, seq) tuple, NULL comparing as -inf on either side; a
     current row no winner replaces carries through (the whole bucket
     is rewritten, so losers must be re-emitted). Each side's payload
     is taken once, by position. 'D' winners become tombstones
     (payload nulled);
  5. write + stats: the bucket, sorted on event time, becomes one
     parquet file ``data/v<claim>/_pb=<bucket>/part-<bucket>.parquet``
     (``LakeTable.write_bucket_file``: deterministic name, tmp +
     rename through the same seam), and the kernel returns ONE row —
     path, rows, bytes, [min, max] event time, tombstone count and
     earliest tombstone time, computed from the arrays it holds, plus
     the bucket's event count, distinct-key count and newest event
     time. A bucket left with no rows (deletes on a table without the
     tombstone column) writes no file and returns its row with a null
     path;
  6. rollup partials: when the caller claimed a rollup version, the
     bucket's live rows are aggregated (``rollup.bucket_partials``) and
     written as the rollup's ``src_bucket`` file in the same task; its
     path, rows and bytes ride on the same returned row.

Hidden derived columns (``Snapshot.derived_cols``, the pages table's
``_domain``) are evaluated in the JVM on the delta before the shuffle
and carried like payload: the kernel never re-implements them. Every
stored pages file carries them (every writer writes them), so a stored
file that lacks one fails the kernel task, naming the file, instead of
being rewritten without it.

The kernel runs inside ``LakeTable.commit`` (a :class:`BucketFileWrite`):
the commit claims the version, runs the kernel job, replaces every
bucket a row names and publishes against the snapshot the kernel read;
the rollup commit publishes the partial files right after. No bucket
crosses back to the JVM, and there is no stats pre-pass, no Spark write
job, no stats re-scan and no rollup job.

Memory contract: one call holds one Arrow batch of the bucket's delta,
at most twice its distinct keys (the running winners plus the pending
batches, which a fold bounds by the winners' count) and its current
rows; the arbitration sorts only their keys and order columns.
n_buckets is the knob — size it so bucket ~ O(100 MB) at the target
scale (thousands of buckets at 100 TB).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from etl_spark.functions.extract import extract_text_series
from etl_spark.lake.table import (
    BUCKET_COL,
    BUCKET_FILE_SCHEMA,
    DELETED_COL,
    BucketFileWrite,
    LakeTable,
    Snapshot,
    arrow_schema,
    bucket_expr,
    repartition_by_bucket,
)
from etl_spark.operators.rollup import (
    KernelPartials,
    bucket_partials,
    claim_kernel_partials,
    layout_stamp,
)

OP_COL = "op"

# The kernel's row per touched bucket: the pages file (path null when
# no row is left), then the rollup partial file written next to it (all
# null when no rollup version was claimed; ``rollup_rows`` 0 = no live
# page, no file), then the bucket's share of the epoch's delta: its
# events, distinct keys and newest event time.
KERNEL_SCHEMA = T.StructType(
    BUCKET_FILE_SCHEMA.fields
    + [
        T.StructField("rollup_path", T.StringType(), True),
        T.StructField("rollup_rows", T.LongType(), True),
        T.StructField("rollup_bytes", T.LongType(), True),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("n_keys", T.LongType(), False),
        T.StructField("max_event_ts", T.TimestampType(), True),
    ]
)


@dataclass
class MergeStats:
    epoch: int
    skipped: bool
    touched_buckets: int
    # distinct keys in the epoch's delta
    delta_rows: int
    version: int
    # rollup partial files the kernel wrote (None: none were claimed)
    partials: KernelPartials | None = None
    touched_list: list[int] = field(default_factory=list)
    n_events: int = 0
    # the delta's newest event time (None: no event carries one)
    max_event_ts: object = None


def evolve_for_delta(
    table: LakeTable, delta: DataFrame, head: Snapshot | None = None
) -> Snapshot:
    """Additive schema evolution: any new non-control column appearing
    in the delta is added to the table schema (metadata-only commit)
    before the merge — the `lang` mid-stream scenario. ``head``: the
    table's snapshot when the caller holds it already."""
    snap = head if head is not None else table.snapshot()
    existing = {f.name for f in snap.schema.fields}
    control = {OP_COL, "seq", "epoch", BUCKET_COL}
    added = [
        f
        for f in delta.schema.fields
        if f.name not in existing and f.name not in control
    ]
    if added:
        nullable = [T.StructField(f.name, f.dataType, True) for f in added]
        snap = table.add_columns(nullable)
    return snap


def _differs(a, b):
    """Element-wise ``a != b`` where NULL equals NULL and differs from
    every value."""
    return pc.coalesce(pc.not_equal(a, b), pc.xor(pc.is_null(a), pc.is_null(b)))


def _keep_last(data: pa.Table, key_cols: list[str], order_cols: list[str]) -> pa.Table:
    """One LWW fold: the last row of each key in the ascending (keys,
    order columns) order, nulls first (NULL keys form one key). The
    sort is stable, so among full ties the row that arrived last wins:
    callers concatenate in arrival order (running winners before the
    pending batches, current rows before the winners)."""
    order = pc.sort_indices(
        data,
        [(c, "ascending") for c in key_cols + order_cols],
        null_placement="at_start",
    )
    if len(order) < 2:
        return data
    last = None
    for c in key_cols:
        k = data[c].take(order).combine_chunks()
        d = _differs(k[:-1], k[1:])
        last = d if last is None else pc.or_(last, d)
    return data.take(order.filter(pa.concat_arrays([last, pa.array([True])])))


def make_bucket_merger(
    root: str,
    version: int,
    files_by_bucket,
    schema: T.StructType,
    key_cols: list[str],
    order_cols: list[str],
    extracted: bool,
    session_tz: str,
    hidden: list[T.StructField] = (),
    rollup: tuple[str, int] | None = None,
):
    """Build the grouped-map kernel: it merges one bucket, writes the
    result as ``data/v<version>/_pb=<bucket>/`` (``LakeTable.
    write_bucket_file``) and yields that file's ``KERNEL_SCHEMA`` row as
    a one-row ``pyarrow.RecordBatch`` — one small row per bucket crosses
    back to the JVM, never the bucket itself. The kernel takes the
    bucket's delta as an iterator of ``pyarrow.RecordBatch`` (the
    iterator form of ``applyInArrow``; call it directly as
    ``next(kernel(iter(batches)))``) and folds last-writer-wins over
    them, so a hot key costs no more memory than a batch.

    ``files_by_bucket`` is either a plain dict (tests) or a Spark
    Broadcast of one (the pipeline path): a torrent-distributed
    broadcast ships the manifest to each executor ONCE instead of
    serializing it into every task closure — the difference between
    O(tasks x manifest) and O(executors x manifest) bytes when the
    table has millions of bucket-file entries.

    Delta timestamps are read as instants: Spark tags them with the
    session zone, and the cast to ``timestamp[us, tz=UTC]`` keeps the
    instant (a zone-less timestamp a direct caller passes is read as
    UTC). Stored files hold UTC instants too, so a bucket rewrite never
    shifts the rows it carries through, whatever the session zone.
    ``session_tz`` is the driver's ``spark.sql.session.timeZone``: the
    rollup partials' day ids are session-zone days.

    ``hidden``: the table's derived columns, present on the delta and on
    every current file, and carried into the written file.
    ``rollup`` = (rollup root, claimed rollup version): also write the
    bucket's rollup partial file there and report it on the row."""
    payload_cols = [f.name for f in schema.fields]
    hidden_cols = [f.name for f in hidden]
    ts_col = order_cols[0]
    with_hidden = T.StructType(schema.fields + list(hidden))
    layout = arrow_schema(
        T.StructType(with_hidden.fields + [T.StructField(BUCKET_COL, T.IntegerType())])
    )
    # the delta as the kernel holds it: the written layout, then the op
    # column and any tie-break column the table does not store; columns
    # a batch lacks (pre-evolution deltas, text before extraction) are
    # nulls, columns the kernel does not use are dropped
    work = layout
    for c in order_cols[1:]:
        if c not in work.names:
            work = work.append(pa.field(c, pa.int64()))
    if OP_COL not in work.names:
        work = work.append(pa.field(OP_COL, pa.string()))
    extract = not extracted and "html" in work.names and "text" in payload_cols
    tombstoning = DELETED_COL in payload_cols
    # a tombstone keeps keys, order tuple, flag and derived columns
    nulled = [
        f
        for f in layout
        if f.name in payload_cols
        and f.name not in {*key_cols, *order_cols, DELETED_COL}
    ]
    row_layout = to_arrow_schema(KERNEL_SCHEMA)

    def conform(batch: pa.RecordBatch) -> pa.Table:
        names = batch.schema.names
        return pa.Table.from_arrays(
            [
                batch.column(f.name).cast(f.type)
                if f.name in names
                else pa.nulls(batch.num_rows, f.type)
                for f in work
            ],
            schema=work,
        )

    def merge_bucket(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        files_map = (
            files_by_bucket.value
            if hasattr(files_by_bucket, "value")
            else files_by_bucket
        )

        # 1. LWW winners, folded over the batches (see _keep_last). A
        # fold runs once the pending batches hold as many rows as the
        # winners: each event is then sorted a bounded number of times,
        # where folding every batch re-sorts all winners per batch, and
        # a call holds at most twice its distinct keys plus a batch.
        winners, pending, n_pending = None, [], 0
        bucket, n_events, max_ts = None, 0, None
        for batch in batches:
            if not batch.num_rows:
                continue
            delta = conform(batch)
            bucket = delta[BUCKET_COL][0].as_py()
            n_events += delta.num_rows
            newest = pc.max(delta[ts_col]).as_py()
            if newest is not None and (max_ts is None or newest > max_ts):
                max_ts = newest
            pending.append(delta)
            n_pending += delta.num_rows
            if winners is None or n_pending >= winners.num_rows:
                winners = _keep_last(
                    pa.concat_tables(([] if winners is None else [winners]) + pending),
                    key_cols,
                    order_cols,
                )
                pending, n_pending = [], 0
        if winners is None:
            return
        if pending:
            winners = _keep_last(
                pa.concat_tables([winners] + pending), key_cols, order_cols
            )

        # 2. extract text for surviving payloads only.
        if extract:
            text = extract_text_series(winners["html"].to_pandas())
            winners = winners.set_column(
                work.get_field_index("text"),
                work.field("text"),
                pa.array(text, pa.string(), from_pandas=True),
            )

        # 3. executor-local read of the bucket's current rows (through
        # the filesystem seam: POSIX root or object-store URI), every
        # file cast to the table's layout. A current file without a
        # derived column cannot be carried through: fail loudly rather
        # than write the bucket without it.
        cur, absent = LakeTable.read_bucket_files(
            root, files_map.get(str(bucket), []), with_hidden
        )
        for c in hidden_cols:
            if c in absent:
                raise ValueError(
                    f"stored file {absent[c]} of bucket {bucket} lacks the "
                    f"table's derived column {c!r}; rewrite the table "
                    "(compact_files) before merging into it"
                )

        # 4. arbitration is one more fold step, over keys and order
        # tuples only: the current rows come first, as the oldest
        # arrivals, then the winners. The last row of each key run
        # survives, so a winner replaces its current row iff it is >= on
        # the order tuple (NULL lowest on either side, a full tie to the
        # delta), and a current row that no winner replaces carries
        # through. Either side's payload is then taken once, by
        # position; it never passes through the sort.
        def side(t: pa.Table, is_delta: bool) -> pa.Table:
            n = t.num_rows
            return pa.Table.from_arrays(
                [
                    t[c] if c in t.column_names else pa.nulls(n, work.field(c).type)
                    for c in key_cols + order_cols
                ]
                + [
                    pa.repeat(pa.scalar(is_delta), n),
                    pa.array(np.arange(n, dtype=np.int64)),
                ],
                names=key_cols + order_cols + ["_delta", "_pos"],
            )

        last = _keep_last(
            pa.concat_tables([side(cur, False), side(winners, True)]),
            key_cols,
            order_cols,
        )
        kept = winners.take(pc.filter(last["_pos"], last["_delta"]))
        carried = cur.take(pc.filter(last["_pos"], pc.invert(last["_delta"])))
        is_delete = pc.fill_null(pc.equal(kept[OP_COL], "D"), False)
        if tombstoning:
            # a winning delete persists as a tombstone row: keys + order
            # tuple survive (future arbitration), payload nulls.
            for f in nulled:
                kept = kept.set_column(
                    work.get_field_index(f.name),
                    f,
                    pc.if_else(is_delete, pa.scalar(None, f.type), kept[f.name]),
                )
            kept = kept.set_column(
                work.get_field_index(DELETED_COL), layout.field(DELETED_COL), is_delete
            )
        else:  # legacy tables without the column: drop on delete
            kept = kept.filter(pc.invert(is_delete))
        data = pa.concat_tables(
            [
                kept.select(layout.names),
                carried.append_column(
                    layout.field(BUCKET_COL),
                    pa.repeat(pa.scalar(bucket, pa.int32()), carried.num_rows),
                ),
            ]
        )
        # a null tombstone flag (files that predate the column) means live
        for i, f in enumerate(layout):
            if pa.types.is_boolean(f.type):
                data = data.set_column(i, f, pc.fill_null(data[f.name], False))

        # 5. write the bucket's one file (none when no row is left) and
        # hand back its stats row with the bucket's share of the delta.
        row = {
            BUCKET_COL: bucket,
            "path": None,
            "rows": 0,
            "bytes": 0,
            "ts_min": None,
            "ts_max": None,
            "n_dead": 0,
            "dead_min": None,
            "rollup_path": None,
            "rollup_rows": None if rollup is None else 0,
            "rollup_bytes": None,
            "n_events": n_events,
            "n_keys": winners.num_rows,
            "max_event_ts": max_ts,
        }
        if data.num_rows:
            row.update(LakeTable.write_bucket_file(root, version, bucket, data, ts_col))
            # 6. the bucket's rollup partials, from the rows just written.
            if rollup is not None:
                partials = bucket_partials(data, bucket, session_tz)
                row["rollup_rows"] = partials.num_rows
                if partials.num_rows:
                    written = LakeTable.write_bucket_file(
                        rollup[0], rollup[1], bucket, partials, None
                    )
                    row["rollup_path"] = written["path"]
                    row["rollup_bytes"] = written["bytes"]
        yield pa.RecordBatch.from_pylist([row], schema=row_layout)

    return merge_bucket


def _partial_rows(kernel_rows) -> list[dict]:
    """The rollup's ``BUCKET_FILE_SCHEMA`` rows from the kernel's rows."""
    return [
        {
            BUCKET_COL: r[BUCKET_COL],
            "path": r["rollup_path"],
            "rows": r["rollup_rows"],
            "bytes": r["rollup_bytes"],
            "ts_min": None,
            "ts_max": None,
            "n_dead": 0,
            "dead_min": None,
        }
        for r in kernel_rows
        if r["rollup_path"] is not None
    ]


def merge_epoch_spj(
    spark: SparkSession,
    table: LakeTable,
    delta: DataFrame,
    epoch: int,
    order_cols: Iterable[str] = ("warc_ts", "seq"),
    extracted: bool = False,
    rollup: LakeTable | None = None,
    head: Snapshot | None = None,
) -> MergeStats:
    """Apply one epoch via the single-shuffle grouped-map merge: one
    Spark job, the kernel's.

    The kernel returns a row for every bucket the delta touches — with
    a null path when deletes left the bucket empty — so the commit
    replaces exactly those buckets, and the rows tell the epoch's
    touched list, distinct keys, event count and newest event time. The
    commit publishes against the snapshot the kernel read: a writer
    that rewrote one of those buckets in between makes it a
    :class:`CommitConflictError`, never a lost update.

    ``rollup``: the warehouse's rollup table. When it can take kernel
    partials (``rollup.claim_kernel_partials``) a rollup version is
    claimed before the kernel job, the kernel writes each touched
    bucket's partial file under it, and the result's ``partials`` hand
    those files to ``rollup_domain_stats`` to publish. ``head``: the
    table's snapshot when the caller holds it already.
    """
    order_cols = list(order_cols)
    head = head if head is not None else table.snapshot()
    if epoch in head.applied_epochs:
        return MergeStats(epoch, True, 0, 0, head.version)

    snap = evolve_for_delta(table, delta, head)
    key_cols = snap.key_cols
    schema = snap.schema

    # Existing payload columns cast to the table's authoritative types
    # JVM-side (the table schema wins for existing columns): type
    # drift in the delta (e.g. lang arriving as bigint) must never
    # reach the Arrow kernel, where a dtype/schema mismatch fails
    # serialization instead of casting.
    table_types = {f.name: f.dataType for f in schema.fields}
    delta = delta.select(
        [
            F.col(c).cast(table_types[c]).alias(c) if c in table_types else F.col(c)
            for c in delta.columns
        ]
    )
    # Tie-break columns must be integral (they arbitrate as exact
    # int64): fail loudly here rather than an ANSI cast abort mid-job.
    for c in order_cols[1:]:
        if c in delta.columns:
            dt = delta.schema[c].dataType
            if not isinstance(
                dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
            ):
                raise TypeError(
                    f"merge_epoch_spj tie-break column {c!r} must be an "
                    f"integral type, got {dt.simpleString()}"
                )
    # the table's hidden derived columns, evaluated in the JVM here so
    # the kernel carries them without re-implementing them
    for name, sql in snap.derived_cols.items():
        delta = delta.withColumn(name, F.expr(sql))
    hidden = [delta.schema[name] for name in snap.derived_cols]
    bucketed = repartition_by_bucket(
        delta.withColumn(BUCKET_COL, bucket_expr(key_cols, snap.n_buckets)),
        range(snap.n_buckets),
    )
    files = spark.sparkContext.broadcast(snap.files)
    session_tz = spark.conf.get("spark.sql.session.timeZone")
    rollup_version = (
        claim_kernel_partials(snap, rollup, epoch) if rollup is not None else None
    )

    def kernel_job(version: int) -> DataFrame:
        kernel = make_bucket_merger(
            table.root,
            version,
            files,
            schema,
            key_cols,
            order_cols,
            extracted,
            session_tz,
            hidden=hidden,
            rollup=(rollup.root, rollup_version) if rollup_version else None,
        )
        return bucketed.groupBy(BUCKET_COL).applyInArrow(kernel, KERNEL_SCHEMA)

    # the kernel's rows, when its job ran (an epoch another writer
    # applied first returns before building it); the commit summary
    # takes the touched list and key count from them
    kernel_rows: list = []
    summary = {"operation": "merge_spj", "epoch": epoch}

    def collected(rows: list) -> None:
        kernel_rows.extend(rows)
        touched = sorted(int(r[BUCKET_COL]) for r in rows)
        summary.update(
            rows=sum(int(r["n_keys"]) for r in rows),
            touched_buckets=len(touched),
            # present even when empty, so a rollup (re)run for this
            # epoch sees "nothing touched" instead of "unknown" (which
            # would route to a full refresh for a no-op epoch)
            touched_list=touched,
        )

    new_snap = table.commit(
        BucketFileWrite(kernel_job, collected=collected),
        applied_epoch=epoch,
        # the LWW order column is the stream's event time: recording
        # per-bucket tombstone stats here is what lets expire_tombstones
        # prune its GC discovery scan to prunable buckets
        event_time_col=order_cols[0],
        summary=summary,
        base=snap,
    )
    partials = None
    if rollup_version is not None:
        partials = KernelPartials(
            rollup_version,
            _partial_rows(kernel_rows),
            summary.get("touched_list", []),
            layout_stamp(snap.n_buckets),
        )
    newest = [r["max_event_ts"] for r in kernel_rows if r["max_event_ts"] is not None]
    return MergeStats(
        epoch,
        False,
        summary.get("touched_buckets", 0),
        summary.get("rows", 0),
        new_snap.version,
        partials,
        touched_list=summary.get("touched_list", []),
        n_events=sum(int(r["n_events"]) for r in kernel_rows),
        max_event_ts=max(newest, default=None),
    )
