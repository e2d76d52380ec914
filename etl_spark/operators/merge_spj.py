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

    delta.repartition(n, bucket).groupBy(bucket).applyInPandas(merge_bucket)
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

Inside the grouped-map kernel (one call per bucket, fed the bucket's
delta Arrow batch by Arrow batch):
  1. LWW winner per key, folded over the batches: the running winners
     and the batches since the last fold are concatenated, stably
     sorted on the order tuple and deduplicated keep-last — the same
     (warc_ts, seq) total order as the JVM max-struct dedup. A call
     holds a batch plus at most twice the bucket's distinct keys,
     however many events a hot key has;
  2. html -> text extraction for winners only (the SAME frozen kernel,
     functions/extract.extract_text_series — byte-identity preserved);
  3. executor-local pyarrow read of the bucket's CURRENT parquet files
     (the manifest's file map rides a broadcast) — a hand-rolled
     storage-partitioned join: current rows never cross a shuffle,
     exactly what Iceberg SPJ gives co-bucketed tables. The read goes
     through a pyarrow FileSystem seam (``lake.table._resolve_filesystem``):
     a POSIX root reads locally, a ``s3://``/``hdfs://`` root reads
     via the store's client — no kernel change to leave shared disk.
     Every file is cast to one Arrow layout first (Spark-written INT96
     and kernel-written UTC-micros timestamps, files that predate a
     column), and both sides' timestamps become UTC instants;
  4. row arbitration: delta wins iff no current row or it is >= on the
     (warc_ts, seq) tuple, NULL comparing as -inf on either side; 'D'
     winners become tombstones; untouched current rows carry through
     (the whole bucket is rewritten, so losers must be re-emitted);
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
and carried like payload: the kernel never re-implements them. A
bucket whose stored files predate such a column is written without
it, and its partials are reported unknown (``rollup_rows`` null).

The kernel runs inside ``LakeTable.commit`` (a :class:`BucketFileWrite`):
the commit claims the version, runs the kernel job, replaces every
bucket a row names and publishes against the snapshot the kernel read;
the rollup commit publishes the partial files right after. No bucket
crosses back to the JVM, and there is no stats pre-pass, no Spark write
job, no stats re-scan and no rollup job.

Memory contract: one call holds one Arrow batch of the bucket's delta,
at most twice its distinct keys and its current rows. n_buckets is the knob — size
it so bucket ~ O(100 MB) at the target scale (thousands of buckets at
100 TB).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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
)

OP_COL = "op"

# The kernel's row per touched bucket: the pages file (path null when
# no row is left), then the rollup partial file written next to it (all
# null when no rollup version was claimed; ``rollup_rows`` null =
# partials unknown, 0 = no live page, no file), then the bucket's share
# of the epoch's delta: its events, distinct keys and newest event time.
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


# Sentinel for null tie-break values (arbitration already treats null
# as smallest-possible): tie-break columns cross the Arrow boundary as
# a sentinel-filled NON-NULL long shadow (``<col>__tb``) because
# applyInPandas renders a long-with-nulls column as float64 — already
# rounded above 2^53 before any pandas-side cast could save it. The
# kernel restores exact nullable Int64 from the shadow. -2^63 itself is
# therefore reserved (a real seq of -2^63 is indistinguishable from
# null, which the fillna arbitration conflated anyway).
TB_SENTINEL = -(2**63)


def _as_exact_int64(s: pd.Series) -> pd.Series:
    """Nullable Int64 WITHOUT a float64 detour wherever exactness is
    still recoverable: an Int64 column passes through, and an
    object-dtype column of ints + None converts element-wise —
    to_numeric would upcast the whole column to float64 the moment one
    null is present, rounding values above 2^53 before the Int64 cast
    could save them. Only genuinely numeric-but-inexact inputs (float64
    delivered by Arrow, already rounded upstream) take the to_numeric
    path."""
    if str(s.dtype) == "Int64":
        return s
    if s.dtype == object:
        try:
            return pd.Series(
                pd.array(s.to_numpy(), dtype="Int64"), index=s.index
            )
        except (TypeError, ValueError):
            pass  # non-integer junk: coerce lossily below
    return pd.to_numeric(s, errors="coerce").astype("Int64")


def _arrow_safe(pdf: pd.DataFrame, schema: T.StructType) -> pd.DataFrame:
    """Coerce pandas dtypes so Arrow conversion round-trips the Spark
    schema (object for strings/binary, datetime64 for timestamps)."""
    for f in schema.fields:
        c = f.name
        if c not in pdf.columns:
            pdf[c] = None
        if isinstance(f.dataType, T.TimestampType):
            pdf[c] = pd.to_datetime(pdf[c], utc=True)
        elif isinstance(f.dataType, T.LongType):
            # outer-join NaNs turn int64 into float64; nullable Int64
            # round-trips to Arrow int64-with-nulls losslessly (and an
            # already-exact Int64 column must not detour via float64)
            pdf[c] = _as_exact_int64(pdf[c])
        elif isinstance(f.dataType, T.BooleanType):
            # null tombstone flag (pre-column files) means live
            pdf[c] = (
                pdf[c].map(lambda v: bool(v) if pd.notna(v) else False)
                if len(pdf)
                else pdf[c].astype(bool)
            )
    return pdf


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
    write_bucket_file``) and yields that file's ``KERNEL_SCHEMA`` row —
    one small row per bucket crosses back to the JVM, never the bucket
    itself. The kernel takes the bucket's delta as an iterator of
    pandas batches (the iterator form of ``applyInPandas``) and folds
    last-writer-wins over them, so a hot key costs no more memory than
    a batch.

    ``files_by_bucket`` is either a plain dict (tests) or a Spark
    Broadcast of one (the pipeline path): a torrent-distributed
    broadcast ships the manifest to each executor ONCE instead of
    serializing it into every task closure — the difference between
    O(tasks x manifest) and O(executors x manifest) bytes when the
    table has millions of bucket-file entries.

    ``session_tz`` is the driver's ``spark.sql.session.timeZone``: Spark
    hands the kernel timestamps as naive wall times in that zone, while
    stored files hold UTC instants. The kernel turns both sides into
    UTC instants (Spark's own rule for the naive side: an ambiguous
    wall time is read as standard time) and arbitrates and writes
    ``timestamp[us, tz=UTC]`` — so a bucket rewrite never shifts the
    rows it carries through, whatever the session zone.

    ``hidden``: the table's derived columns, present on the delta and
    carried into the file when every current file has them.
    ``rollup`` = (rollup root, claimed rollup version): also write the
    bucket's rollup partial file there and report it on the row."""
    payload_cols = [f.name for f in schema.fields]
    hidden_cols = [f.name for f in hidden]
    carry_cols = payload_cols + hidden_cols
    ts_col = order_cols[0]
    tb_cols = order_cols[1:]
    ts_cols = [f.name for f in schema.fields if isinstance(f.dataType, T.TimestampType)]
    bucket_field = [T.StructField(BUCKET_COL, T.IntegerType())]
    with_hidden = T.StructType(schema.fields + list(hidden))
    # the file layout, with the hidden columns and without (a bucket
    # whose stored files predate one cannot carry it)
    full_layout = arrow_schema(T.StructType(with_hidden.fields + bucket_field))
    bare_layout = arrow_schema(T.StructType(schema.fields + bucket_field))

    def prepare(pdf: pd.DataFrame) -> pd.DataFrame:
        """One delta batch in the kernel's types: timestamps as UTC
        instants, tie-break columns as exact nullable Int64.

        Tie-break columns are restored from their sentinel-filled
        shadow when the driver shipped one (merge_epoch_spj does): the
        shadow arrives as exact int64 — the nullable original would
        arrive as float64, rounded above 2^53 before any pandas-side
        recovery. Direct-kernel callers without a shadow fall back to
        the to_numeric cast (exact only when Arrow delivered int64,
        i.e. the batch had no nulls)."""
        for c in ts_cols:
            if c in pdf.columns:
                t = pd.to_datetime(pdf[c])
                if t.dt.tz is None:
                    t = t.dt.tz_localize(session_tz, ambiguous=False)
                pdf[c] = t.dt.tz_convert("UTC")
        for c in tb_cols:
            shadow = f"{c}__tb"
            if shadow in pdf.columns:
                exact = pdf[shadow].astype("int64")
                restored = pd.Series(exact, dtype="Int64").mask(
                    exact == TB_SENTINEL
                )
                pdf = pdf.drop(columns=[shadow]).assign(**{c: restored})
            elif c in pdf.columns:
                pdf = pdf.assign(**{c: _as_exact_int64(pdf[c])})
        return pdf

    def merge_bucket(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow as pa

        files_map = (
            files_by_bucket.value
            if hasattr(files_by_bucket, "value")
            else files_by_bucket
        )

        # 1. LWW winners, folded over the batches: keep-last over the
        # ascending order tuple of (running winners, then the batches
        # received since the last fold) — a stable sort keeps arrival
        # order among full ties, so the fold picks the same winner as
        # one sort over every event. A fold runs once the pending
        # batches hold as many rows as the winners: each event is then
        # sorted a bounded number of times, where folding every batch
        # re-sorts all winners per batch (about 9x the time of one sort
        # for a 25-batch bucket of distinct keys), and a call holds at
        # most twice its distinct keys plus a batch.
        # na_position='first' matches the JVM max-struct order (nulls
        # smallest), so a null-seq event loses a tied-ts dedup to a
        # concrete-seq one.
        def fold(frames: list[pd.DataFrame]) -> pd.DataFrame:
            pdf = pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]
            return pdf.sort_values(
                order_cols, kind="mergesort", na_position="first"
            ).drop_duplicates(key_cols, keep="last")

        winners, pending, n_pending = None, [], 0
        bucket, n_events, max_ts = None, 0, None
        for pdf in batches:
            if pdf.empty:
                continue
            bucket = int(pdf[BUCKET_COL].iloc[0])
            pdf = prepare(pdf)
            n_events += len(pdf)
            newest = pdf[ts_col].max() if ts_col in pdf.columns else None
            if pd.notna(newest) and (max_ts is None or newest > max_ts):
                max_ts = newest
            pending.append(pdf)
            n_pending += len(pdf)
            if winners is None or n_pending >= len(winners):
                winners = fold(([] if winners is None else [winners]) + pending)
                pending, n_pending = [], 0
        if winners is None:
            return
        if pending:
            winners = fold([winners] + pending)
        winners = winners.copy()

        # 2. extract text for surviving payloads only.
        if not extracted and "html" in winners.columns:
            winners["text"] = extract_text_series(winners["html"])
        # pre-evolution deltas may lack later-added payload columns
        for c in carry_cols:
            if c not in winners.columns:
                winners[c] = None

        # 3. executor-local read of the bucket's current rows (through
        # the filesystem seam: POSIX root or object-store URI), every
        # file cast to one layout: timestamps as UTC instants, columns
        # an older file lacks as nulls. int64 -> nullable Int64 at the
        # Arrow boundary: the default conversion renders
        # int64-with-nulls as float64, already lossy above 2^53. A
        # current file without a derived column leaves its value
        # unknown for this bucket: the column is not written and the
        # rollup partials are not computed.
        cur_table, absent = LakeTable.read_bucket_files(
            root, files_map.get(str(bucket), []), with_hidden
        )
        known = not absent.intersection(hidden_cols)
        cur = cur_table.to_pandas(
            use_threads=False, types_mapper={pa.int64(): pd.Int64Dtype()}.get
        )

        # 4. arbitration: delta wins iff no current row or it is >= on
        # the full lexicographic (warc_ts, seq) tuple — the stored seq
        # makes equal-ts events in later epochs arbitrate by global LWW
        # order, not arrival order.
        merged = winners.merge(
            cur,
            on=key_cols,
            how="outer",
            suffixes=("", "_cur"),
            indicator=True,
        )
        cur_ts = merged.get(f"{ts_col}_cur")
        in_delta = merged["_merge"] != "right_only"
        has_cur = merged["_merge"] != "left_only"
        tb_col = order_cols[1] if len(order_cols) > 1 else None
        cur_tb = merged.get(f"{tb_col}_cur") if tb_col else None
        if cur_ts is None:
            delta_wins = in_delta
        else:
            # a NULL event time on EITHER side compares as -inf (both
            # NULL: equal), so a NaT comparison — False both ways —
            # can never make a concrete-ts update lose to a NULL-ts row
            d_ts = merged[ts_col]
            d_null, c_null = d_ts.isna(), cur_ts.isna()
            ts_gt = ~d_null & (c_null | (d_ts > cur_ts).fillna(False))
            ts_eq = (d_null & c_null) | (d_ts == cur_ts).fillna(False)
            if cur_tb is not None and tb_col in merged.columns:
                # null seq on EITHER side compares as -inf too: ties
                # with unknown seq go to the delta. Both sides are
                # nullable Int64 by now, so the comparison is exact
                # integer order across the full int64 range.
                cur_tb_f = _as_exact_int64(cur_tb).fillna(TB_SENTINEL)
                d_tb = _as_exact_int64(merged[tb_col]).fillna(TB_SENTINEL)
                newer = ts_gt | (ts_eq & (d_tb >= cur_tb_f))
            else:
                newer = ts_gt | ts_eq
            delta_wins = in_delta & (~has_cur | newer)
        if OP_COL in merged.columns:
            is_delete = merged[OP_COL].eq("D")
        else:
            is_delete = pd.Series(False, index=merged.index)
        tombstoning = DELETED_COL in payload_cols
        if tombstoning:
            # a winning delete persists as a tombstone row: keys +
            # order tuple survive (future arbitration), payload nulls.
            keep_delta = delta_wins
        else:  # legacy tables without the column: drop on delete
            keep_delta = delta_wins & ~is_delete
        keep_cur = has_cur & ~delta_wins

        parts = []
        if keep_delta.any():
            dv = merged.loc[keep_delta, carry_cols].copy()
            if tombstoning:
                tomb = is_delete.loc[keep_delta]
                preserve = (
                    set(key_cols) | set(order_cols) | {DELETED_COL} | set(hidden_cols)
                )
                for c in payload_cols:
                    if c not in preserve:
                        dv.loc[tomb, c] = None
                dv[DELETED_COL] = tomb.to_numpy()
            parts.append(dv)
        if keep_cur.any():
            cur_view = merged.loc[keep_cur].copy()
            for c in carry_cols:
                cc = f"{c}_cur"
                if cc in cur_view.columns:
                    cur_view[c] = cur_view[cc]
            parts.append(cur_view[carry_cols])

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
            # an empty bucket's partials are known: there are none
            "rollup_rows": None if parts or rollup is None else 0,
            "rollup_bytes": None,
            "n_events": n_events,
            "n_keys": len(winners),
            "max_event_ts": max_ts,
        }
        if parts:
            out = pd.concat(parts, ignore_index=True)
            out[BUCKET_COL] = bucket
            layout = full_layout if known else bare_layout
            data = pa.Table.from_pandas(
                _arrow_safe(out, schema)[layout.names],
                schema=layout,
                preserve_index=False,
            )
            row.update(LakeTable.write_bucket_file(root, version, bucket, data, ts_col))
            # 6. the bucket's rollup partials, from the rows just written.
            if rollup is not None and known:
                partials = bucket_partials(data, bucket, session_tz)
                row["rollup_rows"] = partials.num_rows
                if partials.num_rows:
                    written = LakeTable.write_bucket_file(
                        rollup[0], rollup[1], bucket, partials, None
                    )
                    row["rollup_path"] = written["path"]
                    row["rollup_bytes"] = written["bytes"]
        out = pd.DataFrame([row])
        out["max_event_ts"] = pd.to_datetime(out["max_event_ts"], utc=True)
        yield out

    return merge_bucket


def _partial_rows(kernel_rows) -> list[dict] | None:
    """The rollup's ``BUCKET_FILE_SCHEMA`` rows from the kernel's rows,
    or None when some bucket's partials are unknown."""
    if any(r["rollup_rows"] is None for r in kernel_rows):
        return None
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
    # Ship each tie-break column as a sentinel-filled non-null long
    # shadow so it crosses the Arrow boundary as exact int64 (see
    # TB_SENTINEL above); the kernel restores nullable Int64 and drops
    # the shadow before writing. Tie-break columns must be integral:
    # fail loudly here rather than an ANSI cast abort mid-job (or a
    # silent null under try_cast) — and TB_SENTINEL stays a reserved
    # value only within the integral domain the caller opted into.
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
            delta = delta.withColumn(
                f"{c}__tb",
                F.coalesce(F.col(c).try_cast("long"), F.lit(TB_SENTINEL)),
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
        return bucketed.groupBy(BUCKET_COL).applyInPandas(kernel, KERNEL_SCHEMA)

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
        partials = KernelPartials(rollup_version, _partial_rows(kernel_rows))
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
