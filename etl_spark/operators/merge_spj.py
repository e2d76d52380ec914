"""Single-shuffle storage-partitioned MERGE — the scale-path upsert.

The baseline merge (operators/merge.py) shuffles the epoch payload three
times: LWW groupBy (hash by key), full-outer join vs current (hash by
key again), and the write repartition (hash by bucket). This variant
collapses them into ONE payload shuffle:

    delta.repartition(n, bucket).groupBy(bucket).applyInPandas(merge_bucket)
         -> write

The kernel's partition count is ``n = min(touched buckets, slots)``
(``lake.table.repartition_by_bucket``), fixed by the epoch's touched
list and ``defaultParallelism`` — never by the delta's size in bytes.
The kernel's cost is per bucket (read + rewrite the whole bucket), but
AQE sizes a shuffle by its bytes: a small epoch's shuffle falls under
the coalescing floor and a single Python task would rewrite every
touched bucket while the other cores idle. An explicit count is never
coalesced, so the epoch runs as one full wave. One partition per slot,
not one per bucket, because every Python-worker task pays a fixed
start-up cost (``bench/BASELINE.md``, trickle epoch decomposition).

Inside the grouped-map kernel (one call per bucket, Arrow-batched):
  1. LWW winner per key (vectorized sort + drop_duplicates keep-last —
     same (warc_ts, seq) total order as the JVM max-struct dedup);
  2. html -> text extraction for winners only (the SAME frozen kernel,
     functions/extract.extract_text_series — byte-identity preserved);
  3. executor-local pyarrow read of the bucket's CURRENT parquet files
     (the manifest's file list rides the closure) — a hand-rolled
     storage-partitioned join: current rows never cross a shuffle,
     exactly what Iceberg SPJ gives co-bucketed tables. The read goes
     through a pyarrow FileSystem seam (:func:`_resolve_filesystem`):
     a POSIX root reads locally, a ``s3://``/``hdfs://`` root reads
     via the store's client — no kernel change to leave shared disk;
  4. row arbitration identical to the JVM merge: delta wins iff no
     current row or delta.warc_ts >= current.warc_ts; 'D' winners drop
     the key; untouched current rows carry through (the whole bucket is
     rewritten, so losers must be re-emitted).

The output is already partitioned by bucket (the one shuffle), so the
lake write skips its repartition. Hot keys: when the stats pre-pass
sees a key above threshold, a JVM salted pre-reduce runs BEFORE the
grouped map so no pandas group ever materializes a hot key's full row
set.

Memory contract: one call holds one bucket's delta winners + current
rows. n_buckets is the knob — size it so bucket ~ O(100 MB) at the
target scale (thousands of buckets at 100 TB).
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_spark.functions.extract import extract_text_series
from etl_spark.lake.table import (
    BUCKET_COL,
    DELETED_COL,
    LakeTable,
    bucket_expr,
    repartition_by_bucket,
)
from etl_spark.operators.dedup import salted_lww_dedup
from etl_spark.operators.merge import MergeStats, evolve_for_delta

OP_COL = "op"

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
            pdf[c] = pd.to_datetime(pdf[c])
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


def _resolve_filesystem(root: str):
    """Filesystem seam for the kernel's executor-local current-side
    read. A POSIX root uses pyarrow's LocalFileSystem (the sandbox /
    shared-NFS case); a URI root (``s3://…``, ``hdfs://…``,
    ``file://…``) resolves through ``FileSystem.from_uri`` — pointing
    the warehouse at an object store changes the root string, not the
    kernel (the Iceberg-SPJ analog: data files are fetched by path via
    the store's client, never through the driver)."""
    from pyarrow import fs as pafs

    if "://" in root:
        filesystem, base = pafs.FileSystem.from_uri(root)
        return filesystem, base
    return pafs.LocalFileSystem(), root


def make_bucket_merger(
    root: str,
    files_by_bucket,
    schema: T.StructType,
    key_cols: list[str],
    order_cols: list[str],
    extracted: bool,
):
    """Build the grouped-map kernel.

    ``files_by_bucket`` is either a plain dict (tests) or a Spark
    Broadcast of one (the pipeline path): a torrent-distributed
    broadcast ships the manifest to each executor ONCE instead of
    serializing it into every task closure — the difference between
    O(tasks x manifest) and O(executors x manifest) bytes when the
    table has millions of bucket-file entries."""
    payload_cols = [f.name for f in schema.fields]
    out_cols = payload_cols + [BUCKET_COL]
    ts_col = order_cols[0]

    def merge_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        files_map = (
            files_by_bucket.value
            if hasattr(files_by_bucket, "value")
            else files_by_bucket
        )
        if pdf.empty:
            return pd.DataFrame(columns=out_cols)
        bucket = int(pdf[BUCKET_COL].iloc[0])

        # 1. LWW winners (keep-last over the ascending order tuple).
        # Tie-break columns are restored to exact nullable Int64 from
        # their sentinel-filled shadow when the driver shipped one
        # (merge_epoch_spj does): the shadow arrives as exact int64 —
        # the nullable original would arrive as float64, rounded above
        # 2^53 before any pandas-side recovery. Direct-kernel callers
        # without a shadow fall back to the to_numeric cast (exact only
        # when Arrow delivered int64, i.e. the group had no nulls).
        # na_position='first' matches the JVM max-struct order (nulls
        # smallest), so a null-seq event loses a tied-ts dedup to a
        # concrete-seq one exactly as on the classic path.
        tb_cols = order_cols[1:]
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
        winners = (
            pdf.sort_values(order_cols, kind="mergesort", na_position="first")
            .drop_duplicates(key_cols, keep="last")
            .copy()
        )

        # 2. extract text for surviving payloads only.
        if not extracted and "html" in winners.columns:
            winners["text"] = extract_text_series(winners["html"])
        # pre-evolution deltas may lack later-added payload columns
        for c in payload_cols:
            if c not in winners.columns:
                winners[c] = None

        # 3. executor-local read of the bucket's current rows (through
        # the filesystem seam: POSIX root or object-store URI).
        paths = files_map.get(str(bucket), [])
        if paths:
            import pyarrow as pa
            import pyarrow.parquet as pq

            filesystem, base = _resolve_filesystem(root)
            # use_threads=False everywhere: parallelism comes from Spark
            # tasks; Arrow's default per-call thread pool (cpu_count
            # threads in EVERY worker process) oversubscribes the box
            # by n_workers x n_cpus and serializes the stage.
            tables = [
                pq.read_table(
                    f"{base}/{p}", filesystem=filesystem, use_threads=False
                )
                for p in paths
            ]
            # int64 -> nullable Int64 at the Arrow boundary: the default
            # conversion renders int64-with-nulls as float64, which is
            # already lossy above 2^53 before any downstream cast.
            cur = pa.concat_tables(tables, promote_options="default").to_pandas(
                use_threads=False,
                types_mapper={pa.int64(): pd.Int64Dtype()}.get,
            )
            # old files may predate later-added columns
            for c in payload_cols:
                if c not in cur.columns:
                    cur[c] = None
        else:
            cur = pd.DataFrame(columns=payload_cols)

        # 4. arbitration (same rule as the JVM merge): delta wins iff no
        # current row or it is >= on the full lexicographic
        # (warc_ts, seq) tuple — the stored seq makes equal-ts events in
        # later epochs arbitrate by global LWW order, not arrival order.
        merged = winners.merge(
            cur[payload_cols] if len(cur) else cur,
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
        elif cur_tb is not None and tb_col in merged.columns:
            # null seq on EITHER side compares as -inf (classic-path
            # parity: ties with unknown seq go to the delta, and no
            # NaN comparison may silently drop a key). Both sides are
            # nullable Int64 by now, so the comparison is exact integer
            # order across the full int64 range — no float64 detour.
            cur_tb_f = _as_exact_int64(cur_tb).fillna(TB_SENTINEL)
            d_tb = _as_exact_int64(merged[tb_col]).fillna(TB_SENTINEL)
            newer = (merged[ts_col] > cur_ts) | (
                (merged[ts_col] == cur_ts) & (d_tb >= cur_tb_f)
            )
            delta_wins = in_delta & (~has_cur | newer)
        else:
            delta_wins = in_delta & (~has_cur | (merged[ts_col] >= cur_ts))
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
            dv = merged.loc[keep_delta, payload_cols].copy()
            if tombstoning:
                tomb = is_delete.loc[keep_delta]
                preserve = set(key_cols) | set(order_cols) | {DELETED_COL}
                for c in payload_cols:
                    if c not in preserve:
                        dv.loc[tomb, c] = None
                dv[DELETED_COL] = tomb.to_numpy()
            parts.append(dv)
        if keep_cur.any():
            cur_view = merged.loc[keep_cur].copy()
            for c in payload_cols:
                cc = f"{c}_cur"
                if cc in cur_view.columns:
                    cur_view[c] = cur_view[cc]
            parts.append(cur_view[payload_cols])
        if parts:
            out = pd.concat(parts, ignore_index=True)
        else:
            out = pd.DataFrame(columns=payload_cols)
        out[BUCKET_COL] = bucket
        return _arrow_safe(out, schema)[out_cols]

    return merge_bucket


def merge_epoch_spj(
    spark: SparkSession,
    table: LakeTable,
    delta: DataFrame,
    epoch: int,
    order_cols: Iterable[str] = ("warc_ts", "seq"),
    touched_buckets: list[int] | None = None,
    delta_rows: int | None = None,
    hot: bool = False,
    n_salts: int = 16,
    extracted: bool = False,
) -> MergeStats:
    """Apply one epoch via the single-shuffle grouped-map merge.

    ``touched_buckets`` (from the stats pre-pass) is REQUIRED for
    correctness of deletes: a bucket whose merge output is empty writes
    no files, and only the touched list tells the commit to drop the
    old ones. ``hot``: run the JVM salted pre-reduce first.
    """
    order_cols = list(order_cols)
    if epoch in table.applied_epochs():
        head = table.snapshot()
        return MergeStats(epoch, True, 0, 0, head.version)

    snap = evolve_for_delta(table, delta)
    key_cols = snap.key_cols
    schema = snap.schema

    if touched_buckets is None:
        touched_buckets = [
            int(r[0])
            for r in delta.select(
                bucket_expr(key_cols, snap.n_buckets).alias(BUCKET_COL)
            )
            .distinct()
            .collect()
        ]
    touched = [int(b) for b in touched_buckets]
    if not touched:
        head = table.commit(
            None,
            applied_epoch=epoch,
            summary={
                "operation": "merge_spj",
                "epoch": epoch,
                "rows": 0,
                # present-but-empty so a rollup (re)run for this epoch
                # sees "nothing touched" instead of "unknown" (which
                # would route to a full refresh for a no-op epoch)
                "touched_list": [],
            },
        )
        return MergeStats(epoch, False, 0, 0, head.version)

    if hot:
        # bound any pandas group: pre-reduce the hot key across salts
        delta = salted_lww_dedup(delta, key_cols, order_cols, n_salts=n_salts)

    # Existing payload columns cast to the table's authoritative types
    # JVM-side (the classic path's align_to_schema contract): type
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
    bucketed = delta.withColumn(BUCKET_COL, bucket_expr(key_cols, snap.n_buckets))
    out_schema = T.StructType(
        schema.fields + [T.StructField(BUCKET_COL, T.IntegerType(), False)]
    )
    touched_files = {b: snap.files.get(str(b), []) for b in map(str, touched)}
    kernel = make_bucket_merger(
        table.root,
        spark.sparkContext.broadcast(touched_files),
        schema,
        key_cols,
        order_cols,
        extracted,
    )
    merged = (
        repartition_by_bucket(bucketed, touched)
        .groupBy(BUCKET_COL)
        .applyInPandas(kernel, out_schema)
    )

    new_snap = table.commit(
        merged,
        touched_buckets=touched,
        applied_epoch=epoch,
        already_bucket_partitioned=True,
        # the LWW order column is the stream's event time: recording
        # per-bucket tombstone stats here is what lets expire_tombstones
        # prune its GC discovery scan to prunable buckets
        event_time_col=order_cols[0],
        summary={
            "operation": "merge_spj",
            "epoch": epoch,
            "rows": delta_rows if delta_rows is not None else -1,
            "touched_buckets": len(touched),
            "touched_list": touched,
        },
    )
    return MergeStats(
        epoch,
        False,
        len(touched),
        delta_rows if delta_rows is not None else -1,
        new_snap.version,
    )
