"""The end-to-end ingest pipeline: tail -> clean -> merge (dedup ->
extract -> arbitrate -> write -> rollup partials, one grouped-map pass)
-> rollup publish -> lineage, one epoch per call. An epoch runs one
Spark step, the kernel job: it also reports the epoch's touched
buckets, key and event counts and newest event time, and the rollup
and lineage commits publish files already written (by the kernel, and
by the driver) without a job of their own.

This is the Spark re-expression of the reference's per-day load
(/root/reference/main.py:98-147: ensure file -> clean -> build
trajectories -> load dims+facts -> rollups -> audit -> commit), with
each stage a DataFrame transformation and one atomic snapshot commit
per epoch instead of one SQL transaction per day.

Stage ordering is a scale decision: the merge kernel dedups BEFORE it
extracts, so each surviving key is decoded once (losers at 10^10 events
would otherwise dominate CPU), mirroring the reference's own
clean-before-build ordering (cheap filters first).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_spark import schema as S
from etl_spark.lake.table import BUCKET_COL, LakeTable
from etl_spark.lineage import LineageLog
from etl_spark.operators.clean import clean_changes

# Not called here: an epoch's stats come back on the merge kernel's rows.
# The name stays importable because ``perfbench/spans.py`` wraps
# ``delta_stats`` on this module by name for its ``dedup.stats`` span.
from etl_spark.operators.dedup import delta_stats  # noqa: F401
from etl_spark.operators.merge_spj import MergeStats, merge_epoch_spj
from etl_spark.operators.rollup import rollup_domain_stats

PAGES = "pages"
LINEAGE = "lineage"
ROLLUP = "rollup_domain"


@dataclass
class Warehouse:
    """The lake: pages + rollup + lineage tables under one root."""

    root: str
    pages: LakeTable
    rollup: LakeTable
    lineage: LakeTable

    @staticmethod
    def init(root: str, n_buckets: int = 16) -> "Warehouse":
        """Bootstrap DDL — successor of `main.py --init`
        (/root/reference/etl/init_database.py:72-83)."""
        from etl_spark.operators.rollup import DOMAIN_COL, DOMAIN_SQL, ROLLUP_SCHEMA

        pages = LakeTable.create(
            os.path.join(root, PAGES),
            S.PAGES_SCHEMA_V0,
            ["url"],
            n_buckets,
            # every pages file carries domain_of(url): the merge kernel
            # computes the epoch's rollup partials from it
            derived_cols={DOMAIN_COL: DOMAIN_SQL},
        )

        rollup = LakeTable.create(
            os.path.join(root, ROLLUP),
            ROLLUP_SCHEMA,
            ["src_bucket", "domain", "day_id"],
            n_buckets,
        )
        lineage = LakeTable.create(
            os.path.join(root, LINEAGE), S.LINEAGE_SCHEMA, ["epoch", "stage"], 4
        )
        return Warehouse(root, pages, rollup, lineage)

    @staticmethod
    def open(root: str) -> "Warehouse":
        return Warehouse(
            root,
            LakeTable(os.path.join(root, PAGES)),
            LakeTable(os.path.join(root, ROLLUP)),
            LakeTable(os.path.join(root, LINEAGE)),
        )

    @staticmethod
    def exists(root: str) -> bool:
        return LakeTable.exists(os.path.join(root, PAGES))


def ingest_epoch(
    spark: SparkSession,
    wh: Warehouse,
    changes: DataFrame,
    epoch: int,
    with_lineage: bool = True,
    with_rollup: bool = True,
) -> MergeStats:
    """Apply one epoch of change events, exactly once.

    Replay safety: every stage is a pure transformation of the epoch's
    delta; the only side effects are the snapshot commits, each keyed by
    the epoch — re-running any prefix or suffix of epochs converges to
    the same table state (north rule).
    """
    log = LineageLog(wh.lineage if with_lineage else None)
    # the pages head, read once: the merge derives from it and commits
    # against it
    head = wh.pages.snapshot()

    if epoch in head.applied_epochs:
        # Crash-window repair: the pages merge committed but the rollup
        # commit never landed (process died between the two). The pages
        # guard alone would skip the epoch forever and leave the rollup
        # permanently stale; rollup_domain_stats has its own
        # applied-epoch guard, so finishing the job here keeps replay
        # convergent across BOTH tables and stays a no-op when the
        # rollup did land.
        if with_rollup and epoch not in wh.rollup.applied_epochs():
            touched = (
                head.summary.get("touched_list")
                if head.summary.get("epoch") == epoch
                else None  # older head: full refresh, always correct
            )
            with log.stage(epoch, "rollup") as rec:
                rollup_domain_stats(
                    spark, wh.pages, wh.rollup, epoch, touched_buckets=touched
                )
            log.flush(spark)
        return MergeStats(epoch, True, 0, 0, head.version)

    try:
        if callable(changes):
            delta = changes(epoch)
        else:
            delta = changes.filter(F.col("epoch") == epoch)

        with log.stage(epoch, "clean") as rec:
            cleaned = clean_changes(delta)

        # single-shuffle grouped-map merge: dedup + extract + current-side
        # read + arbitration + write all inside one bucket-partitioned
        # pass, whose rows also carry the epoch's stats
        with log.stage(epoch, "merge") as rec:
            stats = merge_epoch_spj(
                spark,
                wh.pages,
                cleaned,
                epoch,
                rollup=wh.rollup if with_rollup else None,
                head=head,
            )
            rec["rows_out"] = stats.delta_rows

        if with_rollup:
            with log.stage(epoch, "rollup") as rec:
                # the kernel's touched list keeps an empty epoch a
                # metadata-only rollup commit, and its partial files
                # publish as they are
                rollup_domain_stats(
                    spark,
                    wh.pages,
                    wh.rollup,
                    epoch,
                    touched_buckets=stats.touched_list,
                    partials=stats.partials,
                )

        # per-epoch throughput + event-time lag, from the kernel's rows
        # (no extra pass over the delta) — flushed with the stage rows
        log.metrics(epoch, n_events=stats.n_events, max_event_ts=stats.max_event_ts)
    except BaseException:
        # persist the partial trail (including the failed stage's
        # status row) so an aborted epoch is visible in the audit
        # table; suppress flush errors so they can't mask the cause
        try:
            log.flush(spark)
        except Exception:
            pass
        raise

    log.flush(spark)
    return stats


# Maintenance ops log under this sentinel epoch: they are not replay
# epochs (applied-epoch bookkeeping never sees them) but they DO change
# table state, so the audit trail must cover them (north rule K8 —
# same role as the reference's audit row per load,
# /root/reference/etl/audit/logger.py:81-103, extended to maintenance).
MAINTENANCE_EPOCH = -1


def rebucket_warehouse(
    spark: SparkSession, wh: Warehouse, new_n_buckets: int
) -> None:
    """Grow (or shrink) the pages table's bucket count, then rebuild the
    rollup partials — their src_bucket keys are defined by the pages
    layout, so a pages rebucket invalidates every existing partial.
    Both commits are ordinary snapshots: rollback-able, replay
    bookkeeping untouched. Appends one maintenance lineage row
    (rows_in/rows_out = old/new bucket count)."""
    from etl_spark.operators.rollup import compute_partials, layout_stamp

    log = LineageLog(wh.lineage)
    with log.stage(MAINTENANCE_EPOCH, "maint_rebucket") as rec:
        rec["rows_in"] = wh.pages.snapshot().n_buckets
        wh.pages.rebucket(spark, new_n_buckets)
        # Crash window between the two commits is safe: the rollup head
        # would still carry the OLD bucket count's stamp, which no
        # longer matches layout_stamp(new_n_buckets), so the next
        # epoch's rollup_domain_stats full-refreshes instead of
        # partial-replacing against a stale layout.
        # overwrite_all raises on a lost publish race; the rebuild is a
        # pure function of the (already-rebucketed) pages snapshot, so
        # re-derive and retry. If all retries lose, the stamp mismatch
        # still routes the next epoch to a full refresh (crash-window
        # rule above), so failing here is loud but never corrupting.
        from etl_spark.lake.table import CommitConflictError

        for attempt in range(3):
            fresh = compute_partials(wh.pages.read(spark, with_bucket=True))
            try:
                wh.rollup.commit(
                    fresh.withColumn(BUCKET_COL, F.col("src_bucket")),
                    overwrite_all=True,
                    summary={
                        "operation": "rollup_rebuild_after_rebucket",
                        "layout": layout_stamp(new_n_buckets),
                    },
                )
                break
            except CommitConflictError:
                if attempt == 2:
                    raise
        rec["rows_out"] = new_n_buckets
    log.flush(spark)


def compact_warehouse(
    spark: SparkSession, wh: Warehouse, max_files: int = 64
) -> "Snapshot":
    """Collapse lineage/audit file fragmentation (one file per bucket),
    logged as a maintenance lineage row (rows_in/rows_out = file count
    before/after). The lineage append lands after the compaction
    commit, so it adds exactly one fresh file set on top of the
    compacted layout — the next compaction folds it in. Returns the
    table head AFTER the lineage append (what a reader sees now), not
    the intermediate compaction snapshot."""
    before = sum(len(p) for p in wh.lineage.snapshot().files.values())
    log = LineageLog(wh.lineage)
    with log.stage(MAINTENANCE_EPOCH, "maint_compact_lineage") as rec:
        # rebucket=False: lineage rows carry their stored (correctly
        # hashed) bucket ids; re-deriving them would be a no-op spend.
        snap = wh.lineage.compact_files(spark, max_files=max_files)
        rec["rows_in"] = before
        rec["rows_out"] = sum(len(p) for p in snap.files.values())
    log.flush(spark)
    return wh.lineage.snapshot()


def expire_warehouse_tombstones(
    spark: SparkSession, wh: Warehouse, older_than
) -> "Snapshot":
    """GC pages-table delete markers past the late-event horizon,
    logged as a maintenance lineage row (rows_out = buckets rewritten;
    0 rows_out = the call was a no-op)."""
    log = LineageLog(wh.lineage)
    with log.stage(MAINTENANCE_EPOCH, "maint_expire_tombstones") as rec:
        before_v = wh.pages.snapshot().version
        snap = wh.pages.expire_tombstones(
            spark, older_than, event_time_col="warc_ts"
        )
        rec["rows_out"] = (
            snap.summary.get("buckets", 0) if snap.version != before_v else 0
        )
    log.flush(spark)
    return snap


def ingest_range(
    spark: SparkSession,
    wh: Warehouse,
    changes: DataFrame,
    epochs: range,
    **kw,
) -> list[MergeStats]:
    """Epoch loop — successor of the reference's clean_range day loop
    (/root/reference/main.py:60-86). Already-applied epochs are skipped
    (the pickle-short-circuit analog, main.py:105-107), which is what
    makes resume-from-any-checkpoint free."""
    return [ingest_epoch(spark, wh, changes, e, **kw) for e in epochs]
