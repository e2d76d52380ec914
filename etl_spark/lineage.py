"""Per-epoch lineage + metrics — successor of the reference audit log
(/root/reference/etl/audit/logger.py:81-103, DDL
/root/reference/etl/init/sql/40_audit_log.sql:1-12): one row per
(epoch, stage) with row counts, wall-clock, and status, appended to a
lineage LakeTable so every run is self-documenting.

Timing caveat: Spark stages are lazy — a stage whose body only builds
a DataFrame plan (clean) records near-zero ``seconds``; the compute
lands in the stage that triggers the action (merge: the kernel job
that dedups, extracts, writes and computes the rollup partials).
``seconds`` is therefore "wall-clock attributable to actions started in
this stage", not per-transformation cost; the per-epoch SUM across
stages is the meaningful latency number.

A flush writes on the driver: a handful of rows per epoch is not worth
a Spark job. The bucket ids come from ``bucket_expr`` projected over a
``LocalRelation`` (evaluated by the JVM without a job), and each
bucket's rows become one file through ``LakeTable.write_bucket_file``,
published by ``append``."""

from __future__ import annotations

import time
from contextlib import contextmanager
from datetime import datetime, timezone

from pyspark.sql import SparkSession
from pyspark.sql import types as T

import etl_spark
from etl_spark.lake.table import (
    BUCKET_COL,
    BucketFileWrite,
    LakeTable,
    arrow_schema,
    bucket_expr,
)
from etl_spark.schema import LINEAGE_SCHEMA


class LineageLog:
    """Collects stage rows driver-side during an epoch, flushes as one
    append commit (the reference logs per stage and inserts one audit
    row per load, insert_audit.py:15-32)."""

    def __init__(self, table: LakeTable | None):
        self.table = table
        self.rows: list[tuple] = []

    @contextmanager
    def stage(self, epoch: int, stage: str, partition_id: int = -1):
        rec = {"rows_in": None, "rows_out": None}
        start = time.time()
        status = "ok"
        try:
            yield rec
        except BaseException as ex:
            # the row is still recorded (finally) so a crashed epoch
            # leaves its audit trail; the caller's finally-flush writes
            # it before the exception propagates out of ingest_epoch
            status = f"{type(ex).__name__}: {ex}"[:500]
            raise
        finally:
            self.rows.append(
                (
                    epoch,
                    partition_id,
                    stage,
                    rec["rows_in"],
                    rec["rows_out"],
                    time.time() - start,
                    etl_spark.__version__,
                    status,
                    None,
                    None,
                    None,
                )
            )

    def metrics(self, epoch: int, n_events: int, max_event_ts=None) -> None:
        """Per-epoch throughput/lag row (north rule: "throughput/lag
        metrics emitted each epoch"): events/sec over the wall-clock
        already attributed to this epoch's stage rows, and event-time
        lag = now − newest event time (the stream-catch-up indicator a
        WAL tail is operated by). Appended as stage="metrics" so it
        flushes in the same lineage commit as the stage rows."""
        now = time.time()
        # Exclude prior stage='metrics' rows: their seconds field holds
        # the previous SUM, so including them would double-count when
        # metrics() is called twice for one epoch (e.g. a retried
        # flush). Zero attributed seconds (all-lazy stages) reports
        # events_per_sec=0.0 — "no measured throughput", never inf/null.
        seconds = sum(
            r[5] for r in self.rows if r[0] == epoch and r[2] != "metrics" and r[5]
        )
        eps = (n_events / seconds) if seconds else 0.0
        lag = None
        if max_event_ts is not None:
            # ``collect`` renders a timestamp as a naive wall time in the
            # driver's process zone, which is exactly what a naive
            # ``timestamp()`` reads it back in
            lag = now - max_event_ts.timestamp()
        self.rows.append(
            (
                epoch,
                -1,
                "metrics",
                n_events,
                None,
                seconds,
                etl_spark.__version__,
                "ok",
                eps,
                lag,
                None,
            )
        )

    def flush(self, spark: SparkSession) -> None:
        if self.table is None or not self.rows:
            self.rows.clear()
            return
        # Additive schema evolution for the lineage table itself: a
        # warehouse initialized before a LINEAGE_SCHEMA field was added
        # (e.g. ``status`` in 0.2) keeps its old snapshot schema, and
        # LakeTable.read's explicit read-schema would silently drop the
        # new columns forever. Evolve on flush, same as the pages table.
        snap = self.table.snapshot()
        have = {f.name for f in snap.schema.fields}
        missing = [
            # forced nullable: pre-evolution files read the column as null
            T.StructField(f.name, f.dataType, True)
            for f in LINEAGE_SCHEMA.fields
            if f.name not in have
        ]
        if missing:
            snap = self.table.add_columns(missing)
        import pyarrow as pa
        import pyarrow.compute as pc

        # Arrow arrays typed from the table schema: nullable longs stay
        # exact int64 (no float64 detour); committed_at is the driver's
        # clock as a UTC instant
        committed = datetime.now(timezone.utc)
        columns = dict(
            zip(
                LINEAGE_SCHEMA.fieldNames(),
                zip(*(r[:-1] + (committed,) for r in self.rows)),
            )
        )
        layout = arrow_schema(snap.schema)
        table = pa.Table.from_arrays(
            [pa.array(columns.get(f.name, [None] * len(self.rows)), f.type) for f in layout],
            schema=layout,
        )
        # bucket ids from bucket_expr itself, projected over a
        # LocalRelation: the JVM evaluates it without starting a job
        buckets = spark.createDataFrame(table.select(snap.key_cols)).select(
            bucket_expr(snap.key_cols, snap.n_buckets)
        )
        table = table.append_column(
            pa.field(BUCKET_COL, pa.int32()),
            pa.array([r[0] for r in buckets.collect()], pa.int32()),
        )
        root = self.table.root

        def write(version: int) -> list[dict]:
            return [
                LakeTable.write_bucket_file(
                    root, version, b, table.filter(pc.field(BUCKET_COL) == b), None
                )
                for b in sorted(set(table[BUCKET_COL].to_pylist()))
            ]

        self.table.append(
            BucketFileWrite(write), summary={"operation": "lineage"}, base=snap
        )
        self.rows.clear()
