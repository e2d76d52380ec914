"""Per-epoch lineage + metrics — successor of the reference audit log
(/root/reference/etl/audit/logger.py:81-103, DDL
/root/reference/etl/init/sql/40_audit_log.sql:1-12): one row per
(epoch, stage) with row counts, wall-clock, and status, appended to a
lineage LakeTable so every run is self-documenting.

Timing caveat: Spark stages are lazy — a stage whose body only builds
a DataFrame plan (clean, dedup, extract) records near-zero ``seconds``;
the compute lands in whichever stage triggers the action (stats, merge).
``seconds`` is therefore "wall-clock attributable to actions started in
this stage", not per-transformation cost; the per-epoch SUM across
stages is the meaningful latency number."""

from __future__ import annotations

import time
from contextlib import contextmanager

from pyspark.sql import SparkSession
from pyspark.sql import types as T

import etl_spark
from etl_spark.lake.table import LakeTable
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
            # the session is pinned UTC (session.py), so the collected
            # naive datetime is UTC — interpret it explicitly rather
            # than trusting the driver host's local timezone
            from datetime import timezone

            lag = now - max_event_ts.replace(tzinfo=timezone.utc).timestamp()
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
        have = {f.name for f in self.table.snapshot().schema.fields}
        missing = [
            # forced nullable: pre-evolution files read the column as null
            T.StructField(f.name, f.dataType, True)
            for f in LINEAGE_SCHEMA.fields
            if f.name not in have
        ]
        if missing:
            self.table.add_columns(missing)
        # An Arrow table typed from LINEAGE_SCHEMA plans as a
        # LocalRelation: the append runs on the JVM alone (a list of
        # tuples becomes a Python RDD, i.e. Python-worker tasks, each
        # with a fixed start-up cost), and nullable longs stay exact
        # int64 instead of detouring through float64.
        import pyarrow as pa
        import pyspark.sql.functions as F
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(LINEAGE_SCHEMA)
        columns = zip(*self.rows)
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
            schema=arrow_schema,
        )
        df = spark.createDataFrame(table, LINEAGE_SCHEMA)
        self.table.append(
            df.withColumn("committed_at", F.current_timestamp()),
            summary={"operation": "lineage"},
        )
        self.rows.clear()
