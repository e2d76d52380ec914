"""Structured Streaming form of the ingest pipeline.

The batch epoch loop (pipeline.ingest_range — successor of the
reference's per-day driver loop, /root/reference/main.py:60-86) wrapped
as ``readStream -> foreachBatch -> exactly-once sink``:

* source: file-based change-log stream (``readStream.schema(...)
  .parquet``) — the WAL-tail stand-in; on a production bus this is the
  Kafka/binlog connector, same downstream code;
* ``Trigger.AvailableNow`` drains the backlog as bounded micro-batches
  then stops (the reference's catch-up-all-days mode);
* every micro-batch reuses the SAME stage functions as the batch path
  (clean -> merge kernel -> rollup publish -> lineage) — one code path,
  two drivers (SURVEY.md §7.3.7);
* exactly-once: Spark's checkpoint gives at-least-once ``foreachBatch``
  delivery with a stable ``batch_id``; the warehouse's applied-epoch
  bookkeeping makes the re-delivered batch a no-op — the end-to-end
  idempotent-sink contract (same mechanism replay tests pin for the
  batch path).

Late data: the LWW merge makes row-level lateness a non-event (an
older (url, warc_ts) simply loses the merge, whatever batch it arrives
in — deletes included, since a winning delete persists as a tombstone
the late event still arbitrates against) — the engine needs no
watermark for correctness. The windowed
rollup below shows the watermarked-aggregation form for derived
streaming aggregates where state must be bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_spark import schema as S
from etl_spark.operators.clean import domain_of
from etl_spark.pipeline import Warehouse, ingest_epoch

# Streaming epochs live in their own id range so a warehouse that was
# (or will be) loaded by the batch driver — whose epochs start at 0,
# exactly where streaming batch_ids also start — can never collide with
# a stream's ids in the shared applied-epoch bookkeeping. A collision is
# silent data loss: the guard skips the "already applied" micro-batch
# while the checkpoint still marks its files consumed.
STREAM_EPOCH_BASE = 1_000_000_000


def stream_changes(
    spark: SparkSession,
    source_dir: str,
    with_lang: bool = True,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-stream over a change-log directory (one parquet file per
    epoch is the natural layout; each file becomes one micro-batch when
    ``max_files_per_trigger=1``)."""
    schema = S.CHANGES_SCHEMA if with_lang else S.CHANGES_SCHEMA_V0
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(source_dir)


def stream_ingest(
    spark: SparkSession,
    wh: Warehouse,
    source_dir: str,
    checkpoint_dir: str,
    with_lang: bool = True,
    max_files_per_trigger: int | None = 1,
    available_now: bool = True,
    epoch_base: int = STREAM_EPOCH_BASE,
    **epoch_kw,
):
    """Run the CDC pipeline as a stream; returns the StreamingQuery.

    epoch id = ``epoch_base`` + the streaming ``batch_id`` (monotonic,
    stable across recovery — exactly what the applied-epoch guard
    needs). The base keeps stream epochs disjoint from batch-driver
    epochs on the same warehouse; a SECOND concurrent stream on one
    warehouse needs its own ``epoch_base`` for the same reason. The
    idempotence contract is per-checkpoint: if the checkpoint dir is
    LOST, a fresh run regroups the source files into new batch ids, and
    any batch landing on an already-applied epoch id would be silently
    skipped while its (possibly different) contents were never applied.
    Recovery rule: restarting without the original checkpoint requires
    a fresh ``epoch_base`` — every file is then re-applied, and LWW
    arbitration makes the re-application convergent, not duplicated."""
    changes = stream_changes(spark, source_dir, with_lang, max_files_per_trigger)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        ingest_epoch(
            spark, wh, lambda _e: batch_df, epoch_base + int(batch_id), **epoch_kw
        )

    writer = (
        changes.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("cdc_ingest")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def sessionized_domain_counts(
    changes: DataFrame,
    gap: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time SESSION windows per domain — the streaming twin of
    the batch sessionization operator (queries/windows.sessionized,
    the reference's 900 s trajectory gap-split re-expressed).

    Boundary rule (measured, pinned by tests/test_streaming.py::
    test_session_window_converges_to_batch_gap_split): Spark's
    ``session_window`` treats the gap as a CLOSED extension — an event
    landing exactly ``gap`` after the previous one still merges; the
    split fires at Δt > gap. The batch operator follows the reference's
    rule and splits at Δt >= gap. On whole-second event times the two
    coincide when the streaming gap is set to ``batch_gap - 1s``;
    ``session_end == last event + gap`` in both.

    Scale shape: session state is per (domain, open session) and the
    watermark closes sessions whose end precedes it — state is bounded
    by active domains x gap, not history (the same bound the TTL gives
    the stateful LWW view)."""
    return (
        changes.withWatermark("warc_ts", watermark)
        .groupBy(
            F.session_window("warc_ts", gap).alias("w"),
            domain_of(F.col("url")).alias("domain"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "domain",
            "n_events",
        )
    )


def windowed_domain_counts(
    changes: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    exact_distinct: bool = False,
) -> DataFrame:
    """Watermarked streaming aggregate: events per (domain, window).

    The derived-rollup form for unbounded streams — the watermark bounds
    state (late events beyond it are dropped FROM THE AGGREGATE only;
    the LWW merge path still applies them to the lake table).

    ``exact_distinct``: the streaming form uses approx_count_distinct
    (an HLL sketch — bounded state per group, and COUNT(DISTINCT) is
    not supported inside a streaming aggregation); bounded/batch
    executions of the same plan can pass True to get the exact count —
    the form the DuckDB oracle twin pins hash-exactly."""
    distinct_urls = (
        F.count_distinct("url") if exact_distinct
        else F.approx_count_distinct("url")
    )
    return (
        changes.withWatermark("warc_ts", watermark)
        .groupBy(
            F.window("warc_ts", window).alias("w"),
            # same domain definition as the batch rollup (clean.domain_of)
            # so the two rollups can never diverge on the same data
            domain_of(F.col("url")).alias("domain"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            distinct_urls.alias("approx_urls"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "domain",
            "n_events",
            "approx_urls",
        )
    )
