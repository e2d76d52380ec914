"""Post-merge rollups — successor of the reference's rollup layer
(/root/reference/etl/rollup/apply_rollups.py,
fact_cell_rollup.sql, heatmaps/01-05): derived aggregate tables
maintained idempotently after each load.

Design: **bucket-partial rollup**. The reference aggregates per fine
cell then re-aggregates to the 5 km parent
(/root/reference/etl/rollup/sql/heatmaps/01_count.sql:50-52) — the
partial/final split. Here the partial key is the pages *bucket*: each
epoch recomputes partial aggregates only for the buckets its merge
rewrote, and the final (domain, day) numbers are a cheap re-aggregation
of partials at read time. The rollup table is physically bucketed by
``src_bucket`` ITSELF (identity, not a hash of the full key), so an
epoch commit replaces exactly the touched buckets' partial files and
carries every other bucket forward untouched — epoch cost is
proportional to touched buckets on the write side too, never to rollup
state size (buckets x domains x days), the property that survives
10^10 events with years of days.

Purity: partials are a pure function of the pages snapshot (SURVEY.md
K5 note: "compute-before-write (preferred: make rollups pure)") —
replaying an epoch regenerates identical partials, so the rollup is
exactly-once by construction, with the applied-epoch guard on top.

Two outcomes. Every normal epoch *publishes*: the merge
kernel already holds each touched bucket's final rows in Arrow, so it
aggregates them (:func:`bucket_partials`) and writes the bucket's
partial file in the same task, under a rollup version claimed before
the kernel job (:func:`claim_kernel_partials`); the epoch's rollup
commit only publishes those files — no Spark job. The domain is not
re-derived in Python: the pages table declares a hidden ``_domain``
column, ``domain_of(url)`` evaluated in the JVM, and every pages file
carries it. Everything else *rebuilds* (:func:`rebuild_partials`): the
crash-window repair of an epoch whose rollup commit never landed, a
full refresh, and the rebuild after a pages rebucket all run the same
``bucket_partials`` over the pages buckets in one grouped-map job.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_spark.lake.table import (
    BUCKET_COL,
    DELETED_COL,
    BucketFileWrite,
    CommitConflictError,
    LakeTable,
    Snapshot,
    arrow_schema,
    repartition_by_bucket,
)

# The pages table's hidden derived column (``Snapshot.derived_cols``):
# ``domain_of(url)`` as Spark SQL, evaluated in the JVM by every writer.
DOMAIN_COL = "_domain"
DOMAIN_SQL = "parse_url(url, 'HOST')"

# Manifest-layout stamp carried in every rollup commit summary: the
# bucket-granular replace below is only valid when manifest keys are
# src_buckets themselves (identity bucketing) AND the src_bucket ids
# were derived under the pages table's CURRENT bucket count — the
# count is baked into the stamp so a pages rebucket whose rollup
# rebuild never landed (crash window) reads as unstamped and gets a
# full refresh instead of silently double-counting old-layout partials.
def layout_stamp(pages_n_buckets: int) -> str:
    return f"identity:src_bucket:{pages_n_buckets}"

ROLLUP_SCHEMA = T.StructType(
    [
        T.StructField("src_bucket", T.IntegerType(), False),
        T.StructField("domain", T.StringType(), True),
        T.StructField("day_id", T.IntegerType(), True),
        T.StructField("n_pages", T.LongType(), True),
        T.StructField("text_chars", T.LongType(), True),
        T.StructField("max_warc_ts", T.TimestampType(), True),
    ]
)


@dataclass
class KernelPartials:
    """Rollup partial files the merge kernel wrote for one epoch.

    ``version`` is the rollup version claimed before the kernel job;
    ``rows`` are the ``BUCKET_FILE_SCHEMA`` rows of the files written
    under it (a touched bucket left with no live page has none);
    ``touched`` are the pages buckets the epoch rewrote, whose rollup
    buckets the publish replaces; ``layout`` is the :func:`layout_stamp`
    of the pages snapshot the kernel read."""

    version: int
    rows: list[dict]
    touched: list[int]
    layout: str


def claim_kernel_partials(
    pages_snap: Snapshot, rollup: LakeTable, epoch: int
) -> int | None:
    """Claim the rollup version the merge kernel writes partial files
    under, or None when the epoch's rollup cannot take them: it already
    landed, or the rollup table holds data without the current layout
    stamp (it needs a full refresh first). Reads the rollup head once."""
    head = rollup.snapshot()
    if epoch in head.applied_epochs or (
        any(head.files.values())
        and head.summary.get("layout") != layout_stamp(pages_snap.n_buckets)
    ):
        return None
    return rollup._claim_version()


PARTIAL_SCHEMA = T.StructType(
    ROLLUP_SCHEMA.fields + [T.StructField(BUCKET_COL, T.IntegerType())]
)


def bucket_partials(data, bucket: int, session_tz: str):
    """The rollup's partial aggregate over one pages bucket's rows (a
    ``pyarrow.Table`` carrying ``_domain``), in the rollup's file
    layout: live rows only, grouped on (domain, day_id) with null
    domains kept as a group; ``n_pages`` counts rows, ``day_id`` is
    ``smart_date_id`` in the session zone; ``text_chars`` sums
    code-point lengths (Spark's ``length``), skipping null text;
    ``max_warc_ts`` is the newest event time."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if DELETED_COL in data.column_names:
        data = data.filter(pc.invert(pc.fill_null(data[DELETED_COL], False)))
    local = data["warc_ts"].cast(pa.timestamp("us", tz=session_tz))
    day_id = pc.fill_null(
        pc.add(
            pc.add(
                pc.multiply(pc.year(local), 10000), pc.multiply(pc.month(local), 100)
            ),
            pc.day(local),
        ),
        -1,
    )
    grouped = (
        pa.table(
            {
                "domain": data[DOMAIN_COL],
                "day_id": day_id.cast(pa.int32()),
                "chars": pc.utf8_length(data["text"]).cast(pa.int64()),
                "ts": data["warc_ts"],
            }
        )
        .group_by(["domain", "day_id"])
        .aggregate(
            [
                ("domain", "count", pc.CountOptions(mode="all")),
                ("chars", "sum"),
                ("ts", "max"),
            ]
        )
    )
    n = grouped.num_rows
    src = pa.array([bucket] * n, pa.int32())
    target = arrow_schema(PARTIAL_SCHEMA)
    return pa.Table.from_arrays(
        [
            src,
            grouped["domain"],
            grouped["day_id"],
            grouped["domain_count"],
            grouped["chars_sum"],
            grouped["ts_max"].cast(target.field("max_warc_ts").type),
            src,
        ],
        schema=target,
    )


def rebuild_partials(
    spark: SparkSession,
    pages: LakeTable,
    rollup: LakeTable,
    buckets: list[int] | None,
    summary: dict,
    applied_epoch: int | None = None,
) -> None:
    """Recompute the rollup partials of the pages ``buckets`` (None:
    every bucket, replacing the whole rollup table) from the pages head
    and commit them, stamped with that snapshot's layout: one
    grouped-map job on one ``_bucket`` Exchange runs each bucket's live
    rows, ``_domain`` evaluated in the JVM, through the kernel's own
    :func:`bucket_partials`. The partials are a pure function of the
    pages snapshot, so a lost publish race re-derives and retries, 3
    tries in all."""
    session_tz = spark.conf.get("spark.sql.session.timeZone")

    def partials_write(snap: Snapshot) -> BucketFileWrite | None:
        if buckets is not None and not buckets:
            return None  # nothing touched: a metadata-only commit
        # only what the aggregate reads crosses the shuffle
        live = repartition_by_bucket(
            pages.read(
                spark, buckets=buckets, version=snap.version, with_bucket=True
            ).select(
                BUCKET_COL, "warc_ts", "text", F.expr(DOMAIN_SQL).alias(DOMAIN_COL)
            ),
            range(snap.n_buckets) if buckets is None else buckets,
        )
        return rollup.grouped_write(
            live, lambda data, bucket: bucket_partials(data, bucket, session_tz), None
        )

    for _ in range(3):
        snap = pages.snapshot()
        try:
            rollup.commit(
                partials_write(snap),
                touched_buckets=buckets,
                overwrite_all=buckets is None,
                applied_epoch=applied_epoch,
                summary={**summary, "layout": layout_stamp(snap.n_buckets)},
            )
            return
        except CommitConflictError:
            continue
    raise CommitConflictError("rollup rebuild lost the commit race 3 times; re-run")


def rollup_domain_stats(
    spark: SparkSession,
    pages: LakeTable,
    rollup: LakeTable,
    epoch: int,
    partials: KernelPartials | None = None,
) -> None:
    """Bring the rollup up to date with pages epoch ``epoch``.

    With ``partials`` (every normal epoch), publish the files the merge
    kernel wrote: a metadata-only commit under the version claimed for
    them that replaces exactly the rollup buckets of the pages buckets
    the epoch touched (identity bucketing: rollup BUCKET_COL ==
    src_bucket) and carries every other partial file forward — the
    same bucket-granular copy-on-write the merge uses for pages. A
    touched bucket left with no live page has no file, so its old entry
    drops out. No head is read here: the commit reads the fresh one,
    and its applied-epoch check makes a replay a no-op.

    Without them (the crash-window repair of an epoch whose pages commit
    landed and whose rollup commit did not), :func:`rebuild_partials`
    recomputes the buckets the pages head's summary names as this
    epoch's, or every bucket when the head is another commit or the
    rollup table lacks the current layout stamp."""
    if partials is not None:
        rollup.commit(
            BucketFileWrite(lambda _v: partials.rows, version=partials.version),
            touched_buckets=partials.touched,
            applied_epoch=epoch,
            summary={"operation": "rollup", "epoch": epoch, "layout": partials.layout},
        )
        return
    head = rollup.snapshot()
    if epoch in head.applied_epochs:
        return
    psnap = pages.snapshot()
    # the head summary's touched list is this epoch's only when the
    # head IS this epoch's merge; any other head routes to the
    # always-correct full refresh
    touched = (
        psnap.summary.get("touched_list")
        if psnap.summary.get("epoch") == epoch
        else None
    )
    # Layout guard: a bucket-granular replace is only sound when the
    # manifest's keys ARE src_buckets under the current pages bucket
    # count. A non-empty rollup without that stamp (an older layout, a
    # rebucket crash window) gets ONE full refresh, which re-stamps it.
    if any(head.files.values()) and head.summary.get("layout") != layout_stamp(
        psnap.n_buckets
    ):
        touched = None
    rebuild_partials(
        spark,
        pages,
        rollup,
        touched,
        {"operation": "rollup", "epoch": epoch},
        applied_epoch=epoch,
    )


def read_rollup(spark: SparkSession, rollup: LakeTable) -> DataFrame:
    """Final aggregation over partials (the read-side of the two-level
    split; same shape as the reference's 5 km re-aggregation)."""
    return (
        rollup.read(spark)
        .groupBy("domain", "day_id")
        .agg(
            F.sum("n_pages").alias("n_pages"),
            F.sum("text_chars").alias("text_chars"),
            F.max("max_warc_ts").alias("max_warc_ts"),
        )
    )
