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

Where partials are computed: the merge kernel already holds each
touched bucket's final rows in Arrow, so it aggregates them
(:func:`bucket_partials`) and writes the bucket's partial file in the
same task, under a rollup version claimed before the kernel job
(:func:`claim_kernel_partials`). The domain is not re-derived in
Python: the pages table declares a hidden ``_domain`` column,
``domain_of(url)`` evaluated in the JVM, and every pages file carries
it. The epoch's rollup commit then only publishes the returned file
rows — no Spark job. A touched bucket whose stored files predate the
column makes the kernel's partials unknown, and that epoch's rollup
recomputes the touched buckets' partials with Spark, as do the
crash-window repair and a full refresh.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_spark.functions.keys import smart_date_id
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
from etl_spark.operators.clean import domain_of

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


def compute_partials(pages_df: DataFrame) -> DataFrame:
    """Partial aggregates keyed (src_bucket, domain, day_id)."""
    return (
        pages_df.select(
            F.col(BUCKET_COL).alias("src_bucket"),
            domain_of(F.col("url")).alias("domain"),
            smart_date_id(F.col("warc_ts")).alias("day_id"),
            F.length(F.col("text")).alias("_chars"),
            F.col("warc_ts"),
        )
        .groupBy("src_bucket", "domain", "day_id")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum("_chars").alias("text_chars"),
            F.max("warc_ts").alias("max_warc_ts"),
        )
    )


@dataclass
class KernelPartials:
    """Rollup partial files the merge kernel wrote for one epoch.

    ``version`` is the rollup version claimed before the kernel job;
    ``rows`` are the ``BUCKET_FILE_SCHEMA`` rows of the files written
    under it (a touched bucket left with no live page has none), or
    None when some touched bucket's partials are unknown."""

    version: int
    rows: list[dict] | None


def claim_kernel_partials(
    pages_snap: Snapshot, rollup: LakeTable, epoch: int
) -> int | None:
    """Claim the rollup version the merge kernel writes partial files
    under, or None when the epoch's rollup cannot take them: the pages
    table declares no ``_domain``, the epoch's rollup already landed,
    or the rollup table holds data without the current layout stamp
    (it needs a full refresh first)."""
    if DOMAIN_COL not in pages_snap.derived_cols or epoch in rollup.applied_epochs():
        return None
    head = rollup.snapshot()
    if any(head.files.values()) and head.summary.get("layout") != layout_stamp(
        pages_snap.n_buckets
    ):
        return None
    return rollup._claim_version()


PARTIAL_SCHEMA = T.StructType(
    ROLLUP_SCHEMA.fields + [T.StructField(BUCKET_COL, T.IntegerType())]
)


def bucket_partials(data, bucket: int, session_tz: str):
    """:func:`compute_partials` over one pages bucket's rows (a
    ``pyarrow.Table`` carrying ``_domain``), in the rollup's file
    layout: live rows only, grouped on (domain, day_id) with null
    domains kept as a group; ``day_id`` is ``smart_date_id`` in the
    session zone; ``text_chars`` sums code-point lengths (Spark's
    ``length``), skipping null text."""
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


def rollup_domain_stats(
    spark: SparkSession,
    pages: LakeTable,
    rollup: LakeTable,
    epoch: int,
    touched_buckets: list[int] | None = None,
    partials: KernelPartials | None = None,
) -> None:
    """Refresh partials for (only) the buckets the epoch touched.

    The commit replaces exactly those rollup buckets (identity
    bucketing: rollup BUCKET_COL == src_bucket), so untouched partial
    files carry forward by manifest reference — the same bucket-granular
    copy-on-write ``merge_epoch_spj`` uses for pages. A touched src_bucket
    that ends up with zero pages simply writes no partial file and its
    old entry is dropped from the manifest.

    ``partials``: the files the merge kernel wrote for this epoch. When
    they are known they are published as they are, a metadata-only
    commit under the version claimed for them; otherwise (or with no
    ``touched_buckets``, or an unstamped table) the partials are
    recomputed from the pages table with Spark."""
    if epoch in rollup.applied_epochs():
        return
    psnap = pages.snapshot()
    if touched_buckets is None and psnap.summary.get("epoch") == epoch:
        # Head-summary fallback is only trustworthy when the pages head
        # IS this epoch's merge commit (the normal call site runs
        # rollup immediately after the merge). Any other head — a later
        # maintenance commit, a replay repair several epochs on — would
        # hand us some OTHER epoch's touched list; leaving None routes
        # to the always-correct full refresh instead.
        touched_buckets = psnap.summary.get("touched_list")
    stamp = layout_stamp(psnap.n_buckets)
    summary = {"operation": "rollup", "epoch": epoch, "layout": stamp}
    # Layout guard: bucket-granular replace is only sound against a
    # manifest whose keys ARE src_buckets under the pages table's
    # current bucket count. A rollup table written by an older
    # (hash-bucketed) engine, stamped under a different pages bucket
    # count (rebucket crash window), or any non-empty table missing the
    # stamp, gets ONE full refresh — which rewrites it into the
    # identity layout and re-stamps it — instead of a partial replace
    # that would drop unrelated partials and double-count survivors.
    head = rollup.snapshot()
    stamped = head.summary.get("layout") == stamp
    has_data = any(head.files.values())
    if touched_buckets is None or (has_data and not stamped):
        # Full refresh (still pure + idempotent). overwrite_all raises
        # on a lost publish race instead of rebasing; the refresh is a
        # pure function of the pages snapshot, so re-derive and retry
        # (same loop as LakeTable.compact_files).
        for _ in range(3):
            fresh = compute_partials(pages.read(spark, with_bucket=True))
            try:
                rollup.commit(
                    fresh.withColumn(BUCKET_COL, F.col("src_bucket")),
                    overwrite_all=True,
                    applied_epoch=epoch,
                    summary=summary,
                )
                return
            except CommitConflictError:
                continue
        raise CommitConflictError(
            "rollup full refresh lost the commit race 3 times; re-run"
        )
    if not touched_buckets:
        rollup.commit(None, applied_epoch=epoch, summary=summary)
        return
    if partials is not None and partials.rows is not None:
        rollup.commit(
            BucketFileWrite(lambda _v: partials.rows, version=partials.version),
            touched_buckets=[int(b) for b in touched_buckets],
            applied_epoch=epoch,
            summary=summary,
        )
        return
    # One explicit shuffle on the pages bucket: the partial aggregate's
    # (src_bucket, domain, day_id) clustering is already satisfied by it
    # (src_bucket IS _bucket), and so is the commit's grouping on
    # _bucket — one file per bucket, on all cores, with no second
    # shuffle (bench/explain_audit.py checks the plan).
    fresh = compute_partials(
        repartition_by_bucket(
            pages.read(spark, buckets=touched_buckets, with_bucket=True),
            touched_buckets,
        )
    )
    rollup.commit(
        fresh.withColumn(BUCKET_COL, F.col("src_bucket")),
        touched_buckets=[int(b) for b in touched_buckets],
        applied_epoch=epoch,
        summary=summary,
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
