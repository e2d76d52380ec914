"""Regression pins for review findings on the maintenance/merge paths:

1. a null delta-side seq in an equal-timestamp arbitration must never
   make the delta lose or drop the key (silent data loss on the public,
   clean-bypassing merge API);
2. compact_files on the identity-bucketed rollup table must preserve
   the manifest layout its bucket-granular epoch commits depend on;
3. a rollup table written in a pre-identity (hash-bucketed) layout
   must trigger one full refresh, not a partial replace that drops
   unrelated partials.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_spark.lake.table import BUCKET_COL, bucket_expr
from etl_spark.operators.merge_spj import merge_epoch_spj
from etl_spark.operators.rollup import layout_stamp, read_rollup
from etl_spark.pipeline import Warehouse, ingest_epoch
from etl_spark.sources.changelog import epoch_provider
from tests.conftest import spark_partials

SF_DIR = "/root/testdata/sf0.001"
SCHEMA = (
    "seq long, epoch long, op string, url string, warc_ts string, "
    "html binary, lang string"
)


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA).withColumn(
        "warc_ts", F.to_timestamp("warc_ts")
    )


def test_null_seq_equal_ts_never_drops_the_key(spark, tmp_path, merge_path):
    """Direct merge API (clean() is bypassed): equal warc_ts, delta seq
    NULL vs stored seq 5 -> the null side compares as -inf, the stored
    row survives, and the key never vanishes."""
    wh = Warehouse.init(str(tmp_path / f"wh_{merge_path}"), n_buckets=2)
    url = "https://n.example/tie"
    ts = "2024-01-01 00:00:00"
    e0 = _df(spark, [(5, 0, "I", url, ts, b"<p>stored</p>", None)])
    ingest_epoch(spark, wh, e0, 0, with_rollup=False)

    null_seq = _df(spark, [(None, 1, "U", url, ts, b"<p>null-seq</p>", None)])
    merge_epoch_spj(spark, wh.pages, null_seq, 1)

    rows = wh.pages.read(spark).collect()
    assert len(rows) == 1, "key vanished: NULL arbitration dropped both rows"
    assert rows[0].text == "stored" and rows[0].seq == 5


def _rollup_state(spark, wh):
    return sorted(
        (r.domain, r.day_id, r.n_pages, r.text_chars)
        for r in read_rollup(spark, wh.rollup).collect()
    )


def _expected_rollup(spark, wh):
    exp = (
        spark_partials(wh.pages.read(spark, with_bucket=True))
        .groupBy("domain", "day_id")
        .agg(
            F.sum("n_pages").alias("n_pages"),
            F.sum("text_chars").alias("text_chars"),
        )
    )
    return sorted(
        (r.domain, r.day_id, r.n_pages, r.text_chars) for r in exp.collect()
    )


def test_rollup_compact_preserves_identity_layout(spark, tmp_path):
    """compact_files(default) keeps manifest keys == src_bucket, so the
    next epoch's bucket-granular rollup replace stays correct."""
    wh = Warehouse.init(str(tmp_path / "wh"), n_buckets=8)
    prov = epoch_provider(spark, SF_DIR, evolve_epoch=2)
    ingest_epoch(spark, wh, prov, 0)
    ingest_epoch(spark, wh, prov, 1)
    wh.rollup.compact_files(spark, max_files=1)  # force a rewrite
    ingest_epoch(spark, wh, prov, 2)
    assert _rollup_state(spark, wh) == _expected_rollup(spark, wh)


def test_rollup_legacy_hash_layout_triggers_full_refresh(spark, tmp_path):
    """A rollup table whose manifest predates identity bucketing (keys
    are hash buckets, no layout stamp) must be fully refreshed on first
    contact instead of partially replaced."""
    wh = Warehouse.init(str(tmp_path / "wh"), n_buckets=8)
    prov = epoch_provider(spark, SF_DIR, evolve_epoch=2)
    ingest_epoch(spark, wh, prov, 0)

    # forge the legacy layout: rewrite partials hash-bucketed, no stamp
    snap = wh.rollup.snapshot()
    legacy = wh.rollup.read(spark).withColumn(
        BUCKET_COL, bucket_expr(snap.key_cols, snap.n_buckets)
    )
    wh.rollup.commit(legacy, overwrite_all=True, summary={"operation": "forge"})
    assert wh.rollup.snapshot().summary.get("layout") is None

    ingest_epoch(spark, wh, prov, 1)  # must NOT partial-replace the forgery
    assert _rollup_state(spark, wh) == _expected_rollup(spark, wh)
    # and the table is now stamped + identity-layout for future epochs
    assert wh.rollup.snapshot().summary.get("layout") == layout_stamp(8)
    ingest_epoch(spark, wh, prov, 2)
    assert _rollup_state(spark, wh) == _expected_rollup(spark, wh)


def test_rebucket_preserves_state_and_tombstones(spark, tmp_path):
    """Partition evolution mid-stream: grow 4 -> 16 buckets between
    epochs. Final visible state must equal a never-rebucketed run,
    tombstones must survive the rewrite (late events still lose), and
    the rollup must stay consistent after its rebuild."""
    from etl_spark.pipeline import rebucket_warehouse

    prov = epoch_provider(spark, SF_DIR, evolve_epoch=2)

    ref = Warehouse.init(str(tmp_path / "ref"), n_buckets=4)
    for e in range(3):
        ingest_epoch(spark, ref, prov, e)

    grown = Warehouse.init(str(tmp_path / "grown"), n_buckets=4)
    ingest_epoch(spark, grown, prov, 0)
    ingest_epoch(spark, grown, prov, 1)
    rebucket_warehouse(spark, grown, 16)
    assert grown.pages.snapshot().n_buckets == 16
    ingest_epoch(spark, grown, prov, 2)

    def state(wh):
        return sorted(
            (r.url, r.warc_ts, r.text, r.lang)
            for r in wh.pages.read(spark).collect()
        )

    assert state(grown) == state(ref)
    # tombstones rode along: hidden rows exist iff the log had deletes
    hidden_ref = ref.pages.read(spark, include_deleted=True).count()
    hidden_grown = grown.pages.read(spark, include_deleted=True).count()
    assert hidden_grown == hidden_ref
    assert _rollup_state(spark, grown) == _expected_rollup(spark, grown)


def test_crash_before_rollup_is_repaired_on_replay(spark, tmp_path):
    """Crash window between the pages merge commit and the rollup
    commit: on replay the pages guard skips the merge, but the epoch's
    rollup must still be finished — otherwise the partials stay stale
    forever and 'replay converges' only holds for one of two tables."""
    wh = Warehouse.init(str(tmp_path / "wh"), n_buckets=8)
    prov = epoch_provider(spark, SF_DIR, evolve_epoch=2)
    ingest_epoch(spark, wh, prov, 0)
    # simulate the crash: pages commit lands, rollup commit never runs
    ingest_epoch(spark, wh, prov, 1, with_rollup=False)
    assert 1 in wh.pages.applied_epochs()
    assert 1 not in wh.rollup.applied_epochs()
    # replaying the epoch repairs the rollup without re-merging pages
    pages_v = wh.pages.snapshot().version
    stats = ingest_epoch(spark, wh, prov, 1)
    assert stats.skipped
    assert wh.pages.snapshot().version == pages_v  # no pages re-commit
    assert 1 in wh.rollup.applied_epochs()
    assert _rollup_state(spark, wh) == _expected_rollup(spark, wh)
    # and a second replay is a pure no-op on both tables
    rollup_v = wh.rollup.snapshot().version
    ingest_epoch(spark, wh, prov, 1)
    assert wh.rollup.snapshot().version == rollup_v


def test_rebucket_crash_window_full_refreshes_rollup(spark, tmp_path):
    """Crash between the pages rebucket commit and the rollup rebuild:
    the rollup head still carries the OLD bucket count's layout stamp,
    which must no longer validate, so the next epoch full-refreshes
    instead of double-counting old-layout partials."""
    wh = Warehouse.init(str(tmp_path / "wh"), n_buckets=4)
    prov = epoch_provider(spark, SF_DIR, evolve_epoch=2)
    ingest_epoch(spark, wh, prov, 0)
    ingest_epoch(spark, wh, prov, 1)
    # simulate rebucket_warehouse dying between its two commits
    wh.pages.rebucket(spark, 16)
    assert wh.rollup.snapshot().summary.get("layout") == layout_stamp(4)
    ingest_epoch(spark, wh, prov, 2)
    assert _rollup_state(spark, wh) == _expected_rollup(spark, wh)
    assert wh.rollup.snapshot().summary.get("layout") == layout_stamp(16)


def test_empty_epoch_rollup_is_metadata_only(spark, tmp_path, merge_path):
    """An epoch whose delta cleans down to zero rows must not trigger a
    full rollup rebuild: both commits are metadata-only (epoch recorded,
    every data file carried forward by reference)."""
    wh = Warehouse.init(str(tmp_path / f"wh_{merge_path}"), n_buckets=8)
    prov = epoch_provider(spark, SF_DIR, evolve_epoch=2)
    ingest_epoch(spark, wh, prov, 0)
    pages_files = wh.pages.snapshot().files
    rollup_files = wh.rollup.snapshot().files
    empty = _df(spark, [])
    ingest_epoch(spark, wh, lambda e: empty, 1)
    assert 1 in wh.pages.applied_epochs()
    assert 1 in wh.rollup.applied_epochs()
    assert wh.pages.snapshot().files == pages_files
    assert wh.rollup.snapshot().files == rollup_files


def test_merge_null_primary_order_col_never_drops_key(spark, tmp_path):
    """Generic-API hardening: for a table whose event-time column is
    nullable, a null ts on EITHER side of the arbitration must compare
    as -inf (total order), never turn delta_wins NULL and drop the key
    from the bucket rewrite."""
    from pyspark.sql import types as T

    from etl_spark.lake.table import LakeTable

    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("warc_ts", T.TimestampType(), True),
            T.StructField("seq", T.LongType(), True),
            T.StructField("v", T.StringType(), True),
        ]
    )
    t = LakeTable.create(str(tmp_path / "t"), schema, ["k"], 2)

    def delta(rows):
        return spark.createDataFrame(
            rows, "k string, warc_ts string, seq long, v string, op string"
        ).withColumn("warc_ts", F.to_timestamp("warc_ts"))

    # stored row with NULL ts; a concrete-ts delta must beat it
    merge_epoch_spj(spark, t, delta([("a", None, 1, "old", "I")]), 0)
    merge_epoch_spj(spark, t, delta([("a", "2024-01-01 00:00:00", 2, "new", "U")]), 1)
    rows = {r.k: r.v for r in t.read(spark).collect()}
    assert rows == {"a": "new"}
    # and the reverse: a NULL-ts delta loses but never erases the key
    merge_epoch_spj(spark, t, delta([("a", None, 3, "late-null", "U")]), 2)
    rows = {r.k: (r.v, r.seq) for r in t.read(spark).collect()}
    assert rows == {"a": ("new", 2)}
    # both sides NULL: equal ts, so the higher seq wins the tie
    merge_epoch_spj(spark, t, delta([("b", None, 4, "b-old", "I")]), 3)
    merge_epoch_spj(spark, t, delta([("b", None, 5, "b-new", "U")]), 4)
    rows = {r.k: r.v for r in t.read(spark).collect()}
    assert rows == {"a": "new", "b": "b-new"}
