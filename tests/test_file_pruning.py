"""Per-file event-time bounds + within-bucket clustering (SURVEY §4.2
item 4, the successor of the reference's SP-GiST/stbox window indexes,
/root/reference/etl/init/sql/31_fact_cell.sql:35): commits cluster each
bucket's rows on the event-time column, record per-file [min, max] in
the manifest, and ``read(time_range=...)`` opens strictly fewer files
than the bucket holds.
"""

from __future__ import annotations

import datetime as dt

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_spark.lake.table import LakeTable, bucket_expr

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("v", T.LongType(), True),
    ]
)


def _rows(n, day_of=lambda i: 1 + i % 5):
    return [
        (f"k{i}", dt.datetime(2024, 1, day_of(i), i % 24, 0, 0), i)
        for i in range(n)
    ]


def _mk(spark, tmp_path, rows, n_buckets=1, max_records_per_file=None):
    t = LakeTable.create(
        str(tmp_path / "t"), SCHEMA, key_cols=["k"], n_buckets=n_buckets
    )
    df = spark.createDataFrame(rows, SCHEMA).withColumn(
        "_bucket", bucket_expr(["k"], n_buckets)
    )
    t.commit(
        df, overwrite_all=True, event_time_col="ts",
        max_records_per_file=max_records_per_file,
    )
    return t


def test_commit_records_per_file_bounds(spark, tmp_path):
    t = _mk(spark, tmp_path, _rows(50), n_buckets=2)
    snap = t.snapshot()
    stats = snap.file_stats
    assert stats.get("col") == "ts"
    all_files = {p for plist in snap.files.values() for p in plist}
    assert set(stats["files"]) == all_files
    for mn, mx in stats["files"].values():
        assert mn is not None and mx is not None and mn <= mx


def test_files_are_clustered_on_event_time(spark, tmp_path):
    """sortWithinPartitions at commit: every written file's ts column is
    non-decreasing, so parquet row-group min/max stay tight."""
    import os

    t = _mk(spark, tmp_path, _rows(200, day_of=lambda i: 1 + (i * 7) % 28))
    snap = t.snapshot()
    for plist in snap.files.values():
        for p in plist:
            col = pq.read_table(
                os.path.join(t.root, p), columns=["ts"]
            ).column("ts").to_pylist()
            assert col == sorted(col), f"{p} not time-clustered"


def test_time_range_read_opens_strictly_fewer_files(spark, tmp_path):
    """The VERDICT #1 'Done' contract: a big bucket split into
    time-consecutive files (max_records_per_file) is read back through
    strictly fewer files for a narrow window than the bucket holds."""
    t = _mk(
        spark,
        tmp_path,
        _rows(400, day_of=lambda i: 1 + i // 15),  # days 1..27, sorted chunks
        n_buckets=1,
        max_records_per_file=60,
    )
    snap = t.snapshot()
    n_bucket_files = sum(len(p) for p in snap.files.values())
    assert n_bucket_files > 3, "setup: bucket must hold several files"
    lo, hi = dt.datetime(2024, 1, 5), dt.datetime(2024, 1, 7, 23, 59, 59)
    pruned = t.read(spark, time_range=(lo, hi))
    assert 0 < len(pruned.inputFiles()) < n_bucket_files
    # pruning is exact: same rows as the unpruned read under the filter
    full = t.read(spark).filter(F.col("ts").between(lo, hi))
    got = sorted((r.k, r.ts, r.v) for r in pruned.filter(
        F.col("ts").between(lo, hi)).collect())
    want = sorted((r.k, r.ts, r.v) for r in full.collect())
    assert got == want and len(want) > 0


def test_append_files_prune_by_time(spark, tmp_path):
    """Append-mode tables: each append's files carry bounds, so a
    time-ranged read skips whole appends outside the window."""
    t = LakeTable.create(
        str(tmp_path / "t"), SCHEMA, key_cols=["k"], n_buckets=2
    )
    for month in (1, 2, 3):
        df = spark.createDataFrame(
            [(f"k{month}_{i}", dt.datetime(2024, month, 1 + i), i) for i in range(5)],
            SCHEMA,
        )
        t.append(df, event_time_col="ts")
    snap = t.snapshot()
    n_files = sum(len(p) for p in snap.files.values())
    pruned = t.read(
        spark, time_range=(dt.datetime(2024, 2, 1), dt.datetime(2024, 2, 28))
    )
    assert 0 < len(pruned.inputFiles()) < n_files
    assert pruned.count() == 5  # only February's append


def test_unknown_bounds_files_are_always_read(spark, tmp_path):
    """A file with no recorded bounds (legacy commit without
    event_time_col) must never be pruned."""
    t = LakeTable.create(
        str(tmp_path / "t"), SCHEMA, key_cols=["k"], n_buckets=1
    )
    df = spark.createDataFrame(_rows(10), SCHEMA).withColumn(
        "_bucket", bucket_expr(["k"], 1)
    )
    t.commit(df, overwrite_all=True)  # no event_time_col: no bounds
    assert not (t.snapshot().file_stats or {}).get("files")
    got = t.read(
        spark, time_range=(dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2))
    )
    assert got.count() == 10  # nothing pruned; caller's filter decides


def test_all_null_event_time_file_is_pruned(spark, tmp_path):
    t = LakeTable.create(
        str(tmp_path / "t"), SCHEMA, key_cols=["k"], n_buckets=1
    )
    df = spark.createDataFrame(
        [("a", None, 1), ("b", None, 2)], SCHEMA
    ).withColumn("_bucket", bucket_expr(["k"], 1))
    t.commit(df, overwrite_all=True, event_time_col="ts")
    stats = t.snapshot().file_stats["files"]
    assert all(mn is None and mx is None for mn, mx in stats.values())
    pruned = t.read(
        spark, time_range=(dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2))
    )
    assert pruned.inputFiles() == []
    assert pruned.count() == 0


@pytest.mark.parametrize("order", [(0, 1, 2), (2, 1, 0), (1, 2, 0)])
def test_time_range_read_filters_rows_itself(spark, tmp_path, order):
    """read(time_range=) alone returns exactly the window: rows outside
    it in a kept file are filtered, and null event times never show —
    neither from a mixed file (kept by pruning) nor an all-null one
    (pruned), whatever order the files were committed in."""
    lo, hi = dt.datetime(2024, 1, 3), dt.datetime(2024, 1, 5, 23)
    batches = [
        # straddles the window, with nulls: kept by pruning
        [("a1", dt.datetime(2024, 1, 2), 1), ("a2", dt.datetime(2024, 1, 4), 2),
         ("a3", None, 3), ("a4", dt.datetime(2024, 1, 9), 4)],
        [("b1", None, 5), ("b2", None, 6)],  # all null: pruned
        [("c1", dt.datetime(2024, 1, 3), 7), ("c2", dt.datetime(2024, 1, 5, 23), 8)],
    ]
    t = LakeTable.create(
        str(tmp_path / "t"), SCHEMA, key_cols=["k"], n_buckets=1
    )
    for i in order:
        t.append(spark.createDataFrame(batches[i], SCHEMA), event_time_col="ts")
    got = sorted(r.k for r in t.read(spark, time_range=(lo, hi)).collect())
    assert got == ["a2", "c1", "c2"]
    # string bounds and an open side mean the same window semantics
    got = sorted(
        r.k for r in t.read(spark, time_range=(None, "2024-01-02")).collect()
    )
    assert got == ["a1"]
    with pytest.raises(ValueError):
        t.read(spark, time_range=("not-a-ts", None))


def test_bounds_survive_compaction_and_carry_forward(spark, tmp_path):
    t = LakeTable.create(
        str(tmp_path / "t"), SCHEMA, key_cols=["k"], n_buckets=2
    )
    for month in (1, 2, 3, 4):
        df = spark.createDataFrame(
            [(f"k{month}_{i}", dt.datetime(2024, month, 1 + i), i) for i in range(4)],
            SCHEMA,
        )
        t.append(df, event_time_col="ts")
    snap = t.compact_files(spark, max_files=2)
    assert snap.summary["operation"] == "compact_files"
    stats = snap.file_stats
    assert stats.get("col") == "ts"
    all_files = {p for plist in snap.files.values() for p in plist}
    assert set(stats["files"]) == all_files  # recomputed, complete
    # file pruning only SKIPS files — the compacted file spans all four
    # months so it survives; the caller's row filter still gives the
    # right answer on the pruned read
    lo, hi = dt.datetime(2024, 2, 1), dt.datetime(2024, 2, 28)
    pruned = t.read(spark, time_range=(lo, hi))
    assert pruned.filter(F.col("ts").between(lo, hi)).count() == 4


def test_merge_path_records_bounds_and_prunes(spark, tmp_path):
    """The pages MERGE path (merge_epoch_spj passes event_time_col)
    gets clustering + bounds for free; a windowed read of the pages
    table equals the filtered full read."""
    from etl_spark.pipeline import Warehouse, ingest_epoch

    wh = Warehouse.init(str(tmp_path / "wh"), n_buckets=4)
    rows = [
        (i, 0, "I", f"https://x.example/doc/{i}",
         f"2024-01-{1 + i % 20:02d} 00:00:00", b"<p>x</p>", None)
        for i in range(40)
    ]
    delta = spark.createDataFrame(
        rows,
        "seq long, epoch long, op string, url string, warc_ts string, "
        "html binary, lang string",
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    ingest_epoch(spark, wh, delta, 0, with_rollup=False)
    snap = wh.pages.snapshot()
    assert snap.file_stats.get("col") == "warc_ts"
    assert snap.file_stats["files"]
    lo, hi = dt.datetime(2024, 1, 5), dt.datetime(2024, 1, 10)
    windowed = wh.pages.read(spark, time_range=(lo, hi)).filter(
        F.col("warc_ts").between(lo, hi)
    )
    full = wh.pages.read(spark).filter(F.col("warc_ts").between(lo, hi))
    assert sorted(r.url for r in windowed.collect()) == sorted(
        r.url for r in full.collect()
    )


def test_prune_helper_edge_cases():
    from etl_spark.lake.table import Snapshot

    snap = Snapshot(
        version=1, parent=0, schema_json="{}", key_cols=["k"], n_buckets=1,
        files={"0": ["a", "b", "c"]}, applied_epochs=[], summary={},
        committed_at=0.0,
        file_stats={
            "col": "ts",
            "files": {
                "a": ["2024-01-01T00:00:00", "2024-01-02T00:00:00"],
                "b": ["2024-02-01T00:00:00", "2024-02-05T00:00:00"],
                # c unknown
            },
        },
    )
    paths = ["a", "b", "c"]
    pr = LakeTable._prune_paths_by_time
    assert pr(snap, paths, ("2024-01-01", "2024-01-03")) == ["a", "c"]
    assert pr(snap, paths, (None, "2024-01-15")) == ["a", "c"]
    assert pr(snap, paths, ("2024-03-01", None)) == ["c"]
    # tz-aware range: no pruning (bounds are session-naive)
    aware = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    assert pr(snap, paths, (aware, None)) == paths
    # junk range: no pruning
    assert pr(snap, paths, ("not-a-ts", None)) == paths
