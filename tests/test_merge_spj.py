"""The single-shuffle SPJ merge, epoch by epoch, must reach the state
of a one-shot JVM last-writer-wins fold over the whole fixture change
log (I/U/D, LWW dups, stale late events, schema evolution), and keep
its delete semantics when a bucket empties."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_spark.pipeline import Warehouse, ingest_range
from etl_spark.sources.changelog import epoch_provider

SF_DIR = "/root/testdata/sf0.001"


def _state(spark, wh):
    rows = wh.pages.read(spark).collect()
    return sorted(
        (r.url, r.warc_ts, bytes(r.html) if r.html else None, r.text, r.lang)
        for r in rows
    )


def test_spj_equals_one_shot_fold(spark, tmp_path):
    """Three SPJ epochs == lww_dedup over the cleaned log in one pass
    (the cdc_lww_winners fold), D winners removed, text extracted."""
    from etl_spark.functions.extract import with_extracted_text
    from etl_spark.operators.clean import clean_changes
    from etl_spark.operators.dedup import lww_dedup
    from etl_spark.sources.changelog import changes_from_documents

    wh = Warehouse.init(str(tmp_path / "wh"))
    prov = epoch_provider(spark, SF_DIR, evolve_epoch=2)
    ingest_range(spark, wh, prov, range(3), with_rollup=False)

    log = changes_from_documents(spark, SF_DIR, evolve_epoch=2)
    winners = lww_dedup(clean_changes(log), ["url"], ["warc_ts", "seq"])
    fold = with_extracted_text(winners.filter(F.col("op") != "D")).collect()
    expected = sorted(
        (r.url, r.warc_ts, bytes(r.html) if r.html else None, r.text, r.lang)
        for r in fold
    )
    assert _state(spark, wh) == expected
    assert len(expected) > 0


def test_spj_delete_empties_bucket(spark, tmp_path):
    """All keys deleted -> zero visible rows, tombstone markers retained
    for late-event arbitration, and expire_tombstones past the horizon
    drops the buckets' files from the manifest entirely."""
    from etl_spark import schema as S

    wh = Warehouse.init(str(tmp_path / "wh"), n_buckets=2)
    ts = "2024-01-01 00:00:00"
    ins = spark.createDataFrame(
        [
            (1, 0, "I", "https://a.example/1", ts, b"<p>one</p>", None),
            (2, 0, "I", "https://a.example/2", ts, b"<p>two</p>", None),
        ],
        "seq long, epoch long, op string, url string, warc_ts string, html binary, lang string",
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    dels = spark.createDataFrame(
        [
            (3, 1, "D", "https://a.example/1", "2024-01-02 00:00:00", None, None),
            (4, 1, "D", "https://a.example/2", "2024-01-02 00:00:00", None, None),
        ],
        "seq long, epoch long, op string, url string, warc_ts string, html binary, lang string",
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))

    from etl_spark.pipeline import ingest_epoch

    ingest_epoch(spark, wh, lambda e: ins, 0, with_rollup=False)
    assert wh.pages.row_count(spark) == 2
    ingest_epoch(spark, wh, lambda e: dels, 1, with_rollup=False)
    assert wh.pages.row_count(spark) == 0
    # delete markers retained (hidden) so late older events cannot resurrect
    tombs = wh.pages.read(spark, include_deleted=True).collect()
    assert len(tombs) == 2 and all(t._deleted for t in tombs)
    assert all(t.html is None and t.text is None for t in tombs)
    # GC past the late-event horizon drops the markers AND the files
    wh.pages.expire_tombstones(spark, "2030-01-01 00:00:00", "warc_ts")
    assert wh.pages.read(spark, include_deleted=True).count() == 0
    snap = wh.pages.snapshot()
    assert all(not paths for paths in snap.files.values())
    # GC is not an epoch: replay bookkeeping untouched
    assert wh.pages.applied_epochs() == {0, 1}


EVENTS = (
    "seq long, epoch long, op string, url string, warc_ts string, "
    "html binary, lang string"
)


def _events(spark, rows):
    return spark.createDataFrame(rows, EVENTS).withColumn(
        "warc_ts", F.to_timestamp("warc_ts")
    )


def test_spj_fold_matches_across_batch_sizes(spark, tmp_path):
    """The kernel folds last-writer-wins Arrow batch by batch: one key
    with 50 events (its winner, a null-seq tie and a late delete spread
    over the batches) reaches the same state in 2-record batches as in
    the default batching."""
    from etl_spark.pipeline import ingest_epoch

    hot = "https://hot.example/k"
    rows = [
        (i, 0, "U", hot, f"2024-01-01 00:{(i * 7) % 50:02d}:00",
         f"<p>v{i}</p>".encode(), None)
        for i in range(50)
    ]
    # the newest event time, 00:49, is event 7 (7 * 7 % 50); a null-seq
    # event ties it and must lose, a delete older than it must lose too
    rows += [
        (None, 0, "U", hot, "2024-01-01 00:49:00", b"<p>null seq</p>", None),
        (99, 0, "D", hot, "2024-01-01 00:48:00", None, None),
    ]
    rows += [
        (100 + i, 0, "I", f"https://c.example/{i}", "2024-01-01 01:00:00",
         f"<p>c{i}</p>".encode(), None)
        for i in range(6)
    ]
    states = {}
    for label, batch in (("default", None), ("batch2", "2")):
        wh = Warehouse.init(str(tmp_path / label), n_buckets=2)
        key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        if batch is not None:
            spark.conf.set(key, batch)
        try:
            ingest_epoch(spark, wh, _events(spark, rows), 0, with_rollup=False)
        finally:
            spark.conf.unset(key)
        states[label] = _state(spark, wh)
    assert states["batch2"] == states["default"]
    won = [r for r in states["default"] if r[0] == hot]
    assert [bytes(r[2]) for r in won] == [b"<p>v7</p>"]


@pytest.mark.parametrize("batch", [1, 3, 7, 64])
def test_kernel_fold_equals_one_sort(tmp_path, batch):
    """The kernel's fold over many batches writes the same bucket as one
    batch holding every event: a hot key with 100 events, full ties
    (the later arrival wins) and null seqs, over 30 other keys."""
    import numpy as np
    import pandas as pd
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from etl_spark.operators.merge_spj import make_bucket_merger

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), True),
            T.StructField("warc_ts", T.TimestampType(), True),
            T.StructField("seq", T.LongType(), True),
            T.StructField("note", T.StringType(), True),
        ]
    )
    rng = np.random.default_rng(batch)
    n = 220
    urls = ["https://h.example/hot"] * 100 + [
        f"https://k.example/{i % 30}" for i in range(n - 100)
    ]
    delta = pd.DataFrame(
        {
            "url": rng.permutation(np.array(urls, dtype=object)),
            "warc_ts": pd.to_datetime(rng.integers(0, 5, n), unit="h"),
            "seq": pd.array(
                [None if i % 17 == 0 else int(v) for i, v in enumerate(rng.integers(0, 4, n))],
                dtype="Int64",
            ),
            "note": [f"e{i}" for i in range(n)],
            "_bucket": 0,
        }
    )

    def written(version, batches):
        kernel = make_bucket_merger(
            str(tmp_path), version, {}, schema, ["url"], ["warc_ts", "seq"],
            extracted=True, session_tz="UTC",
        )
        row = next(kernel(iter(batches))).iloc[0]
        assert (row["n_events"], row["n_keys"]) == (n, 31)
        got = pq.read_table(tmp_path / row["path"]).to_pandas()
        return sorted(zip(got["url"], got["note"]))

    parts = [delta.iloc[i : i + batch].copy() for i in range(0, n, batch)]
    assert written(1, parts) == written(2, [delta.copy()])


def test_deletes_emptying_a_bucket_drop_its_file(spark, tmp_path):
    """On a table without the tombstone column, deletes that leave a
    bucket with no row drop the bucket's file from the snapshot, and
    the merge still names the bucket in its touched list."""
    from pyspark.sql import types as T

    from etl_spark.lake.table import LakeTable
    from etl_spark.operators.merge_spj import merge_epoch_spj

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), True),
            T.StructField("warc_ts", T.TimestampType(), True),
            T.StructField("seq", T.LongType(), True),
            T.StructField("note", T.StringType(), True),
        ]
    )
    table = LakeTable.create(str(tmp_path / "t"), schema, ["url"], 1)
    ddl = "seq long, op string, url string, warc_ts string, note string"

    def delta(rows):
        return spark.createDataFrame(rows, ddl).withColumn(
            "warc_ts", F.to_timestamp("warc_ts")
        )

    ts0, ts1 = "2024-01-01 00:00:00", "2024-01-02 00:00:00"
    merge_epoch_spj(
        spark, table,
        delta([(1, "I", "https://e.example/1", ts0, "a"),
               (2, "I", "https://e.example/2", ts0, "b")]),
        0, extracted=True,
    )
    assert list(table.snapshot().files) == ["0"]
    stats = merge_epoch_spj(
        spark, table,
        delta([(3, "D", "https://e.example/1", ts1, None),
               (4, "D", "https://e.example/2", ts1, None)]),
        1, extracted=True,
    )
    snap = table.snapshot()
    assert stats.touched_list == [0] and snap.summary["touched_list"] == [0]
    assert "0" not in snap.files and snap.summary["files_added"] == 0
    assert table.read(spark).count() == 0
    assert table.applied_epochs() == {0, 1}


def test_empty_delta_touches_nothing(spark, tmp_path):
    """An epoch whose delta is empty records an empty touched list, and
    its rollup commit writes no file."""
    from etl_spark.pipeline import ingest_epoch

    wh = Warehouse.init(str(tmp_path / "wh"), n_buckets=2)
    ingest_epoch(
        spark, wh,
        _events(spark, [(1, 0, "I", "https://z.example/1",
                         "2024-01-01 00:00:00", b"<p>z</p>", None)]),
        0,
    )
    rollup_before = wh.rollup.snapshot()
    stats = ingest_epoch(spark, wh, _events(spark, []), 1)
    assert stats.touched_list == [] and stats.n_events == 0
    assert wh.pages.snapshot().summary["touched_list"] == []
    rollup = wh.rollup.snapshot()
    assert 1 in rollup.applied_epochs
    assert rollup.files == rollup_before.files
    assert rollup.summary.get("files_added", 0) == 0
    assert wh.pages.read(spark).count() == 1


def test_merge_commits_against_the_snapshot_its_kernel_read(
    spark, tmp_path, monkeypatch
):
    """A commit that lands between the snapshot the kernel read and the
    merge's own publish, rewriting the same bucket, is a conflict: the
    merge raises instead of overwriting it, and its epoch stays
    unapplied, so a replay applies it on top."""
    from etl_spark.lake.table import CommitConflictError
    from etl_spark.operators import merge_spj

    wh = Warehouse.init(str(tmp_path / "wh"), n_buckets=1)

    def one(epoch, url):
        return _events(
            spark,
            [(epoch, epoch, "I", url, "2024-01-01 00:00:00", b"<p>x</p>", None)],
        )

    orig = merge_spj.repartition_by_bucket
    armed = [True]

    def racing(df, *args):
        if armed[0]:
            armed[0] = False
            merge_spj.merge_epoch_spj(spark, wh.pages, one(5, "https://r.example/b"), 5)
        return orig(df, *args)

    monkeypatch.setattr(merge_spj, "repartition_by_bucket", racing)
    with pytest.raises(CommitConflictError):
        merge_spj.merge_epoch_spj(spark, wh.pages, one(1, "https://r.example/a"), 1)
    assert wh.pages.applied_epochs() == {5}
    assert [r.url for r in wh.pages.read(spark).collect()] == ["https://r.example/b"]
    merge_spj.merge_epoch_spj(spark, wh.pages, one(1, "https://r.example/a"), 1)
    assert wh.pages.applied_epochs() == {1, 5}
    assert sorted(r.url for r in wh.pages.read(spark).collect()) == [
        "https://r.example/a", "https://r.example/b"
    ]


def test_equal_ts_cross_epoch_arbitrates_by_seq(spark, tmp_path, merge_path):
    """An equal-timestamp event arriving in a LATER epoch with a LOWER
    seq must lose to the stored row — the global LWW order is the
    lexicographic (warc_ts, seq) tuple, not arrival order. The stored
    seq column exists precisely for this."""
    from etl_spark.pipeline import ingest_epoch

    wh = Warehouse.init(str(tmp_path / f"wh_{merge_path}"), n_buckets=2)
    ts = "2024-01-01 00:00:00"
    schema = (
        "seq long, epoch long, op string, url string, warc_ts string, "
        "html binary, lang string"
    )
    url = "https://a.example/tie"
    e0 = spark.createDataFrame(
        [(10, 0, "I", url, ts, b"<p>winner seq10</p>", None)], schema
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    # same warc_ts, lower seq, later epoch: must NOT overwrite
    e1 = spark.createDataFrame(
        [(7, 1, "U", url, ts, b"<p>stale seq7</p>", None)], schema
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    # same warc_ts, higher seq, later epoch: MUST overwrite
    e2 = spark.createDataFrame(
        [(12, 2, "U", url, ts, b"<p>winner seq12</p>", None)], schema
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))

    ingest_epoch(spark, wh, e0, 0, with_rollup=False)
    ingest_epoch(spark, wh, e1, 1, with_rollup=False)
    row = wh.pages.read(spark).collect()[0]
    assert row.text == "winner seq10"
    assert row.seq == 10

    ingest_epoch(spark, wh, e2, 2, with_rollup=False)
    row = wh.pages.read(spark).collect()[0]
    assert row.text == "winner seq12"
    assert row.seq == 12


def test_seq_above_2_53_exact_with_null_seq_in_group(spark, tmp_path):
    """Arrow renders a long-with-nulls column as float64 in
    applyInPandas, which rounds seqs above 2^53 — 2^60 and 2^60+1
    become the same float. The pipeline never feeds the kernel nulls
    (clean_changes drops them), so this exercises the DIRECT
    merge_epoch_spj API: with a null-seq event in the SAME bucket
    group, the 2^60+1 event must beat the 2^60 event on a tied
    warc_ts, and the stored seq must round-trip bit-exactly (the
    sentinel-shadow transport, not a lossy float64 detour)."""
    from etl_spark.operators.merge_spj import merge_epoch_spj

    wh = Warehouse.init(str(tmp_path / "wh"), n_buckets=1)
    ts = "2024-01-01 00:00:00"
    schema = (
        "seq long, epoch long, op string, url string, warc_ts string, "
        "html binary, lang string"
    )
    url = "https://a.example/big"
    big = 2**60
    e0 = spark.createDataFrame(
        [
            # null-seq event for another key: without the shadow, this
            # forces the bucket's whole seq column to lossy float64
            (None, 0, "I", "https://a.example/other", ts, b"<p>x</p>", None),
            (big, 0, "I", url, ts, b"<p>low</p>", None),
            (big + 1, 0, "U", url, ts, b"<p>high</p>", None),
        ],
        schema,
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    merge_epoch_spj(spark, wh.pages, e0, 0)
    row = {r.url: r for r in wh.pages.read(spark).collect()}[url]
    assert row.text == "high"
    assert row.seq == big + 1  # exact int64, not a rounded float

    # cross-epoch: stored 2^60+1 must beat a later 2^60 on tied ts
    e1 = spark.createDataFrame(
        [
            (None, 1, "U", "https://a.example/other", ts, b"<p>y</p>", None),
            (big, 1, "U", url, ts, b"<p>stale</p>", None),
        ],
        schema,
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    merge_epoch_spj(spark, wh.pages, e1, 1)
    row = {r.url: r for r in wh.pages.read(spark).collect()}[url]
    assert row.text == "high" and row.seq == big + 1
    # the null-seq event's key survives with a null (not sentinel) seq
    other = {r.url: r for r in wh.pages.read(spark).collect()}[
        "https://a.example/other"
    ]
    assert other.seq is None


def test_as_exact_int64_object_dtype_no_float_detour():
    """An object-dtype column of Python ints + None (the shape pandas
    merges produce) must convert element-wise: to_numeric would upcast
    the whole column to float64 because of the null, collapsing 2^60
    and 2^60+1 before the Int64 cast. Pure-pandas unit test for the
    direct-kernel fallback path."""
    import pandas as pd

    from etl_spark.operators.merge_spj import _as_exact_int64

    big = 2**60
    s = pd.Series([big, big + 1, None], dtype=object)
    out = _as_exact_int64(s)
    assert str(out.dtype) == "Int64"
    assert out.iloc[0] == big and out.iloc[1] == big + 1  # distinct
    assert pd.isna(out.iloc[2])
    # already-exact inputs pass through losslessly too
    assert _as_exact_int64(out).iloc[1] == big + 1
    exact = pd.Series([big, big + 1], dtype="int64")
    assert list(_as_exact_int64(exact)) == [big, big + 1]


def test_kernel_reads_current_side_through_fs_seam(spark, tmp_path):
    """The executor-local current-side read and the bucket-file write go
    through the pyarrow FileSystem seam: a file:// URI root (stand-in
    for any object-store URI) must produce the same merge output as the
    plain POSIX root."""
    import pandas as pd
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from etl_spark.lake.table import _resolve_filesystem
    from etl_spark.operators.merge_spj import make_bucket_merger

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), True),
            T.StructField("warc_ts", T.TimestampType(), True),
            T.StructField("note", T.StringType(), True),
        ]
    )
    # current-side file on disk
    cur = pd.DataFrame(
        {
            "url": ["https://x.example/a"],
            "warc_ts": [pd.Timestamp("2024-01-01")],
            "note": ["old"],
            "_bucket": [0],
        }
    )
    (tmp_path / "data").mkdir()
    cur_path = tmp_path / "data" / "cur.parquet"
    cur.to_parquet(cur_path)

    delta = pd.DataFrame(
        {
            "url": ["https://x.example/b"],
            "warc_ts": [pd.Timestamp("2024-01-02")],
            "note": ["new"],
            "_bucket": [0],
        }
    )
    outs = {}
    for version, (label, root) in enumerate(
        (("posix", str(tmp_path)), ("uri", "file://" + str(tmp_path))), 1
    ):
        kernel = make_bucket_merger(
            root,
            version,
            {"0": ["data/cur.parquet"]},
            schema,
            ["url"],
            ["warc_ts"],
            extracted=True,
            session_tz="UTC",
        )
        row = next(kernel(iter([delta.copy()]))).iloc[0]
        out = pq.read_table(tmp_path / row["path"]).to_pandas()
        assert row["rows"] == len(out)
        outs[label] = sorted(
            zip(out["url"], out["note"], out["_bucket"])
        )
    assert outs["posix"] == outs["uri"]
    assert len(outs["uri"]) == 2  # current row carried + delta applied

    # seam resolution itself
    fs_posix, base_posix = _resolve_filesystem(str(tmp_path))
    fs_uri, base_uri = _resolve_filesystem("file://" + str(tmp_path))
    assert base_posix == str(tmp_path)
    assert base_uri == str(tmp_path)
    assert type(fs_posix).__name__ == "LocalFileSystem"
    assert type(fs_uri).__name__ == "LocalFileSystem"


@pytest.mark.parametrize("n_touched", [2, 10])
def test_repartition_by_bucket_one_wave(spark, n_touched):
    """The bucket-granular stages run as one wave: the partition count is
    min(touched buckets, slots), whatever the bytes, and every touched
    bucket's rows sit in exactly one partition."""
    from etl_spark.lake.table import repartition_by_bucket

    touched = list(range(n_touched))
    df = spark.range(0, 50 * n_touched).select(
        (F.col("id") % n_touched).cast("int").alias("_bucket"), "id"
    )
    parted = repartition_by_bucket(df, touched)
    want = min(n_touched, spark.sparkContext.defaultParallelism)
    assert parted.rdd.getNumPartitions() == want
    placed = {
        (r._bucket, r.pid)
        for r in parted.select(
            "_bucket", F.spark_partition_id().alias("pid")
        ).collect()
    }
    pids_of = {}
    for b, pid in placed:
        pids_of.setdefault(b, set()).add(pid)
    assert set(pids_of) == set(touched)
    assert all(len(p) == 1 for p in pids_of.values())


def test_epoch_touching_every_bucket_keeps_one_file_per_bucket(spark, tmp_path):
    """The layout lake reads depend on: after an epoch that rewrites every
    bucket (more buckets than slots, so tasks hold several buckets), each
    pages bucket and each rollup bucket still holds exactly one file."""
    from etl_spark.pipeline import ingest_epoch

    n_buckets = 8
    wh = Warehouse.init(str(tmp_path / "wh"), n_buckets=n_buckets)

    def events(epoch, day):
        return spark.createDataFrame(
            [
                (epoch * 1000 + i, epoch, "I", f"https://d{i % 5}.example/{i}",
                 f"2024-01-{day:02d} {i % 24:02d}:00:00", b"<p>x</p>", None)
                for i in range(120)
            ],
            "seq long, epoch long, op string, url string, warc_ts string, "
            "html binary, lang string",
        ).withColumn("warc_ts", F.to_timestamp("warc_ts"))

    ingest_epoch(spark, wh, events(0, 1), 0)
    ingest_epoch(spark, wh, events(1, 2), 1)
    pages = wh.pages.snapshot()
    assert sorted(pages.summary["touched_list"]) == list(range(n_buckets))
    for table in (wh.pages, wh.rollup):
        files = table.snapshot().files
        assert sorted(map(int, files)) == list(range(n_buckets))
        assert all(len(paths) == 1 for paths in files.values()), files
