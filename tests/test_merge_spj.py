"""The single-shuffle SPJ merge must be observationally identical to
the classic multi-shuffle merge: same final table state on the full
fixture change log (I/U/D, LWW dups, stale late events, schema
evolution), same delete semantics when a bucket empties."""

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


def test_spj_equals_classic(spark, tmp_path):
    states = {}
    for strategy in ("classic", "spj"):
        wh = Warehouse.init(str(tmp_path / f"wh_{strategy}"))
        prov = epoch_provider(spark, SF_DIR, evolve_epoch=2)
        ingest_range(
            spark, wh, prov, range(3), strategy=strategy, with_rollup=False
        )
        states[strategy] = _state(spark, wh)
    assert states["spj"] == states["classic"]
    assert len(states["spj"]) > 0


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

    ingest_epoch(spark, wh, lambda e: ins, 0, with_rollup=False, strategy="spj")
    assert wh.pages.row_count(spark) == 2
    ingest_epoch(spark, wh, lambda e: dels, 1, with_rollup=False, strategy="spj")
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


def test_spj_hot_path_matches(spark, tmp_path):
    """Force the salted pre-reduce (hot flag) and confirm identical
    winners versus the cold path."""
    prov = epoch_provider(spark, SF_DIR, evolve_epoch=2)
    wh_cold = Warehouse.init(str(tmp_path / "cold"))
    wh_hot = Warehouse.init(str(tmp_path / "hot"))
    ingest_range(spark, wh_cold, prov, range(3), with_rollup=False)
    # hot_threshold=1 makes every key "hot" -> salted pre-reduce always on
    ingest_range(
        spark, wh_hot, prov, range(3), with_rollup=False, hot_threshold=1
    )
    assert _state(spark, wh_hot) == _state(spark, wh_cold)


@pytest.mark.parametrize("strategy", ["classic", "spj"])
def test_equal_ts_cross_epoch_arbitrates_by_seq(spark, tmp_path, strategy):
    """An equal-timestamp event arriving in a LATER epoch with a LOWER
    seq must lose to the stored row — the global LWW order is the
    lexicographic (warc_ts, seq) tuple, not arrival order. The stored
    seq column exists precisely for this."""
    from etl_spark.pipeline import ingest_epoch

    wh = Warehouse.init(str(tmp_path / f"wh_{strategy}"), n_buckets=2)
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

    ingest_epoch(spark, wh, e0, 0, strategy=strategy, with_rollup=False)
    ingest_epoch(spark, wh, e1, 1, strategy=strategy, with_rollup=False)
    row = wh.pages.read(spark).collect()[0]
    assert row.text == "winner seq10"
    assert row.seq == 10

    ingest_epoch(spark, wh, e2, 2, strategy=strategy, with_rollup=False)
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
    """The executor-local current-side read goes through the pyarrow
    FileSystem seam: a file:// URI root (stand-in for any object-store
    URI) must produce the same merge output as the plain POSIX root."""
    import pandas as pd
    from pyspark.sql import types as T

    from etl_spark.operators.merge_spj import (
        _resolve_filesystem,
        make_bucket_merger,
    )

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
    for label, root in (
        ("posix", str(tmp_path)),
        ("uri", "file://" + str(tmp_path)),
    ):
        kernel = make_bucket_merger(
            root,
            {"0": ["data/cur.parquet"]},
            schema,
            ["url"],
            ["warc_ts"],
            extracted=True,
        )
        out = kernel(delta.copy())
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
