"""Every commit writes its bucket files through ``write_bucket_file``:
the merge kernel keeps stored timestamps fixed under any session time
zone and reads buckets in the legacy INT96 layout; the stats a merge,
an ``expire_tombstones`` and a ``compact_files`` commit record equal a
Spark aggregate over the same files; no engine path runs Spark's
parquet writer; and the kernel's write window fails loudly or
converges."""

from __future__ import annotations

import datetime as dt
import os
import urllib.parse

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_spark.lake.table import (
    CommitConflictError,
    LakeTable,
    bucket_expr,
)
from etl_spark.pipeline import Warehouse, ingest_epoch

EVENTS = (
    "seq long, epoch long, op string, url string, warc_ts string, "
    "html binary, lang string"
)


@pytest.fixture()
def session_tz(spark):
    """Set the session time zone for one test, then restore UTC."""

    def set_tz(tz):
        spark.conf.set("spark.sql.session.timeZone", tz)

    yield set_tz
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _events(spark, rows):
    return spark.createDataFrame(rows, EVENTS).withColumn(
        "warc_ts", F.to_timestamp("warc_ts")
    )


def _rows(spark, wh):
    return sorted(
        (r.url, r.warc_ts, r.text) for r in wh.pages.read(spark).collect()
    )


def _buckets_of(spark, urls, n_buckets):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return {
        r.url: r.b
        for r in df.select("url", bucket_expr(["url"], n_buckets).alias("b"))
        .collect()
    }


def _ingest(spark, wh, rows, epoch):
    return ingest_epoch(
        spark, wh, _events(spark, rows), epoch,
        with_rollup=False, with_lineage=False,
    )


def _to_int96(root, rel):
    """Rewrite one stored data file in the layout Spark's parquet writer
    gives it (the layout of tables written before every commit went
    through ``write_bucket_file``): INT96 timestamps and no Arrow
    schema, so pyarrow reads them back as naive ``timestamp[ns]``."""
    path = os.path.join(root, rel)
    pq.write_table(
        pq.read_table(path), path,
        use_deprecated_int96_timestamps=True, store_schema=False,
    )
    assert pq.read_schema(path).field("warc_ts").type == pa.timestamp("ns")


def _written(snap, parent):
    """bucket -> files of the buckets ``snap`` wrote over ``parent``."""
    return {
        b: ps for b, ps in snap.files.items() if ps != parent.files.get(b)
    }


def _spark_stats(spark, root, written, schema):
    """The reference for a commit's manifest stats: one Spark aggregate
    over the written files, grouped by file. Returns (bucket ->
    [tombstone count, earliest tombstone time], file -> [min, max]
    event time), times as the manifest renders them (ISO UTC)."""
    epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)

    def iso(us):
        return None if us is None else (epoch + dt.timedelta(microseconds=us)).isoformat()

    paths = [p for ps in written.values() for p in ps]
    dead = F.coalesce(F.col("_deleted"), F.lit(False))
    rows = (
        spark.read.schema(T.StructType([schema["warc_ts"], schema["_deleted"]]))
        .parquet(*[os.path.join(root, p) for p in paths])
        .groupBy(F.input_file_name().alias("f"))
        .agg(
            F.unix_micros(F.min("warc_ts")).alias("mn"),
            F.unix_micros(F.max("warc_ts")).alias("mx"),
            F.sum(dead.cast("long")).alias("n_dead"),
            F.unix_micros(F.min(F.when(dead, F.col("warc_ts")))).alias("dead_mn"),
        )
        .collect()
    )
    by_rel = {
        os.path.relpath(
            urllib.parse.unquote(urllib.parse.urlparse(r.f).path), root
        ): r
        for r in rows
    }
    assert set(by_rel) == set(paths)
    files = {p: [iso(r.mn), iso(r.mx)] for p, r in by_rel.items()}
    tomb = {}
    for b, ps in written.items():
        mins = [by_rel[p].dead_mn for p in ps if by_rel[p].dead_mn is not None]
        tomb[b] = [
            sum(int(by_rel[p].n_dead) for p in ps), iso(min(mins, default=None))
        ]
    return tomb, files


def test_bucket_rewrite_keeps_stored_times_under_non_utc_session(
    spark, tmp_path, session_tz
):
    """Under America/New_York, rewriting a bucket must not move the rows
    it carries through. Spark hands the kernel naive New York wall
    times while stored files hold UTC instants; mixing the two used to
    shift every untouched row by the UTC offset on every rewrite."""
    session_tz("America/New_York")
    wh = Warehouse.init(str(tmp_path / "wh"), n_buckets=2)
    urls = [f"https://a.example/{i}" for i in range(4)]
    _ingest(
        spark, wh,
        [(i, 0, "I", u, "2024-01-01 07:00:00", b"<p>x</p>", None)
         for i, u in enumerate(urls)],
        0,
    )
    before = {r.url: r.warc_ts for r in wh.pages.read(spark).collect()}
    bucket = _buckets_of(spark, urls, 2)
    by_bucket = {}
    for u in urls:
        by_bucket.setdefault(bucket[u], []).append(u)
    shared = next(us for us in by_bucket.values() if len(us) >= 2)
    touched_url = shared[1]
    for e in (1, 2):
        _ingest(
            spark, wh,
            [(10 + e, e, "U", touched_url, f"2024-01-0{e + 1} 07:00:00",
              b"<p>y</p>", None)],
            e,
        )
    after = {r.url: r.warc_ts for r in wh.pages.read(spark).collect()}
    want_touched = spark.sql(
        "SELECT to_timestamp('2024-01-03 07:00:00') AS t"
    ).collect()[0].t
    assert after[touched_url] == want_touched
    for u in urls:
        if u != touched_url:
            assert after[u] == before[u], (u, before[u], after[u])


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
def test_merge_into_spark_written_buckets(spark, tmp_path, session_tz, tz):
    """Buckets whose files are in the legacy layout of Spark's parquet
    writer (INT96 timestamps, read as naive ``timestamp[ns]``) and a
    bucket holding a legacy and a ``write_bucket_file`` file side by
    side all merge: each current-side file is cast to one layout before
    the concat. Tombstone GC and compaction run first, so the legacy
    files hold what those rewrites wrote."""
    session_tz(tz)
    wh = Warehouse.init(str(tmp_path / "wh"), n_buckets=2)
    urls = [f"https://b.example/{i}" for i in range(6)]
    _ingest(
        spark, wh,
        [(i, 0, "I", u, f"2024-01-01 0{i}:00:00", b"<p>x</p>", None)
         for i, u in enumerate(urls)],
        0,
    )
    # delete one url, then GC its marker (a one-bucket rewrite), then
    # compact every bucket, then put every stored file in the legacy
    # layout
    _ingest(spark, wh, [(20, 1, "D", urls[0], "2024-01-02 00:00:00",
                         None, None)], 1)
    wh.pages.expire_tombstones(spark, "2030-01-01 00:00:00", "warc_ts")
    wh.pages.compact_files(spark, max_files=0)
    for ps in wh.pages.snapshot().files.values():
        for p in ps:
            _to_int96(wh.pages.root, p)
    bucket = _buckets_of(spark, urls, 2)
    updated = [next(u for u in urls[1:] if bucket[u] == b) for b in (0, 1)]

    def update(e, day):
        _ingest(
            spark, wh,
            [(100 * e + i, e, "U", u, f"2024-01-{day} 00:00:00",
              b"<p>z</p>", None) for i, u in enumerate(updated)],
            e,
        )

    update(2, "03")  # both buckets: legacy files only
    # an append adds a file next to a kernel-written one, in the legacy
    # layout
    extra = spark.createDataFrame(
        [("https://b.example/extra", 99)], "url string, seq long"
    ).select(
        "url",
        F.to_timestamp(F.lit("2024-01-01 09:00:00")).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.lit("appended").alias("text"),
        "seq",
        F.lit(False).alias("_deleted"),
    )
    parent = wh.pages.snapshot()
    appended = _written(wh.pages.append(extra), parent)
    assert [len(ps) for ps in appended.values()] == [2]
    _to_int96(wh.pages.root, next(iter(appended.values()))[-1])
    before = {r[0]: r[1:] for r in _rows(spark, wh)}
    update(3, "04")  # one bucket holds both kinds of file
    after = {r[0]: r[1:] for r in _rows(spark, wh)}
    want_ts = spark.sql(
        "SELECT to_timestamp('2024-01-04 00:00:00') AS t"
    ).collect()[0].t
    assert set(after) == set(before) and len(after) == 6
    assert urls[0] not in after
    assert after["https://b.example/extra"][1] == "appended"
    for u, (ts, text) in after.items():
        if u in updated:
            assert (ts, text) == (want_ts, "z")
        else:
            assert (ts, text) == before[u], u


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
def test_kernel_stats_equal_spark_rescan(spark, tmp_path, session_tz, tz):
    """The file_stats and tombstone_stats that a merge commit, an
    expire_tombstones commit and a compact_files commit record from
    ``write_bucket_file``'s rows equal a Spark aggregate over the same
    files, for buckets holding tombstones and one without; each
    summary reports the files and bytes written."""
    session_tz(tz)
    wh = Warehouse.init(str(tmp_path / "wh"), n_buckets=2)
    urls = [f"https://c.example/{i}" for i in range(8)]
    bucket = _buckets_of(spark, urls, 2)
    in_0 = [u for u in urls if bucket[u] == 0]
    assert len(in_0) >= 3 and len(in_0) < len(urls)
    _ingest(
        spark, wh,
        [(i, 0, "I", u, f"2024-03-0{i % 3 + 1} 0{i}:15:00.25", b"<p>x</p>",
          None) for i, u in enumerate(urls)],
        0,
    )
    live = next(u for u in urls if bucket[u] == 1)

    def check(snap, parent):
        written = _written(snap, parent)
        want_tomb, want_files = _spark_stats(
            spark, wh.pages.root, written, snap.schema
        )
        got_files = {
            p: snap.file_stats["files"][p] for ps in written.values() for p in ps
        }
        assert got_files == want_files
        got_tomb = {b: snap.tombstone_stats["buckets"][b] for b in written}
        assert got_tomb == want_tomb
        paths = [p for ps in written.values() for p in ps]
        assert snap.summary["files_added"] == len(paths)
        assert snap.summary["bytes_written"] == sum(
            os.path.getsize(os.path.join(wh.pages.root, p)) for p in paths
        )
        return got_tomb

    # merge: two markers in bucket 0, an update in bucket 1
    parent = wh.pages.snapshot()
    _ingest(
        spark, wh,
        [(50, 1, "D", in_0[0], "2024-03-05 01:02:03.5", None, None),
         (51, 1, "D", in_0[1], "2024-03-09 04:05:06", None, None),
         (52, 1, "U", live, "2024-03-06 00:00:00", b"<p>y</p>", None)],
        1,
    )
    got = check(wh.pages.snapshot(), parent)
    assert set(got) == {"0", "1"}
    assert got["0"][0] == 2 and got["1"] == [0, None]

    # tombstone GC rewrites bucket 0 and keeps the later marker
    parent = wh.pages.snapshot()
    snap = wh.pages.expire_tombstones(spark, "2024-03-07 00:00:00", "warc_ts")
    assert snap.summary["operation"] == "expire_tombstones"
    got = check(snap, parent)
    assert set(got) == {"0"} and got["0"][0] == 1

    # compaction rewrites every bucket
    parent = wh.pages.snapshot()
    snap = wh.pages.compact_files(spark, max_files=0)
    assert snap.summary["operation"] == "compact_files"
    got = check(snap, parent)
    assert set(got) == {"0", "1"}
    assert got["0"][0] == 1 and got["1"] == [0, None]


def test_no_engine_path_runs_the_spark_parquet_writer(
    spark, tmp_path, monkeypatch
):
    """Spark's parquet writer is never called: a merge epoch, an epoch
    whose rollup falls back to Spark (a touched bucket's file lacks
    ``_domain``), rebucket_warehouse, compact_warehouse,
    expire_warehouse_tombstones and a DataFrame append all write through
    ``write_bucket_file``, and each leaves the expected table state."""
    from pyspark.sql.readwriter import DataFrameWriter

    from etl_spark import pipeline
    from etl_spark.operators import rollup
    from etl_spark.operators.rollup import DOMAIN_COL, read_rollup

    def forbidden(*_a, **_k):
        raise AssertionError("the Spark parquet writer must not run")

    monkeypatch.setattr(DataFrameWriter, "parquet", forbidden)
    monkeypatch.setattr(DataFrameWriter, "save", forbidden)
    spark_partials = []
    orig_partials = rollup.compute_partials

    def counted_partials(df):
        spark_partials.append(1)
        return orig_partials(df)

    monkeypatch.setattr(rollup, "compute_partials", counted_partials)

    wh = Warehouse.init(str(tmp_path / "wh"), n_buckets=2)
    urls = [f"https://{d}.example/{i}" for i, d in enumerate("aabbc")]

    def epoch(e, op, targets):
        ingest_epoch(
            spark, wh,
            _events(spark, [(10 * e + i, e, op, u, f"2024-01-0{e + 1} 00:00:00",
                             None if op == "D" else f"<p>e{e}</p>".encode(), None)
                            for i, u in enumerate(targets)]),
            e,
        )

    def rollup_rows():
        return sorted(
            (r.domain, r.n_pages) for r in read_rollup(spark, wh.rollup).collect()
        )

    epoch(0, "I", urls)  # merge epoch, kernel partials
    assert spark_partials == []
    assert rollup_rows() == [("a.example", 2), ("b.example", 2), ("c.example", 1)]

    # strip the hidden column from one stored file: the next epoch's
    # rollup recomputes the touched buckets' partials with Spark
    path = os.path.join(wh.pages.root, wh.pages.snapshot().files["0"][0])
    pq.write_table(pq.read_table(path).drop_columns([DOMAIN_COL]), path)
    epoch(1, "U", urls)
    assert spark_partials == [1]
    assert rollup_rows() == [("a.example", 2), ("b.example", 2), ("c.example", 1)]

    pipeline.rebucket_warehouse(spark, wh, 4)
    assert wh.pages.snapshot().n_buckets == 4
    assert sorted(r.url for r in wh.pages.read(spark).collect()) == sorted(urls)
    assert rollup_rows() == [("a.example", 2), ("b.example", 2), ("c.example", 1)]

    n_lineage = wh.lineage.read(spark).count()
    pipeline.compact_warehouse(spark, wh, max_files=0)
    assert any(
        wh.lineage.snapshot(v).summary.get("operation") == "compact_files"
        for v in wh.lineage.versions()
    )
    assert wh.lineage.read(spark).count() == n_lineage + 1

    epoch(2, "D", urls[:1])
    assert wh.pages.read(spark, include_deleted=True).count() == len(urls)
    pipeline.expire_warehouse_tombstones(spark, wh, "2030-01-01 00:00:00")
    assert sorted(
        r.url for r in wh.pages.read(spark, include_deleted=True).collect()
    ) == sorted(urls[1:])

    extra = spark.createDataFrame(
        [("https://d.example/x", 99)], "url string, seq long"
    ).select(
        "url",
        F.to_timestamp(F.lit("2024-01-05 00:00:00")).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.lit("appended").alias("text"),
        "seq",
        F.lit(False).alias("_deleted"),
    )
    wh.pages.append(extra)
    got = {r.url: r.text for r in wh.pages.read(spark).collect()}
    assert sorted(got) == sorted(urls[1:] + ["https://d.example/x"])
    assert got["https://d.example/x"] == "appended"


def _failing_publish_once(monkeypatch, root, before_publish):
    """Patch LakeTable._publish so the first publish of data files on
    ``root`` (not a metadata-only commit such as the schema evolution
    an epoch may start with) runs ``before_publish(orig, self, snap,
    added)`` in its place."""
    orig = LakeTable._publish
    state = {"armed": True}

    def patched(self, snap, added):
        if state["armed"] and self.root == root and added:
            state["armed"] = False
            return before_publish(orig, self, snap, added)
        return orig(self, snap, added)

    monkeypatch.setattr(LakeTable, "_publish", patched)


def test_failure_after_kernel_write_keeps_head_and_replay_converges(
    spark, tmp_path, monkeypatch
):
    """Kill point "after the data write": the kernel job has written
    every bucket file, then the process dies before publish. HEAD is
    unchanged, and replaying the epochs converges to the state of an
    uninterrupted run (pages and rollup)."""
    from etl_spark.pipeline import ingest_range

    def events(e):
        return _events(
            spark,
            [(100 * e + i, e, "I" if e == 0 else "U", f"https://k{i % 3}.example/{i}",
              f"2024-02-0{e + 1} 0{i % 9}:00:00", f"<p>e{e} {i}</p>".encode(), None)
             for i in range(12)],
        )

    ref = Warehouse.init(str(tmp_path / "ref"), n_buckets=4)
    ingest_range(spark, ref, events, range(2))

    wh = Warehouse.init(str(tmp_path / "wh"), n_buckets=4)
    ingest_epoch(spark, wh, events, 0)
    head = wh.pages.head_version()

    def die(orig, self, snap, added):
        assert all(
            os.path.exists(os.path.join(self.root, p))
            for ps in added.values() for p in ps
        )
        raise RuntimeError("killed after the data write")

    _failing_publish_once(monkeypatch, wh.pages.root, die)
    with pytest.raises(RuntimeError, match="after the data write"):
        ingest_epoch(spark, wh, events, 1)
    assert wh.pages.head_version() == head
    assert 1 not in wh.pages.applied_epochs()

    ingest_range(spark, wh, events, range(2))
    assert _rows(spark, wh) == _rows(spark, ref)
    assert sorted(map(repr, wh.rollup.read(spark).collect())) == sorted(
        map(repr, ref.rollup.read(spark).collect())
    )


def test_orphan_sweep_in_kernel_write_window_fails_the_commit(
    spark, tmp_path, monkeypatch
):
    """Between the kernel job and publish, a concurrent commit moves
    HEAD past the claim and an orphan sweep deletes the kernel's files:
    the rebased publish raises instead of naming missing files, and a
    re-run lands."""
    wh = Warehouse.init(str(tmp_path / "wh"), n_buckets=2)
    rows = [(1, 0, "I", "https://e.example/1", "2024-01-01 00:00:00",
             b"<p>x</p>", None)]

    def sweep(orig, self, snap, added):
        self.commit(None, summary={"operation": "concurrent"})
        self.expire_snapshots(keep_last=10, orphan_grace_s=0)
        return orig(self, snap, added)

    _failing_publish_once(monkeypatch, wh.pages.root, sweep)
    with pytest.raises(CommitConflictError, match="orphan sweep"):
        _ingest(spark, wh, rows, 0)
    for v in wh.pages.versions():
        for paths in wh.pages.snapshot(v).files.values():
            for p in paths:
                assert os.path.exists(os.path.join(wh.pages.root, p)), (v, p)

    _ingest(spark, wh, rows, 0)
    assert [r.text for r in wh.pages.read(spark).collect()] == ["x"]


def test_kernel_rerun_for_a_bucket_leaves_one_file(tmp_path):
    """A retried task rewrites its bucket under the same deterministic
    name: two runs of the kernel for one (version, bucket) leave exactly
    one data file and no temporary files."""
    import pandas as pd
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from etl_spark.operators.merge_spj import make_bucket_merger

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), True),
            T.StructField("warc_ts", T.TimestampType(), True),
            T.StructField("note", T.StringType(), True),
        ]
    )
    kernel = make_bucket_merger(
        str(tmp_path), 7, {}, schema, ["url"], ["warc_ts"],
        extracted=True, session_tz="UTC",
    )
    for note in ("first", "second"):
        delta = pd.DataFrame(
            {
                "url": ["https://f.example/a", "https://f.example/b"],
                "warc_ts": [pd.Timestamp("2024-01-02"), pd.Timestamp("2024-01-01")],
                "note": [note, note],
                "_bucket": [3, 3],
            }
        )
        row = next(kernel(iter([delta]))).iloc[0]
    bucket_dir = tmp_path / "data" / "v000007" / "_pb=3"
    assert sorted(os.listdir(bucket_dir)) == ["part-00003.parquet"]
    assert row["path"] == "data/v000007/_pb=3/part-00003.parquet"
    got = pq.read_table(bucket_dir / "part-00003.parquet").to_pandas()
    assert list(got["note"]) == ["second", "second"]
    # clustered on event time
    assert list(got["url"]) == ["https://f.example/b", "https://f.example/a"]
    assert (row["ts_min"], row["ts_max"]) == (
        "2024-01-01T00:00:00+00:00", "2024-01-02T00:00:00+00:00"
    )
