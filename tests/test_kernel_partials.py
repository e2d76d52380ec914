"""The merge kernel computes the epoch's rollup partials and the lineage
flush writes on the driver: kernel partials, a crash-repair rebuild and
a full refresh all equal a Spark SQL aggregate over the same snapshot
in any session zone, a stored pages file without the hidden ``_domain``
column fails the epoch loudly and a Spark-side rewrite restores it, an
epoch runs one Spark step, the kernel's (2 jobs), and every new commit
window converges on replay."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from etl_spark.lake.table import LakeTable, bucket_expr
from etl_spark.operators.merge_spj import merge_epoch_spj
from etl_spark.operators.rollup import (
    DOMAIN_COL,
    read_rollup,
    rollup_domain_stats,
)
from etl_spark.pipeline import Warehouse, ingest_epoch, ingest_range
from tests.conftest import spark_partials

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


def _partials(df):
    return sorted(
        map(
            repr,
            df.select(
                "src_bucket", "domain", "day_id", "n_pages", "text_chars",
                "max_warc_ts",
            ).collect(),
        )
    )


def _stored_partials(spark, wh):
    return _partials(wh.rollup.read(spark))


def _expected_partials(spark, wh):
    return _partials(spark_partials(wh.pages.read(spark, with_bucket=True)))


def _bucket_of(spark, urls, n):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return {r.url: r.b for r in df.select("url", bucket_expr(["url"], n).alias("b")).collect()}


def _touched(delta, n):
    buckets = delta.select(bucket_expr(["url"], n).alias("b")).collect()
    return sorted({r.b for r in buckets})


def _apply(spark, wh, delta, epoch):
    """One epoch's merge + rollup the way ingest_epoch runs them, without
    clean (so a null-html insert reaches the table as null text)."""
    stats = merge_epoch_spj(spark, wh.pages, delta, epoch, rollup=wh.rollup)
    assert stats.touched_list == _touched(delta, 4)
    assert stats.partials.touched == stats.touched_list
    rollup_domain_stats(spark, wh.pages, wh.rollup, epoch, partials=stats.partials)
    return stats


def _repair(spark, wh, delta, epoch):
    """The epoch's merge lands and its rollup commit does not; the
    replay's repair rebuilds exactly the buckets the merge touched."""
    stats = merge_epoch_spj(spark, wh.pages, delta, epoch)
    assert stats.partials is None
    before = wh.rollup.snapshot()
    rollup_domain_stats(spark, wh.pages, wh.rollup, epoch)
    after = wh.rollup.snapshot()
    touched = {str(b) for b in _touched(delta, 4)}
    assert after.applied_epochs == before.applied_epochs + [epoch]
    for b in set(before.files) | set(after.files):
        if b in touched:
            new = f"data/v{after.version:06d}/"
            assert all(p.startswith(new) for p in after.files.get(b, []))
        else:
            assert after.files.get(b) == before.files.get(b)


def _refresh(spark, wh, delta, epoch):
    """The epoch's merge lands, then a compaction, so the pages head no
    longer names the epoch's touched buckets: the rollup rebuilds every
    bucket."""
    merge_epoch_spj(spark, wh.pages, delta, epoch)
    wh.pages.compact_files(spark, max_files=0)
    rollup_domain_stats(spark, wh.pages, wh.rollup, epoch)
    head = wh.rollup.snapshot()
    assert epoch in head.applied_epochs
    assert all(
        p.startswith(f"data/v{head.version:06d}/")
        for paths in head.files.values()
        for p in paths
    )


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
def test_every_partials_route_equals_spark_sql(spark, tmp_path, session_tz, tz):
    """Kernel partials, a crash-repair rebuild of the touched buckets and
    a full refresh each equal a Spark SQL aggregate over the same
    snapshot: tombstones excluded, a bucket emptied of live rows, null
    text, a null domain (a non-ASCII host), and day ids that differ
    between UTC and New York (02:00 UTC is the previous day there)."""
    session_tz(tz)
    urls = [f"https://p{i % 3}.example/{i}" for i in range(16)]
    bucket = _bucket_of(spark, urls, 4)
    emptied = [u for u in urls if bucket[u] == bucket[urls[0]]]
    rows = [
        (i, 0, "I", u, f"2024-03-0{1 + i % 3} 0{i % 4}:30:00", f"<p>é{i}</p>".encode(), None)
        for i, u in enumerate(urls)
    ]
    rows += [
        (100, 0, "I", "https://ü.example/x", "2024-03-02 02:00:00", b"<p>nul</p>", None),
        (101, 0, "I", "https://n.example/none", "2024-03-02 01:00:00", None, None),
    ]
    # epoch 1 deletes every url of one bucket (tombstones only remain)
    # and tombstones one more elsewhere
    other = next(u for u in urls if bucket[u] != bucket[urls[0]])
    deletes = [
        (200 + i, 1, "D", u, "2024-03-05 00:00:00", None, None)
        for i, u in enumerate(emptied + [other])
    ]
    for route in (_apply, _repair, _refresh):
        wh = Warehouse.init(str(tmp_path / route.__name__), n_buckets=4)
        route(spark, wh, _events(spark, rows), 0)
        assert _stored_partials(spark, wh) == _expected_partials(spark, wh)
        got = {r.domain: r for r in read_rollup(spark, wh.rollup).collect()}
        assert None in got  # the null domain is its own group
        assert got["n.example"].text_chars is None  # only null text: null sum

        route(spark, wh, _events(spark, deletes), 1)
        assert str(bucket[urls[0]]) not in wh.rollup.snapshot().files
        assert wh.pages.read(spark, buckets=[bucket[urls[0]]]).count() == 0
        assert wh.pages.read(spark, include_deleted=True).count() == len(rows)
        assert _stored_partials(spark, wh) == _expected_partials(spark, wh)


def test_stored_file_without_domain_fails_the_epoch_and_compaction_restores_it(
    spark, tmp_path
):
    """A touched bucket whose stored file lacks ``_domain`` fails the
    epoch loudly, naming the file: neither head moves and the merge's
    lineage row records the failure. A Spark-side rewrite of the pages
    table fills the column again, and the replayed epoch publishes
    kernel partials."""
    wh = Warehouse.init(str(tmp_path / "wh"), n_buckets=2)

    def epoch(e):
        return _events(
            spark,
            [(10 * e + i, e, "I" if e == 0 else "U", f"https://q{i % 2}.example/{i}",
              f"2024-05-0{e + 1} 00:00:00", f"<p>{e}{i}</p>".encode(), None)
             for i in range(6)],
        )

    assert ingest_epoch(spark, wh, epoch(0), 0).partials.rows
    stripped = wh.pages.snapshot().files["0"][0]
    path = os.path.join(wh.pages.root, stripped)
    pq.write_table(pq.read_table(path).drop_columns([DOMAIN_COL]), path)

    pages_v, rollup_v = wh.pages.head_version(), wh.rollup.head_version()
    with pytest.raises(Exception, match="lacks the table's derived column") as err:
        ingest_epoch(spark, wh, epoch(1), 1)
    assert stripped in str(err.value)
    assert wh.pages.head_version() == pages_v
    assert wh.rollup.head_version() == rollup_v
    merge_rows = wh.lineage.read(spark).filter("epoch = 1 AND stage = 'merge'").collect()
    assert len(merge_rows) == 1 and merge_rows[0].status != "ok"

    wh.pages.compact_files(spark, max_files=0)
    for paths in wh.pages.snapshot().files.values():
        for p in paths:
            got = pq.read_table(os.path.join(wh.pages.root, p)).to_pydict()
            want = [
                r.d for r in spark.createDataFrame(
                    [(u,) for u in got["url"]], "url string"
                ).select(F.parse_url("url", F.lit("HOST")).alias("d")).collect()
            ]
            assert got[DOMAIN_COL] == want
    assert "_domain" not in wh.pages.read(spark).columns
    stats = ingest_epoch(spark, wh, epoch(1), 1)
    assert stats.partials.rows and 1 in wh.rollup.applied_epochs()
    assert _stored_partials(spark, wh) == _expected_partials(spark, wh)


def test_trickle_epoch_runs_two_jobs(spark, tmp_path):
    """An update epoch starts 2 Spark jobs, the kernel's (its shuffle
    map stage and the grouped map): no stats pre-pass runs, and the
    rollup publish and the lineage flush start none."""
    wh = Warehouse.init(str(tmp_path / "wh"), n_buckets=4)
    sc = spark.sparkContext

    def epoch(e):
        return _events(
            spark,
            [(100 * e + i, e, "I" if e == 0 else "U", f"https://j.example/{i}",
              f"2024-06-0{e + 1} 00:00:00", f"<p>{e}</p>".encode(), None)
             for i in range(40)],
        )

    ingest_epoch(spark, wh, epoch(0), 0)
    sc.setJobGroup("pin_two_jobs", "one update epoch")
    try:
        ingest_epoch(spark, wh, epoch(1), 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("pin_two_jobs")) == 2
    assert 1 in wh.rollup.applied_epochs()
    assert {r.stage for r in wh.lineage.read(spark).filter("epoch = 1").collect()} >= {
        "merge", "rollup", "metrics"
    }


def _die_once(monkeypatch, cls, attr, when):
    """Make ``cls.attr`` raise the first time ``when(self, *args)``
    holds; every other call runs as usual."""
    orig = getattr(cls, attr)
    state = {"armed": True}

    def patched(self, *args, **kwargs):
        if state["armed"] and when(self, *args):
            state["armed"] = False
            raise RuntimeError(f"killed in {attr}")
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(cls, attr, patched)


def _epochs(spark):
    def events(e):
        return _events(
            spark,
            [(100 * e + i, e, "I" if e == 0 else "U", f"https://w{i % 3}.example/{i}",
              f"2024-07-0{e + 1} 0{i % 9}:00:00", f"<p>e{e} {i}</p>".encode(), None)
             for i in range(12)],
        )

    return events


def _state(spark, wh):
    pages = sorted((r.url, r.warc_ts, r.text) for r in wh.pages.read(spark).collect())
    return pages, sorted(map(repr, read_rollup(spark, wh.rollup).collect()))


def _heads_name_existing_files(table):
    snap = table.snapshot()
    return all(
        os.path.exists(os.path.join(table.root, p))
        for paths in snap.files.values()
        for p in paths
    )


def test_kill_between_pages_and_rollup_publish_converges(spark, tmp_path, monkeypatch):
    """Kill after the pages publish and before the kernel partials'
    publish: replay repairs the rollup, the lost claim's partial files
    are never referenced, and expire_snapshots sweeps them."""
    events = _epochs(spark)
    ref = Warehouse.init(str(tmp_path / "ref"), n_buckets=4)
    ingest_range(spark, ref, events, range(2))

    wh = Warehouse.init(str(tmp_path / "wh"), n_buckets=4)
    ingest_epoch(spark, wh, events, 0)
    _die_once(
        monkeypatch, LakeTable, "_publish",
        lambda self, snap, added: self.root == wh.rollup.root and added,
    )
    with pytest.raises(RuntimeError, match="killed in _publish"):
        ingest_epoch(spark, wh, events, 1)
    assert 1 in wh.pages.applied_epochs()
    assert 1 not in wh.rollup.applied_epochs()
    lost = [
        int(n[1:7]) for n in os.listdir(os.path.join(wh.rollup.root, "_snapshots"))
        if n.endswith(".claim")
        and not os.path.exists(os.path.join(wh.rollup.root, "_snapshots", n[:-6]))
    ]
    assert len(lost) == 1
    lost_dir = wh.rollup._data_dir(lost[0])
    assert os.listdir(lost_dir)  # the kernel wrote partial files there

    ingest_range(spark, wh, events, range(2))
    assert _state(spark, wh) == _state(spark, ref)
    for v in wh.rollup.versions():
        for paths in wh.rollup.snapshot(v).files.values():
            assert not any(p.startswith(f"data/v{lost[0]:06d}/") for p in paths)
    wh.rollup.expire_snapshots(keep_last=1, orphan_grace_s=0)
    assert not os.path.exists(lost_dir)
    assert _state(spark, wh) == _state(spark, ref)


def test_kill_between_lineage_write_and_publish(spark, tmp_path, monkeypatch):
    """Kill after the driver wrote the lineage bucket files and before
    their publish: HEAD never names a missing file, and the next flush
    lands."""
    events = _epochs(spark)
    wh = Warehouse.init(str(tmp_path / "wh"), n_buckets=4)
    ingest_epoch(spark, wh, events, 0)
    before = wh.lineage.head_version()
    _die_once(
        monkeypatch, LakeTable, "_publish",
        lambda self, snap, added: self.root == wh.lineage.root,
    )
    with pytest.raises(RuntimeError, match="killed in _publish"):
        ingest_epoch(spark, wh, events, 1)
    assert wh.lineage.head_version() == before
    assert _heads_name_existing_files(wh.lineage)
    wh.lineage.expire_snapshots(keep_last=1, orphan_grace_s=0)
    assert _heads_name_existing_files(wh.lineage)

    ingest_epoch(spark, wh, events, 2)
    assert _heads_name_existing_files(wh.lineage)
    assert 2 in {r.epoch for r in wh.lineage.read(spark).collect()}


def test_kill_after_manifest_write_before_head_swap(spark, tmp_path, monkeypatch):
    """Kill point after the merge commit's manifest is written and
    before HEAD swaps to it: HEAD stays put, and replay converges to the
    state of an uninterrupted run."""
    events = _epochs(spark)
    ref = Warehouse.init(str(tmp_path / "ref"), n_buckets=4)
    ingest_range(spark, ref, events, range(2))

    wh = Warehouse.init(str(tmp_path / "wh"), n_buckets=4)
    ingest_epoch(spark, wh, events, 0)
    head = wh.pages.head_version()
    _die_once(
        monkeypatch, LakeTable, "_swap_head",
        lambda self, version: self.root == wh.pages.root,
    )
    with pytest.raises(RuntimeError, match="killed in _swap_head"):
        ingest_epoch(spark, wh, events, 1)
    assert wh.pages.head_version() == head
    assert 1 not in wh.pages.applied_epochs()

    ingest_range(spark, wh, events, range(2))
    assert _state(spark, wh) == _state(spark, ref)
    assert _heads_name_existing_files(wh.pages)
    wh.pages.expire_snapshots(keep_last=1, orphan_grace_s=0)
    assert _heads_name_existing_files(wh.pages)
    assert _state(spark, wh) == _state(spark, ref)
