"""Round-5 ADVICE regressions: overwrite_all lost-race semantics,
bucket-spec-stable rebase, orphan-claim GC, and lineage metrics
idempotence.

Races are made deterministic with the same publish-interception trick
as test_concurrency_and_gc: the competing commit lands inside the
victim's first publish attempt.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from etl_spark.lake.table import CommitConflictError, LakeTable, bucket_expr

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType(), True),
        T.StructField("v", T.LongType(), True),
    ]
)


def _mk_table(tmp_path, n_buckets=4) -> LakeTable:
    return LakeTable.create(
        str(tmp_path / "t"), SCHEMA, key_cols=["k"], n_buckets=n_buckets
    )


def _bucketed(spark, table: LakeTable, rows, n_buckets=None):
    snap = table.snapshot()
    df = spark.createDataFrame(rows, SCHEMA)
    return df.withColumn(
        "_bucket", bucket_expr(snap.key_cols, n_buckets or snap.n_buckets)
    )


def _race_once(monkeypatch, competing):
    orig = LakeTable._publish
    state = {"armed": True}

    def pre_empted(self, snap, added):
        if state["armed"]:
            state["armed"] = False
            competing()
        return orig(self, snap, added)

    monkeypatch.setattr(LakeTable, "_publish", pre_empted)


# ---------------------------------------------------------------------------
# ADVICE medium #1: overwrite_all must never rebase over a concurrent
# commit (republished pre-race files would erase the winner's rows and
# adopting its applied_epochs would suppress replay of the lost epoch).
# ---------------------------------------------------------------------------


def test_overwrite_all_lost_race_raises_not_clobbers(spark, tmp_path, monkeypatch):
    t = _mk_table(tmp_path)
    t.append(spark.createDataFrame([("a", 1)], SCHEMA))

    def winner_append():
        t.append(spark.createDataFrame([("b", 2)], SCHEMA))

    _race_once(monkeypatch, winner_append)
    with pytest.raises(CommitConflictError, match="overwrite_all|re-derive"):
        t.commit(_bucketed(spark, t, [("a", 99)]), overwrite_all=True)
    # the winner's append survived; the loser published nothing
    got = sorted((r.k, r.v) for r in t.read(spark).collect())
    assert got == [("a", 1), ("b", 2)]


def test_compact_files_rederives_after_lost_race(spark, tmp_path, monkeypatch):
    """compact_files is pure maintenance: on a lost race it re-reads the
    NEW head and compacts that — the concurrently appended row must be
    present in the compacted table."""
    t = _mk_table(tmp_path, n_buckets=2)
    for i in range(4):
        t.append(spark.createDataFrame([(f"k{i}", i)], SCHEMA))

    def winner_append():
        t.append(spark.createDataFrame([("late", 100)], SCHEMA))

    _race_once(monkeypatch, winner_append)
    snap = t.compact_files(spark, max_files=2)
    assert snap.summary["operation"] == "compact_files"
    got = sorted((r.k, r.v) for r in t.read(spark).collect())
    assert ("late", 100) in got and len(got) == 5
    # genuinely compacted: at most one file per bucket
    assert all(len(p) <= 1 for p in snap.files.values())


# ---------------------------------------------------------------------------
# ADVICE medium #2: a rebase onto a head whose bucket spec changed must
# fail loudly — the loser's files were hashed under the old layout.
# ---------------------------------------------------------------------------


def test_append_lost_race_to_rebucket_raises(spark, tmp_path, monkeypatch):
    t = _mk_table(tmp_path, n_buckets=4)
    t.append(spark.createDataFrame([("seed", 0)], SCHEMA))
    _race_once(monkeypatch, lambda: t.rebucket(spark, 16))
    with pytest.raises(CommitConflictError, match="bucket spec"):
        t.append(spark.createDataFrame([("a", 1)], SCHEMA))
    assert t.snapshot().n_buckets == 16
    assert [(r.k, r.v) for r in t.read(spark).collect()] == [("seed", 0)]


def test_commit_lost_race_to_rebucket_raises_even_on_empty_bucket(
    spark, tmp_path, monkeypatch
):
    """The old clash check compared per-bucket file lists and missed the
    case where the touched bucket is empty on both sides; the spec guard
    must catch it regardless."""
    t = _mk_table(tmp_path, n_buckets=4)
    snap = t.snapshot()
    b = int(
        spark.createDataFrame([("x", 0)], SCHEMA)
        .select(bucket_expr(snap.key_cols, snap.n_buckets).alias("b"))
        .collect()[0][0]
    )
    _race_once(monkeypatch, lambda: t.rebucket(spark, 8))
    with pytest.raises(CommitConflictError, match="bucket spec"):
        t.commit(_bucketed(spark, t, [("x", 1)]), touched_buckets=[b])
    assert t.snapshot().n_buckets == 8


# ---------------------------------------------------------------------------
# ADVICE low #1: lost-race artifacts (abandoned claim + unreferenced
# data dir) are swept by expire_snapshots after the grace period.
# ---------------------------------------------------------------------------


def test_expire_snapshots_sweeps_orphan_claims_and_data(
    spark, tmp_path, monkeypatch
):
    t = _mk_table(tmp_path, n_buckets=2)
    snap = t.snapshot()
    b = int(
        spark.createDataFrame([("x", 0)], SCHEMA)
        .select(bucket_expr(snap.key_cols, snap.n_buckets).alias("b"))
        .collect()[0][0]
    )

    def winner_same_epoch():
        t.commit(
            _bucketed(spark, t, [("x", 7)]), touched_buckets=[b], applied_epoch=5
        )

    _race_once(monkeypatch, winner_same_epoch)
    # exactly-once loser: returns the winner's head, abandoning its
    # claim AND its already-written data/v<claim> directory
    t.commit(
        _bucketed(spark, t, [("x", 7)]), touched_buckets=[b], applied_epoch=5
    )
    snap_dir = os.path.join(t.root, "_snapshots")
    orphans = [
        f
        for f in os.listdir(snap_dir)
        if f.endswith(".claim")
        and not os.path.exists(os.path.join(snap_dir, f[: -len(".claim")]))
    ]
    assert orphans, "setup failed: the race should leave an abandoned claim"
    orphan_v = int(orphans[0][1:].split(".", 1)[0])
    orphan_data = t._data_dir(orphan_v)
    assert os.path.isdir(orphan_data)

    # grace period protects a potentially in-flight writer
    t.expire_snapshots(keep_last=2, orphan_grace_s=3600)
    assert os.path.exists(os.path.join(snap_dir, orphans[0]))

    t.expire_snapshots(keep_last=2, orphan_grace_s=0)
    assert not os.path.exists(os.path.join(snap_dir, orphans[0]))
    assert not os.path.isdir(orphan_data)
    # the winner's state is untouched
    assert [(r.k, r.v) for r in t.read(spark).collect()] == [("x", 7)]


def test_expire_snapshots_keeps_rebased_losers_data(spark, tmp_path, monkeypatch):
    """A loser that successfully REBASED references its first claim's
    data dir from the rebased snapshot — the sweep must not touch it."""
    t = _mk_table(tmp_path)
    _race_once(
        monkeypatch,
        lambda: t.append(spark.createDataFrame([("b", 2)], SCHEMA)),
    )
    t.append(spark.createDataFrame([("a", 1)], SCHEMA))  # rebases
    t.expire_snapshots(keep_last=10, orphan_grace_s=0)
    got = sorted((r.k, r.v) for r in t.read(spark).collect())
    assert got == [("a", 1), ("b", 2)]


# ---------------------------------------------------------------------------
# Orphan sweep vs a slow writer: a claim is aged by its newest activity,
# and a publish whose data files were swept fails instead of landing.
# ---------------------------------------------------------------------------


def test_orphan_sweep_mid_commit_fails_the_commit_loudly(
    spark, tmp_path, monkeypatch
):
    """A writer slower than the grace: between its writer job and its
    publish, a concurrent commit moves HEAD past its claim and an
    orphan sweep deletes its data files. Its rebased publish must
    raise, never leave a snapshot naming missing files; a re-run then
    lands."""
    from pyspark.sql import functions as F

    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), True),
            T.StructField("warc_ts", T.TimestampType(), True),
        ]
    )
    t = LakeTable.create(str(tmp_path / "t"), schema, ["k"], n_buckets=2)
    df = (
        spark.createDataFrame([("a", "2024-01-01 00:00:00")], "k string, ts string")
        .select("k", F.to_timestamp("ts").alias("warc_ts"))
        .withColumn("_bucket", bucket_expr(["k"], 2))
    )

    def slow_writer():
        t.commit(None, summary={"operation": "concurrent"})
        t.expire_snapshots(keep_last=10, orphan_grace_s=0)

    _race_once(monkeypatch, slow_writer)
    with pytest.raises(CommitConflictError, match="orphan sweep"):
        t.commit(df, touched_buckets=[0, 1], event_time_col="warc_ts")
    for v in t.versions():
        for paths in t.snapshot(v).files.values():
            for p in paths:
                assert os.path.exists(os.path.join(t.root, p)), (v, p)

    t.commit(df, touched_buckets=[0, 1], event_time_col="warc_ts")
    assert [r.k for r in t.read(spark).collect()] == ["a"]


def test_orphan_sweep_ages_claim_by_its_data_dir(tmp_path):
    """An old claim whose data dir is still being written is not
    abandoned: the sweep ages it by the newest mtime among the claim
    and its data files, and sweeps it once both are past the grace."""
    t = _mk_table(tmp_path)
    claim = t._snap_path(1) + ".claim"
    open(claim, "w").close()
    data_file = os.path.join(t._data_dir(1), "_pdir=0", "part-0.parquet")
    os.makedirs(os.path.dirname(data_file))
    open(data_file, "w").close()
    t.commit(None, summary={"operation": "noise"})  # HEAD moves past v1
    assert t.head_version() > 1

    old = os.path.getmtime(claim) - 7200
    os.utime(claim, (old, old))
    t.expire_snapshots(keep_last=10, orphan_grace_s=3600)
    assert os.path.exists(claim) and os.path.exists(data_file)

    for path in (data_file, os.path.dirname(data_file), t._data_dir(1)):
        os.utime(path, (old, old))
    t.expire_snapshots(keep_last=10, orphan_grace_s=3600)
    assert not os.path.exists(claim) and not os.path.exists(data_file)



# ---------------------------------------------------------------------------
# ADVICE low #2: LineageLog.metrics must not fold prior metrics rows
# into the seconds sum, and zero-duration throughput is a defined 0.0.
# ---------------------------------------------------------------------------


def test_metrics_second_call_does_not_double_count():
    from etl_spark.lineage import LineageLog

    log = LineageLog(None)
    with log.stage(3, "merge") as rec:
        rec["rows_in"] = 100
    log.rows[-1] = log.rows[-1][:5] + (2.0,) + log.rows[-1][6:]  # pin 2s
    log.metrics(3, n_events=100)
    first = [r for r in log.rows if r[2] == "metrics"][-1]
    assert first[5] == 2.0 and first[8] == pytest.approx(50.0)
    log.metrics(3, n_events=100)  # retried flush path
    second = [r for r in log.rows if r[2] == "metrics"][-1]
    assert second[5] == 2.0, "prior metrics row leaked into the sum"
    assert second[8] == pytest.approx(50.0)


def test_metrics_zero_duration_is_zero_not_none():
    from etl_spark.lineage import LineageLog

    log = LineageLog(None)
    log.metrics(1, n_events=500)  # no stage rows at all
    row = log.rows[-1]
    assert row[8] == 0.0 and row[8] is not None


# ---------------------------------------------------------------------------
# Round-5 review follow-ups: the rollup overwrite_all retry loop.
# ---------------------------------------------------------------------------


def test_rollup_full_refresh_retries_lost_race(spark, tmp_path, monkeypatch):
    """rollup_domain_stats' full-refresh overwrite_all commit re-derives
    and retries on a lost publish race instead of dying (same contract
    compact_files got). The refresh is forced the way a replay repair
    meets it: no touched list, and a pages head that is not this
    epoch's merge (a compaction landed after it)."""
    from pyspark.sql import functions as F

    from etl_spark.operators import rollup
    from etl_spark.pipeline import Warehouse, ingest_epoch

    wh = Warehouse.init(str(tmp_path / "wh"), n_buckets=2)
    delta = spark.createDataFrame(
        [(i, 0, "I", u, "2024-01-01 00:00:00", b"<p>a</p>", None)
         for i, u in enumerate(["https://x.example/a", "https://x.example/b",
                                "https://y.example/a"])],
        "seq long, epoch long, op string, url string, warc_ts string, "
        "html binary, lang string",
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    ingest_epoch(spark, wh, delta, 0, with_rollup=False, with_lineage=False)
    wh.pages.compact_files(spark, max_files=0)
    assert wh.pages.snapshot().summary.get("epoch") is None

    rebuilds = []
    orig_rebuild = rollup.rebuild_partials

    def counted_rebuild(*args, **kwargs):
        rebuilds.append(args[3])
        return orig_rebuild(*args, **kwargs)

    monkeypatch.setattr(rollup, "rebuild_partials", counted_rebuild)
    # each try derives the partials from its own pages read
    derived = []
    orig_read = wh.pages.read

    def counted_read(*args, **kwargs):
        derived.append(1)
        return orig_read(*args, **kwargs)

    wh.pages.read = counted_read
    commits = []
    orig_commit = wh.rollup.commit

    def spied_commit(new_data, **kw):
        commits.append(kw.get("overwrite_all"))
        return orig_commit(new_data, **kw)

    wh.rollup.commit = spied_commit

    # the refresh's first publish loses to a concurrent append on the
    # rollup table
    orig = LakeTable._publish
    published = []

    def pre_empted(self, snap, added):
        if self.root != wh.rollup.root or snap.summary.get("operation") != "rollup":
            return orig(self, snap, added)
        if not published:
            empty = spark.createDataFrame([], self.snapshot().schema)
            self.append(empty, summary={"operation": "noise"})
        published.append(orig(self, snap, added))
        return published[-1]

    monkeypatch.setattr(LakeTable, "_publish", pre_empted)
    rollup.rollup_domain_stats(spark, wh.pages, wh.rollup, 0)  # must not raise
    assert commits == [True, True]
    assert published == [False, True]
    assert rebuilds == [None]  # one rebuild call, of every bucket
    assert derived == [1, 1]
    head = wh.rollup.snapshot()
    assert head.summary["operation"] == "rollup" and head.applied_epochs == [0]
    assert wh.rollup.snapshot(head.parent).summary["operation"] == "noise"

    got = sorted(
        (r.domain, r.n_pages) for r in rollup.read_rollup(spark, wh.rollup).collect()
    )
    assert got == [("x.example", 2), ("y.example", 1)]
