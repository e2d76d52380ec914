"""Round-4 hardening: the optimistic-concurrency commit guard, the
manifest-pruned tombstone GC, lineage-table schema self-evolution, null
keys in the salted dedup, and the merge kernel's tie-break column type
contract.

The commit races are made deterministic by intercepting the atomic
publish step: the first publisher is pre-empted by a full competing
commit, exactly the interleaving two drivers on one warehouse produce.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_spark.lake.table import CommitConflictError, LakeTable, bucket_expr
from etl_spark.pipeline import Warehouse, ingest_epoch

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


def _bucketed(spark, table: LakeTable, rows):
    snap = table.snapshot()
    df = spark.createDataFrame(rows, SCHEMA)
    return df.withColumn("_bucket", bucket_expr(snap.key_cols, snap.n_buckets))


def _race_once(monkeypatch, competing):
    """Arrange for ``competing()`` (a full commit) to win the race
    against the NEXT publish attempt."""
    orig = LakeTable._publish
    state = {"armed": True}

    def pre_empted(self, snap, added):
        if state["armed"]:
            state["armed"] = False  # the competitor publishes normally
            competing()
        return orig(self, snap, added)

    monkeypatch.setattr(LakeTable, "_publish", pre_empted)


# ---------------------------------------------------------------------------
# Concurrent commits
# ---------------------------------------------------------------------------


def test_concurrent_appends_both_survive(spark, tmp_path, monkeypatch):
    t = _mk_table(tmp_path)
    a = spark.createDataFrame([("a", 1)], SCHEMA)
    b = spark.createDataFrame([("b", 2)], SCHEMA)
    _race_once(monkeypatch, lambda: t.append(b))
    t.append(a)  # loses the race, must rebase onto b's head
    got = sorted((r.k, r.v) for r in t.read(spark).collect())
    assert got == [("a", 1), ("b", 2)]
    # distinct versions, linear history (no dropped snapshot)
    head = t.snapshot()
    assert head.parent is not None and head.parent != head.version


def test_concurrent_disjoint_bucket_commits_rebase(spark, tmp_path, monkeypatch):
    """Two bucket-granular replaces touching DIFFERENT buckets: the
    loser rebases; neither write is dropped."""
    t = _mk_table(tmp_path, n_buckets=64)
    # find two keys hashing to different buckets
    snap = t.snapshot()
    probe = spark.createDataFrame([(f"k{i}", i) for i in range(8)], SCHEMA)
    bmap = {
        r.k: r.b
        for r in probe.select(
            "k", bucket_expr(snap.key_cols, snap.n_buckets).alias("b")
        ).collect()
    }
    ka, kb = list(bmap)[0], next(k for k in bmap if bmap[k] != bmap[list(bmap)[0]])

    def commit_kb():
        t.commit(
            _bucketed(spark, t, [(kb, 2)]), touched_buckets=[int(bmap[kb])]
        )

    _race_once(monkeypatch, commit_kb)
    t.commit(_bucketed(spark, t, [(ka, 1)]), touched_buckets=[int(bmap[ka])])
    got = sorted((r.k, r.v) for r in t.read(spark).collect())
    assert got == [(ka, 1), (kb, 2)] or got == sorted([(ka, 1), (kb, 2)])


def test_concurrent_same_bucket_commit_fails_loudly(spark, tmp_path, monkeypatch):
    """Write-write conflict on one bucket: the loser must raise, never
    silently clobber the winner's rows."""
    t = _mk_table(tmp_path, n_buckets=2)
    snap = t.snapshot()
    b = int(
        spark.createDataFrame([("x", 0)], SCHEMA)
        .select(bucket_expr(snap.key_cols, snap.n_buckets).alias("b"))
        .collect()[0][0]
    )

    def commit_winner():
        t.commit(_bucketed(spark, t, [("x", 99)]), touched_buckets=[b])

    _race_once(monkeypatch, commit_winner)
    with pytest.raises(CommitConflictError):
        t.commit(_bucketed(spark, t, [("x", 1)]), touched_buckets=[b])
    # the winner's state is intact
    assert [(r.k, r.v) for r in t.read(spark).collect()] == [("x", 99)]


def test_concurrent_same_epoch_is_exactly_once(spark, tmp_path, monkeypatch):
    """Two drivers replaying the same epoch race the commit: the loser
    observes the winner's applied_epoch and returns its head (no
    double-apply, no conflict error)."""
    t = _mk_table(tmp_path, n_buckets=2)
    snap = t.snapshot()
    b = int(
        spark.createDataFrame([("x", 0)], SCHEMA)
        .select(bucket_expr(snap.key_cols, snap.n_buckets).alias("b"))
        .collect()[0][0]
    )

    def commit_winner():
        t.commit(
            _bucketed(spark, t, [("x", 7)]), touched_buckets=[b], applied_epoch=5
        )

    _race_once(monkeypatch, commit_winner)
    out = t.commit(
        _bucketed(spark, t, [("x", 7)]), touched_buckets=[b], applied_epoch=5
    )
    assert 5 in out.applied_epochs
    assert [(r.k, r.v) for r in t.read(spark).collect()] == [("x", 7)]
    assert t.snapshot().applied_epochs.count(5) == 1


def test_version_claims_are_unique_and_monotone(spark, tmp_path, monkeypatch):
    """The losing writer's rebased snapshot gets a FRESH id above the
    winner's — ids are never reused even across the race."""
    t = _mk_table(tmp_path)
    _race_once(
        monkeypatch,
        lambda: t.append(spark.createDataFrame([("b", 2)], SCHEMA)),
    )
    t.append(spark.createDataFrame([("a", 1)], SCHEMA))
    vs = t.versions()
    assert vs == sorted(set(vs))
    head = t.snapshot()
    assert head.version == max(vs) and head.parent in vs


def test_stale_commit_lock_fails_loudly(spark, tmp_path):
    import os

    t = _mk_table(tmp_path)
    lock = os.path.join(t.root, "_COMMIT_LOCK")
    fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    os.close(fd)
    with pytest.raises(CommitConflictError, match="lock"):
        with t._commit_lock(timeout=0.2):
            pass
    os.unlink(lock)


# ---------------------------------------------------------------------------
# Manifest-pruned tombstone GC
# ---------------------------------------------------------------------------

CDC_SCHEMA = (
    "seq long, epoch long, op string, url string, warc_ts string, "
    "html binary, lang string"
)


def _cdc(spark, rows):
    return spark.createDataFrame(rows, CDC_SCHEMA).withColumn(
        "warc_ts", F.to_timestamp("warc_ts")
    )


def test_merge_records_tombstone_stats(spark, tmp_path, merge_path):
    wh = Warehouse.init(str(tmp_path / f"wh_{merge_path}"), n_buckets=2)
    e0 = _cdc(spark, [
        (1, 0, "I", "https://x.example/a", "2024-01-01 00:00:00", b"<p>a</p>", None),
        (2, 0, "D", "https://x.example/a", "2024-01-02 00:00:00", None, None),
        (3, 0, "I", "https://x.example/b", "2024-01-03 00:00:00", b"<p>b</p>", None),
    ])
    ingest_epoch(spark, wh, e0, 0, with_rollup=False)
    stats = wh.pages.snapshot().tombstone_stats
    assert stats.get("col") == "warc_ts"
    buckets = stats["buckets"]
    # every written bucket has KNOWN state, and exactly one tombstone
    # exists with the delete's event time as its min
    assert set(buckets) == set(wh.pages.snapshot().files)
    totals = sum(n for n, _ in buckets.values())
    assert totals == 1
    mins = [m for n, m in buckets.values() if n]
    assert mins == ["2024-01-02T00:00:00+00:00"]


def test_gc_scan_prunes_to_manifest_candidates(spark, tmp_path, monkeypatch):
    """The VERDICT #2 contract: a GC pass reads ONLY buckets the
    manifest says could hold an expirable marker — and a pass with
    nothing expirable launches no read at all."""
    wh = Warehouse.init(str(tmp_path / "wh"), n_buckets=4)
    rows = [
        (1, 0, "I", "https://x.example/a", "2024-01-01 00:00:00", b"<p>a</p>", None),
        (2, 0, "D", "https://x.example/a", "2024-01-02 00:00:00", None, None),
        (3, 0, "I", "https://x.example/b", "2024-01-01 00:00:00", b"<p>b</p>", None),
        (4, 0, "D", "https://x.example/b", "2024-06-01 00:00:00", None, None),
        (5, 0, "I", "https://x.example/c", "2024-01-01 00:00:00", b"<p>c</p>", None),
    ]
    ingest_epoch(spark, wh, _cdc(spark, rows), 0, with_rollup=False)
    t = wh.pages
    stats = t.snapshot().tombstone_stats["buckets"]
    expirable_buckets = {
        int(b) for b, (n, m) in stats.items() if n and m and m < "2024-03"
    }
    assert expirable_buckets  # /a's marker

    reads: list = []
    orig_read = LakeTable.read

    def spy_read(self, spark_, buckets=None, **kw):
        if self is t:
            reads.append(buckets)
        return orig_read(self, spark_, buckets=buckets, **kw)

    monkeypatch.setattr(LakeTable, "read", spy_read)

    # 1) horizon before every marker: manifest proves no-op, zero reads
    t.expire_tombstones(spark, "2023-01-01 00:00:00", "warc_ts")
    assert reads == []

    # 2) horizon past /a's marker only: every read is candidate-pruned
    snap = t.expire_tombstones(spark, "2024-03-01 00:00:00", "warc_ts")
    assert reads and all(
        r is not None and set(r) <= expirable_buckets for r in reads
    )
    # stats refreshed: the expired marker is gone from the manifest
    left = sum(n for n, _ in snap.tombstone_stats["buckets"].values())
    assert left == 1  # /b's future marker survives


def test_gc_unknown_buckets_fall_back_to_scan(spark, tmp_path):
    """A bucket rewritten without a stats pass is unknown: GC must scan
    it (correctness over pruning) and afterwards its state is known."""
    wh = Warehouse.init(str(tmp_path / "wh"), n_buckets=2)
    rows = [
        (1, 0, "I", "https://x.example/a", "2024-01-01 00:00:00", b"<p>a</p>", None),
        (2, 0, "D", "https://x.example/a", "2024-01-02 00:00:00", None, None),
    ]
    ingest_epoch(spark, wh, _cdc(spark, rows), 0, with_rollup=False)
    t = wh.pages
    # simulate a legacy/stats-less rewrite: blank the manifest stats
    snap = t.snapshot()
    snap.tombstone_stats.clear()
    t._write_snapshot(snap)
    out = t.expire_tombstones(spark, "2024-03-01 00:00:00", "warc_ts")
    assert (
        t.read(spark, include_deleted=True).filter("_deleted").count() == 0
    )
    assert out.tombstone_stats.get("col") == "warc_ts"


# ---------------------------------------------------------------------------
# Lineage schema self-evolution (ADVICE #2)
# ---------------------------------------------------------------------------


def test_lineage_table_evolves_on_flush(spark, tmp_path):
    from etl_spark.lineage import LineageLog
    from etl_spark.schema import LINEAGE_SCHEMA

    old_schema = T.StructType(
        [f for f in LINEAGE_SCHEMA.fields if f.name != "status"]
    )
    t = LakeTable.create(
        str(tmp_path / "lineage"), old_schema, key_cols=["epoch", "stage"],
        n_buckets=2,
    )
    log = LineageLog(t)
    with log.stage(0, "clean") as rec:
        rec["rows_in"] = 10
        rec["rows_out"] = 9
    log.flush(spark)
    got = t.read(spark).collect()
    assert len(got) == 1 and got[0].status == "ok"
    assert any(f.name == "status" for f in t.snapshot().schema.fields)


# ---------------------------------------------------------------------------
# Null keys in the salted dedup (ADVICE #1)
# ---------------------------------------------------------------------------


def test_salted_dedup_multicol_null_safe(spark):
    """Multi-column keys with NULL parts (and a NULL salt source) keep
    one winner per key group: salted output == plain lww_dedup output."""
    from etl_spark.operators.dedup import lww_dedup, salted_lww_dedup

    df = spark.createDataFrame(
        [
            ("u1", "en", 1),
            ("u1", None, 2),
            ("u1", None, 4),
            (None, None, 3),
            (None, None, None),
        ],
        "url string, lang string, seq long",
    )
    plain = {
        (r.url, r.lang, r.seq)
        for r in lww_dedup(df, ["url", "lang"], ["seq"]).collect()
    }
    salted = {
        (r.url, r.lang, r.seq)
        for r in salted_lww_dedup(
            df, ["url", "lang"], ["seq"], n_salts=4
        ).collect()
    }
    assert salted == plain
    assert salted == {("u1", "en", 1), ("u1", None, 4), (None, None, 3)}


# ---------------------------------------------------------------------------
# Tie-break column type contract (ADVICE #3)
# ---------------------------------------------------------------------------


def test_spj_rejects_non_integral_tiebreak(spark, tmp_path):
    from etl_spark.operators.merge_spj import merge_epoch_spj

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), True),
            T.StructField("warc_ts", T.TimestampType(), True),
            T.StructField("note", T.StringType(), True),
        ]
    )
    t = LakeTable.create(str(tmp_path / "t"), schema, ["url"], n_buckets=2)
    delta = spark.createDataFrame(
        [("https://x.example/a", "2024-01-01 00:00:00", "v1")],
        "url string, warc_ts string, note string",
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    with pytest.raises(TypeError, match="integral"):
        merge_epoch_spj(
            spark, t, delta, 0, order_cols=["warc_ts", "note"]
        )
