"""Tombstone semantics: replay/epoch-split convergence in the presence
of deletes and late (out-of-order) events.

The failure these pin: without retained delete markers, a winning 'D'
leaves NO stored state, so a late event (older (warc_ts, seq)) for the
same key arriving in a LATER epoch sees an empty slot and resurrects
the row — final state then depends on where the epoch boundaries fell,
violating the north rule's "replay from any checkpoint reproduces the
final table state". With tombstones, arbitration against the stored
marker makes final state a pure function of the event set.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_spark.pipeline import Warehouse, ingest_epoch

SCHEMA = (
    "seq long, epoch long, op string, url string, warc_ts string, "
    "html binary, lang string"
)


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA).withColumn(
        "warc_ts", F.to_timestamp("warc_ts")
    )


def _visible(spark, wh):
    return sorted(
        (r.url, r.warc_ts, r.text)
        for r in wh.pages.read(spark).collect()
    )


# Event log with a delete that a LATE insert (older ts, lower seq) for
# the same key trails behind. Global LWW fold: the D (ts 03) beats the
# late I (ts 01) -> url /a stays deleted; /b is live.
EVENTS = [
    (1, "I", "https://x.example/a", "2024-01-02 00:00:00", b"<p>a v1</p>"),
    (2, "D", "https://x.example/a", "2024-01-03 00:00:00", None),
    (3, "I", "https://x.example/a", "2024-01-01 00:00:00", b"<p>a late</p>"),
    (4, "I", "https://x.example/b", "2024-01-01 00:00:00", b"<p>b v1</p>"),
]


def _run_split(spark, root, split):
    """Ingest EVENTS as epochs given by contiguous ``split`` boundaries."""
    wh = Warehouse.init(root, n_buckets=2)
    lo = 0
    for e, hi in enumerate(split + (len(EVENTS),)):
        chunk = [
            (seq, e, op, url, ts, html, None)
            for seq, op, url, ts, html in EVENTS[lo:hi]
        ]
        ingest_epoch(spark, wh, _df(spark, chunk), e, with_rollup=False)
        lo = hi
    return wh


def test_late_event_after_delete_does_not_resurrect(spark, tmp_path, merge_path):
    """The minimal divergence case: [I, D] applied, then the late I
    arrives alone in the next epoch. The stored tombstone must win."""
    wh = Warehouse.init(str(tmp_path / f"wh_{merge_path}"), n_buckets=2)
    url = "https://x.example/a"
    e0 = _df(spark, [
        (1, 0, "I", url, "2024-01-02 00:00:00", b"<p>v1</p>", None),
        (2, 0, "D", url, "2024-01-03 00:00:00", None, None),
    ])
    e1 = _df(spark, [
        (3, 1, "I", url, "2024-01-01 00:00:00", b"<p>late</p>", None),
    ])
    ingest_epoch(spark, wh, e0, 0, with_rollup=False)
    ingest_epoch(spark, wh, e1, 1, with_rollup=False)
    assert wh.pages.row_count(spark) == 0  # still deleted
    # the marker carries the delete's order tuple, not the late event's
    tomb = wh.pages.read(spark, include_deleted=True).collect()[0]
    assert tomb._deleted and tomb.seq == 2


def test_final_state_invariant_across_epoch_splits(spark, tmp_path, merge_path):
    """Every contiguous split of the ordered change log into epochs
    (including the boundary falling exactly between D and the late I)
    converges to the same visible state."""
    splits = [(), (2,), (3,), (1, 3), (1, 2, 3)]
    states = []
    for i, split in enumerate(splits):
        wh = _run_split(spark, str(tmp_path / f"wh_{merge_path}_{i}"), split)
        states.append(_visible(spark, wh))
    assert all(s == states[0] for s in states[1:])
    # and the converged state is the global LWW fold: only /b lives
    assert [u for u, _, _ in states[0]] == ["https://x.example/b"]


def test_expire_tombstones_mid_stream_gc_boundary(spark, tmp_path, merge_path):
    """The GC/correctness boundary, end to end: expire_tombstones runs
    BETWEEN epochs with horizon H. A marker with warc_ts >= H survives
    GC, so a late event older than that marker still loses; a genuinely
    newer post-horizon insert for a GC'd key wins (as it must — the
    horizon contract is that no event OLDER than an expired marker can
    still arrive, which is exactly why dropping the marker is safe).
    The maintenance op itself must land in the lineage audit trail."""
    from etl_spark.pipeline import expire_warehouse_tombstones

    wh = Warehouse.init(str(tmp_path / f"wh_{merge_path}"), n_buckets=2)
    a, b = "https://x.example/a", "https://x.example/b"
    e0 = _df(spark, [
        (1, 0, "I", a, "2024-01-01 00:00:00", b"<p>a v1</p>", None),
        (2, 0, "D", a, "2024-01-05 00:00:00", None, None),  # >= H: survives GC
        (3, 0, "I", b, "2024-01-01 00:00:00", b"<p>b v1</p>", None),
        (4, 0, "D", b, "2024-01-02 00:00:00", None, None),  # < H: expired
    ])
    ingest_epoch(spark, wh, e0, 0, with_rollup=False)

    expire_warehouse_tombstones(spark, wh, "2024-01-03 00:00:00")
    tombs = {
        r.url
        for r in wh.pages.read(spark, include_deleted=True)
        .filter("_deleted")
        .collect()
    }
    assert tombs == {a}  # only the post-horizon marker is retained

    e1 = _df(spark, [
        # late for /a: post-horizon arrival, but older than the
        # surviving marker (01-05) -> must still lose
        (5, 1, "I", a, "2024-01-04 00:00:00", b"<p>a late</p>", None),
        # newer than /b's (expired) marker -> must win
        (6, 1, "I", b, "2024-01-06 00:00:00", b"<p>b back</p>", None),
    ])
    ingest_epoch(spark, wh, e1, 1, with_rollup=False)
    vis = {r.url: r.text for r in wh.pages.read(spark).collect()}
    assert vis == {b: "b back"}

    # replay bookkeeping untouched by the GC commit: epoch 0 still skips
    assert ingest_epoch(
        spark, wh, e0, 0, with_rollup=False
    ).skipped

    # the maintenance op is audited (north rule K8 covers maintenance)
    lin = (
        wh.lineage.read(spark)
        .filter("stage = 'maint_expire_tombstones'")
        .collect()
    )
    assert len(lin) == 1 and lin[0].epoch == -1 and lin[0].rows_out == 1


def test_maintenance_ops_write_lineage_rows(spark, tmp_path):
    """rebucket and lineage-compaction append audit rows too — the
    whole maintenance lifecycle is visible in --status."""
    from etl_spark.pipeline import (
        compact_warehouse,
        rebucket_warehouse,
    )

    wh = Warehouse.init(str(tmp_path / "wh"), n_buckets=2)
    e0 = _df(spark, [
        (1, 0, "I", "https://x.example/a", "2024-01-01 00:00:00", b"<p>a</p>", None),
    ])
    ingest_epoch(spark, wh, e0, 0, with_rollup=True)

    rebucket_warehouse(spark, wh, 4)
    row = (
        wh.lineage.read(spark).filter("stage = 'maint_rebucket'").collect()
    )
    assert len(row) == 1 and (row[0].rows_in, row[0].rows_out) == (2, 4)

    # compaction below threshold is a no-op but still audited
    before = sum(len(p) for p in wh.lineage.snapshot().files.values())
    compact_warehouse(spark, wh, max_files=10_000)
    row = (
        wh.lineage.read(spark)
        .filter("stage = 'maint_compact_lineage'")
        .collect()
    )
    assert len(row) == 1 and row[0].rows_in == before


def test_newer_insert_resurrects_after_delete(spark, tmp_path, merge_path):
    """A genuinely NEWER insert after a delete must win over the
    tombstone (resurrection by newer data is correct LWW)."""
    wh = Warehouse.init(str(tmp_path / f"wh_{merge_path}"), n_buckets=2)
    url = "https://x.example/a"
    e0 = _df(spark, [(1, 0, "D", url, "2024-01-02 00:00:00", None, None)])
    e1 = _df(spark, [(2, 1, "I", url, "2024-01-03 00:00:00", b"<p>back</p>", None)])
    ingest_epoch(spark, wh, e0, 0, with_rollup=False)
    ingest_epoch(spark, wh, e1, 1, with_rollup=False)
    rows = wh.pages.read(spark).collect()
    assert len(rows) == 1 and rows[0].text == "back"
    # the tombstone was replaced, not duplicated
    assert wh.pages.read(spark, include_deleted=True).count() == 1
