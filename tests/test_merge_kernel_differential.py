"""The Arrow merge kernel against a small pure-Python last-writer-wins
reference, over random buckets: NULL ``warc_ts``/``seq`` on either side,
full ties that span batches, folds across 1-row and many-row batches,
deletes with and without the tombstone column, ``seq`` values past
2^53 and near +-2^63, and delta timestamps tagged with a non-UTC
session zone. The kernel is called directly (``next(kernel(iter(
batches)))``); the last test drives the same reference through
``merge_epoch_spj``, so the ``applyInArrow`` boundary is covered too."""

from __future__ import annotations

import datetime as dt
import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from etl_spark.lake.table import arrow_schema
from etl_spark.operators.merge_spj import make_bucket_merger

UTC = dt.timezone.utc
T0 = dt.datetime(2024, 3, 10, 6, 0, tzinfo=UTC)  # a US DST change day
TIMES = [None, T0, T0 + dt.timedelta(hours=1), T0 + dt.timedelta(hours=2)]
SEQS = [None, 0, 1, 2**53, 2**53 + 1, 2**63 - 2, 2**63 - 1, -(2**63), -(2**63) + 1]
# a NULL key is one key, in the fold and in arbitration
KEYS = [None] + [f"https://k.example/{i}" for i in range(11)]


def _by_url(rows) -> list:
    return sorted(rows, key=lambda r: (r[0] is not None, r[0] or ""))


def _schema(tombstones: bool) -> T.StructType:
    fields = [
        T.StructField("url", T.StringType(), True),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("seq", T.LongType(), True),
        T.StructField("note", T.StringType(), True),
    ]
    if tombstones:
        fields.append(T.StructField("_deleted", T.BooleanType(), True))
    return T.StructType(fields)


def _order(row: dict) -> tuple:
    """(warc_ts, seq) with NULL below every value."""
    return tuple(
        (row[c] is not None, row[c] if row[c] is not None else 0)
        for c in ("warc_ts", "seq")
    )


def reference(current: list[dict], events: list[dict], tombstones: bool) -> list:
    """Last-writer-wins, one event at a time: a later event replaces the
    key's winner when its (warc_ts, seq) is >= (a full tie goes to the
    later arrival); a winner replaces the stored row when >= it; a
    winning delete becomes a tombstone, or removes the key without the
    tombstone column."""
    winners: dict[str, dict] = {}
    for e in events:
        w = winners.get(e["url"])
        if w is None or _order(e) >= _order(w):
            winners[e["url"]] = e
    state = {r["url"]: dict(r, _deleted=bool(r.get("_deleted"))) for r in current}
    for url, w in winners.items():
        c = state.get(url)
        if c is not None and _order(w) < _order(c):
            continue
        if w["op"] != "D":
            state[url] = {**{k: w[k] for k in ("url", "warc_ts", "seq", "note")}, "_deleted": False}
        elif tombstones:
            state[url] = {"url": url, "warc_ts": w["warc_ts"], "seq": w["seq"], "note": None, "_deleted": True}
        else:
            state.pop(url, None)
    return _by_url(
        (r["url"], r["warc_ts"], r["seq"], r["note"], r["_deleted"] if tombstones else None)
        for r in state.values()
    )


def _random_bucket(rng: random.Random, tombstones: bool):
    """Stored rows over half the keys, and events that hit stored and
    new keys, with repeated (key, warc_ts, seq) triples (full ties)."""
    current = []
    for i, url in enumerate(rng.sample(KEYS, len(KEYS) // 2)):
        dead = tombstones and rng.random() < 0.2
        current.append(
            {"url": url, "warc_ts": rng.choice(TIMES), "seq": rng.choice(SEQS),
             "note": None if dead else f"stored{i}", "_deleted": dead}
        )
    events = []
    for i in range(rng.randint(1, 60)):
        if events and rng.random() < 0.25:  # a full tie with an earlier event
            tie = rng.choice(events)
            url, ts, seq = tie["url"], tie["warc_ts"], tie["seq"]
        else:
            url, ts, seq = rng.choice(KEYS), rng.choice(TIMES), rng.choice(SEQS)
        op = rng.choice("IUUD")
        events.append(
            {"url": url, "warc_ts": ts, "seq": seq, "op": op,
             "note": None if op == "D" else f"e{i}"}
        )
    return current, events


def _batches(events: list[dict], tz: str, sizes) -> list[pa.RecordBatch]:
    """The events as the kernel gets them: batches of the given sizes,
    timestamps tagged with the session zone."""
    schema = pa.schema(
        [("url", pa.string()), ("warc_ts", pa.timestamp("us", tz=tz)),
         ("seq", pa.int64()), ("op", pa.string()), ("note", pa.string()),
         ("_bucket", pa.int32())]
    )
    out, i = [], 0
    for n in sizes:
        if i >= len(events):
            break
        out.append(
            pa.RecordBatch.from_pylist(
                [dict(e, _bucket=0) for e in events[i : i + n]], schema=schema
            )
        )
        i += n
    return out


def _run(root, version, current, batches, tombstones, session_tz):
    schema = _schema(tombstones)
    files = {}
    if current:
        stored = arrow_schema(schema)
        rows = [{k: r[k] for k in stored.names} for r in current]
        (root / "data").mkdir(exist_ok=True)
        pq.write_table(pa.Table.from_pylist(rows, schema=stored), root / "data" / "cur.parquet")
        files = {"0": ["data/cur.parquet"]}
    kernel = make_bucket_merger(
        str(root), version, files, schema, ["url"], ["warc_ts", "seq"],
        extracted=True, session_tz=session_tz,
    )
    row = next(kernel(iter(batches))).to_pylist()[0]
    got = [] if row["path"] is None else pq.read_table(root / row["path"]).to_pylist()
    return row, _by_url(
        (r["url"], r["warc_ts"], r["seq"], r["note"], r.get("_deleted")) for r in got
    )


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
@pytest.mark.parametrize("tombstones", [True, False])
@pytest.mark.parametrize("seed", range(12))
def test_kernel_equals_python_reference(tmp_path, seed, tombstones, tz):
    rng = random.Random(seed * 4 + 2 * tombstones + (tz != "UTC"))
    current, events = _random_bucket(rng, tombstones)
    # random batch sizes: 1-row batches and larger ones
    sizes = [rng.choice([1, 1, 2, 5, 50]) for _ in events]
    row, got = _run(tmp_path, 1, current, _batches(events, tz, sizes), tombstones, tz)
    assert got == reference(current, events, tombstones)
    assert row["n_events"] == len(events)
    assert row["n_keys"] == len({e["url"] for e in events})
    times = [e["warc_ts"] for e in events if e["warc_ts"] is not None]
    assert row["max_event_ts"] == (max(times) if times else None)
    assert row["rows"] == len(got)


def test_full_ties_across_batches_go_to_the_last_arrival(tmp_path):
    """The same (key, warc_ts, seq) in every 1-row batch, and a NULL-seq
    event in between: the last arrival of the tie wins, whatever the
    batch split."""
    events = [
        {"url": KEYS[0], "warc_ts": T0, "seq": 2**53 + 1, "op": "U", "note": f"tie{i}"}
        for i in range(7)
    ]
    events.insert(3, {"url": KEYS[0], "warc_ts": T0, "seq": None, "op": "U", "note": "null-seq"})
    for version, size in enumerate((1, 3, len(events)), 1):
        batches = _batches(events, "UTC", [size] * len(events))
        _, got = _run(tmp_path, version, [], batches, True, "UTC")
        assert got == [(KEYS[0], T0, 2**53 + 1, "tie6", False)]


def test_null_key_replaces_its_stored_row(tmp_path):
    """A stored row and a newer event, both with a NULL key: the event
    replaces the row (one row left), as for any other key."""
    stored = {"url": None, "warc_ts": T0, "seq": 1, "note": "old", "_deleted": False}
    event = {"url": None, "warc_ts": TIMES[2], "seq": 0, "op": "U", "note": "new"}
    _, got = _run(tmp_path, 1, [stored], _batches([event], "UTC", [1]), True, "UTC")
    assert got == [(None, TIMES[2], 0, "new", False)]


def test_merge_epoch_spj_equals_python_reference(spark, tmp_path):
    """Two epochs of random events through ``merge_epoch_spj`` in a
    non-UTC session, two-row Arrow batches: the table equals the
    reference state, seqs near +-2^63 exact. Full ties are left out:
    a shuffle does not keep arrival order, so their winner is the
    kernel tests' business."""
    from etl_spark.lake.table import LakeTable
    from etl_spark.operators.merge_spj import merge_epoch_spj

    rng = random.Random(7)
    schema = _schema(True)
    table = LakeTable.create(str(tmp_path / "t"), schema, ["url"], 2)
    ddl = "url string, warc_ts timestamp, seq long, op string, note string"
    state: list[dict] = []
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    spark.conf.set(key, "2")
    try:
        for epoch in range(2):
            _, events = _random_bucket(rng, True)
            events = list(
                {(e["url"], e["warc_ts"], e["seq"]): e for e in events}.values()
            )
            delta = spark.createDataFrame(
                [tuple(e[c] for c in ("url", "warc_ts", "seq", "op", "note")) for e in events],
                ddl,
            )
            merge_epoch_spj(spark, table, delta, epoch, extracted=True)
            expected = reference(state, events, True)
            state = [dict(zip(("url", "warc_ts", "seq", "note", "_deleted"), r)) for r in expected]
            got = _by_url(
                (r["url"], r["warc_ts"], r["seq"], r["note"], r["_deleted"])
                for r in pa.concat_tables(
                    [pq.read_table(tmp_path / "t" / p) for ps in table.snapshot().files.values() for p in ps]
                ).to_pylist()
            )
            assert got == expected
    finally:
        spark.conf.unset(key)
        spark.conf.set("spark.sql.session.timeZone", "UTC")
