"""Tests of the benchmark's own machinery.

    python3 -m pytest perfbench -q

The correctness check must pass on a table the engine ingested and fail
on a tampered copy; span self time and event-log attribution must add
up on hand-made inputs.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from check import pages_check  # noqa: E402
from gen import ChangeGenerator, Shape  # noqa: E402
from spans import GROUP_KEY, SpanIndex, Tracer, parse_event_log  # noqa: E402


@pytest.fixture(scope="module")
def ingested(tmp_path_factory):
    """A pages table after a preload and two update epochs."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from etl_spark import pipeline
    from etl_spark import schema as S
    from etl_spark.session import get_spark

    base = tmp_path_factory.mktemp("perfbench")
    gen = ChangeGenerator(5, Shape(n_keys=400, events_per_epoch=300))
    files = [gen.write_epoch(str(base), e) for e in range(3)]
    spark = get_spark("perfbench_test", parallelism=2)
    wh = pipeline.Warehouse.init(str(base / "wh"), n_buckets=4)
    changes = lambda e: spark.read.schema(S.CHANGES_SCHEMA).parquet(files[e])  # noqa: E731
    for e in range(3):
        pipeline.ingest_epoch(spark, wh, changes, e)
    return wh.pages.root, files


def _head_files(root: str) -> list[str]:
    with open(os.path.join(root, "_HEAD")) as fh:
        version = int(fh.read())
    with open(os.path.join(root, "_snapshots", f"v{version:06d}.json")) as fh:
        manifest = json.load(fh)
    return [os.path.join(root, p) for ps in manifest["files"].values() for p in ps]


def _tampered(root: str, tmp_path, edit) -> str:
    """Copy the table and rewrite its first data file through ``edit``."""
    copy = str(tmp_path / "tampered")
    shutil.copytree(root, copy)
    path = _head_files(copy)[0]
    pq.write_table(edit(pq.read_table(path)), path)
    return copy


def _set(table: pa.Table, col: str, row: int, value) -> pa.Table:
    vals = table.column(col).to_pylist()
    vals[row] = value
    i = table.schema.get_field_index(col)
    return table.set_column(i, col, pa.array(vals, table.schema.field(col).type))


def _first_live(table: pa.Table) -> int:
    return next(i for i, d in enumerate(table.column("_deleted").to_pylist()) if not d)


def test_check_passes_on_ingested_table(ingested):
    root, files = ingested
    res = pages_check(root, files)
    assert res["ok"], res
    assert int(res["got"][0]) > 0


def test_check_fails_on_dropped_row(ingested, tmp_path):
    root, files = ingested
    bad = _tampered(root, tmp_path, lambda t: t.slice(1))
    assert not pages_check(bad, files)["ok"]


def test_check_fails_on_changed_seq(ingested, tmp_path):
    root, files = ingested

    def edit(t):
        row = _first_live(t)
        return _set(t, "seq", row, t.column("seq")[row].as_py() + 1)

    assert not pages_check(_tampered(root, tmp_path, edit), files)["ok"]


def test_check_fails_on_resurrected_tombstone(ingested, tmp_path):
    root, files = ingested
    deleted = [
        (path, i)
        for path in _head_files(root)
        for i, d in enumerate(pq.read_table(path, columns=["_deleted"]).column(0).to_pylist())
        if d
    ]
    assert deleted, "the generator should leave at least one tombstone"
    copy = str(tmp_path / "tampered")
    shutil.copytree(root, copy)
    path, row = deleted[0]
    path = os.path.join(copy, os.path.relpath(path, root))
    pq.write_table(_set(pq.read_table(path), "_deleted", row, False), path)
    assert not pages_check(copy, files)["ok"]


def test_check_fails_when_an_epoch_is_missing(ingested):
    root, files = ingested
    assert not pages_check(root, files[:2])["ok"]


class _FakeContext:
    def __init__(self):
        self.props = {}

    def setLocalProperty(self, key, value):
        if value is None:
            self.props.pop(key, None)
        else:
            self.props[key] = value


def test_job_group_follows_the_span_stack():
    sc = _FakeContext()
    tr = Tracer(sc)
    with tr.span("outer"):
        assert sc.props[GROUP_KEY] == "pb0"
        with tr.span("snapshot", job_group=False):
            assert sc.props[GROUP_KEY] == "pb0"
        with tr.span("inner"):
            assert sc.props[GROUP_KEY] == "pb2"
        assert sc.props[GROUP_KEY] == "pb0"
    assert GROUP_KEY not in sc.props


def test_self_time_and_inclusive_task_metrics(tmp_path):
    spans = [
        {"id": 0, "name": "pipeline", "parent": None, "t0": 0.0, "t1": 10.0},
        {"id": 1, "name": "a", "parent": 0, "t0": 1.0, "t1": 4.0},
        {"id": 2, "name": "b", "parent": 0, "t0": 3.0, "t1": 6.0},  # overlaps a
        {"id": 3, "name": "c", "parent": 2, "t0": 4.0, "t1": 5.0},
    ]
    log = tmp_path / "events"
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0], "Properties": {GROUP_KEY: "pb3"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1], "Properties": {GROUP_KEY: "pb1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {"Executor Run Time": 700}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {"Executor Run Time": 300}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 500, "Output Metrics": {"Bytes Written": 42}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {"Executor Run Time": 9}},
    ]
    log.write_text("".join(json.dumps(e, separators=(",", ":")) + "\n" for e in events))
    idx = SpanIndex(spans, *parse_event_log(str(log)))
    assert idx.self_time(spans[0]) == pytest.approx(10.0 - 5.0)  # [1, 6] covered
    assert idx.self_time(spans[2]) == pytest.approx(2.0)
    assert idx.jobs[0] == 2 and idx.jobs[2] == 1 and idx.jobs[3] == 1
    assert idx.task(spans[0], "run_ms") == 1500  # the ungrouped job is nobody's
    assert idx.task(spans[2], "run_ms") == 1000
    assert idx.task(spans[1], "output_bytes") == 42
