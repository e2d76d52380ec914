"""Negative / boundary tests pinning the schema-evolution contract.

The north rule only requires ADDITIVE evolution (`lang` appearing
mid-stream). These tests pin what the engine does at the boundary —
column removal, rename, and type drift — so the behavior is a
documented decision rather than an accident:

- events are FULL-ROW images (CDC upsert semantics): a winner event
  that lacks a payload column nulls it out, it does not preserve the
  stored value;
- a renamed column is two independent facts to the engine: the new
  name is added additively, the old name goes null for new winners —
  there is no rename detection (same as Iceberg without an explicit
  ALTER ... RENAME);
- for EXISTING columns the table schema is authoritative: a delta
  arriving with a drifted type is cast to the table's type
  (merge_epoch_spj casts it before the merge kernel), never the reverse.

Mirrors the reference's pinned-cleaning-assertion style
(/root/reference/tests/cleaning_test.py) recast as table-state checks.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_spark.pipeline import Warehouse, ingest_epoch

TS0 = "2024-01-01 00:00:00"
TS1 = "2024-01-02 00:00:00"

BASE = (
    "seq long, epoch long, op string, url string, warc_ts string, "
    "html binary, lang string"
)
NO_LANG = (
    "seq long, epoch long, op string, url string, warc_ts string, html binary"
)


def _ev(spark, rows, schema):
    return spark.createDataFrame(rows, schema).withColumn(
        "warc_ts", F.to_timestamp("warc_ts")
    )


def test_missing_column_nulls_out_full_row_image(spark, tmp_path, merge_path):
    """An update event whose schema LACKS `lang` wins LWW -> the stored
    row's lang becomes NULL (events are full-row images, not patches)."""
    wh = Warehouse.init(str(tmp_path / f"wh_{merge_path}"), n_buckets=2)
    url = "https://a.example/p"
    e0 = _ev(spark, [(1, 0, "I", url, TS0, b"<p>v1</p>", "en")], BASE)
    e1 = _ev(spark, [(2, 1, "U", url, TS1, b"<p>v2</p>")], NO_LANG)

    ingest_epoch(spark, wh, e0, 0, with_rollup=False)
    assert wh.pages.read(spark).collect()[0].lang == "en"
    ingest_epoch(spark, wh, e1, 1, with_rollup=False)
    row = wh.pages.read(spark).collect()[0]
    assert row.text == "v2"
    assert row.lang is None


def test_renamed_column_is_additive_not_rename(spark, tmp_path, merge_path):
    """`lang` -> `language` in the stream: the table gains `language`
    additively; `lang` survives in the schema and goes null for the new
    winner. No rename inference."""
    wh = Warehouse.init(str(tmp_path / f"wh_{merge_path}"), n_buckets=2)
    url = "https://a.example/p"
    renamed = (
        "seq long, epoch long, op string, url string, warc_ts string, "
        "html binary, language string"
    )
    e0 = _ev(spark, [(1, 0, "I", url, TS0, b"<p>v1</p>", "en")], BASE)
    e1 = _ev(spark, [(2, 1, "U", url, TS1, b"<p>v2</p>", "de")], renamed)

    ingest_epoch(spark, wh, e0, 0, with_rollup=False)
    v_pre_evolve = wh.pages.head_version()
    ingest_epoch(spark, wh, e1, 1, with_rollup=False)

    names = [f.name for f in wh.pages.snapshot().schema.fields]
    assert "lang" in names and "language" in names
    row = wh.pages.read(spark).collect()[0]
    assert row.language == "de"
    assert row.lang is None
    # pre-evolution snapshot still reads with its own (old) schema
    old = wh.pages.snapshot(version=v_pre_evolve)
    assert "language" not in [f.name for f in old.schema.fields]


def test_type_drift_casts_to_table_type(spark, tmp_path, merge_path):
    """A delta arriving with `lang` as BIGINT is cast to the table's
    STRING — the table schema is authoritative for existing columns;
    type drift never rewrites history."""
    wh = Warehouse.init(str(tmp_path / f"wh_{merge_path}"), n_buckets=2)
    url = "https://a.example/p"
    drifted = (
        "seq long, epoch long, op string, url string, warc_ts string, "
        "html binary, lang long"
    )
    e0 = _ev(spark, [(1, 0, "I", url, TS0, b"<p>v1</p>", "en")], BASE)
    e1 = _ev(spark, [(2, 1, "U", url, TS1, b"<p>v2</p>", 42)], drifted)

    ingest_epoch(spark, wh, e0, 0, with_rollup=False)
    ingest_epoch(spark, wh, e1, 1, with_rollup=False)

    snap = wh.pages.snapshot()
    lang_field = [f for f in snap.schema.fields if f.name == "lang"][0]
    assert lang_field.dataType.simpleString() == "string"
    row = wh.pages.read(spark).collect()[0]
    assert row.lang == "42"
