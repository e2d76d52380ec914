"""End-to-end CDC golden checks — the recast of the reference's
golden-count tests (trajectory_construction_test.py:121-139: ferry.csv
=> exactly 1 moving + 2 stopped) onto table state after replay:
final row count, per-url final warc_ts, byte-equal text, idempotence,
resume-from-checkpoint convergence, schema evolution (north rule).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_spark.functions.extract import extract_text_series
from etl_spark.pipeline import Warehouse, ingest_epoch, ingest_range
from etl_spark.operators.rollup import read_rollup
from etl_spark.sources.changelog import changes_from_documents, epoch_provider
from tests.conftest import SF_SMALL

N_EPOCHS = 3


def _expected_final_state(spark):
    """Driver-side sequential fold over the generated log — the trivial
    oracle (FIXTURES.md: 'final-state golden computable by a trivial
    sequential fold')."""
    events = changes_from_documents(spark, SF_SMALL).collect()
    state: dict[str, tuple] = {}
    for e in sorted(events, key=lambda e: (e.warc_ts, e.seq)):
        cur = state.get(e.url)
        if cur is not None and (e.warc_ts, ) < (cur[0], ):
            continue
        if e.op == "D":
            state[e.url] = (e.warc_ts, None, None)
        else:
            state[e.url] = (e.warc_ts, e.html, e.lang)
    return {
        url: (ts, bytes(html) if html is not None else None, lang)
        for url, (ts, html, lang) in state.items()
        if html is not None
    }


def _ingest_all(spark, root):
    wh = Warehouse.init(root, n_buckets=8)
    ingest_range(spark, wh, epoch_provider(spark, SF_SMALL), range(N_EPOCHS))
    return wh


def test_final_state_matches_sequential_fold(spark, tmp_wh):
    wh = _ingest_all(spark, tmp_wh)
    expected = _expected_final_state(spark)
    got = {
        r.url: (r.warc_ts, bytes(r.html) if r.html is not None else None, r.lang)
        for r in wh.pages.read(spark).collect()
    }
    assert set(got) == set(expected)
    for url in expected:
        assert got[url][0] == expected[url][0], url  # final warc_ts
        assert got[url][1] == expected[url][1], url  # html bytes


def test_extracted_text_byte_identical_to_kernel(spark, tmp_wh):
    """Per-row invariant: stored text == kernel(stored html), byte-equal."""
    import pandas as pd

    wh = _ingest_all(spark, tmp_wh)
    rows = wh.pages.read(spark).select("url", "html", "text").collect()
    assert rows
    htmls = pd.Series([bytes(r.html) for r in rows])
    expected = extract_text_series(htmls)
    for r, want in zip(rows, expected):
        assert r.text == want, r.url


def test_replay_is_idempotent(spark, tmp_wh):
    """Applying every epoch twice yields the identical snapshot content
    and no extra versions for the repeats (exactly-once)."""
    wh = _ingest_all(spark, tmp_wh)
    v_after = wh.pages.head_version()
    changes = changes_from_documents(spark, SF_SMALL)
    stats = ingest_range(spark, wh, changes, range(N_EPOCHS))
    assert all(s.skipped for s in stats)
    assert wh.pages.head_version() == v_after


def test_resume_from_mid_checkpoint_converges(spark, tmp_wh):
    """Simulated crash after epoch 0: a fresh process replaying the full
    range must converge to the same state as an uninterrupted run."""
    changes = changes_from_documents(spark, SF_SMALL)
    wh = Warehouse.init(tmp_wh + "/a", n_buckets=8)
    ingest_epoch(spark, wh, changes, 0)
    # "restart": reopen from disk, replay everything from epoch 0
    wh2 = Warehouse.open(tmp_wh + "/a")
    ingest_range(spark, wh2, changes, range(N_EPOCHS))

    ref = Warehouse.init(tmp_wh + "/b", n_buckets=8)
    ingest_range(spark, ref, changes, range(N_EPOCHS))

    a = {
        (r.url, r.warc_ts, r.text, r.lang)
        for r in wh2.pages.read(spark).collect()
    }
    b = {
        (r.url, r.warc_ts, r.text, r.lang)
        for r in ref.pages.read(spark).collect()
    }
    assert a == b


def test_schema_evolution_lang_mid_stream(spark, tmp_wh):
    """`lang` appears at epoch 2: the table starts without the column
    (PAGES_SCHEMA_V0), evolves additively, old rows read null unless
    later updated."""
    wh = _ingest_all(spark, tmp_wh)
    schema_names = [f.name for f in wh.pages.snapshot().schema.fields]
    assert "lang" in schema_names
    df = wh.pages.read(spark)
    langs = df.groupBy("lang").count().collect()
    by_lang = {r.lang: r["count"] for r in langs}
    # docs with 3 versions got a lang in epoch 2; 1-2 version docs stay null
    assert None in by_lang
    assert any(k is not None for k in by_lang)


def test_deletes_remove_rows(spark, tmp_wh):
    wh = _ingest_all(spark, tmp_wh)
    got_urls = {r.url for r in wh.pages.read(spark).select("url").collect()}
    # doc_id % 11 == 0 with 3 versions (doc_id % 3 == 2) end in a live D
    # unless their D event carried a stale ts (doc_id % 7 == 0 -> D loses)
    for doc_id in range(0, 500, 1):
        if doc_id % 11 == 0 and doc_id % 3 == 2 and doc_id % 7 != 0:
            domain = 0 if doc_id % 10 < 6 else doc_id % 10
            url = f"https://site{domain}.example/doc/{doc_id}"
            assert url not in got_urls, url


def test_rollup_consistent_with_table(spark, tmp_wh):
    wh = _ingest_all(spark, tmp_wh)
    roll = {
        (r.domain, r.day_id): (r.n_pages, r.text_chars)
        for r in read_rollup(spark, wh.rollup).collect()
    }
    from etl_spark.functions.keys import smart_date_id
    from etl_spark.operators.clean import domain_of

    direct = {
        (r.domain, r.day_id): (r.n_pages, r.text_chars)
        for r in wh.pages.read(spark)
        .select(
            domain_of(F.col("url")).alias("domain"),
            smart_date_id(F.col("warc_ts")).alias("day_id"),
            F.length("text").alias("chars"),
        )
        .groupBy("domain", "day_id")
        .agg(F.count(F.lit(1)).alias("n_pages"), F.sum("chars").alias("text_chars"))
        .collect()
    }
    assert roll == direct


def test_lineage_rows_written(spark, tmp_wh):
    wh = _ingest_all(spark, tmp_wh)
    lin = wh.lineage.read(spark)
    stages = {r.stage for r in lin.select("stage").distinct().collect()}
    # dedup + extract run inside the grouped-map merge stage
    assert {"clean", "stats", "merge", "rollup", "metrics"} <= stages
    assert lin.filter(F.col("epoch") == 0).count() >= 4
    # the per-epoch throughput/lag row (north rule: "throughput/lag
    # metrics emitted each epoch"): one per applied epoch, events/sec
    # positive, lag = now − newest 2024 event time (large and positive)
    metrics = lin.filter(F.col("stage") == "metrics").collect()
    assert {r.epoch for r in metrics} == wh.pages.applied_epochs()
    for r in metrics:
        assert r.rows_in > 0  # events seen this epoch
        assert r.events_per_sec is not None and r.events_per_sec > 0
        assert r.event_lag_seconds is not None and r.event_lag_seconds > 0


def test_lineage_flush_exact_longs_on_local_relation(spark, tmp_wh):
    """Flushed lineage rows are written on the driver from Arrow arrays:
    a null next to a long above 2^53 reads back exactly (no float64
    detour), and the flush — bucket ids, files, publish — starts no
    Spark job."""
    from etl_spark.lineage import LineageLog

    wh = Warehouse.init(tmp_wh, n_buckets=2)
    log = LineageLog(wh.lineage)
    with log.stage(7, "merge") as rec:
        rec["rows_in"] = None
        rec["rows_out"] = 2**53 + 1
    sc = spark.sparkContext
    sc.setJobGroup("lineage_flush", "flush")
    try:
        log.flush(spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("lineage_flush") == []

    (row,) = wh.lineage.read(spark).collect()
    assert (row.epoch, row.stage, row.status) == (7, "merge", "ok")
    assert row.rows_in is None and row.rows_out == 2**53 + 1
    assert row.committed_at is not None


def test_lineage_event_lag_under_non_utc_process_zone(spark, tmp_wh):
    """``collect`` renders the newest event time as a naive wall time in
    the driver's process zone; the lag must read it back in that zone,
    not as UTC (which was off by the zone's offset)."""
    import datetime as dt
    import os
    import time

    from etl_spark.lineage import LineageLog
    from etl_spark.operators.dedup import delta_stats

    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        newest = dt.datetime.now(dt.timezone.utc) - dt.timedelta(seconds=7)
        df = spark.createDataFrame(
            [("https://l.example/1", newest)], "url string, warc_ts timestamp"
        )
        st = delta_stats(df, ["url"], 2, ts_col="warc_ts")
        log = LineageLog(None)
        log.metrics(0, n_events=st.n_events, max_event_ts=st.max_ts)
        lag = log.rows[-1][9]
    finally:
        if old is None:
            os.environ.pop("TZ")
        else:
            os.environ["TZ"] = old
        time.tzset()
    assert 6 <= lag < 60, lag


def test_unparsable_url_is_cleaned_not_stored(spark, tmp_wh):
    """``https://a b.com/x`` passes the scheme check but java.net.URI
    cannot parse it: clean must drop it, or the pages commit stores it
    and every rollup of its bucket raises INVALID_URL from then on."""
    wh = Warehouse.init(tmp_wh, n_buckets=2)
    schema = (
        "seq long, epoch long, op string, url string, warc_ts string, "
        "html binary, lang string"
    )

    def epoch(e, urls):
        return spark.createDataFrame(
            [(10 * e + i, e, "I", u, "2024-01-01 00:00:00", b"<p>x</p>", None)
             for i, u in enumerate(urls)],
            schema,
        ).withColumn("warc_ts", F.to_timestamp("warc_ts"))

    ingest_epoch(spark, wh, epoch(0, ["https://ok.example/1"]), 0)
    ingest_epoch(
        spark, wh, epoch(1, ["https://a b.com/x", "https://x.com/?q=%zz",
                             "https://ok.example/2"]), 1,
    )
    ingest_epoch(spark, wh, epoch(2, ["https://ok.example/3"]), 2)
    assert wh.pages.applied_epochs() == wh.rollup.applied_epochs() == {0, 1, 2}
    assert sorted(r.url for r in wh.pages.read(spark).collect()) == [
        "https://ok.example/1", "https://ok.example/2", "https://ok.example/3"
    ]
    assert [(r.domain, r.n_pages) for r in read_rollup(spark, wh.rollup).collect()] == [
        ("ok.example", 3)
    ]


def test_rollup_commit_is_bucket_granular(spark, tmp_wh):
    """The rollup epoch must rewrite only the touched buckets' partial
    files — untouched buckets carry forward by manifest reference
    (epoch cost ∝ touched data, not rollup state size)."""
    wh = Warehouse.init(tmp_wh, n_buckets=8)
    log = changes_from_documents(spark, SF_SMALL)
    ingest_epoch(spark, wh, log.filter(F.col("epoch") == 0), 0)
    before = wh.rollup.snapshot()
    # epoch 1 narrowed to ONE url -> strictly fewer buckets touched
    one_url = log.filter(F.col("epoch") == 1).select("url").first().url
    ingest_epoch(
        spark, wh, log.filter((F.col("epoch") == 1) & (F.col("url") == one_url)), 1
    )
    after = wh.rollup.snapshot()
    touched = set(map(str, wh.pages.snapshot().summary.get("touched_list") or []))
    assert len(touched) == 1
    untouched = set(before.files) - touched
    assert untouched, "single-key epoch must leave untouched buckets"
    # every untouched bucket's file list is carried forward verbatim
    for b in untouched:
        assert after.files.get(b) == before.files[b]
    # rollup partials agree with a direct recompute (same as the
    # consistency test, repeated here so granularity never costs truth)
    roll = {
        (r.domain, r.day_id): (r.n_pages, r.text_chars)
        for r in read_rollup(spark, wh.rollup).collect()
    }
    from etl_spark.functions.keys import smart_date_id
    from etl_spark.operators.clean import domain_of

    direct = {
        (r.domain, r.day_id): (r.n_pages, r.text_chars)
        for r in wh.pages.read(spark)
        .select(
            domain_of(F.col("url")).alias("domain"),
            smart_date_id(F.col("warc_ts")).alias("day_id"),
            F.length("text").alias("chars"),
        )
        .groupBy("domain", "day_id")
        .agg(F.count(F.lit(1)).alias("n_pages"), F.sum("chars").alias("text_chars"))
        .collect()
    }
    assert roll == direct


def test_schema_removal_and_rename_are_additive_only(spark, tmp_wh):
    """Pin the non-additive cases the north rule leaves out: a delta
    that DROPS a column does not remove it from the table (a winning
    full-row replace writes null there), and a RENAME is just an add —
    the old column stays, new rows carry null in it. Additive-only,
    explicitly."""
    from etl_spark.pipeline import ingest_epoch

    wh = Warehouse.init(tmp_wh, n_buckets=2)
    url = "https://a.example/evo"
    base = "seq long, epoch long, op string, url string, warc_ts string, html binary"
    with_lang = base + ", lang string"
    with_language = base + ", language string"

    e0 = spark.createDataFrame(
        [(1, 0, "I", url, "2024-01-01 00:00:00", b"<p>v0</p>", "en")], with_lang
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    ingest_epoch(spark, wh, e0, 0, with_rollup=False)
    assert "lang" in wh.pages.read(spark).columns

    # delta WITHOUT lang: column survives, winning row nulls it
    e1 = spark.createDataFrame(
        [(2, 1, "U", url, "2024-01-02 00:00:00", b"<p>v1</p>")], base
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    ingest_epoch(spark, wh, e1, 1, with_rollup=False)
    row = wh.pages.read(spark).collect()[0]
    assert "lang" in wh.pages.read(spark).columns
    assert row.lang is None and row.text == "v1"

    # delta with RENAMED column: additive add; old column remains
    e2 = spark.createDataFrame(
        [(3, 2, "U", url, "2024-01-03 00:00:00", b"<p>v2</p>", "de")], with_language
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    ingest_epoch(spark, wh, e2, 2, with_rollup=False)
    cols = wh.pages.read(spark).columns
    assert "lang" in cols and "language" in cols
    row = wh.pages.read(spark).collect()[0]
    assert row.language == "de" and row.lang is None and row.text == "v2"


def test_failed_stage_leaves_audit_trail(spark, tmp_path):
    """A stage that raises must still land its lineage row (status
    records the exception) and the rows collected so far must be
    flushed — an aborted epoch is visible in the audit table, not
    erased by the crash."""
    import pytest
    from pyspark.sql import functions as F

    from etl_spark.pipeline import Warehouse, ingest_epoch

    wh = Warehouse.init(str(tmp_path / "wh"), n_buckets=2)
    bad = spark.createDataFrame(
        [(1, "I")], "seq long, op string"  # no url/warc_ts/html
    )
    with pytest.raises(Exception):
        ingest_epoch(spark, wh, lambda e: bad, 0)
    lin = wh.lineage.read(spark).collect()
    assert lin, "aborted epoch left no audit trail"
    failed = [r for r in lin if r.status != "ok"]
    assert failed and failed[0].epoch == 0
    # the epoch was NOT marked applied: replay will retry it
    assert 0 not in wh.pages.applied_epochs()


def test_changes_at_scale_payload_byte_contract(spark):
    """The payload knob's contract: 32 bytes of body per unit of
    payload_repeat, with full sub-8 resolution (md5 bodies never need
    escaping, so html length differences are exactly the body delta)."""
    from pyspark.sql import functions as F

    from etl_spark.sources.changelog import changes_at_scale

    def html_len(repeat):
        df = changes_at_scale(spark, 64, payload_repeat=repeat)
        r = (
            df.filter("op != 'D' AND seq = 1")
            .select(F.length("html").alias("n"))
            .first()
        )
        return r.n

    base = html_len(5)
    assert html_len(10) - base == 32 * 5   # linear in the knob
    assert html_len(6) - html_len(5) == 32  # resolution below 8 blocks


def test_changes_at_scale_timestamps_stay_inside_clean_bounds(spark):
    """At 10^10-event scale the generator's timestamps must stay below
    clean's ts < 2100 sanity bound (second-spaced stamps crossed it at
    id ~ 2.4e9, silently dropping the tail of the stream)."""
    import datetime as dt

    from etl_spark.operators.clean import clean_changes
    from etl_spark.sources.changelog import changes_at_scale

    huge = 10_000_000_000
    tail = changes_at_scale(spark, huge, id_range=(huge - 64, huge))
    rows = tail.select("warc_ts").collect()
    assert len(rows) == 64
    assert all(r.warc_ts < dt.datetime(2100, 1, 1) for r in rows)
    # and the clean stage keeps the tail (op mix aside, nothing is
    # dropped for timestamp reasons: cleaned count == valid-op count)
    assert clean_changes(tail).count() > 0
    # strict ordering preserved (LWW depends on it)
    ts = [r.warc_ts for r in tail.orderBy("seq").collect()]
    assert ts == sorted(ts) and len(set(ts)) == len(ts)


def test_cross_parallelism_byte_identity(tmp_path):
    """North-rule scaling criterion, correctness half: the SAME change
    log ingested by two drivers at different parallelism (local[1] vs
    local[4]) must produce BYTE-identical table state — per-url sha256
    over every payload column, not just matching row counts. Runs the
    real CLI in subprocesses so each level gets its own JVM, shuffle
    partitioning, and task layout."""
    import subprocess
    import sys

    import duckdb

    roots = {}
    for cpus in (1, 4):
        root = str(tmp_path / f"wh_{cpus}")
        roots[cpus] = root
        for argv in (
            ["--init", "--warehouse", root, "--n-buckets", "4"],
            [
                "--ingest",
                "--warehouse", root,
                "--source", SF_SMALL,
                "--from-epoch", "0",
                "--to-epoch", "3",
                "--cpus", str(cpus),
            ],
        ):
            proc = subprocess.run(
                [sys.executable, "-m", "etl_spark.main", *argv],
                capture_output=True,
                text=True,
                cwd="/root/repo",
                timeout=600,
            )
            assert proc.returncode == 0, proc.stderr[-2000:]

    def fingerprint(root):
        """Read final table state engine-independently (duckdb over the
        manifest's live files) and hash every payload byte per url."""
        import json
        import os

        root = os.path.join(root, "pages")
        with open(os.path.join(root, "_HEAD")) as fh:
            v = int(fh.read().strip())
        with open(
            os.path.join(root, "_snapshots", f"v{v:06d}.json")
        ) as fh:
            snap = json.load(fh)
        paths = [
            os.path.join(root, p)
            for plist in snap["files"].values()
            for p in plist
        ]
        con = duckdb.connect()
        rows = con.execute(
            """
            SELECT url,
                   md5(
                     concat_ws('|',
                       coalesce(strftime(warc_ts, '%Y-%m-%dT%H:%M:%S.%f'), ''),
                       coalesce(hex(html), ''),
                       coalesce(text, ''),
                       coalesce(lang, ''),
                       coalesce(seq::varchar, '')
                     )
                   ) AS fp
            FROM read_parquet($paths)
            WHERE NOT coalesce(_deleted, false)
            ORDER BY url
            """,
            {"paths": paths},
        ).fetchall()
        con.close()
        return rows

    fp1, fp4 = fingerprint(roots[1]), fingerprint(roots[4])
    assert len(fp1) > 0
    assert fp1 == fp4
