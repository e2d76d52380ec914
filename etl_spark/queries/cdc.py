"""CDC engine queries — the north-star path (BASELINE.json north_rule)
exposed through the correctness gate.

``cdc_pages_final`` is the flagship: it runs the REAL pipeline
(tail -> clean -> LWW dedup -> Arrow extract -> bucket-pruned MERGE ->
commit, one epoch at a time, exactly-once) into a scratch warehouse and
returns the final ``pages`` table; the oracle recomputes the same final
state as a single SQL fold over the regenerated change log (global LWW
by (warc_ts, seq) per url, deletes dropped, text reconstructed from the
html template). Matching means the staged, incremental, epoch-at-a-time
engine converges to the exact batch answer — the reference's
replay-equals-reload semantic (/root/reference/main.py:105-147 recast).

``cdc_replay_idempotence`` ingests every epoch TWICE and must produce
the same aggregates — exactly-once under replay (north rule).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_spark.queries import query
from etl_spark.sources.changelog import changes_from_documents, epoch_provider

EVOLVE_EPOCH = 2
N_EPOCHS = 3  # doc_id % 3 + 1 versions -> epochs 0..2

# ---------------------------------------------------------------------------
# Shared oracle fragments: the SQL twin of sources/changelog.py
# (generation arithmetic mirrored 1:1 — keep in sync with that module).
# ---------------------------------------------------------------------------

_ESCAPE = (
    "replace(replace(replace(replace(replace({x}, '&', '&amp;'),"
    " '<', '&lt;'), '>', '&gt;'), '\"', '&quot;'), '''', '&#39;')"
)

_CHANGELOG_CTE = f"""
  base AS (
    SELECT doc_id, text, lang, (doc_id % 3 + 1) AS n_versions
    FROM documents
  ),
  versions AS (
    SELECT b.*, v
    FROM base b, unnest(range(0, b.n_versions)) AS t(v)
  ),
  shaped AS (
    SELECT doc_id, text, v,
      (v = n_versions - 1) AS is_last,
      CASE WHEN doc_id % 10 < 6 THEN 0 ELSE doc_id % 10 END AS domain_id,
      CASE WHEN doc_id % 7 = 0 AND v = n_versions - 1 AND v > 0
           THEN -5 ELSE v * 10 END AS ts_off_min,
      CASE WHEN v = 0 THEN 'I'
           WHEN v = n_versions - 1 AND doc_id % 11 = 0 THEN 'D'
           ELSE 'U' END AS op,
      'Doc ' || doc_id || ' v' || v AS title,
      CASE WHEN v >= {EVOLVE_EPOCH} THEN lang ELSE NULL END AS lang
    FROM versions
  ),
  events_raw AS (
    SELECT doc_id, text, v, is_last, op, title, lang,
           (doc_id * 10 + v)::BIGINT AS seq, v::BIGINT AS epoch,
           'https://site' || domain_id || '.example/doc/' || doc_id AS url,
           TIMESTAMP '2024-01-01 00:00:00'
             + ((doc_id % 1440) + ts_off_min) * INTERVAL 1 MINUTE AS warc_ts,
           '' AS body_suffix
    FROM shaped
    UNION ALL
    SELECT doc_id, text, v, is_last, op, title, lang,
           (doc_id * 10 + v + 5)::BIGINT AS seq, v::BIGINT AS epoch,
           'https://site' || domain_id || '.example/doc/' || doc_id AS url,
           TIMESTAMP '2024-01-01 00:00:00'
             + ((doc_id % 1440) + ts_off_min) * INTERVAL 1 MINUTE AS warc_ts,
           ' dup' AS body_suffix
    FROM shaped WHERE doc_id % 5 = 0 AND is_last
  ),
  changelog AS (
    SELECT seq, epoch, op, url, warc_ts, lang,
      CASE WHEN op = 'D' THEN NULL ELSE
        '<html><head><title>' || title || '</title></head><body><h1>' || title
        || '</h1><p>' || {_ESCAPE.format(x="(text || body_suffix)")}
        || '</p><script>var t=1;</script></body></html>'
      END AS html,
      title, text || body_suffix AS body
    FROM events_raw
  )
"""

# Extracted text of the rendered template: tags -> spaces, entities
# unescaped (roundtrip = identity), whitespace collapsed, stripped.
_EXTRACTED_TEXT = (
    "trim(regexp_replace(title || ' ' || title || ' ' || body, '\\s+', ' ', 'g'))"
)

# The clean stage's SQL twin (operators/clean.py) — the engine folds
# the CLEANED stream, so every oracle fold must too: an event clean
# would drop (e.g. an I/U with null html from a null-text document)
# must not become the oracle's LWW winner.
_CLEANED_CTE = """
  cleaned AS (
    SELECT * FROM changelog
    WHERE op IN ('I','U','D')
      AND url IS NOT NULL AND url LIKE 'https://%' AND length(url) <= 8192
      AND warc_ts IS NOT NULL
      AND warc_ts >= TIMESTAMP '2000-01-01' AND warc_ts < TIMESTAMP '2100-01-01'
      AND seq IS NOT NULL
      AND ((op = 'D') = (html IS NULL))
  )
"""

_FINAL_STATE_CTE = f"""{_CLEANED_CTE},
  ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY url
                                 ORDER BY warc_ts DESC, seq DESC) AS rn
    FROM cleaned
  ),
  final_pages AS (
    SELECT url, warc_ts, {_EXTRACTED_TEXT} AS text, lang
    FROM ranked WHERE rn = 1 AND op <> 'D'
  )
"""


# ---------------------------------------------------------------------------
# The change-log source itself (validates the deterministic generator —
# everything downstream depends on it).
# ---------------------------------------------------------------------------
@query(
    "cdc_changelog",
    oracle=f"""
    WITH {_CHANGELOG_CTE}
    SELECT seq, epoch, op, url, warc_ts, lang,
           CASE WHEN html IS NULL THEN -1 ELSE strlen(html) END AS html_len,
           md5(html) AS html_md5
    FROM changelog
    """,
)
def cdc_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WAL/binlog-shaped synthetic stream (FIXTURES.md §2):
    interleaved I/U/D, LWW-duplicate pairs, stale late events, hot-domain
    skew, lang appearing at the evolve epoch — all seed-free hash
    arithmetic, so any replay at any parallelism regenerates it."""
    log = changes_from_documents(spark, sf_dir, evolve_epoch=EVOLVE_EPOCH)
    return log.select(
        "seq",
        "epoch",
        "op",
        "url",
        "warc_ts",
        "lang",
        F.when(F.col("html").isNull(), F.lit(-1))
        .otherwise(F.length("html"))
        .alias("html_len"),
        F.md5("html").alias("html_md5"),
    )


# ---------------------------------------------------------------------------
# Clean + LWW dedup over the whole log (the staging stage in isolation).
# ---------------------------------------------------------------------------
@query(
    "cdc_lww_winners",
    oracle=f"""
    WITH {_CHANGELOG_CTE},
    {_CLEANED_CTE.strip().rstrip()},
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY url
                                   ORDER BY warc_ts DESC, seq DESC) AS rn
      FROM cleaned
    )
    SELECT url, op AS final_op, warc_ts, seq,
           md5(html) AS html_md5
    FROM ranked WHERE rn = 1
    """,
)
def cdc_lww_winners(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clean (pure Catalyst filter) -> skew-aware LWW dedup via the
    engine's max(struct) operator — one winner per url across the whole
    log. The oracle is the textbook row_number form; matching proves
    the aggregate rewrite (map-side partial, no window sort) is
    semantics-preserving."""
    from etl_spark.operators.clean import clean_changes
    from etl_spark.operators.dedup import lww_dedup

    log = changes_from_documents(spark, sf_dir, evolve_epoch=EVOLVE_EPOCH)
    winners = lww_dedup(clean_changes(log), ["url"], ["warc_ts", "seq"])
    return winners.select(
        "url",
        F.col("op").alias("final_op"),
        "warc_ts",
        "seq",
        F.md5("html").alias("html_md5"),
    )


def _ingest_all(spark: SparkSession, sf_dir: str, replay: bool = False):
    """Run the real engine over every epoch into a scratch warehouse.

    The scratch root is removed at interpreter exit (atexit, not
    inline: the returned warehouse's DataFrames read the table files
    lazily until the caller's collect) — without it every cdc query
    execution leaked a full pages+rollup copy under /tmp."""
    import atexit
    import shutil

    from etl_spark.pipeline import Warehouse, ingest_range

    root = tempfile.mkdtemp(prefix="etl_spark_wh_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    wh = Warehouse.init(os.path.join(root, "wh"))
    provider = epoch_provider(spark, sf_dir, evolve_epoch=EVOLVE_EPOCH)
    ingest_range(spark, wh, provider, range(N_EPOCHS))
    if replay:  # second full pass: every epoch must be skipped
        ingest_range(spark, wh, provider, range(N_EPOCHS))
    return wh


# ---------------------------------------------------------------------------
# THE FLAGSHIP: staged incremental engine == one-shot SQL fold.
# ---------------------------------------------------------------------------
@query(
    "cdc_pages_final",
    oracle=f"""
    WITH {_CHANGELOG_CTE}, {_FINAL_STATE_CTE}
    SELECT url, warc_ts, text, lang FROM final_pages
    """,
)
def cdc_pages_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end: ingest epochs 0..2 through clean -> dedup -> Arrow
    extract -> bucket-pruned MERGE (schema evolving at epoch 2), then
    read the pages table back. Byte-identical `text` per url vs the
    SQL-reconstructed extraction is the per-row invariant
    (BASELINE.json input_hint)."""
    wh = _ingest_all(spark, sf_dir)
    return wh.pages.read(spark).select("url", "warc_ts", "text", "lang")


@query(
    "cdc_replay_idempotence",
    oracle=f"""
    WITH {_CHANGELOG_CTE}, {_FINAL_STATE_CTE}
    SELECT COUNT(*) AS n_pages,
           COUNT(DISTINCT url) AS n_urls,
           SUM(length(text))::BIGINT AS total_text_chars,
           COUNT(lang) AS n_lang_set
    FROM final_pages
    """,
)
def cdc_replay_idempotence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every epoch applied TWICE; second pass must be a no-op (applied-
    epoch bookkeeping in the snapshot — the ON CONFLICT DO NOTHING
    analog). Aggregates over the doubly-replayed table still equal the
    single-pass oracle: exactly-once."""
    wh = _ingest_all(spark, sf_dir, replay=True)
    pages = wh.pages.read(spark)
    return pages.agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.countDistinct("url").alias("n_urls"),
        F.sum(F.length("text")).alias("total_text_chars"),
        F.count("lang").alias("n_lang_set"),
    )


@query(
    "cdc_time_range_scan",
    oracle=f"""
    WITH {_CHANGELOG_CTE}, {_FINAL_STATE_CTE}
    SELECT url, warc_ts, text FROM final_pages
    WHERE warc_ts BETWEEN TIMESTAMP '2024-01-01 06:00:00'
                      AND TIMESTAMP '2024-01-01 18:00:00'
    """,
)
def cdc_time_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's bread-and-butter read (time-window scan,
    /root/reference/benchmarks/queries/cell/cell_query.sql:11-14)
    against the lake table's manifest-pruned path: ``read(time_range=)``
    skips files whose per-file [min, max] event-time bounds (recorded
    at commit by ``write_bucket_file``, which clusters each file on the
    event time) fall outside the window, then the same BETWEEN predicate filters rows. Matching
    the full-ingest oracle fold proves pruning never drops a row
    (tests/test_file_pruning.py proves it actually skips files)."""
    import datetime as dt

    wh = _ingest_all(spark, sf_dir)
    lo = dt.datetime(2024, 1, 1, 6, 0, 0)
    hi = dt.datetime(2024, 1, 1, 18, 0, 0)
    pages = wh.pages.read(spark, time_range=(lo, hi))
    return pages.filter(F.col("warc_ts").between(lo, hi)).select(
        "url", "warc_ts", "text"
    )


@query(
    "cdc_rollup_domain",
    oracle=f"""
    WITH {_CHANGELOG_CTE}, {_FINAL_STATE_CTE}
    SELECT regexp_extract(url, 'https://([^/]+)/', 1) AS domain,
           (EXTRACT(year FROM warc_ts)*10000 + EXTRACT(month FROM warc_ts)*100
              + EXTRACT(day FROM warc_ts))::INT AS day_id,
           COUNT(*) AS n_pages,
           SUM(length(text))::BIGINT AS text_chars
    FROM final_pages
    GROUP BY domain, day_id
    """,
)
def cdc_rollup_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The conformed rollup layer (successor of the reference's
    fact_cell rollups): per-(domain, day) aggregates maintained
    incrementally as bucket-partial aggregates and finalized at read
    time — here compared against a full recompute from final state."""
    from etl_spark.operators.rollup import read_rollup

    wh = _ingest_all(spark, sf_dir)
    return read_rollup(spark, wh.rollup).select(
        "domain", "day_id", "n_pages", "text_chars"
    )


# ---------------------------------------------------------------------------
# The streaming watermarked aggregate, driver-proven via bounded batch
# execution: F.window(warc_ts, '1 hour') is the exact expression tree
# streaming/ingest.windowed_domain_counts attaches behind the watermark
# (withWatermark is a no-op on a bounded input, so the plan below IS
# the streaming plan minus state bookkeeping). The oracle re-derives
# the tumbling-window boundaries as epoch-microsecond integer division
# (Spark aligns 1h windows to the epoch origin) and the distinct-url
# count runs EXACT on both sides (exact_distinct=True here; the
# unbounded streaming form keeps the HLL sketch for bounded state —
# count_distinct is not legal in a streaming aggregation anyway).
# ---------------------------------------------------------------------------
@query(
    "windowed_domain_counts",
    oracle=f"""
    WITH {_CHANGELOG_CTE},
    {_CLEANED_CTE.strip().rstrip()}
    SELECT
      make_timestamp((epoch_us(warc_ts) // 3600000000) * 3600000000)
        AS window_start,
      make_timestamp(((epoch_us(warc_ts) // 3600000000) + 1) * 3600000000)
        AS window_end,
      regexp_extract(url, 'https://([^/]+)/', 1) AS domain,
      COUNT(*) AS n_events,
      COUNT(DISTINCT url) AS n_urls
    FROM cleaned
    GROUP BY window_start, window_end, domain
    """,
)
def windowed_domain_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(domain, 1h event-time window) stream rollup — count +
    distinct urls — executed in batch over the full bounded change log
    (SURVEY §2.10; the streaming twin runs the identical function
    inside the micro-batch driver with a 2h watermark and the
    approx-distinct sketch)."""
    from etl_spark.operators.clean import clean_changes
    from etl_spark.streaming.ingest import windowed_domain_counts as wdc

    log = changes_from_documents(spark, sf_dir, evolve_epoch=EVOLVE_EPOCH)
    out = wdc(clean_changes(log), exact_distinct=True)
    # deterministic presentation order is the caller's job in batch
    return out.orderBy("window_start", "domain").withColumnRenamed(
        "approx_urls", "n_urls"
    )
