"""Staging clean — successor of the reference's cleaning stage
(/root/reference/etl/cleaning/clean_data.py:123-159): multi-predicate
sanity filter (F1), lossy casts (F3), timestamp normalization (F4),
sentinel normalization (F5), null-fill (F6) — all pure Catalyst
expressions so every predicate pushes into the scan.

The reference's rules (Draught < 28.5 OR null, Width < 75, MMSI range,
mobile-type allow-list) recast onto change events: op allow-list,
url shape, payload-presence-by-op, ts bounds; null-tolerant the same
way (a null draught passes in the reference; a null lang passes here).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

VALID_OPS = ("I", "U", "D")
# Sanity bound, reference-style magic guard (clean_data.py:140-148 keeps
# hand-written plausibility constants; ours: crawl ts within [2000, 2100)).
TS_LO, TS_HI = "2000-01-01 00:00:00", "2100-01-01 00:00:00"
MAX_URL_LEN = 8192


@dataclass
class CleanResult:
    df: DataFrame


def clean_changes(changes: DataFrame) -> DataFrame:
    """Single Catalyst filter chain; no UDFs, fully pushed down."""
    # sentinel normalization only applies to a STRING lang: a delta
    # arriving with a drifted type (e.g. lang as bigint) must not make
    # the ANSI-mode isin() cast 'Unknown' to a number and explode — the
    # drifted values pass through here and are cast to the table's
    # authoritative type at merge (merge_epoch_spj).
    has_lang = any(
        f.name == "lang" and f.dataType.simpleString() == "string"
        for f in changes.schema.fields
    )
    url = F.col("url")
    df = changes.filter(
        F.col("op").isin(*VALID_OPS)
        & url.isNotNull()
        & url.startswith("https://")
        & (F.length(url) <= MAX_URL_LEN)
        # java.net.URI must parse it: domain_of raises on an unparsable
        # url (ANSI parse_url), after the row would already be stored
        & F.try_parse_url(url, F.lit("PROTOCOL")).isNotNull()
        & F.col("warc_ts").isNotNull()
        & (F.col("warc_ts") >= F.to_timestamp(F.lit(TS_LO)))
        & (F.col("warc_ts") < F.to_timestamp(F.lit(TS_HI)))
        & F.col("seq").isNotNull()
        # payload presence rule: D carries no html, I/U must carry one
        & ((F.col("op") == "D") == F.col("html").isNull())
    )
    if has_lang:
        # sentinel normalization (F5 analog: 'Unknown'/'Undefined' -> null)
        df = df.withColumn(
            "lang",
            F.when(
                F.col("lang").isin("Unknown", "Undefined", ""), F.lit(None)
            ).otherwise(F.col("lang")),
        )
    return df


def domain_of(url_col) -> F.Column:
    """Domain extraction — the CDC analog of the reference's MMSI->MID
    prefix key (/root/reference/etl/insert/dimensions/
    ship_dimension.py:44-47); JVM-side parse_url."""
    return F.parse_url(url_col, F.lit("HOST"))
