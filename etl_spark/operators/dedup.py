"""Last-writer-wins dedup — the CDC successor of the reference's
per-group "most recent / most frequent" voting
(/root/reference/etl/trajectory/builder.py:378-390) — plus the
skew-aware two-phase variant (successor of the reference's kd-tree
data-balanced partitioning, /root/reference/etl/partition_builder/
02_kd_tree_construction.sql:1-68: both derive a balancing plan from
observed key counts).

Scale notes
-----------
Plain LWW is one shuffle on the key (window ``row_number``). At 10^10
events a hot key (one URL re-crawled millions of times in an epoch)
makes one reducer the straggler. The two-phase form salts the key with
``pmod(xxhash64(seq), S)``, picks a winner per (key, salt) with a
map-side-friendly ``max(struct(...))`` aggregation, then re-aggregates
winners across salts — the classic partial/final split, so no reducer
ever sees more than ~1/S of a hot key's rows. Salting is driven by the
epoch's hottest-key count (:func:`delta_stats`), so an epoch with no
hot key skips the extra pass.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _order_struct(df: DataFrame, order_cols: list[str]) -> F.Column:
    """max() over this struct == the last writer; payload rides along.

    The payload struct participates in the comparison ON PURPOSE: when
    two events tie on every order col (same url, warc_ts, seq but
    different bytes — possible only for callers that bypass clean()'s
    dedup), the byte-wise larger payload wins, making the outcome a
    pure function of the event SET. That content-determinism is what
    the replay-convergence property (random epoch splits == global
    fold) rests on; max_by or row_number would break ties by partition
    order instead. Corollary: every payload column must be an orderable
    type (true for the pages schema; adding e.g. a MapType column would
    need an explicit exclusion here)."""
    return F.struct(*[F.col(c) for c in order_cols], F.struct(*df.columns).alias("_row"))


def lww_dedup(df: DataFrame, key_cols: list[str], order_cols: list[str]) -> DataFrame:
    """Keep the last writer per key: the single-shuffle baseline.

    ``max(struct(order..., row))`` instead of a window ``row_number``:
    an aggregate gets a map-side partial (partial_max per input
    partition) for free, so even the un-salted path is skew-resistant
    up to the final single-row-per-key reduce. Deterministic total
    order required: ``order_cols`` must be a tiebreak-complete list
    (e.g. [warc_ts, seq]).
    """
    cols = df.columns
    winners = df.groupBy(*key_cols).agg(F.max(_order_struct(df, order_cols)).alias("_w"))
    return winners.select([F.col(f"_w._row.{c}").alias(c) for c in cols])


def lww_dedup_window(df: DataFrame, key_cols: list[str], order_cols: list[str]) -> DataFrame:
    """Window-based LWW (row_number == 1) — the textbook form; kept for
    oracle parity tests. Prefer :func:`lww_dedup` on big data (aggregate
    gets partial combine; window does not)."""
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).desc() for c in order_cols])
    return (
        df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )


def salted_lww_dedup(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    n_salts: int = 16,
    salt_source: str | None = None,
) -> DataFrame:
    """Two-phase LWW for hot keys.

    Phase 1 groups by (key, salt) — hot keys spread over ``n_salts``
    reducers; phase 2 re-reduces the per-salt winners (n_salts rows per
    key, trivial). ``salt_source``: a column making the salt
    deterministic (default: last order col), so replays produce
    identical partitioning.
    """
    src = salt_source or order_cols[-1]
    cols = df.columns
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(F.col(src)), F.lit(n_salts)))
    phase1 = (
        salted.groupBy(*key_cols, "_salt")
        .agg(F.max(_order_struct(df, order_cols)).alias("_w"))
    )
    phase2 = phase1.groupBy(*key_cols).agg(F.max("_w").alias("_w"))
    return phase2.select([F.col(f"_w._row.{c}").alias(c) for c in cols])


class DeltaStats(NamedTuple):
    touched: list[int]      # bucket ids containing changed keys
    n_keys: int             # distinct keys in the delta
    max_key_n: int          # hottest key's row count (salting trigger)
    n_events: int           # total event rows (throughput metric input)
    max_ts: object | None   # newest event time (lag metric input)


def delta_stats(
    df, key_cols: list[str], n_buckets: int, ts_col: str | None = None
) -> DeltaStats:
    """One light pre-pass over the cleaned delta: touched buckets,
    distinct-key count, hottest-key row count — plus, for free on the
    same aggregation, the event count and (when ``ts_col`` is given)
    the newest event time, which the lineage metrics row turns into
    events/sec and end-to-end event-time lag per epoch.

    Two-level aggregation — groupBy(bucket, key).count() then
    groupBy(bucket) — so the shuffle carries one long per key and the
    driver receives at most n_buckets rows, and the delta payload is
    never cached: at 10^10 events caching it is the wrong move
    (columnar-cache build + eviction dwarf a recompute); bounded stats
    + a single streamed full pass is the shape that scales.
    """
    from etl_spark.lake.table import BUCKET_COL, bucket_expr

    key_aggs = [F.count(F.lit(1)).alias("_n")]
    if ts_col is not None:
        key_aggs.append(F.max(ts_col).alias("_max_ts"))
    per_key = (
        df.groupBy(
            bucket_expr(key_cols, n_buckets).alias(BUCKET_COL), *key_cols
        ).agg(*key_aggs)
    )
    bucket_aggs = [
        F.count(F.lit(1)).alias("n_keys"),
        F.max("_n").alias("max_n"),
        F.sum("_n").alias("n_events"),
    ]
    if ts_col is not None:
        bucket_aggs.append(F.max("_max_ts").alias("max_ts"))
    rows = per_key.groupBy(BUCKET_COL).agg(*bucket_aggs).collect()
    touched = [int(r[BUCKET_COL]) for r in rows]
    n_keys = int(sum(r["n_keys"] for r in rows))
    max_n = int(max((r["max_n"] for r in rows), default=0))
    n_events = int(sum(r["n_events"] for r in rows))
    max_ts = None
    if ts_col is not None:
        tss = [r["max_ts"] for r in rows if r["max_ts"] is not None]
        max_ts = max(tss) if tss else None
    return DeltaStats(touched, n_keys, max_n, n_events, max_ts)
