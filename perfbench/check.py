"""Correctness checks, run outside op time.

``pages_check`` compares a pages table with an independent last-writer-
wins fold over every change file applied to it: per url the event with
the greatest (warc_ts, seq) wins, and a winning delete means the url is
absent. DuckDB computes both sides from the parquet files (the table
side from the head manifest's file list), so the check shares no code
with the engine. Both sides reduce to a row count and an
order-independent hash of (url, warc_ts, seq).
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb


def _connect():
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET memory_limit = '1GB'")
    return con


def _sql_list(paths: list[str]) -> str:
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


def reference_digest(change_files: list[str]) -> tuple[int, int]:
    """(live row count, hash) of the LWW fold over ``change_files``."""
    with _connect() as con:
        return con.execute(
            f"""
            WITH ev AS (
                SELECT url, epoch_us(warc_ts) AS ts, seq, op,
                       row_number() OVER (
                           PARTITION BY url ORDER BY warc_ts DESC, seq DESC
                       ) AS rn
                FROM read_parquet({_sql_list(change_files)})
            )
            SELECT count(*), coalesce(sum(hash(url, ts, seq)::HUGEINT), 0)
            FROM ev WHERE rn = 1 AND op <> 'D'
            """
        ).fetchone()


def table_digest(table_root: str) -> tuple[int, int]:
    """(live row count, hash) of the table's head snapshot, read from
    its manifest; fails if a url appears twice."""
    with open(os.path.join(table_root, "_HEAD")) as fh:
        version = int(fh.read().strip())
    with open(os.path.join(table_root, "_snapshots", f"v{version:06d}.json")) as fh:
        manifest = json.load(fh)
    files = [os.path.join(table_root, p) for ps in manifest["files"].values() for p in ps]
    if not files:
        return 0, 0
    with _connect() as con:
        n, n_urls, digest = con.execute(
            f"""
            SELECT count(*), count(DISTINCT url),
                   coalesce(sum(hash(url, epoch_us(warc_ts), seq)::HUGEINT), 0)
            FROM read_parquet({_sql_list(files)}, union_by_name = true)
            WHERE _deleted IS NOT TRUE
            """
        ).fetchone()
    if n != n_urls:
        return -1, digest  # a url stored twice is never a correct table
    return n, digest


def pages_check(table_root: str, change_files: list[str]) -> dict:
    want = reference_digest(change_files)
    got = table_digest(table_root)
    return {"ok": tuple(want) == tuple(got), "want": list(map(str, want)), "got": list(map(str, got))}


def rows_hash(rows) -> str:
    """Order-independent hash of collected Spark rows."""
    return hashlib.sha256("\n".join(sorted(repr(tuple(r)) for r in rows)).encode()).hexdigest()
