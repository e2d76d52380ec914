"""The three closed-loop workloads: setup, one timed op, and the check.

Every workload runs in one driver process on ``local[cores]``. Setup
generates all inputs from the seed, builds the warehouse, and runs
warm-up ops; the timed loop then starts the next op when the previous
one returns, the way ``ingest_range`` and a ``foreachBatch`` drain run.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from check import pages_check, rows_hash
from gen import BASE_US, EPOCH_US, ChangeGenerator, Shape

N_BUCKETS = 16
KEEP_SNAPSHOTS = 2
# ingest warm-up epochs after the preload; a fixed count, so every run
# starts timing at the same place on the JIT warm-up slope
WARMUP_EPOCHS = 3
# epochs that build the lake_queries warehouse after its preload
BUILD_EPOCHS = 1


@dataclass
class Bench:
    """What one run shares between setup, ops and the check."""

    spark: object
    run_dir: str
    seed: int
    seconds: float
    cores: int
    tracer: object = None
    notes: dict = field(default_factory=dict)

    def phase(self, phase: str, op=None) -> None:
        if self.tracer is not None:
            self.tracer.phase, self.tracer.op = phase, op

    def span(self, name: str):
        if self.tracer is None:
            from contextlib import nullcontext

            return nullcontext()
        return self.tracer.span(name)


def _init_warehouse(b: Bench):
    from etl_spark.pipeline import Warehouse

    wh = Warehouse.init(os.path.join(b.run_dir, "wh"), n_buckets=N_BUCKETS)
    if b.tracer is not None:
        from spans import instrument

        instrument(b.tracer, wh)
    return wh


def _expire(wh) -> None:
    """Maintenance between ops, outside op time: keeps disk bounded."""
    for table in (wh.pages, wh.rollup, wh.lineage):
        table.expire_snapshots(keep_last=KEEP_SNAPSHOTS, orphan_grace_s=0)


class _Changes:
    """Change files on disk plus the per-epoch reader the pipeline calls."""

    def __init__(self, b: Bench, gen: ChangeGenerator, n_epochs: int):
        from etl_spark import schema as S

        out = os.path.join(b.run_dir, "changes")
        os.makedirs(out)
        self.files = [gen.write_epoch(out, e) for e in range(n_epochs)]
        self.bytes = [os.path.getsize(f) for f in self.files]
        self.rows = [pq.ParquetFile(f).metadata.num_rows for f in self.files]
        self._read = lambda e: b.spark.read.schema(S.CHANGES_SCHEMA).parquet(self.files[e])
        if b.tracer is not None:
            self._read = b.tracer.wrap(self._read, "sources.read")

    def __call__(self, epoch: int):
        return self._read(epoch)


# -- queries --------------------------------------------------------------


@dataclass(frozen=True)
class Query:
    name: str
    params: tuple = ()


def query_set(b: Bench, wh, gen: ChangeGenerator, last_epoch: int) -> list[Query]:
    """The seeded read mix over a warehouse ingested up to ``last_epoch``."""
    from pyspark.sql import functions as F

    from etl_spark.lake.table import bucket_expr

    rng = np.random.default_rng([b.seed, 2])
    span_us = (last_epoch + 2) * EPOCH_US
    slices = []
    for lo_off in rng.integers(0, span_us - EPOCH_US // 2, 3):
        lo = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(BASE_US + lo_off))
        hi = lo + dt.timedelta(minutes=30)
        slices.append(Query("pages_time_slice", (lo.isoformat(" "), hi.isoformat(" "))))
    urls = [str(gen.urls[k]) for k in rng.integers(0, len(gen.urls), 3)]
    bucket_of = dict(
        b.spark.createDataFrame([(u,) for u in urls], "url string")
        .select("url", bucket_expr(["url"], N_BUCKETS).alias("b"))
        .collect()
    )
    lookups = [Query("pages_lookup", (int(bucket_of[u]), u)) for u in urls]
    return [
        Query("pages_scan"),
        *slices,
        *lookups,
        Query("rollup_final"),
        Query("pages_exact_dups"),
    ]


def run_query(spark, wh, q: Query) -> list:
    from pyspark.sql import functions as F

    from etl_spark.operators.clean import domain_of
    from etl_spark.operators.dedup_text import exact_dup_groups
    from etl_spark.operators.rollup import read_rollup

    if q.name == "pages_scan":
        df = (
            wh.pages.read(spark)
            .groupBy(domain_of(F.col("url")).alias("domain"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum(F.length("text")).alias("chars"))
        )
    elif q.name == "pages_time_slice":
        lo, hi = q.params
        df = (
            wh.pages.read(spark, time_range=(lo, hi))
            .filter(F.col("warc_ts").between(F.to_timestamp(F.lit(lo)), F.to_timestamp(F.lit(hi))))
            .agg(F.count(F.lit(1)).alias("n"), F.sum(F.length("text")).alias("chars"), F.max("url"))
        )
    elif q.name == "pages_lookup":
        bucket, url = q.params
        df = (
            wh.pages.read(spark, buckets=[bucket])
            .filter(F.col("url") == url)
            .select("url", "warc_ts", "seq", F.length("text").alias("chars"))
        )
    elif q.name == "rollup_final":
        df = read_rollup(spark, wh.rollup)
    elif q.name == "pages_exact_dups":
        df = exact_dup_groups(wh.pages.read(spark), "url", "text").filter(F.col("n_copies") > 1)
    else:
        raise ValueError(q.name)
    return df.collect()


def traced_read_pass(b: Bench, wh, queries: list[Query]) -> None:
    """Traced run only: one execution of each read, outside timing, so
    the read-layer metrics exist on every workload."""
    for i, q in enumerate(queries):
        b.phase("readpass", i)
        with b.span(f"query.{q.name}"):
            run_query(b.spark, wh, q)
    files_ratio(b, wh, queries)


def files_ratio(b: Bench, wh, queries: list[Query]) -> None:
    """Files a time-slice read opens over files in the snapshot."""
    b.phase("post")
    lo, hi = next(q.params for q in queries if q.name == "pages_time_slice")
    n_read = len(wh.pages.read(b.spark, time_range=(lo, hi)).inputFiles())
    n_all = sum(len(p) for p in wh.pages.snapshot().files.values())
    b.notes["files_ratio.pages_time_slice"] = n_read / n_all


# -- the timed loop -------------------------------------------------------


@dataclass
class Timed:
    times: list[float]
    units: list[float]  # per op: events applied (ingest) or queries answered
    failed: int

    def rate_p50(self) -> float:
        """Median over ops of units of work per second of the op."""
        return statistics.median(u / t for u, t in zip(self.units, self.times))


def closed_loop(
    b: Bench, n_available: int, op, between=None, cycle: int = 1, stop_on_failure: bool = False
) -> Timed:
    """Run ``op(i)`` back to back for ``b.seconds``, finishing the
    current cycle of ``cycle`` ops; ``op`` returns its units of work.
    A failed op is counted; ``stop_on_failure`` ends the loop there."""
    times, units, failed, i = [], [], 0, 0
    deadline = time.perf_counter() + b.seconds
    while i < n_available and (time.perf_counter() < deadline or i % cycle):
        b.phase("timed", i)
        t0 = time.perf_counter()
        try:
            n = op(i)
        except Exception:
            traceback.print_exc()
            failed += 1
            if stop_on_failure:
                break
        else:
            times.append(time.perf_counter() - t0)
            units.append(n)
        i += 1
        if between is not None:
            b.phase("maint", i - 1)
            between(i - 1)
    if i == n_available and time.perf_counter() < deadline:
        print(f"input pool of {n_available} ops ran out before the deadline", file=sys.stderr)
    return Timed(times, units, failed)


# -- workloads ------------------------------------------------------------


@dataclass
class IngestWorkload:
    """Update epochs over a table preloaded with its whole key space."""

    shape: Shape
    op_floor_s: float  # sizes the input pool: seconds / op_floor_s epochs

    def setup(self, b: Bench) -> None:
        self.spark = b.spark
        t0 = time.perf_counter()
        self.gen = ChangeGenerator(b.seed, self.shape)
        n_pool = WARMUP_EPOCHS + math.ceil(b.seconds / self.op_floor_s)
        self.changes = _Changes(b, self.gen, 1 + n_pool)
        self.wh = _init_warehouse(b)
        self.applied = 0
        t1 = time.perf_counter()
        b.phase("setup", 0)
        self._ingest()
        b.notes["gen_s"], b.notes["preload_s"] = t1 - t0, time.perf_counter() - t1
        warm = []
        for _ in range(WARMUP_EPOCHS):
            b.phase("maint", None)
            _expire(self.wh)
            b.phase("setup", self.applied)
            t0 = time.perf_counter()
            self._ingest()
            warm.append(time.perf_counter() - t0)
        b.phase("maint", None)
        _expire(self.wh)
        b.notes["warmup_op_s"] = warm
        self.first_timed = self.applied

    def _ingest(self) -> int:
        """Apply the next epoch; returns its number of change events."""
        from etl_spark import pipeline

        e = self.applied
        pipeline.ingest_epoch(self.spark, self.wh, self.changes, e)
        self.applied += 1
        return self.changes.rows[e]

    def run(self, b: Bench) -> Timed:
        return closed_loop(
            b,
            len(self.changes.files) - self.first_timed,
            lambda i: self._ingest(),
            between=lambda i: _expire(self.wh),
            stop_on_failure=True,  # later epochs would build on a broken one
        )

    def check(self, b: Bench) -> bool:
        res = pages_check(self.wh.pages.root, self.changes.files[: self.applied])
        b.notes["check"] = res
        b.notes["epochs_applied"] = self.applied
        return res["ok"]

    def trace_extra(self, b: Bench) -> None:
        traced_read_pass(b, self.wh, query_set(b, self.wh, self.gen, self.applied - 1))

    def epoch_sample(self) -> tuple[str, dict]:
        """(phase of the pipeline spans that form the per-epoch sample,
        op id -> change-file bytes of that op)."""
        timed = range(self.first_timed, self.applied)
        return "timed", {e - self.first_timed: self.changes.bytes[e] for e in timed}


@dataclass
class QueryWorkload:
    """Reads on a warehouse (pages + rollup + lineage) built by ingest."""

    shape: Shape

    def setup(self, b: Bench) -> None:
        from etl_spark import pipeline

        self.gen = ChangeGenerator(b.seed, self.shape)
        self.changes = _Changes(b, self.gen, 1 + BUILD_EPOCHS)
        self.wh = _init_warehouse(b)
        for e in range(1 + BUILD_EPOCHS):
            b.phase("setup", e)
            pipeline.ingest_epoch(b.spark, self.wh, self.changes, e)
            b.phase("maint", e)
            _expire(self.wh)
        b.phase("setup", None)
        self.queries = query_set(b, self.wh, self.gen, BUILD_EPOCHS)
        self.want = {q: rows_hash(run_query(b.spark, self.wh, q)) for q in self.queries}
        # the timed sequence: seeded order, every query once per cycle
        order = np.random.default_rng([b.seed, 3]).permutation(len(self.queries))
        self.sequence = [self.queries[i] for i in order]
        for q in self.sequence:  # warm-up ops: one more pass, checked
            if rows_hash(run_query(b.spark, self.wh, q)) != self.want[q]:
                raise AssertionError(f"{q} is not deterministic")

    def run(self, b: Bench) -> Timed:
        self.mismatch = 0

        def op(i):
            q = self.sequence[i % len(self.sequence)]
            with b.span(f"query.{q.name}"):
                rows = run_query(b.spark, self.wh, q)
            if rows_hash(rows) != self.want[q]:
                self.mismatch += 1
                raise AssertionError(f"{q} returned a different result than in setup")
            return 1

        return closed_loop(b, 1 << 30, op, cycle=len(self.sequence))

    def check(self, b: Bench) -> bool:
        res = pages_check(self.wh.pages.root, self.changes.files)
        b.notes["check"] = res
        return res["ok"] and self.mismatch == 0

    def trace_extra(self, b: Bench) -> None:
        files_ratio(b, self.wh, self.queries)

    def epoch_sample(self) -> tuple[str, dict]:
        return "setup", {e: self.changes.bytes[e] for e in range(1, 1 + BUILD_EPOCHS)}


WORKLOADS = {
    "ingest_bulk": IngestWorkload(Shape(n_keys=8_000, events_per_epoch=4_000), op_floor_s=1.0),
    "ingest_trickle": IngestWorkload(Shape(n_keys=4_000, events_per_epoch=200), op_floor_s=0.5),
    "lake_queries": QueryWorkload(Shape(n_keys=8_000, events_per_epoch=2_000)),
}


def steady(times: list[float]) -> float:
    """Relative gap between the medians of the first and second half."""
    h = len(times) // 2
    if h == 0:
        return 0.0
    a, c = statistics.median(times[:h]), statistics.median(times[h:])
    return abs(c - a) / a
