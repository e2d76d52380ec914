"""Wall time and Spark job count of the maintenance rewrites.

Builds the perfbench ``ingest_bulk`` preload (8,000 urls, 16 buckets)
plus 3 update epochs of 4,000 events (with deletes), fragments the
lineage table with 40 more one-row flushes, then times, each under its
own job group:

* ``compact``: ``lineage.compact_files(max_files=0)``;
* ``expire``: ``pages.expire_tombstones`` past every marker;
* ``rebucket``: ``pages.rebucket`` 16 -> 32.

Usage (from the repository root; ~30 s on 4 cores):
    python -m bench.maintenance --seed 11

Prints one JSON line: ``[seconds, jobs]`` per op, plus the pages
table's row count and an order-independent hash after all three, so
two trees' runs can be checked for the same result. Compare two trees
by running each from its own checkout, alternating which goes first.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--seed", type=int, default=11)
    args = p.parse_args()

    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    from gen import ChangeGenerator, Shape
    from pyspark.sql import functions as F

    from etl_spark import pipeline
    from etl_spark import schema as S
    from etl_spark.lineage import LineageLog
    from etl_spark.session import get_spark

    spark = get_spark(
        "maintenance", parallelism=4,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    sc = spark.sparkContext
    root = tempfile.mkdtemp(prefix="bench_maint_")
    gen = ChangeGenerator(args.seed, Shape(n_keys=8_000, events_per_epoch=4_000))
    files = [gen.write_epoch(root, e) for e in range(4)]
    wh = pipeline.Warehouse.init(os.path.join(root, "wh"), n_buckets=16)
    for e in range(4):
        pipeline.ingest_epoch(
            spark, wh,
            lambda ep: spark.read.schema(S.CHANGES_SCHEMA).parquet(files[ep]), e,
        )
    for i in range(40):
        log = LineageLog(wh.lineage)
        with log.stage(100 + i, "pad") as rec:
            rec["rows_in"] = i
        log.flush(spark)

    def timed(name, fn):
        sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return [
            round(time.perf_counter() - t0, 3),
            len(sc.statusTracker().getJobIdsForGroup(name)),
        ]

    out = {
        "seed": args.seed,
        "lineage_files": sum(len(p) for p in wh.lineage.snapshot().files.values()),
    }
    out["compact"] = timed(
        "compact", lambda: wh.lineage.compact_files(spark, max_files=0)
    )
    out["expire"] = timed(
        "expire",
        lambda: wh.pages.expire_tombstones(spark, "2100-01-01 00:00:00", "warc_ts"),
    )
    out["rebucket"] = timed("rebucket", lambda: wh.pages.rebucket(spark, 32))
    pages = wh.pages.read(spark, include_deleted=True)
    n, digest = pages.select(
        F.count("*"), F.bit_xor(F.xxhash64(*pages.columns))
    ).collect()[0]
    out["pages"] = [n, digest]
    print(json.dumps(out), flush=True)
    spark.stop()
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
