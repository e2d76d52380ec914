"""CLI driver — the spark-submit entry point.

    spark-submit --py-files etl_spark.zip -m etl_spark.main ...   (cluster)
    python -m etl_spark.main --init --warehouse /data/wh          (local)

Successor of the reference's main.py CLI (/root/reference/main.py:22-49:
--init / --load --from_date --to_date) with epochs in place of dates:

  --init                         bootstrap the warehouse (DDL analog)
  --ingest --from-epoch A --to-epoch B   batch epoch loop (resumable;
                                 already-applied epochs skip)
  --stream --source DIR          Structured Streaming driver
                                 (AvailableNow, exactly-once)
  --rollback --to-version V      snapshot rollback
  --status                       table + lineage summary

On a real cluster the session comes from spark-submit's conf (master,
executor counts, shuffle partitions); locally get_spark supplies
local[N] with scaled defaults.
"""

from __future__ import annotations

import argparse
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="etl_spark")
    p.add_argument("--warehouse", required=True, help="warehouse root path")
    p.add_argument("--init", action="store_true")
    p.add_argument("--ingest", action="store_true")
    p.add_argument("--stream", action="store_true")
    p.add_argument("--rollback", action="store_true")
    p.add_argument("--status", action="store_true")
    p.add_argument(
        "--rebucket",
        type=int,
        metavar="N",
        help="partition evolution: rewrite pages into N buckets and rebuild rollup partials",
    )
    p.add_argument(
        "--compact",
        action="store_true",
        help="collapse lineage/audit file fragmentation (one file per bucket)",
    )
    p.add_argument(
        "--expire-tombstones",
        metavar="TS",
        help="GC delete markers with warc_ts older than this timestamp (the late-event horizon)",
    )
    p.add_argument("--source", help="change-log dir (stream) or sf dir (ingest)")
    p.add_argument("--from-epoch", type=int, default=0)
    p.add_argument("--to-epoch", type=int, default=3)
    p.add_argument("--to-version", type=int)
    p.add_argument("--checkpoint", help="streaming checkpoint dir")
    p.add_argument("--n-buckets", type=int, default=16)
    p.add_argument("--cpus", type=int, default=None)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from etl_spark.pipeline import Warehouse

    if args.init:
        Warehouse.init(args.warehouse, n_buckets=args.n_buckets)
        print(f"initialized warehouse at {args.warehouse}")
        return 0

    from etl_spark.session import get_spark

    spark = get_spark("etl_spark_main", parallelism=args.cpus)
    wh = Warehouse.open(args.warehouse)

    if args.ingest:
        if not args.source:
            raise SystemExit("--ingest requires --source (sf dir)")
        from etl_spark.pipeline import ingest_range
        from etl_spark.sources.changelog import epoch_provider

        provider = epoch_provider(spark, args.source)
        stats = ingest_range(
            spark, wh, provider, range(args.from_epoch, args.to_epoch)
        )
        for s in stats:
            print(
                f"epoch {s.epoch}: "
                + ("skipped (already applied)" if s.skipped else
                   f"{s.delta_rows} keys, {s.touched_buckets} buckets, v{s.version}")
            )
        return 0

    if args.stream:
        if not (args.source and args.checkpoint):
            raise SystemExit("--stream requires --source and --checkpoint")
        from etl_spark.streaming.ingest import stream_ingest

        q = stream_ingest(spark, wh, args.source, args.checkpoint)
        q.awaitTermination()
        print("stream drained (AvailableNow)")
        return 0

    if args.rollback:
        if args.to_version is None:
            raise SystemExit("--rollback requires --to-version")
        wh.pages.rollback(args.to_version)
        print(f"pages table now at v{args.to_version}")
        return 0

    if args.rebucket is not None:
        from etl_spark.pipeline import rebucket_warehouse

        rebucket_warehouse(spark, wh, args.rebucket)
        print(f"pages rebucketed to {args.rebucket}; rollup partials rebuilt")
        return 0

    if args.compact:
        from etl_spark.pipeline import compact_warehouse

        snap = compact_warehouse(spark, wh)
        print(f"lineage compacted: now {sum(len(p) for p in snap.files.values())} files")
        return 0

    if args.expire_tombstones:
        from etl_spark.pipeline import expire_warehouse_tombstones

        snap = expire_warehouse_tombstones(spark, wh, args.expire_tombstones)
        print(f"tombstones expired; pages at v{snap.version}")
        return 0

    if args.status:
        snap = wh.pages.snapshot()
        print(f"pages: v{snap.version}, epochs applied: {snap.applied_epochs}")
        print(f"buckets with data: {sum(1 for v in snap.files.values() if v)}/{snap.n_buckets}")
        print(f"rows: {wh.pages.row_count(spark)}")
        lin = wh.lineage.read(spark)
        if not lin.isEmpty():  # head-probe, not a full count scan
            lin.orderBy("epoch", "stage").show(50, truncate=False)
        return 0

    build_parser().print_help()
    return 1


if __name__ == "__main__":
    sys.exit(main())
