"""Physical-plan audit: dump .explain('formatted') for the headline
queries and check the plan properties that matter at 100 TB —
predicate pushdown into the parquet scan, column pruning, broadcast
joins for small dimensions, whole-stage codegen coverage, and no
accidental cartesian products.

Usage: python -m bench.explain_audit [--sf-dir DIR] [--out PLANS.md]
Exits non-zero if a required plan property is missing.
"""

from __future__ import annotations

import argparse
import io
import os
import re
import sys
from contextlib import redirect_stdout


# query -> (must contain, must NOT contain) substrings of the formatted plan
CHECKS: dict[str, tuple[list[str], list[str]]] = {
    # NOTE: .explain("formatted") under AQE does not print WholeStageCodegen
    # spans; the codegen-relevant property it CAN show is the partial (map-
    # side) aggregate before the exchange — check that instead.
    "pricing_summary": (
        ["PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate",
         "HashAggregate", "partial_sum"],
        ["CartesianProduct"],
    ),
    "dim_join_enrich": (
        ["BroadcastHashJoin", "BroadcastExchange"],
        ["SortMergeJoin", "CartesianProduct"],
    ),
    "two_level_rollup": (
        ["HashAggregate"],
        ["CartesianProduct"],
    ),
    "sessionize_events": (
        ["Window", "Sort"],
        ["CartesianProduct"],
    ),
    "lww_latest_event": (
        # the aggregate LWW rewrite: partial_max BEFORE the exchange is
        # the skew lever (window row_number has no partial). Spark plans
        # max(struct) as SortAggregate (struct buffers aren't hash-agg
        # mutable; max_by plans identically) — the partial/final split
        # is what matters, not the agg flavor.
        ["partial_max", "SortAggregate"],
        ["Window", "CartesianProduct"],
    ),
    # one union, both probe halves: the anti side must plan LeftAnti,
    # the semi side LeftSemi with its ship-date filter pushed to scan
    "semi_anti_probe": (
        ["LeftAnti", "LeftSemi",
         "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"],
        ["CartesianProduct"],
    ),
    "dedup_minhash_lsh": (
        ["HashAggregate"],
        ["CartesianProduct"],
    ),
    # brute-force ANN is an intended broadcast nested loop (tiny query
    # side); ArrowEvalPython = the vectorized numpy cosine kernel
    "ann_bruteforce_topk": (
        ["BroadcastNestedLoopJoin", "ArrowEvalPython"],
        [],
    ),
    "ann_ivf_topk": (
        ["BroadcastHashJoin"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # ordered per-key assembly: aggregate path (collect_list partials),
    # never a global window sort
    "sequence_assembly": (
        ["ObjectHashAggregate"],
        ["Window", "CartesianProduct"],
    ),
    # mapInPandas fan-out is per-partition: no shuffle anywhere
    "segment_split": (
        ["MapInPandas"],
        ["Exchange", "CartesianProduct"],
    ),
    # blocked embedding dedup: the whole point is the equi-join on the
    # LSH signature — a cartesian product means the blocking key was lost
    "dedup_embedding_blocked": (
        [],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # IVF dedup end-to-end: candidate generation and rerank are key
    # equi-joins; only the all-pairs baseline may cross-join
    "dedup_embedding_ivf": (
        [],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "ann_multiprobe_topk": (
        ["BroadcastHashJoin"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # guarded train-on-sample IVF: identical search plan to ann_ivf_topk
    "ann_ivf_sampled_topk": (
        ["BroadcastHashJoin"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # both multimodal kernels: Arrow fan-out stages, equi-join on doc_id
    "mm_decode_frames": (
        ["MapInPandas"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # two unions of pruned scans, each with its own hash-distinct (a
    # keys-only HashAggregate prints no partial_* function names, so
    # the two-phase split can't be asserted textually here)
    "set_ops_distinct": (
        ["Union", "HashAggregate"],
        ["CartesianProduct"],
    ),
    # batch-bounded streaming aggregate: map-side partial before exchange
    "windowed_domain_counts": (
        ["HashAggregate", "partial"],
        ["CartesianProduct"],
    ),
    # W2's sequential half: ONE shuffle on the key into the grouped-map
    # kernel, never a window sort or a cartesian
    "chained_outlier_rewrite": (
        ["FlatMapGroupsInPandas", "hashpartitioning(user_id"],
        ["Window", "CartesianProduct"],
    ),
    # 4-level cascade: hash aggregates with map-side partials; each
    # level re-aggregates the previous level (no re-scan fan-out would
    # show as 4 separate file scans of events — allowed but the plan
    # must stay cartesian-free and partial-aggregated)
    "rollup_cascade": (
        ["HashAggregate", "partial"],
        ["CartesianProduct"],
    ),
    # role-playing dim: both role joins must broadcast
    "date_dim_roleplay": (
        ["BroadcastHashJoin"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
}

# column-pruning check: (query, scan relation substring, pruned ReadSchema)
PRUNING = [
    (
        "pricing_summary",
        "lineitem",
        "l_quantity,l_extendedprice,l_discount,l_returnflag,l_linestatus,l_shipdate",
    ),
    # the fused text profile must stay a single column-pruned scan
    ("text_profile", "documents", "doc_id,text,lang"),
]


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def shuffle_exchanges(plan: str) -> list[str]:
    """The ``Arguments`` of every shuffle ``Exchange`` node in a
    formatted plan (broadcast exchanges are a different node)."""
    out = []
    for block in plan.split("\n\n"):
        lines = block.strip().splitlines()
        if lines and re.fullmatch(r"\(\d+\) Exchange", lines[0]):
            args = [ln for ln in lines if ln.startswith("Arguments: ")]
            out.append(args[0][len("Arguments: "):] if args else "")
    return out


def plan_tree(plan: str) -> list[str]:
    """Node names of a formatted plan's tree, root first."""
    tree = plan.split("\n\n", 1)[0]
    return re.findall(r"^[\s+\-:|]*([A-Za-z][\w ]*?) \(\d+\)$", tree, re.M)


def _jobs_in(spark, group: str, fn, *args, **kwargs):
    """Run ``fn`` under a job group; return its result and the number
    of Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn(*args, **kwargs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def ingest_stage_shape(spark, root: str) -> tuple[dict[str, str], list[str]]:
    """Plans of one ingest epoch's bucket-granular stages, captured at
    their commits, and the shape failures found in them. The SPJ merge
    must sit on exactly one explicit-count hash shuffle on ``_bucket``
    (a byte-sized shuffle would let AQE collapse a small epoch into one
    task), below the grouped-map kernel that writes its own files: the
    kernel job's root is FlatMapGroupsInArrow (the Arrow kernel: no
    pandas boundary), with no write shuffle or write stage above it.
    The whole epoch starts 2 Spark jobs, the kernel's shuffle map stage
    and its grouped map: no stats pre-pass.
    An epoch whose rollup takes the kernel's partial files, and its
    lineage flush, must start no Spark job. The rollup's rebuild — here
    the crash-repair call for an epoch whose merge landed without its
    rollup — computes and writes each bucket's partials in one grouped
    map: its writer job's root must be FlatMapGroupsInArrow, on exactly
    one hash Exchange, on ``_bucket``."""
    import dataclasses

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from etl_spark import lineage, pipeline
    from etl_spark.lake.table import BucketFileWrite

    wh = pipeline.Warehouse.init(os.path.join(root, "wh_shape"), n_buckets=8)
    # every commit with data writes through a BucketFileWrite; the
    # first writer job each table's commit builds is its captured plan
    plans: dict[str, str] = {}
    committing: list[str] = []
    for name, table in (("merge", wh.pages), ("rollup", wh.rollup)):
        def capture(df, _commit=table.commit, _name=name, **kw):
            committing.append(_name)
            try:
                return _commit(df, **kw)
            finally:
                committing.pop()

        table.commit = capture
    rows = BucketFileWrite.rows

    def captured_rows(write, version):
        def build(v):
            job = write.build(v)
            if isinstance(job, DataFrame) and committing:
                plans.setdefault(committing[-1], formatted_plan(job))
            return job

        return rows(dataclasses.replace(write, build=build), version)

    def events(epoch):
        return spark.createDataFrame(
            [
                (100 * epoch + i, epoch, "I", f"https://d{i % 3}.example/{i}",
                 f"2024-01-0{epoch + 1} 00:00:00", b"<p>x</p>", None)
                for i in range(64)
            ],
            "seq long, epoch long, op string, url string, warc_ts string, "
            "html binary, lang string",
        ).withColumn("warc_ts", F.to_timestamp("warc_ts"))

    jobs: dict[str, int] = {}
    originals = (pipeline.rollup_domain_stats, lineage.LineageLog.flush)

    def counted(name, fn):
        def run(*args, **kwargs):
            out, n = _jobs_in(spark, f"audit_{name}", fn, *args, **kwargs)
            jobs[name] = jobs.get(name, 0) + n
            return out

        return run

    pipeline.rollup_domain_stats = counted("rollup", originals[0])
    lineage.LineageLog.flush = counted("lineage", originals[1])
    BucketFileWrite.rows = captured_rows
    try:
        _, epoch_jobs = _jobs_in(
            spark, "audit_epoch", pipeline.ingest_epoch, spark, wh, events(0), 0
        )
        pipeline.rollup_domain_stats, lineage.LineageLog.flush = originals
        # the next epoch's merge lands without its rollup; the repair
        # rebuilds the touched buckets' partials
        pipeline.ingest_epoch(
            spark, wh, events(1), 1, with_lineage=False, with_rollup=False
        )
        pipeline.rollup_domain_stats(spark, wh.pages, wh.rollup, 1)
    finally:
        pipeline.rollup_domain_stats, lineage.LineageLog.flush = originals
        BucketFileWrite.rows = rows

    failures = []
    if epoch_jobs != 2:
        failures.append(
            "ingest_stage_shape: an ingest epoch must start 2 Spark jobs "
            f"(the merge kernel's); got {epoch_jobs}"
        )
    if jobs != {"rollup": 0, "lineage": 0}:
        failures.append(
            "ingest_stage_shape: an epoch's kernel-partials rollup and its "
            f"lineage flush must start no Spark job; got {jobs}"
        )
    by_bucket = r"hashpartitioning\(_bucket#\d+, \d+\)"
    merge = plans.get("merge", "")
    ex = shuffle_exchanges(merge)
    if (
        plan_tree(merge)[:2] != ["AdaptiveSparkPlan", "FlatMapGroupsInArrow"]
        or len(ex) != 1
        or not re.match(by_bucket + ", REPARTITION_BY_NUM", ex[0])
    ):
        failures.append(
            "ingest_stage_shape: SPJ merge must run FlatMapGroupsInArrow as "
            "the job's root on one REPARTITION_BY_NUM hash Exchange on "
            f"_bucket; got {plan_tree(merge)[:2]} on {ex}"
        )
    rollup = plans.get("rollup", "")
    ex = shuffle_exchanges(rollup)
    if (
        plan_tree(rollup)[:2] != ["AdaptiveSparkPlan", "FlatMapGroupsInArrow"]
        or len(ex) != 1
        or not re.match(by_bucket, ex[0])
    ):
        failures.append(
            "ingest_stage_shape: the rollup rebuild's writer job "
            "must run FlatMapGroupsInArrow as its root on exactly one hash "
            f"Exchange on _bucket; got {plan_tree(rollup)[:2]} on {ex}"
        )
    return plans, failures


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    p.add_argument("--out", default=None)
    args = p.parse_args()

    from etl_spark.queries import load_all
    from etl_spark.session import get_spark

    spark = get_spark("explain_audit", parallelism=4)
    registry = load_all()

    report: list[str] = ["# Physical-plan audit", ""]
    failures: list[str] = []
    for name, (must, must_not) in CHECKS.items():
        plan = formatted_plan(registry[name].fn(spark, args.sf_dir))
        report += [f"## {name}", "", "```", plan.strip(), "```", ""]
        for s in must:
            if s not in plan:
                failures.append(f"{name}: missing required plan fragment {s!r}")
        for s in must_not:
            if s in plan:
                failures.append(f"{name}: forbidden plan fragment {s!r} present")
    for name, rel, cols in PRUNING:
        plan = formatted_plan(registry[name].fn(spark, args.sf_dir))
        want = f"ReadSchema: struct<{cols}"
        if want.replace(",", ":") not in plan.replace(",", ":"):
            # ReadSchema prints types; compare column order loosely
            got = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
            ok = got and all(c.split(":")[0] in got[0] for c in cols.split(","))
            if not ok:
                failures.append(f"{name}: scan of {rel} not pruned to [{cols}]; got {got}")

    # tombstone-read pushdown: the default pages read must push its
    # visibility predicate into the parquet scan (IsNull OR EqualTo —
    # NOT a coalesce, which parquet cannot evaluate on row-group stats).
    import tempfile

    from pyspark.sql import functions as F

    from etl_spark.pipeline import Warehouse, ingest_epoch

    ts_root = tempfile.mkdtemp(prefix="audit_tomb_")
    wh = Warehouse.init(os.path.join(ts_root, "wh"), n_buckets=2)
    ev = spark.createDataFrame(
        [
            (1, 0, "I", "https://a.example/1", "2024-01-01 00:00:00", b"<p>x</p>", None),
            (2, 0, "D", "https://a.example/2", "2024-01-01 00:00:00", None, None),
        ],
        "seq long, epoch long, op string, url string, warc_ts string, html binary, lang string",
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    ingest_epoch(spark, wh, ev, 0, with_rollup=False, with_lineage=False)
    plan = formatted_plan(wh.pages.read(spark))
    report += ["## tombstone_read_pushdown", "", "```", plan.strip(), "```", ""]
    if "PushedFilters" not in plan or "_deleted" not in plan.split("PushedFilters", 1)[1].split("\n", 1)[0]:
        failures.append(
            "tombstone read: _deleted visibility predicate not pushed to scan"
        )
    plans, shape_failures = ingest_stage_shape(spark, ts_root)
    for stage, plan in plans.items():
        report += [f"## ingest_stage_shape: {stage}", "", "```", plan.strip(), "```", ""]
    failures += shape_failures
    import shutil

    shutil.rmtree(ts_root, ignore_errors=True)

    if args.out:
        with open(args.out, "w") as fh:
            fh.write("\n".join(report))
    if failures:
        print("\n".join("FAIL " + f for f in failures))
        sys.exit(1)
    print(f"plan audit OK ({len(CHECKS)} queries)")


if __name__ == "__main__":
    main()
