"""Spans around the program's public functions, and Spark task metrics
attributed to them.

The traced run patches the functions below with wrappers that record a
span (name, start, end, parent, phase, op id) in memory. A span that
may start Spark jobs sets the local property ``spark.jobGroup.id`` to
its own id on entry and restores its parent's group on exit
(``SparkContext.clearJobGroup`` does not exist in pyspark 4.1, so the
restore goes through ``setLocalProperty``). After the session stops,
the uncompressed event log is parsed: each ``SparkListenerJobStart``
names its group, and every ``SparkListenerTaskEnd`` of the job's stages
adds its task metrics to the span that owns the group.

Self time is a span's duration minus the part of it its children cover.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_KEY = "spark.jobGroup.id"
GROUP_PREFIX = "pb"

# task-metric fields summed per span (event-log names, Spark 4)
_TM_FIELDS = {
    "run_ms": ("Executor Run Time",),
    "cpu_ns": ("Executor CPU Time",),
    "gc_ms": ("JVM GC Time",),
    "spill_mem": ("Memory Bytes Spilled",),
    "spill_disk": ("Disk Bytes Spilled",),
    "shuffle_write": ("Shuffle Write Metrics", "Shuffle Bytes Written"),
    "input_bytes": ("Input Metrics", "Bytes Read"),
    "output_bytes": ("Output Metrics", "Bytes Written"),
}


class Tracer:
    """In-memory span recorder bound to one SparkContext."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.phase = "setup"
        self.op = None

    def _group_of(self, sid: int | None) -> str | None:
        while sid is not None:
            if self.spans[sid]["group"]:
                return f"{GROUP_PREFIX}{sid}"
            sid = self.spans[sid]["parent"]
        return None

    @contextmanager
    def span(self, name: str, job_group: bool = True):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": sid,
            "name": name,
            "parent": parent,
            "phase": self.phase,
            "op": self.op,
            "group": job_group,
        }
        self.spans.append(rec)
        if job_group:
            self.sc.setLocalProperty(GROUP_KEY, f"{GROUP_PREFIX}{sid}")
        self._stack.append(sid)
        rec["t0"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            self._stack.pop()
            if job_group:
                # None removes the property (the root has no group)
                self.sc.setLocalProperty(GROUP_KEY, self._group_of(parent))

    def wrap(self, fn, name: str, job_group: bool = True):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, job_group):
                return fn(*args, **kwargs)

        return traced

    def patch(self, targets, attr: str, name: str, job_group: bool = True) -> None:
        """Replace ``attr`` on every object in ``targets`` (modules that
        import the function by name, classes, table instances)."""
        for target in targets:
            setattr(target, attr, self.wrap(getattr(target, attr), name, job_group))

    def patch_snapshot(self, table, label: str) -> None:
        """Count manifest reads and their bytes; no Spark job runs here."""
        orig = table.snapshot

        @functools.wraps(orig)
        def traced(version=None):
            with self.span(f"lake.snapshot.{label}", job_group=False) as rec:
                snap = orig(version)
                rec["bytes"] = os.path.getsize(table._snap_path(snap.version))
                return snap

        table.snapshot = traced


def instrument(tracer: Tracer, wh) -> None:
    """Wrap the layers one ingest epoch and the lake reads go through."""
    from etl_spark import lineage, pipeline
    from etl_spark.operators import clean, dedup, dedup_text, merge_spj, rollup

    tracer.patch([pipeline], "ingest_epoch", "pipeline")
    tracer.patch([pipeline, clean], "clean_changes", "clean")
    tracer.patch([pipeline, dedup], "delta_stats", "dedup.stats")
    tracer.patch([pipeline, merge_spj], "merge_epoch_spj", "merge_spj")
    tracer.patch([pipeline, rollup], "rollup_domain_stats", "rollup")
    tracer.patch([rollup], "read_rollup", "rollup.read_rollup")
    tracer.patch([dedup_text], "exact_dup_groups", "dedup_text.exact_dup_groups")
    tracer.patch([lineage.LineageLog], "flush", "lineage.flush")
    for label, table in (("pages", wh.pages), ("rollup", wh.rollup), ("lineage", wh.lineage)):
        tracer.patch([table], "commit", f"lake.commit.{label}")
        tracer.patch([table], "append", f"lake.append.{label}")
        tracer.patch([table], "read", f"lake.read.{label}")
        tracer.patch([table], "expire_snapshots", f"lake.expire.{label}", job_group=False)
        tracer.patch_snapshot(table, label)


def parse_event_log(path: str) -> tuple[dict, dict]:
    """-> (span id -> job count, span id -> summed task metrics) for the
    jobs that ran under a span's group (direct, not inclusive)."""
    stage_span: dict[int, int | None] = {}
    jobs: dict[int, int] = defaultdict(int)
    metrics: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    with open(path) as fh:
        for line in fh:
            if line.startswith('{"Event":"SparkListenerJobStart"'):
                ev = json.loads(line)
                group = (ev.get("Properties") or {}).get(GROUP_KEY) or ""
                sid = int(group[len(GROUP_PREFIX):]) if group.startswith(GROUP_PREFIX) else None
                for stage in ev["Stage IDs"]:
                    stage_span.setdefault(stage, sid)
                if sid is not None:
                    jobs[sid] += 1
            elif line.startswith('{"Event":"SparkListenerTaskEnd"'):
                ev = json.loads(line)
                sid = stage_span.get(ev["Stage ID"])
                tm = ev.get("Task Metrics")
                if sid is None or not tm:
                    continue
                acc = metrics[sid]
                for key, path_ in _TM_FIELDS.items():
                    val = tm
                    for part in path_:
                        val = (val or {}).get(part)
                    acc[key] += val or 0
    return dict(jobs), {k: dict(v) for k, v in metrics.items()}


def find_event_log(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


class SpanIndex:
    """Inclusive job counts and task metrics per span, plus tree helpers."""

    def __init__(self, spans: list[dict], jobs: dict, metrics: dict):
        self.spans = spans
        self.children: dict[int, list[int]] = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                self.children[s["parent"]].append(s["id"])
        self.jobs: dict[int, int] = defaultdict(int)
        self.tm: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        for sid in set(jobs) | set(metrics):
            cur = sid
            while cur is not None:
                self.jobs[cur] += jobs.get(sid, 0)
                for k, v in metrics.get(sid, {}).items():
                    self.tm[cur][k] += v
                cur = spans[cur]["parent"]

    @staticmethod
    def dur(s: dict) -> float:
        return s["t1"] - s["t0"]

    def self_time(self, s: dict) -> float:
        """Duration minus the union of the children's intervals."""
        ivs = sorted(
            (max(c["t0"], s["t0"]), min(c["t1"], s["t1"]))
            for c in (self.spans[i] for i in self.children[s["id"]])
        )
        covered, end = 0.0, s["t0"]
        for a, b in ivs:
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        return self.dur(s) - covered

    def descendants(self, s: dict, prefix: str) -> list[dict]:
        out, stack = [], list(self.children[s["id"]])
        while stack:
            c = self.spans[stack.pop()]
            if c["name"].startswith(prefix):
                out.append(c)
            stack.extend(self.children[c["id"]])
        return out

    def task(self, s: dict, key: str) -> float:
        return self.tm[s["id"]].get(key, 0.0)


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def epoch_metrics(idx: SpanIndex, epochs: list[dict], input_bytes: dict, cores: int) -> dict:
    """Per-epoch layer metrics (medians over ``epochs``, the pipeline
    spans of update epochs). ``input_bytes``: op id -> change-file size.
    A layer that did not run in an epoch counts zero."""

    def dur(s):
        return idx.dur(s) if s else 0.0

    def task(s, key, scale=1.0):
        return idx.task(s, key) / scale if s else 0.0

    def jobs(s):
        return idx.jobs[s["id"]] if s else 0

    rows = []
    for p in epochs:
        def one(prefix):
            found = idx.descendants(p, prefix)
            return found[0] if found else None

        stats, merge, roll = one("dedup.stats"), one("merge_spj"), one("rollup")
        commit = one("lake.commit.pages")
        flushes = idx.descendants(p, "lineage.flush")
        snaps = idx.descendants(p, "lake.snapshot.")
        epoch_s = idx.dur(p)
        out_bytes = task(commit, "output_bytes")
        rows.append(
            {
                "pipeline.epoch_s": epoch_s,
                "pipeline.driver_self_s": idx.self_time(p),
                "pipeline.children_s": sum(idx.dur(idx.spans[c]) for c in idx.children[p["id"]]),
                "spark.jobs_per_epoch": jobs(p),
                "spark.slot_util": task(p, "run_ms", 1e3) / (epoch_s * cores),
                "dedup.stats_s": dur(stats),
                "dedup.stats_task_s": task(stats, "run_ms", 1e3),
                "dedup.stats_n_jobs": jobs(stats),
                "merge_spj.self_s": idx.self_time(merge) if merge else 0.0,
                "lake.commit_pages_s": dur(commit),
                "lake.commit_pages_task_s": task(commit, "run_ms", 1e3),
                "lake.commit_pages_cpu_s": task(commit, "cpu_ns", 1e9),
                "lake.commit_pages_shuffle_write_bytes": task(commit, "shuffle_write"),
                "lake.commit_pages_output_bytes": out_bytes,
                "lake.commit_pages_n_jobs": jobs(commit),
                "lake.write_amp": out_bytes / input_bytes[p["op"]],
                "rollup.s": dur(roll),
                "rollup.task_s": task(roll, "run_ms", 1e3),
                "rollup.n_jobs": jobs(roll),
                "lineage.flush_s": sum(idx.dur(f) for f in flushes),
                "lineage.n_jobs": sum(idx.jobs[f["id"]] for f in flushes),
                "lake.snapshot_calls": len(snaps),
                "lake.commits": len(idx.descendants(p, "lake.commit.")) + len(idx.descendants(p, "lake.append.")),
                "lake.manifest_bytes": sum(s["bytes"] for s in snaps),
                "spark.gc_s": task(p, "gc_ms", 1e3),
                "spark.spill_bytes": task(p, "spill_mem") + task(p, "spill_disk"),
            }
        )
    return {k: _median(r[k] for r in rows) for k in rows[0]}


def direct_children_breakdown(idx: SpanIndex, epochs: list[dict]) -> dict:
    """Median seconds per direct child name of the epoch span, plus the
    driver's self time: these sum to the epoch wall time op by op."""
    per_name = defaultdict(list)
    for p in epochs:
        sums = defaultdict(float)
        for c in idx.children[p["id"]]:
            sums[idx.spans[c]["name"]] += idx.dur(idx.spans[c])
        sums["driver_self"] = idx.self_time(p)
        for name in set(per_name) | set(sums):
            per_name[name].append(sums.get(name, 0.0))
    return {k: _median(v) for k, v in sorted(per_name.items())}


def query_metrics(idx: SpanIndex, queries: list[dict]) -> dict:
    """Medians per query name over the given ``query.<name>`` spans."""
    by_name = defaultdict(list)
    for q in queries:
        by_name[q["name"]].append(q)
    out = {}
    for name, qs in by_name.items():
        out[f"{name}.s"] = _median(idx.dur(q) for q in qs)
        out[f"{name}.task_s"] = _median(idx.task(q, "run_ms") / 1e3 for q in qs)
        out[f"{name}.input_bytes"] = _median(idx.task(q, "input_bytes") for q in qs)
        out[f"{name}.shuffle_write_bytes"] = _median(idx.task(q, "shuffle_write") for q in qs)
    reads = [r for q in queries for r in idx.descendants(q, "lake.read.")]
    out["lake.read_call_s"] = _median(idx.dur(r) for r in reads)
    return out


def expire_seconds(idx: SpanIndex, phase: str) -> float:
    per_op = defaultdict(float)
    for s in idx.spans:
        if s["name"].startswith("lake.expire.") and s["phase"] == phase:
            per_op[s["op"]] += idx.dur(s)
    return _median(per_op.values())
