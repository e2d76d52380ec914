"""Benchmark entry point: one run of one workload, one JSON line out.

    python3 perfbench/run.py --workload ingest_trickle --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of stdout is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics
with ``--trace 1``. A longer record of the run (op times, warm-up,
check detail, the per-epoch time breakdown) goes to
``.perfbench_out/<workload>-seed<seed>-trace<t>.json``.

All run data (warehouse, change files, Spark scratch, event log) lives
under ``.perfbench_run/`` in the repository and is deleted at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "2g"
SAMPLE_S = 0.2
# share of the CPUs stolen by the hypervisor above which a run warns;
# at 2-4 % stolen, op medians read 10-25 % slower than on a quiet host
STEAL_WARN = 0.02


def _children_map() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while we looked
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        out.setdefault(ppid, []).append(int(name))
    return out


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, stack = [], list(kids.get(pid, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def tree_rss_bytes(pid: int) -> dict[str, int]:
    """VmRSS of the JVM and of the Python workers among the descendants
    of ``pid``, read from /proc. Other descendants are the launcher
    shell and short-lived forks of the JVM that still share its pages
    before they exec; counting those would count the JVM twice."""
    page = os.sysconf("SC_PAGE_SIZE")
    out: dict[str, int] = {}
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/comm") as fh:
                comm = fh.read().strip()
            if comm != "java" and not comm.startswith("python"):
                continue
            with open(f"/proc/{p}/statm") as fh:
                rss = int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue  # exited while we looked
        out[comm] = out.get(comm, 0) + rss
    return out


class RssSampler:
    """The benchmark's one extra thread: keeps the peak tree RSS."""

    def __init__(self):
        self.peak = 0
        self.peak_parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            parts = tree_rss_bytes(me)
            if sum(parts.values()) > self.peak:
                self.peak, self.peak_parts = sum(parts.values()), parts
            self._stop.wait(SAMPLE_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def cpu_seconds() -> dict[str, float]:
    """Machine-wide CPU time by state from /proc/stat, for the record:
    busy and steal over the timed window tell a slower program from a
    slower machine."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    hz = os.sysconf("SC_CLK_TCK")
    user, nice, system, idle, iowait, irq, softirq, steal = f
    return {
        "busy": (user + nice + system + irq + softirq) / hz,
        "idle": (idle + iowait) / hz,
        "steal": steal / hz,
    }


def _parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _prepare_env(run_dir: str) -> None:
    """Keep every byte Spark and Python write inside ``run_dir``; fix
    the heap and the core count; let Python workers import the engine."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def _start_spark(run_dir: str, cores: int, trace: bool):
    from etl_spark.session import get_spark, warm_python_workers

    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                # Spark 4 zstd-compresses the log by default
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",  # one file
                "spark.eventLog.dir": "file://" + log_dir,
            }
        )
    spark = get_spark("perfbench", parallelism=cores, extra_conf=conf)
    warm_python_workers(spark, cores)
    return spark


def _stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def _layer_metrics(b, wl, tracer, times, run_dir) -> dict:
    import spans as tr

    idx = tr.SpanIndex(tracer.spans, *tr.parse_event_log(tr.find_event_log(os.path.join(run_dir, "eventlog"))))
    phase, inputs = wl.epoch_sample()
    epochs = [s for s in tracer.spans if s["name"] == "pipeline" and s["phase"] == phase and s["op"] in inputs]
    m = tr.epoch_metrics(idx, epochs, inputs, b.cores)
    b.notes["epoch_breakdown_s"] = tr.direct_children_breakdown(idx, epochs)
    queries = [s for s in tracer.spans if s["name"].startswith("query.") and s["phase"] in ("timed", "readpass")]
    m.update(tr.query_metrics(idx, queries))
    m["lake.expire_s"] = tr.expire_seconds(idx, "maint")
    m["lake.files_ratio.pages_time_slice"] = b.notes["files_ratio.pages_time_slice"]
    # process-wide JVM counters, per timed op
    roots = [s for s in tracer.spans if s["phase"] == "timed" and s["parent"] is None]
    m["spark.gc_s"] = sum(idx.task(s, "gc_ms") for s in roots) / 1e3 / len(times)
    m["spark.spill_bytes"] = sum(idx.task(s, "spill_mem") + idx.task(s, "spill_disk") for s in roots) / len(times)
    m["op_s_max"] = max(times)
    m["trace.op_s_p50"] = statistics.median(times)
    return m


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = _parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "etl_spark", "__init__.py")):
        print(f"no etl_spark package under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(0, ROOT)
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = W.WORKLOADS[args.workload]
    trace = bool(args.trace)
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    try:
        _prepare_env(run_dir)
        with RssSampler() as rss:
            spark = _start_spark(run_dir, cores, trace)
            session_s = time.perf_counter() - t_start
            try:
                tracer = None
                if trace:
                    from spans import Tracer

                    tracer = Tracer(spark.sparkContext)
                b = W.Bench(spark, run_dir, args.seed, args.seconds, cores, tracer)
                wl.setup(b)
                setup_s = time.perf_counter() - t_start
                cpu0 = cpu_seconds()
                timed = wl.run(b)
                b.notes["timed_cpu_s"] = {k: v - cpu0[k] for k, v in cpu_seconds().items()}
                correct = wl.check(b) and timed.failed == 0
                if trace:
                    wl.trace_extra(b)
            finally:
                _stop_spark(spark)
        times = timed.times
        attempted = len(times) + timed.failed
        if not times:
            print("no op completed", file=sys.stderr)
            return 1
        if trace:
            values = _layer_metrics(b, wl, tracer, times, run_dir)
            with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.json"), "w") as fh:
                json.dump(tracer.spans, fh)
            metric_specs = spec["per_layer"]
            untraced = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace0.json")
            if os.path.exists(untraced):
                with open(untraced) as fh:
                    base = statistics.median(json.load(fh)["op_s"])
                b.notes["trace_overhead_s"] = values["trace.op_s_p50"] - base
        else:
            values = {
                "setup_s": setup_s,
                "op_s_p50": statistics.median(times),
                "work_per_s": timed.rate_p50(),
                "peak_rss_mb": rss.peak / 1e6,
            }
            metric_specs = spec["end_to_end"]
        steal = b.notes["timed_cpu_s"]["steal"] / (os.cpu_count() * sum(times))
        if steal > STEAL_WARN:
            print(f"host steal took {steal:.1%} of the CPUs during timed ops: op times are inflated", file=sys.stderr)
        bound = next(m["bound"] for m in spec["end_to_end"] if m["name"] == "op_s_p50")
        if W.steady(times) > bound:
            print(
                f"unsteady: first- and second-half op medians differ by "
                f"{W.steady(times):.1%} (bound {bound:.0%})",
                file=sys.stderr,
            )
        metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in metric_specs}
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "cores": cores,
            "driver_mem": DRIVER_MEM,
            "session_s": session_s,
            "op_s": times,
            "steady_gap": W.steady(times),
            "peak_rss_parts_mb": {k: v / 1e6 for k, v in rss.peak_parts.items()},
            **b.notes,
            "metrics": metrics,
        }
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
            json.dump(record, fh, indent=1, default=str)
        print(
            json.dumps(
                {
                    "correct": bool(correct),
                    "attempted": attempted,
                    "failed": attempted if not correct else timed.failed,
                    "metrics": metrics,
                }
            )
        )
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run still uses it


if __name__ == "__main__":
    sys.exit(main())
