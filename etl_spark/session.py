"""SparkSession factory with scale-aware defaults.

Successor of the reference's hand-rolled parallelism knobs
(dask ``NUM_PARTITIONS = 4 * cpu_count()``,
/root/reference/etl/cleaning/clean_data.py:16 and the per-ship process
pool /root/reference/etl/trajectory/builder.py:58): instead of
hand-scheduling, we size ``spark.sql.shuffle.partitions`` to the core
count and let AQE coalesce / split at runtime.

Design-for-100TB notes
----------------------
On a real cluster these settings move to ``spark-submit --conf``; the
factory takes ``parallelism`` so the bench harness can run the same job
at N and 4N cores (the sandbox stand-in for N and 4N executors) with
proportionally scaled shuffle partitions — the north rule's scaling
criterion.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(phys_bytes: int) -> str:
    """The driver heap ``get_spark`` asks for unless
    ``SPARK_GRAFT_DRIVER_MEM`` says otherwise: half the host's physical
    memory (the rest stays for the Python workers and the OS), at most
    48 GB. A heap larger than the host gets the JVM killed mid-job."""
    return f"{min(48 * 1024, phys_bytes // 2 // 2**20)}m"


def get_spark(
    app_name: str = "etl_spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``parallelism`` -> ``local[N]`` master; defaults to
    ``$SPARK_GRAFT_CPUS`` or all cores. ``shuffle_partitions`` defaults
    to 4x the parallelism (tail-smoothing; see the inline comment — a
    200-ish default over-parallelizes small local data and
    under-parallelizes 100 TB; at cluster scale set 2-4x total cores).

    NOTE getOrCreate semantics: if a SparkSession already exists in
    this process, its config WINS and every argument here is silently
    ignored by Spark — this function warns when the existing master
    differs from the request, so a same-process "A/B at two core
    counts" can't silently measure one config twice.
    """
    if parallelism is None:
        parallelism = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        # 4x cores: with tasks == cores, per-task key-count variance
        # (Poisson) makes the slowest task ~1.5-2x the mean and the
        # whole stage waits on it; 4x over-partitioning lets the
        # scheduler smooth the tail (AQE coalesces any excess).
        shuffle_partitions = 4 * parallelism

    builder = (
        SparkSession.builder.master(f"local[{parallelism}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime re-plan — coalesces small shuffle partitions and
        # splits skewed ones.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # UTC everywhere: oracle comparability + determinism of the
        # smart date/time keys (reference pins formats, clean_data.py:118).
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow transfer for every pandas UDF on the extract path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python workers fork from a daemon that takes Spark's zip
        # archives off their path when an installed pyspark of the same
        # version can stand in: a task then skips re-reading 16 zip
        # directories (~0.2 s) on start (etl_spark/worker_daemon.py).
        .config("spark.python.daemon.module", "etl_spark.worker_daemon")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM")
            or default_driver_memory(
                os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
            ),
        )
        .config("spark.ui.enabled", "false")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    got_master = spark.sparkContext.master
    want_master = f"local[{parallelism}]"
    if got_master != want_master:
        import warnings

        warnings.warn(
            f"get_spark requested {want_master} but reused an existing "
            f"session on {got_master}; all requested confs were ignored "
            "(Spark getOrCreate semantics) — stop the existing session "
            "or run in a fresh process for a real config change",
            stacklevel=2,
        )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def warm_python_workers(spark: SparkSession, parallelism: int | None = None) -> None:
    """Spin up one Python/Arrow worker per core before timed work.

    The first pandas-UDF stage otherwise pays N simultaneous
    interpreter starts (pandas/pyarrow imports) inside the measurement
    — a fixed cost that belongs to cluster startup, not steady-state
    throughput. Workers are reused afterwards
    (spark.python.worker.reuse is on by default).

    The aggregate CONSUMES the UDF output — a bare ``select(...).
    count()`` lets Catalyst prune the unused deterministic projection
    and the UDF never runs (verified empirically: a side-effect UDF
    under count() executed zero times), which silently turned this
    warm-up into a no-op and pushed worker startup back inside the
    timed section."""
    import pandas as pd  # noqa: F401
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if parallelism is None:
        parallelism = spark.sparkContext.defaultParallelism

    _noop = F.pandas_udf(lambda s: s, T.LongType())

    (
        spark.range(parallelism * 4, numPartitions=parallelism)
        .select(_noop(F.col("id")).alias("x"))
        .agg(F.count("x"))
        .collect()
    )
