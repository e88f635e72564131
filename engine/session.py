"""SparkSession builder tuned for this engine (local mode in-sandbox,
same config knobs a cluster submit would set via spark-submit --conf)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """min(48g, 40% of the host's MemTotal): a fixed 48g heap got the
    test JVM OOM-killed on a 15 GB host; hosts with >= 120 GB keep 48g."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "48g"
    return f"{min(48 * 1024, int(kb * 0.4) // 1024)}m"


def get_spark(
    app_name: str = "moving_window_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    cores: parallelism level — ``local[cores]``; default from
    ``$SPARK_GRAFT_CPUS`` or all cores. ``spark.sql.shuffle.partitions``
    scales with the parallelism level (4× cores) so the N-vs-4N scaling
    runs differ only in the declared level, per BASELINE.md.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = max(4 * cores, 32)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.python.worker.reuse", "true")
        # long-lived-session hygiene: without periodic full GCs, G1's
        # humongous-allocation concurrent cycles against a garbage-full
        # old gen degrade job throughput 3-5x run-over-run (see
        # engine/bench_jobs.force_gc); also drives shuffle-file cleanup
        .config("spark.cleaner.periodicGC.interval", "5min")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        # ParallelGC for batch throughput: G1's humongous-allocation
        # concurrent cycles (tile payloads + Arrow batches >= half a
        # region) stall allocation unpredictably — measured focal leg
        # 158-249 tiles/s under G1 vs a stable 277-287 under ParallelGC
        # at local[32] (round 2). Throughput collectors are the right
        # default for batch executors; latency-sensitive services would
        # keep G1.
        .config(
            "spark.driver.extraJavaOptions",
            "-Djava.net.preferIPv4Stack=true -XX:+UseParallelGC",
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    spark = b.getOrCreate()
    # getOrCreate returns any pre-existing session AT ITS OWN settings,
    # silently dropping the requested parallelism — fatal to the
    # N-vs-4N discipline this module's docstring pins, so say so loudly
    got_master = spark.sparkContext.master
    if got_master != f"local[{cores}]":
        import warnings

        warnings.warn(
            f"get_spark(cores={cores}) reused an existing session at "
            f"master={got_master!r}; requested parallelism/config were "
            "IGNORED — benchmark in a fresh process (spark-submit) for "
            "declared-parallelism runs",
            RuntimeWarning,
            stacklevel=2,
        )
    spark.sparkContext.setLogLevel("WARN")
    return spark
