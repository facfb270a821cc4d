"""SparkSession factory with scale-appropriate defaults.

Local-mode knobs are test-only; the settings that matter at cluster scale
(AQE, skew join handling, Arrow batching, shuffle partition sizing) are
the same ones a 1000-executor deployment would set.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(phys_bytes: int | None = None) -> str:
    """Driver heap when ``SPARK_DRIVER_MEM`` is unset: a quarter of the
    host's physical RAM (`phys_bytes`, read from the OS by default), at
    least 1g."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1024, phys_bytes // 4 // 2**20)}m"


def event_log_settings() -> tuple[str, str]:
    """(``spark.eventLog.enabled``, ``spark.eventLog.dir``) from
    ``SPARK_GRAFT_EVENTLOG`` (off unless 1/true/yes/on) and
    ``SPARK_GRAFT_EVENTLOG_DIR`` (default /tmp/spark-events).  Spark
    refuses to start when an enabled event log's directory is missing,
    so an enabled log's directory is created here."""
    flag = os.environ.get("SPARK_GRAFT_EVENTLOG", "").strip().lower()
    enabled = flag in ("1", "true", "yes", "on")
    log_dir = os.environ.get("SPARK_GRAFT_EVENTLOG_DIR", "/tmp/spark-events")
    if enabled:
        os.makedirs(log_dir, exist_ok=True)
    return ("true" if enabled else "false"), log_dir


def get_spark(
    app: str = "zcurve_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    # BLAS thread pinning: Spark TASKS are the parallelism unit, and an
    # unpinned OpenBLAS starts a full per-process GEMM thread pool in
    # every forked Python worker — at local[32] that oversubscribes the
    # host 32x during any numpy matrix kernel a worker runs.  One BLAS
    # thread per worker is the standard setting wherever tasks, not
    # BLAS, own the cores (on a cluster:
    # spark.executorEnv.OPENBLAS_NUM_THREADS=1).
    # setdefault only — an explicit caller/cluster env wins.
    for _var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS"):
        os.environ.setdefault(_var, "1")
    # Python workers deserialize pandas UDFs that reference this package;
    # make the repo root importable regardless of the caller's cwd (the
    # cluster equivalent is spark-submit --py-files, see submit_main.py).
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{repo_root}{os.pathsep}{pp}" if pp else repo_root
    event_log_enabled, event_log_dir = event_log_settings()
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Join strategy (guide §3.1): let the planner pick a shuffled
        # HASH join when the per-partition build side fits instead of
        # always sort-merge — our hot joins (band/tile/bucket equi-joins)
        # gain nothing from sorted output, and the sort of both shuffle
        # sides was pure overhead.  The planner's size guards (and AQE's
        # local-map threshold below) keep the OOM-risk shape on
        # sort-merge; this is the cluster-correct setting, not a local
        # tweak (same guard Spark uses at any executor count).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "128m")
        .config("spark.io.compression.codec", "lz4")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        # GC: measured BOTH ways at local[32] (r6) — ParallelGC wins
        # isolated subsets (tile_assign_gen 2.8->1.4s) but loses the
        # full suite by ~7% (66.9-67.6s vs 62.7-62.8s suite-total over
        # two runs each): the 48g heap with the 17 GB storage-tier scans
        # and long-lived caches favors G1.  Default stays G1 (JVM
        # default); the knob is for cluster profiles where executors are
        # smaller and throughput-GC wins.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", ""),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", event_log_enabled)
        .config("spark.eventLog.dir", event_log_dir)
        .getOrCreate()
    )
