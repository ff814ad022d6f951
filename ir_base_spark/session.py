"""SparkSession factory with the engine's standard local-mode config.

Designed for a multi-executor cluster (explicit partitioning everywhere;
AQE on for runtime re-planning and skew joins) but testable on local[N].

Python workers start from ``ir_base_spark.worker_daemon``: PySpark's own
daemon with zipimport invalidation gated on the archive's stat, which
cuts a Python task's fixed cost from ~0.23 s to ~0.05 s on 4 cores
(``worker_daemon`` says why). The directory that holds this package goes
on the workers' PYTHONPATH, so the daemon (and every pickled function of
the package) imports whatever the driver's cwd. ``jobs/*.py`` keep plain
builders: on a cluster ``--py-files`` reaches ``sys.path`` only after
the daemon has started.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ir_base_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    # Python workers inherit this env (driver → JVM → daemon → worker):
    # keep glibc from mmap'ing/unmapping numpy's large scratch arrays on
    # every task — the per-task page-fault + page-zero churn was a
    # measured, non-scaling term of the Arrow shard kernels (each task
    # re-faulted ~0.5 GB of fresh pages under 16-way concurrency).
    # Heap-held pages get REUSED across tasks by the long-lived workers.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(512 * 1024 * 1024))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(512 * 1024 * 1024))
    conf = dict(extra_conf or {})
    pythonpath = conf.pop("spark.executorEnv.PYTHONPATH", "")
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.daemon.module", "ir_base_spark.worker_daemon")
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.pathsep.join(p for p in (pkg_parent, pythonpath) if p),
        )
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
