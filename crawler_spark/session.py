"""SparkSession factory with the engine's tuned defaults.

Every knob here is a 100 TB-scale decision exercised locally:
AQE (+skew join) re-plans the host-skewed shuffles at runtime, Arrow
makes every pandas UDF a columnar batch transfer, shuffle partition count
follows core count locally (on a cluster: ~2-3× total cores, or let AQE
coalesce), and broadcast threshold covers the small dimension tables
(robots, bloom segments, models).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _worker_pythonpath() -> str:
    """The package's parent directory, ahead of any inherited PYTHONPATH."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)


def get_spark(
    app: str = "crawler-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    submitted = "PYSPARK_GATEWAY_PORT" in os.environ
    b = SparkSession.builder.appName(app)
    # Under spark-submit the driver JVM already exists and carries the
    # operator's --master (yarn, k8s, local-cluster, ...); PythonRunner
    # hands this process PYSPARK_GATEWAY_PORT to connect to it. Calling
    # .master() here would silently stomp that choice and fall the whole
    # job back to local mode — so only set a master when the caller asked
    # for one explicitly, or when no submitted JVM exists (plain-python
    # entry, where SparkSession needs SOME master to launch). The
    # partition count follows the same rule, and driver memory is the
    # operator's alone under spark-submit.
    if master is not None:
        b = b.master(master)
    elif not submitted:
        b = b.master(f"local[{cpus}]")
    if shuffle_partitions is not None or not submitted:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
    # Python workers import this package to run mapInPandas/applyInPandas
    # bodies; a session started outside the repository root would leave
    # them without it. The same rule as the master: a submitted JVM's
    # executors get their paths from spark-submit (--py-files).
    if not submitted:
        b = b.config("spark.executorEnv.PYTHONPATH", _worker_pythonpath()).config(
            "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g")
        )
    b = (
        b.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
