"""SparkSession factory tuned for the engine.

Design notes (100 TB posture, tested on local[32]):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting, and
  dynamic join-strategy switching replace hand-tuned partition counts when the
  data volume is 1000x the test scale.
- Broadcast threshold raised to 64 MiB: every dimension table of the star
  schema (region/nation/customer/supplier/part) broadcasts instead of
  shuffling the fact side; at 100 TB the fact tables shuffle only for
  fact-fact joins and wide aggregations.
- Arrow enabled: any unavoidable Python stage (pandas UDFs in the multimodal
  and similarity paths) moves batches, not rows.
- shuffle.partitions defaults to the local core count; on a real cluster this
  should be ~2-3x total executor cores (AQE coalesces the excess).
- Python task workers fork from ``pyworker_daemon``
  (``spark.python.daemon.module``), which drops ``pyspark.zip``, the py4j zip
  and the spark-core jar from the workers' ``sys.path`` when a directory on it
  already holds the same package version. Each Python task calls
  ``importlib.invalidate_caches()``, and on CPython 3.11 that re-reads the
  directory of every cached ``zipimporter`` (16 of them and 0.13-0.18 CPU s a
  task with the archives on the path, on a 4-CPU host; under 0.1 ms without
  them). The daemon is started before
  any pyspark import, so the package root must be importable by the worker
  interpreter itself: workers do not see driver-side ``sys.path`` edits, so
  ``spark.executorEnv.PYTHONPATH`` carries the root, after any value the
  caller passes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_DAEMON_MODULE = f"{__package__}.pyworker_daemon"
_EXECUTOR_PYTHONPATH = "spark.executorEnv.PYTHONPATH"


def _cpus() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    except ValueError:
        return 32


def _worker_conf(extra_conf: dict[str, str]) -> dict[str, str]:
    """The daemon module and the package root on the workers' PYTHONPATH,
    then the caller's settings (their PYTHONPATH merged ahead of the root)."""
    conf = {"spark.python.daemon.module": _DAEMON_MODULE, **extra_conf}
    paths = [p for p in conf.get(_EXECUTOR_PYTHONPATH, "").split(os.pathsep) if p]
    if _ROOT not in paths:
        paths.append(_ROOT)
    conf[_EXECUTOR_PYTHONPATH] = os.pathsep.join(paths)
    return conf


def get_spark(
    app_name: str = "logstream",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Return a tuned SparkSession (reuses an active one if present)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        return active

    cpus = _cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in _worker_conf(extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
