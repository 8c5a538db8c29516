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
- Every Python process Spark starts for the application (task workers, the
  data-source planner runners forked from the daemon, the per-query
  streaming source runner) runs ``worker_site/sitecustomize.py`` at
  interpreter start, before it imports pyspark: ``site`` finds it on
  ``spark.executorEnv.PYTHONPATH``, which Spark passes to each of them (a
  registered DataSource's Python function carries ``sc.environment``, the
  executorEnv). The hook drops ``pyspark.zip``, the py4j zip and the
  spark-core jar from ``sys.path`` when a directory on it already holds the
  same package version (``pyworker_daemon.prune_archives``), so pyspark is
  imported from site-packages, and each task's or runner call's
  ``importlib.invalidate_caches()`` re-reads no ``zipimporter``. Measured
  in a bare interpreter on a 4-CPU host: importing a planner runner's
  module costs 0.17-0.19 CPU s against 0.68-0.72 s from the zip, and
  ``invalidate_caches()`` under 0.1 ms against 0.11-0.14 s with the 17
  importers the archives leave; the hook itself adds about 0.03 CPU s to
  interpreter start. Workers do not see driver-side ``sys.path`` edits, so
  the executorEnv PYTHONPATH carries the package root (the hook imports the
  package) and then the hook directory, after any value the caller passes.
  The hook directory is on the workers' path only. A worker started without
  it imports pyspark from the zip: same results, old speed.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_WORKER_SITE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "worker_site")
_EXECUTOR_PYTHONPATH = "spark.executorEnv.PYTHONPATH"


def _cpus() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    except ValueError:
        return 32


def _worker_conf(extra_conf: dict[str, str]) -> dict[str, str]:
    """The caller's settings, with the package root and then the workers'
    startup-hook directory appended to the workers' PYTHONPATH."""
    conf = dict(extra_conf)
    paths = [p for p in conf.get(_EXECUTOR_PYTHONPATH, "").split(os.pathsep) if p]
    paths += [p for p in (_ROOT, _WORKER_SITE) if p not in paths]
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
