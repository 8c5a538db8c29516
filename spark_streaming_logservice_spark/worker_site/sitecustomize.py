"""Startup hook of every Python process Spark starts for a ``get_spark``
application (``session._worker_conf`` puts this directory on
``spark.executorEnv.PYTHONPATH``; nothing puts it on the driver's path).

Python's ``site`` imports it before the process runs ``-m pyspark.daemon``,
``-m pyspark.sql.streaming.python_streaming_source_runner`` or any other
worker module, so it reaches the task workers, the data-source planner
runners forked from the daemon and the per-query streaming source runner
alike. It drops the redundant archives from ``sys.path``
(``pyworker_daemon.prune_archives``), then runs the ``sitecustomize`` this
file shadows further down ``sys.path``, if there is one.
"""

import importlib.machinery
import importlib.util
import os
import sys

from spark_streaming_logservice_spark.pyworker_daemon import prune_archives

prune_archives(sys.path)

_here = os.path.dirname(os.path.abspath(__file__))
_below = [p for p in sys.path if os.path.abspath(p or ".") != _here]
_spec = importlib.machinery.PathFinder.find_spec("sitecustomize", _below)
if _spec is not None:
    sys.modules["sitecustomize"] = importlib.util.module_from_spec(_spec)
    _spec.loader.exec_module(sys.modules["sitecustomize"])
