"""Daemon of the Python task workers (``spark.python.daemon.module``, set by
``session.get_spark``).

Spark starts it as ``python -m <this module> pyspark.worker`` once per
executor, before any pyspark import, and forks every task worker from it.
It drops from ``sys.path`` each archive that adds nothing a directory entry
does not already give, then runs ``pyspark.daemon.manager``. On CPython 3.11
every task's ``importlib.invalidate_caches()`` re-reads the directory of each
cached ``zipimporter`` (``pyspark.zip``, the py4j zip and the spark-core jar
that ``PythonUtils.sparkPythonPath`` puts on the path); with the archives
gone it resets directory finders only. An archive with a module found nowhere
else, or a package whose ``version.py`` differs, stays on the path.
"""

from __future__ import annotations

import os
import sys
import zipfile


def redundant(archive: str, dirs: list[str]) -> bool:
    """True when ``archive`` holds no Python, or when each of its top-level
    packages is first found in ``dirs`` as a directory package whose
    ``version.py`` is byte-identical to the archive's."""
    with zipfile.ZipFile(archive) as zf:
        tops = {n.split("/", 1)[0] for n in zf.namelist() if n.endswith((".py", ".pyc"))}
        for top in tops:
            home = next((d for d in dirs if os.path.exists(os.path.join(d, top))), None)
            if home is None:
                return False
            try:
                with open(os.path.join(home, top, "version.py"), "rb") as f:
                    if f.read() != zf.read(f"{top}/version.py"):
                        return False
            except (OSError, KeyError):  # a module, or a package with no version.py
                return False
    return True


def prune_archives(path: list[str]) -> list[str]:
    """Remove the redundant archives from ``path`` (in place) and from
    ``sys.path_importer_cache``; returns the removed entries."""
    dirs = [os.path.abspath(p or ".") for p in path if os.path.isdir(p or ".")]
    dropped = [p for p in path if zipfile.is_zipfile(p) and redundant(p, dirs)]
    for p in dropped:
        path.remove(p)
        sys.path_importer_cache.pop(p, None)
    return dropped


if __name__ == "__main__":
    prune_archives(sys.path)
    from pyspark import daemon

    daemon.manager()
