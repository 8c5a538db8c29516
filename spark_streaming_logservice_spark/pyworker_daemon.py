"""Archive rule of the Python workers' startup hook
(``worker_site/sitecustomize.py``, put on the workers' path by
``session.get_spark``).

Spark puts ``pyspark.zip``, the py4j zip and the spark-core jar
(``PythonUtils.sparkPythonPath``) ahead of everything else on the
``sys.path`` of every Python process it starts. On CPython 3.11 each
``importlib.invalidate_caches()`` (one per task and one per data-source
runner call) re-reads the directory of each cached ``zipimporter``, and
pyspark itself is imported from the zip. The hook calls ``prune_archives``
before any pyspark import; it drops each archive that adds nothing a
directory entry does not already give. An archive with a module found
nowhere else, or a package whose ``version.py`` differs, stays on the path.
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

