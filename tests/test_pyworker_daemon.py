"""The Python workers' daemon module (``pyworker_daemon``): its archive rule
on temporary zips, and, in a fresh ``get_spark`` application started from a
foreign cwd, that task workers run with no archive importer on their path."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

import pytest

from spark_streaming_logservice_spark.pyworker_daemon import prune_archives

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tree(root, files: dict[str, str]) -> str:
    for name, text in files.items():
        p = root / name
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(text)
    return str(root)


def _zip(path, files: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in files.items():
            zf.writestr(name, text)
    return str(path)


_PKG = {"pkg/__init__.py": "", "pkg/version.py": "__version__ = '1.0'\n"}


def test_same_version_duplicate_is_dropped(tmp_path, monkeypatch):
    d = _tree(tmp_path / "site", _PKG)
    z = _zip(tmp_path / "pkg.zip", _PKG)
    monkeypatch.setitem(sys.path_importer_cache, z, object())
    path = [z, d]
    assert prune_archives(path) == [z]
    assert path == [d]
    assert z not in sys.path_importer_cache


def test_version_mismatch_keeps_archive(tmp_path):
    d = _tree(tmp_path / "site", _PKG)
    z = _zip(tmp_path / "pkg.zip", {**_PKG, "pkg/version.py": "__version__ = '1.1'\n"})
    path = [z, d]
    assert prune_archives(path) == []
    assert path == [z, d]


def test_archive_with_a_module_found_nowhere_else_is_kept(tmp_path):
    d = _tree(tmp_path / "site", _PKG)
    z = _zip(tmp_path / "pkg.zip", {**_PKG, "only_here.py": "X = 1\n"})
    path = [z, d]
    assert prune_archives(path) == []
    assert path == [z, d]


def test_archive_with_no_python_is_dropped(tmp_path):
    d = _tree(tmp_path / "site", {})
    z = _zip(tmp_path / "core.jar", {
        "META-INF/MANIFEST.MF": "Manifest-Version: 1.0\n",
        "org/example/Main.class": "\xca\xfe",
    })
    path = [d, z]
    assert prune_archives(path) == [z]
    assert path == [d]


_CHILD = """
import json, sys
sys.path.insert(0, sys.argv[1])  # the driver's path only: not PYTHONPATH
from pyspark.sql import functions as F
from spark_streaming_logservice_spark.session import get_spark


def probe(_):
    import os, sys, zipimport
    return json.dumps({
        "archives": [p for p in sys.path if os.path.isfile(p)],
        "zipimporters": sum(isinstance(f, zipimport.zipimporter)
                            for f in sys.path_importer_cache.values()),
    })


spark = get_spark(app_name="pyworker-daemon-test", master="local[2]",
                  shuffle_partitions=2)
df = spark.range(4)
plain = sorted(r[0] for r in df.select(F.udf(lambda x: x + 1, "long")("id")).collect())
workers = [json.loads(r[0]) for r in df.select(F.udf(probe, "string")("id")).collect()]
spark.stop()
print(json.dumps({"plain": plain, "workers": workers}))
"""


@pytest.fixture(scope="module")
def foreign_cwd_app(tmp_path_factory):
    """A fresh application whose driver finds the package through a
    ``sys.path`` edit, started from a directory that holds no package."""
    cwd = tmp_path_factory.mktemp("foreign-cwd")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, _REPO],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_plain_lambda_udf_runs_from_a_foreign_cwd(foreign_cwd_app):
    assert foreign_cwd_app["plain"] == [1, 2, 3, 4]


def test_task_workers_hold_no_archive_importer(foreign_cwd_app):
    workers = foreign_cwd_app["workers"]
    assert len(workers) == 4
    for w in workers:
        assert not [p for p in w["archives"] if p.endswith("pyspark.zip")], w
        assert w["zipimporters"] == 0, w


def test_worker_conf_keeps_the_callers_pythonpath_ahead_of_the_root():
    from spark_streaming_logservice_spark import session

    key = "spark.executorEnv.PYTHONPATH"
    conf = session._worker_conf({key: os.pathsep.join(["/a", _REPO]), "x": "1"})
    assert conf[key] == os.pathsep.join(["/a", _REPO])
    assert conf["x"] == "1"
    assert session._worker_conf({})[key] == _REPO
    assert session._worker_conf({})["spark.python.daemon.module"] == (
        "spark_streaming_logservice_spark.pyworker_daemon"
    )
