"""The Python workers' startup hook (``worker_site/sitecustomize.py``) and
its archive rule (``pyworker_daemon``): the rule on temporary zips, the hook
in a bare interpreter, and, in a fresh ``get_spark`` application started
from a foreign cwd, that task workers and every data-source runner run with
no archive importer on their path."""

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


def test_hook_prunes_and_runs_the_sitecustomize_it_shadows(tmp_path):
    site = os.path.join(_REPO, "spark_streaming_logservice_spark", "worker_site")
    marker = tmp_path / "marker"
    later = _tree(tmp_path / "later", {
        "sitecustomize.py": f"open({str(marker)!r}, 'w').write('ran')\n",
    })
    d = _tree(tmp_path / "site", _PKG)
    same = _zip(tmp_path / "same.zip", _PKG)
    other = _zip(tmp_path / "other.zip", {**_PKG, "pkg/version.py": "__version__ = '1.1'\n"})
    path = [same, other, _REPO, site, later, d]
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(path)}
    proc = subprocess.run(
        [sys.executable, "-c", "import json, sys; print(json.dumps(sys.path))"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode == 0, proc.stderr
    assert proc.stderr == ""
    seen = json.loads(proc.stdout)
    assert same not in seen
    assert other in seen
    assert marker.read_text() == "ran"


_CHILD = """
import json, os, sys
sys.path.insert(0, sys.argv[1])  # the driver's path only: not PYTHONPATH
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource, DataSourceReader, DataSourceStreamReader, DataSourceStreamWriter,
    InputPartition, WriterCommitMessage,
)
from pyspark.sql.types import StringType, StructField, StructType
from spark_streaming_logservice_spark.session import get_spark


def probe(_=None):
    import os, sys, zipimport
    return json.dumps({
        "archives": [p for p in sys.path if os.path.isfile(p)],
        "zipimporters": sum(isinstance(f, zipimport.zipimporter)
                            for f in sys.path_importer_cache.values()),
    })


class ProbeReader(DataSourceReader):
    def partitions(self):  # plan_data_source_read
        return [InputPartition(probe())]

    def read(self, partition):
        yield (partition.value,)


class ProbeStreamReader(DataSourceStreamReader):  # python_streaming_source_runner
    def initialOffset(self):
        return {"at": 0, "initial": json.loads(probe())}

    def latestOffset(self):
        return {"at": 1, "latest": json.loads(probe())}

    def partitions(self, start, end):
        return [InputPartition(0)] if start["at"] < end["at"] else []

    def read(self, partition):
        yield ("row",)


class ProbeStreamWriter(DataSourceStreamWriter):
    def __init__(self, path, created):
        self.path, self.created = path, created

    def write(self, iterator):
        for _ in iterator:
            pass
        return WriterCommitMessage()

    def commit(self, messages, batchId):  # python_streaming_sink_runner
        with open(self.path, "a") as f:
            f.write(json.dumps({"write_into_data_source": json.loads(self.created),
                                "sink_commit": json.loads(probe())}) + "\\n")


class ProbeSource(DataSource):
    @classmethod
    def name(cls):
        return "runner_probe"

    def schema(self):  # create_data_source
        return StructType([StructField(probe(), StringType())])

    def reader(self, schema):
        return ProbeReader()

    def streamReader(self, schema):
        return ProbeStreamReader()

    def streamWriter(self, schema, overwrite):  # write_into_data_source
        return ProbeStreamWriter(self.options["path"], probe())


spark = get_spark(app_name="pyworker-daemon-test", master="local[2]",
                  shuffle_partitions=2)
df = spark.range(4)
plain = sorted(r[0] for r in df.select(F.udf(lambda x: x + 1, "long")("id")).collect())
workers = [json.loads(r[0]) for r in df.select(F.udf(probe, "string")("id")).collect()]

spark.dataSource.register(ProbeSource)
batch = spark.read.format("runner_probe").load()
runners = {
    "create_data_source": [json.loads(batch.columns[0])],
    "plan_data_source_read": [json.loads(r[0]) for r in batch.collect()],
}
commits = os.path.abspath("commits.jsonl")
q = (spark.readStream.format("runner_probe").load()
     .writeStream.format("runner_probe").option("path", commits)
     .option("checkpointLocation", os.path.abspath("ckpt")).start())
q.processAllAvailable()
end = json.loads(q.lastProgress.json)["sources"][0]["endOffset"]
q.stop()
runners["python_streaming_source_runner"] = [end["latest"]]
with open(commits) as f:
    for line in f:
        for k, v in json.loads(line).items():
            runners.setdefault(k, []).append(v)
spark.stop()
print(json.dumps({"plain": plain, "workers": workers, "runners": runners}))
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


def test_every_data_source_runner_holds_no_archive_importer(foreign_cwd_app):
    runners = foreign_cwd_app["runners"]
    assert sorted(runners) == [
        "create_data_source", "plan_data_source_read",
        "python_streaming_source_runner", "sink_commit", "write_into_data_source",
    ]
    for name, reports in runners.items():
        assert reports, name
        for r in reports:
            assert not [p for p in r["archives"] if p.endswith("pyspark.zip")], (name, r)
            assert r["zipimporters"] == 0, (name, r)


def test_worker_conf_keeps_the_callers_pythonpath_ahead_of_the_root():
    from spark_streaming_logservice_spark import session

    key = "spark.executorEnv.PYTHONPATH"
    site = os.path.join(_REPO, "spark_streaming_logservice_spark", "worker_site")
    conf = session._worker_conf({key: os.pathsep.join(["/a", _REPO]), "x": "1"})
    assert conf[key] == os.pathsep.join(["/a", _REPO, site])
    assert conf["x"] == "1"
    assert session._worker_conf({})[key] == os.pathsep.join([_REPO, site])
    assert "spark.python.daemon.module" not in session._worker_conf({})
