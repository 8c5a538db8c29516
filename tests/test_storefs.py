"""The store layer's one filesystem seam (streaming/storefs.py): every
durable-state primitive of the streaming stores goes through the swappable
backend, so the 100 TB object-store deployment is an adapter, not a store
rewrite. These tests pin the routing — a recording backend observes the
stores' publishes/markers — and the swap/restore contract."""

from __future__ import annotations

import os

from spark_streaming_logservice_spark.streaming import storefs


class _Recording(storefs.Backend):
    """POSIX behavior, call-counted."""

    def __init__(self):
        self.calls: dict[str, int] = {}

    def _note(self, op):
        self.calls[op] = self.calls.get(op, 0) + 1


def _count(op):
    base = getattr(storefs.Backend, op)

    def method(self, *a, **k):
        self._note(op)
        return base(self, *a, **k)

    return method


for _op in [
    "publish_rename", "replace_file", "listdir", "exists", "isdir",
    "makedirs", "rmtree", "remove", "read_text", "write_text",
    "copy_file", "getmtime", "mtime_ns", "utime", "walk",
]:
    setattr(_Recording, _op, _count(_op))


def test_set_backend_swaps_and_restores(tmp_path):
    rec = _Recording()
    prev = storefs.set_backend(rec)
    try:
        p = str(tmp_path / "x")
        storefs.write_text(p, "hello")
        assert storefs.read_text(p) == "hello"
        assert rec.calls["write_text"] == 1 and rec.calls["read_text"] == 1
    finally:
        assert storefs.set_backend(prev) is rec
    # restored: the recorder no longer observes traffic
    storefs.exists(str(tmp_path))
    assert "exists" not in rec.calls or rec.calls["exists"] == 0


def test_dedup_store_routes_through_seam(spark, tmp_path):
    """A full dedup_on_ingest batch drives its staging publish, impl pin,
    marker, and store listing through the backend — the crash-safety
    surface is entirely behind the seam."""
    from spark_streaming_logservice_spark.streaming.dedup_store import (
        dedup_on_ingest,
    )

    store = str(tmp_path / "dg")
    rec = _Recording()
    prev = storefs.set_backend(rec)
    try:
        out = []
        apply = dedup_on_ingest(lambda df, bid: out.append(df.count()), store)
        df = spark.createDataFrame(
            [(1, "aa"), (2, "aa")], "doc_id BIGINT, text STRING"
        )
        apply(df, 0)
    finally:
        storefs.set_backend(prev)
    assert out == [1]
    # staging publish + batch marker + orphan sweep all observed by the
    # backend
    assert rec.calls["publish_rename"] >= 1  # _staging -> final parquet
    assert rec.calls["write_text"] >= 1      # batch marker
    assert rec.calls["listdir"] >= 1         # namespace-scoped sweep
    assert os.path.exists(os.path.join(store, "q-batch-0.parquet"))


def test_rollup_merge_routes_through_seam(spark, tmp_path):
    from pyspark.sql import functions as F

    from spark_streaming_logservice_spark.streaming.rollup import (
        merge_additive, read_store,
    )

    root = str(tmp_path / "roll")
    df = spark.createDataFrame([("a", 1), ("b", 2)], "k STRING, c BIGINT")
    rec = _Recording()
    prev = storefs.set_backend(rec)
    try:
        merge_additive(
            root, df, key_cols=["k"], sum_cols=["c"],
            schema="k STRING, c BIGINT", batch_id=0,
            partition_expr=F.crc32(F.col("k")) % 4,
        )
        got = {
            r["k"]: r["c"]
            for r in read_store(spark, root, "k STRING, c BIGINT").collect()
        }
    finally:
        storefs.set_backend(prev)
    assert got == {"a": 1, "b": 2}
    assert rec.calls["publish_rename"] >= 1  # tmp -> data swap
    assert rec.calls["write_text"] >= 1      # _batch_meta.json


class _FailOnce(_Recording):
    """POSIX behavior, except the Nth publish_rename raises — the
    injected crash point every store's staging protocol must absorb."""

    def __init__(self, fail_on_call: int):
        super().__init__()
        self._fail_on = fail_on_call

    def publish_rename(self, src, dst):
        self._note("publish_rename")
        if self.calls["publish_rename"] == self._fail_on:
            raise OSError("injected crash at publish")
        storefs.Backend.publish_rename(self, src, dst)


def test_injected_publish_crash_converges_on_retry(spark, tmp_path):
    """Kill the digest append's publish-rename mid-batch: the batch
    errors (streaming would retry it), the retry re-forwards under the
    downstream's own idempotency contract and completes the append —
    no lost digests, no torn store visible to the probe."""
    import pytest as _pytest

    from spark_streaming_logservice_spark.streaming.dedup_store import (
        _store_files,
        dedup_on_ingest,
    )

    store = str(tmp_path / "dg")
    out = []
    apply = dedup_on_ingest(
        lambda df, bid: out.append(
            sorted(r["doc_id"] for r in df.select("doc_id").collect())
        ),
        store,
    )
    df0 = spark.createDataFrame(
        [(1, "aa"), (2, "bb")], "doc_id BIGINT, text STRING"
    )
    rec = _FailOnce(fail_on_call=1)
    prev = storefs.set_backend(rec)
    try:
        with _pytest.raises(OSError, match="injected"):
            apply(df0, 0)
    finally:
        storefs.set_backend(prev)
    # forward ran, publish did not: the staging dir is invisible to the
    # store probe (never renamed) and there is no batch marker
    assert out == [[1, 2]]
    assert _store_files(store) == []
    # retry (streaming redelivery): converges — forward redelivers the
    # same rows (downstream guard's contract), digests land, marker set
    apply(df0, 0)
    assert out == [[1, 2], [1, 2]]
    assert len(_store_files(store)) == 1
    # and the store now actually dedups against the recovered digests
    apply(
        spark.createDataFrame(
            [(3, "aa"), (4, "cc")], "doc_id BIGINT, text STRING"
        ),
        1,
    )
    assert out[-1] == [4]
