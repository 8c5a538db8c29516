"""The REAL stores running end-to-end on object-store commit semantics
(r13 VERDICT item 5): the contract suite proves the seam's clauses; this
suite proves no store code path BYPASSES the seam, by running actual
stores (dedup_on_ingest, merge_additive) with ``HybridManifestBackend``
installed via ``storefs.set_backend`` — every control-plane name then
lives only in the CAS manifest (a marker read with ``open()`` or a final
probed with ``os.path.exists`` fails immediately), while Spark's parquet
bytes stay physical, exactly the S3A-data-plane / manifest-control-plane
split a real deployment runs.

Each scenario is parameterized over the POSIX backend and the hybrid
backend and must behave identically — ingest, dedup suppression, a crash
inside the publish window, and replay convergence included.
"""

from __future__ import annotations

import os

import pytest

from spark_streaming_logservice_spark.streaming import storefs
from spark_streaming_logservice_spark.streaming.dedup_store import (
    dedup_on_ingest,
)
from spark_streaming_logservice_spark.streaming.rollup import merge_additive
from spark_streaming_logservice_spark.streaming.storefs_object import (
    HybridManifestBackend,
    ObjectStoreSim,
)


class _Env:
    def __init__(self, name, root, crashy):
        self.name = name
        self.root = root
        # crashy(kind) -> install a backend whose publish_rename crashes at
        # the named window; returns a restore handle via set_backend
        self.crashy = crashy


@pytest.fixture(params=["posix", "hybrid"])
def env(request, tmp_path):
    root = str(tmp_path / "store-root")
    os.makedirs(root)
    if request.param == "posix":
        class _CrashingPosix(storefs.Backend):
            def publish_rename(self, src, dst):
                raise OSError("injected crash before rename")

        yield _Env("posix", root, lambda: _CrashingPosix())
        return
    sim = ObjectStoreSim(list_lag=True)
    prev = storefs.set_backend(HybridManifestBackend(sim, root))
    try:
        yield _Env(
            "hybrid",
            root,
            lambda: HybridManifestBackend(sim, root, crash_after_cas=True),
        )
    finally:
        storefs.set_backend(prev)


def _batch(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _collector():
    forwarded = []

    def forward(df, batch_id):
        forwarded.append(
            (batch_id, sorted((r.doc_id, r.text) for r in df.collect()))
        )

    return forwarded, forward


def test_dedup_store_ingest_crash_replay_cycle(spark, env):
    """dedup_on_ingest end-to-end: within-batch collapse, cross-batch
    suppression, marker-loss replay, and a fresh factory over the same
    store — identical on POSIX and on the manifest control plane."""
    store = storefs.join(env.root, "digests")
    forwarded, forward = _collector()
    apply = dedup_on_ingest(forward, store)
    apply(_batch(spark, [(5, "aa"), (3, "aa"), (7, "bb")]), 0)
    assert forwarded == [(0, [(3, "aa"), (7, "bb")])]

    # crash window: digests committed, marker lost -> replay forwards the
    # empty novel set and completes the marker (the seam is the ONLY view
    # of the marker: on hybrid it never touches the physical filesystem)
    marker = storefs.join(store, "_markers", "batch-0")
    assert storefs.exists(marker)
    if env.name == "hybrid":
        assert not os.path.exists(marker), (
            "control files must live only in the manifest on hybrid"
        )
    storefs.remove(marker)
    apply(_batch(spark, [(5, "aa"), (3, "aa"), (7, "bb")]), 0)
    assert forwarded[-1] == (0, [])
    assert storefs.exists(marker)

    # fresh factory instance (new run, same store): history still suppresses
    forwarded2, forward2 = _collector()
    apply2 = dedup_on_ingest(forward2, store)
    apply2(_batch(spark, [(9, "aa"), (10, "cc")]), 1)
    assert forwarded2 == [(1, [(10, "cc")])]


def test_dedup_store_publish_crash_window_converges(spark, env):
    """A crash INSIDE the digest publish: on POSIX before the rename (final
    absent, replay re-forwards then commits); on hybrid after the manifest
    CAS (final committed-but-unmaterialized — the seam sees and heals it,
    while a direct os.path.exists says absent: the one-path-rule
    detector). Either way the replay converges with no duplicate
    forwarding downstream of the digest store's history."""
    store = storefs.join(env.root, "digests")
    forwarded, forward = _collector()
    apply = dedup_on_ingest(forward, store)
    apply(_batch(spark, [(1, "aa")]), 0)

    prev = storefs.set_backend(env.crashy())
    try:
        with pytest.raises(OSError, match="injected"):
            apply(_batch(spark, [(2, "bb")]), 1)
    finally:
        storefs.set_backend(prev)
    assert forwarded[-1] == (1, [(2, "bb")])  # forward ran before the crash

    final = storefs.join(store, "q-batch-1.parquet")
    if env.name == "hybrid":
        # the bypass detector: manifest committed, physics not yet
        assert not os.path.exists(final)
        assert storefs.exists(final), (
            "seam view must see the committed publish"
        )
        assert os.path.exists(final), "exists() must have healed the publish"
    else:
        assert not storefs.exists(final)

    # streaming redelivery of batch 1: on hybrid the digests are already
    # in history (CAS committed) so nothing re-forwards; on POSIX the
    # publish never happened so the replay re-forwards then commits —
    # both end states are identical
    apply(_batch(spark, [(2, "bb")]), 1)
    expect = [] if env.name == "hybrid" else [(2, "bb")]
    assert forwarded[-1] == (1, expect)
    assert storefs.exists(final)

    # batch 2 proves history is intact either way
    apply(_batch(spark, [(3, "aa"), (4, "bb"), (5, "zz")]), 2)
    assert forwarded[-1] == (2, [(5, "zz")])


def test_rollup_merge_additive_replay_guard(spark, env):
    """merge_additive's two-phase swap + _batch_meta replay guard on both
    backends: the meta file travels INSIDE the published dir through the
    seam (manifest child on hybrid), and a same-batch replay is a no-op."""
    table = storefs.join(env.root, "counts")
    schema = "k string, c bigint"

    def delta(rows):
        return spark.createDataFrame(rows, schema)

    merge_additive(table, delta([("a", 1), ("b", 2)]), ["k"], ["c"],
                   schema, batch_id=0)
    merge_additive(table, delta([("a", 10)]), ["k"], ["c"],
                   schema, batch_id=1)
    # replay of committed batch 1: meta short-circuit, no double count
    merge_additive(table, delta([("a", 10)]), ["k"], ["c"],
                   schema, batch_id=1)
    data = storefs.join(table, "data")
    got = {
        r["k"]: r["c"]
        for r in spark.read.schema(schema).parquet(data).collect()
    }
    assert got == {"a": 11, "b": 2}
    if env.name == "hybrid":
        # the replay guard's meta is manifest-only: bypassing the seam
        # with open() would fail, which is exactly the point
        meta = storefs.join(data, "_batch_meta.json")
        assert storefs.exists(meta) and not os.path.exists(meta)
        import json

        assert json.loads(storefs.read_text(meta)) == {"": 1}


def test_ingest_pipeline_composed_gate_on_both_backends(spark, env):
    """The COMPOSED pipeline (gate -> dedup -> forward -> vocab -> digest
    append, one marker) end-to-end on each backend: admission, drift
    quarantine, marker-loss crash replay — with every control file
    (flags, markers, vocab meta) living only in the manifest on hybrid."""
    from spark_streaming_logservice_spark.streaming.ingest_pipeline import (
        ingest_pipeline,
        read_quarantine,
    )

    schema = "doc_id BIGINT, text STRING, source STRING"
    b0 = [(1, "alpha beta gamma delta", "srcA"),
          (2, "alpha beta gamma epsilon", "srcA"),
          (3, "one two three four", "srcB")]
    b1 = [(11, "alpha beta gamma delta", "srcA"),   # exact dup of doc 1
          (12, "alpha gamma beta zeta", "srcA"),    # novel
          (13, "zzz qqq www eee", "srcB"),          # drifted source ->
          (14, "zzz qqq www rrr", "srcB"),          # quarantined
          (15, "zzz qqq www sss", "srcB")]

    root = storefs.join(env.root, "pipe")
    sink, alerts = [], []
    apply = ingest_pipeline(
        root,
        lambda df, bid: sink.append(
            (bid, sorted(r["doc_id"] for r in df.collect()))
        ),
        on_alert=lambda bid, scores, qdf: alerts.append(
            (bid, sorted(s["source"] for s in scores))
        ),
        threshold=1.0,
    )
    apply(spark.createDataFrame(b0, schema), 0)
    apply(spark.createDataFrame(b1, schema), 1)
    assert sink == [(0, [1, 2, 3]), (1, [12])]
    assert alerts == [(1, ["srcB"])]
    assert sorted(
        r["doc_id"] for r in read_quarantine(spark, root, schema).collect()
    ) == [13, 14, 15]

    flag = storefs.join(root, "_flags", "batch-1.json")
    marker = storefs.join(root, "_markers", "batch-1")
    assert storefs.exists(flag) and storefs.exists(marker)
    if env.name == "hybrid":
        # the one-path rule, observable: decisions and markers live ONLY
        # in the manifest — any open()/os.path access would miss them
        assert not os.path.exists(flag) and not os.path.exists(marker)

    # marker-loss crash replay (through the seam): forward re-runs empty
    # (digests already know doc 12), the RECORDED flag set re-alerts
    # identically, quarantine restages onto itself
    storefs.remove(marker)
    apply(spark.createDataFrame(b1, schema), 1)
    assert sink[-1] == (1, [])
    assert alerts[-1] == (1, ["srcB"])
    assert read_quarantine(spark, root, schema).count() == 3
    assert storefs.exists(marker)
