"""Dedup-on-ingest semantics: cross-batch suppression against the
persistent digest store, within-batch collapse, replay idempotency, and
the crash-between-digests-and-marker window."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from spark_streaming_logservice_spark.streaming.dedup_store import (
    dedup_on_ingest,
)


@pytest.fixture()
def store(tmp_path):
    return str(tmp_path / "digests")


def _batch(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _collector():
    forwarded: list[tuple[int, list[tuple[int, str]]]] = []

    def forward(df, batch_id):
        forwarded.append(
            (batch_id, sorted((r.doc_id, r.text) for r in df.collect()))
        )

    return forwarded, forward


def test_within_batch_collapse_keeps_lowest_id(spark, store):
    forwarded, forward = _collector()
    apply = dedup_on_ingest(forward, store)
    apply(_batch(spark, [(5, "aa"), (3, "aa"), (7, "bb")]), 0)
    assert forwarded == [(0, [(3, "aa"), (7, "bb")])]


def test_cross_batch_suppression_survives_new_apply(spark, store):
    forwarded, forward = _collector()
    apply = dedup_on_ingest(forward, store)
    apply(_batch(spark, [(1, "aa")]), 0)
    # a FRESH factory instance (new run) must still see batch 0's digests
    forwarded2, forward2 = _collector()
    apply2 = dedup_on_ingest(forward2, store)
    apply2(_batch(spark, [(2, "aa"), (3, "cc")]), 1)
    assert forwarded2 == [(1, [(3, "cc")])]


def test_replay_of_committed_batch_is_noop(spark, store):
    forwarded, forward = _collector()
    apply = dedup_on_ingest(forward, store)
    b = _batch(spark, [(1, "aa")])
    apply(b, 0)
    apply(b, 0)
    assert len(forwarded) == 1


def test_crash_between_digests_and_marker_replays_clean(spark, store):
    forwarded, forward = _collector()
    apply = dedup_on_ingest(forward, store)
    apply(_batch(spark, [(1, "aa")]), 0)
    # simulate the crash window: digests landed, marker lost
    os.remove(os.path.join(store, "_markers", "batch-0"))
    apply(_batch(spark, [(1, "aa")]), 0)
    # replay forwards nothing new (its own digests are in the store) and
    # completes the marker; later batches still dedup correctly
    assert forwarded == [(0, [(1, "aa")]), (0, [])]
    assert os.path.exists(os.path.join(store, "_markers", "batch-0"))
    apply(_batch(spark, [(2, "aa"), (9, "zz")]), 1)
    assert forwarded[-1] == (1, [(9, "zz")])


def _as_query(spark, qid):
    """Run the next batches as if inside streaming query ``qid``'s
    foreachBatch (None: outside any query)."""
    spark.sparkContext.setLocalProperty("sql.streaming.queryId", qid)


def test_two_queries_share_one_store(spark, store):
    fa, forward_a = _collector()
    fb, forward_b = _collector()
    try:
        _as_query(spark, "query-a")
        dedup_on_ingest(forward_a, store)(_batch(spark, [(1, "aa")]), 0)
        # query-b's batch 0 must NOT be mistaken for query-a's replay, and
        # must see query-a's digests (shared corpus memory)
        _as_query(spark, "query-b")
        dedup_on_ingest(forward_b, store)(
            _batch(spark, [(2, "aa"), (3, "bb")]), 0
        )
    finally:
        _as_query(spark, None)
    assert fa == [(0, [(1, "aa")])]
    assert fb == [(0, [(3, "bb")])]
    assert sorted(f for f in os.listdir(store) if f.endswith(".parquet")) == [
        "q-query-a-batch-0.parquet", "q-query-b-batch-0.parquet",
    ]


def test_end_to_end_streaming_dedup(spark, store, tmp_path):
    """Drive dedup_on_ingest through a real Structured Streaming query."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    _batch(spark, [(1, "aa"), (2, "aa"), (3, "bb")]).write.mode(
        "overwrite"
    ).json(src)
    forwarded, forward = _collector()
    q = (
        spark.readStream.schema("doc_id long, text string")
        .json(src)
        .writeStream.foreachBatch(dedup_on_ingest(forward, store))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    seen = {t for _, rows in forwarded for t in rows}
    assert seen == {(1, "aa"), (3, "bb")}


def test_orphaned_staging_swept_on_next_apply(spark, store):
    forwarded, forward = _collector()
    apply = dedup_on_ingest(forward, store)
    apply(_batch(spark, [(1, "aa")]), 0)
    orphan = os.path.join(store, "_staging-q-batch-99-dead")
    os.makedirs(orphan)
    # a CONCURRENT writer's in-flight staging (another writer's prefix, or
    # another query's record) must survive the sweep — the store
    # explicitly supports shared writers
    foreign = [
        os.path.join(store, "_staging-pipe-batch-0-inflight"),
        os.path.join(store, "_staging-q-query-b-batch-0-inflight"),
    ]
    for d in foreign:
        os.makedirs(d)
    apply(_batch(spark, [(2, "bb")]), 1)
    assert not os.path.exists(orphan)
    assert all(os.path.exists(d) for d in foreign)
    assert forwarded[-1] == (1, [(2, "bb")])


def test_compaction_preserves_dedup_and_replay(spark, tmp_path):
    """Compacting the digest store must not change what is deduplicated,
    and batch replays after compaction stay no-ops (markers survive)."""
    from spark_streaming_logservice_spark.streaming.dedup_store import (
        _store_files,
        compact_digest_store,
        dedup_on_ingest,
    )

    digest_dir = str(tmp_path / "dg")
    seen = []
    ingest = dedup_on_ingest(
        lambda df, bid: seen.append(
            sorted(r["doc_id"] for r in df.select("doc_id").collect())
        ),
        digest_dir,
    )

    def batch(rows):
        return spark.createDataFrame(rows, "doc_id LONG, text STRING")

    ingest(batch([(1, "aa"), (2, "bb")]), 0)
    ingest(batch([(3, "aa"), (4, "cc")]), 1)  # 3 is a dup of 1
    assert seen == [[1, 2], [4]]
    assert len(_store_files(digest_dir)) == 2

    retired = compact_digest_store(spark, digest_dir)
    assert retired == 2
    assert len(_store_files(digest_dir)) == 1

    # dedup against the compacted store still filters known digests
    ingest(batch([(5, "bb"), (6, "dd")]), 2)
    assert seen[-1] == [6]
    # replay of a pre-compaction batch is still a marker no-op
    ingest(batch([(1, "aa"), (2, "bb")]), 0)
    assert seen[-1] == [6], "replayed batch must not re-forward"


def test_null_text_passes_through_identically_on_both_impls(spark, tmp_path):
    """NULL-text semantics are explicit (ADVICE r10): without the
    pass-through, xxhash64 skips NULL inputs and would collapse ALL
    NULL-text history to one salt-only digest. The contract: NULL-text
    rows are always forwarded (no content to compare), never
    deduplicated, and never written to the digest store."""
    from spark_streaming_logservice_spark.streaming.dedup_store import (
        STORE_KEYS,
        STORE_SCHEMA,
        _store_files,
    )

    batches = [
        [(1, None), (2, "aa"), (3, None)],
        [(4, None), (5, "aa"), (6, "bb")],
    ]
    store = str(tmp_path / "dg")
    forwarded, forward = _collector()
    apply = dedup_on_ingest(forward, store)
    for i, rows in enumerate(batches):
        apply(_batch(spark, rows), i)
    # every NULL row forwarded (both within-batch ones), dups on real
    # text still suppressed across batches
    assert forwarded == [
        (0, [(1, None), (2, "aa"), (3, None)]),
        (1, [(4, None), (6, "bb")]),
    ]
    # the store holds only the 2 real digests — no NULL rows
    stored = spark.read.schema(STORE_SCHEMA).parquet(*_store_files(store))
    assert stored.count() == 2
    assert stored.where(F.col(STORE_KEYS[0]).isNull()).count() == 0


def test_compaction_under_continuous_ingest_many_batches(spark, tmp_path):
    """VERDICT r10 item 7: a long-running ingest appends one dir per batch;
    compaction must keep working at high file counts — dedup history
    intact, replays still no-ops, and a
    second compaction cycle after further ingest stays correct."""
    from spark_streaming_logservice_spark.streaming.dedup_store import (
        _store_files,
        compact_digest_store,
    )

    digest_dir = str(tmp_path / "dg")
    seen = []
    ingest = dedup_on_ingest(
        lambda df, bid: seen.append(
            sorted(r["doc_id"] for r in df.select("doc_id").collect())
        ),
        digest_dir,
    )
    # 120 batches, 2 rows each: one always-novel doc + one dup of the
    # previous batch's novel doc (so every batch exercises the store probe)
    n_batches = 120
    for i in range(n_batches):
        rows = [(2 * i, f"doc-{i}")]
        if i > 0:
            rows.append((2 * i + 1, f"doc-{i - 1}"))
        ingest(_batch(spark, rows), i)
    assert all(fwd == [2 * i] for i, fwd in enumerate(seen))
    assert len(_store_files(digest_dir)) == n_batches

    retired = compact_digest_store(spark, digest_dir)
    assert retired == n_batches
    assert len(_store_files(digest_dir)) == 1

    # full history survives: every past doc is still suppressed
    ingest(_batch(spark, [(9000 + i, f"doc-{i}") for i in range(n_batches)]),
           n_batches)
    assert seen[-1] == []
    # replay of an early pre-compaction batch is still a marker no-op
    before = len(seen)
    ingest(_batch(spark, [(0, "doc-0")]), 0)
    assert len(seen) == before

    # second cycle: more ingest on top of the compacted file, compact again
    for i in range(n_batches + 1, n_batches + 11):
        ingest(_batch(spark, [(10_000 + i, f"late-{i}"), (20_000 + i, "doc-3")]),
               i)
    assert all(fwd == [10_000 + i] for i, fwd in
               zip(range(n_batches + 1, n_batches + 11), seen[before:]))
    # 1 compacted + the all-dup batch's empty digest file + 10 new batches
    assert compact_digest_store(spark, digest_dir) == 12
    ingest(_batch(spark, [(99_999, "late-121"), (99_998, "never-seen")]),
           n_batches + 20)
    assert seen[-1] == [99_998]

