"""Composed ingest pipeline (gate → dedup → forward): the stage ORDER is
the property under test. Quarantined rows must leave no trace in pipeline
state (so recovery re-ingest is admitted, not swallowed by the digest
store), the profile must learn only novel rows, replay must converge."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from spark_streaming_logservice_spark.streaming.ingest_pipeline import (
    clear_quarantine,
    ingest_pipeline,
    read_quarantine,
)
from spark_streaming_logservice_spark.streaming.vocab_drift import (
    read_vocab_profile,
)

SCHEMA = "doc_id BIGINT, text STRING, source STRING"

A0 = [(1, "alpha beta gamma delta", "srcA"), (2, "alpha beta gamma epsilon", "srcA")]
B0 = [(3, "one two three four", "srcB")]
A1 = [
    (11, "alpha beta gamma delta", "srcA"),   # exact dup of doc 1
    (12, "alpha gamma beta zeta", "srcA"),    # novel, same distribution
]
B1_DRIFT = [
    (13, "zzz qqq www eee", "srcB"),
    (14, "zzz qqq www rrr", "srcB"),
    (15, "zzz qqq www sss", "srcB"),
]


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


@pytest.fixture()
def pipe(spark, tmp_path):
    root = str(tmp_path / "pipe")
    sink: list[tuple[int, list]] = []
    alerts: list[tuple[int, list]] = []

    def forward(df, batch_id):
        sink.append((batch_id, sorted(r["doc_id"] for r in df.collect())))

    def on_alert(batch_id, scores, qdf):
        alerts.append((batch_id, sorted(s["source"] for s in scores)))

    apply = ingest_pipeline(root, forward, on_alert=on_alert, threshold=1.0)
    return root, apply, sink, alerts


def _run_two_batches(spark, pipe):
    root, apply, sink, alerts = pipe
    apply(_df(spark, A0 + B0), 0)
    apply(_df(spark, A1 + B1_DRIFT), 1)
    return root, apply, sink, alerts


def test_composed_flow(spark, pipe):
    root, apply, sink, alerts = _run_two_batches(spark, pipe)
    # batch 0: everything admitted on bootstrap trust
    assert sink[0] == (0, [1, 2, 3])
    # batch 1: srcB quarantined; srcA's exact dup (11) dropped, novel 12 kept
    assert sink[1] == (1, [12])
    assert alerts == [(1, ["srcB"])]
    q = read_quarantine(spark, root, SCHEMA)
    assert sorted(r["doc_id"] for r in q.collect()) == [13, 14, 15]
    # the profile never learned the drifted vocabulary
    prof = read_vocab_profile(spark, os.path.join(root, "vocab"))
    toks = {r["token"] for r in prof.collect()}
    assert "zzz" not in toks and "alpha" in toks and "one" in toks
    # digests: 3 batch-0 rows + 1 novel batch-1 row; never the quarantined
    dig = spark.read.parquet(
        *[
            os.path.join(root, "digests", f)
            for f in os.listdir(os.path.join(root, "digests"))
            if f.endswith(".parquet")
        ]
    )
    assert dig.count() == 4


def test_replay_completed_batch_is_noop(spark, pipe):
    root, apply, sink, alerts = _run_two_batches(spark, pipe)
    snapshot = (list(sink), list(alerts))
    apply(_df(spark, A1 + B1_DRIFT), 1)  # redelivery of a COMPLETED batch
    assert (sink, alerts) == snapshot
    q = read_quarantine(spark, root, SCHEMA)
    assert q.count() == 3


def test_crash_replay_converges(spark, pipe):
    root, apply, sink, alerts = _run_two_batches(spark, pipe)
    prof_before = sorted(
        map(tuple, read_vocab_profile(spark, os.path.join(root, "vocab")).collect())
    )
    # simulate a crash AFTER all stage writes, BEFORE the pipeline marker
    os.remove(os.path.join(root, "_markers", "batch-1"))
    apply(_df(spark, A1 + B1_DRIFT), 1)
    # redelivery re-runs forward (empty now: digests already know doc 12)
    # and re-alerts the SAME flag set — the documented crash contract
    assert sink[-1] == (1, [])
    assert alerts[-1] == (1, ["srcB"])
    # state converged: profile unchanged (merge is batch-id guarded),
    # quarantine restaged onto itself, digest count unchanged
    prof_after = sorted(
        map(tuple, read_vocab_profile(spark, os.path.join(root, "vocab")).collect())
    )
    assert prof_after == prof_before
    assert read_quarantine(spark, root, SCHEMA).count() == 3
    dig = spark.read.parquet(
        *[
            os.path.join(root, "digests", f)
            for f in os.listdir(os.path.join(root, "digests"))
            if f.endswith(".parquet")
        ]
    )
    assert dig.count() == 4


def test_quarantine_reingest_is_admitted_not_swallowed(spark, pipe):
    """THE composition property: because the gate runs before dedup, the
    digest store never saw the quarantined rows — recovery re-ingest under
    a new batch id forwards ALL of them (dedup-first would forward none)."""
    root, apply, sink, alerts = _run_two_batches(spark, pipe)
    staged = read_quarantine(spark, root, SCHEMA)
    # recovery: a human accepted the new distribution; re-ingest through a
    # trust-this-batch instance (threshold above the L1 maximum of 2)
    recover = ingest_pipeline(
        root,
        lambda df, bid: sink.append((bid, sorted(r["doc_id"] for r in df.collect()))),
        threshold=2.1,
    )
    recover(staged, 2)
    assert sink[-1] == (2, [13, 14, 15])  # nothing swallowed
    assert clear_quarantine(root) == 1
    # the profile has now learned the accepted distribution, so srcB's next
    # normal batch passes the NORMAL gate
    apply(_df(spark, [(21, "zzz qqq www eee", "srcB")]), 3)
    assert sink[-1] == (3, [])  # exact dup of doc 13 -> deduped, not quarantined
    assert alerts[-1] == (1, ["srcB"])  # no new alert
    apply(_df(spark, [(22, "zzz www qqq ttt", "srcB")]), 4)
    assert sink[-1] == (4, [22])  # novel, same accepted distribution


def test_null_rows_pass_through_every_stage(spark, pipe):
    root, apply, sink, alerts = pipe
    rows = [
        (31, "alpha beta", "srcA"),
        (32, None, "srcA"),        # NULL text: undedupable pass-through
        (33, "gamma delta", None),  # NULL source: unscoreable pass-through
    ]
    apply(_df(spark, rows), 0)
    assert sink[0] == (0, [31, 32, 33])
    # NULL-source tokens never reach the profile; NULL text never digested
    prof = read_vocab_profile(spark, os.path.join(root, "vocab"))
    assert prof.where(F.col("source").isNull()).count() == 0
    dig = spark.read.parquet(
        *[
            os.path.join(root, "digests", f)
            for f in os.listdir(os.path.join(root, "digests"))
            if f.endswith(".parquet")
        ]
    )
    assert dig.count() == 2  # docs 31 and 33 only


def test_replay_reuses_recorded_decision_never_rescores(spark, pipe, monkeypatch):
    """The flag decision is durable: a crash replay reuses _flags/batch-N
    and must NOT re-score — the profile may already have merged this
    batch's novel rows, and re-scoring against that shifted profile can
    flip a clean source to flagged (quarantining already-digested rows)."""
    from spark_streaming_logservice_spark.streaming import ingest_pipeline as IP

    root, apply, sink, alerts = _run_two_batches(spark, pipe)
    os.remove(os.path.join(root, "_markers", "batch-1"))

    def boom(*a, **k):
        raise AssertionError("replay must not re-score a recorded batch")

    monkeypatch.setattr(IP, "score_and_split", boom)
    apply(_df(spark, A1 + B1_DRIFT), 1)  # crash replay
    assert alerts[-1] == (1, ["srcB"])  # decision replayed from the record


def test_shared_digest_store_namespaces_do_not_collide(spark, tmp_path):
    """The pipeline's digest appends carry their own file prefix ('pipe')
    so a dedup_on_ingest stream (prefix 'q') sharing the store on the
    same batch ids never makes either writer skip its append."""
    from spark_streaming_logservice_spark.streaming.dedup_store import (
        dedup_on_ingest,
    )

    root = str(tmp_path / "shared")
    digest_dir = os.path.join(root, "digests")
    ingest = dedup_on_ingest(lambda df, bid: df.count(), digest_dir)
    ingest(_df(spark, A0), 0)  # writes q-batch-0.parquet
    pipe = ingest_pipeline(root, lambda df, bid: df.count())
    pipe(_df(spark, B0), 0)  # must write pipe-batch-0.parquet, not skip
    files = sorted(
        f for f in os.listdir(digest_dir) if f.endswith(".parquet")
    )
    assert files == ["pipe-batch-0.parquet", "q-batch-0.parquet"]
    dig = spark.read.parquet(*[os.path.join(digest_dir, f) for f in files])
    assert dig.count() == len(A0) + len(B0)


def _as_query(spark, qid):
    """Run the next batches as if inside streaming query ``qid``'s
    foreachBatch (None: outside any query)."""
    spark.sparkContext.setLocalProperty("sql.streaming.queryId", qid)


def test_second_query_scores_fresh_and_keeps_first_quarantine(spark, pipe):
    """A second query with a fresh checkpoint over the same root starts at
    batch 0 again. Its batch 0 is scored, not answered from the first
    query's recorded decision; its quarantined batch 1 stages beside the
    first query's instead of overwriting it; and per-batch bookkeeping
    retention and quarantine clearing see both queries' records."""
    from spark_streaming_logservice_spark.streaming.ingest_pipeline import (
        expire_pipeline_records,
    )

    root, apply, sink, alerts = pipe
    drift_b0 = [(31, "zzz qqq www ttt", "srcB"), (32, "zzz qqq www uuu", "srcB")]
    drift_b1 = [(41, "zzz qqq www xxx", "srcB"), (42, "zzz qqq www yyy", "srcB")]
    try:
        _as_query(spark, "query-a")
        apply(_df(spark, A0 + B0), 0)
        apply(_df(spark, A1 + B1_DRIFT), 1)
        _as_query(spark, "query-b")
        second = ingest_pipeline(
            root,
            lambda df, bid: sink.append(
                (bid, sorted(r["doc_id"] for r in df.collect()))
            ),
            on_alert=lambda bid, scores, qdf: alerts.append(
                (bid, sorted(s["source"] for s in scores))
            ),
            threshold=1.0,
        )
        second(_df(spark, drift_b0), 0)
        second(_df(spark, drift_b1), 1)
    finally:
        _as_query(spark, None)
    # query A's batch 0 recorded "no source flagged"; query B's drifted
    # batch 0 must be scored on its own and quarantined, not forwarded
    assert alerts == [(1, ["srcB"]), (0, ["srcB"]), (1, ["srcB"])]
    assert sink[2:] == [(0, []), (1, [])]
    staged = read_quarantine(spark, root, SCHEMA)
    assert sorted(r["doc_id"] for r in staged.collect()) == [
        13, 14, 15, 31, 32, 41, 42,
    ]
    # retention keeps the newest batch of EACH query
    assert expire_pipeline_records(root, keep_last=1) == 4
    assert sorted(os.listdir(os.path.join(root, "_markers"))) == [
        "query-a-batch-1", "query-b-batch-1",
    ]
    # a batch id clears that batch of every query
    assert clear_quarantine(root, [1]) == 2
    assert sorted(r["doc_id"] for r in read_quarantine(
        spark, root, SCHEMA
    ).collect()) == [31, 32]


def test_pipeline_through_real_stream_with_restart(spark, tmp_path):
    """The composed pipeline as it deploys: foreachBatch on a live
    Structured Streaming query, across a STOP/RESTART boundary — run 1
    bootstraps the stores, run 2 (same checkpoint) picks up only the new
    file, dedups against run 1's digests and quarantines the drifted
    source."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    root = str(tmp_path / "pipe")
    _df(spark, A0 + B0).coalesce(1).write.mode("overwrite").json(src)
    forwarded, alerts = [], []

    def start():
        return (
            spark.readStream.schema(SCHEMA)
            .json(src)
            .writeStream.foreachBatch(
                ingest_pipeline(
                    root,
                    lambda df, bid: forwarded.append(
                        (bid, sorted(r["doc_id"] for r in df.collect()))
                    ),
                    on_alert=lambda bid, scores, qdf: alerts.append(
                        (bid, sorted(s["source"] for s in scores))
                    ),
                    threshold=1.0,
                )
            )
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    q.awaitTermination(150)
    assert forwarded == [(0, [1, 2, 3])] and alerts == []

    # second deployment over the same checkpoint: only the new file
    _df(spark, A1 + B1_DRIFT).coalesce(1).write.mode("append").json(src)
    q = start()
    q.awaitTermination(150)
    assert forwarded[-1] == (1, [12])  # dup 11 dropped against run 1's digests
    assert alerts == [(1, ["srcB"])]
    assert read_quarantine(spark, root, SCHEMA).count() == 3


def test_expire_pipeline_records_keeps_replay_horizon(spark, pipe):
    """Retention prunes only bookkeeping OLDER than the keep window and
    never touches quarantine data; a pruned-away batch id would re-run on
    redelivery, so the window must cover the replay horizon — within it,
    markers still short-circuit."""
    from spark_streaming_logservice_spark.streaming.ingest_pipeline import (
        expire_pipeline_records,
    )

    root, apply, sink, alerts = _run_two_batches(spark, pipe)
    removed = expire_pipeline_records(root, keep_last=1)
    # batch-0 marker + batch-0 flag record pruned; batch-1's kept
    assert removed == 2
    assert sorted(os.listdir(os.path.join(root, "_markers"))) == ["batch-1"]
    assert sorted(os.listdir(os.path.join(root, "_flags"))) == ["batch-1.json"]
    assert read_quarantine(spark, root, SCHEMA).count() == 3  # untouched
    # batch 1 is inside the kept window: redelivery still a no-op
    snapshot = (list(sink), list(alerts))
    apply(_df(spark, A1 + B1_DRIFT), 1)
    assert (sink, alerts) == snapshot


def test_pipeline_digest_compaction_many_batches(spark, tmp_path):
    """VERDICT r11 item 6: the pipeline writes prefixed digest files into
    the same store layout dedup_on_ingest uses, so compact_digest_store
    must apply unchanged over a MANY-batch pipeline store — dedup history
    intact afterwards, completed-batch replay still a marker no-op, and a
    concurrent q-prefix writer's appends survive the same compaction."""
    from spark_streaming_logservice_spark.streaming.dedup_store import (
        _store_files,
        compact_digest_store,
        dedup_on_ingest,
    )

    root = str(tmp_path / "pipe")
    digest_dir = os.path.join(root, "digests")
    sink: list[tuple[int, list]] = []
    apply = ingest_pipeline(
        root,
        lambda df, bid: sink.append(
            (bid, sorted(r["doc_id"] for r in df.collect()))
        ),
        threshold=2.1,  # above the L1 max: every batch takes the clean path
    )
    # share the store with a q-prefix writer, interleaved with the
    # pipeline's own appends
    qseen: list[list] = []
    qingest = dedup_on_ingest(
        lambda df, bid: qseen.append(sorted(r["doc_id"] for r in df.collect())),
        digest_dir,
    )

    n_batches = 25
    for i in range(n_batches):
        rows = [(2 * i, f"pipe-doc-{i}", "srcA")]
        if i > 0:
            rows.append((2 * i + 1, f"pipe-doc-{i - 1}", "srcA"))  # dup
        apply(_df(spark, rows), i)
    qingest(_df(spark, [(500, "q-doc", "srcQ"), (501, "pipe-doc-3", "srcQ")]), 0)
    assert all(fwd == [2 * i] for i, (_, fwd) in enumerate(sink))
    # the store's HISTORY is shared across writers: the q writer's probe
    # already sees the pipeline's "pipe-doc-3" digest and suppresses 501
    assert qseen == [[500]]
    # pipe-batch-N files + q-batch-0
    assert len(_store_files(digest_dir)) == n_batches + 1

    retired = compact_digest_store(spark, digest_dir)
    assert retired == n_batches + 1
    assert len(_store_files(digest_dir)) == 1

    # full cross-writer dedup history survives compaction: every past
    # pipeline doc AND the q writer's doc are still suppressed
    apply(
        _df(
            spark,
            [(9000 + i, f"pipe-doc-{i}", "srcA") for i in range(n_batches)]
            + [(9500, "q-doc", "srcA"), (9501, "brand-new", "srcA")],
        ),
        n_batches,
    )
    assert sink[-1] == (n_batches, [9501])
    # replay of a pre-compaction completed batch is still a pipeline-marker
    # no-op (the digest final-file guard is only an IN-FLIGHT guard; the
    # completed-batch short-circuit is the _markers record, which
    # compaction never touches)
    before = len(sink)
    apply(_df(spark, [(0, "pipe-doc-0", "srcA")]), 0)
    assert len(sink) == before
    # second cycle: more pipeline batches on top of the compacted file
    for i in range(n_batches + 1, n_batches + 6):
        apply(_df(spark, [(10_000 + i, f"late-{i}", "srcA")]), i)
    assert compact_digest_store(spark, digest_dir) == 7
    apply(_df(spark, [(99_998, "late-30", "srcA"), (99_999, "never", "srcA")]),
          n_batches + 20)
    assert sink[-1] == (n_batches + 20, [99_999])


# --- multimodal composition: text gate + vector gate off ONE batch ---------

MM_SCHEMA = (
    "doc_id BIGINT, text STRING, source STRING, embedding ARRAY<DOUBLE>"
)


def _corpus_emb(spark, sf_dir):
    from spark_streaming_logservice_spark.tables import load_table

    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )


def _mm_batch(spark, sf_dir, lo, hi, text_of=None, ones=False):
    """Multimodal rows doc_id=vec_id in [lo, hi) with corpus embeddings
    (in-distribution) or all-ones vectors (adversarial single-cell
    drift), and per-doc text."""
    emb = _corpus_emb(spark, sf_dir).where(
        (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
    )
    if ones:
        emb = emb.select(
            "vec_id",
            F.transform(
                F.sequence(F.lit(1), F.size("embedding")),
                lambda i: F.lit(1.0),
            ).alias("embedding"),
        )
    text = text_of or (lambda i: f"tok{i} alpha beta")
    texts = spark.createDataFrame(
        [(i, text(i), "srcA") for i in range(lo, hi)],
        "doc_id BIGINT, text STRING, source STRING",
    )
    return texts.join(
        emb.select(F.col("vec_id").alias("doc_id"), "embedding"), "doc_id"
    )


@pytest.fixture()
def mm(spark, sf_dir, tmp_path):
    """An ANN index trained on vec_id<300 plus a fresh pipeline root."""
    from spark_streaming_logservice_spark.streaming import ann_index as AI

    index_dir = str(tmp_path / "ann")
    AI.build_ann_index(
        spark, index_dir, _corpus_emb(spark, sf_dir).where(F.col("vec_id") < 300)
    )
    AI._CELL_HIST_CACHE.clear()
    root = str(tmp_path / "pipe")
    return root, index_dir


def test_multimodal_one_batch_drives_both_legs(spark, sf_dir, mm):
    """One foreachBatch, one shared marker: the text leg forwards/learns
    and the vector leg merges — and the index learns NOVEL rows only (a
    text-dup row's vector never enters the store)."""
    from spark_streaming_logservice_spark.streaming import ann_index as AI

    root, index_dir = mm
    sink, valerts = [], []
    apply = ingest_pipeline(
        root,
        lambda df, bid: sink.append(
            (bid, sorted(r["doc_id"] for r in df.collect()))
        ),
        threshold=2.1,
        index_dir=index_dir,
        on_vector_alert=lambda bid, rep, df: valerts.append(bid),
    )
    before = AI.read_vectors(spark, index_dir).count()

    # batch 0: 158 in-distribution rows (>= the 128 scoring floor)
    apply(_mm_batch(spark, sf_dir, 300, 458), 0)
    assert sink == [(0, list(range(300, 458)))] and valerts == []
    mid = AI.read_vectors(spark, index_dir).count()
    assert mid == before + 158

    # batch 1: 10 text-dups of batch 0 (new doc_ids, same text) + 20 novel;
    # below the scoring floor -> admitted unscored; only the 20 NOVEL
    # rows' vectors may enter the index
    dup = _mm_batch(
        spark, sf_dir, 458, 468, text_of=lambda i: f"tok{i - 158} alpha beta"
    )
    novel = _mm_batch(spark, sf_dir, 468, 488)
    apply(dup.unionByName(novel), 1)
    assert sink[-1] == (1, list(range(468, 488)))
    vecs = AI.read_vectors(spark, index_dir)
    assert vecs.count() == mid + 20
    assert vecs.where(
        (F.col("vec_id") >= 458) & (F.col("vec_id") < 468)
    ).count() == 0, "a text-dup row's vector entered the index"
    # both legs share the ONE pipeline marker: replay is a full no-op
    apply(dup.unionByName(novel), 1)
    assert sink[-1] == (1, list(range(468, 488)))
    assert AI.read_vectors(spark, index_dir).count() == mid + 20


def test_multimodal_vec_flagged_batch_stages_and_survives_replay(
    spark, sf_dir, mm
):
    """A vector-drifted batch: the TEXT side is still forwarded and
    learned, the vectors are staged (novel only) and NOT merged; a crash
    replay AFTER the digest append must neither clobber the staged rows
    nor re-score; recovery is the ANN retrain loop over the staged dir."""
    from spark_streaming_logservice_spark.streaming import ann_index as AI
    from spark_streaming_logservice_spark.streaming.ingest_pipeline import (
        read_vec_quarantine,
    )

    root, index_dir = mm
    sink, valerts = [], []
    apply = ingest_pipeline(
        root,
        lambda df, bid: sink.append(
            (bid, sorted(r["doc_id"] for r in df.collect()))
        ),
        threshold=2.1,
        index_dir=index_dir,
        on_vector_alert=lambda bid, rep, df: valerts.append(
            (bid, rep, df.count())
        ),
    )
    before = AI.read_vectors(spark, index_dir).count()
    apply(_mm_batch(spark, sf_dir, 300, 500, ones=True), 0)  # 200 rows, 1 cell
    # text leg completed in full
    assert sink == [(0, list(range(300, 500)))]
    dig = spark.read.parquet(os.path.join(root, "digests", "pipe-batch-0.parquet"))
    assert dig.count() == 200
    # vector leg: alerted once, nothing merged, novel vectors staged
    assert len(valerts) == 1 and valerts[0][1]["l1_drift"] >= 0.5
    assert AI.read_vectors(spark, index_dir).count() == before
    staged = read_vec_quarantine(spark, root)
    assert staged.count() == 200

    # crash replay after the digest append (marker lost): novel is now
    # empty — the staged rows must survive (skip-if-published), the
    # recorded decision is reused, the store stays unmerged
    storefs_marker = os.path.join(root, "_markers", "batch-0")
    os.remove(storefs_marker)
    apply(_mm_batch(spark, sf_dir, 300, 500, ones=True), 0)
    assert read_vec_quarantine(spark, root).count() == 200, "staged rows clobbered"
    assert AI.read_vectors(spark, index_dir).count() == before
    assert len(valerts) == 2, "alert redelivery is the documented contract"
    assert valerts[1][1] == valerts[0][1], "replay must reuse the recorded report"
    # the DataFrame leg of the payload is replay-identical too: it reads
    # the PUBLISHED staging dir, so the redelivery — whose own novel set
    # is empty post-digest-append — still hands consumers the 200 rows
    assert valerts[0][2] == 200 and valerts[1][2] == 200

    # recovery: the ANN loop retrains over the staged dir and re-ingests
    n = AI.retrain_from_quarantine(
        spark, index_dir, os.path.join(root, "vec_quarantine")
    )
    assert n == 200
    vecs = AI.read_vectors(spark, index_dir)
    assert vecs.where(F.col("vec_id") >= 300).count() == 200


def test_multimodal_through_real_stream_with_restart(spark, sf_dir, tmp_path, mm):
    """The multimodal pipeline on a live Structured Streaming query across
    a stop/restart: run 1 admits an in-distribution file into BOTH legs;
    run 2 (same checkpoint) picks up a drifted file — text still flows,
    vectors quarantine."""
    from spark_streaming_logservice_spark.streaming import ann_index as AI

    root, index_dir = mm
    src = str(tmp_path / "src")
    os.makedirs(src)
    _mm_batch(spark, sf_dir, 300, 458).coalesce(1).write.mode(
        "overwrite"
    ).json(src)
    forwarded, valerts = [], []

    def start():
        return (
            spark.readStream.schema(MM_SCHEMA)
            .json(src)
            .writeStream.foreachBatch(
                ingest_pipeline(
                    root,
                    lambda df, bid: forwarded.append(
                        (bid, df.count())
                    ),
                    threshold=2.1,
                    index_dir=index_dir,
                    on_vector_alert=lambda bid, rep, df: valerts.append(bid),
                )
            )
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )

    before = AI.read_vectors(spark, index_dir).count()
    q = start()
    q.awaitTermination(150)
    assert forwarded == [(0, 158)] and valerts == []
    assert AI.read_vectors(spark, index_dir).count() == before + 158

    # restart over the same checkpoint: a drifted file (all-ones vectors,
    # novel texts; the sf0.001 corpus is vec_id 0..499)
    _mm_batch(
        spark, sf_dir, 300, 500, ones=True,
        text_of=lambda i: f"drift{i} zzz qqq",
    ).coalesce(1).write.mode("append").json(src)
    q = start()
    q.awaitTermination(150)
    assert forwarded[-1] == (1, 200), "text leg must still forward"
    assert valerts == [1]
    assert AI.read_vectors(spark, index_dir).count() == before + 158
    from spark_streaming_logservice_spark.streaming.ingest_pipeline import (
        read_vec_quarantine,
    )

    assert read_vec_quarantine(spark, root).count() == 200


def test_multimodal_text_quarantined_rows_never_reach_vector_gate(
    spark, sf_dir, mm
):
    """A text-flagged source's rows (vectors included) sit in the TEXT
    quarantine only: their vectors are neither merged into the index nor
    vec-staged, and the drift score is computed over the clean remainder
    — re-ingest after recovery carries them through BOTH legs."""
    from spark_streaming_logservice_spark.streaming import ann_index as AI
    from spark_streaming_logservice_spark.streaming.ingest_pipeline import (
        read_vec_quarantine,
    )

    root, index_dir = mm
    sink = []
    apply = ingest_pipeline(
        root,
        lambda df, bid: sink.append(
            (bid, sorted(r["doc_id"] for r in df.collect()))
        ),
        threshold=1.0,
        index_dir=index_dir,
    )
    # batch 0 bootstraps srcA's profile (in-distribution vectors admitted)
    apply(_mm_batch(spark, sf_dir, 300, 458), 0)
    before = AI.read_vectors(spark, index_dir).count()

    # batch 1: srcA stays in-distribution; srcB appears with an alien
    # vocabulary (text-flagged against... no: srcB is NEW, bootstrap
    # trust admits it). Flag srcA instead: drift its TEXT hard while its
    # vectors stay in-distribution — the text gate must quarantine the
    # rows before their perfectly-admissible vectors touch the index.
    drifted_text = _mm_batch(
        spark, sf_dir, 460, 480, text_of=lambda i: f"xx{i} yy zz ww qq"
    )
    apply(drifted_text, 1)
    assert sink[-1] == (1, []), "text-flagged rows were forwarded"
    assert read_quarantine(spark, root, MM_SCHEMA).count() == 20
    # the vector side saw nothing: no merge, no vec staging
    assert AI.read_vectors(spark, index_dir).count() == before
    assert read_vec_quarantine(spark, root).count() == 0

    # recovery re-ingest under a NEW batch id (trust-this-batch): both
    # legs admit — text forwarded AND vectors merged
    staged = read_quarantine(spark, root, MM_SCHEMA)
    recover = ingest_pipeline(
        root,
        lambda df, bid: sink.append(
            (bid, sorted(r["doc_id"] for r in df.collect()))
        ),
        threshold=2.1,
        index_dir=index_dir,
    )
    recover(staged, 2)
    assert sink[-1] == (2, list(range(460, 480)))
    assert AI.read_vectors(spark, index_dir).count() == before + 20


def test_recorded_decision_without_vec_is_scored_not_admitted(
    spark, sf_dir, mm, monkeypatch
):
    """A recorded flag file with no 'vec' entry (written before index_dir
    was enabled, crash before the batch marker): replay must SCORE the
    vector leg, not fall back to unflagged — the old fallback merged the
    batch's novel vectors into the index unscored (r12 ADVICE). Scoring on
    replay is safe for this leg: a missing 'vec' key means the vector leg
    never ran, so the index histogram cannot contain the batch. The
    upgraded decision is persisted, so a second replay reuses it."""
    import json

    from spark_streaming_logservice_spark.streaming import ann_index as AI
    from spark_streaming_logservice_spark.streaming import storefs

    root, index_dir = mm
    batch = _mm_batch(spark, sf_dir, 300, 500, ones=True)  # 200 rows, 1 cell
    # simulate the pre-index_dir run: text decision recorded, no marker
    flags = os.path.join(root, "_flags")
    storefs.makedirs(flags, exist_ok=True)
    with open(os.path.join(flags, "batch-0.json"), "w") as f:
        json.dump({"scores": [], "flagged": []}, f)

    sink, valerts = [], []
    apply = ingest_pipeline(
        root,
        lambda df, bid: sink.append((bid, df.count())),
        threshold=2.1,
        index_dir=index_dir,
        on_vector_alert=lambda bid, rep, df: valerts.append(
            (bid, rep, df.count())
        ),
    )
    before = AI.read_vectors(spark, index_dir).count()
    apply(batch, 0)
    # scored and FLAGGED — nothing entered the index, novel rows staged
    assert AI.read_vectors(spark, index_dir).count() == before
    assert len(valerts) == 1 and valerts[0][1]["l1_drift"] >= 0.5
    assert valerts[0][2] == 200
    with open(os.path.join(flags, "batch-0.json")) as f:
        upgraded = json.load(f)
    assert upgraded["vec"]["flagged"] is True, "vec decision not persisted"

    # replay: the upgraded record is reused — scoring must NOT rerun
    os.remove(os.path.join(root, "_markers", "batch-0"))
    monkeypatch.setattr(
        AI, "_l1_cell_drift",
        lambda *a, **k: (_ for _ in ()).throw(
            AssertionError("re-scored a recorded vec decision")
        ),
    )
    apply(batch, 0)
    assert AI.read_vectors(spark, index_dir).count() == before
    assert valerts[-1][2] == 200, "redelivered payload lost the staged rows"


def test_all_null_embeddings_skip_vector_leg(spark, sf_dir, mm):
    """NULL-embedding rows skip the vector leg entirely; the emptiness
    check rides the cell-count collect (no extra probe job), and an
    all-NULL batch records vec={flagged: False} so replays stay stable."""
    import json

    from spark_streaming_logservice_spark.streaming import ann_index as AI

    root, index_dir = mm
    rows = [(i, f"tok{i} alpha beta", "srcA", None) for i in range(700, 720)]
    batch = spark.createDataFrame(rows, MM_SCHEMA)
    sink, valerts = [], []
    apply = ingest_pipeline(
        root,
        lambda df, bid: sink.append((bid, df.count())),
        threshold=2.1,
        index_dir=index_dir,
        on_vector_alert=lambda bid, rep, df: valerts.append(bid),
    )
    before = AI.read_vectors(spark, index_dir).count()
    apply(batch, 0)
    assert sink == [(0, 20)], "text leg must forward NULL-embedding rows"
    assert valerts == []
    assert AI.read_vectors(spark, index_dir).count() == before
    with open(os.path.join(root, "_flags", "batch-0.json")) as f:
        decision = json.load(f)
    assert decision["vec"] == {"report": None, "flagged": False}


def test_legacy_record_replay_after_digest_append_recovers_vectors(
    spark, sf_dir, mm
):
    """The hard ordering for the no-'vec' legacy record (r13 review): the
    original run (index_dir unset) already appended the batch's digests,
    so a replay's live novel set is EMPTY — recovery must read the batch's
    own per-batch digest file (its original novel set) so the vectors are
    scored AND kept: drifted -> staged (not an empty quarantine dir),
    in-distribution -> admitted into the index."""
    import json

    from spark_streaming_logservice_spark.streaming import ann_index as AI
    from spark_streaming_logservice_spark.streaming.ingest_pipeline import (
        read_vec_quarantine,
    )

    root, index_dir = mm
    drifted = _mm_batch(spark, sf_dir, 300, 500, ones=True)   # 200 rows
    # original run WITHOUT the vector leg: forward + digest append done,
    # crash before the marker -> flag recorded with NO 'vec' entry
    apply0 = ingest_pipeline(root, lambda df, bid: None, threshold=2.1)
    apply0(drifted, 0)
    os.remove(os.path.join(root, "_markers", "batch-0"))
    with open(os.path.join(root, "_flags", "batch-0.json")) as f:
        assert "vec" not in json.load(f)

    valerts = []
    apply1 = ingest_pipeline(
        root,
        lambda df, bid: None,
        threshold=2.1,
        index_dir=index_dir,
        on_vector_alert=lambda bid, rep, df: valerts.append(
            (bid, df.count())
        ),
    )
    before = AI.read_vectors(spark, index_dir).count()
    apply1(drifted, 0)
    # scored (flagged) AND recovered: the staged payload is the batch's
    # original 200-row novel set, not an empty frame
    assert valerts == [(0, 200)]
    assert read_vec_quarantine(spark, root).count() == 200
    assert AI.read_vectors(spark, index_dir).count() == before

    # in-distribution variant on a fresh batch id: recovery must ADMIT
    # (fresh texts — a text that duplicates batch 0 was NOT novel at its
    # original processing and correctly stays out of the recovered set)
    clean_batch = _mm_batch(
        spark, sf_dir, 300, 458, text_of=lambda i: f"fresh{i} gamma delta"
    )                                                          # 158 rows
    apply0(clean_batch, 1)
    os.remove(os.path.join(root, "_markers", "batch-1"))
    apply1(clean_batch, 1)
    assert AI.read_vectors(spark, index_dir).count() == before + 158
    assert valerts == [(0, 200)]


def test_legacy_upgrade_commits_only_after_vector_side_effects(
    spark, sf_dir, mm, monkeypatch
):
    """ADVICE r14 (medium): the rescored ('vec'-upgraded) flag record must
    persist AFTER stage 4b, not before — a crash between the two would
    otherwise leave a record that says 'vec already handled', the next
    replay would skip the digest-file recovery, and the batch's vectors
    would be permanently dropped. With the ordering fixed, the crashed
    replay leaves the LEGACY record in place, so the next replay rescoes
    (replay-safe) and recovers."""
    import json

    from spark_streaming_logservice_spark.streaming import ann_index as AI

    root, index_dir = mm
    clean_batch = _mm_batch(spark, sf_dir, 300, 458)           # 158 rows
    apply0 = ingest_pipeline(root, lambda df, bid: None, threshold=2.1)
    apply0(clean_batch, 0)
    os.remove(os.path.join(root, "_markers", "batch-0"))

    apply1 = ingest_pipeline(
        root, lambda df, bid: None, threshold=2.1, index_dir=index_dir
    )
    before = AI.read_vectors(spark, index_dir).count()
    # replay 1 crashes INSIDE stage 4b, before the index merge lands
    real_admit = AI.admit_encoded

    def boom(*a, **kw):
        raise OSError("injected crash before index admission")

    monkeypatch.setattr(AI, "admit_encoded", boom)
    with pytest.raises(OSError, match="injected crash"):
        apply1(clean_batch, 0)
    flag = os.path.join(root, "_flags", "batch-0.json")
    with open(flag) as f:
        assert "vec" not in json.load(f), (
            "the upgraded record persisted before stage 4b completed — the"
            " next replay would skip recovery and drop the vectors"
        )
    assert AI.read_vectors(spark, index_dir).count() == before

    # replay 2 (healthy): rescore -> recover -> admit; record upgrades
    monkeypatch.setattr(AI, "admit_encoded", real_admit)
    apply1(clean_batch, 0)
    assert AI.read_vectors(spark, index_dir).count() == before + 158
    with open(flag) as f:
        assert "vec" in json.load(f)
    # and a further replay reuses the committed record (marker removed to
    # force the stage-by-stage path): still exactly one copy of each vector
    os.remove(os.path.join(root, "_markers", "batch-0"))
    apply1(clean_batch, 0)
    assert AI.read_vectors(spark, index_dir).count() == before + 158


def test_legacy_recovery_collapses_within_batch_duplicates(
    spark, sf_dir, mm
):
    """ADVICE r14 (low): the digest-file recovery must reconstruct the
    ORIGINAL novel set — lowest id per digest — not every clean row whose
    digest appears in the file. A legacy batch carrying within-batch
    duplicate texts would otherwise recover BOTH copies of each text's
    vector (near-identical vectors piling into the index, the p27
    invariant). NULL-text pass-through rows were in the original novel set
    too and must survive recovery alongside the collapsed winners."""
    from spark_streaming_logservice_spark.streaming import ann_index as AI

    root, index_dir = mm
    b1 = _mm_batch(spark, sf_dir, 300, 350)                     # 50 novel
    dup = b1.select(                                            # same texts,
        (F.col("doc_id") + 10_000).alias("doc_id"),             # higher ids
        "text", "source", "embedding",
    )
    null_text = b1.limit(1).select(
        F.lit(20_000).cast("bigint").alias("doc_id"),
        F.lit(None).cast("string").alias("text"),
        F.lit("srcA").alias("source"),
        "embedding",
    )
    batch = b1.unionByName(dup).unionByName(null_text)          # 101 rows

    apply0 = ingest_pipeline(root, lambda df, bid: None, threshold=2.1)
    apply0(batch, 0)
    os.remove(os.path.join(root, "_markers", "batch-0"))

    apply1 = ingest_pipeline(
        root, lambda df, bid: None, threshold=2.1, index_dir=index_dir
    )
    before = AI.read_vectors(spark, index_dir).count()
    apply1(batch, 0)                     # 101 < 128 floor: admitted unscored
    vecs = AI.read_vectors(spark, index_dir)
    assert vecs.count() == before + 51, (
        "recovered population != original novel set (50 winners + 1"
        " NULL-text pass-through)"
    )
    assert vecs.where(
        (F.col("vec_id") >= 10_300) & (F.col("vec_id") < 10_350)
    ).count() == 0, "a within-batch duplicate's vector entered the index"
    assert vecs.where(F.col("vec_id") == 20_000).count() == 1


def test_index_dir_set_before_index_built_passes_text_only_batches(
    spark, sf_dir, tmp_path
):
    """index_dir configured but the index not trained yet: an all-NULL-
    embedding batch still flows through the text leg (pre-r13 behavior);
    a batch that actually carries vectors surfaces the config error."""
    import pytest as _pytest

    root = str(tmp_path / "pipe")
    sink = []
    apply = ingest_pipeline(
        root,
        lambda df, bid: sink.append((bid, df.count())),
        threshold=2.1,
        index_dir=str(tmp_path / "ann-not-built"),
    )
    rows = [(i, f"tok{i} alpha beta", "srcA", None) for i in range(20)]
    apply(spark.createDataFrame(rows, MM_SCHEMA), 0)
    assert sink == [(0, 20)]
    with _pytest.raises(Exception):
        apply(_mm_batch(spark, sf_dir, 300, 320), 1)
