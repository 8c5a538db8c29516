"""Every foreachBatch writer factory in ``streaming/`` keys its per-batch
records on (query id, batch id): two streaming queries with their own
checkpoints run the SAME batch ids into one store, and the store must end
up holding both queries' rows exactly once — the state a single query
reaches with distinct batch ids — while a same-query replay stays a no-op.

The queries are simulated the way Spark marks the thread that runs
foreachBatch: the ``sql.streaming.queryId`` local property."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from spark_streaming_logservice_spark.streaming import queries

_SAMPLE_SCHEMA = "scope STRING, sample_key STRING, text STRING, h BIGINT"


def _events(spark, lo, hi):
    """Rows ``lo..hi-1``: users, sources and texts overlap across ranges,
    so the second batch merges into keys the first one created (and
    repeats one of its texts, which the digest stores must suppress)."""
    rows = [
        (
            i % 7, i, "error" if i % 3 == 0 else "click", float(i * 13 % 100),
            f"2024-01-05 10:{i % 4:02d}:{i:02d}", i,
            f"tok{i % 5} doc{i % 15}", f"src{i % 2}",
        )
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(
        rows,
        "user_id BIGINT, event_id BIGINT, event_type STRING, value DOUBLE, "
        "ts STRING, doc_id BIGINT, text STRING, source STRING",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _forwarding(factory):
    """(make, sink) for a writer whose output is what it forwards
    downstream: ``factory(forward)`` builds it, and every instance
    ``make()`` builds appends to ``sink``."""
    sink = []

    def forward(df, batch_id):
        sink.extend(r["doc_id"] for r in df.select("doc_id").collect())

    return (lambda: factory(forward)), sink


def _case_rollup(spark, table):
    from spark_streaming_logservice_spark.streaming import rollup as R

    return (
        lambda: R.incremental_rollup_writer(table),
        lambda df: df,
        lambda: _rows(R.read_store(spark, table, R._SCHEMA)),
    )


def _case_hll(spark, table):
    from spark_streaming_logservice_spark.streaming import hll_store as HS
    from spark_streaming_logservice_spark.streaming.rollup import read_store

    return (
        lambda: HS.incremental_hll_writer(table),
        lambda df: df,
        lambda: _rows(read_store(spark, table, HS._SCHEMA)),
    )


def _case_kmv(spark, table):
    from spark_streaming_logservice_spark.streaming import kmv_store as KS

    return (
        lambda: KS.incremental_kmv_writer(table),
        lambda df: df,
        lambda: _rows(KS.read_kmv_sketch(spark, table)),
    )


def _case_quantile(spark, table):
    from spark_streaming_logservice_spark.streaming import quantile_store as QS
    from spark_streaming_logservice_spark.streaming.rollup import read_store

    return (
        lambda: QS.incremental_histogram_writer(table, "value", 0.0, 100.0, 16),
        lambda df: df,
        lambda: _rows(read_store(spark, table, QS._SCHEMA)),
    )


def _case_sample(spark, table):
    from spark_streaming_logservice_spark.streaming import sample_store as SS

    return (
        lambda: SS.incremental_sample_writer(
            table, "source", "doc_id", ["text"], _SAMPLE_SCHEMA, k=4
        ),
        lambda df: df,
        lambda: _rows(SS.read_sample(spark, table, _SAMPLE_SCHEMA)),
    )


def _case_sketch(spark, table):
    from spark_streaming_logservice_spark.streaming import sketch as S

    return (
        lambda: S.incremental_countmin_writer(table),
        lambda df: df,
        lambda: _rows(S.read_sketch(spark, table)),
    )


def _case_funnel(spark, table):
    from spark_streaming_logservice_spark.streaming import funnel as FN

    def sessions(df):
        # finalized-session rows, the shape sessionized_funnel emits
        return df.select(
            F.col("event_type").alias("landing"),
            F.col("ts").alias("first_view"),
            F.when(F.col("value") > 50, F.col("ts") + F.expr("INTERVAL 1 MINUTE"))
            .alias("last_purchase"),
            F.col("event_id").alias("rev_micro"),
        )

    return (
        lambda: FN.funnel_store_writer(table),
        sessions,
        lambda: _rows(
            spark.read.schema(FN.FUNNEL_SCHEMA).parquet(
                os.path.join(table, "data")
            )
        ),
    )


def _case_first_seen(spark, table):
    from spark_streaming_logservice_spark.streaming import first_seen as FS

    return (
        lambda: FS.incremental_first_seen_writer(table),
        lambda df: df,
        lambda: _rows(FS.read_first_seen(spark, table)),
    )


def _case_dup_matrix(spark, table):
    from spark_streaming_logservice_spark.streaming import dup_matrix as DM

    return (
        lambda: DM.incremental_dup_matrix_writer(table),
        lambda df: df,
        lambda: _rows(DM.read_dup_matrix(spark, table)),
    )


def _case_upsert(spark, table):
    from spark_streaming_logservice_spark.streaming import upsert as U

    return (
        lambda: U.incremental_upsert_writer(table),
        lambda df: df.select("user_id", "event_id", "event_type", "value", "ts"),
        lambda: _rows(U.read_snapshot(spark, table)),
    )


def _case_vocab(spark, table):
    from spark_streaming_logservice_spark.streaming import vocab_drift as VD

    return (
        lambda: VD.incremental_vocab_writer(table),
        lambda df: df,
        lambda: _rows(VD.read_vocab_profile(spark, table)),
    )


def _ann_index(spark, sf_dir, scratch):
    """One trained index per test, copied per store (training is the slow
    part and its artifacts are the same for both stores)."""
    from spark_streaming_logservice_spark import registry
    from spark_streaming_logservice_spark.streaming import ann_index as AI
    from spark_streaming_logservice_spark.tables import load_table

    registry.load_all()
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    if not os.path.isdir(scratch):
        AI.build_ann_index(spark, scratch, emb.where(F.col("vec_id") < 300))
    return emb


def _case_ann(spark, table, sf_dir):
    from spark_streaming_logservice_spark.streaming import ann_index as AI

    seed = os.path.join(os.path.dirname(table), "ann-seed")
    emb = _ann_index(spark, sf_dir, seed)
    shutil.copytree(seed, table)
    AI._CELL_HIST_CACHE.clear()

    def vectors(df):
        # event i stands for embedding row 300 + i (ids outside the index)
        ids = [r["event_id"] for r in df.select("event_id").collect()]
        return emb.where(F.col("vec_id").isin([300 + i for i in ids]))

    def alert(batch_id, report, batch_df):
        raise AssertionError("an unscored batch must never alert")

    return (
        # min_batch_vectors above any batch: every batch is admitted
        lambda: AI.gated_ann_writer(table, alert, min_batch_vectors=10**9),
        vectors,
        lambda: _rows(AI.read_vectors(spark, table).drop("emb")),
    )


def _case_dedup(spark, table):
    from spark_streaming_logservice_spark.streaming import dedup_store as DS

    make, sink = _forwarding(lambda fwd: DS.dedup_on_ingest(fwd, table))
    return (
        make,
        lambda df: df.select("doc_id", "text"),
        lambda: (
            sorted(sink),
            spark.read.schema(DS.STORE_SCHEMA)
            .parquet(*DS._store_files(table))
            .count(),
        ),
    )


def _case_pipeline(spark, table):
    from spark_streaming_logservice_spark.streaming import dedup_store as DS
    from spark_streaming_logservice_spark.streaming import ingest_pipeline as IP
    from spark_streaming_logservice_spark.streaming import vocab_drift as VD

    # threshold above the L1 maximum: every batch takes the clean path
    make, sink = _forwarding(
        lambda fwd: IP.ingest_pipeline(table, fwd, threshold=2.1)
    )
    digests = os.path.join(table, "digests")
    return (
        make,
        lambda df: df.select("doc_id", "text", "source"),
        lambda: (
            sorted(sink),
            spark.read.schema(DS.STORE_SCHEMA)
            .parquet(*DS._store_files(digests))
            .count(),
            _rows(VD.read_vocab_profile(spark, os.path.join(table, "vocab"))),
        ),
    )


_CASES = {
    "rollup": _case_rollup,
    "hll": _case_hll,
    "kmv": _case_kmv,
    "quantile": _case_quantile,
    "sample": _case_sample,
    "sketch": _case_sketch,
    "funnel": _case_funnel,
    "first_seen": _case_first_seen,
    "dup_matrix": _case_dup_matrix,
    "upsert": _case_upsert,
    "vocab": _case_vocab,
    "gated_ann": _case_ann,
    "dedup_on_ingest": _case_dedup,
    "ingest_pipeline": _case_pipeline,
}


def _as_query(spark, qid):
    spark.sparkContext.setLocalProperty("sql.streaming.queryId", qid)


@pytest.mark.parametrize("name", sorted(_CASES))
def test_two_queries_share_a_store_and_replay_is_noop(
    spark, sf_dir, tmp_path, name
):
    def case(table):
        if name == "gated_ann":
            return _case_ann(spark, table, sf_dir)
        return _CASES[name](spark, table)

    batch_a, batch_b = _events(spark, 0, 12), _events(spark, 12, 24)

    # what one query reaches with distinct batch ids
    make, prep, read = case(str(tmp_path / "single"))
    writer = make()
    writer(prep(batch_a), 0)
    writer(prep(batch_b), 1)
    expected = read()

    make, prep, read = case(str(tmp_path / "shared"))
    try:
        # two queries, each with its own writer instance and checkpoint,
        # both starting at batch 0; then each replays its batch 0
        _as_query(spark, "query-a")
        writer_a = make()
        writer_a(prep(batch_a), 0)
        _as_query(spark, "query-b")
        writer_b = make()
        writer_b(prep(batch_b), 0)
        _as_query(spark, "query-a")
        writer_a(prep(batch_a), 0)
        _as_query(spark, "query-b")
        writer_b(prep(batch_b), 0)
    finally:
        _as_query(spark, None)
    assert read() == expected


def test_batch_record_names_and_parse(spark):
    """Outside a query the record is the plain ``batch-<id>``; inside one
    it is prefixed by the query id, and the parse inverts both."""
    try:
        assert queries.batch_record(spark, 7) == "batch-7"
        _as_query(spark, "0b5e-qid")
        assert queries.batch_record(spark, 7) == "0b5e-qid-batch-7"
    finally:
        _as_query(spark, None)
    assert queries.parse_batch_record("batch-7") == (None, 7)
    assert queries.parse_batch_record("0b5e-qid-batch-7") == ("0b5e-qid", 7)
    for other in ("batch-", "batch-x", "_staging-q-1", "batch-7.json"):
        assert queries.parse_batch_record(other) is None
