"""Sink golden tests — PySpark rebuild of TEST/LoghubSinkSuite.scala:70-220:
batch write + readback, forbidden save modes, unsupported-type flattening
errors, streaming append with idempotent batch commits."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from spark_streaming_logservice_spark.sources.logstore import register


@pytest.fixture(autouse=True)
def _register(spark):
    register(spark)


def test_batch_write_readback(spark, tmp_path):
    path = str(tmp_path / "p" / "sink-store")
    df = spark.createDataFrame(
        [(1, "a", 2.5), (2, "b", 3.5), (3, "c", 4.5)], "id INT, name STRING, score DOUBLE"
    )
    (
        df.coalesce(1)
        .write.format("logstore")
        .option("path", path)
        .option("shards", "2")
        .option("topic", "t1")
        .option("hashKeyColumn", "id")
        .mode("append")
        .save()
    )
    back = spark.read.format("logstore").option("path", path).load()
    rows = back.collect()
    assert len(rows) == 3
    payloads = sorted(
        (json.loads(r["__value__"])["id"], json.loads(r["__value__"])["name"],
         json.loads(r["__value__"])["score"])
        for r in rows
    )
    # all values stringified on the wire (the reference's LogItem model)
    assert payloads == [("1", "a", "2.5"), ("2", "b", "3.5"), ("3", "c", "4.5")]
    assert all(r["__topic__"] == "t1" for r in rows)


def test_typed_readback_roundtrip(spark, tmp_path):
    path = str(tmp_path / "p" / "rt-store")
    df = spark.createDataFrame([(7, "x")], "k INT, v STRING")
    df.coalesce(1).write.format("logstore").option("path", path).mode("append").save()
    back = (
        spark.read.format("logstore")
        .schema("k INT, v STRING")
        .option("path", path)
        .load()
    )
    assert back.collect() == [(7, "x")]


def test_overwrite_mode_rejected(spark, tmp_path):
    # SQL/LoghubSourceProvider.scala:147-176: only Append/ErrorIfExists.
    path = str(tmp_path / "p" / "ow-store")
    df = spark.createDataFrame([(1,)], "a INT")
    with pytest.raises(Exception, match="[Oo]verwrite"):
        df.write.format("logstore").option("path", path).mode("overwrite").save()


def test_unsupported_types_rejected(spark, tmp_path):
    # SQL/Utils.scala:55-57,72-77: binary/array/map can't flatten to KV.
    path = str(tmp_path / "p" / "bad-store")
    df = spark.createDataFrame([([1, 2],)], "arr ARRAY<INT>")
    with pytest.raises(Exception, match="Unsupported type"):
        df.write.format("logstore").option("path", path).mode("append").save()


def test_decimal_timestamp_flattening(spark, tmp_path):
    # Decimal → double; timestamp → epoch millis (SQL/Utils.scala:60-71).
    path = str(tmp_path / "p" / "dec-store")
    df = spark.sql(
        "SELECT CAST(1.5 AS DECIMAL(10,2)) AS d, "
        "TIMESTAMP_NTZ '2024-01-01 00:00:00' AS ts"
    )
    df.coalesce(1).write.format("logstore").option("path", path).mode("append").save()
    r = spark.read.format("logstore").option("path", path).load().collect()[0]
    payload = json.loads(r["__value__"])
    assert payload["d"] == "1.5"
    assert payload["ts"] == "1704067200000"


def _wb(rows):
    """Rows → the single-RecordBatch iterator the Arrow writer receives."""
    import pyarrow as pa

    return iter(
        [pa.record_batch({"msg": pa.array([r["msg"] for r in rows], pa.string())})]
    )


def _mk_stream_writer(path, n_shards=2):
    from pyspark.sql.types import StringType, StructField, StructType

    from spark_streaming_logservice_spark.sources.logstore import LogstoreStreamWriter

    schema = StructType([StructField("msg", StringType())])
    return LogstoreStreamWriter(schema, {"path": path, "shards": str(n_shards)}, False)


def _read_msgs(spark, path):
    df = spark.read.format("logstore").schema("msg STRING").option("path", path).load()
    return sorted(r["msg"] for r in df.collect())


def test_stream_sink_batch_redelivery_is_skipped(spark, tmp_path):
    """The same epoch delivered twice (driver restart replays the batch) must
    land exactly one copy — SINK/LoghubSink.scala:31-38's batchId guard."""
    path = str(tmp_path / "p" / "redeliver-store")
    os.makedirs(path)
    rows = [{"msg": "a"}, {"msg": "b"}, {"msg": "c"}]

    w1 = _mk_stream_writer(path)
    m1 = w1.write(_wb(rows))
    w1.commit([m1], batchId=0)
    # Restarted query re-delivers batch 0 through a fresh writer instance:
    w2 = _mk_stream_writer(path)
    m2 = w2.write(_wb(rows))
    w2.commit([m2], batchId=0)

    assert _read_msgs(spark, path) == ["a", "b", "c"]
    # and the redelivered staging was swept
    assert os.listdir(os.path.join(path, "_staging")) == []


def test_stream_sink_abort_then_retry_single_copy(spark, tmp_path):
    """abort() must clean staging so an aborted epoch leaves nothing visible;
    the retry is the only copy that lands."""
    path = str(tmp_path / "p" / "abort-store")
    os.makedirs(path)
    rows = [{"msg": "x"}, {"msg": "y"}]

    w1 = _mk_stream_writer(path)
    m1 = w1.write(_wb(rows))
    w1.abort([m1], batchId=0)
    assert _read_msgs(spark, path) == []  # nothing published
    assert os.listdir(os.path.join(path, "_staging")) == []

    w2 = _mk_stream_writer(path)
    m2 = w2.write(_wb(rows))
    w2.commit([m2], batchId=0)
    assert _read_msgs(spark, path) == ["x", "y"]


def test_task_retry_publishes_only_committed_attempt(spark, tmp_path):
    """A task attempt that wrote staged files but wasn't in the commit
    messages (speculative / failed attempt) must never become visible."""
    path = str(tmp_path / "p" / "retry-store")
    os.makedirs(path)
    rows = [{"msg": "r1"}, {"msg": "r2"}]

    w = _mk_stream_writer(path)
    _abandoned = w.write(_wb(rows))  # attempt 1: staged, never committed
    m2 = w.write(_wb(rows))  # attempt 2: wins
    w.commit([m2], batchId=0)
    assert _read_msgs(spark, path) == ["r1", "r2"]


def test_batch_write_abort_leaves_store_unchanged(spark, tmp_path):
    from pyspark.sql.types import StringType, StructField, StructType

    from spark_streaming_logservice_spark.sources.logstore import LogstoreBatchWriter

    path = str(tmp_path / "p" / "batch-abort-store")
    os.makedirs(path)
    schema = StructType([StructField("msg", StringType())])
    w = LogstoreBatchWriter(schema, {"path": path}, False)
    m = w.write(_wb([{"msg": "gone"}]))
    w.abort([m])
    assert _read_msgs(spark, path) == []
    assert os.listdir(os.path.join(path, "_staging")) == []


def test_hash_routing_is_hashseed_independent(tmp_path):
    """stable_shard must not depend on PYTHONHASHSEED (builtin hash does) —
    same key → same shard across executor processes and restarts (S15)."""
    import subprocess
    import sys

    prog = (
        "from spark_streaming_logservice_spark.sources.logstore import stable_shard;"
        "print([stable_shard(str(k), 7) for k in range(50)])"
    )
    outs = set()
    for seed in ("0", "1", "12345"):
        env = dict(os.environ, PYTHONHASHSEED=seed, PYTHONPATH="/root/repo")
        outs.add(
            subprocess.run(
                [sys.executable, "-c", prog], env=env, capture_output=True, text=True
            ).stdout
        )
    assert len(outs) == 1 and outs.pop().startswith("[")


def test_writer_seqs_unique_across_concurrent_jobs(tmp_path):
    """Two writers in the same millisecond with equal partition ids must not
    collide on seq (salted low bits — the unique-seq/half-open-range
    assumption of the backend)."""
    path = str(tmp_path / "p" / "seq-store")
    os.makedirs(path)
    w1 = _mk_stream_writer(path, n_shards=1)
    w2 = _mk_stream_writer(path, n_shards=1)
    m1 = w1.write(_wb([{"msg": f"a{i}"} for i in range(100)]))
    m2 = w2.write(_wb([{"msg": f"b{i}"} for i in range(100)]))
    w1.commit([m1], batchId=0)
    w2.commit([m2], batchId=1)
    from spark_streaming_logservice_spark.sources import store_backend as be

    seqs = [r["seq"] for r in be.read_rows(path, 0, 0, 2**63 - 1)]
    assert len(seqs) == 200 and len(set(seqs)) == 200


def test_streaming_sink_append_and_commit_markers(spark, tmp_path):
    src = str(tmp_path / "p" / "src-store")
    dst = str(tmp_path / "p" / "dst-store")
    from spark_streaming_logservice_spark import fixtures

    fixtures.make_store(src, {0: ["1", "2", "3"]})
    df = (
        spark.readStream.format("logstore")
        .schema("msg STRING")
        .option("path", src)
        .option("startingOffsets", "earliest")
        .load()
        .select(F.col("msg"))
    )
    q = (
        df.writeStream.format("logstore")
        .option("path", dst)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    back = spark.read.format("logstore").schema("msg STRING").option("path", dst).load()
    assert sorted(r["msg"] for r in back.collect()) == ["1", "2", "3"]
    # idempotency guard persisted (SINK/LoghubSink.scala:24-39, hardened)
    assert os.path.isdir(os.path.join(dst, "_commits"))
    assert any(n.startswith("batch-") for n in os.listdir(os.path.join(dst, "_commits")))


def test_update_mode_aggregation_into_logstore_sink(spark, tmp_path):
    """Update-mode streaming aggregation landed in the logstore
    (TEST/LoghubSinkSuite.scala:171-202). Python DSv2 sinks reject Update
    mode outright (no SupportsStreamingUpdateAsAppend hook), so the engine's
    documented route (S18) is update-as-append through the idempotent
    foreachBatch wrapper — each trigger appends the updated (word, count)
    rows; final state per word is the max count seen."""
    src = str(tmp_path / "p" / "agg-src")
    dst = str(tmp_path / "p" / "agg-dst")
    from spark_streaming_logservice_spark import fixtures
    from spark_streaming_logservice_spark.streaming.queries import (
        idempotent_foreach_batch,
    )

    fixtures.make_store(src, {0: ["a", "b", "a"]})
    counts = (
        spark.readStream.format("logstore")
        .schema("msg STRING")
        .option("path", src)
        .option("startingOffsets", "earliest")
        .load()
        .groupBy("msg")
        .count()
    )

    def write_batch(batch_df, _batch_id):
        (
            batch_df.write.format("logstore")
            .option("path", dst)
            .mode("append")
            .save()
        )

    q = (
        counts.writeStream.foreachBatch(
            idempotent_foreach_batch(write_batch, str(tmp_path / "markers"))
        )
        .option("checkpointLocation", str(tmp_path / "ck-agg"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    back = (
        spark.read.format("logstore")
        .schema("msg STRING, count LONG")
        .option("path", dst)
        .load()
    )
    state = {}
    for r in back.collect():
        state[r["msg"]] = max(state.get(r["msg"], 0), r["count"])
    assert state == {"a": 2, "b": 1}


def test_update_mode_direct_sink_raises_actionable_error(spark, tmp_path):
    """``outputMode("update")`` straight into ``format("logstore")`` cannot
    work — Python DSv2 sinks have no SupportsStreamingUpdateAsAppend hook —
    and the failure must be a clear, named rejection (not a silent wrong
    answer or an opaque planner error). The supported route is
    update-as-append through ``streaming.queries.idempotent_foreach_batch``
    (S18), exercised by test_update_mode_aggregation_into_logstore_sink."""
    src = str(tmp_path / "p" / "upd-src")
    dst = str(tmp_path / "p" / "upd-dst")
    from spark_streaming_logservice_spark import fixtures

    fixtures.make_store(src, {0: ["a", "b", "a"]})
    counts = (
        spark.readStream.format("logstore")
        .schema("msg STRING")
        .option("path", src)
        .option("startingOffsets", "earliest")
        .load()
        .groupBy("msg")
        .count()
        .selectExpr("msg", "CAST(count AS STRING) AS count")
    )
    q = (
        counts.writeStream.format("logstore")
        .option("path", dst)
        .option("checkpointLocation", str(tmp_path / "ck-upd"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    try:
        with pytest.raises(Exception, match="does not support Update mode"):
            q.awaitTermination(120)
            raise AssertionError("update-mode logstore sink must fail")
    finally:
        q.stop()


def test_concurrent_writers_isolated_and_unique(spark, tmp_path):
    """Two concurrent jobs writing the same store must not corrupt each
    other: staging dirs are per-write, publishes are atomic renames, seqs
    stay globally unique (salted low bits). Runs both writers through real
    Spark jobs back-to-back within the same wall-clock millisecond window."""
    import threading

    path = str(tmp_path / "p" / "conc-store")
    os.makedirs(path)
    errs = []

    def write_job(tag):
        try:
            df = spark.createDataFrame(
                [(f"{tag}{i}",) for i in range(200)], "msg STRING"
            )
            (
                df.repartition(4)
                .write.format("logstore")
                .option("path", path)
                .option("shards", "2")
                .mode("append")
                .save()
            )
        except Exception as ex:  # pragma: no cover
            errs.append(ex)

    threads = [threading.Thread(target=write_job, args=(t,)) for t in ("a", "b")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    back = spark.read.format("logstore").schema("msg STRING").option("path", path).load()
    msgs = sorted(r["msg"] for r in back.collect())
    assert msgs == sorted([f"a{i}" for i in range(200)] + [f"b{i}" for i in range(200)])
    from spark_streaming_logservice_spark.sources import store_backend as be

    seqs = [r["seq"] for sh in be.list_shards(path) for r in be.read_rows(path, sh, 0, 2**63 - 1)]
    assert len(seqs) == len(set(seqs)) == 400
    assert os.listdir(os.path.join(path, "_staging")) == []


def test_crash_after_marker_before_publish_recovers_exactly_once(spark, tmp_path):
    """The manifest marker is the commit point: a crash BETWEEN marker write
    and publish must be completed (not duplicated) when the batch is
    redelivered (code-review r2: publish-then-marker window)."""
    import json as _json

    from spark_streaming_logservice_spark.sources import store_backend as be

    path = str(tmp_path / "p" / "crash-store")
    os.makedirs(path)
    rows = [{"msg": "a"}, {"msg": "b"}]

    w1 = _mk_stream_writer(path)
    m1 = w1.write(_wb(rows))
    # simulate commit() crashing right after the marker landed:
    os.makedirs(os.path.join(path, "_commits"))
    with open(os.path.join(path, "_commits", "batch-0"), "w") as f:
        _json.dump({"rows": m1.rows, "staged": m1.staged}, f)
    assert _read_msgs(spark, path) == []  # nothing visible yet

    # redelivery through a fresh writer completes the recorded publish
    w2 = _mk_stream_writer(path)
    m2 = w2.write(_wb(rows))
    w2.commit([m2], batchId=0)
    assert _read_msgs(spark, path) == ["a", "b"]  # exactly once
    # recovery sweeps BOTH the crashed delivery's staging and its own
    assert os.listdir(os.path.join(path, "_staging")) == []


def test_abort_after_marker_keeps_staging_for_recovery(spark, tmp_path):
    """abort() must NOT sweep staging once the batch marker exists — those
    files are the only copy the manifest promises; redelivery completes the
    publish from them."""
    import json as _json

    path = str(tmp_path / "p" / "abort-marker-store")
    os.makedirs(path)
    rows = [{"msg": "k1"}, {"msg": "k2"}]

    w1 = _mk_stream_writer(path)
    m1 = w1.write(_wb(rows))
    os.makedirs(os.path.join(path, "_commits"))
    with open(os.path.join(path, "_commits", "batch-0"), "w") as f:
        _json.dump({"rows": m1.rows, "staged": m1.staged}, f)
    # publish failed → Spark calls abort; staging must survive
    w1.abort([m1], batchId=0)
    assert os.listdir(os.path.join(path, "_staging")) == [w1.write_id]

    w2 = _mk_stream_writer(path)
    m2 = w2.write(_wb(rows))
    w2.commit([m2], batchId=0)
    assert _read_msgs(spark, path) == ["k1", "k2"]  # recovered, exactly once
    assert os.listdir(os.path.join(path, "_staging")) == []


def test_crash_mid_publish_recovers_exactly_once(spark, tmp_path):
    """Crash after SOME manifest files were renamed: redelivery finishes the
    rest and never re-publishes the moved ones."""
    import json as _json

    from spark_streaming_logservice_spark.sources import store_backend as be

    path = str(tmp_path / "p" / "midpub-store")
    os.makedirs(path)
    w1 = _mk_stream_writer(path, n_shards=2)
    # route to both shards via two batches with explicit partition... easier:
    # two write() calls → two staged files in the manifest
    m1 = w1.write(_wb([{"msg": "x"}]))
    m2 = w1.write(_wb([{"msg": "y"}]))
    staged = m1.staged + m2.staged
    os.makedirs(os.path.join(path, "_commits"))
    with open(os.path.join(path, "_commits", "batch-0"), "w") as f:
        _json.dump({"rows": 2, "staged": staged}, f)
    be.publish_staged(path, staged[:1])  # crash midway: one file moved

    w2 = _mk_stream_writer(path, n_shards=2)
    m3 = w2.write(_wb([{"msg": "x"}, {"msg": "y"}]))
    w2.commit([m3], batchId=0)
    assert _read_msgs(spark, path) == ["x", "y"]  # both present, once each


def test_replay_with_lost_manifest_entry_fails_loudly(spark, tmp_path):
    """A manifest entry that is neither staged nor published means lost
    rows: the redelivery replay must raise, not silently commit a partial
    batch (code-review r2, third pass)."""
    import json as _json

    path = str(tmp_path / "p" / "lost-store")
    os.makedirs(path)
    w1 = _mk_stream_writer(path)
    m1 = w1.write(_wb([{"msg": "a"}]))
    m2 = w1.write(_wb([{"msg": "b"}]))
    os.makedirs(os.path.join(path, "_commits"))
    with open(os.path.join(path, "_commits", "batch-0"), "w") as f:
        _json.dump({"rows": 2, "staged": m1.staged + m2.staged}, f)
    # lose one staged file entirely (disk fault) before any publish
    import shutil

    lost = os.path.join(path, "_staging", m1.staged[0])
    os.remove(lost)

    w2 = _mk_stream_writer(path)
    m3 = w2.write(_wb([{"msg": "a"}, {"msg": "b"}]))
    with pytest.raises(OSError, match="manifest entry lost"):
        w2.commit([m3], batchId=0)


def test_failed_redelivery_of_committed_batch_sweeps_staging(spark, tmp_path):
    """abort() on a redelivery attempt of an ALREADY-committed batch must
    sweep that attempt's staging (its write_id is not in the manifest) —
    otherwise every failed redelivery leaks a staging dir forever."""
    path = str(tmp_path / "p" / "leak-store")
    os.makedirs(path)
    rows = [{"msg": "z"}]

    w1 = _mk_stream_writer(path)
    m1 = w1.write(_wb(rows))
    w1.commit([m1], batchId=0)  # fully committed, staging clean

    w2 = _mk_stream_writer(path)  # redelivery attempt that fails pre-commit
    _m2 = w2.write(_wb(rows))
    w2.abort([_m2], batchId=0)
    assert os.listdir(os.path.join(path, "_staging")) == []
    assert _read_msgs(spark, path) == ["z"]


def test_two_queries_same_store_do_not_cross_dedup(spark, tmp_path):
    """batchIds are per-checkpoint: two distinct streaming queries appending
    to one store both deliver a batch 0. The commit markers are namespaced by
    query identity (checkpoint location), so query B's batch 0 must publish
    its own rows — not get mistaken for a redelivery of query A's batch 0
    (which would replay A's manifest and silently drop B's rows)."""
    from pyspark.sql.types import StringType, StructField, StructType

    from spark_streaming_logservice_spark.sources.logstore import LogstoreStreamWriter

    path = str(tmp_path / "p" / "shared-store")
    os.makedirs(path)
    schema = StructType([StructField("msg", StringType())])

    def writer(ck):
        return LogstoreStreamWriter(
            schema,
            {"path": path, "shards": "2", "checkpointlocation": ck},
            False,
        )

    wa = writer("/ck/query-a")
    ma = wa.write(_wb([{"msg": "from-a"}]))
    wa.commit([ma], batchId=0)

    wb_ = writer("/ck/query-b")
    mb = wb_.write(_wb([{"msg": "from-b"}]))
    wb_.commit([mb], batchId=0)  # same batchId, different query → must publish

    assert _read_msgs(spark, path) == ["from-a", "from-b"]

    # and a true redelivery within query B is still deduplicated
    wb2 = writer("/ck/query-b")
    mb2 = wb2.write(_wb([{"msg": "from-b"}]))
    wb2.commit([mb2], batchId=0)
    assert _read_msgs(spark, path) == ["from-a", "from-b"]


def test_streaming_ingest_leaves_no_staging_dirs(spark, tmp_path):
    """Spark builds a fresh sink writer for every micro-batch commit, whose
    own write_id names no staging dir: commit must sweep the ids the staged
    paths name, or the tasks' emptied ``_staging/<write_id>/`` outlives the
    query."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    landing = tmp_path / "landing"
    landing.mkdir()
    for f in range(3):
        pq.write_table(
            pa.table({"host": [f"h{i % 5}" for i in range(40)],
                      "msg": [f"f{f}-{i}" for i in range(40)]}),
            str(landing / f"part-{f}.parquet"),
        )
    dst = str(tmp_path / "p" / "ingest-store")
    q = (
        spark.readStream.schema("host STRING, msg STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(landing))
        .writeStream.format("logstore")
        .option("path", dst)
        .option("shards", "2")
        .option("hashKeyColumn", "host")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert sum(1 for p in q.recentProgress if p["numInputRows"]) == 3
    assert len(_read_msgs(spark, dst)) == 120
    assert os.listdir(os.path.join(dst, "_staging")) == []


# ---- write path equivalence -------------------------------------------------

_SEQ_BASE = 1_000_000  # the patched _seq_range start: seq >> 21 == base + row
_NOW = 1_700_000_000


def _reference_write(writer, batches):
    """Per-row reference of ``LogstoreBatchWriter.write``: every row is
    routed and flattened on its own, in Python. Returns ``[(shard, table)]``
    in staging order, ``seq`` shown above its 21 salt bits."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from pyspark.sql.types import TimestampType

    from spark_streaming_logservice_spark.sources import store_backend as be
    from spark_streaming_logservice_spark.sources.logstore import stable_shard

    fields = writer.schema.fields
    out = []
    for batch in batches:
        n = batch.num_rows
        if n == 0:
            continue
        wire = [writer._wire_column(batch.column(f.name), f).to_pylist() for f in fields]
        if writer.time_col is not None:
            f_t = next(f for f in fields if f.name == writer.time_col)
            raw = pc.cast(batch.column(writer.time_col), pa.int64()).to_pylist()
            div = 1_000_000 if isinstance(f_t.dataType, TimestampType) else 1
            times = [_NOW if v is None else v // div for v in raw]
        else:
            times = [_NOW] * n
        if writer.hash_col is not None:
            keys = pc.cast(batch.column(writer.hash_col), pa.string()).to_pylist()
            shards = [stable_shard(str(k), writer.n_shards) for k in keys]
        else:
            shards = [0] * n  # partition id 0 outside a Spark task
        rows: dict[int, list[dict]] = {}
        for i in range(n):
            rows.setdefault(shards[i], []).append({
                "seq": _SEQ_BASE + i,
                "time": times[i],
                "topic": writer.topic,
                "source": writer.source,
                "contents": [(f.name, col[i]) for f, col in zip(fields, wire)
                             if col[i] is not None],
                "tags": [],
            })
        for shard in sorted(rows):
            out.append((shard, pa.Table.from_pylist(rows[shard], schema=be.STORE_ARROW_SCHEMA)))
    return out


def _staged_tables(path, msg):
    """The staged tables of a write, ``[(shard, table)]`` in staging order,
    with ``seq`` shifted right by its 21 salt bits (which must be one value
    across the write)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out, low = [], set()
    for rel in msg.staged:
        tbl = pq.read_table(os.path.join(path, "_staging", rel))
        seq = tbl.column("seq")
        low.update(pc.bit_wise_and(seq, (1 << 21) - 1).to_pylist())
        tbl = tbl.set_column(0, "seq", pc.shift_right(seq, 21))
        out.append((int(os.path.basename(rel).split("-", 1)[0].split("=")[1]), tbl))
    assert len(low) <= 1
    return out


def _typed_batch(rows):
    import pyarrow as pa

    return pa.RecordBatch.from_pylist(rows, schema=pa.schema([
        ("host", pa.string()), ("n", pa.int64()), ("x", pa.float64()),
        ("ok", pa.bool_()), ("msg", pa.string()), ("t", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]))


def _typed_rows(seed, n):
    import random

    rnd = random.Random(seed)

    def maybe(v):
        return None if rnd.random() < 0.15 else v

    return [
        {
            "host": maybe(f"h{rnd.randrange(64)}"),
            "n": maybe(rnd.randrange(-50, 50)),
            "x": maybe(rnd.uniform(-1e3, 1e3)),
            "ok": maybe(rnd.random() < 0.5),
            "msg": maybe(f"m{i}-é"),
            "t": maybe(1_600_000_000 + i),
            "ts": maybe(1_600_000_000_000_000 + 1_000_003 * i),
        }
        for i in range(n)
    ]


def _typed_schema():
    from pyspark.sql.types import (
        BooleanType, DoubleType, LongType, StringType, StructField, StructType,
        TimestampType,
    )

    return StructType([
        StructField("host", StringType()), StructField("n", LongType()),
        StructField("x", DoubleType()), StructField("ok", BooleanType()),
        StructField("msg", StringType()), StructField("t", LongType()),
        StructField("ts", TimestampType()),
    ])



@pytest.mark.parametrize(
    "opts, batches",
    [
        # nulls in every column, the string key included; an empty batch
        ({"hashkeycolumn": "host", "timecolumn": "t"}, [(1, 500), (2, 0), (3, 300)]),
        # non-string hash key (BIGINT), timestamp time column
        ({"hashkeycolumn": "n", "timecolumn": "ts"}, [(4, 400)]),
        # no hashKeyColumn: every row goes to pid % n_shards
        ({"timecolumn": "t"}, [(5, 200), (6, 100)]),
        # wall-clock time, topic/source envelope
        ({"hashkeycolumn": "host", "topic": "tp", "source": "src"}, [(7, 250)]),
        # an empty batch only
        ({"hashkeycolumn": "host"}, [(8, 0)]),
    ],
)
def test_writer_matches_per_row_reference(tmp_path, monkeypatch, opts, batches):
    """The vectorized write path stages exactly the tables a per-row
    implementation builds: same shards in the same order, same rows in the
    same order within a shard, same contents maps (nulls dropped)."""
    import types

    from spark_streaming_logservice_spark.sources import logstore

    monkeypatch.setattr(logstore, "_seq_range", lambda n: _SEQ_BASE)
    monkeypatch.setattr(logstore, "_time", types.SimpleNamespace(time=lambda: _NOW + 0.5))
    path = str(tmp_path / "eq-store")
    os.makedirs(path)
    w = logstore.LogstoreBatchWriter(
        _typed_schema(), {"path": path, "shards": "4", **opts}, False
    )
    data = [_typed_batch(_typed_rows(seed, n)) for seed, n in batches]
    msg = w.write(iter(data))
    assert msg.rows == sum(n for _s, n in batches)
    got = _staged_tables(path, msg)
    want = _reference_write(w, data)
    assert [s for s, _t in got] == [s for s, _t in want]
    for (_s, g), (_s2, r) in zip(got, want):
        assert g.equals(r)


def test_null_hash_key_routes_as_none(tmp_path):
    """A null key lands where the string "None" does, as it always has."""
    from spark_streaming_logservice_spark.sources import logstore

    path = str(tmp_path / "null-key-store")
    os.makedirs(path)
    w = logstore.LogstoreBatchWriter(
        _typed_schema(), {"path": path, "shards": "7", "hashkeycolumn": "host"}, False
    )
    rows = _typed_rows(9, 50)
    for r in rows:
        r["host"] = None
    msg = w.write(iter([_typed_batch(rows)]))
    assert [int(p.split("shard=")[1].split("-")[0]) for p in msg.staged] == [
        logstore.stable_shard("None", 7)
    ]


def test_hash_routing_hashes_each_distinct_key_once_per_batch(tmp_path, monkeypatch):
    """Structural guard (a count, not a timing): routing md5-hashes each
    distinct key once per Arrow batch, never once per row."""
    import pyarrow as pa

    from pyspark.sql.types import StringType, StructField, StructType

    from spark_streaming_logservice_spark.sources import logstore

    calls = []
    real = logstore.stable_shard

    def counting(key, n_shards):
        calls.append(key)
        return real(key, n_shards)

    monkeypatch.setattr(logstore, "stable_shard", counting)
    path = str(tmp_path / "guard-store")
    os.makedirs(path)
    schema = StructType([StructField("host", StringType()), StructField("msg", StringType())])
    w = logstore.LogstoreBatchWriter(
        schema, {"path": path, "shards": "4", "hashkeycolumn": "host"}, False
    )
    batches = [
        pa.record_batch({
            "host": pa.array([f"h{i % 64}" for i in range(lo, lo + 10_000)]),
            "msg": pa.array([f"m{i}" for i in range(lo, lo + 10_000)]),
        })
        for lo in range(0, 100_000, 10_000)
    ]
    msg = w.write(iter(batches))
    assert msg.rows == 100_000
    assert 0 < len(calls) <= 64 * len(batches)
