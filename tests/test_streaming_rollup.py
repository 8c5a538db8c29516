"""Streaming continuous aggregate (incremental multi-resolution rollup):
the maintained table must equal the batch rollup over the same rows, batch
replay must be a no-op, and a crash between merge and marker must converge
on retry (counts merge idempotently per batchId, not per row).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from spark_streaming_logservice_spark.streaming import rollup as R


def _mk_events(spark, n=600):
    return spark.range(n).select(
        F.col("id").alias("event_id"),
        (
            F.lit("2024-01-01 00:00:00").cast("timestamp_ntz")
            + F.make_interval(secs=F.col("id") * 37 % 7200)
        ).alias("ts"),
        F.when(F.col("id") % 11 == 0, "error").otherwise("click").alias("event_type"),
    )


def test_incremental_rollup_matches_batch(spark, tmp_path):
    events = _mk_events(spark)
    src = str(tmp_path / "events-src")
    # 4 files → 4 micro-batches with maxFilesPerTrigger=1
    events.repartition(4).write.parquet(src)
    table = str(tmp_path / "rollup")
    q = (
        spark.readStream.schema("event_id LONG, ts TIMESTAMP_NTZ, event_type STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(R.incremental_rollup_writer(table))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["resolution"], r["bucket"]): (r["n_events"], r["n_errors"])
        for r in R.read_rollup(spark, table).collect()
    }
    # batch reference: the same levels computed directly over the full input
    base = R.minute_partials(events)
    exp = {}
    for lv in ("hour", "day"):
        rows = (
            base.groupBy(F.date_trunc(lv, "bucket").alias("bucket"))
            .agg(F.sum("n_events").alias("n_events"), F.sum("n_errors").alias("n_errors"))
            .collect()
        )
        for r in rows:
            exp[(lv, r["bucket"])] = (r["n_events"], r["n_errors"])
    assert got == exp


def test_rollup_batch_replay_is_noop(spark, tmp_path):
    events = _mk_events(spark, n=100)
    table = str(tmp_path / "rollup")
    writer = R.incremental_rollup_writer(table)
    writer(events, 0)
    first = {
        (r["resolution"], r["bucket"]): r["n_events"]
        for r in R.read_rollup(spark, table).collect()
    }
    writer(events, 0)  # redelivery of the same batchId: must not double-count
    second = {
        (r["resolution"], r["bucket"]): r["n_events"]
        for r in R.read_rollup(spark, table).collect()
    }
    assert first == second


def test_rollup_crash_before_marker_retries_cleanly(spark, tmp_path):
    events = _mk_events(spark, n=100)
    table = str(tmp_path / "rollup")
    # simulate: merge succeeded but the marker write crashed → marker absent.
    R.merge_partials(table, R.minute_partials(events))
    total_once = R.read_rollup(spark, table).agg(F.sum("n_events")).collect()[0][0]
    # retry re-merges the same batch (no marker); the merge is NOT row-level
    # idempotent, so the writer must be driven by batchId markers — verify a
    # marker-driven retry (writer call) leaves exactly one extra merge, then
    # a SECOND writer call with the same batchId is a no-op.
    writer = R.incremental_rollup_writer(table)
    writer(events, 7)
    after_retry = R.read_rollup(spark, table).agg(F.sum("n_events")).collect()[0][0]
    assert after_retry == 2 * total_once
    writer(events, 7)
    assert (
        R.read_rollup(spark, table).agg(F.sum("n_events")).collect()[0][0]
        == after_retry
    )
    marker = os.path.join(table, "_markers", "batch-7")
    assert os.path.exists(marker)


def test_rollup_recovers_interrupted_swap(spark, tmp_path):
    """A crash BETWEEN rename(data, old) and rename(tmp, data) leaves no
    data dir; the next merge must restore the base from .old instead of
    treating the delta as the whole history (which would then delete the
    only surviving copy via rmtree(old))."""
    events = _mk_events(spark, n=100)
    table = str(tmp_path / "rollup")
    writer = R.incremental_rollup_writer(table)
    writer(events, 0)
    total = R.read_rollup(spark, table).agg(F.sum("n_events")).collect()[0][0]
    # simulate the torn swap inside the (single) month shard: data renamed
    # away, replacement never landed
    data = os.path.join(table, "parts", "2024-01", "data")
    os.rename(data, data + ".old")
    writer(events, 1)
    after = R.read_rollup(spark, table).agg(F.sum("n_events")).collect()[0][0]
    assert after == 2 * total  # base survived AND batch 1 merged exactly once


def test_rollup_replay_after_swap_before_marker_is_noop(spark, tmp_path):
    """A crash AFTER the swap but BEFORE the batchId marker replays the
    batch; the committed version's _batch_meta.json must make the re-merge
    a no-op instead of a double count."""
    events = _mk_events(spark, n=100)
    table = str(tmp_path / "rollup")
    R.merge_partials(table, R.minute_partials(events), batch_id=5)
    once = R.read_rollup(spark, table).agg(F.sum("n_events")).collect()[0][0]
    # marker was never written → foreachBatch replays the same batch_id
    R.merge_partials(table, R.minute_partials(events), batch_id=5)
    again = R.read_rollup(spark, table).agg(F.sum("n_events")).collect()[0][0]
    assert again == once


def test_gap_filled_read_densifies_and_carries_rate(spark, tmp_path):
    """Serving view over the maintained base: missing minutes appear with
    zero counts and the last observed error rate carried forward."""
    from pyspark.sql import functions as F

    from spark_streaming_logservice_spark.streaming import rollup as RU

    table = str(tmp_path / "rt")
    batch = spark.createDataFrame(
        [
            ("2024-03-01 10:00:10", "error"),
            ("2024-03-01 10:00:40", "click"),
            # minute 10:01 and 10:02 silent
            ("2024-03-01 10:03:05", "click"),
        ],
        "ts STRING, event_type STRING",
    ).select(F.col("ts").cast("timestamp_ntz").alias("ts"), "event_type")
    RU.merge_partials(table, RU.minute_partials(batch), batch_id=0)

    rows = {str(r["bucket"]): r for r in RU.read_rollup_gap_filled(spark, table).collect()}
    assert len(rows) == 4, "grid must densify to every covered minute"
    assert rows["2024-03-01 10:01:00"]["is_gap"] is True
    assert rows["2024-03-01 10:01:00"]["n_events"] == 0
    # LOCF: the silent minutes carry 10:00's 1/2 error rate
    assert rows["2024-03-01 10:02:00"]["filled_error_rate"] == 0.5
    assert rows["2024-03-01 10:03:00"]["filled_error_rate"] == 0.0


def _batch(spark, rows):
    from pyspark.sql import functions as F

    return spark.createDataFrame(rows, "ts STRING, event_type STRING").select(
        F.col("ts").cast("timestamp_ntz").alias("ts"), "event_type"
    )


def test_merge_touches_only_dirty_shards(spark, tmp_path):
    """The whole point of the sharded layout: a batch landing in March must
    not read or republish January's shard — January's data dir (files,
    mtimes, batch meta) stays bit-identical."""
    import json

    table = str(tmp_path / "rollup")
    R.merge_partials(
        table, R.minute_partials(_batch(spark, [("2024-01-05 10:00:10", "click")])),
        batch_id=0,
    )
    jan = os.path.join(table, "parts", "2024-01", "data")
    before = {
        f: (os.path.getmtime(os.path.join(jan, f)), os.path.getsize(os.path.join(jan, f)))
        for f in sorted(os.listdir(jan))
    }
    with open(os.path.join(jan, "_batch_meta.json")) as f:
        assert json.load(f) == {"": 0}

    R.merge_partials(
        table, R.minute_partials(_batch(spark, [("2024-03-09 11:00:10", "error")])),
        batch_id=1,
    )
    after = {
        f: (os.path.getmtime(os.path.join(jan, f)), os.path.getsize(os.path.join(jan, f)))
        for f in sorted(os.listdir(jan))
    }
    assert before == after, "January shard was republished by a March batch"
    assert os.path.isdir(os.path.join(table, "parts", "2024-03", "data"))
    # both shards serve
    total = R.read_rollup(spark, table).agg(F.sum("n_events")).collect()[0][0]
    assert total == 4  # 1 event x (hour+day) levels x 2 shards


def test_multi_shard_batch_publishes_each_shard_atomically(spark, tmp_path):
    """A batch spanning two months publishes both shards with per-shard
    batch meta; replaying the same batch_id is a per-shard no-op."""
    import json

    table = str(tmp_path / "rollup")
    rows = [("2024-01-05 10:00:10", "click"), ("2024-02-06 10:00:10", "error")]
    R.merge_partials(table, R.minute_partials(_batch(spark, rows)), batch_id=3)
    for month in ("2024-01", "2024-02"):
        meta = os.path.join(table, "parts", month, "data", "_batch_meta.json")
        with open(meta) as f:
            assert json.load(f) == {"": 3}
    once = R.read_rollup(spark, table).agg(F.sum("n_events")).collect()[0][0]
    R.merge_partials(table, R.minute_partials(_batch(spark, rows)), batch_id=3)
    again = R.read_rollup(spark, table).agg(F.sum("n_events")).collect()[0][0]
    assert once == again == 4


def test_expire_drops_whole_shard_without_reading_boundary(spark, tmp_path):
    """Retention deletes pre-cut shards as directories and row-filters only
    the boundary shard."""
    import datetime

    table = str(tmp_path / "rollup")
    rows = [
        ("2024-01-05 10:00:10", "click"),
        ("2024-02-06 10:00:10", "click"),
        ("2024-02-20 10:00:10", "click"),
    ]
    R.merge_partials(table, R.minute_partials(_batch(spark, rows)), batch_id=0)
    dropped = R.expire_rollup(table, datetime.datetime(2024, 2, 10), spark)
    assert dropped == 2  # all of January + the pre-cut February bucket
    assert not os.path.exists(os.path.join(table, "parts", "2024-01"))
    left = R.read_rollup(spark, table).collect()
    assert all(str(r["bucket"]) >= "2024-02-10" for r in left)


def test_partial_multi_shard_publish_converges_on_replay(spark, tmp_path):
    """A crash BETWEEN two shard publishes of one batch: shard A committed
    (its _batch_meta names the batch), shard B torn mid-swap (pre-batch
    data stranded as .old, no data dir). Replaying the batch must skip A
    (per-shard meta) and merge B exactly once — per-shard convergence."""
    import shutil

    table = str(tmp_path / "rollup")
    jan = [("2024-01-05 10:00:10", "click")]
    feb = [("2024-02-06 10:00:10", "error")]
    R.merge_partials(table, R.minute_partials(_batch(spark, jan + feb)), batch_id=0)
    feb_dir = os.path.join(table, "parts", "2024-02")
    pre = str(tmp_path / "feb-pre")
    shutil.copytree(os.path.join(feb_dir, "data"), pre)

    # batch 1 touches both shards; then simulate the partial crash: Jan
    # committed, Feb torn back to its pre-batch state as .old
    rows1 = [("2024-01-05 10:07:10", "click"), ("2024-02-06 10:09:10", "click")]
    R.merge_partials(table, R.minute_partials(_batch(spark, rows1)), batch_id=1)
    shutil.rmtree(os.path.join(feb_dir, "data"))
    shutil.copytree(pre, os.path.join(feb_dir, "data.old"))

    # replay of batch 1: Jan is a per-shard no-op, Feb heals + merges once
    R.merge_partials(table, R.minute_partials(_batch(spark, rows1)), batch_id=1)
    total = R.read_rollup(spark, table).agg(F.sum("n_events")).collect()[0][0]
    # 4 distinct minutes x (hour+day) levels, each 1 event
    assert total == 8


def test_sharded_merge_over_single_dir_store_raises(spark, tmp_path):
    """A store has one layout: a sharded merge (or shard retention) over a
    single-dir store (table/data) raises instead of writing shards that
    store_data_dirs would serve in place of table/data — and leaves
    table/data intact."""
    import pytest

    table = str(tmp_path / "rollup")
    jan = _batch(spark, [("2024-01-05 10:00:10", "click")])
    # single-dir layout: merge without partition_expr writes table/data
    R.merge_additive(
        table, R.minute_partials(jan), key_cols=["bucket"],
        sum_cols=["n_events", "n_errors"], schema=R._SCHEMA, batch_id=0,
    )
    feb = _batch(spark, [("2024-02-06 10:00:10", "error")])
    with pytest.raises(ValueError, match="single-dir store"):
        R.merge_partials(table, R.minute_partials(feb), batch_id=1)
    with pytest.raises(ValueError, match="single-dir store"):
        R.expire_rollup(table, "2024-02-01", spark)
    assert not os.path.exists(os.path.join(table, "parts"))
    assert R.store_data_dirs(table) == [os.path.join(table, "data")]
    total = R.read_rollup(spark, table).agg(F.sum("n_events")).collect()[0][0]
    assert total == 2  # January's 1 event x (hour+day), untouched


def _as_query(spark, qid):
    """Run the next merges as if inside streaming query ``qid``'s
    foreachBatch (None: outside any query)."""
    spark.sparkContext.setLocalProperty("sql.streaming.queryId", qid)


def test_batch_meta_guard_is_scoped_by_query(spark, tmp_path):
    """The committed shard's _batch_meta.json names (query id, batch id):
    another query's batch with the same id merges, the same query's
    replay is a no-op."""
    table = str(tmp_path / "rollup")
    rows = _batch(spark, [("2024-01-05 10:00:10", "click")])
    try:
        _as_query(spark, "query-a")
        R.merge_partials(table, R.minute_partials(rows), batch_id=0)
        _as_query(spark, "query-b")
        R.merge_partials(table, R.minute_partials(rows), batch_id=0)
        R.merge_partials(table, R.minute_partials(rows), batch_id=0)  # replay
    finally:
        _as_query(spark, None)
    got = R.read_store(spark, table, R._SCHEMA).agg(F.sum("n_events"))
    assert got.collect()[0][0] == 2


def test_batch_meta_keeps_every_query_across_interleaved_commits(
    spark, tmp_path
):
    """Query A crashes after its swap (no marker), query B then commits the
    same batch id to the same shard, and A's replay arrives last: the
    shard's _batch_meta.json still holds A's batch, so A's rows count
    once — the meta carries every publishing query forward, not just the
    last one."""
    import json

    table = str(tmp_path / "rollup")
    a = _batch(spark, [("2024-01-05 10:00:10", "click")])
    b = _batch(spark, [("2024-01-05 10:00:20", "error")] * 2)
    try:
        _as_query(spark, "query-a")
        R.merge_partials(table, R.minute_partials(a), batch_id=5)
        _as_query(spark, "query-b")
        R.merge_partials(table, R.minute_partials(b), batch_id=5)
        _as_query(spark, "query-a")
        R.merge_partials(table, R.minute_partials(a), batch_id=5)  # replay
    finally:
        _as_query(spark, None)
    got = R.read_store(spark, table, R._SCHEMA).collect()
    assert [(r["n_events"], r["n_errors"]) for r in got] == [(3, 2)]
    meta = os.path.join(table, "parts", "2024-01", "data", "_batch_meta.json")
    with open(meta) as f:
        assert json.load(f) == {"query-a": 5, "query-b": 5}


def test_unreadable_batch_meta_is_logged(spark, tmp_path, caplog):
    """A committed version whose _batch_meta.json cannot be parsed cannot
    prove the replayed batch is in it: the merge runs again, and says so."""
    import logging

    table = str(tmp_path / "rollup")
    rows = _batch(spark, [("2024-01-05 10:00:10", "click")])
    R.merge_partials(table, R.minute_partials(rows), batch_id=0)
    meta = os.path.join(table, "parts", "2024-01", "data", "_batch_meta.json")
    with open(meta, "w") as f:
        f.write("{torn")
    with caplog.at_level(logging.WARNING, logger=R.__name__):
        R.merge_partials(table, R.minute_partials(rows), batch_id=0)
    warned = [r for r in caplog.records if r.name == R.__name__]
    assert len(warned) == 1 and "_batch_meta.json" in warned[0].getMessage()
    got = R.read_store(spark, table, R._SCHEMA).agg(F.sum("n_events"))
    assert got.collect()[0][0] == 2


def test_fresh_checkpoint_query_keeps_every_batch(spark, tmp_path):
    """A second query with a fresh checkpoint into an existing rollup
    starts its batch ids at 0 again: neither the first query's markers nor
    its shard's _batch_meta.json may make it skip those batches."""
    import json

    src = str(tmp_path / "src")
    os.makedirs(src)
    table = str(tmp_path / "rollup")

    def add_files(sizes, start):
        for i, n in enumerate(sizes, start):
            path = os.path.join(src, f"part-{i:02d}.json")
            with open(path, "w") as f:
                for j in range(n):
                    f.write(json.dumps({
                        "ts": f"2024-01-05T10:{i:02d}:{j:02d}",
                        "event_type": "click",
                    }) + "\n")
            os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))

    def run(ck):
        q = (
            spark.readStream.schema("ts TIMESTAMP_NTZ, event_type STRING")
            .option("maxFilesPerTrigger", "1")
            .json(src)
            .writeStream.foreachBatch(R.incremental_rollup_writer(table))
            .option("checkpointLocation", str(tmp_path / ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        progress = [p for p in q.recentProgress if p.numInputRows]
        return (len({p.batchId for p in progress}),
                sum(p.numInputRows for p in progress))

    def total():
        got = R.read_store(spark, table, R._SCHEMA).agg(F.sum("n_events"))
        return got.collect()[0][0]

    add_files([1, 2, 1, 2], 0)
    assert run("ck-a") == (4, 6)
    assert total() == 6
    add_files([2, 3], 4)
    assert run("ck-b") == (6, 11)  # every file again, batch ids 0..5
    assert total() == 17


def test_unsafe_partition_value_rejected(spark, tmp_path):
    """Partition values Spark would escape in directory names (space, ':',
    '%') or NULLs must raise instead of silently dropping the shard's
    delta (ADVICE r7)."""
    import pytest

    table = str(tmp_path / "store")
    delta = spark.createDataFrame(
        [("k 1", 2)], "k STRING, n BIGINT"
    )
    with pytest.raises(ValueError, match="unsafe shard partition value"):
        R.merge_additive(
            table, delta, key_cols=["k"], sum_cols=["n"],
            schema="k STRING, n BIGINT", batch_id=0,
            partition_expr=F.col("k"),
        )
    nulls = spark.createDataFrame([(None, 2)], "k STRING, n BIGINT")
    with pytest.raises(ValueError, match="unsafe shard partition value"):
        R.merge_additive(
            table, nulls, key_cols=["k"], sum_cols=["n"],
            schema="k STRING, n BIGINT", batch_id=1,
            partition_expr=F.col("k"),
        )


def test_served_incidents_equal_batch_l29(spark, sf_dir, tmp_path):
    """Incidents served from the streamed minute store must equal the
    batch l29 gaps-and-islands query over the same events, whatever the
    batching."""
    from pyspark.sql import functions as F

    from spark_streaming_logservice_spark import registry
    from spark_streaming_logservice_spark.streaming import rollup as R
    from spark_streaming_logservice_spark.tables import load_table

    registry.load_all()
    table = str(tmp_path / "mins")
    writer = R.incremental_rollup_writer(table)
    ev = load_table(spark, sf_dir, "events")
    for b in range(3):
        writer(ev.where(F.col("event_id") % 3 == b), b)

    served = [
        (r["incident_start"], r["incident_end"], r["n_minutes"], r["n_errors"])
        for r in R.read_error_incidents(spark, table).collect()
    ]
    batch = [
        (r["incident_start"], r["incident_end"], r["n_minutes"], r["n_errors"])
        for r in registry.QUERIES["l29_error_incidents"](
            spark, sf_dir
        ).collect()
    ]
    assert served == batch and len(served) > 0


def test_bucket_filter_ignored_on_legacy_single_dir_store(spark, tmp_path):
    """A legacy single-dir store has no shard structure to prune, so a
    ``buckets=`` filter must be IGNORED there (correctness over pruning) —
    the full store comes back, never an empty frame that would make a
    drift score silently treat history as absent."""
    table = str(tmp_path / "rollup")
    jan = _batch(spark, [("2024-01-05 10:00:10", "click")] * 3)
    # legacy layout: merge without partition_expr writes table/data
    R.merge_additive(
        table, R.minute_partials(jan), key_cols=["bucket"],
        sum_cols=["n_events", "n_errors"], schema=R._SCHEMA, batch_id=0,
    )
    assert os.path.isdir(os.path.join(table, "data"))
    # a filter naming buckets that can't exist in this layout
    dirs = R.store_data_dirs(table, buckets={"0", "7", "nonexistent"})
    assert dirs == [os.path.join(table, "data")]
    got = R.read_store(spark, table, R._SCHEMA, buckets={"0"}).agg(
        F.sum("n_events")
    ).collect()[0][0]
    assert got == 3  # all 3 events visible — nothing hidden by the filter


def _minute_counts(spark, table) -> dict:
    return {
        r["bucket"]: (r["n_events"], r["n_errors"])
        for r in R.read_store(spark, table, R._SCHEMA).collect()
    }


def _reference_counts(df) -> dict:
    return {
        r["bucket"]: (r["n_events"], r["n_errors"])
        for r in R.minute_partials(df).collect()
    }


def test_writer_batch_spanning_months_writes_only_their_shards(spark, tmp_path):
    """A January + March batch, then late rows for both months: only the
    2024-01 and 2024-03 shards exist (no February shard for the months in
    between), and the minute counts equal the reference over every row."""
    table = str(tmp_path / "rollup")
    writer = R.incremental_rollup_writer(table)
    first = [("2024-01-05 10:00:10", "click"), ("2024-01-31 23:59:59", "error"),
             ("2024-03-01 00:00:00", "click"), ("2024-03-09 11:00:10", "error")]
    late = [("2024-01-05 10:00:50", "error"), ("2024-03-09 11:00:01", "click"),
            ("2024-01-02 08:00:00", "click")]
    writer(_batch(spark, first), 0)
    writer(_batch(spark, late), 1)
    assert sorted(os.listdir(os.path.join(table, "parts"))) == ["2024-01", "2024-03"]
    assert _minute_counts(spark, table) == _reference_counts(_batch(spark, first + late))


def test_writer_empty_batch_writes_no_shard_and_records_marker(spark, tmp_path):
    table = str(tmp_path / "rollup")
    writer = R.incremental_rollup_writer(table)
    writer(_batch(spark, []), 0)
    assert os.listdir(os.path.join(table, "parts")) == []
    assert os.path.exists(os.path.join(table, "_markers", "batch-0"))
    assert _minute_counts(spark, table) == {}


def test_rollup_reads_each_logstore_batch_once(spark, tmp_path):
    """The writer scans its micro-batch once: every trigger's numInputRows
    equals the rows of its offset range (a second scan of the batch, e.g. a
    separate dirty-shard probe, would count them twice)."""
    import json

    from spark_streaming_logservice_spark import fixtures
    from spark_streaming_logservice_spark.sources.logstore import register

    register(spark)
    store = str(tmp_path / "p" / "store")
    kinds = ["click", "error", "click", "view", "error"]
    fixtures.make_store(store, {0: kinds * 8, 1: kinds[:3] * 10})
    table = str(tmp_path / "rollup")
    writer = R.incremental_rollup_writer(table)

    def run():
        q = (
            spark.readStream.format("logstore")
            .schema("msg STRING, __time__ TIMESTAMP_NTZ")
            .option("path", store)
            .option("startingOffsets", "earliest")
            .load()
            .select(F.col("__time__").alias("ts"), F.col("msg").alias("event_type"))
            .writeStream.foreachBatch(writer)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        progress = [json.loads(p.json) for p in q.recentProgress]
        return [p for p in progress if p["numInputRows"]]

    def offsets(raw):  # null before the first batch
        return {int(k): int(v) for k, v in (raw or {}).items()}

    triggers = run()
    fixtures.write_messages(store, kinds * 4, shard=1, base_time=1_700_000_600)
    triggers += run()
    assert len(triggers) >= 2
    for p in triggers:
        src = p["sources"][0]
        start, end = offsets(src["startOffset"]), offsets(src["endOffset"])
        in_range = sum(end[s] - start.get(s, 0) for s in end)
        assert p["numInputRows"] == in_range, (p["numInputRows"], in_range)
    assert sum(p["numInputRows"] for p in triggers) == 40 + 30 + 20

    rows = (
        spark.read.format("logstore")
        .schema("msg STRING, __time__ TIMESTAMP_NTZ")
        .option("path", store)
        .load()
        .select(F.col("__time__").alias("ts"), F.col("msg").alias("event_type"))
    )
    assert _minute_counts(spark, table) == _reference_counts(rows)
