"""Streaming continuous aggregate: an incrementally-maintained
multi-resolution rollup (the streaming face of operators/events2.py e07).

Each micro-batch is aggregated to minute-grain partials (counts are
decomposable), merged into a tiny persistent rollup table, and the coarser
levels derive from the merged base — the TimescaleDB continuous-aggregate
pattern on Structured Streaming.

Scale/correctness posture:
- The per-batch aggregate is the only corpus-sized work, and it reads the
  micro-batch once: the merge caches the minute partials, takes the exact
  dirty months from them and writes from the cache. The merge
  re-aggregates base ∪ delta, both rollup-sized (O(minutes-of-history)).
- The store is CALENDAR-SHARDED (``table/parts/<yyyy-MM>/data``): a merge
  reads and republishes only the partitions the batch's minutes fall in,
  so a years-long store never becomes a per-batch full rewrite, and
  retention (expire_rollup) drops whole shards as directory deletes.
  All dirty shards are written in ONE Spark job (partitionBy staging) and
  published per-shard atomically, each with its own batch marker — a
  crash mid-publish converges shard-by-shard on replay. A store has one
  layout: a sharded merge over a single-dir store (``table/data``) raises
  instead of folding it in.
- The table swap is two-phase (write ``.tmp`` dir, atomic rename), with
  TWO explicit crash-window recoveries: (a) a crash between
  ``rename(data, old)`` and ``rename(tmp, data)`` leaves no data dir — the
  next merge restores the base from ``.old`` before reading it (without
  this, the retry would compute merged=delta and then delete the only
  surviving copy of the history); (b) a crash after the swap but before the
  batchId marker replays the batch — the committed version records the
  producing (query id, batch id) in ``_batch_meta.json``, so the replayed
  merge is a no-op instead of a double count, while another query's batch
  with the same id still merges.
- State lives in the table, not the state store — the query itself is
  stateless (append mode), so there is no watermark requirement; late rows
  simply merge into their (old) buckets, exactly like the batch rollup.

Durability primitives (rename/list/markers) route through the single
filesystem seam ``streaming/storefs.py`` — its module docstring states
the atomicity contract once for every store; deploying on an object
store means swapping that backend, not editing this module.
"""

from __future__ import annotations

import json
import logging
import os
import re
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_streaming_logservice_spark.streaming import storefs
from spark_streaming_logservice_spark.streaming.queries import (
    idempotent_foreach_batch,
    query_id,
)

logger = logging.getLogger(__name__)

_SCHEMA = "bucket TIMESTAMP_NTZ, n_events BIGINT, n_errors BIGINT"
_PART = "__part"

# Optional span-timing hook (bench instrumentation): set to a dict and
# _merge_sharded accumulates wall-clock seconds per phase into it —
# ``probe`` (dirty-shard detection: the distinct over the cached delta,
# which is also the batch's one scan of its source), ``write`` (the one
# merged-output Spark job, served from that cache), ``publish`` (marker +
# renames). Never set in production use.
TIMINGS: dict | None = None


def _span(key: str, t0: float) -> None:
    import time as _t

    if TIMINGS is not None:
        TIMINGS[key] = TIMINGS.get(key, 0.0) + (_t.perf_counter() - t0)


def minute_partials(df: DataFrame, time_col: str = "ts",
                    type_col: str = "event_type") -> DataFrame:
    """Minute-grain decomposable partials of a (possibly streaming) batch.
    The trunc bucket is cast back to NTZ (date_trunc yields LTZ even on NTZ
    input) so the table's declared TIMESTAMP_NTZ schema and host-TZ-
    independent rendering hold."""
    return df.groupBy(
        F.date_trunc("minute", time_col).cast("timestamp_ntz").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(F.when(F.col(type_col) == "error", 1)).alias("n_errors"),
    )


def _combiners(sum_cols: list[str], aggs: dict[str, str] | None):
    return [
        (F.min(c) if (aggs or {}).get(c) == "min"
         else F.max(c) if (aggs or {}).get(c) == "max"
         else F.sum(c)).alias(c)
        for c in sum_cols
    ]


def merge_additive(
    table_dir: str,
    delta: DataFrame,
    key_cols: list[str],
    sum_cols: list[str],
    schema: str,
    batch_id: int | None = None,
    aggs: dict[str, str] | None = None,
    partition_expr: Column | None = None,
    combiner=None,
) -> None:
    """Generic decomposable-partial merge: base ∪ delta → re-aggregate →
    atomic swap. Default combiner per value column is ``sum`` (the rollup's
    minute buckets, a Count-Min sketch's cells); ``aggs`` overrides a
    column to ``"min"``/``"max"`` for first-seen / last-seen semantics —
    any combiner that is associative, commutative and idempotent-mergeable
    works, which is exactly the class a crash-retried merge needs. Both
    inputs are table-sized, never corpus-sized. ``rename(tmp, data)`` is
    the commit point.

    ``partition_expr`` (a Column over the key columns, e.g.
    ``date_format(bucket, 'yyyy-MM-dd')`` for day shards) switches the
    store to a SHARDED layout — ``table_dir/parts/<value>/data`` — where a
    merge reads and republishes ONLY the shards the delta touches. This is
    what keeps a years-long store from becoming a full single-task rewrite
    on every batch: untouched history is never read, never rewritten. The
    merged output for all dirty shards is produced by ONE Spark job
    (partitionBy write to a staging root) and published shard-by-shard via
    the same two-phase rename; each shard carries its own
    ``_batch_meta.json``, so a crash mid-publish replays as per-shard
    no-ops for the shards that committed and fresh merges for the rest —
    per-shard convergence instead of all-or-nothing. The delta is persisted
    for the merge: the distinct that names the dirty shards and the write
    both read that cache, so the source behind the delta is scanned once.

    Crash recovery (see module docstring): an interrupted swap is healed by
    restoring ``.old`` when the data dir is missing, and with ``batch_id``
    set a replay of an already-committed batch returns without merging
    (``_batch_meta.json`` inside the committed version names its producer:
    the streaming query's id, None outside a query, and the batch id; the
    leading underscore keeps the parquet reader from touching it)."""
    stamp = None if batch_id is None else {
        "query_id": query_id(delta.sparkSession), "batch_id": batch_id,
    }
    if partition_expr is not None:
        _merge_sharded(
            table_dir, delta, key_cols, sum_cols, schema, stamp, aggs,
            partition_expr, combiner,
        )
        return
    data, done = _recover_swap(table_dir, stamp)
    if done:
        return
    if storefs.exists(data):
        base = delta.sparkSession.read.schema(schema).parquet(data)
        both = base.unionByName(delta)
        if combiner is not None:
            merged = combiner(both)
        else:
            merged = both.groupBy(*key_cols).agg(*_combiners(sum_cols, aggs))
    elif combiner is not None:
        # first write still runs the reducer: a single batch's delta must
        # satisfy the store invariant (e.g. the KMV store's k-row cap)
        # whether or not a base exists yet
        merged = combiner(delta)
    else:
        merged = delta
    _commit_swap(table_dir, merged, stamp)


def _shard_root(table_dir: str) -> str:
    return os.path.join(table_dir, "parts")


# Shard directory names must round-trip through the filesystem verbatim:
# Spark's partitioned write escapes anything outside this set (space, ':',
# '%' → '%XX'; NULL → __HIVE_DEFAULT_PARTITION__), which would desync the
# publish loop's expected paths from what the staging write produced and
# silently drop that shard's delta (ADVICE r7). Reject instead of lose.
_SAFE_PART = re.compile(r"^[A-Za-z0-9._-]+$")


def _check_part_value(pv) -> str:
    if pv is None or not _SAFE_PART.match(str(pv)):
        raise ValueError(
            f"unsafe shard partition value {pv!r}: partition_expr must "
            "yield non-null strings matching [A-Za-z0-9._-]+ (anything "
            "else is filesystem-escaped by the partitioned write, "
            "desyncing staging paths from the publish loop)"
        )
    return str(pv)


def _reject_single_dir(table_dir: str, what: str) -> None:
    """One layout per store: once a shard exists, store_data_dirs serves
    only the shards, so sharded maintenance over a single-dir store would
    silently hide its data dir."""
    single = os.path.join(table_dir, "data")
    if storefs.exists(single) or storefs.exists(single + ".old"):
        raise ValueError(
            f"{table_dir} is a single-dir store ({single}); {what} needs "
            "the sharded layout — merge into this store without "
            "partition_expr"
        )


def _shard_dirs(table_dir: str) -> list[str]:
    root = _shard_root(table_dir)
    if not storefs.isdir(root):
        return []
    return sorted(
        os.path.join(root, d) for d in storefs.listdir(root) if not d.startswith("_")
    )


def store_data_dirs(table_dir: str, buckets=None) -> list[str]:
    """Readable data dirs of a store in either layout (single or sharded).
    A shard torn between ``rename(data, old)`` and ``rename(tmp, data)`` is
    served from its ``.old`` (read-only heal — the next merge restores it
    durably).

    ``buckets`` (optional collection of partition-value strings) prunes the
    sharded layout at the DIRECTORY level: only the named shards are
    listed, so a reader that knows which buckets its keys hash into never
    opens the others' files. A single-dir store has no shard structure to
    prune, so the filter is ignored there (correctness over pruning — the
    caller's row-level predicate still applies)."""
    want = None if buckets is None else {str(b) for b in buckets}
    dirs = []
    for shard in _shard_dirs(table_dir):
        if want is not None and os.path.basename(shard) not in want:
            continue
        data = os.path.join(shard, "data")
        if storefs.exists(data):
            dirs.append(data)
        elif storefs.exists(data + ".old"):
            dirs.append(data + ".old")
    single = os.path.join(table_dir, "data")
    if not dirs and storefs.exists(single):
        dirs.append(single)
    return dirs


def read_store(
    spark: SparkSession, table_dir: str, schema: str, buckets=None
) -> DataFrame:
    """The store's current contents under either layout (empty if absent).
    ``buckets`` prunes a sharded store to the named shard dirs before the
    scan even lists files — see ``store_data_dirs``."""
    dirs = store_data_dirs(table_dir, buckets)
    if not dirs:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*dirs)


def _merge_sharded(
    table_dir: str,
    delta: DataFrame,
    key_cols: list[str],
    sum_cols: list[str],
    schema: str,
    stamp: dict | None,
    aggs: dict[str, str] | None,
    partition_expr: Column,
    combiner=None,
) -> None:
    _reject_single_dir(table_dir, "a sharded merge")
    spark = delta.sparkSession
    root = _shard_root(table_dir)
    storefs.makedirs(root, exist_ok=True)
    # sweep staging orphans from crashed publishes (never renamed = never
    # happened — same recovery rule as the logstore sink)
    for d in storefs.listdir(root):
        if d.startswith("_staging"):
            storefs.rmtree(os.path.join(root, d), ignore_errors=True)

    import time as _t

    tagged = delta.withColumn(_PART, partition_expr.cast("string"))
    tagged.persist()
    try:
        t0 = _t.perf_counter()
        dirty = sorted(
            _check_part_value(r[0])
            for r in tagged.select(_PART).distinct().collect()
        )
        _span("probe", t0)
        if not dirty:
            return
        # shards this batch already committed to (crash between shard
        # publish and the foreachBatch marker) — skip their re-merge
        todo = []
        for pv in dirty:
            data, done = _recover_swap(os.path.join(root, pv), stamp)
            if not done:
                todo.append(pv)
        if not todo:
            return
        bases = [
            os.path.join(root, pv, "data")
            for pv in todo
            if storefs.exists(os.path.join(root, pv, "data"))
        ]
        fresh = tagged.where(F.col(_PART).isin(todo))
        if bases:
            base = (
                spark.read.schema(schema)
                .parquet(*bases)
                .withColumn(_PART, partition_expr.cast("string"))
            )
            both = base.unionByName(fresh)
            if combiner is not None:
                # caller-supplied reducer (e.g. the upsert store's
                # latest-wins window) — must preserve every column incl.
                # the shard tag; the shard value is key-determined, so a
                # key-partitioned reducer keeps rows in their shard
                merged = combiner(both)
            else:
                merged = (
                    both.groupBy(_PART, *key_cols)
                    .agg(*_combiners(sum_cols, aggs))
                )
        else:
            merged = fresh if combiner is None else combiner(fresh)
        # ONE Spark job writes every dirty shard's new version. Single-shard
        # batches (the common case for a time-local stream) skip the dynamic
        # partition committer entirely: plain coalesced write, one rename.
        staging = os.path.join(root, f"_staging-{uuid.uuid4().hex}")
        t0 = _t.perf_counter()
        if len(todo) == 1:
            merged.drop(_PART).coalesce(1).write.mode("overwrite").parquet(
                staging
            )
            srcs = {todo[0]: staging}
        else:
            merged.repartition(len(todo), F.col(_PART)).write.mode(
                "overwrite"
            ).partitionBy(_PART).parquet(staging)
            srcs = {pv: os.path.join(staging, f"{_PART}={pv}") for pv in todo}
        _span("write", t0)
        t0 = _t.perf_counter()
        # A dirty shard with no staging output is EITHER a combiner that
        # legitimately emptied the shard (e.g. a bottom-k where every delta
        # row loses to base — zero output rows, so the partitioned write
        # produced no directory) OR a write whose directory name diverged
        # from pv (escaping) / lost rows. Only the second is an error;
        # raising on the first would poison the batch forever (the shard
        # stays dirty on every retry). Disambiguate by asking the plan:
        # shards where `merged` truly has zero rows get an explicit empty
        # version published through the same two-phase swap.
        missing = [pv for pv in todo if not storefs.exists(srcs[pv])]
        if missing:
            nonempty = {
                r[0]
                for r in merged.where(F.col(_PART).isin(missing))
                .groupBy(_PART)
                .count()
                .collect()
            }
            ghosts = sorted(set(missing) & nonempty)
            if ghosts:
                raise RuntimeError(
                    f"staging output missing for dirty shards {ghosts!r} "
                    f"that have merged rows (under {staging}); the "
                    "partitioned write escaped/lost the directory — "
                    "refusing to publish a partial batch"
                )
            for pv in missing:
                spark.createDataFrame([], schema).coalesce(1).write.mode(
                    "overwrite"
                ).parquet(srcs[pv])
        # publish shard-by-shard: two-phase rename, commit point per shard
        for pv in todo:
            _publish(os.path.join(root, pv), srcs[pv], stamp)
        storefs.rmtree(staging, ignore_errors=True)
        _span("publish", t0)
    finally:
        tagged.unpersist()


def _recover_swap(table_dir: str, stamp: dict | None) -> tuple[str, bool]:
    """Heal an interrupted two-phase swap and detect an already-committed
    batch. Returns (data_dir, already_committed)."""
    data = os.path.join(table_dir, "data")
    old = data + ".old"
    if not storefs.exists(data) and storefs.exists(old):
        # crash landed between rename(data, old) and rename(tmp, data):
        # .old IS the base table — restore it before reading/deleting
        storefs.publish_rename(old, data)
    meta = os.path.join(data, "_batch_meta.json")
    if stamp is not None and storefs.exists(meta):
        try:
            if json.loads(storefs.read_text(meta)) == stamp:
                # crash landed between swap and marker: this batch is
                # already in the committed version — merging again
                # would double-count it
                storefs.rmtree(old, ignore_errors=True)
                return data, True
        except (OSError, ValueError) as e:
            logger.warning(
                "unreadable %s (%s): merging batch %s again", meta, e,
                stamp["batch_id"],
            )
    return data, False


def _publish(table_dir: str, src: str, stamp: dict | None) -> None:
    """Make ``src`` the store's data dir: write the producer meta into it,
    move the current version aside, ``rename(src, data)`` (the commit
    point), drop the old version."""
    data = os.path.join(table_dir, "data")
    old = data + ".old"
    if stamp is not None:
        storefs.write_text(
            os.path.join(src, "_batch_meta.json"), json.dumps(stamp)
        )
    storefs.makedirs(table_dir, exist_ok=True)
    storefs.rmtree(old, ignore_errors=True)
    if storefs.exists(data):
        storefs.publish_rename(data, old)
    storefs.publish_rename(src, data)
    storefs.rmtree(old, ignore_errors=True)


def _commit_swap(table_dir: str, merged: DataFrame, stamp: dict | None) -> None:
    """Write the merged version to ``.tmp`` and atomically publish it."""
    tmp = os.path.join(table_dir, "data.tmp")
    storefs.rmtree(tmp, ignore_errors=True)
    merged.coalesce(1).write.mode("overwrite").parquet(tmp)
    _publish(table_dir, tmp, stamp)


def merge_partials(
    table_dir: str,
    delta: DataFrame,
    batch_id: int | None = None,
    shard_fmt: str = "yyyy-MM",
) -> None:
    """Rollup-specific face of :func:`merge_additive` (minute buckets),
    time-sharded: a batch touches only the calendar partitions its minutes
    fall in, so a years-long store never becomes a per-batch full rewrite.

    Shard granularity: MONTH by default. A month of minute buckets is
    ~44k rows ≈ 1 MB — bounded regardless of corpus size (the scale
    variable of this store is history length, not data volume), one
    right-sized parquet file per shard. Day shards (``yyyy-MM-dd``) are
    available via ``shard_fmt`` but measured 3.5× slower at sf0.1: 30×
    more footer reads + publish renames per batch for 1.4k-row files —
    the classic small-file problem. Retention keeps day precision either
    way (expire_rollup row-filters the boundary shard)."""
    merge_additive(
        table_dir,
        delta,
        key_cols=["bucket"],
        sum_cols=["n_events", "n_errors"],
        schema=_SCHEMA,
        batch_id=batch_id,
        partition_expr=F.date_format("bucket", shard_fmt),
    )


def incremental_rollup_writer(table_dir: str, time_col: str = "ts"):
    """foreachBatch function maintaining the minute-grain base table under
    ``table_dir`` with batchId-idempotent replay. The batch is read once:
    its minute partials are cached by the merge, which takes the exact
    dirty months from them and writes from the same cache."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        merge_partials(
            table_dir,
            minute_partials(batch_df, time_col=time_col),
            batch_id=batch_id,
        )

    return idempotent_foreach_batch(write, os.path.join(table_dir, "_markers"))


def read_rollup(spark: SparkSession, table_dir: str,
                levels: tuple[str, ...] = ("hour", "day")) -> DataFrame:
    """Serve the coarser levels from the maintained base table (same
    explode-to-levels shape as batch e07)."""
    base = read_store(spark, table_dir, _SCHEMA)
    structs = [
        F.struct(
            F.lit(lv).alias("resolution"),
            F.date_trunc(lv, "bucket").cast("timestamp_ntz").alias("bucket"),
        )
        for lv in levels
    ]
    return (
        base.select(F.explode(F.array(*structs)).alias("rb"), "n_events", "n_errors")
        .groupBy(
            F.col("rb.resolution").alias("resolution"),
            F.col("rb.bucket").alias("bucket"),
        )
        .agg(F.sum("n_events").alias("n_events"), F.sum("n_errors").alias("n_errors"))
        .orderBy("resolution", "bucket")
    )


def read_rollup_gap_filled(spark: SparkSession, table_dir: str) -> DataFrame:
    """Serve the maintained minute base as a DENSE minute series with LOCF:
    every minute between the table's first and last bucket, zero-filled
    counts plus the last non-empty minute's error rate carried forward —
    the l23 gap-fill shape applied to the incrementally-maintained store
    (dashboards want dense series; the store only keeps observed minutes).
    Grid size is bounded by the covered time range, independent of how many
    rows ever streamed in."""
    from pyspark.sql.window import Window

    base = read_store(spark, table_dir, _SCHEMA)
    span = base.agg(
        F.min("bucket").alias("b0"), F.max("bucket").alias("b1")
    )
    grid = span.select(
        F.explode(F.expr("sequence(b0, b1, interval 1 minute)")).alias("bucket")
    )
    w = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rate = F.when(
        F.col("n_events").isNotNull() & (F.col("n_events") > 0),
        F.col("n_errors").cast("double") / F.col("n_events"),
    )
    return (
        grid.join(base, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("n_errors", F.lit(0)).alias("n_errors"),
            F.col("n_events").isNull().alias("is_gap"),
            F.last(rate, ignorenulls=True).over(w).alias("filled_error_rate"),
        )
        .orderBy("bucket")
    )


def _footer_num_rows(data_dir: str) -> int:
    """Row count of a shard's data dir from parquet FOOTER METADATA only —
    no row groups decoded, no Spark job; keeps expire_rollup's
    wholly-expired path metadata-only (ADVICE r7: the previous full
    ``spark.read...count()`` made retention scan the entire expired
    history just to build the return value)."""
    import pyarrow.parquet as pq

    total = 0
    for f in storefs.listdir(data_dir):
        if f.endswith(".parquet"):
            total += pq.ParquetFile(os.path.join(data_dir, f)).metadata.num_rows
    return total


def expire_rollup(table_dir: str, older_than, spark: SparkSession) -> int:
    """Retention maintenance: drop base-table buckets older than the cut.
    Sharded layout: shards wholly before the cut are DELETED as directories
    (their dropped-bucket count comes from parquet footer metadata — no
    rows read or rewritten, which is the point of calendar sharding for
    retention); only the boundary shard is row-filtered through the same
    two-phase swap as a merge, so retention keeps full bucket precision at
    any shard granularity. Returns the number of buckets dropped."""
    _reject_single_dir(table_dir, "shard retention")
    cut = str(older_than)[:10]  # yyyy-MM-dd of the retention boundary
    dropped = 0
    for shard in _shard_dirs(table_dir):
        name = os.path.basename(shard)  # yyyy-MM or yyyy-MM-dd
        edge = cut[: len(name)]
        data, _ = _recover_swap(shard, None)
        if not storefs.exists(data):
            continue
        if name < edge:
            dropped += _footer_num_rows(data)
            storefs.rmtree(shard, ignore_errors=True)
        elif name == edge:
            base = spark.read.schema(_SCHEMA).parquet(data)
            kept = base.where(F.col("bucket") >= F.lit(older_than))
            n = base.count() - kept.count()
            if n:
                _commit_swap(shard, kept, None)
                dropped += n
    return dropped


def read_error_incidents(spark: SparkSession, table_dir: str) -> DataFrame:
    """Serve merged error INCIDENTS (gaps-and-islands over consecutive
    error minutes) straight from the maintained minute-grain store — the
    continuously-current face of the batch l29 query: identical island
    algebra over the store's ``n_errors > 0`` minutes, so a streamed store
    serves the same incidents a batch pass over the full history computes
    (pinned by tests/test_streaming_rollup.py).

    Scale: the input is the O(minutes-in-retention) store, never raw
    events; one ordered window over that bounded series."""
    from pyspark.sql import Window as W

    m = (
        read_store(spark, table_dir, _SCHEMA)
        .where(F.col("n_errors") > 0)
        .select("bucket", "n_errors")
    )
    w = W.orderBy("bucket")  # bounded: O(minutes in retention) rows
    flagged = m.withColumn(
        "is_start",
        F.when(
            F.lag("bucket").over(w).isNull()
            | (
                F.col("bucket")
                > F.lag("bucket").over(w) + F.expr("INTERVAL 1 MINUTE")
            ),
            1,
        ).otherwise(0),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("is_start").over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    return (
        islands.groupBy("island")
        .agg(
            F.min("bucket").alias("incident_start"),
            F.max("bucket").alias("incident_end"),
            F.count(F.lit(1)).alias("n_minutes"),
            F.sum("n_errors").alias("n_errors"),
        )
        .drop("island")
        .orderBy("incident_start")
    )
