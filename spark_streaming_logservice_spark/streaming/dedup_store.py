"""Dedup-on-ingest: streaming exact dedup against a PERSISTENT digest store.

``queries.dedup_stream`` (dropDuplicates + watermark) bounds its state to the
watermark horizon — correct for in-flight duplicates, but a training-data
ingest pipeline must suppress duplicates against *everything ever ingested*.
That state can't live in the streaming state store (unbounded); the standard
shape is an external digest table:

    per micro-batch:
      1. digest rows (128-bit content digest: two-seed xxhash64),
      2. collapse duplicates within the batch (keep lowest id),
      3. anti-join against the persistent digest table,
      4. forward only the novel rows to the downstream writer,
      5. append the novel digests to the table (atomic rename + marker).

Scale: the digest table is O(corpus) rows of 16-byte keys, append-only (one
parquet dir per batch; compact with ``sources/maintenance.py`` patterns when
file count grows). The anti-join NEVER shuffles the store: the batch's
digest set (micro-batch-sized, ~16 bytes/row) broadcasts into a map-only
semi-join that streams the store once and returns only the hits (≤ batch
size), and the batch then anti-joins against the broadcast hits — per batch
the store is one sequential scan, zero shuffle, zero rewrite, which is the
shape that survives a years-long store. The batch never collects to the
driver, and the novel set is computed ONCE per batch (cached across the
forward and the digest append, released after).

Crash contract (mirrors the logstore sink's stage-then-publish protocol,
``sources/logstore.py``): the downstream ``forward`` MUST itself be
idempotent under batch replay (wrap with ``idempotent_foreach_batch`` or
write to the logstore sink). Ordering is forward → digests → marker:
- crash before digests land → replay re-forwards (downstream guard absorbs
  it) and then lands digests;
- crash between digests and marker → replay sees its own digests in the
  store, forwards nothing new, and completes the marker — rows were already
  forwarded by the failed attempt, so nothing is lost or doubled.
Per-batch names (digest file ``q-<record>.parquet``, its staging dir,
marker ``_markers/<record>``) use the ``queries.batch_record`` key, so
queries with their own checkpoints share one store safely.

Durability primitives (rename/list/markers) route through the single
filesystem seam ``streaming/storefs.py`` — its module docstring states
the atomicity contract once for every store; deploying on an object
store means swapping that backend, not editing this module.
"""

from __future__ import annotations

import os
import uuid

import time as _t

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_streaming_logservice_spark.streaming import storefs
from spark_streaming_logservice_spark.streaming.queries import (
    batch_record,
    idempotent_foreach_batch,
    parse_batch_record,
)

# The store digest: two independently-seeded xxhash64 passes packed into
# two BIGINTs — 128 bits (a SINGLE 64-bit hash would expect real
# collisions at 10^10 docs, i.e. silent false-dedup at 100 TB) at xxhash
# speed, 16 bytes/row in the store. The digest never crosses engines
# (stream-equals-batch is pytest-pinned, not oracle-replayed), so a JVM
# hash is semantically free.
STORE_SCHEMA = "d0 BIGINT, d1 BIGINT"
DIGEST_COLS = ("__d0", "__d1")
STORE_KEYS = ("d0", "d1")
DIGEST_PREFIX = "q"  # this writer's digest files; ingest_pipeline's: "pipe"


def _digest_exprs(text_col: str) -> list:
    # two fixed distinct salt literals give two independent 64-bit streams
    return [
        F.xxhash64(F.lit(salt), F.col(text_col)).alias(d)
        for salt, d in zip((0x9E3779B9, 0x85EBCA6B), DIGEST_COLS)
    ]


def _null_digest_exprs() -> list:
    """Typed NULL digest columns for the NULL-text pass-through rows —
    NOT the digest exprs over NULL text (xxhash64 skips NULL inputs and
    hashes just the salt, which would give every NULL text one digest)."""
    return [F.lit(None).cast("bigint").alias(d) for d in DIGEST_COLS]


def _to_store(df: DataFrame) -> DataFrame:
    """Project a digested batch relation onto the store's column names."""
    return df.select(
        *[F.col(d).alias(s) for d, s in zip(DIGEST_COLS, STORE_KEYS)]
    )


# bench hook (same contract as streaming/rollup.TIMINGS): set to {} before
# driving batches to accumulate per-phase wall-clock; None = no-op. When
# armed, the novel set is materialized by an explicit count so the dedup
# phase (digest + collapse + store scan + anti-join) is attributed
# separately from the downstream forward; unarmed, the forward's first
# action materializes it (production path unchanged).
TIMINGS: dict | None = None


def _span(key: str, t0: float) -> None:
    if TIMINGS is not None:
        TIMINGS[key] = TIMINGS.get(key, 0.0) + (_t.perf_counter() - t0)


def _store_files(digest_dir: str) -> list[str]:
    if not storefs.isdir(digest_dir):
        return []
    return [
        os.path.join(digest_dir, f)
        for f in sorted(storefs.listdir(digest_dir))
        if f.endswith(".parquet") and not f.startswith("_staging")
    ]


def publish_once(df: DataFrame, directory: str, prefix: str, record: str,
                 name: str) -> None:
    """Publish ``df`` as ``directory/name`` unless a replay already did:
    staged to ``_staging-<prefix>-<record>-<hex>``, then renamed. Sweeps
    only the orphans of ``record``'s own query (never renamed = never
    happened): a shared store hosts concurrent writers, and an unscoped
    sweep would delete another's in-flight staging dir."""
    final = os.path.join(directory, name)
    if storefs.exists(final):
        return
    storefs.makedirs(directory, exist_ok=True)
    owner = parse_batch_record(record)[0]
    head = f"_staging-{prefix}-"
    for f in storefs.listdir(directory):
        staged = f.startswith(head) and parse_batch_record(
            f[len(head):].rpartition("-")[0]
        )
        if staged and staged[0] == owner:
            storefs.rmtree(os.path.join(directory, f), ignore_errors=True)
    staging = os.path.join(
        directory, f"_staging-{prefix}-{record}-{uuid.uuid4().hex}"
    )
    df.write.mode("overwrite").parquet(staging)
    storefs.publish_rename(staging, final)


def publish_digests(novel: DataFrame, digest_dir: str, prefix: str,
                    record: str) -> None:
    """Append a batch's novel digests as ``<prefix>-<record>.parquet``.
    NULL-text pass-through rows carry NULL digests and never enter the
    store (they are not dedup state)."""
    publish_once(
        _to_store(novel.where(F.col(DIGEST_COLS[0]).isNotNull())).coalesce(1),
        digest_dir, prefix, record, f"{prefix}-{record}.parquet",
    )


def dedup_against_store(
    batch_df: DataFrame,
    digest_dir: str,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """The batch's novel rows: within-batch collapse (keep the lowest id per
    digest — one batch-keyed shuffle via a partitioned row_number), then an
    anti-join on the persistent digest table arranged so the STORE side is
    a single map-only scan: hits = store ⋉ broadcast(batch digests), then
    batch ⋉̸ broadcast(hits). Both broadcast sides are micro-batch-sized.

    NULL-text rows have no content to compare, so they are PASSED THROUGH
    untouched: always forwarded, never deduplicated (within the batch or
    against history), never written to the digest store. This is explicit
    because Spark's xxhash64 SKIPS NULL inputs, hashing just the salt,
    which would collapse every NULL-text row in history to one (ADVICE
    r10). Pass-through is loss-free (a pipeline that wants NULLs dropped
    filters them upstream)."""
    from pyspark.sql.window import Window

    spark = batch_df.sparkSession
    digested = batch_df.where(F.col(text_col).isNotNull()).select(
        "*", *_digest_exprs(text_col)
    )
    # NULL-text pass-through: forwarded every batch, never stored
    passthrough = batch_df.where(F.col(text_col).isNull()).select(
        "*", *_null_digest_exprs()
    )
    # within-batch: keep the lowest id per digest (deterministic winner)
    w = Window.partitionBy(*DIGEST_COLS).orderBy(F.asc(id_col))
    fresh = (
        digested.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    files = _store_files(digest_dir)
    if not files:
        return fresh.unionByName(passthrough)
    seen = spark.read.schema(STORE_SCHEMA).parquet(*files)
    hits = seen.join(
        F.broadcast(_to_store(fresh)), list(STORE_KEYS), "left_semi"
    )
    cond = None
    for d, s in zip(DIGEST_COLS, STORE_KEYS):
        eq = fresh[d] == hits[s]
        cond = eq if cond is None else (cond & eq)
    return fresh.join(F.broadcast(hits), cond, "left_anti").unionByName(
        passthrough
    )


def dedup_on_ingest(forward, digest_dir: str, text_col: str = "text",
                    id_col: str = "doc_id"):
    """foreachBatch function factory: forward only never-seen-before rows
    downstream and remember their digests durably.

    ``forward(novel_df, batch_id)`` receives the novel rows WITHOUT the
    internal digest column(s) and must be replay-idempotent (see module
    docstring for the crash contract). Several streaming queries may feed
    ONE shared digest store: the digest files and the batch markers
    (``digest_dir/_markers``) are named by ``queries.batch_record``, so
    one query's batch 0 is never read as another's replay.
    """

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        novel = dedup_against_store(batch_df, digest_dir, text_col, id_col)
        # one computation per batch: cache novel across the forward and the
        # digest append (the forward's first action materializes it), then
        # release. Crash ordering stays forward -> digests.
        novel.persist()
        try:
            if TIMINGS is not None:
                t0 = _t.perf_counter()
                novel.count()  # materialize: attribute dedup vs forward
                _span("dedup", t0)
            t0 = _t.perf_counter()
            forward(novel.drop(*DIGEST_COLS), batch_id)
            _span("forward", t0)
            t0 = _t.perf_counter()
            publish_digests(
                novel, digest_dir, DIGEST_PREFIX,
                batch_record(batch_df.sparkSession, batch_id),
            )
            _span("digests", t0)
        finally:
            novel.unpersist()

    return idempotent_foreach_batch(apply, os.path.join(digest_dir, "_markers"))


def compact_digest_store(spark, digest_dir: str) -> int:
    """Small-file maintenance for the append-only digest store: merge every
    published batch dir into ONE compacted dir (same recovery rule as the
    rest of the store — staging is invisible until renamed). Returns the
    number of source dirs retired.

    Crash contract: the compacted dir is renamed into place BEFORE the
    covered dirs are deleted, so a crash mid-cleanup leaves some digests
    present twice — harmless for dedup (an anti-join is idempotent in the
    probe side; duplicate store digests change nothing) and healed by the
    next compaction. Batch markers are untouched, so replays of compacted
    batches still short-circuit."""
    files = _store_files(digest_dir)
    if len(files) <= 1:
        return 0
    # sweep compaction's OWN crashed staging only — writer sweeps are
    # query-scoped for the same reason (concurrent writers on a
    # shared store must not delete each other's in-flight staging)
    for f in storefs.listdir(digest_dir):
        if f.startswith("_staging-compact-"):
            storefs.rmtree(os.path.join(digest_dir, f), ignore_errors=True)
    staging = os.path.join(digest_dir, f"_staging-compact-{uuid.uuid4().hex}")
    (
        spark.read.schema(STORE_SCHEMA)
        .parquet(*files)
        .distinct()
        .write.mode("overwrite")
        .parquet(staging)
    )
    final = os.path.join(
        digest_dir, f"compacted-{uuid.uuid4().hex[:8]}.parquet"
    )
    storefs.publish_rename(staging, final)
    for f in files:
        storefs.rmtree(f, ignore_errors=True)
    return len(files)
