"""The ``logstore`` Python DataSource: batch + micro-batch-streaming reads and
batch + streaming writes over the sharded parquet logstore backend.

This is the engine's rebuild of the reference connector's whole surface
(SURVEY.md §2.1): per-shard partition planning (S1-S3), offset sentinels and
range validation (O1/O7/O8), maxOffsetsPerTrigger rate limiting with
whole-bucket granularity (O2), new-shard late binding (O6), row
materialization with the default 8-column schema or a user schema + converter
battery (P1-P5, P7), and the KV-flattening writer with save-mode validation
(S5-S8, P6). Spark's checkpoint/offset log replaces the reference's
ZK/HDFSMetadataLog machinery (SURVEY.md §7.1).

Options (case-insensitive):
    path                  store directory (required)
    logProject/logStore   envelope names (default: derived from path)
    startingOffsets       'earliest' | 'latest' | offset JSON
                          (batch default: earliest; stream default: latest)
    endingOffsets         'latest' | offset JSON (batch only)
    maxOffsetsPerTrigger  per-trigger record cap (stream; default 65536 as in
                          SQL/LoghubSource.scala:50-51)
    shards                shard count for writes (default 2, like the
                          reference's 2-shard test stores)
    topic/source          envelope values for writes
    timeColumn            column supplying event time on writes (unix secs or
                          timestamp); default: wall clock
    hashKeyColumn         route rows to shards by hash of this column
                          (S15 WithHashKey); default: task partition id
"""

from __future__ import annotations

import os
import time as _time
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import IntegerType, LongType, StructType, TimestampNTZType, TimestampType

from spark_streaming_logservice_spark import offsets as off
from spark_streaming_logservice_spark import schema as sch
from spark_streaming_logservice_spark.sources import store_backend as be

DEFAULT_MAX_OFFSETS_PER_TRIGGER = 64 * 1024  # SQL/LoghubSource.scala:50-51


@dataclass
class ShardRange(InputPartition):
    shard: int
    start_seq: int
    end_seq: int


def _names(options) -> tuple[str, str, str]:
    path = options.get("path")
    if not path:
        raise ValueError("option 'path' is required for the logstore source")
    project = options.get("logproject") or os.path.basename(os.path.dirname(path.rstrip("/"))) or "project"
    store = options.get("logstore") or os.path.basename(path.rstrip("/")) or "store"
    return path, project, store


def _starting_times(options, path: str, project: str, store: str, default: int) -> dict[int, int]:
    """Resolve startingOffsets into {shard: cursorTime-or-sentinel}."""
    return _offsets_option(options.get("startingoffsets"), path, project, store, default)


def _ending_times(options, path: str, project: str, store: str) -> dict[int, int]:
    return _offsets_option(options.get("endingoffsets"), path, project, store, off.LATEST)


def _offsets_option(raw, path: str, project: str, store: str, default: int) -> dict[int, int]:
    shards = be.list_shards(path)
    if raw is None or raw.strip().lower() in ("", "earliest", "latest"):
        val = default
        if raw is not None:
            s = raw.strip().lower()
            if s == "earliest":
                val = off.EARLIEST
            elif s == "latest":
                val = off.LATEST
        return {sh: val for sh in shards}
    parsed = off.parse_offset_json(raw)
    key = (project, store)
    if key not in parsed:
        if len(parsed) == 1:
            key = next(iter(parsed))
        else:
            raise ValueError(
                f"offset JSON has no entry for store {project}#{store}: {raw!r}"
            )
    per_shard = parsed[key]
    return {sh: per_shard.get(sh, default) for sh in shards}


def _resolve_seq(path: str, shard: int, cursor_time: int) -> int:
    """cursorTime/sentinel → seq (GetCursor semantics)."""
    if cursor_time == off.EARLIEST:
        return be.shard_bounds(path, shard)[0]
    if cursor_time == off.LATEST:
        return be.shard_bounds(path, shard)[1]
    return be.seq_for_time(path, shard, cursor_time)


def _arrow_type(dtype):
    """Spark field type → the Arrow type the Python DataSource Arrow path
    expects (TimestampType carries tz=UTC; NTZ is naive)."""
    import pyarrow as pa
    from pyspark.sql import types as T

    if isinstance(dtype, T.ByteType):
        return pa.int8()
    if isinstance(dtype, T.ShortType):
        return pa.int16()
    if isinstance(dtype, T.IntegerType):
        return pa.int32()
    if isinstance(dtype, T.LongType):
        return pa.int64()
    if isinstance(dtype, T.FloatType):
        return pa.float32()
    if isinstance(dtype, T.DoubleType):
        return pa.float64()
    if isinstance(dtype, T.BooleanType):
        return pa.bool_()
    if isinstance(dtype, T.StringType):
        return pa.string()
    if isinstance(dtype, T.DecimalType):
        return pa.decimal128(dtype.precision, dtype.scale)
    if isinstance(dtype, T.TimestampNTZType):
        return pa.timestamp("us")
    if isinstance(dtype, T.TimestampType):
        return pa.timestamp("us", tz="UTC")
    if isinstance(dtype, T.DateType):
        return pa.date32()
    raise TypeError(f"unsupported field type for log record: {dtype}")


class _BatchProjector:
    """Vectorized ingest projection: backend Arrow batches → Arrow batches of
    the target schema, all via Arrow compute kernels (no per-row Python).

    Semantics mirror the reference's ingest projection
    (SQL/LoghubSourceRDD.scala:178-223) and converter battery
    (SQL/Utils.scala:101-164): fields matched by name to content keys,
    ``__tag__:k`` to tags, special names to the envelope; missing keys →
    null, unknown record keys dropped, null in a non-nullable field → error.
    The one column that still touches Python is the default schema's
    ``__value__`` JSON packing (string-escape rules live in ``json``); it is
    batch-looped over ``to_pylist`` output, not row-materialized."""

    def __init__(self, schema: StructType, project: str, store: str) -> None:
        self.fields = schema.fields
        self.project = project
        self.store = store
        self.out_schema = None  # built lazily (pyarrow import on executor)

    def _convert_str_array(self, arr, f):
        """String array → target-type array per the converter battery."""
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark.sql import types as T

        if not f.nullable and arr.null_count:
            raise ValueError(f"null value for non-nullable field {f.name!r}")
        dt = f.dataType
        at = _arrow_type(dt)
        if isinstance(dt, T.StringType):
            return arr
        if isinstance(dt, T.BooleanType):
            low = pc.utf8_lower(arr)
            is_t = pc.equal(low, "true")
            is_f = pc.equal(low, "false")
            bad = pc.filter(arr, pc.invert(pc.or_kleene(is_t, is_f)).fill_null(False))
            if len(bad):
                raise ValueError(f"invalid boolean string {bad[0].as_py()!r}")
            return is_t
        if isinstance(dt, T.DecimalType):
            # Decimal strips thousands separators (SQL/Utils.scala:118-123).
            return pc.cast(pc.replace_substring(arr, ",", ""), at)
        if isinstance(dt, T.TimestampType):
            return pc.assume_timezone(pc.cast(arr, pa.timestamp("us")), "UTC")
        return pc.cast(arr, at)

    def __call__(self, batch, shard: int):
        import pyarrow as pa
        import pyarrow.compute as pc

        n = batch.num_rows
        seq = batch.column("seq")
        time = batch.column("time")
        contents = batch.column("contents")
        tags = batch.column("tags")
        cols = []
        for f in self.fields:
            name = f.name
            at = _arrow_type(f.dataType)
            if name in (sch.LOG_PROJECT, sch.USER_PROJECT):
                col = pa.repeat(pa.scalar(self.project, pa.string()), n).cast(at)
            elif name in (sch.LOG_STORE, sch.USER_STORE):
                col = pa.repeat(pa.scalar(self.store, pa.string()), n).cast(at)
            elif name == sch.SHARD:
                v = shard if isinstance(f.dataType, (IntegerType, LongType)) else str(shard)
                col = pa.repeat(pa.scalar(v).cast(at), n)
            elif name == sch.TIME:
                if isinstance(f.dataType, (TimestampType, TimestampNTZType)):
                    us = pc.multiply(time, pa.scalar(1_000_000, pa.int64()))
                    col = us.cast(pa.timestamp("us")).cast(at)
                else:
                    col = self._convert_str_array(pc.cast(time, pa.string()), f)
            elif name == sch.TOPIC:
                col = self._convert_str_array(batch.column("topic"), f)
            elif name == sch.SOURCE:
                col = self._convert_str_array(batch.column("source"), f)
            elif name == sch.SEQUENCE_NUMBER:
                joined = pc.binary_join_element_wise(
                    pc.cast(time, pa.string()), pc.cast(seq, pa.string()), "-"
                )
                col = self._convert_str_array(joined, f)
            elif name == sch.VALUE:
                # Arrow string kernels end to end; only rows whose payload
                # needs JSON escaping drop to the scalar packer (schema.py).
                col = self._convert_str_array(
                    sch.pack_value_json_arrow(contents, tags), f
                )
            elif name.startswith(sch.TAG_PREFIX):
                key = name[len(sch.TAG_PREFIX):]
                col = self._convert_str_array(
                    pc.map_lookup(tags, pa.scalar(key, pa.string()), "first"), f
                )
            else:
                col = self._convert_str_array(
                    pc.map_lookup(contents, pa.scalar(name, pa.string()), "first"), f
                )
            cols.append(col)
        return pa.RecordBatch.from_arrays(
            [c.combine_chunks() if isinstance(c, pa.ChunkedArray) else c for c in cols],
            names=[f.name for f in self.fields],
        )


class LogstoreBatchReader(DataSourceReader):
    """Bounded scan over [startingOffsets, endingOffsets] — the rebuild of
    LoghubRelation.buildScan (SQL/LoghubRelation.scala:27-100) plus the batch
    RDD's intra-shard parallelism (BATCH/LoghubBatchRDD.scala:40-108):
    ``parallelismInShard`` (1..5, like the reference) splits each shard's seq
    range into row-balanced slices from footer stats, so a hot shard is not a
    single straggler task. Sentinels resolve at planning time."""

    def __init__(self, schema: StructType, options) -> None:
        self.path, self.project, self.store = _names(options)
        self.schema = schema
        self._par = int(options.get("parallelisminshard", "1"))
        if not 1 <= self._par <= 5:
            raise ValueError(
                "Parallelism in each shard should not be less than 1 or larger than 5."
            )
        # Validate options eagerly (bad offsets fail at load()), but resolve
        # sentinel cursors lazily in partitions(): a re-used DataFrame then
        # re-reads data appended between actions, matching the reference
        # relation's per-action buildScan (TEST/LoghubRelationSuite re-use
        # scenario) — if Spark caches the planned partitions, the snapshot is
        # simply the first action's, which is also valid relation semantics.
        self._start_t = _starting_times(
            options, self.path, self.project, self.store, off.EARLIEST
        )
        self._end_t = _ending_times(options, self.path, self.project, self.store)
        off.validate_batch_range(self._start_t, self._end_t)

    def partitions(self):
        ranges = []
        for shard in be.list_shards(self.path):
            start = self._start_t.get(shard, off.EARLIEST)
            end = self._end_t.get(shard, off.LATEST)
            s = _resolve_seq(self.path, shard, start)
            e = _resolve_seq(self.path, shard, end)
            if e > s:
                for cs, ce in be.slice_ranges(self.path, shard, s, e, self._par):
                    if ce > cs:
                        ranges.append(ShardRange(shard, cs, ce))
        return ranges or [ShardRange(-1, 0, 0)]

    def read(self, partition: ShardRange):
        if partition.shard < 0:
            return
        proj = _BatchProjector(self.schema, self.project, self.store)
        for batch in be.read_batches(
            self.path, partition.shard, partition.start_seq, partition.end_seq
        ):
            yield proj(batch, partition.shard)


class LogstoreStreamReader(DataSourceStreamReader):
    """Micro-batch source — the rebuild of LoghubSource
    (SQL/LoghubSource.scala:40-244): per-shard offsets, maxOffsetsPerTrigger
    rate limiting at whole-second-bucket granularity (O2), new shards bind at
    earliest (O6). Offset durability comes from Spark's checkpoint log."""

    def __init__(self, schema: StructType, options) -> None:
        self.path, self.project, self.store = _names(options)
        self.schema = schema
        self.max_per_trigger = int(
            options.get("maxoffsetspertrigger", DEFAULT_MAX_OFFSETS_PER_TRIGGER)
        )
        self._par = int(options.get("parallelisminshard", "1"))
        if not 1 <= self._par <= 5:
            raise ValueError(
                "Parallelism in each shard should not be less than 1 or larger than 5."
            )
        self._start_times = _starting_times(
            options, self.path, self.project, self.store, off.LATEST
        )
        self._last_end: dict[int, int] | None = None

    def initialOffset(self) -> dict:
        seqs = {
            shard: _resolve_seq(self.path, shard, t)
            for shard, t in self._start_times.items()
        }
        return off.StreamOffset(seqs).to_dict()

    def _refresh_config(self) -> None:
        """Dynamic config hot reload (O12): the reference live-updates
        maxOffsetsPerTrigger from a ZK-watched JSON
        (SQL/DynamicConfigManager.scala:30-120, SQL/LoghubSource.scala:
        160-235); here the watched config is ``<path>/_config/options.json``
        re-read each trigger — same contract, no coordination service."""
        import json as _json

        cfg_path = os.path.join(self.path, "_config", "options.json")
        try:
            with open(cfg_path) as f:
                cfg = _json.load(f)
        except (FileNotFoundError, ValueError):
            return
        cap = cfg.get("maxOffsetsPerTrigger")
        if isinstance(cap, int) and cap > 0:
            self.max_per_trigger = cap

    def _advance(self, seqs: dict[int, int]) -> None:
        """Monotonically learn shard positions. After a restart Spark replays
        from its own offset log without telling the reader where it is; every
        partitions()/commit() call reveals the true position, and latestOffset
        must never fall behind it (cursor-rollback guard,
        DS/ShardUtils.scala:13-17 — enforced here by construction)."""
        cur = dict(self._last_end or {})
        for sh, sq in seqs.items():
            cur[sh] = max(cur.get(sh, 0), sq)
        self._last_end = cur

    # Reference fast path: when the consumer lags the head by <60s, skip the
    # histogram walk and jump to latest (SQL/LoghubOffsetReader.scala:181-186).
    FAST_PATH_LAG_S = 60

    def latestOffset(self) -> dict:
        self._refresh_config()
        shards = be.list_shards(self.path)
        base = self._last_end or off.StreamOffset.from_dict(self.initialOffset()).shard_seqs
        now = int(_time.time())
        out: dict[int, int] = {}
        lagging: dict[int, int] = {}  # shard → start seq
        for shard in shards:
            start = base.get(shard, be.shard_bounds(self.path, shard)[0])
            next_time = be.time_for_seq(self.path, shard, start)
            if next_time is not None and now - next_time < self.FAST_PATH_LAG_S:
                out[shard] = be.shard_bounds(self.path, shard)[1]
                continue
            lagging[shard] = start
        if lagging:
            # The full maxOffsetsPerTrigger budget is spent GLOBALLY via one
            # merged min-time histogram walk (SQL/LoghubSource.scala:122,
            # LoghubOffsetReader.scala:155-220) — a hot shard draws the whole
            # remaining budget instead of cap/n_shards, and idle shards don't
            # strand their slice of the quota. Whole-second-bucket
            # granularity is preserved (may overshoot by one bucket).
            hists = {
                sh: be.second_histogram(self.path, sh, st, self.max_per_trigger)
                for sh, st in lagging.items()
            }
            bucket_totals: dict[int, int] = {}
            for h in hists.values():
                for sec, cnt in h:
                    bucket_totals[sec] = bucket_totals.get(sec, 0) + cnt
            total = 0
            last_sec = None
            for sec in sorted(bucket_totals):
                total += bucket_totals[sec]
                last_sec = sec
                if total >= self.max_per_trigger:
                    break
            for sh, st in lagging.items():
                if last_sec is None or not hists[sh]:
                    out[sh] = st
                    continue
                # The walk allocates whole buckets; each shard then advances
                # past exactly its allocated ROW COUNT in seq order
                # (nth_seq). A time-cut boundary can deadlock at the cursor
                # when event times interleave non-monotonically with seqs;
                # counting rows guarantees progress whenever any unread row
                # exists, and equals the time cut on time-ordered data.
                n_sh = sum(cnt for sec, cnt in hists[sh] if sec <= last_sec)
                out[sh] = be.nth_seq(self.path, sh, st, n_sh) if n_sh else st
        self._advance(out)
        return off.StreamOffset(dict(self._last_end)).to_dict()

    def partitions(self, start: dict, end: dict):
        s = off.StreamOffset.from_dict(start).shard_seqs
        e = off.StreamOffset.from_dict(end).shard_seqs
        # Learn the real position from Spark's offset log (restart replay may
        # be ahead of this fresh reader instance's notion of progress).
        self._advance(s)
        self._advance(e)
        # parallelismInShard applies to micro-batches too: a catch-up batch
        # (large cap, or Long.MaxValue) over a hot shard splits into
        # row-balanced slices instead of one straggler task. Steady-state
        # rate-limited batches are small and stay 1 slice.
        ranges = [
            ShardRange(sh, cs, ce)
            for sh in sorted(e)
            if e[sh] > s.get(sh, 0)
            for cs, ce in be.slice_ranges(self.path, sh, s.get(sh, 0), e[sh], self._par)
            if ce > cs
        ]
        return ranges or [ShardRange(-1, 0, 0)]

    def read(self, partition: ShardRange):
        if partition.shard < 0:
            return
        proj = _BatchProjector(self.schema, self.project, self.store)
        for batch in be.read_batches(
            self.path, partition.shard, partition.start_seq, partition.end_seq
        ):
            yield proj(batch, partition.shard)

    def commit(self, end: dict) -> None:
        # Spark's commit log is the source of truth; we only fold the
        # committed position into the rate-limit base.
        self._advance(off.StreamOffset.from_dict(end).shard_seqs)


@dataclass
class _WriteResult(WriterCommitMessage):
    rows: int
    staged: list[str]


# Per-process monotonic seq-range allocator in the millisecond domain: a
# write() call takes [start, start+n) where start = max(wall_ms + jitter,
# previous top) — same-process ranges can never overlap, even across a
# backwards wall-clock step (NTP). The random jitter decorrelates
# freshly-forked workers. Cross-process uniqueness comes from the partition
# id (within a job) and the salt (across jobs) in the low bits.
_SEQ_LOCK = __import__("threading").Lock()
_SEQ_JITTER = int.from_bytes(os.urandom(2), "big")
_SEQ_NEXT = [0]


def _seq_range(n: int) -> int:
    with _SEQ_LOCK:
        start = max(int(_time.time() * 1_000) + _SEQ_JITTER, _SEQ_NEXT[0])
        _SEQ_NEXT[0] = start + n
        return start


def stable_shard(key: str, n_shards: int) -> int:
    """Deterministic key→shard routing (S15 WithHashKey,
    DS/writer/writer.scala:24-40): md5-based so the same key lands on the
    same shard across executor processes, restarts, and PYTHONHASHSEED
    values (Python's builtin ``hash`` is none of those)."""
    import hashlib

    return int.from_bytes(hashlib.md5(key.encode("utf-8")).digest()[:8], "big") % n_shards


class LogstoreBatchWriter(DataSourceArrowWriter):
    """Row→KV flattening writer (S6/S7): each typed row becomes a contents
    map of string key/values per the sink converter (SQL/Utils.scala:53-99);
    Overwrite is rejected like the reference's CreatableRelationProvider
    (SQL/LoghubSourceProvider.scala:147-176 allows Append/ErrorIfExists only).

    Arrow path: tasks receive ``pyarrow.RecordBatch``es and no row becomes a
    Python object. Flattening to wire strings runs as Arrow casts. Routing
    hashes each distinct ``hashKeyColumn`` value once per batch and gathers
    the shard ids back to rows (``pc.unique`` + ``pc.index_in``). One stable
    argsort groups rows by shard, and the contents map is an Arrow ``take``
    over the field-major concatenation of the wire columns, filtered by
    validity. The one scalar loop kept on purpose is float/decimal
    formatting: the wire format is Python/Java ``repr`` (``"3.0"``), where
    Arrow's cast prints ``"3"`` — format parity beats vectorization there.

    Two-phase write: tasks stage parquet under ``_staging/<write_id>/``;
    driver-side commit() atomically renames exactly the staged files named in
    the commit messages into the shard dirs, so failed attempts and aborted
    jobs never become visible (the never-visible-before-commit contract of
    SINK/LoghubSink.scala:24-39)."""

    def __init__(self, schema: StructType, options, overwrite: bool) -> None:
        if overwrite:
            raise ValueError(
                "Save mode 'Overwrite' is not supported by the logstore sink; "
                "use Append (reference forbids Overwrite/Ignore)"
            )
        self.path, self.project, self.store = _names(options)
        self.schema = schema
        self.n_shards = int(options.get("shards", "2"))
        self.topic = options.get("topic", "")
        self.source = options.get("source", "")
        self.time_col = options.get("timecolumn")
        self.hash_col = options.get("hashkeycolumn")
        # Shared by all tasks of this write (instance pickles to executors).
        import uuid as _uuid

        self.write_id = _uuid.uuid4().hex

    def _wire_column(self, col, f) -> "object":
        """Typed Arrow column → wire string column per flatten_value
        semantics (SQL/Utils.scala:53-99)."""
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark.sql import types as T

        dt = f.dataType
        if isinstance(dt, sch._UNSUPPORTED_SINK_TYPES):
            raise TypeError(
                f"Unsupported type for logstore sink field {f.name!r}: "
                f"{dt.simpleString()} (binary/array/map/nested-struct cannot "
                "be flattened to key/value)"
            )
        if isinstance(dt, T.StringType):
            return pc.cast(col, pa.string())  # large/view string → wire type
        if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
            # repr-format parity with the row path (see class docstring)
            return pa.array(
                [None if v is None else repr(float(v)) for v in col.to_pylist()],
                pa.string(),
            )
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            ms = pc.divide(pc.cast(col, pa.int64()), 1000)  # µs → epoch ms
            return pc.cast(ms, pa.string())
        if isinstance(dt, T.DateType):
            days = pc.cast(col, pa.int32())
            return pc.cast(pc.multiply(pc.cast(days, pa.int64()), 86_400_000), pa.string())
        return pc.cast(col, pa.string())  # ints, bools ('true'/'false')

    def write(self, iterator) -> _WriteResult:
        import os as _os

        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        # Unique, time-ordered seqs: (alloc_ms << 21) | pid10 | salt11, where
        # alloc_ms comes from the monotonic _seq_range allocator — same-
        # process write() calls are collision-free regardless of wall-clock
        # behavior (including backwards steps), so low-bit collisions only
        # matter across processes. There, three independent factors have to
        # line up: the per-process 16-bit allocator jitter must align the ms
        # ranges, pid10 must match, and the salt must match. The salt mixes
        # os.getpid(), 8 bytes of urandom and the aliased high partition
        # bits (pid >= 1024 wraps pid10), so same-host processes and
        # partition aliases draw decorrelated salts even under a weak
        # entropy pool — joint collision odds ~2^-27 per overlapping row
        # pair. Shift 21 keeps the int64 headroom to ~year 2109.
        import hashlib as _hashlib

        salt_src = _hashlib.md5(
            b"%d:%d:" % (_os.getpid(), pid >> 10) + _os.urandom(8)
        ).digest()
        salt = int.from_bytes(salt_src[:2], "big") & 0x7FF
        low21 = ((pid & 0x3FF) << 11) | salt
        fields = self.schema.fields
        names = pa.array([f.name for f in fields], pa.string())
        empty = pa.array([], pa.string())
        staged: list[str] = []
        total = 0
        for batch in iterator:
            n = batch.num_rows
            if n == 0:
                continue
            cols = [
                self._wire_column(batch.column(f.name), f) for f in fields
            ]
            # event time per row
            if self.time_col is not None and self.time_col in batch.column_names:
                f_t = next(f for f in fields if f.name == self.time_col)
                raw = batch.column(self.time_col)
                if isinstance(f_t.dataType, (TimestampType, TimestampNTZType)):
                    t_arr = pc.divide(pc.cast(raw, pa.int64()), 1_000_000)
                else:
                    t_arr = pc.cast(raw, pa.int64())
                times = t_arr.to_numpy(zero_copy_only=False)
                now = int(_time.time())
                times = np.where(np.isnan(times.astype("float64")), now, times).astype(
                    "int64"
                )
            else:
                times = np.full(n, int(_time.time()), dtype="int64")
            # shard routing: one md5 per distinct key, gathered back to rows;
            # a null key routes as str(None) == "None"
            if self.hash_col is not None:
                keys = pc.cast(batch.column(self.hash_col), pa.string())
                distinct = pc.unique(keys)
                key_shard = np.array(
                    [stable_shard(str(k), self.n_shards) for k in distinct.to_pylist()],
                    dtype="int64",
                )
                shards = key_shard[
                    pc.index_in(keys, value_set=distinct).to_numpy(zero_copy_only=False)
                ]
            else:
                shards = np.full(n, pid % self.n_shards, dtype="int64")
            seqs = (
                (_seq_range(n) + np.arange(n, dtype="int64")) << 21
            ) | low21
            # contents map: rows grouped by shard (stable, so row order holds
            # within a shard); entry (row i, field j) sits at j*n + i of the
            # field-major concatenation of the wire columns, kept when valid
            order = np.argsort(shards, kind="stable")
            valid = np.stack(
                [pc.is_valid(c).to_numpy(zero_copy_only=False) for c in cols], axis=1
            )[order]
            offsets = np.zeros(n + 1, dtype="int32")
            np.cumsum(valid.sum(axis=1), out=offsets[1:])
            contents = pa.MapArray.from_arrays(
                pa.array(offsets, pa.int32()),
                names.take(np.nonzero(valid)[1]),
                pa.concat_arrays(cols).take((np.arange(len(fields)) * n + order[:, None])[valid]),
            )
            tbl = pa.table(
                {
                    "seq": pa.array(seqs[order], pa.int64()),
                    "time": pa.array(times[order], pa.int64()),
                    "topic": pa.array([self.topic] * n, pa.string()),
                    "source": pa.array([self.source] * n, pa.string()),
                    "contents": contents,
                    "tags": pa.MapArray.from_arrays(
                        pa.array(np.zeros(n + 1, dtype="int32"), pa.int32()), empty, empty
                    ),
                },
                schema=be.STORE_ARROW_SCHEMA,
            )
            by_shard = shards[order]
            starts = np.flatnonzero(np.diff(by_shard, prepend=-1))
            for start, stop in zip(starts, np.append(starts[1:], n)):
                part = tbl.slice(start, stop - start)
                staged.append(be.stage_table(self.path, self.write_id, int(by_shard[start]), part))
            total += n
        return _WriteResult(rows=total, staged=staged)

    def commit(self, messages) -> None:
        be.publish_staged(self.path, _staged_paths(messages))
        be.discard_staged(self.path, self.write_id)

    def abort(self, messages) -> None:
        be.discard_staged(self.path, self.write_id)


def _staged_paths(messages) -> list[str]:
    return [p for m in messages if m is not None for p in m.staged]


def _write_ids(staged: list[str]) -> set[str]:
    """Write ids named by staged paths (``<write_id>/<file>``)."""
    return {p.split("/", 1)[0] for p in staged}


class LogstoreStreamWriter(LogstoreBatchWriter, DataSourceStreamArrowWriter):
    """Streaming sink with the reference's idempotent batch guard
    (SINK/LoghubSink.scala:24-39), hardened per SURVEY §7.4.5: the
    last-committed batchId persists in ``_commits/`` so re-delivery after
    restart is detected across driver processes, not just per sink instance.
    Spark builds a fresh writer for every commit/abort, so ``self.write_id``
    there is not the tasks' id: staging is swept by the write ids that the
    commit messages' staged paths name. Because tasks only stage (never
    publish), a redelivered batch is dropped wholesale in commit() — zero duplicate rows, and task retries within a
    batch are absorbed by publish-only-what-committed."""

    def __init__(self, schema: StructType, options, overwrite: bool) -> None:
        LogstoreBatchWriter.__init__(self, schema, options, overwrite)
        self.commits_dir = os.path.join(self.path, "_commits")
        # batchIds are scoped to ONE streaming query's checkpoint lineage;
        # two distinct queries appending to the same store both start at
        # batch 0, so a marker keyed by batchId alone would make query B
        # mistake query A's batch 0 for its own redelivery (and replay A's
        # manifest while silently dropping B's staged rows). Namespace the
        # marker by query identity — the checkpoint location (Spark passes
        # it in the writer options) is exactly the scope batchIds live in.
        # Direct construction without one keeps the bare name (single-query
        # stores, and every pre-existing store layout, read back unchanged).
        import hashlib as _hashlib

        qid = options.get("checkpointlocation") or options.get("queryname")
        self._marker_ns = (
            _hashlib.md5(qid.encode("utf-8")).hexdigest()[:10] + "-" if qid else ""
        )

    def _marker_path(self, batch_id: int) -> str:
        return os.path.join(self.commits_dir, f"batch-{self._marker_ns}{batch_id}")

    def committed_batch(self, batch_id: int) -> bool:
        return os.path.exists(self._marker_path(batch_id))

    def commit(self, messages, batchId: int) -> None:  # noqa: N803
        """Exactly-once across every crash window: the marker is a MANIFEST
        (the staged file list), written atomically BEFORE publishing. The
        marker is the commit point — a crash before it leaves only invisible
        staging (redelivery publishes a fresh copy); a crash after it, mid-
        publish, is completed idempotently on redelivery by replaying the
        manifest with already-moved files skipped. The reference's guard
        (LoghubSink.scala:31-38) only skips the happy redelivery path; the
        manifest also closes its publish-then-crash duplicate window."""
        import json as _json

        marker = self._marker_path(batchId)
        if self.committed_batch(batchId):
            # Redelivery: COMPLETE the recorded publish (no-op when the first
            # delivery finished). replay_staged distinguishes already-moved
            # (destination exists → skip) from genuinely lost (neither side
            # exists → raise) — a lost manifest entry must fail loudly, not
            # silently commit a partial batch. Then sweep the original
            # delivery's staging dirs and this one's.
            with open(marker) as f:
                manifest = _json.load(f)
            staged = manifest.get("staged", [])
            be.replay_staged(self.path, staged)
            for wid in _write_ids(staged + _staged_paths(messages)):
                be.discard_staged(self.path, wid)
            return
        staged = _staged_paths(messages)
        os.makedirs(self.commits_dir, exist_ok=True)
        tmp = marker + ".tmp"
        with open(tmp, "w") as f:
            _json.dump(
                {
                    "rows": sum(m.rows for m in messages if m is not None),
                    "staged": staged,
                },
                f,
            )
        os.replace(tmp, marker)  # commit point
        # First publish is STRICT: a staged file missing here means lost
        # rows, and the batch must fail (and retry) loudly, not silently
        # commit a partial publish. Only the replay path skips moved files.
        be.publish_staged(self.path, staged)
        for wid in _write_ids(staged):
            be.discard_staged(self.path, wid)

    def abort(self, messages, batchId: int) -> None:  # noqa: N803
        # Staging must survive ONLY when this attempt's files are promised by
        # the batch's manifest (marker written, publish failed — they are
        # the rows' only copy, and redelivery replays them). Any other
        # failed attempt — including a failed redelivery of an already-
        # committed batch, whose manifest names a different write_id —
        # sweeps its staging, or it would leak forever.
        import json as _json

        wids = _write_ids(_staged_paths(messages))
        marker = self._marker_path(batchId)
        keep = False
        if os.path.exists(marker):
            try:
                with open(marker) as f:
                    manifest = _json.load(f)
                keep = bool(wids & _write_ids(manifest.get("staged", [])))
            except (OSError, ValueError):
                keep = True  # unreadable manifest: keep staging, stay safe
        if not keep:
            for wid in wids:
                be.discard_staged(self.path, wid)


class LogstoreDataSource(DataSource):
    """``spark.read/readStream/write/writeStream.format("logstore")``."""

    @classmethod
    def name(cls) -> str:
        return "logstore"

    def schema(self):
        return sch.DEFAULT_SCHEMA

    def reader(self, schema: StructType) -> LogstoreBatchReader:
        return LogstoreBatchReader(schema, self.options)

    def streamReader(self, schema: StructType) -> LogstoreStreamReader:
        return LogstoreStreamReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool) -> LogstoreBatchWriter:
        return LogstoreBatchWriter(schema, self.options, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool) -> LogstoreStreamWriter:
        return LogstoreStreamWriter(schema, self.options, overwrite)


def register(spark) -> None:
    """Register the 'logstore' format on a session (idempotent)."""
    spark.dataSource.register(LogstoreDataSource)
