"""Parquet-backed sharded logstore: the storage stand-in for the reference's
cloud logstore (SURVEY.md §7.1 "Storage stand-in").

Layout: ``<path>/shard=<N>/part-*.parquet`` with columns
``seq int64, time int64 (unix sec), topic str, source str,
contents map<str,str>, tags map<str,str>``. ``seq`` is the per-shard cursor
(monotonic, not necessarily dense); a position in a shard is a seq value, and
offset ranges are half-open ``[start_seq, end_seq)`` — mirroring the
reference's cursor-addressed shards (SQL/LoghubShard.scala:19,
SQL/LoghubSourceOffset.scala:30).

Everything here is driver- or executor-side *Python* on pyarrow. That's the
right layer for a source connector: partition planning reads only footer
stats/columns, while data movement stays Arrow-batched. At 100 TB the same
layout maps 1:1 onto object-store prefixes per shard.
"""

from __future__ import annotations

import os
import re
import threading
import uuid
from collections import OrderedDict

import pyarrow as pa
import pyarrow.dataset as pa_ds
import pyarrow.parquet as pq

_SHARD_RE = re.compile(r"^shard=(\d+)$")

STORE_ARROW_SCHEMA = pa.schema(
    [
        pa.field("seq", pa.int64()),
        pa.field("time", pa.int64()),
        pa.field("topic", pa.string()),
        pa.field("source", pa.string()),
        pa.field("contents", pa.map_(pa.string(), pa.string())),
        pa.field("tags", pa.map_(pa.string(), pa.string())),
    ]
)


def shard_dir(path: str, shard: int) -> str:
    return os.path.join(path, f"shard={shard}")


def list_shards(path: str) -> list[int]:
    if not os.path.isdir(path):
        raise FileNotFoundError(f"logstore path does not exist: {path}")
    out = []
    for name in os.listdir(path):
        m = _SHARD_RE.match(name)
        if m and os.path.isdir(os.path.join(path, name)):
            out.append(int(m.group(1)))
    return sorted(out)


def _shard_dataset(path: str, shard: int) -> pa_ds.Dataset | None:
    d = shard_dir(path, shard)
    if not os.path.isdir(d):
        return None
    files = [os.path.join(d, f) for f in sorted(os.listdir(d)) if f.endswith(".parquet")]
    if not files:
        return None
    return pa_ds.dataset(files, schema=STORE_ARROW_SCHEMA)


def shard_bounds(path: str, shard: int) -> tuple[int, int]:
    """(min_seq, end_seq) where end_seq = max_seq + 1; (0, 0) when empty.

    Derived from the signature-cached footer statistics — no data pages —
    so planning cost is O(files) on change and O(1) otherwise."""
    groups = _row_group_stats2(path, shard)
    if not groups:
        return (0, 0)
    return (min(g[0] for g in groups), max(g[1] for g in groups) + 1)


class _LruCache:
    """Entry-count-bounded LRU map for the driver-side planner caches below.
    ``get``/``put``/``pop`` each hold one lock: a hit's recency update and an
    insert's eviction are read-modify-writes of one shared OrderedDict."""

    def __init__(self, max_entries: int) -> None:
        self.max_entries = max_entries
        self._entries: OrderedDict = OrderedDict()
        self._lock = threading.Lock()

    def __len__(self) -> int:
        return len(self._entries)

    def __contains__(self, key) -> bool:
        return key in self._entries

    def get(self, key):
        with self._lock:
            hit = self._entries.get(key)
            if hit is not None:
                self._entries.move_to_end(key)
            return hit

    def put(self, key, value) -> None:
        with self._lock:
            self._entries[key] = value
            self._entries.move_to_end(key)
            while len(self._entries) > self.max_entries:
                self._entries.popitem(last=False)

    def pop(self, key) -> None:
        with self._lock:
            self._entries.pop(key, None)


# Footer-stats cache: (path, shard) → (signature, stats). latestOffset
# consults stats 3-4 times per lagging shard per trigger; the signature is
# (dir mtime_ns, parquet file count) — the count guards against two
# publishes landing within one filesystem timestamp granule (the store is
# append-only, so a same-tick change always changes the count). Unchanged
# shards cost one stat + one listdir instead of a full footer sweep. An
# entry is a list of per-row-group tuples; the LRU bound caps how many
# (store, shard) pairs one planner process remembers.
_STATS_CACHE = _LruCache(1024)


def _row_group_stats2(path: str, shard: int) -> list[tuple[int, int, int, int, int]]:
    """(seq_min, seq_max, time_min, time_max, rows) per row group — footer
    only, signature-cached. Powers the O(1)-in-lag cursor lookups below."""
    d = shard_dir(path, shard)
    try:
        mtime = os.stat(d).st_mtime_ns
        names = [f for f in os.listdir(d) if f.endswith(".parquet")]
    except FileNotFoundError:
        return []
    sig = (mtime, len(names))
    key = (os.path.abspath(path), shard)
    hit = _STATS_CACHE.get(key)
    if hit is not None and hit[0] == sig:
        return hit[1]
    out = []
    for f in names:
        md = pq.ParquetFile(os.path.join(d, f)).metadata
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            s_st = g.column(0).statistics  # seq
            t_st = g.column(1).statistics  # time
            if s_st is None or not s_st.has_min_max:
                continue  # seq stats are the addressing backbone; unusable
            if t_st is None or not t_st.has_min_max:
                # time stats missing (e.g. externally-written file): keep the
                # group with conservative time bounds — time-based pruning
                # just can't prune it, and shard_bounds/nth_seq stay exact
                t_lo, t_hi = -(2**63), 2**63 - 1
            else:
                t_lo, t_hi = t_st.min, t_st.max
            out.append((s_st.min, s_st.max, t_lo, t_hi, g.num_rows))
    _STATS_CACHE.put(key, (sig, out))
    return out


# Planner cursor-index cache (r15, guide §1.2/§6): latestOffset calls
# time_for_seq + second_histogram + nth_seq per LAGGING shard per TRIGGER,
# each an Arrow data-page scan — measured 40-80 ms of the ~550 ms
# steady-state trigger. For a shard whose total row count is bounded, one
# content-keyed sorted (seq, time) array answers all three as numpy
# searchsorted lookups. The cap keeps this scale-safe: a year-lagging
# 100 TB shard must NOT pin O(lag) driver memory, so above the cap the
# footer-bounded scans below remain the path (identical results — the
# index variants reproduce the exact same row windows, including the
# footer-stats ceiling of the bounded histogram). An entry holds up to
# _SEQ_TIME_CACHE_MAX_ROWS × 16 bytes, so the entry count is bounded too.
_SEQ_TIME_CACHE = _LruCache(256)
_SEQ_TIME_CACHE_MAX_ROWS = 4_000_000


def _seq_time_index(path: str, shard: int):
    """(seqs, times) sorted by seq for the whole shard, or None when the
    shard exceeds ``_SEQ_TIME_CACHE_MAX_ROWS`` (callers fall back to the
    footer-bounded scans). Signature-keyed like ``_row_group_stats2``."""
    key = (os.path.abspath(path), shard)
    groups = _row_group_stats2(path, shard)
    if not groups or sum(g[4] for g in groups) > _SEQ_TIME_CACHE_MAX_ROWS:
        _SEQ_TIME_CACHE.pop(key)  # a shard that outgrew the cap frees its arrays
        return None
    d = shard_dir(path, shard)
    try:
        mtime = os.stat(d).st_mtime_ns
        names = [f for f in os.listdir(d) if f.endswith(".parquet")]
    except FileNotFoundError:
        _SEQ_TIME_CACHE.pop(key)
        return None
    sig = (mtime, len(names))
    hit = _SEQ_TIME_CACHE.get(key)
    if hit is not None and hit[0] == sig:
        return hit[1], hit[2]
    ds = _shard_dataset(path, shard)
    if ds is None:
        return None
    import numpy as np

    tbl = ds.to_table(columns=["seq", "time"])
    seqs = tbl.column("seq").to_numpy(zero_copy_only=False)
    times = tbl.column("time").to_numpy(zero_copy_only=False)
    order = np.argsort(seqs, kind="stable")
    seqs, times = seqs[order], times[order]
    _SEQ_TIME_CACHE.put(key, (sig, seqs, times))
    return seqs, times


def seq_for_time(
    path: str, shard: int, cursor_time: int, min_seq: int = 0
) -> int:
    """Smallest seq >= min_seq whose time >= cursor_time; end_seq if none
    (the reference's GetCursor(fromTime) semantics). ``min_seq`` lets the
    rate walk resolve its end boundary relative to the consumer cursor, so
    already-consumed rows (or backfills behind the cursor) can never pull
    the result backwards.

    Footer stats bound the scan: the answer lives in a row group whose
    time_max >= cursor_time and seq_max >= min_seq, and is <= the smallest
    seq_max among them — only groups overlapping that seq range are read,
    not the whole tail (this runs per trigger on lagging streams)."""
    ds = _shard_dataset(path, shard)
    if ds is None:
        return 0
    base = (pa_ds.field("time") >= cursor_time) & (pa_ds.field("seq") >= min_seq)
    groups = [
        g
        for g in _row_group_stats2(path, shard)
        if g[3] >= cursor_time and g[1] >= min_seq
    ]
    if not groups:
        return shard_bounds(path, shard)[1]
    ceiling = min(g[1] for g in groups)
    tbl = ds.to_table(columns=["seq"], filter=base & (pa_ds.field("seq") <= ceiling))
    if tbl.num_rows == 0:  # stats-only corner: fall back to the exact scan
        tbl = ds.to_table(columns=["seq"], filter=base)
        if tbl.num_rows == 0:
            return shard_bounds(path, shard)[1]
    import pyarrow.compute as pc

    return pc.min(tbl.column("seq")).as_py()


def time_for_seq(path: str, shard: int, seq: int) -> int | None:
    """Event time of the FIRST record at-or-after the seq cursor (None if
    drained) — the stream's lag estimate for the <60s fast path. First by
    seq, not min-time-of-tail: with out-of-order event times a recent
    backfill must not make a lagging shard look caught-up (or vice versa).
    Footer-stats-bounded: the first record lives at seq <= the smallest
    covering seq_max, so only those row groups are read."""
    idx = _seq_time_index(path, shard)
    if idx is not None:
        import numpy as np

        seqs, times = idx
        i = int(np.searchsorted(seqs, seq, side="left"))
        return int(times[i]) if i < len(seqs) else None
    ds = _shard_dataset(path, shard)
    if ds is None:
        return None
    groups = [g for g in _row_group_stats2(path, shard) if g[1] >= seq]
    if not groups:
        return None
    ceiling = min(g[1] for g in groups)
    tbl = ds.to_table(
        columns=["seq", "time"],
        filter=(pa_ds.field("seq") >= seq) & (pa_ds.field("seq") <= ceiling),
    )
    if tbl.num_rows == 0:
        return None
    import pyarrow.compute as pc

    idx = pc.index(tbl.column("seq"), pc.min(tbl.column("seq"))).as_py()
    return tbl.column("time")[idx].as_py()


def nth_seq(path: str, shard: int, from_seq: int, n: int) -> int:
    """Half-open end after the ``n`` smallest seqs >= from_seq; shard end
    when fewer than ``n`` remain. This is the deadlock-free boundary for the
    rate walk: it advances by ROW COUNT in seq order, so progress is
    guaranteed whenever at least one unread row exists — even when event
    times interleave non-monotonically with seqs (where a time-cut boundary
    can sit at the cursor forever). Footer-stats-bounded to O(n) rows."""
    if n <= 0:
        return from_seq
    idx = _seq_time_index(path, shard)
    if idx is not None:
        import numpy as np

        seqs, _times = idx
        i = int(np.searchsorted(seqs, from_seq, side="left"))
        remaining = len(seqs) - i
        if remaining == 0:
            return from_seq
        if remaining < n:
            return shard_bounds(path, shard)[1]
        return int(seqs[i + n - 1]) + 1
    ds = _shard_dataset(path, shard)
    if ds is None:
        return from_seq
    import numpy as np

    filt = pa_ds.field("seq") >= from_seq
    ceiling = _seq_ceiling_for_count(path, shard, from_seq, n)
    if ceiling is not None:
        filt = filt & (pa_ds.field("seq") < ceiling)
    seqs = ds.to_table(columns=["seq"], filter=filt).column("seq").to_numpy(
        zero_copy_only=False
    )
    if ceiling is not None and len(seqs) < n:
        # stats-only corner: the bounded window held fewer rows than promised
        seqs = (
            ds.to_table(columns=["seq"], filter=pa_ds.field("seq") >= from_seq)
            .column("seq")
            .to_numpy(zero_copy_only=False)
        )
    if len(seqs) == 0:
        return from_seq
    if len(seqs) < n:
        return shard_bounds(path, shard)[1]
    # nth order statistic in native code (planning hot path — a catch-up
    # budget can make this millions of values)
    return int(np.partition(seqs, n - 1)[n - 1]) + 1


def _seq_ceiling_for_count(
    path: str, shard: int, from_seq: int, max_records: int
) -> int | None:
    """Footer-stats-only seq upper bound covering ≥ 2×max_records rows past
    ``from_seq`` (the 2× margin absorbs whole-bucket overshoot). None when
    the whole tail is needed. A group straddling the cursor contributes 0 to
    the count (its rows may lie before from_seq) but still extends the
    ceiling — conservative: coverage is never overstated."""
    total = 0
    best = None
    for mn, mx, rows in row_group_stats(path, shard):
        if mx < from_seq:
            continue
        if mn >= from_seq:  # fully past the cursor: rows all count
            total += rows
        best = mx + 1 if best is None else max(best, mx + 1)
        if total >= 2 * max_records:
            return best
    return None


def second_histogram(
    path: str, shard: int, from_seq: int, max_records: int | None = None
) -> list[tuple[int, int]]:
    """Sorted (unix_second, record_count) buckets for records with
    seq >= from_seq — the rate-limit histogram (SQL/LoghubOffsetReader.scala:
    155-220 walks per-time-bucket record counts).

    With ``max_records``, the scan is bounded to O(max_records) via a
    footer-stats seq ceiling instead of O(consumer lag): a stream that is a
    year behind still plans each trigger by reading only ~2× the budget's
    rows of the ``time`` column. When event times are monotone with seqs
    (the writer's normal layout), the rate walk stops at the budget anyway,
    so truncation doesn't change which buckets are included beyond the
    already-permitted one-bucket overshoot. When times and seqs interleave
    out of order, a low-time bucket may be undercounted past the ceiling, so
    the merged walk can pick a slightly different last bucket than an
    unbounded walk would — still safe: offsets advance by row count, never
    past real data, and undercounted rows are simply picked up by the next
    trigger."""
    idx = _seq_time_index(path, shard)
    if idx is not None:
        import numpy as np

        seqs, times = idx
        lo = int(np.searchsorted(seqs, from_seq, side="left"))
        hi = len(seqs)
        if max_records is not None:
            ceiling = _seq_ceiling_for_count(path, shard, from_seq, max_records)
            if ceiling is not None:
                # same footer-stats ceiling as the scan path → identical
                # row window, identical buckets
                hi = int(np.searchsorted(seqs, ceiling, side="left"))
        if lo >= hi:
            return []
        vals, cnts = np.unique(times[lo:hi], return_counts=True)
        return [(int(t), int(c)) for t, c in zip(vals, cnts)]
    ds = _shard_dataset(path, shard)
    if ds is None:
        return []
    filt = pa_ds.field("seq") >= from_seq
    if max_records is not None:
        ceiling = _seq_ceiling_for_count(path, shard, from_seq, max_records)
        if ceiling is not None:
            filt = filt & (pa_ds.field("seq") < ceiling)
    tbl = ds.to_table(columns=["time"], filter=filt)
    if tbl.num_rows == 0:
        return []
    counts = pa.table({"time": tbl.column("time")}).group_by("time").aggregate(
        [("time", "count")]
    )
    pairs = sorted(
        zip(counts.column("time").to_pylist(), counts.column("time_count").to_pylist())
    )
    return [(int(t), int(c)) for t, c in pairs]


def row_group_stats(path: str, shard: int) -> list[tuple[int, int, int]]:
    """(min_seq, max_seq, num_rows) per parquet row group — footer-only
    (seq projection of the cached two-column stats)."""
    return sorted((s, e, n) for s, e, _t0, _t1, n in _row_group_stats2(path, shard))


def slice_ranges(
    path: str, shard: int, start_seq: int, end_seq: int, n_slices: int
) -> list[tuple[int, int]]:
    """Split one shard's [start_seq, end_seq) into up to ``n_slices``
    contiguous half-open sub-ranges — the intra-shard read-parallelism of the
    reference's parallelismInShard (BATCH/LoghubBatchRDD.scala:67-108). The
    reference slices the *time* range evenly; here slice boundaries come from
    parquet row-group footer stats so slices carry ~equal row counts even
    when ingest was bursty — a hot shard stops being a single straggler task.
    Boundaries partition the range exactly, so correctness never depends on
    the stats (a stale footer only skews balance)."""
    if n_slices <= 1:
        return [(start_seq, end_seq)]
    groups = [
        g
        for g in row_group_stats(path, shard)
        if g[1] >= start_seq and g[0] < end_seq
    ]
    total = sum(g[2] for g in groups)
    if total == 0:
        return [(start_seq, end_seq)]
    target = max(1, -(-total // n_slices))  # ceil
    cuts = [start_seq]
    acc = 0
    for mn, _mx, rows in groups:
        if acc >= target and len(cuts) < n_slices and start_seq < mn < end_seq and mn > cuts[-1]:
            cuts.append(mn)
            acc = 0
        acc += rows
    cuts.append(end_seq)
    return [(cuts[i], cuts[i + 1]) for i in range(len(cuts) - 1)]


def read_batches(path: str, shard: int, start_seq: int, end_seq: int):
    """Iterate [start_seq, end_seq) as ``pyarrow.RecordBatch``es in store
    schema — the zero-copy hot path for the DSv2 readers (rows never become
    Python objects; projection happens with Arrow compute per batch)."""
    ds = _shard_dataset(path, shard)
    if ds is None:
        return
    filt = (pa_ds.field("seq") >= start_seq) & (pa_ds.field("seq") < end_seq)
    for batch in ds.to_batches(filter=filt):
        if batch.num_rows:
            yield batch


def read_rows(path: str, shard: int, start_seq: int, end_seq: int):
    """Iterate records of [start_seq, end_seq) as dicts, Arrow-batched
    underneath, in seq order within each batch."""
    ds = _shard_dataset(path, shard)
    if ds is None:
        return
    filt = (pa_ds.field("seq") >= start_seq) & (pa_ds.field("seq") < end_seq)
    for batch in ds.to_batches(filter=filt):
        cols = batch.to_pydict()
        for i in range(batch.num_rows):
            yield {
                "seq": cols["seq"][i],
                "time": cols["time"][i],
                "topic": cols["topic"][i],
                "source": cols["source"][i],
                "contents": dict(cols["contents"][i] or []),
                "tags": dict(cols["tags"][i] or []),
            }


def _rows_table(rows: list[dict], base_seq: int = 0) -> tuple[pa.Table, int]:
    """Build the store-schema Arrow table for a row batch; missing seqs are
    assigned densely from ``base_seq``. Returns (table, new_end_seq)."""
    seqs, times, topics, sources, contents, tags = [], [], [], [], [], []
    nxt = base_seq
    for r in rows:
        seq = r.get("seq")
        if seq is None:
            seq = nxt
        nxt = max(nxt, seq + 1)
        seqs.append(seq)
        times.append(int(r["time"]))
        topics.append(r.get("topic") or "")
        sources.append(r.get("source") or "")
        contents.append(list((r.get("contents") or {}).items()))
        tags.append(list((r.get("tags") or {}).items()))
    tbl = pa.table(
        {
            "seq": pa.array(seqs, pa.int64()),
            "time": pa.array(times, pa.int64()),
            "topic": pa.array(topics, pa.string()),
            "source": pa.array(sources, pa.string()),
            "contents": pa.array(contents, pa.map_(pa.string(), pa.string())),
            "tags": pa.array(tags, pa.map_(pa.string(), pa.string())),
        },
        schema=STORE_ARROW_SCHEMA,
    )
    return tbl, nxt


def append_rows(path: str, shard: int, rows: list[dict]) -> int:
    """Append records (dicts with time/topic/source/contents/tags and
    optionally seq) to a shard as one new parquet file. Missing seqs are
    assigned from the current end_seq. Returns the new end_seq."""
    d = shard_dir(path, shard)
    os.makedirs(d, exist_ok=True)
    tbl, nxt = _rows_table(rows, shard_bounds(path, shard)[1])
    pq.write_table(tbl, os.path.join(d, f"part-{uuid.uuid4().hex}.parquet"))
    return nxt


# ---- two-phase (staged) writes -------------------------------------------
#
# The DSv2 writers stage task output under <path>/_staging/<write_id>/ and
# only the driver-side commit() publishes it into the shard dirs via an
# atomic same-filesystem rename — the rebuild of the reference sink's
# never-visible-before-commit contract (SINK/LoghubSink.scala:24-39). Staged
# files left by failed/aborted attempts are invisible to every reader
# (readers list only shard=N dirs) and are swept by discard_staged().

STAGING_DIR = "_staging"


def stage_table(path: str, write_id: str, shard: int, tbl: pa.Table) -> str:
    """Stage a prebuilt store-schema Arrow table (the Arrow writer's path)."""
    d = os.path.join(path, STAGING_DIR, write_id)
    os.makedirs(d, exist_ok=True)
    name = f"shard={shard}-{uuid.uuid4().hex}.parquet"
    pq.write_table(tbl, os.path.join(d, name))
    return f"{write_id}/{name}"


def _staged_src_dst(path: str, rel: str) -> tuple[str, str]:
    src = os.path.join(path, STAGING_DIR, rel)
    name = os.path.basename(rel)
    shard = int(name.split("-", 1)[0].split("=")[1])
    d = shard_dir(path, shard)
    return src, os.path.join(d, "part-" + name.split("-", 1)[1])


def publish_staged(path: str, staged: list[str]) -> None:
    """Atomically move staged files into their shard directories — STRICT: a
    missing source fails the publish loudly. Only the files named in
    ``staged`` (the successful tasks' commit messages) are published;
    leftovers from failed attempts stay in staging."""
    for rel in staged:
        src, dst = _staged_src_dst(path, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.replace(src, dst)


def replay_staged(path: str, staged: list[str]) -> None:
    """Idempotently COMPLETE a manifest publish after a crash: move each
    still-staged file; a missing source is fine only when its destination
    already exists (the previous attempt moved it). A manifest entry that is
    neither staged nor published means the batch's rows are gone — raise,
    never silently commit a partial publish."""
    for rel in staged:
        src, dst = _staged_src_dst(path, rel)
        if os.path.exists(src):
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.replace(src, dst)
        elif not os.path.exists(dst):
            raise OSError(
                f"manifest entry lost (neither staged nor published): {rel}"
            )


def discard_staged(path: str, write_id: str) -> None:
    """Drop a write's entire staging directory (abort / post-commit sweep)."""
    import shutil

    shutil.rmtree(os.path.join(path, STAGING_DIR, write_id), ignore_errors=True)
