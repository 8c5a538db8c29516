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
right layer for a source connector. There is one way to find rows: footer
statistics, cached per file on its stat identity (published files are
immutable, so a trigger parses only the footers of new files). There is one
way to read them: only the row groups whose footer seq range overlaps the
wanted range — cursor lookups read an O(window) (seq, time) slice, never the
whole shard, and data movement stays Arrow-batched. At 100 TB the same
layout maps 1:1 onto object-store prefixes per shard.
"""

from __future__ import annotations

import os
import re
import threading
import uuid
from collections import OrderedDict

import numpy as np
import pyarrow as pa
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


def shard_bounds(path: str, shard: int) -> tuple[int, int]:
    """(min_seq, end_seq) where end_seq = max_seq + 1; (0, 0) when empty.

    Derived from the per-file cached footer statistics — no data pages —
    so planning cost is one listdir + one stat per file, plus one footer
    parse per file not seen before."""
    groups = _row_group_stats2(path, shard)
    if not groups:
        return (0, 0)
    return (min(g[0] for g in groups), max(g[1] for g in groups) + 1)


class _LruCache:
    """Entry-count-bounded LRU map for the driver-side footer cache below.
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


# Footer-stats cache: one entry per parquet file, keyed on the file's stat
# identity (abspath, inode, mtime_ns, size). Shard files are immutable once
# published, so a trigger parses only the footers of files it has not seen;
# the name alone is not an identity, because compaction rewrites the fixed
# names ``compact-NNNNN.parquet``. An entry is the file's tuple of row-group
# tuples (no FileMetaData is kept); the LRU bound caps how many files one
# planner process remembers.
_FOOTER_CACHE = _LruCache(16384)


def _file_row_groups(f: str) -> tuple:
    """(seq_min, seq_max, time_min, time_max, rows, file, rg) per row group
    of one parquet file — footer only, cached on the file's stat identity."""
    try:
        st = os.stat(f)
    except FileNotFoundError:
        return ()
    key = (f, st.st_ino, st.st_mtime_ns, st.st_size)
    hit = _FOOTER_CACHE.get(key)
    if hit is not None:
        return hit
    with pq.ParquetFile(f) as pf:
        md = pf.metadata
    out = []
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
        out.append((s_st.min, s_st.max, t_lo, t_hi, g.num_rows, f, rg))
    out = tuple(out)
    _FOOTER_CACHE.put(key, out)
    return out


def _row_group_stats2(path: str, shard: int) -> list[tuple]:
    """(seq_min, seq_max, time_min, time_max, rows, file, rg) per row group
    of a shard, sorted by seq range — footer only, cached per file. Powers
    the cursor lookups below."""
    d = os.path.abspath(shard_dir(path, shard))
    try:
        names = os.listdir(d)
    except FileNotFoundError:
        return []
    return sorted(
        g for f in names if f.endswith(".parquet") for g in _file_row_groups(os.path.join(d, f))
    )


def _overlapping(path: str, shard: int, lo: int, hi: int | None):
    """(file, [row group, ...]) for the row groups whose footer seq range
    overlaps ``[lo, hi)`` (``hi`` None: no upper bound), files in order of
    their first overlapping group's seq_min."""
    by_file: dict[str, list[int]] = {}
    for g in _row_group_stats2(path, shard):
        if g[1] >= lo and (hi is None or g[0] < hi):
            by_file.setdefault(g[5], []).append(g[6])
    return by_file.items()


def _window(path: str, shard: int, lo: int, hi: int | None):
    """(seqs, times) numpy arrays, sorted by seq, of the rows with
    ``lo <= seq < hi`` (``hi`` None: no upper bound). Only the row groups
    whose footer seq range overlaps the window are read, so memory is
    O(window), never O(shard)."""
    seqs, times = [np.zeros(0, np.int64)], [np.zeros(0, np.int64)]
    for f, rgs in _overlapping(path, shard, lo, hi):
        with pq.ParquetFile(f) as pf:
            tbl = pf.read_row_groups(rgs, columns=["seq", "time"], use_threads=False)
        seqs.append(tbl.column("seq").to_numpy())
        times.append(tbl.column("time").to_numpy())
    s, t = np.concatenate(seqs), np.concatenate(times)
    keep = s >= lo if hi is None else (s >= lo) & (s < hi)
    s, t = s[keep], t[keep]
    order = np.argsort(s, kind="stable")
    return s[order], t[order]


def seq_for_time(
    path: str, shard: int, cursor_time: int, min_seq: int = 0
) -> int:
    """Smallest seq >= min_seq whose time >= cursor_time; end_seq if none
    (the reference's GetCursor(fromTime) semantics). ``min_seq`` lets the
    rate walk resolve its end boundary relative to the consumer cursor, so
    already-consumed rows (or backfills behind the cursor) can never pull
    the result backwards.

    Footer stats bound the read: the answer lives in a row group whose
    time_max >= cursor_time and seq_max >= min_seq, and is <= the smallest
    seq_max among them — only groups overlapping that seq range are read,
    not the whole tail (this runs per trigger on lagging streams). When
    that group straddles ``min_seq`` its matching rows may all lie before
    the cursor; then the whole tail past ``min_seq`` is read."""
    groups = [
        g
        for g in _row_group_stats2(path, shard)
        if g[3] >= cursor_time and g[1] >= min_seq
    ]
    if groups:
        for hi in (min(g[1] for g in groups) + 1, None):
            seqs, times = _window(path, shard, min_seq, hi)
            hit = seqs[times >= cursor_time]
            if hit.size:
                return int(hit[0])
    return shard_bounds(path, shard)[1]


def time_for_seq(path: str, shard: int, seq: int) -> int | None:
    """Event time of the FIRST record at-or-after the seq cursor (None if
    drained) — the stream's lag estimate for the <60s fast path. First by
    seq, not min-time-of-tail: with out-of-order event times a recent
    backfill must not make a lagging shard look caught-up (or vice versa).
    Footer-stats-bounded: the first record lives at seq <= the smallest
    covering seq_max, so only those row groups are read."""
    groups = [g for g in _row_group_stats2(path, shard) if g[1] >= seq]
    if not groups:
        return None
    _seqs, times = _window(path, shard, seq, min(g[1] for g in groups) + 1)
    return int(times[0]) if times.size else None


def nth_seq(path: str, shard: int, from_seq: int, n: int) -> int:
    """Half-open end after the ``n`` smallest seqs >= from_seq; shard end
    when fewer than ``n`` remain. This is the deadlock-free boundary for the
    rate walk: it advances by ROW COUNT in seq order, so progress is
    guaranteed whenever at least one unread row exists — even when event
    times interleave non-monotonically with seqs (where a time-cut boundary
    can sit at the cursor forever). Footer-stats-bounded to O(n) rows: the
    ceiling covers at least 2n rows, so the window never holds fewer than
    ``n`` while rows remain past it."""
    if n <= 0:
        return from_seq
    ceiling = _seq_ceiling_for_count(path, shard, from_seq, n)
    seqs, _times = _window(path, shard, from_seq, ceiling)
    if len(seqs) == 0:
        return from_seq
    if len(seqs) < n:
        return shard_bounds(path, shard)[1]
    return int(seqs[n - 1]) + 1


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

    With ``max_records``, the read is bounded to O(max_records) via a
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
    _seqs, times = budget_window(path, shard, from_seq, max_records)
    vals, cnts = np.unique(times, return_counts=True)
    return [(int(t), int(c)) for t, c in zip(vals, cnts)]


def budget_window(
    path: str, shard: int, from_seq: int, max_records: int | None = None
):
    """(seqs, times) numpy arrays, sorted by seq, of the rows ``second_histogram``
    counts: seq >= from_seq, bounded with ``max_records`` by the same
    footer-stats ceiling. The window is a seq-range prefix of the tail, so
    its n-th seq equals ``nth_seq(from_seq, n)`` for any n it holds — the
    rate walk plans a trigger from this one read."""
    ceiling = None
    if max_records is not None:
        ceiling = _seq_ceiling_for_count(path, shard, from_seq, max_records)
    return _window(path, shard, from_seq, ceiling)


def row_group_stats(path: str, shard: int) -> list[tuple[int, int, int]]:
    """(min_seq, max_seq, num_rows) per parquet row group — footer-only
    (seq projection of the cached per-file stats, in seq order)."""
    return [(g[0], g[1], g[4]) for g in _row_group_stats2(path, shard)]


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
    Python objects; projection happens with Arrow compute per batch). Only
    the row groups whose footer seq range overlaps the range are read, and
    only a batch that crosses a range end is filtered."""
    for f, rgs in _overlapping(path, shard, start_seq, end_seq):
        with pq.ParquetFile(f) as pf:
            for batch in pf.iter_batches(row_groups=rgs):
                s = batch.column("seq").to_numpy()
                if s.size and (s.min() < start_seq or s.max() >= end_seq):
                    batch = batch.filter(pa.array((s >= start_seq) & (s < end_seq)))
                if batch.num_rows:
                    yield batch if batch.schema == STORE_ARROW_SCHEMA else batch.cast(
                        STORE_ARROW_SCHEMA
                    )


def read_rows(path: str, shard: int, start_seq: int, end_seq: int):
    """Iterate records of [start_seq, end_seq) as dicts — a row view of
    ``read_batches``."""
    for batch in read_batches(path, shard, start_seq, end_seq):
        for row in batch.to_pylist():
            row["contents"] = dict(row["contents"] or [])
            row["tags"] = dict(row["tags"] or [])
            yield row


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
