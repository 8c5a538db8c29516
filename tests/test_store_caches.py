"""The logstore connector's driver-side footer cache: one LRU-bounded entry
per parquet file, keyed on the file's stat identity, so a trigger parses only
the footers of new files and reads only the row groups its lookup needs —
and a rewritten file under a reused name is never a stale hit."""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

from spark_streaming_logservice_spark import fixtures
from spark_streaming_logservice_spark.sources import maintenance
from spark_streaming_logservice_spark.sources import store_backend as be


def _store(tmp_path, n_shards: int, rows: int = 3) -> str:
    path = str(tmp_path / "store")
    fixtures.make_store(path, {s: [f"m{i}" for i in range(rows)] for s in range(n_shards)})
    return path


def _files(path: str, shard: int) -> list[str]:
    d = os.path.abspath(be.shard_dir(path, shard))
    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet"))


def _key(f: str):
    st = os.stat(f)
    return (f, st.st_ino, st.st_mtime_ns, st.st_size)


def test_lru_cache_evicts_least_recently_used():
    c = be._LruCache(2)
    c.put("a", 1)
    c.put("b", 2)
    assert c.get("a") == 1  # "b" is now the least recently used
    c.put("c", 3)
    assert "b" not in c and c.get("a") == 1 and c.get("c") == 3 and len(c) == 2
    c.pop("a")
    c.pop("missing")
    assert len(c) == 1


def test_stats_cache_is_bounded_and_keeps_four_shards(tmp_path, monkeypatch):
    """Entries are per file: with one file per shard, a 4-entry bound keeps
    the four most recently planned shards' files."""
    path = _store(tmp_path, 6)
    for s in range(4):
        be.shard_bounds(path, s)
    assert all(_key(f) in be._FOOTER_CACHE for s in range(4) for f in _files(path, s))
    monkeypatch.setattr(be, "_FOOTER_CACHE", be._LruCache(4))
    for s in range(6):
        be.shard_bounds(path, s)
    assert len(be._FOOTER_CACHE) == 4
    assert [_key(_files(path, s)[0]) in be._FOOTER_CACHE for s in range(6)] == (
        [False, False] + [True] * 4
    )
    assert be.shard_bounds(path, 0)[1] > be.shard_bounds(path, 0)[0]  # evicted: recomputed


def _counting_parquet_file(monkeypatch):
    """Patch ``pq.ParquetFile`` to log every open as [path, row groups read];
    an open that read no row group parsed a footer only."""
    opens: list[list] = []
    real = pq.ParquetFile

    class Counting(real):
        def __init__(self, source, *args, **kwargs):
            self._log = [str(source), []]
            opens.append(self._log)
            super().__init__(source, *args, **kwargs)

        def read_row_groups(self, row_groups, *args, **kwargs):
            self._log[1].extend(row_groups)
            return super().read_row_groups(row_groups, *args, **kwargs)

        def iter_batches(self, *args, row_groups=None, **kwargs):
            self._log[1].extend(row_groups or range(self.num_row_groups))
            return super().iter_batches(*args, row_groups=row_groups, **kwargs)

    monkeypatch.setattr(pq, "ParquetFile", Counting)
    return opens


def test_live_append_parses_one_new_footer(tmp_path, monkeypatch):
    """A warm planner that sees one appended file parses that file's footer
    only, and the cursor lookups past the old end read only the new file's
    first row group — not the history, not the rest of the new file."""
    path = str(tmp_path / "live")
    for i in range(4):
        fixtures.write_messages(path, [f"m{i}-{j}" for j in range(5)], base_time=100 + 10 * i)
    _lo, end = be.shard_bounds(path, 0)
    assert be.time_for_seq(path, 0, end) is None  # warm: every footer cached
    be.second_histogram(path, 0, 0, 4)
    warm = len(be._FOOTER_CACHE)

    rows = [{"time": 500 + i // 2, "topic": "t", "source": "s",
             "contents": {"msg": str(i)}, "tags": {}} for i in range(16)]
    tbl, _ = be._rows_table(rows, end)
    new = os.path.join(os.path.abspath(be.shard_dir(path, 0)), "part-new.parquet")
    pq.write_table(tbl, new, row_group_size=4)  # 4 row groups of 4 rows
    opens = _counting_parquet_file(monkeypatch)

    assert be.time_for_seq(path, 0, end) == 500
    assert be.second_histogram(path, 0, end, 2) == [(500, 2), (501, 2)]
    footer_only = [p for p, rgs in opens if not rgs]
    assert footer_only == [new], opens  # exactly one footer parsed: the new file's
    assert len(be._FOOTER_CACHE) == warm + 1
    assert {p for p, _rgs in opens} == {new}, opens  # no old file opened at all
    assert [rgs for _p, rgs in opens if rgs] == [[0], [0]], opens


def _brute(path: str, shard: int):
    """(seqs, times) sorted by seq, read straight from the shard's files."""
    tbls = [pq.read_table(f, columns=["seq", "time"]) for f in _files(path, shard)]
    seqs = np.concatenate([t.column("seq").to_numpy() for t in tbls])
    times = np.concatenate([t.column("time").to_numpy() for t in tbls])
    order = np.argsort(seqs)
    return seqs[order], times[order]


def test_per_file_key_survives_recompaction(tmp_path):
    """Compact, append, compact again in one process: the second compaction
    rewrites ``compact-00000.parquet`` with new content under the same name.
    The lookups must see the new content (equal a brute-force read), and no
    row may be lost to the reused name."""
    path = str(tmp_path / "recompact")
    for i in range(3):
        fixtures.write_messages(path, [f"a{i}-{j}" for j in range(4)], base_time=100 + 10 * i)
    assert maintenance.compact_shard(path, 0)["compacted"]
    assert be.time_for_seq(path, 0, 0) == 100  # cache the first compact-00000
    be.second_histogram(path, 0, 0)
    be.nth_seq(path, 0, 0, 5)
    first = _files(path, 0)

    fixtures.write_messages(path, [f"b{j}" for j in range(6)], base_time=200)
    report = maintenance.compact_shard(path, 0)
    assert report["compacted"] and report["rows"] == 18
    assert [os.path.basename(f) for f in _files(path, 0)] == ["compact-00000.parquet"]
    assert [os.path.basename(f) for f in first] == ["compact-00000.parquet"]

    seqs, times = _brute(path, 0)
    assert len(seqs) == 18
    assert be.shard_bounds(path, 0) == (int(seqs[0]), int(seqs[-1]) + 1)
    for i in (0, 5, 11, 12, 17):
        assert be.time_for_seq(path, 0, int(seqs[i])) == int(times[i])
        for n in (1, min(4, 18 - i), 18 - i):
            assert be.nth_seq(path, 0, int(seqs[i]), n) == int(seqs[i + n - 1]) + 1
        vals, cnts = np.unique(times[i:], return_counts=True)
        assert be.second_histogram(path, 0, int(seqs[i])) == list(
            zip(vals.tolist(), cnts.tolist())
        )
    assert be.time_for_seq(path, 0, int(seqs[-1]) + 1) is None


def _write_file(path: str, shard: int, seqs, times, row_group_size: int) -> None:
    rows = [{"seq": int(s), "time": int(t), "topic": "t", "source": "s",
             "contents": {"k": str(s)}, "tags": {}} for s, t in zip(seqs, times)]
    tbl, _ = be._rows_table(rows)
    d = os.path.abspath(be.shard_dir(path, shard))
    os.makedirs(d, exist_ok=True)
    name = f"part-{len(os.listdir(d)):03d}.parquet"
    pq.write_table(tbl, os.path.join(d, name), row_group_size=row_group_size)


def _random_store(path: str, rng, now: int) -> int:
    """1-4 shards of 1-5 files each, row groups of 3, 7 or 100 rows. Seqs
    are unique per shard with gaps, and a later file may backfill seqs below
    an earlier one's; times are not monotone in seq. Shard 3, when present,
    is recent, so it takes the fast path. Returns the shard count."""
    n_shards = int(rng.integers(1, 5))
    for sh in range(n_shards):
        pool = rng.permutation(int(rng.integers(20, 400)) * 3)
        base = now - 5 if sh == 3 else 1_700_000_000
        at = 0
        for _f in range(int(rng.integers(1, 6))):
            n = int(rng.integers(1, 120))
            seqs = np.sort(pool[at:at + n])
            at += n
            if not seqs.size:
                break
            times = base + seqs // 4 + rng.integers(-6, 7, seqs.size)
            _write_file(path, sh, seqs, times, int(rng.choice([3, 7, 100])))
    return n_shards


def _two_call_offsets(path: str, base: dict, cap: int, now: int) -> dict:
    """The planner as two calls per lagging shard: the merged histogram walk
    over ``second_histogram``, then ``nth_seq`` for each shard's row count."""
    out, lagging = {}, {}
    for shard in be.list_shards(path):
        start = base.get(shard, be.shard_bounds(path, shard)[0])
        t = be.time_for_seq(path, shard, start)
        if t is not None and now - t < 60:
            out[shard] = be.shard_bounds(path, shard)[1]
        else:
            lagging[shard] = start
    hists = {sh: be.second_histogram(path, sh, st, cap) for sh, st in lagging.items()}
    totals: dict[int, int] = {}
    for h in hists.values():
        for sec, cnt in h:
            totals[sec] = totals.get(sec, 0) + cnt
    total, last = 0, None
    for sec in sorted(totals):
        total, last = total + totals[sec], sec
        if total >= cap:
            break
    for sh, st in lagging.items():
        n = sum(c for sec, c in hists[sh] if last is not None and sec <= last)
        out[sh] = be.nth_seq(path, sh, st, n) if n else st
    return {sh: max(base.get(sh, 0), e) for sh, e in {**base, **out}.items()}


def test_latest_offset_equals_histogram_then_nth_seq(tmp_path):
    """On random multi-file stores (seq gaps, backfills, non-monotone
    times), every trigger's offsets equal the two-call planner's."""
    import time as _time

    from pyspark.sql.types import StringType, StructField, StructType

    from spark_streaming_logservice_spark import offsets as off
    from spark_streaming_logservice_spark.sources.logstore import LogstoreStreamReader

    rng = np.random.default_rng(11)
    schema = StructType([StructField("msg", StringType())])
    for case in range(40):
        path = str(tmp_path / f"s{case}")
        now = int(_time.time())
        _random_store(path, rng, now)
        cap = int(rng.choice([1, 3, 10, 50, 400]))
        reader = LogstoreStreamReader(
            schema,
            {"path": path, "startingoffsets": "earliest",
             "maxoffsetspertrigger": str(cap)},
        )
        base = off.StreamOffset.from_dict(reader.initialOffset()).shard_seqs
        for _trigger in range(6):
            want = _two_call_offsets(path, base, cap, now)
            got = off.StreamOffset.from_dict(reader.latestOffset()).shard_seqs
            assert got == want, (case, cap, base)
            base = got


def test_latest_offset_reads_each_lagging_window_once(tmp_path, monkeypatch):
    """With every footer cached, a trigger opens each file of a lagging
    shard's budget window once, besides the fast-path check's own read;
    ``second_histogram`` then ``nth_seq`` open each of them twice."""
    from pyspark.sql.types import StringType, StructField, StructType

    from spark_streaming_logservice_spark.sources.logstore import LogstoreStreamReader

    path = str(tmp_path / "drain")
    for sh in range(4):
        for f in range(8):
            seqs = np.arange(f * 64, (f + 1) * 64)
            _write_file(path, sh, seqs, 1_700_000_000 + seqs // 8, 16)
    cap = 200
    reader = LogstoreStreamReader(
        StructType([StructField("msg", StringType())]),
        {"path": path, "startingoffsets": "earliest", "maxoffsetspertrigger": str(cap)},
    )
    reader.initialOffset()
    for sh in range(4):
        be.row_group_stats(path, sh)  # warm every footer

    def opened(fn) -> list[str]:
        opens = _counting_parquet_file(monkeypatch)
        fn()
        monkeypatch.undo()
        assert all(rgs for _p, rgs in opens), opens  # no footer parsed
        return sorted(p for p, _rgs in opens)

    lookups = opened(lambda: [be.time_for_seq(path, sh, 0) for sh in range(4)])
    window = opened(lambda: [be.budget_window(path, sh, 0, cap) for sh in range(4)])
    assert len(window) == len(set(window)) > 4  # the windows span several files
    assert opened(reader.latestOffset) == sorted(lookups + window)

    two_calls = opened(lambda: [
        (be.second_histogram(path, sh, 0, cap), be.nth_seq(path, sh, 0, cap // 4))
        for sh in range(4)
    ])
    assert len(two_calls) > len(window)
