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
