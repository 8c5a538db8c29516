"""Bounds of the logstore connector's driver-side planner caches: the
footer-stats cache and the sorted (seq, time) index cache each hold a
bounded number of (store, shard) entries with LRU eviction, and a shard
that outgrows the index row cap drops its cached arrays."""

from __future__ import annotations

from spark_streaming_logservice_spark import fixtures
from spark_streaming_logservice_spark.sources import store_backend as be


def _store(tmp_path, n_shards: int, rows: int = 3) -> str:
    path = str(tmp_path / "store")
    fixtures.make_store(path, {s: [f"m{i}" for i in range(rows)] for s in range(n_shards)})
    return path


def _key(path: str, shard: int):
    import os

    return (os.path.abspath(path), shard)


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
    path = _store(tmp_path, 6)
    for s in range(4):
        be.shard_bounds(path, s)
    assert all(_key(path, s) in be._STATS_CACHE for s in range(4))  # default cap
    monkeypatch.setattr(be, "_STATS_CACHE", be._LruCache(4))
    for s in range(6):
        be.shard_bounds(path, s)
    assert len(be._STATS_CACHE) == 4
    assert [_key(path, s) in be._STATS_CACHE for s in range(6)] == [False, False] + [True] * 4
    assert be.shard_bounds(path, 0)[1] > be.shard_bounds(path, 0)[0]  # evicted: recomputed


def test_seq_time_cache_is_bounded_and_drops_outgrown_shards(tmp_path, monkeypatch):
    path = _store(tmp_path, 6)
    for s in range(4):
        be.time_for_seq(path, s, 0)
    assert all(_key(path, s) in be._SEQ_TIME_CACHE for s in range(4))  # default cap
    monkeypatch.setattr(be, "_SEQ_TIME_CACHE", be._LruCache(4))
    for s in range(6):
        be.time_for_seq(path, s, 0)
    assert len(be._SEQ_TIME_CACHE) == 4
    assert _key(path, 0) not in be._SEQ_TIME_CACHE

    # shard 5 grows past the row cap: its entry goes, the answer stays exact
    want = be.time_for_seq(path, 5, 0)
    fixtures.write_messages(path, ["late"], shard=5)
    monkeypatch.setattr(be, "_SEQ_TIME_CACHE_MAX_ROWS", 3)
    assert be.time_for_seq(path, 5, 0) == want
    assert _key(path, 5) not in be._SEQ_TIME_CACHE
