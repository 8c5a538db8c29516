"""load_table's content-keyed scan-handle cache (r14 optimization).

Schema inference costs 100-170 ms per spark.read.parquet call; load_table
memoizes the LAZY scan handle keyed on (session, table, dataset content
key). These tests pin the two properties that make that safe: a hit returns
the same handle only while the file contents are unchanged, and a rewrite
of the dataset (even same-size, same-name) is read fresh — never a stale
plan over dead files.
"""

from __future__ import annotations

import os
import shutil
from collections import OrderedDict

import pytest

from spark_streaming_logservice_spark import tables
from spark_streaming_logservice_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark(app_name="table-cache-test", master="local[2]",
                     shuffle_partitions=2)


def test_cache_hit_same_content(spark, tmp_path):
    sf = str(tmp_path)
    spark.range(10).selectExpr("id AS r_regionkey", "'x' AS r_name",
                               "'c' AS r_comment").write.parquet(
        os.path.join(sf, "region.parquet"))
    df1 = tables.load_table(spark, sf, "region")
    df2 = tables.load_table(spark, sf, "region")
    assert df1 is df2
    assert df1.count() == 10


def test_rewrite_invalidates(spark, tmp_path):
    sf = str(tmp_path)
    p = os.path.join(sf, "region.parquet")
    spark.range(10).selectExpr("id AS r_regionkey").write.parquet(p)
    df1 = tables.load_table(spark, sf, "region")
    assert df1.count() == 10
    shutil.rmtree(p)
    spark.range(25).selectExpr("id AS r_regionkey").write.parquet(p)
    df2 = tables.load_table(spark, sf, "region")
    assert df2 is not df1
    assert df2.count() == 25


def test_distinct_sf_dirs_are_distinct_entries(spark, tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    for d, n in ((a, 3), (b, 7)):
        os.makedirs(d, exist_ok=True)
        spark.range(n).selectExpr("id AS r_regionkey").write.parquet(
            os.path.join(d, "region.parquet"))
    assert tables.load_table(spark, a, "region").count() == 3
    assert tables.load_table(spark, b, "region").count() == 7


def test_overflow_evicts_only_other_sessions(spark, tmp_path):
    """The >256 overflow guard must drop OTHER sessions' entries, not the
    live session's (r15, ADVICE r14: a full clear re-pays schema inference
    for the very tables being queried)."""
    sf = str(tmp_path)
    spark.range(4).selectExpr("id AS r_regionkey").write.parquet(
        os.path.join(sf, "region.parquet"))
    df1 = tables.load_table(spark, sf, "region")
    live_keys = {k for k in tables._TABLE_CACHE if k[0] == id(spark)}
    assert live_keys
    fake = [(10**9 + i, "dead-app", "region", ("x", i)) for i in range(300)]
    for k in fake:
        tables._TABLE_CACHE[k] = df1
    try:
        # next insert trips the guard: fake-session entries go, live stay
        spark.range(2).selectExpr("id AS n_nationkey").write.parquet(
            os.path.join(sf, "nation.parquet"))
        tables.load_table(spark, sf, "nation")
        assert not any(k in tables._TABLE_CACHE for k in fake)
        assert tables.load_table(spark, sf, "region") is df1
    finally:
        for k in fake:
            tables._TABLE_CACHE.pop(k, None)


def test_live_session_entries_are_lru_bounded(spark, tmp_path, monkeypatch):
    """Past the cap the live session's least recently used entry goes —
    e.g. the dead entry a corpus rewritten in place leaves behind — and a
    hit refreshes an entry's recency."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    monkeypatch.setattr(tables, "_TABLE_CACHE", OrderedDict())
    monkeypatch.setattr(tables, "_TABLE_CACHE_MAX", 2)
    dirs = []
    for i in range(3):
        d = tmp_path / f"sf{i}"
        d.mkdir()
        pq.write_table(pa.table({"r_regionkey": list(range(i + 1))}),
                       str(d / "region.parquet"))
        dirs.append(str(d))
    first = tables.load_table(spark, dirs[0], "region")
    tables.load_table(spark, dirs[1], "region")
    assert tables.load_table(spark, dirs[0], "region") is first  # now most recent
    tables.load_table(spark, dirs[2], "region")  # evicts sf1
    assert [os.path.dirname(k[3][0]) for k in tables._TABLE_CACHE] == [
        os.path.realpath(dirs[0]), os.path.realpath(dirs[2])]
    assert tables.load_table(spark, dirs[0], "region") is first
    assert tables.load_table(spark, dirs[1], "region").count() == 2  # reloaded


def test_events_confs_reasserted_on_cache_hit(spark):
    """A cached events handle depends on nanosAsLong + UTC session confs;
    a hit must re-assert them even if the caller reset them (ADVICE r14)."""
    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    tables.load_table(spark, sf, "events")  # prime the cache
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    tables.load_table(spark, sf, "events")  # hit
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
