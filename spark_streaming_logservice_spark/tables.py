"""Test-data table loading and view registration.

The driver-provided star schema + stream tables (TESTDATA.md) are the batch
inputs for the query contract. Loading is a plain parquet scan so Catalyst
gets predicate pushdown / column pruning for free.
"""

from __future__ import annotations

import logging
import os
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale factor.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

logger = logging.getLogger(__name__)


def dataset_content_key(path: str) -> tuple:
    """Content identity of a parquet dataset (file or directory of part
    files): (realpath, part-file count, max mtime_ns, total bytes).

    Keys on the CONTENTS of the dataset, not the directory inode: a corpus
    regenerated by rewriting part files in place under the same names
    leaves the directory mtime unchanged, so the part files' max mtime_ns
    and total size (plus the count) are what detect a rewrite. Shared by
    every content-keyed cache (dedup.cluster_assignments, the ANN index
    store) so the keying rules cannot drift apart (ADVICE r9)."""
    p = os.path.realpath(path)
    try:
        if os.path.isdir(p):
            stats = [
                os.stat(os.path.join(p, f))
                for f in sorted(os.listdir(p))
                if not f.startswith((".", "_"))
            ]
            return (
                p,
                len(stats),
                max((s.st_mtime_ns for s in stats), default=0),
                sum(s.st_size for s in stats),
            )
        st = os.stat(p)
        return (p, 1, st.st_mtime_ns, st.st_size)
    except OSError:
        return (p, None, None, None)


# (session identity, table, dataset content key) -> lazy scan DataFrame.
# Schema inference alone costs 100-170 ms per spark.read.parquet call (r14
# measurement: driver reads the footer + builds an InMemoryFileIndex every
# call); a 6-table join paid ~0.8 s of pure metadata work per invocation.
# Caching the *unresolved scan handle* is catalog-style metadata caching
# (the same class as spark.sql.hive.filesourcePartitionFileCacheSize):
# every action still computes from the parquet files — nothing about
# results or data is memoized — and the dataset_content_key invalidates
# the entry the moment a part file is rewritten. Keyed on the session's
# applicationId + wrapper id so a stopped/restarted session can never
# serve a stale handle (a new session gets a new applicationId). Bounded:
# past _TABLE_CACHE_MAX entries the other sessions' entries (never hit
# again) go first, then the live session's least recently used ones — a
# corpus regenerated in place leaves one dead entry per rewrite.
_TABLE_CACHE: OrderedDict[tuple, DataFrame] = OrderedDict()
_TABLE_CACHE_MAX = 256
_TABLE_CACHE_LOCK = threading.Lock()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        key = (
            id(spark),
            spark.sparkContext.applicationId,
            name,
            dataset_content_key(path),
        )
    except Exception:
        logger.warning("load_table(%r): no cache key for %s; loading uncached",
                       name, path, exc_info=True)
        key = None
    with _TABLE_CACHE_LOCK:
        hit = None if key is None else _TABLE_CACHE.get(key)
        if hit is not None:
            _TABLE_CACHE.move_to_end(key)
    if hit is not None:
        if name == "events":
            # The cached handle's correctness depends on these two session
            # confs (nanos typing + UTC arithmetic, see _load_events); a
            # caller may have reset them between loads, so re-assert on
            # every hit, not just on the miss path (ADVICE r14).
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            spark.conf.set("spark.sql.session.timeZone", "UTC")
        return hit
    if name == "events":
        df = _load_events(spark, sf_dir)
    else:
        df = spark.read.parquet(path)
    if key is not None:
        with _TABLE_CACHE_LOCK:
            _TABLE_CACHE[key] = df
            _TABLE_CACHE.move_to_end(key)
            if len(_TABLE_CACHE) > _TABLE_CACHE_MAX:
                for k in [k for k in _TABLE_CACHE if k[0] != key[0]]:
                    del _TABLE_CACHE[k]
            while len(_TABLE_CACHE) > _TABLE_CACHE_MAX:
                _TABLE_CACHE.popitem(last=False)
    return df


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet has shipped with two physical types for ts across
    testdata generations: parquet TIMESTAMP(NANOS) (which Spark's vectorized
    reader rejects — read as long nanos and floor-convert, matching DuckDB's
    ns→µs truncation) and plain TIMESTAMP(MICROS) (read natively). Dispatch
    on the type Spark actually infers so both generations load.

    Integer `div` (not double division) in the nanos path — epoch-nanos
    exceed double's 53-bit mantissa."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        return df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        )
    return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register each table as a temp view so spark.sql() sees the same names
    the DuckDB oracle does."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
