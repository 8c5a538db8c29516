"""In-process probes of single layers, timed from outside through their
public entry points. They run after a workload's timed window, on the store
the workload produced, and feed only the traced run's per-layer metrics."""

from __future__ import annotations

import os
import time
import uuid

import numpy as np
import pyarrow.dataset as pa_ds

import gen

PROBE_ROWS = 256  # records per shard the publish probe appends
PROBE_TICK = 2**31 - 1  # seeds the probe payload apart from every live tick


def shard_seqs(store: str, shard: int) -> np.ndarray:
    """Sorted seqs of one shard, read by the benchmark itself."""
    from spark_streaming_logservice_spark.sources import store_backend as be

    d = be.shard_dir(store, shard)
    files = [os.path.join(d, f) for f in sorted(os.listdir(d)) if f.endswith(".parquet")]
    if not files:
        return np.zeros(0, dtype=np.int64)
    seqs = pa_ds.dataset(files).to_table(columns=["seq"]).column("seq").to_numpy()
    return np.sort(seqs)


def store_backend(store: str, seed: int, cap: int) -> dict[str, float]:
    """``store_backend`` timings on ``store``: a publish of one small
    segment per shard, then the cold footer sweep, the cold seq index, the
    histogram at the cap, ``nth_seq`` and a full ``read_batches`` scan.
    Times are summed over shards."""
    from spark_streaming_logservice_spark.sources import store_backend as be

    shards = be.list_shards(store)
    files = [
        sum(1 for f in os.listdir(be.shard_dir(store, s)) if f.endswith(".parquet"))
        for s in shards
    ]
    wid = uuid.uuid4().hex
    t0 = time.perf_counter()
    staged = []
    for s in shards:
        first = be.shard_bounds(store, s)[1]
        payload = gen.live_segment(seed, PROBE_TICK, s, PROBE_ROWS)
        staged.append(be.stage_table(store, wid, s, gen.segment_table(
            payload, first, int(time.time()), be.STORE_ARROW_SCHEMA)))
    be.publish_staged(store, staged)
    be.discard_staged(store, wid)
    publish = time.perf_counter() - t0

    out = dict.fromkeys(("footer", "index", "hist", "nth"), 0.0)
    rows = 0
    scan = 0.0
    for s in shards:
        t0 = time.perf_counter()
        lo, _hi = be.shard_bounds(store, s)
        t1 = time.perf_counter()
        be.time_for_seq(store, s, lo)
        t2 = time.perf_counter()
        be.second_histogram(store, s, lo, cap)
        t3 = time.perf_counter()
        be.nth_seq(store, s, lo, cap)
        t4 = time.perf_counter()
        for b in be.read_batches(store, s, lo, _hi):
            rows += b.num_rows
        t5 = time.perf_counter()
        out["footer"] += t1 - t0
        out["index"] += t2 - t1
        out["hist"] += t3 - t2
        out["nth"] += t4 - t3
        scan += t5 - t4
    return {
        "store_backend.files_per_shard": sum(files) / max(1, len(files)),
        "store_backend.publish_ms": publish * 1000,
        "store_backend.footer_stats_ms": out["footer"] * 1000,
        "store_backend.seq_index_ms": out["index"] * 1000,
        "store_backend.histogram_ms": out["hist"] * 1000,
        "store_backend.nth_seq_ms": out["nth"] * 1000,
        "store_backend.read_batches_rows_per_s": rows / scan if scan else 0.0,
    }


def logstore_reader(store: str, schema: str) -> float:
    """Rows per second of ``LogstoreBatchReader.partitions()`` then
    ``read()`` over the whole store, in this process."""
    from pyspark.sql.types import _parse_datatype_string

    from spark_streaming_logservice_spark.sources.logstore import LogstoreBatchReader

    t0 = time.perf_counter()
    reader = LogstoreBatchReader(_parse_datatype_string(schema), {"path": store})
    rows = sum(b.num_rows for p in reader.partitions() for b in reader.read(p))
    return rows / (time.perf_counter() - t0)


def logstore_writer(store: str, schema: str, tables) -> dict[str, float]:
    """``LogstoreStreamWriter.write`` on the landing Arrow batches, hash
    routed as the ingest stream is, then its ``commit``."""
    from pyspark.sql.types import _parse_datatype_string

    from spark_streaming_logservice_spark.sources.logstore import LogstoreStreamWriter

    options = {"path": store, "shards": "4", "hashkeycolumn": "host",
               "timecolumn": "ts", "checkpointlocation": store + "-ck"}
    writer = LogstoreStreamWriter(_parse_datatype_string(schema), options, False)
    batches = [b for t in tables for b in t.to_batches()]
    t0 = time.perf_counter()
    msg = writer.write(iter(batches))
    t1 = time.perf_counter()
    writer.commit([msg], 0)
    t2 = time.perf_counter()
    return {
        "logstore.write_rows_per_s": msg.rows / (t1 - t0),
        "logstore.commit_ms": (t2 - t1) * 1000,
    }
