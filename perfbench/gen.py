"""Seeded input generators. Every function is a pure function of its seed
and size arguments, except the creation stamps the live generator attaches
when it publishes."""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# 2024-01-01T00:00:00Z: stored event times are far in the past, so a stream
# draining them lags by more than a minute and takes the rate-limit walk.
BASE_TIME = 1_704_067_200
LEVELS = np.array(["info", "info", "info", "warn", "error", "debug"])
N_HOSTS = 64


def md5_shard(key: str, n_shards: int) -> int:
    """Shard of a hash key, computed here independently of the program."""
    return int.from_bytes(hashlib.md5(key.encode("utf-8")).digest()[:8], "big") % n_shards


def row_digest(host: str, msg: str) -> int:
    return int.from_bytes(hashlib.md5(f"{host}\x1f{msg}".encode()).digest()[:8], "big")


def checksum(pairs) -> int:
    """Order-independent checksum of ``(host, msg)`` pairs: the sum of their
    ``row_digest`` modulo 2**64."""
    return _digest_sum(f"{h}\x1f{m}".encode() for h, m in pairs)


def _digest_sum(keys) -> int:
    raw = b"".join(d.digest()[:8] for d in map(hashlib.md5, keys))
    return int(np.frombuffer(raw, dtype=">u8").sum(dtype=np.uint64))


# --------------------------------------------------------------------------
# ingest_drain: landing files of log records

LANDING_SCHEMA = pa.schema(
    [
        pa.field("host", pa.string()),
        pa.field("level", pa.string()),
        pa.field("msg", pa.string()),
        pa.field("bytes", pa.int64()),
        pa.field("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def log_files(seed: int, n_files: int, rows_per_file: int) -> list[pa.Table]:
    """Landing files of log records. Hosts follow a Zipf law over
    ``N_HOSTS`` keys, so hash-routed shards come out uneven; event times
    advance about 20 records per second and about 2% are pulled back by up
    to five minutes (out of order)."""
    rng = np.random.default_rng([seed, 1])
    n = n_files * rows_per_file
    weights = 1.0 / np.arange(1, N_HOSTS + 1) ** 1.1
    host_idx = rng.choice(N_HOSTS, size=n, p=weights / weights.sum())
    host_names = np.array([f"host-{i:03d}" for i in range(N_HOSTS)], dtype=object)
    levels = LEVELS.astype(object)[rng.integers(0, len(LEVELS), size=n)]
    paths = rng.integers(0, 500, size=n)
    msgs = pc.binary_join_element_wise(
        "req=", pc.utf8_lpad(pa.array(np.arange(n)).cast(pa.string()), 9, "0"),
        " path=/api/", pa.array(paths).cast(pa.string()), "",
    )
    nbytes = rng.integers(100, 100_000, size=n)
    secs = BASE_TIME + np.arange(n) // 20
    late = rng.random(n) < 0.02
    secs = np.where(late, secs - rng.integers(1, 300, size=n), secs)
    micros = secs * 1_000_000 + rng.integers(0, 1_000_000, size=n)
    tbl = pa.table(
        {
            "host": pa.array(host_names[host_idx], pa.string()),
            "level": pa.array(levels, pa.string()),
            "msg": msgs,
            "bytes": pa.array(nbytes, pa.int64()),
            "ts": pa.array(micros, pa.timestamp("us", tz="UTC")),
        },
        schema=LANDING_SCHEMA,
    )
    return [tbl.slice(i * rows_per_file, rows_per_file) for i in range(n_files)]


def log_truth(files: list[pa.Table], n_shards: int) -> dict:
    """Row count, (host, msg) checksum and per-shard counts of the landing
    files under md5 routing on ``host``."""
    tbl = pa.concat_tables(files)
    per_shard = [0] * n_shards
    for row in pc.value_counts(tbl.column("host")).to_pylist():
        per_shard[md5_shard(row["values"], n_shards)] += row["counts"]
    joined = pc.binary_join_element_wise(tbl.column("host"), tbl.column("msg"), "\x1f")
    return {"rows": tbl.num_rows, "checksum": _digest_sum(joined.cast(pa.binary()).to_pylist()),
            "per_shard": per_shard}


# --------------------------------------------------------------------------
# live_rollup: one segment per shard per tick

EVENT_TYPES = np.array(["view", "click", "view", "purchase", "error", "view", "signup"])


def live_segment(seed: int, tick: int, shard: int, n: int) -> dict:
    """Payload of one published segment: event types and, for about 1% of
    records, a lateness of one to ten minutes."""
    rng = np.random.default_rng([seed, 2, tick, shard])
    types = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), size=n)]
    late_s = np.where(rng.random(n) < 0.01, rng.integers(60, 600, size=n), 0)
    return {"event_type": types, "late_s": late_s}


def segment_table(payload: dict, first_seq: int, now_s: int, schema: pa.Schema) -> pa.Table:
    """A segment as a table in the store's schema: dense seqs from
    ``first_seq``, event time ``now_s`` minus each record's lateness.

    Built with Arrow kernels rather than Python loops: the generator thread
    shares the interpreter lock with the stream's ``foreachBatch`` callback,
    and the time it holds the lock would count as the program's latency."""
    n = len(payload["event_type"])
    seqs = pa.array(np.arange(first_seq, first_seq + n, dtype=np.int64))
    msgs = pc.binary_join_element_wise("r", seqs.cast(pa.string()), "")
    # contents: {"event_type": <type>, "msg": "r<seq>"} per record, keys and
    # values interleaved
    both = pa.concat_arrays([pa.array(payload["event_type"], pa.string()), msgs])
    order = np.empty(2 * n, dtype=np.int64)
    order[0::2] = np.arange(n)
    order[1::2] = np.arange(n, 2 * n)
    keys = pc.take(pa.array(["event_type", "msg"]), pa.array(np.tile([0, 1], n)))
    return pa.table(
        {
            "seq": seqs,
            "time": pa.array((now_s - payload["late_s"]).astype(np.int64)),
            "topic": pa.repeat("live", n),
            "source": pa.repeat("gen", n),
            "contents": pa.MapArray.from_arrays(
                pa.array(np.arange(0, 2 * n + 1, 2, dtype=np.int32)), keys,
                pc.take(both, pa.array(order)),
            ),
            "tags": pa.MapArray.from_arrays(
                pa.array(np.zeros(n + 1, dtype=np.int32)),
                pa.array([], pa.string()),
                pa.array([], pa.string()),
            ),
        },
        schema=schema,
    )


# --------------------------------------------------------------------------
# analytics_mix: the star schema and stream tables the registry reads

_WORDS = np.array(
    "a the of to and key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small big customer query stream "
    "group filter vector".split()
)
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_EV_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
_LANGS = np.array(["en", "en", "en", "de", "es", "zh"])
_DAY_US = 86_400 * 1_000_000
_T1995 = 788_918_400 * 1_000_000  # 1995-01-01
_T2024 = BASE_TIME * 1_000_000


def _ts(us) -> pa.Array:
    return pa.array(np.asarray(us, dtype=np.int64), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), size=n) / 100.0


def _eighths(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 8), int(hi * 8), size=n) / 8.0


def analytics_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten registry tables at scale factor ``sf`` (0.01 gives 60k
    lineitems), with the value domains the registered queries filter on.

    Every value the queries sum is a binary fraction (eighths; discounts
    and taxes in 32nds and 64ths), so any summation order gives the same
    exact double and the Spark result and its DuckDB oracle round alike.
    With cents, the order of a float sum can move a value across a
    rounding boundary, and an oracle check then fails for no fault of the
    query."""
    rng = np.random.default_rng([seed, 3])
    n_cust, n_ord = int(150_000 * sf), int(1_500_000 * sf)
    n_part, n_supp = int(200_000 * sf), max(int(10_000 * sf), 25)
    n_ev, n_users = int(1_000_000 * sf), max(int(15_000 * sf), 10)
    n_docs = n_vecs = int(50_000 * sf)
    t = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()),
         "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    )
    t["nation"] = pa.table(
        {"n_nationkey": pa.array(range(25), pa.int32()),
         "n_name": [f"NATION_{i}" for i in range(25)],
         "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    )
    t["customer"] = pa.table(
        {"c_custkey": pa.array(np.arange(n_cust), pa.int64()),
         "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
         "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
         "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
         "c_mktsegment": _SEGMENTS[rng.integers(0, 5, n_cust)].tolist()}
    )
    t["supplier"] = pa.table(
        {"s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
         "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
         "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
         "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}
    )
    colors = np.array(["red", "blue", "small", "green", "large"])
    things = np.array(["ring", "widget", "bolt", "gear", "pipe"])
    t["part"] = pa.table(
        {"p_partkey": pa.array(np.arange(n_part), pa.int64()),
         "p_name": np.char.add(np.char.add(colors[rng.integers(0, 5, n_part)], " "),
                               things[rng.integers(0, 5, n_part)]).tolist(),
         "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)).tolist(),
         "p_type": np.array(["ECONOMY", "SMALL", "STANDARD", "PROMO"])[
             rng.integers(0, 4, n_part)].tolist(),
         "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
         "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0}
    )
    odate = _T1995 + rng.integers(0, 2404, n_ord) * _DAY_US  # to 2001-08-01
    t["orders"] = pa.table(
        {"o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
         "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
         "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)].tolist(),
         "o_totalprice": _eighths(rng, 1000, 500_000, n_ord),
         "o_orderdate": _ts(odate),
         "o_orderpriority": _PRIORITIES[rng.integers(0, 5, n_ord)].tolist()}
    )
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    n_li = len(okey)
    linenum = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_li).astype(float)
    t["lineitem"] = pa.table(
        {"l_orderkey": pa.array(okey, pa.int64()),
         "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
         "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
         "l_linenumber": pa.array(linenum, pa.int32()),
         "l_quantity": qty,
         "l_extendedprice": qty * _eighths(rng, 900, 2100, n_li),
         "l_discount": rng.integers(0, 4, n_li) / 32.0,
         "l_tax": rng.integers(0, 6, n_li) / 64.0,
         "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)].tolist(),
         "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)].tolist(),
         "l_shipdate": _ts(odate[okey] + rng.integers(1, 122, n_li) * _DAY_US)}
    )
    t["events"] = pa.table(
        {"event_id": pa.array(np.arange(n_ev), pa.int64()),
         "ts": _ts(_T2024 + rng.integers(0, 30 * _DAY_US, n_ev)),
         "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
         "event_type": _EV_TYPES[rng.integers(0, 5, n_ev)].tolist(),
         "value": _eighths(rng, 0.125, 490, n_ev),
         "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}
    )
    n_tok = rng.integers(20, 80, n_docs)
    words = _WORDS[rng.integers(0, len(_WORDS), int(n_tok.sum()))]
    bounds = np.concatenate([[0], np.cumsum(n_tok)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n_docs)]
    t["documents"] = pa.table(
        {"doc_id": pa.array(np.arange(n_docs), pa.int64()),
         "text": texts,
         "lang": _LANGS[rng.integers(0, len(_LANGS), n_docs)].tolist(),
         "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)).tolist(),
         "n_chars": pa.array([len(x) for x in texts], pa.int64())}
    )
    emb = (rng.standard_normal((n_vecs, 64)) * 0.125).astype(np.float32)
    t["embeddings"] = pa.table(
        {"vec_id": pa.array(np.arange(n_vecs), pa.int64()),
         "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.reshape(-1)), 64)
             .cast(pa.list_(pa.float32())),
         "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())}
    )
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
