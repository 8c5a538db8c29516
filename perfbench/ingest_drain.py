"""ingest_drain: closed loop, two timed phases on one store per round.

(a) The seeded landing files stream (one file per trigger) into a fresh
4-shard logstore through ``writeStream.format("logstore")``, hash-routed on
``host`` with ``timeColumn`` set, so every trigger takes the sink's
manifest commit. (b) ``readStream.format("logstore")`` drains that store
from ``earliest`` with a typed schema and the program's default
``maxOffsetsPerTrigger`` into a ``noop`` sink; the stored event times are
old, so every trigger takes the rate-limit walk. A warm-up round of one
small file of other records pays the session's cold start (the first ingest
and drain triggers of a fresh session take several times a warm one, most
of it fixed); then as many
timed rounds run as fit in the time budget, at least one. The CPU of the
process tree is taken per phase; rates per CPU second, trigger times and
latencies pool the triggers and records of all timed rounds.

Each timed round is checked outside the timed phases: every drain trigger must
have read exactly the rows its offset range holds in the store, and a
second drain of the store through the same streaming path and cap, into a
``foreachBatch`` that sums per shard the count and an md5 checksum of
``(host, msg)`` of the rows it is given, must match the generator's ground
truth and the harness's own md5 routing. The traced run also runs the
registry queries (``analytics_mix``) as a layer probe.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq

import analytics_mix
import gen
import harness
import probes
import spark_env

LOAD_THREADS = 0
N_SHARDS = 4
N_FILES = 4
WARMUP_ROWS = 8_192
ROWS_PER_FILE = 65_536
CAP = 65_536  # maxOffsetsPerTrigger: the program's default
LANDING_SCHEMA = "host STRING, level STRING, msg STRING, bytes BIGINT, ts TIMESTAMP"
DRAIN_SCHEMA = "host STRING, level STRING, msg STRING, bytes BIGINT, __time__ TIMESTAMP"
CHECK_SCHEMA = "host STRING, msg STRING, __shard__ INT"
TIMEOUT_S = 150


def _write_landing(tables, d: str) -> None:
    os.makedirs(d, exist_ok=True)
    for i, t in enumerate(tables):
        pq.write_table(t, os.path.join(d, f"part-{i:05d}.parquet"))


def _ingest(spark, landing: str, store: str, ck: str):
    q = (
        spark.readStream.schema(LANDING_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
        .writeStream.format("logstore")
        .option("path", store)
        .option("shards", N_SHARDS)
        .option("hashKeyColumn", "host")
        .option("timeColumn", "ts")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(TIMEOUT_S)
    if q.isActive:
        q.stop()
        raise TimeoutError("ingest did not finish")
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    return spark_env.progress(q)


def _drain(spark, store: str, ck: str, ends: dict[int, int], schema: str, sink):
    """Drain ``store`` from ``earliest`` at the cap until every shard's end
    offset reaches ``ends``; ``sink`` finishes the ``writeStream``."""
    q = sink(
        spark.readStream.format("logstore")
        .schema(schema)
        .option("path", store)
        .option("startingOffsets", "earliest")
        .option("maxOffsetsPerTrigger", CAP)
        .load()
        .writeStream
    ).option("checkpointLocation", ck).start()
    deadline = time.monotonic() + TIMEOUT_S
    try:
        while time.monotonic() < deadline:
            got = spark_env.end_offsets(q)
            if got and all(got.get(s, 0) >= e for s, e in ends.items()):
                break
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            time.sleep(0.1)
        else:
            raise TimeoutError("drain did not cover the store")
    finally:
        q.stop()
    return spark_env.progress(q)


def _digest_sums(df):
    """Per shard: row count and the sum of each row's ``gen.row_digest``
    (the first 8 bytes of md5 of ``host`` + 0x1f + ``msg``, unsigned)."""
    from pyspark.sql import functions as F

    digest = F.conv(F.substring(F.md5(F.concat_ws("\x1f", "host", "msg")), 1, 16), 16, 10)
    return [
        (int(r[0]), int(r[1]), int(r[2] or 0))
        for r in df.groupBy("__shard__")
        .agg(F.count(F.lit(1)), F.sum(digest.cast("decimal(20,0)")))
        .collect()
    ]


def _check_drain(spark, store: str, ck: str, ends: dict[int, int]) -> list:
    """Drain the store again through the streaming path, summing what each
    batch hands the sink; returns ``(shard, rows, digest sum)`` per batch
    and shard."""
    parts: list[tuple[int, int, int]] = []

    def batch(df, _batch_id):
        parts.extend(_digest_sums(df))

    _drain(spark, store, ck, ends, CHECK_SCHEMA, lambda w: w.foreachBatch(batch))
    return parts


def _round(ctx, landing: str, d: str, truth: dict, check: bool = True) -> dict:
    spark, tracer, ops = ctx.spark, ctx.tracer, ctx.ops
    from spark_streaming_logservice_spark.sources import store_backend as be

    store = os.path.join(d, "store")
    cpu = harness.CpuWindow()
    with tracer.span("ingest", "harness") as sp_in:
        cpu.start()
        t0 = time.time()
        ingest = _ingest(spark, landing, store, os.path.join(d, "ck-in"))
        t1 = time.time()
        cpu_in = cpu.stop()
    ends = {s: be.shard_bounds(store, s)[1] for s in range(N_SHARDS)}
    with tracer.span("drain", "harness") as sp_out:
        cpu.start()
        t2 = time.time()
        drain = _drain(spark, store, os.path.join(d, "ck-out"), ends, DRAIN_SCHEMA,
                       lambda w: w.format("noop"))
        cpu_out = cpu.stop()
    drained = spark_env.nonempty(drain)
    t3 = max(t["end"] for t in drained)
    ops.ok(len(ingest) + len(drained))
    spark_env.trace_triggers(tracer, ingest, sp_in, ctx.clock_offset, "sources.logstore.writer")
    spark_env.trace_triggers(tracer, drained, sp_out, ctx.clock_offset, "spark")

    # ground truth: every stored seq, attributed to the drain trigger that
    # covered it
    seqs = {s: probes.shard_seqs(store, s) for s in range(N_SHARDS)}

    def rows_of(t) -> int:
        return sum(
            int(np.searchsorted(seqs[s], t["end_offsets"].get(s, 0))
                - np.searchsorted(seqs[s], t["start_offsets"].get(s, 0)))
            for s in range(N_SHARDS)
        )

    covered = [rows_of(t) for t in drained]
    if check:
        _check_round(ctx, store, d, drained, covered, ends, truth)
    return {
        "samples": [(t["end"] - t0, n) for t, n in zip(drained, covered)],
        "drain_rates": [n / t["duration_ms"]["triggerExecution"] * 1000
                        for t, n in zip(drained, covered)],
        "drain_ms": [t["duration_ms"]["triggerExecution"] for t in drained],
        "pass_s": (t1 - t0) + (t3 - t2),
        "cpu": cpu.total,
        "cpu_in_s": sum(cpu_in.values()),
        "cpu_out_s": sum(cpu_out.values()),
        "ingest": ingest,
        "drained": drained,
        "reads_per_batch": sum(t["input_rows"] for t in drained) / truth["rows"],
        "store": store,
    }


def _check_round(ctx, store: str, d: str, drained, covered, ends, truth) -> None:
    ops = ctx.ops
    with ctx.tracer.span("check", "harness"):
        final = drained[-1]["end_offsets"]
        ops.check("drain reached every shard end",
                  all(final.get(s, 0) >= e for s, e in ends.items()), f"{final} vs {ends}")
        for name, passed, detail in verify_reads(
                [t["input_rows"] for t in drained], covered, truth):
            ops.check(name, passed, detail)
        parts = _check_drain(ctx.spark, store, os.path.join(d, "ck-check"), ends)
        for name, passed, detail in verify_drained(parts, truth):
            ops.check(name, passed, detail)
        # Staged files that outlive the commit are rows the manifest never
        # published. (The sink leaves one empty directory per batch under
        # _staging; that is a leak of directories, not of rows.)
        left = [f for _d, _s, files in os.walk(os.path.join(store, "_staging")) for f in files]
        ops.check("no staged files left", not left, f"{len(left)} left")


def verify_reads(input_rows, covered, truth: dict) -> list[tuple[str, bool, str]]:
    """``(check, passed, detail)`` for the drain into ``noop``: the rows each
    trigger's reader produced (``numInputRows``) against the rows its offset
    range holds in the store, and the offset ranges against the store."""
    bad = [i for i, (got, want) in enumerate(zip(input_rows, covered)) if got != want]
    return [
        ("drain offsets cover every stored row once", sum(covered) == truth["rows"],
         f"{sum(covered)} != {truth['rows']}"),
        ("each drain trigger read its range's rows", not bad and len(input_rows) == len(covered),
         f"triggers {bad[:5]}: read {[input_rows[i] for i in bad[:5]]}, "
         f"stored {[covered[i] for i in bad[:5]]}"),
    ]


def verify_drained(parts, truth: dict) -> list[tuple[str, bool, str]]:
    """``(check, passed, detail)`` for the ``(shard, rows, digest sum)``
    parts a drain handed its sink, against the generator's ground truth."""
    per_shard = [0] * len(truth["per_shard"])
    total = 0
    for shard, rows, digests in parts:
        per_shard[shard] += rows
        total += digests
    return [
        ("drained row count", sum(per_shard) == truth["rows"],
         f"{sum(per_shard)} != {truth['rows']}"),
        ("drained (host, msg) checksum", total % (1 << 64) == truth["checksum"], ""),
        ("per-shard counts match md5 routing", per_shard == truth["per_shard"],
         f"{per_shard} != {truth['per_shard']}"),
    ]


def run(ctx):
    def generate(i):
        tables = gen.log_files(ctx.seed, N_FILES, ROWS_PER_FILE)
        d = os.path.join(ctx.work, f"landing-{i}")
        _write_landing(tables, d)
        return tables, d

    setup_s, (tables, landing) = ctx.setup(generate)
    truth = gen.log_truth(tables, N_SHARDS)

    warm = gen.log_files(ctx.seed + 1, 1, WARMUP_ROWS)
    warm_dir = os.path.join(ctx.work, "landing-warmup")
    _write_landing(warm, warm_dir)
    with ctx.tracer.span("warm-up", "harness"):
        _round(ctx, warm_dir, os.path.join(ctx.work, "round-warmup"),
               gen.log_truth(warm, N_SHARDS), check=False)

    rounds = []
    while harness.another_fits([r["pass_s"] for r in rounds], ctx.seconds):
        d = os.path.join(ctx.work, f"round-{len(rounds)}")
        if rounds:
            shutil.rmtree(os.path.dirname(rounds[-1]["store"]), ignore_errors=True)
        with ctx.tracer.span(f"round {len(rounds)}", "harness"):
            rounds.append(_round(ctx, landing, d, truth))

    def med(key):
        return harness.median([r[key] for r in rounds])

    rows = truth["rows"] * len(rounds)
    ingest_ms = [t["duration_ms"]["triggerExecution"]
                 for r in rounds for t in r["ingest"] if t["input_rows"]]
    samples = [x for r in rounds for x in r["samples"]]
    e2e = {
        "setup_s": setup_s,
        "cpu_s": harness.median([sum(r["cpu"].values()) for r in rounds]),
        "op_ok_ratio": 1 - ctx.ops.failed / ctx.ops.attempted,
        "latency_ms_p50": harness.weighted_quantile(samples, 0.5) * 1000,
        "latency_ms_p90": harness.weighted_quantile(samples, 0.9) * 1000,
    }
    rates = {
        "ingest_rows_per_cpu_s": rows / sum(r["cpu_in_s"] for r in rounds),
        "drain_rows_per_cpu_s": rows / sum(r["cpu_out_s"] for r in rounds),
        # per trigger: one landing file in, or one rate-limited slice out
        "wall.ingest_rows_per_s": ROWS_PER_FILE / harness.median(ingest_ms) * 1000,
        "wall.drain_rows_per_s": harness.median([x for r in rounds for x in r["drain_rates"]]),
        "wall.trigger_ms_p50": harness.median([x for r in rounds for x in r["drain_ms"]]),
        "wall.pass_s": med("pass_s"),
    }

    last = rounds[-1]
    layers = {
        **rates,
        "session.boot_s": ctx.boot_s,
        "logstore.source_reads_per_batch": med("reads_per_batch"),
        "stream.ingest_add_batch_ms": harness.median(
            [t["duration_ms"].get("addBatch", 0.0) for r in rounds for t in r["ingest"]]),
        **spark_env.phase_metrics([t for r in rounds for t in r["drained"]]),
        **{f"{k}.cpu_s": harness.median([r["cpu"][k] for r in rounds])
           for k in ("jvm", "pyworker", "driver")},
    }
    if ctx.trace:
        with ctx.tracer.span("layer probes", "harness"):
            with ctx.tracer.span("logstore reader", "sources.logstore.reader"):
                layers["logstore.read_rows_per_s"] = probes.logstore_reader(
                    last["store"], DRAIN_SCHEMA)
            with ctx.tracer.span("logstore writer", "sources.logstore.writer"):
                layers.update(probes.logstore_writer(
                    os.path.join(ctx.work, "probe-store"), LANDING_SCHEMA, tables[:2]))
            with ctx.tracer.span("store backend", "sources.store_backend"):
                layers.update(probes.store_backend(last["store"], ctx.seed, CAP))
            with ctx.tracer.span("registry mix", "registry"):
                layers.update(analytics_mix.registry_layers(ctx))
    return e2e, layers
