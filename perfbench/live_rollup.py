"""live_rollup: open loop at a fixed offered rate into the incremental rollup.

The offered rate (``--live-rate``, set in ``BENCHMARK.json``) is about a
quarter of the rate the host sustains, so a trigger ends well inside its
interval on a loaded host; ``README.md`` records the measurement.

A generator thread publishes one small segment per shard every tick through
``store_backend.stage_table`` and ``publish_staged``, on a schedule that does
not slow when the system does; each record is stamped with the time its tick
was due. About 1% of records carry an event time minutes in the past. A
stream follows the store from ``earliest`` into
``incremental_rollup_writer`` on a fixed processing-time trigger, so the
CPU a window costs is the cost of its triggers' work, not of how many
triggers a saturated loop fits in it. The stream's first, cold trigger and
one trigger interval of warm-up are excluded; the timed window then runs for
the whole trigger intervals that fit in the time budget, and starts as a
trigger does, so its CPU is that of whole triggers.
A record's latency runs from its stamp to the return of the first
foreachBatch whose per-shard end offset passes its seq. Afterwards the
minute rollup must equal the counts recomputed from the generator's log.
"""

from __future__ import annotations

import calendar
import math
import os
import threading
import time
import uuid

import numpy as np

import gen
import harness
import probes
import spark_env

LOAD_THREADS = 1  # the generator thread
N_SHARDS = 4
TICK_S = 0.25
INTERVAL_S = 5.0  # the stream's processing-time trigger
WARMUP_S = INTERVAL_S
LEAD_S = 0.25  # the CPU window opens this long before a trigger starts
TIMEOUT_S = 60
STREAM_SCHEMA = "__time__ TIMESTAMP_NTZ, event_type STRING"
ROLLUP_SCHEMA = "bucket TIMESTAMP_NTZ, n_events BIGINT, n_errors BIGINT"


class Generator:
    """Publishes tick ``k`` at ``t0 + k * TICK_S`` (perf_counter clock) until
    stopped, and keeps the log the correctness check and the latency
    attribution read."""

    def __init__(self, store: str, payloads, tracer, parent) -> None:
        from spark_streaming_logservice_spark.sources import store_backend as be

        self.be = be
        self.store = store
        self.payloads = payloads
        self.tracer = tracer
        self.parent = parent
        self.next_seq = [0] * N_SHARDS
        # (tick, shard, seq_lo, seq_hi, due epoch s, event time s, payload)
        self.log: list[tuple] = []
        self.ticks: list[tuple[float, float, float]] = []  # (due, started, cpu) s
        self._stop = threading.Event()
        self._thread = None
        self.error = None

    def publish(self, tick: int, due_epoch: float) -> None:
        be = self.be
        started = time.time()
        now_s = int(started)
        wid = uuid.uuid4().hex
        tables = []
        for shard in range(N_SHARDS):
            payload = self.payloads(tick, shard)
            lo = self.next_seq[shard]
            tables.append(gen.segment_table(payload, lo, now_s, be.STORE_ARROW_SCHEMA))
            self.next_seq[shard] = lo + tables[-1].num_rows
            self.log.append((tick, shard, lo, self.next_seq[shard], due_epoch, now_s, payload))
        # only the store's calls count as its cost
        cpu0 = time.thread_time()
        with self.tracer.span(f"publish {tick}", "sources.store_backend", parent=self.parent):
            staged = [be.stage_table(self.store, wid, shard, tbl)
                      for shard, tbl in enumerate(tables)]
            be.publish_staged(self.store, staged)
            be.discard_staged(self.store, wid)
        busy = time.thread_time() - cpu0
        self.ticks.append((due_epoch, started, busy))

    def start(self, first_tick: int) -> float:
        """Start publishing from ``first_tick``; returns the epoch time tick
        ``first_tick`` is due."""
        t0 = time.perf_counter()
        epoch0 = time.time()

        def loop() -> None:
            k = 0
            try:
                while not self._stop.is_set():
                    due = t0 + k * TICK_S
                    wait = due - time.perf_counter()
                    if wait > 0 and self._stop.wait(wait):
                        return
                    self.publish(first_tick + k, epoch0 + k * TICK_S)
                    k += 1
            except Exception as e:  # noqa: BLE001 - reported by the workload
                self.error = e

        self._thread = threading.Thread(target=loop, name="generator", daemon=True)
        self._thread.start()
        return epoch0

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=TIMEOUT_S)
        if self._thread.is_alive():
            raise TimeoutError("generator did not stop")
        if self.error is not None:
            raise self.error


def expected_rollup(log) -> dict[int, tuple[int, int]]:
    """Minute bucket (epoch s) → (events, errors) recomputed from the
    generator's log."""
    out: dict[int, list[int]] = {}
    for _tick, _shard, _lo, _hi, _due, now_s, payload in log:
        minutes = (now_s - payload["late_s"]) // 60 * 60
        errors = payload["event_type"] == "error"
        for m in np.unique(minutes):
            sel = minutes == m
            acc = out.setdefault(int(m), [0, 0])
            acc[0] += int(sel.sum())
            acc[1] += int(errors[sel].sum())
    return {k: (v[0], v[1]) for k, v in out.items()}


def rollup_diff(got: dict, want: dict) -> int:
    """Number of minute buckets whose counts differ, or that only one side
    has."""
    return sum(got.get(k) != want.get(k) for k in got.keys() | want.keys())


def run(ctx):
    from pyspark.sql import functions as F

    from spark_streaming_logservice_spark.sources.logstore import DEFAULT_MAX_OFFSETS_PER_TRIGGER
    from spark_streaming_logservice_spark.streaming import rollup

    tracer, ops = ctx.tracer, ctx.ops
    per_segment = max(1, round(ctx.live_rate * TICK_S / N_SHARDS))
    window_s = INTERVAL_S * max(1, int(ctx.seconds // INTERVAL_S))
    n_ticks = int((WARMUP_S + INTERVAL_S + window_s) / TICK_S) + 8

    def generate(i):
        return [[gen.live_segment(ctx.seed, k, s, per_segment) for s in range(N_SHARDS)]
                for k in range(n_ticks)]

    setup_s, payloads = ctx.setup(generate)
    spark = ctx.spark
    store = os.path.join(ctx.work, "store")
    table = os.path.join(ctx.work, "rollup")
    if ctx.trace:
        rollup.TIMINGS = {}

    def payload(k, shard):
        return payloads[k][shard] if k < n_ticks else gen.live_segment(
            ctx.seed, k, shard, per_segment)

    with tracer.span("stream", "harness") as sp_stream:
        gen_ = Generator(store, payload, tracer, sp_stream)
        gen_.publish(0, time.time())
        # batch id -> (returned at, seconds in the writer, rollup phases, span)
        returns: dict[int, tuple[float, float, dict, int | None]] = {}
        write = rollup.incremental_rollup_writer(table, time_col="ts")

        def batch(df, batch_id):
            before = dict(rollup.TIMINGS or {})
            t0 = time.perf_counter()
            with tracer.span(f"batch {batch_id}", "streaming.rollup", parent=sp_stream) as sid:
                write(df, batch_id)
            spent = time.perf_counter() - t0
            phases = {k: v - before.get(k, 0.0) for k, v in (rollup.TIMINGS or {}).items()}
            returns[batch_id] = (time.time(), spent, phases, sid)

        q = (
            spark.readStream.format("logstore")
            .schema(STREAM_SCHEMA)
            .option("path", store)
            .option("startingOffsets", "earliest")
            .load()
            .select(F.col("__time__").alias("ts"), "event_type")
            .writeStream.foreachBatch(batch)
            .trigger(processingTime=f"{INTERVAL_S:g} seconds")
            .option("checkpointLocation", os.path.join(ctx.work, "ck"))
            .start()
        )
        try:
            _wait_covered(q, gen_)  # the cold first trigger
            epoch0 = gen_.start(1)
            # Spark fires processing-time triggers on multiples of the
            # interval since the epoch
            w0 = math.ceil((epoch0 + WARMUP_S) / INTERVAL_S) * INTERVAL_S
            w1 = w0 + window_s
            cpu = harness.CpuWindow()
            time.sleep(max(0.0, w0 - LEAD_S - time.time()))
            cpu.start()
            time.sleep(max(0.0, w1 - LEAD_S - time.time()))
            cpu_window = cpu.stop()
            gen_.stop()
            _wait_covered(q, gen_)
        finally:
            q.stop()
    triggers = [t for t in spark_env.nonempty(spark_env.progress(q)) if t["batch_id"] in returns]
    add_batch = spark_env.trace_triggers(tracer, triggers, sp_stream, ctx.clock_offset, "spark")
    for batch_id, sid in add_batch.items():
        tracer.reparent(returns[batch_id][3], sid)

    in_window = [t for t in triggers if w0 <= t["start"] < w1]
    ops.ok(len(in_window))
    segs = [(shard, lo, hi, due) for _k, shard, lo, hi, due, _n, _p in gen_.log
            if w0 <= due < w1]
    batches = [(t["end_offsets"], returns[t["batch_id"]][0]) for t in triggers]
    samples, uncovered = harness.attribute_latency(segs, batches)
    ops.check("every window record reached the rollup", uncovered == 0, f"{uncovered} not")
    window_rows = sum(hi - lo for _s, lo, hi, _d in segs)
    # the window is absorbed when the batch covering its last record returns
    last = {shard: hi for shard, _lo, hi, _d in segs}
    pass_s = max(
        next(ret for ends, ret in batches if ends.get(shard, 0) >= hi) for shard, hi in last.items()
    ) - w0
    # CPU seconds of the publishing thread, median per tick: time the thread
    # waits for the interpreter lock held by the foreachBatch callback, or
    # for a CPU, is not the store's cost
    busy = harness.median([b for due, _start, b in gen_.ticks if w0 <= due < w1])

    total_rows = sum(gen_.next_seq)
    with tracer.span("check", "harness"):
        got = {
            calendar.timegm(r[0].timetuple()): (r[1], r[2])
            for r in rollup.read_store(spark, table, ROLLUP_SCHEMA).collect()
        }
        differ = rollup_diff(got, expected_rollup(gen_.log))
        ops.check("minute rollup equals the generator's counts", not differ,
                  f"{differ} buckets differ")

    e2e = {
        "setup_s": setup_s,
        "cpu_s": sum(cpu_window.values()),
        "op_ok_ratio": 1 - ops.failed / ops.attempted,
        "latency_ms_p50": harness.weighted_quantile(samples, 0.5) * 1000,
        "latency_ms_p90": harness.weighted_quantile(samples, 0.9) * 1000,
    }
    rates = {
        "ingest_rows_per_cpu_s": per_segment * N_SHARDS / busy,
        "drain_rows_per_cpu_s": window_rows / sum(cpu_window.values()),
        "wall.drain_rows_per_s": window_rows / pass_s,
        "wall.trigger_ms_p50": harness.median(
            [t["duration_ms"]["triggerExecution"] for t in in_window]),
        "wall.pass_s": pass_s,
    }
    window_batches = [returns[t["batch_id"]] for t in in_window]
    layers = {
        **rates,
        "session.boot_s": ctx.boot_s,
        "generator.late_ms_max": max(
            (start - due) * 1000 for due, start, _b in gen_.ticks if w0 <= due < w1),
        "logstore.source_reads_per_batch": sum(t["input_rows"] for t in triggers) / total_rows,
        "rollup.batch_s": harness.median([b[1] for b in window_batches]),
        **{f"rollup.{k}_s": harness.median([b[2].get(k, 0.0) for b in window_batches])
           for k in ("probe", "write", "publish")},
        **spark_env.phase_metrics(in_window),
        **{f"{k}.cpu_s": v for k, v in cpu_window.items()},
    }
    if ctx.trace:
        rollup.TIMINGS = None
        with tracer.span("layer probes", "harness"):
            layers["rollup.state_rows"] = len(got)
            layers["rollup.state_files"] = sum(
                f.endswith(".parquet") for _d, _s, fs in os.walk(table) for f in fs)
            with tracer.span("logstore reader", "sources.logstore.reader"):
                layers["logstore.read_rows_per_s"] = probes.logstore_reader(store, STREAM_SCHEMA)
            with tracer.span("store backend", "sources.store_backend"):
                layers.update(probes.store_backend(store, ctx.seed,
                                                   DEFAULT_MAX_OFFSETS_PER_TRIGGER))
    return e2e, layers


def _wait_covered(q, gen_: Generator) -> None:
    """Block until the stream's end offsets reach everything published."""
    deadline = time.monotonic() + TIMEOUT_S
    while time.monotonic() < deadline:
        want = list(gen_.next_seq)
        got = spark_env.end_offsets(q)
        if got and all(got.get(s, 0) >= want[s] for s in range(N_SHARDS)):
            return
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        time.sleep(0.1)
    raise TimeoutError("the stream did not catch up with the generator")
