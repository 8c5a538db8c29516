"""Spark-side plumbing of the benchmark: session boot and shutdown, and the
reading of streaming progress events."""

from __future__ import annotations

import json
import os
import time
from datetime import datetime

import harness


def boot(conf: dict[str, str]):
    """Start the program's tuned session (``session.get_spark``) with the
    benchmark's scratch and sizing settings, and register the logstore
    format."""
    from spark_streaming_logservice_spark.session import get_spark
    from spark_streaming_logservice_spark.sources.logstore import register

    spark = get_spark(app_name="perfbench", extra_conf=conf)
    register(spark)
    return spark


def stop(spark) -> None:
    """Stop the session (the JVM stays up for the next boot)."""
    spark.stop()


def shutdown(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, shut the JVM down and wait until every process the
    benchmark started has ended."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=timeout_s)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait(timeout=timeout_s)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        left = harness.descendants()
        if not left:
            return
        time.sleep(0.1)
    for pid in harness.descendants():
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    while harness.descendants() and time.monotonic() < deadline + 10:
        time.sleep(0.1)


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _offsets(raw) -> dict[int, int]:
    """A logstore offset as {shard: seq}; {} for other sources' offsets."""
    if raw is None:
        return {}
    if isinstance(raw, str):
        raw = json.loads(raw)
    if not isinstance(raw, dict) or not all(str(k).isdigit() for k in raw):
        return {}
    return {int(k): int(v) for k, v in raw.items()}


def as_dict(p) -> dict:
    """A progress event as a plain dict."""
    return json.loads(p.json) if hasattr(p, "json") else dict(p)


def end_offsets(query) -> dict[int, int]:
    """End offsets by shard of the query's last trigger ({} before one)."""
    last = query.lastProgress
    if last is None:
        return {}
    return _offsets((as_dict(last).get("sources") or [{}])[0].get("endOffset"))


def progress(query) -> list[dict]:
    """Per-trigger records of a streaming query, in batch order: batch id,
    start and end (epoch seconds), ``durationMs`` phases, ``numInputRows``
    and the source's start and end offsets by shard."""
    out = {}
    for p in query.recentProgress:
        d = as_dict(p)
        src = (d.get("sources") or [{}])[0]
        start = _epoch(d["timestamp"])
        dur = {k: float(v) for k, v in (d.get("durationMs") or {}).items()}
        out[d["batchId"]] = {
            "batch_id": d["batchId"],
            "start": start,
            "end": start + dur.get("triggerExecution", 0.0) / 1000.0,
            "duration_ms": dur,
            "input_rows": int(d.get("numInputRows") or 0),
            "start_offsets": _offsets(src.get("startOffset")),
            "end_offsets": _offsets(src.get("endOffset")),
        }
    return [out[k] for k in sorted(out)]


def nonempty(triggers: list[dict]) -> list[dict]:
    return [t for t in triggers if t["end_offsets"] and t["end_offsets"] != t["start_offsets"]]


def phase_metrics(triggers: list[dict], prefix: str = "stream") -> dict[str, float]:
    """Median and sum of the micro-batch phases over the given triggers."""
    out = {}
    for key, name in (
        ("addBatch", "add_batch_ms"),
        ("queryPlanning", "query_planning_ms"),
        ("walCommit", "wal_commit_ms"),
        ("commitOffsets", "commit_offsets_ms"),
    ):
        vals = [t["duration_ms"].get(key, 0.0) for t in triggers] or [0.0]
        out[f"{prefix}.{name}_p50"] = harness.median(vals)
        out[f"{prefix}.{name}_sum"] = sum(vals)
    lat = [t["duration_ms"].get("latestOffset", 0.0) for t in triggers] or [0.0]
    out[f"{prefix}.latest_offset_ms"] = harness.median(lat)
    return out


def trace_triggers(tracer, triggers: list[dict], parent, clock_offset: float,
                   sink_layer: str) -> dict[int, int]:
    """Record each trigger and its progress phases as spans (retroactively:
    progress events carry epoch times, spans use ``perf_counter``; the
    offset converts). Returns batch id → its ``addBatch`` span."""
    add_batch: dict[int, int] = {}
    if not tracer.enabled:
        return add_batch
    for t in triggers:
        s = t["start"] - clock_offset
        tid = tracer.add(f"trigger {t['batch_id']}", "micro-batch", s,
                         t["end"] - clock_offset, parent, rows=t["input_rows"])
        cur = s
        for key in ("latestOffset", "queryPlanning", "walCommit", "addBatch", "commitOffsets"):
            ms = t["duration_ms"].get(key)
            if ms:
                layer = {
                    "latestOffset": "sources.logstore.reader",
                    "addBatch": sink_layer,
                }.get(key, "micro-batch")
                sid = tracer.add(key, layer, cur, cur + ms / 1000.0, tid)
                if key == "addBatch":
                    add_batch[t["batch_id"]] = sid
                cur += ms / 1000.0
    return add_batch
