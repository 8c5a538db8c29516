"""Shared machinery of the benchmark: host sizing, process-tree CPU, tracing,
percentiles, latency attribution and the result record.

Nothing here imports pyspark or the program under test, so the unit tests of
these helpers run without a JVM.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import platform
import sys
import threading
import time
import uuid
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
WORK_ROOT = os.path.join(ROOT, ".bench_work")
PACKAGE = "spark_streaming_logservice_spark"


# --------------------------------------------------------------------------
# statistics

def quantile(values, q: float) -> float:
    """Linear-interpolation quantile (numpy's default) of a non-empty
    sequence; ``q`` in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of an empty sequence")
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"q out of range: {q}")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return quantile(values, 0.5)


def another_fits(durations, budget: float) -> bool:
    """Whether one more unit of work, as long as the median one so far,
    still ends within ``budget`` seconds of measured time. The first unit
    always runs, so a run measures as many whole units as fit, at least
    one."""
    return not durations or sum(durations) + median(durations) <= budget


def weighted_quantile(pairs, q: float) -> float:
    """Quantile of ``(value, weight)`` pairs: the smallest value whose
    cumulative weight reaches ``q`` of the total."""
    items = sorted((v, w) for v, w in pairs if w > 0)
    if not items:
        raise ValueError("weighted quantile of no weight")
    total = sum(w for _, w in items)
    need = q * total
    acc = 0
    for v, w in items:
        acc += w
        if acc >= need:
            return v
    return items[-1][0]


def spread(values) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median) with the quartiles of
    ``statistics.quantiles(values, n=4)``."""
    import statistics

    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


# --------------------------------------------------------------------------
# latency attribution

def attribute_latency(segments, batches):
    """Weighted latency samples ``[(seconds, n_records), ...]``.

    ``segments``: ``(shard, seq_lo, seq_hi, created_at)`` — records with seqs
    ``[seq_lo, seq_hi)`` stamped at ``created_at``. ``batches``:
    ``(end_offsets, returned_at)`` in batch order, where ``end_offsets`` maps
    shard to the batch's half-open end seq. A record is covered by the first
    batch whose end offset on its shard passes its seq; its latency runs
    from its stamp to that batch's return. Records no batch covers are
    returned as the second element, as a count."""
    samples = []
    uncovered = 0
    for shard, lo, hi, created in segments:
        cur = lo
        for ends, returned in batches:
            if cur >= hi:
                break
            end = ends.get(shard, 0)
            if end > cur:
                top = min(end, hi)
                samples.append((returned - created, top - cur))
                cur = top
        uncovered += max(0, hi - cur)
    return samples, uncovered


# --------------------------------------------------------------------------
# tracing

@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    layer: str
    start: float
    end: float
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. Disabled, ``span`` costs one branch and
    records nothing; enabled, spans nest per thread and may name an explicit
    parent (callbacks on other threads)."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.trace_id = uuid.uuid4().hex
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0

    def _new_id(self) -> int:
        with self._lock:
            self._next += 1
            return self._next

    def current(self) -> int | None:
        stack = getattr(self._local, "stack", None)
        return stack[-1] if stack else None

    @contextlib.contextmanager
    def span(self, name: str, layer: str, parent: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        sid = self._new_id()
        par = parent if parent is not None else self.current()
        stack = self._local.__dict__.setdefault("stack", [])
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, par, name, layer, start, end, attrs))

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int | None, **attrs) -> int | None:
        """Record a span measured elsewhere (a trigger's progress phases)."""
        if not self.enabled:
            return None
        sid = self._new_id()
        with self._lock:
            self.spans.append(Span(sid, parent, name, layer, start, end, attrs))
        return sid

    def reparent(self, span_id: int, parent: int) -> None:
        """Move a span under a parent recorded after it (a foreachBatch call
        under its trigger's ``addBatch`` phase)."""
        with self._lock:
            for s in self.spans:
                if s.id == span_id:
                    s.parent = parent

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    "trace_id": self.trace_id,
                    "spans": [s.__dict__ for s in sorted(self.spans, key=lambda s: s.start)],
                },
                f,
            )


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    segs = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total = 0.0
    cur_a = cur_b = None
    for a, b in segs:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans) -> dict[int, float]:
    """Span id → its duration minus the part of it its children cover."""
    children: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - _covered(children.get(s.id, ()), s.start, s.end)
        for s in spans
    }


def layer_self_times(spans) -> dict[str, float]:
    out: dict[str, float] = {}
    st = self_times(spans)
    for s in spans:
        out[s.layer] = out.get(s.layer, 0.0) + st[s.id]
    return out


# --------------------------------------------------------------------------
# process-tree CPU from /proc

_TICK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def _proc_table() -> dict[int, tuple[int, str, float, str]]:
    """pid → (ppid, comm, cpu seconds incl. reaped children, cmdline head)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read(400).replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        comm = raw[raw.index("(") + 1: raw.rindex(")")]
        rest = raw[raw.rindex(")") + 2:].split()
        # fields after comm: state ppid ... utime(12) stime(13) cutime(14) cstime(15)
        ppid = int(rest[1])
        ticks = sum(int(x) for x in rest[11:15])
        out[int(name)] = (ppid, comm, ticks / _TICK, cmd)
    return out


def tree_cpu(root_pid: int | None = None) -> dict[str, float]:
    """CPU seconds of the process tree under ``root_pid`` by kind: ``driver``
    (the benchmark's own process), ``jvm`` and ``pyworker`` (Python workers
    the JVM started). Reaped children count in their parent's total."""
    root = root_pid or os.getpid()
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}

    def walk(pid: int, under_jvm: bool) -> None:
        ppid, comm, cpu, cmd = table[pid]
        if pid == root:
            kind = "driver"
        elif comm == "java":
            kind, under_jvm = "jvm", True
        elif under_jvm and "python" in comm:
            kind = "pyworker"
        else:
            kind = "jvm" if under_jvm else "driver"
        out[kind] += cpu
        for k in kids.get(pid, ()):
            walk(k, under_jvm)

    if root in table:
        walk(root, False)
    return out


def descendants(root_pid: int | None = None) -> list[int]:
    root = root_pid or os.getpid()
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


class CpuWindow:
    """CPU seconds by kind between ``start()`` and ``stop()``, summed over
    any number of windows."""

    def __init__(self) -> None:
        self.total = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
        self._t0 = None

    def start(self) -> None:
        self._t0 = tree_cpu()

    def stop(self) -> dict[str, float]:
        t1 = tree_cpu()
        delta = {k: max(0.0, t1[k] - self._t0[k]) for k in t1}
        for k, v in delta.items():
            self.total[k] += v
        self._t0 = None
        return delta


# --------------------------------------------------------------------------
# host sizing and fingerprint

def host_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_times() -> list[int]:
    """The host's aggregate CPU time counters (ticks) from ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time the hypervisor gave to other guests
    between two ``cpu_times`` readings."""
    d = [y - x for x, y in zip(before, after)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) > 0 else 0.0


def source_revision() -> str:
    """The git commit when the tree is a checkout with ``.git``; otherwise a
    hash of the program's sources, so records of different code never
    compare."""
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return "git:" + f.read().strip()
        return "git:" + ref
    except OSError:
        pass
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, PACKAGE)
    for dirpath, dirnames, filenames in sorted(os.walk(pkg)):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                p = os.path.join(dirpath, name)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return "src:" + h.hexdigest()[:16]


def fingerprint() -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": host_cpus(),
        "mem_mb": host_mem_mb(),
        "loadavg_before": loadavg(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "revision": source_revision(),
    }


def prepare_environment(work: str, spark_threads: int) -> dict[str, str]:
    """Point every scratch location of Python, Spark and the JVM inside the
    run's work directory, size Spark to the host, and let Python workers
    import the program. Must run before the first SparkSession."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    mem_mb = min(4096, host_mem_mb() // 4)
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": local,
            "SPARK_GRAFT_CPUS": str(spark_threads),
            "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
            "PYTHONPATH": os.pathsep.join(
                [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
            ),
            "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON", sys.executable),
        }
    )
    tempfile.tempdir = None
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
        "spark.ui.showConsoleProgress": "false",
        "spark.python.worker.reuse": "true",
    }


# --------------------------------------------------------------------------
# the result

class Ops:
    """Attempted/failed operation counter. Operations are triggers, queries
    and correctness checks; a failure records its reason."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def ok(self, n: int = 1) -> None:
        self.attempted += n

    def check(self, name: str, passed: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not passed:
            self.failed += 1
            self.reasons.append(f"{name}: {detail}" if detail else name)
        return passed


def result_line(ops: Ops, metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps(
        {
            "correct": ops.failed == 0,
            "attempted": ops.attempted,
            "failed": ops.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    )


def load_benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)
