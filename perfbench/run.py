"""Benchmark entry point.

    python3 perfbench/run.py --live-rate <records/s> --workload <name> --seed <n>
        --seconds <s> --trace <0|1>

Runs one workload of ``BENCHMARK.json`` from the repository root, checks the
program's outputs, prints every metric by name and unit, and ends with one
JSON line: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). A traced run also writes its spans and prints the self time
of each layer and the tracing overhead against the untraced record of the
same workload and seed, when one exists. ``--live-rate`` is the offered
rate of ``live_rollup``; ``BENCHMARK.json``'s command sets it.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time
import traceback

import harness

WORKLOADS = ("ingest_drain", "live_rollup")
# Set-ups per run. The first pays the JVM launch (reported alone as
# session.boot_s); setup_s is the median of the warm ones after it.
SETUPS = 4


class Context:
    """What a workload needs: its seed and time budget, the tracer, the
    operation counter, and the session it may restart during set-up."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 work: str, conf: dict[str, str], live_rate: int | None) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.live_rate = live_rate
        self.trace = trace
        self.work = work
        self.conf = dict(conf)
        if trace:
            self.conf.update({
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            })
        self.tracer = harness.Tracer(trace)
        self.ops = harness.Ops()
        self.spark = None
        self.boot_s = None
        # epoch seconds minus perf_counter seconds: converts progress-event
        # times into span times
        self.clock_offset = time.time() - time.perf_counter()

    def setup(self, generate) -> tuple[float, object]:
        """Boot the session and generate the inputs ``SETUPS`` times;
        returns the median seconds of the warm set-ups (all but the first)
        and the last inputs."""
        import spark_env

        times, inputs = [], None
        for i in range(SETUPS):
            if self.spark is not None:
                spark_env.stop(self.spark)
                self.spark = None
            with self.tracer.span(f"setup {i}", "harness"):
                t0 = time.perf_counter()
                with self.tracer.span("boot", "session"):
                    self.spark = spark_env.boot(self.conf)
                boot = time.perf_counter() - t0
                with self.tracer.span("generate", "generator"):
                    inputs = generate(i)
                times.append(time.perf_counter() - t0)
            if self.boot_s is None:
                self.boot_s = boot
        return harness.median(times[1:]), inputs


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--live-rate", type=int,
                   help="offered records per second of live_rollup, all shards together")
    args = p.parse_args(argv)
    if args.workload == "live_rollup" and not args.live_rate:
        p.error("live_rollup needs --live-rate")
    return args


def _print_table(title: str, rows) -> None:
    print(title)
    for name, value, unit in rows:
        print(f"  {name:<44} {value:>16.6g} {unit}")


def main(argv=None) -> int:
    args = _parse(argv)
    spec = harness.load_benchmark_spec()
    sys.path.insert(1, harness.ROOT)
    try:
        importlib.import_module(harness.PACKAGE)
    except ImportError as e:
        print(f"perfbench: the program package is not importable: {e}", file=sys.stderr)
        return 2
    module = importlib.import_module(args.workload)

    work = os.path.join(harness.WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    spark_threads = max(1, harness.host_cpus() - module.LOAD_THREADS)
    conf = harness.prepare_environment(work, spark_threads)
    fp = harness.fingerprint()
    ticks0 = harness.cpu_times()
    fp["spark_threads"] = spark_threads
    ctx = Context(args.workload, args.seed, args.seconds, bool(args.trace), work, conf,
                  args.live_rate)

    import spark_env

    try:
        with ctx.tracer.span(args.workload, "harness"):
            e2e, layers = module.run(ctx)
    except Exception:  # noqa: BLE001 - a crashed workload prints no result
        traceback.print_exc()
        spark_env.shutdown(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
        return 1
    spark_env.shutdown(ctx.spark)
    shutil.rmtree(work, ignore_errors=True)
    fp["loadavg_after"] = harness.loadavg()
    fp["steal_share"] = harness.steal_share(ticks0, harness.cpu_times())

    e2e_units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    unknown = (set(e2e) - set(e2e_units)) | (set(layers) - set(layer_units))
    missing = set(e2e_units) - set(e2e)
    if unknown or missing:
        raise SystemExit(f"metric names out of step with BENCHMARK.json: "
                         f"unknown {sorted(unknown)}, missing {sorted(missing)}")
    layers = {name: float(layers.get(name, 0.0)) for name in layer_units}

    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds:g} "
          f"trace {args.trace}")
    print("host " + json.dumps(fp, sort_keys=True))
    _print_table("end-to-end", [(k, e2e[k], e2e_units[k]) for k in e2e_units])
    op_fail_ratio = ctx.ops.failed / max(1, ctx.ops.attempted)
    print(f"  {'op_fail_ratio':<44} {op_fail_ratio:>16.6g} ratio "
          f"({ctx.ops.failed} of {ctx.ops.attempted} operations failed)")
    for reason in ctx.ops.reasons:
        print(f"  FAILED {reason}")
    print("correct" if ctx.ops.failed == 0 else "INCORRECT")

    records = os.path.join(harness.WORK_ROOT, "records")
    os.makedirs(records, exist_ok=True)
    stem = os.path.join(records, f"{args.workload}-seed{args.seed}")
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "host": fp, "end_to_end": e2e, "per_layer": layers,
              "attempted": ctx.ops.attempted, "failed": ctx.ops.failed}
    if args.trace:
        _print_table("per-layer", [(k, layers[k], layer_units[k]) for k in layer_units])
        _report_trace(ctx, stem, e2e, e2e_units)
        with open(stem + "-traced.json", "w") as f:
            json.dump(record, f, indent=1)
        metrics = {k: (layers[k], layer_units[k]) for k in layer_units}
    else:
        with open(stem + ".json", "w") as f:
            json.dump(record, f, indent=1)
        metrics = {k: (e2e[k], e2e_units[k]) for k in e2e_units}
    sys.stdout.flush()
    print(harness.result_line(ctx.ops, metrics))
    return 0


def _report_trace(ctx: Context, stem: str, e2e: dict, units: dict) -> None:
    spans_path = stem + "-spans.json"
    ctx.tracer.dump(spans_path)
    print(f"spans {spans_path} ({len(ctx.tracer.spans)} spans, trace {ctx.tracer.trace_id})")
    by_layer = harness.layer_self_times(ctx.tracer.spans)
    _print_table("self time by layer", [(k, v, "s") for k, v in
                                        sorted(by_layer.items(), key=lambda kv: -kv[1])])
    try:
        with open(stem + ".json") as f:
            untraced = json.load(f)["end_to_end"]
    except (OSError, ValueError, KeyError):
        print("tracing overhead: no untraced record of this workload and seed")
        return
    _print_table("tracing overhead (traced minus untraced)",
                 [(k, e2e[k] - untraced[k], units[k]) for k in units if k in untraced])


if __name__ == "__main__":
    sys.exit(main())
