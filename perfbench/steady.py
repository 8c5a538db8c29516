"""Steadiness check: run workloads N times each with consecutive seeds and
print, for each workload and end-to-end metric, the median, the quartiles
and the spread (interquartile range over median) against the metric's
bound.

    python3 perfbench/steady.py --workload ingest_drain --workload live_rollup
        --runs 10 [--first-seed 1] [--out set1.json] [--against set0.json]

With several workloads the runs alternate between them, seed by seed, so
a drift of the host over the set reaches every workload alike.
``--against`` compares the medians with an earlier set saved by ``--out``,
and reports a metric that worsened by more than its bound. Each run is the
command of ``BENCHMARK.json`` with the benchmark's arguments appended.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys

import harness


def one_run(command: list[str], workload: str, seed: int, seconds: int) -> dict:
    cmd = command + ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                     "--trace", "0"]
    proc = subprocess.run(cmd, cwd=harness.ROOT, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"seed {seed} failed ({proc.returncode}):\n{proc.stderr[-3000:]}")
    return json.loads(lines[-1])


def worse_by(metric: dict, old: float, new: float) -> float:
    """How much worse ``new`` is than ``old``, as a share of ``old``."""
    change = (new - old) / old
    return change if metric["better"] == "lower" else -change


def report(spec: dict, results: list[dict], old: dict | None) -> tuple[dict, bool]:
    """Print the table of one workload; returns its medians and whether
    every run was correct, every spread within its bound and no median
    worse than ``old``'s by more than its bound."""
    medians, ok = {}, all(r["correct"] for r in results)
    print(f"{'metric':<20} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        med, q1, q3, spr = harness.spread(vals)
        medians[m["name"]] = med
        verdict = "ok" if spr <= m["bound"] / 3 else "WIDE" if spr <= m["bound"] else "OVER"
        line = (f"{m['name']:<20} {med:>12.6g} {q1:>12.6g} {q3:>12.6g} "
                f"{spr:>8.4f} {m['bound']:>6} {verdict}")
        if old is not None and m["name"] in old:
            w = worse_by(m, old[m["name"]], med)
            line += f"  vs earlier {w:+.4f} {'REGRESSED' if w > m['bound'] else 'ok'}"
            ok = ok and w <= m["bound"]
        ok = ok and spr <= m["bound"]
        print(line)
    return medians, ok


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", action="append", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--out")
    p.add_argument("--against")
    args = p.parse_args(argv)
    spec = harness.load_benchmark_spec()

    results: dict[str, list[dict]] = {w: [] for w in args.workload}
    for i in range(args.runs):
        seed = args.first_seed + i
        for w in args.workload:
            r = one_run(spec["command"], w, seed, spec["run_seconds"])
            results[w].append(r)
            print(f"{w} seed {seed}: correct={r['correct']} failed={r['failed']}/{r['attempted']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                  flush=True)

    old = {}
    if args.against:
        with open(args.against) as f:
            old = json.load(f)
    saved, ok = {}, True
    for w, runs in results.items():
        print(f"\n{w}")
        medians, w_ok = report(spec, runs, old.get(w, {}).get("medians"))
        saved[w] = {"medians": medians, "runs": runs}
        ok = ok and w_ok
    if args.out:
        with open(args.out, "w") as f:
            json.dump(saved, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
