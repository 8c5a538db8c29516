"""bench.py's record contract: the sweep is derived from the registry, its
exclusions are live names with reasons, and the compact stdout line keeps
the headline contract within the driver's tail capture. Pure-python; no
Spark session."""

from __future__ import annotations

import importlib.util
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CONTRACT = ("metric", "value", "unit", "queries", "sf", "runs", "agg")


def _bench():
    if _REPO not in sys.path:
        sys.path.insert(0, _REPO)
    spec = importlib.util.spec_from_file_location(
        "bench_under_test", os.path.join(_REPO, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules.setdefault("bench_under_test", mod)
    spec.loader.exec_module(mod)
    return mod


def _registry():
    from spark_streaming_logservice_spark import registry

    registry.load_all()
    return registry


def test_sweep_is_registry_minus_headline_and_exclusions():
    B, registry = _bench(), _registry()
    sweep = B.sweep_names(registry)
    assert sweep == sorted(
        set(registry.QUERIES) - set(B.HEADLINE) - set(B.SWEEP_EXCLUDE)
    )
    assert set(B.HEADLINE) <= set(registry.QUERIES)
    # every registered query is timed exactly once, or excluded with a reason
    assert len(sweep) + len(B.HEADLINE) + len(B.SWEEP_EXCLUDE) == len(registry.QUERIES)


def test_every_excluded_name_is_registered_with_a_reason():
    B, registry = _bench(), _registry()
    stale = sorted(set(B.SWEEP_EXCLUDE) - set(registry.QUERIES))
    assert not stale, f"SWEEP_EXCLUDE names no registered query: {stale}"
    assert not set(B.SWEEP_EXCLUDE) & set(B.HEADLINE)
    for name, reason in B.SWEEP_EXCLUDE.items():
        assert reason.strip() and "\n" not in reason, name


def test_compact_line_keeps_contract_within_tail_capture():
    B = _bench()
    from perfbench import harness

    out = {
        "metric": "headline_queries_total",
        "value": 9999.999,
        "unit": "sec",
        "queries": {name: 999.999 for name in B.HEADLINE},
        "sf": 0.1,
        "runs": 3,
        "agg": "min",
        "materialize": "noop",
        "cpu_s": {name: 9999.999 for name in B.HEADLINE},
        "host": harness.fingerprint(),
        "data_probe": {"lineitem": 600_000},
        "maintenance": {"rollup": {"rows_per_sec": 1.0}},
        "extra_operators": {"queries": {f"x{i}": 99.999 for i in range(300)}},
        "scale": {"factor": 10, "value": 99999.999, "queries": {}},
    }
    compact = B._compact(out)
    for key in CONTRACT + ("materialize", "host"):
        assert compact[key] == out[key], key
    assert set(compact["queries"]) == set(B.HEADLINE) and len(B.HEADLINE) == 17
    assert "cpu_s" not in compact  # per-query CPU lives in BENCH_DETAIL.json
    assert compact["extras_n"] == 300 and compact["scale_factor"] == 10
    assert len(json.dumps(compact)) <= 1900


_FAKE_SECTION = """
import sys, time
sys.path.insert(0, sys.argv[1])
import bench
out = {"neardup_chain": {"build_sec": 1.5}}
bench._emit(out)
out["extra_operators"] = {"queries": {"x01": 0.25}}
bench._emit(out)
time.sleep(120)  # the 10x replica that never ends
"""


def test_timed_out_section_keeps_partial_result():
    B = _bench()
    t0 = time.monotonic()
    got = B._run_child("sweep", [sys.executable, "-c", _FAKE_SECTION, _REPO], timeout=5)
    assert time.monotonic() - t0 < 60
    assert got["neardup_chain"] == {"build_sec": 1.5}
    assert got["extra_operators"] == {"queries": {"x01": 0.25}}
    assert "TimeoutExpired" in got["error"]


def test_failed_section_without_output_reports_only_error():
    B = _bench()
    got = B._run_child("core", [sys.executable, "-c", "raise SystemExit(3)"], timeout=60)
    assert got == {"error": "section core exited 3"}
