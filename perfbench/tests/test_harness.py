"""Tests of the benchmark's own helpers; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import statistics

import numpy as np
import pytest

import analytics_mix
import gen
import harness
import ingest_drain
import live_rollup


# --- seeded generators ------------------------------------------------------

def _tables_equal(a, b) -> bool:
    return len(a) == len(b) and all(x.equals(y) for x, y in zip(a, b))


def test_log_files_same_seed_same_inputs():
    assert _tables_equal(gen.log_files(7, 3, 500), gen.log_files(7, 3, 500))


def test_log_files_other_seed_other_inputs():
    assert not _tables_equal(gen.log_files(7, 3, 500), gen.log_files(8, 3, 500))


def test_log_files_shape():
    files = gen.log_files(3, 4, 1000)
    assert [t.num_rows for t in files] == [1000] * 4
    truth = gen.log_truth(files, 4)
    assert truth["rows"] == 4000 and sum(truth["per_shard"]) == 4000
    # Zipf hosts make the shards uneven
    assert max(truth["per_shard"]) > 1.2 * min(truth["per_shard"])
    secs = np.concatenate([t.column("ts").cast("int64").to_numpy() for t in files]) // 10**6
    out_of_order = np.mean(np.diff(secs) < 0)
    assert 0.005 < out_of_order < 0.05


def test_analytics_tables_deterministic():
    a = gen.analytics_tables(5, 0.001)
    b = gen.analytics_tables(5, 0.001)
    c = gen.analytics_tables(6, 0.001)
    assert a.keys() == b.keys() == set(analytics_mix_tables())
    assert all(a[k].equals(b[k]) for k in a)
    assert not all(a[k].equals(c[k]) for k in a)


def analytics_mix_tables():
    return ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
            "events", "documents", "embeddings")


def test_live_segment_deterministic():
    a = gen.live_segment(1, 10, 2, 300)
    b = gen.live_segment(1, 10, 2, 300)
    c = gen.live_segment(2, 10, 2, 300)
    assert all(np.array_equal(a[k], b[k]) for k in a)
    assert not all(np.array_equal(a[k], c[k]) for k in a)


# --- percentiles -------------------------------------------------------------

@pytest.mark.parametrize("q", [0.0, 0.1, 0.25, 0.5, 0.9, 1.0])
def test_quantile_matches_numpy(q):
    xs = [5.0, 1.0, 9.0, 3.0, 7.5, 2.25, 8.0]
    assert harness.quantile(xs, q) == pytest.approx(float(np.quantile(xs, q)))


def test_quantile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        harness.quantile([], 0.5)
    with pytest.raises(ValueError):
        harness.quantile([1.0], 1.5)


def test_weighted_quantile_expands_weights():
    pairs = [(10.0, 3), (1.0, 1), (5.0, 6)]
    expanded = sorted([10.0] * 3 + [1.0] + [5.0] * 6)
    assert harness.weighted_quantile(pairs, 0.5) == 5.0
    assert harness.weighted_quantile(pairs, 0.9) == 10.0
    assert harness.weighted_quantile(pairs, 0.1) == expanded[0]
    assert harness.weighted_quantile(pairs, 0.7) == 5.0


def test_spread_uses_statistics_quartiles():
    xs = [1.0, 2.0, 4.0, 8.0, 16.0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    assert harness.spread(xs) == (med, q1, q3, (q3 - q1) / med)


def test_steal_share():
    before = [100, 0, 10, 500, 0, 0, 0, 20]
    after = [160, 0, 20, 520, 0, 0, 0, 30]
    assert harness.steal_share(before, after) == pytest.approx(10 / 100)
    assert harness.steal_share(before, before) == 0.0


# --- span self time ----------------------------------------------------------

def _span(i, parent, start, end, layer="x"):
    return harness.Span(i, parent, f"s{i}", layer, start, end)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(1, None, 0.0, 10.0, "root"),
        _span(2, 1, 1.0, 4.0, "a"),
        _span(3, 1, 3.0, 6.0, "b"),  # overlaps span 2: union 1..6
        _span(4, 1, 9.0, 12.0, "c"),  # sticks out of the parent: clipped at 10
        _span(5, 2, 2.0, 3.0, "d"),
    ]
    st = harness.self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(3.0)
    assert st[5] == pytest.approx(1.0)
    by_layer = harness.layer_self_times(spans)
    assert by_layer == pytest.approx({"root": 4.0, "a": 2.0, "b": 3.0, "c": 3.0, "d": 1.0})


def test_tracer_nests_and_records_nothing_when_disabled():
    t = harness.Tracer(True)
    with t.span("outer", "harness") as outer:
        with t.span("inner", "session") as inner:
            pass
    by_id = {s.id: s for s in t.spans}
    assert by_id[inner].parent == outer and by_id[outer].parent is None
    off = harness.Tracer(False)
    with off.span("outer", "harness") as sid:
        assert sid is None
    assert off.spans == []


# --- latency attribution ----------------------------------------------------

def test_attribute_latency_splits_segments_at_batch_ends():
    segments = [(0, 0, 10, 100.0), (1, 0, 4, 100.5), (0, 10, 20, 101.0)]
    batches = [({0: 6, 1: 0}, 102.0), ({0: 15, 1: 4}, 103.0), ({0: 20, 1: 4}, 104.0)]
    samples, uncovered = harness.attribute_latency(segments, batches)
    assert uncovered == 0
    assert sorted(samples) == sorted([
        (2.0, 6), (3.0, 4),  # shard 0, seqs 0..5 then 6..9
        (2.5, 4),  # shard 1 waits for the second batch
        (2.0, 5), (3.0, 5),  # shard 0, seqs 10..14 then 15..19
    ])


def test_attribute_latency_counts_uncovered_records():
    samples, uncovered = harness.attribute_latency([(0, 0, 10, 0.0)], [({0: 7}, 1.0)])
    assert samples == [(1.0, 7)] and uncovered == 3


# --- corrupted outputs fail the checks ---------------------------------------

def _drained_parts(files, n_shards=4):
    """``(shard, rows, digest sum)`` per file and shard, as the check drain's
    batches hand them over."""
    parts = []
    for t in files:
        acc = {}
        for h, m in zip(t.column("host").to_pylist(), t.column("msg").to_pylist()):
            n, d = acc.get(gen.md5_shard(h, n_shards), (0, 0))
            acc[gen.md5_shard(h, n_shards)] = (n + 1, d + gen.row_digest(h, m))
        parts.extend((s, n, d) for s, (n, d) in acc.items())
    return parts


def _failed(checks):
    return {name for name, ok, _d in checks if not ok}


def test_drain_check_passes_on_true_output_and_fails_on_corruption():
    files = gen.log_files(2, 3, 300)
    truth = gen.log_truth(files, 4)
    parts = _drained_parts(files)
    assert _failed(ingest_drain.verify_drained(parts, truth)) == set()

    # a duplicated batch, or a short drain, fails count, checksum and routing
    every = {"drained row count", "drained (host, msg) checksum",
             "per-shard counts match md5 routing"}
    assert _failed(ingest_drain.verify_drained(parts + parts[:1], truth)) == every
    assert _failed(ingest_drain.verify_drained(parts[1:], truth)) == every

    # one changed message: the count holds, the checksum does not
    shard, n, d = parts[0]
    assert _failed(ingest_drain.verify_drained([(shard, n, d + 1)] + parts[1:], truth)) == {
        "drained (host, msg) checksum"}

    # a row delivered under the wrong shard
    moved = [(shard, n - 1, d), ((shard + 1) % 4, 1, 0)] + parts[1:]
    assert _failed(ingest_drain.verify_drained(moved, truth)) == {
        "per-shard counts match md5 routing"}


def test_drain_read_check_fails_on_short_or_duplicated_reads():
    truth = {"rows": 300}
    covered = [100, 100, 100]
    assert _failed(ingest_drain.verify_reads([100, 100, 100], covered, truth)) == set()
    assert _failed(ingest_drain.verify_reads([100, 200, 100], covered, truth)) == {
        "each drain trigger read its range's rows"}
    assert _failed(ingest_drain.verify_reads([100, 99, 100], covered, truth)) == {
        "each drain trigger read its range's rows"}
    assert _failed(ingest_drain.verify_reads([100, 100], covered[:2], truth)) == {
        "drain offsets cover every stored row once"}


def test_rollup_check_fails_on_corruption():
    log = []
    for tick in range(3):
        for shard in range(2):
            p = gen.live_segment(9, tick, shard, 400)
            log.append((tick, shard, 0, 400, 0.0, 1_700_000_000 + tick * 30, p))
    want = live_rollup.expected_rollup(log)
    assert sum(n for n, _e in want.values()) == 2400
    assert len(want) > 2  # late records land in earlier minutes
    assert live_rollup.rollup_diff(dict(want), want) == 0
    bad = dict(want)
    k = next(iter(bad))
    bad[k] = (bad[k][0] + 1, bad[k][1])
    assert live_rollup.rollup_diff(bad, want) == 1
    del bad[k]
    assert live_rollup.rollup_diff(bad, want) == 1


def test_oracle_comparison_fails_on_corruption():
    cols, rows = ["b", "a"], [(1.5, "x"), (2.0, "y")]
    ocols, orows = ["a", "b"], [("y", 2.0), ("x", 1.5)]
    assert analytics_mix.results_match(cols, rows, ocols, orows)
    assert not analytics_mix.results_match(cols, [(1.5, "x"), (2.5, "y")], ocols, orows)
    assert not analytics_mix.results_match(cols, rows[:1], ocols, orows)
    assert not analytics_mix.results_match(["b", "c"], rows, ocols, orows)
