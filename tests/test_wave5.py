"""Round-5 operator units: CDC collapse semantics, PageRank on a known
graph, salted-join equivalence, and the multi-resolution rollup identity.
Oracle parity for the registered queries lives in test_oracle_parity.py;
these tests pin the semantics on hand-built inputs where the expected
answer is known in closed form.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_streaming_logservice_spark.operators.cdc import (
    scd2_intervals,
    upsert_latest,
)
from spark_streaming_logservice_spark.operators.graph import pagerank
from spark_streaming_logservice_spark.operators.skew import salted_join


def test_scd2_intervals_chain(spark):
    changes = spark.createDataFrame(
        [(1, 10, 100.0), (1, 20, 200.0), (2, 15, 50.0)],
        "key INT, ts INT, value DOUBLE",
    ).withColumn("cid", F.col("ts"))
    out = {
        (r["key"], r["valid_from"]): (r["valid_to"], r["is_current"])
        for r in scd2_intervals(changes, "key", "ts", "cid").collect()
    }
    assert out[(1, 10)] == (20, False)
    assert out[(1, 20)] == (None, True)
    assert out[(2, 15)] == (None, True)


def test_upsert_latest_ties_break_on_tiebreak(spark):
    # two updates at the same ts: the higher tiebreak id wins
    changes = spark.createDataFrame(
        [(1, 10, 7, "a"), (1, 10, 9, "b"), (1, 5, 1, "c")],
        "key INT, ts INT, cid INT, v STRING",
    )
    rows = upsert_latest(changes, "key", "ts", "cid").collect()
    assert len(rows) == 1 and rows[0]["v"] == "b"


def test_pagerank_two_node_cycle(spark):
    # a↔b cycle: every iteration maps pr=1 to 0.15+0.85*1 = 1.0 exactly
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src STRING, dst STRING"
    )
    ranks = {r["node"]: r["pr"] for r in pagerank(edges, iterations=3).collect()}
    assert ranks["a"] == pytest.approx(1.0)
    assert ranks["b"] == pytest.approx(1.0)


def test_pagerank_star_sink(spark):
    # a,b,c all point at d; d dangles. After 1 iter: d = 0.15+0.85*3 = 2.7,
    # sources = 0.15. Iter 2+: d = 0.15+0.85*(3*0.15) = 0.5325 (stable).
    edges = spark.createDataFrame(
        [("a", "d"), ("b", "d"), ("c", "d")], "src STRING, dst STRING"
    )
    r1 = {r["node"]: r["pr"] for r in pagerank(edges, iterations=1).collect()}
    assert r1["d"] == pytest.approx(2.7)
    assert r1["a"] == pytest.approx(0.15)
    r2 = {r["node"]: r["pr"] for r in pagerank(edges, iterations=2).collect()}
    assert r2["d"] == pytest.approx(0.15 + 0.85 * 3 * 0.15)


def test_salted_join_equals_plain_join(spark):
    fact = spark.range(0, 1000).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("payload")
    )
    dim = spark.createDataFrame(
        [(i, f"d{i}") for i in range(7)], "k LONG, label STRING"
    )
    salted = salted_join(fact, dim, on="k", spread_col="payload", n=4)
    plain = fact.join(dim, "k")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))
    assert "__salt__" not in salted.columns


def test_multires_rollup_levels_are_consistent(spark, sf_dir):
    from spark_streaming_logservice_spark.operators.events2 import (
        e07_multires_rollup,
    )

    rows = e07_multires_rollup(spark, sf_dir).collect()
    by_res: dict[str, int] = {}
    for r in rows:
        by_res[r["resolution"]] = by_res.get(r["resolution"], 0) + r["n_events"]
    # every level re-aggregates the same corpus: totals must agree exactly
    assert by_res["hour"] == by_res["day"]


def test_driver_sample_prefix_is_stalest_first():
    """The driver verifies a 50-query prefix of queries(); the prefix must
    hold the queries with the WEAKEST driver proof: every never-green query
    inside it, and no query outside the prefix staler than one inside
    (green-age monotone across the boundary)."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry

    latest = entry._latest_green_round()
    names = list(entry.queries())
    prefix, rest = names[:50], names[50:]
    never = [q for q in names if latest.get(q, 0) == 0]
    if len(never) <= 50:
        missing = [q for q in never if q not in prefix]
        assert not missing, (
            f"never-driver-green queries outside the 50-prefix: {missing}"
        )
    else:
        # more never-green queries than driver slots (a big build wave):
        # every slot must go to one of them; the rest queue for next round
        assert all(latest.get(q, 0) == 0 for q in prefix), (
            "with >50 never-green queries the whole prefix must be never-green"
        )
    if prefix and rest:
        max_in = max(latest.get(q, 0) for q in prefix)
        min_out = min(latest.get(q, 0) for q in rest)
        assert max_in <= min_out, (
            f"prefix holds a fresher green (r{max_in}) than something outside "
            f"(r{min_out}) — driver sample must rotate to the stalest rows"
        )
