"""The driver verifies the FIRST 50 entries of queries() each round, so the
sample order is the correctness-coverage policy: never-driver-green queries
must sort first, then stalest greens — otherwise new operators could sit
unproven for rounds. Pure-Python check over the real CORRECTNESS artifacts;
no Spark session."""

from __future__ import annotations

import importlib.util
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _entry():
    spec = importlib.util.spec_from_file_location(
        "spark_entry_under_test", os.path.join(_REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules.setdefault("spark_entry_under_test", mod)
    spec.loader.exec_module(mod)
    return mod


def test_never_green_queries_lead_the_driver_sample():
    E = _entry()
    from spark_streaming_logservice_spark import registry

    registry.load_all()
    latest = E._latest_green_round()
    order = E._driver_order(registry.QUERIES)
    assert set(order) == set(registry.QUERIES), "order must be a permutation"
    never = [n for n in registry.QUERIES if n not in latest]
    assert set(order[: len(never)]) == set(never), (
        "every never-driver-green query must appear before any green one"
    )
    # greens are ordered stalest-first after the never-green block
    tail_rounds = [latest[n] for n in order[len(never):]]
    assert tail_rounds == sorted(tail_rounds)


def test_all_oracle_queries_exposed():
    E = _entry()
    from spark_streaming_logservice_spark import registry

    registry.load_all()
    qs, osql = E.queries(), E.oracle_sql()
    assert set(qs) == set(registry.QUERIES)
    assert set(osql) == set(registry.ORACLES)
    assert set(osql) <= set(qs)
