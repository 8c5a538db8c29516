"""The analytics mix: the 17 headline registry queries as a layer probe.

It runs in the traced run of ``ingest_drain`` only, after the stream, on
tables the seed generates. It is not a workload of its own: one run of it
(boot, a checked pass and timed passes) outlasts the share of the
benchmark's time budget a workload gets on a 4-CPU host.
"""

from __future__ import annotations

import math
import os
import random
import time

import gen

SF = 0.01
HEADLINE = (
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_local_supplier_volume",
    "q07_volume_shipping",
    "q10_returned_items",
    "q13_top_orders_per_customer",
    "l02_tumbling_window_hourly",
    "l07_sessionize",
    "l11_session_window_native",
    "e02_daily_error_rate",
    "d01_exact_dedup",
    "d03_minhash_signatures",
    "s01_cosine_topk",
    "s03_cosine_neardup_pairs",
    "t01_text_stats",
    "m01_multimodal_decode",
    "sr01_logstore_typed_agg",
)

def _norm(rows, cols):
    """Order-free, column-name-sorted rendering of a result (floats to nine
    significant digits), the comparison the registry's oracle contract
    uses."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(
            f"{v:.9g}" if isinstance(v, float) and not math.isnan(v) else str(v)
            for v in (r[i] for i in order)
        )
        for r in rows
    )


def results_match(spark_cols, spark_rows, oracle_cols, oracle_rows) -> bool:
    return (
        sorted(spark_cols) == sorted(oracle_cols)
        and len(spark_rows) == len(oracle_rows)
        and _norm(spark_rows, spark_cols) == _norm(oracle_rows, oracle_cols)
    )


def _oracle(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')")
    return con


def _rest_stages(spark, group: str) -> tuple[int, int, float]:
    """(stages run, shuffle bytes read + written, executor CPU seconds) of
    the jobs in ``group``, from Spark's monitoring REST API."""
    import json
    import urllib.request

    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(path):
        with urllib.request.urlopen(base + path, timeout=10) as r:
            return json.load(r)

    jobs = [j for j in get("/jobs") if j.get("jobGroup") == group]
    ids = {s for j in jobs for s in j.get("stageIds", [])}
    stages = [s for s in get("/stages") if s["stageId"] in ids and s["status"] == "COMPLETE"]
    return (
        len(stages),
        sum(s.get("shuffleReadBytes", 0) + s.get("shuffleWriteBytes", 0) for s in stages),
        sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
    )


def registry_layers(ctx) -> dict[str, float]:
    """Per-query metrics of the 17 headline queries on seeded tables.

    A collecting pass checks each result against the query's DuckDB oracle
    (one operation each) and pays the one-time code generation. One timed
    pass follows, in a seeded order, each result ``noop``-materialized:
    ``build_ms`` is the call that returns the DataFrame, ``run_s`` the write.
    Stage count, shuffle bytes and executor CPU come from the monitoring REST
    API, so the traced run's session must have the UI enabled."""
    from spark_streaming_logservice_spark import registry

    registry.load_all()
    spark, tracer, ops = ctx.spark, ctx.tracer, ctx.ops
    sf_dir = os.path.join(ctx.work, "tables")
    with tracer.span("generate tables", "generator"):
        gen.write_tables(gen.analytics_tables(ctx.seed, SF), sf_dir)

    con = _oracle(sf_dir)
    with tracer.span("check pass", "harness"):
        for name in HEADLINE:
            with tracer.span(name, "registry"):
                try:
                    df = registry.QUERIES[name](spark, sf_dir)
                    rows = [tuple(r) for r in df.collect()]
                    res = con.execute(registry.ORACLES[name])
                    ok = results_match(df.columns, rows,
                                       [d[0] for d in res.description], res.fetchall())
                    ops.check(f"{name} oracle", ok, "result differs from the DuckDB oracle")
                except Exception as e:  # noqa: BLE001 - a failing query is a failed op
                    ops.check(f"{name} oracle", False, repr(e)[:200])
    con.close()

    order = list(HEADLINE)
    random.Random(ctx.seed).shuffle(order)
    layers: dict[str, float] = {}
    with tracer.span("timed pass", "harness"):
        for name in order:
            spark.sparkContext.setJobGroup(name, name)
            with tracer.span(name, "registry"):
                try:
                    t0 = time.perf_counter()
                    with tracer.span("build", "operators"):
                        df = registry.QUERIES[name](spark, sf_dir)
                    t1 = time.perf_counter()
                    with tracer.span("noop write", "spark"):
                        df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                    ops.ok()
                except Exception as e:  # noqa: BLE001
                    ops.check(name, False, repr(e)[:200])
                    continue
            layers[f"{name}.build_ms"] = (t1 - t0) * 1000
            layers[f"{name}.run_s"] = t2 - t1
    spark.sparkContext.setJobGroup("harness", "harness")
    time.sleep(1.0)  # let the status listener catch up with the last jobs
    for name in HEADLINE:
        n, shuffle, cpu_s = _rest_stages(spark, name)
        layers[f"{name}.stages"] = n
        layers[f"{name}.shuffle_bytes"] = shuffle
        layers[f"{name}.executor_cpu_s"] = cpu_s
    return layers
