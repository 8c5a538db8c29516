#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ..., "runs": N, "agg": "min",
"materialize": "noop", "host": {...}}. The full record, with each query's
``cpu_s``, goes to BENCH_DETAIL.json.

Headline set: one representative per operator family (scan-agg, multi-join,
window functions, sessionization, event-time windows, dedup, minhash, ANN,
text stats, multimodal pandas stage, the logstore connector). The sweep
section times every other registered query but the few in SWEEP_EXCLUDE,
then the same set at a 10× replica.

Every timed query is materialized in full with a ``noop`` write: a
``.count()`` lets Catalyst prune work the real result needs.

Comparison rule: compare only records whose ``host`` fingerprints match
(nproc, mem_mb and library versions; ``loadavg_before`` and ``revision``
say under what load and on what code the record was taken). When a wall
time moved, read its ``cpu_s`` (driver + JVM + Python workers, of the kept
run): CPU seconds that stayed put mean the host, not the code, moved the
wall time.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

from perfbench import harness

HEADLINE = [
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
    # connector path (Arrow-vectorized logstore source): builds the fixture
    # store on first run — that cost lands in warmup, not the timing
    "sr01_logstore_typed_agg",
]

# Registered queries the sweep leaves out, each with its reason.
SWEEP_EXCLUDE = {
    "d02_ngram_jaccard": "all-pairs over documents: its cost is the tiny "
    "synthetic vocabulary's band collisions, not the engine",
    "d04_minhash_lsh_pairs": "all-pairs over documents, as d02",
}


def sweep_names(registry) -> list[str]:
    """Every registered query outside HEADLINE and SWEEP_EXCLUDE."""
    return sorted(set(registry.QUERIES) - set(HEADLINE) - set(SWEEP_EXCLUDE))


def _materialize(df) -> None:
    """Compute the full result and discard it."""
    df.write.format("noop").mode("overwrite").save()


def _maintenance_bench(spark, tmp_root: str, sf_dir: str, n_batches: int = 4) -> dict:
    """Throughput of the two stateful-maintenance streaming paths over the
    bench-SF tables, driven as foreachBatch calls (the same code path the
    stream executes, without trigger-scheduling noise):
    - incremental rollup (streaming/rollup.py): events split into
      ``n_batches`` micro-batches, each merged into the persistent
      minute-grain table (aggregate + base∪delta re-aggregate + atomic swap).
    - dedup-on-ingest (streaming/dedup_store.py): documents split likewise,
      each batch anti-joined against the accumulated digest store, novel
      rows forwarded (materialized) and their digests appended."""
    import shutil
    import time as _t

    from pyspark.sql import functions as F

    from spark_streaming_logservice_spark.streaming.dedup_store import dedup_on_ingest
    from spark_streaming_logservice_spark.streaming.rollup import (
        incremental_rollup_writer,
    )
    from spark_streaming_logservice_spark.tables import load_table

    out: dict = {}

    events = load_table(spark, sf_dir, "events").select("ts", "event_type", "event_id")
    n_events = events.count()  # warm the scan; rows/s denominator
    from spark_streaming_logservice_spark.streaming import rollup as _R

    # Two full passes into FRESH stores, keep the faster: a single 4-batch
    # pass is dominated by /tmp rename+fsync jitter and moved ±40% across
    # back-to-back runs.
    dt, breakdown = None, {}
    for p in range(2):
        table = os.path.join(tmp_root, f"rollup-table-{p}")
        shutil.rmtree(table, ignore_errors=True)
        writer = incremental_rollup_writer(table)
        _R.TIMINGS = {}
        t0 = _t.perf_counter()
        for b in range(n_batches):
            writer(events.where(F.col("event_id") % n_batches == b), b)
        d1 = _t.perf_counter() - t0
        if dt is None or d1 < dt:
            dt = d1
            breakdown = {k: round(v, 3) for k, v in _R.TIMINGS.items()}
    _R.TIMINGS = None
    out["rollup"] = {
        "rows": n_events,
        "batches": n_batches,
        "runs": 2,
        "agg": "min",
        "sec": round(dt, 3),
        "rows_per_sec": round(n_events / dt, 1),
        # per-phase wall-clock across all batches: probe = dirty-shard
        # distinct over the cached minute partials (the batch's one scan),
        # write = the one merged-output Spark job (base ∪ delta
        # re-aggregate, from the cache), publish = marker + renames.
        "phase_sec": breakdown,
        "note": (
            "sharded-store publish: each batch pays a distinct over its "
            "cached minute partials + per-shard renames vs the monolithic "
            "swap — O(touched shards) per batch instead of O(history); "
            "see phase_sec for where the time actually goes"
        ),
    }

    # documents is 5k rows at sf0.1 — 1.25k-row micro-batches measure
    # Spark's fixed per-job scheduling latency, not the operator. Replicate to
    # ~100k UNIQUE texts so dedup batches carry the same row volume as the
    # rollup batches above and the store grows to corpus size — the
    # apples-to-apples throughput of the digest store itself.
    base_docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_base = base_docs.count()
    k = max(1, 100_000 // max(n_base, 1))
    rep = spark.range(k).select(F.col("id").alias("rep"))
    docs = base_docs.crossJoin(rep).select(
        (F.col("doc_id") * k + F.col("rep")).alias("doc_id"),
        F.concat("text", F.lit(" #"), F.col("rep")).alias("text"),
    )
    n_docs = n_base * k
    from spark_streaming_logservice_spark.streaming import dedup_store as _DS

    dt, forwarded, dbreak = None, [], {}
    for p in range(2):  # best-of-2 fresh-store passes, like the rollup
        digest_dir = os.path.join(tmp_root, f"digest-store-{p}")
        shutil.rmtree(digest_dir, ignore_errors=True)
        fwd: list = []
        ingest = dedup_on_ingest(
            lambda df, bid: fwd.append(df.count()), digest_dir
        )
        _DS.TIMINGS = {}
        t0 = _t.perf_counter()
        for b in range(n_batches):
            ingest(docs.where(F.col("doc_id") % n_batches == b), b)
        d1 = _t.perf_counter() - t0
        if dt is None or d1 < dt:
            dt, forwarded = d1, fwd
            dbreak = {k2: round(v, 3) for k2, v in _DS.TIMINGS.items()}
    _DS.TIMINGS = None
    out["dedup_store"] = {
        "rows": n_docs,
        "forwarded": sum(forwarded),
        "batches": n_batches,
        "runs": 2,
        "agg": "min",
        "sec": round(dt, 3),
        "rows_per_sec": round(n_docs / dt, 1),
        # per-phase wall-clock across all batches:
        # dedup = digest + within-batch collapse + store scan + anti-join
        # (the batch's one corpus-keyed shuffle and the store's sequential
        # scan), forward = downstream count over the cached novel set,
        # digests = the 16-byte-key parquet append.
        "phase_sec": dbreak,
        "note": (
            "input replicated to ~100k unique rows so batches carry the "
            "same volume as the rollup bench; the store is append-only "
            "with a map-only broadcast-probe anti-join, so most of the "
            "time is the dedup phase (see phase_sec): a digest over full "
            "text + a row_number collapse shuffle of the whole batch"
        ),
    }

    # Logstore segment compaction (sources/maintenance.py): merge a
    # fragmented shard's small append segments into ~target-size files.
    # Pure-driver pyarrow maintenance — rows/s is single-process rewrite
    # throughput, the footer-planned maintenance cost a scheduler budgets.
    from spark_streaming_logservice_spark.sources import maintenance as M
    from spark_streaming_logservice_spark.sources import store_backend as SB

    cpath = os.path.join(tmp_root, "compact-store")
    shutil.rmtree(cpath, ignore_errors=True)
    n_seg, seg_rows = 64, 512
    for b in range(n_seg):
        SB.append_rows(
            cpath,
            0,
            [
                {
                    "time": 1_700_000_000 + b * seg_rows + i,
                    "topic": "t",
                    "source": "s",
                    "contents": {"k": str(b * seg_rows + i)},
                    "tags": {},
                }
                for i in range(seg_rows)
            ],
        )
    t0 = _t.perf_counter()
    reports = M.compact_store(cpath)
    dt = _t.perf_counter() - t0
    out["compaction"] = {
        "rows": n_seg * seg_rows,
        "files_before": sum(r["files_before"] for r in reports),
        "files_after": sum(r["files_after"] for r in reports),
        "sec": round(dt, 3),
        "rows_per_sec": round(n_seg * seg_rows / dt, 1),
    }

    # Drift admission gate: what the per-batch BEFORE-admission
    # scoring costs on top of the plain profile merge, and what the
    # driver-side bucket pruning saves the scoring scan. Same 4-batch
    # best-of-2 discipline as the sections above.
    from spark_streaming_logservice_spark.streaming import vocab_drift as VD

    vdocs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    n_vdocs = vdocs.count()
    plain_dt = gated_dt = None
    for p in range(2):
        table = os.path.join(tmp_root, f"vocab-plain-{p}")
        shutil.rmtree(table, ignore_errors=True)
        writer = VD.incremental_vocab_writer(table)
        t0 = _t.perf_counter()
        for b in range(n_batches):
            writer(vdocs.where(F.col("doc_id") % n_batches == b), b)
        d1 = _t.perf_counter() - t0
        plain_dt = d1 if plain_dt is None else min(plain_dt, d1)

        gtable = os.path.join(tmp_root, f"vocab-gated-{p}")
        shutil.rmtree(gtable, ignore_errors=True)
        gate = VD.admission_gate(
            gtable,
            lambda df, bid: df.count(),
            lambda bid, rows, qdf: None,
        )
        t0 = _t.perf_counter()
        for b in range(n_batches):
            gate(vdocs.where(F.col("doc_id") % n_batches == b), b)
        d1 = _t.perf_counter() - t0
        gated_dt = d1 if gated_dt is None else min(gated_dt, d1)
    # bucket pruning: a single-source drift scan lists only that source's
    # hash bucket; the unpruned profile read lists every populated bucket
    one_src = vdocs.select("source").first()["source"]
    files_all = len(VD.read_vocab_profile(spark, gtable).inputFiles())
    files_pruned = len(
        VD.read_vocab_profile(spark, gtable, sources=[one_src]).inputFiles()
    )
    out["vocab_gate"] = {
        "rows": n_vdocs,
        "batches": n_batches,
        "runs": 2,
        "agg": "min",
        "plain_writer_sec": round(plain_dt, 3),
        "gated_sec": round(gated_dt, 3),
        "gate_overhead_sec_per_batch": round(
            (gated_dt - plain_dt) / n_batches, 3
        ),
        "scan_files_unpruned": files_all,
        "scan_files_single_source": files_pruned,
        "note": (
            "gate = batch_drift scoring (O(vocabulary) full-outer join vs "
            "the bucket-pruned profile + O(sources) collect) + the "
            "downstream forward, on top of the same sharded merge; the "
            "file counts show the directory-level pruning a one-source "
            "batch gets (profile dirs LISTED, not just row-filtered)"
        ),
    }

    # Composed ingest pipeline: gate → dedup → forward as ONE
    # foreachBatch (streaming/ingest_pipeline.py) — the per-batch price of
    # the full admission path (drift scoring + quarantine + digest dedup +
    # downstream forward + profile merge + digest append), comparable
    # against vocab_gate.gated_sec + dedup_store's per-batch cost.
    from spark_streaming_logservice_spark.streaming.ingest_pipeline import (
        ingest_pipeline,
    )

    pipe_dt = None
    for p in range(2):
        root = os.path.join(tmp_root, f"pipeline-{p}")
        shutil.rmtree(root, ignore_errors=True)
        # threshold above the L1-drift max (2.0) so every batch takes the
        # clean path: the number measures the full forward+merge+digest
        # pipeline, not quarantine staging of late batches whose drift vs
        # the batch-0-bootstrapped profile crosses a default 0.5 gate
        pipe = ingest_pipeline(
            root, lambda df, bid: df.count(), threshold=2.1
        )
        t0 = _t.perf_counter()
        for b in range(n_batches):
            pipe(vdocs.where(F.col("doc_id") % n_batches == b), b)
        d1 = _t.perf_counter() - t0
        pipe_dt = d1 if pipe_dt is None else min(pipe_dt, d1)
    out["ingest_pipeline"] = {
        "rows": n_vdocs,
        "batches": n_batches,
        "runs": 2,
        "agg": "min",
        "sec": round(pipe_dt, 3),
        "rows_per_sec": round(n_vdocs / pipe_dt, 1),
        "note": (
            "the composed admission path on the same 4-batch documents "
            "split as vocab_gate: scoring + quarantine staging + "
            "dedup_against_store + forward + novel-only profile merge + "
            "digest append, under one pipeline marker"
        ),
    }
    return out


def _ann_store_bench(spark, tmp_root: str, sf_dir: str) -> dict:
    """Persisted ANN index: train+encode ONCE into the store, then serving
    pays scoring only — the split a real 100 TB vector platform budgets
    (index build is an offline job; per-query cost is the probe/score
    stage). Serve figures are best-of-3 on the same store."""
    import shutil
    import time as _t

    from pyspark.sql import functions as F

    from spark_streaming_logservice_spark.streaming import ann_index as AI
    from spark_streaming_logservice_spark.tables import load_table

    ann_dir = os.path.join(tmp_root, "ann-index")
    shutil.rmtree(ann_dir, ignore_errors=True)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    n_vec = emb.count()  # warm the scan
    t0 = _t.perf_counter()
    AI.build_ann_index(spark, ann_dir, emb)
    build_sec = round(_t.perf_counter() - t0, 3)
    q = emb.where(F.col("vec_id") < 5)
    out: dict = {"vectors": n_vec, "build_sec": build_sec}
    for key, fn in (
        ("ivf_serve_sec", AI.ivf_search_from_store),
        ("pq_serve_sec", AI.pq_search_from_store),
    ):
        best = None
        for _ in range(3):
            t0 = _t.perf_counter()
            _materialize(fn(spark, ann_dir, q))
            dt = _t.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        out[key] = round(best, 3)
    out["note"] = (
        "build = deterministic Lloyd training (bounded id-prefix sample) "
        "+ full-corpus encode through the sharded crash-safe store; serve "
        "= probe/score only against the stored index — compare with the "
        "train-inline s05/s07 extras, which pay the whole pipeline per "
        "query. Store-served results are bit-identical to train-inline "
        "(s24/s25 share s05/s07's full-pipeline oracles)."
    )

    # Admission-gate price: the SAME in-distribution batch merged through
    # the ungated incremental writer vs the drift-gated one. The gate's marginal work is one O(K_CELLS)
    # cell-count collect + a driver-side L1 — plus, on the FIRST batch of
    # an application, the one-time index-histogram read (cached after).
    batch = emb.where(F.col("vec_id") % 2 == 0)
    gate: dict = {"batch_vectors": batch.count()}
    best = None
    for rep in range(2):
        tgt = os.path.join(tmp_root, f"ann-ungated-{rep}")
        shutil.rmtree(tgt, ignore_errors=True)
        shutil.copytree(ann_dir, tgt)
        w = AI.incremental_ann_writer(tgt)
        t0 = _t.perf_counter()
        w(batch, 900 + rep)
        dt = _t.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    gate["merge_ungated_sec"] = round(best, 3)
    tgt = os.path.join(tmp_root, "ann-gated")
    shutil.rmtree(tgt, ignore_errors=True)
    shutil.copytree(ann_dir, tgt)
    alerts: list = []
    wg = AI.gated_ann_writer(tgt, on_alert=lambda bid, rep_, df: alerts.append(bid))
    t0 = _t.perf_counter()
    wg(batch, 910)  # cold: pays the one-time histogram read
    gate["merge_gated_cold_sec"] = round(_t.perf_counter() - t0, 3)
    t0 = _t.perf_counter()
    wg(batch.withColumn("vec_id", F.col("vec_id") + 1_000_000), 911)
    gate["merge_gated_warm_sec"] = round(_t.perf_counter() - t0, 3)
    gate["alerts"] = alerts  # [] = both batches in-distribution, admitted
    gate["note"] = (
        "same batch, same store copy: ungated merge vs drift-gated merge; "
        "cold pays the once-per-application index-histogram read, warm is "
        "the steady-state per-batch gate price (encode's own cell counts "
        "collected at O(K_CELLS) + driver L1)"
    )
    out["admission_gate"] = gate
    return out


def _maintenance_scale(spark, tmp_root: str, sf_dir: str) -> dict:
    """Store MAINTENANCE cost at 1x vs 10x HISTORY: merge the SAME batch
    into a young store vs one holding 10x the history, with per-phase attribution. The claims under test: the
    sharded rollup's merge is O(touched shards) — flat in history; the
    dedup digest store's merge is O(store scan) — linear in history by
    design (one sequential map-only pass, no shuffle, no rewrite); the
    HLL register store is fixed-size — flat by construction."""
    import shutil
    import time as _t

    from pyspark.sql import functions as F

    from spark_streaming_logservice_spark.tables import load_table

    out: dict = {}
    events = load_table(spark, sf_dir, "events").select(
        "ts", "event_type", "event_id", "user_id"
    )
    events.count()  # warm

    from spark_streaming_logservice_spark.streaming import rollup as _R
    from spark_streaming_logservice_spark.streaming.rollup import (
        incremental_rollup_writer,
    )

    probe = events.where(F.col("event_id") % 4 == 0)
    seed = events.where(F.col("event_id") % 4 != 0)
    roll: dict = {}
    for hist in (1, 10):
        table = os.path.join(tmp_root, f"rollup-hist-{hist}")
        shutil.rmtree(table, ignore_errors=True)
        writer = incremental_rollup_writer(table)
        for k in range(hist):
            # shift by 40k days: each seed copy lands in NEW month shards,
            # so 10x history = ~10x the shard count and store rows
            writer(
                seed.withColumn(
                    "ts", F.col("ts") + F.expr(f"INTERVAL {40 * k} DAYS")
                ),
                k,
            )
        n_shards = len(
            [
                d
                for d in os.listdir(os.path.join(table, "parts"))
                if not d.startswith("_")
            ]
        )
        # best-of-2 timed merges of the SAME batch (fresh batch ids): the
        # first merge at hist=1 otherwise pays codegen warmup the hist=10
        # run has already amortized over its seed merges
        sec, phases = None, {}
        for rep in range(2):
            _R.TIMINGS = {}
            t0 = _t.perf_counter()
            writer(probe, hist + rep)
            d1 = round(_t.perf_counter() - t0, 3)
            if sec is None or d1 < sec:
                sec = d1
                phases = {k: round(v, 3) for k, v in _R.TIMINGS.items()}
        _R.TIMINGS = None
        roll[f"history_{hist}x"] = {
            "store_shards": n_shards,
            "merge_sec": sec,
            "runs": 2,
            "agg": "min",
            "phase_sec": phases,
        }
    roll["note"] = (
        "same probe batch merged into a 1-copy vs 10-copy-history store: "
        "the batch touches the same month shards either way, so a flat "
        "merge_sec is the O(touched-shards) claim holding empirically"
    )
    out["rollup"] = roll

    from spark_streaming_logservice_spark.streaming import dedup_store as _DS
    from spark_streaming_logservice_spark.streaming.dedup_store import (
        dedup_on_ingest,
    )

    base_docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_base = base_docs.count()
    k0 = max(1, 100_000 // max(n_base, 1))
    dd: dict = {}
    for hist in (1, 10):
        digest_dir = os.path.join(tmp_root, f"digest-hist-{hist}")
        shutil.rmtree(digest_dir, ignore_errors=True)
        ingest = dedup_on_ingest(lambda df, bid: df.count(), digest_dir)
        # seed hist x ~100k unique digests (replica suffix makes them
        # unique across history copies)
        for h in range(hist):
            rep = spark.range(k0).select(F.col("id").alias("rep"))
            seed_docs = base_docs.crossJoin(rep).select(
                (F.col("doc_id") * (k0 * hist + 1) + F.col("rep") * hist + h).alias(
                    "doc_id"
                ),
                F.concat(
                    "text", F.lit(f" #seed{h}-"), F.col("rep")
                ).alias("text"),
            )
            ingest(seed_docs, h)
        # timed: ONE batch of brand-new uniques against the grown store
        probe_docs = base_docs.select(
            (F.col("doc_id") - 1_000_000).alias("doc_id"),
            F.concat("text", F.lit(" #probe")).alias("text"),
        )
        sec, phases = None, {}
        for rep in range(2):  # best-of-2, same warmup rationale as rollup
            pd = probe_docs.select(
                (F.col("doc_id") - rep).alias("doc_id"),
                F.concat("text", F.lit(f" r{rep}")).alias("text"),
            )
            _DS.TIMINGS = {}
            t0 = _t.perf_counter()
            ingest(pd, hist + rep)
            d1 = round(_t.perf_counter() - t0, 3)
            if sec is None or d1 < sec:
                sec = d1
                phases = {k: round(v, 3) for k, v in _DS.TIMINGS.items()}
        _DS.TIMINGS = None
        dd[f"history_{hist}x"] = {
            "seeded_rows": n_base * k0 * hist,
            "probe_rows": n_base,
            "merge_sec": sec,
            "runs": 2,
            "agg": "min",
            "phase_sec": phases,
        }
    dd["note"] = (
        "same probe batch against a 1x vs 10x digest store: the dedup "
        "phase is the store's one sequential map-only scan (broadcast "
        "semi-join probe) and grows with history BY DESIGN — no shuffle, "
        "no rewrite; forward/digests phases are batch-sized and flat"
    )
    out["dedup_store"] = dd

    from spark_streaming_logservice_spark.streaming.hll_store import (
        incremental_hll_writer,
    )

    hl: dict = {}
    for hist in (1, 10):
        table = os.path.join(tmp_root, f"hll-hist-{hist}")
        shutil.rmtree(table, ignore_errors=True)
        writer = incremental_hll_writer(table)
        for h in range(hist):
            writer(events.where(F.col("event_id") % (hist + 1) == h % (hist + 1)), h)
        sec = None
        for rep in range(2):  # best-of-2, same warmup rationale as rollup
            t0 = _t.perf_counter()
            writer(events.where(F.col("event_id") % 4 == rep), hist + rep)
            d1 = round(_t.perf_counter() - t0, 3)
            sec = d1 if sec is None else min(sec, d1)
        hl[f"history_{hist}x"] = {"merge_sec": sec, "runs": 2, "agg": "min"}
    hl["note"] = (
        "register state is scopes x 64 rows at ANY history length — the "
        "merge reads/writes a fixed-size table, flat by construction "
        "(KMV/sample stores share the same fixed-size-state argument)"
    )
    out["hll_store"] = hl

    # ANN vectors store: merge the SAME encode batch into an index holding
    # 1x vs 10x vectors. The claim under test is the
    # append-mostly vec_id sharding (ann_index.VEC_SHARD): a batch of new
    # high vec_ids rewrites only its own tail shard(s), so merge_sec is
    # flat in index size.
    from spark_streaming_logservice_spark.streaming import ann_index as AI

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    n_emb = emb.count()
    # offset stride aligned to whole shards so every history copy (and the
    # probe) lands in fresh shards — the worst case for store size, the
    # intended case for tail-append locality
    stride = ((n_emb // AI.VEC_SHARD) + 1) * AI.VEC_SHARD
    av: dict = {}
    for hist in (1, 10):
        table = os.path.join(tmp_root, f"annvec-hist-{hist}")
        shutil.rmtree(table, ignore_errors=True)
        AI.build_ann_index(spark, table, emb)  # trains + encodes copy 0
        writer = AI.incremental_ann_writer(table)
        for h in range(1, hist):
            writer(
                emb.select(
                    (F.col("vec_id") + h * stride).alias("vec_id"),
                    "embedding",
                ),
                h,
            )
        n_shards = len(
            [
                d
                for d in os.listdir(os.path.join(table, "vectors", "parts"))
                if not d.startswith("_")
            ]
        )
        sec = None
        for rep in range(2):  # best-of-2, same warmup rationale as rollup
            probe = emb.select(
                (F.col("vec_id") + (hist + rep) * stride).alias("vec_id"),
                "embedding",
            )
            t0 = _t.perf_counter()
            writer(probe, hist + rep)
            d1 = round(_t.perf_counter() - t0, 3)
            sec = d1 if sec is None else min(sec, d1)
        av[f"history_{hist}x"] = {
            "index_vectors": n_emb * hist,
            "store_shards": n_shards,
            "merge_sec": sec,
            "runs": 2,
            "agg": "min",
        }
    av["note"] = (
        "same new-id batch encoded (broadcast join against the FROZEN "
        "artifacts — batch-sized, index-independent) and merged into a 1x "
        "vs 10x vectors store: the batch's vec_ids map to fresh tail "
        "shards, so the merge rewrites O(batch shards) regardless of "
        "index size — flat merge_sec is the append-mostly claim "
        "(ann_index.py VEC_SHARD) holding empirically"
    )
    out["ann_vectors"] = av
    return out


def _boot():
    """Session + registry for one bench section (fresh per subprocess)."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from spark_streaming_logservice_spark.session import get_spark
    from spark_streaming_logservice_spark import registry

    registry.load_all()
    spark = get_spark(app_name="logstream-bench", master=f"local[{cpus}]")
    return spark, registry, sf_dir


def _time_queries(spark, registry, sf_dir: str, names, runs: int) -> tuple[dict, dict]:
    """({name: wall s}, {name: cpu s}) of each query's fastest of ``runs``
    full materializations: steady-state engine cost, not JIT/warmup jitter
    (a query's codegen'd stages routinely warm into run 2). The CPU seconds
    are the process tree's (driver, JVM, Python workers) in that same run."""
    wall: dict[str, float] = {}
    cpu: dict[str, float] = {}
    for name in names:
        fn = registry.QUERIES[name]
        best = None
        for _ in range(runs):
            window = harness.CpuWindow()
            window.start()
            t0 = time.perf_counter()
            _materialize(fn(spark, sf_dir))
            dt = time.perf_counter() - t0
            used = sum(window.stop().values())
            if best is None or dt < best[0]:
                best = (dt, used)
        wall[name] = round(best[0], 3)
        cpu[name] = round(best[1], 3)
    return wall, cpu


def _section_core() -> dict:
    """Headline queries + maintenance throughput, in a JVM that has run
    nothing else: measured after the long sweep in the same session, the
    maintenance figures swung up to 4× (GC/state perturbation)."""
    host = harness.fingerprint()  # before the JVM exists
    spark, registry, sf_dir = _boot()

    # Warm the JVM + parquet footers once so per-query timings measure the
    # engine, not session startup; also pre-builds the sr01 fixture store.
    _materialize(registry.QUERIES["q01_pricing_summary"](spark, sf_dir))
    _materialize(registry.QUERIES["sr01_logstore_typed_agg"](spark, sf_dir))

    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    timings, cpu = _time_queries(spark, registry, sf_dir, HEADLINE, runs)

    # The input sizes: test data is regenerated from time to time, so a
    # record is only comparable next to its row counts.
    data_probe: dict[str, int] = {}
    try:
        import duckdb

        for t in ("lineitem", "events", "documents", "embeddings"):
            data_probe[t] = duckdb.sql(
                f"SELECT count(*) FROM '{os.path.join(sf_dir, t + '.parquet')}'"
            ).fetchone()[0]
    except Exception:
        pass

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "runs": runs,
        "agg": "min",
        "materialize": "noop",
        "cpu_s": cpu,
        "host": host,
    }
    if data_probe:
        out["data_probe"] = data_probe

    # Stateful-maintenance throughput (rollup merge, dedup-on-ingest,
    # compaction, drift gate, composed ingest pipeline).
    try:
        out["maintenance"] = _maintenance_bench(
            spark,
            os.path.join(tempfile.gettempdir(), "spark_graft_maintbench"),
            sf_dir,
        )
    except Exception as ex:
        out["maintenance"] = {"error": f"{type(ex).__name__}: {ex}"}
    return out


def _section_sweep() -> dict:
    """The registry sweep + the 10× scale replica — the long tail,
    isolated from the core section's JVM. The result so far is rewritten
    after each sub-section (chain, ANN store, extras, replica), so a sweep
    killed at its timeout keeps what it measured."""
    spark, registry, sf_dir = _boot()
    _materialize(registry.QUERIES["q01_pricing_summary"](spark, sf_dir))  # warm
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    out: dict = {}

    # Build the shared LSH+CC cluster assignment ONCE, cold, with per-round
    # CC stats — the honest cost of the chain. Its consumers (d08/d09/d18/
    # d20/p17) then time their post-chain cost against the session-pinned
    # assignment (cluster once, consume many times).
    from spark_streaming_logservice_spark.operators import dedup as _dd
    from spark_streaming_logservice_spark.operators import graph as _g

    _g.CC_STATS = {}
    t0 = time.perf_counter()
    _materialize(_dd.cluster_assignments(spark, sf_dir))
    build_sec = round(time.perf_counter() - t0, 3)
    _cc_rounds = _g.CC_STATS.get("rounds", [])
    _g.CC_STATS = None
    # Phase attribution: the pair stage alone on a fresh identical plan
    # (warm JVM, cold shuffles — a new DataFrame shares no shuffle files
    # with the build above), so build_sec ≈ pairs_sec + cc_sec +
    # checkpoint materialization.
    from spark_streaming_logservice_spark.tables import load_table as _lt

    t0 = time.perf_counter()
    _materialize(
        _dd.lsh_verified_pairs(_lt(spark, sf_dir, "documents")).where("jaccard >= 0.8")
    )
    pairs_sec = round(time.perf_counter() - t0, 3)
    out["neardup_chain"] = {
        "build_sec": build_sec,
        "pairs_sec": pairs_sec,
        "cc_sec": round(sum(r.get("sec", 0) for r in _cc_rounds), 3),
        "cc_rounds": _cc_rounds,
    }
    _emit(out)

    # Persisted ANN index store: build-once vs serve-only split.
    try:
        out["ann_store"] = _ann_store_bench(
            spark,
            os.path.join(tempfile.gettempdir(), "spark_graft_annbench"),
            sf_dir,
        )
    except Exception as ex:
        out["ann_store"] = {"error": f"{type(ex).__name__}: {ex}"}
    _emit(out)

    names = sweep_names(registry)
    extras, extras_cpu = _time_queries(spark, registry, sf_dir, names, runs)
    out["extra_operators"] = {
        "queries": extras,
        "cpu_s": extras_cpu,
        "runs": runs,
        "agg": "min",
    }
    _emit(out)

    # Scale base: the headline in THIS session with the replica's 2 runs,
    # so scaling_vs_base compares like with like.
    timings, _cpu = _time_queries(spark, registry, sf_dir, HEADLINE, 2)

    # The same queries at a 10× key-consistent replica, with per-query
    # scaling factors (≈10 ⇒ linear plan; ≫10 ⇒ superlinear risk). 2 runs
    # keep-min: run 1 at a new sf_dir pays a fresh codegen compile (plans
    # embed the scan path), a constant, not curvature.
    scale_factor = int(os.environ.get("SPARK_GRAFT_SCALE_FACTOR", "10"))
    if scale_factor > 1:
        try:
            from spark_streaming_logservice_spark.scaledata import make_scaled

            scale_dir = os.path.join(
                tempfile.gettempdir(), f"spark_graft_scale_{scale_factor}x"
            )
            make_scaled(sf_dir, scale_dir, scale_factor)
            base_times = {**extras, **timings}
            # cold chain build at the replica too, so the scaled d08-family
            # numbers are post-chain like their base counterparts and the
            # chain's own scaling curve is recorded explicitly
            _g.CC_STATS = {}
            t0 = time.perf_counter()
            _materialize(_dd.cluster_assignments(spark, scale_dir))
            chain_10x = {
                "build_sec": round(time.perf_counter() - t0, 3),
                "cc_rounds": _g.CC_STATS.get("rounds", []),
            }
            _g.CC_STATS = None
            # sr* read a logstore fixture built from events through Python
            # rows once per sf_dir, not the replica's tables
            scaled_names = [n for n in HEADLINE + names if not n.startswith("sr")]
            scaled, scaled_cpu = _time_queries(
                spark, registry, scale_dir, scaled_names, 2
            )
            out["scale"] = {
                "factor": scale_factor,
                "value": round(sum(scaled[n] for n in HEADLINE if n in scaled), 3),
                "queries": scaled,
                "cpu_s": scaled_cpu,
                "neardup_chain": chain_10x,
                "runs": 2,
                "scaling_vs_base": {
                    n: round(scaled[n] / base_times[n], 2)
                    for n in scaled
                    if base_times.get(n)
                },
            }
            # Store maintenance at 1x vs 10x HISTORY — the scale axis the
            # query replica can't exercise.
            try:
                out["scale"]["maintenance"] = _maintenance_scale(
                    spark,
                    os.path.join(
                        tempfile.gettempdir(), "spark_graft_maintscale"
                    ),
                    sf_dir,
                )
            except Exception as ex:
                out["scale"]["maintenance"] = {
                    "error": f"{type(ex).__name__}: {ex}"
                }
        except Exception as ex:  # scale section is best-effort, never fatal
            out["scale"] = {"error": f"{type(ex).__name__}: {ex}"}
    return out


def _emit(result: dict) -> None:
    """Child side: (re)write the section's result so far to the path the
    parent chose. The file is replaced whole, so a kill never leaves half a
    record."""
    out_path = os.environ.get("SPARK_GRAFT_BENCH_OUT")
    if out_path:
        with open(out_path + ".tmp", "w") as f:
            json.dump(result, f)
        os.replace(out_path + ".tmp", out_path)


def _run_section(section: str) -> dict:
    """Run one bench section in its own python/JVM process and return its
    JSON result (the isolation is the point — see _section_core)."""
    return _run_child(
        section,
        [sys.executable, os.path.abspath(__file__), "--section", section],
        int(os.environ.get("SPARK_GRAFT_BENCH_SECTION_TIMEOUT", "3600")),
    )


def _run_child(section: str, cmd: list[str], timeout: float) -> dict:
    """Run ``cmd`` and return the last result it wrote with ``_emit``. When
    it exits non-zero or outlives ``timeout``, the result keeps what was
    written, next to an ``error``."""
    fd, out_path = tempfile.mkstemp(suffix=f"-bench-{section}.json")
    os.close(fd)
    error = None
    try:
        proc = subprocess.run(
            cmd,
            env={**os.environ, "SPARK_GRAFT_BENCH_OUT": out_path},
            stdout=subprocess.DEVNULL,
            timeout=timeout,
        )
        if proc.returncode != 0:
            error = f"section {section} exited {proc.returncode}"
    except (subprocess.SubprocessError, OSError) as ex:
        error = f"section {section}: {type(ex).__name__}: {ex}"
    try:
        with open(out_path) as f:
            result = json.load(f)
    except (OSError, ValueError):
        result = {}
    finally:
        for p in (out_path, out_path + ".tmp"):
            try:
                os.unlink(p)
            except OSError:
                pass
    if error:
        result["error"] = error
    return result


def _compact(out: dict) -> dict:
    """The stdout record: the contract keys plus a few section totals. The
    driver keeps only the last ~2 KB of stdout, so per-query detail beyond
    the headline wall times stays in BENCH_DETAIL.json."""
    compact = {
        k: out[k]
        for k in ("metric", "value", "unit", "queries", "sf", "runs", "agg",
                  "materialize", "host")
        if k in out
    }
    extras = out.get("extra_operators", {}).get("queries", {})
    if extras:
        compact["extras_total"] = round(sum(extras.values()), 3)
        compact["extras_n"] = len(extras)
    scale = out.get("scale", {})
    if isinstance(scale.get("value"), (int, float)):
        compact["scale_total"] = scale["value"]
        compact["scale_factor"] = scale["factor"]
    if "sweep_error" in out:
        compact["sweep_error"] = out["sweep_error"]
    return compact


def main() -> None:
    # Child mode: run one section, write its JSON to the path the parent
    # chose, stay silent on stdout (the driver captures only the parent's
    # compact line).
    if "--section" in sys.argv:
        section = sys.argv[sys.argv.index("--section") + 1]
        result = _section_core() if section == "core" else _section_sweep()
        if os.environ.get("SPARK_GRAFT_BENCH_OUT"):
            _emit(result)
        else:
            print(json.dumps(result))
        return

    # Parent mode: core first (fresh JVM, nothing before it), then the
    # sweep in a second process, so the sweep's hundreds of queries never
    # perturb the core figures.
    out = _run_section("core")
    if "error" in out:  # core is mandatory — surface the failure loudly
        print(json.dumps({"metric": "headline_queries_total", **out}))
        return
    sweep = _run_section("sweep")
    for k in ("extra_operators", "scale", "neardup_chain", "ann_store", "error"):
        if k in sweep:
            out[k if k != "error" else "sweep_error"] = sweep[k]

    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as f:
            json.dump(out, f, indent=1)
            f.write("\n")
    except OSError:
        pass
    print(json.dumps(_compact(out)))


if __name__ == "__main__":
    main()
