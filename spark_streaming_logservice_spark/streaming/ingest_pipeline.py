"""Composed training-data ingest pipeline: drift gate → dedup → forward.

The round-10/11 stores each solved one admission problem — the vocabulary
drift gate quarantines broken sources (streaming/vocab_drift.py), the digest
store drops already-seen documents (streaming/dedup_store.py). A real
100 TB ingest runs BOTH per micro-batch, and the composition order is not a
style choice, it is a correctness property:

1. **Quarantine BEFORE any state learns from the batch.** If dedup ran
   first, every quarantined-but-novel row's digest would already be in the
   store, and the recovery path (retrain/review, then re-ingest under a new
   batch id) would be silently swallowed as "already seen" — the quarantine
   would be a trapdoor, not a holding cell. Gate first means quarantined
   rows leave NO trace in pipeline state and re-ingest cleanly.
2. **Score what arrived, learn from what's novel.** Drift is scored on the
   RAW batch (pre-dedup): a crawler re-serving one boilerplate page 1000×
   IS the operational anomaly the gate exists to catch, and dedup would
   hide it. The profile, by contrast, merges only the NOVEL clean rows
   (post-dedup): a crawl re-serving the same pages 5× must not get 5× the
   weight in the learned distribution — p27's mixture lesson applied to
   the profile itself.
3. **One pipeline-level marker, one DURABLE flag decision.** Replay of a
   completed batch is a single short-circuit; a mid-batch crash replays
   stage by stage, where every state write is individually guarded
   (profile merge by merge_additive's _batch_meta, digest append by
   final-file existence, quarantine staging by overwrite), so retries
   converge. ``forward`` must tolerate redelivery — the same contract
   dedup_on_ingest already imposes. The flag set is stable across replays
   because it is RECORDED, not re-derived: each batch is scored once and
   the decision (scores + flagged sources) is written to
   ``_flags/<record>.json`` before any state mutation; a crash replay
   reuses the record. Re-scoring on replay would be wrong — the profile
   may already have merged the batch's novel rows, which shifts it toward
   the batch's own distribution and can flip a clean source to flagged
   (quarantining rows whose digests are already stored — exactly the
   trapdoor stage order exists to close).

State layout under ``root``: ``vocab/`` (sharded profile), ``digests/``
(xxhash128 digest store, this writer's files ``pipe-<record>.parquet``),
``quarantine/<record>/`` (durable staging), ``_flags/<record>.json``
(recorded admission decisions), ``_markers/<record>`` (pipeline batch
markers), ``<record>`` being the ``queries.batch_record`` key: a second
query with a fresh checkpoint scores and stages its own batch 0.

Durability primitives (rename/list/markers) route through the single
filesystem seam ``streaming/storefs.py`` — its module docstring states
the atomicity contract once for every store; deploying on an object
store means swapping that backend, not editing this module.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_streaming_logservice_spark.streaming.dedup_store import (
    DIGEST_COLS,
    STORE_KEYS,
    _digest_exprs,
    dedup_against_store,
    publish_digests,
    publish_once,
)
from spark_streaming_logservice_spark.streaming.queries import (
    batch_record,
    idempotent_foreach_batch,
    parse_batch_record,
)
from spark_streaming_logservice_spark.streaming import storefs
from spark_streaming_logservice_spark.streaming.rollup import merge_additive
from spark_streaming_logservice_spark.streaming.vocab_drift import (
    _SCHEMA as _VOCAB_SCHEMA,
    N_BUCKETS,
    score_and_split,
    vocab_partials,
)

DIGEST_PREFIX = "pipe"  # this writer's digest files; dedup_on_ingest's: "q"


def ingest_pipeline(
    root: str,
    forward,
    on_alert=None,
    threshold: float = 0.5,
    min_profile_tokens: int = 1,
    text_col: str = "text",
    source_col: str = "source",
    id_col: str = "doc_id",
    index_dir: str | None = None,
    on_vector_alert=None,
    vec_threshold: float = 0.5,
    min_batch_vectors: int | None = None,
    embedding_col: str = "embedding",
):
    """foreachBatch factory for the composed admission pipeline.

    Per batch: score per-source drift on the raw batch → record the
    decision durably → quarantine flagged sources (durable staging +
    optional ``on_alert(batch_id, scores, quarantined_df)``) → dedup the
    clean remainder against the digest store → ``forward(novel_clean_df,
    batch_id)`` → merge the vocabulary profile from the novel clean rows →
    run the VECTOR leg (below, when ``index_dir`` is set) → append their
    digests → write the batch marker. See module docstring for why this
    order is load-bearing.

    Every per-batch record is named by ``queries.batch_record`` (see
    module docstring), so several queries, and a ``dedup_on_ingest``
    writer, may share ``root`` or its digest store.

    NULL-source rows are unscoreable (no profile bucket) and NULL-text rows
    are undedupable (no content digest): both pass through to ``forward``
    and never enter pipeline state — the individual stores' documented
    posture, preserved by the composition.

    **Multimodal composition** (``index_dir`` set): rows additionally carry
    ``embedding_col`` (nullable), and ONE batch drives BOTH admission
    gates under ONE pipeline marker — the text leg above plus the ANN
    cell-drift gate of ``streaming/ann_index.gated_ann_writer``:

    - Vector drift is SCORED on the text-clean rows' encodings
      (pre-dedup: score what arrived), but the index only LEARNS the
      NOVEL rows' encodings — a re-crawled page's near-identical vector
      must not pile into the index any more than its tokens may
      double-weight the profile (p27's lesson, both legs). The score and
      the flagged bit join the SAME durable per-batch flag record, so
      replay never re-scores either leg.
    - Text-quarantined sources never reach the vector gate: their rows
      (embedding included) sit in the TEXT quarantine and re-ingest
      through both legs under a new batch id.
    - A vec-flagged batch stages its NOVEL (vec_id, embedding) rows to
      ``root/vec_quarantine/<record>`` by staging-dir + atomic rename
      (skip-if-published — replay after the digest append sees an empty
      novel set and must NOT clobber the staged rows), then calls
      ``on_vector_alert(batch_id, report, vec_df)`` where ``vec_df`` reads
      the PUBLISHED staging dir — so the whole alert payload (report AND
      rows) is replay-identical even when a redelivery's own novel set is
      already empty. Recovery is the ANN
      loop's own ``retrain_from_quarantine`` pointed at that dir — the
      text side of those rows was already forwarded/learned, so they must
      NOT re-enter the pipeline.
    - Ordering: the vector leg runs BEFORE the digest append. The digest
      append is the pipeline's dedup commit point — were it first, a
      crash between the two would make the replay's novel set empty and
      silently drop the batch's vectors. Every vector-side mutation has
      its own replay guard (vector merge via merge_additive batch meta,
      histogram increment via last_record + store-rebuild, staging via
      publish-rename), so the composed replay converges from any crash
      point. NULL-embedding rows skip the vector leg entirely.

    ``min_batch_vectors=None`` resolves to the gate's own default
    (8 × K_CELLS): smaller batches are admitted unscored — the
    bootstrap clamp in cell form.
    """

    vocab_dir = storefs.join(root, "vocab")
    digest_dir = storefs.join(root, "digests")
    quarantine_dir = storefs.join(root, "quarantine")
    vec_quarantine_dir = storefs.join(root, "vec_quarantine")
    flags_dir = storefs.join(root, "_flags")

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        record = batch_record(batch_df.sparkSession, batch_id)
        # --- stage 1: score the RAW batch ONCE, record the decision
        # durably BEFORE any state mutation. A crash replay reuses the
        # record: re-scoring could see a profile that already merged this
        # batch's novel rows and flip a clean source to flagged (see
        # module docstring). The record is also what makes the alert
        # payload replay-identical.
        flag_file = storefs.join(flags_dir, f"{record}.json")
        recorded = storefs.exists(flag_file)
        if recorded:
            decision = json.loads(storefs.read_text(flag_file))
        else:
            scores, flagged, _, _ = score_and_split(
                vocab_dir, batch_df, threshold, min_profile_tokens,
                text_col, source_col,
            )
            decision = {"scores": scores, "flagged": flagged}
        scores, flagged = decision["scores"], decision["flagged"]
        # clean view is needed by BOTH the vector scoring below and stage
        # 2; NULL sources are unscoreable pass-through, never quarantined
        # (a bare NOT IN would silently drop them: NULL isin = NULL)
        clean = (
            batch_df.where(
                F.col(source_col).isNull()
                | ~F.col(source_col).isin(flagged)
            )
            if flagged
            else batch_df
        )
        # --- vector leg scoring (multimodal only): encode the text-clean
        # vectors ONCE against the frozen artifacts; the drift decision
        # joins the same durable record before any state mutation ---
        enc = None
        vdf = None
        cached = None
        _ann = None
        vec_rescored = False
        if index_dir is not None:
            from spark_streaming_logservice_spark.streaming import (
                ann_index as _ann,
            )

            spark = batch_df.sparkSession
            vdf = clean.where(F.col(embedding_col).isNotNull()).select(
                F.col(id_col).cast("bigint").alias("vec_id"),
                F.col(embedding_col).cast("array<double>").alias("embedding"),
            )
            try:
                cents_df, cb_df, dim = _ann._load_artifacts(spark, index_dir)
            except Exception:
                # artifacts not built yet: a batch with NO vectors must
                # still pass through the text leg — only one that actually
                # carries embeddings makes a missing index a config error.
                # The probe job runs ONLY on this cold failure path; the
                # hot path keeps the single cell-count collect below.
                if vdf.take(1):
                    raise
                cents_df = None
            if cents_df is not None:
                enc = _ann.encode_vectors(vdf, cents_df, cb_df, dim)
                enc.persist()
                # ONE collect both tests emptiness and feeds the drift
                # score: an empty cell-count dict IS the empty vector
                # batch (the old separate vdf.take(1) probe launched an
                # extra job per batch)
                bc = _ann.cell_counts(enc)
            else:
                bc = {}
            if bc:
                cached = _ann.cached_index_hist(spark, index_dir)
            elif enc is not None:
                enc.unpersist()
                enc = None
            # score whenever the decision lacks a vec entry — including a
            # RECORDED decision without one (flag written before index_dir
            # was enabled): falling back to unflagged would merge the
            # batch's novel vectors into the index unscored. Unlike the
            # text leg, scoring on replay is safe here — a missing 'vec'
            # key means the vector leg never ran for this batch, so the
            # index histogram cannot already contain it and the score is
            # exactly what a live run would have computed. If the replay
            # lands AFTER the digest append (live novel set empty), stage
            # 4b recovers the original novel vector population from the
            # batch's own per-batch digest file — the vectors are scored
            # AND kept, not dropped.
            if "vec" not in decision:
                vec_rescored = recorded
                if enc is None:
                    decision["vec"] = {"report": None, "flagged": False}
                else:
                    mbv = (
                        min_batch_vectors
                        if min_batch_vectors is not None
                        else 8 * _ann.K_CELLS
                    )
                    if sum(bc.values()) >= mbv:
                        report = _ann._l1_cell_drift(bc, cached["hist"])
                        decision["vec"] = {
                            "report": report,
                            "flagged": report["l1_drift"] >= vec_threshold,
                        }
                    else:
                        decision["vec"] = {"report": None, "flagged": False}
        def _persist_decision() -> None:
            storefs.makedirs(flags_dir, exist_ok=True)
            tmp = flag_file + ".tmp"
            storefs.write_text(tmp, json.dumps(decision))
            storefs.replace_file(tmp, flag_file)

        if not recorded:
            # fresh decision: durable BEFORE any state mutation (the
            # replay contract in the module docstring). The legacy-upgrade
            # persist (vec_rescored) deliberately does NOT happen here: if
            # the upgraded record landed before stage 4b and the replay
            # crashed mid-4b, the NEXT replay would see 'vec' recorded,
            # never trigger the digest-file recovery, and the batch's
            # vectors would be permanently dropped (ADVICE r13). It moves
            # to after stage 4b, whose side effects are all idempotent
            # (publish-by-rename skip-if-published; vec_id-deduplicating
            # merge), so replaying the rescore until the upgrade commits
            # is safe and convergent.
            _persist_decision()
        if flagged:
            quarantined = batch_df.where(F.col(source_col).isin(flagged))
            # durable, overwrite-idempotent staging: alert redelivery
            # restages the same rows onto themselves
            quarantined.write.mode("overwrite").parquet(
                storefs.join(quarantine_dir, record)
            )
            if on_alert is not None:
                on_alert(
                    batch_id,
                    [s for s in scores if s["source"] in set(flagged)],
                    quarantined,
                )
        # --- stage 2: dedup the clean remainder against history ---
        novel = dedup_against_store(clean, digest_dir, text_col, id_col)
        novel.persist()
        try:
            # --- stage 3: forward novel clean rows downstream ---
            forward(novel.drop(*DIGEST_COLS), batch_id)
            # --- stage 4: the profile learns from NOVEL rows only ---
            merge_additive(
                vocab_dir,
                vocab_partials(novel, text_col, source_col),
                key_cols=["source", "token"],
                sum_cols=["c"],
                schema=_VOCAB_SCHEMA,
                batch_id=batch_id,
                partition_expr=F.crc32(F.col("source")) % N_BUCKETS,
            )
            # --- stage 4b (multimodal): the vector leg, BEFORE the digest
            # append — the digest append is the dedup commit point, and a
            # crash between the two must leave a replay whose novel set
            # still contains this batch's vectors (see docstring) ---
            if enc is not None:
                vec = decision.get("vec") or {"report": None, "flagged": False}
                novel_ids = novel.select(
                    F.col(id_col).cast("bigint").alias("vec_id")
                )
                final_digest = storefs.join(
                    digest_dir, f"{DIGEST_PREFIX}-{record}.parquet"
                )
                if vec_rescored and storefs.exists(final_digest):
                    # legacy-record replay AFTER this batch's digest
                    # append: the replay's novel set is empty precisely
                    # BECAUSE the append already holds this batch's
                    # digests — and that per-batch file IS the original
                    # novel set, so recover the vector population from it
                    # instead of silently dropping the batch's vectors.
                    # Exact: rows that were historical dups at original
                    # processing are absent from the file and stay out,
                    # and the within-batch collapse below (lowest id per
                    # digest, dedup_against_store's winner rule) keeps the
                    # recovered population identical to the original novel
                    # set even when the batch carried duplicate texts — a
                    # bare semi-join would recover EVERY row whose digest
                    # is in the file, piling near-identical vectors into
                    # the index/quarantine (ADVICE r13, the p27 invariant).
                    own = spark.read.parquet(final_digest)
                    keyed = (
                        clean.where(F.col(text_col).isNotNull())
                        .select(
                            F.col(id_col).cast("bigint").alias("vec_id"),
                            *_digest_exprs(text_col),
                        )
                        .groupBy(*DIGEST_COLS)
                        .agg(F.min("vec_id").alias("vec_id"))
                    )
                    cond = None
                    for b, s in zip(DIGEST_COLS, STORE_KEYS):
                        c = keyed[b] == own[s]
                        cond = c if cond is None else (cond & c)
                    recovered = keyed.join(own, cond, "left_semi").select(
                        "vec_id"
                    )
                    # the live replay novel set is not empty: NULL-text
                    # pass-through rows re-forward every batch and were in
                    # the ORIGINAL novel set too — keep them alongside the
                    # recovered digest-bearing winners (the two sets are
                    # disjoint: recovery covers only non-NULL-text rows)
                    novel_ids = recovered.unionByName(novel_ids)
                if vec["flagged"]:
                    # publish by staging + atomic rename, skip-if-published:
                    # a replay AFTER the digest append sees an empty novel
                    # set and must not clobber the staged rows; a torn
                    # staging dir from a crash is invisible (never renamed)
                    publish_once(
                        vdf.join(novel_ids, "vec_id", "left_semi"),
                        vec_quarantine_dir, "vq", record, record,
                    )
                    if on_vector_alert is not None:
                        # the alert payload is the PUBLISHED staging dir,
                        # not the in-flight novel frame: on a redelivery
                        # after the digest append the novel set is empty,
                        # and handing consumers an empty frame would break
                        # the 'alert payload replay-identical' claim for
                        # the DataFrame leg — the staged rows ARE the
                        # payload, first delivery and replays alike
                        on_vector_alert(
                            batch_id,
                            vec["report"],
                            spark.read.parquet(
                                storefs.join(vec_quarantine_dir, record)
                            ),
                        )
                else:
                    enc_novel = enc.join(novel_ids, "vec_id", "left_semi")
                    _ann.admit_encoded(
                        index_dir,
                        enc_novel,
                        _ann.cell_counts(enc_novel),
                        batch_id,
                        cached,
                    )
            if vec_rescored:
                # legacy-record upgrade commits ONLY after stage 4b's side
                # effects are all durable (ADVICE r13): a crash anywhere
                # above replays the batch as a legacy record again — the
                # rescore is replay-safe (an admitted batch only pulls the
                # histogram TOWARD itself, so an unflagged verdict cannot
                # flip to flagged, and both 4b paths are idempotent) —
                # whereas committing first would make the next replay skip
                # the digest-file recovery and drop the vectors for good.
                _persist_decision()
            # --- stage 5: remember the novel digests (final-file guarded,
            # same layout dedup_on_ingest writes, so compaction applies
            # unchanged) ---
            publish_digests(novel, digest_dir, DIGEST_PREFIX, record)
        finally:
            novel.unpersist()
            if enc is not None:
                enc.unpersist()

    return idempotent_foreach_batch(apply, storefs.join(root, "_markers"))


def read_vec_quarantine(spark: SparkSession, root: str) -> DataFrame:
    """The staged (vec_id, embedding) rows of vec-flagged batches — the
    input to the ANN recovery loop: point
    ``streaming/ann_index.retrain_from_quarantine`` at
    ``root/vec_quarantine`` (its layout; staged dirs are published by
    atomic rename, so a torn stage is never visible here). These rows'
    TEXT side was already forwarded and learned — they must NOT re-enter
    the pipeline."""
    from spark_streaming_logservice_spark.streaming import ann_index

    return ann_index.read_quarantine(
        spark, storefs.join(root, "vec_quarantine")
    )


def read_quarantine(spark: SparkSession, root: str, schema: str) -> DataFrame:
    """All staged quarantined rows (empty frame if none). Rows re-ingested
    after recovery MUST flow through the pipeline again under a NEW batch
    id — stage order guarantees the digest store never saw them, so they
    are admitted, deduplicated and learned like any fresh data."""
    from spark_streaming_logservice_spark.streaming import ann_index

    return ann_index.read_quarantine(
        spark, storefs.join(root, "quarantine"), schema
    )


def clear_quarantine(root: str, batch_ids=None) -> int:
    """Drop staged batches (all, or just ``batch_ids``) after recovery has
    re-ingested or discarded them; returns the number of staged dirs
    cleared. A batch id names that batch of EVERY query that staged one,
    so it may clear more than one dir."""
    quarantine_dir = storefs.join(root, "quarantine")
    if not storefs.isdir(quarantine_dir):
        return 0
    n = 0
    for name in storefs.listdir(quarantine_dir):
        rec = parse_batch_record(name)
        if rec is not None and (batch_ids is None or rec[1] in batch_ids):
            storefs.rmtree(storefs.join(quarantine_dir, name))
            n += 1
    return n


def expire_pipeline_records(root: str, keep_last: int = 1000) -> int:
    """Prune per-batch bookkeeping (``_markers/<record>``,
    ``_flags/<record>.json``) older than the newest ``keep_last`` batch
    ids of each query; returns the number of files removed.

    Safety argument: replay only ever redelivers batches at or after the
    streaming checkpoint's frontier — once the source commits past a
    batch, its marker/flag record is never consulted again, so any
    retention window that comfortably covers the restart-replay horizon
    (default: the last 1000 batches) is safe. Quarantine staging is NOT
    touched — it holds data, and is cleared explicitly by
    :func:`clear_quarantine` after recovery. Every store in this package
    appends one tiny marker per batch (the crash contract); at one batch
    a minute that is ~500k files/year per store, so long-running ingest
    should run this alongside the digest-store compaction cadence."""
    removed = 0
    for sub, suffix in (("_markers", ""), ("_flags", ".json")):
        d = storefs.join(root, sub)
        if not storefs.isdir(d):
            continue
        per_query: dict = {}
        for f in storefs.listdir(d):
            rec = f.endswith(suffix) and parse_batch_record(
                f[: len(f) - len(suffix)]
            )
            if rec:
                per_query.setdefault(rec[0], []).append((rec[1], f))
        for ids in per_query.values():
            ids.sort()
            for _, f in ids[:-keep_last] if keep_last > 0 else ids:
                storefs.remove(storefs.join(d, f))
                removed += 1
    return removed
