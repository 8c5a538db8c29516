"""Product quantization (PQ) approximate nearest neighbor.

PQ is the memory-side scale path for ANN (Jégou, Douze, Schmid — "Product
Quantization for Nearest Neighbor Search", TPAMI 2011): split each D-dim
vector into M subspaces, k-means each subspace independently to K codewords,
and store each vector as M small codes (here 64 doubles → 4 codes, a 128×
compression). Search is asymmetric distance computation (ADC): the query
stays exact, each candidate's score is the sum of M table lookups — at
100 TB the corpus never rehydrates to floats, and the per-query lookup
table (M × K dot products) is tiny by construction, so it broadcasts and
the scoring join is map-side.

Execution shape (each choice was measured, see git history of this file):
- The codebook is M×K rows by construction and lives on the driver as plain
  Python floats between Lloyd steps — collecting it is the correct plan,
  not a shortcut (the ann_ivf.py argument). IEEE doubles survive
  collect/createDataFrame round-trips unchanged.
- Training runs on a bounded id-prefix sample (FAISS practice: a codebook
  needs ~1k vectors per codeword, not the corpus). Two birds: training is
  O(sample) however large the corpus grows, and the sample stays a single
  partition, keeping the Lloyd means' float-accumulation order bit-aligned
  with the sequential oracle.
- Distance arithmetic is FLAT element_at expressions, not higher-order
  folds: a left fold is just ((0+x1)+x2)+..., so inline expansion is
  bit-identical to F.aggregate/list_dot_product but stays inside
  whole-stage codegen, where HOF lambdas evaluate interpreted (~10× slower
  per pass).
- Assignment (training AND corpus encode) is one broadcast join against the
  codebook LocalRelation + a min_by aggregation — a literal-free, stable
  plan shape, so janino compiles it once and every Lloyd iteration and
  every later query hits the codegen cache. (The first implementation
  inlined codeword literals per iteration; each iteration then paid a
  multi-second recompilation of a thousand-node expression — more than the
  entire data computation.)

Determinism mirrors ann_ivf.py: seed = K lowest vec_ids, no RNG, left-fold
float paths in both engines (driver-side norms use an explicit left-fold
loop, never math.fsum), min_by over a (d2, code) struct reproduces ORDER BY
d2 ASC, code ASC (keys unique per group), the ADC sum is a fixed
t0+t1+t2+t3 expression (never a float groupBy-sum whose partial order
could differ), and scores round to 6 decimals with an id tie-break before
ranking.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_streaming_logservice_spark.registry import query
from spark_streaming_logservice_spark.tables import load_table

M_SUB = 4  # subspaces
K_SUB = 8  # codewords per subspace
N_ITERS = 2  # Lloyd steps (fixed, replayable in the oracle)
TOP_K = 3
N_QUERY = 5
TRAIN_SAMPLE_IDS = 4096  # id-prefix training sample bound

Codebook = dict[int, list[tuple[int, list[float]]]]  # sub -> [(code, cvec)]


def _ss_flat(vec: Column, offset: int, dl: int) -> Column:
    """Left-fold sum of squares as flat codegen arithmetic (bit-identical
    to DuckDB list_sum(list_transform(...)))."""
    acc: Column = F.lit(0.0)
    for i in range(dl):
        x = F.element_at(vec, offset + i + 1)
        acc = acc + x * x
    return acc


def _dot_cols_flat(a: Column, b: Column, dl: int) -> Column:
    """Left-fold dot product of two array columns, flat arithmetic
    (bit-identical to DuckDB list_dot_product)."""
    acc: Column = F.lit(0.0)
    for i in range(dl):
        acc = acc + F.element_at(a, i + 1) * F.element_at(b, i + 1)
    return acc


def _d2_flat(svec: Column, cvec: Column, dl: int) -> Column:
    """Squared L2 distance ss(v) + ss(c) - 2·v·c — the exact expression
    (and association order) the oracle's assignment CTEs use."""
    return (
        _ss_flat(svec, 0, dl)
        + _ss_flat(cvec, 0, dl)
        - 2 * _dot_cols_flat(svec, cvec, dl)
    )


def _normalized_base(df: DataFrame, dim: int) -> DataFrame:
    """(vec_id, emb) with emb L2-normalized via the HOF left fold +
    per-element transform — bit-identical to the flat expansion (same
    ((0+x²)+x²)+… association, same per-element division) with an O(1)
    expression tree: the flat 64-wide form cost ~1 s of Catalyst ANALYSIS
    per invocation (measured r9; see ann_ivf._normalized). Subspace-width
    (dl) scoring folds stay flat — that's the regime flat wins."""
    nrm = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, x: acc + x * x,
        )
    )
    return df.select("vec_id", "embedding", nrm.alias("nrm")).select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x / F.col("nrm")).alias("emb"),
    )


def _subspaces_long(base: DataFrame, dl: int) -> DataFrame:
    """(vec_id, sub, svec): the M contiguous slices of each vector."""
    return base.select(
        "vec_id",
        F.posexplode(
            F.array(*[F.slice(F.col("emb"), m * dl + 1, dl) for m in range(M_SUB)])
        ).alias("sub", "svec"),
    )


def _codebook_df(spark: SparkSession, cb: Codebook) -> DataFrame:
    rows = [
        (m, code, cvec) for m, entries in cb.items() for code, cvec in entries
    ]
    return spark.createDataFrame(rows, "sub INT, code INT, cvec ARRAY<DOUBLE>")


def _assign_codes(
    subs_long: DataFrame, cb_df: DataFrame, dl: int, with_svec: bool = True
) -> DataFrame:
    """(vec_id, sub, code[, svec]): nearest codeword per subvector —
    row-local w.r.t. (vec_id, sub) so corpus partitioning is free to vary.

    NOTE (r15 A/B, reverted): the row-local variant — codebook grouped to
    one array-of-structs row per sub, 1:1 join, transform + array_min —
    removed the K× expansion and the groupBy exchange but measured SLOWER
    (s07 4.4 → 6.2 s at sf0.1): the flat d2 arithmetic inside a HOF
    lambda evaluates interpreted (the regime the module docstring warns
    about), ~10× the codegen'd per-row cost, and the single-partition
    training sample pays it serially. Broadcast-expand + min_by keeps d2
    inside whole-stage codegen and partial aggregation collapses the K×
    rows map-side before the exchange.

    ``with_svec=False`` on the corpus-encode path: the subvector payload
    is only needed by the training means, and carrying 16 doubles per row
    through the aggregation shuffle dominates the cost of the encode
    otherwise."""
    scored = subs_long.join(F.broadcast(cb_df), "sub").select(
        "vec_id",
        "sub",
        *(["svec"] if with_svec else []),
        "code",
        _d2_flat(F.col("svec"), F.col("cvec"), dl).alias("d2"),
    )
    aggs = [
        F.min_by(F.col("code"), F.struct(F.col("d2"), F.col("code"))).alias("code")
    ]
    if with_svec:
        aggs.append(F.first("svec").alias("svec"))
    return scored.groupBy("vec_id", "sub").agg(*aggs)


def _dim(emb: DataFrame) -> int:
    return emb.limit(1).select(F.size("embedding").alias("d")).first()["d"]


def train_codebook(base: DataFrame, dl: int) -> Codebook:
    """N_ITERS Lloyd steps over the (single-partition) training sample,
    seeded from the K_SUB lowest vec_ids."""
    spark = base.sparkSession
    seed_rows = base.orderBy("vec_id").limit(K_SUB).collect()
    cb: Codebook = {
        m: [
            (code, list(r["emb"][m * dl : (m + 1) * dl]))
            for code, r in enumerate(seed_rows)
        ]
        for m in range(M_SUB)
    }
    subs_long = _subspaces_long(base, dl)
    for _ in range(N_ITERS):
        best = _assign_codes(subs_long, _codebook_df(spark, cb), dl)
        means = (
            best.select("sub", "code", F.posexplode("svec").alias("pos", "val"))
            .groupBy("sub", "code", "pos")
            .agg(F.avg("val").alias("m"))
            .collect()
        )
        nxt: dict[int, dict[int, dict[int, float]]] = {}
        for r in means:
            nxt.setdefault(r["sub"], {}).setdefault(r["code"], {})[r["pos"]] = r["m"]
        # codes with no members drop out, exactly like a groupBy would
        cb = {
            m: [
                (code, [poses[p] for p in sorted(poses)])
                for code, poses in sorted(nxt.get(m, {}).items())
            ]
            for m in range(M_SUB)
        }
    return cb


def pq_serve(
    codes: DataFrame,
    cb_df: DataFrame,
    queries: DataFrame,
    dim: int,
    top_k: int = TOP_K,
) -> DataFrame:
    """The SERVING half of PQ-ADC — per-query lookup table + code join over
    already-encoded corpus codes (vec_id, sub, code) and a trained
    codebook. Shared by the train-inline path below and the persisted
    index store (streaming/ann_index.py): train once, encode
    incrementally, pay only this stage per query. Bit-identical from a
    parquet-round-tripped codebook (IEEE doubles survive parquet)."""
    dl = dim // M_SUB
    qsubs = _subspaces_long(_normalized_base(queries, dim), dl).select(
        F.col("vec_id").alias("q_id"), "sub", F.col("svec").alias("qvec")
    )
    # per-query lookup table: M × K_SUB rows per query — broadcast side
    tbl = qsubs.join(F.broadcast(cb_df), "sub").select(
        "q_id",
        "sub",
        "code",
        _dot_cols_flat(F.col("qvec"), F.col("cvec"), dl).alias("partial"),
    )
    # one conditional-max column per subspace: each (q,n,sub) has exactly one
    # partial, so max() is exact selection, and the final sum is a
    # fixed-association expression — bit-stable across engines.
    parts = (
        codes.join(F.broadcast(tbl), ["sub", "code"])
        .groupBy("q_id", F.col("vec_id").alias("n_id"))
        .agg(
            *[
                F.max(F.when(F.col("sub") == m, F.col("partial"))).alias(f"t{m}")
                for m in range(M_SUB)
            ]
        )
    )
    adc = F.col("t0") + F.col("t1") + F.col("t2") + F.col("t3")
    w = Window.partitionBy("q_id").orderBy(F.desc("adc_score"), F.asc("n_id"))
    return (
        parts.where(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", F.round(adc, 6).alias("adc_score"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= top_k)
        .orderBy("q_id", "rk")
    )


def pq_search(
    emb: DataFrame, queries: DataFrame, top_k: int = TOP_K,
    dim: int | None = None,
) -> DataFrame:
    """ADC search: (q_id, n_id, adc_score, rk), top_k per query. Pass
    ``dim`` when known — the 1-row probe is otherwise a Spark job per
    invocation."""
    spark = emb.sparkSession
    if dim is None:
        dim = _dim(emb)
    dl = dim // M_SUB
    sample = emb.where(F.col("vec_id") < TRAIN_SAMPLE_IDS)
    cb = train_codebook(
        _normalized_base(sample, dim).localCheckpoint(eager=True), dl
    )
    cb_df = _codebook_df(spark, cb)
    # Corpus passes are row-local — parallelize freely.
    par = spark.sparkContext.defaultParallelism
    base = _normalized_base(emb.repartition(par), dim)
    codes = _assign_codes(_subspaces_long(base, dl), cb_df, dl, with_svec=False)
    return pq_serve(codes, cb_df, queries, dim, top_k)


# --- DuckDB oracle: replay the identical pipeline ---------------------------

_PQ_ITER = """
    pa{i} AS (
        SELECT vec_id, sub, code, svec FROM (
            SELECT s.vec_id, s.sub, c.code, s.svec,
                   row_number() OVER (
                       PARTITION BY s.vec_id, s.sub
                       ORDER BY list_sum(list_transform(s.svec, x -> x * x))
                              + list_sum(list_transform(c.cvec, x -> x * x))
                              - 2 * list_dot_product(s.svec, c.cvec) ASC,
                              c.code ASC
                   ) AS rk
            FROM tsubs s JOIN {prev} c USING (sub)
        ) WHERE rk = 1
    ),
    pm{i} AS (
        SELECT sub, code, pos, avg(val) AS m
        FROM (SELECT sub, code, unnest(svec) AS val,
                     unnest(range(1, len(svec) + 1)) AS pos
              FROM pa{i})
        GROUP BY sub, code, pos
    ),
    pc{i} AS (
        SELECT sub, code, list(m ORDER BY pos) AS cvec
        FROM pm{i} GROUP BY sub, code
    )"""

_PQ_BASE = (
    """
    WITH raw AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    base AS (
        SELECT vec_id,
               list_transform(e, x -> x / sqrt(list_sum(list_transform(e, y -> y * y)))) AS emb
        FROM raw
    ),
    subs AS (
        SELECT vec_id, sub, emb[(sub * dl + 1):((sub + 1) * dl)] AS svec
        FROM (SELECT vec_id, emb, len(emb) // """
    + str(M_SUB)
    + """ AS dl FROM base)
          CROSS JOIN (SELECT unnest(range(0, """
    + str(M_SUB)
    + """)) AS sub) ms
    ),
    tsubs AS (
        SELECT * FROM subs WHERE vec_id < """
    + str(TRAIN_SAMPLE_IDS)
    + """
    ),
    seed AS (
        SELECT sub, code, cvec FROM (
            SELECT sub, row_number() OVER (PARTITION BY sub ORDER BY vec_id) - 1 AS code,
                   svec AS cvec
            FROM tsubs
        ) WHERE code < """
    + str(K_SUB)
    + """
    ),"""
    + _PQ_ITER.format(i=1, prev="seed")
    + ","
    + _PQ_ITER.format(i=2, prev="pc1")
    + ","
    + """
    codes AS (
        SELECT vec_id, sub, code FROM (
            SELECT s.vec_id, s.sub, c.code,
                   row_number() OVER (
                       PARTITION BY s.vec_id, s.sub
                       ORDER BY list_sum(list_transform(s.svec, x -> x * x))
                              + list_sum(list_transform(c.cvec, x -> x * x))
                              - 2 * list_dot_product(s.svec, c.cvec) ASC,
                              c.code ASC
                   ) AS rk
            FROM subs s JOIN pc2 c USING (sub)
        ) WHERE rk = 1
    )"""
)

_PQ_PARTS = (
    _PQ_BASE
    + """,
    qsubs AS (
        SELECT vec_id AS q_id, sub, svec AS qvec FROM subs WHERE vec_id < """
    + str(N_QUERY)
    + """
    ),
    tbl AS (
        SELECT q.q_id, c.sub, c.code,
               list_dot_product(q.qvec, c.cvec) AS partial
        FROM qsubs q JOIN pc2 c USING (sub)
    ),
    parts AS (
        SELECT t.q_id, k.vec_id AS n_id,
               max(CASE WHEN t.sub = 0 THEN partial END) AS t0,
               max(CASE WHEN t.sub = 1 THEN partial END) AS t1,
               max(CASE WHEN t.sub = 2 THEN partial END) AS t2,
               max(CASE WHEN t.sub = 3 THEN partial END) AS t3
        FROM codes k JOIN tbl t ON t.sub = k.sub AND t.code = k.code
        GROUP BY t.q_id, k.vec_id
    )"""
)

_S07_ORACLE = (
    _PQ_PARTS
    + """
    SELECT q_id, n_id, adc_score, rk FROM (
        SELECT q_id, n_id, round(t0 + t1 + t2 + t3, 6) AS adc_score,
               row_number() OVER (
                   PARTITION BY q_id
                   ORDER BY round(t0 + t1 + t2 + t3, 6) DESC, n_id ASC
               ) AS rk
        FROM parts WHERE q_id <> n_id
    ) WHERE rk <= """
    + str(TOP_K)
    + """
    ORDER BY q_id, rk
    """
)


@query("s07_ann_pq", oracle=_S07_ORACLE)
def s07_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC neighbors for the first N_QUERY vectors, fully oracle-backed:
    the DuckDB CTE chain replays subspace split, sampled seeding, both
    Lloyd steps, corpus encoding, and the ADC table join."""
    from spark_streaming_logservice_spark.operators.similarity import _probe_dim

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return pq_search(
        e,
        e.where(F.col("vec_id") < N_QUERY),
        dim=_probe_dim(e, "embedding", cache_key=sf_dir),
    )


@query(
    "s08_pq_code_balance",
    oracle=_PQ_BASE
    + """
    SELECT sub, code, count(*) AS n_vectors
    FROM codes
    GROUP BY sub, code
    ORDER BY sub, code
    """,
)
def s08_pq_code_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codebook-balance histogram: vectors per (subspace, codeword). The
    operational health metric of a PQ index — a skewed histogram means the
    codebook wastes bits and ADC scores lose resolution. Integer-only
    output, so the driver hash is float-free."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    spark_ = e.sparkSession
    dim = _dim(e)
    dl = dim // M_SUB
    sample = e.where(F.col("vec_id") < TRAIN_SAMPLE_IDS)
    cb = train_codebook(
        _normalized_base(sample, dim).localCheckpoint(eager=True), dl
    )
    par = spark_.sparkContext.defaultParallelism
    base = _normalized_base(e.repartition(par), dim)
    codes = _assign_codes(
        _subspaces_long(base, dl), _codebook_df(spark_, cb), dl, with_svec=False
    )
    return (
        codes.groupBy("sub", "code")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("sub", "code")
    )


# --- s10: PQ candidates + exact rerank --------------------------------------
# The standard two-stage retrieval: ADC over compressed codes produces a
# cheap candidate set, exact cosine reranks only those candidates. At 100 TB
# the corpus is touched once with 4-byte codes (stage 1) and only O(q x C)
# full vectors rehydrate for stage 2 — fetched by key from a corpus bucketed
# on vec_id, so the rerank join is shuffle-free on the big side.

RERANK_CANDIDATES = 20

_S10_ORACLE = (
    _PQ_PARTS
    + """,
    cand AS (
        SELECT q_id, n_id FROM (
            SELECT q_id, n_id,
                   row_number() OVER (
                       PARTITION BY q_id
                       ORDER BY round(t0 + t1 + t2 + t3, 6) DESC, n_id ASC
                   ) AS rk
            FROM parts WHERE q_id <> n_id
        ) WHERE rk <= """
    + str(RERANK_CANDIDATES)
    + """
    ),
    rer AS (
        SELECT c.q_id, c.n_id,
               round(list_dot_product(qb.emb, nb.emb), 6) AS exact_score
        FROM cand c
          JOIN base qb ON qb.vec_id = c.q_id
          JOIN base nb ON nb.vec_id = c.n_id
    )
    SELECT q_id, n_id, exact_score, rk FROM (
        SELECT q_id, n_id, exact_score,
               row_number() OVER (
                   PARTITION BY q_id ORDER BY exact_score DESC, n_id ASC
               ) AS rk
        FROM rer
    ) WHERE rk <= """
    + str(TOP_K)
    + """
    ORDER BY q_id, rk
    """
)


@query("s10_pq_rerank", oracle=_S10_ORACLE)
def s10_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN: PQ-ADC top-RERANK_CANDIDATES per query, exact
    normalized-dot rerank to TOP_K. The candidate set is O(q x C) rows and
    broadcasts to the corpus-side key lookup; the exact product is the same
    flat left fold the brute-force path uses (bit-aligned with
    list_dot_product)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    from spark_streaming_logservice_spark.operators.similarity import _probe_dim

    queries = e.where(F.col("vec_id") < N_QUERY)
    dim = _probe_dim(e, "embedding", cache_key=sf_dir)
    cand = pq_search(e, queries, top_k=RERANK_CANDIDATES, dim=dim).select(
        "q_id", "n_id"
    )
    # cand feeds both the corpus-side key lookup and the rerank join below;
    # as a lazy plan each use would re-run the whole pq_search pipeline, and
    # the join would rely on two evaluations of its rounded-double top-K
    # agreeing. Its q x C rows are collected once and served from a local
    # relation to both uses.
    cand = spark.createDataFrame(cand.collect(), cand.schema)
    # r15 (guide §2.4 — don't compute what the join throws away): join the
    # O(q × C) candidate ids BEFORE normalizing; Catalyst cannot push a
    # join below the normalize projection, so the r14 order rehydrated and
    # L2-normalized the WHOLE corpus for a ~100-row rerank. Normalizing
    # after the key join touches only candidate rows — per-row arithmetic,
    # values identical.
    nb = _normalized_base(
        e.join(
            F.broadcast(
                cand.select(F.col("n_id").alias("vec_id")).distinct()
            ),
            "vec_id",
        ),
        dim,
    ).select(F.col("vec_id").alias("n_id"), F.col("emb").alias("n_emb"))
    qb = _normalized_base(e.where(F.col("vec_id") < N_QUERY), dim).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
    )
    rer = (
        nb.join(F.broadcast(cand), "n_id")
        .join(F.broadcast(qb), "q_id")
        .select(
            "q_id",
            "n_id",
            F.round(
                _dot_cols_flat(F.col("q_emb"), F.col("n_emb"), dim), 6
            ).alias("exact_score"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("exact_score"), F.asc("n_id"))
    return (
        rer.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOP_K)
        .orderBy("q_id", "rk")
    )
