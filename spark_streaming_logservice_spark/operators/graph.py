"""Distributed connected components for dedup clustering.

Near-duplicate detection (MinHash-LSH, SimHash, embedding cosine) emits
*pairs*; collapsing a corpus needs *clusters* — the transitive closure of
those pairs — so one canonical document survives per duplicate group. This
module provides that closure as a DataFrame-native operator.

Algorithm: alternating large-star / small-star (Kiveris, Lattanzi, Mirrokni,
Rastogi, Vassilvitskii — "Connected Components in MapReduce and Beyond",
ACM SoCC 2014). Each round is a constant number of hash shuffles on node id
and the edge set converges to star graphs (every node pointing at its
component's minimum id) in O(log^2 n) rounds — in practice a handful, even
on path-shaped graphs where naive label propagation needs O(diameter)
rounds.

Design for 100 TB:
- Per round: one window shuffle per star op plus a distinct; all expressions
  are built-in (whole-stage codegen), nothing leaves the JVM.
- The driver loop carries only a 2-value convergence checksum per round —
  edges themselves never visit the driver.
- ``localCheckpoint`` after each round truncates lineage, so plan size and
  task binary size stay constant across iterations (an unbounded iterative
  plan is the classic Spark iterative-algorithm failure mode).
- Degree skew: a high-degree node makes one hot window partition. Upstream
  LSH bucket caps (operators/dedup.py d04) bound degree by construction;
  for arbitrary graphs the large-star step itself is the paper's remedy —
  it detaches large neighborhoods onto the minimum in one round.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Optional profiling hook (bench instrumentation): set to a dict and
# connected_components appends per-round {edges, sec} entries under
# "rounds" — the measured basis for the d08 chain-cost note. Never set in
# production use.
CC_STATS: dict | None = None

logger = logging.getLogger(__name__)


def _release_checkpoint(df: DataFrame) -> None:
    """Free the block-manager storage of a ``localCheckpoint(eager=True)``
    DataFrame (ADVICE r14: checkpointed edge blocks otherwise accumulate
    O(E) storage per call until GC). The checkpointed RDD CANNOT be
    recomputed — call only when nothing will scan ``df`` again. Best-effort:
    on any py4j/plan-shape surprise the blocks just wait for GC as before."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        plan.rdd().unpersist(False)
    except Exception:
        logger.debug("_release_checkpoint: blocks left to GC", exc_info=True)


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star: for every node u, connect each strictly-larger neighbor
    to min(N(u) ∪ {u}). Emitted edges always point high→low."""
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    w = Window.partitionBy("src")
    m = F.least(F.min("dst").over(w), F.col("src"))
    return (
        sym.withColumn("m", m)
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star: orient edges high→low; for every node u, connect u and
    each smaller neighbor to min(N(u) ∪ {u})."""
    ori = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    w = Window.partitionBy("src")
    annotated = ori.select(
        "src",
        "dst",
        F.min("dst").over(w).alias("m"),
        F.row_number().over(Window.partitionBy("src").orderBy("dst")).alias("rn"),
    )
    nbrs = annotated.where(F.col("dst") != F.col("m")).select(
        F.col("dst").alias("src"), F.col("m").alias("dst")
    )
    selfe = annotated.where(F.col("rn") == 1).select(
        F.col("src"), F.col("m").alias("dst")
    )
    return nbrs.union(selfe).distinct()


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 25,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``, where
    ``component`` is the minimum node id of its connected component.

    Nodes with no edges don't appear in the input and therefore don't appear
    in the output — callers treat absent nodes as singleton components.

    Raises ``RuntimeError`` if the edge set hasn't reached a fixed point
    after ``max_iterations`` alternating rounds (the paper's bound makes
    this unreachable for any real graph; the guard catches driver bugs).
    """
    import time as _t

    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev: tuple | None = None
    for _ in range(max_iterations):
        t0 = _t.perf_counter()
        e = _small_star(_large_star(e)).localCheckpoint(eager=True)
        # Convergence = unchanged edge set; (count, order-independent hash)
        # is a 2-value fingerprint, so the driver never sees the edges.
        # bit_xor (not sum) keeps the fold overflow-free under ANSI mode.
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
        ).first()
        chk = (row["n"], row["h"])
        if CC_STATS is not None:  # bench profiling hook (edges + sec/round)
            CC_STATS.setdefault("rounds", []).append(
                {"edges": row["n"], "sec": round(_t.perf_counter() - t0, 3)}
            )
        if chk == prev:
            break
        prev = chk
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} rounds"
        )
    # Fixed point is a star graph: (v, min) for every non-root v; roots map
    # to themselves.
    return (
        e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
        .union(e.select(F.col("dst").alias("node"), F.col("dst").alias("component")))
        .distinct()
    )


# --- g01: PageRank (fixed-iteration, oracle-checkable) ---------------------
# The canonical iterative join-aggregate workload. Spark-first shape per
# iteration: edges ⋈ ranks on src (hash shuffle), groupBy dst (partial agg),
# left join back to the node set — three stages, all codegen'd. The edge
# relation is cached once and reused across iterations; ranks are
# localCheckpoint'd per round so the plan (and task binaries) stay O(1) in
# the iteration count instead of growing a lineage chain.
#
# 100 TB notes: ranks is O(nodes) and edges O(edges); neither is collected
# or broadcast. Degree skew (a celebrity node) makes one hot reduce key in
# the contribution agg — partial aggregation absorbs it map-side because
# the key space is nodes, the classic wordcount bound. Deterministic at the
# oracle level: contributions are summed doubles, so parity holds at 4-dp
# rounding (same discipline as the jaccard/cosine operators).

def pagerank(edges: DataFrame, iterations: int = 3, damping: float = 0.85,
             checkpoint: bool = True, cleanup: bool = True) -> DataFrame:
    """(node, pr) after ``iterations`` synchronous updates of
    pr(v) = (1-d) + d * Σ_{u→v} pr(u)/outdeg(u), pr₀ = 1.0.
    Dangling-node mass is dropped (both engines implement the same formula,
    so parity is exact).

    ``cleanup=True`` (default) eagerly materializes the final ranks and
    unpersists the loop-invariant edge/node caches before returning —
    otherwise every invocation leaks two cached relations into the session
    until LRU eviction (and repeated calls accumulate distinct entries).
    Pass ``cleanup=False`` to keep the caches when the caller will iterate
    further (and own the unpersist)."""
    F_ = F
    # the distinct edge list is referenced 4x (nodes union ×2, deg, ed);
    # materialize it once so each reference is a cheap RDD scan instead of
    # a re-run of the upstream fact join + distinct (guide §2.4)
    edges = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    nodes = (
        edges.select(F_.col("src").alias("node"))
        .union(edges.select(F_.col("dst").alias("node")))
        .distinct()
    )
    deg = edges.groupBy("src").agg(F_.count(F_.lit(1)).alias("outdeg"))
    # edge+outdeg is the loop-invariant relation: cache it once
    ed = edges.join(deg, "src").select("src", "dst", "outdeg")
    ed = ed.persist()
    nodes = nodes.persist()
    ranks = nodes.select("node", F_.lit(1.0).alias("pr"))
    for _ in range(iterations):
        contrib = (
            ed.join(ranks, ed["src"] == ranks["node"])
            .select(F_.col("dst").alias("node"), (F_.col("pr") / F_.col("outdeg")).alias("c"))
            .groupBy("node")
            .agg(F_.sum("c").alias("inflow"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F_.lit(1.0 - damping)
                    + F_.lit(damping) * F_.coalesce(F_.col("inflow"), F_.lit(0.0))
                ).alias("pr"),
            )
        )
        if checkpoint:
            ranks = ranks.localCheckpoint(eager=False)
    if cleanup:
        # eager checkpoint pins the result (O(nodes) rows) so the caches it
        # was computed from can be released immediately — including the
        # checkpointed edge blocks (ADVICE r14: these outlived the call)
        ranks = ranks.localCheckpoint(eager=True)
        ed.unpersist()
        nodes.unpersist()
        _release_checkpoint(edges)
    return ranks


def _supplier_customer_edges(spark, sf_dir):
    from spark_streaming_logservice_spark.tables import load_table

    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # distinct over the INTEGER key pair, then concat the string node ids
    # row-locally on the (much smaller) deduped relation — hashing 16-byte
    # int pairs beats hashing concat strings for the corpus-sized distinct,
    # and the concat cost drops from |fact| to |edges| rows
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .select("l_suppkey", "o_custkey")
        .distinct()
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("dst"),
        )
    )


def _register_g01() -> None:
    from pyspark.sql import SparkSession

    from spark_streaming_logservice_spark.registry import query

    _PR_ITER = """
      SELECT n.node,
             CAST(0.15 AS DOUBLE)
             + CAST(0.85 AS DOUBLE) * coalesce(sum(p.pr / d.outdeg), 0) AS pr
      FROM nodes n
      LEFT JOIN edges e ON e.dst = n.node
      LEFT JOIN deg d ON d.src = e.src
      LEFT JOIN {prev} p ON p.node = e.src
      GROUP BY n.node
    """

    oracle = f"""
    WITH edges AS (
      SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
                      'c' || CAST(o_custkey AS VARCHAR) AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), nodes AS (
      SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ), deg AS (
      SELECT src, count(*) AS outdeg FROM edges GROUP BY src
    ), pr0 AS (
      SELECT node, CAST(1.0 AS DOUBLE) AS pr FROM nodes
    ), pr1 AS ({_PR_ITER.format(prev="pr0")}
    ), pr2 AS ({_PR_ITER.format(prev="pr1")}
    ), pr3 AS ({_PR_ITER.format(prev="pr2")})
    SELECT node, round(pr, 4) AS pagerank
    FROM pr3 ORDER BY pagerank DESC, node LIMIT 20
    """

    @query("g01_pagerank", oracle=oracle)
    def g01_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
        """3-iteration PageRank over the supplier→customer ship graph.
        Checkpointing disabled here: at 3 iterations the lineage is small,
        and the driver re-plans the query from scratch per run."""
        from spark_streaming_logservice_spark.tables import load_table

        # r15 (guide §2.3): run the three join/agg iterations over 8-byte
        # long ids (supplier s<k> → 2k, customer c<k> → 2k+1 — the same
        # bijection as g03) and rebuild the oracle's string ids only in
        # the O(nodes) final projection before the top-20 sort. PageRank
        # values are label-independent, and the string tie-break is
        # applied on the reconstructed ids, so the result is unchanged.
        l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
        o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        edges = (
            l.join(o, l["l_orderkey"] == o["o_orderkey"])
            .select(
                (F.col("l_suppkey").cast("bigint") * 2).alias("src"),
                (F.col("o_custkey").cast("bigint") * 2 + 1).alias("dst"),
            )
        )
        ranks = pagerank(edges, iterations=3, checkpoint=False)
        node_str = F.concat(
            F.when(F.col("node") % 2 == 0, F.lit("s")).otherwise(F.lit("c")),
            F.expr("CAST(node DIV 2 AS STRING)"),
        )
        return (
            ranks.select(
                node_str.alias("node"), F.round("pr", 4).alias("pagerank")
            )
            .orderBy(F.desc("pagerank"), F.asc("node"))
            .limit(20)
        )


_register_g01()


# --- g02: Triangle counting (degree-oriented wedge join) -------------------
# The third classic graph workload after components and PageRank. Graph:
# parts co-purchased in the same order (lineitem self-join on l_orderkey,
# per-order item list capped at 5 rows row-locally so pair fan-out is
# O(orders * 25) by construction).
#
# Algorithm: orient every undirected edge from the endpoint with the lower
# (degree, id) tuple to the higher — the standard trick (Suri & Vassilvitskii,
# WWW'11 "Counting Triangles and the Curse of the Last Reducer") that bounds
# per-node out-degree by O(sqrt(E)), so the wedge join Σ d_out² is O(E^1.5)
# instead of Σ d² (which a single celebrity node blows up). Each triangle
# {a<b<c} in orientation order is generated exactly once as wedge (a→b, a→c)
# confirmed by oriented edge b→c (left-semi join).
#
# 100 TB shape: three hash shuffles (degree agg, wedge self-join on src,
# closing semi-join on (b,c)); degree relation is O(nodes) and joins
# normally (AQE broadcasts it when small — never forced). Nothing visits
# the driver; per-node counts explode each triangle into 3 rows (row-local)
# before one node-keyed agg.


def triangle_count(edges: DataFrame, materialize: bool = True) -> DataFrame:
    """Per-node triangle participation counts for an undirected simple
    graph. ``edges``: columns (a, b) with a != b, one row per undirected
    edge in canonical a < b form. Returns (node, triangles).

    ``materialize=True`` (default) eagerly checkpoints the oriented edge
    relation, which is referenced three times (both wedge sides + the
    closing semi-join) — without it each reference re-runs the degree
    aggregation and 2-way degree join. ``materialize=False`` keeps the
    full lineage visible for plan-shape tests."""
    deg = (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    ed = edges.join(da, "a").join(db, "b")
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    # Materialized once (default): the oriented relation feeds BOTH wedge
    # sides and the closing semi-join (3 plan references); without this
    # each reference re-runs the degree aggregation + 2-way degree join
    # (guide §2.4). O(E) rows of 3 ints — cheap to hold, expensive to
    # recompute.
    oriented = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dd"),
    )
    if materialize:
        oriented = oriented.localCheckpoint(eager=True)
    # r15 (guide §2.3/§2.4): the wedge pair set per center src is every
    # (dd, dst)-ordered pair of its out-neighbors. The r14 shape
    # self-joined `oriented` on src (two corpus exchanges + deg² join
    # output, half discarded by the order predicate); instead group each
    # src's out-neighborhood — bounded at O(sqrt E) rows by the degree
    # orientation — into ONE (dd, dst)-sorted array and emit exactly the
    # C(outdeg, 2) ordered pairs row-locally. sort_array on the struct is
    # lexicographic (dd, then dst), so i < j reproduces the old
    # (db_ < dc_) | (db_ == dc_ & b < c) predicate bit-for-bit.
    lists = oriented.groupBy("src").agg(
        F.sort_array(F.collect_list(F.struct("dd", "dst"))).alias("ons")
    )
    # pin the explode stage's parallelism: AQE sizes it on the tiny
    # pre-explode bytes and would coalesce to ~1 task (the g08 finding)
    lists = lists.repartition(edges.sparkSession.sparkContext.defaultParallelism)
    wedges = lists.select(
        "src",
        F.expr(
            "inline(flatten(transform(ons, (x, i) -> "
            "transform(slice(ons, i + 2, size(ons)), "
            "y -> struct(x.dst AS b, y.dst AS c)))))"
        ),
    )
    closing = oriented.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    tri = wedges.join(closing, ["b", "c"], "left_semi").select(
        F.col("src").alias("a"), "b", "c"
    )
    # one row-local explode instead of a 3-way union of tri projections —
    # the union re-ran the semi-join subtree three times (guide §2.4)
    members = tri.select(
        F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("node")
    )
    return members.groupBy("node").agg(F.count(F.lit(1)).alias("triangles"))




def _copurchase_edges(spark, sf_dir) -> DataFrame:
    """Undirected part co-purchase graph (canonical a < b rows): parts in
    the same order, even-orderkey sample — wedge volume is quadratic in
    degree, so halving the order set quarters the dominant join's row count
    while keeping the same E^1.5 execution shape; ≤5 items/order caps the
    per-order pair fan-out row-locally."""
    from spark_streaming_logservice_spark.tables import load_table

    items = (
        load_table(spark, sf_dir, "lineitem")
        .where((F.col("l_linenumber") <= 5) & (F.col("l_orderkey") % 2 == 0))
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    i2 = items.select("ok", F.col("pk").alias("pk2"))
    return (
        items.join(i2, "ok")
        .where(F.col("pk") < F.col("pk2"))
        .select(F.col("pk").alias("a"), F.col("pk2").alias("b"))
        .distinct()
    )

def _register_g02() -> None:
    from pyspark.sql import SparkSession

    from spark_streaming_logservice_spark.registry import query

    oracle = """
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      FROM lineitem WHERE l_linenumber <= 5 AND l_orderkey % 2 = 0
    ), edges AS (
      SELECT DISTINCT i1.pk AS a, i2.pk AS b
      FROM items i1 JOIN items i2 ON i1.ok = i2.ok AND i1.pk < i2.pk
    ), deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT a AS node FROM edges UNION ALL SELECT b AS node FROM edges
      ) GROUP BY node
    ), oe AS (
      SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.a < e.b)
                  THEN e.a ELSE e.b END AS src,
             CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.a < e.b)
                  THEN e.b ELSE e.a END AS dst,
             CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.a < e.b)
                  THEN db.d ELSE da.d END AS dd
      FROM edges e
      JOIN deg da ON da.node = e.a
      JOIN deg db ON db.node = e.b
    ), tri AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM oe e1 JOIN oe e2 ON e1.src = e2.src
        AND ((e1.dd < e2.dd) OR (e1.dd = e2.dd AND e1.dst < e2.dst))
      WHERE EXISTS (
        SELECT 1 FROM oe e3 WHERE e3.src = e1.dst AND e3.dst = e2.dst
      )
    ), members AS (
      SELECT a AS node FROM tri
      UNION ALL SELECT b AS node FROM tri
      UNION ALL SELECT c AS node FROM tri
    ), pern AS (
      SELECT node, count(*) AS triangles FROM members GROUP BY node
    ), tot AS (
      SELECT count(*) AS total_triangles FROM tri
    )
    SELECT p.node AS part_key, p.triangles, t.total_triangles
    FROM pern p CROSS JOIN tot t
    ORDER BY p.triangles DESC, p.node
    LIMIT 10
    """

    @query("g02_triangle_count", oracle=oracle)
    def g02_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Top-10 parts by triangle participation in the co-purchase graph,
        with the global triangle total alongside (1-row scalar cross join).

        The edge relation (a fact self-join + distinct) is eagerly
        materialized once: triangle_count references it five times (degree
        union ×2, the degree-join, and via `oriented` the wedge pair and
        closing side), and without the checkpoint each reference re-runs
        the whole build (r14 profile: the recompute was the bulk of the
        4.6 s runtime; guide §2.4 — share one computation instead of
        re-planning identical subtrees)."""
        edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=True)
        # pern is consumed twice (the scalar total and the final project):
        # without the checkpoint the O(E^1.5) wedge join runs twice.
        pern = triangle_count(edges).localCheckpoint(eager=True)
        # total = sum(per-node)/3: every triangle contributes 3 member rows,
        # so the corpus is not re-scanned for the scalar
        tot = pern.agg(
            (F.coalesce(F.sum("triangles"), F.lit(0)) / 3).cast("long").alias("total_triangles")
        )
        return (
            pern.crossJoin(tot)
            .select(F.col("node").alias("part_key"), "triangles", "total_triangles")
            .orderBy(F.desc("triangles"), F.asc("part_key"))
            .limit(10)
        )


_register_g02()


# --- g03: k-hop BFS reachability -------------------------------------------
# Frontier-expansion BFS over the (undirected) supplier↔customer ship graph:
# per-hop NEW-node counts from a seed set — the reachability/blast-radius
# primitive. Spark shape per hop: frontier ⋈ edges (hash shuffle on node),
# distinct, anti-join against the visited set — the same iterative
# join-agg discipline as PageRank (loop-invariant edge relation persisted,
# per-hop localCheckpoint keeps lineage O(1)). Frontier and visited are
# O(nodes); nothing visits the driver but the per-hop counts.


def khop_frontiers(
    edges_undirected: DataFrame, seeds: DataFrame, hops: int = 3
) -> DataFrame:
    """(hop, n_nodes): hop 0 = |seeds|, hop h = nodes first reached at
    distance h. ``edges_undirected``: (node, nbr) with both directions
    present; ``seeds``: (node)."""
    ed = edges_undirected.persist()
    # NOTE (r15 A/B, kept eager): riding the count on a LAZY checkpoint
    # (eager=False, count() materializes + returns in one action) did cut
    # jobs 30 → 26 but measured SLOWER (4.03 → 5.15 s at sf0.1) — the
    # lazy path compiles the chain outside AQE's stage-by-stage sizing,
    # and the worse join/partition choices cost more than the saved
    # trivial count jobs. Counts stay on pinned RDDs.
    seeds_ck = seeds.select("node").distinct().localCheckpoint(eager=True)
    frontier = seeds_ck
    frontiers = [seeds_ck]
    counts = [(0, seeds_ck.count())]
    # visited = union of checkpointed frontiers: every leaf is already a
    # pinned RDD, so the union needs no checkpoint of its own — lineage
    # stays O(hops) scans and each hop saves one blocking materialization
    visited = seeds_ck
    for h in range(1, hops + 1):
        frontier = (
            ed.join(frontier, "node")
            .select(F.col("nbr").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .localCheckpoint(eager=True)
        )
        counts.append((h, frontier.count()))
        visited = visited.unionAll(frontier)
        frontiers.append(frontier)
    ed.unpersist()
    # the counts are plain Python ints by now — release every pinned
    # frontier's blocks before returning (nothing scans them again)
    for f in frontiers:
        _release_checkpoint(f)
    spark = edges_undirected.sparkSession
    return spark.createDataFrame(counts, "hop INT, n_nodes BIGINT")


def _register_g03() -> None:
    from pyspark.sql import SparkSession

    from spark_streaming_logservice_spark.registry import query

    oracle = """
    WITH edges AS (
      SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
                      'c' || CAST(o_custkey AS VARCHAR) AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), und AS (
      SELECT src AS node, dst AS nbr FROM edges
      UNION ALL
      SELECT dst AS node, src AS nbr FROM edges
    ), v0 AS (
      SELECT DISTINCT src AS node FROM edges
      WHERE CAST(substr(src, 2) AS BIGINT) % 50 = 1
    ), f1 AS (
      SELECT DISTINCT u.nbr AS node FROM und u JOIN v0 ON u.node = v0.node
      WHERE u.nbr NOT IN (SELECT node FROM v0)
    ), v1 AS (
      SELECT node FROM v0 UNION SELECT node FROM f1
    ), f2 AS (
      SELECT DISTINCT u.nbr AS node FROM und u JOIN f1 ON u.node = f1.node
      WHERE u.nbr NOT IN (SELECT node FROM v1)
    ), v2 AS (
      SELECT node FROM v1 UNION SELECT node FROM f2
    ), f3 AS (
      SELECT DISTINCT u.nbr AS node FROM und u JOIN f2 ON u.node = f2.node
      WHERE u.nbr NOT IN (SELECT node FROM v2)
    )
    SELECT 0 AS hop, count(*) AS n_nodes FROM v0
    UNION ALL SELECT 1, count(*) FROM f1
    UNION ALL SELECT 2, count(*) FROM f2
    UNION ALL SELECT 3, count(*) FROM f3
    ORDER BY hop
    """

    @query("g03_khop_reachability", oracle=oracle)
    def g03_khop_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
        """3-hop BFS frontier sizes from every 50th supplier over the
        undirected ship graph (bipartite: odd hops are customers, even are
        suppliers)."""
        from spark_streaming_logservice_spark.tables import load_table

        # r15 (guide §2.3 — narrower types through every exchange): the
        # output is COUNTS only, so node identity merely needs to stay
        # injective. Encode supplier s<k> as 2k and customer c<k> as 2k+1
        # (a bijection with the oracle's string ids — s/c prefixes and the
        # even/odd parity partition the id space identically), so every
        # per-hop join/distinct/anti-join shuffles 8-byte longs instead of
        # ~8-16 char strings. Frontier sizes are unchanged by construction.
        l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
        o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        # the fact-join + distinct edge relation feeds und (×2) and the
        # seed filter — materialize once (guide §2.4)
        edges = (
            l.join(o, l["l_orderkey"] == o["o_orderkey"])
            .select(
                (F.col("l_suppkey").cast("bigint") * 2).alias("src"),
                (F.col("o_custkey").cast("bigint") * 2 + 1).alias("dst"),
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        und = edges.select(F.col("src").alias("node"), F.col("dst").alias("nbr")).unionAll(
            edges.select(F.col("dst").alias("node"), F.col("src").alias("nbr"))
        )
        seeds = (
            edges.select("src")
            .distinct()
            .where(F.expr("(src DIV 2) % 50 = 1"))
            .select(F.col("src").alias("node"))
        )
        out = khop_frontiers(und, seeds, hops=3).orderBy("hop")
        # khop's counts are local ints — the edge checkpoint is fully
        # consumed by the time it returns, so free its blocks too
        _release_checkpoint(edges)
        return out


_register_g03()


# --- g04: local clustering coefficient -------------------------------------
# cc(v) = 2·tri(v) / (d(v)·(d(v)−1)) — how close a node's neighborhood is
# to a clique; the community-structure signal PageRank and components miss.
# Reuses the g02 triangle relation (same oriented wedge join) plus the
# degree aggregate; the division is row-local over the O(nodes) result.


def _register_g04() -> None:
    from pyspark.sql import SparkSession

    from spark_streaming_logservice_spark.registry import query

    oracle = """
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      FROM lineitem WHERE l_linenumber <= 5 AND l_orderkey % 2 = 0
    ), edges AS (
      SELECT DISTINCT i1.pk AS a, i2.pk AS b
      FROM items i1 JOIN items i2 ON i1.ok = i2.ok AND i1.pk < i2.pk
    ), deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT a AS node FROM edges UNION ALL SELECT b AS node FROM edges
      ) GROUP BY node
    ), oe AS (
      SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.a < e.b)
                  THEN e.a ELSE e.b END AS src,
             CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.a < e.b)
                  THEN e.b ELSE e.a END AS dst,
             CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.a < e.b)
                  THEN db.d ELSE da.d END AS dd
      FROM edges e
      JOIN deg da ON da.node = e.a
      JOIN deg db ON db.node = e.b
    ), tri AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM oe e1 JOIN oe e2 ON e1.src = e2.src
        AND ((e1.dd < e2.dd) OR (e1.dd = e2.dd AND e1.dst < e2.dst))
      WHERE EXISTS (
        SELECT 1 FROM oe e3 WHERE e3.src = e1.dst AND e3.dst = e2.dst
      )
    ), pern AS (
      SELECT node, count(*) AS triangles FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b AS node FROM tri
        UNION ALL SELECT c AS node FROM tri
      ) GROUP BY node
    )
    SELECT d.node AS part_key, d.d AS degree,
           coalesce(p.triangles, 0) AS triangles,
           round(2.0 * coalesce(p.triangles, 0) / (d.d * (d.d - 1)), 6) AS cc
    FROM deg d LEFT JOIN pern p ON p.node = d.node
    WHERE d.d >= 2
    ORDER BY cc DESC, part_key
    LIMIT 15
    """

    @query("g04_clustering_coefficient", oracle=oracle)
    def g04_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Top-15 parts by local clustering coefficient (degree >= 2)."""
        # shared by the degree union (×2) and triangle_count — one build
        edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=True)
        deg = (
            edges.select(F.col("a").alias("node"))
            .unionAll(edges.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        pern = triangle_count(edges)
        return (
            deg.where(F.col("d") >= 2)
            .join(pern, "node", "left")
            .select(
                F.col("node").alias("part_key"),
                F.col("d").alias("degree"),
                F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"),
                F.round(
                    2.0
                    * F.coalesce(F.col("triangles"), F.lit(0))
                    / (F.col("d") * (F.col("d") - 1)),
                    6,
                ).alias("cc"),
            )
            .orderBy(F.desc("cc"), F.asc("part_key"))
            .limit(15)
        )


_register_g04()


# --- g05: synchronous min-label propagation --------------------------------
# k rounds of "adopt the minimum label in your closed neighborhood" — the
# bounded-round community/component primitive (k-round labels = min node id
# within k hops; run to convergence it IS connected components, which d08
# computes with the O(log²n) star algorithm — this is the fixed-depth
# variant whose round count, and therefore oracle, is static).
#
# 100 TB shape per round: one hash shuffle on the neighbor key (join) + one
# on the node key (min agg) — the same keyed join-agg discipline as
# PageRank, with the symmetrized edge relation persisted across rounds and
# released before returning. Self-loops fold the node's own label into the
# same min, so a round is exactly one join + one groupBy (no extra union).


def min_label_propagation(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """(node, lbl) after ``rounds`` synchronous min-label updates over the
    undirected graph given as canonical (a < b) edge rows."""
    nodes = (
        edges.select(F.col("a").alias("node"))
        .union(edges.select(F.col("b").alias("node")))
        .distinct()
    )
    sym = (
        edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionAll(edges.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .unionAll(nodes.select(F.col("node").alias("u"), F.col("node").alias("v")))
    )
    sym = sym.persist()
    labels = nodes.select("node", F.col("node").alias("lbl"))
    for _ in range(rounds):
        labels = (
            sym.join(labels, sym["v"] == labels["node"])
            .groupBy(F.col("u").alias("node2"))
            .agg(F.min("lbl").alias("lbl"))
            .select(F.col("node2").alias("node"), "lbl")
        )
    labels = labels.localCheckpoint(eager=True)
    sym.unpersist()
    return labels


def _register_g05() -> None:
    from pyspark.sql import SparkSession

    from spark_streaming_logservice_spark.registry import query

    _ROUND = """
      SELECT s.u AS node, min(l.lbl) AS lbl
      FROM sym s JOIN {prev} l ON l.node = s.v
      GROUP BY s.u
    """

    oracle = f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      FROM lineitem WHERE l_linenumber <= 5 AND l_orderkey % 2 = 0
    ), edges AS (
      SELECT DISTINCT i1.pk AS a, i2.pk AS b
      FROM items i1 JOIN items i2 ON i1.ok = i2.ok AND i1.pk < i2.pk
    ), nodes AS (
      SELECT a AS node FROM edges UNION SELECT b FROM edges
    ), sym AS (
      SELECT a AS u, b AS v FROM edges
      UNION ALL SELECT b AS u, a AS v FROM edges
      UNION ALL SELECT node AS u, node AS v FROM nodes
    ), l0 AS (
      SELECT node, node AS lbl FROM nodes
    ), l1 AS ({_ROUND.format(prev="l0")}
    ), l2 AS ({_ROUND.format(prev="l1")})
    SELECT lbl AS cluster_label, count(*) AS n_nodes
    FROM l2 GROUP BY lbl
    ORDER BY n_nodes DESC, cluster_label
    LIMIT 20
    """

    @query("g05_label_propagation", oracle=oracle)
    def g05_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Top-20 2-round label-propagation clusters of the co-purchase
        graph (same edge relation as g02/g04; 2 rounds keeps the labeling
        non-degenerate — the dense co-purchase graph collapses to ONE
        cluster by round 3, which is d08's job, not a profile)."""
        # referenced 4x building nodes + sym — materialize once
        edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=True)
        labels = min_label_propagation(edges, rounds=2)
        return (
            labels.groupBy(F.col("lbl").alias("cluster_label"))
            .agg(F.count(F.lit(1)).alias("n_nodes"))
            .orderBy(F.desc("n_nodes"), F.asc("cluster_label"))
            .limit(20)
        )


_register_g05()


# --- g06: degree distribution + power-law tail fit -------------------------
# The first question asked of any large graph: how skewed are the degrees?
# Histogram of node degree over the co-purchase graph plus a log-log OLS
# fit of count ~ degree (the Zipf/power-law exponent alpha = -slope) —
# the number that decides whether the join strategy downstream needs skew
# handling at all. Reference scope: north-star extension (the reference
# engine has no graph surface).


def _register_g06() -> None:
    from pyspark.sql import SparkSession

    from spark_streaming_logservice_spark.registry import query

    oracle = """
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      FROM lineitem WHERE l_linenumber <= 5 AND l_orderkey % 2 = 0
    ), edges AS (
      SELECT a.pk AS a, b.pk AS b
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY 1, 2
    ), ends AS (
      SELECT a AS node FROM edges UNION ALL SELECT b FROM edges
    ), deg AS (
      SELECT node, count(*) AS degree FROM ends GROUP BY node
    ), hist AS (
      SELECT degree, count(*) AS n_nodes FROM deg GROUP BY degree
    ), fit AS (
      SELECT round(regr_slope(ln(CAST(n_nodes AS DOUBLE)),
                              ln(CAST(degree AS DOUBLE))), 4) AS slope,
             round(regr_r2(ln(CAST(n_nodes AS DOUBLE)),
                           ln(CAST(degree AS DOUBLE))), 4) AS r2
      FROM hist
    )
    SELECT h.degree, h.n_nodes, f.slope AS loglog_slope, f.r2 AS fit_r2
    FROM hist h CROSS JOIN fit f
    ORDER BY h.degree
    """

    @query("g06_degree_powerlaw", oracle=oracle)
    def g06_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Degree histogram of the co-purchase graph with the log-log OLS
        slope (power-law exponent = -slope) and fit r² stamped on every row.

        100 TB shape: degrees are one node-keyed count over the symmetric
        edge list (map-side combine); the histogram is a second keyed count
        over O(nodes) rows; the regression runs over the O(distinct degrees)
        histogram — tens of rows at any corpus size — and its 1-row result
        broadcasts back onto the histogram. Same regr_* float envelope as
        v08 (few points, round(4))."""
        # NOTE (r14): no checkpoints here — both union branches and the
        # fit/projection pair are identical subplans that ReusedExchange
        # already shares (the A/B measured the checkpointed variant
        # slower, 1.02 s → 1.27 s).
        edges = _copurchase_edges(spark, sf_dir)
        ends = edges.select(F.col("a").alias("node")).unionAll(
            edges.select(F.col("b").alias("node"))
        )
        deg = ends.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
        hist = deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))
        fit = hist.agg(
            F.round(
                F.regr_slope(
                    F.log(F.col("n_nodes").cast("double")),
                    F.log(F.col("degree").cast("double")),
                ),
                4,
            ).alias("loglog_slope"),
            F.round(
                F.regr_r2(
                    F.log(F.col("n_nodes").cast("double")),
                    F.log(F.col("degree").cast("double")),
                ),
                4,
            ).alias("fit_r2"),
        )
        return (
            hist.crossJoin(F.broadcast(fit))
            .select("degree", "n_nodes", "loglog_slope", "fit_r2")
            .orderBy("degree")
        )


_register_g06()


# --- g07: degree assortativity -----------------------------------------------
# After g06 answers "how skewed are the degrees", the next structural
# question is "do hubs attach to hubs?" — the degree assortativity
# coefficient (Newman 2002): Pearson correlation of the endpoint degrees
# over the symmetrized edge set. Positive = hub-hub (social-network-like),
# negative = hub-leaf (dependency/star-like); it decides whether skew
# handling must worry about hub-ADJACENT keys too.
#
# Exactness: degrees and edge counts are integers, and symmetrization
# makes sx=sy / sxx=syy, so EVERY sufficient statistic is an exact bigint
# sum and r = (n·sxy − sx²)/(n·sxx − sx²) touches floats only in the one
# final division — bit-stable at any partitioning (the p22 discipline).
#
# 100 TB shape: degree is one node-keyed count over the edge ends; the
# per-edge (deg_a, deg_b) lookup is two joins keyed by node id (AQE
# broadcasts the degree relation when small); the statistics are one
# map-side-combined aggregate to a single row.


def _register_g07() -> None:
    from pyspark.sql import SparkSession

    from spark_streaming_logservice_spark.registry import query

    oracle = """
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      FROM lineitem WHERE l_linenumber <= 5 AND l_orderkey % 2 = 0
    ), edges AS (
      SELECT a.pk AS a, b.pk AS b
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY 1, 2
    ), ends AS (
      SELECT a AS node FROM edges UNION ALL SELECT b FROM edges
    ), deg AS (
      SELECT node, count(*) AS degree FROM ends GROUP BY node
    ), st AS (
      SELECT 2 * count(*) AS n,
             sum(da.degree + db.degree) AS sx,
             sum(2 * da.degree * db.degree) AS sxy,
             sum(da.degree * da.degree + db.degree * db.degree) AS sxx
      FROM edges e
        JOIN deg da ON da.node = e.a
        JOIN deg db ON db.node = e.b
    ), nn AS (
      SELECT count(*) AS n_nodes FROM deg
    )
    SELECT CAST(st.n // 2 AS BIGINT) AS n_edges,
           CAST(nn.n_nodes AS BIGINT) AS n_nodes,
           round(CAST(st.n * st.sxy - st.sx * st.sx AS DOUBLE)
                 / CAST(st.n * st.sxx - st.sx * st.sx AS DOUBLE)
                 + 0.0, 6) AS assortativity,
           CAST((20000 * st.n + 2 * nn.n_nodes) // (4 * nn.n_nodes)
                AS DOUBLE) / 10000.0 AS mean_degree
    FROM st CROSS JOIN nn
    """

    @query("g07_degree_assortativity", oracle=oracle)
    def g07_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
        # edges feeds the ends union (×2) AND the statistics join;
        # deg feeds both join sides and the node count — one build each
        edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=True)
        ends = edges.select(F.col("a").alias("node")).unionByName(
            edges.select(F.col("b").alias("node"))
        )
        deg = (
            ends.groupBy("node")
            .agg(F.count(F.lit(1)).alias("degree"))
            .localCheckpoint(eager=True)
        )
        da = deg.select(F.col("node").alias("a"), F.col("degree").alias("da"))
        db = deg.select(F.col("node").alias("b"), F.col("degree").alias("db"))
        st = (
            edges.join(da, "a")
            .join(db, "b")
            .agg(
                (2 * F.count(F.lit(1))).alias("n"),
                F.sum(F.col("da") + F.col("db")).alias("sx"),
                F.sum(2 * F.col("da") * F.col("db")).alias("sxy"),
                F.sum(
                    F.col("da") * F.col("da") + F.col("db") * F.col("db")
                ).alias("sxx"),
            )
        )
        nn = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
        r = (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sx")).cast(
                "double"
            )
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            )
        )
        md = F.expr(
            "(20000 * n + 2 * n_nodes) DIV (4 * n_nodes)"
        ).cast("double") / F.lit(10000.0)
        return st.crossJoin(F.broadcast(nn)).select(
            F.expr("n DIV 2").cast("bigint").alias("n_edges"),
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            F.round(r + F.lit(0.0), 6).alias("assortativity"),
            md.alias("mean_degree"),
        )


_register_g07()


# --- g08: resource-allocation link prediction --------------------------------
# "Which parts are NOT yet co-purchased but share many co-purchase
# neighbors?" — the classic link-prediction / recommendation primitive.
# Score = the Resource Allocation index (Zhou, Lü, Zhang 2009): for a
# candidate pair (u, v), sum over common neighbors w of 1/deg(w) — common
# neighbors weighted so promiscuous hubs contribute least. RA is chosen
# over Adamic-Adar deliberately: 1/deg is EXACT in integer units
# (10^9 DIV deg), where AA's 1/ln(deg) would put a cross-engine libm ulp
# into every summand.


def _register_g08() -> None:
    from pyspark.sql import SparkSession

    from spark_streaming_logservice_spark.registry import query

    CENTER_CAP = 64  # wedge centers above this degree are skipped
    TOP = 20
    UNITS = 1_000_000_000

    oracle = f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      FROM lineitem WHERE l_linenumber <= 5 AND l_orderkey % 2 = 0
    ), edges AS (
      SELECT DISTINCT i1.pk AS a, i2.pk AS b
      FROM items i1 JOIN items i2 ON i1.ok = i2.ok AND i1.pk < i2.pk
    ), adj AS (
      SELECT a AS w, b AS n FROM edges
      UNION ALL SELECT b AS w, a AS n FROM edges
    ), deg AS (
      SELECT w, count(*) AS d FROM adj GROUP BY w
    ), centers AS (
      SELECT w, {UNITS} // d AS u FROM deg WHERE d <= {CENTER_CAP}
    ), wedge AS (
      SELECT a1.n AS u, a2.n AS v, c.u AS units
      FROM centers c
        JOIN adj a1 ON a1.w = c.w
        JOIN adj a2 ON a2.w = c.w AND a1.n < a2.n
    ), cand AS (
      SELECT u, v, sum(units) AS score_units, count(*) AS n_common
      FROM wedge
      GROUP BY u, v
    ), nonedge AS (
      SELECT c.* FROM cand c
      WHERE NOT EXISTS (
        SELECT 1 FROM edges e WHERE e.a = c.u AND e.b = c.v
      )
    )
    SELECT u AS part_a, v AS part_b,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(score_units AS DOUBLE) / {UNITS} AS ra_score
    FROM (
      SELECT *, row_number() OVER (
        ORDER BY score_units DESC, u ASC, v ASC
      ) AS rk
      FROM nonedge
    ) WHERE rk <= {TOP}
    ORDER BY ra_score DESC, part_a, part_b
    """

    @query("g08_ra_link_prediction", oracle=oracle)
    def g08_ra_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Top-20 non-adjacent part pairs by Resource Allocation score over
        the co-purchase graph.

        100 TB shape: wedge enumeration through each center w costs
        O(Σ min(deg(w), CAP)²) — the CENTER_CAP bounds the quadratic
        per-center fan-out exactly the way d23 caps containment (hubs
        carry the least RA weight by construction, so the cap removes the
        most expensive, least informative wedges first). The candidate
        aggregate shuffles on (u, v); the non-edge filter is an anti-join
        against the (already canonical a < b) edge relation; the top-20 is
        a WindowGroupLimit-pruned global rank over the aggregated
        candidates. All score arithmetic is exact BIGINT (1e9 DIV degree
        units), so the result is bit-stable at any partitioning."""
        # edges feeds the adjacency (×2) AND the closing anti-join —
        # materialize it once (guide §2.4; r14 profile: re-deriving the
        # fact self-join per reference was the bulk of 12 s).
        edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=True)
        adj = edges.select(F.col("a").alias("w"), F.col("b").alias("n")).unionByName(
            edges.select(F.col("b").alias("w"), F.col("a").alias("n"))
        )
        deg = adj.groupBy("w").agg(F.count(F.lit(1)).alias("d"))
        centers = deg.where(F.col("d") <= CENTER_CAP).select(
            "w", F.expr(f"{UNITS} DIV d").alias("units")
        )
        # r15 (guide §2.3/§2.4): the r14 shape self-joined the adjacency on
        # w (two corpus-sized exchanges + a join emitting deg² rows per
        # center, half discarded by u < v). Instead, group each capped
        # center's neighbors into ONE sorted array (bounded at CENTER_CAP
        # rows per group by the centers join, so no hub can blow up an
        # aggregation buffer) and emit exactly the C(deg, 2) ordered pairs
        # row-locally. The centers join drops hub rows BEFORE the group-by
        # and reuses its w-partitioning for it — one adjacency exchange
        # total instead of two, and no wedge join at all. Pair set is
        # identical by construction: sort_array over the (distinct)
        # neighbor set makes every i < j pair satisfy u < v exactly once.
        nbrs = adj.join(centers, "w")
        lists = nbrs.groupBy("w", "units").agg(
            F.sort_array(F.collect_list("n")).alias("ns")
        )
        # The pair explode amplifies ~74k grouped rows to ~10M wedges; AQE
        # sizes the downstream stage on the PRE-explode bytes and coalesced
        # it to 1 task (measured: a 12 s single-core stage). An explicit
        # repartition of the tiny grouped relation pins the explode at full
        # parallelism — the exchange itself is ~25 MB (guide §2.5: AQE
        # cannot see through an explode's row amplification).
        lists = lists.repartition(spark.sparkContext.defaultParallelism)
        wedge = lists.select(
            "units",
            F.expr(
                "inline(flatten(transform(ns, (x, i) -> "
                "transform(slice(ns, i + 2, size(ns)), "
                "y -> struct(x AS u, y AS v)))))"
            ),
        )
        # Non-edge filter BEFORE the pair aggregation (guide §3.2/§2.3):
        # the predicate is per pair key, so dropping existing-edge wedges
        # row-wise is exactly the old post-agg anti-join — but triangle
        # wedges now die map-side (broadcast anti at local size) instead
        # of being shuffled and aggregated first. At cluster scale the
        # anti-join's (u,v) exchange is reused by the aggregation, so the
        # exchange count is unchanged.
        nonedge_wedges = wedge.join(
            edges,
            (wedge["u"] == edges["a"]) & (wedge["v"] == edges["b"]),
            "left_anti",
        )
        nonedge = nonedge_wedges.groupBy("u", "v").agg(
            F.sum("units").alias("score_units"),
            F.count(F.lit(1)).alias("n_common"),
        )
        # global top-20 via sort+limit (TakeOrderedAndProject): each task
        # keeps its local top-20, the driver merges O(partitions x 20) rows
        # — no partition-less window over the corpus-sized candidate set
        return (
            nonedge.orderBy(F.desc("score_units"), F.asc("u"), F.asc("v"))
            .limit(TOP)
            .select(
                F.col("u").alias("part_a"),
                F.col("v").alias("part_b"),
                F.col("n_common").cast("bigint").alias("n_common"),
                (F.col("score_units").cast("double") / F.lit(UNITS)).alias(
                    "ra_score"
                ),
            )
            .orderBy(F.desc("ra_score"), "part_a", "part_b")
        )


_register_g08()
