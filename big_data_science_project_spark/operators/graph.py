"""Iterative graph analytics — PageRank as pure DataFrame joins.

The engine's second iterative algorithm (the first: dedup_clusters'
min-label propagation). PageRank is the canonical "driver loop over
distributed joins" shape: each iteration is

    contribs = edges ⋈ ranks (on src)  →  groupBy(dst).sum
    ranks    = nodes ⟕ contribs        →  damped update

No collect() anywhere — the driver only composes plans; K iterations =
K shuffle rounds on the same key. At 100 TB you'd pre-partition edges
and ranks on the join key once (bucketing) so every round co-locates,
and persist each iteration's ranks to cut lineage; at fixture scale AQE
handles both.

Determinism (and the SQL oracle) comes from integer-micro rank
arithmetic: ranks live in millionths, contributions are integer
divisions, and the damped update is `150000 + (850 * S) DIV 1000` —
order-independent, so Spark and DuckDB agree bit-for-bit, unlike a
float PageRank whose low bits depend on partition merge order.

The graph is deterministic-synthetic over the documents table (each doc
links to 3 pseudo-random neighbors via modular hashing — out-degree
exactly 3, no dangling nodes), so the operator is a pure function of
the fixture.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table

QUERIES: dict = {}

PR_ITERS = 4
PR_OUT_DEG = 3
PR_TOPK = 15


def _synthetic_fwd_edges(nodes: DataFrame) -> DataFrame:
    """The shared deterministic out-degree-3 edge table
    dst = (src*7 + 13k) mod n — one definition for PageRank, BFS,
    and k-core (their oracles restate it in SQL; the k-core oracle
    uses a generate_series join because DuckDB 1.0's binder
    mishandles per-row unnest in a twice-joined CTE)."""
    total = nodes.agg(F.count(F.lit(1)).alias("n"))
    return (nodes.crossJoin(F.broadcast(total))
            .select(F.col("doc_id").alias("src"),
                    F.explode(F.array(*[
                        (F.col("doc_id") * 7 + 13 * k) % F.col("n")
                        for k in range(1, PR_OUT_DEG + 1)])).alias("dst")))


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    nodes = docs.select("doc_id")
    # reused by every iteration: persist so K rounds scan the edge
    # table instead of re-deriving it through the lineage
    edges = _synthetic_fwd_edges(nodes).persist(StorageLevel.MEMORY_AND_DISK_DESER)
    ranks = nodes.select("doc_id", F.lit(1000000).cast("bigint").alias("r"))
    for _ in range(PR_ITERS):
        contribs = (edges.join(ranks, edges.src == ranks.doc_id)
                    .select("dst", F.expr(f"r div {PR_OUT_DEG}").alias("c"))
                    .groupBy("dst").agg(F.sum("c").alias("s")))
        ranks = (nodes.join(contribs, nodes.doc_id == contribs.dst, "left")
                 .select(nodes.doc_id,
                         F.expr("cast(150000 + (850 * coalesce(s, 0)) div 1000"
                                " as bigint)").alias("r")))
    return ranks.orderBy(F.desc("r"), "doc_id").limit(PR_TOPK)


def _pagerank_sql() -> str:
    edge_dsts = ", ".join(
        f"(doc_id * 7 + {13 * k}) % n" for k in range(1, PR_OUT_DEG + 1))
    cte = [
        "WITH nodes AS (SELECT doc_id FROM documents),",
        "tot AS (SELECT COUNT(*) AS n FROM nodes),",
        "edges AS (SELECT doc_id AS src,",
        f"  unnest([{edge_dsts}]) AS dst FROM nodes, tot),",
        "r0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS r FROM nodes)",
    ]
    for k in range(PR_ITERS):
        cte.append(f""",
r{k + 1} AS (
  SELECT n.doc_id,
         CAST(150000 + (850 * COALESCE(SUM(p.r // {PR_OUT_DEG}), 0)) // 1000
              AS BIGINT) AS r
  FROM nodes n
  LEFT JOIN edges e ON e.dst = n.doc_id
  LEFT JOIN r{k} p ON p.doc_id = e.src
  GROUP BY n.doc_id)""")
    cte.append(f"""
SELECT doc_id, r FROM r{PR_ITERS}
ORDER BY r DESC, doc_id
LIMIT {PR_TOPK}""")
    return "\n".join(cte)


QUERIES["graph_pagerank"] = (graph_pagerank, _pagerank_sql())


# ---------------------------------------------------------------------------
# Connected components — iterative min-label propagation over a generic
# undirected edge table (the generalization of dedup_clusters, which runs
# the same algorithm over verified duplicate pairs).
#
# The fixture graph is deterministic-synthetic over documents: nodes are
# grouped in 8-node stars (leaf i — block root 8·⌊i/8⌋) and consecutive
# roots are bridged except every CC_GROUP-th, so components are exactly
# CC_BLOCK×CC_GROUP consecutive ids. Diameter ≤ CC_GROUP (1 star hop +
# CC_GROUP−1 bridge hops), so a fixed CC_ITERS propagation provably
# converges — no driver-side convergence probe needed.
#
# Scale: each round is one shuffle on node id over (labels ∪ neighbor
# labels); rounds = graph diameter. At 100 TB you bucket edges and labels
# on node id once so every round co-locates, and switch to hash-to-min /
# large-star-small-star (Kiveris et al.) to cut rounds to O(log d) —
# same join shape, different label exchange rule.
# ---------------------------------------------------------------------------
CC_BLOCK = 8
CC_GROUP = 5
CC_ITERS = CC_GROUP + 1  # diameter bound + 1 safety round


def _cc_edges(nodes: DataFrame) -> DataFrame:
    doc = F.col("doc_id")
    star = (nodes.filter(doc % CC_BLOCK != 0)
            .select((doc - doc % CC_BLOCK).alias("u"), doc.alias("v")))
    bridge = (nodes.filter((doc % CC_BLOCK == 0) & (doc >= CC_BLOCK)
                           & (F.expr(f"(doc_id div {CC_BLOCK})"
                                     f" % {CC_GROUP}") != 0))
              .select((doc - CC_BLOCK).alias("u"), doc.alias("v")))
    return star.union(bridge)


def _cc_sym(edges: DataFrame) -> DataFrame:
    """Undirected view of the star/bridge edges — both directions of
    every edge, persisted because every propagation round re-reads it
    (shared by graph_components and graph_label_propagation).

    The persist is intentionally session-lifetime: the returned plan is
    lazy, so unpersisting inside the query function would evict the
    blocks before the caller materializes the result. The plan is the
    same on every call, so the cache manager backs every rerun of
    either graph query with the same blocks, and MEMORY_AND_DISK keeps
    eviction safe under memory pressure."""
    return (edges.union(edges.select(F.col("v").alias("u"),
                                     F.col("u").alias("v")))
            .persist(StorageLevel.MEMORY_AND_DISK_DESER))


def graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes = load_table(spark, sf_dir, "documents").select("doc_id")
    edges = _cc_edges(nodes)
    # undirected: propagate along both directions of every edge
    sym = _cc_sym(edges)
    labels = nodes.select("doc_id", F.col("doc_id").alias("lab"))
    for _ in range(CC_ITERS):
        nb = (sym.join(labels, sym.u == labels.doc_id)
              .select(F.col("v").alias("doc_id"), "lab"))
        labels = (labels.union(nb)
                  .groupBy("doc_id").agg(F.min("lab").alias("lab")))
    return (labels.groupBy(F.col("lab").alias("component"))
            .agg(F.count(F.lit(1)).alias("n_nodes"),
                 F.max("doc_id").alias("max_node"))
            .orderBy("component"))


QUERIES["graph_components"] = (graph_components, f"""
WITH RECURSIVE nodes AS (SELECT doc_id FROM documents),
edges AS (
  SELECT doc_id - doc_id % {CC_BLOCK} AS u, doc_id AS v
  FROM nodes WHERE doc_id % {CC_BLOCK} != 0
  UNION ALL
  SELECT doc_id - {CC_BLOCK} AS u, doc_id AS v
  FROM nodes
  WHERE doc_id % {CC_BLOCK} = 0 AND doc_id >= {CC_BLOCK}
    AND (doc_id // {CC_BLOCK}) % {CC_GROUP} != 0),
sym AS (SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges),
reach(node, lab) AS (
  SELECT doc_id, doc_id FROM nodes
  UNION
  SELECT s.v, r.lab FROM reach r JOIN sym s ON s.u = r.node),
comp AS (SELECT node, MIN(lab) AS component FROM reach GROUP BY node)
SELECT component, COUNT(*) AS n_nodes, MAX(node) AS max_node
FROM comp GROUP BY component
ORDER BY component
""")


# ---------------------------------------------------------------------------
# Triangle counting + global clustering coefficient over the part
# co-occurrence graph (parts appearing in the same order — the fixture's
# organic graph, no synthetic edges).
#
# The Spark side orients each edge from its lower-(degree, id) endpoint
# to the higher one, then counts per-edge out-neighbor intersections —
# the standard distributed algorithm (Schank/Wagner "forward"; what
# GraphX's TriangleCount does): orientation bounds out-degree by
# O(sqrt(m)) so adjacency arrays stay small even for hub vertices, and
# edge-centric intersection never materializes wedges at all.
# The triangle count is orientation-invariant, so the DuckDB oracle uses
# the simpler id-orientation and must agree exactly. Wedges are counted
# from raw degrees (Σ deg·(deg−1)/2), also orientation-free.
# ---------------------------------------------------------------------------
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey",
                                                      "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    edges = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                    & (F.col("a.l_partkey") < F.col("b.l_partkey")))
             .select(F.col("a.l_partkey").alias("u"),
                     F.col("b.l_partkey").alias("v"))
             .distinct().persist(StorageLevel.MEMORY_AND_DISK_DESER))
    deg = (edges.select(F.col("u").alias("node"))
           .union(edges.select(F.col("v").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("deg")))
    wedges = deg.agg(
        F.sum(F.expr("deg * (deg - 1) div 2")).cast("bigint").alias("w"))
    # orient: src = endpoint with smaller (deg, id); broadcast-joining deg
    # is fine (|nodes| ≪ |edges|); at 100 TB deg is still edge-count-bounded
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    ed = edges.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
    fwd = F.struct("du", "u") < F.struct("dv", "v")
    # persisted: feeds both the adjacency build and the per-edge probe
    oriented = ed.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst")).persist(StorageLevel.MEMORY_AND_DISK_DESER)
    # edge-centric counting: per-edge |N⁺(src) ∩ N⁺(dst)| over SORTED
    # out-adjacency arrays. Each triangle (DAG-oriented u→v→w) is counted
    # exactly once, at its base edge u→v. Nothing wider than an edge ever
    # shuffles — the earlier exploded wedge-join formulation moved
    # Σ outdeg² rows (~50M at sf0.1, 26s); this moves 2·|E| adjacency
    # rows (sub-second at the same scale) and the intersections run as
    # hash probes inside the join projection.
    adj = (oriented.groupBy("src")
           .agg(F.sort_array(F.collect_list("dst")).alias("nbrs")))
    au = adj.select(F.col("src").alias("u_"), F.col("nbrs").alias("u_nbrs"))
    av = adj.select(F.col("src").alias("v_"), F.col("nbrs").alias("v_nbrs"))
    tri = (oriented
           .join(au, F.col("src") == F.col("u_"))
           .join(av, F.col("dst") == F.col("v_"))
           .select(F.size(F.array_intersect("u_nbrs", "v_nbrs")).alias("c"))
           # coalesce: a graph whose oriented edges all end in sinks joins
           # to zero rows; the count must be 0, not NULL (oracle COUNT(*))
           .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("t")))
    n_nodes = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    n_edges = edges.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    return (n_nodes.crossJoin(n_edges).crossJoin(wedges).crossJoin(tri)
            .select(F.col("n").alias("n_nodes"), F.col("m").alias("n_edges"),
                    F.col("w").alias("n_wedges"),
                    F.col("t").alias("n_triangles"),
                    F.when(F.col("w") > 0,
                           F.round(F.lit(3.0) * F.col("t") / F.col("w"), 9))
                    .alias("transitivity")))


QUERIES["graph_triangles"] = (graph_triangles, """
WITH e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a
  JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
deg AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
  GROUP BY node),
wedges AS (
  SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS w FROM deg),
tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS t
  FROM e e1 JOIN e e2 ON e1.v = e2.u
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
       CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
       w AS n_wedges,
       t AS n_triangles,
       CASE WHEN w > 0
            THEN ROUND(CAST(3.0 * t AS DOUBLE) / CAST(w AS DOUBLE), 9)
       END AS transitivity
FROM tri, wedges
""")


# ---------------------------------------------------------------------------
# BFS shortest-path levels — single-source unweighted shortest paths by
# level-synchronous frontier expansion: K rounds of
#   frontier ⋈ edges → candidate dsts → anti-join visited → new frontier
# The classic Pregel iteration as pure DataFrame ops; each round's
# shuffle is the frontier (not the graph), and the visited set grows
# monotonically — the same bucketed-join co-location notes as PageRank
# apply at scale. Levels are small ints, so the whole result is exact;
# the oracle walks the same frontier with a recursive CTE taking
# MIN(level) per node. Same deterministic synthetic graph as PageRank
# (out-degree 3: dst = (src*7 + 13k) mod n).
# ---------------------------------------------------------------------------
BFS_SOURCE = 0
BFS_MAX_LEVEL = 4


def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    nodes = docs.select("doc_id")
    edges = _synthetic_fwd_edges(nodes).distinct().persist(StorageLevel.MEMORY_AND_DISK_DESER)
    visited = spark.createDataFrame(
        [(BFS_SOURCE, 0)], "doc_id bigint, level int")
    frontier = visited
    for lvl in range(1, BFS_MAX_LEVEL + 1):
        nxt = (edges.join(frontier.withColumnRenamed("doc_id", "src"),
                          "src")
               .select(F.col("dst").alias("doc_id"))
               .distinct()
               .join(visited.select("doc_id"), "doc_id", "left_anti")
               .select("doc_id", F.lit(lvl).cast("int").alias("level")))
        visited = visited.unionByName(nxt)
        frontier = nxt
    return (visited.groupBy("level")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
                 F.min("doc_id").alias("min_node"),
                 F.max("doc_id").alias("max_node")))


def _bfs_sql() -> str:
    edge_dsts = ", ".join(
        f"(doc_id * 7 + {13 * k}) % n" for k in range(1, PR_OUT_DEG + 1))
    return f"""
WITH RECURSIVE nodes AS (SELECT doc_id FROM documents),
tot AS (SELECT COUNT(*) AS n FROM nodes),
edges AS (SELECT DISTINCT doc_id AS src,
                 unnest([{edge_dsts}]) AS dst FROM nodes, tot),
walk(doc_id, level) AS (
  SELECT CAST({BFS_SOURCE} AS BIGINT), 0
  UNION ALL
  SELECT e.dst, w.level + 1
  FROM walk w JOIN edges e ON e.src = w.doc_id
  WHERE w.level < {BFS_MAX_LEVEL}),
lv AS (SELECT doc_id, MIN(level) AS level FROM walk GROUP BY doc_id)
SELECT CAST(level AS INT) AS level,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       MIN(doc_id) AS min_node,
       MAX(doc_id) AS max_node
FROM lv
GROUP BY level
"""


QUERIES["graph_bfs_levels"] = (graph_bfs_levels, _bfs_sql())


# ---------------------------------------------------------------------------
# k-core decomposition (k = 5) — iterative peeling: repeatedly drop
# vertices with degree < k until the remainder is stable; the survivors
# are the k-core, the standard density filter before community
# detection. Each round filters the surviving edge set on its two
# endpoint degrees (window counts), so the plan is linear in the
# rounds; the driver only composes plans (no collect).
# Convergence is ASSERTED IN-QUERY: the output carries the last round's
# removal count, which must be 0 — so a fixture change that needs more
# rounds fails loudly instead of silently under-peeling. Same synthetic
# graph as PageRank (undirected here: edges symmetrized).
# ---------------------------------------------------------------------------
KCORE_K = 5
KCORE_ROUNDS = 8


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    nodes = docs.select("doc_id")
    fwd = _synthetic_fwd_edges(nodes)
    alive = nodes.select(F.col("doc_id").alias("v"))
    # the surviving symmetric edge set: an edge lives while both ends do,
    # so each round reads the previous round's edges once (plan linear in
    # KCORE_ROUNDS) and a vertex's degree is its edge count per endpoint
    edges = (fwd.unionByName(fwd.select(F.col("dst").alias("src"),
                                        F.col("src").alias("dst")))
             .filter(F.col("src") != F.col("dst"))
             .distinct()
             .join(alive.withColumnRenamed("v", "src"), "src", "left_semi")
             .join(alive.withColumnRenamed("v", "dst"), "dst", "left_semi"))

    def with_degrees(e: DataFrame) -> DataFrame:
        return (e.withColumn("ds", F.count(F.lit(1)).over(
                    Window.partitionBy("src")))
                 .withColumn("dd", F.count(F.lit(1)).over(
                    Window.partitionBy("dst"))))

    for _ in range(KCORE_ROUNDS - 2):
        edges = (with_degrees(edges)
                 .filter((F.col("ds") >= KCORE_K) & (F.col("dd") >= KCORE_K))
                 .select("src", "dst"))
    # the last two rounds from one edge set: a vertex survives round
    # R-1 on its degree, round R on its edges to other survivors
    per_v = (with_degrees(edges)
             .groupBy(F.col("src").alias("v"))
             .agg((F.max("ds") >= KCORE_K).alias("prev"),
                  (F.count(F.when(F.col("dd") >= KCORE_K, 1)) >= KCORE_K)
                  .alias("last")))
    core = F.col("prev") & F.col("last")
    return per_v.agg(
        F.count(F.when(core, 1)).cast("bigint").alias("core_size"),
        F.min(F.when(core, F.col("v"))).alias("min_v"),
        F.max(F.when(core, F.col("v"))).alias("max_v"),
        F.sum(F.when(core, F.col("v"))).cast("bigint").alias("v_checksum"),
        (F.count(F.when(F.col("prev"), 1)) - F.count(F.when(core, 1)))
        .cast("bigint").alias("last_round_removed"))


def _kcore_sql() -> str:
    # per-row unnest([...]) in a CTE that is later self-joined twice
    # trips a DuckDB 1.0 internal binder error — generate a k-index
    # join instead (same edge set, binder-safe)
    cte = [f"""
WITH nodes AS (SELECT doc_id FROM documents),
tot AS (SELECT COUNT(*) AS n FROM nodes),
fwd AS (SELECT doc_id AS src, (doc_id * 7 + 13 * k.k) % n AS dst
        FROM nodes, tot,
             (SELECT unnest(generate_series(1, {PR_OUT_DEG})) AS k) k),
edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM fwd
    UNION ALL
    SELECT dst AS src, src AS dst FROM fwd) u
  WHERE src != dst),
a0 AS (SELECT doc_id AS v FROM nodes)"""]
    for r in range(KCORE_ROUNDS):
        cte.append(f""",
a{r + 1} AS MATERIALIZED (
  SELECT e.src AS v
  FROM edges e
  JOIN a{r} s ON s.v = e.src
  JOIN a{r} d ON d.v = e.dst
  GROUP BY e.src
  HAVING COUNT(*) >= {KCORE_K})""")
    last = KCORE_ROUNDS
    cte.append(f"""
SELECT CAST((SELECT COUNT(*) FROM a{last}) AS BIGINT) AS core_size,
       (SELECT MIN(v) FROM a{last}) AS min_v,
       (SELECT MAX(v) FROM a{last}) AS max_v,
       CAST((SELECT SUM(v) FROM a{last}) AS BIGINT) AS v_checksum,
       CAST((SELECT COUNT(*) FROM a{last - 1})
            - (SELECT COUNT(*) FROM a{last}) AS BIGINT)
         AS last_round_removed""")
    return "".join(cte)


QUERIES["graph_kcore"] = (graph_kcore, _kcore_sql())


# ---------------------------------------------------------------------------
# Semi-supervised label propagation — spread sparse ground-truth labels
# (every 16th node is seeded with its document's language) over the
# star/bridge community graph by iterated majority vote: each round,
# every still-unlabeled node with at least one labeled neighbor adopts
# the most common neighbor label (ties -> lexicographically smallest),
# and assigned labels are CLAMPED (never revised). The clamp is what
# makes the algorithm a monotone append-only chain — the labeled set
# only grows, so each round is expressible as "previous labels UNION
# this round's winners", the same discipline as the engine's
# incremental artifacts, and the DuckDB oracle is a plain CTE chain
# (no recursive fixpoint needed).
#
# Scale shape: each round is one shuffle — neighbor labels group on the
# candidate node id — plus an anti-join against the (much smaller)
# labeled set; rounds = label radius of the graph (leaves sit 1 hop
# from their seeded roots, roots CC_GROUP-1 bridge hops from a seed, so
# LP_ITERS = 3 provably saturates this fixture). At 100 TB: bucket the
# symmetric edge table and the label table on node id once so every
# round co-locates (the graph_components note), and the vote argmax is
# a partial-aggregable count + one window, never a collect.
# ---------------------------------------------------------------------------
LP_ITERS = 3
LP_SEED_MOD = 16


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    nodes = docs.select("doc_id", "lang")
    sym = _cc_sym(_cc_edges(nodes.select("doc_id")))
    labels = (nodes.filter(F.col("doc_id") % LP_SEED_MOD == 0)
              .select("doc_id", F.col("lang").alias("lab"),
                      F.lit(0).alias("rnd")))
    for k in range(1, LP_ITERS + 1):
        nb = (sym.join(labels, sym.u == labels.doc_id)
              .select(F.col("v").alias("doc_id"), "lab"))
        votes = (nb.join(labels.select("doc_id"), "doc_id", "left_anti")
                 .groupBy("doc_id", "lab")
                 .agg(F.count(F.lit(1)).alias("c")))
        w = W.partitionBy("doc_id").orderBy(F.desc("c"), F.asc("lab"))
        best = (votes.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("doc_id", "lab", F.lit(k).alias("rnd")))
        labels = labels.unionByName(best)
    return (labels.groupBy(F.col("lab").alias("label"))
            .agg(F.count(F.lit(1)).alias("n_total"),
                 *[F.sum(F.when(F.col("rnd") == r, 1).otherwise(0))
                   .cast("bigint").alias(f"n_round{r}")
                   for r in range(LP_ITERS + 1)]))


def _lp_sql() -> str:
    cte = [f"""
WITH nodes AS (SELECT doc_id, lang FROM documents),
edges AS (
  SELECT doc_id - doc_id % {CC_BLOCK} AS u, doc_id AS v
  FROM nodes WHERE doc_id % {CC_BLOCK} != 0
  UNION ALL
  SELECT doc_id - {CC_BLOCK} AS u, doc_id AS v
  FROM nodes
  WHERE doc_id % {CC_BLOCK} = 0 AND doc_id >= {CC_BLOCK}
    AND (doc_id // {CC_BLOCK}) % {CC_GROUP} != 0),
sym AS (SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges),
l0 AS (SELECT doc_id, lang AS lab, 0 AS rnd FROM nodes
       WHERE doc_id % {LP_SEED_MOD} = 0)"""]
    for k in range(1, LP_ITERS + 1):
        cte.append(f""",
v{k} AS (
  SELECT s.v AS doc_id, l.lab, COUNT(*) AS c
  FROM sym s JOIN l{k - 1} l ON l.doc_id = s.u
  WHERE s.v NOT IN (SELECT doc_id FROM l{k - 1})
  GROUP BY s.v, l.lab),
b{k} AS (
  SELECT doc_id, lab FROM (
    SELECT doc_id, lab,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY c DESC, lab ASC) AS rn
    FROM v{k}) WHERE rn = 1),
l{k} AS (SELECT * FROM l{k - 1}
         UNION ALL SELECT doc_id, lab, {k} AS rnd FROM b{k})""")
    rounds = ", ".join(
        f"CAST(SUM(CASE WHEN rnd = {r} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS n_round{r}" for r in range(LP_ITERS + 1))
    cte.append(f"""
SELECT lab AS label, COUNT(*) AS n_total, {rounds}
FROM l{LP_ITERS}
GROUP BY lab""")
    return "".join(cte)


QUERIES["graph_label_propagation"] = (graph_label_propagation, _lp_sql())
