"""Graph-analytics query entries over the part co-purchase graph.

Edges: parts appearing in the same order (lineitem self-join on
l_orderkey, u < v), weight = co-purchase count.  The full graph feeds
degree/triangle/PageRank; the strong graph (weight ≥ 2) feeds
common-neighbors link prediction, whose wedge enumeration is Σ deg²
and needs the sparser graph (the threshold is the blocking knob).

Determinism: triangle/degree/wedge counts are exact integers.
PageRank is double arithmetic; every scalar op (1/N, r/d, damp·c) is
the same IEEE-754 operation in both engines, and the only
order-sensitive step — summing ≤ a-few-hundred neighbor contributions
— carries error ~1e-16, so outputs rounded to 12 decimals (9+ sig
digits at rank magnitude ~5e-4) are bit-stable cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from results_ingestor_spark.operators.ckpt import carry_scope
from results_ingestor_spark.operators.graph import (
    common_neighbors_topk,
    copurchase_edges,
    degrees,
    k_core,
    pagerank,
    shortest_paths,
    symmetrize,
    triangle_count,
)
from results_ingestor_spark.plans import exact
from results_ingestor_spark.plans.registry import query
from results_ingestor_spark.sources.tables import load_tables

_EDGES = """
  SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS w
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2"""

_SYM = "SELECT u, v FROM e UNION ALL SELECT v, u FROM e"


@query("graph_degree_distribution", oracle=f"""
WITH e AS ({_EDGES}),
sym AS ({_SYM}),
deg AS (SELECT u, COUNT(*) AS degree FROM sym GROUP BY u)
SELECT degree, COUNT(*) AS n_nodes
FROM deg GROUP BY degree ORDER BY degree""")
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the co-purchase graph.  Two hash
    aggregations (node → degree, degree → node count); the second
    input is node-cardinality, tiny relative to edges."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    deg = degrees(copurchase_edges(li))
    return (deg.groupBy(F.col("d").alias("degree"))
            .agg(F.count("*").alias("n_nodes"))
            .orderBy("degree"))


@query("graph_triangle_count", oracle=f"""
WITH e AS ({_EDGES})
SELECT (SELECT COUNT(DISTINCT u2) FROM
          (SELECT u AS u2 FROM e UNION ALL SELECT v FROM e)) AS n_nodes,
       (SELECT COUNT(*) FROM e) AS n_edges,
       (SELECT COUNT(*)
        FROM e e1 JOIN e e2 ON e1.v = e2.u
                  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles""")
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle census: one row (n_nodes, n_edges,
    n_triangles).  The triangle join runs on the low→high oriented
    edge list so each triangle matches exactly once; the three
    1-row aggregates cross-join (all broadcast)."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    edges = copurchase_edges(li)
    nodes = (edges.select(F.col("u").alias("x"))
             .union(edges.select(F.col("v").alias("x")))
             .agg(F.countDistinct("x").alias("n_nodes")))
    n_e = edges.agg(F.count("*").alias("n_edges"))
    tri = triangle_count(edges)
    return (nodes.join(F.broadcast(n_e)).join(F.broadcast(tri))
            .select("n_nodes", "n_edges", "n_triangles"))


@query("graph_common_neighbors", oracle=f"""
WITH e AS ({_EDGES} HAVING COUNT(*) >= 2),
sym AS ({_SYM}),
wedge AS (
  SELECT s1.v AS a, s2.v AS b, COUNT(*) AS cn
  FROM sym s1 JOIN sym s2 ON s1.u = s2.u AND s1.v < s2.v
  GROUP BY 1, 2)
SELECT a, b, cn FROM wedge
WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = a AND e.v = b)
ORDER BY cn DESC, a, b LIMIT 20""")
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the strong (weight ≥ 2) co-purchase graph:
    top-20 non-adjacent pairs by common-neighbor count.  The weight
    threshold keeps Σ deg² (wedge count) bounded — the same blocking
    role LSH bands play in dedup."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    return common_neighbors_topk(copurchase_edges(li, min_weight=2), k=20)


@query("graph_pagerank_top20", oracle=f"""
WITH e AS ({_EDGES}),
sym AS ({_SYM}),
deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY u),
nn AS (SELECT COUNT(*) AS n FROM deg),
r0 AS (SELECT u, CAST(1.0 AS DOUBLE) / n AS r FROM deg, nn),
c1 AS (SELECT sym.v AS u, SUM(r0.r / deg.d) AS c
       FROM sym JOIN r0 ON r0.u = sym.u JOIN deg ON deg.u = sym.u
       GROUP BY sym.v),
r1 AS (SELECT u, CAST(0.15 AS DOUBLE) / n + CAST(0.85 AS DOUBLE) * c AS r
       FROM c1, nn),
c2 AS (SELECT sym.v AS u, SUM(r1.r / deg.d) AS c
       FROM sym JOIN r1 ON r1.u = sym.u JOIN deg ON deg.u = sym.u
       GROUP BY sym.v),
r2 AS (SELECT u, CAST(0.15 AS DOUBLE) / n + CAST(0.85 AS DOUBLE) * c AS r
       FROM c2, nn),
c3 AS (SELECT sym.v AS u, SUM(r2.r / deg.d) AS c
       FROM sym JOIN r2 ON r2.u = sym.u JOIN deg ON deg.u = sym.u
       GROUP BY sym.v),
r3 AS (SELECT u, CAST(0.15 AS DOUBLE) / n + CAST(0.85 AS DOUBLE) * c AS r
       FROM c3, nn)
SELECT u AS part, CAST(floor((r) * 1000000000000.0 + 0.5) AS BIGINT) / CAST(1000000000000.0 AS DOUBLE) AS rank
FROM r3 ORDER BY CAST(floor((r) * 1000000000000.0 + 0.5) AS BIGINT) / CAST(1000000000000.0 AS DOUBLE) DESC, u LIMIT 20""")
def graph_pagerank_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three synchronous PageRank iterations (d=0.85) on the
    co-purchase graph; top-20 parts by rank.  The oracle unrolls the
    same three updates as chained CTEs — fixed iteration count makes
    the iterative algorithm SQL-expressible and value-checkable.
    Ordering happens on the ROUNDED rank so a sub-ulp summation
    difference can never reorder the top-k across engines."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    ranks = pagerank(copurchase_edges(li), iterations=3, damping=0.85)
    return (ranks.select(F.col("u").alias("part"),
                         exact.snap_double_col("r", 12).alias("rank"))
            .orderBy(F.desc("rank"), F.asc("part"))
            .limit(20))


@query("graph_two_hop_reach", oracle=f"""
WITH e AS ({_EDGES}),
sym AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
seeds AS (SELECT DISTINCT u FROM sym WHERE u % 199 = 0),
one AS (
  SELECT seeds.u AS seed, sym.v AS n1
  FROM seeds JOIN sym ON sym.u = seeds.u),
two AS (
  SELECT one.seed, s2.v AS n2
  FROM one JOIN sym s2 ON s2.u = one.n1),
reach AS (
  SELECT seed, n1 AS node FROM one
  UNION
  SELECT seed, n2 FROM two)
SELECT seed,
  (SELECT COUNT(DISTINCT n1) FROM one WHERE one.seed = r.seed)
    AS n_1hop,
  CAST(COUNT(DISTINCT node) - 1 AS BIGINT) AS n_2hop_reach
FROM reach r
GROUP BY seed
ORDER BY seed""")
def graph_two_hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop neighborhood size per seed node (the friend-of-friend /
    influence-reach primitive).  Frontier expansion as two equi-joins on
    the symmetric edge list — the relational form of one BFS level;
    reach = |{1-hop} ∪ {2-hop}| minus the seed itself.  Each hop is a
    hash join keyed on the frontier node + a distinct — at 100 TB the
    frontier stays partitioned on node id end-to-end, so k-hop reach is
    k chained shuffles with no driver involvement (contrast adjacency
    collection to the driver, which dies at the first skewed hub)."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    e = copurchase_edges(t["lineitem"])
    sym = (e.select("u", "v")
           .unionByName(e.select(F.col("v").alias("u"),
                                 F.col("u").alias("v"))))
    seeds = sym.where(F.col("u") % 199 == 0).select("u").distinct() \
               .withColumnRenamed("u", "seed")
    one = (seeds.join(sym, F.col("seed") == F.col("u"))
           .select("seed", F.col("v").alias("n1")))
    s2 = sym.select(F.col("u").alias("f2"), F.col("v").alias("n2"))
    two = (one.join(s2, F.col("n1") == F.col("f2"))
           .select("seed", "n2"))
    n1cnt = one.groupBy("seed").agg(F.countDistinct("n1").alias("n_1hop"))
    reach = (one.select("seed", F.col("n1").alias("node"))
             .unionByName(two.select("seed", F.col("n2").alias("node")))
             .distinct()
             .groupBy("seed")
             .agg((F.countDistinct("node") - 1).cast("long")
                  .alias("n_2hop_reach")))
    return (n1cnt.join(reach, "seed")
            .select("seed", "n_1hop", "n_2hop_reach")
            .orderBy("seed"))


def _lpa_oracle(n_iter: int = 3) -> str:
    parts = [f"WITH e AS ({_EDGES})",
             "es AS (SELECT u, v FROM e WHERE w >= 2)",
             "sym AS (SELECT u, v FROM es UNION ALL SELECT v, u FROM es)",
             "nodes AS (SELECT DISTINCT u AS v FROM sym)",
             "l0 AS (SELECT v, v AS label FROM nodes)"]
    for i in range(1, n_iter + 1):
        parts.append(
            f"c{i} AS (SELECT s.u AS v, l.label, COUNT(*) AS c "
            f"FROM sym s JOIN l{i - 1} l ON s.v = l.v GROUP BY 1, 2)")
        parts.append(
            f"b{i} AS (SELECT v, label FROM ("
            f"SELECT v, label, row_number() OVER "
            f"(PARTITION BY v ORDER BY c DESC, label ASC) AS rn "
            f"FROM c{i}) WHERE rn = 1)")
        parts.append(
            f"l{i} AS (SELECT l.v, coalesce(b.label, l.label) AS label "
            f"FROM l{i - 1} l LEFT JOIN b{i} b ON b.v = l.v)")
    return (",\n".join(parts)
            + f"""
SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_members
FROM l{n_iter} GROUP BY label
ORDER BY n_members DESC, community LIMIT 20""")


@query("graph_lpa_communities", oracle=_lpa_oracle())
def graph_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 communities from 3 rounds of synchronous label
    propagation on the strong (weight >= 2) co-purchase graph — the
    large-graph community-detection recipe (one edge-keyed shuffle +
    per-node argmax per round, no driver-side graph).  The oracle
    replays the identical trajectory via unrolled CTEs; synchronous
    updates + the (count DESC, label ASC) tie order make every round
    deterministic."""
    from results_ingestor_spark.operators.graph import (copurchase_edges,
                                                        lpa_communities)
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    labels = lpa_communities(copurchase_edges(li, min_weight=2), n_iter=3)
    return carry_scope(labels.groupBy(F.col("label").alias("community"))
                       .agg(F.count("*").alias("n_members"))
                       .orderBy(F.desc("n_members"), F.asc("community"))
                       .limit(20), labels)


def _k_core_oracle(k: int = 3, rounds: int = 6) -> str:
    # Each stage is MATERIALIZED: without it DuckDB inlines every CTE
    # into each of its THREE downstream references and the 6-deep chain
    # re-evaluates exponentially (measured 68 s -> sub-second at
    # sf0.01).  Semi joins instead of IN for the same reason.
    steps = []
    prev = "sym0"
    for i in range(1, rounds + 1):
        steps.append(f"""
keep{i} AS MATERIALIZED (
  SELECT u FROM (SELECT u, COUNT(*) AS d FROM {prev} GROUP BY u)
  WHERE d >= {k}),
sym{i} AS MATERIALIZED (
  SELECT s.u, s.v FROM {prev} s
  JOIN keep{i} a ON s.u = a.u
  JOIN keep{i} b ON s.v = b.u)""")
        prev = f"sym{i}"
    return f"""
WITH e AS MATERIALIZED ({_EDGES}),
sym0 AS MATERIALIZED ({_SYM}),{",".join(steps)}
SELECT u, CAST(COUNT(*) AS BIGINT) AS core_degree
FROM {prev} GROUP BY u HAVING COUNT(*) >= {k}
ORDER BY u"""


@query("graph_k_core", oracle=_k_core_oracle())
def graph_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the co-purchase graph (operators/graph.py::k_core):
    the densely-connected backbone left after 6 rounds of peeling
    degree-<3 nodes — the standard preprocessing cut before community
    detection or embedding training (peripheral nodes add noise and
    edges without structure).  The oracle unrolls the SAME 6 peels as
    chained CTEs, so the bounded-iteration semantics are value-checked
    end-to-end, not just row-counted."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    core = k_core(copurchase_edges(li), k=3, rounds=6)
    return carry_scope(core.select("u", F.col("core_degree").cast("long")
                                   .alias("core_degree"))
                       .orderBy("u"), core)


def _sssp_oracle(rounds: int = 4) -> str:
    # Bounded Bellman-Ford from the seed set, unrolled; MATERIALIZED
    # for the same reason as the k-core oracle.
    steps = []
    prev = "d0"
    for i in range(1, rounds + 1):
        steps.append(f"""
d{i} AS MATERIALIZED (
  SELECT u, MIN(dist) AS dist FROM (
    SELECT u, dist FROM {prev}
    UNION ALL
    SELECT sym.v AS u, p.dist + 1 AS dist
    FROM {prev} p JOIN sym ON sym.u = p.u)
  GROUP BY u)""")
        prev = f"d{i}"
    return f"""
WITH e AS MATERIALIZED ({_EDGES}),
sym AS MATERIALIZED ({_SYM}),
seeds AS (SELECT DISTINCT u FROM sym WHERE u % 199 = 0),
d0 AS (SELECT u, 0 AS dist FROM seeds),{",".join(steps)}
SELECT CAST(dist AS BIGINT) AS dist, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM {prev} GROUP BY dist ORDER BY dist"""


@query("graph_sssp_frontier", oracle=_sssp_oracle())
def graph_sssp_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source shortest paths (hop distance) from the seed set,
    4 bounded Bellman-Ford rounds — the BFS-distance primitive under
    influence radius, landmark embedding, and network-QC queries.
    Output is the distance histogram (how much of the graph is within
    k hops of the seeds).  Each round relaxes the frontier through one
    edge-keyed join + a min-aggregate keyed on node — the same
    shuffle-per-round contract as PageRank/LPA/k-core; the oracle
    unrolls the identical 4 relaxations."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    dist = shortest_paths(symmetrize(copurchase_edges(li)),
                          F.col("u") % 199 == 0, F.lit(1), rounds=4)
    return carry_scope(dist.groupBy("dist").agg(F.count("*").alias("n_nodes"))
                       .orderBy("dist"), dist)


@query("graph_degree_assortativity", oracle=f"""
WITH e AS ({_EDGES}),
sym AS ({_SYM}),
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u),
ends AS (
  SELECT da.d AS x, db.d AS y
  FROM sym JOIN deg da ON da.u = sym.u JOIN deg db ON db.u = sym.v),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
    CAST(SUM(x * y) AS BIGINT) AS sxy,
    CAST(SUM(x * x) AS BIGINT) AS sxx,
    CAST(SUM(y * y) AS BIGINT) AS syy
  FROM ends)
SELECT m AS n_edge_ends,
  CAST(floor((CAST(m * sxy - sx * sy AS DOUBLE) / sqrt(CAST(m * sxx - sx * sx AS DOUBLE) * CAST(m * syy - sy * sy AS DOUBLE))) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE)
    AS assortativity
FROM s""")
def graph_degree_assortativity(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph — Pearson
    correlation of the degrees at the two ends of every edge (Newman's
    r).  Positive: hubs connect to hubs (social-network shape);
    negative: hubs connect to leaves (infrastructure shape) — the one
    scalar that says which regime a graph is in, and a guard metric
    for synthetic-graph pipelines.  Both edge directions are counted,
    which is exactly what makes r symmetric.  All five moments stay in
    BIGINT; one double expression at the end.

    Scale: two degree joins on the edge list (node-keyed, the
    triangle-count contract) and a 1-row moment combine."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    e = copurchase_edges(li)
    sym = (e.select("u", "v")
           .unionByName(e.select(F.col("v").alias("u"),
                                 F.col("u").alias("v"))))
    deg = sym.groupBy("u").agg(F.count("*").alias("d"))
    ends = (sym
            .join(deg.select(F.col("u").alias("u1"),
                             F.col("d").alias("x")),
                  F.col("u") == F.col("u1"))
            .join(deg.select(F.col("u").alias("u2"),
                             F.col("d").alias("y")),
                  F.col("v") == F.col("u2"))
            .select("x", "y"))
    s = ends.agg(
        F.count("*").alias("m"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"))
    num = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")) \
        .cast("double")
    den = F.sqrt((F.col("m") * F.col("sxx")
                  - F.col("sx") * F.col("sx")).cast("double")
                 * (F.col("m") * F.col("syy")
                    - F.col("sy") * F.col("sy")).cast("double"))
    return s.select(F.col("m").alias("n_edge_ends"),
                    exact.snap_double_col(num / den, 9).alias("assortativity"))


@query("graph_adamic_adar_topk", oracle=f"""
WITH e AS ({_EDGES} HAVING COUNT(*) >= 2),
sym AS ({_SYM}),
deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY u),
wedge AS (
  SELECT s1.v AS a, s2.v AS b,
    CAST(COUNT(*) AS BIGINT) AS cn,
    CAST(floor((SUM(CAST(1 AS DOUBLE) / ln(deg.d))) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS aa
  FROM sym s1
  JOIN deg ON deg.u = s1.u AND deg.d >= 2
  JOIN sym s2 ON s1.u = s2.u AND s1.v < s2.v
  GROUP BY 1, 2)
SELECT a, b, cn, aa FROM wedge
WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = a AND e.v = b)
ORDER BY aa DESC, a, b LIMIT 20""")
def graph_adamic_adar_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction on the strong co-purchase graph:
    common neighbors weighted by 1/ln(degree), so a shared HUB counts
    for little and a shared niche part counts for a lot — the standard
    fix for common-neighbor counting's popularity bias
    (`graph_common_neighbors` is the unweighted sibling).  Wedge
    centers need degree ≥ 2 (ln 1 = 0 would blow up the weight; a
    degree-1 node can't center a wedge anyway).  Scores are rounded
    to 9 dp BEFORE ranking (the house libm-ulp rule) with (a, b)
    tie-breaks, so the top-20 is engine-portable.

    Scale: identical wedge-enumeration budget to common-neighbors —
    Σ deg² bounded by the weight-threshold blocking; the degree join
    adds one broadcast of the node-domain degree table."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    edges = copurchase_edges(li, min_weight=2)
    sym = (edges.select("u", "v")
           .union(edges.select(F.col("v").alias("u"),
                               F.col("u").alias("v"))))
    deg = sym.groupBy("u").agg(F.count("*").alias("d"))
    s1 = (sym.join(F.broadcast(deg.where(F.col("d") >= 2)), "u")
          .select(F.col("u").alias("c"), F.col("v").alias("a"), "d"))
    s2 = sym.select(F.col("u").alias("c"), F.col("v").alias("b"))
    wedge = (s1.join(s2, "c")
             .where(F.col("a") < F.col("b"))
             .groupBy("a", "b")
             .agg(F.count("*").alias("cn"),
                  exact.snap_double_col(F.sum(F.lit(1.0) / F.log(F.col("d"))), 9)
                  .alias("aa")))
    adj = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    return (wedge.join(adj, ["a", "b"], "left_anti")
            .orderBy(F.desc("aa"), F.asc("a"), F.asc("b"))
            .limit(20))


def _sssp_weighted_oracle(rounds: int = 4) -> str:
    steps = []
    prev = "d0"
    for i in range(1, rounds + 1):
        steps.append(f"""
d{i} AS MATERIALIZED (
  SELECT u, MIN(dist) AS dist FROM (
    SELECT u, dist FROM {prev}
    UNION ALL
    SELECT sym.v AS u, p.dist + sym.w AS dist
    FROM {prev} p JOIN sym ON sym.u = p.u)
  GROUP BY u)""")
        prev = f"d{i}"
    return f"""
WITH e AS MATERIALIZED ({_EDGES}),
sym AS MATERIALIZED (
  SELECT u, v, w FROM e UNION ALL SELECT v, u, w FROM e),
seeds AS (SELECT DISTINCT u FROM sym WHERE u % 199 = 0),
d0 AS (SELECT u, CAST(0 AS BIGINT) AS dist FROM seeds),{",".join(steps)}
SELECT u, CAST(dist AS BIGINT) AS dist
FROM {prev} ORDER BY dist, u LIMIT 50"""


@query("graph_sssp_weighted", oracle=_sssp_weighted_oracle())
def graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED multi-source shortest paths: 4 bounded Bellman-Ford
    relaxations where traversing an edge costs its co-purchase weight
    (the hop-distance entry's sibling; integer costs keep every
    distance exact, so no float-path ambiguity exists).  Returns the
    50 closest nodes to the seed set — the landmark-distance shape
    used for graph embeddings and routing QC.  Each round is one
    edge-keyed join + a node-keyed min — the shuffle-per-round
    contract shared by PageRank/LPA/k-core/SSSP
    (operators/graph.py::shortest_paths).  The oracle unrolls the
    identical 4 relaxations as MATERIALIZED CTEs."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    e = copurchase_edges(li)
    sym = e.unionByName(e.select(F.col("v").alias("u"),
                                 F.col("u").alias("v"), "w"))
    dist = shortest_paths(sym, F.col("u") % 199 == 0, F.col("w"), rounds=4)
    return carry_scope(dist.orderBy("dist", "u").limit(50), dist)


@query("graph_local_clustering", oracle=f"""
WITH e AS ({_EDGES}),
es AS (SELECT u, v FROM e WHERE w >= 2),
sym AS (SELECT u, v FROM es UNION ALL SELECT v, u FROM es),
deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY u),
tri AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS t FROM (
    SELECT e1.u AS node FROM es e1
      JOIN es e2 ON e1.v = e2.u
      JOIN es e3 ON e3.u = e1.u AND e3.v = e2.v
    UNION ALL
    SELECT e1.v FROM es e1
      JOIN es e2 ON e1.v = e2.u
      JOIN es e3 ON e3.u = e1.u AND e3.v = e2.v
    UNION ALL
    SELECT e2.v FROM es e1
      JOIN es e2 ON e1.v = e2.u
      JOIN es e3 ON e3.u = e1.u AND e3.v = e2.v) hits
  GROUP BY node)
SELECT deg.u AS node, deg.d AS degree,
  CAST(COALESCE(tri.t, 0) AS BIGINT) AS n_triangles,
  CAST(floor((2.0 * COALESCE(tri.t, 0) / (deg.d * (deg.d - 1.0))) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS lcc
FROM deg LEFT JOIN tri ON deg.u = tri.node
WHERE deg.d >= 2
ORDER BY lcc DESC, degree DESC, node LIMIT 100""")
def graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node on the strong
    (weight >= 2) co-purchase graph: lcc(v) = 2*tri(v) / (d(v)*(d(v)-1))
    — how close each node's neighborhood is to a clique, the standard
    community-cohesion signal (Watts-Strogatz).  Triangles are
    enumerated ONCE on the low<high oriented strong edge list (the
    same canonical three-edge join as the global census) and each
    match credits its three corners; integer counts divide once in
    doubles.  Top-100 by (lcc, degree, node) — a unique ordering.

    Scale: the weight threshold is the blocking knob that bounds the
    wedge join (Σ deg² on the sparse graph).  Degree-ordered
    orientation was measured on the global census and does not pay on
    this uniform co-purchase graph (operators/graph.py::triangle_count).
    Output is TakeOrdered — no global sort."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    es = copurchase_edges(li, min_weight=2).select("u", "v")
    deg = degrees(es).withColumnRenamed("u", "node") \
        .withColumnRenamed("d", "degree")
    e1 = es.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = es.select(F.col("u").alias("b2"), F.col("v").alias("c"))
    e3 = es.select(F.col("u").alias("a3"), F.col("v").alias("c3"))
    tris = (e1.join(e2, F.col("b") == F.col("b2"))
            .join(e3, (F.col("a") == F.col("a3"))
                  & (F.col("c") == F.col("c3")))
            .select("a", "b", "c"))
    hits = (tris.select(F.col("a").alias("node"))
            .unionAll(tris.select(F.col("b").alias("node")))
            .unionAll(tris.select(F.col("c").alias("node"))))
    t = hits.groupBy("node").agg(F.count("*").alias("t"))
    lcc = (2.0 * F.coalesce(F.col("t"), F.lit(0))
           / (F.col("degree") * (F.col("degree") - 1.0)))
    return (deg.join(t, "node", "left")
            .where(F.col("degree") >= 2)
            .select("node", "degree",
                    F.coalesce(F.col("t"), F.lit(0)).cast("long")
                    .alias("n_triangles"),
                    exact.snap_double_col(lcc, 9).alias("lcc"))
            .orderBy(F.desc("lcc"), F.desc("degree"), F.asc("node"))
            .limit(100))


@query("graph_jaccard_topk", oracle=f"""
WITH e AS ({_EDGES} HAVING COUNT(*) >= 2),
sym AS ({_SYM}),
deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY u),
wedge AS (
  SELECT s1.v AS a, s2.v AS b, CAST(COUNT(*) AS BIGINT) AS cn
  FROM sym s1 JOIN sym s2 ON s1.u = s2.u AND s1.v < s2.v
  GROUP BY 1, 2),
j AS (
  SELECT a, b, cn,
    CAST(floor((CAST(cn AS DOUBLE) / (da.d + db.d - cn)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS jaccard
  FROM wedge JOIN deg da ON da.u = a JOIN deg db ON db.u = b)
SELECT a, b, cn, jaccard FROM j
WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = a AND e.v = b)
ORDER BY jaccard DESC, a, b LIMIT 20""")
def graph_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard neighborhood-similarity link prediction on the strong
    co-purchase graph: |N(a) ∩ N(b)| / |N(a) ∪ N(b)| for non-adjacent
    pairs — the normalized sibling of `graph_common_neighbors` (raw
    counts favor hubs) and the integer-exact sibling of
    `graph_adamic_adar_topk`: intersection and union sizes are BIGINT,
    so the only float is one final division, rounded to 9 dp before
    ranking with (a, b) tie-breaks.

    Scale: the same wedge-enumeration budget as common-neighbors
    (Σ deg² bounded by the weight-threshold blocking); degrees join
    from the broadcast node-domain table; the candidate anti-join is
    an equi-join on the pair key."""
    from results_ingestor_spark.operators.graph import copurchase_edges
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    edges = copurchase_edges(li, min_weight=2)
    sym = (edges.select("u", "v")
           .union(edges.select(F.col("v").alias("u"),
                               F.col("u").alias("v"))))
    deg = sym.groupBy("u").agg(F.count("*").alias("d"))
    s1 = sym.select(F.col("u").alias("c"), F.col("v").alias("a"))
    s2 = sym.select(F.col("u").alias("c"), F.col("v").alias("b"))
    wedge = (s1.join(s2, "c")
             .where(F.col("a") < F.col("b"))
             .groupBy("a", "b")
             .agg(F.count("*").cast("long").alias("cn")))
    da = F.broadcast(deg.select(F.col("u").alias("a"),
                                F.col("d").alias("da")))
    db = F.broadcast(deg.select(F.col("u").alias("b"),
                                F.col("d").alias("db")))
    jac = (wedge.join(da, "a").join(db, "b")
           .select("a", "b", "cn",
                   exact.snap_double_col(F.col("cn").cast("double") / (F.col("da") + F.col("db") - F.col("cn")), 9)
                   .alias("jaccard")))
    adj = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    return (jac.join(adj, ["a", "b"], "left_anti")
            .orderBy(F.desc("jaccard"), F.asc("a"), F.asc("b"))
            .limit(20))


@query("graph_hits_bipartite_topk", oracle="""
WITH e AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
h1 AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS s FROM e GROUP BY c),
a1 AS (SELECT e.p, CAST(SUM(h1.s) AS BIGINT) AS s
       FROM e JOIN h1 USING (c) GROUP BY e.p),
h2 AS (SELECT e.c, CAST(SUM(a1.s) AS BIGINT) AS s
       FROM e JOIN a1 USING (p) GROUP BY e.c),
a2 AS (SELECT e.p, CAST(SUM(h2.s) AS BIGINT) AS s
       FROM e JOIN h2 USING (c) GROUP BY e.p),
hm AS (SELECT MAX(s) AS m FROM h2),
am AS (SELECT MAX(s) AS m FROM a2),
hubs AS (
  SELECT 'hub' AS side, c AS node, s AS score,
    CAST(floor((CAST(s AS DOUBLE) / hm.m) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS norm_score
  FROM h2 CROSS JOIN hm ORDER BY s DESC, c LIMIT 20),
auths AS (
  SELECT 'authority' AS side, p AS node, s AS score,
    CAST(floor((CAST(s AS DOUBLE) / am.m) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS norm_score
  FROM a2 CROSS JOIN am ORDER BY s DESC, p LIMIT 20)
SELECT * FROM hubs UNION ALL SELECT * FROM auths""")
def graph_hits_bipartite_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities on the bipartite customer→part purchase
    graph, two synchronous iterations: hub(c) alternates with
    authority(p) = Σ hub over edges.  Kept UNNORMALIZED so every score
    is an exact BIGINT (power iteration is scale-invariant; per-round
    L1/L2 normalization only prevents float overflow, which integers
    don't have at fixed depth) — the one double is the reported
    max-normalized score, a single division.  Top-20 each side with id
    tie-breaks.

    Scale: each iteration is one equi-join of the edge list with the
    current score table plus one aggregation keyed on the opposite
    side — the PageRank per-round budget on a bipartite graph; the
    max is a 1-row broadcast at report time only.

    r11: the derived (c, p) edge list is localCheckpoint-ed ONCE
    before iterating — the same edge-materialization pattern pagerank
    and LPA use (operators/graph.py).  Without it the orders⋈lineitem
    join + distinct subtree feeds FOUR join consumers, and exchange
    reuse does not cover the differently-keyed re-exchanges; measured
    same-session A/B at sf0.1: min 3.5-3.7 s vs 3.9-6.6 s lazy, values
    identical.  (A second, p-partitioned checkpoint was also measured
    and REJECTED: the extra edge-list materialization outweighs the
    two raw-edge exchanges it saves at 2 iterations.)  The
    edge-list-sized blocks are scope-released before returning."""
    from results_ingestor_spark.operators.ckpt import CheckpointScope
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    scope = CheckpointScope(spark)
    e = scope.checkpoint(
        t["orders"].select("o_custkey", "o_orderkey")
        .join(t["lineitem"].select("l_orderkey", "l_partkey"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.col("o_custkey").alias("c"),
                F.col("l_partkey").alias("p"))
        .distinct())
    h1 = e.groupBy("c").agg(F.count("*").cast("long").alias("s"))
    a1 = (e.join(h1, "c").groupBy("p")
          .agg(F.sum("s").cast("long").alias("s")))
    h2 = (e.join(a1, "p").groupBy("c")
          .agg(F.sum("s").cast("long").alias("s")))
    a2 = (e.join(h2, "c").groupBy("p")
          .agg(F.sum("s").cast("long").alias("s")))

    def top(df: DataFrame, key: str, side: str) -> DataFrame:
        m = df.agg(F.max("s").alias("m"))
        return (df.crossJoin(F.broadcast(m))
                .orderBy(F.desc("s"), F.asc(key))
                .limit(20)
                .select(F.lit(side).alias("side"),
                        F.col(key).alias("node"),
                        F.col("s").alias("score"),
                        exact.snap_double_col(F.col("s").cast("double") / F.col("m"), 9)
                        .alias("norm_score")))

    out = scope.checkpoint(
        top(h2, "c", "hub").unionAll(top(a2, "p", "authority")))
    scope.release_all_except(out)
    out._ckpt_scope = scope  # caller hook: ckpt.release_result(df)
    return out


def _lpa_modularity_oracle(n_iter: int = 3) -> str:
    """LPA chain (same CTEs as `_lpa_oracle`) extended with the
    per-community Newman modularity contribution
    q_c = int2_c/2m' − (d_c/2m')² over exact integer edge/degree
    counts (2m' = |sym|; int2_c counts both directions)."""
    parts = [f"WITH e AS ({_EDGES})",
             "es AS (SELECT u, v FROM e WHERE w >= 2)",
             "sym AS (SELECT u, v FROM es UNION ALL SELECT v, u FROM es)",
             "nodes AS (SELECT DISTINCT u AS v FROM sym)",
             "l0 AS (SELECT v, v AS label FROM nodes)"]
    for i in range(1, n_iter + 1):
        parts.append(
            f"c{i} AS (SELECT s.u AS v, l.label, COUNT(*) AS c "
            f"FROM sym s JOIN l{i - 1} l ON s.v = l.v GROUP BY 1, 2)")
        parts.append(
            f"b{i} AS (SELECT v, label FROM ("
            f"SELECT v, label, row_number() OVER "
            f"(PARTITION BY v ORDER BY c DESC, label ASC) AS rn "
            f"FROM c{i}) WHERE rn = 1)")
        parts.append(
            f"l{i} AS (SELECT l.v, coalesce(b.label, l.label) AS label "
            f"FROM l{i - 1} l LEFT JOIN b{i} b ON b.v = l.v)")
    return (",\n".join(parts) + f""",
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u),
m2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS m2 FROM sym),
msize AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_members
          FROM l{n_iter} GROUP BY label),
internal AS (
  SELECT la.label, CAST(COUNT(*) AS BIGINT) AS int2
  FROM sym s
  JOIN l{n_iter} la ON la.v = s.u
  JOIN l{n_iter} lb ON lb.v = s.v
  WHERE la.label = lb.label GROUP BY la.label),
dsum AS (
  SELECT la.label, CAST(SUM(deg.d) AS BIGINT) AS dc
  FROM deg JOIN l{n_iter} la ON la.v = deg.u GROUP BY la.label)
SELECT ms.label AS community, ms.n_members,
  coalesce(i.int2, 0) // 2 AS internal_edges,
  ds.dc AS degree_sum,
  CAST(floor((CAST(coalesce(i.int2, 0) AS DOUBLE) / m2.m2
        - (CAST(ds.dc AS DOUBLE) / m2.m2)
          * (CAST(ds.dc AS DOUBLE) / m2.m2)) * 1000000000.0 + 0.5)
    AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS q_contrib
FROM msize ms
LEFT JOIN internal i ON i.label = ms.label
JOIN dsum ds ON ds.label = ms.label
CROSS JOIN m2
ORDER BY ms.n_members DESC, community LIMIT 20""")


@query("graph_lpa_modularity", oracle=_lpa_modularity_oracle())
def graph_lpa_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA communities (the quality score that
    says whether the partition is better than chance): per-community
    contribution q_c = int₂/2m − (d_c/2m)², emitted per community
    (PSI convention — the reader's Σq_c is modularity Q) for the 20
    largest communities.  Every input — internal directed-edge count,
    community degree sum, 2m — is an exact BIGINT from equi-joins of
    the symmetrized edge list with the label table; q_c is one shared
    double expression.

    Scale: the label join is node-keyed; the internal-edge count joins
    labels onto each edge endpoint (two broadcast-able node-domain
    joins); no pair enumeration beyond the existing edge list."""
    from results_ingestor_spark.operators.graph import (copurchase_edges,
                                                        lpa_communities)
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    edges = copurchase_edges(li, min_weight=2)
    labels = lpa_communities(edges, n_iter=3)
    sym = (edges.select("u", "v")
           .union(edges.select(F.col("v").alias("u"),
                               F.col("u").alias("v"))))
    deg = sym.groupBy("u").agg(F.count("*").cast("long").alias("d"))
    m2 = sym.agg(F.count("*").cast("long").alias("m2"))
    la = labels.select(F.col("v").alias("u"), F.col("label").alias("lu"))
    lb = labels.select(F.col("v").alias("vv"), F.col("label").alias("lv"))
    msize = (labels.groupBy("label")
             .agg(F.count("*").cast("long").alias("n_members")))
    internal = (sym.join(la, "u")
                .join(lb, sym.v == F.col("vv"))
                .where(F.col("lu") == F.col("lv"))
                .groupBy(F.col("lu").alias("label"))
                .agg(F.count("*").cast("long").alias("int2")))
    dsum = (deg.join(la, "u")
            .groupBy(F.col("lu").alias("label"))
            .agg(F.sum("d").cast("long").alias("dc")))
    i2 = F.coalesce(F.col("int2"), F.lit(0))
    q = (i2.cast("double") / F.col("m2")
         - (F.col("dc").cast("double") / F.col("m2"))
         * (F.col("dc").cast("double") / F.col("m2")))
    out = (msize.join(internal, "label", "left")
           .join(dsum, "label")
           .crossJoin(F.broadcast(m2))
           .select(F.col("label").alias("community"), "n_members",
                   F.expr("coalesce(int2, 0) DIV 2")
                   .alias("internal_edges"),
                   F.col("dc").alias("degree_sum"),
                   # signed wire (q_c < 0 for worse-than-chance
                   # communities): floor-snap, not round() (r10
                   # signed-round migration; test_round_semantics.py)
                   exact.snap_double_col(q, 9).alias("q_contrib"))
           .orderBy(F.desc("n_members"), F.asc("community"))
           .limit(20))
    return carry_scope(out, labels)


@query("graph_global_transitivity", oracle=f"""
WITH e AS ({_EDGES}),
sym AS ({_SYM}),
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u),
w AS (SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n_wedges FROM deg),
t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM e e1 JOIN e e2 ON e1.v = e2.u
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
SELECT n_wedges, n_triangles,
  CAST(floor((CASE WHEN n_wedges > 0 THEN 3.0 * n_triangles / n_wedges ELSE 0.0 END) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE)
    AS transitivity
FROM w CROSS JOIN t""")
def graph_global_transitivity(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Global transitivity (clustering coefficient of the whole
    graph): C = 3·triangles / wedges, where wedges = Σ d(d−1)/2 over
    node degrees — the one-number answer to "how clique-ish is the
    co-purchase graph", complementing the per-node local coefficients
    this family already ships.  C near the random-graph baseline means
    co-purchases are independent; C >> baseline means basket
    communities are real structure the LPA/k-core entries can mine.

    Exact BIGINT wedge and triangle counts (d(d−1)/2 is integer —
    d(d−1) is always even), one double expression at the end.  Shape:
    the triangle join runs on the low→high ORIENTED edge list (each
    triangle counted once, the standard distributed formulation), the
    wedge count is a degree aggregate — two 1-row broadcasts combine.
    Cites the reference's summary-stat pattern
    (ingestor_precinct.py:125-132) applied to graph structure."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    edges = copurchase_edges(li)
    deg = degrees(edges)
    w = deg.agg(F.sum(F.expr("d * (d - 1) DIV 2")).cast("long")
                .alias("n_wedges"))
    t = triangle_count(edges).select(
        F.col("n_triangles").cast("long").alias("n_triangles"))
    return (w.crossJoin(F.broadcast(t))
            .select("n_wedges", "n_triangles",
                    exact.snap_double_col(F.when(F.col("n_wedges") > 0, 3.0 * F.col("n_triangles") / F.col("n_wedges")) .otherwise(F.lit(0.0)), 9)
                    .alias("transitivity")))


_RC_KS = (2, 4, 8, 16)


@query("graph_rich_club", oracle=f"""
WITH e AS ({_EDGES}),
sym AS ({_SYM}),
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u),
ed AS (
  SELECT least(du.d, dv.d) AS mindeg
  FROM e JOIN deg du ON du.u = e.u JOIN deg dv ON dv.u = e.v),
ks AS (SELECT unnest([{", ".join(str(k) for k in _RC_KS)}]) AS k),
nk AS (
  SELECT k, CAST(count_if(d > k) AS BIGINT) AS n_nodes
  FROM deg CROSS JOIN ks GROUP BY k),
ek AS (
  SELECT k, CAST(count_if(mindeg > k) AS BIGINT) AS n_edges
  FROM ed CROSS JOIN ks GROUP BY k)
SELECT CAST(nk.k AS BIGINT) AS k, n_nodes, n_edges,
  CASE WHEN n_nodes >= 2 THEN
    CAST(floor((2.0 * n_edges / (n_nodes * (n_nodes - 1))) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE)
  ELSE NULL END AS phi
FROM nk JOIN ek USING (k) ORDER BY k""")
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient φ(k) (Zhou & Mondragón): among nodes with
    degree > k, what fraction of the possible edges between them
    actually exist?  A rising φ(k) means the graph's hubs wire to each
    other — popular parts co-purchase with other popular parts — which
    changes epidemic/cascade behavior and makes hub-based shortcuts
    (landmark routing, cache warming) effective.  Evaluated at
    k ∈ (2, 4, 8, 16) from one degree table and one edge pass:
    E_k = edges whose BOTH endpoints exceed k = count over
    min(deg_u, deg_v), so no per-k re-join happens.

    Exact BIGINT node/edge counts; one double division per k.  Shape:
    degree aggregate + edge⋈degree equi-joins (degree table is
    node-sized, broadcastable) + a ×4 scalar k explode of COUNTERS."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    edges = copurchase_edges(li)
    deg = degrees(edges)
    du = deg.select(F.col("u").alias("eu"), F.col("d").alias("du"))
    dv = deg.select(F.col("u").alias("ev"), F.col("d").alias("dv"))
    ed = (edges.join(du, F.col("u") == F.col("eu"))
          .join(dv, F.col("v") == F.col("ev"))
          .select(F.least("du", "dv").alias("mindeg")))
    ks = F.explode(F.array(*[F.lit(k) for k in _RC_KS])).alias("k")
    nk = (deg.select("d", ks)
          .groupBy("k")
          .agg(F.count_if(F.col("d") > F.col("k")).cast("long")
               .alias("n_nodes")))
    ek = (ed.select("mindeg", ks)
          .groupBy("k")
          .agg(F.count_if(F.col("mindeg") > F.col("k")).cast("long")
               .alias("n_edges")))
    return (nk.join(ek, "k")
            .select(F.col("k").cast("long").alias("k"), "n_nodes",
                    "n_edges",
                    F.when(F.col("n_nodes") >= 2,
                           exact.snap_double_col(2.0 * F.col("n_edges") / (F.col("n_nodes") * (F.col("n_nodes") - 1)), 9))
                    .alias("phi"))
            .orderBy("k"))


@query("graph_brand_homophily", oracle=f"""
WITH e AS ({_EDGES}),
be AS (
  SELECT pu.p_brand AS bu, pv.p_brand AS bv
  FROM e JOIN part pu ON pu.p_partkey = e.u
         JOIN part pv ON pv.p_partkey = e.v),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
    CAST(count_if(bu = bv) AS BIGINT) AS same
  FROM be),
c AS (
  SELECT CAST(SUM(cnt * cnt) AS BIGINT) AS sum_c2,
    CAST(COUNT(*) AS BIGINT) AS n_brands
  FROM (
    SELECT b, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM (SELECT bu AS b FROM be UNION ALL SELECT bv FROM be)
    GROUP BY b))
SELECT m AS n_edges, same AS n_same_brand, n_brands,
  {exact.snap_double("CAST(same AS DOUBLE) / m", 9)} AS same_share,
  {exact.snap_double("CAST(sum_c2 AS DOUBLE) / (4.0 * m * m)", 9)}
    AS expected_share,
  {exact.snap_double(
      "CAST(4 * m * same - sum_c2 AS DOUBLE) / (4 * m * m - sum_c2)",
      9)} AS assortativity_r
FROM m CROSS JOIN c""")
def graph_brand_homophily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute homophily of the co-purchase graph (Newman's discrete
    assortativity): do parts co-purchase within their own BRAND more
    than degree-weighted chance predicts?  r = (4m·same − Σc_b²) /
    (4m² − Σc_b²), where same counts same-brand edges and c_b counts
    brand-b edge ENDPOINTS — the closed form of (Σe_bb − Σa_b²)/(1 −
    Σa_b²) with every quantity an exact BIGINT and ONE terminal
    division.  r > 0 means brand-loyal baskets (brand is a useful
    blocking key for this graph's algorithms); r ≈ 0 means brand is
    noise to them.  Complements graph_degree_assortativity (degree
    homophily) with the categorical-attribute version.

    Shape: edge list joined twice to the part dim (broadcast,
    dim-sized), one edge census + one brand-endpoint census, two 1-row
    combines."""
    li = load_tables(spark, sf_dir, ("lineitem", "part"))
    edges = copurchase_edges(li["lineitem"])
    brand = li["part"].select("p_partkey", "p_brand")
    be = (edges
          .join(F.broadcast(brand.select(
              F.col("p_partkey").alias("u"),
              F.col("p_brand").alias("bu"))), "u")
          .join(F.broadcast(brand.select(
              F.col("p_partkey").alias("v"),
              F.col("p_brand").alias("bv"))), "v")
          .select("bu", "bv"))
    m = be.agg(F.count("*").cast("long").alias("m"),
               F.count_if(F.col("bu") == F.col("bv")).cast("long")
                .alias("same"))
    ends = be.select(F.col("bu").alias("b")).unionAll(
        be.select(F.col("bv").alias("b")))
    c = (ends.groupBy("b").agg(F.count("*").cast("long").alias("cnt"))
         .agg(F.sum(F.col("cnt") * F.col("cnt")).cast("long")
               .alias("sum_c2"),
              F.count("*").cast("long").alias("n_brands")))
    mm, same, sc2 = F.col("m"), F.col("same"), F.col("sum_c2")
    # Signed-round migration (r10): assortativity_r is a SIGNED wire
    # that sits within half a 9-dp grid step of zero on real corpora
    # (measured -9.8e-05 at sf0.01) — exactly the negative-zero
    # round() divergence class pinned in test_round_semantics.py.
    # All three wires use the shared floor-snap instead.
    return (m.crossJoin(F.broadcast(c))
            .select(mm.alias("n_edges"), same.alias("n_same_brand"),
                    "n_brands",
                    exact.snap_double_col(same.cast("double") / mm, 9)
                    .alias("same_share"),
                    exact.snap_double_col(
                        sc2.cast("double") / (4.0 * mm * mm), 9)
                    .alias("expected_share"),
                    exact.snap_double_col(
                        (4 * mm * same - sc2).cast("double")
                        / (4 * mm * mm - sc2), 9)
                    .alias("assortativity_r")))


@query("graph_edge_churn_halves", oracle=f"""
WITH mid AS (
  SELECT CAST(date_trunc('day', MIN(o_orderdate)) AS DATE)
    + to_days(CAST(datediff('day',
        CAST(date_trunc('day', MIN(o_orderdate)) AS DATE),
        CAST(date_trunc('day', MAX(o_orderdate)) AS DATE)) // 2
      AS INTEGER)) AS cutover
  FROM orders),
e1 AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
  JOIN orders o ON o.o_orderkey = a.l_orderkey
  CROSS JOIN mid WHERE o.o_orderdate < cutover),
e2 AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
  JOIN orders o ON o.o_orderkey = a.l_orderkey
  CROSS JOIN mid WHERE o.o_orderdate >= cutover),
c AS (
  SELECT
    (SELECT CAST(COUNT(*) AS BIGINT) FROM e1) AS n_before,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM e2) AS n_after,
    (SELECT CAST(COUNT(*) AS BIGINT)
     FROM e1 JOIN e2 USING (u, v)) AS n_stable)
SELECT n_before, n_after, n_stable,
  n_before - n_stable AS n_lost,
  n_after - n_stable AS n_new,
  CAST(floor((CAST(n_stable AS DOUBLE) / (n_before + n_after - n_stable)) * 1000000000.0 + 0.5) AS BIGINT) / CAST(1000000000.0 AS DOUBLE) AS edge_jaccard
FROM c""")
def graph_edge_churn_halves(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Temporal graph churn: build the co-purchase edge set separately
    for the first and second halves of the order history (day-midpoint
    cutover — the DiD/CUPED convention) and measure edge overlap —
    stable/new/lost edge counts and the edge Jaccard.  A co-purchase
    graph whose edges churn wholesale between halves says basket
    structure is seasonal/transient, and any model trained on the
    full-history graph (PageRank ranks, LPA communities, link
    prediction) is averaging over regimes — the STALENESS question
    every graph consumer should ask before trusting a static snapshot.

    Exact distinct-edge counts; one double division.  Shape: two
    date-pruned edge constructions (the copurchase self-join budget,
    each reading only its half after pushdown through the orders
    join), one (u,v)-keyed intersection equi-join, a 1-row report."""
    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    mid = t["orders"].agg(
        F.date_trunc("day", F.min("o_orderdate")).cast("date")
        .alias("lo"),
        F.date_trunc("day", F.max("o_orderdate")).cast("date")
        .alias("hi"))
    mid = mid.select(F.date_add(
        "lo", F.expr("datediff(hi, lo) DIV 2").cast("int")).alias("cutover"))
    li = t["lineitem"].select("l_orderkey", "l_partkey")
    od = t["orders"].select("o_orderkey", "o_orderdate")

    def half(pred):
        keys = (od.crossJoin(F.broadcast(mid)).where(pred)
                .select(F.col("o_orderkey").alias("l_orderkey")))
        l = li.join(keys, "l_orderkey")
        a = l.select("l_orderkey", F.col("l_partkey").alias("u"))
        b = l.select("l_orderkey", F.col("l_partkey").alias("v"))
        return (a.join(b, "l_orderkey")
                .where(F.col("u") < F.col("v"))
                .select("u", "v").distinct())

    e1 = half(F.col("o_orderdate") < F.col("cutover"))
    e2 = half(F.col("o_orderdate") >= F.col("cutover"))
    n1 = e1.agg(F.count("*").cast("long").alias("n_before"))
    n2 = e2.agg(F.count("*").cast("long").alias("n_after"))
    ns = (e1.join(e2, ["u", "v"])
          .agg(F.count("*").cast("long").alias("n_stable")))
    c = n1.crossJoin(F.broadcast(n2)).crossJoin(F.broadcast(ns))
    nb, na, nst = F.col("n_before"), F.col("n_after"), F.col("n_stable")
    return c.select(
        "n_before", "n_after", "n_stable",
        (nb - nst).alias("n_lost"), (na - nst).alias("n_new"),
        exact.snap_double_col(nst.cast("double") / (nb + na - nst), 9)
         .alias("edge_jaccard"))
