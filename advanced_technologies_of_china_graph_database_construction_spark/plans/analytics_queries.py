"""Graph-analytics workload (g21-g22): PageRank and triangle counting
over the organization co-publication graph — the "GraphX/Pregel for
graph analytics" north-star surface, expressed as DataFrame message
passing with exact unrolled-SQL oracles.

The analysis graph: orgs are connected when they co-publish ≥
MIN_SHARED documents (thresholded so the graph has real structure —
the raw co-publication graph at sf0.01 is complete).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.analytics import (
    label_propagation,
    pagerank,
    symmetric_edges,
    triangle_count,
)
from ..operators.connected_components import connected_components
from .spec import QuerySpec

MIN_SHARED = 30
N_ITER = 3
DAMPING = 0.85


def _copub_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected org pairs (o1 < o2, plus their ``shared`` doc count)
    sharing ≥ MIN_SHARED docs — ONE definition of the co-publication
    graph for every consumer (g21/g22/g23/g27-g30 drop the count;
    g32 uses it as the edge weight)."""
    li = load_table(spark, sf_dir, "lineitem")
    e = li.select(F.col("l_orderkey").alias("doc"), F.col("l_suppkey").alias("org")).distinct()
    e2 = e.withColumnsRenamed({"org": "org2"})
    return (
        e.join(e2, "doc")
        .filter(F.col("org") < F.col("org2"))
        .groupBy(F.col("org").alias("src"), F.col("org2").alias("dst"))
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= MIN_SHARED)
    )


def _sym_weighted_copub_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric weighted co-publication edges (src, dst, w) — ONE
    symmetrization for every weighted consumer (g32/g33/g34;
    ``symmetric_edges`` drops the weight column, so the weighted family
    needs its own union).  Materialized HERE (localCheckpoint), not at
    call sites: every consumer reads the frame several times (node-set
    build, degree fold, seed/source lookup, the iterate itself), and an
    unmaterialized union re-runs the co-occurrence self-join for each —
    g32 was paying it ~3× before the checkpoint moved into the
    helper."""
    pairs = _copub_pairs(spark, sf_dir).withColumnRenamed("shared", "w")
    return pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    ).localCheckpoint(eager=True)


def g21_copub_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranks = pagerank(symmetric_edges(_copub_pairs(spark, sf_dir)), N_ITER, DAMPING)
    return ranks.select(F.col("node").alias("org_id"), "pagerank")


def g22_copub_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return triangle_count(_copub_pairs(spark, sf_dir))


def g23_copub_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community sizes from fixed-round synchronous label propagation
    over the co-publication graph."""
    labels = label_propagation(
        symmetric_edges(_copub_pairs(spark, sf_dir)), N_ITER
    )
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).alias("n_orgs")
    )


# Unrolled power-method oracle: p0 = 1/n; p_{k+1}(v) = (1-d)/n +
# d * Σ_{u→v} p_k(u)/outdeg(u) over the symmetric edge set.
_GRAPH_CTES = f"""
WITH de AS (SELECT DISTINCT l_orderkey AS doc, l_suppkey AS org FROM lineitem),
pairs AS (
  SELECT a.org AS src, b.org AS dst
  FROM de a JOIN de b ON a.doc = b.doc AND a.org < b.org
  GROUP BY 1, 2 HAVING count(*) >= {MIN_SHARED}),
edges AS (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
nodes AS (SELECT DISTINCT src AS node FROM edges),
nn AS (SELECT count(*) AS n FROM nodes),
deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src)
"""


def _iter_cte(k: int) -> str:
    prev = f"r{k - 1}"
    return f"""
r{k} AS (
  SELECT nodes.node,
         0.15 / (SELECT n FROM nn)
           + 0.85 * coalesce(s.m, 0) AS rank
  FROM nodes LEFT JOIN (
    SELECT e.dst AS node, sum({prev}.rank / deg.outdeg) AS m
    FROM edges e JOIN {prev} ON e.src = {prev}.node JOIN deg ON e.src = deg.src
    GROUP BY e.dst) s ON nodes.node = s.node)
"""


G21_SQL = (
    _GRAPH_CTES
    + ", r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),"
    + ",".join(_iter_cte(k) for k in range(1, N_ITER + 1))
    + f"\nSELECT node AS org_id, round(rank, 6) AS pagerank FROM r{N_ITER}"
)

G22_SQL = (
    _GRAPH_CTES
    + """
SELECT count(*) AS n_triangles
FROM pairs p12
JOIN pairs p23 ON p12.dst = p23.src
JOIN pairs p13 ON p12.src = p13.src AND p23.dst = p13.dst
"""
)

# Unrolled synchronous LPA oracle: l0(v) = v; l_{k+1}(v) = most frequent
# neighbor label, ties to the smallest, own label if isolated.
def _lpa_iter_cte(k: int) -> str:
    prev = f"l{k - 1}"
    return f"""
l{k} AS (
  SELECT nodes.node, coalesce(w.label, nodes.node) AS label
  FROM nodes LEFT JOIN (
    SELECT node, label FROM (
      SELECT e.dst AS node, {prev}.label, count(*) AS c,
             row_number() OVER (PARTITION BY e.dst
                                ORDER BY count(*) DESC, {prev}.label ASC) AS rn
      FROM edges e JOIN {prev} ON e.src = {prev}.node
      GROUP BY e.dst, {prev}.label) WHERE rn = 1) w
  ON nodes.node = w.node)
"""


G23_SQL = (
    _GRAPH_CTES
    + ", l0 AS (SELECT node, node AS label FROM nodes),"
    + ",".join(_lpa_iter_cte(k) for k in range(1, N_ITER + 1))
    + f"\nSELECT label AS community, count(*) AS n_orgs FROM l{N_ITER} GROUP BY label"
)


# ------------------------------------------- g24 directed + dangling ------

KW_NODE_OFFSET = 10_000_000  # keeps doc and keyword node-id spaces disjoint


def _citation_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed doc→keyword edges (the HAS_KEYWORD derivation,
    `csv_extractor.py:153-241` — directed, like the reference's graph).
    Every keyword node is a dangling sink, so this is the graph shape
    that needs the redistribution term."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("src"),
        (F.col("l_partkey") + KW_NODE_OFFSET).alias("dst"),
    ).distinct()


def g24_directed_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the directed bipartite graph with dangling-mass
    redistribution — total rank stays 1 even though every keyword node
    is a sink."""
    ranks = pagerank(
        _citation_edges(spark, sf_dir), N_ITER, DAMPING, dangling="redistribute"
    )
    return ranks.select(F.col("node").alias("node_id"), "pagerank")


_G24_CTES = f"""
WITH edges AS (
  SELECT DISTINCT l_orderkey AS src, l_partkey + {KW_NODE_OFFSET} AS dst FROM lineitem),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT count(*) AS n FROM nodes),
deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src)
"""


def _g24_iter_cte(k: int) -> str:
    prev = f"r{k - 1}"
    return f"""
dm{k - 1} AS (
  SELECT coalesce(sum(rank), 0) AS dm FROM {prev}
  WHERE node NOT IN (SELECT src FROM deg)),
r{k} AS (
  SELECT nodes.node,
         0.15 / (SELECT n FROM nn)
           + 0.85 * (SELECT dm FROM dm{k - 1}) / (SELECT n FROM nn)
           + 0.85 * coalesce(s.m, 0) AS rank
  FROM nodes LEFT JOIN (
    SELECT e.dst AS node, sum({prev}.rank / deg.outdeg) AS m
    FROM edges e JOIN {prev} ON e.src = {prev}.node JOIN deg ON e.src = deg.src
    GROUP BY e.dst) s ON nodes.node = s.node)
"""


G24_SQL = (
    _G24_CTES
    + ", r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),"
    + ",".join(_g24_iter_cte(k) for k in range(1, N_ITER + 1))
    + f"\nSELECT node AS node_id, round(rank, 6) AS pagerank FROM r{N_ITER}"
)


# --------------------------------------- g25 personalized PPR ---

def g25_related_keywords_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank over the directed doc→keyword graph,
    seeded on the smallest keyword node id: scores are proximity to the
    seed keyword — the related-entity primitive.  The seed lookup is
    one tiny min() job (a literal, like pagerank's node count)."""
    from ..operators.analytics import personalized_pagerank

    # Materialize the distinct edge set ONCE: the seed agg and the PPR
    # entry checkpoint would otherwise each run the full lineitem
    # distinct (measured: two ~600k-row distincts at sf0.1 → one).
    edges = _citation_edges(spark, sf_dir).localCheckpoint(eager=True)
    seed = edges.agg(F.min("dst")).first()[0]
    ranks = personalized_pagerank(edges, [seed], N_ITER, DAMPING)
    return ranks.select(F.col("node").alias("node_id"), "ppr")


_G25_CTES = (
    _G24_CTES
    + """,
seed AS (SELECT min(dst) AS s FROM edges),
rvec AS (SELECT node, CASE WHEN node = (SELECT s FROM seed) THEN 1.0 ELSE 0.0 END AS r
         FROM nodes)
"""
)


def _g25_iter_cte(k: int) -> str:
    prev = f"r{k - 1}"
    return f"""
dm{k - 1} AS (
  SELECT coalesce(sum(rank), 0) AS dm FROM {prev}
  WHERE node NOT IN (SELECT src FROM deg)),
r{k} AS (
  SELECT nodes.node,
         0.15 * rvec.r
           + 0.85 * (SELECT dm FROM dm{k - 1}) * rvec.r
           + 0.85 * coalesce(s.m, 0) AS rank
  FROM nodes JOIN rvec ON rvec.node = nodes.node LEFT JOIN (
    SELECT e.dst AS node, sum({prev}.rank / deg.outdeg) AS m
    FROM edges e JOIN {prev} ON e.src = {prev}.node JOIN deg ON e.src = deg.src
    GROUP BY e.dst) s ON nodes.node = s.node)
"""


G25_SQL = (
    _G25_CTES
    + ", r0 AS (SELECT node, r AS rank FROM rvec),"
    + ",".join(_g25_iter_cte(k) for k in range(1, N_ITER + 1))
    + f"\nSELECT node AS node_id, round(rank, 6) AS ppr FROM r{N_ITER}"
)


# ------------------------------------------------- g26 HITS -------------

def g26_doc_keyword_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS over the directed doc→keyword bipartite graph: documents
    are hubs (pointing at many authoritative keywords), keywords are
    authorities.  L1-normalized fixed-iteration power method — the
    unrolled SQL oracle reproduces the arithmetic exactly."""
    from ..operators.analytics import hits

    scores = hits(_citation_edges(spark, sf_dir), N_ITER)
    return scores.select(F.col("node").alias("node_id"), "hub", "authority")


def _g26_iter_ctes(k: int) -> str:
    # MATERIALIZED is load-bearing: a{k} feeds both h{k} and (for the
    # final round) the output + its L1 sum, so DuckDB's default CTE
    # inlining re-evaluates the whole chain multiple times per level —
    # measured 37 s → 0.3 s on the sf0.01 oracle.  Normalization is
    # deferred to the end, mirroring the Spark operator exactly.
    prev_h = f"h{k - 1}"
    return f"""
ar{k} AS MATERIALIZED (
  SELECT e.dst AS node, sum(h.hub) AS a
  FROM edges e JOIN {prev_h} h ON e.src = h.node GROUP BY e.dst),
a{k} AS MATERIALIZED (
  SELECT nodes.node, coalesce(r.a, 0) AS a
  FROM nodes LEFT JOIN ar{k} r ON nodes.node = r.node),
hr{k} AS MATERIALIZED (
  SELECT e.src AS node, sum(a.a) AS h
  FROM edges e JOIN a{k} a ON e.dst = a.node GROUP BY e.src),
h{k} AS MATERIALIZED (
  SELECT nodes.node, coalesce(r.h, 0) AS hub
  FROM nodes LEFT JOIN hr{k} r ON nodes.node = r.node)
"""


G26_SQL = (
    _G24_CTES
    + ", h0 AS (SELECT node, 1.0 AS hub FROM nodes),"
    + ",".join(_g26_iter_ctes(k) for k in range(1, N_ITER + 1))
    + f"""
SELECT h.node AS node_id,
       round(h.hub / (SELECT sum(hub) FROM h{N_ITER}), 6) AS hub,
       round(a.a / (SELECT sum(a) FROM a{N_ITER}), 6) AS authority
FROM h{N_ITER} h JOIN a{N_ITER} a ON h.node = a.node
"""
)


# ------------------------------------------------- g27 BFS distances ----

MAX_HOPS = 4


def g27_reach_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest-path distances (≤ MAX_HOPS) from the smallest org node
    over the symmetric co-publication graph — the k-hop reach query as
    Pregel BFS (relax frontier + min-fold per round).  The source
    lookup is one tiny min() job, a literal like pagerank's count."""
    from ..operators.analytics import bfs_distances

    edges = symmetric_edges(_copub_pairs(spark, sf_dir))
    source = edges.agg(F.min("src")).first()[0]
    if source is None:
        # the g33 empty-graph guard (found by the r13 sf0.1 replica —
        # the copub graph is EMPTY there): no orgs → zero rows, exactly
        # what the oracle's empty node set yields; the operator itself
        # rejects NULL sources outright
        return spark.createDataFrame([], "org_id long, dist int")
    return bfs_distances(edges, source, MAX_HOPS).select(
        F.col("node").alias("org_id"), "dist"
    )


def _g27_iter_ctes(k: int) -> str:
    prev = f"d{k - 1}"
    return f"""
rx{k} AS MATERIALIZED (
  SELECT e.dst AS node, min(d.dist + 1) AS cand
  FROM edges e JOIN {prev} d ON e.src = d.node
  WHERE d.dist IS NOT NULL GROUP BY e.dst),
d{k} AS MATERIALIZED (
  SELECT d.node, least(d.dist, r.cand) AS dist
  FROM {prev} d LEFT JOIN rx{k} r ON d.node = r.node)
"""


G27_SQL = (
    _GRAPH_CTES
    + """, d0 AS (
  SELECT node, CASE WHEN node = (SELECT min(node) FROM nodes) THEN 0 END AS dist
  FROM nodes),"""
    + ",".join(_g27_iter_ctes(k) for k in range(1, MAX_HOPS + 1))
    + f"\nSELECT node AS org_id, dist FROM d{MAX_HOPS} WHERE dist IS NOT NULL"
)


# ------------------------------------------------- g28 k-core ----------

# k=6 converges in exactly 3 synchronous rounds on the sf0.01 fixture
# (100 → 77 nodes; pinned by test_kcore_converges_on_fixture), so the
# fixed-round gate result IS the true 6-core, not a mid-peel snapshot.
K_CORE_K = 6
K_CORE_ROUNDS = 3


def g28_kcore_orgs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round synchronous k-core peeling (k=6) over the symmetric
    co-publication graph: the cohesive org community left after
    repeatedly dropping low-degree members, with each survivor's degree
    inside it."""
    from ..operators.analytics import k_core

    edges = symmetric_edges(_copub_pairs(spark, sf_dir))
    return k_core(edges, K_CORE_K, K_CORE_ROUNDS).select(
        F.col("node").alias("org_id"), "degree"
    )


def _g28_iter_ctes(r: int) -> str:
    prev = f"e{r - 1}"
    return f"""
d{r} AS (SELECT src, count(*) AS c FROM {prev} GROUP BY src),
kk{r} AS (SELECT src FROM d{r} WHERE c >= {K_CORE_K}),
e{r} AS (
  SELECT e.src, e.dst FROM {prev} e
  JOIN kk{r} a ON e.src = a.src JOIN kk{r} b ON e.dst = b.src)
"""


G28_SQL = (
    _GRAPH_CTES
    + ", e0 AS (SELECT src, dst FROM edges),"
    + ",".join(_g28_iter_ctes(r) for r in range(1, K_CORE_ROUNDS + 1))
    + f"\nSELECT src AS org_id, count(*) AS degree FROM e{K_CORE_ROUNDS} GROUP BY src"
)


# ------------------------------------- g32 weighted PageRank -----------

def g32_weighted_copub_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strength-aware PageRank: the co-publication graph with the
    SHARED-DOCUMENT COUNT as edge weight — an org that co-publishes 50
    papers with a hub passes proportionally more rank along that tie
    than a 30-paper acquaintance.  Same hoisted superstep as g21; only
    the message expression changes (rank·w/Σw)."""
    ranks = pagerank(
        _sym_weighted_copub_edges(spark, sf_dir), N_ITER, DAMPING, weight="w"
    )
    return ranks.select(F.col("node").alias("org_id"), "pagerank")


_G32_CTES = f"""
WITH de AS (SELECT DISTINCT l_orderkey AS doc, l_suppkey AS org FROM lineitem),
wpairs AS (
  SELECT a.org AS src, b.org AS dst, count(*) AS w
  FROM de a JOIN de b ON a.doc = b.doc AND a.org < b.org
  GROUP BY 1, 2 HAVING count(*) >= {MIN_SHARED}),
wedges AS (SELECT src, dst, w FROM wpairs
           UNION ALL SELECT dst, src, w FROM wpairs),
nodes AS (SELECT DISTINCT src AS node FROM wedges),
nn AS (SELECT count(*) AS n FROM nodes),
wdeg AS (SELECT src, sum(w) AS outdeg FROM wedges GROUP BY src)
"""


def _g32_iter_cte(k: int) -> str:
    prev = f"r{k - 1}"
    return f"""
r{k} AS (
  SELECT nodes.node,
         0.15 / (SELECT n FROM nn)
           + 0.85 * coalesce(s.m, 0) AS rank
  FROM nodes LEFT JOIN (
    SELECT e.dst AS node, sum({prev}.rank * e.w / wdeg.outdeg) AS m
    FROM wedges e JOIN {prev} ON e.src = {prev}.node JOIN wdeg ON e.src = wdeg.src
    GROUP BY e.dst) s ON nodes.node = s.node)
"""


G32_SQL = (
    _G32_CTES
    + ", r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),"
    + ",".join(_g32_iter_cte(k) for k in range(1, N_ITER + 1))
    + f"\nSELECT node AS org_id, round(rank, 6) AS pagerank FROM r{N_ITER}"
)


# --------------------------------- g33 weighted personalized PR --------

def g33_weighted_copub_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted personalized PageRank: proximity to the smallest org
    over the co-publication graph with shared-doc counts as tie
    strength — the strength-aware related-entity primitive (g25's
    seeded restart × g32's weighted messages).  The helper materializes
    the edge set, so the seed lookup doesn't re-run the co-occurrence
    join.

    Empty-graph guard (found by the r12 sf0.1 replica): the thresholded
    co-publication graph is EMPTY at sf0.1, so ``min(src)`` is NULL —
    seeding PPR with a NULL id fabricated a phantom (NULL, 0.15…) row
    where the oracle's empty node set yields zero rows.  No orgs → no
    proximity table; the operator now also rejects NULL seeds outright."""
    from ..operators.analytics import personalized_pagerank

    edges = _sym_weighted_copub_edges(spark, sf_dir)
    seed = edges.agg(F.min("src")).first()[0]
    if seed is None:
        return spark.createDataFrame([], "org_id long, ppr double")
    ranks = personalized_pagerank(edges, [seed], N_ITER, DAMPING, weight="w")
    return ranks.select(F.col("node").alias("org_id"), "ppr")


# Symmetric graph with strictly positive weights → no dangling nodes,
# so the operator's dangling-mass term is identically 0 and the oracle
# is the plain seeded weighted power method.
_G33_CTES = (
    _G32_CTES
    + """,
seed AS (SELECT min(src) AS s FROM wedges),
rvec AS (SELECT node, CASE WHEN node = (SELECT s FROM seed) THEN 1.0 ELSE 0.0 END AS r
         FROM nodes)
"""
)


def _g33_iter_cte(k: int) -> str:
    prev = f"r{k - 1}"
    return f"""
r{k} AS (
  SELECT nodes.node,
         0.15 * rvec.r + 0.85 * coalesce(s.m, 0) AS rank
  FROM nodes JOIN rvec ON rvec.node = nodes.node LEFT JOIN (
    SELECT e.dst AS node, sum({prev}.rank * e.w / wdeg.outdeg) AS m
    FROM wedges e JOIN {prev} ON e.src = {prev}.node JOIN wdeg ON e.src = wdeg.src
    GROUP BY e.dst) s ON nodes.node = s.node)
"""


G33_SQL = (
    _G33_CTES
    + ", r0 AS (SELECT node, r AS rank FROM rvec),"
    + ",".join(_g33_iter_cte(k) for k in range(1, N_ITER + 1))
    + f"\nSELECT node AS org_id, round(rank, 6) AS ppr FROM r{N_ITER}"
)


# --------------------------------- g34 weighted shortest paths ---------

def g34_weighted_reach_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths (min-plus Bellman-Ford
    supersteps, ≤ MAX_HOPS relaxation rounds) from the smallest org
    over the co-publication graph with the SHARED-DOCUMENT COUNT as
    edge weight — the weighted-traversal primitive completing the
    weighted family (g32 weighted PR, g33 weighted PPR).  dist is the
    cheapest total weight over paths of ≤4 edges; integer weights cast
    to double keep the arithmetic exact on both engines.  The helper
    materializes the edge set, so the source lookup doesn't re-run the
    co-occurrence join."""
    from ..operators.analytics import bfs_distances

    edges = _sym_weighted_copub_edges(spark, sf_dir)
    source = edges.agg(F.min("src")).first()[0]
    if source is None:
        # g33's empty-graph guard (r13 sf0.1 replica find): empty copub
        # graph → zero rows, matching the oracle's empty node set
        return spark.createDataFrame([], "org_id long, dist double")
    d = bfs_distances(edges, source, MAX_HOPS, weight="w")
    return d.select(F.col("node").alias("org_id"), F.round("dist", 6).alias("dist"))


def _g34_iter_ctes(k: int) -> str:
    prev = f"d{k - 1}"
    return f"""
rx{k} AS MATERIALIZED (
  SELECT e.dst AS node, min(d.dist + CAST(e.w AS DOUBLE)) AS cand
  FROM wedges e JOIN {prev} d ON e.src = d.node
  WHERE d.dist IS NOT NULL GROUP BY e.dst),
d{k} AS MATERIALIZED (
  SELECT d.node, least(d.dist, r.cand) AS dist
  FROM {prev} d LEFT JOIN rx{k} r ON d.node = r.node)
"""


G34_SQL = (
    _G32_CTES
    + """, d0 AS (
  SELECT node,
         CASE WHEN node = (SELECT min(src) FROM wedges)
              THEN CAST(0 AS DOUBLE) END AS dist
  FROM nodes),"""
    + ",".join(_g34_iter_ctes(k) for k in range(1, MAX_HOPS + 1))
    + f"\nSELECT node AS org_id, round(dist, 6) AS dist FROM d{MAX_HOPS} WHERE dist IS NOT NULL"
)


# --------------------------------------- g31 bipartite k-core ----------

# The co-publication graph is EMPTY at sf0.1 (MIN_SHARED=30 sits past
# that scale's sharing cliff), so g28's bench face measures only the
# co-occurrence join there.  g31 peels the symmetric doc↔keyword
# bipartite graph — non-empty at every sf — so the k-core bench signal
# tracks real peeling work as data grows.  Fixed rounds: gate equality
# needs both engines to compute the identical n-round state, converged
# or not.
K31_K = 4
K31_ROUNDS = 3


def g31_kcore_doc_keyword(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round synchronous k-core peeling (k=4) over the symmetric
    doc↔keyword bipartite graph: documents citing ≥4 surviving keywords
    that are themselves cited by ≥4 surviving documents — the
    engagement-core primitive on interaction graphs."""
    from ..operators.analytics import k_core, symmetric_edges

    edges = symmetric_edges(_citation_edges(spark, sf_dir))
    return k_core(edges, K31_K, K31_ROUNDS).select(
        F.col("node").alias("node_id"), "degree"
    )


def _g31_iter_ctes(r: int) -> str:
    prev = f"e{r - 1}"
    return f"""
d{r} AS (SELECT src, count(*) AS c FROM {prev} GROUP BY src),
kk{r} AS (SELECT src FROM d{r} WHERE c >= {K31_K}),
e{r} AS (
  SELECT e.src, e.dst FROM {prev} e
  JOIN kk{r} a ON e.src = a.src JOIN kk{r} b ON e.dst = b.src)
"""


G31_SQL = (
    _G24_CTES
    + """, e0 AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),"""
    + ",".join(_g31_iter_ctes(r) for r in range(1, K31_ROUNDS + 1))
    + f"\nSELECT src AS node_id, count(*) AS degree FROM e{K31_ROUNDS} GROUP BY src"
)


# ------------------------------------------- g29 Adamic-Adar links ------

AA_TOP = 20


def g29_adamic_adar_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the co-publication graph: Adamic–Adar score
    Σ_z 1/ln(deg(z)) over common neighbors z, for org pairs NOT already
    linked — the classic who-should-collaborate-next primitive.  One
    wedge self-join (z's neighbor pairs), one degree join, one
    aggregation, an anti-join against existing edges, deterministic
    top-20 (rounded score desc, then ids)."""
    pairs = _copub_pairs(spark, sf_dir)
    edges = symmetric_edges(pairs)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    e1 = edges.select(F.col("src").alias("z"), F.col("dst").alias("u"))
    e2 = edges.select(F.col("src").alias("z2"), F.col("dst").alias("v"))
    wedges = e1.join(e2, (F.col("z") == F.col("z2")) & (F.col("u") < F.col("v"))).select(
        "z", "u", "v"
    )
    scored = (
        wedges.join(deg.withColumnRenamed("src", "z"), "z")
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.round(F.sum(F.lit(1.0) / F.log(F.col("outdeg"))), 6).alias("aa_score"),
        )
    )
    linked = pairs.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    return (
        scored.join(linked, ["u", "v"], "left_anti")
        .orderBy(F.desc("aa_score"), "u", "v")
        .limit(AA_TOP)
        .select(F.col("u").alias("org1"), F.col("v").alias("org2"), "n_common", "aa_score")
    )


G29_SQL = (
    _GRAPH_CTES
    + f""",
aa AS (
  SELECT e1.dst AS u, e2.dst AS v, count(*) AS n_common,
         round(sum(1.0 / ln(deg.outdeg)), 6) AS aa_score
  FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
  JOIN deg ON deg.src = e1.src
  GROUP BY 1, 2),
missing AS (
  SELECT aa.* FROM aa LEFT JOIN pairs p ON aa.u = p.src AND aa.v = p.dst
  WHERE p.src IS NULL)
SELECT u AS org1, v AS org2, n_common, aa_score
FROM missing ORDER BY aa_score DESC, u, v LIMIT {AA_TOP}
"""
)


# --------------------------------------- g30 components vs closure ------

def g30_copub_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the co-publication graph gated DIRECTLY
    against a transitive-closure oracle (recursive CTE) — the er-family
    gates components only through the full ER pipeline.  Uses the
    operator's adaptive dispatch (driver union-find at this edge count;
    the distributed large-star/small-star path is property-tested
    against the same semantics)."""
    cc = connected_components(_copub_pairs(spark, sf_dir))
    return cc.select(F.col("id").alias("org_id"), "component")


G30_SQL = (
    _GRAPH_CTES.replace("WITH ", "WITH RECURSIVE ", 1)
    + """,
reach AS (
  SELECT node, node AS m FROM nodes
  UNION
  SELECT e.dst AS node, r.m AS m FROM reach r JOIN edges e ON e.src = r.node)
SELECT node AS org_id, min(m) AS component FROM reach GROUP BY node
"""
)




# --------------------------------------- g35 multi-source BFS ----------

N_SEEDS = 3


def g35_multi_source_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark distances: shortest paths within MAX_HOPS from the 3
    smallest document nodes over the symmetric doc↔keyword graph, all
    seeds advanced in ONE superstep loop (seed rides the dist vector
    as a payload column) — the |E| side is touched once per round
    total, not once per round per seed.  The seed lookup is one tiny
    distinct+limit job, a literal like g27's min().  Non-empty at
    every sf (the doc↔keyword graph, unlike copub's MIN_SHARED
    cliff), so the bench face tracks real multi-frontier work.  The
    oracle unrolls the full relax; both reach the same final
    distances."""
    from ..operators.analytics import multi_source_bfs, symmetric_edges

    ce = _citation_edges(spark, sf_dir)
    seeds = [
        r[0]
        for r in ce.select("src").distinct().orderBy("src").limit(N_SEEDS).collect()
    ]
    d = multi_source_bfs(symmetric_edges(ce), seeds, MAX_HOPS)
    return d.select("seed", F.col("node").alias("node_id"), "dist")


def _g35_iter_ctes(k: int) -> str:
    prev = f"md{k - 1}"
    return f"""
mrx{k} AS MATERIALIZED (
  SELECT d.seed, e.dst AS node, min(d.dist + 1) AS cand
  FROM sym e JOIN {prev} d ON e.src = d.node
  WHERE d.dist IS NOT NULL GROUP BY d.seed, e.dst),
md{k} AS MATERIALIZED (
  SELECT d.seed, d.node, least(d.dist, r.cand) AS dist
  FROM {prev} d LEFT JOIN mrx{k} r ON d.seed = r.seed AND d.node = r.node)
"""


G35_SQL = (
    _G24_CTES
    + f""", sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
seeds AS (SELECT src AS seed FROM edges GROUP BY src ORDER BY src LIMIT {N_SEEDS}),
md0 AS (
  SELECT s.seed, n.node, CASE WHEN n.node = s.seed THEN 0 END AS dist
  FROM seeds s CROSS JOIN nodes n),"""
    + ",".join(_g35_iter_ctes(k) for k in range(1, MAX_HOPS + 1))
    + f"\nSELECT seed, node AS node_id, dist FROM md{MAX_HOPS} WHERE dist IS NOT NULL"
)


# --------------------------------- g36 landmark harmonic centrality ----

def g36_landmark_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic centrality, landmark-approximated: Σ_s 1/d(s, v) over
    the g35 seed set — THE practical centrality at 100 TB, where exact
    all-pairs closeness is O(|V|·|E|) and the standard estimator is
    exactly this: BFS from a seed sample, fold 1/dist.  Unreachable
    (seed, node) pairs contribute 0 by construction (harmonic
    centrality's defining advantage over closeness on disconnected
    graphs); the seeds themselves are excluded (dist > 0).  One
    aggregation over the multi-source BFS frame — the fold costs one
    shuffle on top of g35's supersteps."""
    from ..operators.analytics import multi_source_bfs, symmetric_edges

    ce = _citation_edges(spark, sf_dir)
    seeds = [
        r[0]
        for r in ce.select("src").distinct().orderBy("src").limit(N_SEEDS).collect()
    ]
    d = multi_source_bfs(symmetric_edges(ce), seeds, MAX_HOPS)
    return (
        d.filter(F.col("dist") > 0)
        .groupBy(F.col("node").alias("node_id"))
        .agg(
            F.count(F.lit(1)).alias("n_reached"),
            F.round(F.sum(F.lit(1.0) / F.col("dist")), 6).alias("harmonic"),
        )
    )


G36_SQL = (
    _G24_CTES
    + f""", sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
seeds AS (SELECT src AS seed FROM edges GROUP BY src ORDER BY src LIMIT {N_SEEDS}),
md0 AS (
  SELECT s.seed, n.node, CASE WHEN n.node = s.seed THEN 0 END AS dist
  FROM seeds s CROSS JOIN nodes n),"""
    + ",".join(_g35_iter_ctes(k) for k in range(1, MAX_HOPS + 1))
    + f"""
SELECT node AS node_id, count(*) AS n_reached,
       round(sum(1.0 / dist), 6) AS harmonic
FROM md{MAX_HOPS} WHERE dist IS NOT NULL AND dist > 0 GROUP BY node"""
)


# ------------------------------------------------ g37 k-truss ----------

TRUSS_K = 4
TRUSS_ROUNDS = 2


def g37_copub_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss (k=4, 2 synchronous rounds) over the co-publication
    graph: every surviving collaboration edge closes ≥2 triangles in
    the surviving subgraph — the cohesive-community core that k-core
    can't isolate (a between-community bridge has high degree but
    closes few triangles).  Edge-support peeling with the surviving
    supports shipped."""
    from ..operators.analytics import k_truss

    t = k_truss(_copub_pairs(spark, sf_dir), TRUSS_K, TRUSS_ROUNDS)
    return t.select(
        F.col("src").alias("org1"), F.col("dst").alias("org2"), "support"
    )


def _g37_round_ctes(r: int) -> str:
    prev = f"t{r - 1}"
    return f"""
sym{r} AS (SELECT u, v FROM {prev} UNION ALL SELECT v AS u, u AS v FROM {prev}),
sup{r} AS (
  SELECT e.u, e.v, coalesce(w.c, 0) AS support
  FROM {prev} e LEFT JOIN (
    SELECT e2.u, e2.v, count(*) AS c
    FROM {prev} e2 JOIN sym{r} a ON a.u = e2.u JOIN sym{r} b ON b.u = e2.v AND b.v = a.v
    GROUP BY e2.u, e2.v) w ON w.u = e.u AND w.v = e.v),
t{r} AS (SELECT u, v FROM sup{r} WHERE support >= {TRUSS_K - 2})
"""


G37_SQL = (
    _GRAPH_CTES
    + ", t0 AS (SELECT src AS u, dst AS v FROM pairs),"
    + ",".join(_g37_round_ctes(r) for r in range(1, TRUSS_ROUNDS + 1))
    + f""",
symf AS (SELECT u, v FROM t{TRUSS_ROUNDS} UNION ALL SELECT v AS u, u AS v FROM t{TRUSS_ROUNDS})
SELECT e.u AS org1, e.v AS org2, coalesce(w.c, 0) AS support
FROM t{TRUSS_ROUNDS} e LEFT JOIN (
  SELECT e2.u, e2.v, count(*) AS c
  FROM t{TRUSS_ROUNDS} e2 JOIN symf a ON a.u = e2.u JOIN symf b ON b.u = e2.v AND b.v = a.v
  GROUP BY e2.u, e2.v) w ON w.u = e.u AND w.v = e.v"""
)


# ------------------------------- g38 incremental components (delta CC) --

def g38_incremental_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Components maintained under edge INSERTS vs a full-recompute
    oracle: a base graph of 4-consecutive-doc_id chains is closed once,
    then a delta batch folds in via ``incremental_components`` — the
    O(|delta|) path the ER pipeline would use for a new similarity
    batch instead of re-closing the corpus graph.  The delta exercises
    all three insert classes: component MERGES (every 8k+4 doc links
    its 4-group to the 4k group below), brand-NEW nodes that undercut
    every old member (negative ids, so the merged component's label
    must change), and intra-component no-ops (4k+2 → 4k+1 edges).  The
    oracle recomputes components over base ∪ delta from scratch with a
    recursive CTE — equality IS the incremental-maintenance contract."""
    from ..operators.connected_components import incremental_components

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    base = docs.filter(d % 4 != 0).select(d.alias("src"), (d - d % 4).alias("dst"))
    delta = (
        docs.filter(d % 8 == 4)
        .select(d.alias("src"), (d - d % 8).alias("dst"))
        .unionByName(
            docs.filter(d % 16 == 1).select(d.alias("src"), (-d - 1).alias("dst"))
        )
        .unionByName(
            docs.filter(d % 4 == 2).select(d.alias("src"), (d - 1).alias("dst"))
        )
    )
    return incremental_components(connected_components(base), delta)


G38_SQL = """
WITH RECURSIVE
base_e AS (
  SELECT doc_id AS src, doc_id - (doc_id % 4) AS dst
  FROM documents WHERE doc_id % 4 <> 0),
delta_e AS (
  SELECT doc_id AS src, doc_id - (doc_id % 8) AS dst
  FROM documents WHERE doc_id % 8 = 4
  UNION ALL
  SELECT doc_id, -doc_id - 1 FROM documents WHERE doc_id % 16 = 1
  UNION ALL
  SELECT doc_id, doc_id - 1 FROM documents WHERE doc_id % 4 = 2),
alle AS (SELECT DISTINCT src, dst
         FROM (SELECT * FROM base_e UNION ALL SELECT * FROM delta_e)),
edges2 AS (SELECT src, dst FROM alle UNION SELECT dst AS src, src AS dst FROM alle),
nodes AS (SELECT DISTINCT src AS id FROM edges2),
reach(id, lab) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges2 e ON r.id = e.src
  WHERE r.lab < e.dst)
SELECT id, min(lab) AS component FROM reach GROUP BY id
"""


# --------------------------------- g39 strongly connected components ----

def g39_strongly_connected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCC decomposition of a deterministic directed graph over the
    document ids (the x01/p03 construction discipline: structure by
    integer arithmetic so the oracle is closed-form and independent of
    the operator, while the operator runs the REAL trim→color→backward-
    reach algorithm to rediscover it).  The citation fixture itself is
    acyclic — every SCC a singleton, a vacuous gate (the g31 trap) — so
    the graph is built to exercise each code path at every sf:

    With b = d//8, p = d%8, k_b = 2 + (b%4), over the N = ⌊max_id+1 / 8⌋·8
    ids forming complete 8-id blocks:
      - cycle edges   (p <  k_b): d → 8b + (p+1) mod k_b — one directed
        cycle of size 2..5 per block (the multi-node SCCs);
      - tail edges    (p >= k_b): d → d-1 — acyclic chains feeding the
        cycle (trim-loop fodder: singleton SCCs peeled by degree);
      - cross edges   (p = 0, b%4 != 3, d+8 < N): d → d+8 — forward-only
        block chaining, so color regions span blocks but no SCC does.

    Closed form: component(d) = 8b for cycle members, d itself for
    tails.  Multi-node and singleton SCCs both present at every sf."""
    from ..operators.analytics import strongly_connected_components

    docs = load_table(spark, sf_dir, "documents")
    n = docs.agg(F.max("doc_id")).first()[0] + 1  # ids are contiguous 0..max
    big_n = n // 8 * 8
    d = F.col("doc_id")
    b, p = F.floor(d / 8), d % 8
    kb = 2 + (b % 4)
    base = docs.filter(d < big_n).select("doc_id")
    cycle = base.filter(p < kb).select(
        d.alias("src"), (b * 8 + (p + 1) % kb).cast("long").alias("dst")
    )
    tail = base.filter(p >= kb).select(d.alias("src"), (d - 1).alias("dst"))
    cross = base.filter((p == 0) & (b % 4 != 3) & (d + 8 < big_n)).select(
        d.alias("src"), (d + 8).alias("dst")
    )
    # no orderBy: the driver's compare sorts before hashing, and a total-
    # order exchange on the output is pure waste at scale
    return strongly_connected_components(cycle.unionByName(tail).unionByName(cross))


G39_SQL = """
WITH n AS (SELECT ((max(doc_id) + 1) // 8) * 8 AS nn FROM documents)
SELECT doc_id AS node,
       CASE WHEN doc_id % 8 < 2 + ((doc_id // 8) % 4)
            THEN (doc_id // 8) * 8 ELSE doc_id END AS component
FROM documents, n
WHERE doc_id < nn
ORDER BY node
"""


# ------------------------- g40 deterministic random-walk corpus ----------

WALK_STEPS = 4
WALK_START_RESIDUE = 7  # starts = doc nodes with src % 100 == 7


def g40_walk_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk-style walk corpus over the symmetrized doc↔keyword
    graph (metapath2vec's shape: sequences alternate doc, keyword, doc,
    … — exactly what an embedding trainer consumes as sentences).
    Starts are the deterministic residue class src % 100 == 7 of doc
    nodes; WALK_STEPS hash-chosen transitions per walk
    (`operators/walks.deterministic_walks`).  Integer node ids end to
    end, every step replayed by the unrolled oracle.

    The distinct edge set materializes ONCE (the g25 lesson, r16):
    starts and the symmetric walk frame both derive from the
    checkpoint instead of each re-running the fact-table distinct."""
    from ..operators.walks import deterministic_walks

    ce = _citation_edges(spark, sf_dir).localCheckpoint(eager=True)
    starts = (
        ce.select("src")
        .distinct()
        .filter(F.pmod(F.col("src"), F.lit(100)) == WALK_START_RESIDUE)
        .select(F.col("src").alias("node"))
    )
    return deterministic_walks(symmetric_edges(ce), starts, n_steps=WALK_STEPS)


def _g40_step_cte(t: int) -> str:
    prev = f"s{t - 1}"
    return f"""
c{t} AS (
  SELECT {prev}.walk_id, e.dst AS cand,
         ((((walk_id % 2147483647) * 31
            + ({prev}.node % 2147483647) * 17
            + (e.dst % 2147483647)
            + {t * 1_000_003}) % 2147483647) * 2654435761) % 2147483647 AS h
  FROM {prev} JOIN sym e ON e.src = {prev}.node),
s{t} AS (
  SELECT walk_id, {t} AS step, cand AS node
  FROM (SELECT walk_id, cand,
               row_number() OVER (PARTITION BY walk_id ORDER BY h, cand) AS rn
        FROM c{t})
  WHERE rn = 1)"""


# The walk-corpus WITH-prefix and the corpus union, shared verbatim by
# G40 (which ships the corpus itself) and the downstream g42/g43 oracles
# (which consume it as a `corpus` CTE) — one definition so the oracles
# can never replay a different corpus than the one g40 gates.
_WALK_CTES = (
    f"""
WITH edges AS (
  SELECT DISTINCT l_orderkey AS src, l_partkey + {KW_NODE_OFFSET} AS dst
  FROM lineitem),
sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
starts AS (SELECT DISTINCT src FROM edges WHERE src % 100 = {WALK_START_RESIDUE}),
s0 AS (SELECT src AS walk_id, 0 AS step, src AS node FROM starts),"""
    + ",".join(_g40_step_cte(t) for t in range(1, WALK_STEPS + 1))
)

_WALK_CORPUS_UNION = "\nUNION ALL\n".join(
    f"SELECT walk_id, step, node FROM s{t}" for t in range(0, WALK_STEPS + 1)
)

G40_SQL = _WALK_CTES + "\n" + _WALK_CORPUS_UNION


# --------------------------- g41 distributed connected components ---------

# The large-star/small-star path (`connected_components` with
# driver_threshold=0) is the 100 TB CC story — O(log² n) rounds
# regardless of component diameter — but until r14 it carried only
# pytest pins (random graphs + the 1M-scale chain), never a driver
# record.  The gate graph is built from doc ids by integer arithmetic
# (the g39/x01 discipline: closed-form oracle, independent of the
# operator) and is deliberately CHAIN-shaped so the distributed loop
# must actually iterate — a star graph would converge in one round and
# gate nothing:
#   - chain edges  d → d-1 for d % 64 != 0: one length-64 path per
#     block b = d//64 (forces the multi-round contraction);
#   - merge edges  64b → 64(b-1) for b % 16 == 5: sparse cross-block
#     merges, so some components span two blocks and the min-label
#     relabel is exercised.
# Over the ⌊(max_id+1)/64⌋·64 ids forming complete blocks, every node
# appears in an edge (d%64 != 0 as a chain src; d%64 == 0 as the dst of
# d+1 → d), so the output covers exactly those ids.  Closed form:
# component(d) = 64·(b-1) if b % 16 == 5 else 64·b.
CC_BLOCK = 64
CC_MERGE_RESIDUE = 5


def g41_distributed_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via the DISTRIBUTED alternating large-star/
    small-star contraction (driver_threshold=0 forces the path the
    adaptive dispatch reserves for beyond-driver-scale graphs) over a
    deterministic chain-block graph — the O(log² n)-round closure whose
    equality with the closed-form component labels IS the gate."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    n = docs.agg(F.max("doc_id")).first()[0] + 1  # ids are contiguous 0..max
    big_n = n // CC_BLOCK * CC_BLOCK
    d = F.col("doc_id")
    base = docs.filter(d < big_n)
    chain = base.filter(d % CC_BLOCK != 0).select(d.alias("src"), (d - 1).alias("dst"))
    b = F.floor(d / CC_BLOCK)
    merge = base.filter((d % CC_BLOCK == 0) & (b % 16 == CC_MERGE_RESIDUE)).select(
        d.alias("src"), (d - CC_BLOCK).alias("dst")
    )
    cc = connected_components(chain.unionByName(merge), driver_threshold=0)
    return cc.select(F.col("id").alias("node"), "component")


G41_SQL = f"""
WITH n AS (SELECT ((max(doc_id) + 1) // {CC_BLOCK}) * {CC_BLOCK} AS nn FROM documents)
SELECT doc_id AS node,
       CASE WHEN (doc_id // {CC_BLOCK}) % 16 = {CC_MERGE_RESIDUE}
            THEN ((doc_id // {CC_BLOCK}) - 1) * {CC_BLOCK}
            ELSE (doc_id // {CC_BLOCK}) * {CC_BLOCK} END AS component
FROM documents, n
WHERE doc_id < nn
"""


# ----------------------------- g42 walk-corpus PPMI collocations ----------

PPMI_WINDOW = 2  # co-occurrence = steps ≤2 apart within one walk
PPMI_MIN_COOC = 2  # support threshold — integer, so membership is exact


def g42_walk_ppmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPMI collocations mined from the g40 walk corpus — the skip-gram
    pair-weighting step of a DeepWalk-style embedding pipeline (the d44
    NPMI discipline applied to graph walks instead of documents).
    Co-occurrence events are unordered node pairs ≤PPMI_WINDOW steps
    apart within one walk (self-pairs excluded); with T total events
    and per-node slot counts m(u), ppmi = max(ln(4·T·c/(m(u)·m(v))), 0)
    — p(u,v)=c/T against p(u)=m(u)/2T makes the constant 4T exact.
    Membership is the INTEGER support filter c ≥ PPMI_MIN_COOC (never a
    float-boundary top-K), so both engines ship the identical pair set;
    the single ln ships rounded at 6, the d44-proven tolerance.

    Scale shape: the corpus self-join is per-walk (walk_id equi-join,
    window ≤2 — bounded fan-out per row), pair counts and marginals are
    two map-side-combinable aggregations, and the marginal join keys on
    node — nothing quadratic, nothing driver-side."""
    corpus = g40_walk_corpus(spark, sf_dir)
    a = corpus.select(
        F.col("walk_id").alias("w"), F.col("step").alias("sa"), F.col("node").alias("na")
    )
    bb = corpus.select(
        F.col("walk_id").alias("w"), F.col("step").alias("sb"), F.col("node").alias("nb")
    )
    ev = (
        a.join(bb, "w")
        .filter(
            (F.col("sb") - F.col("sa")).between(1, PPMI_WINDOW)
            & (F.col("na") != F.col("nb"))
        )
        .select(
            F.least("na", "nb").alias("u"), F.greatest("na", "nb").alias("v")
        )
    )
    pc = ev.groupBy("u", "v").agg(F.count(F.lit(1)).alias("n_cooc"))
    # pc feeds the total, both marginal legs, and the filtered result —
    # four consumers of one aggregation
    pc = pc.localCheckpoint(eager=True)
    tot = pc.agg(F.sum("n_cooc").alias("t"))
    marg = (
        pc.select(F.col("u").alias("node"), "n_cooc")
        .unionByName(pc.select(F.col("v").alias("node"), "n_cooc"))
        .groupBy("node")
        .agg(F.sum("n_cooc").alias("m"))
    )
    return (
        pc.filter(F.col("n_cooc") >= PPMI_MIN_COOC)
        .join(marg.select(F.col("node").alias("u"), F.col("m").alias("mu")), "u")
        .join(marg.select(F.col("node").alias("v"), F.col("m").alias("mv")), "v")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("u").alias("node1"),
            F.col("v").alias("node2"),
            "n_cooc",
            F.round(
                F.greatest(
                    F.log(
                        F.lit(4.0)
                        * F.col("t")
                        * F.col("n_cooc")
                        / (F.col("mu") * F.col("mv"))
                    ),
                    F.lit(0.0),
                ),
                6,
            ).alias("ppmi"),
        )
    )


_G42_PAIR_CTES = """,
corpus AS ({corpus}),
ev AS (
  SELECT least(a.node, b.node) AS u, greatest(a.node, b.node) AS v
  FROM corpus a JOIN corpus b
    ON a.walk_id = b.walk_id
   AND b.step - a.step BETWEEN 1 AND {window}
   AND a.node <> b.node),
pc AS (SELECT u, v, count(*) AS c FROM ev GROUP BY u, v),
tot AS (SELECT sum(c) AS t FROM pc),
marg AS (
  SELECT node, sum(c) AS m FROM (
    SELECT u AS node, c FROM pc UNION ALL SELECT v AS node, c FROM pc)
  GROUP BY node)
""".format(corpus=_WALK_CORPUS_UNION, window=PPMI_WINDOW)

G42_SQL = (
    _WALK_CTES
    + _G42_PAIR_CTES
    + f"""
SELECT pc.u AS node1, pc.v AS node2, pc.c AS n_cooc,
       round(greatest(ln(4.0 * (SELECT t FROM tot) * pc.c / (mu.m * mv.m)), 0.0), 6) AS ppmi
FROM pc JOIN marg mu ON mu.node = pc.u JOIN marg mv ON mv.node = pc.v
WHERE pc.c >= {PPMI_MIN_COOC}
"""
)


# ----------------------------- g43 walk-embedding ANN ---------------------

EMB_BUCKETS = 16  # hashed-context dimensionality
EMB_MIN_BUCKETS = 3  # candidate density floor (≥3 distinct context buckets)
EMB_TOP_K = 10


def _walk_hashed_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(tok, nbuckets, mtot, emb): ONE definition of the walk-derived
    hashed-context embedding for every consumer (g43 ANN, g46 PCA) —
    per corpus node, a dense EMB_BUCKETS-dim array with ln(1+count)
    weights at bucket = pmod(context node, EMB_BUCKETS), context being
    the nodes ≤PPMI_WINDOW steps away within a walk (self excluded).
    Materialized here (localCheckpoint): every consumer reads it at
    least twice (query election + corpus scan; Gram fold +
    projection)."""
    corpus = g40_walk_corpus(spark, sf_dir)
    a = corpus.select(
        F.col("walk_id").alias("w"), F.col("step").alias("sa"), F.col("node").alias("tok")
    )
    bb = corpus.select(
        F.col("walk_id").alias("w"), F.col("step").alias("sb"), F.col("node").alias("ctx")
    )
    ev = (
        a.join(bb, "w")
        .filter(
            F.abs(F.col("sb") - F.col("sa")).between(1, PPMI_WINDOW)
            & (F.col("tok") != F.col("ctx"))
        )
        .select("tok", F.pmod(F.col("ctx"), F.lit(EMB_BUCKETS)).cast("int").alias("bucket"))
    )
    hw = ev.groupBy("tok", "bucket").agg(F.count(F.lit(1)).alias("c"))
    return (
        hw.select("tok", "bucket", F.log(F.lit(1.0) + F.col("c")).alias("wt"), "c")
        .groupBy("tok")
        .agg(
            F.map_from_entries(F.collect_list(F.struct("bucket", "wt"))).alias("m"),
            F.count(F.lit(1)).alias("nbuckets"),
            F.sum("c").alias("mtot"),
        )
        .select(
            "tok",
            "nbuckets",
            "mtot",
            F.transform(
                F.sequence(F.lit(0), F.lit(EMB_BUCKETS - 1)),
                lambda j: F.coalesce(F.element_at(F.col("m"), j), F.lit(0.0)),
            ).alias("emb"),
        )
        .localCheckpoint(eager=True)
    )


def g43_walk_embedding_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walks → embeddings → ANN, end to end: each walk-corpus node gets
    a DENSE hashed-context embedding (context node → bucket = pmod(ctx,
    EMB_BUCKETS); weight = ln(1+count) — the log-damped feature-hashing
    construction), and the result is the brute cosine top-10 around the
    corpus's most-frequent node — closing the loop the g40 corpus and
    the a01-family ANN stack left open (reference analogue: the
    keyword_merger embed→similarity pipeline, `keyword_merger.py:183`,
    with structure-derived instead of model-derived vectors).

    Determinism: context counts are integers; the query node is the
    (max total count, min id) argmax; candidates are density-filtered
    (≥EMB_MIN_BUCKETS distinct buckets) so near-empty vectors don't
    flood the top-k with degenerate cos=1.0 ties; ordering is
    (rounded cos desc, node id).  The query rides as a broadcast
    1-row crossJoin — no driver-side lookup, so an empty corpus yields
    an empty frame with no None-seed hazard (the g33 class).

    Scale shape: one bounded self-join (per-walk window), one groupBy
    to hashed buckets, one groupBy assembling ≤EMB_BUCKETS-entry maps,
    then a broadcast-1-row scan — the brute path; the IVF/PQ stack
    (a02-a12) is the documented scale route for the corpus side."""
    vecs = _walk_hashed_vecs(spark, sf_dir)
    qrow = (
        vecs.orderBy(F.desc("mtot"), "tok")
        .limit(1)
        .select(F.col("tok").alias("qt"), F.col("emb").alias("qemb"))
    )
    from ..functions.vectors import cosine_rounded

    return (
        vecs.crossJoin(F.broadcast(qrow))
        .filter((F.col("tok") != F.col("qt")) & (F.col("nbuckets") >= EMB_MIN_BUCKETS))
        .select(
            F.col("tok").alias("node_id"),
            cosine_rounded(F.col("emb"), F.col("qemb")).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "node_id")
        .limit(EMB_TOP_K)
    )


G43_SQL = (
    _WALK_CTES
    + f""",
corpus AS ({_WALK_CORPUS_UNION}),
ev2 AS (
  SELECT a.node AS tok, b.node AS ctx
  FROM corpus a JOIN corpus b
    ON a.walk_id = b.walk_id
   AND abs(b.step - a.step) BETWEEN 1 AND {PPMI_WINDOW}
   AND a.node <> b.node),
hw AS (SELECT tok, ((ctx % {EMB_BUCKETS}) + {EMB_BUCKETS}) % {EMB_BUCKETS} AS bucket,
              count(*) AS c
       FROM ev2 GROUP BY 1, 2),
w AS (SELECT tok, bucket, ln(1.0 + c) AS wt FROM hw),
nb AS (SELECT tok, count(*) AS nbuckets, sum(c) AS m FROM hw GROUP BY tok),
q AS (SELECT tok AS qt FROM nb ORDER BY m DESC, tok LIMIT 1),
qv AS (SELECT bucket, wt FROM w, q WHERE w.tok = q.qt),
dots AS (SELECT w.tok, sum(w.wt * qv.wt) AS dp FROM w JOIN qv USING (bucket) GROUP BY w.tok),
norms AS (SELECT tok, sqrt(sum(wt * wt)) AS nr FROM w GROUP BY tok),
qn AS (SELECT sqrt(sum(wt * wt)) AS nq FROM qv),
-- candidate set from nb, NOT from dots: a candidate sharing NO bucket
-- with the query has no dots row but the Spark plan computes cosine
-- 0.0 for it and can ship it in the top-k tail — LEFT JOIN + coalesce
-- keeps the two engines membership-identical (r14 ADVICE item)
cand AS (SELECT nb.tok FROM nb, q WHERE nb.tok <> q.qt AND nb.nbuckets >= {EMB_MIN_BUCKETS})
SELECT c.tok AS node_id, round(coalesce(d.dp, 0.0) / (n.nr * qn.nq), 6) AS cos_sim
FROM cand c LEFT JOIN dots d ON d.tok = c.tok JOIN norms n ON n.tok = c.tok, qn
ORDER BY cos_sim DESC, node_id LIMIT {EMB_TOP_K}
"""
)


# ----------------------------- g44 BFS to fixpoint ------------------------

# Oracle unroll depth: the min-fold relaxation is monotone and
# idempotent after convergence, so unrolling PAST the fixpoint is a
# no-op — depth 10 covers the measured whole-graph eccentricity of the
# doc↔keyword graph (6 at sf0.001/0.01, 8 at sf0.1) with margin; the
# Spark side doesn't unroll at all, it detects the empty frontier.
G44_ORACLE_DEPTH = 10


def g44_reach_fixpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-length traversal to CONVERGENCE — the Cypher `*1..`
    unbounded-reach analogue (`neo4j_query_executor.py:287-292`'s hop
    patterns generalized past a fixed k): exact whole-graph shortest
    paths from the smallest document over the symmetric doc↔keyword
    graph, via `bfs_distances(max_hops=None)` — frontier relaxation
    with no round bound, ended by the empty-frontier fixpoint witness,
    the face g27/g35 (hop-bounded) deliberately do not cover.  The
    oracle unrolls the relaxation past the graph's eccentricity (see G44_ORACLE_DEPTH —
    over-unrolling a converged min-fold is a no-op, so oracle depth is
    NOT a semantics knob the way it is for fixed-round faces)."""
    from ..operators.analytics import bfs_distances

    edges = _citation_edges(spark, sf_dir).localCheckpoint(eager=True)
    source = edges.agg(F.min("src")).first()[0]
    if source is None:
        # base-table contract says non-empty, but the g33 lesson stands:
        # any driver-side seed lookup short-circuits to a typed empty
        return spark.createDataFrame([], "node_id long, dist int")
    d = bfs_distances(symmetric_edges(edges), source, max_hops=None)
    return d.select(F.col("node").alias("node_id"), "dist")


def _g44_iter_ctes(k: int) -> str:
    prev = f"d{k - 1}"
    return f"""
rx{k} AS MATERIALIZED (
  SELECT e.dst AS node, min(d.dist + 1) AS cand
  FROM sym e JOIN {prev} d ON e.src = d.node
  WHERE d.dist IS NOT NULL GROUP BY e.dst),
d{k} AS MATERIALIZED (
  SELECT d.node, least(d.dist, r.cand) AS dist
  FROM {prev} d LEFT JOIN rx{k} r ON d.node = r.node)
"""


G44_SQL = (
    f"""
WITH edges AS (
  SELECT DISTINCT l_orderkey AS src, l_partkey + {KW_NODE_OFFSET} AS dst FROM lineitem),
sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
nodes AS (SELECT DISTINCT src AS node FROM sym),
d0 AS (
  SELECT node, CASE WHEN node = (SELECT min(src) FROM edges) THEN 0 END AS dist
  FROM nodes),"""
    + ",".join(_g44_iter_ctes(k) for k in range(1, G44_ORACLE_DEPTH + 1))
    + f"\nSELECT node AS node_id, dist FROM d{G44_ORACLE_DEPTH} WHERE dist IS NOT NULL"
)


# ----------------------------- g45 sampled triangle estimate --------------

# Deterministic edge sampling for the triangle estimator: keep an edge
# iff its seeded hash (the selection.py fold-then-Knuth-multiply form,
# overflow-safe for any int64 ids — the SQL mirror applies the
# ((x % M) + M) % M correction on the innermost mods so negative ids
# hash identically in both engines) lands below 2^30 of HASH_MOD =
# 2^31-1 — nominal keep rate p = 1/2 (true rate 2^30/(2^31-1), within
# 2.4e-10 of nominal; the estimator uses the NOMINAL 1/p³ = 8 so both
# engines ship bit-identical integers × 8.0, never a libm pow()).
TRI_HASH_MOD = 2_147_483_647
TRI_KNUTH = 2_654_435_761
TRI_KEEP_LT = 1 << 30


def _tri_edge_hash(src, dst):
    folded = F.pmod(
        F.pmod(src, F.lit(TRI_HASH_MOD)) * F.lit(31) + F.pmod(dst, F.lit(TRI_HASH_MOD)),
        F.lit(TRI_HASH_MOD),
    )
    return F.pmod(folded * F.lit(TRI_KNUTH), F.lit(TRI_HASH_MOD))


def g45_sampled_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate triangle counting by deterministic edge sampling —
    the d30/d34 sketch-contract pattern applied to graph analytics: the
    estimator's every ingredient ships as an exact SQL-checkable number
    (total edges, sampled edges, exact triangle count, sampled-subgraph
    triangle count, and the 8× unbiased estimate — each sampled
    triangle survives with probability p³ = 1/8), so the gate pins the
    sampling hash, the subgraph count, AND the scale-up arithmetic.
    Sampling is the repo's seeded-hash discipline (never rand()), so
    re-runs and both engines select the identical edge subset.

    Scale shape: the sample filter is a map-side predicate on the edge
    list — the wedge self-join then runs on a p-fraction of edges
    (p³ of the triangles, ~p² of the join work), the standard
    DOULION-style cost dial for trillion-edge triangle counting."""
    pairs = _copub_pairs(spark, sf_dir).localCheckpoint(eager=True)  # read 4×
    sampled = pairs.filter(_tri_edge_hash(F.col("src"), F.col("dst")) < TRI_KEEP_LT)
    exact = triangle_count(pairs).select(F.col("n_triangles").alias("exact_triangles"))
    samp = triangle_count(sampled).select(
        F.col("n_triangles").alias("sampled_triangles")
    )
    n_e = pairs.agg(F.count(F.lit(1)).alias("n_edges"))
    n_s = sampled.agg(F.count(F.lit(1)).alias("n_sampled"))
    return (
        n_e.crossJoin(F.broadcast(n_s))
        .crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(samp))
        .select(
            "n_edges",
            "n_sampled",
            "exact_triangles",
            "sampled_triangles",
            F.round(F.col("sampled_triangles") * F.lit(8.0), 6).alias("est_triangles"),
        )
    )


G45_SQL = (
    _GRAPH_CTES
    + f""",
sampled AS (
  -- pmod-equivalent for ANY int64 id: DuckDB's % takes the dividend's
  -- sign, so the innermost src/dst mods get the ((x % M) + M) % M
  -- correction (the g43 bucket-hash pattern); the outer layers operate
  -- on non-negative values where % and Spark's pmod agree (r14 ADVICE)
  SELECT src, dst FROM pairs
  WHERE ((((((src % {TRI_HASH_MOD}) + {TRI_HASH_MOD}) % {TRI_HASH_MOD}) * 31
          + (((dst % {TRI_HASH_MOD}) + {TRI_HASH_MOD}) % {TRI_HASH_MOD}))
         % {TRI_HASH_MOD}) * {TRI_KNUTH}) % {TRI_HASH_MOD} < {TRI_KEEP_LT}),
ex AS (
  SELECT count(*) AS exact_triangles
  FROM pairs p12 JOIN pairs p23 ON p12.dst = p23.src
  JOIN pairs p13 ON p12.src = p13.src AND p23.dst = p13.dst),
sx AS (
  SELECT count(*) AS sampled_triangles
  FROM sampled p12 JOIN sampled p23 ON p12.dst = p23.src
  JOIN sampled p13 ON p12.src = p13.src AND p23.dst = p13.dst)
SELECT (SELECT count(*) FROM pairs) AS n_edges,
       (SELECT count(*) FROM sampled) AS n_sampled,
       ex.exact_triangles,
       sx.sampled_triangles,
       round(sx.sampled_triangles * 8.0, 6) AS est_triangles
FROM ex, sx
"""
)


# ----------------------------- g46 walk-embedding PCA ---------------------

def g46_walk_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding-training step over the walk corpus — the
    closed-form counterpart of skip-gram training: factorize the
    hashed-context matrix by its top principal component
    (`operators/pca.py`'s one-pass distributed Gram fold + driver
    eigensolve), completing walks → context vectors → trained
    projection.  Gated with the a09 contract pattern: exact
    SQL-checkable covariance facts (corpus size, trace, max
    per-dimension variance over the DENSE vectors, zeros included) plus
    three theorem booleans the oracle pins to literal TRUE —
    λ1 ≥ max diagonal (Rayleigh), 0 < λ1/trace ≤ 1, and the JVM-side
    projection's population variance realizing λ1 (the end-to-end
    Gram-fold/eigensolve/projection agreement check).

    Scale shape: the corpus self-join and bucket fold are g43's; the
    PCA adds one mapInPandas pass emitting a d×d partial PER PARTITION
    (d = EMB_BUCKETS, independent of row count) and a ≤num-partitions
    driver fold."""
    import numpy as np

    from ..operators.pca import pca_top_component, project_scores

    vecs = _walk_hashed_vecs(spark, sf_dir)
    n, cov, lam, v = pca_top_component(vecs, vec_col="emb")
    trace = float(np.trace(cov))
    top_dim = float(np.max(np.diag(cov)))
    proj_var = (
        project_scores(vecs, v, vec_col="emb")
        .agg(F.var_pop("score").alias("v"))
        .first()["v"]
    )
    return spark.createDataFrame(
        [
            (
                n,
                round(trace, 4),
                round(top_dim, 4),
                bool(lam >= top_dim - 1e-12),
                bool(0.0 < lam / trace <= 1.0),
                bool(abs(proj_var - lam) <= 1e-9 * trace),
            )
        ],
        "n long, trace double, top_dim_var double, pc1_captures_top_dim boolean,"
        " explained_ratio_valid boolean, projection_realizes_lambda1 boolean",
    )


G46_SQL = (
    _WALK_CTES
    + f""",
corpus AS ({_WALK_CORPUS_UNION}),
ev2 AS (
  SELECT a.node AS tok, b.node AS ctx
  FROM corpus a JOIN corpus b
    ON a.walk_id = b.walk_id
   AND abs(b.step - a.step) BETWEEN 1 AND {PPMI_WINDOW}
   AND a.node <> b.node),
hw AS (SELECT tok, ((ctx % {EMB_BUCKETS}) + {EMB_BUCKETS}) % {EMB_BUCKETS} AS bucket,
              count(*) AS c
       FROM ev2 GROUP BY 1, 2),
w AS (SELECT tok, bucket, ln(1.0 + c) AS wt FROM hw),
toks AS (SELECT DISTINCT tok FROM hw),
buckets AS (SELECT range AS bucket FROM range({EMB_BUCKETS})),
dense AS (
  SELECT t.tok, b.bucket, coalesce(w.wt, 0.0) AS x
  FROM toks t CROSS JOIN buckets b
  LEFT JOIN w ON w.tok = t.tok AND w.bucket = b.bucket),
dimvar AS (SELECT bucket, var_pop(x) AS v FROM dense GROUP BY bucket)
SELECT (SELECT count(*) FROM toks)::BIGINT AS n,
       round(sum(v), 4) AS trace,
       round(max(v), 4) AS top_dim_var,
       TRUE AS pc1_captures_top_dim,
       TRUE AS explained_ratio_valid,
       TRUE AS projection_realizes_lambda1
FROM dimvar
"""
)


# ----------------------------- g47 shortest-path counting -----------------

def g47_shortest_path_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest-path counting (Brandes' forward pass σ) from the
    smallest document over the symmetric doc↔keyword graph, ≤MAX_HOPS
    layers — the betweenness-centrality building block, integer-exact
    end to end (the quantity is a COUNT, so unlike the rank vectors
    there is no float rounding anywhere in the gate).  The oracle
    unrolls the BFS layers (g27-style) and then one σ-accumulation CTE
    per layer; sums are BIGINT-cast (the d46 HUGEINT rule)."""
    from ..operators.analytics import shortest_path_counts

    edges = _citation_edges(spark, sf_dir).localCheckpoint(eager=True)
    source = edges.agg(F.min("src")).first()[0]
    if source is None:
        # base-table contract says non-empty; the g33 lesson stands
        return spark.createDataFrame([], "node_id long, dist int, sigma long")
    d = shortest_path_counts(symmetric_edges(edges), source, MAX_HOPS)
    return d.select(F.col("node").alias("node_id"), "dist", "sigma")


def _g47_sigma_cte(k: int) -> str:
    return f"""
sg{k} AS MATERIALIZED (
  SELECT e.dst AS node, CAST(sum(p.sigma) AS BIGINT) AS sigma
  FROM sym e JOIN sg{k - 1} p ON e.src = p.node
  JOIN d{MAX_HOPS} t ON t.node = e.dst AND t.dist = {k}
  GROUP BY e.dst)
"""


G47_SQL = (
    f"""
WITH edges AS (
  SELECT DISTINCT l_orderkey AS src, l_partkey + {KW_NODE_OFFSET} AS dst FROM lineitem),
sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
nodes AS (SELECT DISTINCT src AS node FROM sym),
d0 AS (
  SELECT node, CASE WHEN node = (SELECT min(src) FROM edges) THEN 0 END AS dist
  FROM nodes),"""
    + ",".join(_g44_iter_ctes(k) for k in range(1, MAX_HOPS + 1))
    + f""",
sg0 AS (SELECT node, CAST(1 AS BIGINT) AS sigma FROM d{MAX_HOPS} WHERE dist = 0),"""
    + ",".join(_g47_sigma_cte(k) for k in range(1, MAX_HOPS + 1))
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT node AS node_id, {k} AS dist, sigma FROM sg{k}"
        for k in range(0, MAX_HOPS + 1)
    )
)


# ----------------------------- g48 community supergraph -------------------

def g48_community_supergraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community-coarsened supergraph — the contraction step of
    multi-level graph processing (Louvain's phase 2, METIS coarsening):
    collapse the co-publication graph onto its g23 LPA communities,
    keeping per-(community, community) edge counts and total shared
    weight; intra-community rows (comm1 = comm2) are the coarsened
    self-loops the next level needs.  At 100 TB this is how iterative
    algorithms escape |V|-sized supersteps: one labels join + one
    aggregation produces a graph orders of magnitude smaller, and the
    whole pipeline (LPA → contract) reuses the gated g23 rounds.
    Empty copub graph (sf0.1) → empty supergraph, no driver lookups
    anywhere."""
    pairs = _copub_pairs(spark, sf_dir).localCheckpoint(eager=True)  # LPA + agg
    labels = label_propagation(symmetric_edges(pairs), N_ITER)
    l1 = labels.select(F.col("node").alias("src"), F.col("label").alias("lsrc"))
    l2 = labels.select(F.col("node").alias("dst"), F.col("label").alias("ldst"))
    return (
        pairs.join(l1, "src")
        .join(l2, "dst")
        .select(
            F.least("lsrc", "ldst").alias("comm1"),
            F.greatest("lsrc", "ldst").alias("comm2"),
            "shared",
        )
        .groupBy("comm1", "comm2")
        .agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.sum("shared").alias("total_shared"),
        )
    )


G48_SQL = (
    _G32_CTES
    + """, edges AS (SELECT src, dst FROM wedges)
, l0 AS (SELECT node, node AS label FROM nodes),"""
    + ",".join(_lpa_iter_cte(k) for k in range(1, N_ITER + 1))
    + f"""
SELECT least(l1.label, l2.label) AS comm1,
       greatest(l1.label, l2.label) AS comm2,
       count(*) AS n_edges,
       CAST(sum(p.w) AS BIGINT) AS total_shared
FROM wpairs p
JOIN l{N_ITER} l1 ON p.src = l1.node
JOIN l{N_ITER} l2 ON p.dst = l2.node
GROUP BY 1, 2
"""
)


# ----------------------------- g49 landmark betweenness -------------------

def g49_landmark_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Betweenness centrality, landmark-estimated: Brandes' dependency
    accumulation δ from the g35 seed set over the symmetric
    doc↔keyword graph, hop-bounded at MAX_HOPS — the backward pass
    completing g47's forward σ into the score a user actually asks for
    ("which keyword bridges the most shortest paths", the reference's
    co-occurrence workload `Q.txt:49-55` extended one step).  This IS
    the practical betweenness at 100 TB: exact betweenness is
    O(|V|·|E|), and the sampling estimators (Brandes–Pich,
    Riondato–Kornaropoulos) accumulate exactly this per-seed δ from a
    seed sample.

    Determinism: membership is the set of nodes REACHED by any seed
    (integer-structural); σ is integer-exact end to end; δ is a float
    folded from exact int64 σ ratios, rounded once at the end (the g21
    rank-vector precedent).  Seeds' own rows are excluded per-seed
    (betweenness excludes path endpoints).  The oracle unrolls the g35
    distance layers, then one σ CTE per layer forward and one δ CTE
    per layer backward — the identical truncation, so hop-bounding is
    shared semantics, not an oracle knob."""
    from ..operators.analytics import brandes_dependencies

    ce = _citation_edges(spark, sf_dir)
    seeds = [
        r[0]
        for r in ce.select("src").distinct().orderBy("src").limit(N_SEEDS).collect()
    ]
    d = brandes_dependencies(symmetric_edges(ce), seeds, MAX_HOPS)
    return (
        d.filter(F.col("node") != F.col("seed"))
        .groupBy(F.col("node").alias("node_id"))
        .agg(
            F.count(F.lit(1)).alias("n_seeds"),
            F.sum("sigma").alias("sigma_total"),
            F.round(F.sum("delta"), 6).alias("betweenness"),
        )
    )


def _g49_sigma_cte(k: int) -> str:
    return f"""
sg{k} AS MATERIALIZED (
  SELECT p.seed, e.dst AS node, CAST(sum(p.sigma) AS BIGINT) AS sigma
  FROM sym e JOIN sg{k - 1} p ON e.src = p.node
  JOIN md{MAX_HOPS} t ON t.seed = p.seed AND t.node = e.dst AND t.dist = {k}
  GROUP BY p.seed, e.dst)
"""


def _g49_delta_cte(k: int) -> str:
    return f"""
bw{k} AS MATERIALIZED (
  SELECT v.seed, v.node, v.sigma,
         coalesce(sum((CAST(v.sigma AS DOUBLE) / c.sigma_w) * (1.0 + c.delta_w)),
                  0.0) AS delta
  FROM sg{k} v
  LEFT JOIN (
    SELECT b.seed, e.src AS node, b.sigma AS sigma_w, b.delta AS delta_w
    FROM sym e JOIN bw{k + 1} b ON e.dst = b.node
  ) c ON c.seed = v.seed AND c.node = v.node
  GROUP BY v.seed, v.node, v.sigma)
"""


G49_SQL = (
    _G24_CTES
    + f""", sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
seeds AS (SELECT src AS seed FROM edges GROUP BY src ORDER BY src LIMIT {N_SEEDS}),
md0 AS (
  SELECT s.seed, n.node, CASE WHEN n.node = s.seed THEN 0 END AS dist
  FROM seeds s CROSS JOIN nodes n),"""
    + ",".join(_g35_iter_ctes(k) for k in range(1, MAX_HOPS + 1))
    + f""",
sg0 AS (SELECT seed, node, CAST(1 AS BIGINT) AS sigma FROM md{MAX_HOPS} WHERE dist = 0),"""
    + ",".join(_g49_sigma_cte(k) for k in range(1, MAX_HOPS + 1))
    + f""",
bw{MAX_HOPS} AS (SELECT seed, node, sigma, CAST(0.0 AS DOUBLE) AS delta
                 FROM sg{MAX_HOPS}),"""
    + ",".join(_g49_delta_cte(k) for k in range(MAX_HOPS - 1, -1, -1))
    + f"""
SELECT node AS node_id, count(*) AS n_seeds,
       CAST(sum(sigma) AS BIGINT) AS sigma_total,
       round(sum(delta), 6) AS betweenness
FROM ({' UNION ALL '.join(f'SELECT * FROM bw{k}' for k in range(0, MAX_HOPS + 1))}) u
WHERE node <> seed
GROUP BY node
"""
)


# ----------------------------- g50 Louvain refine level -------------------

def g50_louvain_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Louvain coarsen→refine level on the g48 pipeline: starting
    from the gated g23 LPA labels, run ONE synchronous modularity-gain
    move round (`operators/analytics.py louvain_refine_pass` — each
    node's best neighboring community via integer-exact scaled gains)
    and ship the EXACT modularity accounting as one row: 2W, move
    count, total positive gain, community counts, intra-community
    weight and Σ(community strength)² before and after, plus Q
    before/after computed from those shipped integers by one identical
    float expression in both engines (the g45 contract pattern — every
    estimator ingredient is an exact SQL-checkable number).  On the
    sf0.01 fixture the round MOVES 39 of 100 nodes and RAISES
    modularity 0.0120 → 0.0473 — the refinement g48's contraction was
    missing (community quality was fixed-round LPA only).

    Q = intra/W − Σs_c²/(4W²) = 2·intra/2W − Σs_c²/(2W)², evaluated
    left-to-right identically in both engines over exact integers.

    Empty copub graph (sf0.1) → zero rows, no driver lookups anywhere
    (the g33-proof layout)."""
    from ..operators.analytics import louvain_refine_pass

    pairs = _copub_pairs(spark, sf_dir).localCheckpoint(eager=True)
    wedges = pairs.withColumnRenamed("shared", "w")
    wedges = wedges.unionByName(
        wedges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    labels = label_propagation(symmetric_edges(pairs), N_ITER)
    ref = louvain_refine_pass(wedges, labels).localCheckpoint(eager=True)
    strength = wedges.groupBy(F.col("src").alias("node")).agg(F.sum("w").alias("s_v"))

    def sumsq(lab_col: str):
        return (
            ref.select("node", F.col(lab_col).alias("label"))
            .join(strength, "node")
            .groupBy("label")
            .agg(F.sum("s_v").alias("s_c"))
            .agg(F.sum(F.col("s_c") * F.col("s_c")).cast("long").alias(f"sumsq_{lab_col}"))
        )

    def intra(lab_col: str):
        l1 = ref.select(F.col("node").alias("src"), F.col(lab_col).alias("l1"))
        l2 = ref.select(F.col("node").alias("dst"), F.col(lab_col).alias("l2"))
        return (
            pairs.join(l1, "src")
            .join(l2, "dst")
            .filter(F.col("l1") == F.col("l2"))
            .agg(F.coalesce(F.sum("shared"), F.lit(0)).cast("long").alias(f"intra_{lab_col}"))
        )

    tw2 = wedges.agg(F.sum("w").cast("long").alias("w2_total"))
    moves = ref.agg(
        F.sum(F.when(F.col("gain") > 0, 1).otherwise(0)).cast("long").alias("n_moved"),
        F.coalesce(F.sum(F.when(F.col("gain") > 0, F.col("gain"))), F.lit(0))
        .cast("long")
        .alias("sum_pos_gain"),
    )
    comms = ref.agg(
        F.countDistinct("old_label").alias("n_comms_before"),
        F.countDistinct("new_label").alias("n_comms_after"),
    )
    return (
        tw2.crossJoin(F.broadcast(moves))
        .crossJoin(F.broadcast(comms))
        .crossJoin(F.broadcast(intra("old_label")))
        .crossJoin(F.broadcast(intra("new_label")))
        .crossJoin(F.broadcast(sumsq("old_label")))
        .crossJoin(F.broadcast(sumsq("new_label")))
        .filter(F.col("w2_total").isNotNull())
        .select(
            "w2_total",
            "n_moved",
            "sum_pos_gain",
            "n_comms_before",
            "n_comms_after",
            F.col("intra_old_label").alias("intra_before"),
            F.col("intra_new_label").alias("intra_after"),
            F.col("sumsq_old_label").alias("sumsq_before"),
            F.col("sumsq_new_label").alias("sumsq_after"),
            F.round(
                F.lit(2.0) * F.col("intra_old_label") / F.col("w2_total")
                - F.col("sumsq_old_label")
                / (F.col("w2_total") * F.lit(1.0) * F.col("w2_total")),
                6,
            ).alias("q_before"),
            F.round(
                F.lit(2.0) * F.col("intra_new_label") / F.col("w2_total")
                - F.col("sumsq_new_label")
                / (F.col("w2_total") * F.lit(1.0) * F.col("w2_total")),
                6,
            ).alias("q_after"),
        )
    )


G50_SQL = (
    _G32_CTES
    + """, edges AS (SELECT src, dst FROM wedges)
, l0 AS (SELECT node, node AS label FROM nodes),"""
    + ",".join(_lpa_iter_cte(k) for k in range(1, N_ITER + 1))
    + f""",
str AS MATERIALIZED (SELECT src AS node, CAST(sum(w) AS BIGINT) AS s_v FROM wedges GROUP BY src),
tw AS MATERIALIZED (SELECT CAST(sum(w) AS BIGINT) AS tw2 FROM wedges),
lab0 AS MATERIALIZED (SELECT node, label FROM l{N_ITER}),
c0 AS MATERIALIZED (SELECT l.label, CAST(sum(s.s_v) AS BIGINT) AS s_c
       FROM lab0 l JOIN str s ON l.node = s.node GROUP BY l.label),
kvc AS MATERIALIZED (SELECT e.src AS node, l.label AS lbl_nbr, CAST(sum(e.w) AS BIGINT) AS k
        FROM wedges e JOIN lab0 l ON e.dst = l.node GROUP BY 1, 2),
base AS MATERIALIZED (SELECT l.node, l.label AS old_label, s.s_v,
                coalesce(ka.k, 0) AS k_va, ca.s_c AS s_a
         FROM lab0 l JOIN str s ON l.node = s.node
         LEFT JOIN kvc ka ON ka.node = l.node AND ka.lbl_nbr = l.label
         JOIN c0 ca ON ca.label = l.label),
cand AS (SELECT b.node, b.old_label, k.lbl_nbr AS b_lbl,
                t.tw2 * (k.k - b.k_va)
                  - b.s_v * (b.s_v + cb.s_c - b.s_a) AS gain
         FROM base b
         JOIN kvc k ON k.node = b.node AND k.lbl_nbr <> b.old_label
         JOIN c0 cb ON cb.label = k.lbl_nbr, tw t),
best AS MATERIALIZED (SELECT node, old_label, b_lbl, gain FROM (
           SELECT node, old_label, b_lbl, gain,
                  row_number() OVER (PARTITION BY node
                                     ORDER BY gain DESC, b_lbl ASC) AS rn
           FROM cand) WHERE rn = 1),
lab1 AS MATERIALIZED (SELECT l.node,
                CASE WHEN m.gain > 0 THEN m.b_lbl ELSE l.label END AS label
         FROM lab0 l LEFT JOIN best m ON m.node = l.node),
c1 AS MATERIALIZED (SELECT l.label, CAST(sum(s.s_v) AS BIGINT) AS s_c
       FROM lab1 l JOIN str s ON l.node = s.node GROUP BY l.label),
acc AS (SELECT
  (SELECT tw2 FROM tw) AS w2_total,
  (SELECT CAST(count(*) FILTER (WHERE gain > 0) AS BIGINT) FROM best) AS n_moved,
  (SELECT CAST(coalesce(sum(gain) FILTER (WHERE gain > 0), 0) AS BIGINT)
     FROM best) AS sum_pos_gain,
  (SELECT CAST(count(DISTINCT label) AS BIGINT) FROM lab0) AS n_comms_before,
  (SELECT CAST(count(DISTINCT label) AS BIGINT) FROM lab1) AS n_comms_after,
  (SELECT CAST(coalesce(sum(p.w), 0) AS BIGINT) FROM wpairs p
     JOIN lab0 x ON p.src = x.node JOIN lab0 y ON p.dst = y.node
     WHERE x.label = y.label) AS intra_before,
  (SELECT CAST(coalesce(sum(p.w), 0) AS BIGINT) FROM wpairs p
     JOIN lab1 x ON p.src = x.node JOIN lab1 y ON p.dst = y.node
     WHERE x.label = y.label) AS intra_after,
  (SELECT CAST(sum(s_c * s_c) AS BIGINT) FROM c0) AS sumsq_before,
  (SELECT CAST(sum(s_c * s_c) AS BIGINT) FROM c1) AS sumsq_after)
SELECT w2_total, n_moved, sum_pos_gain, n_comms_before, n_comms_after,
       intra_before, intra_after, sumsq_before, sumsq_after,
       round(2.0 * intra_before / w2_total
             - sumsq_before / (w2_total * 1.0 * w2_total), 6) AS q_before,
       round(2.0 * intra_after / w2_total
             - sumsq_after / (w2_total * 1.0 * w2_total), 6) AS q_after
FROM acc WHERE w2_total IS NOT NULL
"""
)


# ----------------------------- g51 embedding link-prediction AUC ----------

EMB_EVAL_K = 24  # evaluation vocabulary: the 24 most-frequent corpus nodes


def g51_embedding_link_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding EVALUATION — the face that closes the walks → context
    vectors → trained projection chain (g40/g42/g43/g46) with a
    quality number: link-prediction AUC of the hashed-context
    representation over the walk graph.  Candidate pairs are ALL
    unordered pairs of the EMB_EVAL_K most-frequent corpus nodes
    (the deterministic landmark sample standing in for the pair
    sampling an AUC estimator runs at 100 TB); positives are pairs
    that ARE doc→keyword edges, negatives the rest; the pair score is
    the INTEGER sparse dot product of the raw context-count vectors
    (deliberately un-damped: integer scores make the rank statistics
    exact — no float-boundary concordance flips, the g42 membership
    discipline applied to an ORDERING statistic), and
    AUC = (concordant + tied/2) / (P·N), the tie-aware Mann–Whitney
    form, computed from shipped exact integers by one identical float
    expression in both engines.

    Scale shape: counts fold map-side from the bounded per-walk
    self-join; the vocabulary election is one aggregation + top-K; all
    downstream joins are over ≤K·EMB_BUCKETS-row frames (broadcast),
    and the P·N comparison is a bounded ≤K²/2-row crossJoin — the
    landmark-seeds precedent, never a data-sized cartesian.  Either
    class empty → zero rows (AUC undefined), no driver lookups
    anywhere."""
    corpus = g40_walk_corpus(spark, sf_dir)
    a = corpus.select(
        F.col("walk_id").alias("w"), F.col("step").alias("sa"), F.col("node").alias("tok")
    )
    bb = corpus.select(
        F.col("walk_id").alias("w"), F.col("step").alias("sb"), F.col("node").alias("ctx")
    )
    hw = (
        a.join(bb, "w")
        .filter(
            F.abs(F.col("sb") - F.col("sa")).between(1, PPMI_WINDOW)
            & (F.col("tok") != F.col("ctx"))
        )
        .select("tok", F.pmod(F.col("ctx"), F.lit(EMB_BUCKETS)).cast("int").alias("bucket"))
        .groupBy("tok", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)  # read by the election and both score sides
    )
    vocab = (
        hw.groupBy("tok")
        .agg(F.sum("c").alias("m"))
        .orderBy(F.desc("m"), "tok")
        .limit(EMB_EVAL_K)
        .select("tok")
        .localCheckpoint(eager=True)  # ≤K rows, read several times
    )
    hv = hw.join(F.broadcast(vocab), "tok")
    vp = (
        vocab.select(F.col("tok").alias("u"))
        .crossJoin(F.broadcast(vocab.select(F.col("tok").alias("v"))))
        .filter(F.col("u") < F.col("v"))
    )
    dots = (
        hv.select(F.col("tok").alias("u"), "bucket", F.col("c").alias("cu"))
        .join(
            F.broadcast(hv.select(F.col("tok").alias("v"), "bucket", F.col("c").alias("cv"))),
            "bucket",
        )
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.sum(F.col("cu") * F.col("cv")).cast("long").alias("d"))
    )
    edges = _citation_edges(spark, sf_dir)
    sc = (
        vp.join(F.broadcast(dots), ["u", "v"], "left")
        .join(
            F.broadcast(
                edges.select(F.col("src").alias("u"), F.col("dst").alias("v"), F.lit(1).alias("ie"))
            ),
            ["u", "v"],
            "left",
        )
        .select(
            "u",
            "v",
            F.coalesce(F.col("d"), F.lit(0).cast("long")).alias("score"),
            F.coalesce(F.col("ie"), F.lit(0)).alias("is_edge"),
        )
        .localCheckpoint(eager=True)  # ≤K²/2 rows, read by four aggregations
    )
    pos = sc.filter(F.col("is_edge") == 1).select(F.col("score").alias("sp"))
    neg = sc.filter(F.col("is_edge") == 0).select(F.col("score").alias("sn"))
    conc = pos.crossJoin(F.broadcast(neg)).agg(
        F.coalesce(F.sum(F.when(F.col("sp") > F.col("sn"), 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("n_concordant"),
        F.coalesce(F.sum(F.when(F.col("sp") == F.col("sn"), 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("n_tied"),
    )
    stats = sc.agg(
        F.sum("is_edge").cast("long").alias("n_pos"),
        F.sum(F.lit(1) - F.col("is_edge")).cast("long").alias("n_neg"),
        F.coalesce(F.sum(F.when(F.col("is_edge") == 1, F.col("score"))), F.lit(0))
        .cast("long")
        .alias("sum_pos_score"),
        F.coalesce(F.sum(F.when(F.col("is_edge") == 0, F.col("score"))), F.lit(0))
        .cast("long")
        .alias("sum_neg_score"),
    )
    return (
        stats.crossJoin(F.broadcast(conc))
        .filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0))
        .select(
            "n_pos",
            "n_neg",
            "n_concordant",
            "n_tied",
            "sum_pos_score",
            "sum_neg_score",
            F.round(
                (F.col("n_concordant") + F.lit(0.5) * F.col("n_tied"))
                / (F.col("n_pos") * F.lit(1.0) * F.col("n_neg")),
                6,
            ).alias("auc"),
        )
    )


G51_SQL = (
    _WALK_CTES
    + f""",
corpus AS ({_WALK_CORPUS_UNION}),
ev2 AS (
  SELECT a.node AS tok, b.node AS ctx
  FROM corpus a JOIN corpus b
    ON a.walk_id = b.walk_id
   AND abs(b.step - a.step) BETWEEN 1 AND {PPMI_WINDOW}
   AND a.node <> b.node),
hw AS MATERIALIZED (
  SELECT tok, ((ctx % {EMB_BUCKETS}) + {EMB_BUCKETS}) % {EMB_BUCKETS} AS bucket,
         count(*) AS c
  FROM ev2 GROUP BY 1, 2),
vocab AS MATERIALIZED (
  SELECT tok FROM (SELECT tok, sum(c) AS m FROM hw GROUP BY tok
                   ORDER BY m DESC, tok LIMIT {EMB_EVAL_K})),
hv AS MATERIALIZED (SELECT h.tok, h.bucket, h.c FROM hw h JOIN vocab v ON h.tok = v.tok),
vp AS (SELECT a.tok AS u, b.tok AS v FROM vocab a JOIN vocab b ON a.tok < b.tok),
dots AS (SELECT cu.tok AS u, cv.tok AS v, CAST(sum(cu.c * cv.c) AS BIGINT) AS d
         FROM hv cu JOIN hv cv ON cu.bucket = cv.bucket AND cu.tok < cv.tok
         GROUP BY 1, 2),
sc AS MATERIALIZED (
  SELECT p.u, p.v, coalesce(d.d, 0) AS score,
         CASE WHEN e.src IS NOT NULL THEN 1 ELSE 0 END AS is_edge
  FROM vp p
  LEFT JOIN dots d ON d.u = p.u AND d.v = p.v
  LEFT JOIN edges e ON e.src = p.u AND e.dst = p.v),
agg AS (SELECT
  (SELECT CAST(coalesce(sum(is_edge), 0) AS BIGINT) FROM sc) AS n_pos,
  (SELECT CAST(coalesce(sum(1 - is_edge), 0) AS BIGINT) FROM sc) AS n_neg,
  (SELECT CAST(coalesce(sum(CASE WHEN p.score > n.score THEN 1 ELSE 0 END), 0) AS BIGINT)
     FROM sc p, sc n WHERE p.is_edge = 1 AND n.is_edge = 0) AS n_concordant,
  (SELECT CAST(coalesce(sum(CASE WHEN p.score = n.score THEN 1 ELSE 0 END), 0) AS BIGINT)
     FROM sc p, sc n WHERE p.is_edge = 1 AND n.is_edge = 0) AS n_tied,
  (SELECT CAST(coalesce(sum(score) FILTER (WHERE is_edge = 1), 0) AS BIGINT)
     FROM sc) AS sum_pos_score,
  (SELECT CAST(coalesce(sum(score) FILTER (WHERE is_edge = 0), 0) AS BIGINT)
     FROM sc) AS sum_neg_score)
SELECT n_pos, n_neg, n_concordant, n_tied, sum_pos_score, sum_neg_score,
       round((n_concordant + 0.5 * n_tied) / (n_pos * 1.0 * n_neg), 6) AS auc
FROM agg WHERE n_pos > 0 AND n_neg > 0
"""
)


SPECS = [
    QuerySpec(
        name="g47_shortest_path_counts",
        fn=g47_shortest_path_counts,
        oracle=G47_SQL,
        category="analytics",
        description="shortest-path counting (Brandes forward-pass sigma) "
        "from the smallest doc over the symmetric doc↔keyword graph — "
        "the betweenness building block, integer-exact; oracle unrolls "
        "BFS layers + one sigma-accumulation CTE per layer",
    ),
    QuerySpec(
        name="g48_community_supergraph",
        fn=g48_community_supergraph,
        oracle=G48_SQL,
        category="analytics",
        description="community-coarsened supergraph (Louvain phase-2 "
        "contraction): LPA labels fold the co-publication graph to "
        "(community, community) edge counts + total shared weight, "
        "intra-community self-loops kept; oracle reuses the unrolled "
        "LPA rounds",
    ),
    QuerySpec(
        name="g51_embedding_link_auc",
        fn=g51_embedding_link_auc,
        oracle=G51_SQL,
        category="analytics",
        description="embedding evaluation: link-prediction AUC of the "
        "walk-derived context-count vectors over the top-K corpus "
        "vocabulary — integer sparse-dot scores, exact Mann-Whitney "
        "concordant/tied counts, AUC from shipped integers",
    ),
    QuerySpec(
        name="g50_louvain_refine",
        fn=g50_louvain_refine,
        oracle=G50_SQL,
        category="analytics",
        description="one Louvain coarsen-refine level: synchronous "
        "integer-exact modularity-gain move round on the g23 LPA "
        "labels, gated on exact modularity accounting (2W, moves, "
        "positive gain, intra weight, strength squares, Q before/after "
        "from shipped integers); empty copub graph yields zero rows",
    ),
    QuerySpec(
        name="g49_landmark_betweenness",
        fn=g49_landmark_betweenness,
        oracle=G49_SQL,
        category="analytics",
        description="landmark betweenness (Brandes backward pass): "
        "per-seed dependency accumulation δ over g47's layered σ, "
        "hop-bounded at MAX_HOPS from the g35 seed set; integer σ, "
        "float δ rounded once; oracle unrolls the same layers in "
        "reverse",
    ),
    QuerySpec(
        name="g46_walk_embedding_pca",
        fn=g46_walk_embedding_pca,
        oracle=G46_SQL,
        category="analytics",
        description="embedding training over the walk corpus: top-PC "
        "factorization of the hashed-context matrix (one-pass Gram fold, "
        "driver eigensolve) with the a09 contract — exact covariance "
        "facts SQL-checked, eigensolve theorems pinned TRUE",
    ),
    QuerySpec(
        name="g41_distributed_components",
        fn=g41_distributed_components,
        oracle=G41_SQL,
        category="analytics",
        description="connected components via the DISTRIBUTED large-star/"
        "small-star contraction (driver_threshold=0 — the 100 TB CC path, "
        "driver-gated at last) over a deterministic chain-block graph; "
        "closed-form oracle from the construction arithmetic",
        bench=True,  # the O(log² n) contraction loop's cost is the trend
    ),
    QuerySpec(
        name="g42_walk_ppmi_collocations",
        fn=g42_walk_ppmi_collocations,
        oracle=G42_SQL,
        category="analytics",
        description="PPMI collocations over the g40 walk corpus (skip-gram "
        "pair weighting, window ≤2, integer support threshold); oracle "
        "replays the walk corpus and the PPMI arithmetic in SQL",
    ),
    QuerySpec(
        name="g43_walk_embedding_ann",
        fn=g43_walk_embedding_ann,
        oracle=G43_SQL,
        category="analytics",
        description="walks → hashed-context embeddings → brute cosine "
        "top-10 (log-damped feature hashing, density-filtered candidates, "
        "broadcast 1-row query); oracle recomputes the cosine from the "
        "sparse bucket weights in SQL",
        bench=True,  # the walk→embedding pipeline's trend line (r14 verdict)
    ),
    QuerySpec(
        name="g44_reach_fixpoint",
        fn=g44_reach_fixpoint,
        oracle=G44_SQL,
        category="analytics",
        description="variable-length traversal to CONVERGENCE (Cypher "
        "*1.. analogue): bfs_distances(max_hops=None), ended by the "
        "empty-frontier fixpoint witness; oracle unrolls the relaxation "
        "past the graph's eccentricity (over-unroll is a no-op)",
    ),
    QuerySpec(
        name="g45_sampled_triangles",
        fn=g45_sampled_triangles,
        oracle=G45_SQL,
        category="analytics",
        description="DOULION-style sampled triangle estimate (seeded-hash "
        "half-rate edge sample, 8× scale-up) with the d30/d34 exactness "
        "contract: every estimator ingredient ships as an exact "
        "SQL-checked number",
    ),
    QuerySpec(
        name="g39_strongly_connected",
        fn=g39_strongly_connected,
        oracle=G39_SQL,
        category="analytics",
        description="strongly connected components (FW-BW-Trim coloring: "
        "degree-trim loop, forward max-color fixpoint, simultaneous multi-"
        "root backward reach) over a deterministic block-cycle graph; "
        "closed-form oracle from the construction arithmetic",
        bench=True,  # multi-loop superstep operator: trend its cost like g25/g35
    ),
    QuerySpec(
        name="g38_incremental_components",
        fn=g38_incremental_components,
        oracle=G38_SQL,
        category="analytics",
        description="incremental connected components under edge inserts "
        "(contract-project-merge on the delta only) vs a from-scratch "
        "recursive-CTE recompute over base ∪ delta",
    ),
    QuerySpec(
        name="g37_copub_ktruss",
        fn=g37_copub_ktruss,
        oracle=G37_SQL,
        category="analytics",
        description="k-truss edge-support peeling over the co-publication "
        "graph (synchronous fixed rounds, wedge-join support counting); "
        "oracle unrolls the rounds in SQL.",
    ),
    QuerySpec(
        name="g36_landmark_harmonic",
        fn=g36_landmark_harmonic,
        oracle=G36_SQL,
        category="analytics",
        description="Landmark-approximated harmonic centrality: 1/dist folded "
        "over the multi-source BFS frame (the scalable centrality estimator); "
        "oracle reuses the unrolled per-seed relaxation.",
    ),
    QuerySpec(
        name="g35_multi_source_bfs",
        fn=g35_multi_source_bfs,
        oracle=G35_SQL,
        category="analytics",
        description="Multi-source (landmark) BFS: 3 seeds' frontiers advanced "
        "in one superstep loop over the doc↔keyword graph, seed as a payload "
        "column; oracle is the unrolled per-seed frontier relaxation in SQL.",
        bench=True,
    ),
    QuerySpec(
        name="g28_kcore_orgs",
        fn=g28_kcore_orgs,
        oracle=G28_SQL,
        category="analytics",
        description="Fixed-round synchronous k-core peeling (degree agg + two "
        "semi-joins per round); oracle is the unrolled rounds in SQL.",
        bench=True,  # slowest replica spec (r4): superstep materialization under time
    ),
    QuerySpec(
        name="g32_weighted_copub_pagerank",
        fn=g32_weighted_copub_pagerank,
        oracle=G32_SQL,
        category="analytics",
        description="Weighted PageRank (shared-doc count as tie strength): "
        "rank·w/Σw messages over the hoisted superstep; oracle is the "
        "unrolled weighted power method in SQL.",
    ),
    QuerySpec(
        name="g33_weighted_copub_ppr",
        fn=g33_weighted_copub_ppr,
        oracle=G33_SQL,
        category="analytics",
        description="Weighted personalized PageRank (seeded restart × tie-"
        "strength messages) over the co-publication graph; oracle is the "
        "unrolled seeded weighted power method in SQL.",
    ),
    QuerySpec(
        name="g34_weighted_reach_distances",
        fn=g34_weighted_reach_distances,
        oracle=G34_SQL,
        category="analytics",
        description="Weighted SSSP: min-plus Bellman-Ford supersteps over the "
        "co-publication graph with shared-doc-count weights (≤4 relaxation "
        "rounds); oracle is the unrolled min-plus relaxation in SQL.",
    ),
    QuerySpec(
        name="g31_kcore_doc_keyword",
        fn=g31_kcore_doc_keyword,
        oracle=G31_SQL,
        category="analytics",
        description="Bipartite k-core over the symmetric doc↔keyword graph "
        "(non-empty at every sf, unlike the thresholded co-publication "
        "graph); oracle is the unrolled peeling rounds in SQL.",
        bench=True,  # the k-core signal at sf0.1, where the copub graph is empty
    ),
    QuerySpec(
        name="g29_adamic_adar_links",
        fn=g29_adamic_adar_links,
        oracle=G29_SQL,
        category="analytics",
        description="Adamic–Adar link prediction over non-linked org pairs "
        "(wedge self-join + degree weights), deterministic top-20.",
    ),
    QuerySpec(
        name="g30_copub_components",
        fn=g30_copub_components,
        oracle=G30_SQL,
        category="analytics",
        description="Connected components gated directly against a recursive-"
        "CTE transitive-closure oracle.",
    ),
    QuerySpec(
        name="g25_related_keywords_ppr",
        fn=g25_related_keywords_ppr,
        oracle=G25_SQL,
        category="analytics",
        description="Personalized PageRank seeded on a keyword node — teleport "
        "and dangling mass restart onto the seed, total mass 1; oracle is the "
        "unrolled seeded power method in SQL.",
        bench=True,  # heaviest iterative node-vector spec: benches the superstep loop
    ),
    QuerySpec(
        name="g21_copub_pagerank",
        fn=g21_copub_pagerank,
        oracle=G21_SQL,
        category="analytics",
        description="Fixed-iteration PageRank over the org co-publication graph "
        "as DataFrame message passing (Pregel superstep = join + groupBy sum); "
        "oracle is the unrolled power method in SQL.",
    ),
    QuerySpec(
        name="g22_copub_triangles",
        fn=g22_copub_triangles,
        oracle=G22_SQL,
        category="analytics",
        description="Triangle count via ordered wedge-closing self-joins over "
        "the thresholded co-publication graph.",
    ),
    QuerySpec(
        name="g23_copub_communities",
        fn=g23_copub_communities,
        oracle=G23_SQL,
        category="analytics",
        description="Fixed-round synchronous label propagation communities "
        "(deterministic majority-label superstep, ties to smallest); oracle "
        "is the unrolled rounds in SQL.",
    ),
    QuerySpec(
        name="g24_directed_pagerank",
        fn=g24_directed_pagerank,
        oracle=G24_SQL,
        category="analytics",
        description="PageRank over the directed doc→keyword graph with "
        "dangling-mass redistribution (every keyword node is a sink); "
        "oracle is the unrolled power method with the mass term in SQL.",
    ),
    QuerySpec(
        name="g26_doc_keyword_hits",
        fn=g26_doc_keyword_hits,
        oracle=G26_SQL,
        category="analytics",
        description="HITS hubs-and-authorities over the directed doc→keyword "
        "bipartite graph, L1-normalized fixed iterations; oracle is the "
        "unrolled power method in SQL.",
    ),
    QuerySpec(
        name="g27_reach_distances",
        fn=g27_reach_distances,
        oracle=G27_SQL,
        category="analytics",
        description="Pregel BFS: shortest-path distances within 4 hops of the "
        "smallest org over the co-publication graph; oracle is the unrolled "
        "frontier relaxation in SQL.",
    ),
    QuerySpec(
        name="g40_walk_corpus",
        fn=g40_walk_corpus,
        oracle=G40_SQL,
        category="analytics",
        description="DeepWalk-style deterministic random-walk corpus over the "
        "symmetrized doc↔keyword graph (seeded integer-hash step choice, "
        "never rand()); oracle is the unrolled per-step argmin in SQL.",
    ),
]
