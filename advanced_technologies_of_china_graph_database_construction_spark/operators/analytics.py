"""Batch graph analytics on DataFrames, run as Pregel supersteps.

The reference hands these algorithms to Neo4j; here each is a
DataFrame message-passing loop — scatter is an edges⋈vector join,
combine a groupBy, apply a join back onto the vertex state — with a
fixed round count (or an exact convergence witness) so every result is
deterministic and SQL-oracle-able.  Operator families:

- rank vectors: ``pagerank``, ``personalized_pagerank`` (one shared
  power-iteration loop) and ``hits``;
- communities: ``label_propagation``, ``louvain_refine_pass``;
- cohesion: ``triangle_count``, ``k_core``, ``k_truss``;
- distances and paths: ``bfs_distances``, ``multi_source_bfs``,
  ``shortest_path_counts`` and ``brandes_dependencies`` (one shared
  forward-σ layer loop);
- directed structure: ``strongly_connected_components``.

Connected components live in ``operators.connected_components``.  The
scatter-key edge cache, the edge-weight guard and the node-set rule
are shared by every loop via ``operators.superstep``.

Superstep materialization (the GraphX Pregel pattern): each round's
iterated frame is localCheckpointed, so round r never re-derives the
base graph through r levels of joins.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .superstep import node_set, positive_weights, scatter_cache


def symmetric_edges(pairs: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Undirected pair list (one row per unordered pair) → symmetric
    directed edges."""
    fwd = pairs.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    rev = pairs.select(F.col(dst).alias("src"), F.col(src).alias("dst"))
    return fwd.unionByName(rev)


def _rank_loop(
    edges: DataFrame,
    nodes: DataFrame,
    weight: str | None,
    teleport: Column,
    n_iter: int,
    damping: float,
    redistribute: bool,
) -> DataFrame:
    """(*nodes' columns, has_out, rank) after ``n_iter`` rounds of
    rank' = (1−d)·t + d·(Σ msgs + dm·t) — the power iteration shared by
    ``pagerank`` (t = 1/n) and ``personalized_pagerank`` (t = the seed
    vector).  Messages are rank·w/Σw(out); dm is the summed rank of
    nodes without out-edges when ``redistribute`` is set (restarted
    along t, so total mass stays 1), else 0 (their mass leaks).
    ``teleport`` is also the initial rank.

    Iteration-invariant work is hoisted OUT of the loop (r5, measured
    g25 6.7 → 3.4 s, g24 ~4.9 → 3.8 s at sf0.1): the (weighted)
    out-degree is static, so it is folded into the cached edge frame
    ONCE instead of a second per-iteration join; and the dangling-mass
    reduction reads a precomputed has_out flag carried on the rank
    vector instead of running an |V|⋈|V| anti-join per iteration.
    ``deg`` is checkpointed because two separately-materialized lineages
    consume it (the edge fold and the has_out flags).  The dangling mass
    is a one-row aggregate cross-joined back in (broadcast of a single
    row — no driver round-trip, no extra wide shuffle).

    Superstep materialization: the rank vector is referenced once
    (twice under redistribute) per round and the edge/node frames every
    round, so an unmaterialized plan re-derives the base graph O(2^r)
    times — localCheckpoint keeps round r's work to its own two
    shuffles (measured: g21 2.7 → 1.7 s, g24 2.3 → 1.5 s at sf0.01)."""
    wcol = F.col(weight).cast("double") if weight else F.lit(1.0)
    deg = (
        edges.groupBy("src").agg(F.sum(wcol).alias("outdeg")).localCheckpoint(eager=True)
    )
    with scatter_cache(edges.withColumn("__w", wcol).join(deg, "src")) as hoisted:
        nodes = (
            nodes.join(
                deg.select(F.col("src").alias("node"), F.lit(True).alias("has_out")),
                "node",
                "left",
            )
            .select(*nodes.columns, F.coalesce("has_out", F.lit(False)).alias("has_out"))
            .localCheckpoint(eager=True)
        )
        ranks = nodes.withColumn("rank", teleport)
        for _ in range(n_iter):
            sums = (
                hoisted.join(ranks, hoisted.src == ranks.node)
                .select(
                    F.col("dst").alias("node"),
                    (F.col("rank") * F.col("__w") / F.col("outdeg")).alias("m"),
                )
                .groupBy("node")
                .agg(F.sum("m").alias("m"))
            )
            nxt = nodes.join(sums, "node", "left")
            inflow = F.coalesce(F.col("m"), F.lit(0.0))
            if redistribute:
                dmass = ranks.filter(~F.col("has_out")).agg(
                    F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dm")
                )
                nxt = nxt.crossJoin(F.broadcast(dmass))
                inflow = inflow + F.col("__dm") * teleport
            ranks = nxt.select(
                *nodes.columns,
                (F.lit(1.0 - damping) * teleport + F.lit(damping) * inflow).alias("rank"),
            ).localCheckpoint(eager=True)
    return ranks


def pagerank(
    edges: DataFrame,
    n_iter: int = 3,
    damping: float = 0.85,
    dangling: str = "drop",
    weight: str | None = None,
) -> DataFrame:
    """(node, pagerank) after ``n_iter`` power iterations over directed
    ``edges(src, dst)``.

    ``weight`` names an edge-weight column: messages become
    rank·w/Σw(out) — the strength-aware variant (e.g. co-publication
    count as tie strength), same plan shape (the weighted out-degree
    folds into the hoisted edge frame exactly like the count).
    NULL, NaN and non-positive weights are DROPPED before anything else
    (``superstep.positive_weights``).  The node set is derived from the
    POST-filter edges, so a node whose every incident edge is dropped
    leaves the graph entirely (no rank row) — a zero-strength node is
    no node, consistent with the edges themselves; a node that keeps
    ≥1 in-edge but loses all out-edges becomes dangling, handled by the
    chosen ``dangling`` mode.

    Node set = sources ∪ destinations.  ``dangling`` controls nodes
    without out-edges:

    - ``"drop"`` (default): their mass leaks each iteration and the
      (1−d)/n floor keeps them ranked — the standard simplification
      when the caller's graph is symmetric, where dangling nodes don't
      exist (the g21 co-publication caller).
    - ``"redistribute"``: the standard correction for directed graphs —
      each iteration the summed rank of dangling nodes is spread
      uniformly (d·mass/n added to every node), so total rank stays 1.
    """
    if dangling not in ("drop", "redistribute"):
        raise ValueError(f"dangling={dangling!r}; use 'drop' or 'redistribute'")
    edges = positive_weights(edges, weight).localCheckpoint(eager=True)
    nodes = node_set(edges).localCheckpoint(eager=True)
    n = nodes.count()  # driver scalar: one tiny job, used as a literal
    if n == 0:
        # empty graph: empty ranks, not a 1/n division crash
        return nodes.select("node", F.lit(0.0).alias("pagerank"))
    ranks = _rank_loop(
        edges, nodes, weight, F.lit(1.0 / n), n_iter, damping, dangling == "redistribute"
    )
    return ranks.select("node", F.round("rank", 6).alias("pagerank"))


def personalized_pagerank(
    edges: DataFrame,
    seeds,
    n_iter: int = 3,
    damping: float = 0.85,
    weight: str | None = None,
) -> DataFrame:
    """(node, ppr): power iteration with restart concentrated on the
    ``seeds`` id set instead of uniform teleport — scores measure
    proximity to the seeds, the standard related-entity/recommendation
    primitive (e.g. keywords related to a topic seed in the doc→keyword
    graph).  Same two-shuffle Pregel superstep as ``pagerank``.

    Mass accounting: teleport (1−d) AND the dangling mass both restart
    onto the seed distribution r (r(v)=1/|seeds| on seeds, 0 elsewhere),
    so total mass stays exactly 1 every iteration:
    rank' = (1−d)·r + d·(Σ msgs + dangling_mass·r).

    ``seeds`` is a small id collection — broadcast as a literal frame
    (the typical seed set is a handful of entities; a DataFrame-sized
    personalization vector would instead join on node, same shape).
    Fixed ``n_iter`` keeps it deterministic and SQL-oracle-able like
    g21/g24.  ``weight`` follows the ``pagerank`` contract exactly:
    rank·w/Σw messages, non-positive/NULL weights dropped up front.
    """
    from pyspark.sql import types as T

    seed_list = list(dict.fromkeys(seeds))
    if not seed_list:
        raise ValueError("personalized_pagerank needs at least one seed")
    if any(s is None for s in seed_list):
        # a NULL seed is always a caller bug (e.g. min(src) over an
        # EMPTY graph — the r12 sf0.1 g33 incident): it would fabricate
        # a phantom NULL node carrying the whole teleport mass
        raise ValueError("personalized_pagerank seeds must be non-NULL")
    edges = positive_weights(edges, weight)
    node_type = edges.schema["src"].dataType
    sdf = edges.sparkSession.createDataFrame(
        [(s,) for s in seed_list],
        T.StructType([T.StructField("node", node_type)]),
    ).withColumn("__r", F.lit(1.0 / len(seed_list)))
    # Node set includes the seeds even when a seed appears in no edge:
    # an isolated seed is a legitimate node holding its teleport share
    # (rank = (1−d)·r + d·dm·r each round).  Deriving nodes from edges
    # alone would silently drop such a seed's mass and decay every rank
    # toward 0 — violating the total-mass-1 contract for e.g. a
    # canonicalized-away entity id.
    edges = edges.localCheckpoint(eager=True)  # superstep pattern, see module
    nodes_r = node_set(edges, sdf.select("node")).join(
        F.broadcast(sdf), "node", "left"
    ).select("node", F.coalesce("__r", F.lit(0.0)).alias("r"))
    ranks = _rank_loop(edges, nodes_r, weight, F.col("r"), n_iter, damping, True)
    return ranks.select("node", F.round("rank", 6).alias("ppr"))


def label_propagation(edges: DataFrame, n_iter: int = 3) -> DataFrame:
    """(node, label) after ``n_iter`` synchronous LPA rounds over
    directed ``edges(src, dst)`` (pass a symmetric edge set for the
    undirected semantics).

    Deterministic contract: init label(v)=v; each round every node
    takes its neighbors' most frequent label, ties to the smallest —
    ``min_by(label, (-count, label))`` — type-agnostic for string node
    ids, where negating the label broke determinism (r12 review, the
    kmeans argmax rule) — the same superstep shape as
    ``pagerank`` (join = scatter, two-level groupBy = gather/apply),
    so one round is two shuffles and fixed ``n_iter`` keeps it
    SQL-oracle-able.  Isolated nodes keep their own label via the left
    join.  Synchronous LPA can oscillate on bipartite-ish structure;
    with a fixed round count both engines see the same oscillation,
    which is exactly what the gate needs.
    """
    # Scatter-key cache (see superstep.scatter_cache): the loop joins on
    # edges.src every round, so only the |V| label vector shuffles.
    with scatter_cache(edges) as edges:
        nodes = node_set(edges).localCheckpoint(eager=True)
        labels = nodes.withColumn("label", F.col("node"))
        for _ in range(n_iter):
            msgs = edges.join(labels, edges.src == labels.node).select(
                F.col("dst").alias("node"), "label"
            )
            counts = msgs.groupBy("node", "label").agg(F.count(F.lit(1)).alias("c"))
            winner = counts.groupBy("node").agg(
                F.expr("min_by(label, struct(-c, label))").alias("label")
            )
            labels = nodes.join(winner, "node", "left").select(
                "node", F.coalesce(winner.label, F.col("node")).alias("label")
            ).localCheckpoint(eager=True)
    return labels


def triangle_count(pairs: DataFrame, a: str = "src", b: str = "dst") -> DataFrame:
    """1-row (n_triangles) over an undirected pair list (each unordered
    pair once, ``a < b``)."""
    e = pairs.select(F.col(a).alias("o1"), F.col(b).alias("o2")).filter(
        F.col("o1") < F.col("o2")
    )
    e12 = e
    e23 = e.select(F.col("o1").alias("o2"), F.col("o2").alias("o3"))
    e13 = e.select(F.col("o1").alias("t1"), F.col("o2").alias("t3"))
    return (
        e12.join(e23, "o2")
        .join(e13, (F.col("o1") == F.col("t1")) & (F.col("o3") == F.col("t3")))
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def hits(edges: DataFrame, n_iter: int = 3) -> DataFrame:
    """(node, hub, authority): fixed-iteration HITS (Kleinberg's
    hubs-and-authorities) over a directed edge set — the classic
    bipartite-influence primitive (here: documents are hubs pointing at
    keyword authorities).

    Per round: authority(v) = Σ_{u→v} hub(u); hub(u) = Σ_{u→v}
    authority(v).  Normalization is DEFERRED: the updates are linear,
    so per-round L1 scaling only rescales the vectors — one L1
    normalize of the final hub and authority vectors yields the same
    result as normalizing every half-step, while removing two scalar
    re-entries per iteration (each of which doubled the unoptimized
    plan: the vector subtree feeds both the sum and the divide).
    Raw magnitudes grow like (principal eigenvalue)^k — comfortably
    inside float64 for any realistic degree at small fixed ``n_iter``.

    Plan shape per round: two edge joins + two groupBy sums (the same
    two-shuffle Pregel superstep as ``pagerank``); the two final L1
    sums re-enter as broadcast 1-row aggregates — no driver scalars.
    HITS scatters in BOTH directions (hub step joins on dst, authority
    step on src), so the edge set is kept as two pre-partitioned
    copies — one hashed by each key, the GraphX both-directions layout
    — and every iteration shuffles only the |V| score vectors, never
    |E| (r5, measured 13.2 → 4.6 s on the sf0.1 doc→keyword graph).
    """
    if n_iter < 1:
        # zero iterations would L1-normalize an all-zero authority
        # vector (0/0 → NULL everywhere) — reject rather than emit nulls
        raise ValueError("hits needs n_iter >= 1")
    edges = edges.localCheckpoint(eager=True)  # superstep pattern, see module
    nodes = node_set(edges).localCheckpoint(eager=True)
    hub = nodes.withColumn("hub", F.lit(1.0))
    with scatter_cache(edges, "src") as e_src, scatter_cache(edges, "dst") as e_dst:
        for _ in range(n_iter):
            a_raw = (
                e_src.join(hub, e_src.src == hub.node)
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum("hub").alias("__a"))
            )
            auth = nodes.join(a_raw, "node", "left").select(
                "node", F.coalesce("__a", F.lit(0.0)).alias("a")
            ).localCheckpoint(eager=True)
            h_raw = (
                e_dst.join(auth, e_dst.dst == auth.node)
                .groupBy(F.col("src").alias("node"))
                .agg(F.sum("a").alias("__h"))
            )
            hub = nodes.join(h_raw, "node", "left").select(
                "node", F.coalesce("__h", F.lit(0.0)).alias("hub")
            ).localCheckpoint(eager=True)
    asum = auth.agg(F.sum("a").alias("__as"))
    hsum = hub.agg(F.sum("hub").alias("__hs"))
    return (
        hub.join(auth, "node")
        .crossJoin(F.broadcast(asum))
        .crossJoin(F.broadcast(hsum))
        .select(
            "node",
            F.round(F.col("hub") / F.col("__hs"), 6).alias("hub"),
            F.round(F.col("a") / F.col("__as"), 6).alias("authority"),
        )
    )


def k_core(
    edges: DataFrame, k: int, n_rounds: int = 3, until_converged: bool = False
) -> DataFrame:
    """(node, degree): the subgraph surviving ``n_rounds`` of synchronous
    k-core peeling over symmetric ``edges(src, dst)``, with each node's
    degree inside it — the standard cohesion/filtering primitive
    (spam-farm pruning, dense-community extraction).

    Each round removes EVERY node of degree < k at once (synchronous,
    order-free — unlike sequential peeling, so rounds are deterministic
    and SQL-oracle-able as unrolled iterations).  A round is one
    degree aggregation + two semi-joins (src side, dst side) — two
    shuffles, the same superstep budget as ``pagerank``.  When a round
    removes nothing the remaining rounds are no-ops, so with enough
    rounds the result IS the exact k-core; a fixed ``n_rounds`` yields
    the deterministic n-round approximation both engines compute
    identically.  Nodes whose every edge is peeled away drop out of the
    output (a k-core member by definition keeps degree ≥ k).

    Unlike the node-vector iterations (pagerank/LPA), the EDGE SET
    itself is what iterates here, so each round materializes via
    localCheckpoint: without it round r re-derives the base graph
    through r levels of joins — measured on the g28 spec at sf0.01:
    6.8 s → 1.4 s end-to-end (0.5 s for the peeling rounds alone once
    the input edges are materialized), and at 100 TB the
    unmaterialized form recomputes the full co-occurrence join
    O(rounds²) times.  Checkpoint blocks are released by the
    ContextCleaner when the result goes out of scope.

    ``until_converged=True`` peels to the EXACT k-core regardless of
    graph depth (``n_rounds`` is then ignored): peeling only ever
    REMOVES edges, so the edge count is a strictly decreasing potential
    until the fixpoint — one count() per round is an exact convergence
    test, stronger than the probabilistic count+xxhash fingerprint
    connected_components needs (there the edge set is REWRITTEN, not
    shrunk, so counts alone can't witness change).  Termination is
    guaranteed in ≤ |V| rounds.  The fixed-round mode stays the default
    because it is what the unrolled SQL oracle (g28) can express.
    """
    if n_rounds > 0 or until_converged:
        edges = edges.localCheckpoint(eager=True)

    def peel(e: DataFrame) -> DataFrame:
        # Lazy-checkpoint the degree aggregate: both semi-join legs
        # reference ``keep``, and without the checkpoint each leg's
        # broadcast build re-ran the degree shuffle (two full degree
        # jobs per round).  Lazy (not eager) so the first leg's
        # broadcast-build job computes and stores it and the second leg
        # reads the stored blocks — no extra driver action per round.
        deg = (
            e.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .localCheckpoint(eager=False)
        )
        keep = deg.filter(F.col("deg") >= k).select("src")
        return e.join(keep, "src", "left_semi").join(
            keep.withColumnRenamed("src", "dst"), "dst", "left_semi"
        ).localCheckpoint(eager=True)

    if until_converged:
        prev = edges.count()
        while prev:
            edges = peel(edges)
            cur = edges.count()
            if cur == prev:
                break
            prev = cur
        return edges.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).alias("degree")
        )
    # Fixed-round mode (r17): back to the r15 shrinking-edge shape —
    # each round materializes the restricted edge frame once, so round
    # r (and the output aggregate) scans the previous round's SHRUNKEN
    # checkpoint, never the full base frame.  The r16 restructure that
    # re-derived the restriction from the base frame per round (and in
    # the output path) regressed g28 0.56× / g31 0.60× on the driver:
    # with heavy peeling, O(rounds × |E₀|) base re-scans lose to
    # O(Σ|E_r|) materialization, and the final frame ballooned from a
    # checkpoint scan to a 10-Exchange re-derivation.  The one genuine
    # r16 fix — don't run the degree shuffle twice per round — is kept
    # via the lazy degree checkpoint inside ``peel``.
    for _ in range(n_rounds):
        edges = peel(edges)
    return edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )


def bfs_distances(
    edges: DataFrame,
    source,
    max_hops: int = 4,
    until_converged: bool = False,
    weight: str | None = None,
) -> DataFrame:
    """(node, dist): shortest directed path from ``source`` to every
    node reachable within ``max_hops`` relaxation rounds — the Pregel
    BFS / k-hop-neighborhood primitive behind reach queries
    ("everything within 3 hops of this entity").

    ``weight`` names an edge-weight column and switches the relaxation
    to MIN-PLUS (Bellman-Ford supersteps): cand = dist(src) + w instead
    of dist + 1, so ``dist`` becomes the cheapest total weight over
    paths of ≤ ``max_hops`` edges (double; hop counts stay int when
    unweighted).  NULL, NaN and non-positive weights are DROPPED up
    front — the same ``superstep.positive_weights`` guard as
    ``pagerank``: a NULL weight would propagate NULL distances through
    least(), and a non-positive weight breaks both termination
    (negative cycles) and the monotone convergence argument, neither of
    which a distributed fixed-point should accept silently.  A node
    whose every edge drops leaves the graph, exactly like pagerank's
    contract.

    Fixed-hop mode relaxes from the FULL reached set each round — one
    edges⋈dist join + one groupBy min + one |V| least-fold, exactly
    what the unrolled SQL oracles replay (g27 unweighted, g34
    weighted).  A frontier-only (SPFA) fixed-hop variant was measured
    and REVERTED in r6: on the expander-shaped bench graphs the
    wavefront covers most nodes by round 3, so the message savings
    never materialize while the improved-flag bookkeeping and the
    extra per-round reads of the checkpointed state cost real time
    (g35 face at sf0.1: 5.1 s full relax vs 7.1 s frontier in the
    bench harness).

    ``until_converged=True`` relaxes to EXACT whole-graph distances
    (``max_hops`` is then ignored) and DOES use frontier relaxation —
    there the improved-set is load-bearing twice over: (a) it IS the
    convergence witness ("frontier empty ⇔ fixpoint", an exact
    per-row cand < dist comparison — integer-exact even with float
    distances, replacing the pre-r6 mode-split witnesses: a (reached,
    Σdist) pair whose float sum was only sound unweighted, and a |V|
    self-join changed-count for weighted); and (b) convergence runs
    diameter-many rounds, the regime where the settled interior NOT
    re-scattering actually pays.  Exact for min-plus: any offer a
    settled node could make was already made the round it last
    improved.  Terminates in ≤ diameter+1 rounds unweighted, ≤ |V|−1
    with positive weights.
    """
    if source is None:
        # the g33 incident shape (min(src) over an empty graph): a NULL
        # source is always a caller bug and would silently yield empty
        raise ValueError("bfs_distances source must be non-NULL")
    step = F.col(weight).cast("double") if weight else F.lit(1)
    zero = F.lit(0.0) if weight else F.lit(0)
    steps = positive_weights(edges, weight).select("src", "dst", step.alias("__step"))
    with scatter_cache(steps) as edges:
        # an edge-less source still owns its (source, 0) row — the
        # per-seed semantics multi_source_bfs documents as shared
        src_row = edges.sparkSession.createDataFrame([(source,)], ["node"])
        dist = (
            node_set(edges, src_row)
            .select("node", F.when(F.col("node") == F.lit(source), zero).alias("dist"))
            .localCheckpoint(eager=True)
        )

        def candidates(fr: DataFrame) -> DataFrame:
            return (
                edges.join(fr, edges.src == fr.node)
                .filter(F.col("dist").isNotNull())
                .select(
                    F.col("dst").alias("node"),
                    (F.col("dist") + F.col("__step")).alias("cand"),
                )
                .groupBy("node")
                .agg(F.min("cand").alias("cand"))
            )

        if until_converged:
            frontier = dist.filter(F.col("dist").isNotNull())
            improved = (
                F.when(F.col("cand").isNull(), F.lit(False))
                .when(F.col("dist").isNull(), F.lit(True))
                .otherwise(F.col("cand") < F.col("dist"))
            )
            while True:
                stepped = (
                    dist.join(candidates(frontier), "node", "left")
                    .select(
                        "node",
                        F.least(F.col("dist"), F.col("cand")).alias("dist"),
                        improved.alias("__improved"),
                    )
                    .localCheckpoint(eager=True)
                )
                frontier = stepped.filter("__improved").select("node", "dist")
                dist = stepped.select("node", "dist")
                if frontier.count() == 0:  # exact fixpoint witness
                    break
        else:
            for _ in range(max_hops):
                dist = (
                    dist.join(candidates(dist), "node", "left")
                    .select("node", F.least(F.col("dist"), F.col("cand")).alias("dist"))
                    .localCheckpoint(eager=True)
                )
    return dist.filter(F.col("dist").isNotNull())


def _sigma_layers(
    edges: DataFrame, dist: DataFrame, max_hops: int, keys: list[str]
) -> list[DataFrame]:
    """Brandes' forward pass: index k → (*keys, node, sigma) of the
    dist-k layer, where σ(v) = Σ σ(u) over edges u→v with dist(u)=k−1
    and dist(v)=k — every shortest path to v extends a shortest path
    to some predecessor, each exactly once, so the count is exact and
    INTEGER end to end.  ``keys`` is [] for one source and ["seed"]
    for a seed set (the seed then rides every join and group key).

    Per layer ONE frontier⋈edges join + map-side-combinable sum: the
    frontier is layer-sized, ``edges`` is the caller's src-partitioned
    ``scatter_cache``, and the layer-membership probe joins the
    checkpointed ``dist`` table on dst."""
    layers = [
        dist.filter(F.col("dist") == 0)
        .select(*keys, "node", F.lit(1).cast("long").alias("sigma"))
        .localCheckpoint(eager=True)
    ]
    for k in range(1, max_hops + 1):
        layer_k = dist.filter(F.col("dist") == k).select(*keys, F.col("node").alias("dst"))
        layers.append(
            edges.join(layers[-1].withColumnRenamed("node", "src"), "src")
            .join(layer_k, [*keys, "dst"])
            .groupBy(*keys, "dst")
            .agg(F.sum("sigma").alias("sigma"))
            .select(*keys, F.col("dst").alias("node"), "sigma")
            .localCheckpoint(eager=True)
        )
    return layers


def shortest_path_counts(
    edges: DataFrame, source, max_hops: int = 4
) -> DataFrame:
    """(node, dist, sigma): BFS layer plus the NUMBER of distinct
    shortest paths from ``source`` (Brandes' forward pass σ — the
    building block of betweenness centrality, and the quantity its
    sampling estimators accumulate at scale).  Directed edges; pass a
    symmetrized list for undirected counting.

    Layered accumulation (``_sigma_layers``) over the
    :func:`bfs_distances` table — integer-exact, no float mass anywhere,
    unlike pagerank.  Duplicate input edges are collapsed up front (σ
    is a simple-graph quantity; a duplicated edge would silently double
    every count routed through it — the k_truss/connected_components
    distinct convention, where the min-fold faces are naturally
    dup-immune but a SUM is not).

    Scale shape: one fixed-hop BFS (two shuffles per round), then one
    join + sum per layer.  Nothing quadratic: σ is a per-node int64,
    never a path enumeration.
    """
    dist = bfs_distances(edges, source, max_hops).localCheckpoint(eager=True)
    with scatter_cache(edges.select("src", "dst").distinct()) as e:
        layers = _sigma_layers(e, dist, max_hops, [])
    return reduce(
        DataFrame.unionByName,
        [sig.select("node", F.lit(k).alias("dist"), "sigma") for k, sig in enumerate(layers)],
    )


def multi_source_bfs(edges: DataFrame, sources: list, max_hops: int = 4) -> DataFrame:
    """(seed, node, dist): shortest unweighted distances from EVERY
    seed in ``sources`` to every node within ``max_hops``, in ONE
    superstep loop — the landmark-distance primitive behind
    centrality sampling, graph-diameter estimation (double sweep), and
    landmark-based shortest-path approximation at scale.  Equal to the
    union of per-seed ``bfs_distances`` runs (a seed absent from the
    edge list still reports (seed, seed, 0)).

    The naive form — one ``bfs_distances`` call per seed — re-scans
    and re-shuffles the edge set k times and serializes k fixpoint
    loops on the driver.  Here the seed id rides the state as a
    payload column, so ALL seeds' frontiers advance in the SAME round,
    touching the |E| side once per round instead of once per round per
    seed.  The edge frame is the src-partitioned ``scatter_cache``, so
    only the frontier moves per round.

    State is only REACHED rows — settled (seed, node, dist) plus the
    frontier of rows first reached last round; each round joins edges
    against the frontier only, takes a (seed, dst) min-fold and
    anti-joins the settled set, with an exact empty-frontier early
    exit.  In unweighted BFS a node first reached at hop h has exact
    distance h, so settled rows never update.  State is Σ reached, not
    |S|·|V|, and costs one frontier-count driver action per round (the
    bfs_distances fixpoint-witness pattern).  A dense layout — a
    fixed-hop full relax over the |S|·|V| vector — was measured slower
    and removed: on the g35 graph most nodes are reached by hop 2, so
    late frontiers are near-empty and the early exit skips whole
    rounds (warm min-of-4 at sf0.1 on local[32]: sparse 4.97 s vs
    dense 7.79 s).
    """
    seeds = list(sources)
    if not seeds:
        raise ValueError("multi_source_bfs needs at least one source")
    if any(s is None for s in seeds):
        # the g33 rule (see personalized_pagerank): a NULL seed is a
        # caller bug and would report a phantom (NULL, NULL, 0) row
        raise ValueError("multi_source_bfs sources must be non-NULL")
    with scatter_cache(edges.select("src", "dst")) as edges:
        settled = (
            edges.sparkSession.createDataFrame([(s,) for s in seeds], ["seed"])
            .distinct()
            .select("seed", F.col("seed").alias("node"), F.lit(0).alias("dist"))
            .localCheckpoint(eager=True)
        )
        frontier = settled
        for _ in range(max_hops):
            new = (
                edges.join(frontier, edges.src == frontier.node)
                .select(
                    "seed",
                    F.col("dst").alias("node"),
                    (F.col("dist") + 1).alias("dist"),
                )
                .groupBy("seed", "node")
                .agg(F.min("dist").alias("dist"))
                .join(settled.select("seed", "node"), ["seed", "node"], "left_anti")
                .localCheckpoint(eager=True)  # pins the per-round lineage
            )
            if new.count() == 0:  # exact fixpoint witness
                break
            # settled grows as a union of ≤ max_hops CHECKPOINTED frames —
            # cheap metadata, no re-materialization of the whole set
            settled = settled.unionByName(new)
            frontier = new
    return settled


def brandes_dependencies(
    edges: DataFrame, sources: list, max_hops: int = 4
) -> DataFrame:
    """(seed, node, dist, sigma, delta): Brandes' betweenness
    dependency accumulation from a landmark seed set — the BACKWARD
    pass completing :func:`shortest_path_counts`' forward σ into the
    centrality score a user actually asks for ("which keyword bridges
    the most shortest paths" — the reference's co-occurrence workload
    `Q.txt:49-55` extended one step).  Hop-bounded (distance-bounded
    betweenness): both passes run exactly ``max_hops`` layers, so the
    quantity is betweenness restricted to shortest paths of length
    ≤ max_hops — the standard landmark estimator at 100 TB scale,
    where exact betweenness is O(|V|·|E|) and the sampling literature
    (Brandes–Pich, Riondato–Kornaropoulos) accumulates exactly this
    per-seed dependency from a seed sample.

    Forward: ``multi_source_bfs`` (one |E| touch per round for ALL
    seeds), then ``_sigma_layers`` keyed by (seed, dst).
    Backward: per layer k (deepest first) ONE edges⋈(σ,δ) join —
    δ(v) = Σ_{w: dist(w)=k+1, v→w} σ(v)/σ(w)·(1+δ(w)) — layer-sized
    frontiers, map-side-combinable sums, float δ over exact int64 σ.

    Duplicate input edges are collapsed up front (σ and δ are SUMS,
    not dup-immune min-folds — the shortest_path_counts convention).
    The |E| frame is one ``scatter_cache`` reused by every forward and
    backward round.
    """
    dist = multi_source_bfs(edges, sources, max_hops).localCheckpoint(eager=True)
    with scatter_cache(edges.select("src", "dst").distinct()) as e:
        layers = _sigma_layers(e, dist, max_hops, ["seed"])
        # backward: δ at the deepest layer is 0 by definition (no
        # deeper shortest paths exist within the hop horizon)
        bw = layers[max_hops].select(
            "seed", "node", "sigma", F.lit(0.0).alias("delta")
        )
        out = [bw.select("seed", "node", F.lit(max_hops).alias("dist"), "sigma", "delta")]
        for k in range(max_hops - 1, -1, -1):
            succ = (
                e.join(
                    bw.select(
                        "seed",
                        F.col("node").alias("dst"),
                        F.col("sigma").alias("sigma_w"),
                        F.col("delta").alias("delta_w"),
                    ),
                    "dst",
                )
                .select("seed", F.col("src").alias("node"), "sigma_w", "delta_w")
            )
            bw = (
                layers[k]
                .join(succ, ["seed", "node"], "left")
                .groupBy("seed", "node", "sigma")
                .agg(
                    F.coalesce(
                        F.sum(
                            (F.col("sigma").cast("double") / F.col("sigma_w"))
                            * (F.lit(1.0) + F.col("delta_w"))
                        ),
                        F.lit(0.0),
                    ).alias("delta")
                )
                .localCheckpoint(eager=True)
            )
            out.append(bw.select("seed", "node", F.lit(k).alias("dist"), "sigma", "delta"))
    return reduce(DataFrame.unionByName, out)


def louvain_refine_pass(wedges: DataFrame, labels: DataFrame) -> DataFrame:
    """(node, old_label, new_label, gain): ONE synchronous Louvain
    phase-1 round — every node evaluates moving to each neighboring
    community and takes the best strictly-positive-modularity-gain
    move, simultaneously (the distributed-Louvain superstep; sequential
    node order is inherently serial, so parallel implementations run
    synchronous rounds and accept that simultaneous moves need not be
    jointly optimal — one round's semantics are exactly replayable).

    The gain is kept INTEGER-EXACT (the g42 discipline): with integer
    edge weights, ΔQ of moving v from community a to b scaled by the
    positive constant 2W² is

        gain = 2W·(k_vb − k_va) − s_v·(s_v + s_b − s_a)

    where 2W = Σ symmetric edge weights, k_vc = weight from v to
    community c (v's own membership excluded naturally — no
    self-loops), s_v = v's strength, s_c = community strength.  Move
    iff max-gain > 0; argmax ties break to the smallest community id.
    ``gain`` is NULL when v has no neighboring community other than
    its own.

    Scale shape: one edges⋈labels join + (node, community) aggregation
    (the LPA superstep shape), community strengths are a |C|-sized
    frame, the 2W total rides a broadcast 1-row crossJoin, and the
    argmax is a map-side-combinable max-of-struct — no window, no
    driver lookups, empty graph → empty frame (the g33-proof layout).
    """
    lab_dst = labels.select(F.col("node").alias("dst"), F.col("label").alias("lbl_nbr"))
    k_vc = (
        wedges.join(lab_dst, "dst")
        .groupBy(F.col("src").alias("node"), "lbl_nbr")
        .agg(F.sum("w").alias("k"))
    )
    strength = wedges.groupBy(F.col("src").alias("node")).agg(F.sum("w").alias("s_v"))
    comm = (
        labels.join(strength, "node")
        .groupBy("label")
        .agg(F.sum("s_v").alias("s_c"))
    )
    tw2 = wedges.agg(F.sum("w").alias("tw2"))  # = 2W, integer
    base = (
        labels.join(strength, "node")
        .join(
            k_vc.select("node", F.col("lbl_nbr").alias("label"), F.col("k").alias("k_va")),
            ["node", "label"],
            "left",
        )
        .join(comm.select("label", F.col("s_c").alias("s_a")), "label")
        .select(
            "node",
            F.col("label").alias("old_label"),
            "s_v",
            F.coalesce(F.col("k_va"), F.lit(0).cast("long")).alias("k_va"),
            "s_a",
        )
    )
    cand = (
        base.join(k_vc, "node")
        .filter(F.col("lbl_nbr") != F.col("old_label"))
        .join(comm.select(F.col("label").alias("lbl_nbr"), F.col("s_c").alias("s_b")), "lbl_nbr")
        .crossJoin(F.broadcast(tw2))
        .select(
            "node",
            "old_label",
            F.col("lbl_nbr").alias("b"),
            (
                F.col("tw2") * (F.col("k") - F.col("k_va"))
                - F.col("s_v") * (F.col("s_v") + F.col("s_b") - F.col("s_a"))
            ).alias("gain"),
        )
    )
    best = (
        cand.groupBy("node", "old_label")
        .agg(F.max(F.struct(F.col("gain"), (-F.col("b")).alias("nb"))).alias("m"))
        .select(
            "node",
            "old_label",
            F.col("m.gain").alias("gain"),
            (-F.col("m.nb")).alias("b"),
        )
    )
    return (
        labels.join(best.select("node", "gain", "b"), "node", "left")
        .select(
            "node",
            F.col("label").alias("old_label"),
            F.when(F.col("gain") > 0, F.col("b")).otherwise(F.col("label")).alias("new_label"),
            "gain",
        )
    )


def k_truss(pairs: DataFrame, k: int = 4, n_rounds: int = 2) -> DataFrame:
    """(src, dst, support): the n-round k-truss approximation of an
    undirected pair list (one row per unordered pair, src < dst) —
    every surviving edge sits in ≥ k−2 triangles of the surviving
    subgraph, the edge-analogue of k-core and the standard
    cohesive-community core (an edge between communities rarely closes
    triangles even when both endpoints are high-degree, so truss
    separates what core cannot).

    Synchronous fixed rounds, like ``k_core``: each round computes
    every edge's support (common-neighbor count) against the CURRENT
    edge set via one wedge join + one aggregation, then drops edges
    below k−2 — order-free, so rounds are deterministic and the g37
    oracle unrolls them exactly.  When a round drops nothing the
    remaining rounds are no-ops, so with enough rounds this IS the
    exact k-truss.  The returned support is recomputed once on the
    final surviving set (per-round supports are stale the moment the
    round's filter runs).

    The EDGE SET iterates, so each round materializes via
    localCheckpoint (the k_core rationale: without it round r
    re-derives the base graph through r levels of wedge joins).  The
    wedge join's shuffle carries (edge, neighbor) ids only; supports
    fold map-side.
    """
    e = (
        pairs.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .filter(F.col("u") < F.col("v"))
        # enforce the one-row-per-unordered-pair precondition: duplicate
        # input pairs would multiply wedge-join support counts and
        # silently over-retain edges; distinct here is one shuffle of
        # id pairs, trivial next to the wedge join it protects
        .distinct()
        .localCheckpoint(eager=True)
    )

    def support(cur: DataFrame) -> DataFrame:
        sym = cur.unionByName(
            cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        a = sym.select(F.col("u").alias("au"), F.col("v").alias("w"))
        b = sym.select(F.col("u").alias("bu"), F.col("v").alias("w2"))
        counted = (
            cur.join(a, cur.u == a.au)
            .join(b, (cur.v == b.bu) & (F.col("w") == F.col("w2")))
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("support"))
        )
        # triangle-free edges get no wedge row — LEFT join them back as
        # support 0 so they peel (or survive, k ≤ 2) explicitly instead
        # of silently vanishing from the output
        return cur.join(counted, ["u", "v"], "left").select(
            "u", "v", F.coalesce(F.col("support"), F.lit(0)).alias("support")
        )

    for _ in range(n_rounds):
        e = (
            support(e)
            .filter(F.col("support") >= k - 2)
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
    return support(e).select(
        F.col("u").alias("src"), F.col("v").alias("dst"), "support"
    )


def strongly_connected_components(
    edges: DataFrame, max_outer: int = 32, stats: dict | None = None
) -> DataFrame:
    """(node, component): strongly connected components of the DIRECTED
    graph ``edges(src, dst)``, component = min member id — the directed
    complement of ``connected_components`` (which the reference
    delegates to Neo4j's GDS family alongside the rest of this module;
    `Hype.py` only ever materializes undirected keyword clusters).
    SCCs are the cycle structure: cite-cycles, follow-back communities,
    mutually-reachable state machines — none of which the undirected
    operator can see (it merges everything weakly connected).

    FW-BW-Trim coloring (the standard distributed SCC decomposition —
    Orzan's coloring with a trim prepass), three loops, every one with
    an EXACT integer convergence witness (counts, never fingerprints):

    1. TRIM: repeatedly assign nodes with in-degree 0 or out-degree 0
       as singleton SCCs (a node missing either direction can't sit on
       a cycle).  Kills DAG tails/sources in rounds = tail depth.  Each
       round is ONE degree-flag aggregate (union of endpoint
       projections, map-side combined) + two semi-joins to shrink the
       edge frame — the r12 profile showed the previous
       four-distinct/three-join/four-action round shape was 49% of
       g39's wall time, pure superstep overhead on id-sized data.
       Trimmed singletons accumulate LAZILY over the checkpointed
       per-round degree frames and fold into ``assigned`` once, after
       the loop.
    2. COLOR: propagate color(v) = max(v, colors of in-neighbors) to
       fixpoint along forward edges, so color(v) = max id that reaches
       v.  The |V|-row color vector is the ONLY per-round shuffle; the
       edge frame keeps its src-partitioned cache layout (pagerank's
       hoisted-superstep discipline).  Rounds ≤ remaining diameter.
    3. ASSIGN: every node with color(v) == v roots its color region;
       ALL roots walk backward simultaneously (root id rides the
       frontier as a payload column — the multi_source_bfs trick)
       restricted to same-color nodes: the set reached backward from
       root r within color r is exactly SCC(r).  Assign, peel, repeat
       from 1 — the max-id node of the remainder always roots, so every
       outer round assigns ≥ 1 SCC and termination is ≤ |V| outer
       rounds; real graphs need few (each round peels every source-
       region SCC at once).  ``max_outer`` is a runaway backstop, not a
       tuning knob — hitting it raises rather than returning a partial
       (wrong) labeling.

    Self-loops are dropped (they never change SCC structure); the node
    set is the edge endpoints, like every operator in this module —
    union isolated nodes in as singletons at the call site if the
    caller's universe is wider.  Each loop body localCheckpoints the
    iterated frame (the k_core rationale: round r must not re-derive
    the base graph through r join levels).

    At 100 TB: no step shuffles the edge payload — trim shuffles ids,
    coloring shuffles the (node, color) vector, the backward walk
    shuffles the live frontier only; the quadratic worst case (long
    chain of SCCs) is bounded by trim eating all acyclic structure
    first, which is the bulk of real web/citation graphs.

    ``stats``, if supplied, is filled with per-phase superstep counts
    and wall seconds (outer/trim/color/assign) — the observability face
    the g39 bench trend reads; it never changes the result.
    """
    import time as _time

    if stats is not None:
        stats.update(
            outer_rounds=0, trim_rounds=0, color_rounds=0, assign_rounds=0,
            trim_sec=0.0, color_sec=0.0, assign_sec=0.0,
        )

    def _tick(phase: str, t0: float, rounds: int = 1) -> None:
        if stats is not None:
            stats[f"{phase}_rounds"] += rounds
            stats[f"{phase}_sec"] += _time.time() - t0

    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    spark = e.sparkSession
    assigned = spark.createDataFrame([], "node long, component long")

    # every endpoint of the INPUT (self-loops included) must receive a
    # component.  Two paths silently orphan a node from the loop below:
    # (a) all its edges vanish in ONE trim round because every neighbor
    # was trimmed that round (a pure 3-path loses its middle node this
    # way), and (b) all its edges led into an SCC that was assigned and
    # peeled.  In both cases the node was never on a cycle — a cycle's
    # edges only vanish when the cycle itself is assigned — so any node
    # missing from `assigned` at return time is provably a singleton.
    universe = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _finish(done: DataFrame) -> DataFrame:
        missing = universe.join(done.select("node"), "node", "left_anti")
        return done.unionByName(
            missing.select("node", F.col("node").alias("component"))
        )

    for _ in range(max_outer):
        if stats is not None:
            stats["outer_rounds"] += 1
        # --- 1. TRIM ------------------------------------------------
        # one (node, has_out, has_in) aggregate per round; alive and
        # trimmed are narrow filters over its checkpoint, so the
        # fixpoint probe and the singleton accumulation re-read local
        # blocks instead of re-running joins.
        #
        # r16: the per-round edge frame is NEVER materialized inside
        # the loop.  Trimmed sets only grow, so the round-r edge set is
        # exactly the base frame restricted to round r's alive nodes —
        # e_r = e0 ⋉src alive_r ⋉dst alive_r — and the next round's
        # degree aggregate folds that restriction into its own job
        # (same two semi-joins the old shape ran, minus one checkpoint
        # action and one materialized |E| frame per round; measured on
        # the g39 face the trim loop was ~49% of wall in the r12
        # profile and checkpoint actions dominated the r16 one).  The
        # restricted frame is materialized ONCE, after the fixpoint,
        # for the color/assign phases.
        trimmed_rounds: list[DataFrame] = []
        alive = None  # None = unrestricted (first round reads e as-is)
        while True:
            _t0 = _time.time()
            cur = e
            if alive is not None:
                cur = e.join(
                    alive.withColumnRenamed("node", "src"), "src", "left_semi"
                ).join(alive.withColumnRenamed("node", "dst"), "dst", "left_semi")
            # one explode instead of a two-leg union: the union shape
            # evaluated the restricted frame TWICE (and built each
            # alive broadcast twice — expression ids differ per leg, so
            # ReuseExchange can't collapse them); the explode doubles
            # rows map-side in a single pass (r16)
            #
            # r17 action fold: the degree checkpoint is LAZY and the
            # trimmed-count aggregate materializes it — one driver
            # action per round where the r16 shape paid two (eager
            # checkpoint + isEmpty probe).
            deg = (
                cur.select(
                    F.explode(
                        F.array(
                            F.struct(
                                F.col("src").alias("node"),
                                F.lit(1).alias("has_out"),
                                F.lit(0).alias("has_in"),
                            ),
                            F.struct(
                                F.col("dst").alias("node"),
                                F.lit(0).alias("has_out"),
                                F.lit(1).alias("has_in"),
                            ),
                        )
                    ).alias("x")
                )
                .select("x.*")
                .groupBy("node")
                .agg(
                    F.max("has_out").alias("has_out"),
                    F.max("has_in").alias("has_in"),
                )
                .localCheckpoint(eager=False)
            )
            both = (F.col("has_out") == 1) & (F.col("has_in") == 1)
            trimmed = deg.filter(~both).select("node")
            if trimmed.count() == 0:
                _tick("trim", _t0)
                break
            trimmed_rounds.append(trimmed)
            alive = deg.filter(both).select("node")
            _tick("trim", _t0)
        if alive is not None:
            e = (
                e.join(alive.withColumnRenamed("node", "src"), "src", "left_semi")
                .join(alive.withColumnRenamed("node", "dst"), "dst", "left_semi")
                .localCheckpoint(eager=True)
            )
        if trimmed_rounds:
            assigned = assigned.unionByName(
                reduce(DataFrame.unionByName, trimmed_rounds).select(
                    "node", F.col("node").alias("component")
                )
            ).localCheckpoint(eager=True)
        if e.isEmpty():
            return _finish(assigned)
        e_cached = e.repartition("src").persist()
        e_cached.count()
        try:
            # --- 2. COLOR (forward max-propagation to fixpoint) ------
            colors = (
                e_cached.select(F.col("src").alias("node"))
                .unionByName(e_cached.select(F.col("dst").alias("node")))
                .distinct()
                .select("node", F.col("node").alias("color"))
                .localCheckpoint(eager=True)
            )
            while True:
                _t0 = _time.time()
                msgs = (
                    e_cached.join(colors, e_cached.src == colors.node)
                    .groupBy(F.col("dst").alias("node"))
                    .agg(F.max("color").alias("in_color"))
                )
                # the change flag rides the checkpointed frame, so the
                # fixpoint probe is a narrow count over local blocks —
                # not a second join of the |V| vectors per round.
                # r17 action fold: the checkpoint is LAZY and the
                # changed-count materializes it — one action per round
                # instead of eager-checkpoint + count.
                new = (
                    colors.join(msgs, "node", "left")
                    .select(
                        "node",
                        F.greatest(
                            "color", F.coalesce("in_color", "color")
                        ).alias("color"),
                        (F.coalesce("in_color", "color") > F.col("color")).alias(
                            "chg"
                        ),
                    )
                    .localCheckpoint(eager=False)
                )
                changed = new.filter("chg").count()
                colors = new.select("node", "color")
                _tick("color", _t0)
                if changed == 0:
                    break
            # --- 3. ASSIGN (all roots walk backward within color) ----
            # r17 flag-carrying restructure: the old round was
            # join→distinct→color-lookup→anti-join — three exchanges
            # (distinct on (node,color), re-shuffle to node for the
            # color join, re-shuffle of the growing `reached` union for
            # the anti-join) plus two actions (eager checkpoint +
            # isEmpty).  The reached/new flags now ride ONE
            # node-partitioned state frame: per round the only shuffle
            # is the frontier-expansion aggregate (map-side collect_set
            # dedups before the wire), the state join is co-partitioned
            # (checkpoint preserves hash(node) partitioning), and the
            # new-count materializes the lazy checkpoint — one exchange
            # + one action per round.
            state = colors.select(
                "node",
                "color",
                (F.col("node") == F.col("color")).alias("reached"),
                (F.col("node") == F.col("color")).alias("__new"),
            ).localCheckpoint(eager=True)
            while True:
                _t0 = _time.time()
                frontier = state.filter("__new").select("node", "color")
                hits = (
                    e_cached.join(frontier, e_cached.dst == frontier.node)
                    .groupBy(F.col("src").alias("node"))
                    .agg(F.collect_set("color").alias("__in"))
                )
                state = (
                    state.join(hits, "node", "left")
                    .select(
                        "node",
                        "color",
                        (
                            F.col("reached")
                            | F.coalesce(
                                F.array_contains("__in", F.col("color")),
                                F.lit(False),
                            )
                        ).alias("reached"),
                        (
                            ~F.col("reached")
                            & F.coalesce(
                                F.array_contains("__in", F.col("color")),
                                F.lit(False),
                            )
                        ).alias("__new"),
                    )
                    .localCheckpoint(eager=False)
                )
                n_new = state.filter("__new").count()
                _tick("assign", _t0)
                if n_new == 0:
                    break
            reached = state.filter("reached").select("node", "color")
            comp = reached.groupBy("color").agg(F.min("node").alias("component"))
            assigned = assigned.unionByName(
                reached.join(comp, "color").select("node", "component")
            ).localCheckpoint(eager=True)
            done = reached.select("node").localCheckpoint(eager=True)
        finally:
            e_cached.unpersist()
        e = (
            e.join(done.withColumnRenamed("node", "src"), "src", "left_anti")
            .join(done.withColumnRenamed("node", "dst"), "dst", "left_anti")
            .localCheckpoint(eager=True)
        )
        if e.isEmpty():
            return _finish(assigned)
    raise RuntimeError(
        f"strongly_connected_components did not decompose the graph in "
        f"max_outer={max_outer} rounds — raise the backstop (each round "
        f"provably assigns at least one SCC, so this is a chain of more "
        f"than {max_outer} peel layers, not a livelock)"
    )
