"""Graph-analytics invariants (the oracle gate covers exact values;
these pin the mathematical properties that hold at any scale)."""

from __future__ import annotations

import pytest

from advanced_technologies_of_china_graph_database_construction_spark.operators import analytics as an
from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import symmetric_edges
from advanced_technologies_of_china_graph_database_construction_spark.operators.walks import deterministic_walks
from advanced_technologies_of_china_graph_database_construction_spark.plans.analytics_queries import (
    _copub_pairs,
    g21_copub_pagerank,
    g22_copub_triangles,
)

from .conftest import SF_CORRECT


def test_pagerank_mass_is_conserved(spark):
    # symmetric graph → no dangling mass: ranks sum to 1
    total = sum(r["pagerank"] for r in g21_copub_pagerank(spark, SF_CORRECT).collect())
    assert abs(total - 1.0) < 1e-4, total


def test_pagerank_rewards_degree(spark):
    from pyspark.sql import functions as F

    pairs = _copub_pairs(spark, SF_CORRECT)
    deg = (
        symmetric_edges(pairs)
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .collect()
    )
    degs = {r["src"]: r["deg"] for r in deg}
    ranks = {r["org_id"]: r["pagerank"] for r in g21_copub_pagerank(spark, SF_CORRECT).collect()}
    top_rank = max(ranks, key=ranks.get)
    # the top-ranked node sits in the top decile by degree
    threshold = sorted(degs.values())[int(len(degs) * 0.9) - 1]
    assert degs[top_rank] >= threshold, (degs[top_rank], threshold)


def test_triangles_positive_and_bounded(spark):
    n_pairs = _copub_pairs(spark, SF_CORRECT).count()
    n_tri = g22_copub_triangles(spark, SF_CORRECT).collect()[0]["n_triangles"]
    assert 0 < n_tri <= n_pairs * (n_pairs - 1) // 2


def test_label_propagation_separates_two_cliques(spark):
    """Two 4-cliques joined by one bridge edge: after 3 rounds every
    clique converges to its smallest member's label, and the bridge
    does not merge them (majority within each clique wins)."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import (
        label_propagation,
        symmetric_edges,
    )

    clique_a = [(i, j) for i in range(4) for j in range(4) if i < j]
    clique_b = [(i, j) for i in range(10, 14) for j in range(10, 14) if i < j]
    pairs = spark.createDataFrame(
        clique_a + clique_b + [(3, 10)], ["src", "dst"]
    )
    labels = {
        r["node"]: r["label"]
        for r in label_propagation(symmetric_edges(pairs), 3).collect()
    }
    assert {labels[n] for n in range(4)} == {0}
    assert {labels[n] for n in range(10, 14)} == {10}


def test_label_propagation_no_inbound_keeps_own_label(spark):
    """A source-only node receives no messages; the left-join coalesce
    must keep its own label instead of dropping the row."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import label_propagation

    edges = spark.createDataFrame([(1, 2)], ["src", "dst"])
    labels = {r["node"]: r["label"] for r in label_propagation(edges, 2).collect()}
    assert labels == {1: 1, 2: 1}


def _numpy_pagerank(edges, n_iter=3, d=0.85, redistribute=False):
    import numpy as np

    nodes = sorted({u for e in edges for u in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    out = {v: 0 for v in nodes}
    for s, _ in edges:
        out[s] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        msgs = np.zeros(n)
        for s, t in edges:
            msgs[idx[t]] += r[idx[s]] / out[s]
        dm = sum(r[idx[v]] for v in nodes if out[v] == 0) if redistribute else 0.0
        r = (1 - d) / n + d * dm / n + d * msgs
    return {v: round(float(r[idx[v]]), 6) for v in nodes}


def test_pagerank_dangling_redistribution_matches_reference(spark):
    """Directed graph with a dangling sink (4): redistribution must match
    the standard power-method reference, conserve total mass, and differ
    from the drop-mass default."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import pagerank

    edges = [(1, 2), (2, 3), (3, 1), (1, 4), (5, 1)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node"]: r["pagerank"]
        for r in pagerank(df, 3, dangling="redistribute").collect()
    }
    assert got == _numpy_pagerank(edges, redistribute=True)
    assert abs(sum(got.values()) - 1.0) < 1e-4
    dropped = {r["node"]: r["pagerank"] for r in pagerank(df, 3).collect()}
    assert dropped == _numpy_pagerank(edges, redistribute=False)
    assert sum(dropped.values()) < 1.0 - 1e-3  # mass leaked via node 4


def test_pagerank_redistribute_noop_on_symmetric_graph(spark):
    """On a symmetric edge set there are no dangling nodes, so both
    modes agree exactly — g21's caller can switch safely."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import (
        pagerank,
        symmetric_edges,
    )

    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["src", "dst"])
    e = symmetric_edges(pairs)
    a = {r["node"]: r["pagerank"] for r in pagerank(e, 3).collect()}
    b = {r["node"]: r["pagerank"] for r in pagerank(e, 3, dangling="redistribute").collect()}
    assert a == b


# ------------------------------------------------- personalized pagerank ---

def _ppr_reference(edge_list, seeds, n_iter=3, d=0.85):
    """numpy power iteration with seed restart and dangling->seeds."""
    import numpy as np

    nodes = sorted({n for e in edge_list for n in e})
    ix = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out = {v: 0 for v in nodes}
    for s, _ in edge_list:
        out[s] += 1
    r = np.zeros(n)
    for s in seeds:
        r[ix[s]] = 1.0 / len(seeds)
    rank = r.copy()
    for _ in range(n_iter):
        msgs = np.zeros(n)
        for s, t in edge_list:
            msgs[ix[t]] += rank[ix[s]] / out[s]
        dm = sum(rank[ix[v]] for v in nodes if out[v] == 0)
        rank = (1 - d) * r + d * (msgs + dm * r)
    return {v: round(float(rank[ix[v]]), 6) for v in nodes}


def test_personalized_pagerank_matches_reference(spark):
    # directed graph with a dangling node (4) and a cycle
    edge_list = [(1, 2), (2, 3), (3, 1), (1, 4), (2, 4), (5, 1)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import (
        personalized_pagerank,
    )

    got = {r.node: r.ppr for r in personalized_pagerank(edges, [1], n_iter=3).collect()}
    want = _ppr_reference(edge_list, [1])
    assert got == want
    # mass conservation: ranks sum to 1 (restart + dangling both land on seeds)
    assert abs(sum(got.values()) - 1.0) < 1e-4
    # proximity semantics: the seed's direct successor outranks node 5,
    # which only POINTS AT the seed (no mass ever flows back to it)
    assert got[2] > got[5]
    # multi-seed: deterministic and still conserving
    got2 = {
        r.node: r.ppr
        for r in personalized_pagerank(edges, [1, 5], n_iter=3).collect()
    }
    assert got2 == _ppr_reference(edge_list, [1, 5])

    import pytest as _pytest

    with _pytest.raises(ValueError):
        personalized_pagerank(edges, [])


def test_personalized_pagerank_keeps_isolated_seed_mass(spark):
    """A seed absent from the edge list is an isolated node holding its
    teleport share — total mass must stay 1, not decay toward 0."""
    edge_list = [(1, 2), (2, 3), (3, 1)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import (
        personalized_pagerank,
    )

    got = {r.node: r.ppr for r in personalized_pagerank(edges, [99], n_iter=3).collect()}
    assert 99 in got
    assert abs(sum(got.values()) - 1.0) < 1e-4
    # the isolated seed keeps (almost) all the mass: nothing links to it,
    # so graph nodes only ever receive what they teleport-inherit (zero)
    assert got[99] == pytest.approx(1.0, abs=1e-4)
    # mixed case: one in-graph seed + one isolated seed still conserves
    got2 = {
        r.node: r.ppr
        for r in personalized_pagerank(edges, [1, 99], n_iter=3).collect()
    }
    assert abs(sum(got2.values()) - 1.0) < 1e-4


def _hits_reference(edge_list, n_iter=3):
    """numpy HITS, normalization deferred to one final L1 (the updates
    are linear, so this equals per-round normalization up to float
    rounding — and mirrors the operator's plan-shape choice)."""
    import numpy as np

    nodes = sorted({n for e in edge_list for n in e})
    ix = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    h = np.ones(n)
    a = np.zeros(n)
    for _ in range(n_iter):
        a = np.zeros(n)
        for s, t in edge_list:
            a[ix[t]] += h[ix[s]]
        h = np.zeros(n)
        for s, t in edge_list:
            h[ix[s]] += a[ix[t]]
    a = a / a.sum()
    h = h / h.sum()
    return {
        v: (round(float(h[ix[v]]), 6), round(float(a[ix[v]]), 6)) for v in nodes
    }


def test_hits_matches_reference(spark):
    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import hits

    # bipartite docs {1,2,3} → keywords {10,11,12}; doc 1 is the big hub,
    # keyword 10 the big authority
    edge_list = [(1, 10), (1, 11), (1, 12), (2, 10), (3, 10), (3, 11)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r.node: (r.hub, r.authority) for r in hits(edges, n_iter=3).collect()}
    assert got == _hits_reference(edge_list, 3)
    hubs = {v: hv for v, (hv, _) in got.items()}
    auths = {v: av for v, (_, av) in got.items()}
    assert hubs[1] == max(hubs.values())      # doc 1: most/best keywords
    assert auths[10] == max(auths.values())   # keyword 10: most/best docs
    # pure-sink keywords have zero hub score; pure-source docs zero authority
    assert hubs[10] == 0.0 and auths[1] == 0.0


def test_bfs_distances_match_reference(spark):
    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import bfs_distances

    # 0→1→2→3→4 chain plus a shortcut 0→3 and an unreachable island 9→10
    edge_list = [(0, 1), (1, 2), (2, 3), (3, 4), (0, 3), (9, 10)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r.node: r.dist for r in bfs_distances(edges, 0, max_hops=4).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 1, 4: 2}
    # hop bound truncates: with max_hops=1 only direct successors appear
    got1 = {r.node: r.dist for r in bfs_distances(edges, 0, max_hops=1).collect()}
    assert got1 == {0: 0, 1: 1, 3: 1}


def test_hits_rejects_zero_iterations(spark):
    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import hits

    edges = spark.createDataFrame([(1, 2)], ["src", "dst"])
    with pytest.raises(ValueError, match="n_iter"):
        hits(edges, n_iter=0)


def _kcore_reference(edge_list, k, rounds):
    """Pure-python synchronous peeling (fixed rounds)."""
    edges = set(edge_list) | {(b, a) for a, b in edge_list}
    for _ in range(rounds):
        deg = {}
        for s, _d in edges:
            deg[s] = deg.get(s, 0) + 1
        keep = {n for n, c in deg.items() if c >= k}
        edges = {(s, d) for s, d in edges if s in keep and d in keep}
    out = {}
    for s, _d in edges:
        out[s] = out.get(s, 0) + 1
    return out


def test_kcore_matches_reference(spark):
    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import k_core, symmetric_edges

    # 5-clique (4-core) + a tail 4-5-6 that peels away + an isolated pair
    clique = [(i, j) for i in range(5) for j in range(5) if i < j]
    edge_list = clique + [(4, 5), (5, 6), (20, 21)]
    pairs = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r.node: r.degree for r in k_core(symmetric_edges(pairs), 4, 3).collect()}
    assert got == _kcore_reference(edge_list, 4, 3)
    assert set(got) == {0, 1, 2, 3, 4} and all(d == 4 for d in got.values())
    # k=1, 0 rounds → the whole graph with raw degrees
    got0 = {r.node: r.degree for r in k_core(symmetric_edges(pairs), 1, 0).collect()}
    assert got0 == _kcore_reference(edge_list, 1, 0)


def test_kcore_converges_on_fixture(spark):
    """Enough rounds that one more round is a no-op — the fixed-round
    result IS the true k-core at the gate scale."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import k_core, symmetric_edges
    from advanced_technologies_of_china_graph_database_construction_spark.plans.analytics_queries import (
        K_CORE_K,
        K_CORE_ROUNDS,
        _copub_pairs,
    )

    edges = symmetric_edges(_copub_pairs(spark, SF_CORRECT))
    a = sorted(map(tuple, k_core(edges, K_CORE_K, K_CORE_ROUNDS).collect()))
    b = sorted(map(tuple, k_core(edges, K_CORE_K, K_CORE_ROUNDS + 1).collect()))
    assert a == b


def test_kcore_until_converged_deep_peel(spark):
    """A path graph peels one endpoint pair per round — far deeper than
    any fixed default — and its exact 2-core is empty; the converged
    mode must reach it, and must equal a generously-unrolled
    fixed-round run on a seeded random graph (the count potential is an
    exact witness because peeling only removes edges)."""
    import random

    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import k_core, symmetric_edges

    path = spark.createDataFrame([(i, i + 1) for i in range(12)], "src long, dst long")
    assert k_core(symmetric_edges(path), 2, until_converged=True).count() == 0

    rnd = random.Random(7)
    pairs = sorted({tuple(sorted((rnd.randrange(30), rnd.randrange(30)))) for _ in range(80)})
    pairs = [(a, b) for a, b in pairs if a != b]
    sym = symmetric_edges(spark.createDataFrame(pairs, "src long, dst long"))
    conv = sorted(map(tuple, k_core(sym, 4, until_converged=True).collect()))
    deep = sorted(map(tuple, k_core(sym, 4, n_rounds=40).collect()))
    assert conv == deep


def test_bfs_until_converged_matches_deep_unroll(spark):
    """Diameter 14 ≫ the default hop bound: converged distances must be
    the exact whole-path distances and equal a deep fixed unroll; a
    disconnected pair stays unreached (absent), not infinite-looped."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import bfs_distances, symmetric_edges

    edge_list = [(i, i + 1) for i in range(14)] + [(100, 101)]
    sym = symmetric_edges(spark.createDataFrame(edge_list, "src long, dst long"))
    conv = {r["node"]: r["dist"] for r in bfs_distances(sym, 0, until_converged=True).collect()}
    assert conv == {i: i for i in range(15)}
    deep = {r["node"]: r["dist"] for r in bfs_distances(sym, 0, max_hops=30).collect()}
    assert conv == deep


def test_adamic_adar_excludes_linked_pairs(spark):
    from advanced_technologies_of_china_graph_database_construction_spark.plans.analytics_queries import (
        _copub_pairs,
        g29_adamic_adar_links,
    )

    linked = {
        (r.src, r.dst) for r in _copub_pairs(spark, SF_CORRECT).collect()
    }
    for r in g29_adamic_adar_links(spark, SF_CORRECT).collect():
        assert (r.org1, r.org2) not in linked
        assert r.org1 < r.org2
        assert r.n_common >= 1 and r.aa_score > 0


def test_components_partition_the_node_set(spark):
    from advanced_technologies_of_china_graph_database_construction_spark.plans.analytics_queries import (
        _copub_pairs,
        g30_copub_components,
    )

    rows = g30_copub_components(spark, SF_CORRECT).collect()
    pairs = _copub_pairs(spark, SF_CORRECT)
    nodes = {
        r.n
        for r in pairs.selectExpr("src AS n").union(pairs.selectExpr("dst")).distinct().collect()
    }
    assert {r.org_id for r in rows} == nodes
    comp = {r.org_id: r.component for r in rows}
    # every component id is the min member of its own component
    for c in set(comp.values()):
        members = [n for n, cc in comp.items() if cc == c]
        assert min(members) == c
    # endpoints of every edge share a component
    for r in pairs.collect():
        assert comp[r.src] == comp[r.dst]


def test_weighted_pagerank_uniform_weights_match_unweighted(spark):
    """weight≡const must reproduce the unweighted ranks exactly, and a
    skewed weight must move rank toward the heavy edge's target."""
    from pyspark.sql import functions as F

    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import pagerank, symmetric_edges

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "src long, dst long"
    )
    sym = symmetric_edges(pairs).withColumn("w", F.lit(7.0))
    uni = {r["node"]: r["pagerank"] for r in pagerank(sym, 3).collect()}
    wuni = {r["node"]: r["pagerank"] for r in pagerank(sym, 3, weight="w").collect()}
    assert uni == wuni

    # node 1 splits rank between 2 and 3; weighting the 1->2 edge 9:1
    # must rank 2 above 3's unweighted share
    skew = symmetric_edges(pairs).withColumn(
        "w",
        F.when((F.col("src") == 1) & (F.col("dst") == 2), F.lit(9.0)).otherwise(
            F.lit(1.0)
        ),
    )
    wskew = {r["node"]: r["pagerank"] for r in pagerank(skew, 3, weight="w").collect()}
    assert wskew[2] > uni[2], (wskew, uni)


def test_weighted_pagerank_drops_nonpositive_and_null_weights(spark):
    """Zero/NULL weights must be dropped, not poison the ranks: a
    zero-weight out-edge set would yield 0/0 = NaN messages, and a NULL
    weight silently leaks mass (review-found, pinned).  An all-dropped
    node simply becomes dangling."""
    import math

    from pyspark.sql import functions as F

    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import pagerank

    rows = [(1, 2, 0.0), (1, 3, None), (2, 3, 5.0), (3, 1, 5.0)]
    df = spark.createDataFrame(rows, "src long, dst long, w double")
    got = {r["node"]: r["pagerank"] for r in pagerank(df, 3, weight="w").collect()}
    assert all(not math.isnan(v) for v in got.values()), got
    # node 1's edges all dropped -> same result as the graph without them
    clean = df.filter(F.col("src") != 1)
    want = {r["node"]: r["pagerank"] for r in pagerank(clean, 3, weight="w").collect()}
    assert got == want


def test_weighted_ppr_uniform_weights_match_unweighted(spark):
    from pyspark.sql import functions as F

    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import (
        personalized_pagerank,
        symmetric_edges,
    )

    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    sym = symmetric_edges(pairs).withColumn("w", F.lit(3.0))
    uni = {r["node"]: r["ppr"] for r in personalized_pagerank(sym, [1], 3).collect()}
    wuni = {
        r["node"]: r["ppr"]
        for r in personalized_pagerank(sym, [1], 3, weight="w").collect()
    }
    assert uni == wuni
    assert abs(sum(wuni.values()) - 1.0) < 1e-4


def _bellman_ford_ref(edges, source, rounds=None):
    """Python min-plus reference: rounds=None relaxes to fixpoint."""
    nodes = {u for u, _, _ in edges} | {v for _, v, _ in edges}
    dist = {n: (0.0 if n == source else None) for n in nodes}
    k = 0
    while rounds is None or k < rounds:
        changed = False
        nxt = dict(dist)
        for u, v, w in edges:
            if dist[u] is not None and (nxt[v] is None or dist[u] + w < nxt[v]):
                nxt[v] = dist[u] + w
                changed = True
        dist = nxt
        k += 1
        if rounds is None and not changed:
            break
    return {n: d for n, d in dist.items() if d is not None}


def test_weighted_sssp_matches_reference(spark):
    """Min-plus relaxation vs a Python Bellman-Ford on a graph where
    the cheap path has MORE hops than the direct edge (1→2→3→4 costs 3,
    direct 1→4 costs 10) — so the fixed-hop mode must improve across
    rounds and the weighted answer must differ from hop-count BFS."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import bfs_distances

    rows = [(1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0), (1, 4, 10.0), (4, 5, 2.0)]
    df = spark.createDataFrame(rows, "src long, dst long, w double")
    for hops in (1, 2, 4):
        got = {
            r["node"]: r["dist"]
            for r in bfs_distances(df, 1, max_hops=hops, weight="w").collect()
        }
        assert got == _bellman_ford_ref(rows, 1, rounds=hops), hops
    exact = {
        r["node"]: r["dist"]
        for r in bfs_distances(df, 1, until_converged=True, weight="w").collect()
    }
    assert exact == _bellman_ford_ref(rows, 1)
    assert exact[4] == 3.0 and exact[5] == 5.0  # cheap 3-hop beats direct edge


def test_weighted_sssp_drops_nonpositive_and_null_weights(spark):
    """NULL/non-positive weights are dropped up front (the pagerank
    guard): a zero-weight edge must not create a free path and a NULL
    must not poison least()."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import bfs_distances

    rows = [(1, 2, 2.0), (2, 3, 0.0), (2, 4, None), (2, 5, 1.0)]
    df = spark.createDataFrame(rows, "src long, dst long, w double")
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(df, 1, until_converged=True, weight="w").collect()
    }
    # 3 and 4 are unreachable once their only in-edges drop; 4 even
    # leaves the node set (its only incident edge was dropped)
    assert got == {1: 0.0, 2: 2.0, 5: 3.0}


def test_unweighted_bfs_unchanged_by_weight_generalization(spark):
    """weight=None keeps the original integer hop-count contract."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import bfs_distances

    rows = [(1, 2), (2, 3), (3, 4), (1, 4)]
    df = spark.createDataFrame(rows, "src long, dst long")
    got = {r["node"]: r["dist"] for r in bfs_distances(df, 1, max_hops=4).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 1}
    assert all(isinstance(v, int) for v in got.values())


def test_multi_source_bfs_matches_per_seed_runs(spark):
    """One joint superstep loop must equal k independent single-source
    BFS runs on a random graph — the correctness contract for carrying
    the seed as a payload column."""
    import random

    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import (
        bfs_distances,
        multi_source_bfs,
    )

    rng = random.Random(7)
    rows = list({(rng.randrange(30), rng.randrange(30)) for _ in range(80)})
    rows = [(a, b) for a, b in rows if a != b]
    df = spark.createDataFrame(rows, "src long, dst long")
    seeds = [0, 1, 2]
    got = {
        (r["seed"], r["node"]): r["dist"]
        for r in multi_source_bfs(df, seeds, max_hops=3).collect()
    }
    want = {}
    for s in seeds:
        for r in bfs_distances(df, s, max_hops=3).collect():
            want[(s, r["node"])] = r["dist"]
    assert got == want and len(got) > len(seeds)


@pytest.fixture
def cache_manager(spark):
    """The session's cache manager (``isEmpty()`` ⇔ no DataFrame is
    persisted; not ``getPersistentRDDs``, which also lists
    localCheckpoint blocks), cleared first so that an earlier test's
    leak cannot fail this one."""
    spark.catalog.clearCache()
    return spark._jsparkSession.sharedState().cacheManager()


def test_multi_source_bfs_dedups_and_validates_seeds(spark, cache_manager):
    """Duplicate seeds collapse to one frontier; an empty seed list or
    a NULL seed is a contract error, not a silent empty or phantom
    result."""
    import pytest as _pytest

    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import (
        multi_source_bfs,
    )

    df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    got = multi_source_bfs(df, [1, 1], max_hops=2).collect()
    assert {(r["seed"], r["node"]): r["dist"] for r in got} == {
        (1, 1): 0, (1, 2): 1, (1, 3): 2
    }
    with _pytest.raises(ValueError):
        multi_source_bfs(df, [], max_hops=2)
    # NULL seeds are caller bugs (the g33 rule): rejected before the
    # edge cache exists, not a phantom (NULL, NULL, 0) row
    for seeds in ([None, 1], [None]):
        with _pytest.raises(ValueError, match="non-NULL"):
            multi_source_bfs(df, seeds, max_hops=2)
    assert cache_manager.isEmpty()


def test_multi_source_bfs_equals_per_seed_bfs_on_random_graphs(spark):
    """The joint loop must return exactly the union of per-seed
    ``bfs_distances`` runs — the contract its docstring names — on
    random graphs, including an isolated seed and a max_hops horizon
    shorter than the graph's eccentricity (so both truncation
    behaviours align)."""
    import random

    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import (
        bfs_distances,
        multi_source_bfs,
    )

    for seed_val, hops in ((11, 3), (23, 2), (37, 5)):
        rng = random.Random(seed_val)
        rows = list({(rng.randrange(25), rng.randrange(25)) for _ in range(60)})
        rows = [(a, b) for a, b in rows if a != b]
        df = spark.createDataFrame(rows, "src long, dst long")
        seeds = [0, 3, 99]  # 99 is isolated: not in the 25-node id space
        got = {
            (r["seed"], r["node"]): r["dist"]
            for r in multi_source_bfs(df, seeds, max_hops=hops).collect()
        }
        want = {
            (s, r["node"]): r["dist"]
            for s in seeds
            for r in bfs_distances(df, s, max_hops=hops).collect()
        }
        assert got == want and (99, 99) in got


def test_bfs_null_source_raises_before_caching_edges(spark, cache_manager):
    """A NULL source is rejected before the edge cache exists, so the
    raise leaves nothing persisted in the session."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import (
        bfs_distances,
    )

    df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    with pytest.raises(ValueError, match="non-NULL"):
        bfs_distances(df, None)
    assert cache_manager.isEmpty()


# name → run(edges) for every operator whose loop reads a
# ``superstep.scatter_cache``
_SUPERSTEP_OPS = {
    "pagerank": lambda e: an.pagerank(e, n_iter=2, dangling="redistribute"),
    "personalized_pagerank": lambda e: an.personalized_pagerank(e, [1], n_iter=2),
    "label_propagation": lambda e: an.label_propagation(e, 2),
    "hits": lambda e: an.hits(e, 2),
    "bfs_distances": lambda e: an.bfs_distances(e, 1, 2),
    "bfs_distances_until_converged": lambda e: an.bfs_distances(e, 1, until_converged=True),
    "shortest_path_counts": lambda e: an.shortest_path_counts(e, 1, 2),
    "multi_source_bfs": lambda e: an.multi_source_bfs(e, [1, 3], 2),
    "brandes_dependencies": lambda e: an.brandes_dependencies(e, [1, 3], 2),
    "deterministic_walks": lambda e: deterministic_walks(
        e, e.selectExpr("src AS node").distinct(), 2
    ),
}


@pytest.mark.parametrize("op", list(_SUPERSTEP_OPS))
def test_superstep_operators_release_edge_cache(spark, cache_manager, monkeypatch, op):
    """Every superstep operator leaves the session's cache manager
    empty after a normal return AND after a superstep failure — a
    failure injected into ``localCheckpoint`` at the first and at the
    last checkpoint taken while an edge cache is live (for the nested
    operators the first hits the inner BFS, the last the outer loop)."""
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)], "src long, dst long"
    )
    run = _SUPERSTEP_OPS[op]
    cls = type(df)
    checkpoint = cls.localCheckpoint

    def patched(fail_at):
        calls = []

        def local_checkpoint(self, *args, **kwargs):
            if not cache_manager.isEmpty():
                calls.append(1)
                if len(calls) == fail_at:
                    raise RuntimeError("injected superstep failure")
            return checkpoint(self, *args, **kwargs)

        monkeypatch.setattr(cls, "localCheckpoint", local_checkpoint)
        return calls

    live = patched(fail_at=0)
    run(df).collect()
    assert cache_manager.isEmpty()
    assert live, "the loop never checkpointed under a live edge cache"
    for fail_at in sorted({1, len(live)}):
        patched(fail_at)
        with pytest.raises(RuntimeError, match="injected"):
            run(df).collect()
        assert cache_manager.isEmpty(), fail_at


def test_multi_source_bfs_isolated_seed_reports_itself(spark):
    """A seed absent from the edge list still yields (seed, seed, 0) —
    per-seed bfs_distances semantics — instead of silently emitting no
    rows for that seed (r6 review finding)."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import (
        multi_source_bfs,
    )

    df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    got = {
        (r["seed"], r["node"]): r["dist"]
        for r in multi_source_bfs(df, [1, 99], max_hops=2).collect()
    }
    assert got == {(1, 1): 0, (1, 2): 1, (1, 3): 2, (99, 99): 0}


def test_landmark_harmonic_folds_reciprocal_distances(spark):
    """On a path graph 0-1-2-3 with seeds {0, 3}: node 1 sees dists
    (1, 2) → harmonic 1.5; seeds see each other (dist 3) → 1/3."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import (
        multi_source_bfs,
        symmetric_edges,
    )

    from pyspark.sql import functions as F

    path = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    d = multi_source_bfs(symmetric_edges(path), [0, 3], max_hops=4)
    got = {
        r["node_id"]: (r["n_reached"], r["harmonic"])
        for r in d.filter(F.col("dist") > 0)
        .groupBy(F.col("node").alias("node_id"))
        .agg(
            F.count(F.lit(1)).alias("n_reached"),
            F.round(F.sum(F.lit(1.0) / F.col("dist")), 6).alias("harmonic"),
        )
        .collect()
    }
    assert got == {
        0: (1, round(1 / 3, 6)),
        1: (2, 1.5),
        2: (2, 1.5),
        3: (1, round(1 / 3, 6)),
    }


def test_ktruss_matches_python_reference(spark):
    """Synchronous 4-truss peeling on a graph with a clique (K4) plus a
    pendant bridge: the clique's edges survive (each in 2 triangles),
    the bridge and a dangling triangle's edges peel off."""
    import itertools

    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import k_truss

    # K4 on {0,1,2,3}; triangle {4,5,6}; bridge 3-4
    pairs = sorted(itertools.combinations(range(4), 2)) + [(4, 5), (4, 6), (5, 6), (3, 4)]
    df = spark.createDataFrame(pairs, "src long, dst long")

    def ref(edges, k, rounds):
        es = set(edges)
        for _ in range(rounds):
            adj = {}
            for u, v in es:
                adj.setdefault(u, set()).add(v)
                adj.setdefault(v, set()).add(u)
            sup = {(u, v): len(adj[u] & adj[v]) for u, v in es}
            es = {e for e in es if sup[e] >= k - 2}
        adj = {}
        for u, v in es:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        return {(u, v): len(adj[u] & adj[v]) for u, v in es}

    got = {(r["src"], r["dst"]): r["support"] for r in k_truss(df, 4, 2).collect()}
    assert got == ref(pairs, 4, 2)
    assert set(got) == set(itertools.combinations(range(4), 2))  # K4 only
    assert all(s == 2 for s in got.values())


def test_ktruss_dedups_duplicate_input_pairs(spark):
    """Duplicate (src,dst) rows must not multiply wedge-join support
    counts: a duplicated triangle edge would otherwise report inflated
    support and over-retain edges (r6 review finding)."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import k_truss

    tri = [(0, 1), (0, 2), (1, 2)]
    dup = spark.createDataFrame(tri + tri + [(0, 1)], "src long, dst long")
    got = {(r["src"], r["dst"]): r["support"] for r in k_truss(dup, 3, 2).collect()}
    assert got == {(0, 1): 1, (0, 2): 1, (1, 2): 1}


def test_ktruss_keeps_zero_support_edges_when_threshold_allows(spark):
    """k=2 means threshold support >= 0: a triangle-free path graph IS
    its own 2-truss, so every edge must survive with support 0 instead
    of silently vanishing through the wedge join."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import k_truss

    path = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    got = {(r["src"], r["dst"]): r["support"] for r in k_truss(path, 2, 2).collect()}
    assert got == {(0, 1): 0, (1, 2): 0}


# --------------------------------- strongly connected components --------


def _kosaraju(edge_list):
    """Reference SCC: iterative Kosaraju, component = min member id.
    Node set = EVERY input endpoint, self-loop-only nodes included as
    singletons (the operator's r12 universe contract)."""
    from collections import defaultdict

    g, rg, nodes = defaultdict(list), defaultdict(list), set()
    for a, b in edge_list:
        nodes.update((a, b))
        if a == b:
            continue
        g[a].append(b)
        rg[b].append(a)
    seen, order = set(), []
    for s in nodes:
        if s in seen:
            continue
        seen.add(s)
        stack = [(s, iter(g[s]))]
        while stack:
            u, it = stack[-1]
            for v in it:
                if v not in seen:
                    seen.add(v)
                    stack.append((v, iter(g[v])))
                    break
            else:
                order.append(u)
                stack.pop()
    comp = {}
    for s in reversed(order):
        if s in comp:
            continue
        members, stack = [s], [s]
        comp[s] = s
        while stack:
            u = stack.pop()
            for v in rg[u]:
                if v not in comp:
                    comp[v] = s
                    members.append(v)
                    stack.append(v)
        m = min(members)
        for x in members:
            comp[x] = m
    return comp


def _scc_of(spark, edge_list):
    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import (
        strongly_connected_components,
    )

    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edge_list], "src long, dst long"
    )
    return {r.node: r.component for r in strongly_connected_components(df).collect()}


def test_scc_known_structure(spark):
    # cycle {0,1,2}, cycle {3,4}, DAG tail 6→5→0, bridge 2→3 (forward
    # only — must NOT merge the cycles), self-loop 7 (its own singleton
    # SCC — every input endpoint gets a component, the r12 universe
    # contract), duplicate edge (exercises the distinct guard)
    edges = [(0, 1), (1, 2), (2, 0), (3, 4), (4, 3), (5, 0), (6, 5), (2, 3), (7, 7), (2, 0)]
    assert _scc_of(spark, edges) == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 5, 6: 6, 7: 7}


def test_scc_no_node_orphaned_by_simultaneous_trim(spark):
    """r12 regression (found in review): a node whose EVERY neighbor is
    trimmed in the same round loses all its edges at once, vanishes from
    the next degree frame, and was silently dropped from the output —
    the pure 3-path's middle node is the minimal case.  The same leak
    hits a node whose only edges led into an assigned-and-peeled SCC.
    Every input endpoint must come back, each here a singleton."""
    # (a) middle of a pure path: 1 (no in) and 3 (no out) trim together
    assert _scc_of(spark, [(1, 2), (2, 3)]) == {1: 1, 2: 2, 3: 3}
    # (b) both neighbors of 2 trimmed in one round, longer chain
    assert _scc_of(spark, [(0, 1), (1, 2), (2, 3), (3, 4)]) == {
        0: 0, 1: 1, 2: 2, 3: 3, 4: 4,
    }
    # (c) node 9's only edge leads into a cycle that assigns and peels
    assert _scc_of(spark, [(9, 1), (1, 2), (2, 1)]) == {9: 9, 1: 1, 2: 1}


def test_scc_single_big_cycle_and_pure_dag(spark):
    n = 12
    ring = [(i, (i + 1) % n) for i in range(n)]
    assert set(_scc_of(spark, ring).values()) == {0}
    dag = [(i, j) for i in range(6) for j in range(i + 1, 6)]
    assert _scc_of(spark, dag) == {i: i for i in range(6)}


def test_scc_matches_kosaraju_on_random_graphs(spark):
    import random

    # dense (mostly one big SCC) AND sparse (mostly paths/trees — the
    # regime where the r12 trim-orphan leak lived; dense graphs almost
    # never produce a node whose whole neighborhood trims at once)
    for seed, n_edges in ((0, 60), (1, 60), (2, 60), (3, 18), (4, 18), (5, 12)):
        rnd = random.Random(seed)
        edges = {(rnd.randrange(24), rnd.randrange(24)) for _ in range(n_edges)}
        edges = [(a, b) for a, b in edges if a != b]
        assert _scc_of(spark, edges) == _kosaraju(edges), f"seed={seed}"


def test_scc_backstop_raises_not_truncates(spark):
    # a chain of cycles with DESCENDING ids ({8,9} → {4,5} → {0,1}):
    # the upstream max id colors every downstream SCC, so each round
    # peels exactly one layer — three rounds needed; trim removes
    # nothing (every node sits on a cycle).  With max_outer=1 the
    # operator must REFUSE rather than return a partial labeling.
    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import (
        strongly_connected_components,
    )

    chain = [(8, 9), (9, 8), (9, 4), (4, 5), (5, 4), (5, 0), (0, 1), (1, 0)]
    df = spark.createDataFrame(chain, "src long, dst long")
    with pytest.raises(RuntimeError, match="max_outer"):
        strongly_connected_components(df, max_outer=1)
    full = {r.node: r.component for r in strongly_connected_components(df).collect()}
    assert full == {8: 8, 9: 8, 4: 4, 5: 4, 0: 0, 1: 0}


def test_ppr_rejects_null_seed_and_g33_empty_graph_yields_zero_rows(spark):
    """The r12 sf0.1 replica incident: the thresholded co-publication
    graph is empty at sf0.1, min(src) is NULL, and a NULL seed
    fabricated a phantom (NULL, teleport-mass) row where the oracle's
    empty node set yields none.  Two pins: the operator refuses NULL
    seeds outright, and the g33 spec returns a typed EMPTY frame on an
    empty graph."""
    from pyspark.sql import functions as F

    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import (
        personalized_pagerank,
    )
    from advanced_technologies_of_china_graph_database_construction_spark.plans.analytics_queries import (
        g33_weighted_copub_ppr,
    )

    edges = spark.createDataFrame([], "src long, dst long, w long")
    with pytest.raises(ValueError, match="non-NULL"):
        personalized_pagerank(edges, [edges.agg(F.min("src")).first()[0]], weight="w")
    # monkeypatch-free empty-graph drive: a corpus slice with no
    # co-publication pairs above threshold is exactly sf0.1; the sf0.01
    # fixture's graph is non-empty, so synthesize the empty case by
    # checking the guard's output contract directly
    out = g33_weighted_copub_ppr(spark, SF_CORRECT)
    assert [f.name for f in out.schema.fields] == ["org_id", "ppr"]


def test_kcore_matches_reference_on_random_graphs(spark):
    """r12 hardening (the SCC lesson): structured fixtures mask leak
    shapes that random SPARSE graphs hit — run the synchronous peeling
    against the python reference on random dense AND sparse pair sets."""
    import random

    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import (
        k_core,
        symmetric_edges,
    )

    for seed, n_pairs, k in ((0, 40, 3), (1, 40, 2), (2, 12, 2), (3, 12, 3)):
        rnd = random.Random(seed)
        pairs = {tuple(sorted((rnd.randrange(16), rnd.randrange(16)))) for _ in range(n_pairs)}
        pairs = [(a, b) for a, b in pairs if a != b]
        df = spark.createDataFrame(pairs, "src long, dst long")
        got = {r.node: r.degree for r in k_core(symmetric_edges(df), k, 3).collect()}
        assert got == _kcore_reference(pairs, k, 3), f"seed={seed} k={k}"


def _ktruss_reference(edges, k, rounds):
    es = set(edges)
    for _ in range(rounds):
        adj = {}
        for u, v in es:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        sup = {(u, v): len(adj[u] & adj[v]) for u, v in es}
        es = {e for e in es if sup[e] >= k - 2}
    adj = {}
    for u, v in es:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    return {(u, v): len(adj[u] & adj[v]) for u, v in es}


def test_ktruss_matches_reference_on_random_graphs(spark):
    import random

    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import k_truss

    for seed, n_pairs, k in ((0, 45, 4), (1, 45, 3), (2, 14, 3), (3, 14, 4)):
        rnd = random.Random(100 + seed)
        pairs = {tuple(sorted((rnd.randrange(14), rnd.randrange(14)))) for _ in range(n_pairs)}
        pairs = sorted((a, b) for a, b in pairs if a != b)
        df = spark.createDataFrame(pairs, "src long, dst long")
        got = {(r["src"], r["dst"]): r["support"] for r in k_truss(df, k, 2).collect()}
        assert got == _ktruss_reference(pairs, k, 2), f"seed={seed} k={k}"


def test_g27_g34_empty_graph_yield_typed_zero_rows(spark, monkeypatch):
    """The r13 sf0.1 replica find — the same incident class as g33 one
    round later: the thresholded co-publication graph is EMPTY at
    sf0.1, min(src) is NULL, and the r12 NULL-source guard in
    bfs_distances turned both reach specs into a ValueError where the
    oracle's empty node set yields zero rows.  Both specs now return a
    typed empty frame on an empty graph (exercised for real by
    monkeypatching the edge builders empty)."""
    from advanced_technologies_of_china_graph_database_construction_spark.plans import (
        analytics_queries as aq,
    )

    empty_pairs = spark.createDataFrame([], "src long, dst long")
    empty_weighted = spark.createDataFrame([], "src long, dst long, w long")
    monkeypatch.setattr(aq, "_copub_pairs", lambda s, d: empty_pairs)
    monkeypatch.setattr(aq, "_sym_weighted_copub_edges", lambda s, d: empty_weighted)

    g27 = aq.g27_reach_distances(spark, SF_CORRECT)
    assert g27.schema.simpleString() == "struct<org_id:bigint,dist:int>"
    assert g27.count() == 0
    g34 = aq.g34_weighted_reach_distances(spark, SF_CORRECT)
    assert g34.schema.simpleString() == "struct<org_id:bigint,dist:double>"
    assert g34.count() == 0


def test_triangle_count_matches_bruteforce_on_random_graphs(spark):
    """r13 hardening (the k-core/SCC random-graph discipline applied to
    the one analytics face that had only positivity/bound pins): exact
    triangle counts vs itertools brute force on random pair sets —
    sparse, dense, and with a few isolated nodes."""
    import itertools
    import random as _random

    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import (
        triangle_count,
    )

    for seed, n, m in ((0, 12, 30), (1, 9, 16), (2, 15, 60), (3, 20, 25)):
        rnd = _random.Random(seed)
        pairs: set = set()
        while len(pairs) < m:
            a, b = rnd.randrange(n), rnd.randrange(n)
            if a != b:
                pairs.add((min(a, b), max(a, b)))
        expect = sum(
            1
            for x, y, z in itertools.combinations(range(n), 3)
            if (x, y) in pairs and (y, z) in pairs and (x, z) in pairs
        )
        df = spark.createDataFrame(sorted(pairs), "src long, dst long")
        got = triangle_count(df).first()["n_triangles"]
        assert got == expect, (seed, got, expect)


def test_label_propagation_matches_python_on_random_graphs(spark):
    """r13 hardening: synchronous LPA vs a python reference on random
    directed AND symmetrized graphs — exact contract replay (init
    label=v, per round each node takes its IN-neighbors' most frequent
    label, ties to the smallest, no-inbound keeps its current label)."""
    import random as _random
    from collections import Counter

    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import (
        label_propagation,
    )

    def ref(edge_list, n_iter):
        nodes = sorted({v for e in edge_list for v in e})
        inn = {v: [] for v in nodes}
        for s, d in edge_list:
            inn[d].append(s)
        labels = {v: v for v in nodes}
        for _ in range(n_iter):
            new = {}
            for v in nodes:
                msgs = [labels[s] for s in inn[v]]
                if not msgs:
                    new[v] = labels[v]
                else:
                    c = Counter(msgs)
                    new[v] = min(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            labels = new
        return labels

    for seed, n, m, sym in ((0, 14, 35, True), (1, 10, 20, False), (2, 18, 50, True), (3, 8, 24, False)):
        rnd = _random.Random(seed)
        pairs: set = set()
        while len(pairs) < m:
            a, b = rnd.randrange(n), rnd.randrange(n)
            if a != b:
                pairs.add((a, b))
        edge_list = sorted(pairs | {(b, a) for a, b in pairs}) if sym else sorted(pairs)
        df = spark.createDataFrame(edge_list, "src long, dst long")
        got = {r["node"]: r["label"] for r in label_propagation(df, n_iter=3).collect()}
        assert got == ref(edge_list, 3), (seed, sym)


def test_hits_matches_python_on_random_graphs(spark):
    """r13 hardening: fixed-iteration HITS (deferred normalization) vs
    an exact python replay on random directed graphs — auth from
    current hubs, hubs from the NEW auths, one final L1 normalize,
    round 6."""
    import random as _random

    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import (
        hits,
    )

    def ref(edge_list, n_iter):
        nodes = sorted({v for e in edge_list for v in e})
        hub = {v: 1.0 for v in nodes}
        auth = {v: 0.0 for v in nodes}
        for _ in range(n_iter):
            auth = {v: sum(hub[s] for s, d in edge_list if d == v) for v in nodes}
            hub = {v: sum(auth[d] for s, d in edge_list if s == v) for v in nodes}
        hs, as_ = sum(hub.values()), sum(auth.values())
        return {
            v: (round(hub[v] / hs, 6), round(auth[v] / as_, 6)) for v in nodes
        }

    for seed, n, m in ((0, 12, 30), (1, 8, 14), (2, 16, 48)):
        rnd = _random.Random(seed)
        pairs: set = set()
        while len(pairs) < m:
            a, b = rnd.randrange(n), rnd.randrange(n)
            if a != b:
                pairs.add((a, b))
        df = spark.createDataFrame(sorted(pairs), "src long, dst long")
        got = {
            r["node"]: (r["hub"], r["authority"]) for r in hits(df, n_iter=3).collect()
        }
        exp = ref(sorted(pairs), 3)
        assert set(got) == set(exp)
        for v in exp:
            assert got[v][0] == pytest.approx(exp[v][0], abs=2e-6), (seed, v)
            assert got[v][1] == pytest.approx(exp[v][1], abs=2e-6), (seed, v)


def test_pagerank_matches_python_on_random_graphs(spark):
    """r13 hardening: fixed-iteration PageRank vs an exact python
    replay on random directed graphs — drop AND redistribute dangling
    modes, unweighted and weighted; init 1/n, msg = rank*w/outdeg,
    rank' = (1-d)/n + d*(dangling_mass/n if redistribute) + d*sum,
    round 6 at the end."""
    import random as _random

    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import (
        pagerank,
    )

    def ref(edge_list, n_iter, damping, dangling, weights=None):
        w = weights or {e: 1.0 for e in edge_list}
        nodes = sorted({v for e in edge_list for v in e})
        n = len(nodes)
        outw = {v: sum(w[(s, d)] for s, d in edge_list if s == v) for v in nodes}
        rank = {v: 1.0 / n for v in nodes}
        for _ in range(n_iter):
            sums = {v: 0.0 for v in nodes}
            for s, d in edge_list:
                sums[d] += rank[s] * w[(s, d)] / outw[s]
            dm = sum(rank[v] for v in nodes if outw[v] == 0)
            extra = damping * dm / n if dangling == "redistribute" else 0.0
            rank = {
                v: (1.0 - damping) / n + extra + damping * sums[v] for v in nodes
            }
        return {v: round(r, 6) for v, r in rank.items()}

    for seed, n, m in ((0, 12, 28), (1, 9, 15), (2, 15, 45)):
        rnd = _random.Random(seed)
        pairs: set = set()
        while len(pairs) < m:
            a, b = rnd.randrange(n), rnd.randrange(n)
            if a != b:
                pairs.add((a, b))
        edge_list = sorted(pairs)
        weights = {e: float(rnd.randint(1, 9)) for e in edge_list}
        udf_ = spark.createDataFrame(edge_list, "src long, dst long")
        wdf = spark.createDataFrame(
            [(s, d, weights[(s, d)]) for s, d in edge_list], "src long, dst long, w double"
        )
        for mode in ("drop", "redistribute"):
            got = {
                r["node"]: r["pagerank"]
                for r in pagerank(udf_, n_iter=3, dangling=mode).collect()
            }
            exp = ref(edge_list, 3, 0.85, mode)
            assert set(got) == set(exp), (seed, mode)
            for v in exp:
                assert got[v] == pytest.approx(exp[v], abs=2e-6), (seed, mode, v)
        gotw = {
            r["node"]: r["pagerank"]
            for r in pagerank(wdf, n_iter=3, dangling="redistribute", weight="w").collect()
        }
        expw = ref(edge_list, 3, 0.85, "redistribute", weights)
        for v in expw:
            assert gotw[v] == pytest.approx(expw[v], abs=2e-6), (seed, "weighted", v)


def test_personalized_pagerank_matches_python_on_random_graphs(spark):
    """r13 hardening: PPR vs an exact python replay on random directed
    graphs — init rank = seed distribution r, rank' = (1-d)*r +
    d*(sum_msgs + dangling_mass*r), multiple seeds (one isolated),
    unweighted and weighted."""
    import random as _random

    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import (
        personalized_pagerank,
    )

    def ref(edge_list, seeds, n_iter, damping, weights=None):
        w = weights or {e: 1.0 for e in edge_list}
        nodes = sorted({v for e in edge_list for v in e} | set(seeds))
        r = {v: (1.0 / len(seeds) if v in seeds else 0.0) for v in nodes}
        outw = {v: sum(w[(s, d)] for s, d in edge_list if s == v) for v in nodes}
        rank = dict(r)
        for _ in range(n_iter):
            sums = {v: 0.0 for v in nodes}
            for s, d in edge_list:
                sums[d] += rank[s] * w[(s, d)] / outw[s]
            dm = sum(rank[v] for v in nodes if outw[v] == 0)
            rank = {
                v: (1.0 - damping) * r[v] + damping * (sums[v] + dm * r[v])
                for v in nodes
            }
        return {v: round(x, 6) for v, x in rank.items()}

    for seed_i, n, m in ((0, 12, 28), (1, 9, 15), (2, 15, 45)):
        rnd = _random.Random(seed_i)
        pairs: set = set()
        while len(pairs) < m:
            a, b = rnd.randrange(n), rnd.randrange(n)
            if a != b:
                pairs.add((a, b))
        edge_list = sorted(pairs)
        weights = {e: float(rnd.randint(1, 9)) for e in edge_list}
        seeds = [0, 1, n + 100]  # n+100 is isolated: holds its teleport share
        udf_ = spark.createDataFrame(edge_list, "src long, dst long")
        wdf = spark.createDataFrame(
            [(s, d, weights[(s, d)]) for s, d in edge_list], "src long, dst long, w double"
        )
        got = {
            r_["node"]: r_["ppr"]
            for r_ in personalized_pagerank(udf_, seeds, n_iter=3).collect()
        }
        exp = ref(edge_list, seeds, 3, 0.85)
        assert set(got) == set(exp), seed_i
        for v in exp:
            assert got[v] == pytest.approx(exp[v], abs=2e-6), (seed_i, v)
        gotw = {
            r_["node"]: r_["ppr"]
            for r_ in personalized_pagerank(wdf, seeds, n_iter=3, weight="w").collect()
        }
        expw = ref(edge_list, seeds, 3, 0.85, weights)
        for v in expw:
            assert gotw[v] == pytest.approx(expw[v], abs=2e-6), (seed_i, "w", v)


# ------------------------- r14 new faces: g41-g45 python references -------


def test_g41_construction_matches_union_find(spark):
    """The g41 chain-block graph's closed-form oracle, validated by an
    INDEPENDENT python union-find over the same integer-arithmetic edge
    construction — so the spec's Spark-vs-DuckDB equality can never be
    two engines agreeing on the wrong algebra — and the spec output
    (the driver_threshold=0 distributed path) must match it exactly."""
    from advanced_technologies_of_china_graph_database_construction_spark.plans.analytics_queries import (
        CC_BLOCK,
        CC_MERGE_RESIDUE,
        g41_distributed_components,
    )

    n_docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet").count()
    big_n = n_docs // CC_BLOCK * CC_BLOCK
    edges = [(d, d - 1) for d in range(big_n) if d % CC_BLOCK]
    edges += [
        (d, d - CC_BLOCK)
        for d in range(0, big_n, CC_BLOCK)
        if (d // CC_BLOCK) % 16 == CC_MERGE_RESIDUE
    ]
    parent = list(range(big_n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    uf = {d: find(d) for d in range(big_n)}
    closed_form = {
        d: (d // CC_BLOCK - (1 if (d // CC_BLOCK) % 16 == CC_MERGE_RESIDUE else 0))
        * CC_BLOCK
        for d in range(big_n)
    }
    assert uf == closed_form  # the oracle's algebra, independently proved
    got = {
        r["node"]: r["component"]
        for r in g41_distributed_components(spark, SF_CORRECT).collect()
    }
    assert got == closed_form


def test_g42_ppmi_matches_python_reference(spark):
    """g42's PPMI arithmetic replayed in pure python from the collected
    walk corpus (pair windowing, marginals, the 4T constant, the ≥2
    support filter) — engine-independent, unlike the SQL oracle which
    shares the corpus CTE text."""
    import math
    from collections import Counter

    from advanced_technologies_of_china_graph_database_construction_spark.plans.analytics_queries import (
        PPMI_MIN_COOC,
        PPMI_WINDOW,
        g40_walk_corpus,
        g42_walk_ppmi_collocations,
    )

    corpus = g40_walk_corpus(spark, SF_CORRECT).collect()
    walks: dict = {}
    for r in corpus:
        walks.setdefault(r["walk_id"], {})[r["step"]] = r["node"]
    pc: Counter = Counter()
    for steps in walks.values():
        for s, u in steps.items():
            for d in range(1, PPMI_WINDOW + 1):
                v = steps.get(s + d)
                if v is not None and v != u:
                    pc[(min(u, v), max(u, v))] += 1
    t = sum(pc.values())
    marg: Counter = Counter()
    for (u, v), c in pc.items():
        marg[u] += c
        marg[v] += c
    expect = {
        (u, v): (
            c,
            round(max(math.log(4.0 * t * c / (marg[u] * marg[v])), 0.0), 6),
        )
        for (u, v), c in pc.items()
        if c >= PPMI_MIN_COOC
    }
    got = {
        (r["node1"], r["node2"]): (r["n_cooc"], r["ppmi"])
        for r in g42_walk_ppmi_collocations(spark, SF_CORRECT).collect()
    }
    assert set(got) == set(expect)
    for k, (c, p) in expect.items():
        assert got[k][0] == c, k
        assert got[k][1] == pytest.approx(p, abs=2e-6), k


def test_g43_embedding_ann_matches_numpy_reference(spark):
    """g43's walks→hashed-embedding→cosine-top-10 chain replayed with
    numpy dense vectors from the collected corpus: same bucket hash,
    ln(1+c) damping, (max count, min id) query election, density
    filter, and (rounded cos desc, id) ordering."""
    import math
    from collections import Counter

    import numpy as np

    from advanced_technologies_of_china_graph_database_construction_spark.plans.analytics_queries import (
        EMB_BUCKETS,
        EMB_MIN_BUCKETS,
        EMB_TOP_K,
        PPMI_WINDOW,
        g40_walk_corpus,
        g43_walk_embedding_ann,
    )

    corpus = g40_walk_corpus(spark, SF_CORRECT).collect()
    walks: dict = {}
    for r in corpus:
        walks.setdefault(r["walk_id"], {})[r["step"]] = r["node"]
    hw: Counter = Counter()
    for steps in walks.values():
        for s, u in steps.items():
            for d in range(-PPMI_WINDOW, PPMI_WINDOW + 1):
                if d == 0:
                    continue
                v = steps.get(s + d)
                if v is not None and v != u:
                    hw[(u, v % EMB_BUCKETS)] += 1
    vecs: dict = {}
    for (tok, bucket), c in hw.items():
        vecs.setdefault(tok, np.zeros(EMB_BUCKETS))[bucket] += 0  # ensure key
        vecs[tok][bucket] = math.log(1.0 + c)
    mtot: Counter = Counter()
    for (tok, _), c in hw.items():
        mtot[tok] += c
    qt = min(mtot, key=lambda k: (-mtot[k], k))
    qv = vecs[qt]
    scored = []
    for tok, v in vecs.items():
        if tok == qt or np.count_nonzero(v) < EMB_MIN_BUCKETS:
            continue
        cos = float(v @ qv / (np.linalg.norm(v) * np.linalg.norm(qv)))
        scored.append((round(cos, 6), tok))
    scored.sort(key=lambda x: (-x[0], x[1]))
    expect = [(tok, cos) for cos, tok in scored[:EMB_TOP_K]]
    got = [
        (r["node_id"], r["cos_sim"])
        for r in g43_walk_embedding_ann(spark, SF_CORRECT).collect()
    ]
    assert [t for t, _ in got] == [t for t, _ in expect]
    for (tg, cg), (te, ce) in zip(got, expect):
        assert cg == pytest.approx(ce, abs=2e-6), (tg, te)


def test_g44_fixpoint_matches_python_bfs(spark):
    """g44's converged distances vs a plain python BFS over the
    collected symmetric doc↔keyword graph — and the whole-graph
    eccentricity stays under G44_ORACLE_DEPTH with margin, so the
    oracle's unroll depth is proven, not assumed."""
    from collections import deque

    from advanced_technologies_of_china_graph_database_construction_spark.plans.analytics_queries import (
        G44_ORACLE_DEPTH,
        _citation_edges,
        g44_reach_fixpoint,
    )

    edges = _citation_edges(spark, SF_CORRECT).collect()
    adj: dict = {}
    for r in edges:
        adj.setdefault(r["src"], []).append(r["dst"])
        adj.setdefault(r["dst"], []).append(r["src"])
    source = min(r["src"] for r in edges)
    dist = {source: 0}
    dq = deque([source])
    while dq:
        u = dq.popleft()
        for v in adj[u]:
            if v not in dist:
                dist[v] = dist[u] + 1
                dq.append(v)
    assert max(dist.values()) < G44_ORACLE_DEPTH  # unroll-depth margin
    got = {
        r["node_id"]: r["dist"] for r in g44_reach_fixpoint(spark, SF_CORRECT).collect()
    }
    assert got == dist


def test_g45_estimator_matches_python_reference(spark):
    """g45's every shipped number replayed in python from the collected
    co-publication pairs: the seeded edge hash, both triangle counts
    (itertools over adjacency sets), and the 8× scale-up identity."""
    from advanced_technologies_of_china_graph_database_construction_spark.plans.analytics_queries import (
        TRI_HASH_MOD,
        TRI_KEEP_LT,
        TRI_KNUTH,
        g45_sampled_triangles,
    )

    pairs = {
        (r["src"], r["dst"]) for r in _copub_pairs(spark, SF_CORRECT).collect()
    }

    def keep(e):
        folded = ((e[0] % TRI_HASH_MOD) * 31 + (e[1] % TRI_HASH_MOD)) % TRI_HASH_MOD
        return folded * TRI_KNUTH % TRI_HASH_MOD < TRI_KEEP_LT

    sampled = {e for e in pairs if keep(e)}

    def tri_count(es):
        nbr: dict = {}
        for a, b in es:
            nbr.setdefault(a, set()).add(b)
        return sum(
            1
            for a, b in es
            for c in nbr.get(b, ())
            if c in nbr.get(a, ())
        )

    row = g45_sampled_triangles(spark, SF_CORRECT).first()
    assert row["n_edges"] == len(pairs)
    assert row["n_sampled"] == len(sampled)
    assert row["exact_triangles"] == tri_count(pairs)
    assert row["sampled_triangles"] == tri_count(sampled)
    assert row["est_triangles"] == row["sampled_triangles"] * 8.0
    assert 0 < row["n_sampled"] < row["n_edges"]  # the sample is real


def test_g46_pca_contract_matches_numpy_reference(spark):
    """g46's shipped facts and theorem booleans replayed with a dense
    numpy covariance + eigensolve over the collected walk vectors —
    independent of both pca.py's Gram fold and the SQL oracle."""
    import numpy as np

    from advanced_technologies_of_china_graph_database_construction_spark.plans.analytics_queries import (
        _walk_hashed_vecs,
        g46_walk_embedding_pca,
    )

    x = np.array(
        [r["emb"] for r in _walk_hashed_vecs(spark, SF_CORRECT).collect()]
    )
    cov = np.cov(x, rowvar=False, bias=True)
    lam = float(np.linalg.eigvalsh(cov)[-1])
    row = g46_walk_embedding_pca(spark, SF_CORRECT).first()
    assert row["n"] == x.shape[0]
    assert row["trace"] == pytest.approx(float(np.trace(cov)), abs=1e-3)
    assert row["top_dim_var"] == pytest.approx(float(np.max(np.diag(cov))), abs=1e-3)
    assert lam >= float(np.max(np.diag(cov))) - 1e-12  # the Rayleigh theorem
    assert row["pc1_captures_top_dim"] is True
    assert row["explained_ratio_valid"] is True
    assert row["projection_realizes_lambda1"] is True


def test_g44_empty_graph_yields_typed_zero_rows(spark, monkeypatch):
    """g44's None-source guard, exercised for real (the g27/g34
    discipline): the citation base table is non-empty by fixture
    contract, but the guard must still short-circuit to a typed empty
    frame — not a ValueError from bfs_distances — if the edge builder
    ever returns nothing."""
    from advanced_technologies_of_china_graph_database_construction_spark.plans import (
        analytics_queries as aq,
    )

    empty_edges = spark.createDataFrame([], "src long, dst long")
    monkeypatch.setattr(aq, "_citation_edges", lambda s, d: empty_edges)
    g44 = aq.g44_reach_fixpoint(spark, SF_CORRECT)
    assert g44.schema.simpleString() == "struct<node_id:bigint,dist:int>"
    assert g44.count() == 0


def test_g47_sigma_matches_python_reference(spark):
    """g47's σ accumulation replayed in pure python (BFS layers +
    predecessor-count sum) from the collected citation edges —
    independent of both the operator's layer joins and the SQL
    oracle's CTE unroll."""
    from collections import deque

    from advanced_technologies_of_china_graph_database_construction_spark.plans.analytics_queries import (
        MAX_HOPS,
        _citation_edges,
        g47_shortest_path_counts,
    )

    edges = _citation_edges(spark, SF_CORRECT).collect()
    adj: dict = {}
    for r in edges:
        adj.setdefault(r["src"], set()).add(r["dst"])
        adj.setdefault(r["dst"], set()).add(r["src"])
    source = min(r["src"] for r in edges)
    dist = {source: 0}
    sigma = {source: 1}
    dq = deque([source])
    while dq:
        u = dq.popleft()
        if dist[u] >= MAX_HOPS:
            continue
        for v in adj[u]:
            if v not in dist:
                dist[v] = dist[u] + 1
                sigma[v] = 0
                dq.append(v)
            if dist[v] == dist[u] + 1:
                sigma[v] += sigma[u]
    expect = {n: (dist[n], sigma[n]) for n in dist}
    got = {
        r["node_id"]: (r["dist"], r["sigma"])
        for r in g47_shortest_path_counts(spark, SF_CORRECT).collect()
    }
    assert got == expect


def test_g47_sigma_known_diamond(spark):
    """σ on a known diamond-with-tail: two shortest paths merge at the
    sink and extend — the multiplicity arithmetic pinned exactly."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import (
        shortest_path_counts,
        symmetric_edges,
    )

    #     1
    #   /   \
    #  0     3 - 4      plus a direct long way 0-5-6-3 (not shortest)
    #   \   /
    #     2
    df = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4), (0, 5), (5, 6), (6, 3)],
        "src long, dst long",
    )
    got = {
        r["node"]: (r["dist"], r["sigma"])
        for r in shortest_path_counts(symmetric_edges(df), 0, 4).collect()
    }
    assert got == {
        0: (0, 1),
        1: (1, 1),
        2: (1, 1),
        5: (1, 1),
        3: (2, 2),  # two shortest paths (via 1 and via 2); 0-5-6-3 is longer
        6: (2, 1),
        4: (3, 2),  # both inherit through 3
    }


def test_g48_supergraph_matches_python_lpa_replay(spark):
    """g48 replayed fully in python: synchronous LPA (the gated g23
    contract — in-neighbor majority, ties smallest, isolated keeps own)
    over the collected co-publication pairs, then the contraction
    aggregation; also pins the partition property (edge/weight totals
    conserved)."""
    from collections import Counter

    from advanced_technologies_of_china_graph_database_construction_spark.plans.analytics_queries import (
        N_ITER,
        _copub_pairs,
        g48_community_supergraph,
    )

    pairs = [(r["src"], r["dst"], r["shared"]) for r in _copub_pairs(spark, SF_CORRECT).collect()]
    sym = [(a, b) for a, b, _ in pairs] + [(b, a) for a, b, _ in pairs]
    nodes = {a for a, _ in sym} | {b for _, b in sym}
    label = {n: n for n in nodes}
    for _ in range(N_ITER):
        nxt = {}
        inbound: dict = {}
        for a, b in sym:
            inbound.setdefault(b, []).append(label[a])
        for n in nodes:
            labs = inbound.get(n)
            if not labs:
                nxt[n] = label[n]
            else:
                c = Counter(labs)
                nxt[n] = min(c, key=lambda l: (-c[l], l))
        label = nxt
    expect: dict = {}
    for a, b, w in pairs:
        k = (min(label[a], label[b]), max(label[a], label[b]))
        n, t = expect.get(k, (0, 0))
        expect[k] = (n + 1, t + w)
    rows = g48_community_supergraph(spark, SF_CORRECT).collect()
    got = {(r["comm1"], r["comm2"]): (r["n_edges"], r["total_shared"]) for r in rows}
    assert got == expect
    # contraction conserves edges and weight
    assert sum(n for n, _ in got.values()) == len(pairs)
    assert sum(t for _, t in got.values()) == sum(w for _, _, w in pairs)


def _brandes_ref(edge_list, seed_ids, max_hops):
    """Pure-python hop-bounded Brandes (forward σ + backward δ) —
    independent of both the operator's layer joins and the SQL
    oracle's CTE unroll."""
    from collections import deque

    adj: dict = {}
    for a, b in edge_list:
        adj.setdefault(a, set()).add(b)
    out = {}
    for s in seed_ids:
        dist = {s: 0}
        sigma = {s: 1}
        order = [s]
        dq = deque([s])
        while dq:
            u = dq.popleft()
            if dist[u] >= max_hops:
                continue
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    sigma[v] = 0
                    dq.append(v)
                    order.append(v)
                if dist[v] == dist[u] + 1:
                    sigma[v] += sigma[u]
        delta = {v: 0.0 for v in dist}
        # accumulate over directed edges v→w with dist(v) = dist(w) - 1,
        # deepest layers first (order is non-decreasing in dist)
        for w in reversed(order):
            for v_cand, outs in adj.items():
                if w in outs and v_cand in dist and dist[v_cand] == dist[w] - 1:
                    delta[v_cand] += sigma[v_cand] / sigma[w] * (1.0 + delta[w])
        for v in dist:
            out[(s, v)] = (dist[v], sigma[v], delta[v])
    return out


def test_brandes_delta_known_diamond(spark):
    """δ on the g47 diamond-with-tail, every value pinned by hand:
    node 3 carries both merged shortest paths onward to 4 (δ=1), the
    two diamond arms and the long-way entry each relay one unit
    (δ=1), and the source aggregates 2 per branch (δ=6)."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import (
        brandes_dependencies,
        symmetric_edges,
    )

    df = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4), (0, 5), (5, 6), (6, 3)],
        "src long, dst long",
    )
    got = {
        r["node"]: (r["dist"], r["sigma"], round(r["delta"], 9))
        for r in brandes_dependencies(symmetric_edges(df), [0], 4).collect()
    }
    assert got == {
        0: (0, 1, 6.0),  # Σ over 1,2,5: 1·(1+1) each
        1: (1, 1, 1.0),  # relays half of 3's two paths: (1/2)·(1+1)
        2: (1, 1, 1.0),
        5: (1, 1, 1.0),  # sole path to 6: 1·(1+0)
        3: (2, 2, 1.0),  # both paths extend to 4: (2/2)·(1+0)
        6: (2, 1, 0.0),  # no successor at dist 3 (3 is at dist 2)
        4: (3, 2, 0.0),  # deepest layer
    }


def test_brandes_matches_python_on_random_graphs(spark):
    """The random-reference discipline applied to the backward pass:
    exact (dist, σ) and δ (to 1e-9) vs the pure-python Brandes on
    random directed AND symmetrized graphs, multiple seeds, including
    hop-bound truncation (hops below the graph diameter)."""
    import random as _random

    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import (
        brandes_dependencies,
        symmetric_edges,
    )

    for seed, n, m, hops in ((0, 14, 30, 3), (1, 10, 18, 4), (2, 22, 70, 2)):
        rnd = _random.Random(seed)
        pairs: set = set()
        while len(pairs) < m:
            a, b = rnd.randrange(n), rnd.randrange(n)
            if a != b:
                pairs.add((a, b))
        edge_list = sorted(pairs)
        seeds = sorted({a for a, _ in edge_list})[:3]
        df = spark.createDataFrame(edge_list, "src long, dst long")
        for label, frame, elist in (
            ("directed", df, edge_list),
            ("sym", symmetric_edges(df), edge_list + [(b, a) for a, b in edge_list]),
        ):
            expect = {
                k: (d, s, round(dl, 9))
                for k, (d, s, dl) in _brandes_ref(elist, seeds, hops).items()
            }
            got = {
                (r["seed"], r["node"]): (r["dist"], r["sigma"], round(r["delta"], 9))
                for r in brandes_dependencies(frame, seeds, hops).collect()
            }
            assert got == expect, (seed, label)


def test_g49_matches_python_reference(spark):
    """The full g49 plan (per-seed δ summed into the landmark
    betweenness estimate, seeds' own rows excluded) replayed in pure
    python from the collected citation edges."""
    from advanced_technologies_of_china_graph_database_construction_spark.plans.analytics_queries import (
        MAX_HOPS,
        N_SEEDS,
        _citation_edges,
        g49_landmark_betweenness,
    )

    edges = [(r["src"], r["dst"]) for r in _citation_edges(spark, SF_CORRECT).collect()]
    sym = edges + [(b, a) for a, b in edges]
    seeds = sorted({a for a, _ in edges})[:N_SEEDS]
    per_seed = _brandes_ref(sym, seeds, MAX_HOPS)
    expect: dict = {}
    for (s, v), (d, sg, dl) in per_seed.items():
        if v == s:
            continue
        n, st, bt = expect.get(v, (0, 0, 0.0))
        expect[v] = (n + 1, st + sg, bt + dl)
    expect = {v: (n, st, round(bt, 6)) for v, (n, st, bt) in expect.items()}
    got = {
        r["node_id"]: (r["n_seeds"], r["sigma_total"], r["betweenness"])
        for r in g49_landmark_betweenness(spark, SF_CORRECT).collect()
    }
    assert set(got) == set(expect)
    for v in expect:
        en, es, eb = expect[v]
        gn, gs, gb = got[v]
        assert (gn, gs) == (en, es), v
        assert abs(gb - eb) < 1e-6, (v, gb, eb)


def test_louvain_gain_matches_python_on_random_graphs(spark):
    """The refine pass replayed in pure python on random weighted
    graphs with random coarse initial labels: exact (old_label,
    new_label, gain) for every node — integer gain arithmetic, argmax
    tie-break to the smallest community, no-candidate nodes keep their
    label with NULL gain."""
    import random as _random
    from collections import defaultdict

    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import (
        louvain_refine_pass,
    )

    for seed in (11, 23, 47):
        rng = _random.Random(seed)
        n, m = 30, 70
        pw: dict = {}
        while len(pw) < m:
            a, b = rng.randrange(n), rng.randrange(n)
            if a != b:
                pw[(min(a, b), max(a, b))] = rng.randrange(1, 9)
        nodes = sorted({x for p in pw for x in p})
        label = {v: rng.choice(nodes[:6]) for v in nodes}
        sym: dict = defaultdict(dict)
        for (a, b), w in pw.items():
            sym[a][b] = w
            sym[b][a] = w
        tw2 = sum(w for d in sym.values() for w in d.values())
        s = {v: sum(sym[v].values()) for v in nodes}
        s_c: dict = defaultdict(int)
        for v in nodes:
            s_c[label[v]] += s[v]
        expect = {}
        for v in nodes:
            k_vc: dict = defaultdict(int)
            for u, w in sym[v].items():
                k_vc[label[u]] += w
            a = label[v]
            k_va = k_vc.get(a, 0)
            cands = [
                (tw2 * (k_vb - k_va) - s[v] * (s[v] + s_c[bl] - s_c[a]), -bl, bl)
                for bl, k_vb in k_vc.items()
                if bl != a
            ]
            if cands:
                g, _, bl = max(cands)
                expect[v] = (a, bl if g > 0 else a, g)
            else:
                expect[v] = (a, a, None)
        wed = [(a, b, w) for (a, b), w in pw.items()] + [
            (b, a, w) for (a, b), w in pw.items()
        ]
        wdf = spark.createDataFrame(wed, "src long, dst long, w long")
        ldf = spark.createDataFrame(sorted(label.items()), "node long, label long")
        got = {
            r["node"]: (r["old_label"], r["new_label"], r["gain"])
            for r in louvain_refine_pass(wdf, ldf).collect()
        }
        assert got == expect, seed


def test_g50_accounting_matches_python_replay(spark):
    """g50 replayed fully in python: the gated LPA rounds (g48's
    replay), one synchronous gain round, then every accounting integer
    and both modularity values — independent of the operator's joins
    and the SQL oracle."""
    from collections import Counter, defaultdict

    from advanced_technologies_of_china_graph_database_construction_spark.plans.analytics_queries import (
        N_ITER,
        _copub_pairs,
        g50_louvain_refine,
    )

    pw = {
        (r["src"], r["dst"]): r["shared"]
        for r in _copub_pairs(spark, SF_CORRECT).collect()
    }
    sym_unw = [(a, b) for a, b in pw] + [(b, a) for a, b in pw]
    nodes = sorted({x for p in pw for x in p})
    label = {v: v for v in nodes}
    for _ in range(N_ITER):
        inbound: dict = {}
        for a, b in sym_unw:
            inbound.setdefault(b, []).append(label[a])
        nxt = {}
        for v in nodes:
            labs = inbound.get(v)
            if not labs:
                nxt[v] = label[v]
            else:
                c = Counter(labs)
                nxt[v] = min(c, key=lambda l: (-c[l], l))
        label = nxt
    symw: dict = defaultdict(dict)
    for (a, b), w in pw.items():
        symw[a][b] = w
        symw[b][a] = w
    tw2 = sum(w for d in symw.values() for w in d.values())
    s = {v: sum(symw[v].values()) for v in nodes}
    s_c: dict = defaultdict(int)
    for v in nodes:
        s_c[label[v]] += s[v]
    new_label = {}
    n_moved = 0
    sum_pos_gain = 0
    for v in nodes:
        k_vc: dict = defaultdict(int)
        for u, w in symw[v].items():
            k_vc[label[u]] += w
        a = label[v]
        k_va = k_vc.get(a, 0)
        cands = [
            (tw2 * (k_vb - k_va) - s[v] * (s[v] + s_c[bl] - s_c[a]), -bl, bl)
            for bl, k_vb in k_vc.items()
            if bl != a
        ]
        if cands and max(cands)[0] > 0:
            g, _, bl = max(cands)
            new_label[v] = bl
            n_moved += 1
            sum_pos_gain += g
        else:
            new_label[v] = a

    def accounting(lab):
        intra = sum(w for (a, b), w in pw.items() if lab[a] == lab[b])
        sc: dict = defaultdict(int)
        for v in nodes:
            sc[lab[v]] += s[v]
        sumsq = sum(x * x for x in sc.values())
        q = round(2.0 * intra / tw2 - sumsq / (tw2 * 1.0 * tw2), 6)
        return intra, sumsq, len(set(lab.values())), q

    ib, qb_sq, ncb, qb = accounting(label)
    ia, qa_sq, nca, qa = accounting(new_label)
    rows = g50_louvain_refine(spark, SF_CORRECT).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (
        r["w2_total"],
        r["n_moved"],
        r["sum_pos_gain"],
        r["n_comms_before"],
        r["n_comms_after"],
        r["intra_before"],
        r["intra_after"],
        r["sumsq_before"],
        r["sumsq_after"],
    ) == (tw2, n_moved, sum_pos_gain, ncb, nca, ib, ia, qb_sq, qa_sq)
    assert r["q_before"] == qb and r["q_after"] == qa
    # the refinement story this face exists for: on the sf0.01 fixture
    # the synchronous round strictly RAISES modularity (a fixture fact,
    # not a theorem — simultaneous moves can conflict in general)
    assert r["n_moved"] > 0
    assert r["q_after"] > r["q_before"]


def test_g51_auc_matches_python_replay(spark):
    """g51 replayed in pure python from the gated g40 corpus and the
    collected citation edges: context counts, top-K vocabulary
    election, integer sparse-dot scores, Mann-Whitney concordance, and
    the tie-aware AUC — independent of the plan's joins and the SQL
    oracle."""
    from collections import defaultdict

    from advanced_technologies_of_china_graph_database_construction_spark.plans.analytics_queries import (
        EMB_BUCKETS,
        EMB_EVAL_K,
        PPMI_WINDOW,
        _citation_edges,
        g40_walk_corpus,
        g51_embedding_link_auc,
    )

    walks: dict = defaultdict(dict)
    for r in g40_walk_corpus(spark, SF_CORRECT).collect():
        walks[r["walk_id"]][r["step"]] = r["node"]
    counts: dict = defaultdict(lambda: defaultdict(int))
    for _, steps in walks.items():
        for sa, tok in steps.items():
            for sb, ctx in steps.items():
                if 1 <= abs(sb - sa) <= PPMI_WINDOW and tok != ctx:
                    counts[tok][ctx % EMB_BUCKETS] += 1
    vocab = sorted(counts, key=lambda t: (-sum(counts[t].values()), t))[:EMB_EVAL_K]
    edges = {
        (r["src"], r["dst"]) for r in _citation_edges(spark, SF_CORRECT).collect()
    }
    pos_scores, neg_scores = [], []
    sum_pos = sum_neg = 0
    for i, u in enumerate(sorted(vocab)):
        for v in sorted(vocab)[i + 1 :]:
            score = sum(counts[u][b] * counts[v].get(b, 0) for b in counts[u])
            if (u, v) in edges:
                pos_scores.append(score)
                sum_pos += score
            else:
                neg_scores.append(score)
                sum_neg += score
    conc = sum(1 for p in pos_scores for n in neg_scores if p > n)
    tied = sum(1 for p in pos_scores for n in neg_scores if p == n)
    P, N = len(pos_scores), len(neg_scores)
    assert P > 0 and N > 0  # fixture fact the spec's guard relies on
    rows = g51_embedding_link_auc(spark, SF_CORRECT).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (
        r["n_pos"],
        r["n_neg"],
        r["n_concordant"],
        r["n_tied"],
        r["sum_pos_score"],
        r["sum_neg_score"],
    ) == (P, N, conc, tied, sum_pos, sum_neg)
    assert r["auc"] == round((conc + 0.5 * tied) / (P * 1.0 * N), 6)
    assert 0.0 <= r["auc"] <= 1.0


def test_sigma_matches_python_on_random_graphs(spark):
    """The r13 random-reference discipline (structured fixtures mask
    leak shapes) applied to shortest_path_counts: exact σ vs a python
    layered BFS on random directed AND symmetrized graphs, including
    nodes unreachable within the hop budget and multi-predecessor
    merges."""
    import random as _random
    from collections import deque

    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import (
        shortest_path_counts,
        symmetric_edges,
    )

    def ref(edge_list, source, max_hops):
        adj: dict = {}
        for a, b in edge_list:
            adj.setdefault(a, set()).add(b)
        dist = {source: 0}
        sigma = {source: 1}
        dq = deque([source])
        while dq:
            u = dq.popleft()
            if dist[u] >= max_hops:
                continue
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    sigma[v] = 0
                    dq.append(v)
                if dist[v] == dist[u] + 1:
                    sigma[v] += sigma[u]
        return {n: (dist[n], sigma[n]) for n in dist}

    for seed, n, m, hops in ((0, 14, 30, 3), (1, 10, 18, 4), (2, 22, 70, 4)):
        rnd = _random.Random(seed)
        pairs: set = set()
        while len(pairs) < m:
            a, b = rnd.randrange(n), rnd.randrange(n)
            if a != b:
                pairs.add((a, b))
        edge_list = sorted(pairs)
        df = spark.createDataFrame(edge_list, "src long, dst long")
        # directed
        got = {
            r["node"]: (r["dist"], r["sigma"])
            for r in shortest_path_counts(df, 0, hops).collect()
        }
        assert got == ref(edge_list, 0, hops), (seed, "directed")
        # symmetrized
        sym_list = edge_list + [(b, a) for a, b in edge_list]
        got_s = {
            r["node"]: (r["dist"], r["sigma"])
            for r in shortest_path_counts(symmetric_edges(df), 0, hops).collect()
        }
        assert got_s == ref(sym_list, 0, hops), (seed, "sym")
