"""Distributed connected components over an edge DataFrame.

This is the cluster-closure step of the reference's entity resolution:
DBSCAN with ``min_samples=2`` over an ε-ball cosine graph is exactly
single-link transitive closure (`keyword_merger.py:186-201`; SURVEY.md
§2.9 M2) — i.e. connected components of the similarity graph.

Implementation: alternating **large-star / small-star** (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC 2014) expressed as
DataFrame joins/aggregations.  Converges in O(log² n) rounds regardless
of component diameter — the property that matters at 100 TB, where plain
min-label propagation needs O(diameter) shuffles over the full edge set.
Each round is two shuffles on node id; each round's edge set is
localCheckpointed together with its convergence fingerprint
(``superstep.settle``) to keep plans flat.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .superstep import settle


def _large_star(edges: DataFrame) -> DataFrame:
    # For each node u, connect every strictly-larger neighbor v to
    # min(N(u) ∪ {u}).
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    m = sym.groupBy("src").agg(F.least(F.min("dst"), F.first("src")).alias("mn"))
    nbrs = sym.join(m, "src")
    return (
        nbrs.filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    # Orient edges to point to the smaller endpoint; for each node u,
    # connect all smaller-or-equal neighbors to the minimum one.
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    m = oriented.groupBy("src").agg(F.min("dst").alias("mn"))
    nbrs = oriented.join(m, "src")
    out = nbrs.select(F.col("dst").alias("src"), F.col("mn").alias("dst")).union(
        m.select(F.col("src"), F.col("mn").alias("dst"))
    )
    return out.filter(F.col("src") != F.col("dst")).distinct()


def _settle(edges: DataFrame) -> tuple[DataFrame, tuple]:
    # ``edges`` checkpointed with its order-insensitive set fingerprint
    # (count, XOR of 64-bit row hash) read in the same action.  The edge
    # set is distinct, so XOR cancellation can't hide changes; equal
    # fingerprints ⇒ equal edge sets w.h.p. — one cheap aggregate
    # instead of two exceptAll shuffles per round. XOR (unlike sum)
    # cannot overflow under ANSI mode.
    return settle(edges, F.count(F.lit(1)), F.bit_xor(F.xxhash64("src", "dst")))


def _driver_union_find(spark, edges_pdf) -> DataFrame:
    """Driver-side closure over a pandas edge frame (collected via Arrow
    — a (src, dst) int64 frame is ~16 B/edge, vs ~100+ B/edge for py4j
    Row objects, so the driver-memory budget math holds as stated).

    r16: the per-edge interpreted union-find loop (measured ~3 s at the
    p03 rebuild's 940k-edge graph) is replaced by vectorized hash-min
    with pointer jumping (Shiloach–Vishkin shape, numpy end to end):
    each round folds every edge's endpoint-label minimum into both
    endpoints (``np.minimum.at``) and then fully path-compresses
    (``label = label[label]`` to fixpoint).  Labels only decrease and
    every round at least halves the label-tree height of each live
    component, so convergence is O(log n) rounds of O(|E|) vector work.
    Node index order = sorted id order, so the converged label index IS
    the component's min id — the same min-id contract the loop had."""
    import numpy as np
    import pandas as pd

    src = edges_pdf["src"].to_numpy(dtype=np.int64)
    dst = edges_pdf["dst"].to_numpy(dtype=np.int64)
    nodes = np.unique(np.concatenate([src, dst])) if len(src) else np.empty(0, np.int64)
    s = np.searchsorted(nodes, src)
    d = np.searchsorted(nodes, dst)
    label = np.arange(len(nodes), dtype=np.int64)
    while True:
        m = np.minimum(label[s], label[d])
        before = label.copy()
        np.minimum.at(label, s, m)
        np.minimum.at(label, d, m)
        while True:  # full path compression
            nl = label[label]
            if np.array_equal(nl, label):
                break
            label = nl
        if np.array_equal(label, before):
            break
    pdf = pd.DataFrame({"id": nodes, "component": nodes[label]})
    # explicit schema: an EMPTY edge set (legitimate — e.g. a delta batch
    # whose edges were all intra-component) must yield an empty frame,
    # not a CANNOT_INFER_EMPTY_SCHEMA error
    return spark.createDataFrame(pdf, "id long, component long")


def connected_components(
    edges: DataFrame, max_iter: int = 25, driver_threshold: int = 2_000_000
) -> DataFrame:
    """Return (id, component) where component = min node id reachable.

    ``edges`` needs columns (src, dst); direction is ignored. Nodes that
    appear in no edge are absent — callers union isolated nodes back in
    (see er.canonical_mapping).

    Adaptive execution: similarity graphs after an ε-threshold join are
    usually a small fraction of the input (alias pairs, not the corpus),
    so edge sets at/below ``driver_threshold`` (≈32 MB at 2M edges) are
    closed with a driver-side union-find — exact, one collect, no
    iterative shuffles.  Larger graphs use alternating large-star/
    small-star contraction, whose round count is O(log² n) regardless of
    component diameter.  Pass ``driver_threshold=0`` to force the
    distributed path (g41 and the property tests do).

    Measured crossover on g41's chain-block graph (4-core VM, jobs and
    stages from ``bench._job_cost``, min of 3 runs): at sf0.01 (442
    edges) the driver path takes 3 jobs / 4 stages and 0.53 s against
    the distributed path's 60 / 112–116 and 7.31 s; at sf0.1 (4,919
    edges) 3 / 4 and 0.53 s against 62 / 128–130 and 7.63 s.  The driver
    path wins at every size the fixtures reach; the distributed path is
    kept for edge sets past what one driver can hold.

    :func:`incremental_components` is this same kernel run on the
    contracted delta graph, so full and delta closure share one path.
    """
    cur, prev_sig = _settle(
        edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    if driver_threshold and prev_sig[0] <= driver_threshold:  # [0]: edge count
        return _driver_union_find(edges.sparkSession, cur.toPandas())
    for _ in range(max_iter):
        ss, sig = _settle(_small_star(_large_star(cur)))
        # Converged when a full large-star/small-star round leaves the
        # edge set unchanged (it is then a star forest rooted at minima).
        # The fingerprint is a cheap pre-check; on a match, confirm with
        # ONE exact set comparison (runs once per call, so a fingerprint
        # collision can delay convergence detection but never silently
        # return wrong components).  Both sets are distinct and the
        # fingerprint already matched counts, so one-sided containment
        # implies equality.
        if sig == prev_sig and ss.exceptAll(cur).isEmpty():
            break
        cur, prev_sig = ss, sig
    else:
        # the star extraction below is only meaningful on a converged
        # star forest — falling through would return plausible-looking
        # WRONG labels (the SCC backstop rule: raise, never truncate)
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} "
            f"large-star/small-star rounds — raise max_iter (round count "
            f"is O(log² n), so this is a pathological input, not a "
            f"livelock)"
        )
    # After convergence edges form stars (node -> component min).
    comp = cur.groupBy("src").agg(F.min("dst").alias("component"))
    roots = cur.select(F.col("dst").alias("src")).distinct().join(comp, "src", "left_anti")
    result = comp.select(F.col("src").alias("id"), "component").union(
        roots.select(F.col("src").alias("id"), F.col("src").alias("component"))
    )
    return result


def incremental_components(
    mapping: DataFrame, new_edges: DataFrame, **cc_kwargs
) -> DataFrame:
    """Maintain a components mapping under EDGE INSERTS: given the
    (id, component) mapping of a previous :func:`connected_components`
    run and a batch of new edges, return the mapping of the grown graph
    — O(|delta| + |affected components|) work instead of the full
    recompute (the d39/e21 incremental-maintenance argument applied to
    graph closure; the natural consumer is the ER pipeline folding a
    delta vocabulary batch's similarity pairs into standing clusters).

    Contraction argument: project each new edge's endpoints onto their
    CURRENT component labels (identity for nodes the mapping has never
    seen), drop edges that land inside one component, and run CC on the
    contracted delta graph — whose nodes are component labels, so its
    size is bounded by 2·|delta|, never |V|.  Labels are component MIN
    ids, so the contracted CC's min over merged labels IS the global
    min node id of each merged component — the relabel preserves the
    operator's min-id contract exactly (a brand-new node with a
    smaller id than every old member becomes the new label, same as a
    recompute would elect).

    Scale shape: the |V| mapping is never shuffled — it is scanned
    twice with delta-sized BROADCAST probes (once to look up touched
    endpoints, once to relabel through the merged result); everything
    that shuffles is delta-sized.  Equality with the full recompute is
    property-tested on random graph/delta splits.
    """
    m = mapping.select("id", "component")
    e = (
        new_edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)  # consumed 3× (endpoints, projection)
    )
    endpoints = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    # delta-sized lookup: mapping scan probed by a broadcast of the
    # delta's endpoints — the mapping side never shuffles
    touched = m.join(F.broadcast(endpoints), "id").localCheckpoint(eager=True)
    lk_src = F.broadcast(
        touched.select(F.col("id").alias("src"), F.col("component").alias("csrc"))
    )
    lk_dst = F.broadcast(
        touched.select(F.col("id").alias("dst"), F.col("component").alias("cdst"))
    )
    contracted = (
        e.join(lk_src, "src", "left")
        .join(lk_dst, "dst", "left")
        .select(
            F.coalesce("csrc", F.col("src")).alias("src"),
            F.coalesce("cdst", F.col("dst")).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))  # intra-component: no-op
    )
    merged = connected_components(contracted, **cc_kwargs)
    # nodes the delta introduced: identity rows join the mapping first,
    # then relabel through the merged contraction like everyone else.
    # Anti-join against TOUCHED (= mapping ⋉ endpoints, delta-sized and
    # already materialized), not the |V| mapping id column — the latter
    # degrades to a |V| id shuffle once it outgrows the broadcast cap.
    new_nodes = endpoints.join(
        F.broadcast(touched.select("id")), "id", "left_anti"
    ).select("id", F.col("id").alias("component"))
    relabel = F.broadcast(
        merged.select(F.col("id").alias("component"), F.col("component").alias("__new"))
    )
    return (
        m.unionByName(new_nodes)
        .join(relabel, "component", "left")
        .select("id", F.coalesce("__new", F.col("component")).alias("component"))
    )
