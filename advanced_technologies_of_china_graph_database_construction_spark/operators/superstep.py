"""Superstep scaffolding shared by the iterative graph operators in
``analytics``, ``connected_components`` and ``walks`` — each decision
below is made here once instead of by hand in every loop:

- ``scatter_cache``: the iteration-invariant |E| frame, hash-partitioned
  on the loop's scatter key and cached for the loop's life;
- ``settle``: a converging round's materialization and its convergence
  witness, read in one Spark action.  It also serves size witnesses:
  the ER and dedup pair finders (``er``, ``dedup``) settle the frame a
  broadcast gate sizes and read its row count from the same action;
- ``restrict``: an edge frame cut to (or away from) a node set on both
  endpoints;
- ``valid_edges``: the edge guard every operator applies up front —
  no NULL endpoint, and no NULL, NaN or non-positive weight;
- ``node_set``: the vertex set ``src ∪ dst (∪ extra ids)``, never NULL.

Fixed-round loops read no witness, so they cut lineage with a plain
``localCheckpoint(eager=True)`` per round.

Every loop checks its inputs BEFORE entering ``scatter_cache``: a
validation error raised after the cache exists but outside its
``with`` block would pin |E| in the block manager for the session's
life.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


@contextmanager
def scatter_cache(edges: DataFrame, key: str = "src") -> Iterator[DataFrame]:
    """``edges`` hash-partitioned by ``key``, persisted and materialized
    before the loop body runs, and unpersisted on exit — also when a
    superstep fails (OOM, task abort), so |E| never stays pinned.

    Every round's edges⋈vector join on ``key`` then reuses the cached
    layout: only the |V|-sized vector shuffles per round, never the |E|
    side.

    The frame is PERSISTED, not localCheckpointed: under AQE,
    ``localCheckpoint`` wraps the result in a LogicalRDD whose output
    partitioning is ``UnknownPartitioning`` (the AdaptiveSparkPlanExec
    parent hides the final plan's partitioning at capture time —
    measured on this build's Spark: every checkpointed repartition
    variant reports Unknown, and the in-loop join then RE-EXCHANGED the
    |E| side each iteration, defeating the hoist).  An InMemoryRelation
    keeps the cached plan's partitioning visible to EnsureRequirements,
    so the loop join inserts no edge-side exchange
    (`tests/test_plan_quality.py` pins the exchange-free edge side of a
    live in-loop iteration plan).  Lineage growth — the reason each
    ITERATED vector must checkpoint — doesn't apply here: the edge
    frame is built once and only read in the loop.

    Frames the loop returns must not read the cache after exit:
    checkpoint every superstep result, as every caller does."""
    cached = edges.repartition(key).persist()
    try:
        cached.count()  # materialize the cache before the loop reads it
        yield cached
    finally:
        cached.unpersist()


def settle(frame: DataFrame, *witness: Column) -> tuple[DataFrame, tuple]:
    """(``frame`` localCheckpointed, the values of the ``witness``
    aggregates over it) — a converging round's state and its
    convergence witness (a changed count, a frontier size, a
    fingerprint) from ONE Spark action.

    The witness is an observed metric of the eager checkpoint action
    itself (``DataFrame.observe``): the round's final stage folds the
    aggregates while it stores the checkpoint blocks, so nothing scans
    the blocks a second time.  Spark applies a result task's
    accumulator update once per partition, so the witness stays exact
    under task retries.  Measured on a one-shuffle groupBy frame
    (4 cores, Spark jobs / listed stages): eager checkpoint then
    ``count()`` 4 / 6; a lazy checkpoint materialized by
    ``agg(*witness).first()`` 3 / 6 (AQE runs the aggregate as a
    map-stage job plus a result job, and the checkpoint is marked done
    only after the second, so both list the frame's whole upstream
    lineage); ``settle`` 2 / 3.  Fixed-round loops have no witness to
    read and keep a plain eager checkpoint."""
    seen = Observation()
    names = [f"__witness{i}" for i in range(len(witness))]
    frame = frame.observe(seen, *(w.alias(n) for w, n in zip(witness, names)))
    frame = frame.localCheckpoint(eager=True)
    values = seen.get
    return frame, tuple(values[n] for n in names)


def restrict(edges: DataFrame, nodes: DataFrame, how: str = "left_semi") -> DataFrame:
    """``edges`` whose src AND dst are both in (``how="left_semi"``) or
    both not in (``"left_anti"``) the ``node`` column of ``nodes`` — the
    two-leg semi/anti-join that peels a graph to its surviving or its
    unassigned vertices.  Columns keep ``edges``' order."""
    return (
        edges.join(nodes.withColumnRenamed("node", "src"), "src", how)
        .join(nodes.withColumnRenamed("node", "dst"), "dst", how)
        .select(*edges.columns)
    )


def valid_edges(edges: DataFrame, weight: str | None = None) -> DataFrame:
    """``edges`` without the rows that are no edge: a NULL ``src`` or
    ``dst`` (NULL is no node, so an edge that touches it would count
    toward a real node's degree and send it messages), and, when
    ``weight`` names a column, a weight that is NULL, NaN or ≤ 0.  A
    zero-weight tie is no tie; a zero weighted out-degree yields
    0/0 = NaN rank messages, a NULL weight leaks its node's rank mass or
    propagates NULL distances, and a non-positive weight breaks min-plus
    termination.  A node whose every edge drops leaves the graph."""
    keep = F.col("src").isNotNull() & F.col("dst").isNotNull()
    if weight:
        keep &= (
            F.col(weight).isNotNull()
            & ~F.isnan(F.col(weight).cast("double"))
            # NaN compares GREATER than every double in Spark SQL, so a
            # literal NaN weight passes `> 0` and poisons every
            # downstream rank/distance (r12 review)
            & (F.col(weight) > 0)
        )
    return edges.filter(keep)


def node_set(edges: DataFrame, *extra: DataFrame) -> DataFrame:
    """Distinct non-NULL (node) over the edge endpoints ``src ∪ dst``,
    plus the ``node`` column of each ``extra`` frame (ids that own a row
    even without an edge, e.g. an isolated seed)."""
    nodes = edges.select(F.col("src").alias("node")).unionByName(
        edges.select(F.col("dst").alias("node"))
    )
    for ids in extra:
        nodes = nodes.unionByName(ids)
    return nodes.filter(F.col("node").isNotNull()).distinct()
