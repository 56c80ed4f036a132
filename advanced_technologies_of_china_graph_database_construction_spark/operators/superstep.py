"""Superstep scaffolding shared by the iterative graph operators in
``analytics`` and ``walks`` — each decision below is made here once
instead of by hand in every loop:

- ``scatter_cache``: the iteration-invariant |E| frame, hash-partitioned
  on the loop's scatter key and cached for the loop's life;
- ``positive_weights``: the edge-weight validity guard;
- ``node_set``: the vertex set ``src ∪ dst (∪ extra ids)``.

Every loop checks its inputs BEFORE entering ``scatter_cache``: a
validation error raised after the cache exists but outside its
``with`` block would pin |E| in the block manager for the session's
life.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame
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


def positive_weights(edges: DataFrame, weight: str | None) -> DataFrame:
    """``edges`` without the rows whose ``weight`` is NULL, NaN or ≤ 0
    (unchanged when ``weight`` is None).  A zero-weight tie is no tie; a
    zero weighted out-degree yields 0/0 = NaN rank messages, a NULL
    weight leaks its node's rank mass or propagates NULL distances, and
    a non-positive weight breaks min-plus termination.  A node whose
    every edge drops leaves the graph."""
    if not weight:
        return edges
    return edges.filter(
        F.col(weight).isNotNull()
        & ~F.isnan(F.col(weight).cast("double"))
        # NaN compares GREATER than every double in Spark SQL, so a
        # literal NaN weight passes `> 0` and poisons every
        # downstream rank/distance (r12 review)
        & (F.col(weight) > 0)
    )


def node_set(edges: DataFrame, *extra: DataFrame) -> DataFrame:
    """Distinct (node) over the edge endpoints ``src ∪ dst``, plus the
    ``node`` column of each ``extra`` frame (ids that own a row even
    without an edge, e.g. an isolated seed)."""
    nodes = edges.select(F.col("src").alias("node")).unionByName(
        edges.select(F.col("dst").alias("node"))
    )
    for ids in extra:
        nodes = nodes.unionByName(ids)
    return nodes.distinct()
