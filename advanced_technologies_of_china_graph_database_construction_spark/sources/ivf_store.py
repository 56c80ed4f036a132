"""Partitioned IVF store: the inverted-file ANN layout at rest.

`operators.similarity.ivf_topk` computes coarse-quantizer assignments on
the fly; at 100 TB the assignment IS the storage layout — vectors are
written `partitionBy("centroid_id")`, so probing nprobe buckets reads
nprobe partition directories and Spark's partition pruning does the
bucket selection (verify with `.explain`: `dynamicpruning` in the
vectors scan's PartitionFilters).  Centroid vectors are persisted
alongside so search never re-derives the quantizer from data.

Search shares its probe and rank steps with the in-memory path
(`similarity.ivf_probes`, `similarity.ivf_rank`); only the stored
assignment stands in for the computed one.

Same store discipline as the graph store (`sources.graph_store`):
idempotent overwrite writes, search reads only the store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.kmeans import assign_to_centroids
from ..operators.similarity import ivf_probes, ivf_rank


def write_ivf_store(
    emb: DataFrame,
    root: str,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Assign every vector to its nearest centroid and cluster the
    dataset by that assignment on disk.  ``centroids`` (centroid_id,
    cv) is the quantizer — ``operators/kmeans.seed_centroids`` or a
    trained ``kmeans_centroids`` (the a04 composition, persisted)."""
    centroids.write.mode("overwrite").parquet(f"{root}/centroids")
    # assign from the PERSISTED centroids: a trained quantizer (Lloyd
    # iterations) must run once, not once more per downstream reference
    cent = emb.sparkSession.read.parquet(f"{root}/centroids")
    assign = assign_to_centroids(emb, cent, id_col, vec_col).select(
        id_col, "centroid_id"
    )
    (
        emb.join(assign, id_col)
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(f"{root}/vectors")
    )


def ivf_topk_batch(
    spark: SparkSession,
    root: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, sim, rank) — same contract as
    `similarity.ivf_topk`, with candidates read from the stored
    buckets.  ``queries`` is a DataFrame (query_id, qv), so a 10⁶-row
    offline batch runs as one distributed plan with NO driver
    round-trip.

    Its one step of its own is bucket pruning: a broadcast LEFT SEMI
    join of the vectors scan against the DISTINCT probed bucket ids — a
    set bounded by the CENTROID count (≤C rows however many queries
    there are), which dynamic partition pruning turns into a partition
    filter on the ``partitionBy("centroid_id")`` store (verify:
    `dynamicpruning` inside the scan's PartitionFilters).  ``ivf_rank``'s
    join on ``centroid_id`` then lets Catalyst/AQE pick broadcast vs
    shuffle by the probe side's size; at 100 TB the shuffle join on the
    store's own partitioning key is the right co-located shape.
    """
    cent = spark.read.parquet(f"{root}/centroids")
    vectors = spark.read.parquet(f"{root}/vectors")
    probes = ivf_probes(queries.select("query_id", "qv"), cent, nprobe)
    buckets = probes.select("centroid_id").distinct()
    pruned = vectors.join(F.broadcast(buckets), "centroid_id", "left_semi")
    return ivf_rank(
        probes,
        pruned.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv"), "centroid_id"
        ),
        k,
    )


def append_ivf_store(
    delta: DataFrame,
    root: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """O(|delta|) index maintenance — the lifecycle face the other
    incremental paths (p03 ER, d45 MinHash, g38 components, e27
    partitioned CDC) give their domains: fold a batch of new vectors
    into an EXISTING store without retraining or rewriting it.

    The quantizer is FROZEN: delta vectors are assigned with the STORED
    centroids (the production contract — retraining re-shuffles every
    bucket and invalidates what serving already read; drift is handled
    by an explicit rebuild, never silently).  Only the partitions the
    delta touches are rewritten (per-write dynamic partition overwrite,
    the e27/s10 discipline): each touched bucket is re-emitted as its
    surviving existing rows plus the delta rows, so a re-delivered id
    upserts (delta wins via anti-join) instead of duplicating.
    Untouched partitions' files stay byte-identical on disk.

    Scale shape: assignment is |delta| × |centroids| (centroids
    broadcast); the only store reads are the touched partitions
    (partition-pruned scan); nothing standing re-clusters, re-shuffles,
    or re-writes."""
    spark = delta.sparkSession
    cent = spark.read.parquet(f"{root}/centroids")
    assign = assign_to_centroids(delta, cent, id_col, vec_col).select(
        id_col, "centroid_id"
    )
    ddf = delta.join(assign, id_col).localCheckpoint(eager=True)
    touched = sorted(
        r["centroid_id"] for r in ddf.select("centroid_id").distinct().collect()
    )  # bounded by the centroid count — a literal partition filter below
    existing = (
        spark.read.parquet(f"{root}/vectors")
        .filter(F.col("centroid_id").isin(touched))
        .join(ddf.select(id_col), id_col, "left_anti")  # re-delivery: delta wins
    )
    merged = existing.unionByName(ddf.select(existing.columns)).localCheckpoint(
        eager=True
    )  # materialized BEFORE the overwrite touches the files it was read from
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("centroid_id")
        .parquet(f"{root}/vectors")
    )
