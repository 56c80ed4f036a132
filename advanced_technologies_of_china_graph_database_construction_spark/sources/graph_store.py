"""Parquet graph store — the production layout that replaces the
reference's Neo4j native store (SURVEY.md §1.2: "Columnar Parquet
storage replaces Neo4j's native store").

Layout:

```
<root>/nodes/docs/            one dataset per node family of the graph
<root>/nodes/authors/           schema (`graph.NODE_SCHEMA`), docs
<root>/nodes/...                partitioned by `label` so label-union
                                predicates (P10) become partition pruning
<root>/edges/                 single dataset partitioned by `rel_type`:
                                `edges_of(rel)` reads exactly one
                                partition directory — the Spark analogue
                                of Neo4j's per-type relationship chains
```

Scale notes (100 TB): rel-type filters prune edge partitions at read
time (the load-bearing layout property, `.explain`-verified in tests);
edges are range-partitioned on (rel_type, src) before the write and
sorted on (rel_type, src) within each partition: each file holds one
contiguous `src` range of one or two types, in `src` order, so
row-group statistics on `src` can prune a literal-`src` filter, and a
type's edges land in a few files instead of one per writer task.  It
is not a join co-partitioning — plain parquet carries no bucketing
metadata, so joins re-shuffle the edge side (co-location at rest is
the s09 `bucketBy` table face).  Node dims stay broadcast-size per
label.
Writes are idempotent overwrites (the reference's MERGE-for-idempotency
and error-log retry loop, S8/S9, are subsumed by deterministic output +
task retries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.graph import NODE_SCHEMA, GraphModel


def write_graph(g: GraphModel, root: str, edge_partitions: int = 24) -> None:
    """Persist the graph model: node datasets (docs partitioned by label)
    plus one edges dataset partitioned by ``rel_type``.

    ``edge_partitions`` is the TOTAL number of range partitions over
    (rel_type, src) across all rel types, so the edges dataset holds
    about ``edge_partitions`` files (one more per range that straddles
    two types), each sorted on ``src``.  The read layout contract is
    partition PRUNING on rel_type; a plain parquet round-trip carries
    no bucketing metadata, so downstream joins re-shuffle the edge side
    regardless — co-location at rest needs the s09 ``bucketBy`` table
    face, not this store."""
    g.docs.write.mode("overwrite").partitionBy("label").parquet(f"{root}/nodes/docs")
    for fam in list(NODE_SCHEMA)[1:]:
        getattr(g, fam).write.mode("overwrite").parquet(f"{root}/nodes/{fam}")
    (
        g.edges.repartitionByRange(edge_partitions, "rel_type", "src")
        .sortWithinPartitions("rel_type", "src")
        .write.mode("overwrite")
        .partitionBy("rel_type")
        .parquet(f"{root}/edges")
    )
    g.kw_alias.write.mode("overwrite").parquet(f"{root}/nodes/kw_alias")


def read_graph(spark: SparkSession, root: str) -> GraphModel:
    """Reload a persisted graph; rel-type filters prune edge partitions
    (verify with `.explain`: `PartitionFilters: [isnotnull(rel_type), ...]`)."""
    nodes = {fam: spark.read.parquet(f"{root}/nodes/{fam}") for fam in NODE_SCHEMA}
    edges = spark.read.parquet(f"{root}/edges").select(
        "src", "dst", F.col("rel_type").cast("string").alias("rel_type")
    )
    kw_alias = spark.read.parquet(f"{root}/nodes/kw_alias")
    return GraphModel(edges=edges, kw_alias=kw_alias, **nodes)
