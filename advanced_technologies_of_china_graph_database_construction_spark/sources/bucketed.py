"""Bucketed storage for co-located joins — the 100 TB layout for the
doc↔edge join axis.

At cluster scale the dominant join is edges(src=doc_id) ⋈ docs(doc_id)
(every 1–4-hop traversal starts there). Writing both sides bucketed on
the same key with the same bucket count lets Spark plan the join with
ZERO exchanges: each task reads matching bucket files from both sides.
The bucketed layout is the DataFrame-era analogue of the co-partitioned
relationship chains a native graph store maintains.

Bucketed writes go through ``saveAsTable`` (bucket metadata lives in the
session catalog); plain ``parquet(path)`` cannot record bucketing.
"""

from __future__ import annotations

import shutil
from pathlib import Path
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

from ..operators.graph import GraphModel, check_rel_type


def _clear_stale_location(spark: SparkSession, tbl: str) -> None:
    """Remove a leftover managed-table directory for ``tbl`` when the
    catalog no longer knows the table (ephemeral in-memory catalog +
    persistent local warehouse dir): DROP TABLE is then a no-op but
    saveAsTable would fail with LOCATION_ALREADY_EXISTS.  With a real
    metastore the DROP handles cleanup and this never fires.

    Scope: DEFAULT-database unqualified names on a local warehouse only
    — the ``warehouse/<tbl>`` layout this derives holds only there (a
    qualified ``db.tbl`` lives under ``<db>.db/<tbl>``), so anything
    else returns without touching the filesystem.  Known race, accepted:
    two concurrent sessions sharing one LOCAL warehouse dir each have a
    private in-memory catalog, so this session can see "no such table"
    while the directory is the other session's live managed data and
    delete it.  Don't share a local warehouse dir across sessions that
    both write bucketed tables; any multi-writer deployment has a real
    metastore, where this helper is a no-op by construction."""
    if "." in tbl or spark.catalog.currentDatabase() != "default":
        return
    if spark.catalog.tableExists(tbl):
        return
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir", ""))
    if warehouse.scheme not in ("", "file"):
        return
    loc = Path(unquote(warehouse.path)) / tbl.lower()
    if loc.is_dir():
        shutil.rmtree(loc, ignore_errors=True)


def write_bucketed_graph(
    g: GraphModel, spark: SparkSession, n_buckets: int = 16, prefix: str = "bkt"
) -> tuple[str, str]:
    """Persist docs and edges bucketed + sorted on the doc-id join key.
    Returns the (docs, edges) table names."""
    docs_tbl, edges_tbl = f"{prefix}_docs", f"{prefix}_edges"
    for tbl in (docs_tbl, edges_tbl):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        _clear_stale_location(spark, tbl)
    (
        g.docs.write.bucketBy(n_buckets, "doc_id")
        .sortBy("doc_id")
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(docs_tbl)
    )
    (
        g.edges.write.bucketBy(n_buckets, "src")
        .sortBy("src")
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(edges_tbl)
    )
    return docs_tbl, edges_tbl


def bucketed_traversal(spark: SparkSession, docs_tbl: str, edges_tbl: str,
                       rel_type: str) -> DataFrame:
    """docs ⋈ edges on the bucketed key: with matching bucket specs this
    plans as a SortMergeJoin with NO Exchange on either side.  An unknown
    ``rel_type`` raises ``ValueError`` before it reaches the SQL filter."""
    check_rel_type(rel_type)
    docs = spark.table(docs_tbl)
    edges = spark.table(edges_tbl).filter(f"rel_type = '{rel_type}'")
    return edges.join(docs, edges.src == docs.doc_id)
