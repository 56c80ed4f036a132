"""Property-graph model: node/edge DataFrames + traversal operators.

The reference models a labeled property graph in Neo4j — 7 document
labels, entity labels ``Author / Keyword / Organization / Author_Address
/ Topic``, and typed directed relationships (``Hype.py:16-61``,
``neo4j_query_executor.py:207-237``).  The Spark-native equivalent is a
family of node DataFrames plus a single ``edges(src, dst, rel_type)``
DataFrame (SURVEY.md §1.2) — Parquet-backed in production, partitioned by
``rel_type`` so rel-type filters become partition pruning.

The graph's shape is declared once, in `NODE_SCHEMA` and `EDGE_SCHEMA`
below — the analogue of the reference's ``NODE_LINK_CONFIG``
(``Hype.py:16-61``: node label, id property, rel type and direction per
rule).  The motif compiler, the NL schema catalog, the Parquet graph
store and the CSV export all read these two tables.

Because the driver's test data is a TPC-H-ish star schema, the graph is
*derived* from it with a fixed deterministic projection (orders→documents,
customer→Author, part→Keyword, supplier→Organization, nation→
Author_Address, region→Topic).  The projection exercises exactly the
construction operators of the reference (config-driven extraction,
explode, distinct edge tuples, alias edges — ``csv_extractor.py:16-241``)
while staying DuckDB-checkable: `GRAPH_ORACLE_CTES` is the ANSI-SQL
mirror of `build_graph`.

Scale notes (100 TB): every edge extraction below is a narrow projection
plus at most one `distinct()` (shuffle on the edge key). Joins from docs
to entity dims are broadcast (dims are small); doc↔edge joins shuffle on
doc_id, which is the natural bucketing key for the edges table.
"""

from __future__ import annotations

import hashlib
import os
import threading
from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table

# o_orderpriority → document label; mirrors the Reference-Type→label
# mapping with default (`utils.py:100-110`, `TopicTocsv.py:14-25`).
PRIORITY_TO_LABEL = {
    "1-URGENT": "Patent",
    "2-HIGH": "Journal_Article",
    "3-MEDIUM": "Conference_Proceedings",
    "4-NOT SPECIFIED": "Thesis",
    "5-LOW": "Book",
}
DEFAULT_LABEL = "Other_Article"  # TopicTocsv.py:20 default label

# Relationship types (Hype.py:16-61; AUTHOR_ADDRESS naming normalized per
# SURVEY.md §7 hard-part (f)).
REL_AUTHORED = "AUTHORED"
REL_HAS_KEYWORD = "HAS_KEYWORD"
REL_PUBLISHED_BY = "PUBLISHED_BY"
REL_AUTHOR_ADDRESS = "AUTHOR_ADDRESS"
REL_HAS_TOPIC = "HAS_TOPIC"
REL_ALIAS_OF = "ALIAS_OF"

# node family (a GraphModel field, in field order) → (id column, neo4j label)
NODE_SCHEMA = {
    "docs": ("doc_id", "Document"),
    "authors": ("author_id", "Author"),
    "keywords": ("keyword_id", "Keyword"),
    "orgs": ("org_id", "Organization"),
    "addresses": ("address_id", "Author_Address"),
    "topics": ("topic_id", "Topic"),
}
# rel type → (src node family, dst node family); direction matters, as in
# NODE_LINK_CONFIG.  Order is the edge union's order.
EDGE_SCHEMA = {
    REL_AUTHORED: ("authors", "docs"),
    REL_HAS_KEYWORD: ("docs", "keywords"),
    REL_PUBLISHED_BY: ("docs", "orgs"),
    REL_AUTHOR_ADDRESS: ("docs", "addresses"),
    REL_HAS_TOPIC: ("docs", "topics"),
    REL_ALIAS_OF: ("keywords", "keywords"),
}


def check_rel_type(rel_type: str) -> None:
    """Raise ``ValueError`` for a rel type the schema lacks: a typo would
    otherwise filter the edges to nothing, silently."""
    if rel_type not in EDGE_SCHEMA:
        raise ValueError(f"unknown rel type {rel_type!r}; known: {sorted(EDGE_SCHEMA)}")


@dataclass
class GraphModel:
    """Node DataFrames + one unified typed edge DataFrame.

    ``edges`` carries (src, dst, rel_type); ids live in per-entity key
    spaces (`EDGE_SCHEMA` says which node table a rel type's src and dst
    refer to), the same way the reference's per-label CSV exports scope
    ``:ID`` columns (`csv_extractor.py:105-111`).
    """

    docs: DataFrame
    authors: DataFrame
    keywords: DataFrame
    orgs: DataFrame
    addresses: DataFrame
    topics: DataFrame
    edges: DataFrame
    kw_alias: DataFrame  # keyword alias mapping (keyword_id, canonical_id)

    def edges_of(self, rel_type: str) -> DataFrame:
        # Literal filter over the union: Catalyst constant-folds the
        # rel_type predicate per union branch and prunes dead branches,
        # so only the relevant extraction subtree is executed.
        check_rel_type(rel_type)
        return self.edges.filter(F.col("rel_type") == rel_type).select("src", "dst")


# Build-once, query-many: the reference builds its graph once (batch
# load into Neo4j) and serves every query from the resident store.  The
# Spark analogue is the partitioned Parquet store (sources/graph_store)
# plus the block manager: on first use per (application, sf_dir) the
# derived graph (two `distinct()` shuffles over lineitem, window over
# part) is materialized to `spark-warehouse/_graph_cache/<sf>`, read
# back, and its frames are persisted, so every later query reads them
# from memory instead of opening, decoding and filtering Parquet files.
# At 100 TB this is the production path: ETL writes the store, the query
# layer scans it once and serves from the cache.
_GRAPH_CACHE: dict[tuple[str, str], "GraphModel"] = {}
# One lock over lookup, build and persist: concurrent first requests of
# the threaded server would otherwise both miss the memo and both
# overwrite the same store root.
_GRAPH_LOCK = threading.Lock()
_STORE_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), "spark-warehouse", "_graph_cache")
_STORE_MARKER = "_GRAPH_STORE_COMPLETE"


def build_graph(spark: SparkSession, sf_dir: str, *, use_cache: bool = True) -> GraphModel:
    """Construct the property graph from the relational tables.

    Mirrors the reference's batch construction path (SURVEY.md §3.2):
    scan → project → explode-like edge extraction → per-edge-type
    distinct; node identity by natural key, edge tuples deduplicated on
    (src, dst, rel_type) (`csv_extractor.py:168,196-207`).

    With ``use_cache`` (default) the derived graph is materialized once
    per ``sf_dir`` into the Parquet graph store, and the model read back
    from it is kept in memory for the application's life: the node
    frames, ``kw_alias`` and one ``edges_of(rel)`` frame per rel type
    are persisted (filled lazily by the first query that reads each).
    The edges are cached per rel type, not as the whole ``edges`` frame,
    so each cached plan is filled by a scan pruned to one ``rel_type``
    partition and a query still shows that ``PartitionFilters`` line.
    A memo hit whose frames were dropped by
    ``spark.catalog.clearCache()`` persists them again.
    ``use_cache=False`` returns the raw derivation plan (used by
    store/ETL tests).
    """
    if not use_cache:
        return _build_graph_uncached(spark, sf_dir)
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    with _GRAPH_LOCK:
        g = _GRAPH_CACHE.get(key)
        if g is None:
            g = _GRAPH_CACHE[key] = _serve_graph(spark, sf_dir)
        elif g.docs.storageLevel == StorageLevel.NONE:  # cache was cleared
            _persist(g)
        return g


def _serve_graph(spark: SparkSession, sf_dir: str) -> GraphModel:
    """The store-backed model of ``sf_dir`` with its frames persisted;
    (re)writes the store first when its marker is absent or stale.  The
    marker names the source files and the code that derives and writes
    the store, so an edit to either invalidates it."""
    from ..plans.fingerprint import code_digest
    from ..sources.graph_store import read_graph, write_graph

    # the store directory keys on basename PLUS an abspath digest: two
    # datasets both named "sf0.1" under different parents must not share
    # (and clobber) one store root while a live GraphModel still lazily
    # reads it (r12 review).  Writer-writer races between SESSIONS are
    # out of scope — the marker protocol below serves single-writer
    # local caching; concurrent builders of the SAME dataset write
    # identical content, and the fingerprint re-check heals a torn mix
    # on the next build.
    ap = os.path.abspath(sf_dir)
    digest = hashlib.md5(ap.encode()).hexdigest()[:10]
    root = os.path.join(_STORE_ROOT, f"{os.path.basename(ap)}-{digest}")
    marker = os.path.join(root, _STORE_MARKER)
    fingerprint = f"{_source_fingerprint(sf_dir)}|code:{code_digest(_build_graph_uncached, write_graph)}"
    if not (os.path.exists(marker) and open(marker).read().strip() == fingerprint):
        write_graph(_build_graph_uncached(spark, sf_dir), root)
        # Atomic marker write (temp + rename): a concurrent reader either
        # sees the complete previous marker or the complete new one, never
        # a torn write.  The marker is written only AFTER write_graph
        # finishes, so a crash mid-write leaves a stale/absent marker and
        # the next session rebuilds instead of serving a half-written store.
        tmp = marker + f".tmp.{os.getpid()}"
        with open(tmp, "w") as fh:
            fh.write(fingerprint + "\n")
        os.replace(tmp, marker)
    g = read_graph(spark, root)
    _persist(g)
    return g


def _persist(g: GraphModel) -> None:
    """Persist every frame of ``g`` a query reads: the node frames,
    ``kw_alias`` and one ``edges_of(rel)`` frame per rel type."""
    for name, frame in vars(g).items():
        if name != "edges":  # cached per rel type: see build_graph
            frame.persist()
    for rel in EDGE_SCHEMA:
        g.edges_of(rel).persist()


def _source_fingerprint(sf_dir: str) -> str:
    """(size, mtime) digest of the source dataset — a regenerated dataset
    invalidates the materialized store instead of poisoning it.  Handles
    both plain ``<name>.parquet`` files and Spark-written directory
    datasets (walks their part files); raises if nothing was
    fingerprinted so an empty digest can never validate a stale store."""
    parts = []
    for name in sorted(os.listdir(sf_dir)):
        p = os.path.join(sf_dir, name)
        if not name.endswith(".parquet"):
            continue
        if os.path.isfile(p):
            st = os.stat(p)
            parts.append(f"{name}:{st.st_size}:{int(st.st_mtime)}")
        elif os.path.isdir(p):
            for dirpath, _dirs, files in sorted(os.walk(p)):
                for f in sorted(files):
                    if f.startswith(("_", ".")):
                        continue  # _SUCCESS / checksums don't carry data
                    fp = os.path.join(dirpath, f)
                    st = os.stat(fp)
                    rel = os.path.relpath(fp, sf_dir)
                    parts.append(f"{rel}:{st.st_size}:{int(st.st_mtime)}")
    if not parts:
        raise FileNotFoundError(f"no parquet datasets to fingerprint under {sf_dir}")
    return "|".join(parts)


def _build_graph_uncached(spark: SparkSession, sf_dir: str) -> GraphModel:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    lineitem = load_table(spark, sf_dir, "lineitem")

    label_expr = F.lit(None).cast("string")
    for prio, label in PRIORITY_TO_LABEL.items():
        label_expr = F.when(F.col("o_orderpriority") == prio, label).otherwise(label_expr)
    docs = orders.select(
        F.col("o_orderkey").alias("doc_id"),
        F.concat(F.lit("DOC-"), F.col("o_orderkey").cast("string")).alias("title"),
        F.coalesce(label_expr, F.lit(DEFAULT_LABEL)).alias("label"),
        F.year("o_orderdate").alias("year"),
        F.col("o_totalprice").alias("totalprice"),
        F.col("o_orderstatus").alias("status"),
    )

    authors = customer.select(F.col("c_custkey").alias("author_id"), F.col("c_name").alias("name"))
    keywords = part.select(F.col("p_partkey").alias("keyword_id"), F.col("p_name").alias("name"))
    orgs = supplier.select(F.col("s_suppkey").alias("org_id"), F.col("s_name").alias("name"))
    addresses = nation.select(F.col("n_nationkey").alias("address_id"), F.col("n_name").alias("name"))
    topics = region.select(F.col("r_regionkey").alias("topic_id"), F.col("r_name").alias("name"))

    # (Author)-[:AUTHORED]->(Doc) — Hype.py:17-23 analogue.
    e_authored = orders.select(F.col("o_custkey").alias("src"), F.col("o_orderkey").alias("dst"))
    # (Doc)-[:HAS_KEYWORD]->(Keyword) — Hype.py:31-37; dedup per tuple.
    e_has_kw = lineitem.select(F.col("l_orderkey").alias("src"), F.col("l_partkey").alias("dst")).distinct()
    # (Doc)-[:PUBLISHED_BY]->(Organization) — Hype.py:38-44.
    e_pub = lineitem.select(F.col("l_orderkey").alias("src"), F.col("l_suppkey").alias("dst")).distinct()
    # (Doc)-[:AUTHOR_ADDRESS]->(Author_Address) — Hype.py:45-51.
    e_addr = orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey).select(
        F.col("o_orderkey").alias("src"), F.col("c_nationkey").cast("long").alias("dst")
    )
    # (Doc)-[:HAS_TOPIC]->(Topic) — neo4j_query_executor.py:234 analogue.
    e_topic = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select(F.col("o_orderkey").alias("src"), F.col("n_regionkey").cast("long").alias("dst"))
        .distinct()
    )
    # (Keyword)-[:ALIAS_OF]->(Keyword) — same-surface-form entity
    # resolution: keywords sharing a name collapse to min id, mirroring
    # min-as-representative (`keyword_merger.py:222`) and the
    # surface≠canonical alias filter (`csv_extractor.py:269-273`).
    from pyspark.sql import Window

    kw_alias = part.select(
        F.col("p_partkey").alias("keyword_id"),
        F.min("p_partkey").over(Window.partitionBy("p_name")).alias("canonical_id"),
    )
    e_alias = kw_alias.filter(F.col("keyword_id") != F.col("canonical_id")).select(
        F.col("keyword_id").alias("src"), F.col("canonical_id").alias("dst")
    )

    def typed(df: DataFrame, rel: str) -> DataFrame:
        return df.select(
            F.col("src").cast("long"), F.col("dst").cast("long"), F.lit(rel).alias("rel_type")
        )

    edges = (
        typed(e_authored, REL_AUTHORED)
        .unionByName(typed(e_has_kw, REL_HAS_KEYWORD))
        .unionByName(typed(e_pub, REL_PUBLISHED_BY))
        .unionByName(typed(e_addr, REL_AUTHOR_ADDRESS))
        .unionByName(typed(e_topic, REL_HAS_TOPIC))
        .unionByName(typed(e_alias, REL_ALIAS_OF))
    )

    return GraphModel(
        docs=docs,
        authors=authors,
        keywords=keywords,
        orgs=orgs,
        addresses=addresses,
        topics=topics,
        edges=edges,
        kw_alias=kw_alias,
    )


def register_graph_views(g: GraphModel, spark: SparkSession) -> None:
    """Expose the graph as SQL temp views (``g_docs``, ``g_authors``,
    ``g_keywords``, ``g_orgs``, ``g_addresses``, ``g_topics``,
    ``g_edges``, ``g_kw_alias``) so the whole workload is reachable from
    ``spark.sql`` — the serving layer's compilation target (the
    reference compiles NL to a query string against a schema catalog,
    `neo4j_query_executor.py:207-237`; here the catalog is DESCRIBE over
    these views)."""
    for name, frame in vars(g).items():
        frame.createOrReplaceTempView(f"g_{name}")


# ANSI-SQL mirror of build_graph for the DuckDB oracle. Prepend to any
# oracle query that consumes the graph model.
GRAPH_ORACLE_CTES = """
WITH docs AS (
  SELECT o_orderkey AS doc_id,
         'DOC-' || CAST(o_orderkey AS VARCHAR) AS title,
         CASE o_orderpriority
           WHEN '1-URGENT' THEN 'Patent'
           WHEN '2-HIGH' THEN 'Journal_Article'
           WHEN '3-MEDIUM' THEN 'Conference_Proceedings'
           WHEN '4-NOT SPECIFIED' THEN 'Thesis'
           WHEN '5-LOW' THEN 'Book'
           ELSE 'Other_Article' END AS label,
         CAST(year(o_orderdate) AS INT) AS year,
         o_totalprice AS totalprice,
         o_orderstatus AS status
  FROM orders),
authors AS (SELECT c_custkey AS author_id, c_name AS name FROM customer),
keywords AS (SELECT p_partkey AS keyword_id, p_name AS name FROM part),
orgs AS (SELECT s_suppkey AS org_id, s_name AS name FROM supplier),
addresses AS (SELECT CAST(n_nationkey AS BIGINT) AS address_id, n_name AS name FROM nation),
topics AS (SELECT CAST(r_regionkey AS BIGINT) AS topic_id, r_name AS name FROM region),
e_authored AS (SELECT o_custkey AS src, o_orderkey AS dst FROM orders),
e_has_keyword AS (SELECT DISTINCT l_orderkey AS src, l_partkey AS dst FROM lineitem),
e_published_by AS (SELECT DISTINCT l_orderkey AS src, l_suppkey AS dst FROM lineitem),
e_author_address AS (
  SELECT o_orderkey AS src, CAST(c_nationkey AS BIGINT) AS dst
  FROM orders JOIN customer ON o_custkey = c_custkey),
e_has_topic AS (
  SELECT DISTINCT o_orderkey AS src, CAST(n_regionkey AS BIGINT) AS dst
  FROM orders JOIN customer ON o_custkey = c_custkey
             JOIN nation ON c_nationkey = n_nationkey),
kw_alias AS (
  SELECT p_partkey AS keyword_id,
         MIN(p_partkey) OVER (PARTITION BY p_name) AS canonical_id
  FROM part),
e_alias_of AS (
  SELECT keyword_id AS src, canonical_id AS dst
  FROM kw_alias WHERE keyword_id <> canonical_id)
"""
