"""The full graph workload must be reachable from spark.sql over the
registered views — pure-SQL traversals agree with the DataFrame plans —
and the declared graph schema must be the graph build_graph derives."""

from __future__ import annotations

import dataclasses
from functools import reduce

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from advanced_technologies_of_china_graph_database_construction_spark.operators.graph import (
    EDGE_SCHEMA,
    NODE_SCHEMA,
    GraphModel,
    build_graph,
    register_graph_views,
)
from advanced_technologies_of_china_graph_database_construction_spark.plans.graph_queries import (
    KEYWORD,
    g10_docs_per_year_for_keyword,
)
from advanced_technologies_of_china_graph_database_construction_spark.sources.bucketed import (
    bucketed_traversal,
)

SF = "/root/testdata/sf0.001"


def test_sql_traversal_matches_dataframe_plan(spark):
    g = build_graph(spark, SF)
    register_graph_views(g, spark)
    sql = spark.sql(
        f"""
        SELECT d.year, count(DISTINCT d.doc_id) AS n_docs
        FROM g_edges e
        JOIN g_keywords k ON e.rel_type = 'HAS_KEYWORD' AND e.dst = k.keyword_id
        JOIN g_docs d ON e.src = d.doc_id
        WHERE k.name = '{KEYWORD}'
        GROUP BY d.year
        ORDER BY d.year
        """
    )
    got = [(r["year"], r["n_docs"]) for r in sql.collect()]
    want = sorted(
        (r["year"], r["n_docs"])
        for r in g10_docs_per_year_for_keyword(spark, SF).collect()
    )
    assert got == want and len(got) > 0


def test_sql_catalog_describes_views(spark):
    g = build_graph(spark, SF)
    register_graph_views(g, spark)
    cols = {r["col_name"] for r in spark.sql("DESCRIBE g_docs").collect()}
    assert {"doc_id", "title", "label", "year"} <= cols
    rels = {
        r["rel_type"]
        for r in spark.sql("SELECT DISTINCT rel_type FROM g_edges").collect()
    }
    assert {"AUTHORED", "HAS_KEYWORD", "PUBLISHED_BY", "AUTHOR_ADDRESS", "HAS_TOPIC"} <= rels


def test_schema_matches_derived_graph(spark):
    """The declared schema is the graph build_graph derives: the same rel
    types, every edge endpoint present in its family's id column, and
    one GraphModel field per node family plus the two edge frames."""
    g = build_graph(spark, SF)
    assert [f.name for f in dataclasses.fields(GraphModel)] == [
        *NODE_SCHEMA, "edges", "kw_alias"
    ]
    for fam, (id_col, _) in NODE_SCHEMA.items():
        assert id_col in getattr(g, fam).columns, fam
    rels = {r["rel_type"] for r in g.edges.select("rel_type").distinct().collect()}
    assert rels == set(EDGE_SCHEMA)

    def orphans(rel: str, end: str, fam: str) -> DataFrame:
        id_col, _ = NODE_SCHEMA[fam]
        nodes = getattr(g, fam).select(F.col(id_col).alias(end))
        return (
            g.edges_of(rel).join(nodes, end, "left_anti")
            .select(F.lit(f"{rel}.{end}").alias("endpoint"))
        )

    checks = [
        orphans(rel, end, fam)
        for rel, fams in EDGE_SCHEMA.items()
        for end, fam in zip(("src", "dst"), fams)
    ]
    bad = reduce(DataFrame.unionByName, checks).groupBy("endpoint").count().collect()
    assert bad == [], bad


def test_unknown_rel_type_fails_loudly(spark):
    """A typo'd rel type raises instead of filtering the edges to nothing
    (which would send an answer quietly on to the full-text fallback)."""
    g = build_graph(spark, SF)
    typo = r"unknown rel type 'HAS_KEYWORDS'; known: \['ALIAS_OF', "
    with pytest.raises(ValueError, match=typo):
        g.edges_of("HAS_KEYWORDS")
    with pytest.raises(ValueError, match=typo):
        bucketed_traversal(spark, "bkt_docs", "bkt_edges", "HAS_KEYWORDS")
