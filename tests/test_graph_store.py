"""Parquet graph store: write → reload → query equivalence, plus
partition pruning on rel_type."""

from __future__ import annotations

import io
import contextlib

from pyspark.sql import functions as F

from advanced_technologies_of_china_graph_database_construction_spark.operators.graph import (
    REL_HAS_KEYWORD,
    build_graph,
)
from advanced_technologies_of_china_graph_database_construction_spark.sources.graph_store import (
    read_graph,
    write_graph,
)

SF = "/root/testdata/sf0.001"


def _counts(rows):
    return sorted((r["year"], r["n_docs"]) for r in rows)


def test_store_round_trip_query_equivalence(spark, tmp_path):
    g = build_graph(spark, SF)
    root = str(tmp_path / "graph")
    write_graph(g, root)
    g2 = read_graph(spark, root)

    # node family counts survive
    for fam in ("docs", "authors", "keywords", "orgs", "addresses", "topics"):
        assert getattr(g, fam).count() == getattr(g2, fam).count(), fam
    assert g.edges.count() == g2.edges.count()

    # a traversal query gives identical results from either source:
    # docs-per-year for one keyword (the flagship g10 shape)
    def docs_per_year(model):
        kw = model.keywords.orderBy("keyword_id").limit(1)
        e = model.edges_of(REL_HAS_KEYWORD)
        return (
            e.join(kw, e.dst == kw.keyword_id)
            .join(model.docs, e.src == model.docs.doc_id)
            .groupBy("year")
            .agg(F.count("*").alias("n_docs"))
            .collect()
        )

    assert _counts(docs_per_year(g)) == _counts(docs_per_year(g2))


def test_rel_type_partition_pruning(spark, tmp_path):
    g = build_graph(spark, SF)
    root = str(tmp_path / "graph")
    write_graph(g, root)
    g2 = read_graph(spark, root)

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        g2.edges_of(REL_HAS_KEYWORD).explain(True)
    plan = buf.getvalue()
    # the rel_type predicate must land in PartitionFilters (pruned scan),
    # not in the post-scan Filter
    assert "PartitionFilters" in plan
    assert any(
        "PartitionFilters" in line and "rel_type" in line for line in plan.splitlines()
    ), plan


def test_edge_store_is_range_partitioned_and_sorted_on_src(spark, tmp_path):
    """One contiguous (rel_type, src) range per writer task: about
    ``edge_partitions`` files in all (one more per range straddling two
    types), each in ``src`` order so row-group statistics can prune."""
    import glob

    import pyarrow.parquet as pq

    root = str(tmp_path / "graph")
    write_graph(build_graph(spark, SF), root, edge_partitions=24)
    files = glob.glob(f"{root}/edges/rel_type=*/*.parquet")
    assert 0 < len(files) <= 24 + 5, len(files)
    for f in files:
        src = pq.read_table(f, columns=["src"]).column("src").to_pylist()
        assert src == sorted(src), f


def test_concurrent_first_builds_write_the_store_once(spark, tmp_path, monkeypatch):
    """Two server threads asking for one dataset's graph at once share
    one store write and one model: the memo lock covers the build."""
    import shutil
    import threading
    import time

    from advanced_technologies_of_china_graph_database_construction_spark.operators import graph
    from advanced_technologies_of_china_graph_database_construction_spark.sources import graph_store

    data = str(tmp_path / "sf0.001")
    shutil.copytree(SF, data)
    monkeypatch.setattr(graph, "_STORE_ROOT", str(tmp_path / "stores"))
    monkeypatch.setattr(graph, "_GRAPH_CACHE", {})
    writes = []

    def slow_write(g, root):
        writes.append(root)
        time.sleep(1)  # holds the first build open while the second asks
        write_graph(g, root)

    monkeypatch.setattr(graph_store, "write_graph", slow_write)
    models = [None, None]

    def build(i):
        models[i] = graph.build_graph(spark, data)

    threads = [threading.Thread(target=build, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(writes) == 1, writes
    assert models[0] is not None and models[0] is models[1]


def test_store_is_rebuilt_after_its_derivation_changes(spark, tmp_path, monkeypatch, edit_source):
    """The store marker covers the code that derives and writes the
    store: after an edit to the derivation, a new process (an empty
    memo) serves the new rows, not the old store's."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators import graph

    monkeypatch.setattr(graph, "_STORE_ROOT", str(tmp_path / "stores"))
    monkeypatch.setattr(graph, "_GRAPH_CACHE", {})
    title = lambda g: g.docs.orderBy("doc_id").first()["title"]  # noqa: E731
    assert title(graph.build_graph(spark, SF)).startswith("DOC-")
    edit_source(graph, "_build_graph_uncached", 'F.lit("DOC-")', 'F.lit("DOX-")')
    monkeypatch.setattr(graph, "_GRAPH_CACHE", {})
    assert title(graph.build_graph(spark, SF)).startswith("DOX-")
