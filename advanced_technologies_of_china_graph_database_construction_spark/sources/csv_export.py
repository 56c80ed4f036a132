"""Bulk CSV sinks in neo4j-admin import format — the reference's
interop surface (S5-S7, S10).

The reference writes node CSVs headed ``:ID,:LABEL,props…`` and
relationship CSVs headed ``:START_ID(Label),:END_ID(Label),:TYPE``
(`csv_extractor.py:16-241`, headers at `:105-111,234`), alias rels where
surface ≠ canonical (`csv_extractor.py:246-295`), and topic rels as
``(paperTitle, paperLabel, topicName)`` (`TopicTocsv.py:28-80`).  List
properties render as ``[a,b]`` with ``"`` doubling for LOAD CSV
(`utils.py:90-97`, F10).

Node ids, labels and relationship endpoints come from the graph schema
(`operators.graph.NODE_SCHEMA` / `EDGE_SCHEMA`), so the scoped headers
follow the graph `build_graph` derives.

Spark-first: each sink is a projection + ``distinct()`` + a distributed
``write.csv`` — idempotent overwrite replaces the reference's
per-statement MERGE and its retry log (S8/S9 are moot under task
retries + deterministic output, SURVEY.md §2.1).

Scale notes: writes stream straight from the shuffle; relationship
sinks partition output by rel type via separate directories so a 100 TB
export parallelizes per type and per partition file.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.graph import EDGE_SCHEMA, NODE_SCHEMA, GraphModel


def render_list_literal(col: Column) -> Column:
    """F10: list[str] → ``[a,b]`` with LOAD-CSV ``"`` doubling."""
    return F.concat(
        F.lit("["),
        F.array_join(F.transform(col, lambda x: F.regexp_replace(x, '"', '""')), ","),
        F.lit("]"),
    )


def _write(df: DataFrame, path: str) -> None:
    # escape = '"' makes Spark's CSV RFC4180 (the '""' doubling
    # neo4j-admin/LOAD CSV parse); the default backslash escape wrote
    # fields neo4j misparses and mangled the reference's own exports on
    # read (r12 review).  This is the FIELD-quoting layer — the
    # IN-VALUE '"' doubling of render_list_literal is the reference's
    # separate list-literal convention (utils.py:90-97) and stacks on
    # top, exactly as the reference's csv.writer output does.
    df.write.mode("overwrite").option("header", True).option("escape", '"').csv(path)


def write_node_csvs(g: GraphModel, out_dir: str) -> dict[str, str]:
    """S5: one CSV dataset per node family, ``:ID``/``:LABEL`` headers
    (docs carry their own label column, every other family its schema
    label); unique node per id (A5 first-wins collapse via
    dropDuplicates)."""
    out: dict[str, str] = {}
    docs = g.docs.dropDuplicates(["doc_id"]).select(
        F.col("doc_id").alias(":ID"),
        F.col("label").alias(":LABEL"),
        "title",
        "year",
        "totalprice",
        "status",
    )
    out["documents"] = f"{out_dir}/document_nodes"
    _write(docs, out["documents"])
    for fam, (id_col, label) in list(NODE_SCHEMA.items())[1:]:
        # the export's file names spell out the orgs family
        name = "organizations" if fam == "orgs" else fam
        nodes = getattr(g, fam).dropDuplicates([id_col]).select(
            F.col(id_col).alias(":ID"), F.lit(label).alias(":LABEL"), "name"
        )
        out[name] = f"{out_dir}/{name}_nodes"
        _write(nodes, out[name])
    return out


def write_relationship_csvs(g: GraphModel, out_dir: str) -> dict[str, str]:
    """S6: deduped (start,end,type) tuples, one dataset per rel type,
    ID headers scoped by the endpoint families' labels."""
    out: dict[str, str] = {}
    for rel, (src, dst) in EDGE_SCHEMA.items():
        s_label, e_label = NODE_SCHEMA[src][1], NODE_SCHEMA[dst][1]
        rels = (
            g.edges.filter(F.col("rel_type") == rel)
            .select(
                F.col("src").alias(f":START_ID({s_label})"),
                F.col("dst").alias(f":END_ID({e_label})"),
                F.col("rel_type").alias(":TYPE"),
            )
            .distinct()
        )
        out[rel] = f"{out_dir}/{rel.lower()}_rels"
        _write(rels, out[rel])
    return out


def write_alias_csv(
    mapping: DataFrame, out_dir: str, label: str, rel: str = "ALIAS_OF",
    surface_col: str = "id", canonical_col: str = "canonical",
) -> str:
    """S7: alias rels where surface ≠ canonical."""
    path = f"{out_dir}/{label.lower()}_{rel.lower()}_rels"
    _write(
        mapping.filter(F.col(surface_col) != F.col(canonical_col)).select(
            F.col(surface_col).alias(f":START_ID({label})"),
            F.col(canonical_col).alias(f":END_ID({label})"),
            F.lit(rel).alias(":TYPE"),
        ),
        path,
    )
    return path


def read_node_csv(spark: SparkSession, path: str) -> DataFrame:
    """Reader face of S5: a neo4j-admin node CSV (``:ID,:LABEL,props…``)
    back as ``(id, label, props…)`` — validates the header shape so a
    file that isn't in import format fails loudly.  Reads the
    reference's own exported artifacts (`data/neo4j_csv_import/*_nodes.
    csv`) as well as `write_node_csvs` output, which is the interop
    contract a user migrating off the reference relies on."""
    df = spark.read.option("header", True).option("escape", '"').csv(path)
    if ":ID" not in df.columns or ":LABEL" not in df.columns:
        raise ValueError(
            f"not a neo4j-admin node CSV (missing :ID/:LABEL): {df.columns}"
        )
    return df.withColumnsRenamed({":ID": "id", ":LABEL": "label"})


_ENDPOINT_RE = re.compile(r"^:(START|END)_ID\(([^)]+)\)$")


def read_relationship_csv(
    spark: SparkSession, path: str
) -> tuple[DataFrame, tuple[str, str]]:
    """Reader face of S6/S7: a relationship CSV headed
    ``:START_ID(Label),:END_ID(Label),:TYPE`` back as
    ``((src, dst, rel_type), (start_label, end_label))`` — endpoint
    labels parsed from the scoped header, shape violations raised."""
    df = spark.read.option("header", True).option("escape", '"').csv(path)
    start = next((c for c in df.columns if c.startswith(":START_ID")), None)
    end = next((c for c in df.columns if c.startswith(":END_ID")), None)
    if start is None or end is None or ":TYPE" not in df.columns:
        raise ValueError(
            f"not a neo4j-admin relationship CSV (missing :START_ID/:END_ID/:TYPE): "
            f"{df.columns}"
        )
    ms, me = _ENDPOINT_RE.match(start), _ENDPOINT_RE.match(end)
    labels = (
        ms.group(2) if ms else "",
        me.group(2) if me else "",
    )
    out = df.select(
        F.col(f"`{start}`").alias("src"),
        F.col(f"`{end}`").alias("dst"),
        F.col("`:TYPE`").alias("rel_type"),
    )
    return out, labels


def write_topic_rels_csv(classified_docs: DataFrame, out_dir: str) -> str:
    """S10: (paperTitle, paperLabel, topicName) export for HAS_TOPIC
    load; parenthetical glosses stripped from topic names (F12)."""
    path = f"{out_dir}/has_topic_rels"
    _write(
        classified_docs.select(
            F.col("title").alias("paperTitle"),
            F.col("label").alias("paperLabel"),
            F.regexp_replace("topic_name", r"\s*\(.*?\)", "").alias("topicName"),
        ).distinct(),
        path,
    )
    return path
