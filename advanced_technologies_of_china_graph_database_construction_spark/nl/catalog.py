"""Q1 front-half: the schema catalog and prompt builder for an LLM
query compiler.

The reference embeds a hand-written catalog of node labels, properties
and relationship types in its Cypher-generation prompt
(`neo4j_query_executor.py:207-237`) plus five prompt rules and few-shot
examples (`:250-297`).  Here the catalog is *derived*: column types
from the live DataFrames, node families and relationship directions
from the graph schema (`operators.graph.NODE_SCHEMA` / `EDGE_SCHEMA`)
— schema drift can't desynchronize the prompt from the data — and the
compilation target is Spark SQL over the registered ``g_*`` views
(`operators.graph.register_graph_views`).  The deterministic
template planner (`nl.planner`) remains the tested core; this module is
the seam a real LLM front-end plugs into.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.graph import EDGE_SCHEMA, NODE_SCHEMA, GraphModel


def _cols(df: DataFrame) -> str:
    return ", ".join(f"{f.name}:{f.dataType.simpleString()}" for f in df.schema.fields)


def schema_catalog(g: GraphModel) -> str:
    """Prompt-ready catalog of the graph views: columns from the live
    schemas, families and directions from the graph schema (the
    reference's hand-maintained equivalent:
    `neo4j_query_executor.py:207-237`)."""
    lines = ["Node tables (SQL views g_<name>):"]
    for fam in NODE_SCHEMA:
        lines.append(f"  g_{fam}({_cols(getattr(g, fam))})")
    lines.append("Edge table g_edges(src:bigint, dst:bigint, rel_type:string); directions:")
    for rel, (src, dst) in EDGE_SCHEMA.items():
        lines.append(f"  (g_{src}) -[{rel}]-> (g_{dst})")
    lines.append(
        "Alias resolution: g_kw_alias(keyword_id, canonical_id) maps every "
        "keyword to its canonical representative."
    )
    return "\n".join(lines)


# The reference's five prompt rules (`neo4j_query_executor.py:250-297`),
# restated for a Spark SQL target.
PROMPT_RULES = (
    "Answer with ONE Spark SQL statement over the g_* views, nothing else.",
    "Resolve keyword aliases through g_kw_alias (join surface -> canonical -> "
    "all members) instead of exact name equality.",
    "When projecting optional properties, filter them IS NOT NULL.",
    "Use type-correct literals (year is int; names/titles are strings).",
    "Match on name/title equality first; always LIMIT 10 unless the user "
    "asks for all results.",
)

FEW_SHOT = (
    (
        "Which documents carry the keyword \"cold widget\"?",
        "SELECT d.title, d.year, d.label FROM g_keywords k "
        "JOIN g_edges e ON e.rel_type = 'HAS_KEYWORD' AND e.dst = k.keyword_id "
        "JOIN g_docs d ON e.src = d.doc_id WHERE k.name = 'cold widget' LIMIT 10",
    ),
    (
        "How many documents per year carry the keyword \"cold widget\"?",
        "SELECT d.year, count(*) AS n_docs FROM g_keywords k "
        "JOIN g_edges e ON e.rel_type = 'HAS_KEYWORD' AND e.dst = k.keyword_id "
        "JOIN g_docs d ON e.src = d.doc_id WHERE k.name = 'cold widget' "
        "GROUP BY d.year LIMIT 10",
    ),
)


def build_prompt(
    g: GraphModel, question: str, history: list[str] | None = None
) -> str:
    """Full compilation prompt: catalog + rules + few-shot + (optional
    conversation history) + question — the same structure as the
    reference's Cypher prompt (`neo4j_query_executor.py:250-297`, the
    chat log arriving via `api_server.py:70-88`), targeting Spark SQL."""
    parts = [schema_catalog(g), "", "Rules:"]
    parts += [f"{i + 1}. {r}" for i, r in enumerate(PROMPT_RULES)]
    parts.append("")
    for q, sql in FEW_SHOT:
        parts += [f"Q: {q}", f"SQL: {sql}", ""]
    if history:
        parts.append("Conversation so far:")
        parts += [f"- {turn}" for turn in history]
        parts.append("")
    parts.append(f"Q: {question}")
    parts.append("SQL:")
    return "\n".join(parts)
