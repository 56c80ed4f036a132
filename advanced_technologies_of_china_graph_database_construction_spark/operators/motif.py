"""Motif pattern matching over the property graph — the GraphFrames
``find()`` surface expressed as pure DataFrame joins.

The reference's query workload is Cypher ``MATCH`` patterns executed by
Neo4j (`Q.txt:1-67`; worked examples `neo4j_query_executor.py:269-292`).
Here a motif string compiles to a chain of equi-joins over the typed
edge DataFrame plus one attribute join per bound variable:

    find(g, "(a)-[:AUTHORED]->(d); (b)-[:AUTHORED]->(d)")
        .filter("a_id < b_id")                  # co-author pairs

Grammar (a GraphFrames-compatible subset):
    pattern  := term (";" term)*
    term     := "(" var ")" "-[" [":" REL_TYPE] "]->" "(" var ")"
Variables repeat to express joins; every edge term needs a rel type
(the union edge table is typed, so an untyped hop would be a union of
every rel type's semantics — explicit is better).

Each variable contributes ``<var>_id`` plus its node family's attribute
columns prefixed with ``<var>_``.  Node families are inferred from the
rel types' endpoints in the graph schema (`graph.EDGE_SCHEMA`: AUTHORED
author→doc, HAS_KEYWORD doc→keyword, …), and conflicting inferences
raise.

Scale: one shuffle per hop on the shared variable's id (the same plan
Catalyst builds for the hand-written traversals g01–g17); attribute
joins on entity dims broadcast.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph import EDGE_SCHEMA, NODE_SCHEMA, GraphModel, check_rel_type

_TERM_RE = re.compile(
    r"^\(\s*(?P<src>\w+)\s*\)\s*-\s*\[\s*:\s*(?P<rel>\w+)\s*\]\s*->\s*\(\s*(?P<dst>\w+)\s*\)$"
)


@dataclass(frozen=True)
class _Term:
    src: str
    rel: str
    dst: str


def _parse(pattern: str) -> list[_Term]:
    terms = []
    for raw in pattern.split(";"):
        raw = raw.strip()
        if not raw:
            continue
        m = _TERM_RE.match(raw)
        if not m:
            raise ValueError(f"unparseable motif term: {raw!r}")
        rel = m.group("rel")
        check_rel_type(rel)
        terms.append(_Term(m.group("src"), rel, m.group("dst")))
    if not terms:
        raise ValueError("empty motif pattern")
    return terms


def _infer_families(terms: list[_Term]) -> dict[str, str]:
    fam: dict[str, str] = {}
    for t in terms:
        for var, family in zip((t.src, t.dst), EDGE_SCHEMA[t.rel]):
            if fam.setdefault(var, family) != family:
                raise ValueError(
                    f"variable {var!r} bound to both {fam[var]} and {family}"
                )
    return fam


def find(g: GraphModel, pattern: str, attrs: bool = True) -> DataFrame:
    """Match ``pattern`` against the graph; returns one row per binding.

    Columns: ``<var>_id`` for every variable, plus (``attrs=True``) each
    variable's node attributes as ``<var>_<col>``.
    """
    terms = _parse(pattern)
    families = _infer_families(terms)

    def hop_of(t) -> DataFrame:
        e = g.edges_of(t.rel)
        if t.src == t.dst:
            # repeated variable = equality constraint (the GraphFrames
            # rule): match self-loops instead of building a frame with
            # two identical columns that breaks every later reference
            # (r12 review)
            return e.filter(F.col("src") == F.col("dst")).select(
                F.col("src").alias(f"{t.src}_id")
            )
        return e.select(
            F.col("src").alias(f"{t.src}_id"), F.col("dst").alias(f"{t.dst}_id")
        )

    # connectivity is a property of the WHOLE pattern, not of the
    # caller's term order (r12 review): greedily pick any remaining term
    # sharing a variable with what's joined so far; only if NO remaining
    # term connects is the pattern truly cartesian.
    remaining = list(terms)
    out = hop_of(remaining.pop(0))
    while remaining:
        for i, t in enumerate(remaining):
            hop = hop_of(t)
            shared = [c for c in hop.columns if c in out.columns]
            if shared:
                out = out.join(hop, shared)
                remaining.pop(i)
                break
        else:
            t = remaining[0]
            raise ValueError(
                f"motif term ({t.src})-[:{t.rel}]->({t.dst}) shares no "
                "variable with the rest of the pattern (cartesian product)"
            )

    if attrs:
        for var, family in families.items():
            nodes = getattr(g, family)
            id_col, _ = NODE_SCHEMA[family]
            renamed = nodes.select(
                *[
                    F.col(c).alias(f"{var}_id" if c == id_col else f"{var}_{c}")
                    for c in nodes.columns
                ]
            )
            out = out.join(renamed, f"{var}_id")
    return out
