"""Q2-Q4: plan execution, empty-result fallback cascade, and answer
synthesis over the property graph.

Execution lifecycle mirrors the reference's serving path (SURVEY.md
§3.1): plan → execute (DataFrame plan, Catalyst optimizes) → on empty
result, fallback full-text search (AND-of-terms then OR-of-terms, LIMIT
100, `neo4j_query_executor.py:389-459`) → format rows (F14) → synthesize
an answer (pluggable; deterministic default so tests never call an LLM,
`neo4j_query_executor.py:346-384`).

The cascade is lazy: each stage's plan is built only when the stage
before it came back empty, so a template hit schedules no job for the
fallbacks it never runs.  The full-text stages read one ``documents``
frame per (application, dataset), with the same key and lifetime as the
graph cache (``operators.graph._GRAPH_CACHE``).
"""

from __future__ import annotations

import os
import re
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.graph import (
    REL_AUTHORED,
    REL_HAS_KEYWORD,
    REL_HAS_TOPIC,
    REL_PUBLISHED_BY,
    GraphModel,
    build_graph,
)
from .formatter import format_rows
from .planner import FALLBACK_TEMPLATE, QueryPlan, plan

RESULT_LIMIT = 10  # prompt rule L1 (`neo4j_query_executor.py:264`)
FALLBACK_LIMIT = 100  # fallback cap L2 (`neo4j_query_executor.py:389`)


# ------------------------------------------------------------- templates ---

def _docs_of_entity(g: GraphModel, entity: DataFrame, id_col: str, rel: str) -> DataFrame:
    e = g.edges_of(rel)
    j = F.broadcast(entity).join(e, entity[id_col] == e.src).join(
        g.docs, e.dst == g.docs.doc_id
    )
    return j.select("title", "year", "label")


def t_docs_by_author(g: GraphModel, author: str) -> DataFrame:
    a = g.authors.filter(F.col("name") == author)
    return _docs_of_entity(g, a, "author_id", REL_AUTHORED)


def t_authors_of_doc(g: GraphModel, title: str) -> DataFrame:
    d = g.docs.filter(F.col("title") == title)
    e = g.edges_of(REL_AUTHORED)
    return (
        F.broadcast(d)
        .join(e, d.doc_id == e.dst)
        .join(g.authors, e.src == g.authors.author_id)
        .select("name")
    )


def t_docs_by_keyword(g: GraphModel, keyword: str) -> DataFrame:
    # J9 alias semantics: resolve the surface form to its canonical id
    # once, then match every keyword sharing that canonical.
    #
    # Row multiplicity is PARITY-BY-DESIGN (r12 review decision): the
    # reference's own Cypher templates carry no DISTINCT
    # (`neo4j_query_executor.py:272-278` — OPTIONAL MATCH alias, MATCH
    # edge, RETURN p.title LIMIT 10), so a doc matching via k AND via
    # an alias returns once per match there too.  Deduping here would
    # diverge from the surface this engine replicates; the co-occurrence
    # and per-year counting templates below inherit the same row
    # semantics for the same reason.
    k = g.kw_alias.join(
        g.keywords.filter(F.col("name") == keyword), "keyword_id"
    ).select("canonical_id")
    kk = g.kw_alias.join(F.broadcast(k), "canonical_id").select("keyword_id")
    e = g.edges_of(REL_HAS_KEYWORD)
    return (
        F.broadcast(kk)
        .join(e, kk.keyword_id == e.dst)
        .join(g.docs, e.src == g.docs.doc_id)
        .select("title", "year", "label")
    )


def t_keywords_of_doc(g: GraphModel, title: str) -> DataFrame:
    d = g.docs.filter(F.col("title") == title)
    e = g.edges_of(REL_HAS_KEYWORD)
    return (
        F.broadcast(d)
        .join(e, d.doc_id == e.src)
        .join(g.keywords, e.dst == g.keywords.keyword_id)
        .select("name")
    )


def t_doc_properties(g: GraphModel, title: str) -> DataFrame:
    return g.docs.filter(F.col("title") == title).select(
        "title", "label", "year", "totalprice", "status"
    )


def t_docs_per_year_for_keyword(g: GraphModel, keyword: str) -> DataFrame:
    k = g.keywords.filter(F.col("name") == keyword)
    e = g.edges_of(REL_HAS_KEYWORD)
    return (
        F.broadcast(k)
        .join(e, k.keyword_id == e.dst)
        .join(g.docs, e.src == g.docs.doc_id)
        .groupBy("year")
        .agg(F.count("*").alias("n_docs"))
    )


def t_author_wrote_doc(g: GraphModel, author: str, title: str) -> DataFrame:
    a = g.authors.filter(F.col("name") == author)
    d = g.docs.filter(F.col("title") == title)
    e = g.edges_of(REL_AUTHORED)
    hit = F.broadcast(a).join(e, a.author_id == e.src).join(
        F.broadcast(d), e.dst == d.doc_id
    )
    return hit.select(F.lit(author).alias("author"), F.lit(title).alias("title"))


def t_coauthors_of(g: GraphModel, author: str) -> DataFrame:
    a = g.authors.filter(F.col("name") == author)
    e1 = g.edges_of(REL_AUTHORED)
    e2 = g.edges_of(REL_AUTHORED).withColumnsRenamed({"src": "src2", "dst": "dst2"})
    return (
        F.broadcast(a)
        .join(e1, a.author_id == e1.src)
        .join(e2, e1.dst == F.col("dst2"))
        .filter(F.col("src2") != F.col("author_id"))
        .join(
            g.authors.withColumnsRenamed({"author_id": "co_id", "name": "coauthor"}),
            F.col("src2") == F.col("co_id"),
        )
        .select("coauthor")
        .distinct()
    )


def t_cooccurring_keywords(g: GraphModel, keyword: str) -> DataFrame:
    k = g.keywords.filter(F.col("name") == keyword)
    e1 = g.edges_of(REL_HAS_KEYWORD)
    e2 = g.edges_of(REL_HAS_KEYWORD).withColumnsRenamed({"src": "src2", "dst": "dst2"})
    return (
        F.broadcast(k)
        .join(e1, k.keyword_id == e1.dst)
        .join(e2, e1.src == F.col("src2"))
        .filter(F.col("dst2") != F.col("keyword_id"))
        .join(
            g.keywords.withColumnsRenamed({"keyword_id": "k2", "name": "related"}),
            F.col("dst2") == F.col("k2"),
        )
        .groupBy("related")
        .agg(F.count("*").alias("n_docs"))
    )


def t_count_docs_by_author(g: GraphModel, author: str) -> DataFrame:
    """Counting face of 类型三 (Q.txt Q10 family): how many documents
    an author wrote — one broadcast semi-funnel + a count aggregate
    (always exactly one row, zero for an unknown author, mirroring the
    reference's count(*) Cypher shape)."""
    a = g.authors.filter(F.col("name") == author)
    e = g.edges_of(REL_AUTHORED)
    return (
        e.join(F.broadcast(a), e.src == a.author_id, "left_semi")
        .agg(F.countDistinct("dst").alias("n_docs"))
        .select(F.lit(author).alias("author"), "n_docs")
    )


def t_related_authors_via_keywords(g: GraphModel, author: str) -> DataFrame:
    """Q16-STYLE 4-hop variant (Q.txt 类型六 workload class, `Q.txt:61-63`):
    authors related to X through SHARED KEYWORDS — Author → Doc →
    Keyword → Doc → Author, ranked by how many keywords they share.
    NOT the reference's literal Q16 chain, which goes through COAUTHORS
    (Author→Doc→Author→Doc→Topic plus Document.abstract); that literal
    chain is implemented as :func:`t_coauthor_doc_topics` and is
    provably empty on this corpus (every doc has exactly one author),
    so the gated 4-hop face uses the keyword variant, which has real
    rows.  The reference compiles this class only via its LLM
    (`neo4j_query_executor.py:240-322`); this is the deterministic-
    planner face of the same join chain as the g16 gated query
    (semi-join funnels keep every hop's frontier narrow; deterministic
    order + LIMIT 20 with ties broken on author name)."""
    a = g.authors.filter(F.col("name") == author)
    ea = g.edges_of(REL_AUTHORED)
    ek = g.edges_of(REL_HAS_KEYWORD)
    my_docs = ea.join(F.broadcast(a), ea.src == a.author_id, "left_semi").select(
        F.col("dst").alias("doc_id")
    )
    my_kws = (
        ek.join(my_docs, ek.src == my_docs.doc_id, "left_semi")
        .select(F.col("dst").alias("kw"))
        .distinct()
    )
    other_docs = ek.join(my_kws, ek.dst == my_kws.kw).select(
        F.col("src").alias("doc_id"), "kw"
    )
    ea2 = g.edges_of(REL_AUTHORED).withColumnsRenamed(
        {"src": "author_id", "dst": "doc_id"}
    )
    related = (
        other_docs.join(ea2, "doc_id")
        .join(g.authors, "author_id")
        .filter(F.col("name") != author)
    )
    return (
        related.groupBy(F.col("name").alias("author"))
        .agg(F.countDistinct("kw").alias("n_shared_keywords"))
        .orderBy(F.desc("n_shared_keywords"), F.asc("author"))
        .limit(20)
    )


def t_coauthor_doc_topics(g: GraphModel, author: str) -> DataFrame:
    """The LITERAL Q.txt Q16 chain (类型六, `Q.txt:61-63`): Author →
    Document → Author (coauthors of X) → Document → Topic, plus a
    content property of those documents — "与王芳合作过的作者都发表过
    哪些领域的文献？这些文献的内容都是什么？".  The derived graph's
    document content property is ``title`` (the TPC-H projection carries
    no abstract), so the projection is (coauthor, topic, title).

    On the shipped fixtures every document has exactly ONE author, so
    the coauthor frontier — and therefore this template — is empty;
    the semantics are pinned by a synthetic multi-author graph test
    (`tests/test_nl.py`) instead of a vacuous driver gate, and the
    gated 4-hop face is the shared-keyword variant
    (:func:`t_related_authors_via_keywords` / g16 / n10).

    Plan shape: two semi-join funnels (X's docs, then coauthor ids) keep
    the frontier narrow; an anti-join removes X; topic and author dims
    join last (small, broadcast-able)."""
    a = g.authors.filter(F.col("name") == author)
    ea = g.edges_of(REL_AUTHORED).withColumnsRenamed(
        {"src": "co_id", "dst": "doc_id"}
    )
    my_docs = (
        g.edges_of(REL_AUTHORED)
        .join(F.broadcast(a), F.col("src") == a.author_id, "left_semi")
        .select(F.col("dst").alias("doc_id"))
    )
    co = (
        ea.join(my_docs, "doc_id", "left_semi")
        .join(F.broadcast(a), F.col("co_id") == a.author_id, "left_anti")
        .select("co_id")
        .distinct()
    )
    co_docs = ea.join(co, "co_id")
    et = g.edges_of(REL_HAS_TOPIC).withColumnsRenamed(
        {"src": "doc_id", "dst": "topic_id"}
    )
    topics = g.topics.withColumnsRenamed({"name": "topic"})
    coauthors = g.authors.withColumnsRenamed(
        {"author_id": "co_id", "name": "coauthor"}
    )
    return (
        co_docs.join(et, "doc_id")
        .join(topics, "topic_id")
        .join(g.docs, "doc_id")
        .join(coauthors, "co_id")
        .select("coauthor", "topic", "title")
        .distinct()
        .orderBy("coauthor", "topic", "title")
    )


def t_org_topics(g: GraphModel, org: str) -> DataFrame:
    o = g.orgs.filter(F.col("name") == org)
    e_pub = g.edges_of(REL_PUBLISHED_BY)
    e_top = g.edges_of(REL_HAS_TOPIC).withColumnsRenamed({"src": "tsrc", "dst": "tdst"})
    # topics renamed BEFORE the join: both orgs and topics carry `name`,
    # and grouping on the bare column is ambiguous post-join
    topics = g.topics.withColumnsRenamed({"name": "topic"})
    return (
        F.broadcast(o)
        .join(e_pub, o.org_id == e_pub.dst)
        .join(e_top, e_pub.src == F.col("tsrc"))
        .join(topics, F.col("tdst") == topics.topic_id)
        .groupBy("topic")
        .agg(F.count("*").alias("n_docs"))
    )


TEMPLATES: dict[str, Callable[..., DataFrame]] = {
    "docs_by_author": t_docs_by_author,
    "authors_of_doc": t_authors_of_doc,
    "docs_by_keyword": t_docs_by_keyword,
    "keywords_of_doc": t_keywords_of_doc,
    "doc_properties": t_doc_properties,
    "docs_per_year_for_keyword": t_docs_per_year_for_keyword,
    "author_wrote_doc": t_author_wrote_doc,
    "coauthors_of": t_coauthors_of,
    "cooccurring_keywords": t_cooccurring_keywords,
    "related_authors_via_keywords": t_related_authors_via_keywords,
    "coauthor_doc_topics": t_coauthor_doc_topics,
    "count_docs_by_author": t_count_docs_by_author,
    "org_topics": t_org_topics,
}


# ------------------------------------------------------------ execution ----

def execute_plan(spark: SparkSession, sf_dir: str, p: QueryPlan) -> DataFrame:
    """Q2: QueryPlan → DataFrame (LIMIT 10 prompt-rule applied)."""
    if p.template == FALLBACK_TEMPLATE:
        return fulltext_search(spark, sf_dir, p.terms, require_all=True)
    g = build_graph(spark, sf_dir)
    return TEMPLATES[p.template](g, **p.params).limit(RESULT_LIMIT)


# (applicationId, abspath(sf_dir)) -> the `documents` frame.  Kept here
# and not in catalog.load_table: specs that load one table twice would
# otherwise self-join a single relation on identical expression ids.
# The lock makes concurrent server threads share one load.
_DOCS_CACHE: dict[tuple[str, str], DataFrame] = {}
_DOCS_LOCK = threading.Lock()


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    with _DOCS_LOCK:
        if key not in _DOCS_CACHE:
            _DOCS_CACHE[key] = load_table(spark, sf_dir, "documents")
        return _DOCS_CACHE[key]


def fulltext_search(
    spark: SparkSession, sf_dir: str, terms: list[str], require_all: bool
) -> DataFrame:
    """Q3 fallback scan over documents: AND (P8) or case-insensitive OR
    (P9) of terms, LIMIT 100; ``(doc_id, snippet)`` rows, none when
    there are no terms."""
    if not terms:
        cond = F.lit(False)
    elif require_all:
        cond = F.lit(True)
        for t in terms:
            cond = cond & F.lower(F.col("text")).contains(t.lower())
    else:
        cond = F.lit(False)
        for t in terms:
            cond = cond | F.lower(F.col("text")).contains(t.lower())
    return (
        _documents(spark, sf_dir)
        .filter(cond)
        .select("doc_id", F.substring("text", 1, 120).alias("snippet"))
        .orderBy("doc_id")
        .limit(FALLBACK_LIMIT)
    )


# Synthesizer seam (Q4): (question, formatted_rows) -> answer text.
Synthesizer = Callable[[str, str], str]


def default_synthesizer(question: str, formatted: str) -> str:
    if not formatted:
        return "No results found."
    # Count numbered record lines, not raw newlines: format_rows escapes
    # newlines inside values, so every line start matching "N. " is a
    # record.
    n = len(re.findall(r"(?m)^\d+\. ", formatted))
    return f"Found {n} result(s):\n{formatted}"


# Compiler seam (Q1): (question, catalog_prompt) -> QueryPlan.  The
# reference's serving path is two-stage compile→execute with an LLM
# emitting Cypher from a schema-catalog prompt
# (`neo4j_query_executor.py:240-322`); here a Compiler emits the
# structured QueryPlan IR instead of a query string, and execution is
# identical whichever compiler produced the plan.  The deterministic
# default is the template planner (network-free, covers the templated
# Q.txt shapes); an LLM-backed Compiler receives the same catalog+rules+
# few-shot prompt the reference embeds (`nl/catalog.py:build_prompt`).
Compiler = Callable[[str, str], QueryPlan]


def default_compiler(question: str, catalog_prompt: str) -> QueryPlan:
    return plan(question)


# One cascade stage: (stage name, thunk building its plan).
Stage = tuple[str, Callable[[], DataFrame]]


def run_cascade(
    question: str,
    template: str,
    stages: list[Stage],
    synthesizer: Synthesizer | None = None,
    empty_stage: str = "empty",
) -> dict:
    """Build and collect each stage in turn, stopping at the first that
    returns rows; a stage's plan is built only when the stage before it
    came back empty.  Returns the answer text and its provenance, with
    ``empty_stage`` as the stage when none returned rows."""
    synth = synthesizer or default_synthesizer
    for stage, make_plan in stages:
        rows = make_plan().collect()
        if rows:
            break
    else:
        stage, rows = empty_stage, []
    return {
        "answer": synth(question, format_rows(rows)),
        "stage": stage,
        "template": template,
        "n_rows": len(rows),
    }


def answer(
    spark: SparkSession,
    sf_dir: str,
    question: str,
    synthesizer: Synthesizer | None = None,
    compiler: Compiler | None = None,
    history: list[str] | None = None,
) -> dict:
    """Full serving cascade: compile → execute → (empty? AND-fallback →
    OR-fallback) → format → synthesize.  Returns a dict with the answer
    text and provenance of which stage produced it.  Stages are built
    only when reached (see :func:`run_cascade`), so a template hit pays
    nothing for the fallbacks, and the fallbacks share the per-
    application ``documents`` frame.  ``history`` (prior user turns)
    feeds the Q5 multi-turn glue: a follow-up naming no quoted entity
    inherits the conversation's most recent quoted terms (see
    ``planner.plan``)."""
    if compiler is None:
        p = plan(question, history=history)
    else:
        # Build the catalog prompt only when a real compiler wants it —
        # the reference builds it per request (`neo4j_query_executor.py:250`).
        from .catalog import build_prompt

        p = compiler(
            question, build_prompt(build_graph(spark, sf_dir), question, history)
        )
    if p.template != FALLBACK_TEMPLATE and p.template not in TEMPLATES:
        # A compiler (LLM or otherwise) can emit an unknown template —
        # degrade to the fallback search over its terms, the same
        # error→fallback shape as the reference (`:329-344`).
        p = QueryPlan(template=FALLBACK_TEMPLATE, params={}, terms=p.terms)
    stages: list[Stage] = [("template", lambda: execute_plan(spark, sf_dir, p))]
    tokens = p.tokens
    if tokens:
        # when the template stage already WAS the AND-fulltext over
        # exactly these tokens (single-word terms), fallback_and would
        # re-run a byte-identical full scan — skip straight to OR
        if not (p.template == FALLBACK_TEMPLATE and tokens == p.terms):
            stages.append(
                ("fallback_and", lambda: fulltext_search(spark, sf_dir, tokens, True))
            )
        stages.append(
            ("fallback_or", lambda: fulltext_search(spark, sf_dir, tokens, False))
        )
    return run_cascade(question, p.template, stages, synthesizer)
