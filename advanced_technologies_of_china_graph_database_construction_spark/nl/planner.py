"""Q1: NL → query-plan compilation, deterministic core.

The reference compiles NL to Cypher with an LLM plus a prompt-embedded
schema catalog and extracts quoted search terms from the generated query
as a side-channel IR (`neo4j_query_executor.py:240-322`, F13 term
extraction at `:157-193`).  The rebuild's deterministic core is a
template planner over the 17-query workload classes (`Q.txt:1-67`):
rule-based intent classification + quoted-entity binding, producing a
structured :class:`QueryPlan` (never a query string to re-parse).  An
LLM front-end can replace :func:`plan` behind the same QueryPlan IR
without touching execution.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

# F13 analogue: quoted-literal extraction straight from the QUESTION
# (the planner is structured, so nothing is re-parsed from queries).
_QUOTE_RE = re.compile(r'"([^"]+)"|\'([^\']+)\'|“([^”]+)”|《([^》]+)》')


def extract_terms(text: str) -> list[str]:
    """All quoted literals, in order, first non-empty group per match."""
    out = []
    for m in _QUOTE_RE.finditer(text):
        term = next(g for g in m.groups() if g is not None)
        out.append(term.strip())
    return out


@dataclass
class QueryPlan:
    template: str
    params: dict[str, str] = field(default_factory=dict)
    terms: list[str] = field(default_factory=list)

    @property
    def tokens(self) -> list[str]:
        """The full-text fallback's search words: every quoted term split
        on whitespace, so a partially wrong entity name can still hit
        (the reference's per-term regex conjunction/disjunction,
        `neo4j_query_executor.py:414-441`)."""
        return [w for t in self.terms for w in t.split()]


# Intent rules over the Q.txt classes, checked in order (first match
# wins).  Each rule: (compiled pattern over the lowercased question,
# template name, names to bind from quoted terms in order).
_RULES: list[tuple[re.Pattern, str, tuple[str, ...]]] = [
    (re.compile(r"per year|by year|每年|各年"), "docs_per_year_for_keyword", ("keyword",)),
    # counting face of 类型三: must precede the did-X-write existence rule
    (re.compile(r"how many (papers?|docs?|documents?|publications?)"
                r".*(by|did|write|written|publish)|写了多少|发表了多少"),
     "count_docs_by_author", ("author",)),
    (re.compile(r"did .*write|is .*author of|是不是.*作者|是否.*作者"),
     "author_wrote_doc", ("author", "title")),
    # literal Q16 chain (类型六): fields/topics of COAUTHORS' documents —
    # must precede the plain coauthors rule, which also matches 合作
    (re.compile(r"(co-?author|collaborat|合作).{0,40}(fields?|areas?|topics?|领域)"
                r"|(fields?|areas?|topics?|领域).{0,40}(co-?author|collaborat|合作)"),
     "coauthor_doc_topics", ("author",)),
    (re.compile(r"co-?authors?|collaborat|合作者|合著"), "coauthors_of", ("author",)),
    (re.compile(r"co-?occur|related keywords?|相关关键词|共现"),
     "cooccurring_keywords", ("keyword",)),
    # Q16-STYLE 4-hop variant (类型六 class): authors related through
    # shared keywords — the literal Q16 coauthor chain is the rule above
    (re.compile(r"(same|shared|相同|共享).{0,30}(keywords?|topics?|关键词|主题)"
                r"|related authors?|similar authors?|相关作者"),
     "related_authors_via_keywords", ("author",)),
    (re.compile(r"who wrote|authors? of|的作者"), "authors_of_doc", ("title",)),
    (re.compile(r"keywords? of|的关键词"), "keywords_of_doc", ("title",)),
    (re.compile(r"(papers?|docs?|documents?|publications?|论文|文献).*(by|written|写)"),
     "docs_by_author", ("author",)),
    (re.compile(r"topics?.*(org|organization|机构)|(org|organization|机构).*topics?"),
     "org_topics", ("org",)),
    (re.compile(r"about|on the topic|关于"), "docs_by_keyword", ("keyword",)),
    (re.compile(r"(year|abstract|doi|url|type|年份|摘要).*(of|的)|(of|的).*(year|abstract)"),
     "doc_properties", ("title",)),
]

FALLBACK_TEMPLATE = "fulltext"


def plan(question: str, history: list[str] | None = None) -> QueryPlan:
    """Deterministic NL → QueryPlan (Q1).  Unknown intent or missing
    bindings degrade to the fulltext template over extracted terms —
    the same degradation the reference's fallback search provides.

    Q5 multi-turn glue: a follow-up that names no quoted entity ("Who
    wrote it?") inherits the most recent quoted terms from ``history``
    (prior user turns, oldest→newest) — the deterministic core of the
    reference's history-in-the-prompt behavior (`api_server.py:70-88`
    passes the chat log to the LLM compiler; an LLM compiler behind the
    same seam still receives the full history via the catalog prompt).
    """
    terms = extract_terms(question)
    if not terms and history:
        for prev in reversed(history):
            inherited = extract_terms(prev)
            if inherited:
                terms = inherited
                break
    q = question.lower()
    for pattern, template, binds in _RULES:
        if pattern.search(q):
            if len(terms) < len(binds):
                break  # can't bind → fallback
            return QueryPlan(
                template=template,
                params=dict(zip(binds, terms)),
                terms=terms,
            )
    # fallback: every significant token + quoted term becomes a search term
    if not terms:
        terms = [
            t
            for t in re.findall(r"[\w一-鿿]{3,}", question)
            if t.lower() not in _FILLER
        ][:5]
    return QueryPlan(template=FALLBACK_TEMPLATE, params={}, terms=terms)


# Generic question scaffolding words excluded from fallback search terms.
_FILLER = {
    "tell", "show", "give", "list", "find", "what", "which", "who", "whom",
    "when", "where", "how", "many", "much", "the", "about", "please", "this",
    "that", "are", "was", "were", "does", "did", "can", "could", "would",
    "with", "from", "for", "and", "all", "any", "me", "interesting", "things",
}
