"""The ``serve`` workload's question mix and the answer each question must
get, computed independently of the engine with DuckDB over the package's
ANSI-SQL mirror of the graph (``GRAPH_ORACLE_CTES``).

A question is a request payload for ``nl.api.handle_request``.  Its
expected answer is ``(stage, template, n_rows)``: the template the
planner must route it to, and which stage of the engine's cascade
(template → AND full-text → OR full-text) first returns rows, with how
many.  The template row counts below mirror the engine's templates row
for row (the engine then applies LIMIT 10; the full-text stages LIMIT 100).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from advanced_technologies_of_china_graph_database_construction_spark.operators.graph import (
    GRAPH_ORACLE_CTES,
)

from datagen import WORDS

# words a planner rule keys on ("topic" routes a co-author question to the
# co-author-topics template) are kept out of full-text phrases
PHRASE_WORDS = [w for w in WORDS if w not in ("topic", "author", "paper")]
RESULT_LIMIT, FALLBACK_LIMIT = 10, 100

# template → (question pattern, SQL counting the rows the template returns)
TEMPLATES = {
    "docs_by_author": (
        'Which papers were written by "{0}"?',
        "SELECT count(*) FROM authors a JOIN e_authored e ON e.src = a.author_id "
        "JOIN docs d ON d.doc_id = e.dst WHERE a.name = $1",
    ),
    "authors_of_doc": (
        'Who wrote "{0}"?',
        "SELECT count(*) FROM docs d JOIN e_authored e ON e.dst = d.doc_id "
        "JOIN authors a ON a.author_id = e.src WHERE d.title = $1",
    ),
    "docs_by_keyword": (
        'Show documents about "{0}"',
        ", k AS (SELECT ka.canonical_id FROM kw_alias ka JOIN keywords kw USING (keyword_id) "
        "WHERE kw.name = $1), kk AS (SELECT ka.keyword_id FROM kw_alias ka JOIN k USING (canonical_id)) "
        "SELECT count(*) FROM kk JOIN e_has_keyword e ON e.dst = kk.keyword_id "
        "JOIN docs d ON d.doc_id = e.src",
    ),
    "keywords_of_doc": (
        'List the keywords of "{0}"',
        "SELECT count(*) FROM docs d JOIN e_has_keyword e ON e.src = d.doc_id "
        "JOIN keywords kw ON kw.keyword_id = e.dst WHERE d.title = $1",
    ),
    "doc_properties": (
        'What is the year of "{0}"?',
        "SELECT count(*) FROM docs WHERE title = $1",
    ),
    "docs_per_year_for_keyword": (
        'How many documents per year mention "{0}"?',
        "SELECT count(DISTINCT d.year) FROM keywords kw JOIN e_has_keyword e ON e.dst = kw.keyword_id "
        "JOIN docs d ON d.doc_id = e.src WHERE kw.name = $1",
    ),
    "count_docs_by_author": (
        'How many papers were written by "{0}"?',
        "SELECT 1 WHERE $1 IS NOT NULL",
    ),
    "cooccurring_keywords": (
        'Which keywords co-occur with "{0}"?',
        "SELECT count(DISTINCT k2.name) FROM keywords k "
        "JOIN e_has_keyword e1 ON e1.dst = k.keyword_id "
        "JOIN e_has_keyword e2 ON e2.src = e1.src AND e2.dst <> k.keyword_id "
        "JOIN keywords k2 ON k2.keyword_id = e2.dst WHERE k.name = $1",
    ),
    "org_topics": (
        'What topics does organization "{0}" cover?',
        "SELECT count(DISTINCT t.name) FROM orgs o JOIN e_published_by p ON p.dst = o.org_id "
        "JOIN e_has_topic ht ON ht.src = p.src JOIN topics t ON t.topic_id = ht.dst "
        "WHERE o.name = $1",
    ),
    "related_authors_via_keywords": (
        'Which authors share the same keywords as "{0}"?',
        ", mine AS (SELECT DISTINCT h.dst AS kw FROM e_authored e JOIN authors a ON a.author_id = e.src "
        "JOIN e_has_keyword h ON h.src = e.dst WHERE a.name = $1) "
        "SELECT least(count(DISTINCT a2.name), 20) FROM e_has_keyword h JOIN mine ON h.dst = mine.kw "
        "JOIN e_authored e2 ON e2.dst = h.src JOIN authors a2 ON a2.author_id = e2.src "
        "WHERE a2.name <> $1",
    ),
    "author_wrote_doc": (
        'Did "{0}" write "{1}"?',
        "SELECT count(*) FROM authors a JOIN e_authored e ON e.src = a.author_id "
        "JOIN docs d ON d.doc_id = e.dst WHERE a.name = $1 AND d.title = $2",
    ),
    "coauthors_of": (
        'Who are the coauthors of "{0}"?',
        "SELECT count(DISTINCT a2.name) FROM authors a JOIN e_authored e1 ON e1.src = a.author_id "
        "JOIN e_authored e2 ON e2.dst = e1.dst AND e2.src <> a.author_id "
        "JOIN authors a2 ON a2.author_id = e2.src WHERE a.name = $1",
    ),
}
# the entity kind each template binds, in order
BINDS = {
    "docs_by_author": ("author",), "authors_of_doc": ("title",),
    "docs_by_keyword": ("keyword",), "keywords_of_doc": ("title",),
    "doc_properties": ("title",), "docs_per_year_for_keyword": ("keyword",),
    "count_docs_by_author": ("author",), "cooccurring_keywords": ("keyword",),
    "org_topics": ("org",), "related_authors_via_keywords": ("author",),
    "author_wrote_doc": ("author", "title"),
}
# follow-up turns that name no entity and inherit the previous turn's one
FOLLOW_UPS = {
    "title": [("Who wrote it?", "authors_of_doc"), ("What is the year of it?", "doc_properties")],
    "keyword": [("Which keywords co-occur with it?", "cooccurring_keywords")],
}
# share of each question kind in the pool; with 20 questions every
# bindable template is asked once per pass
MIX = {"template_hit": 0.55, "template_miss": 0.15, "fulltext_only": 0.15, "follow_up": 0.15}
POOL_SIZE = 20


@dataclass(frozen=True)
class Question:
    kind: str
    payload: dict
    expected: tuple  # (stage, template, n_rows)


class Oracle:
    """Expected answers, from DuckDB over the generated tables."""

    def __init__(self, con):
        self.con = con

    def _one(self, sql: str, params: list) -> int:
        return int(self.con.execute(sql, params).fetchone()[0])

    def template_rows(self, template: str, params: list) -> int:
        sql = TEMPLATES[template][1]
        prefix = GRAPH_ORACLE_CTES if sql.startswith(",") else GRAPH_ORACLE_CTES + " "
        return min(self._one(prefix + sql, params), RESULT_LIMIT)

    def fulltext_rows(self, tokens: list[str], require_all: bool) -> int:
        cond = (" AND " if require_all else " OR ").join(
            ["contains(lower(text), ?)"] * len(tokens)
        )
        n = self._one(f"SELECT count(*) FROM documents WHERE {cond}", [t.lower() for t in tokens])
        return min(n, FALLBACK_LIMIT)

    def cascade(self, template: str, terms: list[str]) -> tuple:
        """The engine's answer cascade for a template bound to ``terms``."""
        n = self.template_rows(template, terms)
        if n:
            return ("template", template, n)
        tokens = [w for t in terms for w in t.split()]
        if tokens:
            for stage, require_all in (("fallback_and", True), ("fallback_or", False)):
                n = self.fulltext_rows(tokens, require_all)
                if n:
                    return (stage, template, n)
        return ("empty", template, 0)


def entity_pools(con, rng: np.random.Generator, k: int = 12) -> dict[str, list[str]]:
    """``k`` seeded names of each entity kind the questions bind."""
    def pick(sql: str) -> list[str]:
        names = [r[0] for r in con.execute(GRAPH_ORACLE_CTES + sql).fetchall()]
        return [str(x) for x in rng.choice(names, size=min(k, len(names)), replace=False)]

    return {
        "author": pick("SELECT DISTINCT name FROM authors ORDER BY 1"),
        "title": pick("SELECT title FROM docs ORDER BY doc_id"),
        "keyword": pick("SELECT DISTINCT name FROM keywords ORDER BY 1"),
        "org": pick("SELECT name FROM orgs ORDER BY 1"),
    }


def make_pool(con, seed: int) -> list[Question]:
    """A seeded pool of ``POOL_SIZE`` questions in the ``MIX`` shares."""
    rng = np.random.default_rng(seed)
    oracle = Oracle(con)
    ents = entity_pools(con, rng)
    words = lambda n: " ".join(rng.choice(PHRASE_WORDS, n, replace=False))  # noqa: E731
    hit_templates = sorted(BINDS)
    pool: list[Question] = []
    for kind, share in MIX.items():
        for i in range(round(POOL_SIZE * share)):
            if kind == "template_hit":
                t = hit_templates[i % len(hit_templates)]
                terms = [str(rng.choice(ents[b])) for b in BINDS[t]]
                payload = {"query": TEMPLATES[t][0].format(*terms)}
                expected = oracle.cascade(t, terms)
            elif kind == "template_miss":
                # a phrase of common words bound as an author: no template
                # rows (no author has that name; no document has two
                # authors), so the answer comes from the full-text stages
                t = ("coauthors_of", "docs_by_author")[i % 2]
                terms = [words(2)]
                payload = {"query": TEMPLATES[t][0].format(*terms)}
                expected = oracle.cascade(t, terms)
            elif kind == "fulltext_only":
                terms = [words(1 + i % 2)]
                payload = {"query": f'Find documents mentioning "{terms[0]}"',
                           "neo4j_enabled": False}
                expected = ("fulltext_only", "fulltext",
                            oracle.fulltext_rows(terms[0].split(), True))
            else:
                ent_kind = ("title", "keyword")[i % 2]
                first = TEMPLATES["doc_properties" if ent_kind == "title" else "docs_by_keyword"][0]
                term = str(rng.choice(ents[ent_kind]))
                follow, t = FOLLOW_UPS[ent_kind][i // 2 % len(FOLLOW_UPS[ent_kind])]
                payload = {
                    "query": follow,
                    "history": [{"role": "user", "content": first.format(term)},
                                {"role": "assistant", "content": "..."}],
                }
                expected = oracle.cascade(t, [term])
            payload["session_id"] = f"q{len(pool)}"
            pool.append(Question(kind, payload, expected))
    return pool
