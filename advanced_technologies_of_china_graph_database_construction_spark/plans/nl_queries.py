"""NL serving-path queries inside the correctness gate.

The reference's serving layer compiles a natural-language question to a
query and executes it (`neo4j_query_executor.py:240-322`).  These specs
run that exact path — :func:`nl.planner.plan` (Q1, deterministic
template planner + quoted-term extraction F13) followed by
:func:`nl.engine.execute_plan` (Q2) — and check the *result* against the
same DuckDB oracles as the hand-written graph queries, proving the
NL front-end compiles to plans equivalent to the direct DataFrame code.

Only templates whose full result set is below the LIMIT-10 prompt rule
(`neo4j_query_executor.py:264`) are used, so `.limit(10)` never makes
the compared result nondeterministic.  The fulltext fallback (Q3) is
checked through its own deterministic ORDER BY doc_id / LIMIT cap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..nl.engine import execute_plan, fulltext_search
from ..nl.planner import plan
from ..operators.graph import GRAPH_ORACLE_CTES
from .graph_queries import G16_SQL
from .spec import QuerySpec

# Questions phrased the way a user would ask them; entities quoted so the
# term extractor (F13 analogue) binds them.
Q_PER_YEAR = 'How many papers per year are about "cold widget"?'
# Customer#000001328 is DOC-7's author at sf0.01 (the gate's sf), so the
# existence check exercises the non-empty branch there; at other sfs the
# Spark and oracle sides still agree by construction.
Q_WROTE = 'Did "Customer#000001328" write "DOC-7"?'
Q_PROPS = 'What is the year and abstract of "DOC-7"?'
Q_ORG_TOPICS = 'Which topics does the organization "Supplier#000000001" publish on?'
# no intent rule matches → planner degrades to the fulltext template
Q_FALLBACK = 'Find documents mentioning "merge batch"'


def _run(question: str):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        return execute_plan(spark, sf_dir, plan(question))

    return fn


def n05_fallback_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = plan(Q_FALLBACK)
    assert p.template == "fulltext", p
    return fulltext_search(spark, sf_dir, p.tokens, require_all=True)


def n06_formatted_answer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 + F14 through the gate: the full serving cascade (compile →
    execute → format_rows → default synthesizer) on a question whose
    result set is deterministically ordered (the fulltext template
    orders by doc_id), returned as a one-row DataFrame so the oracle
    can rebuild the exact answer text with SQL string aggregation."""
    from ..nl.engine import answer

    res = answer(spark, sf_dir, Q_FALLBACK)
    return spark.createDataFrame(
        [(res["answer"], res["stage"], res["template"], res["n_rows"])],
        schema="answer string, stage string, template string, n_rows long",
    )


N01_SQL = GRAPH_ORACLE_CTES + """
SELECT d.year, count(*) AS n_docs
FROM keywords k JOIN e_has_keyword e ON k.keyword_id = e.dst
JOIN docs d ON e.src = d.doc_id
WHERE k.name = 'cold widget'
GROUP BY d.year
"""

N02_SQL = GRAPH_ORACLE_CTES + """
SELECT 'Customer#000001328' AS author, 'DOC-7' AS title
FROM authors a JOIN e_authored e ON a.author_id = e.src
JOIN docs d ON e.dst = d.doc_id
WHERE a.name = 'Customer#000001328' AND d.title = 'DOC-7'
"""

N03_SQL = GRAPH_ORACLE_CTES + """
SELECT title, label, year, totalprice, status
FROM docs WHERE title = 'DOC-7'
"""

N04_SQL = GRAPH_ORACLE_CTES + """
SELECT t.name AS topic, count(*) AS n_docs
FROM orgs o JOIN e_published_by ep ON o.org_id = ep.dst
JOIN e_has_topic et ON ep.src = et.src
JOIN topics t ON et.dst = t.topic_id
WHERE o.name = 'Supplier#000000001'
GROUP BY t.name
"""

N05_SQL = """
SELECT doc_id, substring(text, 1, 120) AS snippet
FROM documents
WHERE contains(lower(text), 'merge') AND contains(lower(text), 'batch')
ORDER BY doc_id
LIMIT 100
"""

# The template stage searches the full quoted phrase (p.terms), not the
# split tokens — the tokenized AND/OR fallbacks only run if it comes up
# empty.  At the gate SF the phrase hits, so the answer is built from
# the template stage's rows.
N06_SQL = """
WITH hits AS (
  SELECT doc_id,
         replace(replace(substring(text, 1, 120), chr(13), '\\r'), chr(10), '\\n')
           AS snippet
  FROM documents
  WHERE contains(lower(text), 'merge batch')
  ORDER BY doc_id
  LIMIT 100),
numbered AS (
  SELECT row_number() OVER (ORDER BY doc_id) AS i, doc_id, snippet FROM hits),
fmt AS (
  SELECT string_agg(i || '. doc_id: ' || doc_id || ', snippet: ' || snippet,
                    chr(10) ORDER BY i) AS body,
         count(*) AS n
  FROM numbered)
SELECT 'Found ' || n || ' result(s):' || chr(10) || body AS answer,
       'template' AS stage, 'fulltext' AS template, n AS n_rows
FROM fmt
"""

# Q.txt 类型五 (co-occurrence) through the NL path.  The template's full
# result exceeds the LIMIT-10 serving rule, so like n05 the spec asserts
# the planner's compilation and runs the bound template directly (full
# deterministic aggregate) rather than execute_plan's capped serving cut.
Q_COOCCUR = 'Which keywords co-occur with "cold widget"?'


def n08_nl_cooccurring_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..nl.engine import t_cooccurring_keywords
    from ..operators.graph import build_graph

    p = plan(Q_COOCCUR)
    assert p.template == "cooccurring_keywords", p
    assert p.params.get("keyword") == "cold widget", p
    return t_cooccurring_keywords(build_graph(spark, sf_dir), **p.params)


# Exact mirror of the template's ID-based semantics: the exclusion is
# `dst2 <> the matched keyword_id`, NOT by name — a second keyword id
# sharing the name 'cold widget' legitimately counts as related (the
# name-based variant undercounts by exactly that row).  Duplicate NAMES
# are also mirrored, not fixture-dependent: the template's
# `keywords.filter(name == kw)` binds EVERY id carrying the name and
# sums their contributions in the groupBy, and the oracle's JOIN on
# k.name produces the identical one-row-group-per-matching-k expansion
# with the identical per-matched-id exclusion — the two sides are the
# same join DAG, id-unique fixture or not.
N08_SQL = GRAPH_ORACLE_CTES + """
SELECT k2.name AS related, count(*) AS n_docs
FROM keywords k
JOIN e_has_keyword e1 ON e1.dst = k.keyword_id
JOIN e_has_keyword e2 ON e2.src = e1.src
JOIN keywords k2 ON e2.dst = k2.keyword_id
WHERE k.name = 'cold widget' AND e2.dst <> k.keyword_id
GROUP BY k2.name
"""


def n09_http_answer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11+S12 through the gate: POST the n06 question to a LIVE
    loopback ``/answer`` server backed by a SQLite ChatHistory.  The
    HTTP response body becomes the gated row (the same N06 oracle — the
    serving transport must not change the answer), and the spec asserts
    both turns persisted under the session with the user→assistant
    shape and recency ordering (L4) before returning."""
    import json as _json
    import os
    import shutil
    import tempfile
    import urllib.request

    from ..nl.api import serve
    from ..nl.history import ChatHistory

    hist_dir = tempfile.mkdtemp(prefix="n09_hist_")
    hist = ChatHistory(os.path.join(hist_dir, "chats.db"))
    server = serve(spark, sf_dir, history=hist)
    try:
        port = server.server_address[1]
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/answer",
            data=_json.dumps({"query": Q_FALLBACK, "session_id": "gate"}).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=120) as r:
            res = _json.loads(r.read())
        msgs = hist.messages("gate")
        assert [role for role, _ in msgs] == ["user", "assistant"], msgs
        assert msgs[0][1] == Q_FALLBACK and msgs[1][1] == res["answer"]
        chats = hist.list_chats()
        assert chats and chats[0][0] == "gate", chats
    finally:
        # shutdown() only stops the serve_forever loop; server_close()
        # releases the listening socket, and the SQLite dir is temp-only.
        server.shutdown()
        server.server_close()
        shutil.rmtree(hist_dir, ignore_errors=True)
    return spark.createDataFrame(
        [(res["answer"], res["stage"], res["template"], res["n_rows"])],
        schema="answer string, stage string, template string, n_rows long",
    )


# Q16-STYLE 4-hop variant (Q.txt 类型六 class) through the NL path — the
# last workload class the deterministic planner compiles (the reference
# reaches it only via its LLM, `neo4j_query_executor.py:240-322`).  The
# chain here is shared-KEYWORD related authors, not the literal Q16
# coauthor chain (Author→Doc→Author→Doc→Topic + abstract): that chain is
# empty on single-author fixtures, so it lives as the unit-tested
# `nl/engine.t_coauthor_doc_topics` template.  Gated against the same
# oracle as the direct-DataFrame g16 spec: the template's ORDER BY
# (score desc, author asc) + LIMIT 20 is deterministic, so the full
# template result is compared (the n08 pattern — serving LIMIT 10 is
# bypassed; `answer()` would cap the same rows for presentation).
Q_RELATED = 'Which authors publish on the same keywords as "Customer#000000001"?'


def n10_nl_related_authors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..nl.engine import t_related_authors_via_keywords
    from ..operators.graph import build_graph

    p = plan(Q_RELATED)
    assert p.template == "related_authors_via_keywords", p
    assert p.params.get("author") == "Customer#000000001", p
    return t_related_authors_via_keywords(build_graph(spark, sf_dir), **p.params)


# Q5 multi-turn glue through the gate: the follow-up names NO quoted
# entity, so the planner must inherit "cold widget" from the prior turn
# and compile to the same per-year plan — gated against the n01 oracle.
Q_FOLLOWUP = "And how many per year?"


def n07_multiturn_followup(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = plan(Q_FOLLOWUP, history=[Q_PER_YEAR])
    assert p.template == "docs_per_year_for_keyword", p
    assert p.params.get("keyword") == "cold widget", p
    return execute_plan(spark, sf_dir, p)


# counting face of 类型三 through the NL path — one-row aggregate, so
# the serving LIMIT is irrelevant and execute_plan runs unmodified.
Q_COUNT = 'How many papers did "Customer#000000001" write?'


def n11_nl_count_docs_by_author(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = plan(Q_COUNT)
    assert p.template == "count_docs_by_author", p
    assert p.params.get("author") == "Customer#000000001", p
    return execute_plan(spark, sf_dir, p)


N11_SQL = GRAPH_ORACLE_CTES + """
SELECT 'Customer#000000001' AS author, count(DISTINCT e.dst) AS n_docs
FROM e_authored e JOIN authors a ON e.src = a.author_id
WHERE a.name = 'Customer#000000001'
"""


SPECS = [
    QuerySpec(
        name="n11_nl_count_docs_by_author",
        fn=n11_nl_count_docs_by_author,
        oracle=N11_SQL,
        category="nl",
        description="Q1+Q2: counting question (类型三) through the NL planner "
        "— semi-funnel + count aggregate, one deterministic row.",
    ),
    QuerySpec(
        name="n01_nl_docs_per_year",
        fn=_run(Q_PER_YEAR),
        oracle=N01_SQL,
        category="nl",
        description="Q1+Q2: NL question compiled by the template planner to the "
        "docs-per-year-for-keyword plan; result oracle-checked (Q.txt Q10 shape).",
    ),
    QuerySpec(
        name="n02_nl_author_wrote_doc",
        fn=_run(Q_WROTE),
        oracle=N02_SQL,
        category="nl",
        description="Q1+Q2: relationship-existence question (Q.txt 类型四) through "
        "the NL planner; semi-join result oracle-checked.",
    ),
    QuerySpec(
        name="n03_nl_doc_properties",
        fn=_run(Q_PROPS),
        oracle=N03_SQL,
        category="nl",
        description="Q1+Q2: property-lookup question (Q.txt 类型三) through the NL "
        "planner.",
    ),
    QuerySpec(
        name="n04_nl_org_topics",
        fn=_run(Q_ORG_TOPICS),
        oracle=N04_SQL,
        category="nl",
        description="Q1+Q2: 3-hop org→doc→topic question (Q.txt Q15) through the "
        "NL planner.",
    ),
    QuerySpec(
        name="n05_nl_fallback_fulltext",
        fn=n05_fallback_search,
        oracle=N05_SQL,
        category="nl",
        description="Q3: unknown-intent question degrades to the AND-of-terms "
        "fulltext fallback scan (P8, LIMIT 100) — the reference's empty-result "
        "cascade (`neo4j_query_executor.py:389-459`).",
    ),
    QuerySpec(
        name="n06_formatted_answer",
        fn=n06_formatted_answer,
        oracle=N06_SQL,
        category="nl",
        description="Q4+F14: full serving cascade with result stringification "
        "(numbered `key: value` lines, `neo4j_query_executor.py:45-121`) and "
        "answer synthesis; oracle rebuilds the text via SQL string_agg.",
    ),
    QuerySpec(
        name="n09_http_answer_roundtrip",
        fn=n09_http_answer_roundtrip,
        oracle=N06_SQL,
        category="nl",
        description="S11+S12: the full serving cascade over a LIVE loopback "
        "HTTP server with SQLite history persistence, response gated against "
        "the n06 oracle.",
    ),
    QuerySpec(
        name="n08_nl_cooccurring_keywords",
        fn=n08_nl_cooccurring_keywords,
        oracle=N08_SQL,
        category="nl",
        description="Q1+Q2: co-occurrence question (Q.txt 类型五, J7 self-join) "
        "compiled by the NL planner; full aggregate oracle-checked (serving "
        "LIMIT bypassed for determinism, the n05 pattern).",
    ),
    QuerySpec(
        name="n10_nl_related_authors",
        fn=n10_nl_related_authors,
        oracle=G16_SQL,
        category="nl",
        description="Q1+Q2: 4-hop related-authors question (Q16-style 类型六 "
        "variant via shared keywords — the literal coauthor chain is empty "
        "on single-author fixtures; the class the reference compiles only "
        "via LLM) through the "
        "deterministic NL planner; full ordered top-20 gated against the g16 "
        "oracle (the n08 pattern).",
    ),
    QuerySpec(
        name="n07_multiturn_followup",
        fn=n07_multiturn_followup,
        oracle=N01_SQL,
        category="nl",
        description="Q5 multi-turn glue: an entity-free follow-up inherits the "
        "previous turn's quoted terms and compiles to the identical per-year "
        "plan (`api_server.py:95` history threading, deterministic core).",
    ),
]
