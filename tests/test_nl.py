"""NL serving layer: planner classification, template execution,
fallback cascade, and formatting — on the sf0.001 graph."""

from __future__ import annotations

import pytest

from advanced_technologies_of_china_graph_database_construction_spark.nl import engine, formatter, planner

SF = "/root/testdata/sf0.001"


# ------------------------------------------------------------- planner ----

@pytest.mark.parametrize(
    "question,template,params",
    [
        ('How many papers per year mention "cold widget"?',
         "docs_per_year_for_keyword", {"keyword": "cold widget"}),
        ('Who wrote "DOC-7"?', "authors_of_doc", {"title": "DOC-7"}),
        ('List papers written by "Customer#000000001"',
         "docs_by_author", {"author": "Customer#000000001"}),
        ('Did "Customer#000000001" write "DOC-7"?',
         "author_wrote_doc", {"author": "Customer#000000001", "title": "DOC-7"}),
        ('Find co-authors of "Customer#000000001"',
         "coauthors_of", {"author": "Customer#000000001"}),
        ('Which keywords co-occur with "cold widget"?',
         "cooccurring_keywords", {"keyword": "cold widget"}),
        ('关于"cold widget"的论文', "docs_by_keyword", {"keyword": "cold widget"}),
        ('《DOC-7》的关键词', "keywords_of_doc", {"title": "DOC-7"}),
        ('How many papers did "Customer#000000001" write?',
         "count_docs_by_author", {"author": "Customer#000000001"}),
        ('"Customer#000000001"写了多少论文？',
         "count_docs_by_author", {"author": "Customer#000000001"}),
        # Q.txt 类型六 4-hop (Q16) — three phrasings of the related-authors ask
        ('Which authors publish on the same keywords as "Customer#000000001"?',
         "related_authors_via_keywords", {"author": "Customer#000000001"}),
        ('Show authors similar to... find related authors for "Customer#000000001"',
         "related_authors_via_keywords", {"author": "Customer#000000001"}),
        ('和"Customer#000000001"研究相同主题的相关作者',
         "related_authors_via_keywords", {"author": "Customer#000000001"}),
    ],
)
def test_planner_intents(question, template, params):
    p = planner.plan(question)
    assert p.template == template
    assert p.params == params


def test_planner_fallback_unparseable():
    p = planner.plan("tell me interesting things about spark joins")
    # 'about' rule needs a quoted keyword; with none it must degrade
    assert p.template == planner.FALLBACK_TEMPLATE
    assert "spark" in p.terms and "joins" in p.terms
    # the fallback scans search every word of every quoted term
    p = planner.plan('Find documents mentioning "merge batch" and \'cold\'')
    assert (p.terms, p.tokens) == (["merge batch", "cold"], ["merge", "batch", "cold"])


def test_extract_terms_quote_styles():
    assert planner.extract_terms('mix "a b" and \'c\' and “d” and 《e》') == [
        "a b", "c", "d", "e",
    ]


# ------------------------------------------------------------- engine -----

def test_template_answer_from_graph(spark):
    out = engine.answer(spark, SF, 'List papers written by "Customer#000000001"')
    assert out["stage"] == "template"
    assert 0 < out["n_rows"] <= engine.RESULT_LIMIT
    assert "DOC-" in out["answer"]


def test_related_authors_template_matches_direct_g16_query(spark):
    """The NL-facing 4-hop template compiles to the same result as the
    hand-written g16 DataFrame query (Q.txt 类型六 Q16)."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.graph import build_graph
    from advanced_technologies_of_china_graph_database_construction_spark.plans.graph_queries import (
        AUTHOR,
        g16_related_authors_via_keywords,
    )

    p = planner.plan(f'Which authors publish on the same keywords as "{AUTHOR}"?')
    assert p.template == "related_authors_via_keywords"
    got = engine.t_related_authors_via_keywords(
        build_graph(spark, SF), **p.params
    ).collect()
    want = g16_related_authors_via_keywords(spark, SF).collect()
    assert sorted((r["author"], r["n_shared_keywords"]) for r in got) == sorted(
        (r["author"], r["n_shared_keywords"]) for r in want
    )
    assert got  # non-empty at sf0.001: the 4-hop chain actually traverses


def test_existence_template(spark):
    p = planner.plan('Did "Customer#000000001" write "DOC-7"?')
    df = engine.execute_plan(spark, SF, p)
    assert df.count() in (0, 1)


def test_fallback_cascade_and_then_or(spark):
    # nonexistent entity -> template empty -> AND over both terms empty
    # (the 2nd term appears nowhere) -> OR finds docs containing 'spark'
    out = engine.answer(spark, SF, 'Who wrote "spark zzqx_none"?')
    assert out["stage"] == "fallback_or"
    assert out["n_rows"] > 0


def test_empty_cascade(spark):
    out = engine.answer(spark, SF, 'Who wrote "zzqx_none_anywhere"?')
    assert out["stage"] == "empty"
    assert out["answer"] == "No results found."


def test_fulltext_search_without_terms_keeps_its_columns(spark):
    # no terms: no rows, but the same (doc_id, snippet) frame as a search
    empty = engine.fulltext_search(spark, SF, [], True)
    assert empty.columns == engine.fulltext_search(spark, SF, ["merge"], True).columns
    assert empty.collect() == []


# ------------------------------------------------------- cascade cost -----

Q_HIT = 'List papers written by "Customer#000000001"'


def test_template_hit_never_builds_a_fallback(spark, monkeypatch):
    def no_fallback(*args, **kwargs):
        raise AssertionError("fallback plan built for a template hit")

    monkeypatch.setattr(engine, "fulltext_search", no_fallback)
    assert engine.answer(spark, SF, Q_HIT)["stage"] == "template"


def test_template_hit_costs_only_its_stage(spark, cost_of):
    engine.answer(spark, SF, Q_HIT)  # warm: graph store and session confs
    p = planner.plan(Q_HIT)
    _, (stage_jobs, _) = cost_of(lambda: engine.execute_plan(spark, SF, p).collect())
    out, (answer_jobs, _) = cost_of(lambda: engine.answer(spark, SF, Q_HIT))
    assert out["stage"] == "template"
    assert answer_jobs == stage_jobs


def test_fulltext_only_request_costs_one_job(spark, cost_of):
    from advanced_technologies_of_china_graph_database_construction_spark.nl import api

    payload = {"query": 'docs mentioning "merge batch"', "neo4j_enabled": False}
    api.handle_request(spark, SF, payload)  # warm: the documents frame
    out, (jobs, _) = cost_of(lambda: api.handle_request(spark, SF, payload))
    assert (out["stage"], out["template"]) == ("fulltext_only", "fulltext")
    assert out["n_rows"] > 0
    assert jobs == 1


def test_fulltext_only_request_keeps_its_stage_when_empty(spark):
    from advanced_technologies_of_china_graph_database_construction_spark.nl import api

    out = api.handle_request(
        spark, SF, {"query": 'find "zzqx_none_anywhere"', "neo4j_enabled": False}
    )
    assert out == {
        "answer": "No results found.",
        "stage": "fulltext_only",
        "template": "fulltext",
        "n_rows": 0,
        "session_id": None,
    }


# --------------------------------------------- in-memory serving graph -----

def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _scans_outside_cache(plan: str) -> list[str]:
    """The ``FileScan`` lines of ``plan`` that are not inside an
    ``InMemoryRelation`` subtree (nesting read from the indentation)."""
    out, cache_depth = [], None
    for line in plan.splitlines():
        depth = len(line) - len(line.lstrip(" :+-"))
        if cache_depth is not None and depth > cache_depth:
            continue
        cache_depth = depth if "InMemoryRelation" in line else None
        if "FileScan" in line:
            out.append(line)
    return out


def _filled(spark, df) -> bool:
    """``df``'s plan is cached and its cache holds data."""
    cached = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(df._jdf)
    return cached.isDefined() and (
        cached.get().cachedRepresentation().cacheBuilder().isCachedColumnBuffersLoaded()
    )


@pytest.fixture
def fresh_graph_memo(monkeypatch):
    """An empty graph memo for one test, so it sees what a first request
    does even after an earlier test's clearCache()."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators import graph

    monkeypatch.setattr(graph, "_GRAPH_CACHE", {})


@pytest.mark.parametrize(
    "question,frames,rel",
    [
        (Q_HIT, ("authors", "docs"), "AUTHORED"),
        ('关于"cold widget"的论文', ("keywords", "kw_alias", "docs"), "HAS_KEYWORD"),
    ],
)
def test_template_answer_reads_the_graph_from_memory(
    spark, fresh_graph_memo, question, frames, rel
):
    """After one warm answer every graph frame a template reads comes
    from the block manager: no Parquet scan outside an InMemoryRelation,
    while the cached edge frame was still filled by a scan pruned to its
    rel_type partition."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.graph import (
        build_graph,
    )

    assert engine.answer(spark, SF, question)["stage"] == "template"  # warm
    g = build_graph(spark, SF)
    for f in frames:
        assert _filled(spark, getattr(g, f)), f
    assert _filled(spark, g.edges_of(rel))
    df = engine.execute_plan(spark, SF, planner.plan(question))
    df.collect()
    plan = _plan(df)
    assert "InMemoryTableScan" in plan, plan
    assert _scans_outside_cache(plan) == [], plan
    assert any(
        "PartitionFilters" in l and "rel_type" in l and rel in l for l in plan.splitlines()
    ), plan


def test_answers_survive_a_cleared_cache(spark, fresh_graph_memo):
    """A cleared cache costs the serving graph its memory, not its
    answers: counts equal DuckDB's before and after clearCache()."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.graph import (
        GRAPH_ORACLE_CTES,
        build_graph,
    )
    from tests.oracle import duckdb_conn

    (want,) = duckdb_conn(SF).execute(
        GRAPH_ORACLE_CTES + "SELECT count(*) FROM authors a"
        " JOIN e_authored e ON a.author_id = e.src JOIN docs d ON e.dst = d.doc_id"
        " WHERE a.name = 'Customer#000000001'"
    ).fetchone()
    assert want > 0

    def count():
        return engine.t_docs_by_author(build_graph(spark, SF), "Customer#000000001").count()

    assert count() == want
    spark.catalog.clearCache()
    assert count() == want
    assert engine.answer(spark, SF, Q_HIT)["n_rows"] == min(want, engine.RESULT_LIMIT)


def test_cleared_cache_is_refilled_by_the_next_answer(spark, fresh_graph_memo):
    """clearCache() does not leave the memoized graph serving from
    Parquet: the next answer persists its frames again, so they are
    filled and a later plan scans no file outside an InMemoryRelation."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.graph import (
        build_graph,
    )

    assert engine.answer(spark, SF, Q_HIT)["stage"] == "template"  # warm
    spark.catalog.clearCache()
    assert engine.answer(spark, SF, Q_HIT)["stage"] == "template"
    g = build_graph(spark, SF)
    for frame in (g.authors, g.docs, g.edges_of("AUTHORED")):
        assert _filled(spark, frame)
    df = engine.execute_plan(spark, SF, planner.plan(Q_HIT))
    df.collect()
    plan = _plan(df)
    assert _scans_outside_cache(plan) == [], plan


def test_alias_aware_keyword_lookup(spark):
    # docs_by_keyword resolves through canonical ids (J9): must return at
    # least as many docs as a literal name match would
    p = planner.plan('关于"cold widget"的论文')
    df = engine.execute_plan(spark, SF, p)
    assert df.count() >= 0  # runs; alias closure exercised


# ------------------------------------------------------- compiler seam ----

def test_injected_compiler_receives_catalog_prompt(spark):
    """Q1 two-stage shape: answer() hands the compiler the same
    catalog+rules+few-shot prompt the reference embeds, and executes
    whatever QueryPlan it returns."""
    seen = {}

    def fake_compiler(question, catalog_prompt):
        seen["question"] = question
        seen["prompt"] = catalog_prompt
        return planner.QueryPlan(
            template="docs_by_author", params={"author": "Customer#000000001"}
        )

    out = engine.answer(spark, SF, "anything at all", compiler=fake_compiler)
    assert seen["question"] == "anything at all"
    assert "Rules:" in seen["prompt"] and "g_docs" in seen["prompt"]
    assert out["stage"] == "template"
    assert out["template"] == "docs_by_author"
    assert out["n_rows"] > 0


def test_unknown_compiler_template_degrades_to_fallback(spark):
    """A compiler emitting an unknown template (a hallucinated LLM plan)
    must degrade to the fallback search over its terms, not raise."""

    def bad_compiler(question, catalog_prompt):
        return planner.QueryPlan(
            template="no_such_template", params={}, terms=["spark"]
        )

    out = engine.answer(spark, SF, 'find "spark"', compiler=bad_compiler)
    assert out["stage"] in ("template", "fallback_and", "fallback_or")
    assert out["template"] == planner.FALLBACK_TEMPLATE
    assert out["n_rows"] > 0


def test_default_compiler_is_template_planner():
    p = engine.default_compiler('Who wrote "DOC-7"?', "")
    assert p.template == "authors_of_doc"


# ----------------------------------------------------------- formatter ----

def test_formatter_values():
    from pyspark.sql import Row

    rows = [Row(a=1, b=[1, 2], c=None), Row(a=2, b=[], c="x")]
    txt = formatter.format_rows(rows)
    assert "1. a: 1, b: [1, 2], c: null" in txt
    assert "2. a: 2, b: [], c: x" in txt


# ------------------------------------------------------- schema catalog ----

def test_schema_catalog_reflects_live_schemas(spark):
    from advanced_technologies_of_china_graph_database_construction_spark.nl import catalog as nlcat
    from advanced_technologies_of_china_graph_database_construction_spark.operators.graph import (
        EDGE_SCHEMA,
        build_graph,
    )

    g = build_graph(spark, SF)
    cat = nlcat.schema_catalog(g)
    for fam in ("g_docs", "g_authors", "g_keywords", "g_orgs", "g_addresses", "g_topics"):
        assert fam in cat
    # each relationship with its direction, so a flipped edge fails
    lines = cat.splitlines()
    assert "  (g_authors) -[AUTHORED]-> (g_docs)" in lines
    for rel, (src, dst) in EDGE_SCHEMA.items():
        assert f"  (g_{src}) -[{rel}]-> (g_{dst})" in lines, rel
    # live-derived: doc properties come from the actual schema
    assert "title:string" in cat and "year:int" in cat


def test_few_shot_sql_executes_and_matches_dataframe_path(spark):
    """The prompt's worked examples must be runnable truth: execute them
    over the registered g_* views and compare with the direct DataFrame
    queries they claim to equal."""
    from pyspark.sql import functions as F

    from advanced_technologies_of_china_graph_database_construction_spark.nl import catalog as nlcat
    from advanced_technologies_of_china_graph_database_construction_spark.nl.engine import t_docs_per_year_for_keyword
    from advanced_technologies_of_china_graph_database_construction_spark.operators.graph import (
        build_graph,
        register_graph_views,
    )

    g = build_graph(spark, SF)
    register_graph_views(g, spark)
    _, sql_docs = nlcat.FEW_SHOT[0]
    _, sql_years = nlcat.FEW_SHOT[1]
    assert spark.sql(sql_docs).count() > 0
    got = sorted(
        (r["year"], r["n_docs"]) for r in spark.sql(sql_years).collect()
    )
    want = sorted(
        (r["year"], r["n_docs"])
        for r in t_docs_per_year_for_keyword(g, "cold widget").collect()
    )
    assert got == want


def test_build_prompt_contains_rules_and_question(spark):
    from advanced_technologies_of_china_graph_database_construction_spark.nl import catalog as nlcat
    from advanced_technologies_of_china_graph_database_construction_spark.operators.graph import build_graph

    prompt = nlcat.build_prompt(build_graph(spark, SF), "How many docs in 2020?")
    assert "LIMIT 10" in prompt
    assert "g_kw_alias" in prompt
    assert prompt.rstrip().endswith("SQL:")
    assert "How many docs in 2020?" in prompt


# ----------------------------------------------------------- S12 HTTP API --

def test_http_answer_endpoint_roundtrip(spark):
    """S12: the loopback QA server carries the reference's request/
    response shape — POST /answer {query, history, neo4j_enabled,
    session_id} -> {answer, ...}."""
    import json
    import urllib.request

    from advanced_technologies_of_china_graph_database_construction_spark.nl import api

    server = api.serve(spark, SF)
    try:
        port = server.server_address[1]

        def post(payload, path="/answer"):
            req = urllib.request.Request(
                f"http://127.0.0.1:{port}{path}",
                data=json.dumps(payload).encode(),
                headers={"Content-Type": "application/json"},
                method="POST",
            )
            try:
                with urllib.request.urlopen(req) as resp:
                    return resp.status, json.loads(resp.read())
            except urllib.error.HTTPError as e:
                body = e.read()
                return e.code, json.loads(body) if body.strip().startswith(b"{") else {}

        status, out = post(
            {
                "query": 'What is the year and abstract of "DOC-7"?',
                "history": [],
                "neo4j_enabled": True,
                "session_id": "s-1",
            }
        )
        assert status == 200
        assert out["session_id"] == "s-1"
        assert out["n_rows"] == 1 and "DOC-7" in out["answer"]
        # graph disabled → fulltext-only stage, same contract
        status, out = post(
            {"query": 'Find documents mentioning "merge batch"', "neo4j_enabled": False}
        )
        assert status == 200 and out["stage"] == "fulltext_only" and out["n_rows"] > 0
        # malformed requests are 400s, not crashes
        assert post({"history": []})[0] == 400
        assert post({"query": "x"}, path="/nope")[0] == 404
        # engine errors surface as a JSON 500, not a dropped connection
        # (an uniterable history blows up inside handle_request)
        status, out = post({"query": "x", "history": 5})
        assert status == 500 and "error" in out
    finally:
        server.shutdown()


# -------------------------------------------------- S11 chat history ------

def test_chat_history_crud_and_recency_order(tmp_path):
    from advanced_technologies_of_china_graph_database_construction_spark.nl.history import ChatHistory

    h = ChatHistory(str(tmp_path / "chats.db"))
    h.append("s1", "user", "first question", ts=1)
    h.append("s1", "assistant", "first answer", ts=2)
    h.append("s2", "user", "other chat", ts=3)
    h.append("s1", "user", "follow-up", ts=4)
    assert h.messages("s1") == [
        ("user", "first question"),
        ("assistant", "first answer"),
        ("user", "follow-up"),
    ]
    # L4: most recently active first (s1 touched at ts=4)
    assert [sid for sid, _ in h.list_chats()] == ["s1", "s2"]
    assert h.list_chats()[0][1] == "first question"  # titled from first message
    h.delete_chat("s1")
    assert h.messages("s1") == []  # cascade removed the messages
    assert [sid for sid, _ in h.list_chats()] == ["s2"]
    h.close()


def test_http_endpoint_persists_history(spark, tmp_path):
    import json
    import urllib.request

    from advanced_technologies_of_china_graph_database_construction_spark.nl import api
    from advanced_technologies_of_china_graph_database_construction_spark.nl.history import ChatHistory

    h = ChatHistory(str(tmp_path / "chats.db"))
    server = api.serve(spark, SF, history=h)
    try:
        port = server.server_address[1]
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/answer",
            data=json.dumps(
                {"query": 'What is the year and abstract of "DOC-7"?', "session_id": "abc"}
            ).encode(),
            method="POST",
        )
        with urllib.request.urlopen(req) as resp:
            out = json.loads(resp.read())
        msgs = h.messages("abc")
        assert [r for r, _ in msgs] == ["user", "assistant"]
        assert msgs[1][1] == out["answer"]
    finally:
        server.shutdown()
        h.close()


def test_http_endpoint_answers_even_when_history_store_fails(spark):
    """Persistence is best-effort: a broken history store must not turn
    a successful answer into a dropped connection — the client still
    gets its 200 answer plus a history_error note."""
    import json
    import urllib.request

    from advanced_technologies_of_china_graph_database_construction_spark.nl import api

    class BrokenHistory:
        def max_ts(self):
            return 0

        def append_turn(self, *a, **k):
            raise RuntimeError("database is locked")

    server = api.serve(spark, SF, history=BrokenHistory())
    try:
        port = server.server_address[1]
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/answer",
            data=json.dumps(
                {"query": 'What is the year and abstract of "DOC-7"?', "session_id": "s"}
            ).encode(),
            method="POST",
        )
        with urllib.request.urlopen(req) as resp:
            assert resp.status == 200
            out = json.loads(resp.read())
        assert "DOC-7" in out["answer"]
        assert "database is locked" in out["history_error"]
    finally:
        server.shutdown()


# ------------------------------------------------ Q5 multi-turn glue ------

def test_plan_inherits_quoted_terms_from_history():
    p = planner.plan("Who wrote it?", history=['Tell me about "DOC-7"'])
    assert p.template == "authors_of_doc"
    assert p.params == {"title": "DOC-7"}


def test_plan_history_uses_most_recent_quoted_turn():
    p = planner.plan(
        "what are the keywords of it?",
        history=['about "DOC-3"', "thanks", 'now consider "DOC-9"'],
    )
    assert p.template == "keywords_of_doc"
    assert p.params == {"title": "DOC-9"}


def test_plan_own_terms_beat_history():
    p = planner.plan('Who wrote "DOC-5"?', history=['about "DOC-7"'])
    assert p.params == {"title": "DOC-5"}


def test_answer_multi_turn_follow_up(spark):
    out = engine.answer(
        spark, SF, "What is the year and abstract of it?",
        history=['Tell me about "DOC-7"'],
    )
    assert out["template"] == "doc_properties"
    assert out["n_rows"] == 1 and "DOC-7" in out["answer"]


def test_http_endpoint_threads_history(spark):
    import json
    import urllib.request

    from advanced_technologies_of_china_graph_database_construction_spark.nl import api

    server = api.serve(spark, SF)
    try:
        port = server.server_address[1]
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/answer",
            data=json.dumps(
                {
                    "query": "Who wrote it?",
                    "history": [
                        {"role": "user", "content": 'Tell me about "DOC-7"'},
                        {"role": "assistant", "content": "DOC-7 is …"},
                    ],
                }
            ).encode(),
            method="POST",
        )
        with urllib.request.urlopen(req) as resp:
            out = json.loads(resp.read())
        assert out["template"] == "authors_of_doc"
    finally:
        server.shutdown()


# ------------------------------------------- review regression fixes ------

def test_format_rows_escapes_newlines_and_count_is_exact():
    from pyspark.sql import Row

    rows = [Row(a="line1\nline2\r3. fake"), Row(a="plain")]
    txt = formatter.format_rows(rows)
    assert "\n".join(txt.splitlines()) == txt and len(txt.splitlines()) == 2
    assert "line1\\nline2\\r3. fake" in txt
    out = engine.default_synthesizer("q", txt)
    assert out.startswith("Found 2 result(s):")


def test_chat_history_is_thread_safe(tmp_path):
    import threading

    from advanced_technologies_of_china_graph_database_construction_spark.nl.history import ChatHistory

    h = ChatHistory(str(tmp_path / "chats.db"))
    errors = []

    def hammer(tid):
        try:
            for i in range(25):
                h.append("shared", "user", f"t{tid}-{i}", ts=tid * 1000 + i)
                h.append(f"s{tid}", "assistant", f"a{tid}-{i}", ts=tid * 1000 + i)
                h.list_chats()
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=hammer, args=(t,)) for t in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert len(h.messages("shared")) == 8 * 25
    assert h.max_ts() == 7 * 1000 + 24
    h.close()


def test_history_max_ts_keeps_recency_after_restart(tmp_path):
    from advanced_technologies_of_china_graph_database_construction_spark.nl.history import ChatHistory

    path = str(tmp_path / "chats.db")
    h = ChatHistory(path)
    h.append("old", "user", "hello", ts=50)
    h.close()
    h2 = ChatHistory(path)
    assert h2.max_ts() == 50
    h2.append("new", "user", "hi", ts=h2.max_ts() + 1)
    assert [sid for sid, _ in h2.list_chats()] == ["new", "old"]
    h2.close()


def test_handle_request_threads_history_when_graph_disabled(spark):
    from advanced_technologies_of_china_graph_database_construction_spark.nl import api

    out = api.handle_request(
        spark,
        SF,
        {
            "query": "what else about it?",
            "neo4j_enabled": False,
            "history": [{"role": "user", "content": 'docs mentioning "merge batch"'}],
        },
    )
    assert out["stage"] == "fulltext_only"
    assert out["n_rows"] > 0  # inherited "merge batch" tokens found docs


def test_compiler_prompt_includes_history(spark):
    seen = {}

    def compiler(question, prompt):
        seen["prompt"] = prompt
        return planner.QueryPlan(
            template="doc_properties", params={"title": "DOC-7"}
        )

    engine.answer(
        spark, SF, "and its year?", compiler=compiler, history=['about "DOC-7"']
    )
    assert "Conversation so far:" in seen["prompt"]
    assert 'about "DOC-7"' in seen["prompt"]


def test_cli_query_prints_answer(spark, capsys):
    from advanced_technologies_of_china_graph_database_construction_spark.__main__ import main

    rc = main(["--sf-dir", SF, "query", 'What is the year and abstract of "DOC-7"?'])
    out, err = capsys.readouterr()
    assert rc == 0
    assert "DOC-7" in out and "Found 1 result(s)" in out
    assert "template=doc_properties" in err


def test_cli_export_csv_writes_readable_bundle(spark, tmp_path, capsys):
    """export-csv writes the full neo4j-admin bundle, and the bundle
    round-trips through the engine's own readers (the same readers that
    parse the reference's exports in test_reference_parity)."""
    from advanced_technologies_of_china_graph_database_construction_spark.__main__ import main
    from advanced_technologies_of_china_graph_database_construction_spark.sources.csv_export import (
        read_node_csv,
        read_relationship_csv,
    )

    out_dir = str(tmp_path / "bundle")
    rc = main(["--sf-dir", SF, "export-csv", "--out", out_dir])
    out, _ = capsys.readouterr()
    assert rc == 0
    assert "documents:" in out and "AUTHORED:" in out
    docs = read_node_csv(spark, f"{out_dir}/document_nodes")
    assert docs.count() > 0 and "label" in docs.columns
    rels, labels = read_relationship_csv(spark, f"{out_dir}/authored_rels")
    assert labels == ("Author", "Document")
    assert rels.count() > 0
    assert [r.rel_type for r in rels.select("rel_type").distinct().collect()] == [
        "AUTHORED"
    ]


def test_append_turn_is_atomic(tmp_path):
    """A failure mid-pair (here: NOT NULL violation on the assistant
    row) must roll back the whole turn — no orphaned user row breaking
    the alternating-turn shape."""
    import sqlite3

    import pytest

    from advanced_technologies_of_china_graph_database_construction_spark.nl.history import ChatHistory

    h = ChatHistory(str(tmp_path / "chats.db"))
    h.append_turn("s1", "q1", "a1", 1, 2)
    assert h.messages("s1") == [("user", "q1"), ("assistant", "a1")]
    with pytest.raises(sqlite3.IntegrityError):
        h.append_turn("s1", "q2", None, 3, 4)  # type: ignore[arg-type]
    # the failed turn left nothing behind — neither message persisted
    assert h.messages("s1") == [("user", "q1"), ("assistant", "a1")]
    # and a failed FIRST turn leaves no chat row at all
    with pytest.raises(sqlite3.IntegrityError):
        h.append_turn("s2", "q", None, 5, 6)  # type: ignore[arg-type]
    assert h.list_chats() == [("s1", "q1")]


def test_literal_q16_planner_intent():
    """The literal Q16 coauthor-chain phrasing routes to the literal
    template, not the shared-keyword variant or plain coauthors_of."""
    for q in (
        '与"Customer#000000001"合作过的作者都发表过哪些领域的文献？',
        'What fields do coauthors of "Customer#000000001" publish in?',
    ):
        p = planner.plan(q)
        assert p.template == "coauthor_doc_topics"
        assert p.params == {"author": "Customer#000000001"}


def test_literal_q16_chain_on_synthetic_multi_author_graph(spark):
    """The literal Q.txt Q16 chain (Author→Doc→Author→Doc→Topic +
    content property) — pinned on a SYNTHETIC multi-author graph,
    because the shipped fixture gives every doc exactly one author and
    the coauthor frontier is empty there (which is why the gated 4-hop
    spec is the shared-keyword variant).

    Graph: alice & bob coauthor d1; bob also wrote d2 (topic T2, title
    DOC-2); carol wrote d3 alone.  Coauthors of alice = {bob}; bob's
    docs = {d1, d2} with topics {T1, T2} — so the chain returns both
    (bob, T1, DOC-1) and (bob, T2, DOC-2), and nothing from carol."""
    from pyspark.sql import functions as F

    from advanced_technologies_of_china_graph_database_construction_spark.operators.graph import (
        REL_AUTHORED,
        REL_HAS_TOPIC,
        GraphModel,
    )

    authors = spark.createDataFrame(
        [(1, "alice"), (2, "bob"), (3, "carol")], "author_id long, name string"
    )
    docs = spark.createDataFrame(
        [(10, "DOC-1"), (20, "DOC-2"), (30, "DOC-3")], "doc_id long, title string"
    )
    topics = spark.createDataFrame(
        [(100, "T1"), (200, "T2")], "topic_id long, name string"
    )
    edges = spark.createDataFrame(
        [
            (1, 10, REL_AUTHORED),  # alice -> d1
            (2, 10, REL_AUTHORED),  # bob   -> d1 (coauthored)
            (2, 20, REL_AUTHORED),  # bob   -> d2
            (3, 30, REL_AUTHORED),  # carol -> d3 (no coauthors)
            (10, 100, REL_HAS_TOPIC),
            (20, 200, REL_HAS_TOPIC),
            (30, 100, REL_HAS_TOPIC),
        ],
        "src long, dst long, rel_type string",
    )
    empty = spark.createDataFrame([], "id long, name string")
    g = GraphModel(
        docs=docs, authors=authors, keywords=empty, orgs=empty,
        addresses=empty, topics=topics, edges=edges,
        kw_alias=spark.createDataFrame([], "keyword_id long, canonical_id long"),
    )
    got = [tuple(r) for r in engine.t_coauthor_doc_topics(g, "alice").collect()]
    assert got == [("bob", "T1", "DOC-1"), ("bob", "T2", "DOC-2")]
    # single-author node: empty chain, not an error
    assert engine.t_coauthor_doc_topics(g, "carol").count() == 0
