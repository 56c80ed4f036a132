"""The spec fingerprint is the gate order's only regate signal, so it
must move with every edit a spec's result can depend on — the code its
build runs (including superstep loop bodies its plan cannot show) and
its oracle — and stay put under edits that change nothing: docstrings,
comments, line positions, and a memo hit instead of a cold build."""

from __future__ import annotations

import linecache
import os
import types

from advanced_technologies_of_china_graph_database_construction_spark.operators import analytics, graph
from advanced_technologies_of_china_graph_database_construction_spark.plans import fingerprint
from advanced_technologies_of_china_graph_database_construction_spark.plans.fingerprint import (
    analyzed_plan,
    code_digest,
    spec_fingerprint,
)

SF = "/root/testdata/sf0.001"

_PROBE = '''
BASE = {3, 1, 2}


def f(x):
    """Adds one to x."""
    return g(x) + len(BASE)


def g(x):
    return x + 1
'''


def _digest_of(src: str) -> str:
    """code_digest of ``f`` compiled from ``src`` as one package file."""
    file = os.path.join(os.path.dirname(os.path.dirname(fingerprint.__file__)), "_probe.py")
    linecache.cache[file] = (len(src), None, src.splitlines(True), file)
    try:
        mod = types.ModuleType("_probe")
        mod.__file__ = file
        exec(compile(src, file, "exec"), vars(mod))
        return code_digest(mod.f)
    finally:
        del linecache.cache[file]


def test_code_digest_ignores_docs_comments_and_layout():
    base = _digest_of(_PROBE)
    assert _digest_of(_PROBE.replace("Adds one to x.", "Increments x.")) == base
    moved = "# a comment\n\n\n" + _PROBE.replace("    return g(x)", "    # note\n\n    return g(x)")
    assert _digest_of(moved) == base


def test_code_digest_moves_with_a_body_or_constant_edit():
    base = _digest_of(_PROBE)
    assert _digest_of(_PROBE.replace("return x + 1", "return x + 2")) != base  # g, reached from f
    assert _digest_of(_PROBE.replace("{3, 1, 2}", "{3, 1, 4}")) != base


def test_in_loop_edit_moves_the_fingerprint(spark, edit_source):
    """A no-op statement inside the shared rank loop leaves pagerank's
    analyzed plan (a checkpoint scan) identical but re-gates it."""
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long")
    plans = []

    def build():
        df = analytics.pagerank(edges, n_iter=1)
        plans.append(analyzed_plan(df))
        return df

    before = spec_fingerprint(build, None)
    loop_line = '            nxt = nodes.join(sums, "node", "left")\n'
    edit_source(analytics, "_rank_loop", loop_line, "            pass\n" + loop_line)
    after = spec_fingerprint(build, None)
    assert plans[0] == plans[1]
    assert after != before


def test_oracle_edit_moves_the_fingerprint(spark):
    build = lambda: spark.range(3)  # noqa: E731
    assert spec_fingerprint(build, "SELECT 1 AS x") != spec_fingerprint(build, "SELECT 2 AS x")
    assert spec_fingerprint(build, "SELECT 1 AS x") == spec_fingerprint(build, "SELECT 1 AS x")


def test_memo_hit_fingerprints_like_a_cold_build(spark, tmp_path, monkeypatch):
    """A graph spec fingerprinted cold (no store, no memo) and again on
    ``build_graph``'s memo hit gets the same fingerprint."""
    from advanced_technologies_of_china_graph_database_construction_spark.plans.registry import spec_map

    monkeypatch.setattr(graph, "_STORE_ROOT", str(tmp_path / "stores"))
    monkeypatch.setattr(graph, "_GRAPH_CACHE", {})
    spec = spec_map()["g01_docs_by_author"]
    cold = spec_fingerprint(lambda: spec.fn(spark, SF), spec.oracle)
    assert len(graph._GRAPH_CACHE) == 1
    assert spec_fingerprint(lambda: spec.fn(spark, SF), spec.oracle) == cold
