from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    from advanced_technologies_of_china_graph_database_construction_spark import get_spark

    s = get_spark("atcgdc-tests")
    yield s


@pytest.fixture
def cost_of(spark):
    """``cost_of(run)`` → (run's result, (jobs, stages) it scheduled):
    ``bench._job_cost``, the count scripts/time_spec.py reports per
    spec."""
    from bench import _job_cost

    return lambda run: _job_cost(spark, run)


@pytest.fixture
def edit_source(monkeypatch):
    """``edit_source(module, name, old, new)`` edits the top-level def
    ``name`` of ``module`` as if its file were changed on disk: the
    file's text (as ``linecache`` serves it) gets ``old`` → ``new``, and
    the def is recompiled from it with the module's file name and
    globals.  Both are restored after the test."""
    import ast
    import linecache

    def edit(module, name: str, old: str, new: str) -> None:
        file = module.__file__
        src = "".join(linecache.getlines(file))
        assert src.count(old) == 1, old
        src = src.replace(old, new)
        monkeypatch.setitem(linecache.cache, file, (len(src), None, src.splitlines(True), file))
        node = next(n for n in ast.parse(src).body if getattr(n, "name", None) == name)
        defined: dict = {}
        exec(compile(ast.Module([node], []), file, "exec"), vars(module), defined)
        monkeypatch.setattr(module, name, defined[name])

    return edit
