"""Per-spec fingerprints — the one signal that re-gates a spec.

The driver's gate re-proves only the first 50 specs of ``all_specs()``;
``registry.effective_round`` puts a spec among them when its
fingerprint was first seen after its last green ``CORRECTNESS_r*`` row.
``spec_fingerprint`` hashes:

- the spec frame's analyzed plan, with expression and plan ids, paths,
  hex tokens ≥ 8 chars (uuid'd temp names) and CTE numbers normalized;
- the spec's DuckDB oracle text, so an oracle-only edit re-gates it;
- every package function the build ran, recorded by a profile hook
  (``threading.setprofile`` too, so streaming callback threads count)
  and closed over the package defs, classes and module-level
  assignments they name — globals, attributes of package modules and
  function-local ``from … import`` targets — so a memo hit reaches the
  same set as a cold build.  Each is hashed from its AST, so
  docstrings, comments and line numbers drop out; an assignment hashes
  as its source, so ``PYTHONHASHSEED`` cannot reorder a set.

So an edit inside a superstep loop, a ``mapInPandas`` body or an oracle
re-gates every spec it reaches though the plan (often a checkpoint
scan) does not move.  What escapes: code reached only from a branch the
sf0.001 build never takes, through a method or computed lookup; and
code run only in Python workers that no driver-side function names.
``scripts/plan_fingerprints.py`` keeps ``PLAN_FINGERPRINTS.json``.
"""

from __future__ import annotations

import ast
import functools
import hashlib
import importlib
import inspect
import json
import linecache
import os
import re
import sys
import threading
import types
from collections.abc import Callable
from pathlib import Path

FINGERPRINTS_FILE = Path(__file__).resolve().parents[2] / "PLAN_FINGERPRINTS.json"

UNSTABLE = "unstable"

# the package directory as its code objects spell it; files are named
# relative to the repo root, so a checkout's location never moves a digest
_PKG = os.path.dirname(os.path.dirname(os.path.abspath(__file__))) + os.sep
_ROOT = os.path.dirname(_PKG.rstrip(os.sep))
_TOP = __package__.split(".")[0]

_NORMALIZERS = (
    (re.compile(r"#\d+"), "#"),  # expression ids, fresh per session
    (re.compile(r"plan_id=\d+"), "plan_id="),
    # higher-order-function lambda variables carry a session-global
    # counter: `lambda x_2#` in one session is `lambda x_20#` in the next
    (re.compile(r"lambda (\w+?)_\d+"), r"lambda \1_"),
    (re.compile(r"(?:file:)?/[\w./\-]+"), "<path>"),  # temp dirs, sf dirs
    # uuid'd names: createDataFrame's `_pyspark_<32hex>` views, streaming
    # sink views like `e11_sink_<8hex>` — `\b` never fires after `_`,
    # so anchor on the underscore itself
    (re.compile(r"_[0-9a-f]{8,}\b"), "_<hex>"),
    (re.compile(r"\b[0-9a-f]{8,}\b"), "<hex>"),  # bare uuid/hash tokens
    (re.compile(r"cte_?\d+", re.IGNORECASE), "cte"),
)


def normalize_plan(text: str) -> str:
    for pat, repl in _NORMALIZERS:
        text = pat.sub(repl, text)
    return text


def analyzed_plan(df) -> str:
    """The normalized analyzed-plan string of ``df``.  Classic
    (non-Connect) sessions only — exactly what the local gate runs."""
    return normalize_plan(df._jdf.queryExecution().analyzed().toString())


_ran: dict | None = None  # code object → its globals, while a build runs


def _record(frame, event, arg):
    ran = _ran  # one read: the build may end between a check and a store
    if event == "call" and ran is not None:
        ran[frame.f_code] = frame.f_globals


def spec_fingerprint(build: Callable[[], object], oracle: str | None) -> str:
    """hex16 sha256 of ``build()``'s analyzed plan, the ``oracle`` text
    and the digest of the package functions the build ran."""
    global _ran
    _ran = {}
    sys.setprofile(_record)
    threading.setprofile(_record)
    try:
        df = build()
    finally:
        sys.setprofile(None)
        threading.setprofile(None)
        ran, _ran = dict(_ran), None
    digest = _digest([(c.co_filename, c.co_qualname.split(".")[0], g) for c, g in ran.items()])
    return hashlib.sha256("\0".join((analyzed_plan(df), oracle or "", digest)).encode()).hexdigest()[:16]


def code_digest(*fns: Callable) -> str:
    """sha256 over the ASTs of ``fns`` and of every package function,
    class and module-level assignment they name, transitively."""
    return _digest([_unit(f, {}, "") for f in fns])


def _digest(units: list) -> str:
    """sha256 over the package units among ``units`` — (file, top-level
    name, globals) — and every unit their ASTs name, transitively."""
    parts, done, todo = set(), set(), list(units)
    while todo:
        u = todo.pop()
        if not u or not u[0].startswith(_PKG) or u[:2] in done:
            continue
        file, name, glb = u
        done.add((file, name))
        if (node := _defs("".join(linecache.getlines(file))).get(name)) is None:
            continue
        parts.add(f"{os.path.relpath(file, _ROOT)}:{name}:{ast.dump(node)}")
        local = {}  # function-local `from <package module> import …` targets
        for n in ast.walk(node):
            if isinstance(n, ast.ImportFrom) and (n.level or (n.module or "").startswith(_TOP)):
                mod = importlib.import_module("." * n.level + (n.module or ""), glb.get("__package__"))
                for a in n.names:
                    if not hasattr(mod, a.name):  # a submodule not imported yet
                        importlib.import_module(f"{mod.__name__}.{a.name}")
                    local[a.asname or a.name] = (vars(mod), a.name)
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                scope, name = local.get(n.id, (glb, n.id))
                todo.append(_unit(scope.get(name), scope, name))
            elif isinstance(n, ast.Attribute) and isinstance(n.value, ast.Name):
                scope, name = local.get(n.value.id, (glb, n.value.id))
                if isinstance(mod := scope.get(name), types.ModuleType):
                    todo.append(_unit(getattr(mod, n.attr, None), vars(mod), n.attr))
    return hashlib.sha256("\n".join(sorted(parts)).encode()).hexdigest()


def _unit(obj, scope: dict, name: str) -> tuple | None:
    """(file, top-level name, globals) of the def or class holding the code
    of ``obj`` (decorators unwrapped; a method, nested function or lambda
    belongs to its top-level def or class), else of the module-level
    assignment binding ``scope[name]``; None for a module or no binding."""
    fn = inspect.unwrap(obj) if callable(obj) else obj
    if isinstance(fn, types.FunctionType):
        return fn.__code__.co_filename, fn.__code__.co_qualname.split(".")[0], fn.__globals__
    if isinstance(fn, type) and (mod := sys.modules.get(fn.__module__)):
        return getattr(mod, "__file__", None) or "", fn.__qualname__.split(".")[0], vars(mod)
    if name in scope and not isinstance(obj, types.ModuleType):
        return scope.get("__file__") or "", name, scope
    return None


@functools.lru_cache(maxsize=None)
def _defs(src: str) -> dict:
    """name → node of each module-level def, class and assignment of
    ``src``, docstrings dropped (``ast.dump`` leaves line numbers out)."""
    tree = ast.parse(src)
    for n in ast.walk(tree):
        if isinstance(n, _DEFS) and ast.get_docstring(n, clean=False) is not None:
            n.body = n.body[1:]
    out = {}
    for n in tree.body:
        if isinstance(n, _DEFS):
            out[n.name] = n
        elif isinstance(n, (ast.Assign, ast.AnnAssign)):
            targets = n.targets if isinstance(n, ast.Assign) else [n.target]
            out.update({t.id: n for tg in targets for t in ast.walk(tg) if isinstance(t, ast.Name)})
    return out


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def load_fingerprints() -> dict[str, dict]:
    """{spec: {"fp": hex16 | "unstable", "round": int}} from the
    committed file; {} when absent (fresh checkout → no auto-pins)."""
    try:
        data = json.loads(FINGERPRINTS_FILE.read_text())
    except (OSError, ValueError):
        return {}
    items = data.items() if isinstance(data, dict) else ()
    return {k: v for k, v in items if isinstance(v, dict) and "fp" in v and isinstance(v.get("round"), int)}


def save_fingerprints(data: dict[str, dict]) -> None:
    FINGERPRINTS_FILE.write_text(json.dumps(dict(sorted(data.items())), indent=1) + "\n")
