"""Central query registry — one QuerySpec per implemented operator from
SURVEY.md §2, exported to the driver via ``__spark_entry__.py``.

The gate order pins a spec whose fingerprint (``plans/fingerprint.py``:
its analyzed plan, its oracle text and the package code its build runs)
was first seen after its last green ``CORRECTNESS_r*`` row.  That is the
only regate signal; a pin clears once a round records the spec green.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

from .fingerprint import UNSTABLE, load_fingerprints
from .spec import QuerySpec

_ROOT = Path(__file__).resolve().parents[2]


def effective_round(
    name: str,
    history: dict[str, int] | None = None,
    fingerprints: dict[str, dict] | None = None,
) -> float:
    """The sort key the gate order actually uses for a spec: -1 if it has
    never had a green driver-gate row, -0.5 if its recorded fingerprint
    round is newer than its last green row, else that row's round.
    Exposed so the invariant tests assert on the same key the sort
    uses — a legitimate pin can then never contradict the ordering
    invariant.
    """
    if history is None:
        history = gate_history()
    if fingerprints is None:
        fingerprints = load_fingerprints()
    if name not in history:
        return -1.0
    fp = fingerprints.get(name)
    if fp is not None and fp["fp"] != UNSTABLE and fp["round"] > history[name]:
        return -0.5
    return float(history[name])


def _gate_rounds() -> list[tuple[int, Path]]:
    """(round, path) of each ``CORRECTNESS_r<N>.json`` the driver wrote at
    the repo root."""
    found = ((re.search(r"r(\d+)", p.stem), p) for p in sorted(_ROOT.glob("CORRECTNESS_r*.json")))
    return [(int(m.group(1)), p) for m, p in found if m]


def next_gate_round() -> int:
    """The round the driver's next gate will record: one past the newest
    ``CORRECTNESS_r*`` file."""
    return max((rnd for rnd, _ in _gate_rounds()), default=0) + 1


def gate_history() -> dict[str, int]:
    """spec name → latest round whose driver gate recorded a fully-green
    row (rows+schema+hash all matched).  Specs absent from every file
    have never been gated; specs present but not fully green are
    treated the same as never-green so they re-run at the front.
    """
    last: dict[str, int] = {}
    for rnd, p in _gate_rounds():
        try:
            rows = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, r in rows.items():
            if (
                isinstance(r, dict)
                and r.get("rows_match")
                and r.get("schema_match")
                and r.get("hash_match")
            ):
                last[name] = max(last.get(name, 0), rnd)
    return last


def all_specs() -> list[QuerySpec]:
    """Registry order = gate-run order, ascending by ``effective_round``:
    never-gated specs, then pins, then stalest-green first, with
    declaration order as the stable tiebreak.  A spec added this round
    reaches the budget-bounded gate before any green spec is re-proved.
    """
    from . import (
        analytics_queries,
        docs_queries,
        enrich_queries,
        er_queries,
        events_queries,
        graph_queries,
        ingest_queries,
        media_queries,
        nl_queries,
        pipeline_queries,
        relational,
        sink_queries,
        skew_queries,
        spatial_queries,
    )

    # Module order is the tiebreak among EQUALLY-stale specs (the sort
    # below is stable).  Families whose shared kernels changed most
    # recently (er/docs share the cosine+GEMM kernels touched in r3-r4;
    # events gained the streaming face) lead, so when the driver's
    # 50-spec budget can't cover every stale spec, the hard gate signal
    # lands on the code with the newest changes first.
    modules = [
        er_queries,
        docs_queries,
        events_queries,
        ingest_queries,
        enrich_queries,
        media_queries,
        nl_queries,
        skew_queries,
        analytics_queries,
        sink_queries,
        pipeline_queries,
        spatial_queries,
        relational,
        graph_queries,
    ]
    specs: list[QuerySpec] = []
    seen: set[str] = set()
    for m in modules:
        for s in m.SPECS:
            if s.name in seen:
                raise ValueError(f"duplicate query name {s.name}")
            seen.add(s.name)
            specs.append(s)
    history = gate_history()
    fingerprints = load_fingerprints()
    specs.sort(key=lambda s: effective_round(s.name, history, fingerprints))
    return specs


def spec_map() -> dict[str, QuerySpec]:
    return {s.name: s for s in all_specs()}
