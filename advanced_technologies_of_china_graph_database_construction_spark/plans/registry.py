"""Central query registry — one QuerySpec per implemented operator from
SURVEY.md §2, exported to the driver via ``__spark_entry__.py``.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

from .fingerprint import UNSTABLE, load_fingerprints
from .spec import QuerySpec

# MANUAL OVERRIDE set: specs whose EXECUTED PLAN changed after their
# latest green driver-gate row, promoted ahead of every already-green
# spec in the gate order.  Since r10 the primary plan-change signal is
# DERIVED — ``scripts/plan_fingerprints.py`` persists a normalized
# analyzed-plan hash per spec and ``effective_round`` auto-pins any
# spec whose fingerprint drifted after its last green row (the r8
# incident class: a shared-kernel change routes through specs whose own
# builder didn't change).  This set remains for overrides the
# fingerprint cannot see (e.g. a behavior change with an identical
# analyzed plan — a UDF body edit).  Remove an entry once the next
# CORRECTNESS_r* round records it green again.  Pinned specs sort AFTER
# genuinely never-gated ones (a spec with no green row at all is the
# bigger unknown) but BEFORE all green ones — see effective_round().
PLAN_CHANGED_REGATE: set[str] = {
    # operators.superstep migration: loop bodies changed inside
    # checkpointed loops (final frames are checkpoint scans, so the
    # fingerprints cannot see it) — the shared rank loop ...
    "g21_copub_pagerank",
    "g24_directed_pagerank",
    "g32_weighted_copub_pagerank",
    "g25_related_keywords_ppr",
    "g33_weighted_copub_ppr",
    # ... label propagation ...
    "g23_copub_communities",
    "g48_community_supergraph",
    "g50_louvain_refine",
    # ... HITS ...
    "g26_doc_keyword_hits",
    # ... single-source BFS ...
    "g27_reach_distances",
    "g34_weighted_reach_distances",
    "g44_reach_fixpoint",
    # ... the shared forward-σ layer loop ...
    "g47_shortest_path_counts",
    "g49_landmark_betweenness",
    # ... multi-source BFS (sparse layout only) ...
    "g35_multi_source_bfs",
    "g36_landmark_harmonic",
    # ... and the walk corpus with every spec that reads it.
    "g40_walk_corpus",
    "g42_walk_ppmi_collocations",
    "g43_walk_embedding_ann",
    "g46_walk_embedding_pca",
    "g51_embedding_link_auc",
    # Carried pins: in-loop changes with no green CORRECTNESS_r* row
    # since (g28/g31 k-core and g39 SCC in r17; p03, e15 and g43 —
    # pinned above — in r16).
    "g28_kcore_orgs",
    "g31_kcore_doc_keyword",
    "g39_strongly_connected",
    "p03_incremental_er_lifecycle",
    "e15_streaming_user_sessions",
}
# r16: the r15 pins (g43/g45 — oracle-only contract changes the
# fingerprint cannot see) were removed per their own removal condition:
# CORRECTNESS_r15 records both green on the corrected oracles.

# r15 gate-budget note (written BEFORE the gate, per the sequencing
# rule established in r13).  Front of the r15 order: the SIX new
# specs (g49 betweenness centrality — Brandes backward pass over
# g47's layered σ table; g50 one-level Louvain refine on the g48
# supergraph; g51 embedding link-prediction AUC — the evaluation face
# closing the walks→embeddings chain; d49 cluster-aware leakage-free
# split — d12's hash assignment on the d11 near-dup cluster id; d50
# token-budget prefix selection — bucketed prefix-sum layout, budget
# computed in-plan; a13 IVF recall@k vs brute force — integer rank
# statistics, the ANN quality contract), then the g43/g45
# oracle-change pins above (-0.5), then any drift pins
# scripts/plan_fingerprints.py records on the final tree (expected:
# new specs only), then the 23-spec r10 band (e18–e23, e25, i05,
# m07–m09, s08–s12, g37, p03, q18–q22 — all replica-proved at three
# SFs in r14, record-stale not evidence-stale), then the 47-spec r11
# band's front in declaration order: er08 + er01–er07 (the
# reference's distinctive ER core, per the r14 verdict's priority),
# d29/d30/d28/d18, m10, n06, g38, g24, s03–s05.  6 new + 2 pins
# + 23 + 19 = 50 slots; the r11 tail (including s06, p02,
# q01–q17 and g01–g09) rolls to r16.  Done-bar from the r14 verdict:
# nothing staler than r11 in CORRECTNESS_r15's union except the r11
# band's own tail, the new specs green, g43/g45 re-green on the
# corrected oracles.


def effective_round(
    name: str,
    history: dict[str, int] | None = None,
    fingerprints: dict[str, dict] | None = None,
) -> float:
    """The sort key the gate order actually uses for a spec: -1 if it has
    never had a green driver-gate row, -0.5 if its plan changed after its
    last green row (manual ``PLAN_CHANGED_REGATE`` pin, or a recorded
    plan-fingerprint drift newer than the green row), else that row's
    round.  Exposed so the invariant tests assert on the same key the
    sort uses — a legitimate pin can then never contradict the ordering
    invariant.
    """
    if history is None:
        history = gate_history()
    if fingerprints is None:
        fingerprints = load_fingerprints()
    if name not in history:
        return -1.0
    if name in PLAN_CHANGED_REGATE:
        return -0.5
    fp = fingerprints.get(name)
    if fp is not None and fp["fp"] != UNSTABLE and fp["round"] > history[name]:
        return -0.5
    return float(history[name])


def gate_history() -> dict[str, int]:
    """spec name → latest round whose driver gate recorded a fully-green
    row (rows+schema+hash all matched), read from the ``CORRECTNESS_r*``
    files the driver writes at the repo root.  Specs absent from every
    file have never been gated; specs present but not fully green are
    treated the same as never-green so they re-run at the front.
    """
    root = Path(__file__).resolve().parents[2]
    last: dict[str, int] = {}
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", p.stem)
        if not m:
            continue
        rnd = int(m.group(1))
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
    """Registry order = gate-run order.  The driver's correctness gate is
    budget-bounded (50 specs per round), so ordering is structural:
    ascending by "latest round with a green gate row" — never-gated specs
    first, then stalest-green first — with declaration order as the
    stable tiebreak.  A spec added this round therefore always reaches
    the gate before any already-green spec is re-proved.
    """
    from . import graph_queries, relational

    modules = []
    # Module order is the tiebreak among EQUALLY-stale specs (the sort
    # below is stable).  Families whose shared kernels changed most
    # recently (er/docs share the cosine+GEMM kernels touched in r3-r4;
    # events gained the streaming face) lead, so when the driver's
    # 50-spec budget can't cover every stale spec, the hard gate signal
    # lands on the code with the newest changes first.
    for optional in (
        "er_queries",
        "docs_queries",
        "events_queries",
        "ingest_queries",
        "enrich_queries",
        "media_queries",
        "nl_queries",
        "skew_queries",
        "analytics_queries",
        "sink_queries",
        "pipeline_queries",
        "spatial_queries",
    ):
        try:
            modules.append(__import__(f"{__package__}.{optional}", fromlist=["SPECS"]))
        except ImportError:
            pass
    modules += [relational, graph_queries]
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
    # stable sort keeps decl order; plan-change pins (manual set OR a
    # recorded fingerprint drift) sort ahead of every green spec so a
    # silently-changed plan reaches the driver gate, but after
    # never-gated ones (effective_round: -1 / -0.5 / rnd)
    specs.sort(key=lambda s: effective_round(s.name, history, fingerprints))
    return specs


def spec_map() -> dict[str, QuerySpec]:
    return {s.name: s for s in all_specs()}
