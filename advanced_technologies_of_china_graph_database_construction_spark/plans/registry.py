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
    # superstep.settle: the distributed large-star/small-star loop now
    # reads its fingerprint in the round's checkpoint action.
    "g41_distributed_components",
    # ER/dedup broadcast gates read their sizes from superstep.settle:
    # the MinHash, n-gram Jaccard and containment pair finders (and the
    # specs built on MinHash pairs) plus p01's ER stage, now
    # er.build_er_state; the checkpoints sit below the final frames, so
    # the fingerprints cannot see the change (p03 is pinned below).
    "d02_minhash_near_dups",
    "d05_ngram_jaccard_pairs",
    "d11_dedup_keep_canonical",
    "d24_containment_pairs",
    "d45_minhash_delta_near_dups",
    "d49_cluster_aware_split",
    "p01_end_to_end_build_path",
    # multimodal.media: the seven decoders moved onto the one
    # _decode_payloads seam; their bodies run inside mapInPandas, so
    # the analyzed-plan fingerprints cannot see the change (m09 decodes
    # its binaryFile payloads through image_stats).
    "m02_decode_features",
    "m04_audio_energy",
    "m05_image_stats",
    "m06_video_stats",
    "m07_sampled_frame_stats",
    "m08_resized_image_stats",
    "m09_binary_file_ingest",
    "m10_quiet_segments",
    # One IVF search path: the store write now assigns through
    # kmeans.assign_to_centroids from seed_centroids, and the batch
    # search ranks with the Arrow cosine; both specs return collected
    # rows, so the fingerprints cannot see it.
    "a07_ann_ivf_batch",
    "a12_ivf_store_append",
    # Lazy answer cascade: both run nl.engine.answer end to end and gate
    # its collected answer row, which the fingerprints cannot see.
    "n06_formatted_answer",
    "n09_http_answer_roundtrip",
    # Carried pins: in-loop changes with no green CORRECTNESS_r* row
    # since (g28/g31 k-core and g39 SCC in r17; p03, e15 and g43 —
    # pinned above — in r16).
    "g28_kcore_orgs",
    "g31_kcore_doc_keyword",
    "g39_strongly_connected",
    "p03_incremental_er_lifecycle",
    "e15_streaming_user_sessions",
}


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
    # stable sort keeps decl order; plan-change pins (manual set OR a
    # recorded fingerprint drift) sort ahead of every green spec so a
    # silently-changed plan reaches the driver gate, but after
    # never-gated ones (effective_round: -1 / -0.5 / rnd)
    specs.sort(key=lambda s: effective_round(s.name, history, fingerprints))
    return specs


def spec_map() -> dict[str, QuerySpec]:
    return {s.name: s for s in all_specs()}
