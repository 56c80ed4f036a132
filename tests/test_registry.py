"""Registry gate-order invariants: the driver's correctness gate is
budget-bounded (50 specs/round), so never-gated specs must sort before
already-green ones, and staler green rows before fresher ones.  The
assertions use the registry's own ``effective_round`` key (which treats
``PLAN_CHANGED_REGATE`` members as staler than every green spec), so a
legitimate plan-change pin can never contradict these invariants.
"""

from __future__ import annotations

from advanced_technologies_of_china_graph_database_construction_spark.plans.fingerprint import (
    UNSTABLE,
    load_fingerprints,
    normalize_plan,
)
from advanced_technologies_of_china_graph_database_construction_spark.plans.registry import (
    PLAN_CHANGED_REGATE,
    all_specs,
    effective_round,
    gate_history,
)


def test_never_gated_specs_run_first():
    history = gate_history()
    names = [s.name for s in all_specs()]
    if not history:  # fresh checkout without driver artifacts: nothing to order by
        return
    never = [n for n in names if n not in history]
    gated = [n for n in names if n in history]
    idx = {n: i for i, n in enumerate(names)}
    if never and gated:
        assert max(idx[n] for n in never) < min(idx[n] for n in gated)


def test_plan_changed_pins_precede_every_green_spec():
    """Pins — hand pins and fingerprint drifts alike — sort before every
    spec whose green gate row still stands."""
    history = gate_history()
    if not history:
        return
    names = [s.name for s in all_specs()]
    idx = {n: i for i, n in enumerate(names)}
    rounds = {n: effective_round(n, history) for n in names}
    pinned = [n for n in names if rounds[n] == -0.5]
    green = [n for n in names if rounds[n] >= 0]
    if pinned and green:
        assert max(idx[n] for n in pinned) < min(idx[n] for n in green)


def test_gate_order_is_stalest_green_first():
    history = gate_history()
    rounds = [effective_round(s.name, history) for s in all_specs()]
    assert rounds == sorted(rounds)


def test_every_pin_reaches_the_gate():
    """The correctness gate runs the first 50 specs of ``all_specs()``;
    a pin beyond that budget would never be re-proved.  A pin is any
    spec the gate order sorts at -0.5: a hand pin or a recorded
    fingerprint drift."""
    history = gate_history()
    if not history:
        return
    specs = all_specs()
    first = {s.name for s in specs[:50]}
    pinned = {s.name for s in specs if effective_round(s.name, history) == -0.5}
    assert pinned <= first, sorted(pinned - first)


def test_pins_name_registered_specs():
    names = {s.name for s in all_specs()}
    assert PLAN_CHANGED_REGATE <= names


def test_no_duplicate_names():
    names = [s.name for s in all_specs()]
    assert len(names) == len(set(names))


def test_fingerprint_drift_auto_pins():
    """A recorded fingerprint round NEWER than the spec's last green gate
    row pins it (-0.5); an older-or-equal round, an unstable fingerprint,
    or a missing entry leaves the green round in force."""
    history = {"x": 7}
    assert effective_round("x", history, {"x": {"fp": "ab", "round": 9}}) == -0.5
    assert effective_round("x", history, {"x": {"fp": "ab", "round": 7}}) == 7.0
    assert effective_round("x", history, {"x": {"fp": UNSTABLE, "round": 9}}) == 7.0
    assert effective_round("x", history, {}) == 7.0
    # never-gated beats any fingerprint state
    assert effective_round("y", history, {"y": {"fp": "ab", "round": 9}}) == -1.0


def test_fingerprint_file_names_registered_specs():
    """Every PLAN_FINGERPRINTS.json entry must name a registered spec —
    a renamed/deleted spec's stale entry would silently stop pinning."""
    fps = load_fingerprints()
    names = {s.name for s in all_specs()}
    assert set(fps) <= names


def test_fingerprints_cover_every_spec():
    """Once the file exists it must cover the full registry: a spec the
    refresh script skipped has NO drift detection at all."""
    fps = load_fingerprints()
    if not fps:  # fresh checkout without the committed file
        return
    missing = {s.name for s in all_specs()} - set(fps)
    assert not missing


def test_normalize_plan_strips_session_variance():
    a = "Filter (n_chars#41L > 10)\n+- Relation[doc_id#40L] parquet file:/tmp/x1/part-0ab12cd3ef456789"
    b = "Filter (n_chars#7L > 10)\n+- Relation[doc_id#6L] parquet file:/tmp/z9/part-99887766fab01234"
    assert normalize_plan(a) == normalize_plan(b)
    assert normalize_plan("a#1 > b#2") != normalize_plan("a#1 < b#2")


def test_bench_contract_line_fits_driver_capture():
    """The driver records only the LAST 2000 chars of bench stdout
    (BENCH_r10–r12 were unparseable because the line outgrew it; fixed
    r13 by moving runs/env to the BENCH_DETAIL sidecar).  Adding bench
    entries silently re-grows the line, so pin it structurally: the
    contract JSON with every current bench spec at worst-case width
    must stay well under the capture with headroom."""
    import json

    from advanced_technologies_of_china_graph_database_construction_spark.plans.registry import (
        all_specs,
    )

    queries = {s.name: 9999.9999 for s in all_specs() if s.bench}
    # bench.py appends the two incremental-maintenance pairs on top of
    # the flagged specs — account for them at the same worst-case width
    for extra in ("p03_delta_refresh", "p03_full_rebuild", "d45_delta_dedup", "d45_full_dedup"):
        queries[extra] = 9999.9999
    line = json.dumps(
        {
            "metric": "headline_queries_total",
            "value": 99999.9999,
            "unit": "sec",
            "queries": queries,
            "sf": 0.1,
        }
    )
    assert len(queries) >= 28  # the headline set is real
    assert len(line) < 1900, (len(line), "bench stdout line nearing the driver's 2000-char capture")
