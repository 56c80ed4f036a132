#!/usr/bin/env python
"""Refresh PLAN_FINGERPRINTS.json, ``{spec: {"fp": hex16, "round": N}}``
— the regate signal the registry's gate order pins on.

Builds every registered spec at sf0.001 on a bare default-config session
(the driver's session shape) and fingerprints it (``plans/fingerprint.py``:
the normalized analyzed plan, the oracle text and the package code the
build ran; code reached only from a branch the build never takes, or run
only in Python workers, escapes).  Merge rule against the committed file:

  - fingerprint unchanged → keep the stored round (no pin);
  - fingerprint CHANGED → round = the next gate round (one past the
    newest CORRECTNESS_r*), pinning the spec until that gate proves it;
  - spec NEW TO THE FILE → round = its latest green gate round (the code
    that gate proved), so seeding pins nothing;
  - ``--selfcheck``: build each spec again in ``spark.newSession()``; a
    spec whose two fingerprints differ is recorded ``"unstable"`` and
    never pinned (it would re-pin every round); it stays unstable on
    runs without --selfcheck.

The session runs at parallelism 32 (``local[32]``, and
``SPARK_GRAFT_CPUS=32`` for the shuffle-partition conf) whatever the
caller's ``SPARK_GRAFT_CPUS``: a plan whose shape follows the core count
(d42's seeded epoch shuffle) would otherwise drift with no code change.
Streaming specs execute during the build, so a run takes minutes.  Run
it after the last commit that touches code a spec reaches; commit the
JSON.

Usage:
    python scripts/plan_fingerprints.py [sf_dir] [--selfcheck]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
# before any package import: the package reads it for its shuffle width
os.environ["SPARK_GRAFT_CPUS"] = "32"

from pyspark.sql import SparkSession  # noqa: E402


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--selfcheck"]
    selfcheck = "--selfcheck" in sys.argv[1:]
    sf = args[0] if args else "/root/testdata/sf0.001"
    spark = SparkSession.builder.master("local[32]").appName("plan-fingerprints").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from advanced_technologies_of_china_graph_database_construction_spark.plans.fingerprint import (
        UNSTABLE,
        load_fingerprints,
        save_fingerprints,
        spec_fingerprint,
    )
    from advanced_technologies_of_china_graph_database_construction_spark.plans.registry import (
        all_specs,
        gate_history,
        next_gate_round,
    )

    stored = load_fingerprints()
    history = gate_history()
    rnd = next_gate_round()
    out: dict[str, dict] = {}
    drifted, unstable, failed = [], [], []
    second = spark.newSession() if selfcheck else None
    t_all = time.time()
    for s in all_specs():
        t0 = time.time()
        prev = stored.get(s.name)
        if prev is not None and prev["fp"] == UNSTABLE and not selfcheck:
            out[s.name] = prev
            print(f"{s.name:36s} unstable(kept)  {0.0:6.2f}s", flush=True)
            continue
        try:
            fp = spec_fingerprint(lambda: s.fn(spark, sf), s.oracle)
            if selfcheck and spec_fingerprint(lambda: s.fn(second, sf), s.oracle) != fp:
                out[s.name] = {"fp": UNSTABLE, "round": rnd}
                unstable.append(s.name)
                status = "UNSTABLE"
            elif prev is not None and prev["fp"] == fp:
                out[s.name] = prev
                status = "ok"
            elif prev is None:
                # seed: this code is the one the spec's latest green
                # gate row proved — adopting that round pins nothing
                out[s.name] = {"fp": fp, "round": history.get(s.name, rnd)}
                status = "seeded"
            else:
                out[s.name] = {"fp": fp, "round": rnd}
                drifted.append(s.name)
                status = "DRIFTED"
        except Exception as e:  # report and continue — full-surface sweep
            if prev is not None:
                out[s.name] = prev  # keep the last known fingerprint
            failed.append(s.name)
            status = f"FAIL {type(e).__name__}: {str(e)[:80]}"
        print(f"{s.name:36s} {status:15s} {time.time() - t0:6.2f}s", flush=True)
    save_fingerprints(out)
    print(
        f"TOTAL {time.time() - t_all:.1f}s  specs={len(out)}  round={rnd}  "
        f"drifted/new={drifted}  unstable={unstable}  failed={failed}"
    )
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
