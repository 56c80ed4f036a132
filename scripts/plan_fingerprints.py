#!/usr/bin/env python
"""Refresh PLAN_FINGERPRINTS.json — the derived plan-change signal the
registry's gate order auto-pins on (see ``plans/fingerprint.py``).

Builds every registered spec's DataFrame at sf0.001 on a bare default-
config session (the driver's session shape), hashes the normalized
analyzed-plan string, and merges with the committed file:

  - fingerprint unchanged  → keep the stored round (no pin);
  - fingerprint CHANGED → record round = next gate round (max
    CORRECTNESS_r* + 1), which pins the spec until that round's gate
    proves it green;
  - spec NEW TO THE FILE → seed round = its latest green gate round
    (the plan being fingerprinted is the one that gate proved), so
    first-time seeding pins nothing; never-gated specs use the next
    round (irrelevant — they sort first as never-gated anyway);
  - ``--selfcheck``: build each plan a second time in a fresh
    ``spark.newSession()``; a spec whose two normalized plans differ is
    recorded as ``"fp": "unstable"`` and exempted from auto-pinning
    (otherwise it would re-pin every round forever).  A spec already
    marked unstable stays unstable without --selfcheck.

The session always runs at parallelism 32 (``local[32]``, and
``SPARK_GRAFT_CPUS=32`` for the package's shuffle-partition conf),
whatever the caller's ``SPARK_GRAFT_CPUS``: the stored file was made at
32, and a plan whose shape follows the core count (d42's seeded epoch
shuffle) would otherwise drift on a smaller box with no code change.

Run once per round after the last plan-touching commit, then commit the
JSON.  Streaming specs EXECUTE during the build (their fn runs the
micro-batch loop before returning the result frame), so expect a few
minutes — comparable to scripts/gate_replica.py.

Usage:
    python scripts/plan_fingerprints.py [sf_dir] [--selfcheck]
"""

from __future__ import annotations

import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
# before any package import: the package reads it for its shuffle width
os.environ["SPARK_GRAFT_CPUS"] = "32"

from pyspark.sql import SparkSession  # noqa: E402


def next_gate_round() -> int:
    root = Path(__file__).resolve().parents[1]
    rounds = [
        int(m.group(1))
        for p in root.glob("CORRECTNESS_r*.json")
        if (m := re.search(r"r(\d+)", p.stem))
    ]
    return max(rounds, default=0) + 1


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--selfcheck"]
    selfcheck = "--selfcheck" in sys.argv[1:]
    sf = args[0] if args else "/root/testdata/sf0.001"
    spark = (
        SparkSession.builder.master("local[32]")
        .appName("plan-fingerprints")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from advanced_technologies_of_china_graph_database_construction_spark.plans.fingerprint import (
        UNSTABLE,
        load_fingerprints,
        plan_fingerprint,
        save_fingerprints,
    )
    from advanced_technologies_of_china_graph_database_construction_spark.plans.registry import (
        all_specs,
        gate_history,
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
            fp = plan_fingerprint(s.fn(spark, sf))
            if selfcheck and plan_fingerprint(s.fn(second, sf)) != fp:
                out[s.name] = {"fp": UNSTABLE, "round": rnd}
                unstable.append(s.name)
                status = "UNSTABLE"
            elif prev is not None and prev["fp"] == fp:
                out[s.name] = prev
                status = "ok"
            elif prev is None:
                # seed: this plan is the one the spec's latest green
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
