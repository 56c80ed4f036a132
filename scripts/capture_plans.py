#!/usr/bin/env python
"""Capture .explain('formatted') for every bench-flagged spec into
plans/r<N>/<name>_<tag>.txt — the optimization round's before/after
plan evidence (guide §1: measure first; §7.2: read the plan).  N is the
round the driver's next gate records (``registry.next_gate_round``).

Usage: python scripts/capture_plans.py <tag> [name ...]
  tag    'before' / 'after' (file suffix)
  names  optional subset of spec names; default = all bench specs
         plus the bench.py incremental-pair frames.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from advanced_technologies_of_china_graph_database_construction_spark import get_spark
from advanced_technologies_of_china_graph_database_construction_spark.plans.registry import (
    all_specs,
    next_gate_round,
)


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        f"r{next_gate_round()}",
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("atcgdc-plan-capture")
    specs = sorted((s for s in all_specs() if s.bench), key=lambda s: s.name)
    for spec in specs:
        if only and spec.name not in only:
            continue
        spark.sparkContext.setJobDescription(f"plan-capture: {spec.name}")
        df = spec.fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{spec.name}_{tag}.txt"), "w") as f:
            f.write(plan)
        print(f"captured {spec.name}_{tag}")
    spark.stop()


if __name__ == "__main__":
    main()
