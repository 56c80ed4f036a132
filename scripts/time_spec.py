#!/usr/bin/env python
"""Time individual specs with the bench's exact discipline (noop sink,
state clearing, adaptive JIT-tail runs) — the guide §1 isolation tool
for the optimization loop, without paying for a full bench pass.

Usage: python scripts/time_spec.py name [name ...]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from advanced_technologies_of_china_graph_database_construction_spark import get_spark
from advanced_technologies_of_china_graph_database_construction_spark.plans.registry import spec_map
from bench import _prewarm, _timed_runs


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    _prewarm(sf_dir)
    spark = get_spark("atcgdc-time-spec")
    sm = spec_map()
    names = sys.argv[1:]
    # one warm-up so the first timed spec doesn't absorb session init
    sm[names[0]].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    for name in names:
        spec = sm[name]
        spark.sparkContext.setJobDescription(f"time-spec: {name}")
        runs = _timed_runs(spark, lambda: spec.fn(spark, sf_dir))
        print(f"{name}: min={min(runs)} runs={runs}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
