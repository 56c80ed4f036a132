#!/usr/bin/env python
"""Cost and time of individual specs with the bench's exact discipline
(noop sink, state clearing, adaptive JIT-tail runs) — the guide §1
isolation tool for the optimization loop, without paying for a full
bench pass.

Each spec line first reports the Spark JOBS and STAGES of one untimed
run after the session warm-up.  On a jittery box wall-clock lies;
job/stage counts don't — and they are exactly what superstep-heavy
plans pay per round (guide §2: every barrier is latency; fewer
rounds/actions ⇒ fewer jobs).  Then ``min=`` and ``runs=`` give the
timed runs.

Usage: python scripts/time_spec.py name [name ...]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS
Output: name: jobs=J stages=S min=SECONDS runs=[...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from advanced_technologies_of_china_graph_database_construction_spark import get_spark
from advanced_technologies_of_china_graph_database_construction_spark.plans.registry import spec_map
from bench import _job_cost, _prewarm, _timed_runs


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    _prewarm(sf_dir)
    spark = get_spark("atcgdc-time-spec")
    sm = spec_map()
    names = sys.argv[1:]
    # one warm-up so the first spec doesn't absorb session init
    sm[names[0]].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    for name in names:
        spec = sm[name]
        spark.sparkContext.setJobDescription(f"time-spec: {name}")
        _, (jobs, stages) = _job_cost(
            spark,
            lambda: spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save(),
        )
        runs = _timed_runs(spark, lambda: spec.fn(spark, sf_dir))
        print(f"{name}: jobs={jobs} stages={stages} min={min(runs)} runs={runs}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
