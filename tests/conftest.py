from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    from advanced_technologies_of_china_graph_database_construction_spark import get_spark

    s = get_spark("atcgdc-tests")
    yield s


@pytest.fixture
def cost_of(spark):
    """``cost_of(run)`` → (run's result, (jobs, stages) it scheduled):
    the statusTracker count of scripts/job_count.py, read after the
    listener bus has drained."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def cost(run):
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        before = tracker.getJobIdsForGroup(None)
        first = max(before) if before else -1
        out = run()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = [j for j in tracker.getJobIdsForGroup(None) if j > first]
        return out, (len(jobs), sum(len(tracker.getJobInfo(j).stageIds) for j in jobs))

    return cost
