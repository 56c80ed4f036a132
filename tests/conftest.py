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
    ``bench._job_cost``, the count scripts/time_spec.py reports per
    spec."""
    from bench import _job_cost

    return lambda run: _job_cost(spark, run)
