#!/usr/bin/env python
"""Replica of the driver's correctness gate under a DEFAULT-config
SparkSession.

The driver supplies its own SparkSession (not `session.get_spark`), so a
query plan that silently depends on a session conf — map-key dedup
policy, session timezone, ANSI mode — passes pytest (which uses the
tuned factory) and then fails the real gate.  Round 1 lost the entire
ingest family to exactly that.  This script runs every registered spec
against its DuckDB oracle on a bare `SparkSession.builder.getOrCreate()`
session, in registry order, and reports per-spec status and timing.
Naming specs after ``sf_dir`` runs only those, in the order given — the
fast oracle-equality check after a plan change.

Usage:
    python scripts/gate_replica.py [sf_dir [name ...]]   # sf_dir defaults to the sf0.01 test data
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:]
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Heap size is the ONE conf we allow above defaults: local mode
    # conflates driver and executor memory, so the 1g default heap
    # shared by 32 task threads OOMs at sf0.1 on any shuffle-heavy spec
    # (a real cluster executor has GiBs per few cores).  Memory sizing
    # is capacity, not semantics — the replica's job is to catch plans
    # that silently depend on SEMANTIC confs (ANSI mode, timezone,
    # map-key dedup policy), and those all stay at their defaults here.
    mem = os.environ.get("GATE_REPLICA_DRIVER_MEM", "1g")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("gate-replica")
        .config("spark.driver.memory", mem)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from advanced_technologies_of_china_graph_database_construction_spark.plans.registry import (
        all_specs,
        spec_map,
    )
    from tests.oracle import compare, duckdb_conn

    con = duckdb_conn(sf)
    specs = [spec_map()[n] for n in names] if names else all_specs()
    t_all = time.time()
    fails: list[str] = []
    for s in specs:
        t0 = time.time()
        try:
            if s.oracle:
                compare(s.fn(spark, sf), con, s.oracle)
                status = "OK"
            else:
                s.fn(spark, sf).count()
                status = "rows-only"
        except Exception as e:  # report and continue — full-surface sweep
            status = f"FAIL {type(e).__name__}: {str(e)[:100]}"
            fails.append(s.name)
        print(f"{s.name:36s} {status:12s} {time.time() - t0:6.2f}s", flush=True)
    print(f"TOTAL {time.time() - t_all:.1f}s  specs={len(specs)}  fails={fails}")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
