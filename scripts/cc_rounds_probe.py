"""Measure the large-star/small-star contraction's round count against
component diameter — the scale argument behind g41 / the distributed
``connected_components`` path, as a number instead of a citation.

A single chain of length L is the worst case for label propagation
(O(L) supersteps) and the motivating case for the alternating-star
algorithm (O(log² L) rounds, Kiveris et al. SoCC'14).  This probe runs
the operator itself — ``connected_components(edges, driver_threshold=0)``,
no copy of its loop — on chains of growing length and prints rounds +
wall time, so the "rounds grow logarithmically while the graph grows
exponentially" claim is a recorded measurement.  Rounds are counted by
wrapping the module's ``_settle`` for the call: the operator settles its
input once and then each round once, so rounds = settle calls − 1.

Usage: python scripts/cc_rounds_probe.py [max_exp]
  chains of length 2^k for k in 6, 10, 14, 17, ..up to max_exp (default 20).
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from advanced_technologies_of_china_graph_database_construction_spark import get_spark  # noqa: E402
from advanced_technologies_of_china_graph_database_construction_spark.operators import (  # noqa: E402
    connected_components as cc,
)


def rounds_to_converge(edges) -> int:
    calls = 0
    settle = cc._settle

    def counting_settle(frame):
        nonlocal calls
        calls += 1
        return settle(frame)

    cc._settle = counting_settle
    try:
        cc.connected_components(edges, max_iter=100, driver_threshold=0)
    finally:
        cc._settle = settle
    return calls - 1


def main() -> None:
    max_exp = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    spark = get_spark("cc-rounds-probe")
    print(f"{'chain length':>14s} {'rounds':>7s} {'wall_s':>8s}")
    # dedupe + cap so chains up to max_exp actually run (a plain list
    # broke for max_exp in 15..19 and double-ran 6/10/14/17 — r14 ADVICE)
    for k in sorted({k for k in (6, 10, 14, 17, max_exp) if k <= max_exp}):
        n = 1 << k
        chain = spark.range(1, n).select(
            F.col("id").alias("src"), (F.col("id") - 1).alias("dst")
        )
        t0 = time.perf_counter()
        r = rounds_to_converge(chain)
        print(f"{n:14d} {r:7d} {time.perf_counter() - t0:8.1f}")
    spark.stop()


if __name__ == "__main__":
    main()
