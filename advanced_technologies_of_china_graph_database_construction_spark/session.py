"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]`` but every knob is chosen for the
1000-executor / 100 TB target.  This module owns the static confs
(master, driver memory, UI, cleaner interval); the runtime SQL confs —
AQE, the broadcast threshold, Arrow, the UTC timezone, shuffle
partitions — are ``catalog._RUNTIME_CONFS``, applied once per session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .catalog import ensure_runtime_confs


def get_spark(app_name: str = "atcgdc-spark") -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default ``*``).
    On a real cluster the ``master`` is supplied by spark-submit and the
    ``local[...]`` setting is ignored.  Only static confs are set here;
    the runtime SQL confs every plan assumes have one owner,
    ``catalog.ensure_runtime_confs``, which a session built elsewhere
    (the correctness gate's) reaches through ``load_table``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.ui.enabled", "false")
        # local[N] puts all executor threads in the driver JVM, so the
        # heap must hold every live broadcast + block-manager state for
        # the whole workload: at 16g a 14-query bench run degrades ~3.5x
        # (GC thrash: er02 19.1s->2.0s, i01 24.2s->1.4s at 48g).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # With a large heap, minor GCs are rare and the ContextCleaner's
        # weak-ref queue (stale broadcasts/shuffles) drains too slowly;
        # force a periodic sweep well under the workload's lifetime.
        .config("spark.cleaner.periodicGC.interval", "5min")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_runtime_confs(spark)
    return spark
