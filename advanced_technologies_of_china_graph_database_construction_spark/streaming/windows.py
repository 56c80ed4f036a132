"""Event-time windowed operators over the ``events`` stream.

The reference has no streaming surface (SURVEY.md §2.11) — ingest is
batch and ``ijson`` "streaming" is memory management, not event-time
processing.  This module is the north-star extension: Structured
Streaming semantics (tumbling / sliding / session windows, watermarked
late-data handling) expressed with the *unified* DataFrame API, so every
function here runs unchanged on a batch DataFrame (where the DuckDB
oracle checks it) and on a ``readStream`` DataFrame (where
``tests/test_streaming.py`` checks batch/stream agreement).

Scale notes (100 TB / real cluster): windowed aggregations shuffle on
(window, key) — partial aggregation is applied map-side by Catalyst;
session windows additionally sort within partitions.  Watermarks bound
state: without one, streaming window state grows forever, so
``streaming_source`` callers must pass ``watermark=`` for production
topologies.  The JSON ``props`` column is parsed with ``get_json_object``
(JVM, codegen) — never a Python UDF.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Number of STATE partitions for stateful streaming queries (window /
# session aggregations, stream-stream joins, dedup, arbitrary state).
# Streaming state layout is fixed by spark.sql.shuffle.partitions at the
# query's FIRST start and persists in the checkpoint, so it must be
# sized to state volume (the guide's 100 MB–1 GB-per-partition rule
# applied to the state store), NOT inherited from the batch session's
# core-count default: every micro-batch pays one state-store task +
# commit per partition per stateful operator, so an over-partitioned
# tiny stream spends its wall time in state commits (measured on the
# e15 session face at sf0.1: 6 micro-batches × 32 inherited partitions
# ≈ 12–16 s of stream time vs ≈ 5.6 s at 8 partitions, identical
# results), while an under-partitioned large one cannot rebalance
# without a new checkpoint.  Parameterised for production:
# SPARK_GRAFT_STREAM_STATE_PARTITIONS ≈ expected live state bytes /
# target state-partition size.
STREAM_STATE_PARTITIONS = int(
    os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "8")
)


@contextmanager
def state_partitions(spark: SparkSession):
    """Pin ``spark.sql.shuffle.partitions`` (= streaming state
    partitions) to ``STREAM_STATE_PARTITIONS`` around a stateful
    streaming query's start/stop; the session's batch default is
    restored afterwards."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def streaming_source(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 1,
    watermark: str | None = "1 hour",
) -> DataFrame:
    """File-based streaming source over parquet event files.

    ``maxFilesPerTrigger`` bounds each micro-batch; the watermark bounds
    window/dedup state for late data.
    """
    df = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )
    if watermark:
        df = df.withWatermark("ts", watermark)
    return df


def tumbling_stats(events: DataFrame, size: str = "1 day") -> DataFrame:
    """Tumbling-window count/sum per event_type."""
    return (
        events.groupBy(F.window("ts", size).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_stats(events: DataFrame, size: str = "1 hour", slide: str = "30 minutes") -> DataFrame:
    """Sliding-window (overlapping) count/sum per event_type."""
    return (
        events.groupBy(F.window("ts", size, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_stats(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user: a session closes after ``gap`` of
    inactivity; window end = last event + gap (Spark semantics)."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def props_extracted(events: DataFrame) -> DataFrame:
    """Parse the JSON ``props`` payload JVM-side (no Python UDF)."""
    return events.withColumn(
        "k", F.get_json_object("props", "$.k").cast("int")
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    lower: str = "INTERVAL 0 SECONDS",
    upper: str = "INTERVAL 30 MINUTES",
    watermark: str | None = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Event-time interval join: pair each left event with right events
    of the same ``key`` whose timestamp falls in
    ``[l.ts + lower, l.ts + upper]`` — the stream-stream join shape
    (each side watermarked so the join state is bounded; the time-range
    condition is what lets Spark expire buffered rows).

    ``how="left_outer"`` keeps unmatched left events (null right
    columns).  Streaming semantics differ by join type: inner matches
    emit EAGERLY, but an outer-null row can only be emitted once the
    watermark proves no match can still arrive — so outer results
    trail the watermark, and a finite stream needs watermark-advancing
    sentinel batches to flush the tail (the e15/e19 pattern).  Outer
    stream-stream joins REQUIRE the watermark + time bound; Spark
    rejects them otherwise.

    Works identically on batch DataFrames, where Catalyst executes it as
    an equi-join on ``key`` with the range as a post-join predicate.
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(f"how={how!r}; use 'inner' or 'left_outer'")
    if watermark is not None and left.isStreaming:
        left = left.withWatermark("ts", watermark)
    if watermark is not None and right.isStreaming:
        right = right.withWatermark("ts", watermark)
    l = left.select(
        F.col(key).alias("k"),
        F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_event_id"),
        F.col("value").alias("l_value"),
    )
    r = right.select(
        F.col(key).alias("k2"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_event_id"),
        F.col("value").alias("r_value"),
    )
    cond = (
        (F.col("k") == F.col("k2"))
        & (F.col("r_ts") >= F.col("l_ts") + F.expr(lower))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(upper))
    )
    return l.join(r, cond, how).select(
        # the key column keeps the CALLER'S name — a hardcoded
        # "user_id" alias mislabeled results for any non-default key
        # (r12 review)
        F.col("k").alias(key), "l_event_id", "r_event_id", "l_ts", "r_ts",
        "l_value", "r_value",
    )


def dedup_events(events: DataFrame, within: str | None = None) -> DataFrame:
    """Exactly-once by event_id.  In streaming mode, ``within`` bounds
    the dedup state via ``dropDuplicatesWithinWatermark``."""
    if within is not None and events.isStreaming:
        return events.withWatermark("ts", within).dropDuplicatesWithinWatermark(["event_id"])
    return events.dropDuplicates(["event_id"])
