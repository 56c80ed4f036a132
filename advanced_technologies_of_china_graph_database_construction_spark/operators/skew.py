"""Skew mitigation: salted aggregation and salted broadcast-skew joins.

AQE's skew-join splitting (on via ``catalog._RUNTIME_CONFS``) handles most
runtime skew; these operators are the explicit fallback for the two cases AQE does not
cover well at 100 TB:

1. a *single hot key* in a groupBy (one reducer gets the whole key's
   rows) — `salted_count` two-phase aggregation spreads the partial over
   N salts, then merges;
2. a *known-skewed* join key against a non-broadcastable build side —
   `salted_join` replicates the small side per salt so the probe side's
   hot key fans out over N tasks.

Both are result-identical to their plain equivalents (pytest-checked);
they only change the shuffle layout.  Salts are deterministic
(pmod(hash(...))), so retries are stable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_count(df: DataFrame, key: str, agg_cols: dict[str, Column] | None = None,
                 n_salts: int = 16, salt_cols: list[str] | None = None) -> DataFrame:
    """Two-phase skew-proof groupBy: partial aggregate on (key, salt),
    final merge on key.  Identical result to ``df.groupBy(key).count()``
    (plus optional sum columns), but a hot key's rows spread over
    ``n_salts`` partial tasks before the narrow final merge.

    The salt is ``pmod(hash(salt_cols), n_salts)`` — DETERMINISTIC per
    row, as the module contract requires.  The previous
    ``monotonically_increasing_id`` salt was a nondeterministic shuffle
    grouping key (r12 review): a retried map task can re-salt its rows
    differently than the first attempt, and reducers mixing attempts
    then double-count or drop partials (the SPARK-23207 correctness
    class).  ``salt_cols`` defaults to every column; pass a
    high-cardinality column (an event id) when hot-key rows are exact
    duplicates, which would otherwise share one salt.
    """
    agg_cols = agg_cols or {}
    salt_src = [F.col(c) for c in (salt_cols or df.columns)]
    salted = df.withColumn("__salt", F.pmod(F.hash(*salt_src), F.lit(n_salts)))
    partial = salted.groupBy(key, "__salt").agg(
        F.count(F.lit(1)).alias("__pc"),
        *[F.sum(c).alias(f"__ps_{name}") for name, c in agg_cols.items()],
    )
    return partial.groupBy(key).agg(
        F.sum("__pc").alias("count"),
        *[F.sum(f"__ps_{name}").alias(name) for name in agg_cols],
    )


def salted_join(big: DataFrame, small: DataFrame, key: str, n_salts: int = 16,
                salt_cols: list[str] | None = None) -> DataFrame:
    """Equi-join where ``big`` has skewed values of ``key`` and ``small``
    is modest but above the broadcast threshold: salt the big side
    deterministically, replicate the small side once per salt, join on
    (key, salt).  Result-identical to ``big.join(small, key)``.

    ``salt_cols`` picks the hash inputs (default: every big-side
    column).  When the hot key's rows are exact DUPLICATES they all
    hash to one salt and the fan-out silently does nothing — pass a
    high-cardinality column (an event id) in that shape (r12 review);
    the hash also rejects un-hashable column types (maps), another
    reason to name the columns explicitly.
    """
    salts = small.sparkSession.range(n_salts).select(F.col("id").cast("int").alias("__salt"))
    salt_src = [F.col(c) for c in (salt_cols or big.columns)]
    big_s = big.withColumn("__salt", F.pmod(F.hash(*salt_src), F.lit(n_salts)))
    small_s = small.crossJoin(salts)
    return big_s.join(small_s, [key, "__salt"]).drop("__salt")
