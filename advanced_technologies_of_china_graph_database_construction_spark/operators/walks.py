"""Deterministic random-walk corpus generation — the graph→sequence
preprocessing step of DeepWalk / node2vec / metapath2vec: turn a graph
into walk sequences that an embedding trainer then consumes as
"sentences".  The reference hands its graph to Neo4j and never trains
embeddings from structure; at 100 TB this is the standard way structure
reaches the embedding stack.

"Random" is the repo's seeded discipline (d42/d47 — never ``rand()``):
the step choice is a pure integer-hash function of (walk_id, current
node, step, candidate), so re-runs, retries, and repartitionings emit
the identical corpus, and an unrolled SQL oracle replays every step.
Including walk_id in the hash is what keeps walks that meet at the
same node from collapsing into one path.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the ONE set of cross-engine hash constants (selection.py is the
# defining site every seeded-hash face imports — a private copy here
# could silently diverge from the oracle-generation side)
from .selection import HASH_MOD, KNUTH
from .superstep import scatter_cache

STEP_PRIME = 1_000_003


def _step_hash(walk_id, node, cand, step: int):
    """Integer step-choice hash, overflow-safe for any int64 ids: fold
    the reduced inputs into one small sum FIRST, then Knuth-multiply
    the folded value (one product ≤ (2^31)·KNUTH < 2^63, the d46 rule).
    The multiply must come LAST: a per-term linear combination like
    ``… + cand·17`` is monotone in the candidate over an adjacent id
    range, which degenerates every step into "pick the smallest
    neighbor"; multiplying the folded sum scatters adjacent candidates
    ~KNUTH apart mod 2^31−1."""
    folded = F.pmod(
        F.pmod(walk_id, F.lit(HASH_MOD)) * F.lit(31)
        + F.pmod(node, F.lit(HASH_MOD)) * F.lit(17)
        + F.pmod(cand, F.lit(HASH_MOD))
        + F.lit(step * STEP_PRIME),
        F.lit(HASH_MOD),
    )
    return F.pmod(folded * F.lit(KNUTH), F.lit(HASH_MOD))


def deterministic_walks(
    edges: DataFrame,
    starts: DataFrame,
    n_steps: int,
    id_col: str = "node",
) -> DataFrame:
    """(walk_id, step, node): one walk per start node over the DIRECTED
    ``edges(src, dst)``, ``n_steps`` transitions (so ≤ n_steps+1 rows
    per walk); at each step the walk moves to the out-neighbor with the
    smallest step hash (ties → smaller candidate id).  A node with no
    out-neighbor ends its walk early — truncation is visible in the
    output (fewer rows), never padded.  Pass a symmetrized edge list
    (`analytics.symmetric_edges`) for undirected walks.

    Scale shape: the classic Pregel frontier loop (the g27/g35 layout)
    — step t is ONE equi-join of the |starts|-row frontier against the
    edge list plus a per-walk argmin over each node's out-neighborhood;
    the edge list is never collected, mutated, or re-derived, and the
    frontier never exceeds |starts| rows.  Walk count scales by
    choosing ``starts`` (deterministically — e.g. a residue class or a
    d47 race cut), not by sampling inside the loop.

    Two r16 plan changes (guide §2.3/§2.4, measured at sf0.1 on the
    g43 chain):

    - the |E| side is HOISTED out of the loop (``superstep.scatter_cache``,
      src-partitioned): the caller's edge plan —
      for g40 a full `distinct` over the fact table plus the symmetric
      union — was re-executed by EVERY step's join; now it runs once
      and each step's join inserts no edge-side exchange, so only the
      |starts|-row frontier moves per step;
    - the per-walk winner is a ``min(struct(h, cand))`` aggregation
      (map-side partial agg, one row per walk leaves each map task)
      instead of a row_number window, which shuffled and SORTED every
      candidate row (the full out-neighborhood of each frontier node)
      per step.  Struct ordering is lexicographic, so the argmin is
      byte-identical to the (h, cand) window winner.
    """
    if n_steps < 1:
        raise ValueError("deterministic_walks needs n_steps >= 1")
    cur = starts.select(
        F.col(id_col).alias("walk_id"),
        F.lit(0).alias("step"),
        F.col(id_col).alias("node"),
    )
    out = [cur]
    with scatter_cache(edges.select("src", "dst")) as edges:
        for t in range(1, n_steps + 1):
            cands = cur.join(edges, cur["node"] == edges["src"]).select(
                "walk_id",
                F.struct(
                    _step_hash(
                        F.col("walk_id"), F.col("node"), F.col("dst"), t
                    ).alias("h"),
                    F.col("dst").alias("cand"),
                ).alias("hc"),
            )
            cur = (
                cands.groupBy("walk_id")
                .agg(F.min("hc").alias("m"))
                .select(
                    "walk_id", F.lit(t).alias("step"), F.col("m.cand").alias("node")
                )
                # superstep materialization (the g27/g35 rule): without it
                # the final union evaluates step t through t stacked joins —
                # O(n_steps²) total work and an n_steps-deep plan at
                # DeepWalk-typical depths (40–80)
                .localCheckpoint(eager=True)
            )
            out.append(cur)
    return reduce(DataFrame.unionByName, out)
