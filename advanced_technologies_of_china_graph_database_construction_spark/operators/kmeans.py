"""Distributed Lloyd's k-means over embedding columns — the trainer for
the IVF coarse quantizer, and the home of the one centroid seed
(``seed_centroids``) and the one nearest-centroid assigner
(``assign_to_centroids``) that every IVF face shares.

Reference parity: the reference's only clustering is sklearn DBSCAN over
an in-memory embedding matrix (`keyword_merger.py:186-201`) — a
single-node dead end past ~10⁶ vectors.  k-means is the standard
web-scale vector-index trainer (IVF/PQ coarse quantizers); here it is
expressed as pure DataFrame aggregations:

- **assignment** is a broadcast crossJoin against the k centroids plus
  one ``min_by`` aggregation — the vector table is never shuffled,
  partial aggregation runs map-side, and ties break to the smallest
  centroid id on the *rounded* similarity so every engine picks the
  same winner;
- **update** is posexplode → groupBy(centroid, dim).avg — after
  map-side combine the shuffle carries at most k×dim rows per upstream
  partition, independent of n;
- centroids are reassembled in-plan (sorted collect_list) and live as a
  k-row DataFrame that is broadcast into the next iteration — the model
  never round-trips through the driver.

Determinism contract (shared with the DuckDB oracle in
``plans/docs_queries.py``): init = the k vectors with the smallest ids;
similarities rounded HALF_UP at 1e-6 before any comparison; fixed
iteration count (no data-dependent stopping), like
``analytics.pagerank``'s fixed rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import as_double, cosine_rounded


def assign_to_centroids(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, centroid_id, sim): nearest centroid by rounded cosine — the
    assigner of k-means' Lloyd steps and of every IVF face.

    ``centroids`` is (centroid_id, cv) and is broadcast — the vector
    table stays where it is; argmax is a map-side-combinable ``min_by``
    (no row_number window, no per-key shuffle of the n×k score rows
    beyond the final partial-merge).

    Degenerate-vector contract: a vector whose similarity to EVERY
    centroid is NULL (zero-norm, NULL, or length-mismatched input —
    cosine returns NULL in-contract for all of these) produces **no
    output row**: NULL sims are filtered before the argmax, so an
    all-NULL score set leaves nothing to aggregate.  Callers needing
    full id coverage must LEFT-join this result back to their id set;
    the drop is visible (fewer rows), never a fabricated assignment.
    """
    scored = (
        emb.select(F.col(id_col), as_double(F.col(vec_col)).alias("v"))
        .crossJoin(F.broadcast(centroids))
        .select(
            id_col,
            "centroid_id",
            cosine_rounded(F.col("v"), F.col("cv")).alias("sim"),
        )
    )
    return scored.filter(F.col("sim").isNotNull()).groupBy(id_col).agg(
        # min over (-sim, id): best sim, ties to the SMALLEST id — and
        # type-agnostic, where negating the id (the old max_by form)
        # broke on non-numeric id spaces seed_centroids advertises
        # (ANSI cast error, or NULL-struct nondeterminism; r12 review).
        # NULL sims (degenerate centroid — cosine NULL in-contract) are
        # filtered, not ranked: NULL sorts first in the struct, so one
        # degenerate centroid would otherwise win every argmax AND
        # desynchronize from the max("sim") beside it (r12 ADVICE).
        F.expr("min_by(centroid_id, struct(-sim, centroid_id))").alias("centroid_id"),
        F.max("sim").alias("sim"),
    )


def _update_centroids(
    assign: DataFrame, emb_d: DataFrame, id_col: str
) -> DataFrame:
    """New centroids = element-wise mean of each cluster's members.

    posexplode fans each member into (centroid, dim, x) rows, but the
    avg's partial aggregation collapses them to ≤ k×dim per upstream
    partition before the shuffle; the sorted-struct transform rebuilds
    the array deterministically (collect_list order is not).
    Empty clusters simply produce no row, same as the SQL oracle.
    """
    return (
        assign.join(emb_d, id_col)
        .select("centroid_id", F.posexplode("v").alias("dim", "x"))
        .groupBy("centroid_id", "dim")
        .agg(F.avg("x").alias("m"))
        .groupBy("centroid_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim, m))), s -> s.m)"
            ).alias("cv")
        )
    )


def seed_centroids(
    emb: DataFrame, k: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Deterministic init: the k vectors with the smallest ids (the
    k-means++ analogue would sample — fine in production, but the gate
    needs bit-identical runs across engines).  The k smallest ids are
    DERIVED (one tiny sort-limit job), not assumed to be 0..k-1, so a
    sparse or non-contiguous id space still seeds k full centroids —
    the pq_train fix applied to its sibling; fewer than k vectors
    raises instead of silently training a short codebook.  Centroid
    ids keep the seed vectors' ids (contiguous fixtures are unchanged:
    k smallest ≡ < k there, which is what the a02–a04/d19 oracles
    mirror).

    Labeling convention (deliberately different from ``pq.pq_train``):
    centroid ids here are the seed vectors' ORIGINAL ids — opaque
    labels callers only group/join on, so density doesn't matter and
    keeping the source id aids debugging.  ``pq_train`` re-labels its
    codewords 0..k-1 by rank because PQ codes are ARRAY INDICES into
    the ADC lookup table and must be dense (see pq.py's docstring)."""
    seed_ids = [
        r[0]
        for r in emb.select(id_col).distinct().orderBy(id_col).limit(k).collect()
    ]
    if len(seed_ids) < k:
        raise ValueError(
            f"seed_centroids: k={k} centroids need >= k distinct {id_col}s, "
            f"got {len(seed_ids)}"
        )
    return emb.filter(F.col(id_col).isin(seed_ids)).select(
        F.col(id_col).alias("centroid_id"), as_double(F.col(vec_col)).alias("cv")
    )


def kmeans_centroids(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(centroid_id, cv) after ``iters`` Lloyd steps from the seed."""
    emb_d = emb.select(F.col(id_col), as_double(F.col(vec_col)).alias("v"))
    cent = seed_centroids(emb, k, id_col, vec_col)
    for _ in range(iters):
        assign = assign_to_centroids(emb, cent, id_col, vec_col)
        cent = _update_centroids(assign.select(id_col, "centroid_id"), emb_d, id_col)
    return cent


def kmeans_assignments(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Final (id, centroid_id, sim) against the trained centroids."""
    return assign_to_centroids(
        emb, kmeans_centroids(emb, k, iters, id_col, vec_col), id_col, vec_col
    )
