"""Distributed Lloyd k-means (operators/kmeans.py): parity with an
independent numpy reference, trained-quantizer wiring into IVF, and the
plan shapes that make it scale (broadcast centroids, map-side partial
aggregation, no driver collect of the vector table)."""

from __future__ import annotations

import numpy as np

from tests.conftest import SF_CORRECT, SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _round_half_up(x, digits=6):
    scaled = x * 10.0**digits
    return np.where(scaled >= 0, np.floor(scaled + 0.5), np.ceil(scaled - 0.5)) / (
        10.0**digits
    )


def _numpy_kmeans(ids, mat, k, iters):
    """Independent reference: same determinism contract (smallest-id
    seed, HALF_UP 1e-6 rounded cosine, ties to smallest centroid)."""
    order = np.argsort(ids)
    ids, mat = ids[order], mat[order]
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    cent = mat[ids < k].astype(np.float64)
    cent_ids = ids[ids < k]
    for it in range(iters + 1):
        cu = cent / np.linalg.norm(cent, axis=1, keepdims=True)
        sims = _round_half_up(unit @ cu.T)
        # argmax with ties to the smallest centroid id: stable argmax on
        # (sim, -centroid_id) — numpy argmax takes the first max, and
        # cent_ids is ascending, so plain argmax suffices.
        best = np.argmax(sims, axis=1)
        assign = cent_ids[best]
        if it == iters:
            best_sim = sims[np.arange(len(ids)), best]
            return ids, assign, best_sim
        new_cent, new_ids = [], []
        for c in cent_ids:
            members = mat[assign == c]
            if len(members):
                new_cent.append(members.mean(axis=0))
                new_ids.append(c)
        cent = np.stack(new_cent)
        cent_ids = np.array(new_ids)


def test_seed_centroids_k_smallest_ids_on_sparse_id_space(spark):
    """Seeding derives the k SMALLEST ids rather than assuming 0..k-1:
    a non-contiguous id space still seeds k full centroids (the pq_train
    review finding's sibling), and fewer than k vectors raises."""
    import pytest
    from pyspark.sql import functions as F

    from advanced_technologies_of_china_graph_database_construction_spark.operators.kmeans import (
        kmeans_assignments,
        seed_centroids,
    )

    rng = np.random.RandomState(5)
    rows = [(100 + 7 * i, [float(x) for x in rng.rand(8)]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    seeds = seed_centroids(emb, k=4)
    got_ids = sorted(r["centroid_id"] for r in seeds.collect())
    assert got_ids == [100, 107, 114, 121]
    assign = kmeans_assignments(emb, k=4, iters=1).collect()
    assert len(assign) == 20
    assert {r["centroid_id"] for r in assign} <= {100 + 7 * i for i in range(20)}
    with pytest.raises(ValueError, match="distinct"):
        seed_centroids(emb.filter(F.col("vec_id") < 114), k=4)


def test_kmeans_matches_numpy_reference(spark):
    from advanced_technologies_of_china_graph_database_construction_spark.catalog import load_table
    from advanced_technologies_of_china_graph_database_construction_spark.operators.kmeans import kmeans_assignments

    emb = load_table(spark, SF_SMOKE, "embeddings")
    rows = emb.toPandas()
    ids = rows["vec_id"].to_numpy()
    mat = np.stack(rows["embedding"].to_numpy()).astype(np.float64)

    got = {
        r["vec_id"]: (r["centroid_id"], r["sim"])
        for r in kmeans_assignments(emb, k=8, iters=2).collect()
    }
    ref_ids, ref_assign, ref_sim = _numpy_kmeans(ids, mat, k=8, iters=2)
    assert len(got) == len(ref_ids)
    for i, a, s in zip(ref_ids, ref_assign, ref_sim):
        ga, gs = got[i]
        assert ga == a, f"vec {i}: spark={ga} numpy={a}"
        assert abs(gs - s) < 1e-9, f"vec {i}: sim {gs} vs {s}"


def test_trained_centroids_plug_into_ivf(spark):
    """kmeans_centroids output feeds ivf_topk unchanged, and every
    vector lands in exactly one surviving cluster."""
    from advanced_technologies_of_china_graph_database_construction_spark.catalog import load_table
    from advanced_technologies_of_china_graph_database_construction_spark.operators.kmeans import (
        assign_to_centroids,
        kmeans_centroids,
    )
    from advanced_technologies_of_china_graph_database_construction_spark.operators.similarity import (
        ivf_topk,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cent = kmeans_centroids(emb, k=4, iters=1)
    assign = assign_to_centroids(emb, cent)
    n = emb.count()
    assert assign.count() == n
    assert assign.select("vec_id").distinct().count() == n

    topk = ivf_topk(emb, [0, 1], cent, k=3, nprobe=2).collect()
    by_q = {}
    for r in topk:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        assert len(rs) == 3
        assert all(r["neighbor_id"] != q for r in rs)


def test_kmeans_plan_broadcasts_centroids_no_window(spark):
    """Assignment must broadcast the k-row centroid side and aggregate
    with map-side partial max_by — never shuffle the vector table to a
    row_number window."""
    from advanced_technologies_of_china_graph_database_construction_spark.catalog import load_table
    from advanced_technologies_of_china_graph_database_construction_spark.operators.kmeans import kmeans_assignments

    emb = load_table(spark, SF_CORRECT, "embeddings")
    plan = _plan(kmeans_assignments(emb, k=8, iters=1))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "Window" not in plan, plan
    # min_by since r12 (type-agnostic tie-break); still map-side partial
    assert "partial_min_by" in plan or "partial_minby" in plan.lower(), plan


def test_centroid_update_partial_aggregates_before_shuffle(spark):
    """The posexplode fan-out must collapse map-side (partial_avg) so
    the update shuffle is k×dim-bounded, not n×dim."""
    from advanced_technologies_of_china_graph_database_construction_spark.catalog import load_table
    from advanced_technologies_of_china_graph_database_construction_spark.operators.kmeans import kmeans_centroids

    emb = load_table(spark, SF_CORRECT, "embeddings")
    plan = _plan(kmeans_centroids(emb, k=8, iters=1))
    assert "partial_avg" in plan, plan


def test_degenerate_centroid_filtered_not_ranked(spark):
    """r12 ADVICE: a zero-norm centroid scores NULL cosine, and a NULL
    first struct field sorts FIRST ascending — so an unfiltered min_by
    argmax let one degenerate centroid win EVERY assignment (and the
    max('sim') beside it reported a sim that didn't match the pick).
    Degenerate scores are filtered before the argmax."""
    from pyspark.sql import functions as F

    from advanced_technologies_of_china_graph_database_construction_spark.operators.kmeans import (
        assign_to_centroids,
    )

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    cent = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (99, [0.0, 0.0])],
        "centroid_id long, cv array<double>",
    )
    got = {
        r["vec_id"]: (r["centroid_id"], r["sim"])
        for r in assign_to_centroids(emb, cent).collect()
    }
    assert got == {1: (0, 1.0), 2: (1, 1.0)}

    # an all-degenerate VECTOR (NULL sim vs every centroid) yields no
    # row — filtered, not ranked, same convention
    emb2 = emb.union(
        spark.createDataFrame([(3, [0.0, 0.0])], "vec_id long, embedding array<double>")
    )
    assert 3 not in {r["vec_id"] for r in assign_to_centroids(emb2, cent).collect()}
