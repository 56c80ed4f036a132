"""Partitioned IVF store: search-from-store must agree with the
in-memory IVF operator, and bucket probing must appear in the plan as
dynamic partition pruning."""

from __future__ import annotations

import pytest

from advanced_technologies_of_china_graph_database_construction_spark.catalog import load_table
from advanced_technologies_of_china_graph_database_construction_spark.operators.kmeans import seed_centroids
from advanced_technologies_of_china_graph_database_construction_spark.operators.similarity import ivf_topk
from advanced_technologies_of_china_graph_database_construction_spark.sources.ivf_store import (
    ivf_topk_batch,
    write_ivf_store,
)

from .conftest import SF_CORRECT

QUERY_IDS = [100, 101, 102]


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ivf_store"))
    emb = load_table(spark, SF_CORRECT, "embeddings")
    write_ivf_store(emb, root, seed_centroids(emb, 8))
    return root


def _rows(df):
    return sorted(
        (r["query_id"], r["neighbor_id"], r["sim"], r["rank"]) for r in df.collect()
    )


def _queries(spark, ids, emb=None):
    from pyspark.sql import functions as F

    emb = load_table(spark, SF_CORRECT, "embeddings") if emb is None else emb
    return emb.filter(F.col("vec_id").isin(ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )


def test_batch_search_matches_inmemory_ivf(spark, store):
    emb = load_table(spark, SF_CORRECT, "embeddings")
    want = _rows(ivf_topk(emb, QUERY_IDS, seed_centroids(emb, 8), k=5, nprobe=2))
    got = _rows(ivf_topk_batch(spark, store, _queries(spark, QUERY_IDS), k=5, nprobe=2))
    assert got == want


def test_trained_quantizer_store_matches_inmemory(spark, tmp_path):
    """write_ivf_store(centroids=...) persists a TRAINED quantizer (the
    a04 composition) and store search reproduces the in-memory
    trained-IVF result exactly."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.kmeans import kmeans_centroids

    emb = load_table(spark, SF_CORRECT, "embeddings")
    cent = kmeans_centroids(emb, k=4, iters=2)
    root = str(tmp_path / "trained_store")
    write_ivf_store(emb, root, centroids=cent)
    want = _rows(ivf_topk(emb, QUERY_IDS, cent, k=5, nprobe=2))
    got = _rows(ivf_topk_batch(spark, root, _queries(spark, QUERY_IDS), k=5, nprobe=2))
    assert got == want


def test_batch_plan_no_collect_and_dynamic_pruning(spark, store):
    """The batch face's contract: zero driver round-trips (no
    CollectLimit anywhere) and bucket selection reaching the
    partitioned vectors scan as a DYNAMIC partition-pruning filter."""
    df = ivf_topk_batch(spark, store, _queries(spark, QUERY_IDS), k=5, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CollectLimit" not in plan
    pruned = [
        l for l in plan.splitlines()
        if "PartitionFilters" in l and "dynamicpruning" in l and "centroid_id" in l
    ]
    assert pruned, plan


# ----------------------- append (incremental index maintenance) ----------

def _file_state(root):
    import os

    out = {}
    for r, _, fs in os.walk(f"{root}/vectors"):
        for f in fs:
            if f.endswith(".parquet"):
                p = os.path.join(r, f)
                st = os.stat(p)
                out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def test_append_equals_full_build(spark, tmp_path):
    """store(base) + append(delta) must answer queries exactly like a
    store built from the full corpus at once (same frozen centroid
    seed — the delta excludes the 8 smallest ids)."""
    from pyspark.sql import functions as F
    from advanced_technologies_of_china_graph_database_construction_spark.sources.ivf_store import append_ivf_store

    emb = load_table(spark, SF_CORRECT, "embeddings")
    full_root, inc_root = str(tmp_path / "full"), str(tmp_path / "inc")
    base = emb.filter(F.col("vec_id") % 10 != 9)
    write_ivf_store(emb, full_root, seed_centroids(emb, 8))
    write_ivf_store(base, inc_root, seed_centroids(base, 8))
    append_ivf_store(emb.filter(F.col("vec_id") % 10 == 9), inc_root)
    queries = _queries(spark, QUERY_IDS)
    want = _rows(ivf_topk_batch(spark, full_root, queries, k=5, nprobe=2))
    got = _rows(ivf_topk_batch(spark, inc_root, queries, k=5, nprobe=2))
    assert got == want


def test_append_redelivered_id_upserts_and_untouched_partitions_intact(spark, tmp_path):
    """A re-delivered vec_id must end up ONCE with the delta's vector
    (delta wins), and partitions the delta doesn't touch must keep
    byte-identical files (size+mtime unchanged)."""
    from pyspark.sql import functions as F
    from advanced_technologies_of_china_graph_database_construction_spark.sources.ivf_store import append_ivf_store

    emb = load_table(spark, SF_CORRECT, "embeddings")
    root = str(tmp_path / "store")
    write_ivf_store(emb, root, seed_centroids(emb, 8))
    before = _file_state(root)
    # re-deliver one existing vector with a RECOGNIZABLE new payload:
    # its own embedding again (assignment unchanged → same partition)
    # plus a fresh id far outside the corpus
    some = emb.filter(F.col("vec_id") == 100).select("vec_id", "embedding", "label")
    fresh = some.select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding", "label"
    )
    append_ivf_store(some.unionByName(fresh), root)
    vectors = spark.read.parquet(f"{root}/vectors")
    assert vectors.filter(F.col("vec_id") == 100).count() == 1
    assert vectors.filter(F.col("vec_id") == 10_000_100).count() == 1
    after = _file_state(root)
    touched_parts = {
        r["centroid_id"]
        for r in vectors.filter(
            F.col("vec_id").isin([100, 10_000_100])
        ).select("centroid_id").collect()
    }
    for rel, st in before.items():
        part = int(rel.split("centroid_id=")[1].split("/")[0])
        if part not in touched_parts:
            assert after.get(rel) == st, rel


def test_shifted_ids_seed_a_full_quantizer(spark, tmp_path):
    """IVF must not assume vector ids 0..C-1: over ids shifted by +1000
    the seed is still the 8 smallest ids, and both the in-memory search
    and the store return k neighbours per query (a seed of `id < 8`
    finds no centroid there, and IVF silently returns nothing)."""
    from pyspark.sql import functions as F

    emb = load_table(spark, SF_CORRECT, "embeddings").withColumn(
        "vec_id", F.col("vec_id") + 1000
    )
    ids = [q + 1000 for q in QUERY_IDS]
    cent = seed_centroids(emb, 8)
    root = str(tmp_path / "shifted")
    write_ivf_store(emb, root, cent)
    for df in (
        ivf_topk(emb, ids, cent, k=5, nprobe=2),
        ivf_topk_batch(spark, root, _queries(spark, ids, emb), k=5, nprobe=2),
    ):
        per_query = {}
        for r in df.collect():
            per_query[r["query_id"]] = per_query.get(r["query_id"], 0) + 1
        assert per_query == {q: 5 for q in ids}
