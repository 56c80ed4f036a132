"""Unit tests for the ER operators: connected components against a
brute-force closure, LSH recall/precision against the exact join on a
clustered synthetic fixture, and mapping application semantics."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from advanced_technologies_of_china_graph_database_construction_spark.operators.connected_components import (
    connected_components,
)
from advanced_technologies_of_china_graph_database_construction_spark.operators.er import (
    _round_half_up,
    apply_mapping,
    apply_mapping_array,
    canonical_mapping,
    exact_similarity_pairs,
    lsh_similarity_pairs,
)


def _cc_bruteforce(edges: list[tuple[int, int]], nodes: set[int]) -> dict[int, int]:
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def test_connected_components_chain_and_clusters(spark):
    # chain 0-1-2-3-4 (tests multi-round convergence), triangle, isolated pair
    edges = [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)]
    nodes = {n for e in edges for n in e}
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert got == _cc_bruteforce(edges, nodes)


def test_connected_components_random(spark):
    rng = np.random.RandomState(3)
    edges = [(int(rng.randint(0, 200)), int(rng.randint(0, 200))) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    nodes = {n for e in edges for n in e}
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert got == _cc_bruteforce(edges, nodes)


@pytest.fixture(scope="module")
def clustered_emb(spark):
    # 40 clusters of 5 near-duplicate unit vectors (cos >= ~0.99 within)
    rng = np.random.RandomState(11)
    rows = []
    vid = 0
    for _ in range(40):
        center = rng.randn(32)
        center /= np.linalg.norm(center)
        for _ in range(5):
            v = center + 0.03 * rng.randn(32)
            v /= np.linalg.norm(v)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_lsh_vs_exact(clustered_emb):
    exact = {(r.src, r.dst) for r in exact_similarity_pairs(clustered_emb, 0.95).collect()}
    approx = {
        (r.src, r.dst)
        for r in lsh_similarity_pairs(clustered_emb, 0.95, n_planes=64, bands=16).collect()
    }
    assert approx <= exact, "LSH must have exact precision (candidates re-scored)"
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.9, f"LSH recall too low: {recall}"


def test_exact_pairs_multiblock_equals_singleblock(clustered_emb):
    """The distributed block-pair GEMM must produce identical pairs
    whatever the blocking: block_rows small enough to force many
    cross-block tasks vs. everything in one block."""
    one = {
        (r.src, r.dst, r.sim)
        for r in exact_similarity_pairs(clustered_emb, 0.95, block_rows=10_000).collect()
    }
    many = {
        (r.src, r.dst, r.sim)
        for r in exact_similarity_pairs(clustered_emb, 0.95, block_rows=16).collect()
    }
    assert one == many
    assert len(one) > 0


def test_round_half_up_matches_sql_round():
    x = np.array([0.1234565, 0.1234575, -0.1234565, 1.9999995, 0.44])
    got = _round_half_up(x)
    # HALF_UP: ties away from zero (matches Spark F.round / DuckDB round)
    assert got[0] == pytest.approx(0.123457)
    assert got[1] == pytest.approx(0.123458)
    assert got[2] == pytest.approx(-0.123457)
    assert got[3] == pytest.approx(2.0)
    assert got[4] == pytest.approx(0.44)


def test_apply_mapping_array_semantics(spark):
    """J1 list branch: element-wise rewrite + order-preserving
    first-occurrence dedup (`keyword_merger.py:249-265`), empty/null
    arrays come back empty."""
    mapping = spark.createDataFrame(
        [(2, 1), (3, 1), (5, 4)], "id long, canonical long"
    )
    recs = spark.createDataFrame(
        [
            (1, [3, 2, 9, 5, 3]),   # 3->1, 2->1 dedup to first pos; 9 unmapped
            (2, []),
            (3, None),
            (4, [7]),
        ],
        "rec long, kws array<long>",
    )
    out = {
        r.rec: list(r.kws)
        for r in apply_mapping_array(recs, mapping, "kws", id_cols=("rec",)).collect()
    }
    assert out[1] == [1, 9, 4]  # [3,2,9,5,3] -> [1,1,9,4,1] -> first-occurrence dedup
    assert out[2] == []
    assert out[3] == []
    assert out[4] == [7]


def test_canonical_mapping_and_apply(spark, clustered_emb):
    pairs = exact_similarity_pairs(clustered_emb, 0.95)
    mapping = canonical_mapping(clustered_emb, pairs)
    # every id mapped; canonical is <= id (min representative)
    rows = mapping.collect()
    assert len(rows) == clustered_emb.count()
    assert all(r.canonical <= r.id for r in rows)
    # apply to a records table
    recs = spark.createDataFrame([(i, i) for i in range(0, 200, 7)], "rec long, kw long")
    out = apply_mapping(recs, mapping, "kw", "kw_canonical")
    m = {r.id: r.canonical for r in rows}
    for r in out.collect():
        assert r.kw_canonical == m.get(r.kw, r.kw)


def test_partitioned_gemm_subblocks_match_global(spark, clustered_emb):
    """partition_by with a single partition value must equal the global
    GEMM, including when tiny block_rows forces multi-block sub-splitting
    of that partition (the giant-cluster path)."""
    from pyspark.sql import functions as F

    one = clustered_emb.withColumn("grp", F.lit(1))
    got = {
        (r.src, r.dst, r.sim)
        for r in exact_similarity_pairs(
            one, 0.95, partition_by="grp", block_rows=16
        ).collect()
    }
    want = {
        (r.src, r.dst, r.sim)
        for r in exact_similarity_pairs(clustered_emb, 0.95, block_rows=16).collect()
    }
    assert got == want and len(got) > 0


def test_partitioned_gemm_scores_only_within_partitions(spark, clustered_emb):
    """With a real partition column, no cross-partition pair may appear,
    and within-partition pairs must equal the filtered global pair set."""
    from pyspark.sql import functions as F

    parted = clustered_emb.withColumn("grp", (F.col("vec_id") % 2).cast("int"))
    got = {
        (r.src, r.dst, r.sim)
        for r in exact_similarity_pairs(
            parted, 0.95, partition_by="grp", block_rows=16
        ).collect()
    }
    glob = {
        (r.src, r.dst, r.sim)
        for r in exact_similarity_pairs(clustered_emb, 0.95).collect()
    }
    want = {(s, d, v) for s, d, v in glob if s % 2 == d % 2}
    assert got == want and len(got) > 0


def test_arrow_cosine_degenerate_inputs_match_jvm(spark):
    """NULL arrays and zero-norm vectors must yield NULL (like the JVM
    divide-by-zero semantics), never NaN — NaN would outrank every real
    neighbor in descending top-k windows."""
    from pyspark.sql import functions as F

    from advanced_technologies_of_china_graph_database_construction_spark.functions.vectors import (
        arrow_cosine_rounded,
        cosine_rounded,
    )

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], [1.0, 0.0]),
            (2, [0.0, 0.0], [1.0, 0.0]),  # zero norm
            (3, None, [1.0, 0.0]),  # null array
            (4, [1.0, 1.0], [1.0, 0.0]),
        ],
        "id long, a array<double>, b array<double>",
    )
    got = {
        r.id: r.s
        for r in df.select("id", arrow_cosine_rounded(F.col("a"), F.col("b")).alias("s")).collect()
    }
    want = {
        r.id: r.s
        for r in df.select("id", cosine_rounded(F.col("a"), F.col("b")).alias("s")).collect()
    }
    assert got == want
    assert got[2] is None and got[3] is None and got[1] == 1.0


def test_auto_dispatch_partitioned_skips_count_scan(monkeypatch, spark, clustered_emb):
    """The partitioned GEMM derives its block counts from its own size
    aggregate — so no count() scan may run while the plan is built."""
    from pyspark.sql import DataFrame, functions as F

    parted = clustered_emb.withColumn("grp", (F.col("vec_id") % 2).cast("int"))

    def boom(self):
        raise AssertionError("count() must not run for the partitioned GEMM")

    monkeypatch.setattr(DataFrame, "count", boom)
    df = exact_similarity_pairs(parted, 0.95, partition_by="grp")
    monkeypatch.undo()
    assert len(df.collect()) > 0


def test_partitioned_gemm_null_partition_forms_own_group(spark, clustered_emb):
    """Rows whose partition value is NULL must be compared among
    themselves (their own group), not silently dropped by the size
    join."""
    from pyspark.sql import functions as F

    parted = clustered_emb.withColumn(
        "grp",
        F.when(F.col("vec_id") % 3 == 0, F.lit(None).cast("int")).otherwise(
            (F.col("vec_id") % 2).cast("int")
        ),
    )
    got = {
        (r.src, r.dst)
        for r in exact_similarity_pairs(
            parted, 0.95, partition_by="grp", block_rows=16
        ).collect()
    }
    glob = {
        (r.src, r.dst): (r.src % 3 == 0, r.dst % 3 == 0, r.src % 2, r.dst % 2)
        for r in exact_similarity_pairs(clustered_emb, 0.95).collect()
    }
    want = {
        pair
        for pair, (s_null, d_null, s_par, d_par) in glob.items()
        if (s_null and d_null) or (not s_null and not d_null and s_par == d_par)
    }
    assert got == want
    # the NULL group must actually contribute pairs for the test to bite
    assert any(s % 3 == 0 and d % 3 == 0 for s, d in got)


# ------------------------------------ symdelete typo-alias blocking -------

def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_symdelete_matches_bruteforce(spark):
    """Deletion-neighborhood blocking loses NO pair within distance 1 —
    checked against the all-pairs python reference on names exercising
    substitution, insertion, deletion, equality, and unicode."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.er import symdelete_typo_pairs

    names = [
        "widget", "widgget", "wdget", "wodget", "widget",
        "gadget", "gadgets", "gizmo", "", "w",
        "北京大学", "北京天学", "清华大学",
    ]
    df = spark.createDataFrame(list(enumerate(names)), "id long, name string")
    got = sorted(
        (r.src, r.dst, r.distance) for r in symdelete_typo_pairs(df).collect()
    )
    want = sorted(
        (i, j, _lev(names[i], names[j]))
        for i in range(len(names))
        for j in range(i + 1, len(names))
        if _lev(names[i], names[j]) <= 1
    )
    assert got == want


# --------------------------------------- incremental ER refresh (p03) -----

def _random_vocab(rng, n: int) -> list[str]:
    """Vocabulary from a 3-letter alphabet, lengths 3-6: dense enough
    that random draws land within Levenshtein distance 1 of each other,
    so the alias graph has real multi-node components."""
    words = set()
    while len(words) < n:
        ln = int(rng.randint(3, 7))
        words.add("".join(rng.choice(list("abc")) for _ in range(ln)))
    return sorted(words)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_incremental_er_refresh_equals_rebuild(spark, seed):
    """incremental_er_refresh(build_er_state(standing), delta) must equal
    build_er_state(standing ∪ delta) exactly, row for row — random
    vocabulary splits, with the delta re-containing a sample of standing
    surfaces (the re-seen/no-op path) on top of its genuinely new ones.
    A NULL name on both sides is not a surface: neither path may keep it
    (the refresh's anti-join never matches NULL, so a kept NULL would be
    appended again on every refresh)."""
    import random
    from collections import Counter

    from advanced_technologies_of_china_graph_database_construction_spark.operators.er import (
        build_er_state,
        incremental_er_refresh,
    )

    rng = random.Random(seed)
    vocab = _random_vocab(rng, 120)
    rng.shuffle(vocab)
    cut = len(vocab) * 2 // 3
    standing_names, new_names = vocab[:cut], vocab[cut:]
    reseen = rng.sample(standing_names, 10)
    delta = new_names + reseen

    standing_df = spark.createDataFrame(
        [(n,) for n in standing_names + [None]], "name string"
    )
    delta_df = spark.createDataFrame([(n,) for n in delta + [None]], "name string")
    union_df = spark.createDataFrame([(n,) for n in vocab + [None]], "name string")

    got = Counter(
        (r.sid, r.name, r.component)
        for r in incremental_er_refresh(build_er_state(standing_df), delta_df).collect()
    )
    want = Counter((r.sid, r.name, r.component) for r in build_er_state(union_df).collect())
    assert got == want
    assert sum(want.values()) == len(vocab)  # one row per surface, none for NULL


def test_symdelete_delta_pairs_tolerates_id_overlap(spark):
    """An id present on BOTH sides (same surface re-delivered) keeps only
    its delta row in the pair kernel's input, so it never emits a
    distance-0 self-pair, never fans out the name lookup, and pairs with
    a new partner once — not once per orientation through the cross
    and delta-internal candidates."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.er import (
        _flagged,
        _symdelete_pairs,
    )

    def pairs(standing, delta):
        old = spark.createDataFrame(standing, "id long, name string")
        new = spark.createDataFrame(delta, "id long, name string")
        rows = _flagged(old, new, "id", True)
        got = _symdelete_pairs(rows, len(delta), len(standing) + len(delta))
        return sorted((r.src, r.dst, r.distance) for r in got.collect())

    # alphb pairs with alpha exactly once; no (1, 1, 0) self-pair
    assert pairs([(1, "alpha"), (2, "beta")], [(1, "alpha"), (3, "alphb")]) == [(1, 3, 1)]
    # the re-seen id sorts after its new partner: delta-internal, src < dst
    assert pairs([(5, "alpha"), (2, "beta")], [(5, "alpha"), (3, "alphb")]) == [(3, 5, 1)]


def test_lsh_empty_input_keeps_id_type(spark):
    """r12 ADVICE: the empty/all-NULL early return hardcoded
    `src long, dst long`, so string-id inputs got a DIFFERENT schema on
    the empty path than the non-empty path."""
    from pyspark.sql import types as T

    empty = spark.createDataFrame(
        [], "vec_id string, embedding array<double>"
    )
    out = lsh_similarity_pairs(empty, 0.9)
    assert out.count() == 0
    assert out.schema["src"].dataType == T.StringType()
    assert out.schema["dst"].dataType == T.StringType()
    assert out.schema["sim"].dataType == T.DoubleType()
