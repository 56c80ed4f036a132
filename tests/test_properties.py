"""Property-based checks (hypothesis) for the algorithmic cores whose
correctness arguments are the subtlest: connected components vs a
reference union-find, pigeonhole-LSH minhash vs brute force, and
partitioning invariance (results must not depend on
spark.sql.shuffle.partitions).
"""

from __future__ import annotations

import random
from decimal import ROUND_HALF_UP, Decimal

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from advanced_technologies_of_china_graph_database_construction_spark.operators.connected_components import (
    connected_components,
    incremental_components,
)
from advanced_technologies_of_china_graph_database_construction_spark.operators import dedup as D
from advanced_technologies_of_china_graph_database_construction_spark.operators.dedup import (
    N_PERMS,
    PERMS,
    MINHASH_PRIME,
    minhash_near_dups,
)

SETTINGS = settings(
    max_examples=8, deadline=None, suppress_health_check=list(HealthCheck)
)


def _union_find_components(edges, nodes):
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
    # min-id representative per component
    reps = {}
    for n in nodes:
        r = find(n)
        reps.setdefault(r, min(r, n))
    return {n: min(x for x in nodes if find(x) == find(n)) for n in nodes}


@given(
    st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)),
        min_size=0,
        max_size=80,
    )
)
@SETTINGS
def test_connected_components_matches_union_find(spark, edge_list):
    edge_list = [(a, b) for a, b in edge_list if a != b]
    if not edge_list:
        return
    nodes = sorted({x for e in edge_list for x in e})
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    want = _union_find_components(edge_list, nodes)
    # distributed star-contraction path (driver_threshold=0 forces it)
    got = {
        r["id"]: r["component"]
        for r in connected_components(edges, driver_threshold=0).collect()
    }
    assert got == {n: want[n] for n in nodes}
    # adaptive driver union-find path must agree
    got_small = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert got_small == got


@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1,
        max_size=60,
    ),
    st.lists(
        # delta ids overlap the base range AND extend past it (35-45),
        # so merges, intra-component no-ops, and brand-new nodes all occur
        st.tuples(st.integers(0, 45), st.integers(0, 45)),
        min_size=1,
        max_size=20,
    ),
)
@SETTINGS
def test_incremental_components_equals_full_recompute(spark, base_list, delta_list):
    """Folding a delta edge batch into a standing mapping must land on
    exactly the mapping a from-scratch recompute over base ∪ delta
    produces — including min-id labels when a new node undercuts every
    old member of its merged component."""
    base_list = [(a, b) for a, b in base_list if a != b]
    delta_list = [(a, b) for a, b in delta_list if a != b]
    if not base_list or not delta_list:
        return
    base = spark.createDataFrame(base_list, "src long, dst long")
    delta = spark.createDataFrame(delta_list, "src long, dst long")
    mapping = connected_components(base)
    got = {
        r["id"]: r["component"]
        for r in incremental_components(mapping, delta).collect()
    }
    want = {
        r["id"]: r["component"]
        for r in connected_components(base.unionByName(delta)).collect()
    }
    assert got == want


def test_incremental_components_noop_delta_returns_mapping_unchanged(spark):
    """A delta whose every edge lands inside an existing component (the
    routine ER case: a re-derived similarity pair) contracts to an EMPTY
    graph — the operator must return the mapping unchanged, on BOTH the
    driver union-find and distributed CC paths, not crash on an empty
    frame (review finding: CANNOT_INFER_EMPTY_SCHEMA)."""
    base = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    mapping = connected_components(base)
    want = {r["id"]: r["component"] for r in mapping.collect()}
    delta = spark.createDataFrame([(0, 2)], "src long, dst long")
    for kw in ({}, {"driver_threshold": 0}):
        got = {
            r["id"]: r["component"]
            for r in incremental_components(mapping, delta, **kw).collect()
        }
        assert got == want == {0: 0, 1: 0, 2: 0}


def _brute_minhash_pairs(docs, min_matching=8):
    def sig(text):
        hashes = [
            ord(text[i]) * 65536 + ord(text[i + 1]) * 256 + ord(text[i + 2])
            for i in range(len(text) - 2)
        ]
        return [min((a * h + b) % MINHASH_PRIME for h in hashes) for _, a, b in PERMS]

    sigs = {d: sig(t) for d, t, _ in docs if len(t) >= 3}
    blocks = {d: blk for d, _, blk in docs}
    out = set()
    for a in sigs:
        for b in sigs:
            if a < b and blocks[a] == blocks[b]:
                n = sum(1 for x, y in zip(sigs[a], sigs[b]) if x == y)
                if n >= min_matching:
                    out.add((a, b, n))
    return out


@given(st.integers(0, 2**31 - 1))
@SETTINGS
def test_minhash_near_dups_match_bruteforce(spark, seed):
    rng = random.Random(seed)
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon"]
    docs = []
    for i in range(24):
        base = " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 10)))
        docs.append((i, base, f"b{i % 2}"))
        if rng.random() < 0.5:  # inject near-duplicates
            docs.append((100 + i, base + " zeta", f"b{i % 2}"))
    df = spark.createDataFrame(docs, "doc_id long, text string, source string")
    got = {
        (r["src"], r["dst"], r["n_matching"])
        for r in minhash_near_dups(df).collect()
    }
    assert got == _brute_minhash_pairs(docs)


def test_simhash_banded_candidates_equal_allpairs(spark):
    """Banded candidate generation is pigeonhole-exact: pairs within the
    Hamming budget must match the brute-force all-pairs sweep exactly."""
    from pyspark.sql import functions as F

    from advanced_technologies_of_china_graph_database_construction_spark.catalog import load_table
    from advanced_technologies_of_china_graph_database_construction_spark.operators import dedup as D

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    sigs = [
        (r["doc_id"], r["simhash"], r["source"])
        for r in D.simhash_signatures(docs)
        .join(docs.select("doc_id", "source"), "doc_id")
        .collect()
    ]
    brute = set()
    for i in range(len(sigs)):
        for j in range(len(sigs)):
            a, b = sigs[i], sigs[j]
            if a[0] < b[0] and a[2] == b[2]:
                h = bin(a[1] ^ b[1]).count("1")
                if h <= 3:
                    brute.add((a[0], b[0], h))
    got = {
        (r["src"], r["dst"], r["hamming"]) for r in D.simhash_near_dups(docs).collect()
    }
    assert got == brute
    assert len(brute) > 0


def test_results_invariant_to_shuffle_partitions(spark):
    """The flagship graph query returns identical rows under 3 and 32
    shuffle partitions — no partitioning-dependent semantics anywhere in
    the plan."""
    from advanced_technologies_of_china_graph_database_construction_spark.plans.graph_queries import (
        g10_docs_per_year_for_keyword,
        g13_cooccurring_keywords,
    )

    sf = "/root/testdata/sf0.001"
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results = {}
        for n in ("3", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            results[n] = {
                "g10": sorted(map(tuple, g10_docs_per_year_for_keyword(spark, sf).collect())),
                "g13": sorted(map(tuple, g13_cooccurring_keywords(spark, sf).collect())),
            }
        assert results["3"] == results["32"]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)


def test_fused_minhash_kernel_equals_explode_groupby_path(spark):
    """The Arrow-fused signature kernel and the explode+groupBy
    aggregation are two implementations of the same definition — they
    must agree signature-for-signature."""
    from pyspark.sql import functions as F

    from advanced_technologies_of_china_graph_database_construction_spark.catalog import load_table
    from advanced_technologies_of_china_graph_database_construction_spark.operators import dedup as D

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    fused = {
        r["doc_id"]: tuple(r["sig"])
        for r in docs.select(
            "doc_id", D._minhash_sig_udf()(F.col("text")).alias("sig")
        ).filter(F.col("sig").isNotNull()).collect()
    }
    unfused = {
        r["doc_id"]: tuple(r["sig"])
        for r in D.minhash_signature_array(
            D.char_shingles(docs, dedup_set=False)
        ).collect()
    }
    assert fused == unfused


@given(st.integers(0, 2 ** 31 - 1))
@SETTINGS
def test_semdedup_matches_bruteforce(spark, seed):
    """Per-cluster SemDeDup pruning equals the brute-force rule computed
    in numpy: removed = {j : ∃ i < j in the same cluster, cos(i,j) ≥ t}."""
    import numpy as np

    from advanced_technologies_of_china_graph_database_construction_spark.operators.dedup import (
        embedding_semdedup_removed,
    )

    rng = np.random.RandomState(seed % 2**32)
    n, dim, k, t = 60, 8, 4, 0.9
    base = rng.randn(k, dim)
    vecs = base[rng.randint(0, k, n)] + rng.randn(n, dim) * 0.15
    clusters = rng.randint(0, k, n)  # arbitrary bucketing, as trained assignments would be
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    assign = spark.createDataFrame(
        [(i, int(clusters[i])) for i in range(n)], "vec_id long, centroid_id int"
    )
    got = {r["removed"] for r in embedding_semdedup_removed(emb, assign, t).collect()}
    m = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = np.round(m @ m.T, 6)
    want = {
        j
        for j in range(n)
        for i in range(j)
        if clusters[i] == clusters[j] and sims[i, j] >= t
    }
    assert got == want


# ------------------------------------------- n-gram Jaccard, containment ---

def _half_up(x: float) -> float:
    """Spark's ``F.round(x, 6)`` on a double: HALF_UP on the shortest
    decimal form of ``x`` (Python's ``round`` is half-even on the
    binary value)."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def _brute_overlap(docs, ratio, threshold, keep, n=3):
    """Driver-side reference for the shingle-set pair finders: per-doc
    3-gram codepoint sets, every same-block (a, b) with ``keep(a, b)``
    whose rounded ``ratio(S(a), S(b))`` is ≥ threshold."""
    sets = {
        i: ({t[k : k + n] for k in range(len(t) - n + 1)}, block)
        for i, t, block in docs
        if t is not None and len(t) >= n
    }
    out = set()
    for a, (sa, ba) in sets.items():
        for b, (sb, bb) in sets.items():
            if keep(a, b) and ba == bb:
                r = _half_up(ratio(sa, sb))
                if r >= threshold:
                    out.add((a, b, r))
    return out


def _brute_jaccard(docs, threshold):
    return _brute_overlap(
        docs, lambda a, b: len(a & b) / len(a | b), threshold, lambda a, b: a < b
    )


def _brute_containment(docs, threshold=0.8):
    return _brute_overlap(
        docs, lambda a, b: len(a & b) / len(b), threshold, lambda a, b: a != b
    )


_DOC_SCHEMA = "doc_id long, text string, source string"
# 0.6666667: a 2-of-3 overlap is 0.666667 after HALF_UP rounding, so it
# passes although its true ratio is below the threshold — the case the
# operators' pruning slack exists for
_THRESHOLDS = [0.5, 0.6666667, 0.8]


@given(
    st.lists(
        st.tuples(st.none() | st.text("ab ", max_size=9), st.sampled_from("xy")),
        min_size=1,
        max_size=12,
    ),
    st.sampled_from(_THRESHOLDS),
)
@example([("aaab", "x"), ("aaaba", "x"), ("aaab", "x"), ("ab", "y"), (None, "x")], 0.6666667)
@SETTINGS
def test_ngram_jaccard_pairs_match_bruteforce(spark, texts, threshold):
    """n-gram Jaccard pairs (prefix-filtered candidates, exact verify)
    equal the brute-force double loop over arbitrary small corpora: an
    "ab " alphabet makes shared and duplicate shingle sets common, with
    NULL, too-short and duplicate texts in two blocks."""
    docs = [(i, t, block) for i, (t, block) in enumerate(texts)]
    df = spark.createDataFrame(docs, _DOC_SCHEMA)
    got = {
        (r.src, r.dst, r.jaccard)
        for r in D.ngram_jaccard_pairs(df, threshold=threshold).collect()
    }
    assert got == _brute_jaccard(docs, threshold)


def test_containment_pairs_match_bruteforce(spark):
    """Containment pairs must equal the brute-force double loop —
    including the asymmetry: the quoted snippet scores ~1.0 as dst of
    the long doc but the long doc does NOT score as contained — on a
    hand corpus and on a random one ("ab " alphabet, two blocks, NULL,
    too-short and duplicate texts) at every test threshold."""
    long_doc = "the quick brown fox jumps over the lazy dog near the river bank"
    snippet = "quick brown fox jumps over"
    docs = [
        (1, long_doc, "a"),
        (2, snippet, "a"),                      # contained in 1
        (3, "completely different words here", "a"),
        (4, long_doc, "b"),                     # same text, other block
        (5, snippet + "!!", "a"),
        (6, None, "a"),
        (7, "ab", "a"),                         # too short for a 3-gram
    ]
    df = spark.createDataFrame(docs, _DOC_SCHEMA)
    got = {
        (r.src, r.dst, r.containment)
        for r in D.containment_pairs(df, threshold=0.8).collect()
    }
    want = _brute_containment(docs, threshold=0.8)
    assert got == want
    # the asymmetry actually bites: snippet contained in long doc...
    assert any(s == 1 and d == 2 for s, d, _ in got)
    # ...but not the reverse
    assert not any(s == 2 and d == 1 for s, d, _ in got)
    # and blocks separate: 4 never pairs with 1/2
    assert not any(4 in (s, d) for s, d, _ in got)

    rng = random.Random(12)
    docs = [
        (i, "".join(rng.choice("ab ") for _ in range(rng.randint(0, 10))), rng.choice("xy"))
        for i in range(24)
    ]
    # a NULL, two re-delivered texts, and aaaba whose set is 2/3 inside aaab's
    docs += [(24, None, "x"), (25, *docs[0][1:]), (26, *docs[1][1:])]
    docs += [(27, "aaab", "x"), (28, "aaaba", "x")]
    df = spark.createDataFrame(docs, _DOC_SCHEMA)
    for threshold in _THRESHOLDS:
        got = {
            (r.src, r.dst, r.containment)
            for r in D.containment_pairs(df, threshold=threshold).collect()
        }
        assert got == _brute_containment(docs, threshold), threshold


@given(
    st.lists(
        st.lists(st.sampled_from(["ox", "fox", "dog", "data", "spark"]), min_size=1, max_size=8),
        min_size=1,
        max_size=10,
    ),
    st.lists(st.sampled_from(["ox", "fox", "dog", "vec"]), min_size=1, max_size=3, unique=True),
)
@SETTINGS
def test_bm25_property_matches_reference(spark, word_lists, query):
    """BM25 over arbitrary tiny corpora must equal the pure-Python
    formula doc-for-doc (scores rounded to 6, only matching docs)."""
    import math

    import pytest

    from advanced_technologies_of_china_graph_database_construction_spark.operators.ranking import bm25_topk

    docs = [(i, " ".join(ws)) for i, ws in enumerate(word_lists)]
    k1, b = 1.2, 0.75
    n = float(len(docs))
    avgdl = sum(len(ws) for ws in word_lists) / n
    dfs = {q: float(sum(1 for ws in word_lists if q in ws)) for q in query}
    want = {}
    for i, ws in enumerate(word_lists):
        score = 0.0
        for q in query:
            tf = float(ws.count(q))
            if tf == 0:
                continue
            idf = math.log(1.0 + (n - dfs[q] + 0.5) / (dfs[q] + 0.5))
            score += idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * len(ws) / avgdl))
        if round(score, 6) > 0:
            want[i] = round(score, 6)
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["score"]
        for r in bm25_topk(df, list(query), k=len(docs)).collect()
    }
    assert set(got) == set(want)
    for d in want:
        assert got[d] == pytest.approx(want[d], abs=1e-9)


@given(
    st.lists(
        st.lists(st.integers(-3, 3), min_size=4, max_size=4),
        min_size=3,
        max_size=24,
    ),
    st.integers(1, 4),
    st.integers(2, 7),
)
@SETTINGS
def test_knn_graph_property_matches_numpy(spark, vecs, k, block_rows):
    """knn_graph must equal the numpy brute-force top-k under the
    (sim desc, id asc) comparator for arbitrary integer vectors, any k,
    and any blocking — including heavy cosine ties (small integer
    vectors collide constantly) and zero-norm-free inputs."""
    import numpy as np

    from advanced_technologies_of_china_graph_database_construction_spark.operators.similarity import knn_graph

    # drop zero vectors (cosine undefined); dedupe nothing — ids distinct
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs) if any(v)]
    if len(rows) < 2:
        return
    m = np.array([v for _, v in rows])
    ids = np.array([i for i, _ in rows])
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = mn @ mn.T
    scaled = sims * 1e6
    sims = np.where(scaled >= 0, np.floor(scaled + 0.5), np.ceil(scaled - 0.5)) / 1e6
    want = {}
    for qi, qid in enumerate(ids):
        cand = sorted(
            ((float(sims[qi, ci]), int(cid)) for ci, cid in enumerate(ids) if ci != qi),
            key=lambda p: (-p[0], p[1]),
        )
        for rank, (s, cid) in enumerate(cand[:k], 1):
            want[(int(qid), rank)] = (cid, s)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["vec_id"], r["rank"]): (r["neighbor_id"], r["sim"])
        for r in knn_graph(df, k=k, block_rows=block_rows, n_rows=len(rows)).collect()
    }
    assert got == want


# ---------------------------------------------- k-core peeling -------------

@given(
    st.lists(
        st.tuples(st.integers(0, 20), st.integers(0, 20)).filter(lambda t: t[0] != t[1]),
        min_size=0,
        max_size=60,
    ),
    st.integers(1, 4),
)
@SETTINGS
def test_kcore_property_matches_python_peeling(spark, edge_list, k):
    from advanced_technologies_of_china_graph_database_construction_spark.operators.analytics import k_core, symmetric_edges

    from tests.test_analytics import _kcore_reference

    rounds = 3
    pairs = list({(min(a, b), max(a, b)) for a, b in edge_list})
    want = _kcore_reference(pairs, k, rounds)
    if not pairs:
        return
    df = spark.createDataFrame(pairs, "src long, dst long")
    got = {r.node: r.degree for r in k_core(symmetric_edges(df), k, rounds).collect()}
    assert got == want, (pairs, k)


# ------------------------------------- symdelete typo-alias blocking ------

@given(
    st.lists(
        st.text(alphabet="abc", min_size=0, max_size=6), min_size=1, max_size=25
    )
)
@SETTINGS
def test_symdelete_property_matches_bruteforce(spark, names):
    """Tiny alphabet forces dense distance-1 neighborhoods (the blocking
    recall stress case) plus duplicate strings (distance-0 pairs)."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.er import symdelete_typo_pairs

    from tests.test_er import _lev

    df = spark.createDataFrame(list(enumerate(names)), "id long, name string")
    got = sorted((r.src, r.dst, r.distance) for r in symdelete_typo_pairs(df).collect())
    want = sorted(
        (i, j, _lev(names[i], names[j]))
        for i in range(len(names))
        for j in range(i + 1, len(names))
        if _lev(names[i], names[j]) <= 1
    )
    assert got == want, names


@given(st.integers(0, 2**31 - 1))
@SETTINGS
def test_symdelete_delta_pairs_equal_full_minus_standing_internal(spark, seed):
    """The incremental ER contract, the SymSpell twin of
    ``test_minhash_delta_pairs_equal_full_minus_standing_internal``: the
    pair kernel over standing rows (old) and delta rows (new) equals
    ``symdelete_typo_pairs(standing ∪ delta)`` minus its
    standing-internal pairs, with cross pairs oriented (standing,
    delta).  Random vocabulary splits; some ids are re-delivered on
    both sides, and the delta version wins."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.er import (
        _flagged,
        _symdelete_pairs,
        symdelete_typo_pairs,
    )

    rng = random.Random(seed)
    names = sorted({
        "".join(rng.choice("abc") for _ in range(rng.randint(2, 5))) for _ in range(30)
    })
    ids = list(range(len(names)))
    delta_ids = {i for i in ids if rng.random() < 0.4}
    redelivered = {i for i in ids if i not in delta_ids and rng.random() < 0.2}
    standing = [(i, names[i]) for i in ids if i not in delta_ids]
    delta = [(i, names[i]) for i in sorted(delta_ids | redelivered)]
    new_ids = delta_ids | redelivered
    schema = "id long, name string"
    full = symdelete_typo_pairs(spark.createDataFrame(list(enumerate(names)), schema))
    expected = set()
    for a, b, d in ((r.src, r.dst, r.distance) for r in full.collect()):
        if a in new_ids and b in new_ids:
            expected.add((a, b, d))
        elif b in new_ids:
            expected.add((a, b, d))
        elif a in new_ids:
            expected.add((b, a, d))  # cross pairs orient (standing, delta)
    rows = _flagged(
        spark.createDataFrame(standing, schema), spark.createDataFrame(delta, schema), "id", True
    )
    got = _symdelete_pairs(rows, len(delta), len(standing) + len(delta)).collect()
    assert len(got) == len(expected)  # no pair twice
    assert {(r.src, r.dst, r.distance) for r in got} == expected


# ---------------------------------------------- duplicated spans ----------

@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=12),
        min_size=1,
        max_size=12,
    ),
    st.integers(2, 4),
)
@SETTINGS
def test_dup_spans_property_matches_python(spark, token_lists, n):
    """Tiny vocab makes corpus-wide gram repeats (incl. within-doc
    self-repeats and overlapping islands) the common case."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.dedup import duplicated_span_stats

    from tests.test_textops import _span_reference

    texts = {i: " ".join(ws) for i, ws in enumerate(token_lists)}
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.n_dup_spans, r.dup_tokens, r.dup_frac)
        for r in duplicated_span_stats(df, n=n, min_count=2).collect()
    }
    assert got == _span_reference(texts, n, 2), (texts, n)


# --------------------------- symdelete typo ER: hostile-unicode sweep -----

# The reference's real data regime is CJK surface forms
# (`keyword_merger.py:8` loads a Chinese sentence-embedding model), so
# the deletion-neighborhood blocking must hold beyond ASCII: combining
# marks edit like any codepoint (no normalization is performed — é
# precomposed and e+combining-acute are DIFFERENT strings at distance
# 2), and astral-plane codepoints (surrogate PAIRS in UTF-16) must
# count as ONE deletable unit on both the blocking and verify sides.
_TYPO_ALPHABET = [
    "a", "b",
    "́",        # combining acute (zero-width mark)
    "é",        # precomposed é
    "中", "学",
    "\U0001d54f",    # 𝕏 mathematical double-struck (astral)
    "\U0001f004",    # 🀄 mahjong tile (astral)
]


@given(
    st.lists(
        st.text(alphabet=_TYPO_ALPHABET, min_size=0, max_size=6),
        min_size=2,
        max_size=8,
    )
)
@SETTINGS
def test_symdelete_unicode_matches_bruteforce(spark, names):
    from advanced_technologies_of_china_graph_database_construction_spark.operators.er import symdelete_typo_pairs

    from .test_er import _lev

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
    assert got == want, names


# ------------------------- BPE incremental trainer: adversarial sweep -----

@given(
    st.lists(
        st.text(alphabet=["a", "b"], min_size=1, max_size=7),
        min_size=1,
        max_size=12,
    ),
    st.integers(1, 6),
)
@SETTINGS
def test_bpe_incremental_matches_reference_on_adversarial_corpora(
    spark, words, n_merges
):
    """Two-letter random corpora maximize pair-frequency TIES and
    repeated-character runs ("aaaa" must merge greedily to [aa,aa]) —
    exactly the cases where a stale incremental count or a wrong fold
    would first diverge from the from-scratch reference."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.bpe import bpe_merges

    from .test_bpe import _py_bpe

    text = " ".join(words)
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    got = [
        (r["rank"], r["left"], r["right"], r["pair_freq"])
        for r in bpe_merges(df, n_merges=n_merges).orderBy("rank").collect()
    ]
    assert got == _py_bpe([text], n_merges)[0], (words, n_merges)


@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 2**31 - 1), st.integers(0, 2**31 - 1)),
        min_size=1,
        max_size=20,
    ),
    bits=st.integers(1, 20),
)
@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_zorder_key_property_matches_python_interleave(spark, pairs, bits):
    """JVM bit-interleave == the obvious python reference over random
    31-bit inputs and bit widths past the int-shift-wrap cliff (the
    long cast is what keeps bits > 16 correct on int inputs)."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.layout import zorder_key

    def ref(a, b):
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    df = spark.createDataFrame(pairs, "a int, b int")  # INT on purpose
    got = [
        r["z"]
        for r in df.select(zorder_key(F.col("a"), F.col("b"), bits).alias("z"))
        .orderBy("z")
        .collect()
    ]
    assert got == sorted(ref(a, b) for a, b in pairs)


@given(seed=st.integers(0, 2**16))
@SETTINGS
def test_dsir_weights_invariant_to_input_partitioning(spark, seed):
    """DSIR importance weights are a pure function of the corpus as a
    SET: random corpora scored identically under 1-partition and 13-way
    repartitioned inputs — the per-doc log-ratio sum must not depend on
    row placement (rounding happens once, after the full sum)."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.selection import (
        dsir_importance_weights,
    )

    rng = random.Random(seed)
    vocab = ["alpha", "beta", "gamma", "delta", "omega", "psi"]
    rows = [
        (i, " ".join(rng.choices(vocab, k=rng.randint(0, 12))), rng.random() < 0.4)
        for i in range(30)
    ]
    out = {}
    for nparts in (1, 13):
        docs = spark.createDataFrame(rows, ["doc_id", "text", "is_t"]).repartition(
            nparts
        )
        out[nparts] = sorted(
            map(
                tuple,
                dsir_importance_weights(docs, F.col("is_t"), n_buckets=64).collect(),
            )
        )
    assert out[1] == out[13]


def test_npmi_invariant_to_doc_order_and_partitioning(spark):
    """NPMI collocations over the same document multiset in reversed
    order and a different partitioning return the identical ranked
    list — the rounded-score cutoff makes the top-k order total."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators import (
        textops,
    )

    rows = [
        (i, " ".join(random.Random(i).choices(["r", "g", "b", "y", "p"], k=6)))
        for i in range(40)
    ]
    a = spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1)
    b = spark.createDataFrame(rows[::-1], ["doc_id", "text"]).repartition(11)
    ka = [tuple(r) for r in textops.npmi_collocations(a, min_word_docs=2, min_pair_docs=2, top_k=8).collect()]
    kb = [tuple(r) for r in textops.npmi_collocations(b, min_word_docs=2, min_pair_docs=2, top_k=8).collect()]
    assert ka == kb


@given(st.integers(0, 2**31 - 1))
@SETTINGS
def test_minhash_delta_pairs_equal_full_minus_standing_internal(spark, seed):
    """The incremental dedup contract: minhash_delta_near_dups(standing,
    delta) over a random split equals minhash_near_dups(standing ∪
    delta) minus its standing-internal pairs, with cross pairs oriented
    (standing src, delta dst) — the SymSpell delta pairs equality
    applied to content dedup."""
    rng = random.Random(seed)
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon"]
    docs = []
    for i in range(24):
        base = " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 10)))
        docs.append((i, base, f"b{i % 2}"))
        if rng.random() < 0.5:
            docs.append((100 + i, base + " zeta", f"b{i % 2}"))
    delta_ids = {d for d, _, _ in docs if rng.random() < 0.4}
    full = _brute_minhash_pairs(docs)
    expected = set()
    for a, b, n in full:
        if a in delta_ids and b in delta_ids:
            expected.add((a, b, n))
        elif b in delta_ids:
            expected.add((a, b, n))
        elif a in delta_ids:
            expected.add((b, a, n))  # cross pairs orient (standing, delta)
    schema = "doc_id long, text string, source string"
    standing = spark.createDataFrame(
        [d for d in docs if d[0] not in delta_ids] or [(-1, "", "b0")], schema
    )
    delta = spark.createDataFrame(
        [d for d in docs if d[0] in delta_ids] or [(-2, "", "b0")], schema
    )
    got = {
        (r["src"], r["dst"], r["n_matching"])
        for r in D.minhash_delta_near_dups(standing, delta).collect()
    }
    assert got == expected


def test_minhash_delta_tolerates_redelivered_ids(spark):
    """A document present on BOTH sides (same id) must not self-pair,
    must not fan out the verify join, and scores against the DELTA
    version of its text."""
    standing = spark.createDataFrame(
        [(1, "alpha beta gamma alpha beta", "b0"), (2, "omega psi chi", "b0")],
        "doc_id long, text string, source string",
    )
    delta = spark.createDataFrame(
        [(1, "alpha beta gamma alpha beta", "b0"),
         (3, "alpha beta gamma alpha beta zeta", "b0")],
        "doc_id long, text string, source string",
    )
    rows = D.minhash_delta_near_dups(standing, delta, min_matching=6).collect()
    got = {(r["src"], r["dst"]): r["n_matching"] for r in rows}
    assert all(s != d for s, d in got), got  # no self-pairs
    assert (1, 3) in got  # the re-seen doc still pairs with the new near-dup


def test_minhash_delta_accepts_persisted_signature_store(spark):
    """The steady-state entry point: passing the persisted standing
    signature table (the operator's own signature shape) returns the
    identical pair set to deriving signatures from the documents."""
    rows = [
        (i, " ".join(random.Random(i).choices(["alpha", "beta", "gamma"], k=6)), "b0")
        for i in range(20)
    ]
    schema = "doc_id long, text string, source string"
    standing = spark.createDataFrame(rows[:14], schema)
    delta = spark.createDataFrame(rows[14:], schema)
    sig = (
        standing.select(
            "doc_id", "source", D._minhash_sig_udf()(F.col("text")).alias("sig")
        )
        .filter(F.col("sig").isNotNull())
        .localCheckpoint(eager=True)
    )
    derived = {
        tuple(r)
        for r in D.minhash_delta_near_dups(standing, delta, min_matching=6).collect()
    }
    persisted = {
        tuple(r)
        for r in D.minhash_delta_near_dups(
            standing, delta, min_matching=6, standing_sig=sig
        ).collect()
    }
    assert derived == persisted and derived


def test_minhash_delta_redelivered_id_with_new_partner_single_orientation(spark):
    """Regression: a doc present on BOTH sides that also near-dups a
    NEW delta doc must yield the pair ONCE (delta-internal, src < dst),
    not once per orientation via the cross and delta branches."""
    text = "alpha beta gamma alpha beta"
    standing = spark.createDataFrame(
        [(5, text, "b0"), (9, "omega psi chi omega", "b0")],
        "doc_id long, text string, source string",
    )
    delta = spark.createDataFrame(
        [(5, text, "b0"), (3, text + " zeta", "b0")],
        "doc_id long, text string, source string",
    )
    rows = D.minhash_delta_near_dups(standing, delta, min_matching=6).collect()
    pairs = [(r["src"], r["dst"]) for r in rows]
    assert sorted(pairs) == [(3, 5)], pairs  # once, canonical orientation


# ----------------- r12 review-fix guards (loud contracts) -----------------

def test_char_shingles_rejects_overflowing_n(spark):
    """n >= 8 overflows the base-256 int64 polynomial (silent numpy wrap
    vs ARITHMETIC_OVERFLOW in an ANSI SQL mirror) — reject loudly."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.dedup import char_shingles

    df = spark.createDataFrame([(1, "abcdefghij")], "doc_id long, text string")
    with pytest.raises(ValueError, match="1 <= n <= 7"):
        char_shingles(df, n=8)
    assert char_shingles(df, n=7).count() == 4  # 10 - 7 + 1


def test_exact_dup_groups_excludes_null_text(spark):
    """Two NULL-text rows share md5(NULL)=NULL — they must NOT be
    reported as a byte-identical duplicate group."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.dedup import exact_dup_groups

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "same"), (4, "same")],
        "doc_id long, text string",
    )
    got = exact_dup_groups(df).collect()
    assert len(got) == 1 and got[0]["min_doc_id"] == 3


def test_lsh_pairs_validates_bands_and_handles_empty_input(spark):
    from advanced_technologies_of_china_graph_database_construction_spark.operators.er import lsh_similarity_pairs

    emb = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="must divide"):
        lsh_similarity_pairs(emb, 0.9, id_col="vec_id", vec_col="embedding",
                             n_planes=32, bands=7)
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = lsh_similarity_pairs(empty, 0.9, id_col="vec_id", vec_col="embedding")
    assert out.count() == 0 and set(out.columns) == {"src", "dst", "sim"}


def test_connected_components_raises_on_iteration_exhaustion(spark):
    """The star extraction is only meaningful on a converged star
    forest — exhausting max_iter must raise (the SCC backstop rule),
    never return plausible-looking wrong labels."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.connected_components import (
        connected_components,
    )

    chain = spark.createDataFrame([(i, i + 1) for i in range(40)], "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=1, driver_threshold=0)
    # and a sane budget converges fine on the same graph
    got = connected_components(chain, driver_threshold=0)
    assert got.filter("component != 0").count() == 0


def test_arrow_cosine_handles_ragged_and_mixed_width_batches(spark):
    """r12 review fix: a single length-mismatched pair crashed the
    whole Arrow batch; it must yield NULL exactly like the JVM twin
    (zip_with null-pads, the fold goes NULL), and same-width pairs in
    the same batch must still score."""
    from advanced_technologies_of_china_graph_database_construction_spark.functions.vectors import (
        arrow_cosine_rounded,
    )

    rows = [
        ([1.0, 0.0], [1.0, 0.0]),          # 1.0
        ([1.0, 0.0, 0.0], [1.0, 0.0]),     # ragged -> NULL
        ([0.0, 2.0, 0.0], [0.0, 1.0, 0.0]),# width-3 pair -> 1.0
        (None, [1.0, 0.0]),                # NULL -> NULL
    ]
    df = spark.createDataFrame(rows, "a array<double>, b array<double>")
    got = [r["sim"] for r in df.select(arrow_cosine_rounded(F.col("a"), F.col("b")).alias("sim")).collect()]
    assert got == [1.0, None, 1.0, None]


def test_d49_cluster_split_is_leakage_free_and_matches_replay(spark):
    """d49 replayed in pure python from the collected corpus: union-find
    clusters over the gated minhash pairs, KNUTH-hash split on the
    cluster id, per-split accounting — plus the structural leakage
    property the face exists for: every near-dup cluster lands whole in
    one split, so cross-split pairs are 0."""
    from collections import defaultdict

    from advanced_technologies_of_china_graph_database_construction_spark.plans.docs_queries import (
        SPLIT_MOD,
        VAL_BUCKETS,
        _corpus,
        d49_cluster_aware_split,
    )

    sf = "/root/testdata/sf0.01"
    corpus = _corpus(spark, sf)
    docs = {
        r["doc_id"]: (r["source"], r["n_chars"])
        for r in corpus.select("doc_id", "source", "n_chars").collect()
    }
    pairs = [
        (r["src"], r["dst"]) for r in minhash_near_dups(corpus).collect()
    ]
    parent = {d: d for d in docs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical = min doc id of the component (the operator's contract)
    cluster = {d: find(d) for d in docs}
    split = {
        d: "val" if (cluster[d] * D.KNUTH) % SPLIT_MOD < VAL_BUCKETS else "train"
        for d in docs
    }
    # leakage property: both endpoints of every near-dup pair share a split
    assert all(split[a] == split[b] for a, b in pairs)
    expect: dict = defaultdict(lambda: [0, set(), 0])
    for d, (src, nch) in docs.items():
        e = expect[split[d]]
        e[0] += 1
        e[1].add(cluster[d])
        e[2] += nch
    rows = d49_cluster_aware_split(spark, sf).collect()
    got = {
        r["split"]: (r["n_docs"], r["n_clusters"], r["total_chars"], r["n_cross_split_pairs"])
        for r in rows
    }
    assert got == {
        s: (e[0], len(e[1]), e[2], 0) for s, e in expect.items()
    }


# ----------------------------------- d50 token-budget prefix ---------------

@given(
    st.lists(
        st.tuples(st.integers(0, 400), st.integers(0, 50)),  # (score_raw, toks)
        min_size=0,
        max_size=60,
    ),
    st.integers(1, 9),
    st.integers(0, 3),
)
@SETTINGS
def test_token_budget_prefix_matches_python_replay(spark, rows, n_buckets, div_exp):
    """token_budget_prefix replayed in pure python: sort by
    (score desc, doc_id), cumsum, cut at the budget — for arbitrary
    score ties (small integer scores collide constantly), any bucket
    count (1 disables the decomposition entirely, so 1 vs k IS the
    bucketing-invariance property), and budgets from 0 (selects
    nothing) to ≥ total (selects everything)."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.selection import (
        token_budget_prefix,
    )

    data = [(i, float(s) / 7.0, t) for i, (s, t) in enumerate(rows)]
    total = sum(t for _, _, t in data)
    budget = (total * div_exp) // 3  # 0, total/3, 2/3, ≥ total
    ordered = sorted(data, key=lambda r: (-r[1], r[0]))
    want, cum = {}, 0
    for i, s, t in ordered:
        if cum + t > budget:
            break
        cum += t
        want[i] = cum
    df = spark.createDataFrame(data, "doc_id long, score double, n_tokens long")
    bdf = spark.createDataFrame([(budget,)], "budget long")
    got = {
        r["doc_id"]: r["cum"]
        for r in token_budget_prefix(df, bdf, n_buckets=n_buckets).collect()
    }
    assert got == want


def test_token_budget_prefix_null_scores_and_single_bucket(spark):
    """The two structural edges the hypothesis replay caught or nearly
    caught: n_buckets=1 makes percentile_approx's fraction list EMPTY
    and its result NULL (not []) — every row must still survive the
    bucket join; and NULL scores must sort globally LAST (they land in
    the last bucket explicitly — F.filter drops their NULL comparisons,
    which would otherwise claim bucket 0, the best)."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.selection import (
        token_budget_prefix,
    )

    # falsifying example from the hypothesis run: 1 doc, 0 tokens, budget 0
    df = spark.createDataFrame([(0, 0.0, 0)], "doc_id long, score double, n_tokens long")
    bdf = spark.createDataFrame([(0,)], "budget long")
    assert [
        (r["doc_id"], r["cum"])
        for r in token_budget_prefix(df, bdf, n_buckets=1).collect()
    ] == [(0, 0)]

    # NULL scores: selected only after every scored doc, at any bucket count
    rows = [(1, 0.9, 10), (2, None, 10), (3, 0.1, 10), (4, None, 10)]
    df2 = spark.createDataFrame(rows, "doc_id long, score double, n_tokens long")
    for budget, keep in [(20, {1: 10, 3: 20}), (30, {1: 10, 3: 20, 2: 30}),
                         (40, {1: 10, 3: 20, 2: 30, 4: 40})]:
        b2 = spark.createDataFrame([(budget,)], "budget long")
        for k in (1, 3, 8):
            got = {
                r["doc_id"]: r["cum"]
                for r in token_budget_prefix(df2, b2, n_buckets=k).collect()
            }
            assert got == keep, (budget, k, got)


# --------------------------------------- a13 IVF recall --------------------

def test_ivf_recall_matches_numpy_replay(spark):
    """a13's integer rank statistics replayed in numpy from scratch
    (assign-to-nearest-of-first-8, probe 2, 6dp-rounded cosine, ties by
    id) on a seeded random embedding set — and the set is checked to
    actually exercise the face: at least one query must MISS a true
    neighbor (n_overlap < n_exact), else the contract degenerates to
    5=5=5 and measures nothing."""
    import numpy as np

    from advanced_technologies_of_china_graph_database_construction_spark.operators.kmeans import (
        seed_centroids,
    )
    from advanced_technologies_of_china_graph_database_construction_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    rng = np.random.RandomState(77)
    n, dim, k, ncent, nprobe = 60, 8, 5, 8, 2
    vecs = rng.randn(n, dim)
    query_ids = [0, 1, 2, 3, 4]
    mn = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    raw = mn @ mn.T
    # half-away-from-zero at 6dp, matching F.round (np.round is banker's)
    scaled = raw * 1e6
    sims = np.where(scaled >= 0, np.floor(scaled + 0.5), np.ceil(scaled - 0.5)) / 1e6

    def topk(q, cand_ids):
        ranked = sorted(
            ((float(sims[q, c]), c) for c in cand_ids if c != q),
            key=lambda p: (-p[0], p[1]),
        )
        return [c for _, c in ranked[:k]]

    # every vector (centroid rows included) assigns by cosine to the
    # centroid ROWS, self-comparison included — kmeans.assign_to_centroids
    assign = {
        v: min(range(ncent), key=lambda c: (-float(sims[v, c]), c)) for v in range(n)
    }
    expect = {}
    missed = False
    for q in query_ids:
        probes = sorted(range(ncent), key=lambda c: (-float(sims[q, c]), c))[:nprobe]
        cands = [v for v in range(n) if assign[v] in probes]
        bt, it = topk(q, range(n)), topk(q, cands)
        overlap = len(set(bt) & set(it))
        expect[q] = (len(bt), len(it), overlap)
        missed = missed or overlap < len(bt)
    assert missed, "fixture degenerate: every query had perfect recall"

    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    brute = brute_force_topk(df, query_ids, k=k).select("query_id", "neighbor_id")
    ivf = ivf_topk(df, query_ids, seed_centroids(df, ncent), k=k, nprobe=nprobe).select(
        "query_id", "neighbor_id"
    )
    b_rows, i_rows = brute.collect(), ivf.collect()
    got = {}
    for q in query_ids:
        bs = {r["neighbor_id"] for r in b_rows if r["query_id"] == q}
        is_ = {r["neighbor_id"] for r in i_rows if r["query_id"] == q}
        got[q] = (len(bs), len(is_), len(bs & is_))
    assert got == expect
