"""M1 encoder operator: Spark-side plumbing with the deterministic fake
(real Arrow seam, schema, batching, NULL channel), the end-to-end
encode → ER pipeline, and a conditional live-model test that skips
where sentence-transformers is absent (this container)."""

from __future__ import annotations

import numpy as np
import pytest

from advanced_technologies_of_china_graph_database_construction_spark.operators.encoder import (
    FakeEncoder,
    SentenceTransformerEncoder,
    _get_encoder,
    encode_texts,
)

SF = "/root/testdata/sf0.001"


def test_fake_encoder_deterministic_unit_norm_similarity_structure():
    enc = FakeEncoder(dim=64).make()
    texts = ["distributed query engine", "distributed query engines", "xyzzy!!"]
    a, b = enc(texts), enc(texts)
    assert np.array_equal(a, b)  # deterministic
    norms = np.linalg.norm(a, axis=1)
    assert np.allclose(norms, 1.0)  # unit vectors
    cos = a @ a.T
    # near-identical texts are close; unrelated text is far from both
    assert cos[0, 1] > 0.9
    assert cos[0, 2] < 0.5


def test_encode_texts_plumbing_matches_driver_side(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma!"), (3, None), (4, "")],
        "doc_id long, text string",
    )
    out = encode_texts(df, encoder=FakeEncoder(dim=32), batch_size=2)
    assert [f.name for f in out.schema.fields] == ["doc_id", "embedding"]
    rows = {r.doc_id: r.embedding for r in out.collect()}
    assert len(rows) == 4
    assert rows[3] is None  # NULL text -> NULL embedding
    enc = FakeEncoder(dim=32).make()
    want = enc(["alpha beta gamma", "alpha beta gamma!", ""])
    assert np.allclose(np.array(rows[1]), want[0])
    assert np.allclose(np.array(rows[2]), want[1])
    assert np.allclose(np.array(rows[4]), want[2])  # empty text -> zero vector


def test_encoder_process_cache_loads_once():
    calls = []

    class CountingFactory:
        cache_key = "counting:test"

        def make(self):
            calls.append(1)
            return FakeEncoder(dim=8).make()

    f = CountingFactory()
    e1 = _get_encoder(f)
    e2 = _get_encoder(f)
    assert e1 is e2 and calls == [1]  # model-per-process, not per call


def test_encode_feeds_er_pipeline_end_to_end(spark):
    """The live-path shape: documents → encode → exact ε-ball join →
    canonical mapping.  Near-duplicate texts must land in one component
    with the min doc_id as canonical."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.er import (
        canonical_mapping,
        exact_similarity_pairs,
    )

    docs = spark.createDataFrame(
        [
            (10, "large scale graph database construction"),
            (11, "large scale graph database construction!"),
            (12, "large scale graph database constructions"),
            (20, "quantum error correction codes"),
            (21, "quantum error correction code"),
            (30, "completely unrelated pottery techniques"),
        ],
        "doc_id long, text string",
    )
    emb = encode_texts(docs, encoder=FakeEncoder(dim=128)).filter(
        "embedding is not null"
    )
    mapping = {
        r.id: r.canonical
        for r in canonical_mapping(
            emb, exact_similarity_pairs(emb, 0.8, id_col="doc_id"), id_col="doc_id"
        ).collect()
    }
    assert mapping[10] == 10 and mapping[11] == 10 and mapping[12] == 10
    assert mapping[20] == 20 and mapping[21] == 20
    assert mapping[30] == 30  # noise maps to itself


def test_live_model_encoder_requires_library():
    """Where sentence-transformers is missing the factory must raise the
    documented NotImplementedError; where it exists, encode for real."""
    try:
        import sentence_transformers  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError, match="sentence-transformers"):
            SentenceTransformerEncoder().make()
        pytest.skip("sentence-transformers not installed — live encode skipped")
    enc = SentenceTransformerEncoder().make()  # pragma: no cover — cluster only
    vecs = enc(["图数据库", "graph database"])
    assert vecs.shape[0] == 2 and vecs.shape[1] > 0
