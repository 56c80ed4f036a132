"""M1: the sentence-embedding encoder operator — the live path of the
ER pipeline's first stage.

The reference loads ``shibing624/text2vec-base-chinese`` once at module
import and batch-encodes every unique surface form with ``batch_size=64``
(`keyword_merger.py:8,183`).  Spark-first re-expression: encoding is a
narrow Arrow-batched map (``mapInPandas``) — no shuffle, model loaded
ONCE PER EXECUTOR PROCESS (not per task, not per batch) through a
process-level cache, texts fed to the model in ``batch_size`` slices
inside each Arrow batch.

Like the multimodal decode seam (`multimodal/media.py`), the heavy
dependency is import-guarded: ``SentenceTransformerEncoder`` raises the
documented ``NotImplementedError`` when sentence-transformers is absent
(this container ships no model), and ``FakeEncoder`` — a deterministic
character-trigram hashing encoder — exercises the identical plumbing in
tests and keeps near-dup texts genuinely close in cosine, so the
encode → similarity-join → components pipeline is testable end-to-end.
The driver-gated ER specs stay on the fixture ``embeddings`` table (the
oracle path); swapping in the live model changes one constructor.

Scale notes: at 100 TB the encode stage is compute-bound and perfectly
data-parallel — throughput scales with executors; the process cache
amortizes the multi-second model load across every task an executor
runs; ``batch_size`` bounds peak activation memory per worker.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

# Encoder: batch of texts -> (len(texts), dim) float array.
Encoder = Callable[[list[str]], np.ndarray]

# Per-process encoder cache — survives across tasks while the Python
# worker is reused (spark.python.worker.reuse, on by default), which is
# what makes "model per executor" real instead of "model per task".
_ENCODERS: dict[str, Encoder] = {}


class FakeEncoder:
    """Deterministic dependency-free encoder: character trigrams hashed
    into ``dim`` buckets, L2-normalized.  Unlike a random projection it
    preserves the property the ER pipeline actually relies on — texts
    sharing most trigrams land near each other in cosine — so plumbing
    tests exercise realistic similarity structure with exact
    reproducibility (same integer arithmetic as the shingle kernels)."""

    def __init__(self, dim: int = 64) -> None:
        self.dim = dim

    @property
    def cache_key(self) -> str:
        return f"fake:{self.dim}"

    def make(self) -> Encoder:
        dim = self.dim

        def encode(texts: list[str]) -> np.ndarray:
            out = np.zeros((len(texts), dim), dtype=np.float64)
            for i, t in enumerate(texts):
                if t is None:
                    continue
                cp = np.frombuffer(str(t).encode("utf-32-le"), dtype=np.uint32).astype(
                    np.int64
                )
                if len(cp) >= 3:
                    buckets = (cp[:-2] * 65536 + cp[1:-1] * 256 + cp[2:]) % dim
                elif len(cp) > 0:
                    buckets = cp % dim
                else:
                    continue
                np.add.at(out[i], buckets, 1.0)
                norm = np.linalg.norm(out[i])
                if norm > 0:
                    out[i] /= norm
            return out

        return encode


class SentenceTransformerEncoder:
    """The reference's model, behind the import guard: loads
    ``shibing624/text2vec-base-chinese`` (`keyword_merger.py:8`) in the
    executor process on first use and encodes with ``batch_size=64``
    (`:183`).  Raises ``NotImplementedError`` where the library/model is
    unavailable — the conditional test skips there; on a cluster with
    sentence-transformers installed this runs as-is."""

    def __init__(
        self,
        model_name: str = "shibing624/text2vec-base-chinese",
        batch_size: int = 64,
    ) -> None:
        self.model_name = model_name
        self.batch_size = batch_size

    @property
    def cache_key(self) -> str:
        return f"st:{self.model_name}:{self.batch_size}"

    def make(self) -> Encoder:
        try:
            from sentence_transformers import SentenceTransformer
        except ImportError as exc:  # pragma: no cover — exercised only sans lib
            raise NotImplementedError(
                "live sentence encoding requires sentence-transformers; install "
                "it on the cluster or use FakeEncoder for plumbing tests"
            ) from exc
        model = SentenceTransformer(self.model_name)
        batch = self.batch_size

        def encode(texts: list[str]) -> np.ndarray:
            return np.asarray(
                model.encode(
                    ["" if t is None else str(t) for t in texts],
                    batch_size=batch,
                    show_progress_bar=False,
                )
            ).astype(np.float64)

        return encode


def _get_encoder(factory) -> Encoder:
    enc = _ENCODERS.get(factory.cache_key)
    if enc is None:
        enc = factory.make()
        _ENCODERS[factory.cache_key] = enc
    return enc


def encode_texts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    encoder=None,
    out_col: str = "embedding",
    batch_size: int = 64,
) -> DataFrame:
    """(id_col, out_col): embed a text column through the per-executor
    cached encoder.  Narrow Arrow-batched map — zero shuffle; each Arrow
    batch is fed to the model in ``batch_size`` slices so activation
    memory stays bounded whatever the Arrow batch size conf says.  NULL
    texts yield NULL embeddings (no fake vector enters the similarity
    join).  The output feeds ``er.exact_similarity_pairs`` or
    ``er.lsh_similarity_pairs`` directly (``id_col`` matching their
    ``vec_id``), whose pairs go to ``er.canonical_mapping``."""
    factory = encoder if encoder is not None else SentenceTransformerEncoder()
    id_field = df.schema[id_col]
    schema = StructType(
        [
            StructField(id_field.name, id_field.dataType),
            StructField(out_col, ArrayType(DoubleType())),
        ]
    )

    def run(batches):
        enc = None
        for pdf in batches:
            if enc is None:
                enc = _get_encoder(factory)
            texts = pdf[text_col].tolist()
            vecs: list = [None] * len(texts)
            todo = [i for i, t in enumerate(texts) if t is not None]
            for start in range(0, len(todo), batch_size):
                idx = todo[start : start + batch_size]
                mat = enc([texts[i] for i in idx])
                for row, i in enumerate(idx):
                    vecs[i] = mat[row]
            yield pd.DataFrame({id_field.name: pdf[id_col], out_col: vecs})

    return df.select(id_col, text_col).mapInPandas(run, schema)
