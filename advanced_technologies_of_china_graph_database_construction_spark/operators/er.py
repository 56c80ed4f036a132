"""Entity resolution: similarity self-join → connected components →
canonical mapping → mapping application.

Mirrors the reference's keyword-merging pipeline (SURVEY.md §2.9):
embed unique surface forms (`keyword_merger.py:183`), cluster with
cosine DBSCAN min_samples=2 (`:186-201`), canonical = min of cluster
(`:222`), identity for noise (`:231-232`), then apply the mapping to
records via broadcast join (`:249-265`).

Spark-first decomposition:
- the ε-ball cosine graph is a **similarity self-join**;
- DBSCAN(min_samples=2) closure is **connected components** of that
  graph (operators/connected_components.py);
- mapping application is a **broadcast left join + coalesce** (J1).

Two similarity joins, each called directly by the specs that use it
and feeding ``canonical_mapping`` the same (src, dst, sim) frame:
- ``exact_similarity_pairs``: blocked GEMM join (optionally confined to
  a partition column), fine to a few 10⁵ vectors per attribute (the
  reference's real scale is 88k keywords) — and the correctness oracle
  for the approximate path.
- ``lsh_similarity_pairs``: random-hyperplane (sign) LSH — signatures
  via an Arrow-batched pandas UDF, candidates from banded signature
  equality, then Arrow-batched exact cosine on candidates only.  Its
  docstring records the measured crossover: banding only prunes in the
  near-dup regime.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.vectors import arrow_cosine_rounded, as_double
from .connected_components import connected_components, incremental_components
from .superstep import settle

# Broadcast cap of the name lookups: the symdelete verify join and the
# refresh's standing-name anti-join.  An (id, name) row is a long plus a
# short surface string (~40 B), so 5M rows ≈ 200 MB.  Past the cap the
# hint drops and Catalyst plans shuffled joins.
BROADCAST_MAX_ROWS = 5_000_000


def _round_half_up(x: np.ndarray, digits: int = 6) -> np.ndarray:
    """HALF_UP rounding (away from zero at the .5 boundary) — the same
    rule as Spark's `F.round` and DuckDB's `round`, so every path (exact
    kernel, LSH re-score, SQL oracle) makes identical boundary decisions.
    `np.round` is HALF_EVEN and can disagree at an exact 1e-6 midpoint.
    """
    scaled = x * (10.0 ** digits)
    return np.where(scaled >= 0, np.floor(scaled + 0.5), np.ceil(scaled - 0.5)) / (
        10.0 ** digits
    )


def replicate_block_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_rows: int = 4096,
    n_rows: int | None = None,
    partition_by: str | None = None,
) -> tuple[DataFrame, list[str]]:
    """(replicated, part_keys): the shared fan-out stage under every
    blocked-GEMM operator (threshold pair generation here, the kNN
    graph in ``operators/similarity.py``).

    Rows are hashed into B = ⌈n / block_rows⌉ blocks and each row is
    replicated to the B unordered block pairs (bi ≤ bj) it participates
    in; downstream kernels run one task per ``groupBy(*part_keys, "bi",
    "bj")`` group with both blocks in memory.  The shuffle carries n·B
    vector copies (not n² pairs) and per-task memory is bounded by
    2·block_rows·d doubles.  Output columns: ``part_keys + [id, v, blk,
    bi, bj]`` with ``id`` cast long and ``v`` cast array<double>.

    ``partition_by`` confines pair generation to rows sharing that
    column's value (block counts derived per partition from a
    distributed size aggregate, null-safe so NULL partitions form their
    own group); ``n_rows`` (e.g. parquet footer metadata) skips the
    count job that otherwise sizes the global block grid.
    """
    cols = [F.col(id_col).cast("long").alias("id"), as_double(F.col(vec_col)).alias("v")]
    if partition_by is not None:
        cols.append(F.col(partition_by).alias("part"))
    src = emb.select(*cols)
    if partition_by is None:
        n = n_rows if n_rows is not None else src.count()
        src = src.withColumn("nb", F.lit(max(1, -(-n // block_rows))))
        part_keys: list[str] = []
    else:
        # Null-safe size join: groupBy already treats NULL as its own
        # group, and eqNullSafe keeps those rows in the pair computation
        # (a plain inner join on "part" would silently drop every
        # NULL-partition row instead of comparing them to each other).
        sizes = src.groupBy("part").agg(F.count(F.lit(1)).alias("__n"))
        src = (
            src.join(
                sizes.withColumnRenamed("part", "__szpart"),
                F.col("part").eqNullSafe(F.col("__szpart")),
            )
            .drop("__szpart")
            .withColumn(
                "nb", F.greatest(F.lit(1), F.ceil(F.col("__n") / block_rows)).cast("int")
            )
        )
        part_keys = ["part"]
    src = src.withColumn("blk", F.pmod(F.xxhash64("id"), F.col("nb")).cast("int"))
    ks = F.sequence(F.lit(0), F.col("nb") - 1)
    bp = F.transform(
        ks,
        lambda k: F.struct(
            F.least(F.col("blk"), k).alias("bi"), F.greatest(F.col("blk"), k).alias("bj")
        ),
    )
    replicated = src.select(*part_keys, "id", "v", "blk", F.explode(bp).alias("bp")).select(
        *part_keys, "id", "v", "blk", F.col("bp.bi").alias("bi"), F.col("bp.bj").alias("bj")
    )
    return replicated, part_keys


def exact_similarity_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_rows: int = 4096,
    n_rows: int | None = None,
    partition_by: str | None = None,
) -> DataFrame:
    """All pairs (src < dst, sim) with cosine similarity ≥ threshold.

    Distributed block-pair GEMM — no driver-side materialization: rows
    are hashed into B = ⌈n / block_rows⌉ blocks; each row is replicated
    to the B unordered block-pairs it participates in; one
    `applyInPandas` task per (bi, bj) computes its cosine block as a
    single BLAS matmul and emits only pairs at/above the threshold.
    The O(n²) arithmetic stays in vectorized native code, the shuffle
    carries n·B vector copies (not n² pairs), and per-task memory is
    bounded by 2·block_rows·d doubles regardless of corpus size.

    ``partition_by`` names a column of ``emb``: pairs are then computed
    WITHIN each partition value only (the SemDeDup shape — quadratic
    work confined to each k-means cluster).  Block counts are derived
    per partition from a distributed size aggregate (no driver scalar),
    so a pathological giant partition is sub-blocked by exactly the
    same replication instead of landing on one task.

    This is the exact path; its cost is inherently quadratic in the
    (partition) row count. For near-dup thresholds over vocabularies
    beyond a few 10⁵ vectors per partition use `lsh_similarity_pairs`,
    whose candidate generation is collision-proportional (see its
    measured crossover note).

    The comparison uses cosine rounded HALF_UP to 6 digits so the
    decision at the threshold boundary is reproducible across engines.
    """
    replicated, part_keys = replicate_block_pairs(
        emb, id_col, vec_col, block_rows, n_rows, partition_by
    )

    out_schema = T.StructType(
        [
            T.StructField("src", T.LongType()),
            T.StructField("dst", T.LongType()),
            T.StructField("sim", T.DoubleType()),
        ]
    )

    def gemm_block_pair(key, pdf):
        bi, bj = int(key[-2]), int(key[-1])  # (part?, bi, bj)
        a = pdf[pdf["blk"] == bi]
        if a.empty:
            return pd.DataFrame({"src": [], "dst": [], "sim": []}).astype(
                {"src": np.int64, "dst": np.int64, "sim": np.float64}
            )
        ids_a = a["id"].to_numpy(dtype=np.int64)
        ma = np.stack(a["v"].to_numpy()).astype(np.float64)
        ma /= np.linalg.norm(ma, axis=1, keepdims=True)
        if bi == bj:
            sims = _round_half_up(ma @ ma.T)
            keep = (sims >= threshold) & (ids_a[:, None] < ids_a[None, :])
            ii, jj = np.nonzero(keep)
            return pd.DataFrame(
                {"src": ids_a[ii], "dst": ids_a[jj], "sim": sims[ii, jj]}
            )
        b = pdf[pdf["blk"] == bj]
        if b.empty:
            return pd.DataFrame({"src": [], "dst": [], "sim": []}).astype(
                {"src": np.int64, "dst": np.int64, "sim": np.float64}
            )
        ids_b = b["id"].to_numpy(dtype=np.int64)
        mb = np.stack(b["v"].to_numpy()).astype(np.float64)
        mb /= np.linalg.norm(mb, axis=1, keepdims=True)
        sims = _round_half_up(ma @ mb.T)
        keep = sims >= threshold
        ii, jj = np.nonzero(keep)
        ia, ib = ids_a[ii], ids_b[jj]
        return pd.DataFrame(
            {"src": np.minimum(ia, ib), "dst": np.maximum(ia, ib), "sim": sims[ii, jj]}
        )

    return replicated.groupBy(*part_keys, "bi", "bj").applyInPandas(
        gemm_block_pair, out_schema
    )


def lsh_similarity_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Approximate ε-ball cosine self-join via sign-LSH banding.

    Recall is tunable with (n_planes, bands); precision is exact because
    candidates are re-scored with the true cosine. Deterministic: the
    hyperplane seed is fixed.  A one-row probe job at plan-build time
    reads the embedding width that sizes the hyperplanes.

    Exact-vs-LSH crossover, measured on the sf0.1 embeddings: banding
    prunes only in the near-dup regime.  At threshold 0.44 the per-plane
    agreement p = 1 − arccos(0.44)/π ≈ 0.645 is too close to the bulk's
    0.5: (planes=32, b=16) passes 98.7 % of all pairs as candidates for
    100 % recall, (128, 32) 85.6 % for 99.5 %, and (128, 16) prunes to
    7 % only by dropping recall to 46 %.  That ~n² candidate shuffle
    loses to the GEMM's n·B vector replication at any scale, so the ER
    specs at 0.44 call `exact_similarity_pairs` (er07 keeps this join
    gated end to end).  At 0.9 (p ≈ 0.856), r=12/b=45 keeps recall
    ≥ 99.9 % while passing ~1 % of random pairs.
    """
    if bands < 1 or n_planes % bands != 0:
        # the reshape in band_keys would otherwise raise an opaque
        # ValueError inside an executor mid-job — and silently ignore
        # the leftover hyperplanes the caller paid for
        raise ValueError(
            f"lsh_similarity_pairs: bands={bands} must divide n_planes={n_planes}"
        )
    rows_per_band = n_planes // bands
    spark = emb.sparkSession
    probe = emb.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
    if probe is None:
        # empty (or all-NULL-vector) input: no pairs, same typed
        # frame the non-empty path returns — src/dst keep the ACTUAL
        # id column type (string ids previously got `long` here and
        # a different schema than the non-empty path; r12 ADVICE)
        id_type = emb.schema[id_col].dataType
        return spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("src", id_type),
                    T.StructField("dst", id_type),
                    T.StructField("sim", T.DoubleType()),
                ]
            ),
        )
    planes = np.random.RandomState(7).randn(n_planes, len(probe[0]))
    bc = spark.sparkContext.broadcast(planes)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def band_keys(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy())  # (batch, dim)
        bits = (mat @ bc.value.T) >= 0  # (batch, n_planes)
        # Pack each band's bit-chunk into an int, fully vectorized:
        # (batch, bands, rows_per_band) · (2^{r-1} … 2^0) → (batch, bands),
        # then tag the band index into the high bits of the key space.
        chunks = bits.reshape(len(mat), bands, rows_per_band).astype(np.int64)
        weights = 1 << np.arange(rows_per_band - 1, -1, -1, dtype=np.int64)
        keys = chunks @ weights  # (batch, bands)
        keys |= np.arange(bands, dtype=np.int64) << 48
        return pd.Series(list(keys))

    # Candidate generation shuffles only (id, band_key) — vectors join
    # back in AFTER the distinct, so the bands× blow-up and the dedup
    # shuffle never carry the embedding payload.
    exploded = emb.select(
        F.col(id_col).alias("id"), F.explode(band_keys(F.col(vec_col))).alias("band_key")
    )
    left = exploded.select(F.col("id").alias("src"), "band_key")
    right = exploded.select(F.col("id").alias("dst"), "band_key")
    cands = (
        left.join(right, ["band_key"])
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    va = emb.select(F.col(id_col).alias("src"), F.col(vec_col).alias("va"))
    vb = emb.select(F.col(id_col).alias("dst"), F.col(vec_col).alias("vb"))
    scored = cands.join(va, "src").join(vb, "dst")

    # Re-score candidates in Arrow batches (vectorized einsum), not a
    # per-pair interpreted array expression: with c candidates the HOF
    # cosine costs c interpreted O(d) folds — measured 6× slower than
    # the shared kernel on the sf0.1 fixture, which is one BLAS-shaped
    # pass per Arrow batch with the oracle's exact arithmetic.
    return (
        scored.select(
            "src", "dst", arrow_cosine_rounded(F.col("va"), F.col("vb")).alias("sim")
        )
        .filter(F.col("sim") >= threshold)
    )


def canonical_mapping(emb: DataFrame, pairs: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """(id, canonical): min-id of the similarity component; noise → self.

    Matches `keyword_merger.py:222` (min representative) + `:231-232`
    (noise identity).  ``pairs`` is the (src, dst) output of either
    similarity join — `lsh_similarity_pairs` runs the whole ER pipeline
    without any quadratic stage.
    """
    comp = connected_components(pairs.select("src", "dst"))
    ids = emb.select(F.col(id_col).alias("id")).distinct()
    return ids.join(comp, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("canonical")
    )


def apply_mapping(df: DataFrame, mapping: DataFrame, col: str, out_col: str | None = None) -> DataFrame:
    """Replace surface values by canonical via broadcast left join (J1:
    `mapping.get(item, item)` semantics, `keyword_merger.py:249-265`)."""
    out_col = out_col or col
    m = mapping.select(F.col("id").alias("__surface"), F.col("canonical").alias("__canonical"))
    return (
        df.join(F.broadcast(m), df[col] == F.col("__surface"), "left")
        .withColumn(out_col, F.coalesce("__canonical", F.col(col)))
        .drop("__surface", "__canonical")
    )


def apply_mapping_array(
    df: DataFrame,
    mapping: DataFrame,
    col: str,
    id_cols: tuple[str, ...],
    out_col: str | None = None,
) -> DataFrame:
    """J1, array case: rewrite every element of an ``array`` column
    through the canonical map, then first-occurrence-order dedup — the
    reference's list branch (`keyword_merger.py:249-265`, order-
    preserving `dict.fromkeys` dedup at `:261-263`).

    Plan: posexplode (keeps element order as data) → broadcast left join
    on the mapping → rebuild per row: sort by position, project the
    mapped value, `array_distinct` (which keeps first occurrences).
    Rows whose array is empty or null come back with an empty array.
    Returns ``id_cols`` + the rewritten array column — one explode and
    one grouping shuffle on the row key, both linear in element count.
    """
    out_col = out_col or col
    ids = [F.col(c) for c in id_cols]
    ex = df.select(*ids, F.posexplode_outer(col).alias("__pos", "__val"))
    m = mapping.select(F.col("id").alias("__surface"), F.col("canonical").alias("__canonical"))
    mapped = ex.join(F.broadcast(m), ex["__val"] == F.col("__surface"), "left").select(
        *ids, "__pos", F.coalesce("__canonical", F.col("__val")).alias("__mapped")
    )
    rebuilt = (
        mapped.groupBy(*ids)
        .agg(
            F.array_distinct(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__pos").isNotNull(),
                                F.struct(F.col("__pos"), F.col("__mapped")),
                            )
                        )
                    ),
                    lambda s: s["__mapped"],
                )
            ).alias(out_col)
        )
    )
    return rebuilt


# --- typo-alias detection (SymSpell deletion-neighborhood blocking) -------

def _deletion_variants(names: DataFrame) -> DataFrame:
    """(id, variant): each name emits itself plus every single-character
    deletion — the SymSpell d=1 blocking neighborhood shared by the full
    (:func:`symdelete_typo_pairs`) and delta (:func:`symdelete_delta_pairs`)
    paths.  Narrow (one explode, no shuffle); variant i=0 is the string
    itself, i=1..len deletes char i."""
    return names.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.length("name")),
                lambda i: F.when(i == F.lit(0), F.col("name")).otherwise(
                    F.concat(
                        F.substr(F.col("name"), F.lit(1), i - F.lit(1)),
                        F.substr(F.col("name"), i + F.lit(1), F.length("name")),
                    )
                ),
            )
        ).alias("variant"),
    )


def symdelete_typo_pairs(
    df: DataFrame,
    id_col: str = "id",
    name_col: str = "name",
    n_rows: int | None = None,
) -> DataFrame:
    """(src, dst, distance): id pairs (src < dst) whose names are within
    Levenshtein distance 1 — the string-side alias detector the
    reference's embedding ER doesn't cover (a surface form typo embeds
    far from its intent; `keyword_merger.py:186-201` clusters meaning,
    this clusters spelling).

    Blocking is SymSpell's deletion neighborhood: every name emits
    itself plus each single-character deletion; two strings within
    edit distance 1 ALWAYS share a variant (substitution → common
    deletion at the edit position; insertion/deletion → one string IS
    the other's deletion; equality → the strings themselves), so the
    candidate equi-join on the variant key is exact — no missed pairs,
    and the verify step (JVM `levenshtein`, codegen) removes the
    false positives the blocking admits (e.g. two distinct deletions
    landing on one variant).  Only distance 1 is implemented —
    deeper neighborhoods grow as |s|^d and a 100 TB name table wants
    d=1 blocking with a wider verify radius instead.

    Scale shape: the variant explode is |name|+1 rows per entity keyed
    by xxhash64(variant) (8 B shuffle key); candidates are
    variant-collisions only, never the n² name matrix; the name lookup
    for verification broadcasts ``df``'s (id, name) projection while it
    fits ``BROADCAST_MAX_ROWS`` (a forced broadcast of a larger name dim
    would OOM executors); levenshtein runs map-side either way.  ``n_rows`` (parquet footer metadata / catalog stats —
    the er02 pattern) sizes that hint without an extra full-table
    count action; only when absent does the operator fall back to one
    ``df.count()``.
    """
    names = df.select(F.col(id_col).alias("id"), F.col(name_col).alias("name"))
    variants = _deletion_variants(names)
    a = variants.select(F.col("id").alias("src"), F.xxhash64("variant").alias("vh"))
    b = variants.select(F.col("id").alias("dst"), F.xxhash64("variant").alias("vh2"))
    # SHUFFLE_HASH on the self-join (r16): both sides are the SAME
    # corpus-scale variant projection, so there is no small side —
    # but its (id, vh) row is 16 B and Catalyst's size estimate lands
    # under the broadcast threshold at bench scale, picking a broadcast
    # that collects millions of variant rows to the driver and builds
    # the whole hash relation on every executor per invocation
    # (measured interleaved at sf0.1, 2.75M variants/side: broadcast
    # 35–56 s vs shuffled-hash 7.5–17.5 s).  At real scale broadcast is
    # impossible and sort-merge would pay two corpus-scale sorts; the
    # shuffled-hash build side is one AQE-sized partition of 16 B rows.
    cands = (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("vh") == F.col("vh2")) & (F.col("src") < F.col("dst")),
        )
        .select("src", "dst")
        .distinct()
    )
    na = names.select(F.col("id").alias("src"), F.col("name").alias("name_a"))
    nb = names.select(F.col("id").alias("dst"), F.col("name").alias("name_b"))
    if (n_rows if n_rows is not None else df.count()) <= BROADCAST_MAX_ROWS:
        na, nb = F.broadcast(na), F.broadcast(nb)
    dist = F.levenshtein("name_a", "name_b")
    return (
        cands.join(na, "src")
        .join(nb, "dst")
        .select("src", "dst", dist.alias("distance"))
        .filter(F.col("distance") <= 1)
    )


def symdelete_delta_pairs(
    standing: DataFrame,
    delta: DataFrame,
    id_col: str = "id",
    name_col: str = "name",
) -> DataFrame:
    """(src, dst, distance): alias pairs TOUCHING at least one surface of
    a delta batch — the O(|delta|)-shuffle refresh face of
    :func:`symdelete_typo_pairs`.  Standing↔standing pairs are excluded
    by construction: they are already folded into the standing component
    mapping, so re-deriving them would be the full rebuild this operator
    exists to avoid (the reference re-crawls and re-clusters the whole
    vocabulary per ingest, `Hype.py:64-86`).

    Candidates = delta-variants ⋈ standing-variants (cross) plus the
    delta's internal d=1 pairs; verification is the same JVM
    ``levenshtein`` the full path uses, so the pair set equals
    "symdelete_typo_pairs(standing ∪ delta) minus its standing-internal
    pairs" exactly (property-tested on random vocabulary splits in
    ``test_er.py::test_incremental_er_refresh_equals_rebuild``).

    Id overlap between the two sides is tolerated: an id present on both
    (the same surface re-delivered) is dropped from the cross candidates
    (``src != dst``) rather than emitted as a distance-0 self-pair, and
    the unioned name lookup is de-duplicated so it cannot fan out the
    verify join.  Callers that ANTI-JOIN re-seen surfaces away first
    (:func:`incremental_er_refresh`) never hit either path.

    Scale shape: the delta side (variants, then the verified pair ids)
    is broadcast — a vocabulary delta batch is ingest-sized, not
    corpus-sized; the standing side is SCANNED narrowly (variant explode
    is map-side) but never shuffled.  In production the standing variant
    index is the persisted table this scan stands in for (bucketed by
    ``xxhash64(variant)``, so the probe prunes to matching buckets); the
    join work is delta-sized either way.
    """
    s_names = standing.select(F.col(id_col).alias("id"), F.col(name_col).alias("name"))
    d_names = delta.select(F.col(id_col).alias("id"), F.col(name_col).alias("name"))
    s_var = _deletion_variants(s_names).select(
        F.col("id").alias("src"), F.xxhash64("variant").alias("vh")
    )
    d_var = _deletion_variants(d_names).select(
        F.col("id").alias("dst"), F.xxhash64("variant").alias("vh")
    )
    cross = (
        s_var.join(F.broadcast(d_var), "vh")
        .filter(F.col("src") != F.col("dst"))  # re-seen id: not a self-pair
        .select("src", "dst")
    )
    dd = (
        d_var.join(
            F.broadcast(d_var.select(F.col("dst").alias("dst2"), "vh")),
            "vh",
        )
        .filter(F.col("dst") < F.col("dst2"))
        .select(F.col("dst").alias("src"), F.col("dst2").alias("dst"))
    )
    # ONE distinct after the union (both branches are broadcast joins, so
    # this is the single shuffle of the candidate step); it also collapses
    # a cross/dd overlap when an id was re-delivered on both sides
    cands = cross.unionByName(dd).distinct()
    # Name lookup for the src side: the union covers standing ∪ delta
    # ids WITHOUT a distinct — deduping the union would shuffle the
    # corpus-sized standing vocabulary every refresh, exactly the
    # O(|standing|) work this operator exists to avoid.  Instead the
    # delta-sized verified-candidate frame is BROADCAST (the docstring
    # contract), the corpus side is scanned map-side, and the only
    # duplicates a re-delivered id can produce (same sid ⇒ same name on
    # the er08/p03 path; exact duplicate rows in general) are collapsed
    # by a distinct at CANDS scale after the join.
    na = s_names.select(F.col("id").alias("src"), F.col("name").alias("name_a")).unionByName(
        d_names.select(F.col("id").alias("src"), F.col("name").alias("name_a"))
    )
    nb = d_names.select(F.col("id").alias("dst"), F.col("name").alias("name_b"))
    return (
        F.broadcast(cands)
        .join(na, "src")
        .distinct()
        .join(F.broadcast(nb), "dst")
        .select("src", "dst", F.levenshtein("name_a", "name_b").alias("distance"))
        .filter(F.col("distance") <= 1)
    )


def build_er_state(names: DataFrame, name_col: str = "name") -> DataFrame:
    """From-scratch (sid, name, component) ER state over a vocabulary —
    the initial build :func:`incremental_er_refresh` then maintains, and
    the rebuild its equality property is stated against.  sid =
    ``xxhash64(name)`` (fully distributed, no global row-number sort);
    component = min-sid of the SymSpell d=1 alias cluster; surfaces with
    no alias are their own component.  NULL names are dropped: a NULL is
    not a surface."""
    # consumed by pairs + join; its row count sizes the verify broadcast
    surfaces, (n_surfaces,) = settle(
        names.select(F.col(name_col).alias("name"))
        .filter(F.col("name").isNotNull())
        .distinct()
        .withColumn("sid", F.xxhash64("name")),
        F.count(F.lit(1)),
    )
    pairs = symdelete_typo_pairs(surfaces, id_col="sid", name_col="name", n_rows=n_surfaces)
    comp = connected_components(pairs.select("src", "dst"))
    return surfaces.join(comp, surfaces.sid == comp.id, "left").select(
        "sid", "name", F.coalesce("component", F.col("sid")).alias("component")
    )


def incremental_er_refresh(
    standing: DataFrame,
    delta_names: DataFrame,
    standing_n_rows: int | None = None,
) -> DataFrame:
    """Fold a delta vocabulary batch into a standing ER state — the
    incremental lifecycle the reference's rebuild-per-ingest flow
    (`Hype.py:64-86`) becomes under Spark: ``standing`` is the STORED
    (sid, name, component) table of a previous run (the
    :func:`build_er_state` shape: sid = ``xxhash64(name)``, component =
    min-sid of the alias cluster), ``delta_names`` the (name) surfaces
    of a new ingest batch.  Returns the updated (sid, name, component)
    state over standing ∪ delta — equal to a from-scratch
    :func:`build_er_state` on the union (property-tested on random
    vocabulary splits incl. re-seen surfaces in
    ``test_er.py::test_incremental_er_refresh_equals_rebuild``; gated
    end-to-end as the p03 spec), at O(|delta|) shuffle cost:

    1. new surfaces = delta ∖ standing (anti-join; a re-seen surface is
       a no-op, its component is already settled).  The standing name
       column is broadcast only while it fits
       (``BROADCAST_MAX_ROWS`` — the same conditional-hint gate
       :func:`symdelete_typo_pairs` uses; a corpus-sized standing
       vocabulary falls back to a shuffled left_anti, which AQE turns
       back into a broadcast when the delta side is the small one).
       ``standing_n_rows`` (catalog stats / parquet footer metadata)
       sizes the gate without an extra count action; only when absent
       does the operator fall back to one ``standing.count()``.
    2. :func:`symdelete_delta_pairs` — only pairs touching a new
       surface,
    3. :func:`connected_components.incremental_components` — CC on the
       ≤2·|pairs| contracted graph, |V| mapping broadcast-probed,
    4. isolated new surfaces (no pair) enter as their own component.
    """
    s = standing.select("sid", "name", "component")
    s_name = s.select("name")
    n = standing_n_rows if standing_n_rows is not None else s_name.count()
    if n <= BROADCAST_MAX_ROWS:
        s_name = F.broadcast(s_name)
    new_names = (
        delta_names.select("name")
        # a NULL is not a surface — and the anti-join below never matches
        # it, so every refresh would append another NULL row
        .filter(F.col("name").isNotNull())
        .distinct()
        .join(s_name, "name", "left_anti")
        .withColumn("sid", F.xxhash64("name"))
        .localCheckpoint(eager=True)  # consumed by pairs + union + join
    )
    pairs = symdelete_delta_pairs(
        s.select(F.col("sid").alias("id"), "name"),
        new_names.select(F.col("sid").alias("id"), "name"),
    )
    merged = incremental_components(
        s.select(F.col("sid").alias("id"), "component"), pairs.select("src", "dst")
    )
    all_names = s.select("sid", "name").unionByName(new_names.select("sid", "name"))
    # isolated new surfaces never reach incremental_components (no edge,
    # not in the old mapping) — identity component via the left join
    return all_names.join(
        merged.withColumnRenamed("id", "sid"), "sid", "left"
    ).select("sid", "name", F.coalesce("component", F.col("sid")).alias("component"))
