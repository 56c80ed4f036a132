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

String-side aliases come from SymSpell deletion-neighborhood blocking:
one pair kernel (``_symdelete_pairs``) over rows flagged new or old
returns the verified pairs touching a new row, so the full build
(``symdelete_typo_pairs``, every row new) is the delta
(``incremental_er_refresh``, standing rows old) over an all-new side,
with one candidate join and one verify.

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

# New-side cap of the SymSpell variant join: while a pair call brings at
# most this many new names, their deletion variants are broadcast; past
# it the join is shuffled-hash.  Set from the crossover recorded in
# ``_symdelete_pairs``.
SYMDELETE_MAX_NEW = 10_000


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
    """(id, new, variant): each name emits itself plus every
    single-character deletion — the SymSpell d=1 blocking neighborhood
    of :func:`_symdelete_pairs`.  Narrow (one explode, no shuffle);
    variant i=0 is the string itself, i=1..len deletes char i."""
    return names.select(
        "id",
        "new",
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


def _symdelete_pairs(rows: DataFrame, n_new: int, n_rows: int) -> DataFrame:
    """(src, dst, distance): every id pair within Levenshtein distance 1
    with at least one NEW endpoint — the one SymSpell pair kernel under
    both :func:`symdelete_typo_pairs` (every row new) and
    :func:`incremental_er_refresh` (standing rows old, delta rows new).
    ``rows`` is (id, name, new), one row per id; ``n_new`` counts its new
    rows and ``n_rows`` all of them.

    Candidates: the deletion variants of every row (src; |name|+1 rows
    per name) equi-joined with those of the new rows (dst) on
    ``xxhash64(variant)`` (an 8 B key) — variant collisions only, never
    the n² name matrix — kept under ``src != dst AND (src < dst OR NOT src_new)``.
    With every row new that is ``src < dst``; with old rows it is each
    (old src, new dst) cross pair once plus the new-internal pairs with
    ``src < dst`` — so the result equals the full pair set of all rows
    minus its old-internal pairs, with cross pairs oriented (old, new).
    Then one distinct and the JVM ``levenshtein`` verify, which removes
    the false positives the blocking admits.

    Scale shape: the new side of the variant join is broadcast while
    ``n_new`` is under ``SYMDELETE_MAX_NEW`` and shuffled-hash past it.
    Crossover, measured on bench.py's p03 vocabulary with every name new
    (4 cores, broadcast vs shuffled-hash interleaved, min of 6 runs):
    2.5k names 0.58 / 0.55 s, 5k 0.70 / 0.70 s, 10k 1.04 / 1.05 s, 20k
    2.19 / 1.62 s, 50k 5.89 / 2.83 s — so the cap sits at 10k.  Catalyst
    must not choose here: the (id, vh) row is 16 B, so its size
    estimate lands under the broadcast threshold at bench scale, and
    r16 measured that broadcast at 2.75M variants per side at 35–56 s
    against 7.5–17.5 s shuffled-hash.  At real scale broadcast is
    impossible and sort-merge would pay two corpus-scale sorts; the
    shuffled-hash build side is one AQE-sized partition of 16 B rows.
    While the new side fits, the
    all-row variants are scanned map-side and never shuffled, however
    large the old side is.  The verify's name lookups broadcast while
    their row counts fit ``BROADCAST_MAX_ROWS`` (a forced broadcast of a
    larger name dim would OOM executors); past it the all-row lookup is
    scanned against the broadcast candidates instead, sized by the
    variant-join cap.  ``levenshtein`` runs map-side either way.
    """
    variants = _deletion_variants(rows)
    src = variants.select(
        F.col("id").alias("src"), F.col("new").alias("src_new"), F.xxhash64("variant").alias("vh")
    )
    dst = variants.filter(F.col("new")).select(
        F.col("id").alias("dst"), F.xxhash64("variant").alias("vh2")
    )
    small = n_new <= SYMDELETE_MAX_NEW
    cands = (
        src.join(
            F.broadcast(dst) if small else dst.hint("shuffle_hash"),
            (F.col("vh") == F.col("vh2"))
            & (F.col("src") != F.col("dst"))
            & ((F.col("src") < F.col("dst")) | ~F.col("src_new")),
        )
        .select("src", "dst")
        .distinct()
    )
    na = rows.select(F.col("id").alias("src"), F.col("name").alias("name_a"))
    nb = rows.filter(F.col("new")).select(F.col("id").alias("dst"), F.col("name").alias("name_b"))
    if n_rows <= BROADCAST_MAX_ROWS:
        na = F.broadcast(na)
    elif small:
        cands = F.broadcast(cands)
    if n_new <= BROADCAST_MAX_ROWS:
        nb = F.broadcast(nb)
    return (
        cands.join(na, "src")
        .join(nb, "dst")
        .select("src", "dst", F.levenshtein("name_a", "name_b").alias("distance"))
        .filter(F.col("distance") <= 1)
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

    The pairs are :func:`_symdelete_pairs` with every row new.
    ``n_rows`` (parquet footer metadata / catalog stats — the er02
    pattern) sizes its broadcast gates without an extra full-table
    count action; only when absent does the operator fall back to one
    ``df.count()``.
    """
    names = df.select(
        F.col(id_col).alias("id"), F.col(name_col).alias("name"), F.lit(True).alias("new")
    )
    n = n_rows if n_rows is not None else df.count()
    return _symdelete_pairs(names, n, n)


def _flagged(old: DataFrame, new: DataFrame, id_col: str, small: bool) -> DataFrame:
    """``old`` ∪ ``new`` (same columns) with a boolean ``new`` column: the
    rows of a pair kernel (:func:`_symdelete_pairs`,
    ``dedup._minhash_pairs``).  An ``id_col`` value on both sides keeps
    only its new row (the delta version wins), so it can neither
    self-pair nor pair with a new partner in both orientations.  The
    old side is probed by the new ids, broadcast while ``small``, and is
    never shuffled."""
    ids = new.select(id_col)
    kept = old.join(F.broadcast(ids) if small else ids, id_col, "left_anti")
    return kept.withColumn("new", F.lit(False)).unionByName(new.withColumn("new", F.lit(True)))


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

    1. the delta surfaces, distinct, each with sid = ``xxhash64(name)``;
       a re-seen surface's standing row is dropped by :func:`_flagged`
       (the delta version wins, the same rule as
       ``dedup.minhash_delta_near_dups``), so every sid enters the pair
       kernel once.
    2. :func:`_symdelete_pairs` with standing rows old and delta rows
       new — only pairs touching a delta surface.  ``standing_n_rows``
       (catalog stats / parquet footer metadata) sizes its broadcast
       gates without an extra count action; only when absent does the
       operator fall back to one ``standing.count()``.
    3. :func:`connected_components.incremental_components` — CC on the
       ≤2·|pairs| contracted graph, |V| mapping broadcast-probed,
    4. isolated new surfaces (no pair) enter as their own component.
    """
    s = standing.select("sid", "name", "component")
    n = standing_n_rows if standing_n_rows is not None else s.count()
    # consumed by the flagging, pairs and union; its row count sizes the
    # kernel's new side
    new_names, (n_new,) = settle(
        delta_names.select("name")
        .filter(F.col("name").isNotNull())  # a NULL is not a surface
        .distinct()
        .withColumn("sid", F.xxhash64("name")),
        F.count(F.lit(1)),
    )
    rows = _flagged(
        s.select(F.col("sid").alias("id"), "name"),
        new_names.select(F.col("sid").alias("id"), "name"),
        "id",
        n_new <= SYMDELETE_MAX_NEW,
    )
    pairs = _symdelete_pairs(rows, n_new, n + n_new)
    merged = incremental_components(
        s.select(F.col("sid").alias("id"), "component"), pairs.select("src", "dst")
    )
    # isolated new surfaces never reach incremental_components (no edge,
    # not in the old mapping) — identity component via the left join
    return rows.select(F.col("id").alias("sid"), "name").join(
        merged.withColumnRenamed("id", "sid"), "sid", "left"
    ).select("sid", "name", F.coalesce("component", F.col("sid")).alias("component"))
