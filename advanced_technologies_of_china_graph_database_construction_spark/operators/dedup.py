"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
containment.

Scale design (the 100 TB story):
- exact dedup is a hash-groupBy on a digest column — one shuffle on the
  digest, map-side partial aggregation;
- MinHash candidates come from an equi-join on (permutation, minhash)
  within a blocking key, so shuffle volume tracks collisions, not n²;
  one pair kernel (``_minhash_pairs``) over rows flagged new or old
  serves the full build (every row new) and the delta (standing rows
  old), with one candidate join and one verify;
- SimHash pairs equi-join on the signature band, then verify Hamming
  distance JVM-side (xor + bit_count);
- n-gram Jaccard and containment share one shingle-set overlap join
  (``_overlap_pairs``): PPJoin prefix-filtered candidates within a block,
  verified with the exact ``array_intersect`` overlap, so neither the
  pair matrix nor an all-shingle self-join is ever built.

All hash arithmetic is integer-only and defined character-wise (ascii
polynomials + Knuth multiplicative spreading), so an external ANSI-SQL
engine (the DuckDB oracle) reproduces every signature bit-for-bit —
no reliance on engine-internal hash functions.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .er import _flagged
from .superstep import settle

# --- shared shingle / hash primitives -------------------------------------

MINHASH_PRIME = 1_048_573  # < 2^20; a*h+b stays well inside int64
N_PERMS = 16
# deterministic permutation parameters (k, a, b)
PERMS = [(k, 2 * k + 3, 7 * k + 11) for k in range(N_PERMS)]

KNUTH = 2_654_435_761  # multiplicative spreading for simhash bits
SIMHASH_BITS = 24

# Broadcast caps of the size-gated joins.  Each pair finder reads the
# doc count of the frame it would broadcast from its signature or
# shingle-set checkpoint (``superstep.settle``) and hints the broadcast
# only while the count is under its cap; past it the hint drops and
# Catalyst plans shuffled joins.  The cap follows the width of the
# broadcast row: a MinHash signature row is a doc id plus 16 longs
# (~140 B, so 200k rows ≈ 28 MB); a shingle-set row (n-gram Jaccard,
# containment) is a doc id plus one 8 B hash per distinct 3-gram
# (~2.4 kB for a 300-char text, the widest row under this cap); a
# MinHash candidate row is two ids (16 B), gated on the new doc count.
BROADCAST_MAX_DOCS = 200_000


def _shingle_hash_udf(n: int):
    """Arrow-batched shingle hasher: per text, the base-256 codepoint
    polynomial of every overlapping n-gram, as one numpy sliding-window
    expression (utf-32 decode → vectorized multiply-add).

    A pandas UDF is a deliberate exception to the built-ins-first rule:
    the equivalent `transform(sequence(...), i -> substr(...))` pipeline
    is an *interpreted* higher-order lambda per character — measured ~6 s
    for 1.5M shingles at sf0.1 vs sub-second vectorized.  Semantics are
    identical to the oracle's ascii(substr(...)) polynomial (utf-32 code
    units == Spark's ascii() codepoints).
    """
    weights = np.array([256 ** (n - 1 - i) for i in range(n)], dtype=np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def shingle_hashes(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None or len(t) < n:
                out.append(np.empty(0, dtype=np.int64))
                continue
            cp = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
            h = np.zeros(len(cp) - n + 1, dtype=np.int64)
            for i in range(n):
                h += cp[i : len(cp) - n + 1 + i] * weights[i]
            out.append(h)
        return pd.Series(out)

    return shingle_hashes


def char_shingles(
    df: DataFrame, text_col: str = "text", n: int = 3, dedup_set: bool = True
) -> DataFrame:
    """(doc_id, shingle_hash) — character n-gram hashes; distinct per doc
    when ``dedup_set`` (set semantics, needed by Jaccard).  MinHash skips
    the distinct: min over a multiset equals min over its set, so the
    dedup shuffle would be pure waste there.

    The shingle hash is a base-256 codepoint polynomial of the n
    characters: portable integer arithmetic, no engine hash function
    involved.  ``n`` is bounded at 7: the polynomial's top weight is
    256^(n-1), so n ≥ 8 overflows int64 — silently (numpy wrap) on this
    side and as ARITHMETIC_OVERFLOW in an ANSI SQL mirror, breaking the
    bit-for-bit oracle contract; reject loudly instead.
    """
    if not 1 <= n <= 7:
        raise ValueError(f"char_shingles n={n}: base-256 polynomial needs 1 <= n <= 7 (int64)")
    hasher = _shingle_hash_udf(n)
    out = df.select("doc_id", F.explode(hasher(F.col(text_col))).alias("shingle_hash"))
    return out.distinct() if dedup_set else out


# --- exact dedup (hash-groupBy) -------------------------------------------

def exact_dup_groups(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical documents: (text_hash, n_docs,
    min_doc_id) for groups with ≥ 2 members (D1-family, distributed).
    NULL texts are excluded before hashing: md5(NULL) is NULL and a
    groupBy would collapse every NULL-text row into one phantom
    "byte-identical" group of documents sharing no content at all."""
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.md5(F.col(text_col)).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
        .filter(F.col("n_docs") >= 2)
    )


# --- MinHash --------------------------------------------------------------

def _minhash_sig_udf(n: int = 3):
    """Fused shingle→signature kernel: hash every overlapping n-gram
    (same base-256 codepoint polynomial as `_shingle_hash_udf`) and take
    the 16 permutation mins inside the same Arrow batch.

    Fusing the min into the vectorized kernel removes BOTH the shingle
    explode (~|text| rows per doc) and the signature groupBy shuffle —
    signatures become a narrow map stage, which is the shape you want
    when the corpus is 100 TB: shuffle volume goes from Σ|text| rows to
    zero.  Output: array<long>[N_PERMS], null when the text has no
    n-gram (no signature row, matching the explode+groupBy semantics).

    Vectorized across the WHOLE batch, not per text: all texts'
    codepoints are concatenated into one array, the sliding polynomial
    runs once over the concatenation, per-text shingle ranges are
    gathered with one repeat+arange index (masking the cross-boundary
    positions), and each permutation's per-text min is one
    `np.minimum.reduceat` over segment starts.  Honest measurement vs
    the per-text numpy loop this replaces: ~1.2–1.4× on the ~300-char
    fixture documents (the loop was already numpy-per-text, so dispatch
    overhead only part-dominates); the gap widens as texts shorten —
    per-row dispatch is O(batch) here vs O(rows) there, which is the
    regime a web-scale short-document corpus lives in.  Peak extra
    memory is one int64 array over the batch's total shingle count per
    permutation slot (the 16 perms run serially), ~8 B × Σ|text|.
    """
    weights = np.array([256 ** (n - 1 - i) for i in range(n)], dtype=np.int64)
    perm_ab = [(np.int64(a), np.int64(b)) for _, a, b in PERMS]

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def minhash_sig(texts: pd.Series) -> pd.Series:
        enc = [
            t.encode("utf-32-le") if t is not None else b"" for t in texts
        ]
        lens = np.array([len(b) >> 2 for b in enc], dtype=np.int64)
        valid = lens >= n
        if not valid.any():
            return pd.Series([None] * len(texts))
        cp = np.frombuffer(b"".join(enc), dtype=np.uint32).astype(np.int64)
        L = len(cp)
        h_all = np.zeros(L - n + 1, dtype=np.int64)
        for i in range(n):
            h_all += cp[i : L - n + 1 + i] * weights[i]
        text_starts = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens[:-1], out=text_starts[1:])
        vstarts = text_starts[valid]          # first shingle index per valid text
        vcounts = (lens - n + 1)[valid]       # shingles per valid text
        total = int(vcounts.sum())
        seg_starts = np.zeros(len(vcounts), dtype=np.int64)
        np.cumsum(vcounts[:-1], out=seg_starts[1:])
        idx = np.repeat(vstarts - seg_starts, vcounts) + np.arange(total, dtype=np.int64)
        h = h_all[idx]
        sigs = np.empty((N_PERMS, len(vcounts)), dtype=np.int64)
        for k, (a, b) in enumerate(perm_ab):
            sigs[k] = np.minimum.reduceat((a * h + b) % MINHASH_PRIME, seg_starts)
        out: list = [None] * len(texts)
        for vi, i in enumerate(np.nonzero(valid)[0]):
            out[i] = sigs[:, vi]
        return pd.Series(out)

    return minhash_sig


def minhash_signature_array(shingles: DataFrame) -> DataFrame:
    """(doc_id, sig array<long>[N_PERMS]): all permutation mins in ONE
    map-side-combinable aggregation — no perms× row blow-up before the
    shuffle (the old crossJoin shape shuffled shingles × 16)."""
    mins = [
        F.min((F.lit(a) * F.col("shingle_hash") + F.lit(b)) % MINHASH_PRIME).alias(f"mh{k}")
        for k, a, b in PERMS
    ]
    wide = shingles.groupBy("doc_id").agg(*mins)
    return wide.select(
        "doc_id", F.array(*[F.col(f"mh{k}") for k in range(N_PERMS)]).alias("sig")
    )


def minhash_signatures(
    df: DataFrame, text_col: str = "text", block_col: str = "source"
) -> tuple[DataFrame, int]:
    """((doc_id, <block_col>, sig array<long>[N_PERMS]) localCheckpointed,
    its row count) from ONE Spark action (``superstep.settle``).  A text
    with no n-gram gets no row.  This is also the shape of the persisted
    signature store ``minhash_delta_near_dups(standing_sig=…)`` reads.

    The band probe and both verification sides read the signatures, so
    the checkpoint runs the kernel once and cuts lineage.  (Not
    ``persist()``: a cached plan pinned by the returned DataFrame
    accumulates storage-pool blocks across repeated invocations in one
    session; checkpoint blocks are released by the ContextCleaner as
    soon as the result goes out of scope.)"""
    sig = df.select(
        "doc_id", F.col(block_col), _minhash_sig_udf()(F.col(text_col)).alias("sig")
    ).filter(F.col("sig").isNotNull())
    sig, (n,) = settle(sig, F.count(F.lit(1)))
    return sig, n


def _band_probe(sig: DataFrame, block_col: str, min_matching: int, side: str) -> DataFrame:
    """(side, new_side, blk_side, k_side, mh_side): one row per doc for
    each of its first N_PERMS − min_matching + 1 minhashes.  By
    pigeonhole a pair matching ≥ m of N perms collides on at least one
    of any N − m + 1 chosen perms, so an equi-join of two probes finds
    every candidate."""
    return sig.select(
        F.col("doc_id").alias(side),
        F.col("new").alias(f"new_{side}"),
        F.col(block_col).alias(f"blk_{side}"),
        F.posexplode(F.slice("sig", 1, N_PERMS - min_matching + 1)).alias(
            f"k_{side}", f"mh_{side}"
        ),
    )


def _collisions(src: DataFrame, dst: DataFrame) -> DataFrame:
    """(src, dst) rows of a ``_band_probe`` pair that share a minhash on
    the same perm within one block, under the pair rule of
    :func:`_minhash_pairs`."""
    cond = (
        (F.col("k_src") == F.col("k_dst"))
        & (F.col("mh_src") == F.col("mh_dst"))
        & (F.col("blk_src") == F.col("blk_dst"))
        & (F.col("src") != F.col("dst"))
        & ((F.col("src") < F.col("dst")) | ~F.col("new_src"))
    )
    return src.join(dst, cond).select("src", "dst")


def _minhash_pairs(
    sig: DataFrame, n_new: int, n_rows: int | None, block_col: str, min_matching: int
) -> DataFrame:
    """(src, dst, n_matching): every verified near-dup pair with at least
    one NEW endpoint — the one MinHash pair kernel under both
    :func:`minhash_near_dups` (every row new) and
    :func:`minhash_delta_near_dups` (standing rows old, delta rows new).
    ``sig`` is a :func:`minhash_signatures` frame plus a boolean ``new``
    column, one row per doc id; ``n_new`` counts its new rows and
    ``n_rows`` all of them (None when unknown).

    Candidates: the band probe of every row (src) equi-joined with the
    band probe of the new rows (dst) on (perm, minhash, block), kept
    under ``src != dst AND (src < dst OR NOT src_new)``.  With every row
    new that is ``src < dst``; with old rows it is each (old src, new
    dst) cross pair once plus the new-internal pairs with ``src < dst``
    — so the result equals the full pair set of all rows minus its
    old-internal pairs, with cross pairs oriented (old, new).  Then one
    distinct and the exact 16-perm match count: (src, sig_a) ⋈ (dst,
    sig_b), kept when ≥ ``min_matching`` perms agree.  The band probe
    cuts candidate-join fan-out ~16/9 and replaces a (src, dst, k)
    groupBy with a distinct + array compare.

    Shape note (measured, r4): distinct-FIRST is the optimum here.  Two
    alternatives were benchmarked at sf0.1 (3.2M raw collision rows →
    609k pairs) and both lost: verifying the raw collision rows map-side
    with first-colliding-perm dedup costs 2× (zip_with/array HOFs are
    interpreted per row) and the codegen-unrolled getItem variant 4×
    (the joins materialize two 128-byte signature arrays per raw row —
    5× the rows of the distinct-first path).  The candidate distinct
    shuffles 16-byte pairs; that is the cheapest thing to move.

    Scale shape: the new-side frames (dst band probe, dst signatures)
    are broadcast while ``n_new`` is under ``BROADCAST_MAX_DOCS``, so the
    all-row band probe is scanned map-side and never shuffled, however
    large the old side is.  The all-row signature lookup is broadcast
    while ``n_rows`` is known and under the same cap; otherwise the
    candidates are broadcast and the lookup is scanned against them.
    The candidate gate reads the new-side count, not the candidates'
    own: new docs × collision fan-out can outgrow it on a
    boilerplate-heavy corpus, but counting the candidates would cost
    the full build a checkpoint job.  In production the old signature
    table is the persisted store this scan stands in for (written once
    per batch, bucketed by doc_id).  Past a cap its hint drops and
    Catalyst plans shuffled joins (``block_col`` bounds each candidate
    domain).
    """
    small = n_new <= BROADCAST_MAX_DOCS
    new_side = F.broadcast if small else (lambda d: d)
    fresh = sig.filter(F.col("new"))
    cands = _collisions(
        _band_probe(sig, block_col, min_matching, "src"),
        new_side(_band_probe(fresh, block_col, min_matching, "dst")),
    ).distinct()
    sa = sig.select(F.col("doc_id").alias("src"), F.col("sig").alias("sig_a"))
    sb = fresh.select(F.col("doc_id").alias("dst"), F.col("sig").alias("sig_b"))
    if n_rows is not None and n_rows <= BROADCAST_MAX_DOCS:
        sa = F.broadcast(sa)
    elif small:
        cands = F.broadcast(cands)
    n_match = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)
    )
    return (
        cands.join(sa, "src")
        .join(new_side(sb), "dst")
        .select("src", "dst", n_match.alias("n_matching"))
        .filter(F.col("n_matching") >= min_matching)
    )


def minhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    block_col: str = "source",
    min_matching: int = 8,
) -> DataFrame:
    """Near-duplicate pairs: docs in the same block agreeing on ≥
    ``min_matching`` of the 16 minhashes (integer threshold — no float
    boundary).  Returns (src, dst, n_matching) with src < dst.

    Exact-result LSH: :func:`_minhash_pairs` with every document new —
    candidates from an equi-join on the pigeonhole band perms
    (``_band_probe``), verified on the full signature arrays.
    """
    sig, n_docs = minhash_signatures(df, text_col, block_col)
    return _minhash_pairs(
        sig.withColumn("new", F.lit(True)), n_docs, n_docs, block_col, min_matching
    )


def minhash_delta_near_dups(
    standing: DataFrame,
    delta: DataFrame,
    text_col: str = "text",
    block_col: str = "source",
    min_matching: int = 8,
    standing_sig: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs TOUCHING a delta batch — the O(|delta|)
    refresh face of :func:`minhash_near_dups`: ``(src, dst,
    n_matching)`` where ``dst`` is always a delta document and ``src``
    is a standing document or an earlier delta document (``src <
    dst``).  Standing↔standing pairs are excluded by construction — they
    were found when THEIR batches arrived; re-deriving them per ingest
    is the full-corpus rescan this operator exists to avoid.  The pairs
    come from the same kernel as the full build (:func:`_minhash_pairs`,
    standing rows old, delta rows new), so the result equals
    "``minhash_near_dups(standing ∪ delta)`` minus its standing-internal
    pairs" exactly.

    A document re-delivered on both sides is tolerated: its STANDING
    row is anti-joined away first (``er._flagged``: the delta version
    wins), so a re-seen id can neither self-pair, appear in both
    orientations, nor fan out the verify join.

    ``standing_sig`` is the persisted standing signature store, passed
    directly: a ``(doc_id, <block_col>, sig array<long>[N_PERMS])``
    frame (the :func:`minhash_signatures` shape) that skips re-running
    the kernel over the standing corpus — the steady-state entry point.
    When omitted, signatures are derived from ``standing`` in place.
    """
    n_standing = None
    if standing_sig is None:
        standing_sig, n_standing = minhash_signatures(standing, text_col, block_col)
    sig_d, n_delta = minhash_signatures(delta, text_col, block_col)
    sig = _flagged(standing_sig, sig_d, "doc_id", n_delta <= BROADCAST_MAX_DOCS)
    # n_standing still counts re-delivered ids: an upper bound on the rows
    n_rows = None if n_standing is None else n_standing + n_delta
    return _minhash_pairs(sig, n_delta, n_rows, block_col, min_matching)


# --- SimHash --------------------------------------------------------------

def _token_hash_expr(tok: str = "tok") -> str:
    """31-polynomial over the first 4 chars (space-padded) + length,
    spread with the Knuth multiplier, truncated to SIMHASH_BITS."""
    padded = f"rpad({tok}, 4, ' ')"
    poly = f"((ascii(substr({padded},1,1)) * 31 + ascii(substr({padded},2,1))) * 31 + ascii(substr({padded},3,1))) * 31 + ascii(substr({padded},4,1))"
    # reduce mod 2^16 BEFORE the Knuth multiply so the product stays far
    # inside int64 on every engine (no silent overflow divergence)
    return f"(({poly}) * 31 + length({tok})) % 65536 * {KNUTH} % {2 ** SIMHASH_BITS}"


def simhash_signatures(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, simhash): classic bit-voting simhash over whitespace
    tokens; SIMHASH_BITS bits; tie (sum == 0) votes 0.

    All SIMHASH_BITS votes run in ONE map-side-combinable aggregation
    (a sum expression per bit) instead of a bits× crossJoin row blow-up —
    same shape as the MinHash signature aggregation.
    """
    toks = df.select(
        "doc_id", F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok")
    ).withColumn("th", F.expr(_token_hash_expr()))
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.expr(f"shiftright(th, {j}) & 1") == 1, 1).otherwise(-1)).alias(f"v{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    sig = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"v{j}") > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return votes.select("doc_id", sig.alias("simhash"))


def simhash_near_dups(
    df: DataFrame, text_col: str = "text", block_col: str = "source", max_hamming: int = 3
) -> DataFrame:
    """(src, dst, hamming) pairs within a block with Hamming distance ≤
    ``max_hamming`` on the simhash.

    Exact-result banded candidate generation: the signature is split into
    ``max_hamming + 1`` bit-bands, and by pigeonhole a pair within the
    Hamming budget must agree EXACTLY on at least one band — so
    candidates come from an equi-join on (band_index, band_bits, block)
    instead of same-block all-pairs, and shuffle volume tracks band
    collisions, not block-size².  Verification (xor + bit_count,
    JVM-side) then makes the result identical to the naive self-join.
    """
    sig = simhash_signatures(df, text_col).join(df.select("doc_id", block_col), "doc_id")
    n_bands = max_hamming + 1
    base_bits = SIMHASH_BITS // n_bands

    def band_val(j: int) -> F.Column:
        width = base_bits + (SIMHASH_BITS - base_bits * n_bands if j == n_bands - 1 else 0)
        return F.shiftright("simhash", j * base_bits).bitwiseAND(F.lit((1 << width) - 1))

    bands_arr = F.array(
        *[F.struct(F.lit(j).alias("b"), band_val(j).alias("bv")) for j in range(n_bands)]
    )
    exploded = sig.select(
        "doc_id",
        "simhash",
        F.col(block_col).alias("blk"),
        F.explode(bands_arr).alias("band"),
    ).select("doc_id", "simhash", "blk", F.col("band.b").alias("b"), F.col("band.bv").alias("bv"))
    a = exploded.select(
        F.col("doc_id").alias("src"), F.col("simhash").alias("h1"), "blk", "b", "bv"
    )
    b = exploded.select(
        F.col("doc_id").alias("dst"), F.col("simhash").alias("h2"), "blk", "b", "bv"
    )
    cands = (
        a.join(b, ["b", "bv", "blk"])
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst", "h1", "h2")
        .distinct()  # (h1, h2) are functions of (src, dst) — cardinality unchanged
    )
    hamming = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
    return cands.select("src", "dst", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


# --- shingle-set overlap: n-gram Jaccard and containment -----------------

def _prefix_len(t: float) -> F.Column:
    """How many of a doc's ``sz`` shingles, in probe order, it must probe
    with so that any set B with |A∩B| ≥ t·sz shares one of them: the
    other ⌈t·sz⌉ − 1 cannot hold the whole overlap."""
    return F.col("sz") - F.ceil(F.lit(t) * F.col("sz")) + 1


def _overlap_pairs(
    df: DataFrame,
    text_col: str,
    block_col: str,
    prefix_src: F.Column,
    prefix_dst: F.Column,
    min_overlap: F.Column,
    pair: F.Column,
) -> DataFrame:
    """(src, dst, n_inter, sz_a, sz_b): same-block doc pairs with
    ``pair`` true (over ``src``, ``dst``) whose 3-gram sets may overlap
    in ≥ ``min_overlap`` shingles (over ``sz_a``, ``sz_b``, the two set
    sizes); ``n_inter`` is the exact |S(src) ∩ S(dst)|.  The result may
    hold extra pairs below the bound, never miss one above it; callers
    compute their ratio from it and filter.

    PPJoin-style prefix filtering: every doc's shingle set is ordered by
    ascending global frequency, then hash; a doc probes with the first
    ``prefix_src`` (as src) or ``prefix_dst`` (as dst) shingles of that
    order (over ``sz``; the caller sizes them so every wanted pair
    shares a shingle within both), so candidates come from an equi-join
    of the two prefixes on (shingle, block) — stop-shingle join groups
    ("the", " a ") never pair the whole block.  Positional filter: at a
    pair's first shared shingle the overlap cannot exceed 1 +
    min(shingles left after it on either side); a pair always survives
    via that row, so per-row pruning never drops it.  The bound also
    enforces the length filter (overlap ≤ min(|A|, |B|)).

    Verification joins each distinct candidate to the two per-doc
    shingle-set arrays and counts the intersection JVM-side
    (``array_intersect`` — the arrays are sets, so its size IS the
    overlap).  The array table broadcasts while its row count (read in
    its own checkpoint action) is under BROADCAST_MAX_DOCS (map-side
    join, candidates never shuffle); past the cap it degrades to
    shuffled joins whose volume is O(corpus) per side — the corpus
    index is never materialized in one process.
    """
    from pyspark.sql import Window

    # Materialize the shingle set once: three downstream branches (global
    # frequencies, prefix ranking, verification arrays) would otherwise
    # re-run the explode+distinct subtree per branch.
    sh = (
        char_shingles(df, text_col)
        .join(df.select("doc_id", block_col), "doc_id")
        .localCheckpoint(eager=True)
    )
    freq = sh.groupBy("shingle_hash").agg(F.count("*").alias("gdf"))
    wdoc = Window.partitionBy("doc_id")
    ranked = sh.join(freq, "shingle_hash").select(
        "doc_id", "shingle_hash", F.col(block_col).alias("blk"),
        F.row_number().over(wdoc.orderBy("gdf", "shingle_hash")).alias("pos"),
        F.count("*").over(wdoc).alias("sz"),
    )

    def probe(prefix: F.Column, id_col: str, end: str) -> DataFrame:
        return ranked.filter(F.col("pos") <= prefix).select(
            F.col("doc_id").alias(id_col), "shingle_hash", "blk",
            F.col("pos").alias(f"pos_{end}"), F.col("sz").alias(f"sz_{end}"),
        )

    most = 1 + F.least(F.col("sz_a") - F.col("pos_a"), F.col("sz_b") - F.col("pos_b"))
    cands = (
        probe(prefix_src, "src", "a")
        .join(probe(prefix_dst, "dst", "b"), ["shingle_hash", "blk"])
        .filter(pair & (most >= min_overlap))
        .select("src", "dst")
        .distinct()
    )
    sets, (n_docs,) = settle(
        sh.groupBy("doc_id").agg(F.collect_list("shingle_hash").alias("arr")),
        F.count(F.lit(1)),
    )
    sa = sets.select(F.col("doc_id").alias("src"), F.col("arr").alias("arr_a"))
    sb = sets.select(F.col("doc_id").alias("dst"), F.col("arr").alias("arr_b"))
    if n_docs <= BROADCAST_MAX_DOCS:
        sa, sb = F.broadcast(sa), F.broadcast(sb)
    return cands.join(sa, "src").join(sb, "dst").select(
        "src",
        "dst",
        F.size(F.array_intersect("arr_a", "arr_b")).alias("n_inter"),
        F.size("arr_a").alias("sz_a"),
        F.size("arr_b").alias("sz_b"),
    )


# Both callers accept on the ROUNDED ratio (HALF_UP, 6 digits — the SQL
# oracle's contract), so a pair whose true ratio is in [t − 5e-7, t)
# still belongs in the output.  Their pruning bounds therefore use
# t − _ROUNDING_SLACK: pruning may only ever keep EXTRA candidates
# (verification decides), never drop a pair the rounded filter accepts.
_ROUNDING_SLACK = 1e-6


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    block_col: str = "source",
    threshold: float = 0.5,
) -> DataFrame:
    """(src, dst, jaccard) for same-block pairs (src < dst) with true
    3-gram-set Jaccard ≥ threshold, from :func:`_overlap_pairs`: J ≥ t
    needs |A∩B| ≥ t/(1+t)·(|A|+|B|) and, by the prefix argument, a shared
    shingle within each side's first |x| − ⌈t·|x|⌉ + 1."""
    t = threshold - _ROUNDING_SLACK
    pairs = _overlap_pairs(
        df, text_col, block_col,
        prefix_src=_prefix_len(t),
        prefix_dst=_prefix_len(t),
        min_overlap=F.lit(t / (1.0 + t)) * (F.col("sz_a") + F.col("sz_b")),
        pair=F.col("src") < F.col("dst"),
    )
    inter = F.col("n_inter").cast("double")
    # rounding stays JVM-side (HALF_UP) to match the SQL oracle exactly
    jac = F.round(inter / (F.col("sz_a") + F.col("sz_b") - inter), 6)
    return pairs.select("src", "dst", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    block_col: str = "source",
    threshold: float = 0.8,
) -> DataFrame:
    """(src, dst, containment) where containment = |S(src) ∩ S(dst)| /
    |S(dst)| ≥ threshold — the fraction of dst's 3-gram set contained in
    src.  Asymmetric by design: a short document quoted inside a long
    one scores ~1.0 here but low Jaccard, which is why training-data
    curation needs containment as well as `ngram_jaccard_pairs`
    (Lee et al. 2022 "Deduplicating Training Data Makes Language Models
    Better" measure both).  Both orientations are emitted (src≠dst,
    same block).

    Same join as `ngram_jaccard_pairs` (:func:`_overlap_pairs`), with
    containment's bounds: C ≥ t needs |A∩B| ≥ t·|B|, so dst probes with
    its first |B| − ⌈t·|B|⌉ + 1 shingles and src with its whole set (a
    shared shingle in dst's prefix may sit anywhere in src).
    """
    t = threshold - _ROUNDING_SLACK
    pairs = _overlap_pairs(
        df, text_col, block_col,
        prefix_src=F.col("sz"),
        prefix_dst=_prefix_len(t),
        min_overlap=F.lit(t) * F.col("sz_b"),
        pair=F.col("src") != F.col("dst"),
    )
    return pairs.select(
        "src", "dst", F.round(F.col("n_inter") / F.col("sz_b"), 6).alias("containment")
    ).filter(F.col("containment") >= threshold)


# --- exact-substring dedup audit (duplicated n-gram spans) ----------------

def duplicated_span_stats(
    df: DataFrame, text_col: str = "text", n: int = 8, min_count: int = 2
) -> DataFrame:
    """Per-document audit of exact duplicated substrings — the
    distributed answer to suffix-array substring dedup (Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better", whose
    ExactSubstr dedups any ≥50-token repeat): every word ``n``-gram
    occurring ≥ ``min_count`` times corpus-wide (self-repeats included)
    marks the token span [pos, pos+n); overlapping/adjacent spans are
    merged per document (gaps-and-islands), giving the duplicated-token
    intervals a span-removal pass would cut.  Fixed-``n`` grams find
    exactly the duplicated substrings of ≥ n tokens — the standard
    MapReduce-able approximation of the suffix-array sweep.

    Returns (doc_id, n_tokens, n_dup_spans, dup_tokens, dup_frac) for
    every document (zeros when clean).

    Scale shape (100 TB): grams are built per doc as one JVM array
    expression (`textops.word_ngrams` — no token explode), the corpus-
    wide count shuffles xxhash64 keys (8 B, not gram strings), the span
    join is a semi-join on the same key, and the island merge is a
    per-doc window (lag + running sum — state bounded by one doc's
    matched positions).  The only driver-free full passes are one gram
    count and one window sort.  The DuckDB oracle counts the gram
    STRINGS; equality assumes no 64-bit hash collision among distinct
    grams (~n²/2⁶⁵ — negligible at any corpus size this audit runs on).
    """
    from pyspark.sql.window import Window

    from .textops import nonempty_tokens, word_ngrams

    base = df.select(
        "doc_id", F.size(nonempty_tokens(F.col(text_col))).cast("bigint").alias("n_tokens")
    )
    grams = df.select(
        "doc_id", F.posexplode(word_ngrams(F.col(text_col), n)).alias("pos", "gram")
    )
    g = grams.select("doc_id", "pos", F.xxhash64("gram").alias("gh"))
    dup = (
        g.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
        .select("gh")
    )
    dpos = g.join(dup, "gh", "left_semi")
    # Island merge: span ends (pos + n) are monotone in pos, so the
    # running-max-end reduces to lag(pos) — a new island starts exactly
    # when this span's start clears the previous span's end (pos >
    # lag(pos) + n; touching spans give contiguous coverage and merge).
    w = Window.partitionBy("doc_id").orderBy("pos")
    lagp = F.lag("pos").over(w)
    flagged = dpos.select(
        "doc_id",
        "pos",
        F.when(lagp.isNull() | (F.col("pos") > lagp + n), 1).otherwise(0).alias("ni"),
    )
    isl = flagged.select(
        "doc_id",
        "pos",
        F.sum("ni").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("island"),
    )
    spans = isl.groupBy("doc_id", "island").agg(
        F.min("pos").alias("s"), (F.max("pos") + n).alias("e")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("e") - F.col("s")).alias("dup_tokens"),
    )
    dup_tokens = F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("bigint")
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("bigint").alias("n_dup_spans"),
        dup_tokens.alias("dup_tokens"),
        F.when(
            F.col("n_tokens") > 0,
            F.round(dup_tokens.cast("double") / F.col("n_tokens"), 6),
        ).otherwise(F.lit(0.0)).alias("dup_frac"),
    )


# --- SemDeDup (cluster-then-prune embedding dedup) ------------------------

def embedding_semdedup_removed(
    emb: DataFrame,
    assignments: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, deterministic
    variant): embeddings are bucketed by their trained k-means cluster
    (``assignments``: (id_col, centroid_id) — the a03 quantizer), and
    WITHIN each cluster every vector that has a smaller-id neighbor at
    or above the cosine threshold is marked removed.  Keep-min-id makes
    the rule order-free and SQL-mirrorable (the paper keeps an arbitrary
    member per duplicate group; min-id is that choice made
    deterministic).

    Scale shape: the O(n²) similarity work is confined to each cluster
    — the cluster-partitioned block-pair GEMM
    (`er.exact_similarity_pairs(partition_by="centroid_id")`), so a
    pathologically skewed giant cluster is sub-blocked across tasks by
    the same replication scheme instead of landing on one executor,
    and per-task memory stays bounded by 2·block_rows·dim doubles.
    That is the SemDeDup trick: k ≈ √n clusters turn a corpus-wide
    quadratic into n·(n/k) work with no cross-cluster pairs ever
    scored.

    Returns one column (``removed``) — the distinct removed ids.
    """
    from .er import exact_similarity_pairs

    joined = emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).join(assignments.select(F.col(id_col).alias("id"), "centroid_id"), "id")
    pairs = exact_similarity_pairs(
        joined, threshold, id_col="id", vec_col="v", partition_by="centroid_id"
    )
    return pairs.select(F.col("dst").alias("removed")).distinct()
