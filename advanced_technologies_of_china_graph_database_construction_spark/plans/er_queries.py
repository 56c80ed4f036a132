"""Entity-resolution workload over the `embeddings` fixture — the
reference's distinctive core (SURVEY.md §2.9 M1-M5) re-expressed as:
exact/LSH cosine similarity self-join → connected components (Pregel-
style star contraction) → min-id canonical mapping → alias edges.

The DuckDB oracle mirrors the similarity join with double-precision
list arithmetic and the component closure with a recursive min-label
propagation CTE.  Cosine values are rounded to 6 digits on BOTH sides
before the threshold comparison; the 0.44 threshold sits in a wide gap
of the pair-sim distribution at the correctness SF, so boundary
decisions are stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, parquet_row_count
from ..operators.er import (
    apply_mapping_array,
    canonical_mapping,
    exact_similarity_pairs,
    lsh_similarity_pairs,
)
from .spec import QuerySpec

ER_THRESHOLD = 0.44

_COS = (
    "round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) / "
    "(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) * "
    "sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6)"
)

_PAIRS_CTE = f"""
pairs AS (
  SELECT a.vec_id AS src, b.vec_id AS dst, {_COS} AS sim
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE {_COS} >= {ER_THRESHOLD})
"""

_COMPONENTS_CTE = f"""
WITH RECURSIVE
{_PAIRS_CTE},
edges2 AS (SELECT src, dst FROM pairs UNION ALL SELECT dst AS src, src AS dst FROM pairs),
reach(id, lab) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges2 e ON r.id = e.src WHERE r.lab < e.dst),
components AS (SELECT id AS vec_id, min(lab) AS canonical FROM reach GROUP BY id)
"""


def er01_similarity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # block count from parquet footer metadata — no count() job
    emb = load_table(spark, sf_dir, "embeddings")
    return exact_similarity_pairs(
        emb, ER_THRESHOLD, n_rows=parquet_row_count(sf_dir, "embeddings")
    )


ER01_SQL = f"WITH {_PAIRS_CTE} SELECT src, dst, sim FROM pairs"


def er02_canonical_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pairs from the blocked GEMM — a MEASURED choice, not a default: at
    # 0.44 sign-LSH banding cannot separate the bulk of the corpus, so
    # the banded join emits 98.7 % of all pairs as candidates for 100 %
    # recall (sf0.1, planes=32/b=16) — a ~n² shuffle that benches 5×
    # slower than the GEMM's n·B vector replication and loses at any
    # scale (the crossover note in `lsh_similarity_pairs`); er05/er07
    # keep the LSH path itself gated.  n_rows comes from the parquet
    # footers (metadata-only, no job), so sizing the block grid doesn't
    # pay a full extra scan per invocation.
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = exact_similarity_pairs(
        emb, ER_THRESHOLD, n_rows=parquet_row_count(sf_dir, "embeddings")
    )
    return canonical_mapping(emb, pairs).select(F.col("id").alias("vec_id"), "canonical")


ER02_SQL = _COMPONENTS_CTE + "SELECT vec_id, canonical FROM components"


def er03_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = er02_canonical_mapping(spark, sf_dir)
    return (
        m.groupBy("canonical")
        .agg(F.count("*").alias("n_members"))
        .filter(F.col("n_members") >= 2)
    )


ER03_SQL = _COMPONENTS_CTE + """
SELECT canonical, count(*) AS n_members FROM components
GROUP BY canonical HAVING count(*) >= 2
"""


def er04_alias_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Alias-edge emission (S7): surface → representative where distinct
    # (`csv_extractor.py:246-295`, filter at :269-273).
    m = er02_canonical_mapping(spark, sf_dir)
    return m.filter(F.col("vec_id") != F.col("canonical")).select(
        F.col("vec_id").alias("src"),
        F.col("canonical").alias("dst"),
        F.lit("ALIAS_OF").alias("rel_type"),
    )


ER04_SQL = _COMPONENTS_CTE + """
SELECT vec_id AS src, canonical AS dst, 'ALIAS_OF' AS rel_type
FROM components WHERE vec_id <> canonical
"""


def er05_lsh_similarity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The scale path, gated against the EXACT oracle: candidates are
    # re-scored with the true cosine (precision is exact by
    # construction) and with the deterministic hyperplane seed the
    # banded recall is complete on the fixtures at every SF (verified
    # sf0.001/0.01/0.1) — so LSH output must EQUAL the exact pair set;
    # any missed pair turns this row red instead of hiding behind a
    # rows-only check.
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_similarity_pairs(emb, ER_THRESHOLD, n_planes=32, bands=16)


def er06_mapped_record_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    # J1 array case (`keyword_merger.py:249-265` list branch): each
    # document's keyword-id list (lineitem part keys in l_linenumber
    # order — the graph derivation's HAS_KEYWORD source) rewritten
    # through the ER canonical map with order-preserving first-occurrence
    # dedup (`:261-263`).  The array is built and rewritten as a real
    # array column; the gate projection renders it as a joined string so
    # the driver's cell hashing stays scalar.
    li = load_table(spark, sf_dir, "lineitem")
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = exact_similarity_pairs(
        emb, ER_THRESHOLD, n_rows=parquet_row_count(sf_dir, "embeddings")
    )
    mapping = canonical_mapping(emb, pairs)
    arrays = (
        li.groupBy(F.col("l_orderkey").alias("doc_id"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("l_linenumber", "l_partkey"))),
                lambda s: s["l_partkey"],
            ).alias("keywords")
        )
    )
    mapped = apply_mapping_array(arrays, mapping, "keywords", id_cols=("doc_id",))
    return mapped.select(
        "doc_id",
        F.array_join(F.transform("keywords", lambda x: x.cast("string")), ",").alias(
            "keywords_str"
        ),
        F.size("keywords").alias("n_keywords"),
    )


ER06_SQL = _COMPONENTS_CTE + """,
positioned AS (
  SELECT l_orderkey AS doc_id, l_partkey,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY l_linenumber, l_partkey) AS pos
  FROM lineitem),
mapped AS (
  SELECT p.doc_id, p.pos, coalesce(c.canonical, p.l_partkey) AS kw
  FROM positioned p LEFT JOIN components c ON c.vec_id = p.l_partkey),
firsts AS (
  SELECT doc_id, kw, min(pos) AS fpos FROM mapped GROUP BY doc_id, kw)
SELECT doc_id,
       string_agg(kw::VARCHAR, ',' ORDER BY fpos) AS keywords_str,
       count(*) AS n_keywords
FROM firsts GROUP BY doc_id
"""


def er07_canonical_mapping_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # er02's pipeline with the LSH similarity join substituted — the
    # end-to-end ER path with NO quadratic stage and no driver-side
    # materialization, gated against the same exact-components oracle
    # (valid because LSH recall is complete on the fixtures; see er05).
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = lsh_similarity_pairs(emb, ER_THRESHOLD, n_planes=32, bands=16)
    m = canonical_mapping(emb, pairs)
    return m.select(F.col("id").alias("vec_id"), "canonical")


# ----------------------------------- er08 typo aliases (string side) ------

def er08_typo_alias_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-side alias detection: SymSpell deletion-neighborhood
    blocking + Levenshtein-1 verify over supplier names with injected
    single-deletion typos (every 10th name minus its 4th character, id
    +100000) — the spelling counterpart of the embedding ER passes
    (a typo'd surface form embeds badly; it edit-matches perfectly).
    Serial-number neighbors (…001 vs …002) also pair at distance 1,
    exercising blocking recall on substitutions."""
    from ..operators.er import symdelete_typo_pairs

    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("id"), F.col("s_name").alias("name")
    )
    typo = sup.filter(F.col("id") % 10 == 0).select(
        (F.col("id") + 100000).alias("id"),
        F.concat(
            F.substr(F.col("name"), F.lit(1), F.lit(3)), F.substr(F.col("name"), F.lit(5))
        ).alias("name"),
    )
    # broadcast-hint sizing from parquet footer metadata (er02 pattern):
    # suppliers are keyed 1..n, so the %10 typo branch adds n//10 rows.
    from ..catalog import parquet_row_count

    base = parquet_row_count(sf_dir, "supplier")
    n_rows = base + base // 10 if base is not None else None
    return symdelete_typo_pairs(sup.unionByName(typo), n_rows=n_rows)


ER08_SQL = """
WITH names AS (
  SELECT s_suppkey AS id, s_name AS name FROM supplier
  UNION ALL
  SELECT s_suppkey + 100000, substr(s_name, 1, 3) || substr(s_name, 5)
  FROM supplier WHERE s_suppkey % 10 = 0),
va AS (
  SELECT id, unnest(list_transform(range(0, length(name) + 1),
         i -> CASE WHEN i = 0 THEN name
                   ELSE substr(name, 1, i - 1) || substr(name, i + 1) END)) AS variant
  FROM names),
cand AS (
  SELECT DISTINCT a.id AS src, b.id AS dst
  FROM va a JOIN va b ON a.variant = b.variant AND a.id < b.id)
SELECT c.src, c.dst, levenshtein(na.name, nb.name) AS distance
FROM cand c JOIN names na ON c.src = na.id JOIN names nb ON c.dst = nb.id
WHERE levenshtein(na.name, nb.name) <= 1
"""


SPECS = [
    QuerySpec("er08_typo_alias_pairs", er08_typo_alias_pairs, ER08_SQL, "er",
              "SymSpell deletion-blocked Levenshtein-1 alias pairs (string-side ER)"),
    QuerySpec("er01_similarity_pairs", er01_similarity_pairs, ER01_SQL, "er",
              "exact cosine ε-ball self-join (M2 similarity graph)", bench=True),
    QuerySpec("er02_canonical_mapping", er02_canonical_mapping, ER02_SQL, "er",
              "connected components → min-id canonical map (M2/M4)", bench=True),
    QuerySpec("er03_cluster_sizes", er03_cluster_sizes, ER03_SQL, "er",
              "cluster regroup (J2/A1/A2)"),
    QuerySpec("er04_alias_edges", er04_alias_edges, ER04_SQL, "er",
              "ALIAS_OF edge emission (S7)"),
    QuerySpec("er05_lsh_similarity_pairs", er05_lsh_similarity_pairs, ER01_SQL, "er",
              "sign-LSH banded similarity join (scale path, exact-gated)"),
    QuerySpec("er06_mapped_record_arrays", er06_mapped_record_arrays, ER06_SQL, "er",
              "canonical-map application to array columns (J1 list branch)"),
    QuerySpec("er07_canonical_mapping_lsh", er07_canonical_mapping_lsh, ER02_SQL, "er",
              "ER pipeline end-to-end via LSH (no quadratic stage)"),
]
