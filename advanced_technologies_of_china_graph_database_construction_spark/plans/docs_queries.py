"""Training-data pipeline workload over `documents` + `embeddings`:
deduplication (exact / MinHash / SimHash / n-gram Jaccard), text
analysis (language ID, quality, token budgeting, fingerprints) and
similarity search (brute-force + IVF ANN).

The dedup queries run over a *corpus* that unions the documents table
with deterministically injected near-duplicates (suffix-shifted copies)
and exact duplicates — the same construction in the Spark plan and the
oracle SQL — so the operators demonstrably find something.

Portability: every signature is integer arithmetic over ascii codes
(see operators/dedup.py), thresholds are integer counts or 6-digit-
rounded rationals of integer counts, and ties break lexicographically.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, parquet_row_count
from ..operators import dedup, ranking, textops
from ..operators.connected_components import connected_components
from ..operators.er import exact_similarity_pairs, lsh_similarity_pairs
from ..operators.kmeans import kmeans_assignments, kmeans_centroids, seed_centroids
from ..operators.similarity import brute_force_topk, ivf_topk, knn_graph, quantized_topk
from .spec import QuerySpec

# ---------------------------------------------------------------- corpus --

def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    near = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.expr("substr(text, 11)").alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    exact = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    return docs.unionByName(near).unionByName(exact)


_CORPUS_CTE = """
corpus AS (
  SELECT doc_id, text, lang, source, n_chars FROM documents
  UNION ALL
  SELECT doc_id + 1000000, substr(text, 11), lang, source, n_chars
  FROM documents WHERE doc_id % 25 = 0
  UNION ALL
  SELECT doc_id + 2000000, text, lang, source, n_chars
  FROM documents WHERE doc_id % 50 = 0)
"""

_SHINGLES_CTE = """
shingles AS (
  SELECT DISTINCT doc_id,
         ascii(substr(sh,1,1))*65536 + ascii(substr(sh,2,1))*256 + ascii(substr(sh,3,1)) AS shingle_hash
  FROM (SELECT doc_id,
               unnest(CASE WHEN length(text) >= 3
                      THEN list_transform(generate_series(1, length(text)-2), i -> substr(text,i,3))
                      ELSE [] END) AS sh
        FROM corpus))
"""

_PERMS_VALUES = ", ".join(f"({k}, {a}, {b})" for k, a, b in dedup.PERMS)


# --------------------------------------------------------------- d01 exact --

def d01_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dup_groups(_corpus(spark, sf_dir))


D01_SQL = f"""
WITH {_CORPUS_CTE}
SELECT md5(text) AS text_hash, count(*) AS n_docs, min(doc_id) AS min_doc_id
FROM corpus GROUP BY md5(text) HAVING count(*) >= 2
"""


# ------------------------------------------------------------- d02 minhash --

def d02_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_near_dups(_corpus(spark, sf_dir))


D02_SQL = f"""
WITH {_CORPUS_CTE},
{_SHINGLES_CTE},
perms(k, a, b) AS (VALUES {_PERMS_VALUES}),
sigs AS (
  SELECT doc_id, k, min((a * shingle_hash + b) % {dedup.MINHASH_PRIME}) AS minhash
  FROM shingles CROSS JOIN perms GROUP BY doc_id, k),
sigsrc AS (SELECT s.doc_id, s.k, s.minhash, c.source FROM sigs s JOIN corpus c USING (doc_id))
SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS n_matching
FROM sigsrc a JOIN sigsrc b
  ON a.k = b.k AND a.minhash = b.minhash AND a.source = b.source AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 8
"""


# ------------------------------------------------------------- d03 simhash --

_TOKEN_HASH_SQL = (
    "((((ascii(substr(rpad(tok,4,' '),1,1)) * 31 + ascii(substr(rpad(tok,4,' '),2,1))) * 31"
    " + ascii(substr(rpad(tok,4,' '),3,1))) * 31 + ascii(substr(rpad(tok,4,' '),4,1))) * 31"
    f" + length(tok)) % 65536 * {dedup.KNUTH} % {2 ** dedup.SIMHASH_BITS}"
)

_SIMHASH_CTE_TEMPLATE = """
toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM {src}),
th AS (SELECT doc_id, {token_hash} AS th FROM toks),
bits AS (SELECT unnest(generate_series(0, {maxbit})) AS j),
votes AS (
  SELECT doc_id, j, sum(CASE WHEN (th >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM th CROSS JOIN bits GROUP BY doc_id, j),
sig AS (
  SELECT doc_id, sum(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT AS simhash
  FROM votes GROUP BY doc_id)
"""


def _simhash_cte(src: str) -> str:
    return _SIMHASH_CTE_TEMPLATE.format(
        src=src, token_hash=_TOKEN_HASH_SQL, maxbit=dedup.SIMHASH_BITS - 1
    )


def d03_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_signatures(load_table(spark, sf_dir, "documents"))


D03_SQL = f"WITH {_simhash_cte('documents')} SELECT doc_id, simhash FROM sig"


def d04_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_near_dups(_corpus(spark, sf_dir))


D04_SQL = f"""
WITH {_CORPUS_CTE},
{_simhash_cte('corpus')},
sigsrc AS (SELECT s.doc_id, s.simhash, c.source FROM sig s JOIN corpus c USING (doc_id))
SELECT a.doc_id AS src, b.doc_id AS dst, bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM sigsrc a JOIN sigsrc b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


# ------------------------------------------------------------- d05 jaccard --

def d05_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(_corpus(spark, sf_dir))


D05_SQL = f"""
WITH {_CORPUS_CTE},
{_SHINGLES_CTE},
shsrc AS (SELECT s.doc_id, s.shingle_hash, c.source FROM shingles s JOIN corpus c USING (doc_id)),
sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS inter
  FROM shsrc a JOIN shsrc b
    ON a.shingle_hash = b.shingle_hash AND a.source = b.source AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT src, dst,
       round(inter::DOUBLE / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter JOIN sizes sa ON inter.src = sa.doc_id JOIN sizes sb ON inter.dst = sb.doc_id
WHERE round(inter::DOUBLE / (sa.sz + sb.sz - inter), 6) >= 0.5
"""


# -------------------------------------------- d24 containment ---

def d24_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric quote/subset near-dup over the synthetic corpus:
    containment = |shingles(src) ∩ shingles(dst)| / |shingles(dst)|.
    The truncated +1M docs in the corpus are literal substrings of
    their originals, so they score ~1.0 as dst — exactly the pattern
    Jaccard under-scores (see `dedup.containment_pairs`)."""
    return dedup.containment_pairs(_corpus(spark, sf_dir), threshold=0.8)


D24_SQL = f"""
WITH {_CORPUS_CTE},
{_SHINGLES_CTE},
shsrc AS (SELECT s.doc_id, s.shingle_hash, c.source FROM shingles s JOIN corpus c USING (doc_id)),
sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS n_inter
  FROM shsrc a JOIN shsrc b
    ON a.shingle_hash = b.shingle_hash AND a.source = b.source AND a.doc_id <> b.doc_id
  GROUP BY 1, 2)
SELECT src, dst, round(n_inter::DOUBLE / sz, 6) AS containment
FROM inter JOIN sizes ON sizes.doc_id = inter.dst
WHERE round(n_inter::DOUBLE / sz, 6) >= 0.8
"""


# ------------------------------------------ d25 BM25 search ---

BM25_QUERY_TERMS = ["dup", "vector", "merge"]


def d25_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked lexical retrieval: top-10 documents for a three-term query
    under BM25 (Lucene idf) — the ranked upgrade of the reference's
    boolean fallback scan (`neo4j_query_executor.py:414-459`).  One data
    scan: per-term tf is an array-filter per row, corpus stats collapse
    to a single broadcast row, top-k is TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents")
    return ranking.bm25_topk(docs, BM25_QUERY_TERMS, k=10)


_BM25_TOKS = (
    "list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')"
)


def _bm25_contrib(i: int) -> str:
    return (
        f"(CASE WHEN tf_{i} > 0 THEN "
        f"ln(1.0 + ((n_docs - df_{i} + 0.5) / (df_{i} + 0.5))) * "
        f"(tf_{i} * (1.2 + 1.0)) / (tf_{i} + 1.2 * (0.25 + ((0.75 * dl) / avgdl))) "
        f"ELSE 0.0 END)"
    )


D25_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         len({_BM25_TOKS})::DOUBLE AS dl,
         {", ".join(f"len(list_filter({_BM25_TOKS}, t -> t = '{t}'))::DOUBLE AS tf_{i}" for i, t in enumerate(BM25_QUERY_TERMS))}
  FROM documents),
stats AS (
  SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl,
         {", ".join(f"sum((tf_{i} > 0)::INT)::DOUBLE AS df_{i}" for i in range(len(BM25_QUERY_TERMS)))}
  FROM toks)
SELECT doc_id, round({" + ".join(_bm25_contrib(i) for i in range(len(BM25_QUERY_TERMS)))}, 6) AS score
FROM toks, stats
WHERE round({" + ".join(_bm25_contrib(i) for i in range(len(BM25_QUERY_TERMS)))}, 6) > 0
ORDER BY score DESC, doc_id
LIMIT 10
"""


# ------------------------------------- d26 tf-idf top terms ---

def d26_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each document's 3 most distinctive terms by tf·ln(N/df) —
    keyword extraction / document labeling for corpus curation.
    Wordcount shuffle + broadcast df dimension + per-doc window top-k."""
    docs = load_table(spark, sf_dir, "documents")
    return ranking.tfidf_top_terms(docs, top_n=3)


D26_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_BM25_TOKS} AS ts FROM documents),
terms AS (SELECT doc_id, unnest(ts) AS term FROM toks),
tfc AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
dfc AS (SELECT term, count(*)::DOUBLE AS df FROM tfc GROUP BY 1),
n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents)
SELECT doc_id, term, tfidf, rank FROM (
  SELECT t.doc_id, t.term,
         round(t.tf * ln(n_docs / df), 6) AS tfidf,
         row_number() OVER (
           PARTITION BY t.doc_id
           ORDER BY round(t.tf * ln(n_docs / df), 6) DESC, t.term) AS rank
  FROM tfc t JOIN dfc USING (term), n)
WHERE rank <= 3 AND tfidf > 0
"""


# a05_knn_graph is declared near the foot of the module
# (the a05 oracle reuses _COS_AB, defined with the similarity specs).


# ------------------------------------------------------------- d06 quality --

def d06_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.quality_features(load_table(spark, sf_dir, "documents"))


_EN_STOPS = ", ".join(f"'{w}'" for w in textops.LANG_STOPWORDS["en"])

D06_SQL = f"""
WITH feats AS (
  SELECT doc_id,
         length(text) AS n_chars_computed,
         len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')) AS n_tokens,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS letters,
         length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS punct,
         length(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                            t -> t IN ({_EN_STOPS}))) AS stops
  FROM documents)
SELECT doc_id, n_chars_computed, n_tokens,
       round(letters::DOUBLE / greatest(n_tokens, 1), 6) AS avg_token_len,
       round(punct::DOUBLE / greatest(n_chars_computed, 1), 6) AS punct_ratio,
       round(stops::DOUBLE / greatest(n_tokens, 1), 6) AS stopword_ratio,
       round(least(1.0, n_tokens / 100.0) * 0.5
             + (1.0 - round(punct::DOUBLE / greatest(n_chars_computed, 1), 6)) * 0.3
             + round(stops::DOUBLE / greatest(n_tokens, 1), 6) * 0.2, 6) AS quality_score
FROM feats
"""


# ------------------------------------------------------------- d07 lang id --

def d07_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pred = docs.select("lang", textops.predict_lang(F.col("text")).alias("lang_pred"))
    return pred.groupBy("lang", "lang_pred").agg(F.count("*").alias("n"))


def _lang_count_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in textops.LANG_STOPWORDS[lang])
    return (
        f"length(list_filter(string_split_regex(trim(lower(text)), '\\s+'),"
        f" t -> t IN ({words})))"
    )


D07_SQL = f"""
WITH scores AS (
  SELECT lang,
         {_lang_count_sql('de')} AS s_de,
         {_lang_count_sql('en')} AS s_en,
         {_lang_count_sql('es')} AS s_es,
         {_lang_count_sql('fr')} AS s_fr,
         {_lang_count_sql('zh')} AS s_zh
  FROM documents),
pred AS (
  SELECT lang,
         CASE
           WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
           WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
           WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
           WHEN s_fr >= s_zh THEN 'fr'
           ELSE 'zh' END AS lang_pred
  FROM scores)
SELECT lang, lang_pred, count(*) AS n FROM pred GROUP BY lang, lang_pred
"""


# -------------------------------------------------------- d08 fingerprints --

def d08_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select("doc_id", textops.fingerprint_md5(F.col("text")).alias("fp_md5"))
    minsh = (
        dedup.char_shingles(docs)
        .groupBy("doc_id")
        .agg(F.min("shingle_hash").alias("fp_minshingle"))
    )
    return fp.join(minsh, "doc_id")


D08_SQL = """
WITH corpus AS (SELECT doc_id, text FROM documents),
shingles AS (
  SELECT DISTINCT doc_id,
         ascii(substr(sh,1,1))*65536 + ascii(substr(sh,2,1))*256 + ascii(substr(sh,3,1)) AS shingle_hash
  FROM (SELECT doc_id,
               unnest(list_transform(generate_series(1, length(text)-2), i -> substr(text,i,3))) AS sh
        FROM corpus))
SELECT d.doc_id,
       md5(trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g'))) AS fp_md5,
       m.fp_minshingle
FROM documents d
JOIN (SELECT doc_id, min(shingle_hash) AS fp_minshingle FROM shingles GROUP BY doc_id) m
  ON d.doc_id = m.doc_id
"""


# ------------------------------------------------------- d09 token budgets --

def d09_token_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.sum(textops.token_count(F.col("text"))).alias("ws_tokens"),
        F.sum(textops.regex_token_count(F.col("text"))).alias("regex_tokens"),
        F.sum("n_chars").alias("chars"),
    )


D09_SQL = rf"""
SELECT source,
       sum(length(string_split_regex(trim(text), '\s+')))::BIGINT AS ws_tokens,
       sum(length(regexp_extract_all(text, '{textops.TOKEN_REGEX}')))::BIGINT AS regex_tokens,
       sum(n_chars)::BIGINT AS chars
FROM documents GROUP BY source
"""


# ----------------------------------------------- d10 embedding near-dups ---

# Threshold sits in the same wide gap of the pair-sim distribution as the
# ER workload (see er_queries.ER_THRESHOLD) so boundary decisions are
# stable across engines.
EMB_DEDUP_THRESHOLD = 0.44


def d10_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection: docs whose embedding
    vectors (vec_id == doc_id in the fixtures) have cosine >= threshold,
    annotated with each side's source for triage. The exact self-join is
    the correctness baseline; `er05_lsh_similarity_pairs` is the same op
    on the banded-LSH scale path."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    # block count from parquet footer metadata -- no count() job
    pairs = exact_similarity_pairs(
        emb, EMB_DEDUP_THRESHOLD, n_rows=parquet_row_count(sf_dir, "embeddings")
    )
    a = docs.select(F.col("doc_id").alias("src"), F.col("source").alias("src_source"))
    b = docs.select(F.col("doc_id").alias("dst"), F.col("source").alias("dst_source"))
    return pairs.join(a, "src").join(b, "dst").select(
        "src", "dst", "sim", "src_source", "dst_source"
    )


_COS_ER = (
    "round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) / "
    "(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) * "
    "sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6)"
)

D10_SQL = f"""
WITH pairs AS (
  SELECT a.vec_id AS src, b.vec_id AS dst, {_COS_ER} AS sim
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE {_COS_ER} >= {EMB_DEDUP_THRESHOLD})
SELECT p.src, p.dst, p.sim, da.source AS src_source, db.source AS dst_source
FROM pairs p JOIN documents da ON p.src = da.doc_id
JOIN documents db ON p.dst = db.doc_id
"""


# -------------------------------------------------- d11 dedup application --

def d11_dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline APPLIED: near-dup pairs → connected components
    → keep the min-id representative per duplicate cluster → surviving
    corpus summary per source.  This is the operator a training pipeline
    actually runs (emit the cleaned corpus, not just the pair list);
    reference analogue is the keep-first title dedup generalized to
    near-duplicates (`cleaner.py:77-94` + `keyword_merger.py` closure
    semantics).
    """
    corpus = _corpus(spark, sf_dir)
    pairs = dedup.minhash_near_dups(corpus)
    comp = connected_components(pairs.select("src", "dst"))
    removed = comp.filter(F.col("component") != F.col("id")).select(
        F.col("id").alias("doc_id")
    )
    survivors = corpus.join(removed, "doc_id", "left_anti")
    return survivors.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


# The minhash-pairs → recursive-closure cluster chain, shared verbatim
# by D11 (dedup keep-canonical) and D49 (cluster-aware split) so the
# two oracles can never disagree about what a duplicate cluster is.
_D11_CLUSTER_CTES = f"""
WITH RECURSIVE {_CORPUS_CTE},
{_SHINGLES_CTE},
perms(k, a, b) AS (VALUES {_PERMS_VALUES}),
sigs AS (
  SELECT doc_id, k, min((a * shingle_hash + b) % {dedup.MINHASH_PRIME}) AS minhash
  FROM shingles CROSS JOIN perms GROUP BY doc_id, k),
sigsrc AS (SELECT s.doc_id, s.k, s.minhash, c.source FROM sigs s JOIN corpus c USING (doc_id)),
pairs AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM sigsrc a JOIN sigsrc b
    ON a.k = b.k AND a.minhash = b.minhash AND a.source = b.source AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 8),
edges2 AS (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
reach(id, lab) AS (
  SELECT DISTINCT src, src FROM edges2
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges2 e ON r.id = e.src WHERE r.lab < e.dst),
comp AS (SELECT id, min(lab) AS canonical FROM reach GROUP BY id)"""

D11_SQL = (
    _D11_CLUSTER_CTES
    + """,
removed AS (SELECT id FROM comp WHERE canonical <> id)
SELECT source, count(*) AS n_docs, min(doc_id) AS min_doc_id,
       sum(n_chars)::BIGINT AS total_chars
FROM corpus WHERE doc_id NOT IN (SELECT id FROM removed)
GROUP BY source
"""
)


# ------------------------------------------------------ d12 hash split ----

SPLIT_MOD = 100
VAL_BUCKETS = 10  # 10% validation


def d12_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/validation split — the standard
    leakage-free assignment for training corpora: split follows the
    document id through any repartition/rerun (pure integer arithmetic,
    Knuth multiplicative spread, identical in the oracle), never a
    `rand()` that changes per run or per partitioning.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(F.col("doc_id") * F.lit(dedup.KNUTH), F.lit(SPLIT_MOD))
    split = F.when(bucket < VAL_BUCKETS, F.lit("val")).otherwise(F.lit("train"))
    return (
        docs.withColumn("split", split)
        .groupBy("source", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


D12_SQL = f"""
SELECT source,
       CASE WHEN (doc_id * {dedup.KNUTH}) % {SPLIT_MOD} < {VAL_BUCKETS}
            THEN 'val' ELSE 'train' END AS split,
       count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars
FROM documents GROUP BY 1, 2
"""


# -------------------------------------------- d49 cluster-aware split -----

def d49_cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/validation split: d12's deterministic hash
    assignment applied to the NEAR-DUP CLUSTER id instead of the
    document id, so a duplicate cluster lands whole in one split and a
    validation document can never have a near-duplicate in train — the
    "dedup before you split" discipline every LLM eval pipeline needs
    (splitting by doc id silently leaks: any near-dup pair straddling
    the boundary makes validation loss optimistic).  Clusters are
    d11's gated minhash-pairs → connected-components chain; docs in no
    pair are their own singleton cluster.  Ships per-split doc /
    cluster / char counts plus the leakage audit itself —
    n_cross_split_pairs, the count of near-dup pairs whose endpoints
    landed in different splits, 0 by construction and COMPUTED, not
    assumed, in both engines.

    Scale shape: d11's pair join + CC (banded, never n²), one
    broadcast-sized mapping join, split arithmetic is pure integer
    column math (never rand()), audit is one pairs⋈assignment join.
    """
    corpus = _corpus(spark, sf_dir)
    pairs = dedup.minhash_near_dups(corpus).localCheckpoint(eager=True)  # audit re-reads
    comp = connected_components(pairs.select("src", "dst"))
    assigned = (
        corpus.select("doc_id", "source", "n_chars")
        .join(
            comp.select(F.col("id").alias("doc_id"), "component"), "doc_id", "left"
        )
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster"),
        )
        .withColumn(
            "split",
            F.when(
                F.pmod(F.col("cluster") * F.lit(dedup.KNUTH), F.lit(SPLIT_MOD))
                < VAL_BUCKETS,
                F.lit("val"),
            ).otherwise(F.lit("train")),
        )
        .localCheckpoint(eager=True)  # read by the split rollup and the audit
    )
    cross = (
        pairs.select("src", "dst")
        .join(
            assigned.select(F.col("doc_id").alias("src"), F.col("split").alias("split_src")),
            "src",
        )
        .join(
            assigned.select(F.col("doc_id").alias("dst"), F.col("split").alias("split_dst")),
            "dst",
        )
        .filter(F.col("split_src") != F.col("split_dst"))
        .agg(F.count(F.lit(1)).alias("n_cross_split_pairs"))
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("cluster").alias("n_clusters"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .crossJoin(F.broadcast(cross))
    )


# NOTE (r15 ADVICE, pinned): the split hash below uses DuckDB's
# sign-following % against Spark's F.pmod — equivalent ONLY while
# cluster ids are non-negative and cluster*KNUTH stays inside int64
# (ids < ~3.47e9).  Both hold for every fixture (doc_id-derived ids);
# a dataset with negative or >3e9 ids needs the g45-style
# ((x % M) + M) % M correction on this oracle (and d12's).
D49_SQL = (
    _D11_CLUSTER_CTES
    + f""",
assigned AS MATERIALIZED (
  SELECT c.doc_id, c.source, c.n_chars,
         coalesce(cm.canonical, c.doc_id) AS cluster,
         CASE WHEN (coalesce(cm.canonical, c.doc_id) * {dedup.KNUTH})
                   % {SPLIT_MOD} < {VAL_BUCKETS}
              THEN 'val' ELSE 'train' END AS split
  FROM corpus c LEFT JOIN comp cm ON cm.id = c.doc_id),
crossp AS (
  SELECT CAST(count(*) AS BIGINT) AS n_cross_split_pairs
  FROM pairs p JOIN assigned a ON a.doc_id = p.src
               JOIN assigned b ON b.doc_id = p.dst
  WHERE a.split <> b.split)
SELECT split, count(*) AS n_docs,
       CAST(count(DISTINCT cluster) AS BIGINT) AS n_clusters,
       sum(n_chars)::BIGINT AS total_chars,
       (SELECT n_cross_split_pairs FROM crossp) AS n_cross_split_pairs
FROM assigned GROUP BY split
"""
)


# ------------------------------------------- d50 token-budget selection ---

TOKEN_BUDGET_DIV = 3
BUDGET_BUCKETS = 8


def d50_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """"The best B tokens": greedy prefix selection over the corpus in
    descending quality-score order (d06's composite score; ties broken
    by doc_id) until the running token total reaches the budget — here
    a third of the corpus's total tokens, computed IN-PLAN (one
    aggregate riding a broadcast, no driver round-trip) so the face is
    non-degenerate at every SF.  Ships per-language integer facts of
    the selected set plus the budget and the selection's final running
    total — all BIGINT, the d42 exactness discipline.

    The scale story is the operator's
    (:func:`…operators.selection.token_budget_prefix`): the global
    running sum is decomposed into quantile-bucketed windows + a
    bounded offsets fold — NEVER a window over one partition — and the
    bucketing is exactly invisible in the result, so the oracle
    replays the semantics as a plain window cumsum.  Reference
    analogue: the manual per-domain corpus export (`Hype.py:64-70`)
    re-expressed as scored selection."""
    from ..operators.selection import token_budget_prefix

    docs = load_table(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id",
        "lang",
        F.size(textops.nonempty_tokens(F.col("text"))).alias("n_tokens"),
        textops.quality_score(F.col("text")).alias("score"),
    )
    budget = feats.agg(
        F.expr(f"sum(n_tokens) div {TOKEN_BUDGET_DIV}").cast("long").alias("budget")
    )
    sel = token_budget_prefix(feats, budget, n_buckets=BUDGET_BUCKETS)
    return sel.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("sel_tokens"),
        F.max("cum").alias("max_cum"),
        F.max("budget").alias("budget"),
    )


D50_SQL = f"""
WITH feats AS (
  SELECT doc_id, lang,
         len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')) AS n_tokens,
         length(text) AS n_chars,
         length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS punct,
         length(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                            t -> t IN ({_EN_STOPS}))) AS stops
  FROM documents),
scored AS (
  SELECT doc_id, lang, n_tokens,
         round(least(1.0, n_tokens / 100.0) * 0.5
               + (1.0 - round(punct::DOUBLE / greatest(n_chars, 1), 6)) * 0.3
               + round(stops::DOUBLE / greatest(n_tokens, 1), 6) * 0.2, 6) AS score
  FROM feats),
b AS (SELECT sum(n_tokens)::BIGINT // {TOKEN_BUDGET_DIV} AS budget FROM scored),
ranked AS MATERIALIZED (
  SELECT doc_id, lang, n_tokens,
         sum(n_tokens) OVER (ORDER BY score DESC, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM scored)
SELECT lang, count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS sel_tokens,
       max(cum)::BIGINT AS max_cum, max((SELECT budget FROM b))::BIGINT AS budget
FROM ranked WHERE cum <= (SELECT budget FROM b)
GROUP BY lang
"""


# ----------------------------------------------------------- a01/a02 ANN ---

ANN_QUERY_IDS = [0, 1, 2, 3, 4]

_COS_AB = (
    "round(list_dot_product({a}.embedding::DOUBLE[], {b}.embedding::DOUBLE[]) / "
    "(sqrt(list_dot_product({a}.embedding::DOUBLE[], {a}.embedding::DOUBLE[])) * "
    "sqrt(list_dot_product({b}.embedding::DOUBLE[], {b}.embedding::DOUBLE[]))), 6)"
)


def a01_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, ANN_QUERY_IDS, k=10)


A01_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id IN (0,1,2,3,4)),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, {_COS_AB.format(a='q', b='e')} AS sim
  FROM q JOIN embeddings e ON e.vec_id <> q.query_id)
SELECT query_id, neighbor_id, sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored) WHERE rank <= 10
"""


def a02_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, ANN_QUERY_IDS, seed_centroids(emb, 8), k=5, nprobe=2)


A02_SQL = f"""
WITH cent AS (SELECT vec_id AS centroid_id, embedding FROM embeddings WHERE vec_id < 8),
assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_COS_AB.format(a='e', b='c')} DESC, c.centroid_id) AS rn
    FROM embeddings e CROSS JOIN cent c) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id IN (0,1,2,3,4)),
probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT q.query_id, c.centroid_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {_COS_AB.format(a='q', b='c')} DESC, c.centroid_id) AS rn
    FROM q CROSS JOIN cent c) WHERE rn <= 2),
cands AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, {_COS_AB.format(a='q', b='e')} AS sim
  FROM probes p JOIN assign a ON p.centroid_id = a.centroid_id
  JOIN embeddings e ON a.vec_id = e.vec_id
  JOIN q ON p.query_id = q.query_id
  WHERE e.vec_id <> q.query_id)
SELECT query_id, neighbor_id, sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM cands) WHERE rank <= 5
"""


# ------------------------------------------------- a13 IVF recall -------

RECALL_K = 5


def a13_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF index against exact brute force — the
    evaluation number that justifies ANN at scale (the g51 pattern:
    close a speed/quality trade with a measured NUMBER, not a claim).
    Per query: ``n_exact`` (brute-force top-k size), ``n_retrieved``
    (IVF top-k size — can drop below k when the probed buckets run
    dry), ``n_overlap`` (their intersection) — all integer rank
    statistics, never a float recall that two engines could round
    apart; recall@k = n_overlap / n_exact is the consumer's one
    division.

    Both sides reuse the gated operators (a01's broadcast-GEMM brute
    force, a02's nprobe=2-of-8 IVF), so the face measures the INDEX,
    not a reimplementation.  The three per-query aggregates and joins
    ride frames bounded by |queries|·k rows — broadcast, no shuffle of
    the embedding table beyond what the two operators already do.  At
    100 TB this runs on a query SAMPLE (the landmark discipline):
    recall estimation never needs the full corpus as queries."""
    emb = load_table(spark, sf_dir, "embeddings")
    brute = brute_force_topk(emb, ANN_QUERY_IDS, k=RECALL_K).select(
        "query_id", "neighbor_id"
    )
    ivf = ivf_topk(
        emb, ANN_QUERY_IDS, seed_centroids(emb, 8), k=RECALL_K, nprobe=2
    ).select("query_id", "neighbor_id")
    hits = (
        brute.join(ivf, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    nret = ivf.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_retrieved"))
    return (
        brute.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .join(F.broadcast(nret), "query_id", "left")
        .join(F.broadcast(hits), "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_retrieved", F.lit(0)).cast("long").alias("n_retrieved"),
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
        )
    )


A13_SQL = f"""
WITH q AS MATERIALIZED (
  SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id IN (0,1,2,3,4)),
bscored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, {_COS_AB.format(a='q', b='e')} AS sim
  FROM q JOIN embeddings e ON e.vec_id <> q.query_id),
brute AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
    FROM bscored) WHERE rank <= {RECALL_K}),
cent AS MATERIALIZED (SELECT vec_id AS centroid_id, embedding FROM embeddings WHERE vec_id < 8),
assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_COS_AB.format(a='e', b='c')} DESC, c.centroid_id) AS rn
    FROM embeddings e CROSS JOIN cent c) WHERE rn = 1),
probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT q.query_id, c.centroid_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {_COS_AB.format(a='q', b='c')} DESC, c.centroid_id) AS rn
    FROM q CROSS JOIN cent c) WHERE rn <= 2),
cands AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, {_COS_AB.format(a='q', b='e')} AS sim
  FROM probes p JOIN assign a ON p.centroid_id = a.centroid_id
  JOIN embeddings e ON a.vec_id = e.vec_id
  JOIN q ON p.query_id = q.query_id
  WHERE e.vec_id <> q.query_id),
ivf AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
    FROM cands) WHERE rank <= {RECALL_K})
SELECT bq.query_id, bq.n_exact,
       coalesce(iq.n_retrieved, 0)::BIGINT AS n_retrieved,
       coalesce(ov.n_overlap, 0)::BIGINT AS n_overlap
FROM (SELECT query_id, count(*)::BIGINT AS n_exact FROM brute GROUP BY query_id) bq
LEFT JOIN (SELECT query_id, count(*)::BIGINT AS n_retrieved
           FROM ivf GROUP BY query_id) iq USING (query_id)
LEFT JOIN (SELECT b.query_id, count(*)::BIGINT AS n_overlap
           FROM brute b JOIN ivf i
             ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
           GROUP BY b.query_id) ov USING (query_id)
"""


# ----------------------------------------------- d32 document chunking ---

CHUNK_TOKENS = 64
CHUNK_OVERLAP = 8


def d32_chunked_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (the complement of sequence packing):
    every document split into 64-token windows sharing 8 tokens with
    the previous chunk — one narrow JVM pass (tokens → start offsets →
    slices → posexplode), no shuffle.  Chunk text ships as md5 so the
    gate compares content without hauling the full text through the
    hash comparison."""
    from ..operators.textops import chunk_documents

    chunks = chunk_documents(
        load_table(spark, sf_dir, "documents"), CHUNK_TOKENS, CHUNK_OVERLAP
    )
    return chunks.select(
        "doc_id", "chunk_id", "n_tokens", F.md5("chunk_text").alias("chunk_md5")
    )


_CHUNK_STRIDE = CHUNK_TOKENS - CHUNK_OVERLAP

D32_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '') AS ts
  FROM documents),
chunks AS (
  SELECT doc_id,
         unnest(list_transform(
           range(0, (greatest(length(ts) - {CHUNK_OVERLAP}, 1) + {_CHUNK_STRIDE - 1})
                      // {_CHUNK_STRIDE}),
           c -> struct_pack(
             chunk_id := c,
             piece := list_slice(ts, c*{_CHUNK_STRIDE} + 1,
                                 c*{_CHUNK_STRIDE} + {CHUNK_TOKENS})))) AS p
  FROM toks WHERE length(ts) > 0)
SELECT doc_id, p.chunk_id AS chunk_id, length(p.piece) AS n_tokens,
       md5(array_to_string(p.piece, ' ')) AS chunk_md5
FROM chunks
"""


# ------------------------------------------- d33 NFC normalization -------

def d33_nfc_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC canonicalization audit.  The fixture text is pure
    ASCII (NFC-invariant), so the corpus deterministically appends a
    DECOMPOSED sequence (" cafe"+U+0301) to every 25th document — the
    same construction on both sides — making the normalization
    observable: those docs must report changed=true with the combining
    pair fused, and two independent NFC implementations
    (unicodedata vs DuckDB nfc_normalize) must agree byte-for-byte."""
    from ..operators.textops import nfc_audit

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 25 == 0, F.concat("text", F.lit(" cafe\u0301"))
        ).otherwise(F.col("text")),
    )
    return nfc_audit(corpus)


D33_SQL = """
WITH corpus AS (
  SELECT doc_id,
         CASE WHEN doc_id % 25 = 0 THEN text || ' cafe' || chr(769) ELSE text END AS text
  FROM documents)
SELECT doc_id,
       nfc_normalize(text) <> text AS changed,
       length(nfc_normalize(text))::INT AS n_chars,
       md5(nfc_normalize(text)) AS norm_md5
FROM corpus
"""


# ------------------------------------------- a09 distributed PCA ---------

def a09_pca_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA over the embedding corpus, gated with the
    d30/d34 contract pattern: exact SQL-checkable covariance facts
    ship as numbers (row count, covariance trace, max per-dimension
    variance — DuckDB recomputes them via generate_subscripts), and
    the non-SQL eigensolve ships as three booleans each backed by a
    theorem the ORACLE pins to literal TRUE:

    - ``pc1_captures_top_dim``: λ1 ≥ max diagonal entry of C (the top
      eigenvalue dominates every coordinate variance — Rayleigh
      quotient at a basis vector);
    - ``explained_ratio_valid``: 0 < λ1/trace ≤ 1;
    - ``projection_realizes_lambda1``: the JVM-side score column x·v
      has population variance λ1 (shift-invariance makes centering
      unnecessary) within 1e-9·trace — the end-to-end check that the
      Gram fold, the eigensolve, AND the projection agree.

    Scale: one mapInPandas pass emits a d×d partial PER PARTITION
    (independent of row count); the driver folds ≤ num-partitions
    partials and eigensolves d×d (`operators/pca.py`)."""
    from ..operators.pca import pca_top_component, project_scores

    emb = load_table(spark, sf_dir, "embeddings")
    n, cov, lam, v = pca_top_component(emb)
    trace = float(np.trace(cov))
    top_dim = float(np.max(np.diag(cov)))
    proj_var = (
        project_scores(emb, v)
        .agg(F.var_pop("score").alias("v"))
        .first()["v"]
    )
    return spark.createDataFrame(
        [
            (
                n,
                round(trace, 4),
                round(top_dim, 4),
                bool(lam >= top_dim - 1e-12),
                bool(0.0 < lam / trace <= 1.0),
                bool(abs(proj_var - lam) <= 1e-9 * trace),
            )
        ],
        "n long, trace double, top_dim_var double, pc1_captures_top_dim boolean,"
        " explained_ratio_valid boolean, projection_realizes_lambda1 boolean",
    )


A09_SQL = """
WITH dims AS (
  SELECT generate_subscripts(embedding, 1) AS ord, unnest(embedding) AS val
  FROM embeddings),
dimvar AS (SELECT ord, var_pop(val) AS v FROM dims GROUP BY ord)
SELECT (SELECT count(*) FROM embeddings)::BIGINT AS n,
       round(sum(v), 4) AS trace,
       round(max(v), 4) AS top_dim_var,
       TRUE AS pc1_captures_top_dim,
       TRUE AS explained_ratio_valid,
       TRUE AS projection_realizes_lambda1
FROM dimvar
"""


# ------------------------------------------- a08 product quantization ----

PQ_M = 2
PQ_K = 4
PQ_ITERS = 2
PQ_TOP = 10
PQ_QUERY = 0  # smallest vec_id; exists at every sf


def a08_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN with ADC search: m=2 L2 codebooks trained
    jointly in one distributed Lloyd loop, corpus encoded to m codes
    per vector, and the query's broadcast lookup table summed over the
    CODES table — the compressed-index path that serves 10⁹ vectors
    without ever decoding a candidate.  The gate pins the full chain
    (train → encode → LUT → sum → deterministic top-10) against the
    same quantized math unrolled in SQL."""
    emb = load_table(spark, sf_dir, "embeddings")
    from ..operators.pq import pq_adc_topk

    return pq_adc_topk(emb, PQ_QUERY, PQ_M, PQ_K, PQ_ITERS, PQ_TOP)


def _pq_l2(a: str, b: str) -> str:
    return (
        f"round(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
        f" + list_dot_product({b}, {b}), 6)"
    )


def _pq_ctes(m: int, k: int, iters: int) -> list[str]:
    """Unrolled joint-subspace Lloyd + encode, mirroring operators/pq.py
    decision-for-decision (rounded squared L2 before argmin, ties to the
    smallest centroid id, means rebuilt in dim order)."""
    parts = [
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"subs AS (SELECT unnest(range(0, {m})) AS sub)",
        f"sv AS (SELECT vec_id, sub, list_slice(v, (sub * (len(v) // {m}) + 1)::INT,"
        f" ((sub + 1) * (len(v) // {m}))::INT) AS v FROM e CROSS JOIN subs)",
        f"pc0 AS (SELECT sub, vec_id AS centroid_id, v AS cv FROM sv WHERE vec_id < {k})",
    ]
    for i in range(iters):
        parts.append(
            f"pa{i} AS (SELECT vec_id, sub, centroid_id FROM ("
            f"  SELECT sv.vec_id, sv.sub, c.centroid_id,"
            f"         row_number() OVER (PARTITION BY sv.vec_id, sv.sub"
            f"                            ORDER BY {_pq_l2('sv.v', 'c.cv')}, c.centroid_id) AS rn"
            f"  FROM sv JOIN pc{i} c ON sv.sub = c.sub) WHERE rn = 1)"
        )
        parts.append(
            f"pc{i + 1} AS (SELECT sub, centroid_id, list(mu ORDER BY dim) AS cv FROM ("
            f"  SELECT sub, centroid_id, dim, avg(x) AS mu FROM ("
            f"    SELECT a.sub, a.centroid_id, generate_subscripts(sv.v, 1) AS dim,"
            f"           unnest(sv.v) AS x"
            f"    FROM pa{i} a JOIN sv ON sv.vec_id = a.vec_id AND sv.sub = a.sub)"
            f"  GROUP BY 1, 2, 3) GROUP BY sub, centroid_id)"
        )
    parts.append(
        f"codes AS (SELECT vec_id, sub, centroid_id AS code FROM ("
        f"  SELECT sv.vec_id, sv.sub, c.centroid_id,"
        f"         row_number() OVER (PARTITION BY sv.vec_id, sv.sub"
        f"                            ORDER BY {_pq_l2('sv.v', 'c.cv')}, c.centroid_id) AS rn"
        f"  FROM sv JOIN pc{iters} c ON sv.sub = c.sub) WHERE rn = 1)"
    )
    return parts


A08_SQL = (
    ",\n".join(_pq_ctes(PQ_M, PQ_K, PQ_ITERS))
    + f""",
qsv AS (SELECT sub, v AS qv FROM sv WHERE vec_id = {PQ_QUERY}),
lut AS (SELECT c.sub, c.centroid_id AS code, {_pq_l2('q.qv', 'c.cv')} AS d
        FROM pc{PQ_ITERS} c JOIN qsv q ON c.sub = q.sub)
SELECT codes.vec_id, round(sum(lut.d), 6) AS adc_dist
FROM codes JOIN lut ON codes.sub = lut.sub AND codes.code = lut.code
WHERE codes.vec_id != {PQ_QUERY}
GROUP BY codes.vec_id
ORDER BY adc_dist, vec_id LIMIT {PQ_TOP}
"""
)


# ----------------------------------------------- a07 batch IVF search ----

def a07_ann_ivf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-oriented ANN from the partitioned IVF store: a DataFrame of
    queries routed to buckets by a broadcast join (dynamic partition
    pruning on the store — NO driver collect/isin), the offline
    corpus-retrieval face; it shares the probe and rank steps of
    a02's in-memory search.  The store is written to a temp dir; the final
    result (bounded |Q|·k rows) is materialized so the dir can be
    removed before returning — the plan-shape pins live in
    tests/test_ivf_store.py over a persistent fixture store."""
    import shutil
    import tempfile

    from ..sources.ivf_store import ivf_topk_batch, write_ivf_store

    emb = load_table(spark, sf_dir, "embeddings")
    root = tempfile.mkdtemp(prefix="a07_ivf_")
    try:
        write_ivf_store(emb, root, seed_centroids(emb, 8))
        queries = emb.filter(F.col("vec_id") % 40 == 0).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        )
        res = ivf_topk_batch(spark, root, queries, k=5, nprobe=2)
        return spark.createDataFrame(res.collect(), res.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# Same IVF semantics as A02 (the 8 smallest-id seed centroids — `vec_id <
# 8` on the contiguous fixture ids — nprobe=2, k=5) with the query set
# defined by a predicate instead of a point-lookup list.
A07_SQL = f"""
WITH cent AS (SELECT vec_id AS centroid_id, embedding FROM embeddings WHERE vec_id < 8),
assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_COS_AB.format(a='e', b='c')} DESC, c.centroid_id) AS rn
    FROM embeddings e CROSS JOIN cent c) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 40 = 0),
probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT q.query_id, c.centroid_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {_COS_AB.format(a='q', b='c')} DESC, c.centroid_id) AS rn
    FROM q CROSS JOIN cent c) WHERE rn <= 2),
cands AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, {_COS_AB.format(a='q', b='e')} AS sim
  FROM probes p JOIN assign a ON p.centroid_id = a.centroid_id
  JOIN embeddings e ON a.vec_id = e.vec_id
  JOIN q ON p.query_id = q.query_id
  WHERE e.vec_id <> q.query_id)
SELECT query_id, neighbor_id, sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM cands) WHERE rank <= 5
"""


# ------------------------------------ a12 incremental IVF store append ---

def a12_ivf_store_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index MAINTENANCE, the ANN lifecycle's missing face (build a02,
    train a04, store a07, serve a01–a11 — this is the accrete step):
    the store is built WITHOUT the vec_id%10==9 decile, that delta is
    then folded in by `append_ivf_store` (frozen stored quantizer, only
    touched partitions rewritten), and the a07 batch query runs against
    the maintained store.  The oracle is IVF search over the FULL
    corpus — so the gate proves store+append ≡ building from everything
    at once (the delta never contains the 8 smallest ids, so the base's
    centroid seed is the full corpus's)."""
    import shutil
    import tempfile

    from ..sources.ivf_store import (
        append_ivf_store,
        ivf_topk_batch,
        write_ivf_store,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.pmod(F.col("vec_id"), F.lit(10)) != 9)
    delta = emb.filter(F.pmod(F.col("vec_id"), F.lit(10)) == 9)
    root = tempfile.mkdtemp(prefix="a12_ivf_")
    try:
        write_ivf_store(base, root, seed_centroids(base, 8))
        append_ivf_store(delta, root)
        queries = emb.filter(F.col("vec_id") % 40 == 20).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        )
        res = ivf_topk_batch(spark, root, queries, k=5, nprobe=2)
        return spark.createDataFrame(res.collect(), res.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# The A07 oracle over the FULL corpus with the %40==20 query set: the
# maintained (base+append) store must answer exactly like a store built
# from everything at once.
A12_SQL = A07_SQL.replace("vec_id % 40 = 0", "vec_id % 40 = 20")


# --------------------------------------------- d16 curation pipeline ------

CURATION_QUALITY_MIN = 0.7  # sits in a 0.698→0.7026 gap of the score dist


def d16_curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation composition a training corpus ships through:
    exact dedup (keep the smallest id per text hash) → quality floor →
    language-consistency filter (stopword-vote prediction must agree
    with the declared lang) → leakage-free hash split → per-shard
    accounting.  One shuffle for the dedup window, one for the final
    rollup; the quality/lang/split stages are pure map-side
    expressions, so the pipeline's cost is dedup + count at any scale."""
    c = _corpus(spark, sf_dir)
    w = Window.partitionBy(F.md5("text"))
    kept = (
        c.withColumn("min_id", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("min_id"))
        .filter(textops.quality_score(F.col("text")) >= CURATION_QUALITY_MIN)
        .filter(textops.predict_lang(F.col("text")) == F.col("lang"))
    )
    bucket = F.pmod(F.col("doc_id") * F.lit(dedup.KNUTH), F.lit(SPLIT_MOD))
    split = F.when(bucket < VAL_BUCKETS, F.lit("val")).otherwise(F.lit("train"))
    return (
        kept.withColumn("split", split)
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(textops.token_count(F.col("text"))).cast("long").alias("total_tokens"),
        )
    )


_NTOKS = r"len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> ''))"

D16_SQL = rf"""
WITH {{corpus}},
deduped AS (
  SELECT * FROM (
    SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS min_id FROM corpus)
  WHERE doc_id = min_id),
scored AS (
  SELECT *,
         round(least(1.0, {_NTOKS} / 100.0) * 0.5
               + (1.0 - round(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))::DOUBLE
                              / greatest(length(text), 1), 6)) * 0.3
               + round(length(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                                          t -> t IN ({{en_stops}})))::DOUBLE
                       / greatest({_NTOKS}, 1), 6) * 0.2, 6) AS q,
         {{s_de}} AS s_de, {{s_en}} AS s_en, {{s_es}} AS s_es,
         {{s_fr}} AS s_fr, {{s_zh}} AS s_zh
  FROM deduped),
kept AS (
  SELECT * FROM scored
  WHERE q >= {CURATION_QUALITY_MIN}
    AND lang = CASE
          WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
          WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
          WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
          WHEN s_fr >= s_zh THEN 'fr'
          ELSE 'zh' END)
SELECT source,
       CASE WHEN (doc_id * {dedup.KNUTH}) % {SPLIT_MOD} < {VAL_BUCKETS}
            THEN 'val' ELSE 'train' END AS split,
       count(*) AS n_docs, sum({_NTOKS})::BIGINT AS total_tokens
FROM kept GROUP BY 1, 2
"""

D16_SQL = D16_SQL.format(
    corpus=_CORPUS_CTE,
    en_stops=_EN_STOPS,
    s_de=_lang_count_sql("de"),
    s_en=_lang_count_sql("en"),
    s_es=_lang_count_sql("es"),
    s_fr=_lang_count_sql("fr"),
    s_zh=_lang_count_sql("zh"),
)


# --------------------------------------------- d14 sequence packing -------

PACK_BUDGET = 256  # tokens per packed training sequence


def d14_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: each source stream's documents are
    concatenated in ingest order and cut into fixed token-budget bins; a
    document belongs to the bin where it starts.  Output is per-bin
    occupancy (docs started, token mass) — the batch-shape report a
    training pipeline needs before writing packed shards.

    Scale: the cumulative-offset window partitions by source, so each
    stream packs independently (per-stream order is the semantic
    anyway); a single giant source is the serial case by definition —
    shard it first (e.g. partition on (source, doc_id div shard_span))
    when one stream exceeds an executor."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", "doc_id", textops.token_count(F.col("text")).alias("tok")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = toks.withColumn("start_off", F.sum("tok").over(w) - F.col("tok"))
    return (
        packed.withColumn("bin", F.floor(F.col("start_off") / PACK_BUDGET))
        .groupBy("source", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tok").cast("long").alias("doc_tokens"),
        )
    )


D14_SQL = rf"""
WITH toks AS (
  SELECT source, doc_id, len(string_split_regex(trim(text), '\s+')) AS tok
  FROM documents),
packed AS (
  SELECT source, tok,
         sum(tok) OVER (PARTITION BY source ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - tok AS start_off
  FROM toks)
SELECT source, floor(start_off / {PACK_BUDGET})::BIGINT AS bin,
       count(*) AS n_docs, sum(tok)::BIGINT AS doc_tokens
FROM packed GROUP BY 1, 2
"""


# ------------------------------------------ d17 shard-safe packing --------

PACK_SHARD_SPAN = 200  # docs per shard — small enough to shard every source at sf0.01


def d17_sharded_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d14's documented escape hatch made real: when one source stream is
    too large to pack serially, pack ``(source, doc_id div shard_span)``
    sub-streams independently — the cumulative-offset window partitions
    by (source, shard), so a single giant source parallelizes across
    span-sized shards while order within each shard is preserved.  Bins
    are reported per shard; a downstream writer emits one packed file
    per (source, shard)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        "doc_id",
        (F.col("doc_id") / PACK_SHARD_SPAN).cast("long").alias("shard"),
        textops.token_count(F.col("text")).alias("tok"),
    )
    w = (
        Window.partitionBy("source", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = toks.withColumn("start_off", F.sum("tok").over(w) - F.col("tok"))
    return (
        packed.withColumn("bin", F.floor(F.col("start_off") / PACK_BUDGET))
        .groupBy("source", "shard", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tok").cast("long").alias("doc_tokens"),
        )
    )


D17_SQL = rf"""
WITH toks AS (
  SELECT source, doc_id, doc_id // {PACK_SHARD_SPAN} AS shard,
         len(string_split_regex(trim(text), '\s+')) AS tok
  FROM documents),
packed AS (
  SELECT source, shard, tok,
         sum(tok) OVER (PARTITION BY source, shard ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - tok AS start_off
  FROM toks)
SELECT source, shard, floor(start_off / {PACK_BUDGET})::BIGINT AS bin,
       count(*) AS n_docs, sum(tok)::BIGINT AS doc_tokens
FROM packed GROUP BY 1, 2, 3
"""


# ------------------------------------------------ d18 bigram counts -------

BIGRAM_MIN_COUNT = 20


def d18_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level word-bigram frequencies (the n-gram surface behind
    phrase mining / tokenizer vocabulary induction): grams are built as
    a JVM array expression per document (``textops.word_ngrams`` — no
    explode until the rows are wanted), then one explode + one count
    shuffle.  The integer-count floor keeps the result a deterministic
    set (no top-k order dependence)."""
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(F.explode(textops.word_ngrams(F.col("text"), 2)).alias("gram"))
    return (
        grams.groupBy("gram")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= BIGRAM_MIN_COUNT)
    )


D18_SQL = rf"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS ts
  FROM documents),
grams AS (
  SELECT unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])) AS gram
  FROM toks)
SELECT gram, count(*) AS n FROM grams GROUP BY gram HAVING count(*) >= {BIGRAM_MIN_COUNT}
"""


# ----------------------------------------- d20 token percentiles ----------

def d20_token_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-length distribution (median/p90/p99 + totals) —
    the corpus-characterization report that sizes packing budgets and
    flags outlier sources.  Exact interpolated percentiles (`percentile`
    ≡ DuckDB `quantile_cont`, both p·(n−1) linear interpolation); the
    approx sketch (`percentile_approx`) is the 100 TB path when exact
    quantiles aren't contractual."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", textops.token_count(F.col("text")).alias("tok"))
    return toks.groupBy("source").agg(
        F.round(F.expr("percentile(tok, 0.5)"), 6).alias("median_tokens"),
        F.round(F.expr("percentile(tok, 0.9)"), 6).alias("p90_tokens"),
        F.round(F.expr("percentile(tok, 0.99)"), 6).alias("p99_tokens"),
        F.count("*").alias("n_docs"),
        F.sum("tok").cast("long").alias("total_tokens"),
    )


D20_SQL = r"""
WITH toks AS (
  SELECT source, len(string_split_regex(trim(text), '\s+')) AS tok FROM documents)
SELECT source,
       round(quantile_cont(tok, 0.5), 6) AS median_tokens,
       round(quantile_cont(tok, 0.9), 6) AS p90_tokens,
       round(quantile_cont(tok, 0.99), 6) AS p99_tokens,
       count(*) AS n_docs, sum(tok)::BIGINT AS total_tokens
FROM toks GROUP BY source
"""


# ----------------------------------- d21 benchmark decontamination --------

CONTAM_NGRAM = 8
CONTAM_MIN_SHARED = 3
CONTAM_MAX_DF = 10  # drop grams seen in more benchmark docs (stop-grams)


def d21_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination: find corpus documents sharing ≥
    ``CONTAM_MIN_SHARED`` distinct word 8-grams with any benchmark
    document (the standard n-gram-overlap contamination check run
    before training).  Benchmark = the original documents table;
    candidates = the injected near/exact duplicates (their shifted
    copies share long token runs — real contamination by construction).

    Scale shape: gram df-capping first (drop 8-grams present in more
    than ``CONTAM_MAX_DF`` benchmark docs — stop-grams otherwise make
    the equi-join quadratic on boilerplate), then one equi-join on the
    gram and one count shuffle.  At 100 TB the gram key would be
    xxhash64-packed instead of the string; the string keeps the oracle
    readable here."""
    corpus = _corpus(spark, sf_dir).filter(F.col("doc_id") >= 1_000_000)
    bench = load_table(spark, sf_dir, "documents")
    ce = corpus.select(
        F.col("doc_id").alias("corpus_id"),
        F.explode(F.array_distinct(textops.word_ngrams(F.col("text"), CONTAM_NGRAM))).alias("g"),
    )
    be = bench.select(
        F.col("doc_id").alias("benchmark_id"),
        F.explode(F.array_distinct(textops.word_ngrams(F.col("text"), CONTAM_NGRAM))).alias("g"),
    )
    rare = (
        be.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= CONTAM_MAX_DF)
        .select("g")
    )
    be_rare = be.join(rare, "g")
    return (
        ce.join(be_rare, "g")
        .groupBy("corpus_id", "benchmark_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= CONTAM_MIN_SHARED)
    )


_G8 = (
    "CASE WHEN len(ts) >= {n} THEN list_transform(range(1, len(ts) - {nm2}), i -> "
    + " || ' ' || ".join(f"ts[i+{j}]" for j in range(CONTAM_NGRAM)).replace("ts[i+0]", "ts[i]")
    + ") ELSE [] END"
).format(n=CONTAM_NGRAM, nm2=CONTAM_NGRAM - 2)

D21_SQL = rf"""
WITH {_CORPUS_CTE},
ctoks AS (
  SELECT doc_id AS corpus_id,
         list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS ts
  FROM corpus WHERE doc_id >= 1000000),
btoks AS (
  SELECT doc_id AS benchmark_id,
         list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS ts
  FROM documents),
ce AS (SELECT DISTINCT corpus_id, unnest({_G8}) AS g FROM ctoks),
be AS (SELECT DISTINCT benchmark_id, unnest({_G8}) AS g FROM btoks),
rare AS (SELECT g FROM be GROUP BY g HAVING count(*) <= {CONTAM_MAX_DF})
SELECT ce.corpus_id, be.benchmark_id, count(*) AS n_shared
FROM ce JOIN be USING (g) JOIN rare USING (g)
GROUP BY 1, 2 HAVING count(*) >= {CONTAM_MIN_SHARED}
"""


# --------------------------------------------- d23 PII redaction ----------

# Same Java/RE2-portable character-class forms on both engines.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+[0-9]{2}-[0-9]{3}-[0-9]{4}"


def d23_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction — the scrub pass a training corpus runs
    before release.  The fixture corpus carries no PII, so emails and
    phone numbers are INJECTED deterministically (every 7th doc gains an
    address, every 11th a phone number — same construction in the
    oracle), then detected and replaced with type tags; output is the
    per-source audit a redaction job emits (docs touched, matches
    removed, residual-PII count, which must be zero).  Pure map-side
    regexp expressions until the final rollup."""
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.when(
            d % 7 == 0,
            F.concat(F.lit(" contact user"), d.cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            d % 11 == 0,
            F.concat(F.lit(" tel +86-555-"), F.lpad((d % 10000).cast("string"), 4, "0")),
        ).otherwise(F.lit("")),
    )
    n_email = F.size(F.regexp_extract_all(injected, F.lit(EMAIL_RE), F.lit(0)))
    n_phone = F.size(F.regexp_extract_all(injected, F.lit(PHONE_RE), F.lit(0)))
    scrubbed = F.regexp_replace(
        F.regexp_replace(injected, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    residual = F.size(
        F.regexp_extract_all(scrubbed, F.lit(f"{EMAIL_RE}|{PHONE_RE}"), F.lit(0))
    )
    per_doc = docs.select(
        "source",
        n_email.alias("n_email"),
        n_phone.alias("n_phone"),
        residual.alias("n_residual"),
    )
    return per_doc.groupBy("source").agg(
        F.sum((F.col("n_email") + F.col("n_phone") > 0).cast("long")).alias("n_docs_with_pii"),
        F.sum("n_email").cast("long").alias("n_emails"),
        F.sum("n_phone").cast("long").alias("n_phones"),
        F.sum("n_residual").cast("long").alias("n_residual"),
    )


D23_SQL = rf"""
WITH injected AS (
  SELECT source,
         text
           || CASE WHEN doc_id % 7 = 0
                   THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                   ELSE '' END
           || CASE WHEN doc_id % 11 = 0
                   THEN ' tel +86-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                   ELSE '' END AS t
  FROM documents),
counted AS (
  SELECT source,
         len(regexp_extract_all(t, '{EMAIL_RE}')) AS n_email,
         len(regexp_extract_all(t, '{PHONE_RE}')) AS n_phone,
         len(regexp_extract_all(
               regexp_replace(regexp_replace(t, '{EMAIL_RE}', '<EMAIL>', 'g'),
                              '{PHONE_RE}', '<PHONE>', 'g'),
               '{EMAIL_RE}|{PHONE_RE}')) AS n_residual
  FROM injected)
SELECT source,
       sum(CASE WHEN n_email + n_phone > 0 THEN 1 ELSE 0 END)::BIGINT AS n_docs_with_pii,
       sum(n_email)::BIGINT AS n_emails,
       sum(n_phone)::BIGINT AS n_phones,
       sum(n_residual)::BIGINT AS n_residual
FROM counted GROUP BY source
"""


# --------------------------------------- d22 repetition filters -----------

DUP_WORD_MAX = 0.8  # Gopher-style repetition caps, tuned to the fixture
TOP_BIGRAM_MAX = 0.1  # corpus so both branches of the flag fire


def d22_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filters (Rae et al. 2021 §A1.1):
    per-document duplicate-word fraction (1 − distinct/total tokens) and
    top-bigram fraction (most frequent word bigram's share of all
    bigrams), rolled up per source with the count of documents a
    repetition-capped pipeline would drop.  The unigram signal is one
    map-side array expression; the bigram mode needs one count shuffle
    keyed by (doc, gram) and a max_by — both engines compute identical
    integer-count rationals, so the flag thresholds carry no float
    boundary risk."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        "doc_id",
        textops.dup_word_fraction(F.col("text")).alias("dup_word_frac"),
        F.explode_outer(textops.word_ngrams(F.col("text"), 2)).alias("g"),
    )
    per_gram = base.groupBy("source", "doc_id", "dup_word_frac", "g").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_doc = per_gram.groupBy("source", "doc_id", "dup_word_frac").agg(
        F.round(
            F.when(
                F.max(F.when(F.col("g").isNotNull(), F.col("c"))).isNotNull(),
                F.max(F.when(F.col("g").isNotNull(), F.col("c"))).cast("double")
                / F.sum(F.when(F.col("g").isNotNull(), F.col("c"))).cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("top_bigram_frac")
    )
    flagged = (F.col("dup_word_frac") > DUP_WORD_MAX) | (
        F.col("top_bigram_frac") > TOP_BIGRAM_MAX
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("dup_word_frac"), 6).alias("avg_dup_word_frac"),
        F.round(F.avg("top_bigram_frac"), 6).alias("avg_top_bigram_frac"),
        F.sum(flagged.cast("long")).alias("n_flagged"),
    )


D22_SQL = rf"""
WITH toks AS (
  SELECT source, doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS ts
  FROM documents),
uni AS (
  SELECT source, doc_id,
         CASE WHEN len(ts) > 0
              THEN round(1.0 - len(list_distinct(ts))::DOUBLE / len(ts), 6)
              ELSE 0.0 END AS dup_word_frac,
         CASE WHEN len(ts) >= 2
              THEN list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])
              ELSE [] END AS grams
  FROM toks),
gcounts AS (
  SELECT source, doc_id, dup_word_frac, g, count(*) AS c
  FROM (SELECT source, doc_id, dup_word_frac, unnest(grams) AS g FROM uni)
  GROUP BY 1, 2, 3, 4),
per_doc AS (
  SELECT u.source, u.doc_id, u.dup_word_frac,
         coalesce(round(gc.mx::DOUBLE / gc.tot, 6), 0.0) AS top_bigram_frac
  FROM uni u LEFT JOIN (
    SELECT source, doc_id, max(c) AS mx, sum(c) AS tot
    FROM gcounts GROUP BY 1, 2) gc USING (source, doc_id))
SELECT source, count(*) AS n_docs,
       round(avg(dup_word_frac), 6) AS avg_dup_word_frac,
       round(avg(top_bigram_frac), 6) AS avg_top_bigram_frac,
       sum(CASE WHEN dup_word_frac > {DUP_WORD_MAX}
                  OR top_bigram_frac > {TOP_BIGRAM_MAX}
                THEN 1 ELSE 0 END)::BIGINT AS n_flagged
FROM per_doc GROUP BY source
"""


# --------------------------------------------- d15 stratified sampling ----

SAMPLE_MOD = 100


def d15_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic downsampling — the mixture-weighting
    step of corpus assembly (each source kept at its own rate).  The
    keep decision is the same leakage-free integer hash as the d12
    split (follows doc_id through any repartition; never `rand()`), so
    it is a pure map-side filter: no shuffle until the final count."""
    docs = load_table(spark, sf_dir, "documents")
    suffix = F.regexp_extract(F.col("source"), "[0-9]+", 0).cast("int")
    rate = F.lit(10) + (suffix * 7) % 80
    keep = F.pmod(F.col("doc_id") * F.lit(dedup.KNUTH), F.lit(SAMPLE_MOD)) < rate
    return (
        docs.withColumn("rate", rate)
        .filter(keep)
        .groupBy("source", "rate")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


D15_SQL = f"""
WITH r AS (
  SELECT *, 10 + (regexp_extract(source, '[0-9]+')::INT * 7) % 80 AS rate
  FROM documents)
SELECT source, rate, count(*) AS n_sampled, sum(n_chars)::BIGINT AS total_chars
FROM r WHERE (doc_id * {dedup.KNUTH}) % {SAMPLE_MOD} < rate
GROUP BY 1, 2
"""


# ------------------------------------------ d13 embedding LSH near-dups ---

# Random-hyperplane config with verified complete recall on the
# fixtures at every shipped SF (0.001/0.01/0.1) for this threshold —
# that is what licenses the *exact* self-join SQL as the oracle, the
# same construction as er05.  0.46 sits above the dense mass of the
# pair-sim distribution's boundary region (the hardest sign-LSH pairs
# live at 0.44–0.46).
EMB_LSH_THRESHOLD = 0.46
EMB_LSH_PLANES = 128
EMB_LSH_BANDS = 32


def d13_embedding_lsh_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d10's embedding near-dup detection on the 100 TB path: banded
    sign-LSH candidate generation (equi-join on band keys — shuffle
    proportional to collisions, not n²) with exact cosine re-scoring,
    then the same source annotation."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = lsh_similarity_pairs(
        emb,
        EMB_LSH_THRESHOLD,
        n_planes=EMB_LSH_PLANES,
        bands=EMB_LSH_BANDS,
    )
    a = docs.select(F.col("doc_id").alias("src"), F.col("source").alias("src_source"))
    b = docs.select(F.col("doc_id").alias("dst"), F.col("source").alias("dst_source"))
    return pairs.join(a, "src").join(b, "dst").select(
        "src", "dst", "sim", "src_source", "dst_source"
    )


D13_SQL = f"""
WITH pairs AS (
  SELECT a.vec_id AS src, b.vec_id AS dst, {_COS_ER} AS sim
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE {_COS_ER} >= {EMB_LSH_THRESHOLD})
SELECT p.src, p.dst, p.sim, da.source AS src_source, db.source AS dst_source
FROM pairs p JOIN documents da ON p.src = da.doc_id
JOIN documents db ON p.dst = db.doc_id
"""


# ------------------------------------------------- a03 k-means training ---

KMEANS_K = 8
KMEANS_ITERS = 2


def a03_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the IVF coarse quantizer: 2 Lloyd iterations of k-means
    over the embedding table, then report each trained cluster's size
    and mean member similarity.  Assignment is a broadcast-centroid
    `max_by` (vectors never shuffle); the update shuffle is ≤ k×dim rows
    per partition after map-side combine — see operators/kmeans.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    assign = kmeans_assignments(emb, k=KMEANS_K, iters=KMEANS_ITERS)
    return assign.groupBy("centroid_id").agg(
        F.count("*").alias("n_members"),
        F.round(F.avg("sim"), 6).alias("avg_sim"),
    )


def _kmeans_ctes(k: int, iters: int) -> list[str]:
    """Unrolled Lloyd iterations as chained CTEs (fixed iteration count,
    so the oracle is a static string — same trick as the PageRank
    oracle).  Mirrors the Spark plan decision-for-decision: HALF_UP
    1e-6 rounding before argmax, ties to the smallest centroid id,
    element-wise mean rebuilt in dim order.  The list ends with
    ``c{iters}`` (trained centroids) and ``a{iters}`` (final
    assignments against them)."""
    cos = (
        "round(list_dot_product(e.v, c.cv) / "
        "(sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6)"
    )
    parts = [
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"c0 AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < {k})",
    ]
    for i in range(iters + 1):
        parts.append(
            f"a{i} AS (SELECT vec_id, centroid_id, sim FROM ("
            f"  SELECT e.vec_id, c.centroid_id, {cos} AS sim,"
            f"         row_number() OVER (PARTITION BY e.vec_id"
            f"                            ORDER BY {cos} DESC, c.centroid_id) AS rn"
            f"  FROM e CROSS JOIN c{i} c) WHERE rn = 1)"
        )
        if i < iters:
            parts.append(
                f"c{i + 1} AS (SELECT centroid_id, list(m ORDER BY dim) AS cv FROM ("
                f"  SELECT centroid_id, dim, avg(x) AS m FROM ("
                f"    SELECT a.centroid_id, generate_subscripts(e.v, 1) AS dim,"
                f"           unnest(e.v) AS x"
                f"    FROM a{i} a JOIN e USING (vec_id))"
                f"  GROUP BY centroid_id, dim)"
                f" GROUP BY centroid_id)"
            )
    return parts


A03_SQL = (
    ",\n".join(_kmeans_ctes(KMEANS_K, KMEANS_ITERS))
    + f"""
SELECT centroid_id, count(*) AS n_members, round(avg(sim), 6) AS avg_sim
FROM a{KMEANS_ITERS} GROUP BY centroid_id
"""
)


# ------------------------------------------------- d19 SemDeDup -----------

SEMDEDUP_THRESHOLD = 0.44  # same boundary as the ER family; rounded
                           # identically on both sides so decisions agree


def d19_semdedup_removed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: the trained coarse quantizer (a03's k-means) buckets the
    embedding space, then each cluster is pruned independently — remove
    every vector with a smaller-id in-cluster neighbor at/above the
    cosine threshold.  One Arrow GEMM task per cluster; no cross-cluster
    pair is ever scored (that is the point: semantic dedup at n·(n/k)
    cost instead of n²)."""
    emb = load_table(spark, sf_dir, "embeddings")
    assign = kmeans_assignments(emb, k=KMEANS_K, iters=KMEANS_ITERS)
    return dedup.embedding_semdedup_removed(emb, assign, SEMDEDUP_THRESHOLD)


_COS_AB_E = (
    "round(list_dot_product(ea.v, eb.v) / "
    "(sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))), 6)"
)

D19_SQL = (
    ",\n".join(_kmeans_ctes(KMEANS_K, KMEANS_ITERS))
    + f"""
SELECT DISTINCT b.vec_id AS removed
FROM a{KMEANS_ITERS} a JOIN a{KMEANS_ITERS} b
  ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
JOIN e ea ON ea.vec_id = a.vec_id
JOIN e eb ON eb.vec_id = b.vec_id
WHERE {_COS_AB_E} >= {SEMDEDUP_THRESHOLD}
"""
)


# ----------------------------------------------- a04 trained-IVF search ---

_COS_QC = (
    "round(list_dot_product(q.qv, c.cv) / "
    "(sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))), 6)"
)
_COS_QN = (
    "round(list_dot_product(q.qv, n.v) / "
    "(sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(n.v, n.v))), 6)"
)


def a04_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end trained ANN: k-means-trained coarse quantizer feeding
    the IVF probe search — the production composition (train once,
    assign on write, probe nprobe buckets per query)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent = kmeans_centroids(emb, k=KMEANS_K, iters=KMEANS_ITERS)
    return ivf_topk(emb, ANN_QUERY_IDS, k=5, nprobe=2, centroids=cent)


A04_SQL = (
    ",\n".join(_kmeans_ctes(KMEANS_K, KMEANS_ITERS))
    + f""",
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN (0,1,2,3,4)),
probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT q.query_id, c.centroid_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {_COS_QC} DESC, c.centroid_id) AS rn
    FROM q CROSS JOIN c{KMEANS_ITERS} c) WHERE rn <= 2),
cands AS (
  SELECT q.query_id, n.vec_id AS neighbor_id, {_COS_QN} AS sim
  FROM probes p JOIN a{KMEANS_ITERS} a ON p.centroid_id = a.centroid_id
  JOIN e n ON a.vec_id = n.vec_id
  JOIN q ON p.query_id = q.query_id
  WHERE n.vec_id <> q.query_id)
SELECT query_id, neighbor_id, sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM cands) WHERE rank <= 5
"""
)


# ------------------------------------------- a05 kNN graph ---

def a05_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbor graph over ALL embeddings (the
    all-pairs kNN build behind graph-ANN indexes and embedding audits):
    block-pair GEMM with in-kernel per-block top-k, so the shuffle
    carries n·B·k candidates instead of n² scores."""
    emb = load_table(spark, sf_dir, "embeddings")
    return knn_graph(emb, k=5, n_rows=parquet_row_count(sf_dir, "embeddings"))


A05_SQL = f"""
WITH scored AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id, {_COS_AB.format(a='a', b='b')} AS sim
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id)
SELECT vec_id, neighbor_id, sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored) WHERE rank <= 5
"""


# --------------------------------------- d27 snapshot diff ---

def d27_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus diff between two crawl snapshots — the CDC
    step of a continuously-refreshed training corpus (what changed
    since the last build decides what re-enters dedup/curation).  The
    new snapshot is derived deterministically: every 11th doc removed,
    every 7th remaining doc revised, every 50th re-added under a new
    id.  One full-outer join on the id (at scale: bucket both snapshots
    by id and the join is shuffle-free) with a map-side md5 compare."""
    old = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    kept = old.filter(F.col("doc_id") % 11 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" rev2"))
        ).otherwise(F.col("text")).alias("text"),
    )
    added = old.filter(F.col("doc_id") % 50 == 0).select(
        # re-added ids live in the NEGATIVE domain: collision-free with
        # the real non-negative doc_ids at ANY sf (a fixed +K offset
        # collides once the fixture reaches K rows)
        (-F.col("doc_id") - 1).alias("doc_id"),
        "text",
    )
    new = kept.unionByName(added)
    o = old.select("doc_id", F.md5("text").alias("h_old"))
    n = new.select("doc_id", F.md5("text").alias("h_new"))
    change = (
        F.when(F.col("h_old").isNull(), F.lit("added"))
        .when(F.col("h_new").isNull(), F.lit("removed"))
        .when(F.col("h_old") != F.col("h_new"), F.lit("changed"))
    )
    return (
        o.join(n, "doc_id", "full_outer")
        .select("doc_id", change.alias("change"))
        .filter(F.col("change").isNotNull())
    )


D27_SQL = """
WITH old AS (SELECT doc_id, text FROM documents),
newsnap AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END AS text
  FROM old WHERE doc_id % 11 <> 0
  UNION ALL
  SELECT -doc_id - 1, text FROM old WHERE doc_id % 50 = 0),
o AS (SELECT doc_id, md5(text) AS h_old FROM old),
n AS (SELECT doc_id, md5(text) AS h_new FROM newsnap)
SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            WHEN h_old <> h_new THEN 'changed' END AS change
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
WHERE (o.doc_id IS NULL OR n.doc_id IS NULL OR h_old <> h_new)
"""


# ------------------------------------- d28/d31 BPE induction + encode ---

def d28_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 8 BPE merge rules learned from the corpus word-frequency
    table (`operators/bpe.py`, incremental pair-count maintenance).
    Hash-gated since r11: the driver-coordinated argmax loop has a fixed
    depth (n_merges=8), so the oracle unrolls it as 8 DuckDB CTE stages
    — pair-count → (freq DESC, l, r) argmax → greedy-fold re-tokenize —
    where the fold is the same left-to-right accumulate as
    ``bpe._merge_fold`` expressed via ``list_reduce`` (see D28_SQL).
    The Python-reference equality suite in tests/test_bpe.py remains
    the unit-level check; the ENCODE face is hash-gated as d31."""
    from ..operators.bpe import bpe_merges

    return bpe_merges(load_table(spark, sf_dir, "documents"), n_merges=8)


def _d28_stage(k: int) -> str:
    """One unrolled BPE induction round: count adjacent symbol pairs of
    w{k}, pick the (freq DESC, l, r) argmax, and re-tokenize into
    w{k+1} by the greedy left-to-right fold.  The fold mirrors
    ``bpe._merge_fold`` exactly: the accumulator is the space-joined
    token string (words are whitespace-split, so ' ' can never occur
    inside a symbol), and a merge fires iff the accumulator's LAST
    token equals l and the current symbol equals r — appending x
    without a separator IS the concatenation l||r.  A token merged
    this round can never re-match l (l||r ≠ l since r is non-empty),
    which is what makes the fold equivalent to the scan-and-skip
    reference semantics on overlaps ('ggg' under (g,g) → 'gg','g')."""
    return f"""
c{k} AS (
  SELECT p.l AS l, p.r AS r, sum(freq)::BIGINT AS pair_freq
  FROM w{k}, unnest(list_transform(range(1, len(syms)),
                                   i -> struct_pack(l := syms[i], r := syms[i + 1]))) AS t(p)
  GROUP BY 1, 2),
m{k} AS (SELECT l, r, pair_freq FROM c{k} ORDER BY pair_freq DESC, l, r LIMIT 1),
w{k + 1} AS (
  SELECT freq,
         CASE WHEN len(syms) <= 1 THEN syms
              ELSE string_split(
                     list_reduce(syms,
                       (acc, x) -> CASE WHEN (acc = m{k}.l OR ends_with(acc, ' ' || m{k}.l))
                                             AND x = m{k}.r
                                        THEN acc || x
                                        ELSE acc || ' ' || x END), ' ')
         END AS syms
  FROM w{k}, m{k})"""


# Tokenization matches bpe_merges bit-for-bit: lower+trim+\s+-split+
# drop-empties for words, per-character symbols.  (Verified r12: BOTH
# Spark split(w,'') and DuckDB string_split(w,'') split per CODEPOINT —
# surrogate pairs stay whole, combining marks are their own piece — so
# the parity holds beyond ASCII; the residual boundary is normalization
# form, pinned by test_charpoly_non_ascii_boundary.  See also
# operators/selection.py charpoly_hash.)
D28_SQL = (
    """WITH words AS (
  SELECT t AS word, count(*)::BIGINT AS freq
  FROM documents,
       unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                          x -> x <> '')) AS u(t)
  GROUP BY t),
w0 AS (
  SELECT freq, list_filter(string_split(word, ''), s -> s <> '') AS syms
  FROM words),"""
    + ",".join(_d28_stage(k) for k in range(8))
    + "\n"
    + "\nUNION ALL\n".join(
        f'SELECT {k + 1}::INTEGER AS rank, l AS "left", r AS "right", pair_freq '
        f"FROM m{k}"
        for k in range(8)
    )
)


# d31: the encode face, hash-gated.  The merge table is FIXED (not the
# d28-induced one) because oracle SQL is a static string shared across
# scale factors while induction is corpus-dependent; the fixed rules are
# chosen adversarially instead — a 4-deep cascade (t→ta→tab→tabl→table),
# a repeated-character pair, and rules that interact through shared
# symbols — a stricter exercise of the greedy fold than whatever the
# corpus happens to induce.  bpe_encode(induced rules) equality is
# separately pinned in tests/test_bpe.py.
BPE_ENCODE_RULES = [
    ("t", "a"), ("ta", "b"), ("tab", "l"), ("tabl", "e"),
    ("a", "g"), ("g", "g"), ("s", "c"), ("h", "e"),
]


def d31_bpe_encode_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, bpe): every distinct corpus word re-tokenized by replaying
    the fixed merge table in rank order — the inference face of BPE as a
    pure narrow JVM fold over the vocabulary (no shuffle beyond the
    distinct)."""
    from ..operators.bpe import bpe_encode_words

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(
            F.filter(
                textops.ws_tokens(F.lower(F.col("text"))), lambda t: t != F.lit("")
            )
        ).alias("word")
    ).distinct()
    return bpe_encode_words(words, BPE_ENCODE_RULES).select(
        "word", F.array_join("bpe_tokens", " ").alias("bpe")
    )


# -------------------------- d38 boilerplate line removal (C4-style) ------

BOILER_LINE_TOKENS = 10


def d38_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style boilerplate removal: a line appearing in
    ≥50% of a source's documents is site furniture and is stripped from
    every document of that source before the corpus enters training.
    The fixture text has no line structure, so the corpus constructs it
    deterministically on both sides (the d27/d33 pattern): natural
    lines = the document's 10-token chunks (`chunk_documents`, zero
    overlap), plus an injected per-source nav line on EVERY document
    (100% frequent → must drop) and a per-source subscribe line on
    every 3rd document (~33% → under the 50% threshold, must keep).
    Ships (doc_id, md5(reassembled text), n_kept, n_dropped)."""
    from ..operators.textops import chunk_documents, remove_boilerplate_lines

    docs = load_table(spark, sf_dir, "documents")
    nat = chunk_documents(
        docs, BOILER_LINE_TOKENS, 0, keep_cols=("source",)
    ).select(
        "doc_id",
        "source",
        (F.col("chunk_id") + 1).alias("pos"),
        F.col("chunk_text").alias("line"),
    )
    nav = docs.select(
        "doc_id",
        "source",
        F.lit(0).alias("pos"),
        F.concat(F.lit("home about contact "), "source").alias("line"),
    )
    subscribe = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id",
        "source",
        F.lit(1_000_000).alias("pos"),
        F.concat(F.lit("subscribe to "), "source").alias("line"),
    )
    cleaned = remove_boilerplate_lines(
        nat.unionByName(nav).unionByName(subscribe)
    )
    return cleaned.select(
        "doc_id", F.md5("clean_text").alias("clean_md5"), "n_kept", "n_dropped"
    )


D38_SQL = f"""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '') AS ts
  FROM documents),
nat AS (
  SELECT doc_id, source,
         unnest(list_transform(
           range(0, (greatest(length(ts), 1) + {BOILER_LINE_TOKENS - 1})
                      // {BOILER_LINE_TOKENS}),
           c -> struct_pack(
             pos := c + 1,
             line := array_to_string(
               list_slice(ts, c*{BOILER_LINE_TOKENS} + 1,
                          c*{BOILER_LINE_TOKENS} + {BOILER_LINE_TOKENS}),
               ' ')))) AS p
  FROM toks WHERE length(ts) > 0),
lines AS (
  SELECT doc_id, source, p.pos AS pos, p.line AS line FROM nat
  UNION ALL
  SELECT doc_id, source, 0, 'home about contact ' || source FROM documents
  UNION ALL
  SELECT doc_id, source, 1000000, 'subscribe to ' || source
  FROM documents WHERE doc_id % 3 = 0),
srcdocs AS (
  SELECT source, count(DISTINCT doc_id) AS n_docs FROM lines GROUP BY source),
boiler AS (
  SELECT f.source, f.line
  FROM (SELECT source, line, count(DISTINCT doc_id) AS n
        FROM lines GROUP BY source, line) f
  JOIN srcdocs s ON f.source = s.source
  WHERE f.n >= 2 AND f.n >= 0.5 * s.n_docs),
flagged AS (
  SELECT l.doc_id, l.pos, l.line, (b.line IS NOT NULL) AS is_boiler
  FROM lines l
  LEFT JOIN boiler b ON l.source = b.source AND l.line = b.line)
SELECT doc_id,
       md5(coalesce(string_agg(line, chr(10) ORDER BY pos)
                      FILTER (WHERE NOT is_boiler), '')) AS clean_md5,
       count(*) FILTER (WHERE NOT is_boiler) AS n_kept,
       count(*) FILTER (WHERE is_boiler) AS n_dropped
FROM flagged GROUP BY doc_id
"""


# ------------------------------- d39 CDC change-log apply (MERGE) --------

def d39_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a CDC change log to the corpus snapshot (the MERGE half of
    d27's diff): a two-seq log exercises every compaction path — seq 1
    upserts ' v2' onto every 5th doc; seq 2 then deletes every 10th
    (late delete beats the earlier upsert) and re-upserts ' v3' onto
    every 15th-but-not-10th (late upsert beats the earlier one); new
    keys (-doc_id-1, every 50th) insert.  The oracle is the CLOSED-FORM
    final state, independent of the merge mechanics, so a compaction
    ordering bug or a lost/phantom row fails the hash.  Ships
    (doc_id, md5(text))."""
    from ..operators.cdc import apply_changes

    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    merged = apply_changes(base, _cdc_change_log(base), seq_col="seq")
    return merged.select("doc_id", F.md5("text").alias("text_md5"))


def _cdc_change_log(base: DataFrame) -> DataFrame:
    """The shared d39/e26 fixture log (see d39's docstring for why each
    branch exists): (doc_id, text, seq, op) with unique (key, seq)."""
    d = F.col("doc_id")
    ups1 = base.filter(d % 5 == 0).select(
        "doc_id",
        F.concat("text", F.lit(" v2")).alias("text"),
        F.lit(1).alias("seq"),
        F.lit("upsert").alias("op"),
    )
    dels2 = base.filter(d % 10 == 0).select(
        "doc_id",
        F.lit(None).cast("string").alias("text"),
        F.lit(2).alias("seq"),
        F.lit("delete").alias("op"),
    )
    ups2 = base.filter((d % 15 == 0) & (d % 10 != 0)).select(
        "doc_id",
        F.concat("text", F.lit(" v3")).alias("text"),
        F.lit(2).alias("seq"),
        F.lit("upsert").alias("op"),
    )
    inserts = base.filter(d % 50 == 0).select(
        # negative-domain insert keys: collision-free at any sf (d27 note)
        (-d - 1).alias("doc_id"),
        "text",
        F.lit(1).alias("seq"),
        F.lit("upsert").alias("op"),
    )
    return ups1.unionByName(dels2).unionByName(ups2).unionByName(inserts)


D39_SQL = """
SELECT doc_id,
       md5(CASE WHEN doc_id % 15 = 0 AND doc_id % 10 <> 0 THEN text || ' v3'
                WHEN doc_id % 5 = 0 THEN text || ' v2'
                ELSE text END) AS text_md5
FROM documents WHERE doc_id % 10 <> 0
UNION ALL
SELECT -doc_id - 1 AS doc_id, md5(text) AS text_md5
FROM documents WHERE doc_id % 50 = 0
"""


# ------------------------- e26 streaming CDC upsert (foreachBatch MERGE) --

def e26_streaming_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lakehouse streaming-upsert topology, composed from two gated
    halves (d39's MERGE + e22's foreachBatch sink): a keyed CDC change
    log streamed with ``readStream`` → ``foreachBatch`` folding each
    micro-batch into a VERSIONED base store via ``merge_versioned`` —
    the seq-guarded latest-wins MERGE whose re-application is a no-op.

    The gate PROVES idempotence the e22 way, but for MERGE: the same
    2-slice log (one parquet file per seq, mtimes in offset order) is
    streamed TWICE into the same store — a fresh query with no
    checkpoint replays every batch, the simulated at-least-once
    re-delivery.  An unguarded merge would regress ' v3' rows back to
    ' v2' and resurrect deleted keys on the replayed seq-1 batch; the
    seq guard makes every replayed change lose to the stored seq, so
    the final state still matches the SAME closed-form oracle as d39.
    Deletes persist as tombstones until read (`live_view`).

    At 100 TB: the store write is a partition overwrite of touched
    partitions (here: whole-store versions, the sandbox stand-in); the
    merge itself shuffles (key, seq, md5-sized payload) once per batch.
    Reference parity: the reference re-crawls and rebuilds its store
    from scratch per ingest (Hype.py:64-86); this is the incremental
    streaming face of that flow."""
    import os
    import shutil
    import tempfile

    from ..operators.cdc import UPSERT, live_view, merge_versioned

    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    log = _cdc_change_log(base)
    logd = tempfile.mkdtemp(prefix="e26_log_")
    store = tempfile.mkdtemp(prefix="e26_store_")
    try:
        # one parquet file per seq slice, mtimes in seq order → the file
        # source replays the log in offset order, one micro-batch per
        # slice (the _write_ts_slices trick keyed on seq)
        log.repartitionByRange(2, "seq").write.mode("append").parquet(logd)
        files = sorted(f for f in os.listdir(logd) if not f.startswith(("_", ".")))
        # the two-micro-batch replay below is the whole point of the
        # spec; if range partitioning ever collapsed the log into one
        # file the stream would replay as ONE batch and the cross-batch
        # seq-guard claim would silently weaken — fail loudly instead
        if len(files) != 2:
            raise AssertionError(
                f"e26 log split into {len(files)} files, expected 2 "
                "(one per seq range slice)"
            )
        for i, f in enumerate(files):
            os.utime(os.path.join(logd, f), (1_000_000 + i, 1_000_000 + i))

        state = {"v": 0}
        base.select(
            "doc_id", "text", F.lit(0).alias("seq"), F.lit(UPSERT).alias("op")
        ).write.mode("overwrite").parquet(f"{store}/v0")

        def merge_batch(bdf: DataFrame, bid: int) -> None:
            cur = spark.read.parquet(f"{store}/v{state['v']}")
            merged = merge_versioned(cur, bdf)
            state["v"] += 1
            merged.write.mode("overwrite").parquet(f"{store}/v{state['v']}")

        for _ in range(2):  # second pass = simulated duplicate delivery
            q = (
                spark.readStream.schema("doc_id long, text string, seq int, op string")
                .option("maxFilesPerTrigger", 1)
                .parquet(logd)
                .writeStream.foreachBatch(merge_batch)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        # materialize BEFORE the finally rmtree (the s07/e22 pattern)
        return (
            live_view(spark.read.parquet(f"{store}/v{state['v']}"))
            .select("doc_id", F.md5("text").alias("text_md5"))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(logd, ignore_errors=True)
        shutil.rmtree(store, ignore_errors=True)


# ----------- e27 streaming CDC upsert into a PARTITIONED store (in place) --

def e27_streaming_partitioned_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """e26's foreachBatch MERGE retargeted at the PRODUCTION store
    layout: ONE parquet directory partitioned by ``pt = pmod(doc_id, 8)``,
    each micro-batch folded with ``merge_versioned`` over ONLY the
    partitions its keys touch and written back in place with dynamic
    partition overwrite (the s10 machinery) — replacing e26's
    whole-store ``v{n}`` versioning stand-in.

    The change log is the shared d39 fixture RESTRICTED to the key band
    ``pt ∈ {1, 2}`` — chosen so every op path still fires in-band
    (v2/v3 upserts, deletes at doc_id ≡ 10 (mod 40), negative-key
    inserts at doc_id ≡ 150/350 (mod 400)) while six of the eight
    partitions stay untouched, making the isolation invariant real.

    Asserted in-spec, loudly, on EVERY batch of BOTH passes:
    - WRITE ISOLATION: untouched partitions' files are byte-identical
      across the batch (relative path, size, and content md5 all
      unchanged) — the file-level claim behind "rewrite the day, not
      the lake".
    - IDEMPOTENCE: the log replays twice (fresh stream, no checkpoint);
      the seq guard makes the second pass a content no-op and the final
      state matches the same closed-form oracle shape as d39, banded.

    Scale shape: the merge window shuffles |touched partitions| +
    |batch| rows, never the store; the store read prunes to touched
    directories (partition filter before the scan); the write rewrites
    only those directories.  The eager localCheckpoint before the write
    is the sandbox's read-write barrier for overwriting a path that
    feeds the plan — a lakehouse table format's copy-on-write MERGE
    gives the same isolation transactionally."""
    import hashlib
    import os
    import shutil
    import tempfile

    from ..operators.cdc import UPSERT, live_view, merge_versioned

    n_pt = 8
    band = (1, 2)
    pt = F.pmod(F.col("doc_id"), F.lit(n_pt)).cast("int")
    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    log = _cdc_change_log(base).filter(pt.isin(*band))
    logd = tempfile.mkdtemp(prefix="e27_log_")
    store = tempfile.mkdtemp(prefix="e27_store_")

    def untouched_files(touched: set[int]) -> dict[str, tuple[int, str]]:
        """{relpath: (size, md5)} over every store file OUTSIDE the
        touched partition directories."""
        skip = {f"pt={p}" for p in touched}
        out: dict[str, tuple[int, str]] = {}
        for root, _dirs, files in os.walk(store):
            rel = os.path.relpath(root, store)
            if rel.split(os.sep)[0] in skip:
                continue
            for fn in files:
                if fn.startswith(("_", ".")):
                    continue
                p = os.path.join(root, fn)
                with open(p, "rb") as fh:
                    digest = hashlib.md5(fh.read()).hexdigest()
                out[os.path.join(rel, fn)] = (os.path.getsize(p), digest)
        return out

    try:
        log.repartitionByRange(2, "seq").write.mode("append").parquet(logd)
        files = sorted(f for f in os.listdir(logd) if not f.startswith(("_", ".")))
        if len(files) != 2:  # same loud guard as e26 — the replay IS the spec
            raise AssertionError(
                f"e27 log split into {len(files)} files, expected 2"
            )
        for i, f in enumerate(files):
            os.utime(os.path.join(logd, f), (1_000_000 + i, 1_000_000 + i))

        base.select(
            "doc_id", "text", F.lit(0).alias("seq"), F.lit(UPSERT).alias("op"),
            pt.alias("pt"),
        ).write.mode("overwrite").partitionBy("pt").parquet(store)

        def merge_batch(bdf: DataFrame, bid: int) -> None:
            b = bdf.withColumn("pt", pt).localCheckpoint(eager=True)
            touched = {r.pt for r in b.select("pt").distinct().collect()}
            if not touched.issubset(set(band)):
                raise AssertionError(f"e27 batch escaped the key band: {touched}")
            before = untouched_files(touched)
            cur = spark.read.parquet(store).filter(F.col("pt").isin(*touched))
            merged = merge_versioned(cur, b).localCheckpoint(eager=True)
            merged.write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("pt").parquet(store)
            after = untouched_files(touched)
            if before != after:
                drift = {
                    k
                    for k in before.keys() | after.keys()
                    if before.get(k) != after.get(k)
                }
                raise AssertionError(
                    f"e27 batch {bid} touched files outside {touched}: {drift}"
                )

        for _ in range(2):  # second pass = simulated duplicate delivery
            q = (
                spark.readStream.schema("doc_id long, text string, seq int, op string")
                .option("maxFilesPerTrigger", 1)
                .parquet(logd)
                .writeStream.foreachBatch(merge_batch)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        return (
            live_view(spark.read.parquet(store).drop("pt"))
            .select("doc_id", F.md5("text").alias("text_md5"))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(logd, ignore_errors=True)
        shutil.rmtree(store, ignore_errors=True)


E27_SQL = """
SELECT doc_id,
       md5(CASE WHEN doc_id % 8 IN (1, 2) AND doc_id % 15 = 0
                     AND doc_id % 10 <> 0 THEN text || ' v3'
                WHEN doc_id % 8 IN (1, 2) AND doc_id % 5 = 0 THEN text || ' v2'
                ELSE text END) AS text_md5
FROM documents
WHERE NOT (doc_id % 8 IN (1, 2) AND doc_id % 10 = 0)
UNION ALL
SELECT -doc_id - 1 AS doc_id, md5(text) AS text_md5
FROM documents WHERE doc_id % 50 = 0 AND doc_id % 8 IN (5, 6)
"""


# ------------------------------- d40 order-independent table checksum ---

def d40_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source table checksum for replica / migration verification —
    the audit primitive that pairs with d27 (diff) and d39 (apply): two
    copies of a 100 TB corpus compare by exchanging three numbers per
    source instead of any rows.

    Two independent folds over 60-bit md5 row slices, because each is
    blind to a failure mode the other catches: ``bit_xor`` is
    order-independent but CANCELS on even-multiplicity rows (a row
    duplicated twice XORs to zero — invisible), while ``sum`` keeps
    multiplicity but could in principle collide on crafted offsets; a
    corruption would have to fool both plus the row count.  All three
    aggregates are one map-side-combined shuffle of (source, 3×8 bytes)
    — the payload never moves.

    60-bit slices (15 hex chars) keep the sum far from bigint overflow:
    2^63 / 2^60 = 8 — too tight for sum, so the SUM fold uses 32-bit
    slices (safe to ~2^31 rows per source) while XOR uses the full 60.

    Both dialects' fragments come from ``functions.integrity`` — one
    source for the slice arithmetic AND the NULL-sentinel row string
    (a bare concat_ws would skip NULL fields, hashing a value that
    slid between columns identically — invisible to the very audit
    this provides; see the module docstring there).
    """
    from ..functions.integrity import spark_md5_slice, spark_row_key

    docs = load_table(spark, sf_dir, "documents")
    row = spark_row_key("doc_id", "source", "lang", "text")
    return docs.groupBy("source").agg(
        F.count("*").alias("n_rows"),
        F.expr(f"bit_xor({spark_md5_slice(row, 15)})").alias("xor_cks"),
        F.expr(f"sum({spark_md5_slice(row, 8)})").alias("sum_cks"),
    )


def _d40_sql() -> str:
    from ..functions.integrity import duck_md5_slice, duck_row_key

    row = duck_row_key("doc_id", "source", "lang", "text")
    return f"""
SELECT source, count(*) AS n_rows,
       bit_xor({duck_md5_slice(row, 15)}) AS xor_cks,
       sum({duck_md5_slice(row, 8)})::BIGINT AS sum_cks
FROM documents GROUP BY source
"""


D40_SQL = _d40_sql()


# --------------------------- d41 observed metrics (one-pass audit) ------

def d41_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit counters piggybacked on the curation scan via the
    ``Observation`` API — the operational primitive that makes 100 TB
    pipelines monitorable: the SAME action that materializes the
    curated output also reports what the filter saw and dropped, with
    NO second pass over the input (a separate count-query audit doubles
    the scan cost and can disagree with what the job actually read).

    The observe node sits ABOVE the scan and BELOW the filter, so the
    counters describe the full input while the action materializes only
    the survivors; the returned row carries both (``n_curated`` from
    the action, the rest from the observation), and the closed-form
    oracle recomputes every number independently — a counter placed on
    the wrong side of the filter fails the gate.
    """
    from pyspark.sql import Observation

    docs = load_table(spark, sf_dir, "documents")
    obs = Observation("d41")
    observed = docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.length("text") < 200).cast("long")).alias("n_short"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )
    n_curated = observed.filter(F.length("text") >= 200).count()  # THE action
    m = obs.get
    return spark.createDataFrame(
        [
            (
                m["n_rows"],
                m["n_short"],
                m["min_chars"],
                m["max_chars"],
                n_curated,
            )
        ],
        "n_rows long, n_short long, min_chars long, max_chars long, n_curated long",
    )


D41_SQL = """
SELECT count(*)::BIGINT AS n_rows,
       sum(CASE WHEN length(text) < 200 THEN 1 ELSE 0 END)::BIGINT AS n_short,
       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
       sum(CASE WHEN length(text) >= 200 THEN 1 ELSE 0 END)::BIGINT AS n_curated
FROM documents
"""


def _bpe_rule_ctes(k: int, left: str, right: str) -> str:
    # One rule = one recursive CTE replacing the LEFTMOST separator-
    # guarded occurrence until none remains.  Leftmost-repeat equals the
    # greedy left-to-right fold exactly: a merged token can never create
    # a match EARLIER in the word under the same rule (it would need
    # left+right to equal the rule's left or right part, impossible by
    # length), so restart-from-the-left finds the same merge sequence.
    # Plain nested replace() CANNOT express this: global replace consumes
    # the shared boundary separator, silently skipping every second
    # merge in a repeated-pair run ("aaaa" must fold to [aa,aa]).
    pat = f"chr(31) || '{left}' || chr(31) || '{right}' || chr(31)"
    repl = f"chr(31) || '{left}{right}' || chr(31)"
    plen = len(left) + len(right) + 3
    prev = f"s{k - 1}"
    return f"""
r{k} AS (
  SELECT word, s, 0 AS it FROM {prev}
  UNION ALL
  SELECT word,
         substr(s, 1, strpos(s, {pat}) - 1) || {repl}
           || substr(s, strpos(s, {pat}) + {plen}),
         it + 1
  FROM r{k} WHERE strpos(s, {pat}) > 0),
s{k} AS (SELECT word, arg_max(s, it) AS s FROM r{k} GROUP BY word)
"""


D31_SQL = (
    """
WITH RECURSIVE words AS (
  SELECT DISTINCT unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                     t -> t <> '')) AS word
  FROM documents),
s0 AS (
  SELECT word, chr(31) || regexp_replace(word, '(.)', '\\1' || chr(31), 'g') AS s
  FROM words),"""
    + ",".join(_bpe_rule_ctes(k + 1, l, r) for k, (l, r) in enumerate(BPE_ENCODE_RULES))
    + f"""
SELECT word, replace(trim(s, chr(31)), chr(31), ' ') AS bpe
FROM s{len(BPE_ENCODE_RULES)}
"""
)


# ----------------------------------------------- a06 quantized ANN ------

def a06_quantized_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN search over scalar-quantized (int8-range) vectors — the
    memory-compression path for 100 TB vector search (the quantized
    copy is 4× smaller and the integer dot-product ranking is bit-exact
    across engines; the float vectors stay cold for reranking)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return quantized_topk(emb, ANN_QUERY_IDS, k=10)


A06_SQL = f"""
WITH vals AS (
  SELECT vec_id, unnest(embedding::DOUBLE[]) AS val,
         unnest(range(1, len(embedding) + 1)) AS pos
  FROM embeddings),
stats AS (SELECT pos, min(val) AS mn, max(val) AS mx FROM vals GROUP BY 1),
q AS (
  SELECT vec_id, pos,
         CASE WHEN mx = mn THEN 0
              ELSE CAST(round((val - mn) / (mx - mn) * 255.0) AS INT) - 128 END AS q
  FROM vals JOIN stats USING (pos)),
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         CAST(sum(a.q * b.q) AS BIGINT) AS score
  FROM q a JOIN q b ON a.pos = b.pos AND b.vec_id <> a.vec_id
  WHERE a.vec_id IN ({", ".join(str(i) for i in ANN_QUERY_IDS)})
  GROUP BY 1, 2)
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
  FROM scored) WHERE rank <= 10
"""


# ----------------------------------------- a10 two-stage ANN rerank ------

A10_OVERFETCH = 4


def a10_two_stage_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production two-stage ANN: the int8 first stage (a06 machinery)
    overfetches 4·k candidates from the compressed copy, exact float
    cosine re-scores ONLY those and cuts to the final top-10 — the
    recall/cost knob every production vector store exposes.  The float
    table is scanned map-side against a broadcast candidate frame; at
    k·overfetch ≥ N the result equals a01 exactly (test-pinned)."""
    from ..operators.similarity import two_stage_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return two_stage_topk(emb, ANN_QUERY_IDS, k=10, overfetch=A10_OVERFETCH)


A10_SQL = f"""
WITH vals AS (
  SELECT vec_id, unnest(embedding::DOUBLE[]) AS val,
         unnest(range(1, len(embedding) + 1)) AS pos
  FROM embeddings),
stats AS (SELECT pos, min(val) AS mn, max(val) AS mx FROM vals GROUP BY 1),
qz AS (
  SELECT vec_id, pos,
         CASE WHEN mx = mn THEN 0
              ELSE CAST(round((val - mn) / (mx - mn) * 255.0) AS INT) - 128 END AS q
  FROM vals JOIN stats USING (pos)),
stage1 AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         CAST(sum(a.q * b.q) AS BIGINT) AS score
  FROM qz a JOIN qz b ON a.pos = b.pos AND b.vec_id <> a.vec_id
  WHERE a.vec_id IN ({", ".join(str(i) for i in ANN_QUERY_IDS)})
  GROUP BY 1, 2),
cands AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, neighbor_id) AS rank
    FROM stage1) WHERE rank <= {10 * A10_OVERFETCH}),
qe AS (SELECT vec_id AS query_id, embedding FROM embeddings
       WHERE vec_id IN ({", ".join(str(i) for i in ANN_QUERY_IDS)})),
rer AS (
  SELECT c.query_id, c.neighbor_id, {_COS_AB.format(a="qe", b="e")} AS sim
  FROM cands c JOIN qe USING (query_id)
  JOIN embeddings e ON e.vec_id = c.neighbor_id)
SELECT query_id, neighbor_id, sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, neighbor_id) AS rank
  FROM rer) WHERE rank <= 10
"""


# ------------------------------------------------ a11 filtered ANN -------

A11_LABEL = 1


def a11_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered exact ANN — top-10 cosine neighbors among ONLY
    the label=1 vectors (the production "filtered vector search" shape:
    retrieval constrained by lang/date/tenant metadata).  PRE-filtering,
    not post-filtering: the label predicate reaches the candidate
    parquet scan as a PushedFilter (plan-pinned), so ~10% of the corpus
    is read and scored and k still fills; post-filtering an unfiltered
    top-k under-fills k whenever the filter is selective."""
    from ..operators.similarity import filtered_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return filtered_topk(
        emb, ANN_QUERY_IDS, F.col("label") == A11_LABEL, k=10
    )


A11_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings
           WHERE vec_id IN ({", ".join(str(i) for i in ANN_QUERY_IDS)})),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, {_COS_AB.format(a='q', b='e')} AS sim
  FROM q JOIN embeddings e
    ON e.vec_id <> q.query_id AND e.label = {A11_LABEL})
SELECT query_id, neighbor_id, sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored) WHERE rank <= 10
"""


# ------------------------------- d30 approx-quantile contract -------------

def d30_approx_quantile_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The d20 docstring's "percentile_approx is the 100 TB path" claim,
    GATED (the q17 pattern for quantiles): per source, the exact
    interpolated median alongside a boolean asserting the GK sketch
    (accuracy 10000 → rank error n/10000) landed within 10%.  Only the
    exact value and the contract ship in the output — the sketch value
    itself depends on partition merge order, so hashing it would make
    the gate flaky; the CONTRACT is the stable, portable statement."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", textops.token_count(F.col("text")).alias("tok"))
    return (
        toks.groupBy("source")
        .agg(
            F.round(F.expr("percentile(tok, 0.5)"), 6).alias("median_exact"),
            F.expr("percentile_approx(tok, 0.5, 10000)").alias("__approx"),
        )
        .select(
            "source",
            "median_exact",
            (
                F.abs(F.col("__approx") - F.col("median_exact"))
                <= 0.1 * F.col("median_exact")
            ).alias("approx_ok"),
        )
    )


D30_SQL = r"""
WITH toks AS (
  SELECT source, len(string_split_regex(trim(text), '\s+')) AS tok FROM documents)
SELECT source, round(quantile_cont(tok, 0.5), 6) AS median_exact, TRUE AS approx_ok
FROM toks GROUP BY source
"""


# -------------------------------------- d34 approx-distinct contract -----

def d34_approx_distinct_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cardinality estimation at 100 TB: count-distinct of a high-
    cardinality key is a full shuffle of every distinct value, while
    HyperLogLog++ is a constant-size sketch that merges map-side —
    the d30 pattern applied to distinct counts.  Per source, the exact
    distinct text-hash count ships alongside a boolean asserting the
    HLL estimate (rsd 5%) landed within 3×rsd; the estimate itself is
    engine-specific, so only the exact value and the CONTRACT are
    gated (the oracle asserts the contract is satisfiable: TRUE)."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select("source", F.md5("text").alias("h"))
    return (
        keyed.groupBy("source")
        .agg(
            F.countDistinct("h").alias("n_exact"),
            F.expr("approx_count_distinct(h, 0.05)").alias("__approx"),
        )
        .select(
            "source",
            "n_exact",
            (
                F.abs(F.col("__approx") - F.col("n_exact"))
                <= 0.15 * F.col("n_exact")
            ).alias("approx_ok"),
        )
    )


D34_SQL = """
SELECT source, count(DISTINCT md5(text)) AS n_exact, TRUE AS approx_ok
FROM documents GROUP BY source
"""


# -------------------------------------- d35 heavy-hitters contract -------

D35_TOP_K = 20
D35_SUPPORT = 0.001  # freq_items minimum support (Spark floor is 1e-4)


def d35_heavy_hitters_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate frequent-items at 100 TB — the skew-audit primitive
    that pairs with ``operators/skew.py``: before salting a join you
    need to KNOW the heavy keys, and an exact per-key count of a
    100 TB key column is a full shuffle, while Spark's ``freqItems``
    (Karp–Shenker–Papadimitriou one-pass counting) is a bounded-size
    per-partition summary merged without shuffling per-key counts.

    The d30/d34 contract pattern: the exact top-K words (deterministic
    ties → word asc) ship alongside a boolean asserting the sketch's
    one-sided guarantee — every item with frequency > support·n MUST
    appear in the sketch result (no false negatives; false positives
    are allowed and irrelevant here).  Words at or under the support
    line are outside the guarantee, so the contract is
    ``n <= support·total OR word ∈ sketch`` — deterministically TRUE by
    the algorithm, which is exactly what makes it gate-able (the
    sketch's item LIST is merge-order-dependent and never shipped)."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(textops.nonempty_tokens(F.col("text"))).alias("word")
    )
    counts = words.groupBy("word").agg(F.count("*").alias("n"))
    total = counts.agg(F.sum("n").alias("__total"))
    sketch = words.stat.freqItems(["word"], D35_SUPPORT)  # 1-row array summary
    top = counts.orderBy(F.desc("n"), "word").limit(D35_TOP_K)
    return (
        top.crossJoin(F.broadcast(sketch))
        .crossJoin(F.broadcast(total))
        .select(
            "word",
            "n",
            (
                (F.col("n") <= F.lit(D35_SUPPORT) * F.col("__total"))
                | F.array_contains(F.col("word_freqItems"), F.col("word"))
            ).alias("sketch_ok"),
        )
    )


D35_SQL = rf"""
WITH words AS (
  SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS word
  FROM documents),
counts AS (SELECT word, count(*) AS n FROM words GROUP BY word)
SELECT word, n, TRUE AS sketch_ok
FROM counts ORDER BY n DESC, word LIMIT {D35_TOP_K}
"""


# ---------------------------------- d36 Naive Bayes classifier -----------

def d36_nb_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-and-apply document classification, fully gated: multinomial
    Naive Bayes (Laplace α=1) fit on the corpus' own ``lang`` labels and
    applied back to it, shipped as the (true, predicted) confusion
    matrix — the CCNet/fastText-style curation-filter shape with a
    CLOSED-FORM trainer, so unlike iterative classifiers the whole
    train+predict pipeline has an exact DuckDB oracle.  Only the argmax
    ships (ties → smallest label); raw log-sum scores are aggregation-
    order-dependent floats and stay inside the plan
    (`operators/classify.py` module docstring)."""
    from ..operators.classify import nb_predict, nb_train

    docs = load_table(spark, sf_dir, "documents")
    model = nb_train(docs, "lang")
    pred = nb_predict(docs, model)
    return (
        pred.join(docs.select(F.col("doc_id").alias("id"), "lang"), "id")
        .groupBy(F.col("lang").alias("true_lang"), "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


D36_SQL = r"""
WITH toks AS (
  SELECT doc_id, lang,
         unnest(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS word
  FROM documents),
wc AS (SELECT lang, word, count(*) AS cnt FROM toks GROUP BY 1, 2),
ct AS (SELECT lang, sum(cnt) AS total FROM wc GROUP BY 1),
v AS (SELECT count(DISTINCT word) AS v FROM wc),
nd AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
priors AS (
  SELECT lang, ln(n / (SELECT sum(n) FROM nd)) AS log_prior FROM nd),
words AS (
  SELECT wc.lang, wc.word,
         ln((cnt + 1.0) / (total + (SELECT v FROM v))) AS log_prob
  FROM wc JOIN ct USING (lang)),
floors AS (
  SELECT lang, ln(1.0 / (total + (SELECT v FROM v))) AS log_floor FROM ct),
perclass AS (
  SELECT t.doc_id, f.lang AS label, coalesce(w.log_prob, f.log_floor) AS lp
  FROM toks t CROSS JOIN floors f
  LEFT JOIN words w ON w.lang = f.lang AND w.word = t.word),
sums AS (SELECT doc_id, label, sum(lp) AS s FROM perclass GROUP BY 1, 2),
scored AS (
  SELECT s.doc_id, s.label, s.s + p.log_prior AS score
  FROM sums s JOIN priors p ON p.lang = s.label),
pred AS (
  SELECT doc_id, label AS predicted FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY score DESC, label ASC) AS rn
    FROM scored) WHERE rn = 1)
SELECT d.lang AS true_lang, p.predicted, count(*) AS n_docs
FROM pred p JOIN documents d USING (doc_id) GROUP BY 1, 2
"""


# ------------------------------- d37 bigram-LM perplexity filter ---------

def d37_bigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet-style perplexity quality filter, fully gated: an add-1
    bigram LM trained on the EVEN-doc_id half of the corpus scores the
    ODD half (a real train/score split, so the unseen-bigram smoothing
    paths actually fire — self-scoring would make them vacuous).  Per
    the float discipline (d30/d34/d36), only integers ship: bigram
    count, unseen-bigram count, floor(perplexity)."""
    from ..operators.lm import bigram_lm_train, bigram_perplexity

    docs = load_table(spark, sf_dir, "documents")
    model = bigram_lm_train(docs.filter(F.col("doc_id") % 2 == 0))
    out = bigram_perplexity(docs.filter(F.col("doc_id") % 2 == 1), model)
    return out.select(
        F.col("id").alias("doc_id"), "n_bigrams", "n_unseen", "ppl_floor"
    )


D37_SQL = r"""
WITH trtoks AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS ws
  FROM documents WHERE doc_id % 2 = 0),
tetoks AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS ws
  FROM documents WHERE doc_id % 2 = 1),
trbg AS (
  SELECT unnest(list_transform(range(1, len(ws)), i -> ws[i])) AS w1,
         unnest(list_transform(range(1, len(ws)), i -> ws[i+1])) AS w2
  FROM trtoks WHERE len(ws) >= 2),
c2 AS (SELECT w1, w2, count(*) AS cnt FROM trbg GROUP BY 1, 2),
c1 AS (SELECT w1, sum(cnt) AS total FROM c2 GROUP BY 1),
v AS (SELECT count(DISTINCT t) AS v FROM (SELECT unnest(ws) AS t FROM trtoks)),
tebg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ws)), i -> ws[i])) AS w1,
         unnest(list_transform(range(1, len(ws)), i -> ws[i+1])) AS w2
  FROM tetoks WHERE len(ws) >= 2),
scored AS (
  SELECT b.doc_id,
         CASE WHEN c2.cnt IS NOT NULL
                THEN ln((c2.cnt + 1.0) / (c1.total + (SELECT v FROM v)))
              WHEN c1.total IS NOT NULL
                THEN ln(1.0 / (c1.total + (SELECT v FROM v)))
              ELSE ln(1.0 / (SELECT v FROM v)) END AS lp,
         CASE WHEN c2.cnt IS NULL THEN 1 ELSE 0 END AS unseen
  FROM tebg b LEFT JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
              LEFT JOIN c1 ON b.w1 = c1.w1),
agg AS (
  SELECT doc_id, count(*) AS n_bigrams, sum(unseen) AS n_unseen,
         floor(exp(-sum(lp) / count(*))) AS ppl
  FROM scored GROUP BY 1)
SELECT t.doc_id, coalesce(a.n_bigrams, 0)::BIGINT AS n_bigrams,
       coalesce(a.n_unseen, 0)::BIGINT AS n_unseen,
       a.ppl::BIGINT AS ppl_floor
FROM tetoks t LEFT JOIN agg a USING (doc_id)
"""


# ------------------------------------------ d29 dup-span audit ------------

SPAN_N = 8
SPAN_MIN_COUNT = 2


def d29_dup_span_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup audit (Lee et al. 2022 ExactSubstr, the
    fixed-n-gram MapReduce form): corpus-wide duplicated word-8-gram
    spans, merged per document into maximal intervals — the duplicated
    token mass a span-removal pass would cut.  Runs over the injected-
    duplicate corpus so exact copies surface as whole-document spans
    and suffix-shifted copies as partial ones."""
    return dedup.duplicated_span_stats(
        _corpus(spark, sf_dir), n=SPAN_N, min_count=SPAN_MIN_COUNT
    )


D29_SQL = rf"""
WITH {_CORPUS_CTE},
w AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS ws
  FROM corpus),
gp AS (
  SELECT doc_id,
         unnest(range(1, greatest(len(ws) - {SPAN_N} + 2, 1))) - 1 AS pos,
         unnest(list_transform(range(1, greatest(len(ws) - {SPAN_N} + 2, 1)),
                               i -> array_to_string(ws[i:i+{SPAN_N - 1}], ' '))) AS gram
  FROM w),
dup AS (SELECT gram FROM gp GROUP BY gram HAVING count(*) >= {SPAN_MIN_COUNT}),
dpos AS (SELECT gp.doc_id, gp.pos FROM gp JOIN dup USING (gram)),
flagged AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER win IS NULL OR pos > lag(pos) OVER win + {SPAN_N}
              THEN 1 ELSE 0 END AS ni
  FROM dpos WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
isl AS (
  SELECT doc_id, pos,
         sum(ni) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged),
spans AS (SELECT doc_id, island, min(pos) AS s, max(pos) + {SPAN_N} AS e
          FROM isl GROUP BY 1, 2),
pd AS (SELECT doc_id, count(*) AS n_dup_spans, sum(e - s) AS dup_tokens
       FROM spans GROUP BY 1)
SELECT w.doc_id, len(w.ws)::BIGINT AS n_tokens,
       coalesce(pd.n_dup_spans, 0)::BIGINT AS n_dup_spans,
       coalesce(pd.dup_tokens, 0)::BIGINT AS dup_tokens,
       CASE WHEN len(w.ws) > 0
            THEN round(coalesce(pd.dup_tokens, 0)::DOUBLE / len(w.ws), 6)
            ELSE 0.0 END AS dup_frac
FROM w LEFT JOIN pd USING (doc_id)
"""


# ------------------------------------------------- d42 epoch shuffle ---

SHUFFLE_EPOCHS = (1, 2)  # two epochs gated so cross-epoch divergence is proven
SHUFFLE_SHARDS = 16
SHUFFLE_PRIME = 1_000_003  # folds the epoch into the mixer input
SHUFFLE_MOD = 2_147_483_647  # keeps the mixed key bigint-safe in BOTH engines


def d42_seeded_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic seeded corpus shuffle — the reproducible-training-
    order primitive (d12's split discipline applied to ORDERING): every
    epoch's global read order is a pure function of (doc_id, epoch), so
    a re-run, a retry, or a different partitioning replays the exact
    same sequence, while different epochs see genuinely different
    orders.  Never `rand()` (changes per run) and never
    `orderBy(rand(seed))` (Spark's sample-based range exchange makes
    even the seeded form partitioning-dependent).

    Layout: shard = mixed-key mod SHUFFLE_SHARDS, pos = rank of the
    mixed key within the shard — (epoch, shard, pos) ascending IS the
    global epoch order for a sharded reader.  One hash-partitioned
    window per epoch, no global sort, no sampling; the mixer is the
    d12 Knuth spread with the epoch folded in, bounded by SHUFFLE_MOD
    so both engines stay in bigint arithmetic.
    """
    docs = load_table(spark, sf_dir, "documents")
    epochs = spark.range(1, len(SHUFFLE_EPOCHS) + 1).select(
        F.col("id").cast("int").alias("epoch")
    )
    mixed = F.pmod(
        (F.col("doc_id") + F.col("epoch") * F.lit(SHUFFLE_PRIME)) * F.lit(dedup.KNUTH),
        F.lit(SHUFFLE_MOD),
    )
    keyed = docs.select("doc_id").crossJoin(F.broadcast(epochs)).select(
        "epoch", "doc_id", mixed.alias("mixed")
    )
    w = Window.partitionBy("epoch", F.pmod(F.col("mixed"), F.lit(SHUFFLE_SHARDS))).orderBy(
        "mixed", "doc_id"
    )
    return keyed.select(
        "epoch",
        "doc_id",
        F.pmod(F.col("mixed"), F.lit(SHUFFLE_SHARDS)).cast("int").alias("shard"),
        F.row_number().over(w).alias("pos"),
    )


D42_SQL = f"""
WITH keyed AS (
  SELECT e.epoch, d.doc_id,
         ((d.doc_id + e.epoch * {SHUFFLE_PRIME}) * {dedup.KNUTH}) % {SHUFFLE_MOD} AS mixed
  FROM documents d CROSS JOIN (VALUES (1), (2)) AS e(epoch))
SELECT epoch, doc_id,
       (mixed % {SHUFFLE_SHARDS})::INT AS shard,
       row_number() OVER (PARTITION BY epoch, mixed % {SHUFFLE_SHARDS}
                          ORDER BY mixed, doc_id)::INT AS pos
FROM keyed
"""


# ---------------- d43 DSIR importance weights (data selection) -----------

DSIR_BUCKETS = 4096
DSIR_TARGET_LANG = "en"

# the oracle's copy of selection.charpoly_hash (base-31 codepoint
# polynomial mod 2^31-1; list_reduce's implicit init = first element
# equals the Spark fold's 0-init because 0*31 + c == c)
_CHARPOLY = (
    "list_reduce(list_transform(string_split({w}, ''), c -> ord(c)::BIGINT),"
    " (a, b) -> (a*31 + b) % 2147483647)"
)
_DSIR_TOKS = (
    "list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')"
)


def d43_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): per-document importance
    weight of the hashed unigram+bigram distribution, target =
    ``lang = 'en'`` documents vs the whole corpus as raw.  The 100 TB
    replacement for the reference's curate-by-manual-domain-export flow
    (`Hype.py:64-70`): score every raw document, keep the top mass.
    Bucket distributions are two ≤4096-row aggregates; scoring is one
    broadcast join + doc_id-keyed sum."""
    from ..operators.selection import dsir_importance_weights

    docs = load_table(spark, sf_dir, "documents")
    return dsir_importance_weights(
        docs, F.col("lang") == DSIR_TARGET_LANG, n_buckets=DSIR_BUCKETS
    )


D43_SQL = f"""
WITH hs AS (
  SELECT doc_id,
         list_transform({_DSIR_TOKS}, w -> {_CHARPOLY.format(w="w")}) AS hh
  FROM documents),
feats AS (
  SELECT doc_id, unnest(list_transform(hh, h -> h % {DSIR_BUCKETS})) AS bucket
  FROM hs
  UNION ALL
  SELECT doc_id,
         unnest(list_transform(range(1, len(hh)),
                               i -> (hh[i] * 2654435761 + hh[i+1]) % {DSIR_BUCKETS})) AS bucket
  FROM hs),
tgt AS (SELECT doc_id FROM documents WHERE lang = '{DSIR_TARGET_LANG}'),
rawc AS (SELECT bucket, count(*) AS c_raw FROM feats GROUP BY bucket),
tgtc AS (SELECT f.bucket, count(*) AS c_tgt
         FROM feats f JOIN tgt USING (doc_id) GROUP BY f.bucket),
tots AS (SELECT (SELECT count(*) FROM feats) AS tot_raw,
                (SELECT count(*) FROM feats f JOIN tgt USING (doc_id)) AS tot_tgt),
ratios AS (
  SELECT r.bucket,
         ln((coalesce(t.c_tgt, 0) + 1.0) / (tots.tot_tgt + {DSIR_BUCKETS})::DOUBLE)
           - ln((r.c_raw + 1.0) / (tots.tot_raw + {DSIR_BUCKETS})::DOUBLE) AS log_ratio
  FROM rawc r LEFT JOIN tgtc t USING (bucket), tots)
SELECT f.doc_id, count(*) AS n_feats, round(sum(r.log_ratio), 6) AS weight
FROM feats f JOIN ratios r USING (bucket)
GROUP BY f.doc_id
"""


# ---------------- d44 NPMI collocations (phrase mining) ------------------

NPMI_MIN_WORD_DOCS = 5
NPMI_MIN_PAIR_DOCS = 5
NPMI_TOP_K = 50
NPMI_MAX_WORDS_PER_DOC = 1000


def d44_npmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 word collocations by normalized PMI over document
    co-occurrence (Bouma 2009) — strength-ranked phrase mining, the
    scored upgrade of the reference's raw keyword co-occurrence listing
    (`neo4j_query_executor.py` Q13 class).  The quadratic pair step is
    bounded twice: vocabulary-capped by df AND per-doc capped to the
    first ``NPMI_MAX_WORDS_PER_DOC`` qualifying words in lexicographic
    order (pathological-long-doc fan-out guard; the cap's drop counts
    are queryable via ``textops.npmi_dropped_words``).  Cutoff order is
    on the rounded score so both engines agree at the limit boundary."""
    docs = load_table(spark, sf_dir, "documents")
    return textops.npmi_collocations(
        docs,
        min_word_docs=NPMI_MIN_WORD_DOCS,
        min_pair_docs=NPMI_MIN_PAIR_DOCS,
        top_k=NPMI_TOP_K,
        max_words_per_doc=NPMI_MAX_WORDS_PER_DOC,
    )


D44_SQL = f"""
WITH words AS (
  SELECT DISTINCT doc_id, unnest({_DSIR_TOKS}) AS w FROM documents),
n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
dfw AS (SELECT w, count(*) AS df FROM words GROUP BY w
        HAVING count(*) >= {NPMI_MIN_WORD_DOCS}),
kept AS (
  SELECT doc_id, w
  FROM (SELECT words.doc_id, words.w,
               row_number() OVER (PARTITION BY words.doc_id
                                  ORDER BY words.w) AS rn
        FROM words JOIN dfw USING (w))
  WHERE rn <= {NPMI_MAX_WORDS_PER_DOC}),
pairs AS (
  SELECT a.w AS word_a, b.w AS word_b, count(*) AS df_ab
  FROM kept a JOIN kept b ON a.doc_id = b.doc_id AND a.w < b.w
  GROUP BY a.w, b.w
  HAVING count(*) >= {NPMI_MIN_PAIR_DOCS})
SELECT word_a, word_b, df_ab,
       round(CASE WHEN df_ab = n.n_docs THEN 1.0
                  ELSE ln(n.n_docs * df_ab / (da.df * db.df))
                         / ln(n.n_docs / df_ab) END, 6) AS npmi
FROM pairs
JOIN dfw da ON pairs.word_a = da.w
JOIN dfw db ON pairs.word_b = db.w
CROSS JOIN n
ORDER BY npmi DESC, word_a, word_b
LIMIT {NPMI_TOP_K}
"""


# ---------------- d45 incremental MinHash dedup (delta vs standing) -------

# residues chosen so the d02 corpus exercises ALL THREE pair classes:
# +1000000 shifts doc_id by 1 mod 7 and +2000000 by 2, so base/variant
# pairs land as standing-internal (excluded), standing↔delta (cross),
# and delta-internal (src<dst) depending on the base residue
DELTA_RESIDUES = (0, 1)


def d45_minhash_delta_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The O(|delta|) refresh face of d02: near-dup pairs touching a
    delta batch only — dedupe the new crawl against the standing corpus
    without re-deriving standing-internal pairs (the content-dedup
    sibling of p03's SymSpell delta pairs).  Delta = corpus docs with
    ``doc_id % 7 ∈ {0, 1}``; the d02 injected near/exact duplicates
    straddle the split, so the cross, delta-internal and
    excluded-standing branches all carry rows at every sf."""
    corpus = _corpus(spark, sf_dir)
    is_delta = F.pmod(F.col("doc_id"), F.lit(7)).isin(*DELTA_RESIDUES)
    return dedup.minhash_delta_near_dups(
        corpus.filter(~is_delta), corpus.filter(is_delta)
    )


D45_SQL = f"""
WITH {_CORPUS_CTE},
{_SHINGLES_CTE},
perms(k, a, b) AS (VALUES {_PERMS_VALUES}),
sigs AS (
  SELECT doc_id, k, min((a * shingle_hash + b) % {dedup.MINHASH_PRIME}) AS minhash
  FROM shingles CROSS JOIN perms GROUP BY doc_id, k),
sigsrc AS (
  SELECT s.doc_id, s.k, s.minhash, c.source,
         (c.doc_id % 7) IN {DELTA_RESIDUES} AS is_delta
  FROM sigs s JOIN corpus c USING (doc_id))
SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS n_matching
FROM sigsrc a JOIN sigsrc b
  ON a.k = b.k AND a.minhash = b.minhash AND a.source = b.source
 AND b.is_delta AND a.doc_id <> b.doc_id
 AND (NOT a.is_delta OR a.doc_id < b.doc_id)
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= 8
"""


# ---------------- d46 temperature-mixture sampling (data mixing) ---------

MIX_BUDGET_DEN = 4
MIX_MOD = 1_000_000


def d46_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (τ=0.5 per XLM-R/mT5): the
    integer-exact mixing plan per source (targets from floor-sqrt
    weights over a total-docs/4 budget) PLUS the realized kept-doc
    count from applying the plan's rate_ppm hash filter — target and
    realized ship side by side so the expectation-vs-exact gap of the
    shuffle-free apply is visible, never silent.  The 100 TB upgrade of
    the reference's uniform concat of per-domain exports
    (`cleaner.py:206-216`): small sources are up-weighted relative to
    their raw share.  All arithmetic is bigint (isqrt + div + pmod), so
    the gate is hash-exact, not tolerance-based."""
    from ..operators.selection import apply_mixture, temperature_mixture_plan

    docs = load_table(spark, sf_dir, "documents")
    plan = temperature_mixture_plan(docs, budget_den=MIX_BUDGET_DEN, mod=MIX_MOD)
    realized = (
        apply_mixture(docs, plan, mod=MIX_MOD)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("realized_docs"))
    )
    return plan.join(realized, "source", "left").select(
        "source",
        "n_docs",
        "w_isqrt",
        "target_docs",
        "rate_ppm",
        F.coalesce(F.col("realized_docs"), F.lit(0)).alias("realized_docs"),
    )


D46_SQL = f"""
WITH counts AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
w AS (SELECT source, n_docs,
             CAST(floor(sqrt(n_docs::DOUBLE)) AS BIGINT) AS w_isqrt
      FROM counts),
tot AS (SELECT sum(n_docs) AS tot_docs, sum(w_isqrt) AS tot_w FROM w),
plan AS (
  -- CAST: sum() yields HUGEINT and // propagates it, so without the
  -- casts target_docs/rate_ppm ship as HUGEINT → pandas float64 while
  -- Spark ships BIGINT → int64, and the driver's value hash serializes
  -- the two differently even though every value is equal (the r12
  -- gate's only-ever red row; values verified identical cell-for-cell)
  SELECT source, n_docs, w_isqrt,
         CAST(least(n_docs, ((tot_docs // {MIX_BUDGET_DEN}) * w_isqrt) // tot_w)
              AS BIGINT) AS target_docs
  FROM w CROSS JOIN tot),
rated AS (SELECT *, CAST((target_docs * {MIX_MOD}) // n_docs AS BIGINT) AS rate_ppm
          FROM plan),
kept AS (
  SELECT d.source, count(*) AS realized_docs
  FROM documents d JOIN rated p USING (source)
  -- (x % m + m) % m = Spark pmod for ALL ids, negative included — plain
  -- % is negative for negative ids and would diverge from the operator
  WHERE (((d.doc_id % {MIX_MOD} + {MIX_MOD}) % {MIX_MOD}) * 2654435761) % {MIX_MOD}
        < p.rate_ppm
  GROUP BY d.source)
SELECT p.source, p.n_docs, p.w_isqrt, p.target_docs, p.rate_ppm,
       coalesce(k.realized_docs, 0) AS realized_docs
FROM rated p LEFT JOIN kept k USING (source)
"""


# ------------------------------------ d47 weighted sample (ES race) ---

WSAMPLE_N = 200


def d47_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted sample without replacement — the selection step
    downstream of every scoring face (d43 DSIR weights, d06 quality):
    pick WSAMPLE_N docs with probability proportional to weight via the
    deterministic Efraimidis–Spirakis exponential race
    (`selection.weighted_sample`).  Weight here = n_chars (long docs
    carry more training tokens), so the sample is the token-budget-
    aware draw a curation pipeline actually makes.  Deterministic u
    from the Knuth-mixed doc_id (d42 discipline, never rand()), so the
    gate replays the exact cut."""
    from ..operators.selection import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample(docs, n=WSAMPLE_N, weight_col="n_chars")


D47_SQL = f"""
SELECT doc_id,
       -- (x % m + m) % m = Spark pmod for all ids (see D46_SQL note)
       round(-ln((((doc_id % 2147483647 + 2147483647) % 2147483647)
                  * 2654435761 % 2147483647 + 1)
                 / 2147483648.0)
             / greatest(n_chars::DOUBLE, 1.0), 9) AS arrival
FROM documents
ORDER BY arrival, doc_id
LIMIT {WSAMPLE_N}
"""


# ------------------------ d48 exact mixture realization (grouped race) ---

def d48_mixture_exact_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The d46 temperature-mixture plan realized EXACTLY: d46's
    shuffle-free rate_ppm filter hits each source's target only in
    expectation (its output ships the target/realized gap precisely
    because it is nonzero); here the deterministic per-group exponential
    race (`selection.weighted_sample_per_group`, uniform weights) ranks
    every source's docs and keeps exactly target_docs of them — the
    full kept set is the gated surface, so a single swapped or extra
    doc fails the hash."""
    from ..operators.selection import (
        temperature_mixture_plan,
        weighted_sample_per_group,
    )

    docs = load_table(spark, sf_dir, "documents")
    plan = temperature_mixture_plan(docs, budget_den=MIX_BUDGET_DEN, mod=MIX_MOD)
    return weighted_sample_per_group(docs, plan, group_col="source")


D48_SQL = f"""
WITH counts AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
w AS (SELECT source, n_docs,
             CAST(floor(sqrt(n_docs::DOUBLE)) AS BIGINT) AS w_isqrt
      FROM counts),
tot AS (SELECT sum(n_docs) AS tot_docs, sum(w_isqrt) AS tot_w FROM w),
plan AS (
  SELECT source,
         least(n_docs, ((tot_docs // {MIX_BUDGET_DEN}) * w_isqrt) // tot_w)
           AS target_docs
  FROM w CROSS JOIN tot),
race AS (
  SELECT source, doc_id,
         -- (x % m + m) % m = Spark pmod for all ids (see D46_SQL note)
         round(-ln((((doc_id % 2147483647 + 2147483647) % 2147483647)
                    * 2654435761 % 2147483647 + 1)
                   / 2147483648.0), 9) AS arrival
  FROM documents),
ranked AS (
  SELECT source, doc_id, arrival,
         row_number() OVER (PARTITION BY source ORDER BY arrival, doc_id) AS rk
  FROM race)
SELECT r.source, r.doc_id, r.arrival
FROM ranked r JOIN plan p USING (source)
WHERE r.rk <= p.target_docs
"""


SPECS = [
    QuerySpec("d29_dup_span_audit", d29_dup_span_audit, D29_SQL, "dedup",
              "exact-substring dedup audit: duplicated 8-gram spans, island-merged"),
    QuerySpec("d30_approx_quantile_contract", d30_approx_quantile_contract, D30_SQL,
              "text", "percentile_approx (GK sketch) pinned to an exact accuracy "
              "contract per source"),
    QuerySpec("d24_containment_pairs", d24_containment_pairs, D24_SQL, "dedup",
              "asymmetric containment near-dup (quote/subset detection)"),
    QuerySpec("d25_bm25_search", d25_bm25_search, D25_SQL, "text",
              "BM25-ranked lexical retrieval (one-scan plan, broadcast stats)"),
    QuerySpec("d26_tfidf_top_terms", d26_tfidf_top_terms, D26_SQL, "text",
              "per-document distinctive terms by tf-idf (wordcount + window top-k)"),
    QuerySpec("a05_knn_graph", a05_knn_graph, A05_SQL, "similarity",
              "exact all-pairs kNN graph via blocked GEMM with in-kernel top-k"),
    QuerySpec("d39_cdc_apply", d39_cdc_apply, D39_SQL, "dedup",
              "CDC change-log apply (MERGE): latest-wins compaction, "
              "anti-join + delta union vs a closed-form final-state oracle"),
    QuerySpec("e26_streaming_cdc_upsert", e26_streaming_cdc_upsert, D39_SQL,
              "events", "streaming CDC upsert: readStream change-log -> "
              "foreachBatch seq-guarded MERGE into a versioned store, "
              "idempotence proven by double replay vs the d39 oracle"),
    QuerySpec("e27_streaming_partitioned_cdc", e27_streaming_partitioned_cdc,
              E27_SQL, "events", "streaming CDC upsert into a PARTITIONED "
              "store: per-batch MERGE over touched partitions only + dynamic "
              "partition overwrite in place; untouched partitions asserted "
              "byte-identical per batch, idempotence by double replay"),
    QuerySpec("d40_table_checksum", d40_table_checksum, D40_SQL, "dedup",
              "order-independent per-source table checksum (xor + sum md5 "
              "slices + count): replica verification without moving rows"),
    QuerySpec("d41_observed_metrics", d41_observed_metrics, D41_SQL, "text",
              "Observation-API audit counters on the curation scan: full-"
              "input metrics + curated count from ONE action, no second pass"),
    QuerySpec("d27_snapshot_diff", d27_snapshot_diff, D27_SQL, "dedup",
              "incremental snapshot diff (added/removed/changed via hash CDC)"),
    QuerySpec("d42_seeded_epoch_shuffle", d42_seeded_epoch_shuffle, D42_SQL,
              "text", "deterministic seeded corpus shuffle: per-epoch "
              "(shard, pos) read order from a closed-form mixer — "
              "reproducible training order, no rand(), no sampling-based "
              "range exchange"),
    QuerySpec("d28_bpe_merges", d28_bpe_merges, D28_SQL, "text",
              "BPE merge-table induction, incremental pair counts, hash-gated "
              "vs an 8-stage unrolled count→argmax→fold DuckDB oracle"),
    QuerySpec("d38_boilerplate_removal", d38_boilerplate_removal, D38_SQL, "text",
              "C4-style boilerplate removal: ≥50%-of-source lines dropped, "
              "docs reassembled; hash-only frequency shuffle"),
    QuerySpec("d31_bpe_encode_vocab", d31_bpe_encode_vocab, D31_SQL, "text",
              "BPE encode face over the corpus vocabulary, hash-gated vs a "
              "chained leftmost-replace recursive-CTE oracle"),
    QuerySpec("a06_quantized_ann", a06_quantized_ann, A06_SQL, "similarity",
              "scalar-quantized ANN (int8 range, bit-exact integer dot ranking)"),
    QuerySpec("d34_approx_distinct_contract", d34_approx_distinct_contract, D34_SQL,
              "text", "HyperLogLog++ cardinality contract per source (d30 "
              "pattern: exact value + tolerance boolean ship, sketch value "
              "doesn't)"),
    QuerySpec("d37_bigram_lm_perplexity", d37_bigram_lm_perplexity, D37_SQL, "text",
              "train+score bigram-LM perplexity filter (CCNet shape, closed-"
              "form add-1 model, real train/score split); integer outputs "
              "only"),
    QuerySpec("d36_nb_langid_confusion", d36_nb_langid_confusion, D36_SQL, "text",
              "train+apply multinomial Naive Bayes (closed-form, exact-count "
              "trainer) as the curation-filter primitive; confusion matrix "
              "gated, argmax-only output"),
    QuerySpec("d35_heavy_hitters_contract", d35_heavy_hitters_contract, D35_SQL,
              "text", "frequent-items skew audit: exact top-20 words + the "
              "freqItems one-sided no-false-negative contract (d30/d34 "
              "pattern; sketch list never ships)"),
    QuerySpec("d33_nfc_audit", d33_nfc_audit, D33_SQL, "text",
              "Unicode NFC canonicalization audit: unicodedata (Arrow seam) vs "
              "DuckDB nfc_normalize, byte-exact via md5"),
    QuerySpec("d32_chunked_documents", d32_chunked_documents, D32_SQL, "text",
              "context-window chunking: 64-token windows with 8-token overlap, "
              "one narrow JVM pass, content gated via md5"),
    QuerySpec("a08_pq_adc_topk", a08_pq_adc_topk, A08_SQL, "similarity",
              "product-quantized ANN: joint-subspace Lloyd codebooks, m-code "
              "encoding, broadcast ADC lookup-table search — the compressed "
              "billion-vector index path"),
    QuerySpec("a09_pca_contract", a09_pca_contract, A09_SQL, "similarity",
              "distributed PCA: per-partition Gram partials + driver "
              "eigensolve; SQL-exact covariance facts + theorem-backed "
              "booleans (d30 contract pattern)"),
    QuerySpec("a07_ann_ivf_batch", a07_ann_ivf_batch, A07_SQL, "similarity",
              "set-oriented batch ANN from the partitioned IVF store (broadcast "
              "probe routing + dynamic partition pruning, no driver isin)"),
    QuerySpec("d01_exact_dup_groups", d01_exact_dup_groups, D01_SQL, "dedup",
              "exact dedup via md5 hash-groupBy"),
    QuerySpec("d02_minhash_near_dups", d02_minhash_near_dups, D02_SQL, "dedup",
              "MinHash (16 perms) near-dup pairs, integer-count threshold", bench=True),
    QuerySpec("d03_simhash_signatures", d03_simhash_signatures, D03_SQL, "dedup",
              "SimHash 24-bit signatures (bit voting)"),
    QuerySpec("d04_simhash_near_dups", d04_simhash_near_dups, D04_SQL, "dedup",
              "SimHash near-dup pairs (Hamming <= 3)"),
    QuerySpec("d05_ngram_jaccard_pairs", d05_ngram_jaccard_pairs, D05_SQL, "dedup",
              "true 3-gram Jaccard pairs via shingle equi-join"),
    QuerySpec("d06_quality_features", d06_quality_features, D06_SQL, "text",
              "quality scoring: lengths, ratios, composite score"),
    QuerySpec("d07_lang_id_confusion", d07_lang_id_confusion, D07_SQL, "text",
              "stopword-vote language ID, confusion counts"),
    QuerySpec("d08_fingerprints", d08_fingerprints, D08_SQL, "text",
              "document fingerprints (normalized md5 + min-shingle)"),
    QuerySpec("d09_token_totals", d09_token_totals, D09_SQL, "text",
              "token budgeting per source (ws + BPE-ish regex)", bench=True),
    QuerySpec("d10_embedding_near_dups", d10_embedding_near_dups, D10_SQL, "dedup",
              "embedding-cosine near-dup pairs with source annotation"),
    QuerySpec("d11_dedup_keep_canonical", d11_dedup_keep_canonical, D11_SQL, "dedup",
              "dedup applied: pairs → components → keep-min → clean corpus"),
    QuerySpec("d12_train_val_split", d12_train_val_split, D12_SQL, "dedup",
              "deterministic hash train/val split (leakage-free, rerun-stable)"),
    QuerySpec("d49_cluster_aware_split", d49_cluster_aware_split, D49_SQL, "dedup",
              "cluster-aware split: d12's hash assignment on the near-dup "
              "CLUSTER id, cross-split near-dup pairs computed (0 by "
              "construction) — dedup-before-split leakage discipline"),
    QuerySpec("d50_token_budget_selection", d50_token_budget_selection, D50_SQL,
              "text",
              "greedy token-budget prefix selection by quality score — "
              "bucketed prefix-sum layout, budget computed in-plan, "
              "per-language integer facts"),
    QuerySpec("a01_ann_bruteforce", a01_ann_bruteforce, A01_SQL, "similarity",
              "exact cosine top-k ANN baseline", bench=True),
    QuerySpec("a02_ann_ivf", a02_ann_ivf, A02_SQL, "similarity",
              "IVF bucketed ANN (nprobe=2 of 8 centroids)"),
    QuerySpec("a13_ivf_recall", a13_ivf_recall, A13_SQL, "similarity",
              "recall@k of IVF vs exact brute force — integer rank "
              "statistics per query, the ANN quality contract"),
    QuerySpec("a03_kmeans_clusters", a03_kmeans_clusters, A03_SQL, "similarity",
              "distributed Lloyd k-means (IVF quantizer training), 2 rounds"),
    QuerySpec("a04_ann_ivf_trained", a04_ann_ivf_trained, A04_SQL, "similarity",
              "trained-quantizer IVF ANN (k-means centroids, nprobe=2)"),
    QuerySpec("d13_embedding_lsh_near_dups", d13_embedding_lsh_near_dups, D13_SQL,
              "dedup", "embedding near-dup via banded sign-LSH (scale path)"),
    QuerySpec("d14_sequence_packing", d14_sequence_packing, D14_SQL, "text",
              "GPT-style sequence packing: per-stream token-budget bins"),
    QuerySpec("d15_stratified_sample", d15_stratified_sample, D15_SQL, "dedup",
              "per-source deterministic mixture downsampling"),
    QuerySpec("d16_curated_corpus", d16_curated_corpus, D16_SQL, "dedup",
              "end-to-end curation: dedup + quality + lang-consistency + split"),
    QuerySpec("d17_sharded_packing", d17_sharded_packing, D17_SQL, "text",
              "shard-safe sequence packing: (source, shard) sub-streams"),
    QuerySpec("d19_semdedup_removed", d19_semdedup_removed, D19_SQL, "dedup",
              "SemDeDup: k-means-bucketed per-cluster embedding dedup"),
    QuerySpec("d20_token_percentiles", d20_token_percentiles, D20_SQL, "text",
              "per-source token-length quantiles (exact interpolated)"),
    QuerySpec("d21_benchmark_contamination", d21_benchmark_contamination, D21_SQL,
              "dedup", "train/test decontamination via rare word-8-gram overlap"),
    QuerySpec("d22_repetition_filters", d22_repetition_filters, D22_SQL, "text",
              "Gopher-style repetition filters: dup-word + top-bigram fractions"),
    QuerySpec("d23_pii_redaction", d23_pii_redaction, D23_SQL, "text",
              "PII detect + redact audit (email/phone regexes, zero residual)"),
    QuerySpec("d18_top_bigrams", d18_top_bigrams, D18_SQL, "text",
              "corpus word-bigram frequencies via the n-gram array surface"),
    QuerySpec("d43_dsir_importance_weights", d43_dsir_importance_weights, D43_SQL,
              "selection",
              "DSIR importance weights: hashed n-gram target/raw log-ratios"),
    QuerySpec("d44_npmi_collocations", d44_npmi_collocations, D44_SQL, "text",
              "top-50 NPMI collocations, vocabulary-capped pair space"),
    QuerySpec("d45_minhash_delta_near_dups", d45_minhash_delta_near_dups, D45_SQL,
              "dedup",
              "incremental MinHash dedup: delta batch vs standing corpus, "
              "standing-internal pairs excluded"),
    QuerySpec("a10_two_stage_rerank", a10_two_stage_rerank, A10_SQL, "similarity",
              "two-stage ANN: int8 overfetch stage + exact-cosine rerank",
              bench=True),  # rerank cost trend next to a01's brute baseline
    QuerySpec("a11_filtered_ann", a11_filtered_ann, A11_SQL, "similarity",
              "metadata-filtered exact ANN: the label predicate reaches the "
              "candidate parquet scan as a PushedFilter (pre-filter, k fills)"),
    QuerySpec("d46_temperature_mixture", d46_temperature_mixture, D46_SQL,
              "selection",
              "temperature-scaled (τ=0.5) source-mixing plan + realized "
              "hash-sampled counts, integer-exact"),
    QuerySpec("d47_weighted_sample", d47_weighted_sample, D47_SQL, "selection",
              "deterministic weighted sample w/o replacement (Efraimidis-"
              "Spirakis exponential race, seeded-hash u, TakeOrdered cut)"),
    QuerySpec("d48_mixture_exact_sample", d48_mixture_exact_sample, D48_SQL,
              "selection",
              "d46's temperature mixture realized EXACTLY via the per-group "
              "race: each source keeps precisely target_docs docs, full kept "
              "set hash-gated"),
    QuerySpec("a12_ivf_store_append", a12_ivf_store_append, A12_SQL,
              "similarity",
              "incremental IVF index maintenance: delta folded into the store "
              "with the frozen quantizer, only touched partitions rewritten; "
              "gated ≡ full-corpus IVF search"),
]
