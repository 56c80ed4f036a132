"""p01: the composed END-TO-END build path as ONE gated spec.

SURVEY.md §3.2's lifecycle (`Hype.py:64-86`: scan+parse → normalize →
entity-resolve → extract → serve) is gated piecewise by i01/i02 (parse/
clean/dedup), er01–er04 (ER), g01+ (graph queries) and s03–s07 (sinks) —
but never as one spec running the full pipeline and answering a query
off the freshly built graph.  p01 closes that: stage HAND-OFF contracts
(schema drift between parse → clean → dedup → ER → extraction → query)
become a gate failure instead of a latent integration bug.

The corpus is rendered deterministically from ``documents`` with the
properties each stage needs to do REAL work:

- colliding titles (mod P01_TITLE_MOD) so keep-first dedup drops rows;
- keyword surfaces with injected TYPOS (every third record drops the
  last character of its first keyword) so the ER stage has real
  clusters: the typo'd surface sits at Levenshtein distance 1 from its
  canonical form and ≥2 from every other surface, so SymSpell blocking
  + connected components recover exactly the {canonical, typo} pairs
  and min-of-cluster elects the typo form ("kwaa" < "kwaaa");
- a non-numeric Year every 10th record so the lenient cast runs.

Every stage is the REAL operator (`sources.txt_records`,
`operators.er`, `operators.connected_components`), not a re-derivation;
the DuckDB oracle computes the expected final answer in closed form
from ``documents`` — fully independent of the pipeline, so a bug in
ANY stage (or any hand-off) surfaces as a mismatch.

Scale notes (100 TB): the pipeline is one lazy DAG per SURVEY §3.2 —
parse/normalize narrow, dedup one title shuffle (natural-sort ingest
order), ER shuffles only the keyword VOCABULARY (deletion-variant
hashes, never the corpus), extraction one explode + one distinct
shuffle on (title, keyword).  In production the extraction output
lands in the partitioned graph store (s03–s07 gate those sinks); the
serving query here reads the extraction frame directly — same plan
shape either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.er import apply_mapping_array, build_er_state, incremental_er_refresh
from ..sources import txt_records as txt
from .spec import QuerySpec

P01_TITLE_MOD = 350
P01_BLOCKS_PER_FILE = 50
# keyword vocabulary: "kwaaa".."kwjjj" — pairwise Levenshtein ≥ 3, so
# the only distance-1 pairs in the corpus are (canonical, its typo)
P01_VOCAB = ["kw" + chr(97 + i) * 3 for i in range(10)]


def _render_p01_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (file, text) EndNote-style blocks with the typo'd
    keyword surfaces and colliding titles described in the module
    docstring.  Files of 50 blocks, blocks ordered by doc_id — so
    keep-first under the natural-sort (file, pos) order is keep-min-
    doc_id, which is what the oracle's row_number mirrors."""
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    names = F.array(*[F.lit(n) for n in P01_VOCAB])
    typos = F.array(*[F.lit(n[:-1]) for n in P01_VOCAB])
    kw1 = F.when(d % 3 == 0, F.element_at(typos, (d % 10 + 1).cast("int"))).otherwise(
        F.element_at(names, (d % 10 + 1).cast("int"))
    )
    kw2 = F.element_at(names, (d % 7 + 1).cast("int"))
    line = lambda field, val: F.concat(F.lit("{" + field + "}: "), val)  # noqa: E731
    block = F.concat_ws(
        "\n",
        line("Title", F.concat(F.lit("P-"), s(d % P01_TITLE_MOD))),
        line("Reference Type", F.lit("Journal Article")),
        line("Author", F.concat(F.lit("A "), F.col("source"))),
        line("Keywords", F.concat(kw1, F.lit(" ; "), kw2)),
        line("Year", F.when(d % 10 == 0, F.lit("n.d.")).otherwise(s(d % 30 + 1990))),
    )
    return (
        docs.select(
            (d / P01_BLOCKS_PER_FILE).cast("int").alias("file_id"),
            d.alias("doc_id"),
            block.alias("block"),
        )
        .groupBy("file_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "block"))),
                    lambda x: x["block"],
                ),
                "\n\n",
            ).alias("text")
        )
        .select(
            F.concat(F.lit("pfile_"), F.col("file_id").cast("string")).alias("file"),
            "text",
        )
    )


def keyword_er_mapping(records: DataFrame, col: str = "keywords") -> DataFrame:
    """The ER stage over an array column's surface VOCABULARY:
    ``er.build_er_state`` (distinct surfaces → SymSpell distance-1 typo
    pairs → connected components) → canonical = min surface per
    component.  Returns the (id=surface, canonical=surface) mapping
    frame ``apply_mapping_array`` consumes — the string-side analogue of `operators.er`'s embedding
    pipeline (`keyword_merger.py:222` min-representative, `:231-232`
    noise→identity).

    Ids for the component step are ``xxhash64(surface)`` — fully
    distributed, no global row-number sort over the vocabulary; the
    canonical ELECTION is by surface name (min per component), so the
    hash values never leak into the result."""
    state = build_er_state(records.select(F.explode(col).alias("name")))
    canon = state.groupBy("component").agg(F.min("name").alias("canonical"))
    return state.join(canon, "component").select(F.col("name").alias("id"), "canonical")


def p01_end_to_end_build_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full SURVEY §3.2 lifecycle as one plan, answering the
    Q10-class question (documents per year for each keyword) off the
    freshly built graph.  Stages (each the real operator):

    1. scan+parse   — `txt.parse_blocks` over the rendered corpus (S1)
    2. normalize    — `txt.clean_records` (F1–F5)
    3. dedup        — `txt.keep_first_dedup` (D1, natural-sort order)
    4. entity-resolve — `keyword_er_mapping` (SymSpell blocking +
       connected components + min-representative) applied through
       `apply_mapping_array` (J1 array case, M4)
    5. extract      — explode + distinct (title, keyword) edge tuples
       plus (title, year) doc nodes (the csv_extractor shape)
    6. serve        — the g10-class per-(keyword, year) count off the
       extracted graph
    """
    rec = txt.keep_first_dedup(
        txt.clean_records(txt.parse_blocks(_render_p01_files(spark, sf_dir)))
    )
    mapping = keyword_er_mapping(rec)
    mapped = apply_mapping_array(rec, mapping, "keywords", id_cols=("title", "year"))
    edges = mapped.select(
        "title", "year", F.explode("keywords").alias("keyword")
    ).distinct()
    return edges.groupBy("keyword", "year").agg(F.count("*").alias("n_docs"))


# Closed-form oracle: the typo'd surface of every vocabulary letter
# exists in any corpus of ≥30 docs (doc_id ≡ 0 mod 3 covers every
# residue mod 10 — lcm(3,10)=30), so post-ER every surface collapses to
# the typo form 'kw' || letter*2, the min of its cluster.
P01_SQL = f"""
WITH expected AS (
  SELECT doc_id,
         'P-' || CAST(doc_id % {P01_TITLE_MOD} AS VARCHAR) AS title,
         CASE WHEN doc_id % 10 = 0 THEN NULL
              ELSE CAST(doc_id % 30 + 1990 AS INT) END AS year,
         'kw' || repeat(chr(97 + CAST(doc_id % 10 AS INT)), 2) AS kw1,
         'kw' || repeat(chr(97 + CAST(doc_id % 7 AS INT)), 2) AS kw2
  FROM documents),
dedup AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY title ORDER BY doc_id) AS rn
    FROM expected) WHERE rn = 1),
edges AS (
  SELECT DISTINCT title, year, kw AS keyword FROM (
    SELECT title, year, kw1 AS kw FROM dedup
    UNION ALL SELECT title, year, kw2 FROM dedup))
SELECT keyword, year, count(*) AS n_docs FROM edges GROUP BY 1, 2
"""


def p02_enrichment_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §3.3's enrichment lifecycle as ONE spec — classify →
    dead-letter split → topic-rel CSV extraction → g04-class
    topics-of-author answer off the fresh store — pinning the stage
    HAND-OFFS that t01–t03 (classify/split), s05 (sink round-trip) and
    g04 (serve) gate only piecewise.  Reference flow:
    `TopicClassfication.py:206-322` → `TopicTocsv.py:28-80` →
    HAS_TOPIC load.

    Stages (each the real operator):

    1. classify — `enrich.classify_topics` with the t03 partial-failure
       classifier (doc_id % 17 == 3 errors out), so the split has real
       work: a failed doc leaking into the store fails the hash.
    2. split — `enrich.split_dead_letter`; only the valid channel
       proceeds (the oracle excludes the failing residue in closed
       form — a dropped-or-leaked row on either channel mismatches).
    3. extract — `write_topic_rels_csv` (S10) with a parenthetical
       gloss on every topic name so the F12 strip runs inside the
       composition; the store is the READ-BACK CSV, not the in-memory
       frame, so the sink's quoting/header contract is in the gated
       path end-to-end.
    4. serve — the g04-class join (author → doc → HAS_TOPIC → topic)
       off the read-back store: per-(author, topic) doc counts.

    Scale notes (100 TB): classification is the narrow Arrow seam (no
    shuffle), validation broadcasts the 22-row taxonomy, the sink's
    distinct is one (title, topic) shuffle, and the serve join keys on
    title — in production the store is the partitioned graph store
    (s03–s07) rather than CSV, same plan shape.  The gate's CSV
    round-trip is the fidelity check, not the scale path.
    """
    import shutil
    import tempfile

    from ..operators import enrich
    from ..sources.csv_export import write_topic_rels_csv
    from .enrich_queries import FAIL_MOD, FAIL_REM

    docs = load_table(spark, sf_dir, "documents")
    classified = enrich.classify_topics(
        docs, enrich.taxonomy_df(spark), enrich.failing_classifier(FAIL_MOD, FAIL_REM)
    )
    valid, _errors = enrich.split_dead_letter(classified)
    titled = valid.select(
        F.concat(F.lit("P-"), F.col("doc_id").cast("string")).alias("title"),
        F.lit("Journal_Article").alias("label"),
        F.concat(
            F.col("topic_name"), F.lit(" ("), F.col("category"), F.lit(" gloss)")
        ).alias("topic_name"),
    )
    authors = docs.select(
        F.concat(F.lit("P-"), F.col("doc_id").cast("string")).alias("title"),
        F.concat(F.lit("A "), F.col("source")).alias("author"),
    )
    out = tempfile.mkdtemp(prefix="p02_topics_")
    try:
        path = write_topic_rels_csv(titled, out)
        store = spark.read.option("header", True).csv(path)
        return (
            store.join(authors, store.paperTitle == authors.title)
            .groupBy("author", F.col("topicName").alias("topic"))
            .agg(F.count("*").alias("n_docs"))
            .localCheckpoint(eager=True)  # materialize before the rmtree
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _p02_sql() -> str:
    from .enrich_queries import _N_TOPICS, _TAXONOMY_CTE, FAIL_MOD, FAIL_REM

    return f"""
WITH {_TAXONOMY_CTE}
SELECT 'A ' || d.source AS author, t.topic_name AS topic, count(*) AS n_docs
FROM documents d
JOIN taxonomy t ON t.topic_id = (length(d.text) % {_N_TOPICS} + 1)::INT
WHERE d.doc_id % {FAIL_MOD} <> {FAIL_REM}
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# p03: the INCREMENTAL ER lifecycle — standing state from a first
# vocabulary slice, a delta ingest batch folded in via
# `er.incremental_er_refresh` (delta SymSpell pairs + incremental CC),
# refreshed mapping served back.  The reference re-crawls and re-clusters
# the whole vocabulary per ingest (`Hype.py:64-86`); this gates the
# O(|delta|) replacement end-to-end (equality with the from-scratch
# rebuild is separately property-tested in
# `test_er.py::test_incremental_er_refresh_equals_rebuild`).
#
# The vocabulary is rendered deterministically from ``documents`` so every
# incremental code path does real work.  With m = doc_id // 2,
# c = letter(m % 26), the per-letter surface CHAIN (consecutive elements
# at Levenshtein distance 1, non-consecutive ≥ 2, cross-letter ≥ 3) is
#
#   typo 'pw'+c*3 — cano 'pw'+c*4 — bridge 'pw'+c*4+'x' — alt 'pw'+c*4+'xy'
#
# Standing (even doc_id) holds cano (m%3≠1) and alt (m%3=1) — TWO
# separate standing components per letter.  Delta (odd doc_id, w = m%5):
#   w=0 typo   → merges INTO the standing cano component;
#   w=1 bridge → BRIDGES the standing cano and alt components (the
#                incremental-CC two-standing-labels merge case);
#   w=2 cano   → RE-SEEN surface (the anti-join no-op path);
#   w=3 iso    → 'qz'+letter(m%7)*4, an isolated brand-new component;
#   w=4 nx     → 'nx'+c*3 / 'nx'+c*4 (m%3=2 picks the short form), a
#                DELTA-INTERNAL distance-1 pair with no standing neighbor.
#
# The oracle replicates the generation, then computes clusters in closed
# form: within a family (3-char prefix 'pw'+c / 'nx'+c / 'qz'+k) a
# cluster is a maximal run of CONSECUTIVE present chain positions
# (gaps-and-islands), canonical = min name — no CC needed, fully
# independent of the operators.
# --------------------------------------------------------------------------

def _p03_surfaces(docs: DataFrame, parity: int) -> DataFrame:
    """(name): the standing (parity 0, even doc_id) or delta (parity 1)
    vocabulary slice described in the module comment above."""
    d = F.col("doc_id")
    m = F.floor(d / F.lit(2)).cast("long")
    # chr(97+k) built lazily — a module-level Column literal needs an
    # active SparkContext at import time and breaks bare registry imports
    c = F.char((m % 26).cast("int") + F.lit(97))
    ck = F.char((m % 7).cast("int") + F.lit(97))
    cano = F.concat(F.lit("pw"), F.repeat(c, 4))
    v, w = m % 3, m % 5
    if parity == 0:
        name = F.when(v == 1, F.concat(cano, F.lit("xy"))).otherwise(cano)
    else:
        name = (
            F.when(w == 0, F.concat(F.lit("pw"), F.repeat(c, 3)))
            .when(w == 1, F.concat(cano, F.lit("x")))
            .when(w == 2, cano)
            .when(w == 3, F.concat(F.lit("qz"), F.repeat(ck, 4)))
            .otherwise(
                F.when(v == 2, F.concat(F.lit("nx"), F.repeat(c, 3))).otherwise(
                    F.concat(F.lit("nx"), F.repeat(c, 4))
                )
            )
        )
    return docs.filter(d % 2 == parity).select(name.alias("name")).distinct()


def p03_incremental_er_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standing ER state built from the first vocabulary slice
    (`er.build_er_state`), delta batch folded in incrementally
    (`er.incremental_er_refresh` → `_symdelete_pairs` +
    `incremental_components`), canonical elected per refreshed component
    by min surface name (hash-free output): (name, canonical) over the
    full standing ∪ delta vocabulary."""
    docs = load_table(spark, sf_dir, "documents")
    standing = build_er_state(_p03_surfaces(docs, 0))
    state = incremental_er_refresh(standing, _p03_surfaces(docs, 1))
    canon = state.groupBy("component").agg(F.min("name").alias("canonical"))
    return state.join(canon, "component").select("name", "canonical")


P03_SQL = """
WITH gen AS (
  SELECT CASE WHEN doc_id % 2 = 0 THEN
           CASE WHEN m % 3 = 1 THEN 'pw' || repeat(c, 4) || 'xy'
                ELSE 'pw' || repeat(c, 4) END
         ELSE
           CASE m % 5
             WHEN 0 THEN 'pw' || repeat(c, 3)
             WHEN 1 THEN 'pw' || repeat(c, 4) || 'x'
             WHEN 2 THEN 'pw' || repeat(c, 4)
             WHEN 3 THEN 'qz' || repeat(ck, 4)
             ELSE CASE WHEN m % 3 = 2 THEN 'nx' || repeat(c, 3)
                       ELSE 'nx' || repeat(c, 4) END
           END
         END AS name
  FROM (SELECT doc_id, doc_id // 2 AS m,
               chr(97 + CAST((doc_id // 2) % 26 AS INT)) AS c,
               chr(97 + CAST((doc_id // 2) % 7 AS INT)) AS ck
        FROM documents)),
tagged AS (
  SELECT name, substr(name, 1, 3) AS family,
         CASE WHEN substr(name, 1, 2) = 'qz' THEN 0
              ELSE length(name) - 5 END AS pos
  FROM (SELECT DISTINCT name FROM gen)),
isl AS (
  SELECT name, family, pos,
         pos - row_number() OVER (PARTITION BY family ORDER BY pos) AS island
  FROM tagged),
canon AS (SELECT family, island, min(name) AS canonical FROM isl GROUP BY 1, 2)
SELECT i.name AS name, c.canonical AS canonical
FROM isl i JOIN canon c USING (family, island)
"""


SPECS = [
    QuerySpec(
        "p01_end_to_end_build_path",
        p01_end_to_end_build_path,
        P01_SQL,
        "pipeline",
        "composed SURVEY §3.2 lifecycle: txt parse → clean → keep-first "
        "dedup → SymSpell ER → graph extraction → Q10-class answer off "
        "the fresh store, oracled in closed form from documents",
        bench=True,  # the end-to-end build-path number: every stage in one plan
    ),
    QuerySpec(
        "p02_enrichment_path",
        p02_enrichment_path,
        _p02_sql(),
        "pipeline",
        "composed SURVEY §3.3 enrichment lifecycle: classify → dead-"
        "letter split → topic-rel CSV extraction (F12 strip in-path) → "
        "g04-class topics-of-author answer off the read-back store",
        bench=True,  # the enrichment-path number, paired with p01's build path
    ),
    QuerySpec(
        "p03_incremental_er_lifecycle",
        p03_incremental_er_lifecycle,
        P03_SQL,
        "pipeline",
        "incremental ER lifecycle: standing state from the even-doc "
        "vocabulary slice, odd-doc delta folded in via delta SymSpell "
        "pairs + incremental connected components (merge-into, bridge-"
        "two-components, re-seen no-op, isolated, delta-internal-pair "
        "paths all exercised), gaps-and-islands closed-form oracle",
    ),
]
