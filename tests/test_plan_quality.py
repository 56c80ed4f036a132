"""Physical-plan audits: the properties that make these queries survive a
100 TB scale-up, asserted as regressions.

Each test pins one plan property the engine relies on:
- filters and column projections reach the parquet scan (Catalyst
  pushdown/pruning — SURVEY.md §4 "built-in once declarative");
- dimension joins broadcast instead of shuffling;
- graph rel-type predicates prune store partitions;
- hot-path expressions stay inside whole-stage codegen with no
  row-at-a-time Python evaluation.
"""

from __future__ import annotations

import re

import pytest

from tests.conftest import SF_CORRECT


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q01_filter_pushdown_and_column_pruning(spark):
    from advanced_technologies_of_china_graph_database_construction_spark.plans.relational import q01_pricing_summary

    plan = _plan(q01_pricing_summary(spark, SF_CORRECT))
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l and "lineitem" in l)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in scan, scan
    # projection pruning: the 16-column table is read as just the agg inputs
    read_schema = scan.split("ReadSchema:")[1]
    assert "l_comment" not in read_schema and "l_orderkey" not in read_schema, read_schema


def test_q03_dimension_joins_broadcast(spark):
    from advanced_technologies_of_china_graph_database_construction_spark.plans.relational import q03_regional_volume

    plan = _plan(q03_regional_volume(spark, SF_CORRECT))
    # nation and region must come in via broadcast, not shuffle
    assert plan.count("BroadcastHashJoin") >= 2, plan
    for line in plan.splitlines():
        if "FileScan parquet" in line and "region" in line:
            assert "r_comment" not in line.split("ReadSchema:")[1]


def test_graph_query_prunes_rel_type_partitions(spark):
    from advanced_technologies_of_china_graph_database_construction_spark.plans.graph_queries import g01_docs_by_author

    plan = _plan(g01_docs_by_author(spark, SF_CORRECT))
    pruned = [
        l for l in plan.splitlines()
        if "PartitionFilters" in l and "rel_type" in l and "AUTHORED" in l
    ]
    assert pruned, plan
    # the selective author filter enters via a broadcast join
    assert "BroadcastHashJoin" in plan, plan


def test_text_pipeline_has_no_python_row_evaluation(spark):
    """i01's parse/clean path is pure column expressions: no
    BatchEvalPython (row-at-a-time UDF) anywhere, and the final plan
    runs inside whole-stage codegen."""
    from advanced_technologies_of_china_graph_database_construction_spark.plans.ingest_queries import i01_parse_clean_records

    plan = _plan(i01_parse_clean_records(spark, SF_CORRECT))
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan


def test_token_totals_stays_jvm_side_with_partial_agg(spark):
    from advanced_technologies_of_china_graph_database_construction_spark.plans.registry import spec_map

    plan = _plan(spec_map()["d09_token_totals"].fn(spark, SF_CORRECT))
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan
    # map-side combine: partial aggregation below the exchange
    assert "partial_sum" in plan, plan


def test_minhash_verify_join_broadcasts_signatures(spark):
    """d02's verification joins ship the 16-long signature table
    broadcast — match counting is map-side over the candidate pairs."""
    from advanced_technologies_of_china_graph_database_construction_spark.catalog import load_table
    from advanced_technologies_of_china_graph_database_construction_spark.operators.dedup import minhash_near_dups

    docs = load_table(spark, SF_CORRECT, "documents")
    plan = _plan(minhash_near_dups(docs))
    assert plan.count("BroadcastHashJoin") >= 2, plan


# size-gated verification joins → the dedup module constant capping each
_SIZE_GATES = {
    "minhash_near_dups": "BROADCAST_MAX_DOCS",
    "ngram_jaccard_pairs": "BROADCAST_MAX_DOCS",
    "containment_pairs": "BROADCAST_MAX_DOCS",
}


@pytest.mark.parametrize("op", sorted(_SIZE_GATES))
def test_size_gated_broadcast_capped_above_threshold(spark, monkeypatch, op):
    """Over the doc-count cap the verification joins of d02 (MinHash),
    d05 (n-gram Jaccard) and d24 (containment) must NOT carry a forced
    broadcast hint: at ~10⁹ docs the per-doc table is tens of GB and a
    hinted broadcast OOMs every executor.  With the cap at 0 the plan
    must fall back to shuffled (sort-merge / shuffled-hash) joins."""
    from advanced_technologies_of_china_graph_database_construction_spark.catalog import load_table
    from advanced_technologies_of_china_graph_database_construction_spark.operators import dedup

    docs = load_table(spark, SF_CORRECT, "documents")
    under_cap = getattr(dedup, op)(docs)._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" in under_cap, under_cap  # the hint the cap removes
    monkeypatch.setattr(dedup, _SIZE_GATES[op], 0)
    logical = getattr(dedup, op)(docs)
    plan = _plan(logical)
    # AQE may still *choose* a broadcast at this tiny SF; what must be
    # gone is the unconditional logical hint — a ResolvedHint, or the
    # join hint the optimizer folds it into, in the optimized plan.
    optimized = logical._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in optimized, optimized
    assert "strategy=broadcast" not in optimized, optimized
    assert plan  # physical plan still builds and runs


def _settled_gate_calls(docs, names):
    """name → a call of each pair finder whose broadcast gate reads its
    size from ``superstep.settle``, over the given corpus / vocabulary."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators import dedup, er
    from pyspark.sql import functions as F

    def delta(corpus):
        is_delta = F.col("doc_id") % 3 == 0
        return dedup.minhash_delta_near_dups(corpus.filter(~is_delta), corpus.filter(is_delta))

    return {
        "minhash_near_dups": lambda: dedup.minhash_near_dups(docs),
        "minhash_delta_near_dups": lambda: delta(docs),
        "ngram_jaccard_pairs": lambda: dedup.ngram_jaccard_pairs(docs),
        "containment_pairs": lambda: dedup.containment_pairs(docs),
        "build_er_state": lambda: er.build_er_state(names),
        "incremental_er_refresh": lambda: er.incremental_er_refresh(
            er.build_er_state(names).localCheckpoint(eager=True),
            names.filter(names.name.startswith("a")),
            standing_n_rows=4,
        ),
        "symdelete_typo_pairs": lambda: er.symdelete_typo_pairs(
            names.withColumn("id", F.xxhash64("name")), n_rows=4
        ),
    }


_DOC_SCHEMA = "doc_id long, source string, text string"
_GATED = sorted(_settled_gate_calls(None, None))


@pytest.mark.parametrize("op", _GATED)
def test_settled_gates_schedule_only_their_checkpoints(spark, cost_of, monkeypatch, op):
    """Building a pair finder's frame runs no Spark job of its own
    beyond its checkpoints: each broadcast gate reads its row count in
    the checkpoint action (``superstep.settle``), not in a separate
    ``count()``.  ``toPandas`` counts with the checkpoints: it is
    ``connected_components``' one collect of its settled edge list on
    the union-find path ``build_er_state`` takes.  ``symdelete_typo_pairs``
    reads every size from its ``n_rows`` argument, so it takes no
    checkpoint and schedules no job at all."""
    text = "the quick brown fox jumps over the lazy dog "
    docs = spark.createDataFrame(
        [(i, "ab"[i % 2], text * 2 + str(i // 4)) for i in range(12)], _DOC_SCHEMA
    )
    names = spark.createDataFrame(
        [(n,) for n in ["alpha", "alpah", "alphas", "beta"]], "name string"
    )
    inside: list[int] = []
    for method in ("localCheckpoint", "toPandas"):
        original = getattr(type(docs), method)

        def recorded(self, *args, _original=original, **kwargs):
            out, (jobs, _) = cost_of(lambda: _original(self, *args, **kwargs))
            inside.append(jobs)
            return out

        monkeypatch.setattr(type(docs), method, recorded)
    _, (jobs, _) = cost_of(_settled_gate_calls(docs, names)[op])
    assert inside or op == "symdelete_typo_pairs", "no checkpoint taken"
    assert jobs == sum(inside), (jobs, inside)


@pytest.mark.parametrize(
    "op, texts",
    [(op, []) for op in _GATED]
    # a vocabulary has no short-text case: every surface is its own component
    + [(op, ["", "ab", None]) for op in _GATED if op != "build_er_state"],
    ids=lambda v: v if isinstance(v, str) else "all_short" if v else "empty",
)
def test_settled_gates_on_empty_and_short_input(spark, op, texts):
    """An empty corpus, or one whose texts hold no 3-gram, settles an
    empty frame and returns no pair; an empty vocabulary returns an
    empty ER state."""
    docs = spark.createDataFrame([(i, "a", t) for i, t in enumerate(texts)], _DOC_SCHEMA)
    names = spark.createDataFrame([], "name string")
    assert _settled_gate_calls(docs, names)[op]().count() == 0


def test_exact_similarity_join_is_distributed_group_gemm(spark):
    """The exact ε-ball join runs as grouped Arrow GEMM tasks — no
    driver-side collect of the vector table exists at plan-build time,
    and the physical plan is a FlatMapGroupsInPandas over the block-pair
    keys (constructing it must schedule nothing but the row-count job)."""
    from advanced_technologies_of_china_graph_database_construction_spark.catalog import load_table
    from advanced_technologies_of_china_graph_database_construction_spark.operators.er import exact_similarity_pairs

    emb = load_table(spark, SF_CORRECT, "embeddings")
    plan = _plan(exact_similarity_pairs(emb, 0.44))
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "CollectLimit" not in plan, plan


def test_er02_has_no_driver_collect_and_no_row_python(spark):
    """The gated ER composition stays fully distributed: grouped Arrow
    GEMM tasks (no driver-side vector materialization at plan-build
    time) and no row-at-a-time Python anywhere."""
    from advanced_technologies_of_china_graph_database_construction_spark.plans.er_queries import er02_canonical_mapping

    plan = _plan(er02_canonical_mapping(spark, SF_CORRECT))
    assert "CollectLimit" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


@pytest.mark.parametrize("op", ["ngram_jaccard_pairs", "containment_pairs"])
def test_jaccard_verification_is_jvm_array_intersect(spark, op):
    """d05's and d24's verification counts overlaps with JVM
    array_intersect over joined shingle arrays — no Python evaluation
    after the shingle kernel, no driver-side index."""
    from advanced_technologies_of_china_graph_database_construction_spark.catalog import load_table
    from advanced_technologies_of_china_graph_database_construction_spark.operators import dedup

    docs = load_table(spark, SF_CORRECT, "documents")
    plan = _plan(getattr(dedup, op)(docs))
    assert "array_intersect" in plan, plan
    # the only Python stage is the shingle hasher (ArrowEval), never a
    # row-at-a-time UDF
    assert "BatchEvalPython" not in plan, plan


def test_simhash_candidates_join_on_band_keys(spark):
    """d04 candidates come from an equi-join keyed on (band, bits, block)
    — the join keys must include the band value, not just the block."""
    from advanced_technologies_of_china_graph_database_construction_spark.catalog import load_table
    from advanced_technologies_of_china_graph_database_construction_spark.operators.dedup import simhash_near_dups

    docs = load_table(spark, SF_CORRECT, "documents")
    plan = _plan(simhash_near_dups(docs))
    assert "bv" in plan and ("SortMergeJoin" in plan or "BroadcastHashJoin" in plan), plan


def test_d18_bigram_counts_partial_aggregate_mapside(spark):
    """d18's gram counting must combine map-side before the exchange
    (one count shuffle over grams, no Python evaluation anywhere)."""
    from advanced_technologies_of_china_graph_database_construction_spark.plans.registry import spec_map

    plan = _plan(spec_map()["d18_top_bigrams"].fn(spark, SF_CORRECT))
    assert "partial_count" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_d17_packing_window_partitions_by_source_and_shard(spark):
    """The shard-safe packing window must partition by (source, shard) —
    one serial scan per shard, never per whole source."""
    from advanced_technologies_of_china_graph_database_construction_spark.plans.registry import spec_map

    plan = _plan(spec_map()["d17_sharded_packing"].fn(spark, SF_CORRECT))
    wins = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert wins and all("source" in l and "shard" in l for l in wins), plan


def test_d19_semdedup_is_one_grouped_gemm(spark):
    """SemDeDup's quadratic work is exactly one grouped Arrow stage
    (per-cluster GEMM) — no second Python stage, no driver collect."""
    from advanced_technologies_of_china_graph_database_construction_spark.plans.registry import spec_map

    plan = _plan(spec_map()["d19_semdedup_removed"].fn(spark, SF_CORRECT))
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    assert "CollectLimit" not in plan, plan


def test_encode_texts_is_narrow_map(spark):
    """The M1 encoder must be a single Arrow-batched map over the scan —
    no Exchange anywhere (encoding never shuffles text or vectors), and
    column pruning reaches the scan (only id+text read)."""
    from advanced_technologies_of_china_graph_database_construction_spark.catalog import load_table
    from advanced_technologies_of_china_graph_database_construction_spark.operators.encoder import (
        FakeEncoder,
        encode_texts,
    )

    docs = load_table(spark, SF_CORRECT, "documents")
    plan = _plan(encode_texts(docs, encoder=FakeEncoder(dim=16)))
    assert "Exchange" not in plan, plan
    assert plan.count("MapInPandas") == 1, plan
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    read_schema = scan.split("ReadSchema:")[1]
    assert "text" in read_schema and "source" not in read_schema, read_schema


def test_bm25_is_one_jvm_scan_with_broadcast_stats(spark):
    """BM25 scoring must stay JVM-side (array-filter tf, no Python
    evaluation), fold the corpus stats into a broadcast of a 1-row
    aggregate, and take the top-k as TakeOrderedAndProject — one scan,
    no global sort."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.ranking import bm25_topk

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    plan = _plan(bm25_topk(docs, ["dup", "vector"], k=10))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "Sort " not in plan.replace("TakeOrderedAndProject", ""), plan


def test_tfidf_df_dimension_joins_broadcast(spark):
    """tf-idf: the (doc,term) tf count partial-aggregates map-side and
    the per-term df table re-enters as a broadcast dimension."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.ranking import tfidf_top_terms

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    plan = _plan(tfidf_top_terms(docs, top_n=3))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin") >= 2, plan
    assert "partial_count" in plan, plan


def test_knn_graph_shuffles_candidates_not_pair_matrix(spark):
    """knn_graph's quadratic arithmetic stays inside ONE grouped Arrow
    GEMM kernel (FlatMapGroupsInPandas); what reaches the final window
    is the per-block candidate set (n·B·k rows), never n² scores."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.similarity import knn_graph

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    df = knn_graph(emb, k=5, block_rows=64, n_rows=500)
    plan = _plan(df)
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    assert "Window" in plan, plan


def test_funnel_is_chained_aggregations_no_window(spark):
    """e12 must stay three conditional min-aggs chained by key joins —
    no window over the raw event stream, no Python evaluation."""
    from advanced_technologies_of_china_graph_database_construction_spark.plans.events_queries import (
        e12_conversion_funnel,
    )

    plan = _plan(e12_conversion_funnel(spark, SF_CORRECT))
    assert "Window" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "partial_min" in plan, plan  # map-side combine on the min-aggs


def test_quantized_ann_scores_jvm_side(spark):
    """a06: integer dot scoring is a zip_with/aggregate JVM expression
    over a broadcast of the quantized queries — no Python, no
    shuffled join for the scoring pass."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.similarity import (
        quantized_topk,
    )

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    plan = _plan(quantized_topk(emb, [0, 1], k=5))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_hits_and_bfs_iterations_are_join_agg_supersteps(spark):
    """g26/g27: each round is joins + aggregates (Pregel superstep as
    shuffles) — never a collect-driven loop materializing node state in
    Python, and no Python row evaluation anywhere in the plan."""
    from advanced_technologies_of_china_graph_database_construction_spark.plans.analytics_queries import (
        g26_doc_keyword_hits,
        g27_reach_distances,
    )

    for fn in (g26_doc_keyword_hits, g27_reach_distances):
        plan = _plan(fn(spark, SF_CORRECT))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
        # Superstep materialization: the returned plan reads the last
        # round's localCheckpoint blocks (the join+agg superstep shape
        # executed eagerly per round; values pinned by the numpy
        # references in test_analytics).  A HashAggregate here would
        # mean the rounds went back to lazy lineage re-derivation.
        assert "ExistingRDD" in plan, plan


def test_dup_span_audit_stays_jvm_with_one_count_shuffle(spark):
    """d29: gram construction is a JVM array expression (no Python row
    evaluation), the corpus-wide gram count partial-aggregates map-side,
    and both island windows share one sort."""
    from advanced_technologies_of_china_graph_database_construction_spark.plans.docs_queries import d29_dup_span_audit

    plan = _plan(d29_dup_span_audit(spark, SF_CORRECT))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "partial_count" in plan, plan
    # lag + running-sum windows reuse one sort (same partitioning/order)
    assert plan.count("Sort ") - plan.count("SortMergeJoin") <= 1, plan


def test_symdelete_candidates_join_on_variant_hash(spark):
    """er08: the candidate join keys on the xxhash64 variant (8-byte
    shuffle key, never the name matrix) and the verify name lookups
    broadcast."""
    from advanced_technologies_of_china_graph_database_construction_spark.plans.er_queries import er08_typo_alias_pairs

    plan = _plan(er08_typo_alias_pairs(spark, SF_CORRECT))
    assert "xxhash64" in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_adamic_adar_is_join_agg_topk(spark):
    """g29: wedge join + count/sum aggregation + TakeOrderedAndProject —
    the top-k never globally sorts the scored pair set."""
    from advanced_technologies_of_china_graph_database_construction_spark.plans.analytics_queries import (
        g29_adamic_adar_links,
    )

    plan = _plan(g29_adamic_adar_links(spark, SF_CORRECT))
    assert "TakeOrderedAndProject" in plan, plan
    assert "partial_count" in plan or "partial_sum" in plan, plan


def test_event_transitions_single_user_sort(spark):
    """e14: one per-user sort feeds the lag window; the normalizer is a
    second window over the tiny (prev,next) count table, not the raw
    event stream."""
    from advanced_technologies_of_china_graph_database_construction_spark.plans.events_queries import (
        e14_event_transitions,
    )

    plan = _plan(e14_event_transitions(spark, SF_CORRECT))
    assert "BatchEvalPython" not in plan, plan
    assert "partial_count" in plan, plan


def test_chunking_is_one_narrow_pass(spark):
    """d32's chunking must not shuffle: tokens, offsets, slices, and
    the explode are all narrow; only doc_id+text are read."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.textops import chunk_documents

    df = chunk_documents(
        spark.read.parquet(f"{SF_CORRECT}/documents.parquet"), 64, 8
    )
    plan = _plan(df)
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    read_schema = scan.split("ReadSchema:")[1]
    assert "text" in read_schema and "lang" not in read_schema, read_schema


def test_nfc_audit_reads_narrow_projection(spark):
    """d33's Python seam is Arrow-batched over exactly (doc_id, text) —
    the normalizer never sees (or shuffles) other columns."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.textops import nfc_audit

    df = nfc_audit(spark.read.parquet(f"{SF_CORRECT}/documents.parquet"))
    plan = _plan(df)
    assert "MapInPandas" in plan, plan
    assert "Exchange" not in plan, plan
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    read_schema = scan.split("ReadSchema:")[1]
    assert "doc_id" in read_schema and "text" in read_schema, read_schema
    assert "lang" not in read_schema and "source" not in read_schema, read_schema


def test_media_decoders_never_shuffle_payload(spark):
    """m05/m06: the binary payload flows scan -> synthesize -> decode
    with no Exchange touching it (aggregations happen after the seam
    reduced payloads to scalar stats)."""
    from advanced_technologies_of_china_graph_database_construction_spark.multimodal import media as mm

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    for df in (
        mm.image_stats(mm.attach_ppm_images(docs)),
        mm.video_stats(mm.attach_y4m_videos(docs)),
        mm.sampled_frame_stats(mm.attach_y4m_videos(docs)),
        mm.resized_image_stats(mm.attach_ppm_images(docs)),
    ):
        plan = _plan(df)
        assert "MapInPandas" in plan, plan
        assert "Exchange" not in plan, plan


def test_pagerank_iteration_shuffles_rank_vector_not_edges(spark):
    """The hoisted superstep, asserted on the IN-LOOP plan: pagerank
    eagerly localCheckpoints every superstep, so the RETURNED frame's
    executed plan is just a scan over the last checkpoint and can never
    contain an edge Exchange, hoisted or not (the pre-r6 version of
    this test asserted on that plan — vacuously).  Instead this builds
    the hoisted edge frame (out-degree fold) inside the shared
    ``superstep.scatter_cache`` and one iteration's msgs→sums plan
    WITHOUT the trailing checkpoint, then asserts:

    1. the edge side of the join reads the persisted, src-partitioned
       cache (InMemoryTableScan — the hoist's delivery mechanism: under
       AQE a localCheckpoint reports UnknownPartitioning and the loop
       would re-exchange |E| per round, which is exactly what r5's
       version silently did);
    2. the live iteration plan inserts no exchange on src above the
       cache — the only exchange in the outer plan moves the |V|-sized
       message vector (hashpartitioning on the gather key) into the
       groupBy.  The cache-BUILD plan nested inside InMemoryRelation
       legitimately contains the one-time src exchanges (the deg fold
       join), so assertions run on the OUTER region only — everything
       printed before the nested InMemoryRelation subtree, which covers
       the aggregate, its exchange, the join, and the edge-side scan;
    3. the plan really contains the join + aggregate (guards against
       this test going vacuous again if the loop body changes shape).

    Broadcast is disabled for the probe: the production rank vector is
    |V|-sized (not broadcast-able), and a broadcast join here would
    hide the partitioning question entirely.
    """
    from pyspark.sql import functions as F

    from advanced_technologies_of_china_graph_database_construction_spark.operators.superstep import (
        node_set,
        scatter_cache,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        edges = spark.createDataFrame(
            [(i, (i * 7 + 1) % 50) for i in range(200)], "src long, dst long"
        ).filter("src <> dst").localCheckpoint(eager=True)
        deg = (
            edges.groupBy("src")
            .agg(F.sum(F.lit(1.0)).alias("outdeg"))
            .localCheckpoint(eager=True)
        )
        folded = edges.withColumn("__w", F.lit(1.0)).join(deg, "src")
        # the context manager unpersists even on assert failure: the
        # session is shared
        with scatter_cache(folded) as hoisted:
            nodes = node_set(hoisted).localCheckpoint(eager=True)
            ranks = nodes.withColumn("rank", F.lit(1.0 / 50))
            # one loop body, NOT checkpointed — the live superstep plan
            sums = (
                hoisted.join(ranks, hoisted.src == ranks.node)
                .select(
                    F.col("dst").alias("node"),
                    (F.col("rank") * F.col("__w") / F.col("outdeg")).alias("m"),
                )
                .groupBy("node")
                .agg(F.sum("m").alias("m"))
            )
            outer = _plan(sums).split("InMemoryRelation")[0]
        assert "Join" in outer and "Aggregate" in outer, outer  # non-vacuity
        assert "InMemoryTableScan" in outer, outer  # edge side reads the cache
        # |E| side never re-exchanged inside the loop
        assert "Exchange hashpartitioning(src" not in outer, outer
        assert "Exchange hashpartitioning(node" in outer, outer  # the |V| shuffle
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_p01_composed_pipeline_stays_jvm_side(spark):
    """The end-to-end build path (parse → clean → dedup → ER-mapped
    keywords → extraction → aggregate) compiles to a single JVM plan:
    no row-at-a-time Python, no Arrow seam (the ER mapping is applied
    as a broadcast join, not a UDF), no cartesian product."""
    from advanced_technologies_of_china_graph_database_construction_spark.plans.pipeline_queries import (
        p01_end_to_end_build_path,
    )

    plan = _plan(p01_end_to_end_build_path(spark, SF_CORRECT))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan  # the mapping application


def test_classifier_and_lm_plans_stay_jvm_side(spark):
    """d36 (Naive Bayes) and d37 (bigram-LM perplexity) are pure
    column-expression pipelines: counts, joins, log arithmetic — no
    Python evaluation anywhere, partial aggregation below the count
    shuffles, and the tiny model-side frames broadcast."""
    from advanced_technologies_of_china_graph_database_construction_spark.plans.registry import spec_map

    m = spec_map()
    for name in ("d36_nb_langid_confusion", "d37_bigram_lm_perplexity"):
        plan = _plan(m[name].fn(spark, SF_CORRECT))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert "partial_count" in plan or "partial_sum" in plan, name
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, name


def test_zorder_audit_is_jvm_single_aggregation(spark):
    """s08: the Morton-key arithmetic is pure column expressions (no
    Python eval), with map-side partial aggregation below the single
    exchange — the shape that lets the audit run over 100 TB as one
    combine-heavy pass."""
    from advanced_technologies_of_china_graph_database_construction_spark.plans.skew_queries import s08_zorder_layout_audit

    plan = _plan(s08_zorder_layout_audit(spark, SF_CORRECT))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert "partial_count" in plan or "partial_min" in plan, plan


def test_incremental_merge_uses_partial_aggregation(spark):
    """e21: both the base and delta partial aggregates must map-side
    combine before their exchanges — the merge's O(delta) claim rests
    on the partials being small."""
    from advanced_technologies_of_china_graph_database_construction_spark.plans.events_queries import e21_incremental_agg_maintenance

    plan = _plan(e21_incremental_agg_maintenance(spark, SF_CORRECT))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert plan.count("partial_count") >= 2, plan  # base AND delta sides


def test_q18_disjunction_pushes_common_terms_to_both_scans(spark):
    """The OR-of-conjunctions predicate must not stay entirely above the
    join: Catalyst's common-term extraction pushes the quantity-range
    union onto the lineitem scan and the brand/size union onto the part
    scan, so both sides pre-filter before joining."""
    from advanced_technologies_of_china_graph_database_construction_spark.plans.relational import (
        q18_disjunctive_predicate_revenue,
    )

    plan = _plan(q18_disjunctive_predicate_revenue(spark, SF_CORRECT))
    li_scan = next(
        l for l in plan.splitlines() if "FileScan parquet" in l and "l_quantity" in l
    )
    part_scan = next(
        l for l in plan.splitlines() if "FileScan parquet" in l and "p_brand" in l
    )
    assert "l_quantity" in li_scan.split("DataFilters:")[1], li_scan
    assert "p_brand" in part_scan.split("DataFilters:")[1], part_scan


def test_q19_sql_subqueries_compile_to_joins_not_probes(spark):
    """The literal-SQL subquery forms must land as set operations: the
    correlated NOT EXISTS as ONE left-anti join (never a per-row
    probe), with its priority predicate pushed into the orders scan
    below the anti-join; the uncorrelated average as a scalar subquery
    node that executes once (it may appear only inside a pushed filter
    — never as a join the anti-join rebuilds per partition)."""
    from advanced_technologies_of_china_graph_database_construction_spark.plans.relational import (
        q19_rich_inactive_customers,
    )

    plan = _plan(q19_rich_inactive_customers(spark, SF_CORRECT))
    assert "LeftAnti" in plan, plan
    assert "scalar-subquery" in plan or "Subquery" in plan, plan
    orders_scan = next(
        l
        for l in plan.splitlines()
        if "FileScan parquet" in l and "o_orderpriority" in l
    )
    assert "1-URGENT" in orders_scan.split("DataFilters:")[1], orders_scan


def test_ingest_and_checksum_audits_stay_jvm_single_exchange(spark):
    """i05/d40: the JSON parse + corrupt split (JsonToStructs) and the
    md5-slice checksum folds are pure JVM column expressions — no
    Python eval anywhere — and each plan's only exchange is the final
    per-source aggregate, map-side combined, carrying a handful of
    numbers per group (the payload never shuffles)."""
    from advanced_technologies_of_china_graph_database_construction_spark.plans.docs_queries import d40_table_checksum
    from advanced_technologies_of_china_graph_database_construction_spark.plans.ingest_queries import (
        i05_malformed_json_deadletter,
    )

    for fn in (i05_malformed_json_deadletter, d40_table_checksum):
        plan = _plan(fn(spark, SF_CORRECT))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
        assert plan.count("Exchange") == 1, plan
        assert "partial_count" in plan or "partial_sum" in plan, plan


def test_q20_except_compiles_to_anti_join_on_pruned_columns(spark):
    """q20: the EXCEPT DISTINCT set op must land as one left-anti join
    over single-column scans (column pruning reached the parquet
    reader) with the residue filter pushed below the join."""
    from advanced_technologies_of_china_graph_database_construction_spark.plans.relational import q20_lapsed_customers

    plan = _plan(q20_lapsed_customers(spark, SF_CORRECT))
    assert "LeftAnti" in plan, plan
    for line in plan.splitlines():
        if "FileScan parquet" in line:
            assert "ReadSchema: struct<o_custkey:bigint>" in line, line
    assert "% 5" in plan, plan


def test_q21_unpivot_is_one_expand_pass(spark):
    """q21: the melt must land as ONE Expand over a single scan of the
    pivoted aggregate — not a union of per-column self-scans (the
    pre-Expand way to write unpivot, which re-reads the input once per
    value column)."""
    from advanced_technologies_of_china_graph_database_construction_spark.plans.relational import (
        q21_status_revenue_unpivot,
    )

    plan = _plan(q21_status_revenue_unpivot(spark, SF_CORRECT))
    assert "Expand" in plan, plan
    assert plan.count("FileScan parquet") == 1, plan


def test_e25_variant_path_stays_jvm_single_exchange(spark):
    """e25: parse_json/variant_get/schema_of_variant are JVM
    expressions — no Python eval — and the only exchange is the final
    bucket aggregate, map-side combined."""
    from advanced_technologies_of_china_graph_database_construction_spark.plans.events_queries import (
        e25_props_variant_stats,
    )

    plan = _plan(e25_props_variant_stats(spark, SF_CORRECT))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_incremental_components_never_shuffles_the_mapping(spark):
    """The delta-CC scale claim: the |V| mapping is probed and
    relabelled through BROADCAST joins only — every shuffle in the
    plan is delta-sized.  A hash-partition exchange feeding the
    mapping's union side would mean the full mapping moves per delta
    batch, the exact cost the operator exists to avoid."""
    from pyspark.sql import functions as F

    from advanced_technologies_of_china_graph_database_construction_spark.operators.connected_components import (
        incremental_components,
    )

    mapping = spark.range(0, 10_000).select(
        F.col("id"), (F.col("id") - F.col("id") % 4).alias("component")
    )
    delta = spark.createDataFrame(
        [(0, 4), (8, 12), (100, -1)], "src long, dst long"
    )
    plan = _plan(incremental_components(mapping, delta))
    # the relabel join of the mapping must be broadcast...
    assert "BroadcastHashJoin" in plan, plan
    # ...and the ONLY shuffle is the delta endpoints' distinct — the
    # mapping side (spark.range here) reaches its joins un-exchanged
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "SortMergeJoin" not in plan, plan


def test_merge_versioned_is_one_window_exchange(spark):
    """The streaming-upsert merge folds store ∪ batch with ONE
    key-partition exchange feeding the latest-wins window — no extra
    shuffle per micro-batch beyond the one the compaction needs."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.cdc import (
        merge_versioned,
    )

    store = spark.createDataFrame(
        [(1, "a", 0, "upsert")], "doc_id long, text string, seq int, op string"
    )
    batch = spark.createDataFrame(
        [(1, "a2", 1, "upsert")], "doc_id long, text string, seq int, op string"
    )
    plan = _plan(merge_versioned(store, batch))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_scc_is_checkpointed_supersteps_no_python_no_cartesian(spark):
    """g39: the SCC decomposition's returned frame reads the assign-loop
    localCheckpoint blocks (trim/color/backward-reach all execute as
    join+agg supersteps, never a collect-driven python loop); no Python
    row evaluation and no Cartesian product anywhere — the backward
    multi-root walk is an equi-join on (dst = frontier.node), not a
    node×node blowup."""
    from advanced_technologies_of_china_graph_database_construction_spark.plans.analytics_queries import (
        g39_strongly_connected,
    )

    plan = _plan(g39_strongly_connected(spark, SF_CORRECT))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "ExistingRDD" in plan, plan


def test_dsir_weights_scoring_is_one_broadcast_join_one_sum(spark):
    """d43: the target flag rides the feature rows (no target-id
    broadcast join anywhere), so the scoring plan is exactly ONE
    broadcast join of the ≤n_buckets log-ratio table over the features
    plus a map-side-partial doc_id sum — all JVM-side (the
    char-polynomial hash is a codegen fold, not a UDF).  Since r11 the
    corpus-token-sized feature frame is RECOMPUTED per consumer, never
    materialized: the probe side must be exactly one parquet scan
    (single explode of concatenated uni+bi buckets, not a two-branch
    union) and the only ExistingRDD block is the ≤n_buckets counts
    checkpoint feeding the ratios side."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators.selection import (
        dsir_importance_weights,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    plan = _plan(dsir_importance_weights(docs, F.col("lang") == "en", n_buckets=256))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert "partial_count" in plan and "partial_sum" in plan, plan
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Scan ExistingRDD") == 1, plan


def test_npmi_vocab_broadcast_and_topk_no_global_sort(spark):
    """d44: the qualifying vocabulary and both df dimensions must enter
    as broadcasts, the pair count must partial-aggregate map-side, and
    the top-k cutoff must plan as TakeOrderedAndProject — never a
    global Sort.  Since r11 the pairs are generated map-side from each
    document's bounded word array, so the plan must carry NO join at
    all on the corpus-sized pair path — no SortMergeJoin anywhere —
    and no exploded self-join shuffle.  Since r12 the per-doc cap is a
    row_number WINDOW FILTER upstream of the collect_list aggregate
    (the window's spillable row buffer replaces an unspillable uncapped
    aggregation-buffer array): the plan must show the Window, the
    ``<= cap`` filter, and only partition-local sorts — a global sort
    would need a range-partitioning exchange."""
    from advanced_technologies_of_china_graph_database_construction_spark.operators import textops

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    plan = _plan(
        textops.npmi_collocations(docs, min_word_docs=5, min_pair_docs=5, top_k=50)
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # the pre-cap: row_number window + the <= 1000 filter feed the
    # aggregate, so the collect_list input is already bounded
    assert "Window" in plan, plan
    assert "<= 1000" in plan, plan
    assert plan.count("BroadcastExchange") >= 3, plan
    assert "partial_count" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_minhash_delta_broadcasts_delta_never_shuffles_standing(spark, monkeypatch):
    """d45: while the delta fits the cap, the new-side frames (band
    probe, delta signatures) and one side of the all-row signature
    lookup enter as broadcasts, so the standing side is never shuffled;
    past the cap the unconditional hints must be gone (the d02
    discipline)."""
    from advanced_technologies_of_china_graph_database_construction_spark.catalog import load_table
    from advanced_technologies_of_china_graph_database_construction_spark.operators import dedup
    from pyspark.sql import functions as F

    docs = load_table(spark, SF_CORRECT, "documents")
    is_delta = F.pmod(F.col("doc_id"), F.lit(7)).isin(0, 1)
    small = dedup.minhash_delta_near_dups(docs.filter(~is_delta), docs.filter(is_delta))
    plan = _plan(small)
    assert plan.count("BroadcastHashJoin") >= 3, plan
    monkeypatch.setattr(dedup, "BROADCAST_MAX_DOCS", 0)
    capped = dedup.minhash_delta_near_dups(docs.filter(~is_delta), docs.filter(is_delta))
    optimized = capped._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in optimized, optimized
    assert "strategy=broadcast" not in optimized, optimized


def _left_subtree(plan: str, node: str) -> str:
    """The tree-string lines of the left (streamed) child of the first
    ``node`` line in ``plan``."""
    lines = plan.splitlines()
    i = next(k for k, line in enumerate(lines) if node in line)
    col = len(lines[i]) - len(lines[i].lstrip(" :+-"))
    out = []
    for line in lines[i + 1:]:
        if len(line) <= col or line[col] != ":":
            break
        out.append(line)
    return "\n".join(out)


def test_er_delta_broadcasts_new_side_never_shuffles_standing(spark, monkeypatch):
    """The SymSpell pair kernel under a refresh: while the new names fit
    ``SYMDELETE_MAX_NEW``, the new-side variants enter the candidate
    join as a broadcast, so the standing variants reach it with no
    Exchange above them; with the cap at 0 no broadcast hint is left in
    the optimized plan (a large delta takes the shuffled-hash shape)."""
    from advanced_technologies_of_china_graph_database_construction_spark.catalog import load_table
    from advanced_technologies_of_china_graph_database_construction_spark.operators import er
    from pyspark.sql import functions as F

    sup = load_table(spark, SF_CORRECT, "supplier").select(
        F.col("s_suppkey").alias("id"), F.col("s_name").alias("name")
    )
    is_delta = F.col("id") % 7 == 0
    standing, delta = sup.filter(~is_delta), sup.filter(is_delta)

    def pairs():
        small = 20 <= er.SYMDELETE_MAX_NEW
        return er._symdelete_pairs(er._flagged(standing, delta, "id", small), 20, 100)

    join = "BroadcastHashJoin [vh"
    plan = _plan(pairs())
    scan = _left_subtree(plan, join)
    assert "Generate explode" in scan and "supplier" in scan, plan
    # a broadcast of the delta ids may sit beside the standing scan (the
    # re-delivered-id anti-join); no shuffle may sit above it
    assert not re.search(r"\bExchange\b", scan), scan
    monkeypatch.setattr(er, "SYMDELETE_MAX_NEW", 0)
    monkeypatch.setattr(er, "BROADCAST_MAX_ROWS", 0)
    optimized = pairs()._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in optimized, optimized
    assert "strategy=shuffle_hash" in optimized, optimized


def test_a11_filter_pushed_to_candidate_scan(spark):
    """a11: PRE-filtering means the label predicate reaches the
    candidate parquet scan as a PushedFilter — only the qualifying
    fraction of the corpus is read and scored (post-filtering an
    unfiltered top-k under-fills k).  The query side broadcasts; the
    corpus side is never shuffled."""
    from advanced_technologies_of_china_graph_database_construction_spark.plans.docs_queries import (
        a11_filtered_ann,
    )

    plan = _plan(a11_filtered_ann(spark, SF_CORRECT))
    scans = [
        l for l in plan.splitlines()
        if "FileScan parquet" in l and "embeddings" in l
    ]
    assert any(
        "PushedFilters:" in s and "EqualTo(label,1)" in s for s in scans
    ), plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_g43_embedding_ann_single_exchange_broadcast_query(spark):
    """g43: after the vector frame materializes, the ANN scan is ONE
    exchange (the top-k ordering) with the 1-row query entering via a
    broadcast nested-loop join — the corpus side is never shuffled to
    meet the query, and no Python row evaluation anywhere (the cosine
    is a JVM aggregate fold)."""
    from advanced_technologies_of_china_graph_database_construction_spark.plans.analytics_queries import (
        g43_walk_embedding_ann,
    )

    plan = _plan(g43_walk_embedding_ann(spark, SF_CORRECT))
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert plan.count("Exchange") <= 2, plan  # TakeOrdered needs no total sort


def test_g45_sample_filter_is_map_side_and_crossjoins_broadcast(spark):
    """g45: the seeded-hash sampling predicate runs as a map-side
    Filter on the checkpointed edge frame BEFORE any wedge join (the
    DOULION cost dial — the join works on the p-fraction), and the
    only nested-loop joins are the three broadcast 1-row contract
    assemblies, never a real cartesian."""
    from advanced_technologies_of_china_graph_database_construction_spark.plans.analytics_queries import (
        g45_sampled_triangles,
    )

    plan = _plan(g45_sampled_triangles(spark, SF_CORRECT))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 3, plan
    assert "pmod" in plan and "Filter" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_g49_betweenness_is_checkpointed_supersteps(spark):
    """g49: the forward σ layers and backward δ layers execute as
    checkpointed join+agg supersteps (the returned frame reads
    ExistingRDD blocks), the final fold is one aggregation — no Python
    row evaluation, no cartesian, and δ's arithmetic is a JVM column
    expression over the layer joins."""
    from advanced_technologies_of_china_graph_database_construction_spark.plans.analytics_queries import (
        g49_landmark_betweenness,
    )

    plan = _plan(g49_landmark_betweenness(spark, SF_CORRECT))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "ExistingRDD" in plan, plan


def test_g50_refine_gain_is_jvm_and_assemblies_broadcast(spark):
    """g50: the gain expression, argmax (max-of-struct, no window on
    the candidate path) and every accounting aggregation are JVM
    column expressions; the only nested-loop joins are the broadcast
    1-row contract assemblies (2W + six accounting frames) — never a
    real cartesian, no Python evaluation, no driver lookups."""
    from advanced_technologies_of_china_graph_database_construction_spark.plans.analytics_queries import (
        g50_louvain_refine,
    )

    plan = _plan(g50_louvain_refine(spark, SF_CORRECT))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 6, plan


def test_g51_auc_joins_are_bounded_broadcasts(spark):
    """g51: every join past the corpus self-join runs over ≤K- or
    ≤K·EMB_BUCKETS-row frames entering as broadcasts (vocabulary
    pairs, dots, edge flags, the P×N comparison) — no sort-merge join
    on the eval path, no real cartesian, no Python evaluation."""
    from advanced_technologies_of_china_graph_database_construction_spark.plans.analytics_queries import (
        g51_embedding_link_auc,
    )

    plan = _plan(g51_embedding_link_auc(spark, SF_CORRECT))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # the bounded K² pair build


def test_g42_ppmi_stays_jvm_side(spark):
    """g42: pair counting, marginals, and the PPMI expression are all
    JVM column expressions over the checkpointed pair frame — no
    Python evaluation, no cartesian; the 1-row total enters via a
    broadcast nested-loop join."""
    from advanced_technologies_of_china_graph_database_construction_spark.plans.analytics_queries import (
        g42_walk_ppmi_collocations,
    )

    plan = _plan(g42_walk_ppmi_collocations(spark, SF_CORRECT))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan


def test_d50_budget_selection_windows_are_partitioned_and_bounded(spark):
    """d50: the running-sum window over the document-scale frame is
    PARTITIONED by bucket (never an empty partition spec over the
    corpus — the classic single-partition global-sort trap); the only
    unpartitioned window folds the ≤ n_buckets offsets frame.  The
    quantile bounds and the in-plan budget each enter via a 1-row
    broadcast nested-loop join; everything stays JVM-side."""
    from advanced_technologies_of_china_graph_database_construction_spark.plans.docs_queries import (
        d50_token_budget_selection,
    )

    plan = _plan(d50_token_budget_selection(spark, SF_CORRECT))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # corpus-scale running sum: partition spec leads with bucket
    assert "windowspecdefinition(bucket" in plan, plan
    # 3 one-row broadcasts: the budget gate, plus the bounds frame once
    # per consumer (offsets branch + running-sum branch — re-broadcasting
    # one row twice beats a checkpoint barrier between the branches)
    assert plan.count("BroadcastNestedLoopJoin") == 3, plan


def test_a13_recall_reuses_kernels_no_cartesian(spark):
    """a13: the recall contract composes the gated a01/a02 operators —
    the brute side's Arrow einsum kernel is the ONE Python stage; the
    per-query rank statistics and overlap joins never introduce a
    cartesian, and the tiny per-query aggregates join as broadcasts."""
    from advanced_technologies_of_china_graph_database_construction_spark.plans.docs_queries import a13_ivf_recall

    plan = _plan(a13_ivf_recall(spark, SF_CORRECT))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
