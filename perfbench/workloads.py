"""The benchmark's workloads.  ``Batch`` exposes ``op(tracer)``, one
operation timed by the caller whose outputs are collected inside it, and
``check(out)``, which compares them with independent oracles outside the
timed window and returns ``(attempted, failed)``.  ``Serve`` exposes
``answer(question, tracer)`` and ``check(question, response)``.

The layers are called through their public functions, from outside the
package.  With a disabled tracer the calls compose into the same lazy
plans the package's own pipelines build; with an enabled tracer every
layer's output is materialized and timed as a span.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import pandas as pd
from pyspark.sql import functions as F

from advanced_technologies_of_china_graph_database_construction_spark.catalog import load_table
from advanced_technologies_of_china_graph_database_construction_spark.nl import api, engine, planner
from advanced_technologies_of_china_graph_database_construction_spark.nl.formatter import format_rows
from advanced_technologies_of_china_graph_database_construction_spark.operators import graph as graph_mod
from advanced_technologies_of_china_graph_database_construction_spark.operators.connected_components import (
    connected_components,
)
from advanced_technologies_of_china_graph_database_construction_spark.operators.dedup import (
    minhash_delta_near_dups,
    minhash_near_dups,
)
from advanced_technologies_of_china_graph_database_construction_spark.operators.er import (
    apply_mapping_array,
    build_er_state,
    incremental_er_refresh,
    symdelete_typo_pairs,
)
from advanced_technologies_of_china_graph_database_construction_spark.plans import pipeline_queries
from advanced_technologies_of_china_graph_database_construction_spark.plans.registry import all_specs
from advanced_technologies_of_china_graph_database_construction_spark.sources import txt_records as txt
from advanced_technologies_of_china_graph_database_construction_spark.sources.graph_store import (
    read_graph,
    write_graph,
)
from tests.oracle import normalize

import questions

# the delta batch is the documents with doc_id % DELTA_MOD == 0 (~1.6 %)
DELTA_MOD = 64
EDGE_TABLES = ("e_authored", "e_has_keyword", "e_published_by", "e_author_address",
               "e_has_topic", "e_alias_of")


def same_rows(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Order-insensitive equality of two frames (names, rows, values)."""
    if sorted(got.columns) != sorted(want.columns):
        return False
    rows = lambda df: normalize([tuple(r) for r in df.itertuples(index=False)], list(df.columns))  # noqa: E731
    return rows(got) == rows(want)


def drop_cached_store(data: str) -> None:
    """Delete the package's cached graph store of the dataset ``data``."""
    for old in glob.glob(os.path.join(graph_mod._STORE_ROOT, os.path.basename(data) + "-*")):
        shutil.rmtree(old)


def edge_rows(con) -> int:
    """Edge rows of the graph, from DuckDB over the generated tables."""
    return con.execute(
        graph_mod.GRAPH_ORACLE_CTES + "SELECT "
        + " + ".join(f"(SELECT count(*) FROM {t})" for t in EDGE_TABLES)
    ).fetchone()[0]


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


class Build:
    """Full construction, then one delta batch.  Graph derivation and
    the store write are left to ``serve``'s set-up, which runs both
    through ``build_graph``."""

    def __init__(self, ctx):
        self.ctx = ctx
        spark, data = ctx.spark, ctx.data
        docs = load_table(spark, data, "documents")
        surf = spark.read.parquet(f"{data}/er_surfaces.parquet")
        delta = F.col("doc_id") % DELTA_MOD == 0
        self.standing_docs = docs.filter(~delta)
        self.standing_names = surf.filter(~delta).select("name")
        self.delta_docs = docs.filter(delta)
        self.delta_names = surf.filter(delta).select("name")

    def _records(self, tr) -> pd.DataFrame:
        """The p01 record pipeline: parse → clean → keep-first dedup →
        SymSpell ER → extraction → per-(keyword, year) answer."""
        spark = self.ctx.spark
        with tr.span("txt_records"):
            files = pipeline_queries._render_p01_files(spark, self.ctx.data)
            rec = tr.done(txt.keep_first_dedup(txt.clean_records(txt.parse_blocks(files))))
        with tr.span("er.typo_pairs"):
            surfaces = (
                rec.select(F.explode("keywords").alias("name")).distinct()
                .withColumn("sid", F.xxhash64("name")).localCheckpoint(eager=True)
            )
            pairs = tr.done(symdelete_typo_pairs(surfaces, id_col="sid", name_col="name"))
        with tr.span("connected_components.closure"):
            comp = tr.done(connected_components(pairs.select("src", "dst")))
        with tr.span("er.apply_mapping"):
            withcomp = surfaces.join(comp, surfaces.sid == comp.id, "left").select(
                "name", F.coalesce("component", F.col("sid")).alias("comp"))
            canon = withcomp.groupBy("comp").agg(F.min("name").alias("canonical"))
            mapping = withcomp.join(canon, "comp").select(F.col("name").alias("id"), "canonical")
            mapped = tr.done(apply_mapping_array(rec, mapping, "keywords", id_cols=("title", "year")))
        edges = mapped.select("title", "year", F.explode("keywords").alias("keyword")).distinct()
        return edges.groupBy("keyword", "year").agg(F.count("*").alias("n_docs")).toPandas()

    def op(self, tr) -> dict:
        t0 = time.perf_counter()
        out = {"p01": self._records(tr)}
        with tr.span("er.build_state"):
            # the standing state is a stored table in production
            state = build_er_state(self.standing_names).localCheckpoint(eager=True)
        with tr.span("dedup.full"):
            out["full_pairs"] = minhash_near_dups(self.standing_docs).toPandas()
        out["build_s"] = time.perf_counter() - t0
        t1 = time.perf_counter()
        with tr.span("er.refresh"):
            out["state"] = incremental_er_refresh(state, self.delta_names).localCheckpoint(eager=True)
        with tr.span("dedup.delta"):
            out["delta_pairs"] = minhash_delta_near_dups(self.standing_docs, self.delta_docs).toPandas()
        out["refresh_s"] = time.perf_counter() - t1
        return out

    def check(self, out: dict) -> tuple[int, int]:
        ok = same_rows(out["p01"], self.ctx.con.execute(pipeline_queries.P01_SQL).df())
        # the delta batch against from-scratch rebuilds
        rebuilt = build_er_state(self.standing_names.unionByName(self.delta_names))
        ok &= same_rows(out["state"].toPandas(), rebuilt.toPandas())
        # delta pairs are oriented (earlier doc, delta doc), full ones src < dst
        key = lambda df: {(min(a, b), max(a, b), n) for a, b, n in zip(df.src, df.dst, df.n_matching)}  # noqa: E731
        both = minhash_near_dups(self.standing_docs.unionByName(self.delta_docs)).toPandas()
        ok &= key(out["delta_pairs"]) == key(both) - key(out["full_pairs"])
        return 1, int(not ok)

    def ratios(self, tr, ops: list[dict]) -> dict:
        """Layer ratios of a traced run, with their bases."""
        surfaces = self.standing_names.distinct().withColumn("sid", F.xxhash64("name"))
        n_pairs = symdelete_typo_pairs(surfaces, id_col="sid", name_col="name").count()
        return {
            "er.pairs_per_surface": n_pairs / surfaces.count(),
            "dedup.pairs_per_doc": len(ops[-1]["full_pairs"]) / self.standing_docs.count(),
        }


# (span, spec): one analytics pass, the superstep operators over their
# gated spec inputs
ANALYTICS = (
    ("analytics.ppr", "g25_related_keywords_ppr"),
    ("analytics.msbfs", "g35_multi_source_bfs"),
    ("analytics.kcore", "g28_kcore_orgs"),
    ("walks.walks", "g40_walk_corpus"),
)


class Analytics:
    """One pass over PPR, multi-source BFS, k-core and random walks,
    each on its gated spec's input."""

    def __init__(self, ctx):
        self.ctx = ctx
        specs = {s.name: s for s in all_specs()}
        self.specs = [(span, specs[name]) for span, name in ANALYTICS]
        self.oracles: dict[str, pd.DataFrame] = {}

    def op(self, tr) -> dict:
        out = {}
        for span, spec in self.specs:
            with tr.span(span):
                out[spec.name] = spec.fn(self.ctx.spark, self.ctx.data).toPandas()
        return out

    def check(self, out: dict) -> tuple[int, int]:
        failed = 0
        for _, spec in self.specs:
            if spec.name not in self.oracles:
                self.oracles[spec.name] = self.ctx.con.execute(spec.oracle).df()
            failed += not same_rows(out[spec.name], self.oracles[spec.name])
        return len(self.specs), failed


class Batch:
    """The batch job, one client: construct the graph, fold in a delta
    batch, then run one analytics pass over the inputs."""

    def __init__(self, ctx):
        self.build, self.analytics = Build(ctx), Analytics(ctx)

    def op(self, tr) -> dict:
        out = self.build.op(tr)
        t0 = time.perf_counter()
        out["analytics"] = self.analytics.op(tr)
        out["analytics_pass_s"] = time.perf_counter() - t0
        return out

    def check(self, out: dict) -> tuple[int, int]:
        a1, f1 = self.build.check(out)
        a2, f2 = self.analytics.check(out["analytics"])
        return a1 + a2, f1 + f2

    def ratios(self, tr, ops: list[dict]) -> dict:
        return self.build.ratios(tr, ops)


class Serve:
    """Questions through ``nl.api.handle_request`` over a store built in
    set-up.  ``pool`` holds the questions with their expected answers."""

    def __init__(self, ctx, pool: list[questions.Question]):
        self.ctx, self.pool = ctx, pool
        spark, data = ctx.spark, ctx.data
        # cold store every run: set-up always builds it
        drop_cached_store(data)
        graph_mod.build_graph(spark, data)
        self.store = glob.glob(os.path.join(graph_mod._STORE_ROOT, os.path.basename(data) + "-*"))[0]

    def answer(self, q: questions.Question, tr) -> dict:
        if not tr.enabled:
            return api.handle_request(self.ctx.spark, self.ctx.data, q.payload)
        return self._traced_answer(q.payload, tr)

    def _traced_answer(self, payload: dict, tr) -> dict:
        """``handle_request``'s cascade, one layer call per span."""
        spark, data = self.ctx.spark, self.ctx.data
        query = payload["query"]
        history = [m["content"] for m in payload.get("history", []) if m["role"] == "user"]
        with tr.span("planner.plan"):
            p = planner.plan(query, history=history or None)
        tokens = [w for t in p.terms for w in t.split()]
        if not payload.get("neo4j_enabled", True):
            stages = [("fulltext_only", lambda: engine.fulltext_search(spark, data, tokens, True))]
            template = "fulltext"
        else:
            stages = [("template", lambda: engine.execute_plan(spark, data, p))]
            if tokens:
                if not (p.template == planner.FALLBACK_TEMPLATE and tokens == p.terms):
                    stages.append(("fallback_and", lambda: engine.fulltext_search(spark, data, tokens, True)))
                stages.append(("fallback_or", lambda: engine.fulltext_search(spark, data, tokens, False)))
            template = p.template
        for stage, make in stages:
            with tr.span("engine.template" if stage == "template" else "engine.fallback"):
                rows = make().collect()
            if rows or stage == "fulltext_only":
                with tr.span("formatter.format_rows"):
                    text = engine.default_synthesizer(query, format_rows(rows))
                return {"answer": text, "stage": stage, "template": template, "n_rows": len(rows)}
        return {"answer": engine.default_synthesizer(query, ""), "stage": "empty",
                "template": template, "n_rows": 0}

    def trace_store(self, tr) -> None:
        """The layers of the set-up's store build, one span each, on a
        store of the benchmark's own."""
        spark, store = self.ctx.spark, os.path.join(self.ctx.work, "store")
        with tr.span("graph.derive"):
            g = graph_mod.build_graph(spark, self.ctx.data, use_cache=False)
            g = graph_mod.GraphModel(**{k: tr.done(v) for k, v in vars(g).items()})
        with tr.span("graph_store.write"):
            write_graph(g, store)
        with tr.span("graph_store.read"):
            tr.done(read_graph(spark, store).edges)

    def check_store(self) -> bool:
        """The set-up's store holds every edge of the graph."""
        n = self.ctx.spark.read.parquet(f"{self.store}/edges").count()
        return n == edge_rows(self.ctx.con)

    @staticmethod
    def check(q: questions.Question, res: dict) -> bool:
        return (res.get("stage"), res.get("template"), res.get("n_rows")) == q.expected

    def ratios(self, tr, answers: list) -> dict:
        fallback = sum(r.get("stage") in ("fallback_and", "fallback_or", "empty") for _, r in answers)
        jobs = sum(tr.spans[s].counts.jobs for s in ("engine.template", "engine.fallback"))
        return {
            "engine.fallback_share": fallback / len(answers),
            "engine.jobs_per_answer": jobs / len(answers),
            "graph_store.bytes_per_edge": dir_bytes(f"{self.store}/edges") / edge_rows(self.ctx.con),
        }
