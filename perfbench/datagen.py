"""Seeded synthetic inputs for the benchmark.

Writes the relational tables the package derives its bibliometric graph
from (``region nation customer supplier part orders lineitem documents``,
same column names and types as the package's test data) plus
``er_surfaces``, the corpus-scaled entity-name vocabulary the ER layer
resolves.  Every value comes from one ``numpy`` generator seeded by the
workload seed, so one seed gives byte-identical inputs.

Properties the layers need to do real work:

- part names repeat (adjective × noun), so the graph has ALIAS_OF edges
  and keyword questions resolve through aliases;
- ~8 % of documents are near-copies (one or two words changed) of an
  earlier document of the same source, so MinHash finds pairs;
- ~20 % of vocabulary draws are distance-1 typos of a canonical name,
  so SymSpell blocking and connected components find clusters;
- document ids are contiguous ``0..n-1`` (the SCC and CC specs build
  their graphs from them).
"""

from __future__ import annotations

import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJECTIVES = ["small", "red", "large", "blue", "green", "steel", "brass",
              "light", "dark", "round", "heavy", "plain"]
NOUNS = ["ring", "widget", "bolt", "gear", "valve", "plate", "spring",
         "frame", "wheel", "cable", "lever", "panel"]
WORDS = ["the", "fast", "key", "order", "sort", "table", "scan", "merge",
         "part", "window", "small", "hash", "join", "batch", "stream",
         "spark", "dup", "filter", "row", "customer", "graph", "edge",
         "node", "rank", "query", "index", "cache", "shard", "paper",
         "author", "topic", "cluster", "vector", "token", "page", "store",
         "plan", "stage", "task", "shuffle"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
LANGS = ["en", "de", "es", "fr", "zh"]
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


@dataclass(frozen=True)
class Sizes:
    """Row counts of the generated tables."""

    customers: int = 600
    suppliers: int = 30
    parts: int = 800
    orders: int = 6000
    lines_per_order: int = 4
    documents: int = 1024
    sources: int = 8
    surfaces_per_doc: int = 10


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _days(rng: np.random.Generator, n: int, start: str, span_days: int) -> pa.Array:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, type=pa.timestamp("us"))


def _texts(rng: np.random.Generator, n: int, sources: np.ndarray) -> list[str]:
    """One in ten tokens is a common word (what the full-text fallback
    finds); the rest are drawn from 3000 rare pseudo-words, so unrelated
    documents share few character shingles."""
    common = np.array(WORDS)
    rare = np.array(["".join(rng.choice(LETTERS, int(k))) for k in rng.integers(4, 10, 3000)])
    texts: list[str] = []
    for i in range(n):
        # a near-copy of an earlier document of the same source
        same = np.flatnonzero(sources[:i] == sources[i])
        if len(same) and rng.random() < 0.08:
            toks = texts[int(rng.choice(same))].split()
            for j in rng.integers(0, len(toks), int(rng.integers(1, 3))):
                toks[j] = str(rng.choice(rare))
        else:
            k = int(rng.integers(18, 40))
            toks = [str(c if rng.random() < 0.1 else r)
                    for c, r in zip(rng.choice(common, k), rng.choice(rare, k))]
        texts.append(" ".join(toks))
    return texts


def _vocabulary(rng: np.random.Generator, n_docs: int, per_doc: int) -> tuple:
    """(doc_id, name): ``per_doc`` draws per document from ~3·n_docs
    canonical 7-letter names; a fifth of the draws are one-edit typos."""
    canon = ["".join(rng.choice(LETTERS, 7)) for _ in range(3 * n_docs)]
    doc_ids = np.repeat(np.arange(n_docs, dtype=np.int64), per_doc)
    names = []
    for k in rng.integers(0, len(canon), len(doc_ids)):
        w = canon[k]
        if rng.random() < 0.2:
            p = int(rng.integers(0, len(w)))
            w = w[:p] + w[p + 1:] if rng.random() < 0.5 else w[:p] + str(rng.choice(LETTERS)) + w[p + 1:]
        names.append(w)
    return doc_ids, names


def generate(out_dir: str, seed: int) -> dict:
    """Write every input table under ``out_dir``; return the sizes."""
    sizes = Sizes()
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    i32 = lambda a: pa.array(a, type=pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, type=pa.int64())  # noqa: E731

    _write(out_dir, "region", {"r_regionkey": i32(range(5)), "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32([i % 5 for i in range(25)]),
    })
    nc, ns, npart, no = sizes.customers, sizes.suppliers, sizes.parts, sizes.orders
    _write(out_dir, "customer", {
        "c_custkey": i64(range(nc)),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": i32(rng.integers(0, 25, nc)),
        "c_acctbal": np.round(rng.uniform(-999, 9999, nc), 2),
        "c_mktsegment": rng.choice(SEGMENTS, nc),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": i64(range(ns)),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": i32(rng.integers(0, 25, ns)),
        "s_acctbal": np.round(rng.uniform(-999, 9999, ns), 2),
    })
    _write(out_dir, "part", {
        "p_partkey": i64(range(npart)),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJECTIVES, npart), rng.choice(NOUNS, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "PROMO", "LARGE"], npart),
        "p_size": i32(rng.integers(1, 51, npart)),
        "p_retailprice": np.round(900 + np.arange(npart) * 0.1, 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": i64(range(no)),
        "o_custkey": i64(rng.integers(0, nc, no)),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": _days(rng, no, "1992-01-01", 365 * 7),
        "o_orderpriority": rng.choice(PRIORITIES, no),
    })
    nl = no * sizes.lines_per_order
    _write(out_dir, "lineitem", {
        "l_orderkey": i64(rng.integers(0, no, nl)),
        "l_partkey": i64(rng.integers(0, npart, nl)),
        "l_suppkey": i64(rng.integers(0, ns, nl)),
        "l_linenumber": i32(rng.integers(1, 8, nl)),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100000, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, nl, "1992-01-02", 365 * 7),
    })
    nd = sizes.documents
    sources = rng.integers(0, sizes.sources, nd)
    texts = _texts(rng, nd, sources)
    _write(out_dir, "documents", {
        "doc_id": i64(range(nd)),
        "text": texts,
        "lang": rng.choice(LANGS, nd),
        "source": [f"src{s}" for s in sources],
        "n_chars": i64([len(t) for t in texts]),
    })
    doc_ids, names = _vocabulary(rng, nd, sizes.surfaces_per_doc)
    _write(out_dir, "er_surfaces", {"doc_id": i64(doc_ids), "name": names})
    return {**asdict(sizes), "lineitems": nl, "surfaces": len(names),
            "distinct_surfaces": len(set(names))}
