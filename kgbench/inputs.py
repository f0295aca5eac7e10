"""Seeded input generators. The same seed gives byte-identical inputs; the
program under test sees only the tables built here."""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def web_corpus(seed: int, n_docs: int, copies: int = 1):
    """Web-weight pages (20-60 sentences each), skewed hosts, one giant
    document, plus the generator's gold triples (corpus.GoldCorpus).

    `n_docs` pages are generated; every page but the giant one is then
    repeated `copies - 1` more times under new URLs on the same host, with
    its gold triples repeated alongside. Generating pages is pure Python
    (about 2.5 ms a page), so repeats size the input at a fraction of the
    set-up cost while keeping one giant document and the host skew."""
    import dataclasses

    import pandas as pd

    from bioner_spark import corpus

    base = corpus.generate(n_docs=n_docs, seed=seed, sent_range=(20, 60))
    giant = base.pages["url"].iloc[1]  # generate() makes document 1 the giant one
    pages, triples = [base.pages], [base.triples]
    for k in range(1, copies):
        p = base.pages[base.pages["url"] != giant].assign(url=lambda d: d["url"] + f"/r{k}")
        t = base.triples[base.triples["doc_id"] != giant]
        pages.append(p)
        triples.append(t.assign(doc_id=t["doc_id"] + f"/r{k}"))
    return dataclasses.replace(
        base,
        pages=pd.concat(pages, ignore_index=True),
        triples=pd.concat(triples, ignore_index=True),
    )


def skewed_triples(seed: int, n_ent: int, n_edges: int, n_docs: int) -> pa.Table:
    """A materialized triple table shaped like a large crawl's KG: cubic
    subject skew (a few hub entities own most out-edges), entities that are
    never a subject (dangling nodes for PageRank), and multi-edges from
    repeated (subj, obj) draws."""
    rng = np.random.default_rng(seed)
    src = (n_ent * rng.random(n_edges) ** 3).astype(np.int64)
    dst = (n_ent * rng.random(n_edges)).astype(np.int64)
    src = np.where(src % 997 == 0, (src + 1) % n_ent, src)
    ids = np.arange(n_edges)
    return pa.table(
        {
            "subj": pa.array([f"e{v:06d}" for v in src], pa.string()),
            "pred": pa.array([f"p{v}" for v in (src * 31 + dst * 17) % 8], pa.string()),
            "obj": pa.array([f"e{v:06d}" for v in dst], pa.string()),
            "doc_id": pa.array(ids % n_docs, pa.int64()),
            "sentence_id": pa.array((ids % 5).astype(np.int32), pa.int32()),
        }
    )


def analytics_expectations(table: pa.Table, khop_k: int = 3, khop_seeds: int = 5) -> dict:
    """Row counts of the four analytics products, computed without Spark:
    entities, distinct (subj, obj) pairs, and the entities a k-hop BFS
    from the `khop_seeds` smallest entities reaches over distinct
    non-self-loop edges."""
    subj = table.column("subj").to_pylist()
    obj = table.column("obj").to_pylist()
    entities = sorted(set(subj) | set(obj))
    pairs = set(zip(subj, obj))
    adj: dict[str, set] = {}
    for s, o in pairs:
        if s != o:
            adj.setdefault(s, set()).add(o)
    visited = set(entities[:khop_seeds])
    frontier = set(visited)
    for _ in range(khop_k):
        nxt = {o for s in frontier for o in adj.get(s, ())} - visited
        visited |= nxt
        frontier = nxt
    return {
        "entity_degree": len(entities),
        "cooccurrence_pmi": len(pairs),
        "pagerank": len(entities),
        "khop_neighbors": len(visited),
    }
