"""KG read-side analytics (kg_analytics.py): degree, PMI, PageRank, k-hop.

Authorities: hand-computed expectations for degree/PMI/BFS on small graphs;
a dense numpy power-iteration for PageRank (independent formulation —
matrix-vector, vs the engine's edge-join), matched to 1e-12."""

from __future__ import annotations

import math

import numpy as np
import pytest

from bioner_spark.kg_analytics import (
    cooccurrence_pmi,
    entity_degree,
    kg_diff,
    khop_neighbors,
    pagerank,
)

TRIPLE_SCHEMA = (
    "subj string, pred string, obj string, doc_id bigint, sentence_id int"
)


def _triples(spark, rows):
    return spark.createDataFrame(rows, TRIPLE_SCHEMA)


@pytest.fixture(scope="module")
def small(spark):
    # A→B (twice, different docs/preds), A→C, B→C, C→A, D→D (self loop),
    # E appears only as an object.
    rows = [
        ("A", "treats", "B", 1, 0),
        ("A", "causes", "B", 2, 0),
        ("A", "treats", "C", 1, 1),
        ("B", "treats", "C", 1, 0),
        ("C", "inhibits", "A", 3, 0),
        ("D", "treats", "D", 4, 0),
        ("C", "treats", "E", 3, 1),
    ]
    return _triples(spark, rows)


def test_entity_degree(small):
    got = {r["entity"]: r.asDict() for r in entity_degree(small).collect()}
    assert set(got) == {"A", "B", "C", "D", "E"}
    a = got["A"]
    assert (a["out_triples"], a["in_triples"]) == (3, 1)
    assert (a["out_neighbors"], a["in_neighbors"]) == (2, 1)  # {B,C} / {C}
    assert a["n_preds"] == 3  # treats, causes, inhibits
    assert a["n_docs"] == 3  # docs 1, 2, 3
    d = got["D"]  # self-loop counts on both sides
    assert (d["out_triples"], d["in_triples"]) == (1, 1)
    assert (d["out_neighbors"], d["in_neighbors"]) == (1, 1)
    e = got["E"]
    assert (e["out_triples"], e["in_triples"]) == (0, 1)
    assert (e["out_neighbors"], e["in_neighbors"]) == (0, 1)


def test_entity_degree_null_parity_with_oracle(spark):
    """entity_degree is public over any nullable triples table: on rows
    with a NULL pred, doc_id or endpoint it must return exactly what the
    kg_degree oracle's SQL returns in DuckDB — COUNT(DISTINCT) ignores a
    NULL value, the triple row still counts, and a NULL endpoint is one
    NULL entity group."""
    import duckdb

    from bioner_spark.contract.kg import _DEGREE_SQL

    rows = [
        ("A", "treats", "B", 1, 0),
        ("A", None, "B", 2, 0),  # NULL pred
        ("A", "treats", "C", None, 1),  # NULL doc_id
        (None, "causes", "C", 3, 0),  # NULL subj
        ("B", "treats", None, 4, 0),  # NULL obj
        ("D", None, "E", None, 0),  # D and E see only NULL pred/doc_id
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE triples (subj VARCHAR, pred VARCHAR, obj VARCHAR,"
        " doc_id BIGINT, sentence_id INT)"
    )
    con.executemany("INSERT INTO triples VALUES (?, ?, ?, ?, ?)", rows)
    want = con.execute("WITH " + _DEGREE_SQL).fetchall()
    got = [tuple(r) for r in entity_degree(_triples(spark, rows)).collect()]

    def key(r):
        return (r[0] is not None, r[0] or "")

    assert sorted(got, key=key) == sorted(want, key=key)
    assert None in {r[0] for r in want}  # the NULL-endpoint group exists
    d = next(r for r in want if r[0] == "D")
    assert d[1:] == (1, 0, 1, 0, 0, 0)  # one triple row, no pred or doc


def test_cooccurrence_pmi(small):
    got = {
        (r["subj"], r["obj"]): r.asDict()
        for r in cooccurrence_pmi(small).collect()
    }
    # n_total = 7 triple rows; pair (A,B) has 2 rows; marginals:
    # A as subj = 3 rows, B as obj = 2 rows → pmi = ln(2*7/(3*2))
    ab = got[("A", "B")]
    assert ab["n_pair"] == 2
    assert ab["pmi"] == pytest.approx(round(math.log(14 / 6), 6), abs=1e-9)
    # every pair present exactly once, including the self-loop pair
    assert len(got) == 6
    dd = got[("D", "D")]
    assert dd["pmi"] == pytest.approx(round(math.log(1 * 7 / (1 * 1)), 6))


def _numpy_pagerank(edges, nodes, iters, d):
    """Dense power iteration: independent authority for the edge-join
    implementation (same dangling-mass-redistribution formulation)."""
    idx = {v: i for i, v in enumerate(sorted(nodes))}
    n = len(idx)
    # column-stochastic transition: M[j, i] = 1/outdeg(i) for i→j
    m = np.zeros((n, n))
    out = np.zeros(n)
    dedup = sorted(set(edges))
    for s, o in dedup:
        out[idx[s]] += 1
    for s, o in dedup:
        m[idx[o], idx[s]] = 1.0 / out[idx[s]]
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        dangling = r[out == 0].sum()
        r = (1 - d) / n + d * (m @ r + dangling / n)
    return {v: r[i] for v, i in idx.items()}


def test_pagerank_matches_numpy_authority(spark):
    # graph with a dangling node (F), a cycle, a hub, and self-loops to
    # be dropped
    rows = []
    names = ["A", "B", "C", "D", "E", "F"]
    raw_edges = [
        ("A", "B"), ("B", "C"), ("C", "A"), ("A", "C"),
        ("D", "A"), ("E", "A"), ("E", "F"), ("B", "F"),
        ("C", "C"),  # self loop — must be ignored
    ]
    for i, (s, o) in enumerate(raw_edges):
        rows.append((s, "treats", o, i, 0))
        if i % 2 == 0:  # duplicate some edges — must collapse
            rows.append((s, "causes", o, 100 + i, 0))
    got = {
        r["entity"]: r["rank"]
        for r in pagerank(_triples(spark, rows), iterations=5).collect()
    }
    want = _numpy_pagerank(
        [(s, o) for s, o in raw_edges if s != o], names, 5, 0.85
    )
    assert set(got) == set(names)
    for v in names:
        assert got[v] == pytest.approx(round(want[v], 6), abs=1e-9), v
    # mass conservation (dangling redistribution keeps Σrank = 1)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-5)


def _numpy_pagerank_weighted(edges_w, nodes, iters, d):
    """Dense weighted power iteration: M[j, i] = w(i→j) / W(i)."""
    idx = {v: i for i, v in enumerate(sorted(nodes))}
    n = len(idx)
    m = np.zeros((n, n))
    out = np.zeros(n)
    for (s, o), w in edges_w.items():
        out[idx[s]] += w
    for (s, o), w in edges_w.items():
        m[idx[o], idx[s]] = w / out[idx[s]]
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        dangling = r[out == 0].sum()
        r = (1 - d) / n + d * (m @ r + dangling / n)
    return {v: r[i] for v, i in idx.items()}


def test_pagerank_weighted_matches_numpy_authority(spark):
    """weighted=True: edge weight = triple-support count. A→B asserted 3×,
    A→C once → A routes 3/4 of its rank to B, not 1/2; self-loops still
    dropped; F dangling."""
    rows = [
        ("A", "treats", "B", 1, 0),
        ("A", "causes", "B", 2, 0),
        ("A", "treats", "B", 3, 1),
        ("A", "treats", "C", 1, 1),
        ("B", "treats", "C", 4, 0),
        ("B", "inhibits", "F", 4, 1),
        ("C", "causes", "A", 5, 0),
        ("C", "causes", "C", 5, 1),  # self loop — dropped
        ("E", "treats", "A", 6, 0),
    ]
    names = ["A", "B", "C", "E", "F"]
    weights = {
        ("A", "B"): 3, ("A", "C"): 1, ("B", "C"): 1,
        ("B", "F"): 1, ("C", "A"): 1, ("E", "A"): 1,
    }
    got = {
        r["entity"]: r["rank"]
        for r in pagerank(
            _triples(spark, rows), iterations=5, weighted=True
        ).collect()
    }
    want = _numpy_pagerank_weighted(weights, names, 5, 0.85)
    assert set(got) == set(names)
    for v in names:
        assert got[v] == pytest.approx(round(want[v], 6), abs=1e-9), v
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-5)
    # weighting genuinely changes the answer vs the distinct-edge default
    un = {
        r["entity"]: r["rank"]
        for r in pagerank(_triples(spark, rows), iterations=5).collect()
    }
    assert un["B"] != got["B"]


def test_pagerank_tol_convergence(spark):
    """Optional tol mode: early-stops on L1 rank delta, keeping the
    fixed-iteration default intact. Graph chosen so 5 iterations are NOT
    converged (a 4-cycle with a dangling tail mixes slowly)."""
    raw_edges = [
        ("A", "B"), ("B", "C"), ("C", "D"), ("D", "A"),
        ("A", "C"), ("E", "A"), ("B", "F"),
    ]
    names = ["A", "B", "C", "D", "E", "F"]
    rows = [(s, "p", o, i, 0) for i, (s, o) in enumerate(raw_edges)]
    t = _triples(spark, rows)

    # 5 iterations are demonstrably unconverged on this graph
    r5 = _numpy_pagerank(raw_edges, names, 5, 0.85)
    r6 = _numpy_pagerank(raw_edges, names, 6, 0.85)
    assert sum(abs(r5[v] - r6[v]) for v in names) > 1e-6

    # tiny tol + generous cap → converged ranks; authority = numpy run
    # with the SAME stopping rule
    idx = sorted(names)
    prev = _numpy_pagerank(raw_edges, names, 0, 0.85)
    it = 0
    while True:
        it += 1
        cur = _numpy_pagerank(raw_edges, names, it, 0.85)
        if sum(abs(cur[v] - prev[v]) for v in idx) <= 1e-10:
            break
        prev = cur
    assert it > 5  # the early-stop genuinely ran past the oracle-parity depth
    got = {
        r["entity"]: r["rank"]
        for r in pagerank(t, iterations=200, tol=1e-10).collect()
    }
    for v in names:
        assert got[v] == pytest.approx(round(cur[v], 6), abs=1e-9), v

    # a tol larger than any possible L1 delta (Σ|Δ| ≤ 2) stops after
    # exactly one round — identical to iterations=1
    one = {
        r["entity"]: r["rank"]
        for r in pagerank(t, iterations=1).collect()
    }
    early = {
        r["entity"]: r["rank"]
        for r in pagerank(t, iterations=200, tol=2.0).collect()
    }
    assert early == one


def test_pagerank_zero_iterations_uniform(spark):
    rows = [("A", "p", "B", 1, 0), ("B", "p", "C", 1, 1)]
    got = {
        r["entity"]: r["rank"]
        for r in pagerank(_triples(spark, rows), iterations=0).collect()
    }
    assert got == {
        "A": pytest.approx(round(1 / 3, 6)),
        "B": pytest.approx(round(1 / 3, 6)),
        "C": pytest.approx(round(1 / 3, 6)),
    }


def test_khop_directed_bfs(spark):
    # chain A→B→C→D plus back-edge D→A and unreachable island X→Y.
    # Seeds (n_seeds=1, smallest entity) = {A}.
    rows = [
        ("A", "p", "B", 1, 0),
        ("B", "p", "C", 1, 1),
        ("C", "p", "D", 1, 2),
        ("D", "p", "A", 1, 3),
        ("X", "p", "Y", 2, 0),
    ]
    t = _triples(spark, rows)
    got = {
        r["entity"]: r["hops"]
        for r in khop_neighbors(t, k=2, n_seeds=1).collect()
    }
    # directed: A at 0, B at 1, C at 2; D is 3 hops — absent at k=2
    assert got == {"A": 0, "B": 1, "C": 2}
    got3 = {
        r["entity"]: r["hops"]
        for r in khop_neighbors(t, k=3, n_seeds=1).collect()
    }
    assert got3 == {"A": 0, "B": 1, "C": 2, "D": 3}


def test_kg_diff_directions_and_distinct(spark):
    old = _triples(spark, [
        ("A", "treats", "B", 1, 0),
        ("A", "treats", "B", 2, 0),   # same edge, second doc — collapses
        ("B", "causes", "C", 1, 1),
        ("X", "treats", "Y", 3, 0),
    ])
    new = _triples(spark, [
        ("A", "treats", "B", 9, 0),   # kept (provenance moved — NOT a diff)
        ("B", "causes", "C", 1, 1),
        ("C", "treats", "D", 4, 0),   # added
    ])
    got = {
        (r["op"], r["subj"], r["pred"], r["obj"])
        for r in kg_diff(old, new).collect()
    }
    assert got == {
        ("added", "C", "treats", "D"),
        ("removed", "X", "treats", "Y"),
    }
    assert kg_diff(old, old).count() == 0


def test_write_analytics_products(spark, tmp_path):
    """kg_job --analytics-dir sink: all four products land as readable
    Parquet, and the degree table round-trips the in-memory operator."""
    from bioner_spark.kg_analytics import write_analytics

    rows = [
        ("A", "treats", "B", 1, 0),
        ("B", "causes", "C", 2, 0),
        ("C", "treats", "A", 3, 0),
    ]
    t = _triples(spark, rows)
    paths = write_analytics(t, str(tmp_path), pagerank_iterations=2)
    assert set(paths) == {
        "entity_degree", "cooccurrence_pmi", "pagerank", "khop_neighbors",
    }
    deg = spark.read.parquet(paths["entity_degree"])
    want = {r["entity"]: r.asDict() for r in entity_degree(t).collect()}
    got = {r["entity"]: r.asDict() for r in deg.collect()}
    assert got == want
    pr = spark.read.parquet(paths["pagerank"])
    ranks = [r["rank"] for r in pr.collect()]
    assert len(ranks) == 3 and sum(ranks) == pytest.approx(1.0, abs=1e-5)
    kh = spark.read.parquet(paths["khop_neighbors"])
    assert kh.count() == 3  # 3-cycle fully reachable from the 5-seed set


def test_khop_min_hop_on_diamond(spark):
    # A→B, A→C, B→D, C→D: D reachable two ways, min hop = 2; seed set of
    # 2 smallest entities {A, B} puts D at hop 1 via B.
    rows = [
        ("A", "p", "B", 1, 0),
        ("A", "p", "C", 1, 1),
        ("B", "p", "D", 1, 2),
        ("C", "p", "D", 1, 3),
    ]
    t = _triples(spark, rows)
    got = {
        r["entity"]: r["hops"]
        for r in khop_neighbors(t, k=2, n_seeds=2).collect()
    }
    assert got == {"A": 0, "B": 0, "C": 1, "D": 1}


def test_pagerank_failure_mid_iteration_releases_caches(spark, small, tmp_path, monkeypatch):
    """A round that raises must not leave pagerank's projection, adjacency
    or node caches persisted for the rest of the session. checkpoint_dir
    makes each round a reliable checkpoint, which persists nothing, so any
    new persistent RDD is a leak."""
    import bioner_spark.kg_analytics as KA

    real_truncate = KA._truncate
    calls = []

    def failing_second_round(df, checkpoint_dir):
        calls.append(df)
        if len(calls) == 2:  # the first round's new ranks
            raise RuntimeError("round failed")
        return real_truncate(df, checkpoint_dir)

    monkeypatch.setattr(KA, "_truncate", failing_second_round)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    with pytest.raises(RuntimeError, match="round failed"):
        KA.pagerank(small, iterations=3, checkpoint_dir=str(tmp_path / "ckpt"))
    assert len(calls) == 2
    assert set(jsc.getPersistentRDDs().keySet()) - before == set()


def _plan_nodes(plan, name):
    """Physical-plan nodes called `name` (a ReusedExchange is its own
    leaf, so it never counts as the Exchange it reuses)."""
    children = plan.children()
    return (plan.nodeName() == name) + sum(
        _plan_nodes(children.apply(i), name) for i in range(children.size())
    )


def test_analytics_plan_shuffle_budget(spark, tmp_path):
    """Plan shape, AQE off, over a parquet triples table: entity_degree
    is one groupBy over distinct-then-count sides (no Expand), and PMI
    shuffles pairs, both marginals and the single-partition total once
    each — the total reuses the pair exchange."""
    path = str(tmp_path / "triples")
    _triples(spark, [
        (f"e{i % 211}", ("treats", "causes")[i % 2], f"e{i * 7 % 307}", i % 53, i % 5)
        for i in range(5_000)
    ]).write.parquet(path)
    triples = spark.read.parquet(path)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        degree = entity_degree(triples)._jdf.queryExecution().executedPlan()
        pmi = cooccurrence_pmi(triples)._jdf.queryExecution().executedPlan()
        assert _plan_nodes(degree, "Expand") == 0
        assert _plan_nodes(degree, "Exchange") == 4
        assert _plan_nodes(pmi, "Exchange") == 4
        assert _plan_nodes(pmi, "ReusedExchange") == 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
