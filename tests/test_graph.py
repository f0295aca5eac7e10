"""Connected-components correctness: large-star/small-star vs min-label
propagation vs driver union-find — three independent implementations must
agree on random graphs, chains (worst-case diameter), and edge cases."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bioner_spark.graph import (
    _driver_union_find,
    _truncate,
    connected_components,
    connected_components_star,
)


def connected_components_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Min-label propagation to fixpoint — O(diameter) rounds. Kept as the
    simple differential authority for the star variant; fine for near-star
    alias graphs (diameter ~2-4)."""
    pairs = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # NULL-endpoint law, identical to the driver and star paths: NULL is
    # not a node (never seeded, never emitted), but the NON-null endpoint
    # of a half-NULL edge is still a node — it just has no neighbor from
    # that edge. Without this, `sym` seeded a spurious NULL label row that
    # adopted its neighbor's component and broke three-way agreement.
    valid = pairs.filter(F.col("u").isNotNull() & F.col("v").isNotNull())
    sym = (
        valid.union(valid.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
    )
    labels = (
        pairs.select(F.col("u").alias("node"))
        .union(pairs.select(F.col("v").alias("node")))
        .filter(F.col("node").isNotNull())
        .distinct()
        .withColumn("component", F.col("node"))
    )
    labels = _truncate(labels, checkpoint_dir)
    sym = _truncate(sym, checkpoint_dir)

    for _ in range(max_iterations):
        neighbor_min = (
            sym.join(labels, sym["v"] == labels["node"], "inner")
            .select(F.col("u").alias("node"), "component")
            .groupBy("node")
            .agg(F.min("component").alias("nbr_component"))
        )
        new_labels = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_component"), F.col("component"))
                ).alias("component"),
            )
        )
        new_labels = _truncate(new_labels, checkpoint_dir)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def _as_map(df):
    return {r["node"]: r["component"] for r in df.collect()}


def _edges_df(spark, pairs, typ="string"):
    return spark.createDataFrame(pairs, f"src {typ}, dst {typ}")


def _expected(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in pairs:
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    return {n: find(n) for n in parent}


def test_star_simple_components(spark):
    # 'p' has ONLY a self-loop: it must still get a singleton component —
    # the driver union-find and propagation variants both keep it, so the
    # star variant dropping it would be a scale-dependent silent difference
    pairs = [("a", "b"), ("b", "c"), ("x", "y"), ("p", "p")]
    got = _as_map(connected_components_star(_edges_df(spark, pairs)))
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "p": "p"}


def test_star_long_chain_converges_fast(spark):
    """A 40-node chain has diameter 39 — label propagation needs ~39 rounds;
    large/small-star must finish well inside max_iterations=8 (O(log d))."""
    n = 40
    pairs = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n - 1)]
    got = _as_map(
        connected_components_star(_edges_df(spark, pairs), max_iterations=8)
    )
    assert set(got.values()) == {"n000"}
    assert len(got) == n


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_star_matches_propagation_and_union_find(spark, seed):
    rng = random.Random(seed)
    nodes = [f"v{i:02d}" for i in range(30)]
    pairs = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(25)
    ]
    pairs = [(u, v) for u, v in pairs if u != v]
    df = _edges_df(spark, pairs)
    star = _as_map(connected_components_star(df))
    prop = _as_map(connected_components_propagation(df))
    expected = _expected(pairs)
    assert star == expected
    assert prop == expected


def test_star_integer_node_ids(spark):
    pairs = [(1, 2), (2, 3), (10, 11)]
    df = _edges_df(spark, pairs, typ="long")
    got = _as_map(connected_components_star(df))
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    # the auto path (driver union-find) preserves the type too
    got2 = _as_map(connected_components(df))
    assert got2 == got


def test_distributed_path_forced(spark):
    """driver_threshold=0 forces the star path through the public API."""
    pairs = [("a", "b"), ("c", "d"), ("b", "c")]
    got = _as_map(connected_components(_edges_df(spark, pairs), driver_threshold=0))
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a"}


def test_union_find_determinism(spark):
    pairs = [("z", "a"), ("a", "m"), ("m", "z")]
    got = _driver_union_find(pairs, spark, "string")
    assert {r["component"] for r in got.collect()} == {"a"}


def test_over_threshold_gate_never_collects_rows(spark, monkeypatch):
    """An over-threshold graph must take the distributed path via a
    count-only gate: no driver union-find, and no collect() that moves more
    than the gate's bound in rows (the star path's checksum/limit collects
    are 1-row)."""
    # patch the CLASSIC class: pyspark.sql.DataFrame is the abstract base
    # and classic overrides collect, so a base-class patch never dispatches
    from pyspark.sql.classic.dataframe import DataFrame

    import bioner_spark.graph as G

    pairs = [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(10)]
    df = _edges_df(spark, pairs)

    def boom(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("driver union-find ran on an over-threshold graph")

    monkeypatch.setattr(G, "_driver_union_find", boom)
    orig_collect = DataFrame.collect

    def guarded(self):
        rows = orig_collect(self)
        assert len(rows) <= 3, (
            f"gate moved {len(rows)} full rows to the driver"
        )
        return rows

    monkeypatch.setattr(DataFrame, "collect", guarded)
    result = G.connected_components(df, driver_threshold=3)
    monkeypatch.setattr(DataFrame, "collect", orig_collect)
    got = _as_map(result)
    assert set(got.values()) == {"c00"}
    assert len(got) == 11


def test_star_reliable_checkpoint_dir(spark, tmp_path):
    """checkpoint_dir switches per-round lineage truncation to durable
    .checkpoint() files under the given dir."""
    import os

    ckpt = str(tmp_path / "cc_ckpt")
    pairs = [("a", "b"), ("b", "c"), ("x", "y")]
    got = _as_map(
        connected_components_star(_edges_df(spark, pairs), checkpoint_dir=ckpt)
    )
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
    written = [
        os.path.join(dp, f) for dp, _, fs in os.walk(ckpt) for f in fs
    ]
    assert written, "reliable checkpoint dir is empty — localCheckpoint used?"


def test_gate_recollect_growth_falls_back_to_distributed(spark, monkeypatch):
    """If the edge source grows (or re-samples) between the gate's count job
    and its collect job — lost cache block + non-deterministic upstream —
    union-find must NOT run on the re-limited subset: the gate re-checks the
    collected size and falls through to the star path."""
    from pyspark.sql.classic.dataframe import DataFrame

    import bioner_spark.graph as G

    pairs = [("a", "b"), ("b", "c")]
    df = _edges_df(spark, pairs)

    def boom(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("driver union-find ran on a grown edge sample")

    monkeypatch.setattr(G, "_driver_union_find", boom)
    orig_collect = DataFrame.collect

    def grown_once(self):
        # restore immediately: only the GATE collect is inflated; the star
        # path's internal 1-row checksum collects run normally
        monkeypatch.setattr(DataFrame, "collect", orig_collect)
        return orig_collect(self) * 50  # simulates a grown source

    monkeypatch.setattr(DataFrame, "collect", grown_once)
    got = _as_map(G.connected_components(df, driver_threshold=10))
    assert got == {"a": "a", "b": "a", "c": "a"}


def test_driver_path_null_endpoint_edge_matches_star(spark):
    """A NULL-endpoint edge is dropped by SQL comparison semantics on the
    distributed path; the driver union-find must drop it too (previously:
    TypeError comparing int with None — behavior flipped with corpus size)
    while still keeping the non-NULL endpoint as a singleton, exactly as
    the star path's all-nodes re-attach does."""
    df = spark.createDataFrame(
        [(None, 5), (5, 6), (8, None)], "src int, dst int"
    )
    got_driver = _as_map(connected_components(df, driver_threshold=10))
    got_star = _as_map(connected_components(df, driver_threshold=0))
    assert got_driver == {5: 5, 6: 5, 8: 8}
    assert got_star == got_driver
    # the differential authority must agree too: previously propagation
    # seeded node NULL from sym and emitted a spurious {NULL: 5} row
    got_prop = _as_map(connected_components_propagation(df))
    assert got_prop == got_driver


def test_star_raises_on_exhausted_iterations(spark):
    """An exhausted iteration budget previously returned silently SPLIT
    components (a 31-node path at max_iterations=1 → ~29 fragments, no
    error). The contract is deterministic canonicalization — fail loud."""
    pairs = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(30)]
    with pytest.raises(RuntimeError, match="did not stabilize"):
        connected_components_star(_edges_df(spark, pairs), max_iterations=1)


def test_star_already_converged_input_within_one_iteration(spark):
    """The non-convergence raise must not fire on a correct forest: an
    input already in converged child→root orientation is a fixpoint of the
    round transform, and the seeded initial checksum recognizes it even at
    max_iterations=1 (with a None seed, detection needed a spare iteration
    and this raised on a correct result)."""
    pairs = [("b", "a"), ("c", "a"), ("y", "x")]
    got = _as_map(
        connected_components_star(_edges_df(spark, pairs), max_iterations=1)
    )
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_star_fixpoint_reached_on_final_budgeted_round(spark):
    """Convergence can only be DETECTED by a no-change round, so the loop
    grants one confirming round beyond the productive budget: a graph whose
    fixpoint is first produced by round max_iterations itself is a correct
    forest and must be returned, not raised on (previously the last
    productive round left sig != prev_sig and the budget had no round left
    to confirm)."""
    # reversed orientation: one productive round flips it to child→root
    pairs = [("a", "b")]
    got = _as_map(
        connected_components_star(_edges_df(spark, pairs), max_iterations=1)
    )
    assert got == {"a": "a", "b": "a"}
