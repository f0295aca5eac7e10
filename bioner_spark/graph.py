"""Connected components over an edge DataFrame — alias canonicalization.

GraphFrames is not installed (SURVEY.md §7), so this is plain DataFrame
iteration. Two paths:

  * driver union-find for driver-sized graphs (the alias dictionary is a
    broadcast-sized dimension table by contract — one collect, no rounds);
  * large-star/small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14) — the DISTRIBUTED path: converges in
    O(log d) rounds on diameter-d graphs, each round a groupBy + join
    hash-partitioned on the node id (AQE reuses the exchange layout).

tests/test_graph.py keeps O(d)-round min-label propagation as the star
path's differential oracle.

Both paths are deterministic (component id = min node id), so output is
run- and retry-invariant (SURVEY.md §4 engineering point 5). Lineage is
truncated each round — without it the plan doubles per iteration and the
job dies on plan-compile time. Default is localCheckpoint (executor-local
blocks: fast, but lost with an executor); pass ``checkpoint_dir`` for a
reliable-store checkpoint per round on multi-hour cluster runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bioner_spark.session import local_frame


# Below this many edges the graph is collected and solved with union-find on
# the driver (one job, no iteration). The gate is count-only: an
# over-threshold graph costs one cheap limit(n+1).count() before taking the
# distributed path — no full edge rows ever move to the driver for it.
# Callers that KNOW their graph is driver-sized (the alias dictionary is a
# broadcast-sized dimension table by contract) pass a larger explicit
# threshold.
DRIVER_CC_MAX_EDGES = 100_000


def _truncate(df: DataFrame, checkpoint_dir: str | None) -> DataFrame:
    """Cut lineage between CC rounds. Default localCheckpoint stores the
    blocks on executors — fast, but an executor loss mid-run loses them and
    the job fails (same trade-off documented for the trainer,
    ner/train.py). For multi-hour cluster runs pass checkpoint_dir: the
    caller's setCheckpointDir'd reliable store (HDFS/S3) makes each round
    durable at the cost of a write per round."""
    if checkpoint_dir is not None:
        sc = df.sparkSession.sparkContext
        # getCheckpointDir() returns the dir Spark DERIVED from what we set
        # (scheme + a per-set random UUID subdir, e.g. 'file:/x/<uuid>'), so
        # comparing it to our argument is always unequal — remember what we
        # passed instead, or every CC round would mkdir a fresh UUID dir
        if getattr(sc, "_bioner_ckpt_dir", None) != checkpoint_dir:
            sc.setCheckpointDir(checkpoint_dir)
            sc._bioner_ckpt_dir = checkpoint_dir
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def _driver_union_find(rows: list, spark, node_type: str) -> DataFrame:
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in rows:
        if u is None or v is None:
            # parity with the distributed path: SQL comparisons drop
            # NULL-endpoint edges there (u != v is NULL), and NULL is not a
            # node — without this skip, find(None) poisons min()/sorted()
            # with int-vs-None TypeErrors and behavior would flip with
            # corpus size (driver crash vs distributed silent drop). The
            # non-NULL endpoint still registers as a singleton, exactly as
            # the star path's all-nodes re-attach keeps it.
            if u is not None:
                find(u)
            if v is not None:
                find(v)
            continue
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:  # min node id becomes the root → deterministic
                ru, rv = rv, ru
            parent[rv] = ru
    out = sorted((n, find(n)) for n in parent)
    return local_frame(spark, out, f"node {node_type}, component {node_type}")


def _collect_if_small(df: DataFrame, max_rows: int) -> list | None:
    """df's rows when it has at most max_rows of them, else None.

    The gate is count-only: an over-limit df costs one cheap
    limit(max_rows+1).count() and never moves full rows to the driver.
    The limited df is persisted across the count and the collect, so the
    upstream pipeline executes once, and the cache holds at most
    max_rows+1 rows. The collect is re-checked: if the cache block was
    lost and the source grew between the two jobs, None is returned
    rather than a re-limited subset (union-find over it would silently
    split components)."""
    limited = df.limit(max_rows + 1).persist()
    try:
        if limited.count() <= max_rows:
            rows = limited.collect()
            if len(rows) <= max_rows:
                return rows
    finally:
        limited.unpersist()
    return None


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 25,
    driver_threshold: int = DRIVER_CC_MAX_EDGES,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """edges(src, dst) → (node, component) where component = min node id
    reachable. Nodes appearing only as src or only as dst are included.
    The output node/component type mirrors the src column's type.

    driver_threshold: edge count below which the graph is solved with
    union-find on the driver (one job). Pass 0/None to force the
    distributed path (large-star/small-star), or a larger value when the
    caller knows the graph is driver-sized (saves the iteration
    entirely). The gate is count-only — an over-threshold graph never
    moves full edge rows to the driver — and the limit(n+1) DF is
    persisted across the count and the collect, so the upstream edge
    pipeline executes once for the gate, never twice.

    checkpoint_dir: optional reliable checkpoint dir for the distributed
    path's per-round lineage truncation (see _truncate)."""
    if driver_threshold:
        sample = _collect_if_small(edges.select(src, dst), driver_threshold)
        if sample is not None:
            return _driver_union_find(
                [(r[src], r[dst]) for r in sample],
                edges.sparkSession,
                edges.schema[src].dataType.simpleString(),
            )
    return connected_components_star(
        edges, src, dst, max_iterations, checkpoint_dir=checkpoint_dir
    )


def _edge_checksum(e: DataFrame) -> tuple[int, int]:
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return (row["n"], row["h"])


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al., SoCC'14)
    — the web-scale path: O(log d) rounds on diameter-d graphs vs O(d) for
    label propagation, each round one groupBy(u) + one join(u) on the same
    key (one exchange layout, AQE-reused).

      large-star(u): attach every neighbor v > u to m = min(Γ(u) ∪ {u})
      small-star(u): attach every neighbor v ≤ u, and u itself, to m

    Alternating rounds converge to a forest of stars whose roots are the
    component minima. Deterministic by construction (min over ids)."""
    from pyspark import StorageLevel

    # persist the slim raw pairs so the upstream edge pipeline (for
    # near_dup_clusters: the full LSH-candidate + Jaccard chain) executes
    # ONCE for both derived tables — the working edge set below and the
    # node table for the isolated-node re-attach at the end; both are
    # eagerly checkpointed off the cache, so it can be released here
    pairs = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    cur = _truncate(
        pairs.filter(F.col("u") != F.col("v")).distinct(),
        checkpoint_dir,
    )
    all_nodes = _truncate(
        pairs.select("u")
        .union(pairs.select(F.col("v").alias("u")))
        .filter(F.col("u").isNotNull())  # NULL is not a node (see driver path)
        .distinct()
        .select(F.col("u").alias("node")),
        checkpoint_dir,
    )
    pairs.unpersist()
    # seed the signature from the INITIAL edge set so an already-converged
    # input is recognized without spending a round. Convergence can only be
    # DETECTED by a round that produces no change, so the budget counts
    # productive rounds and one extra confirming round is granted on top:
    # a graph whose fixpoint is first produced by round max_iterations is
    # correct and must not trip the non-convergence raise below.
    prev_sig = _edge_checksum(cur)
    converged = False
    for _ in range(max_iterations + 1):
        for large in (True, False):
            sym = cur.union(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
            mins = (
                sym.groupBy("u")
                .agg(F.min("v").alias("mv"))
                .select("u", F.least(F.col("u"), F.col("mv")).alias("m"))
            )
            joined = sym.join(mins, "u")
            kept = joined.filter(
                F.col("v") > F.col("u") if large else F.col("v") <= F.col("u")
            ).select(F.col("v").alias("u"), F.col("m").alias("v"))
            if not large:
                # small-star also re-attaches u itself to its min
                kept = kept.union(mins.select(F.col("u"), F.col("m").alias("v")))
            cur = _truncate(
                kept.filter(F.col("u") != F.col("v")).distinct(),
                checkpoint_dir,
            )
        sig = _edge_checksum(cur)
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        # an exhausted iteration budget means the star forest never
        # stabilized — returning it would SILENTLY fragment components
        # (split alias/dup clusters with no error), violating the module's
        # deterministic-canonicalization contract. 25 rounds cover diameter
        # ~2^25; hitting this means the caller passed a too-small budget.
        raise RuntimeError(
            "connected_components_star: edge set did not stabilize within "
            f"max_iterations={max_iterations}; components would be split. "
            "Raise max_iterations."
        )
    # converged star forest: u → root. Roots (and only they) never appear
    # as a child; add their self-assignment.
    roots = cur.select(F.col("v").alias("node")).distinct().join(
        cur.select(F.col("u").alias("node")).distinct(), "node", "left_anti"
    )
    result = cur.select(F.col("u").alias("node"), F.col("v").alias("component")).union(
        roots.select("node", F.col("node").alias("component"))
    )
    # nodes whose ONLY edges were self-loops vanished at the u != v filter;
    # the driver union-find keeps them, so the two paths must agree —
    # re-attach them as their own singleton components (slim node-id
    # left-anti over the node table checkpointed at entry — the raw edge
    # plan is NOT re-executed here)
    isolated = all_nodes.join(result.select("node").distinct(), "node", "left_anti")
    return result.union(isolated.select("node", F.col("node").alias("component")))


def canonical_map(alias_dict: DataFrame, driver_threshold: int = 2_000_000) -> DataFrame:
    """canonical_id → component id (min canonical_id of its alias-connected
    component). Ids with no shared alias map to themselves.

    The alias dictionary is a broadcast-sized dimension table by contract,
    so the default path collects it ONCE and solves alias-grouping +
    union-find on the driver: one job total, vs the previous plan's
    alias self-join + distinct + gate-collect + left-join chain (~5 small
    shuffles whose scheduling overhead dominated the whole KG pipeline at
    bench scale). Dictionaries larger than driver_threshold rows fall back
    to the distributed edge build + large-star/small-star.

    NOTE: this function is EAGER — it runs 1-2 small Spark jobs at call
    time (a count-only gate, then the collect when under threshold). The
    gate itself moves only a count, never full rows, so an over-threshold
    dictionary costs one cheap count before taking the distributed path.
    The collect is ALSO limit-bounded: a source that grows between the two
    jobs (refreshed parquet dir, non-deterministic upstream) can never move
    more than driver_threshold+1 rows to the driver — growth past the gate
    is detected and falls through to the distributed path."""
    rows = _collect_if_small(
        alias_dict.select("alias", "canonical_id"), driver_threshold
    )
    if rows is not None:
        # one edge from each id to the first id seen under its alias, so
        # union-find joins exactly the ids sharing an alias. NULL aliases
        # share nothing (the distributed alias self-join drops them), so a
        # NULL-alias id gets a self-edge and stays a singleton. A NULL id
        # never forms an edge on the distributed path (src < dst is NULL),
        # but its all-ids distinct still emits one (NULL, NULL) row.
        first: dict = {}
        edges = [
            (cid if alias is None else first.setdefault(alias, cid), cid)
            for alias, cid in rows
            if cid is not None
        ]
        spark = alias_dict.sparkSession
        id_type = alias_dict.schema["canonical_id"].dataType.simpleString()
        out = _driver_union_find(edges, spark, id_type).withColumnRenamed(
            "node", "canonical_id"
        )
        if any(cid is None for _, cid in rows):
            out = out.union(local_frame(spark, [(None, None)], out.schema))
        return out

    from bioner_spark.linking import alias_edges

    # default driver gate, NOT forced-distributed: the alias TABLE being
    # over-threshold says nothing about the EDGE count (mostly-unique
    # aliases yield few shared-alias edges), and the gate costs one cheap
    # count against skipping the whole O(log d)-round star iteration
    edges = alias_edges(alias_dict)
    comp = connected_components(edges)
    all_ids = alias_dict.select(F.col("canonical_id").alias("node")).distinct()
    return (
        all_ids.join(comp, "node", "left")
        .select(
            F.col("node").alias("canonical_id"),
            F.coalesce(F.col("component"), F.col("node")).alias("component"),
        )
    )
