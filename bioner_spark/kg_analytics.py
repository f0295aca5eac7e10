"""Analytics over the materialized knowledge graph.

The pipeline's product is a (subj, pred, obj, doc_id, sentence_id) triple
table (triples.py; reference emits only the annotations these derive from —
this module is the north_star "query the constructed KG" layer the
reference has no counterpart for). Four read-side operators, each a pure
DataFrame plan a user would run against the Iceberg triples table:

  * kg_diff            — added/removed distinct edges between two KG
                         snapshots (incremental-maintenance delta)
  * entity_degree      — per-entity in/out triple counts, distinct
                         neighbors, predicate vocabulary, doc support
  * cooccurrence_pmi   — pointwise mutual information of (subj, obj)
                         co-occurrence vs the entity marginals
  * pagerank           — fixed-iteration damped PageRank on the distinct
                         directed entity graph, dangling mass redistributed
  * khop_neighbors     — BFS min-hop distance from a seed set, k rounds

Scale notes (all four are built for the 10^12-doc triple table, not the
test fixture):
  * entity_degree / cooccurrence_pmi are single-groupBy aggregations —
    one shuffle each on the grouping key; the PMI marginals are
    PARTITIONED window sums over the (subj, obj) pair counts (|pairs|
    rows, already tiny vs the triple table — and partitioned by subj /
    obj, never a global single-partition window), so no marginal join and
    nothing persisted; only the 1-row grand total is broadcast.
  * pagerank materializes each iteration through graph._truncate
    (localCheckpoint, or durable .checkpoint with checkpoint_dir), so
    both lineage AND the logical plan stay one-iteration deep — the same
    discipline as graph.connected_components_star; the dangling-rank
    mass is a 1-row aggregate broadcast into the update join, so NO
    per-iteration driver traffic at all. The adjacency (edges ⨝
    out-degree) is persisted once and reused by every iteration.
  * khop_neighbors expands only the NEWLY discovered frontier each round
    (classic distributed BFS), so round r joins |frontier_r| rows against
    the edge table, not the whole visited set; min-hop semantics make
    this equivalent to re-expanding everything.

Determinism: every float the operators expose is rounded to 6 dp at the
very end (the repo-wide oracle-comparison invariant); all intermediate
math is float64 on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bioner_spark.graph import _truncate
from bioner_spark.session import local_frame


def write_analytics(
    triples: DataFrame,
    out_dir: str,
    pagerank_iterations: int = 5,
    checkpoint_dir: str | None = None,
) -> dict[str, str]:
    """Materialize all four analytics products as Parquet tables under
    `out_dir` (one subdir per product) — the read-side sink kg_job's
    `--analytics-dir` drives. `triples` should be the pipeline's
    materialized table (a storage scan), not a live lineage. Returns
    {product: path}."""
    # ONE persisted (subj, obj) projection shared by every product that
    # only needs the 2-column edge view (pagerank + khop graph derivations)
    # — without it each operator would persist its own copy of the same
    # projection. entity_degree/cooccurrence_pmi need pred/doc_id columns
    # and read the (materialized, column-pruned) triples table directly.
    tr = triples.select("subj", "obj").persist()
    paths = {}
    try:
        # pagerank/khop execute EAGERLY here (node count + per-round
        # checkpoints), so their construction must sit inside the
        # try/finally too — a mid-iteration failure must not leak the
        # persisted projection for the rest of the session
        products = {
            "entity_degree": entity_degree(triples),
            "cooccurrence_pmi": cooccurrence_pmi(triples),
            "pagerank": pagerank(
                tr,
                iterations=pagerank_iterations,
                checkpoint_dir=checkpoint_dir,
                _projected=True,
            ),
            "khop_neighbors": khop_neighbors(
                tr, checkpoint_dir=checkpoint_dir, _projected=True
            ),
        }
        for name, df in products.items():
            path = f"{out_dir.rstrip('/')}/{name}"
            df.write.mode("overwrite").parquet(path)
            paths[name] = path
    finally:
        tr.unpersist()
    return paths


def _directed_edges(triples: DataFrame) -> DataFrame:
    """Distinct subj→obj edges, self-loops dropped (a mention pair inside
    one component carries no graph information)."""
    return (
        triples.select("subj", "obj")
        .where(F.col("subj") != F.col("obj"))
        .distinct()
    )


def _entities(triples: DataFrame) -> DataFrame:
    """Every entity appearing on either side of any triple (including
    entities whose only edges are self-loops, so the node set does not
    depend on the self-loop filter)."""
    return (
        triples.select(F.col("subj").alias("entity"))
        .unionByName(triples.select(F.col("obj").alias("entity")))
        .distinct()
    )


def kg_diff(old_triples: DataFrame, new_triples: DataFrame) -> DataFrame:
    """Snapshot delta between two KG builds (e.g. successive crawls):
    one row per DISTINCT (subj, pred, obj) edge that appears in exactly
    one side — op='added' (new only) or op='removed' (old only). Doc/
    sentence provenance is deliberately collapsed: the KG-maintenance
    question is "which edges changed", not "which supports moved".

    Scale: both sides reduce to distinct (subj, pred, obj) first (one
    shuffle each, the same key both ways), then two anti-joins that
    reuse that partitioning — no row ever fans out, output is bounded by
    the symmetric difference."""
    key = ["subj", "pred", "obj"]
    old_d = old_triples.select(*key).distinct()
    new_d = new_triples.select(*key).distinct()
    added = new_d.join(old_d, key, "left_anti").select(
        F.lit("added").alias("op"), *key
    )
    removed = old_d.join(new_d, key, "left_anti").select(
        F.lit("removed").alias("op"), *key
    )
    return added.unionByName(removed)


def entity_degree(triples: DataFrame) -> DataFrame:
    """Per-entity degree/support profile:

      out_triples / in_triples — triple rows with the entity as subj / obj
      out_neighbors / in_neighbors — distinct counterpart entities per side
      n_preds — distinct predicates the entity participates in (either side)
      n_docs — distinct documents supporting the entity (either side)

    Formulation: per-metric distinct-then-count, NOT a single
    multi-count-distinct agg. Spark expands a multi-count-distinct through
    the Expand operator (~5× row multiplication BEFORE the partial
    aggregation), which at a 10^12-row triple table turns the hottest
    entities' pre-shuffle volume into the bottleneck. Here every distinct
    is a map-side-combinable dedup on its own narrow key; the three
    deduped projections and the raw side rows are unioned and counted in
    ONE groupBy(entity), so no per-metric join is needed. The cost is
    four column-pruned passes over `sides` instead of one — callers are
    expected to hand in a MATERIALIZED triples table (the pipeline's
    Parquet/Iceberg product) so each pass is a ≤4-column storage scan,
    the same contract as cooccurrence_pmi's documented re-scan.

    NULL law (the oracle's GROUP BY / COUNT(DISTINCT)): a NULL nbr, pred
    or doc_id is not a value and counts 0, while its triple row still
    counts in out_triples / in_triples; a NULL endpoint is one NULL
    entity group."""
    sides = triples.select(
        F.col("subj").alias("entity"),
        F.lit(True).alias("is_out"),
        F.col("obj").alias("nbr"),
        "pred",
        "doc_id",
    ).unionByName(
        triples.select(
            F.col("obj").alias("entity"),
            F.lit(False).alias("is_out"),
            F.col("subj").alias("nbr"),
            "pred",
            "doc_id",
        )
    )
    rows = sides.select("entity", F.col("is_out").alias("row_out"))
    for key in (["is_out", "nbr"], ["pred"], ["doc_id"]):
        rows = rows.unionByName(
            sides.select("entity", *key).distinct(), allowMissingColumns=True
        )
    return rows.groupBy("entity").agg(
        F.count(F.when(F.col("row_out"), 1)).alias("out_triples"),
        F.count(F.when(~F.col("row_out"), 1)).alias("in_triples"),
        F.count(F.when(F.col("is_out"), F.col("nbr"))).alias("out_neighbors"),
        F.count(F.when(~F.col("is_out"), F.col("nbr"))).alias("in_neighbors"),
        F.count("pred").alias("n_preds"),
        F.count("doc_id").alias("n_docs"),
    )


def cooccurrence_pmi(triples: DataFrame) -> DataFrame:
    """PMI of each directed (subj, obj) pair against the marginals:

        pmi = ln( n_pair * n_total / (n_subj * n_obj) )

    where n_pair counts triple rows for the pair, n_subj / n_obj are the
    entity's total row counts as subject / object, and n_total is the
    triple-row total. Positive ⇒ the pair co-occurs more than the
    subject/object frequencies predict. Marginals and the total are
    re-aggregations of the pair counts (never a second scan of triples);
    join strategy is left to AQE (broadcast at test SF, sort-merge at a
    web-scale entity vocabulary)."""
    from pyspark.sql import Window

    pairs = triples.groupBy("subj", "obj").agg(
        F.count(F.lit(1)).alias("n_pair")
    )
    # marginals as PARTITIONED window sums over the pair counts — no
    # persist (nothing to leak across calls), no single-partition global
    # window, and integer sums so the only float op is the final ln. The
    # 1-row total is a second pass over the pair lineage + a broadcast —
    # callers are expected to hand in a MATERIALIZED triples table (the
    # pipeline's Parquet/Iceberg product), so a re-scan is a scan, not a
    # pipeline recompute.
    total = pairs.agg(F.sum("n_pair").alias("n_total"))
    return (
        pairs.withColumn(
            "n_subj", F.sum("n_pair").over(Window.partitionBy("subj"))
        )
        .withColumn(
            "n_obj", F.sum("n_pair").over(Window.partitionBy("obj"))
        )
        .crossJoin(F.broadcast(total))  # 1 row — always broadcast
        .select(
            "subj",
            "obj",
            "n_pair",
            F.round(
                F.log(
                    (
                        F.col("n_pair").cast("double")
                        * F.col("n_total").cast("double")
                    )
                    / (
                        F.col("n_subj").cast("double")
                        * F.col("n_obj").cast("double")
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )


def pagerank(
    triples: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    checkpoint_dir: str | None = None,
    tol: float | None = None,
    weighted: bool = False,
    _projected: bool = False,
) -> DataFrame:
    """Fixed-iteration damped PageRank over the directed entity graph
    (self-loops dropped). Default: DISTINCT edges — multi-edges collapse
    to one, edge weight is structural, not frequency. `weighted=True`
    instead weights each edge by its triple-support count (how many
    (doc, sentence) triples assert it), so heavily-evidenced relations
    carry proportionally more rank — the KG-construction reading where
    support is confidence. Dangling nodes (out-degree 0, i.e. zero
    outgoing weight) donate their rank uniformly to every node each
    iteration — the standard power-method formulation:

        r_{t+1}(v) = (1-d)/N + d * ( Σ_{u→v} w(u,v)/W(u) · r_t(u) + D_t/N )

    with W(u) = Σ_v w(u,v) (w ≡ 1 on distinct edges when unweighted, the
    classic

        r_{t+1}(v) = (1-d)/N + d * ( Σ_{u→v} r_t(u)/outdeg(u) + D_t/N )  )

    with D_t = Σ_{outdeg(u)=0} r_t(u). Fixed `iterations` (not
    convergence-gated) keeps the plan deterministic and oracle-unrollable;
    passing `tol` adds an early stop when the L1 rank delta
    Σ_v |r_{t+1}(v) - r_t(v)| drops to ≤ tol — the delta is a 1-row
    aggregate per round, so the only driver traffic is that scalar (the
    same budget as the |V| count). `iterations` stays the hard cap.
    `_projected=True` tells the function `triples` is ALREADY a (subj, obj)
    projection persisted by the caller (write_analytics shares one across
    pagerank + khop); the function then neither persists nor unpersists it.

    Returns (entity, rank) with rank rounded to 6 dp. Total rank mass is
    conserved at 1.0 per iteration (up to float rounding).

    Scale: adjacency persisted once; each iteration is one job (contrib
    join + groupBy-sum + rank-update join, dangling mass folded in as a
    broadcast 1-row aggregate) — nothing round-trips the driver. Each
    round's rank frame goes through graph._truncate (localCheckpoint, or
    a durable .checkpoint() when checkpoint_dir is given): persist alone
    keeps the LOGICAL plan growing — every round re-embeds all previous
    rounds ~3× (contribs + dangling + update), and Catalyst re-analysis
    goes exponential in the iteration count (measured: 61 s → 424 s at
    5 iterations on the test fixture)."""
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    # one persisted 2-column projection feeds BOTH the edge and node
    # derivations — without it each would re-execute the upstream triple
    # lineage (for a pipeline-produced DataFrame that is the whole
    # gazetteer chain, not a scan). A caller-shared projection
    # (_projected=True) skips the local persist.
    tr = triples if _projected else triples.select("subj", "obj").persist()
    # every cache this call made; released however the call ends
    held = [] if _projected else [tr]
    try:
        nodes = _entities(tr)
        # adjacency carries the RAW out-degree/weights; per-edge contributions
        # are aggregated as sum(rank / od) (or sum(rank * w / od) weighted) —
        # the exact IEEE-double op sequences the DuckDB oracles use
        # (SUM(r.rank / o.od), SUM(r.rank * e.w / o.od)). A precomputed 1/od
        # weight would differ by up to 1 ulp per term and can flip a 6-dp
        # rounding boundary on large graphs.
        if weighted:
            edges = (
                tr.where(F.col("subj") != F.col("obj"))
                .groupBy("subj", "obj")
                .agg(F.count(F.lit(1)).cast("double").alias("w"))
            )
            outdeg = edges.groupBy("subj").agg(F.sum("w").alias("od"))
            adj_cols = [
                F.col("subj").alias("src"),
                F.col("obj").alias("dst"),
                "w",
                "od",
            ]
        else:
            edges = _directed_edges(tr)
            outdeg = edges.groupBy("subj").agg(
                F.count(F.lit(1)).cast("double").alias("od")
            )
            adj_cols = [
                F.col("subj").alias("src"),
                F.col("obj").alias("dst"),
                "od",
            ]
        adj = edges.join(outdeg, "subj").select(*adj_cols).persist()
        nodes = nodes.persist()
        held += [adj, nodes]
        n = nodes.count()  # bounded driver scalar: |V|
        if n == 0:
            return local_frame(triples.sparkSession, [], "entity string, rank double")
        ranks = _truncate(
            nodes.select("entity", F.lit(1.0 / n).alias("rank")), checkpoint_dir
        )
        src_set = adj.select(F.col("src").alias("entity")).distinct()
        for _ in range(iterations):
            # dangling mass: rank held by nodes with no outgoing edge — a
            # 1-row aggregate broadcast into the update join, so an iteration
            # is ONE job and nothing round-trips through the driver
            dangling = ranks.join(src_set, "entity", "left_anti").agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")
            )
            contrib_term = (
                F.col("rank") * F.col("w") / F.col("od")
                if weighted
                else F.col("rank") / F.col("od")
            )
            contribs = (
                adj.join(ranks, adj.src == ranks.entity)
                .groupBy("dst")
                .agg(F.sum(contrib_term).alias("c"))
            )
            new_ranks = (
                nodes.join(contribs, nodes.entity == contribs.dst, "left")
                .crossJoin(F.broadcast(dangling))
                .select(
                    "entity",
                    (
                        F.lit((1.0 - damping) / n)
                        + F.lit(damping)
                        * (
                            F.coalesce(F.col("c"), F.lit(0.0))
                            + F.col("dm") / F.lit(float(n))
                        )
                    ).alias("rank"),
                )
            )
            prev = ranks
            ranks = _truncate(new_ranks, checkpoint_dir)
            if tol is not None:
                # L1 delta vs the previous round — one job, one scalar back
                l1 = (
                    ranks.alias("a")
                    .join(prev.alias("b"), "entity")
                    .agg(
                        F.coalesce(
                            F.sum(F.abs(F.col("a.rank") - F.col("b.rank"))),
                            F.lit(0.0),
                        ).alias("l1")
                    )
                    .collect()[0]["l1"]
                )
                if l1 <= tol:
                    break
        # reads the final round's checkpointed blocks (plan already cut from
        # the pipeline lineage), so the caches can go in the finally below
        return ranks.select("entity", F.round("rank", 6).alias("rank"))
    finally:
        for df in held:
            df.unpersist()


def khop_neighbors(
    triples: DataFrame,
    k: int = 3,
    n_seeds: int = 5,
    checkpoint_dir: str | None = None,
    _projected: bool = False,
) -> DataFrame:
    """Min-hop BFS distance from a deterministic seed set: the `n_seeds`
    lexicographically-smallest entities, following DIRECTED subj→obj
    edges for up to `k` hops. Returns (entity, hops) for every reached
    entity (seeds at hop 0); unreachable entities are absent.

    Spark plan: classic frontier BFS — round r joins only the nodes first
    discovered at hop r-1 against the edge table (left_anti vs the visited
    set prunes re-expansion), so work per round is proportional to the
    frontier, not the visited closure. The visited set goes through
    graph._truncate per round (same logical-plan-growth discipline as
    pagerank — the union of rounds would otherwise re-embed every prior
    round's plan in the next one)."""
    if k < 0:
        raise ValueError("k must be >= 0")
    # same shared-projection discipline as pagerank: edge and seed
    # derivations read one persisted projection, not two executions of
    # the upstream triple lineage; _projected=True means the caller
    # already persisted the (subj, obj) projection and owns its lifetime
    tr = triples if _projected else triples.select("subj", "obj").persist()
    held = [] if _projected else [tr]
    try:
        edges = _directed_edges(tr).persist()
        held.append(edges)
        seeds = (
            _entities(tr)
            .orderBy("entity")
            .limit(n_seeds)
            .select("entity", F.lit(0).alias("hops"))
        )
        visited = _truncate(seeds, checkpoint_dir)
        frontier = visited.select("entity")
        for hop in range(1, k + 1):
            discovered = (
                edges.join(frontier, edges.subj == frontier.entity)
                .select(F.col("obj").alias("entity"))
                .distinct()
                .join(visited.select("entity"), "entity", "left_anti")
                .select("entity", F.lit(hop).alias("hops"))
            )
            visited = _truncate(visited.unionByName(discovered), checkpoint_dir)
            frontier = visited.where(F.col("hops") == hop).select("entity")
        return visited.select("entity", F.col("hops").cast("int").alias("hops"))
    finally:
        for df in held:
            df.unpersist()
