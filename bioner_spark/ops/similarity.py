"""Similarity search over an embedding column (array<float>).

Two paths:
  * `cosine_topk` — exact brute-force top-k for a (small) query set against
    the corpus: broadcast the queries, compute cosine with native
    higher-order functions (zip_with + aggregate — JVM-side, no UDF),
    rank with a per-query window. The correctness baseline.
  * `lsh_topk` — random-hyperplane LSH: bucket vectors by the sign pattern
    of R seeded hyperplane dot products, then search only within the
    query's bucket. The 100 TB path: the bucket join replaces the cross
    join; recall is tunable via R and multi-probe.

Cosines are computed in double and rounded (ROUND_DIGITS) so results are
bit-stable across engines (the DuckDB oracle reproduces them exactly).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bioner_spark.session import local_frame

ROUND_DIGITS = 6


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_expr(a, b):
    """NULL (not an error, not NaN) for a zero-norm operand: under Spark 4's
    default ANSI mode a plain division would abort the whole job on the
    first zero vector (a legitimate value — e.g. fastText OOV words with no
    subwords embed to zeros), and with ANSI off 0/0 = NaN, which Spark
    sorts ABOVE every real double in a desc top-k. NULL ranks last and
    drops out of top-k naturally.

    try_divide (not `when(denom != 0, ...)`) so the two norm aggregates are
    evaluated ONCE — a guard that repeats `denom` in the condition nearly
    doubled the cosine cost (norms dominate: 2 of the 3 array aggregates)."""
    a = a.cast("array<double>")
    b = b.cast("array<double>")
    return F.round(F.try_divide(_dot(a, b), _norm(a) * _norm(b)), ROUND_DIGITS)


def _topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    """THE per-query top-k tail — rank by cosine DESC with neighbor_id ASC
    tie-break. One definition for every ANN variant (exact, LSH, indexed,
    IVF) so the determinism contract the DuckDB oracles mirror cannot
    drift between them."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """→ (query_id, neighbor_id, cosine, rank) — exact top-k per query,
    self-matches excluded; ties broken by neighbor_id for determinism."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cosine_expr(F.col("q_vec"), F.col("c_vec")))
        .select("query_id", "neighbor_id", "cosine")
    )
    return _topk_per_query(scored, k)


def _require_dim(dim: int | None, op: str) -> int:
    """The hyperplane ops need the embedding dimensionality up front. An
    earlier version inferred it with corpus.first() — an extra driver-side
    Spark job buried inside the operator (at scale: a full-stage launch per
    call). Callers know their embedding dim; make them say it."""
    if dim is None:
        raise ValueError(
            f"{op}: pass dim= explicitly (the embedding width, e.g. "
            "len(embedding) of the written table). Inferring it would "
            "launch a hidden driver-side job per operator call."
        )
    return dim


def hyperplanes(dim: int, n_planes: int = 8, seed: int = 1234) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.normal(size=(n_planes, dim)).round(6).tolist()


def lsh_bucket(vec_col, planes: list[list[float]]):
    """Sign-pattern bucket id from seeded hyperplanes — native SQL only
    (the plane constants are literal arrays in the plan).

    Width-checked per row (one cheap size() against the plane width): with
    a wrong caller-supplied dim, zip_with pads with NULLs, the dot goes
    NULL, and `when(NULL >= 0)` would silently send EVERY vector to
    bucket 0 — no pruning, all-pairs candidates, the exact scale failure
    this module exists to prevent. Fail loudly instead."""
    v = F.when(
        F.size(vec_col) == len(planes[0]), vec_col.cast("array<double>")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"lsh_bucket: dim mismatch — planes expect {len(planes[0])}, "),
                F.lit("embedding has "),
                F.size(vec_col).cast("string"),
                F.lit(" elements"),
            )
        )
    )
    bits = [
        F.when(_dot(v, F.array(*[F.lit(x) for x in p])) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i, p in enumerate(planes)
    ]
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket + b
    return bucket.cast("int")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 1234,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket.

    At scale the corpus side is pre-bucketed and written bucketed-by-bucket;
    the per-query work is then one partition-pruned scan + local top-k.
    """
    dim = _require_dim(dim, "lsh_topk")
    planes = hyperplanes(dim, n_planes, seed)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cosine_expr(F.col("q_vec"), F.col("c_vec")))
        .select("query_id", "neighbor_id", "cosine")
    )
    return _topk_per_query(scored, k)


def write_ann_index(
    emb: DataFrame,
    path: str,
    dim: int | None = None,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 1234,
) -> None:
    """Materialize the LSH index: the corpus with its bucket id, written as
    Parquet PARTITIONED BY bucket (one directory per sign-pattern bucket).

    This is the production form of lsh_topk's corpus side: the bucket
    assignment is computed once at ingest instead of per query batch, and a
    query then reads ONLY its probed buckets — Spark prunes the partition
    directories at planning time (PartitionFilters in the scan node), so a
    top-k probe against a 100 TB corpus scans ~1/2^n_planes of it. Same
    seed/n_planes must be used at query time (lsh_topk_indexed asserts by
    recomputing query buckets with the identical plane constants)."""
    dim = _require_dim(dim, "write_ann_index")
    planes = hyperplanes(dim, n_planes, seed)
    (
        emb.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("c_vec"),
            lsh_bucket(F.col(vec_col), planes).alias("bucket"),
        )
        # one shuffle to co-locate buckets → one file per bucket dir, not
        # one tiny file per (task × bucket)
        .repartition(F.col("bucket"))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )


def lsh_topk_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 1234,
) -> DataFrame:
    """Approximate top-k against a write_ann_index index.

    The query batch is tiny by assumption: its buckets are computed
    driver-side-free (native expressions) but the PROBE SET (distinct bucket
    ids) is collected — a ≤2^n_planes-int driver transfer — so the scan
    filter is a literal IN list and partition pruning happens at plan time,
    not runtime."""
    dim = _require_dim(dim, "lsh_topk_indexed")
    planes = hyperplanes(dim, n_planes, seed)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    # the probe collect AND the broadcast join below both read q — cut the
    # lineage once (eager, query-sized) so a non-trivial upstream plan
    # (e.g. model-computed query embeddings) doesn't execute twice
    q = q.localCheckpoint(eager=True)
    probe = [r["bucket"] for r in q.select("bucket").distinct().collect()]
    corpus = spark.read.parquet(index_path).filter(F.col("bucket").isin(probe))
    scored = (
        corpus.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cosine_expr(F.col("q_vec"), F.col("c_vec")))
        .select("query_id", "neighbor_id", "cosine")
    )
    return _topk_per_query(scored, k)


def banded_buckets(vec_col, planes: list[list[float]], n_bands: int):
    """(band_id, band_key) pairs: the planes are split into n_bands groups;
    a pair of vectors is an LSH candidate iff they share ANY band's full
    sign pattern (same banding trick as MinHash-LSH, on hyperplane bits)."""
    if n_bands <= 0 or n_bands > len(planes) or len(planes) % n_bands:
        # a silent remainder would COMPUTE n_planes hyperplanes but use
        # only n_bands*(n_planes//n_bands) of them (quietly lower precision
        # than the requested config); n_bands > n_planes would build an
        # empty band. Fail loudly instead.
        raise ValueError(
            f"n_planes ({len(planes)}) must be a positive multiple of "
            f"n_bands ({n_bands})"
        )
    per = len(planes) // n_bands
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                lsh_bucket(vec_col, planes[b * per : (b + 1) * per]).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )


def embedding_near_dup(
    emb: DataFrame,
    threshold: float = 0.3,
    n_planes: int = 8,
    n_bands: int = 2,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 1234,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-gated (the 100 TB path).

    Candidates = pairs sharing at least one hyperplane-sign band (explode
    bands → self-join on (band_id, band_key) → distinct pair), then exact
    cosine ≥ threshold on candidates only. The self-join is keyed on the
    band key, never all-pairs; band count/width trade recall vs candidate
    volume exactly like MinHash-LSH banding.
    """
    dim = _require_dim(dim, "embedding_near_dup")
    planes = hyperplanes(dim, n_planes, seed)
    banded = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.explode(banded_buckets(F.col(vec_col), planes, n_bands)).alias("band"),
    ).select("id", "vec", "band.band_id", "band.band_key")
    a = banded.alias("a")
    b = banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.vec").alias("vec_a"),
            F.col("b.vec").alias("vec_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cands.withColumn("cosine", cosine_expr(F.col("vec_a"), F.col("vec_b")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def kmeans_fit(
    emb: DataFrame,
    k: int = 16,
    max_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
    seed: int = 1234,
    tol: float = 1e-6,
    normalize: bool = False,
) -> list[list[float]]:
    """Distributed Lloyd's k-means over an embedding column → k centroid
    vectors (driver-side list: k × dim floats — broadcast-sized by
    construction, this is the IVF codebook, not data).

    The real IVF training path (ivf_topk's docstring used to just *name*
    k-means as the production swap; this is it):

    * init: the k vectors with the smallest xxhash64(id) — a deterministic
      pseudo-random sample, one small TakeOrdered job, no Python RNG over
      data (seed only perturbs the hash);
    * assignment: nearest centroid by squared L2, computed as ONE native
      projection — the centroids are literal arrays in the plan, so the
      argmin over k distances runs inside codegen with NO join and NO
      shuffle;
    * update: posexplode to (cell, dim_pos, val) → partial-agged
      groupBy(cell, pos) avg → collect k·dim tiny rows to the driver →
      next iteration's literals. One shuffle per iteration whose reduce
      side is k·dim rows.
    * early stop when max centroid shift < tol.

    At 100 TB: fit on a sample (sample_fraction ~ 1-10 M vectors' worth —
    k-means quality saturates long before full-corpus scale), then make ONE
    full-corpus assignment pass with `ivf_assign` / write bucketed by cell.
    k·dim literals in the plan cap k ~ few thousand; beyond that switch the
    assignment to a broadcast join + struct-min aggregation.

    METRIC CONSISTENCY: this objective is L2, but `ivf_topk` assigns cells
    by COSINE. For unit-norm embeddings the two agree; for raw unnormalized
    vectors (e.g. fastText subword means) pass normalize=True — spherical
    k-means: inputs unit-normalized once (zero vectors dropped), centroids
    re-normalized each round, so L2-argmin == cosine-argmax and the
    codebook optimizes exactly the geometry ivf_topk probes.
    """
    src = emb.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v"))
    if sample_fraction:
        src = src.sample(fraction=sample_fraction, seed=seed)
    # pre-normalize handle for the loud NULL/NaN validation below: the
    # spherical path's `_nrm > 0` filter would otherwise silently DROP
    # NULL-vector and NaN-element rows (their norm is NULL/NaN, which is
    # not > 0) before the validation scan ever sees them — exactly the
    # silent-row-loss the scan exists to prevent. Only true zero vectors
    # may be dropped by design (no direction to normalize; documented).
    raw = src
    if normalize:
        src = (
            src.withColumn("_nrm", _norm(F.col("v")))
            .filter(F.col("_nrm") > 0)
            .withColumn("v", F.transform("v", lambda x: x / F.col("_nrm")))
            .drop("_nrm")
        )
    src = src.persist()
    # seed folded INTO the hash (works for any id type; `id + seed` would be
    # arithmetic, string ids break / NULL out under non-ANSI)
    # NULL vectors must not be seedable: a whole-NULL row picked as the
    # first seed makes len(cents[0]) below an opaque driver TypeError
    # before the loud per-row validation scan ever runs. They still reach
    # that scan (which reads the unfiltered src) and raise with the row id.
    cents = [
        r["v"]
        for r in src.select("v")
        .filter(F.col("v").isNotNull())
        .orderBy(F.xxhash64(F.lit(seed), F.col("id")))
        .limit(k)
        .collect()
    ]
    if not cents:
        src.unpersist()
        raise ValueError(
            "kmeans_fit: no seedable input vectors (empty source/sample, "
            "or every vector NULL)"
        )
    dim = len(cents[0])
    # loud per-row validation BEFORE the Lloyd's loop: a wrong-width vector
    # NULLs every distance — cell=None and an opaque driver TypeError far
    # from the bad row — and a NaN element silently lands in cell 0 (NaN
    # comparisons) and poisons that centroid's average with no error at
    # all. The malformed-element arm scans `raw` (PRE-normalize — see
    # above), so bad rows raise even when the spherical filter would have
    # hidden them; the width arm scans the persisted `src` Lloyd's actually
    # reads. ±Inf is rejected alongside NaN: isnan(inf) is FALSE, but a
    # spherical normalize of an inf-element vector is inf/inf = NaN — the
    # exact poison this scan exists to stop — so letting inf through the
    # raw scan would reopen the hole one step later. (Finite elements
    # cannot overflow _nrm: sum-of-squares of doubles ≤ ~1e154 per element
    # stays finite, far beyond any real embedding.)
    malformed = F.col("v").isNull() | F.exists(
        # isNull first: size(NULL) and exists(NULL, ...) are NULL (not
        # true) under ANSI mode, so a whole-NULL vector would slip past
        # a size/exists-only predicate
        "v",
        lambda x: x.isNull() | F.isnan(x) | (F.abs(x) == F.lit(float("inf"))),
    )
    if raw is src:
        # normalize=False: one combined scan of the cache Lloyd's reads
        bad = src.filter(malformed | (F.size("v") != dim)).limit(1).collect()
    else:
        # normalize=True: the raw scan recomputes the (deterministic,
        # seeded) sample once — fit-time-only cost
        bad = (
            raw.filter(malformed).limit(1).collect()
            or src.filter(F.size("v") != dim).limit(1).collect()
        )
    if bad:
        src.unpersist()
        raise ValueError(
            f"kmeans_fit: malformed vector for id {bad[0]['id']!r} — "
            f"expected {dim} finite elements, got {bad[0]['v']}"
        )
    for _ in range(max_iter):
        dists = F.array(
            *[
                F.aggregate(
                    F.zip_with(
                        F.col("v"),
                        F.array(*[F.lit(float(x)) for x in c]),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                for c in cents
            ]
        )
        assigned = src.withColumn(
            "cell", F.array_position(dists, F.array_min(dists)).cast("int") - 1
        )
        rows = (
            assigned.select("cell", F.posexplode("v").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.avg("val").alias("m"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new = [list(c) for c in cents]  # empty cells keep their centroid
        for r in rows:
            new[r["cell"]][r["pos"]] = r["m"]
        if normalize:
            # spherical k-means: project centroids back onto the unit
            # sphere so the next round's L2-argmin stays a cosine-argmax
            for ci, c in enumerate(new):
                nrm = math.sqrt(sum(x * x for x in c))
                if nrm > 0:
                    new[ci] = [x / nrm for x in c]
        shift = max(
            abs(a - b) for cn, co in zip(new, cents) for a, b in zip(cn, co)
        )
        cents = new
        if shift < tol:
            break
    src.unpersist()
    return [[round(float(x), ROUND_DIGITS) for x in c] for c in cents]


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    centroid_ids: list[int] | None = None,
    centroid_vecs: list[list[float]] | None = None,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style ANN: corpus vectors are assigned to their nearest centroid
    (inverted lists); a query probes its n_probe nearest centroids and runs
    exact top-k only inside those cells.

    Centroids: pass `centroid_vecs` (e.g. from kmeans_fit — the production
    codebook) or `centroid_ids` (a deterministic id-sample of the corpus —
    the oracle-checked contract configuration; the assignment/probe plan is
    identical either way). At scale the corpus is written bucketed by
    `cell`, so a query's probe is a partition-pruned scan of n_probe cells
    instead of the full table.
    """
    spark = corpus.sparkSession
    if centroid_vecs is not None:
        if not centroid_vecs:
            raise ValueError("ivf_topk: centroid_vecs is empty")
        cents = local_frame(
            spark,
            [(i, [float(x) for x in v]) for i, v in enumerate(centroid_vecs)],
            "cent_id long, cent_vec array<double>",
        )
    else:
        # `is None`, not truthiness: an explicit centroid_ids=[] must fail
        # loudly below, not silently become the range(16) default
        centroid_ids = list(range(16)) if centroid_ids is None else centroid_ids
        if not centroid_ids:
            raise ValueError("ivf_topk: centroid_ids is empty")
        cents = corpus.filter(F.col(id_col).isin(centroid_ids)).select(
            F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec")
        )
        if cents.limit(1).count() == 0:
            # a corpus whose ids don't cover the centroid list would
            # otherwise return an EMPTY result — every query silently
            # neighbor-less — instead of an error
            raise ValueError(
                f"ivf_topk: no corpus rows match centroid_ids "
                f"{centroid_ids[:8]}{'...' if len(centroid_ids) > 8 else ''}; "
                "pass centroid_vecs (kmeans_fit) or ids present in the corpus"
            )

    def nearest_cells(df: DataFrame, side_id: str, side_vec: str, n: int) -> DataFrame:
        scored = df.crossJoin(F.broadcast(cents)).withColumn(
            "cent_cos", cosine_expr(F.col(side_vec), F.col("cent_vec"))
        )
        w = Window.partitionBy(side_id).orderBy(F.desc("cent_cos"), F.asc("cent_id"))
        return (
            scored.withColumn("cent_rank", F.row_number().over(w))
            .filter(F.col("cent_rank") <= n)
            .drop("cent_vec", "cent_cos", "cent_rank")
        )

    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    c_cells = nearest_cells(c, "neighbor_id", "c_vec", 1).withColumnRenamed("cent_id", "cell")
    q_cells = nearest_cells(q, "query_id", "q_vec", n_probe).withColumnRenamed("cent_id", "cell")
    scored = (
        c_cells.join(F.broadcast(q_cells), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cosine_expr(F.col("q_vec"), F.col("c_vec")))
        .select("query_id", "neighbor_id", "cosine")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _topk_per_query(scored, k)
