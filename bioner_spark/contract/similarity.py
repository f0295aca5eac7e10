"""Contract family: similarity search over the embeddings table (exact
cosine top-k, LSH, the materialized LSH index, embedding near-dup, IVF) —
each query beside its DuckDB oracle. Both sides use the same plane
constants and cosine formula (bioner_spark/ops/similarity.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bioner_spark.contract.fixtures import _emb, _scratch_dir
from bioner_spark.ops import similarity as sim

# deterministic IVF / LSH similarity params (shared with the oracle SQL)
IVF_CENTROID_IDS = list(range(16))
NEAR_DUP_THRESHOLD = 0.3

_PLANES = sim.hyperplanes(64, 8, 1234)


def _plane_lit(p) -> str:
    return "[" + ", ".join(repr(x) for x in p) + "]"


def _bucket_sql(col: str, plane_slice) -> str:
    bits = " + ".join(
        f"(CASE WHEN list_dot_product({col}, {_plane_lit(p)}) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(plane_slice)
    )
    return f"({bits})::INT"


def _cos_sql(a: str, b: str) -> str:
    # NULLIF mirrors the engine's zero-norm → NULL rule (similarity.
    # cosine_expr): a zero vector must not error or NaN-poison the top-k
    return (
        f"ROUND(list_dot_product({a}, {b}) / "
        f"NULLIF(sqrt(list_dot_product({a}, {a})) * "
        f"sqrt(list_dot_product({b}, {b})), 0), 6)"
    )


def _probes(emb: DataFrame) -> DataFrame:
    return emb.filter(F.col("vec_id") < 10)


def _ranked(out: DataFrame) -> DataFrame:
    return out.select(
        "query_id", "neighbor_id", "cosine", F.col("rank").cast("int").alias("rank")
    )


def cosine_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    return _ranked(sim.cosine_topk(emb, _probes(emb), k=5))


COSINE_TOPK_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
    ROUND(list_dot_product(qv, cv) /
          NULLIF(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)), 0), 6) AS cosine
  FROM c JOIN q ON query_id <> neighbor_id
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC)::INT AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
"""


def lsh_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    return _ranked(sim.lsh_topk(emb, _probes(emb), k=5, n_planes=8, dim=64))


LSH_TOPK_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
         {_bucket_sql('embedding::DOUBLE[]', _PLANES)} AS bucket
  FROM embeddings WHERE vec_id < 10
),
c AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv,
         {_bucket_sql('embedding::DOUBLE[]', _PLANES)} AS bucket
  FROM embeddings
),
scored AS (
  SELECT query_id, neighbor_id, {_cos_sql('qv', 'cv')} AS cosine
  FROM c JOIN q USING (bucket) WHERE query_id <> neighbor_id
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC)::INT AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
"""


def lsh_topk_indexed(spark, sf_dir):
    # The production ANN shape: bucket assignment materialized ONCE at
    # ingest (Parquet partitioned by bucket), probes read only matching
    # partition dirs (plan-time pruning). Same planes → identical
    # results to lsh_topk, so it shares that oracle's semantics. A fresh
    # index per call; rebuild cost at contract scale is trivial.
    emb = _emb(spark, sf_dir)
    idx = f"{_scratch_dir('bioner_ann_index_')}/index"
    sim.write_ann_index(emb, idx, dim=64, n_planes=8)
    return _ranked(
        sim.lsh_topk_indexed(spark, idx, _probes(emb), k=5, n_planes=8, dim=64)
    )


# identical planes + identical cosine → the materialized-index probe
# must reproduce lsh_topk exactly; reusing the SQL makes that a checked
# invariant rather than a docstring claim
LSH_TOPK_INDEXED_SQL = LSH_TOPK_SQL


def embedding_near_dup(spark, sf_dir):
    return sim.embedding_near_dup(
        _emb(spark, sf_dir),
        threshold=NEAR_DUP_THRESHOLD,
        n_planes=8,
        n_bands=2,
        dim=64,
    )


EMBEDDING_NEAR_DUP_SQL = f"""
WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (
  SELECT id, v,
         {_bucket_sql('v', _PLANES[0:4])} AS k0,
         {_bucket_sql('v', _PLANES[4:8])} AS k1
  FROM e
),
cand AS (
  SELECT DISTINCT a.id AS id_a, bb.id AS id_b
  FROM b a JOIN b bb ON a.id < bb.id AND (a.k0 = bb.k0 OR a.k1 = bb.k1)
)
SELECT id_a, id_b, {_cos_sql('ea.v', 'eb.v')} AS cosine
FROM cand JOIN e ea ON ea.id = id_a JOIN e eb ON eb.id = id_b
WHERE {_cos_sql('ea.v', 'eb.v')} >= {NEAR_DUP_THRESHOLD}
"""


def ivf_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    return _ranked(
        sim.ivf_topk(emb, _probes(emb), k=5, centroid_ids=IVF_CENTROID_IDS, n_probe=2)
    )


_cent_ids = ", ".join(str(i) for i in IVF_CENTROID_IDS)
IVF_TOPK_SQL = f"""
WITH cents AS (
  SELECT vec_id AS cent_id, embedding::DOUBLE[] AS centv
  FROM embeddings WHERE vec_id IN ({_cent_ids})
),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 10),
c_assign AS (
  SELECT neighbor_id, cv, cent_id AS cell FROM (
    SELECT c.neighbor_id, c.cv, cents.cent_id,
      row_number() OVER (PARTITION BY c.neighbor_id
        ORDER BY {_cos_sql('c.cv', 'cents.centv')} DESC, cents.cent_id ASC) AS rn
    FROM c CROSS JOIN cents)
  WHERE rn = 1
),
q_probe AS (
  SELECT query_id, qv, cent_id AS cell FROM (
    SELECT q.query_id, q.qv, cents.cent_id,
      row_number() OVER (PARTITION BY q.query_id
        ORDER BY {_cos_sql('q.qv', 'cents.centv')} DESC, cents.cent_id ASC) AS rn
    FROM q CROSS JOIN cents)
  WHERE rn <= 2
),
scored AS (
  SELECT query_id, neighbor_id, {_cos_sql('qv', 'cv')} AS cosine
  FROM c_assign JOIN q_probe USING (cell)
  WHERE query_id <> neighbor_id
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC)::INT AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
"""


_CONTRACT = (
    (cosine_topk, COSINE_TOPK_SQL),
    (lsh_topk, LSH_TOPK_SQL),
    (lsh_topk_indexed, LSH_TOPK_INDEXED_SQL),
    (embedding_near_dup, EMBEDDING_NEAR_DUP_SQL),
    (ivf_topk, IVF_TOPK_SQL),
)
QUERIES = {q.__name__: q for q, _ in _CONTRACT}
ORACLES = {q.__name__: sql for q, sql in _CONTRACT}
