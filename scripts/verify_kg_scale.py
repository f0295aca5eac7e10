"""Scale verification for the KG read-side analytics family (round-5
verdict item 3): run kg_degree / kg_pmi / kg_pagerank / kg_khop /
kg_snapshot_diff at 50,000 entities and ~2M triples — three orders beyond
the 7-entity driver fixture — against exact DuckDB oracles over the SAME
parquet triples table, with the same rows+columns+value compare the
driver uses (reused from verify_oracle.py).

Why a dedicated triples generator instead of the 50k documents corpus
(gen_scale_corpus.py): that corpus deliberately has a unique-word
vocabulary, so the gazetteer tagger finds nothing and the pipeline emits
zero triples. The analytics operators' scale risks live in the GRAPH
shape, not the text, so the generator targets those directly:

  * heavy skew — src drawn as floor(n·u³): the hottest entity carries
    ~3% of all edges (the regime where entity_degree's old Expand plan
    and a naive groupBy would hot-spot);
  * dangling nodes — entities with id % 997 == 0 are remapped out of the
    src side, so ~50 nodes have out-degree 0 and exercise the
    dangling-mass redistribution at real fan-in;
  * self-loops and multi-edges arise naturally from independent draws
    (the distinct/self-loop-drop paths get real work);
  * 8 predicates, 20k docs, 5 sentence ids — support columns for
    degree/PMI marginals.

Everything is a function of one seeded PCG64 stream (NEP-19 stable) —
re-runs are byte-identical.

The PageRank check additionally asserts rank-mass conservation after
6-dp rounding across all 50k entities (|Σrank − 1| ≤ n·5e-7), the
adversarial float condition the round-4 verdict called out.

Run from the repo root (~6 min on 32 cores; get_spark runs local[usable cores]):

    python scripts/verify_kg_scale.py [out_dir]     # default /tmp/bioner_kg50k
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.verify_oracle import compare  # noqa: E402

N_ENT = 50_000
N_EDGES = 2_000_000
SEED = 20260821


def gen_triples(
    path: str, n_ent: int = N_ENT, n_edges: int = N_EDGES, seed: int = SEED
) -> None:
    rng = np.random.default_rng(seed)
    src = (n_ent * rng.random(n_edges) ** 3).astype(np.int64)
    dst = (n_ent * rng.random(n_edges)).astype(np.int64)
    # entities ≡ 0 (mod 997) never appear as src → genuine dangling nodes
    src = np.where(src % 997 == 0, (src + 1) % n_ent, src)
    pred_ix = (src * 31 + dst * 17) % 8
    ids = np.arange(n_edges)
    tbl = pa.table(
        {
            "subj": pa.array([f"e{v:05d}" for v in src], pa.string()),
            "pred": pa.array([f"p{v}" for v in pred_ix], pa.string()),
            "obj": pa.array([f"e{v:05d}" for v in dst], pa.string()),
            "doc_id": pa.array(ids % 20_000, pa.int64()),
            "sentence_id": pa.array((ids % 5).astype(np.int32), pa.int32()),
        }
    )
    pq.write_table(tbl, path)


# --- oracles over a DuckDB view named `triples` ---------------------------

DEGREE_SQL = """
WITH sides AS (
  SELECT subj AS entity, TRUE AS is_out, obj AS nbr, pred, doc_id FROM triples
  UNION ALL
  SELECT obj AS entity, FALSE AS is_out, subj AS nbr, pred, doc_id FROM triples
)
SELECT entity,
       SUM(CASE WHEN is_out THEN 1 ELSE 0 END)::BIGINT AS out_triples,
       SUM(CASE WHEN is_out THEN 0 ELSE 1 END)::BIGINT AS in_triples,
       COUNT(DISTINCT CASE WHEN is_out THEN nbr END)::BIGINT AS out_neighbors,
       COUNT(DISTINCT CASE WHEN NOT is_out THEN nbr END)::BIGINT AS in_neighbors,
       COUNT(DISTINCT pred)::BIGINT AS n_preds,
       COUNT(DISTINCT doc_id)::BIGINT AS n_docs
FROM sides GROUP BY entity
"""

PMI_SQL = """
WITH pm_pairs AS (
  SELECT subj, obj, COUNT(*)::BIGINT AS n_pair FROM triples GROUP BY subj, obj
),
pm_sm AS (SELECT subj, SUM(n_pair) AS n_subj FROM pm_pairs GROUP BY subj),
pm_om AS (SELECT obj, SUM(n_pair) AS n_obj FROM pm_pairs GROUP BY obj),
pm_tot AS (SELECT SUM(n_pair) AS n_total FROM pm_pairs)
SELECT p.subj, p.obj, p.n_pair,
       ROUND(LN((p.n_pair::DOUBLE * t.n_total::DOUBLE)
                / (s.n_subj::DOUBLE * o.n_obj::DOUBLE)), 6) AS pmi
FROM pm_pairs p JOIN pm_sm s USING (subj) JOIN pm_om o USING (obj) CROSS JOIN pm_tot t
"""

DIFF_SQL = """
WITH snap_a AS MATERIALIZED (
  SELECT DISTINCT subj, pred, obj FROM triples WHERE doc_id % 2 = 0
),
snap_b AS MATERIALIZED (
  SELECT DISTINCT subj, pred, obj FROM triples WHERE doc_id % 2 = 1
)
SELECT 'added' AS op, subj, pred, obj
FROM (SELECT * FROM snap_b EXCEPT SELECT * FROM snap_a)
UNION ALL
SELECT 'removed' AS op, subj, pred, obj
FROM (SELECT * FROM snap_a EXCEPT SELECT * FROM snap_b)
"""


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/bioner_kg50k"
    os.makedirs(out_dir, exist_ok=True)
    # config-keyed filename: an edit to N_ENT/N_EDGES/SEED must MISS the
    # cache — an existence-only check would silently re-verify a stale
    # graph and report green for a configuration that never ran
    path = os.path.join(
        out_dir, f"triples_{N_ENT}x{N_EDGES}_s{SEED}.parquet"
    )
    if not os.path.exists(path):
        t0 = time.time()
        gen_triples(path)
        print(f"generated {path} ({N_EDGES} triples) [{time.time()-t0:.1f}s]")

    from pyspark.sql import functions as F  # noqa: E402

    import __spark_entry__ as entrymod  # for the unrolled CTE builders
    from bioner_spark.kg_analytics import (
        cooccurrence_pmi,
        entity_degree,
        kg_diff,
        khop_neighbors,
        pagerank,
    )
    from bioner_spark.session import get_spark

    spark = get_spark()
    triples = spark.read.parquet(path)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW triples AS SELECT * FROM read_parquet('{path}')"
    )

    def spark_diff():
        a = triples.where(F.col("doc_id") % 2 == 0)
        b = triples.where(F.col("doc_id") % 2 == 1)
        return kg_diff(a, b)

    cases = {
        "kg_degree@50k": (lambda: entity_degree(triples), DEGREE_SQL),
        "kg_pmi@50k": (lambda: cooccurrence_pmi(triples), PMI_SQL),
        "kg_pagerank@50k": (
            lambda: pagerank(triples, iterations=5),
            "WITH " + entrymod._pagerank_cte(iterations=5).strip(),
        ),
        "kg_pagerank_weighted@50k": (
            lambda: pagerank(triples, iterations=5, weighted=True),
            "WITH "
            + entrymod._pagerank_cte(iterations=5, weighted=True).strip(),
        ),
        "kg_khop@50k": (
            lambda: khop_neighbors(triples, k=3, n_seeds=5),
            "WITH " + entrymod._khop_cte(k=3, n_seeds=5).strip(),
        ),
        "kg_snapshot_diff@50k": (spark_diff, DIFF_SQL),
    }

    n_fail = 0
    for name, (fn, sql) in cases.items():
        t0 = time.time()
        sdf = fn().toPandas()
        t_spark = time.time() - t0
        t0 = time.time()
        odf = con.execute(sql).fetchdf()
        t_oracle = time.time() - t0
        problems = compare(name, sdf, odf)
        if name.startswith("kg_pagerank") and not problems:
            mass = float(sdf["rank"].sum())
            if abs(mass - 1.0) > N_ENT * 5e-7:
                problems = [f"rank mass not conserved: Σrank={mass!r}"]
        if name == "kg_snapshot_diff@50k" and not problems:
            n_add = int((sdf["op"] == "added").sum())
            n_rem = int((sdf["op"] == "removed").sum())
            if n_add == 0 or n_rem == 0:
                problems = [f"vacuous diff: added={n_add} removed={n_rem}"]
        if problems:
            n_fail += 1
            print(f"FAIL {name} [spark {t_spark:.1f}s, oracle {t_oracle:.1f}s]")
            for p in problems:
                print(f"     {p}")
        else:
            print(
                f"PASS {name}: {len(sdf)} rows "
                f"[spark {t_spark:.1f}s, oracle {t_oracle:.1f}s]"
            )

    print(f"\n{'ALL OK' if n_fail == 0 else f'{n_fail} FAILURES'}")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
