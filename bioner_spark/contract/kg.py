"""Contract family: the KG stages (gazetteer tagging, linking, connected
components, triples), the read-side analytics over the constructed KG
(kg_analytics.py), the full synthetic-crawl pipeline and the PubTator
roundtrip — each query beside its DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bioner_spark.contract.fixtures import (
    COMPONENTS, DICT, PREDICATES, _alias_df, _docs, _KG_GOLD, _scratch_dir, _tokens,
)
from bioner_spark.contract.sql import _TOKS_CTE, _sql_in
from bioner_spark.corpus import alias_dict_spark_df, generate, pages_spark_df
from bioner_spark.graph import canonical_map
from bioner_spark.io.pubtator import (
    kept_sentence_offsets, project_iob, read_pubtator, render_pubtator,
)
from bioner_spark.kg_analytics import (
    cooccurrence_pmi, entity_degree, kg_diff, khop_neighbors, pagerank,
)
from bioner_spark.linking import dict_mentions as dict_mentions_fast
from bioner_spark.pipeline import build_triples
from bioner_spark.tokenizer import tokenize
from bioner_spark.triples import DEFAULT_PREDICATES as _VERBS
from bioner_spark.triples import extract_triples


def _kg_linked(spark: SparkSession, sf_dir: str):
    """documents → gazetteer match → overlap resolve → canonicalize.
    Returns (linked_mentions_with_component, tokens).

    Uses the pipeline's fast path (linking.dict_mentions): resolved matches
    ARE the mentions, already carrying canonical_id under the same min-id
    ambiguity rule — no BIO round-trip. The second return value feeds the
    triple extractor's verb scan, which reads raw token text only."""
    alias = _alias_df(spark)
    toks = _tokens(spark, sf_dir)
    mentions = dict_mentions_fast(toks, alias, max_alias_len=2)
    components = canonical_map(alias)
    linked = (
        mentions.join(F.broadcast(components), "canonical_id", "left")
        .filter(F.col("component").isNotNull())
    )
    return linked, toks


_DICT_VALUES = ", ".join(f"('{a}', '{c}')" for a, c in DICT)
_COMP_VALUES = ", ".join(f"('{k}', '{v}')" for k, v in sorted(COMPONENTS.items()))


def _kg_cte() -> str:
    """CTEs: toks → dict gazetteer candidates (1- and 2-word) → overlap
    resolution → linked mentions with component."""
    preds = _sql_in(PREDICATES)
    return f"""
dict(alias, canonical_id) AS (VALUES {_DICT_VALUES}),
comp(canonical_id, component) AS (VALUES {_COMP_VALUES}),
d1 AS (SELECT alias, canonical_id FROM dict WHERE length(string_split(alias, ' ')) = 1),
d2 AS (SELECT alias, canonical_id FROM dict WHERE length(string_split(alias, ' ')) = 2),
lt AS (
  -- lowered token projected ONCE: the LOWER_SQL shim expands to a
  -- translate + 3-regex chain, so every downstream re-evaluation
  -- (cand1 join, lead2 window x3, verbs x2) multiplies real sweep CPU
  SELECT doc_id, sentence_id, token_id, LOWER_SQL(text) AS ltext
  FROM toks
),
cand1 AS (
  SELECT t.doc_id, t.sentence_id, t.token_id AS start_tok, t.token_id AS end_tok,
         t.ltext AS phrase, d.canonical_id
  FROM lt t JOIN d1 d ON t.ltext = d.alias
),
lead2 AS (
  SELECT doc_id, sentence_id, token_id,
         ltext || ' ' || lead(ltext) OVER (
             PARTITION BY doc_id, sentence_id ORDER BY token_id) AS phrase2,
         lead(ltext) OVER (
             PARTITION BY doc_id, sentence_id ORDER BY token_id) AS nxt
  FROM lt
),
cand2 AS (
  SELECT l.doc_id, l.sentence_id, l.token_id AS start_tok,
         (l.token_id + 1) AS end_tok, l.phrase2 AS phrase, d.canonical_id
  FROM lead2 l JOIN d2 d ON l.phrase2 = d.alias
  WHERE l.nxt IS NOT NULL
),
cand AS (
  SELECT doc_id, sentence_id, start_tok, end_tok,
         MIN(canonical_id) AS canonical_id, MIN(phrase) AS phrase
  FROM (SELECT * FROM cand1 UNION ALL SELECT * FROM cand2)
  GROUP BY doc_id, sentence_id, start_tok, end_tok
),
resolved AS (
  SELECT a.* FROM cand a
  WHERE NOT EXISTS (
    SELECT 1 FROM cand b
    WHERE b.doc_id = a.doc_id AND b.sentence_id = a.sentence_id
      AND a.start_tok <= b.end_tok AND b.start_tok <= a.end_tok
      AND ((b.end_tok - b.start_tok) > (a.end_tok - a.start_tok)
           OR ((b.end_tok - b.start_tok) = (a.end_tok - a.start_tok)
               AND b.start_tok < a.start_tok))
  )
),
alias_min AS (SELECT alias, MIN(canonical_id) AS canonical_id FROM dict GROUP BY alias),
linked AS (
  SELECT r.doc_id, r.sentence_id, r.start_tok::INT AS start_tok,
         r.end_tok::INT AS end_tok, r.phrase AS mention_text,
         am.canonical_id, c.component
  FROM resolved r
  JOIN alias_min am ON r.phrase = am.alias
  JOIN comp c ON am.canonical_id = c.canonical_id
),
verbs AS (
  SELECT doc_id, sentence_id, token_id AS verb_tok, ltext AS verb
  FROM lt WHERE ltext IN ({preds})
),
pairs AS (
  SELECT m1.doc_id, m1.sentence_id, m1.component AS subj, m2.component AS obj,
         m1.end_tok AS subj_end, m2.start_tok AS obj_start
  FROM linked m1 JOIN linked m2
    ON m1.doc_id = m2.doc_id AND m1.sentence_id = m2.sentence_id
   AND m1.start_tok < m2.start_tok
),
first_verb AS (
  SELECT doc_id, sentence_id, subj, obj, subj_end, obj_start, verb,
         row_number() OVER (
            PARTITION BY doc_id, sentence_id, subj, obj, subj_end, obj_start
            ORDER BY verb_tok) AS rn
  FROM pairs JOIN verbs USING (doc_id, sentence_id)
  WHERE verb_tok > subj_end AND verb_tok < obj_start
),
triples AS (
  SELECT DISTINCT p.subj,
         COALESCE(fv.verb, 'co_occurs_with') AS pred,
         p.obj, p.doc_id, p.sentence_id::INT AS sentence_id
  FROM pairs p
  LEFT JOIN (SELECT * FROM first_verb WHERE rn = 1) fv
    ON p.doc_id = fv.doc_id AND p.sentence_id = fv.sentence_id
   AND p.subj = fv.subj AND p.obj = fv.obj
   AND p.subj_end = fv.subj_end AND p.obj_start = fv.obj_start
)
"""


def _pagerank_cte(
    iterations: int = 5, damping: float = 0.85, weighted: bool = False
) -> str:
    """Unrolled power-iteration PageRank over the `triples` CTE — the SQL
    mirror of kg_analytics.pagerank (same dangling-mass formulation, same
    IEEE-double op sequence: literals forced ::DOUBLE so DuckDB does not
    fall into exact DECIMAL arithmetic the Spark side can't reproduce;
    every iteration CTE AS MATERIALIZED because DuckDB inlines plain CTEs,
    which re-expands the full upstream triple pipeline ~3x per iteration
    — exponential plan blowup without it). weighted=True mirrors
    pagerank(weighted=True): edge weight = triple-support count, out-mass
    = Σw, contribution = SUM(r.rank * e.w / o.od)."""
    d = f"{damping!r}::DOUBLE"
    if weighted:
        edges_cte = (
            "pr_edges AS MATERIALIZED (SELECT subj, obj, COUNT(*)::DOUBLE AS w"
            " FROM triples WHERE subj <> obj GROUP BY subj, obj)"
        )
        out_cte = (
            "pr_out AS MATERIALIZED "
            "(SELECT subj, SUM(w) AS od FROM pr_edges GROUP BY subj)"
        )
        contrib = "SUM(r.rank * e.w / o.od)"
    else:
        edges_cte = (
            "pr_edges AS MATERIALIZED "
            "(SELECT DISTINCT subj, obj FROM triples WHERE subj <> obj)"
        )
        out_cte = (
            "pr_out AS MATERIALIZED "
            "(SELECT subj, COUNT(*)::DOUBLE AS od FROM pr_edges GROUP BY subj)"
        )
        contrib = "SUM(r.rank / o.od)"
    parts = [
        f"""
{edges_cte},
pr_nodes AS MATERIALIZED (SELECT subj AS node FROM triples UNION SELECT obj FROM triples),
{out_cte},
pr_n AS MATERIALIZED (SELECT COUNT(*)::DOUBLE AS n FROM pr_nodes),
pg0 AS MATERIALIZED (SELECT node, 1.0::DOUBLE / (SELECT n FROM pr_n) AS rank FROM pr_nodes)"""
    ]
    for i in range(iterations):
        parts.append(
            f""",
pgd{i} AS MATERIALIZED (
  SELECT COALESCE(SUM(r.rank), 0.0::DOUBLE) AS dm
  FROM pg{i} r LEFT JOIN pr_out o ON r.node = o.subj
  WHERE o.subj IS NULL
),
pgc{i} AS MATERIALIZED (
  SELECT e.obj AS node, {contrib} AS c
  FROM pr_edges e JOIN pg{i} r ON e.subj = r.node
  JOIN pr_out o ON e.subj = o.subj
  GROUP BY e.obj
),
pg{i + 1} AS MATERIALIZED (
  SELECT n.node,
         (1.0::DOUBLE - {d}) / (SELECT n FROM pr_n)
         + {d} * (COALESCE(c.c, 0.0::DOUBLE)
                  + (SELECT dm FROM pgd{i}) / (SELECT n FROM pr_n)) AS rank
  FROM pr_nodes n LEFT JOIN pgc{i} c ON n.node = c.node
)"""
        )
    parts.append(
        f"\nSELECT node AS entity, ROUND(rank, 6) AS rank FROM pg{iterations}"
    )
    return "".join(parts)


def _khop_cte(k: int = 3, n_seeds: int = 5) -> str:
    """Unrolled BFS over the `triples` CTE — the SQL mirror of
    kg_analytics.khop_neighbors. Re-expands the whole h_{r-1} level each
    round (the Spark side expands only the new frontier); MIN(hop) makes
    the two formulations agree."""
    parts = [
        f"""
kh_edges AS MATERIALIZED (SELECT DISTINCT subj, obj FROM triples WHERE subj <> obj),
kh_nodes AS MATERIALIZED (SELECT subj AS node FROM triples UNION SELECT obj FROM triples),
kh_seeds AS MATERIALIZED (SELECT node FROM kh_nodes ORDER BY node LIMIT {n_seeds}),
h0 AS MATERIALIZED (SELECT node, 0 AS hop FROM kh_seeds)"""
    ]
    for i in range(1, k + 1):
        parts.append(
            f""",
h{i} AS MATERIALIZED (
  SELECT DISTINCT e.obj AS node, {i} AS hop
  FROM kh_edges e JOIN h{i - 1} p ON e.subj = p.node
)"""
        )
    union = " UNION ALL ".join(f"SELECT * FROM h{i}" for i in range(k + 1))
    parts.append(
        f"""
SELECT node AS entity, MIN(hop)::INT AS hops FROM ({union}) GROUP BY node"""
    )
    return "".join(parts)


def dict_mentions(spark, sf_dir):
    linked, _ = _kg_linked(spark, sf_dir)
    return linked.select(
        "doc_id", "sentence_id", "start_tok", "end_tok",
        "mention_text", "canonical_id", "component",
    )


DICT_MENTIONS_SQL = f"""
WITH {_TOKS_CTE},
{_kg_cte().strip()}
SELECT doc_id, sentence_id, start_tok, end_tok, mention_text, canonical_id, component
FROM linked
"""


def kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The constructed KG: `kg_triples`, the input of every read-side
    analytics query, and `entry` at sf0.001."""
    linked, tagged = _kg_linked(spark, sf_dir)
    return extract_triples(linked, tagged, predicates=PREDICATES)


KG_TRIPLES_SQL = f"""
WITH {_TOKS_CTE},
{_kg_cte().strip()}
SELECT subj, pred, obj, doc_id, sentence_id FROM triples
"""


def kg_degree(spark, sf_dir):
    """Per-entity degree/support profile over the constructed KG
    (kg_analytics.entity_degree — per-metric distinct-then-count,
    Expand-free). entity_degree's contract expects a MATERIALIZED
    triples table (it makes four column-pruned passes); here the
    pipeline lineage is localCheckpointed once so the passes read
    executor blocks, not four re-executions of the gazetteer chain."""
    return entity_degree(kg_triples(spark, sf_dir).localCheckpoint())


# The KG analytics oracles recompute the triple set via _kg_cte, then the
# analytics in plain SQL (kg_analytics.py docstrings state the shared
# math). _DEGREE_SQL and _PMI_SQL read any relation named `triples`.
_DEGREE_SQL = """sides AS (
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
KG_DEGREE_SQL = f"""
WITH {_TOKS_CTE},
{_kg_cte().strip()},
{_DEGREE_SQL}"""


def kg_pmi(spark, sf_dir):
    """PMI of (subj, obj) co-occurrence vs entity marginals
    (kg_analytics.cooccurrence_pmi); marginals re-aggregate the pair
    counts, never re-scan triples."""
    return cooccurrence_pmi(kg_triples(spark, sf_dir))


_PMI_SQL = """pm_pairs AS (
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
KG_PMI_SQL = f"""
WITH {_TOKS_CTE},
{_kg_cte().strip()},
{_PMI_SQL}"""


def kg_pagerank(spark, sf_dir):
    """5-iteration damped PageRank with dangling-mass redistribution
    over the distinct directed entity graph (kg_analytics.pagerank);
    oracle = the same power iteration unrolled as DuckDB CTEs."""
    return pagerank(kg_triples(spark, sf_dir), iterations=5)


KG_PAGERANK_SQL = f"""
WITH {_TOKS_CTE},
{_kg_cte().strip()},
{_pagerank_cte(iterations=5).strip()}
"""


def kg_pagerank_weighted(spark, sf_dir):
    """Support-weighted PageRank (r5): edge weight = triple-support
    count, so heavily-evidenced relations carry proportionally more
    rank (kg_analytics.pagerank weighted=True); oracle = the weighted
    power iteration unrolled as DuckDB CTEs with the identical
    SUM(rank*w/od) op sequence."""
    return pagerank(kg_triples(spark, sf_dir), iterations=5, weighted=True)


KG_PAGERANK_WEIGHTED_SQL = f"""
WITH {_TOKS_CTE},
{_kg_cte().strip()},
{_pagerank_cte(iterations=5, weighted=True).strip()}
"""


def kg_khop(spark, sf_dir):
    """Min-hop BFS (≤3 hops, 5 smallest entities as seeds) along
    directed subj→obj edges (kg_analytics.khop_neighbors); the Spark
    side expands only the new frontier per round, the oracle re-expands
    the whole visited set — equivalent under min-hop."""
    return khop_neighbors(kg_triples(spark, sf_dir), k=3, n_seeds=5)


KG_KHOP_SQL = f"""
WITH {_TOKS_CTE},
{_kg_cte().strip()},
{_khop_cte(k=3, n_seeds=5).strip()}
"""


def kg_snapshot_diff(spark, sf_dir):
    """Incremental-maintenance delta between two crawl snapshots:
    snapshot A = even doc_ids < 30, snapshot B = odd doc_ids < 30 —
    two disjoint 15-doc crawl slices, chosen because wider slices
    saturate the small gazetteer's distinct-edge space and the
    symmetric difference collapses to empty (the r4 vacuous-pass
    failure mode: doc_id%5 vs %7 matched 0==0 rows). Verified
    non-empty in BOTH directions at sf0.001/0.01/0.1.

    Filtering the TRIPLES by doc_id is exact snapshot semantics here
    because the dict-tagger pipeline is per-document independent —
    dropping a doc drops exactly its triples (kg_analytics.kg_diff).

    Two audit rows (op='n_added'/'n_removed', count as subj) ride along
    so the contract row can never be 0-rows again: an empty delta would
    still hash the two zero-count rows, and a direction silently going
    empty flips its count row and fails the hash."""
    # localCheckpoint once (same discipline as kg_degree): the union
    # below evaluates the diff branch twice (rows + audit counts) and
    # kg_diff itself reads each snapshot twice (distinct + anti-join) —
    # without materialization that would re-execute the full gazetteer
    # pipeline ~8x; blocks are freed when the driver-side frame is GC'd
    t = kg_triples(spark, sf_dir).localCheckpoint()
    snap_a = t.where((F.col("doc_id") % 2 == 0) & (F.col("doc_id") < 30))
    snap_b = t.where((F.col("doc_id") % 2 == 1) & (F.col("doc_id") < 30))
    d = kg_diff(snap_a, snap_b)
    ops = spark.createDataFrame([("added",), ("removed",)], "op string")
    audit = (
        ops.join(d.groupBy("op").agg(F.count(F.lit(1)).alias("n")),
                 "op", "left")
        .select(
            F.concat(F.lit("n_"), F.col("op")).alias("op"),
            F.coalesce(F.col("n"), F.lit(0)).cast("string").alias("subj"),
            F.lit("").alias("pred"),
            F.lit("").alias("obj"),
        )
    )
    return d.unionByName(audit)


KG_SNAPSHOT_DIFF_SQL = f"""
WITH {_TOKS_CTE},
{_kg_cte().strip()},
snap_a AS MATERIALIZED (
  SELECT DISTINCT subj, pred, obj FROM triples
  WHERE doc_id % 2 = 0 AND doc_id < 30
),
snap_b AS MATERIALIZED (
  SELECT DISTINCT subj, pred, obj FROM triples
  WHERE doc_id % 2 = 1 AND doc_id < 30
),
diff AS MATERIALIZED (
  SELECT 'added' AS op, subj, pred, obj
  FROM (SELECT * FROM snap_b EXCEPT SELECT * FROM snap_a)
  UNION ALL
  SELECT 'removed' AS op, subj, pred, obj
  FROM (SELECT * FROM snap_a EXCEPT SELECT * FROM snap_b)
)
SELECT op, subj, pred, obj FROM diff
UNION ALL
SELECT 'n_' || o.op AS op, COALESCE(c.n, 0)::VARCHAR AS subj,
       '' AS pred, '' AS obj
FROM (VALUES ('added'), ('removed')) o(op)
LEFT JOIN (SELECT op, COUNT(*) AS n FROM diff GROUP BY op) c ON o.op = c.op
"""


def connected_components(spark, sf_dir):
    return canonical_map(_alias_df(spark)).select("canonical_id", "component")


CONNECTED_COMPONENTS_SQL = f"""
WITH RECURSIVE dict(alias, canonical_id) AS (VALUES {_DICT_VALUES}),
edges AS (
  SELECT DISTINCT a.canonical_id AS u, b.canonical_id AS v
  FROM dict a JOIN dict b USING (alias)
  WHERE a.canonical_id <> b.canonical_id
),
reach(node, r) AS (
  SELECT DISTINCT canonical_id, canonical_id FROM dict
  UNION
  SELECT e.u, reach.r FROM edges e JOIN reach ON reach.node = e.v
)
SELECT node AS canonical_id, MIN(r) AS component FROM reach GROUP BY node
"""


def kg_pipeline_synthetic(spark, sf_dir):
    """Full pipeline incl. HTML extractor UDF + salted repartition on the
    deterministic synthetic Common-Crawl-style corpus (corpus.py)."""
    corpus = generate(n_docs=60, giant_doc_sentences=40)
    pages = pages_spark_df(spark, corpus)
    alias = alias_dict_spark_df(spark, corpus)
    res = build_triples(pages, alias, tagger="dict")
    return res.triples


# kg_pipeline_synthetic: the oracle RECOMPUTES the expected triples in
# DuckDB from the generator's committed GOLD side tables
# (tests/fixtures/kg_gold/*.parquet, written by scripts/gen_kg_gold.py
# from the same generate(n_docs=60, giant_doc_sentences=40) call the
# query makes): alias-closure components via recursive CTE, ordered
# same-sentence mention pairs, first-lexicon-verb-strictly-between rule
# (triples.py semantics), DISTINCT 5-tuples. The gold tables come from
# the single-node generator (corpus.py), never from the Spark engine —
# so the whole HTML-extract → tokenize → gazetteer → CC → triple chain
# is hash-verified end to end.
KG_PIPELINE_SYNTHETIC_SQL = f"""
WITH RECURSIVE
al AS (SELECT * FROM read_parquet('{_KG_GOLD}/alias.parquet')),
gm AS (SELECT * FROM read_parquet('{_KG_GOLD}/mentions.parquet')),
gt AS (SELECT * FROM read_parquet('{_KG_GOLD}/tokens.parquet')),
-- canonical ids sharing an alias are connected (graph.py canonical_map rule)
e0 AS (
  SELECT a.canonical_id AS s, b.canonical_id AS d
  FROM al a JOIN al b ON a.alias = b.alias AND a.canonical_id <> b.canonical_id
),
reach(node, reached) AS (
  SELECT canonical_id, canonical_id FROM (SELECT DISTINCT canonical_id FROM al)
  UNION
  SELECT r.node, e.d FROM reach r JOIN e0 e ON e.s = r.reached
),
comp AS (SELECT node AS canonical_id, MIN(reached) AS component FROM reach GROUP BY node),
linked AS (
  SELECT m.doc_id, m.sentence_id, m.start_tok, m.end_tok, c.component
  FROM gm m JOIN comp c USING (canonical_id)
),
verbs AS (
  SELECT doc_id, sentence_id, verb_tok, verb FROM (
    SELECT doc_id, sentence_id, token_id AS verb_tok,
           LOWER_SQL(text) AS verb
    FROM gt
  ) WHERE verb IN ({_sql_in(_VERBS)})
),
pairs AS (
  SELECT m1.doc_id, m1.sentence_id,
         m1.component AS subj, m2.component AS obj,
         m1.end_tok AS subj_end, m2.start_tok AS obj_start
  FROM linked m1 JOIN linked m2
    ON m1.doc_id = m2.doc_id AND m1.sentence_id = m2.sentence_id
   AND m1.start_tok < m2.start_tok
),
firstverb AS (
  SELECT p.doc_id, p.sentence_id, p.subj, p.obj, p.subj_end, p.obj_start,
         MIN(CASE WHEN v.verb_tok > p.subj_end AND v.verb_tok < p.obj_start
                  THEN v.verb_tok END) AS first_tok
  FROM pairs p LEFT JOIN verbs v
    ON v.doc_id = p.doc_id AND v.sentence_id = p.sentence_id
  GROUP BY 1, 2, 3, 4, 5, 6
)
SELECT DISTINCT w.subj,
       COALESCE(v.verb, 'co_occurs_with') AS pred,
       w.obj, w.doc_id, w.sentence_id::INT AS sentence_id
FROM firstverb w
LEFT JOIN verbs v ON v.doc_id = w.doc_id AND v.sentence_id = w.sentence_id
                 AND v.verb_tok = w.first_tok
"""


def pubtator_iob(spark, sf_dir):
    """PubTator source roundtrip (SURVEY §2.1 S10): render the corpus +
    gazetteer mentions into real PubTator files, re-read them with the
    line-parallel reader, and project the parsed char-span annotations
    onto re-tokenized text as IOB tags (what the reference delegates to
    bconv — medmentions_conll_converter.py:27-29). The oracle recomputes
    the expected token/tag rows straight from `documents` in SQL, so the
    render→write→read→parse→tokenize→project chain is hash-verified
    end to end."""
    linked, toks = _kg_linked(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    soff = kept_sentence_offsets(docs)
    gtoks = toks.join(soff, ["doc_id", "sentence_id"]).select(
        "doc_id", "sentence_id", "token_id",
        (F.col("start") + F.col("g_off")).alias("g_start"),
        (F.col("end") + F.col("g_off")).alias("g_end"),
    )
    etype = (
        F.when(F.expr("CAST(right(component, 1) AS INT)") % 2 == 0, F.lit("CHEM"))
        .otherwise(F.lit("DIS"))
    )
    mentions = (
        linked
        .join(
            gtoks.withColumnRenamed("token_id", "start_tok").select(
                "doc_id", "sentence_id", "start_tok", "g_start"),
            ["doc_id", "sentence_id", "start_tok"],
        )
        .join(
            gtoks.withColumnRenamed("token_id", "end_tok").select(
                "doc_id", "sentence_id", "end_tok", "g_end"),
            ["doc_id", "sentence_id", "end_tok"],
        )
        .select(
            "doc_id", "g_start", "g_end", etype.alias("etype"),
            F.col("canonical_id").alias("concept_id"),
        )
    )
    tmp = _scratch_dir("pubtator_q_")
    render_pubtator(docs, mentions).coalesce(4).write.mode("overwrite").text(tmp)
    pdocs, anns = read_pubtator(spark, tmp)
    ptoks = tokenize(pdocs, doc_col="doc_id", text_col="text")
    psoff = kept_sentence_offsets(pdocs)
    pg = ptoks.join(psoff, ["doc_id", "sentence_id"]).select(
        "doc_id",
        (F.col("start") + F.col("g_off")).cast("int").alias("g_start"),
        (F.col("end") + F.col("g_off")).cast("int").alias("g_end"),
        "text",
    )
    return project_iob(pg, anns)


# pubtator_iob: the oracle never sees the PubTator files — it recomputes
# the expected (token, IOB tag) rows directly from `documents`: global
# char offsets = sentence-local offsets + kept-sentence cumulative
# offsets (1-char separators), mention spans from the gazetteer CTE's
# token spans, then the same earliest-start/longest-wins projection the
# engine applies to the PARSED annotations. Any drift in render, file
# write, read, parse, re-tokenize, or project breaks the hash.
PUBTATOR_IOB_SQL = f"""
WITH {_TOKS_CTE},
{_kg_cte().strip()},
soff AS (
  SELECT doc_id, sentence_id,
         COALESCE(SUM(length(sentence) + 1) OVER (
             PARTITION BY doc_id ORDER BY sentence_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::INT AS g_off
  FROM raw
),
gtoks AS (
  SELECT t.doc_id, t.sentence_id, t.token_id, t.text,
         (t.start + o.g_off)::INT AS g_start, (t."end" + o.g_off)::INT AS g_end
  FROM toks t JOIN soff o USING (doc_id, sentence_id)
  WHERE length(t.text) > 0
),
anns AS (
  SELECT l.doc_id, gs.g_start AS a_start, ge.g_end AS a_end,
         CASE WHEN CAST(right(l.component, 1) AS INT) % 2 = 0
              THEN 'CHEM' ELSE 'DIS' END AS etype
  FROM linked l
  JOIN gtoks gs ON gs.doc_id = l.doc_id AND gs.sentence_id = l.sentence_id
               AND gs.token_id = l.start_tok
  JOIN gtoks ge ON ge.doc_id = l.doc_id AND ge.sentence_id = l.sentence_id
               AND ge.token_id = l.end_tok
),
proj AS (
  SELECT t.doc_id, t.g_start, t.g_end, t.text,
         a.a_start, a.a_end, a.etype,
         row_number() OVER (PARTITION BY t.doc_id, t.g_start
                            ORDER BY a.a_start, a.a_end DESC, a.etype) AS rn
  FROM gtoks t LEFT JOIN anns a
    ON a.doc_id = t.doc_id AND t.g_start < a.a_end AND t.g_end > a.a_start
   AND a.a_start < a.a_end
),
win AS (SELECT * FROM proj WHERE rn = 1),
firsts AS (
  SELECT doc_id, a_start, a_end, etype, MIN(g_start) AS b_start
  FROM win WHERE a_start IS NOT NULL
  GROUP BY doc_id, a_start, a_end, etype
)
SELECT w.doc_id, w.g_start, w.g_end, w.text AS token,
       CASE WHEN w.a_start IS NULL THEN 'O'
            WHEN w.g_start = f.b_start THEN 'B-' || w.etype
            ELSE 'I-' || w.etype END AS tag
FROM win w LEFT JOIN firsts f
  ON f.doc_id = w.doc_id AND f.a_start = w.a_start
 AND f.a_end = w.a_end AND f.etype = w.etype
"""


_CONTRACT = (
    (dict_mentions, DICT_MENTIONS_SQL),
    (kg_triples, KG_TRIPLES_SQL),
    (kg_degree, KG_DEGREE_SQL),
    (kg_pmi, KG_PMI_SQL),
    (kg_pagerank, KG_PAGERANK_SQL),
    (kg_pagerank_weighted, KG_PAGERANK_WEIGHTED_SQL),
    (kg_khop, KG_KHOP_SQL),
    (kg_snapshot_diff, KG_SNAPSHOT_DIFF_SQL),
    (connected_components, CONNECTED_COMPONENTS_SQL),
    (kg_pipeline_synthetic, KG_PIPELINE_SYNTHETIC_SQL),
    (pubtator_iob, PUBTATOR_IOB_SQL),
)
QUERIES = {q.__name__: q for q, _ in _CONTRACT}
ORACLES = {q.__name__: sql for q, sql in _CONTRACT}
