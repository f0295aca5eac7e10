"""Contract family: training-data cleaning — corpus split, the dedup suite,
text stats, and the composed C4-style filter chain — each query beside
its DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import functions as F

from bioner_spark.contract.fixtures import _docs
from bioner_spark.contract.sql import _NORM_SQL, _WS_SQL, _sql_in
from bioner_spark.ops import dedup
from bioner_spark.ops.dedup import LSH_PRIME, MINHASH_COEFFS
from bioner_spark.ops.textstats import (
    STOPWORDS, WS_CHARS, with_fingerprint, with_lang_guess, with_quality_features,
    with_token_counts,
)

# derived from the engine constants (NOT re-typed literals): editing
# textstats.STOPWORDS must change the oracle in lockstep, same policy as
# MINHASH_COEFFS / hyperplanes
_STOP_EN = _sql_in(STOPWORDS["en"])
_STOP_DE = _sql_in(STOPWORDS["de"])
_STOP_FR = _sql_in(STOPWORDS["fr"])

# no trim() around the split: DuckDB trim strips Unicode whitespace that
# the engine's explicit split class deliberately keeps (a leading NBSP must
# stay glued to its word on BOTH engines: '\xa0of' is NOT a stopword hit).
# Edge empties from an untrimmed split can never match a stopword list.
_HITS = (
    "len(list_filter(string_split_regex(LOWER_SQL(text), '" + _WS_SQL + "+'), "
    "w -> list_contains([{words}], w)))"
)


def _norm_words_cte(src: str = "documents") -> str:
    """norm→words CTE pair: THE normalization+word-split law, stated once
    for the whole dedup oracle family (minhash, jaccard, near-dup,
    decontamination, corpus_filter) so the law cannot desync per-oracle."""
    return rf"""norm AS (
  SELECT doc_id, {_NORM_SQL} AS t
  FROM {src}
),
words AS (SELECT doc_id, string_split(t, ' ') AS ws FROM norm)"""


def _shingle_cte(n: int = 3, alias: str = "shingles") -> str:
    """Word n-gram shingle CTE over `words` — distinct n-grams, whole-doc
    fallback shingle for docs shorter than n (mirrors
    ops.dedup.shingles_from_words)."""
    return rf"""{alias} AS (
  SELECT doc_id, unnest(
    CASE WHEN len(ws) >= {n} THEN
      list_distinct(list_transform(range(0, len(ws) - {n - 1}),
        i -> array_to_string(list_slice(ws, (i + 1)::INT, (i + {n})::INT), ' ')))
    ELSE [array_to_string(ws, ' ')] END) AS shingle
  FROM words
)"""


def _minhash_cte() -> str:
    mh_cols = ", ".join(
        f"MIN((h * {a} + {b}) % {LSH_PRIME})::BIGINT AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    )
    return rf"""
{_norm_words_cte()},
{_shingle_cte()},
hashed AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h FROM shingles
),
sigs AS (SELECT doc_id, {mh_cols} FROM hashed GROUP BY doc_id)
"""


def _bands_cte() -> str:
    k = len(MINHASH_COEFFS)
    n_bands = k // 2
    selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, "
        f"mh{2 * b} || '_' || mh{2 * b + 1} AS band_key FROM sigs"
        for b in range(n_bands)
    )
    return f"bands AS ({selects})"


def _simhash_sql() -> str:
    bit_sums = ", ".join(
        f"SUM(CASE WHEN (h >> {k}) & 1 = 1 THEN 1 ELSE -1 END) AS b{k}"
        for k in range(32)
    )
    sig = " + ".join(f"(CASE WHEN b{k} > 0 THEN {2**k} ELSE 0 END)" for k in range(32))
    return rf"""
WITH norm AS (
  SELECT doc_id, {_NORM_SQL} AS t
  FROM documents
),
words AS (SELECT doc_id, unnest(string_split(t, ' ')) AS w FROM norm),
hashed AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 8))::BIGINT AS h FROM words),
agg AS (SELECT doc_id, {bit_sums} FROM hashed GROUP BY doc_id)
SELECT doc_id, ({sig})::BIGINT AS simhash FROM agg
"""


def corpus_split_semijoin(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id")
    # the split id-lists derive from the corpus's own ids (stand-in for
    # the reference's external id-list files) — NOT a fixed range(1e5),
    # which would silently drop every doc_id above the constant on a
    # larger corpus while the oracle assigns all docs
    ids = docs.distinct()
    train = ids.filter(F.col("doc_id") % 10 <= 6)
    val = ids.filter(F.col("doc_id") % 10 == 7)
    test = ids.filter(F.col("doc_id") % 10 >= 8)
    parts = []
    for name, id_list in (("train", train), ("val", val), ("test", test)):
        parts.append(
            docs.join(F.broadcast(id_list), "doc_id", "left_semi")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .select(F.lit(name).alias("split"), "n_docs")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


CORPUS_SPLIT_SEMIJOIN_SQL = """
SELECT s.split, COUNT(d.doc_id)::BIGINT AS n_docs
FROM (VALUES ('train'), ('val'), ('test')) s(split)
LEFT JOIN documents d ON s.split = CASE
  WHEN d.doc_id % 10 <= 6 THEN 'train'
  WHEN d.doc_id % 10 = 7 THEN 'val'
  ELSE 'test' END
GROUP BY s.split
"""


def dedup_exact(spark, sf_dir):
    return dedup.exact_duplicate_groups(_docs(spark, sf_dir))


# COALESCE sentinel: NULL text must fingerprint per-id, never group as
# one NULL key — same law as ops/dedup.exact_duplicate_groups and
# streaming/stateful.streaming_dedup.
DEDUP_EXACT_SQL = rf"""
SELECT COALESCE(md5({_NORM_SQL}),
                'null:' || CAST(doc_id AS VARCHAR)) AS fingerprint,
       COUNT(*)::BIGINT AS n_docs, MIN(doc_id) AS min_doc_id
FROM documents GROUP BY 1
"""


def minhash_signatures(spark, sf_dir):
    return dedup.minhash_signatures(_docs(spark, sf_dir))


MINHASH_SIGNATURES_SQL = f"""
WITH {_minhash_cte().strip()}
SELECT * FROM sigs
"""


def lsh_candidates(spark, sf_dir):
    return dedup.lsh_candidate_pairs(_docs(spark, sf_dir))


LSH_CANDIDATES_SQL = f"""
WITH {_minhash_cte().strip()},
{_bands_cte()}
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
"""


def jaccard_pairs(spark, sf_dir):
    return dedup.jaccard_pairs(_docs(spark, sf_dir), threshold=0.05)


JACCARD_PAIRS_SQL = rf"""
WITH {_norm_words_cte()},
{_shingle_cte()},
sizes AS (SELECT doc_id, COUNT(*)::BIGINT AS n_sh FROM shingles GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*)::BIGINT AS n_common
  FROM shingles a JOIN shingles b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.05
"""


def simhash(spark, sf_dir):
    return dedup.simhash(_docs(spark, sf_dir))


SIMHASH_SQL = _simhash_sql()


def near_dup_clusters(spark, sf_dir):
    # rows_per_band=1 for the oracle-checked contract query: the DuckDB
    # oracle computes ALL exact-Jaccard>=0.8 pairs, so the query runs
    # LSH at ~0.9997 pair recall to keep the probabilistic gap far
    # below the corpus size (recall contract: near_dup_clusters doc)
    return dedup.near_dup_clusters(_docs(spark, sf_dir), threshold=0.8, rows_per_band=1)


# near-dup clusters: the same pairwise-Jaccard SQL, then a recursive-CTE
# transitive closure (min-id per component) — independent of the engine's
# LSH + large-star/small-star path, so it also re-proves LSH recall on
# this corpus (a >=0.8 pair missed by the banded candidates would split
# a cluster and hash-mismatch; at jaccard >=0.9 — all pairs here — band
# recall is ~0.999 and the deterministic hashes do collide).
# corpus_filter's oracle reuses the same closure.
_NEAR_DUP_COMP_CTE = f"""WITH RECURSIVE {_norm_words_cte()},
{_shingle_cte()},
sizes AS (SELECT doc_id, COUNT(*)::BIGINT AS n_sh FROM shingles GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*)::BIGINT AS n_common
  FROM shingles a JOIN shingles b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b FROM common
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.8
),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b AS s, doc_a AS d FROM pairs
),
reach(node, reached) AS (
  SELECT s, s FROM edges
  UNION
  SELECT r.node, e.d FROM reach r JOIN edges e ON e.s = r.reached
),
comp AS (SELECT node, MIN(reached) AS cluster_id FROM reach GROUP BY node)"""

NEAR_DUP_CLUSTERS_SQL = rf"""
{_NEAR_DUP_COMP_CTE}
SELECT d.doc_id,
       COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
       (CASE WHEN COALESCE(c.cluster_id, d.doc_id) = d.doc_id
             THEN 1 ELSE 0 END)::INT AS is_representative
FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
"""


def decontamination(spark, sf_dir):
    # benchmark set = every 41st doc (stand-in for a held-out eval set);
    # flag the REST of the corpus for n-gram overlap against it
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 41 == 0)
    train = docs.filter(F.col("doc_id") % 41 != 0)
    return dedup.contamination_flags(train, bench, n=8)


# decontamination: 8-gram overlap vs the doc_id%41 benchmark split,
# recomputed with DuckDB list ops
DECONTAMINATION_SQL = rf"""
WITH {_norm_words_cte()},
{_shingle_cte(8, "sh")},
bench_sh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 41 = 0),
hits AS (
  SELECT DISTINCT doc_id FROM sh
  WHERE doc_id % 41 != 0 AND shingle IN (SELECT shingle FROM bench_sh)
)
SELECT d.doc_id,
       (CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END)::INT AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % 41 != 0) d
LEFT JOIN hits h USING (doc_id)
"""


def lang_guess(spark, sf_dir):
    return (
        with_lang_guess(_docs(spark, sf_dir))
        .groupBy("lang_guess")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


LANG_GUESS_SQL = f"""
WITH hits AS (
  SELECT doc_id,
    {_HITS.format(words=_STOP_EN)} AS h_en,
    {_HITS.format(words=_STOP_DE)} AS h_de,
    {_HITS.format(words=_STOP_FR)} AS h_fr
  FROM documents
),
guess AS (
  SELECT CASE
    -- IS NULL mirrors the engine's NULL-text guard (NULL hits would
    -- otherwise fall through every WHEN into the ELSE 'fr' branch)
    WHEN greatest(h_en, h_de, h_fr) IS NULL
      OR greatest(h_en, h_de, h_fr) <= 0 THEN 'und'
    WHEN h_en = greatest(h_en, h_de, h_fr) THEN 'en'
    WHEN h_de = greatest(h_en, h_de, h_fr) THEN 'de'
    ELSE 'fr' END AS lang_guess
  FROM hits
)
SELECT lang_guess, COUNT(*)::BIGINT AS n_docs FROM guess GROUP BY lang_guess
"""


def quality_features(spark, sf_dir):
    return with_quality_features(_docs(spark, sf_dir)).select(
        "doc_id", "n_words", "n_chars", "mean_word_len",
        "punct_ratio", "digit_ratio", "stopword_ratio", "quality_score",
    )


QUALITY_FEATURES_SQL = rf"""
WITH base AS (
  SELECT doc_id, text,
    len(list_filter(string_split_regex(LOWER_SQL(text), '{_WS_SQL}+'), w -> len(w) > 0))::INT AS n_words,
    length(text)::INT AS n_chars,
    {_HITS.format(words=_STOP_EN)} AS h_en
  FROM documents
),
feats AS (
  SELECT doc_id, n_words, n_chars,
    ROUND(length(regexp_replace(text, '{_WS_SQL}+', '', 'g')) / greatest(n_words, 1), 6) AS mean_word_len,
    ROUND(length(regexp_replace(text, '[^\p{{P}}]', '', 'g')) / greatest(n_chars, 1), 6) AS punct_ratio,
    ROUND(length(regexp_replace(text, '[^0-9]', '', 'g')) / greatest(n_chars, 1), 6) AS digit_ratio,
    ROUND(h_en / greatest(n_words, 1), 6) AS stopword_ratio,
    -- score recomputed in EXACT integer micros (floor //), mirroring the
    -- engine: no float ROUND anywhere, so no .5-boundary divergence
    (4 * (least(n_words, 100)::BIGINT * 10000)
     + 3 * least(5 * (1000000::BIGINT * h_en // greatest(n_words, 1)), 1000000)
     + 2 * (1000000 - least(4 * (1000000::BIGINT * length(regexp_replace(text, '[^\p{{P}}]', '', 'g')) // greatest(n_chars, 1)), 1000000))
     + (1000000 - least(4 * (1000000::BIGINT * length(regexp_replace(text, '[^0-9]', '', 'g')) // greatest(n_chars, 1)), 1000000))
    ) / 10000000.0 AS quality_score
  FROM base
)
SELECT doc_id, n_words, n_chars, mean_word_len, punct_ratio, digit_ratio, stopword_ratio,
  quality_score
FROM feats
"""


def token_counts(spark, sf_dir):
    return with_token_counts(_docs(spark, sf_dir)).select(
        "doc_id", "ws_tokens", "subword_est"
    )


TOKEN_COUNTS_SQL = rf"""
SELECT doc_id,
  len(list_filter(string_split_regex(text, '{_WS_SQL}+'), w -> len(w) > 0))::INT AS ws_tokens,
  len(regexp_extract_all(text, '[A-Za-z]{{1,4}}|[0-9]|[^A-Za-z0-9{WS_CHARS}]'))::INT AS subword_est
FROM documents
"""


def fingerprints(spark, sf_dir):
    return with_fingerprint(_docs(spark, sf_dir)).select(
        "doc_id", "fingerprint", "fingerprint16"
    )


FINGERPRINTS_SQL = rf"""
WITH fp AS (SELECT doc_id, md5({_NORM_SQL}) AS fingerprint FROM documents)
SELECT doc_id, fingerprint, substr(fingerprint, 1, 16) AS fingerprint16
FROM fp
"""


def corpus_filter(spark, sf_dir):
    # the C4-style cleaning chain, composed from the engine's own ops:
    # benchmark holdout -> language -> length -> exact-dup rep ->
    # near-dup rep -> decontamination; one row per doc with keep flag
    # and first-failing reject reason (fixed precedence).
    #
    # Single-scan: the corpus is read ONCE into a materialized base that
    # carries the split-normalized word array; the exact-dup
    # fingerprint, the 3-gram shingles (near-dup) and the 8-gram
    # shingles (decontamination) all derive from that cached array
    # instead of re-scanning + re-normalizing the corpus per stage
    # (was 3-4 full scans). Eagerly materialized for the same
    # AQE-concurrent-subquery reason as the KG token hub (pipeline.py),
    # by localCheckpoint like kg_degree: its blocks are freed once the
    # returned DataFrame is garbage-collected, so repeated calls hold no
    # session cache.
    docs = _docs(spark, sf_dir)
    base = docs.withColumn(
        "_words", F.split(dedup.normalized(F.col("text")), " ")
    ).localCheckpoint()
    d = with_token_counts(with_lang_guess(base))
    reps = dedup.exact_duplicate_groups(base, words_col="_words").select(
        F.col("min_doc_id").alias("doc_id"), F.lit(1).alias("is_exact_rep")
    )
    # rows_per_band=1: ~0.9997 pair recall at j=0.8 — the oracle computes
    # ALL exact-Jaccard pairs, so the contract query minimizes the
    # probabilistic banding gap (see near_dup_clusters docstring)
    nd = dedup.near_dup_clusters(
        base, threshold=0.8, rows_per_band=1, words_col="_words"
    ).select("doc_id", F.col("is_representative").alias("is_nd_rep"))
    bench = base.filter(F.col("doc_id") % 41 == 0)
    train = base.filter(F.col("doc_id") % 41 != 0)
    cont = dedup.contamination_flags(train, bench, n=8, words_col="_words")
    out = (
        d.join(reps, "doc_id", "left")
        .join(nd, "doc_id", "left")
        .join(cont, "doc_id", "left")
    )
    reason = (
        F.when(F.col("doc_id") % 41 == 0, F.lit("benchmark"))
        .when(F.col("lang_guess") != "en", F.lit("lang"))
        .when(
            (F.col("ws_tokens") < 50) | (F.col("ws_tokens") > 100000),
            F.lit("length"),
        )
        .when(F.col("is_exact_rep").isNull(), F.lit("exact_dup"))
        .when(F.col("is_nd_rep") == 0, F.lit("near_dup"))
        .when(F.col("contaminated") == 1, F.lit("contaminated"))
        .otherwise(F.lit(""))
    )
    return out.select(
        "doc_id",
        reason.alias("reject_reason"),
        (reason == "").cast("int").alias("keep"),
    )


# corpus_filter: the composed cleaning chain, every rule recomputed
# independently (lang argmax, whitespace tokens, md5 min-id exact rep,
# recursive-CTE near-dup closure at 0.8, 8-gram decontamination) with
# the same fixed reject precedence
CORPUS_FILTER_SQL = rf"""
{_NEAR_DUP_COMP_CTE},
{_shingle_cte(8, "sh8")},
bench_sh AS (SELECT DISTINCT shingle FROM sh8 WHERE doc_id % 41 = 0),
cont AS (
  SELECT DISTINCT doc_id FROM sh8
  WHERE doc_id % 41 != 0 AND shingle IN (SELECT shingle FROM bench_sh)
),
feats AS (
  SELECT doc_id,
    {_HITS.format(words=_STOP_EN)} AS h_en,
    {_HITS.format(words=_STOP_DE)} AS h_de,
    {_HITS.format(words=_STOP_FR)} AS h_fr,
    len(list_filter(string_split_regex(text, '{_WS_SQL}+'), w -> len(w) > 0))::INT AS ws_tokens,
    MIN(doc_id) OVER (
      PARTITION BY COALESCE(md5({_NORM_SQL}),
                            'null:' || CAST(doc_id AS VARCHAR))
    ) AS rep_id
  FROM documents
),
lang AS (
  SELECT doc_id, ws_tokens, rep_id,
    CASE WHEN greatest(h_en, h_de, h_fr) IS NULL
           OR greatest(h_en, h_de, h_fr) <= 0 THEN 'und'
         WHEN h_en = greatest(h_en, h_de, h_fr) THEN 'en'
         WHEN h_de = greatest(h_en, h_de, h_fr) THEN 'de'
         ELSE 'fr' END AS lang_guess
  FROM feats
),
verdict AS (
  SELECT l.doc_id,
    CASE
      WHEN l.doc_id % 41 = 0 THEN 'benchmark'
      WHEN l.lang_guess != 'en' THEN 'lang'
      WHEN l.ws_tokens < 50 OR l.ws_tokens > 100000 THEN 'length'
      WHEN l.rep_id != l.doc_id THEN 'exact_dup'
      WHEN COALESCE(c.cluster_id, l.doc_id) != l.doc_id THEN 'near_dup'
      WHEN ct.doc_id IS NOT NULL THEN 'contaminated'
      ELSE '' END AS reject_reason
  FROM lang l
  LEFT JOIN comp c ON c.node = l.doc_id
  LEFT JOIN cont ct ON ct.doc_id = l.doc_id
)
SELECT doc_id, reject_reason,
       (CASE WHEN reject_reason = '' THEN 1 ELSE 0 END)::INT AS keep
FROM verdict
"""


_CONTRACT = (
    (corpus_split_semijoin, CORPUS_SPLIT_SEMIJOIN_SQL),
    (dedup_exact, DEDUP_EXACT_SQL),
    (minhash_signatures, MINHASH_SIGNATURES_SQL),
    (lsh_candidates, LSH_CANDIDATES_SQL),
    (jaccard_pairs, JACCARD_PAIRS_SQL),
    (simhash, SIMHASH_SQL),
    (near_dup_clusters, NEAR_DUP_CLUSTERS_SQL),
    (decontamination, DECONTAMINATION_SQL),
    (lang_guess, LANG_GUESS_SQL),
    (quality_features, QUALITY_FEATURES_SQL),
    (token_counts, TOKEN_COUNTS_SQL),
    (fingerprints, FINGERPRINTS_SQL),
    (corpus_filter, CORPUS_FILTER_SQL),
)
QUERIES = {q.__name__: q for q, _ in _CONTRACT}
ORACLES = {q.__name__: sql for q, sql in _CONTRACT}
