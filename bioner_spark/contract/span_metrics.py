"""Contract family: span decode and entity / token metrics (SURVEY §2.6
A2-A14, §2.2 P9, §2.1 S6/S15) — each query beside its DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import functions as F

from bioner_spark import metrics
from bioner_spark.analysis_chart import error_length_chart_data
from bioner_spark.contract.fixtures import (
    GOLD_B, GOLD_I, PRED2_B, PRED2_I, PRED_B, PRED_I, _spans, _tag_expr, _tagged_tokens,
    _tokens,
)
from bioner_spark.contract.sql import _TOKS_CTE, _spans_cte, _tag_case

_PRF_CTE = f"""
WITH {_TOKS_CTE},
{_spans_cte(GOLD_B, GOLD_I, pref='g').strip()},
{_spans_cte(PRED_B, PRED_I, pref='p').strip()}
"""


def span_decode(spark, sf_dir):
    return _spans(spark, sf_dir, GOLD_B, GOLD_I)


SPAN_DECODE_SQL = f"""
WITH {_TOKS_CTE},
{_spans_cte(GOLD_B, GOLD_I).strip()}
SELECT doc_id, sentence_id, start_tok, end_tok, mention_text FROM spans
"""


def entity_prf1(spark, sf_dir):
    prf = metrics.entity_level_prf1(
        _spans(spark, sf_dir, PRED_B, PRED_I), _spans(spark, sf_dir, GOLD_B, GOLD_I)
    )
    # F.round, NOT Python round(): Python rounds half-to-even, while
    # Spark F.round and DuckDB ROUND round half away from zero — on a
    # dyadic ratio like 1/128 = 0.0078125 the two differ by 1e-6
    return prf.select(
        "true_positives",
        "predicted",
        "gold",
        *(F.round(c, 6).alias(c) for c in ("precision", "recall", "f1")),
    )


ENTITY_PRF1_SQL = f"""{_PRF_CTE},
counts AS (
  SELECT
    (SELECT COUNT(*) FROM p_spans p JOIN g_spans g
       ON p.doc_id = g.doc_id AND p.sentence_id = g.sentence_id
      AND p.start_tok = g.start_tok AND p.end_tok = g.end_tok) AS tp,
    (SELECT COUNT(*) FROM p_spans) AS n_p,
    (SELECT COUNT(*) FROM g_spans) AS n_g
)
SELECT tp::BIGINT AS true_positives, n_p::BIGINT AS predicted, n_g::BIGINT AS gold,
  -- COALESCE mirrors the engine's zero-denominator guard (tp/n_p if n_p
  -- else 0.0): DuckDB x/0 is NULL, the engine says 0.0
  COALESCE(ROUND(tp / NULLIF(n_p, 0), 6), 0.0) AS precision,
  COALESCE(ROUND(tp / NULLIF(n_g, 0), 6), 0.0) AS recall,
  ROUND(2.0 * COALESCE(tp / NULLIF(n_p, 0), 0.0) * COALESCE(tp / NULLIF(n_g, 0), 0.0)
        / (COALESCE(tp / NULLIF(n_p, 0), 0.0) + COALESCE(tp / NULLIF(n_g, 0), 0.0) + 1e-20), 6) AS f1
FROM counts
"""


def error_stats_by_length(spark, sf_dir):
    return metrics.error_stats_by_length(
        _spans(spark, sf_dir, PRED_B, PRED_I), _spans(spark, sf_dir, GOLD_B, GOLD_I)
    ).select(
        F.col("length").cast("int").alias("len"),
        "n_errors",
        "n_total",
        F.round("error_ratio", 6).alias("error_ratio"),
    )


ERROR_STATS_BY_LENGTH_SQL = f"""{_PRF_CTE},
g AS (SELECT *, (end_tok - start_tok + 1) AS len FROM g_spans),
errors AS (
  SELECT g.len, COUNT(*)::BIGINT AS n_errors FROM g
  WHERE NOT EXISTS (
    SELECT 1 FROM p_spans p
    WHERE p.doc_id = g.doc_id AND p.sentence_id = g.sentence_id
      AND p.start_tok = g.start_tok AND p.end_tok = g.end_tok)
  GROUP BY g.len
),
totals AS (SELECT len, COUNT(*)::BIGINT AS n_total FROM g GROUP BY len)
SELECT t.len::INT AS len, COALESCE(e.n_errors, 0)::BIGINT AS n_errors, t.n_total,
       ROUND(COALESCE(e.n_errors, 0) / t.n_total, 6) AS error_ratio
FROM totals t LEFT JOIN errors e ON t.len = e.len
"""


def error_chart_data(spark, sf_dir):
    """Multi-model per-length error ratios — the data behind the
    reference's error-analysis bar chart (analysis.py:396-418;
    rendered driver-side by analysis_chart.render_error_length_chart)."""
    gold = _spans(spark, sf_dir, GOLD_B, GOLD_I)
    models = {
        "BioNER": _spans(spark, sf_dir, PRED_B, PRED_I),
        "DATEXIS-NER": _spans(spark, sf_dir, PRED2_B, PRED2_I),
    }
    return error_length_chart_data(gold, models)


ERROR_CHART_DATA_SQL = f"""
WITH {_TOKS_CTE},
{_spans_cte(GOLD_B, GOLD_I, pref='g')},
{_spans_cte(PRED_B, PRED_I, pref='p')},
{_spans_cte(PRED2_B, PRED2_I, pref='q')},
-- DISTINCT mirrors the engine's set semantics (analysis_chart dedups span
-- keys; decode emits unique spans today, so this is parity armor only)
g AS (SELECT DISTINCT doc_id, sentence_id, start_tok, end_tok,
             (end_tok - start_tok + 1) AS len FROM g_spans),
totals AS (SELECT len, COUNT(*)::BIGINT AS n_total FROM g GROUP BY len),
e1 AS (
  SELECT g.len, COUNT(*)::BIGINT AS n_errors FROM g
  WHERE NOT EXISTS (
    SELECT 1 FROM p_spans p
    WHERE p.doc_id = g.doc_id AND p.sentence_id = g.sentence_id
      AND p.start_tok = g.start_tok AND p.end_tok = g.end_tok)
  GROUP BY g.len
),
e2 AS (
  SELECT g.len, COUNT(*)::BIGINT AS n_errors FROM g
  WHERE NOT EXISTS (
    SELECT 1 FROM q_spans q
    WHERE q.doc_id = g.doc_id AND q.sentence_id = g.sentence_id
      AND q.start_tok = g.start_tok AND q.end_tok = g.end_tok)
  GROUP BY g.len
)
SELECT 'BioNER' AS model, t.len::INT AS len,
       COALESCE(e1.n_errors, 0)::BIGINT AS n_errors, t.n_total,
       ROUND(COALESCE(e1.n_errors, 0) / t.n_total, 6) AS error_ratio
FROM totals t LEFT JOIN e1 ON t.len = e1.len
UNION ALL
SELECT 'DATEXIS-NER' AS model, t.len::INT AS len,
       COALESCE(e2.n_errors, 0)::BIGINT AS n_errors, t.n_total,
       ROUND(COALESCE(e2.n_errors, 0) / t.n_total, 6) AS error_ratio
FROM totals t LEFT JOIN e2 ON t.len = e2.len
"""


def token_prf1(spark, sf_dir):
    """Token-level per-class P/R/F1 (SURVEY §2.6 A14 — reference
    scibert_eval.py:80-90, confusion-count reformulation)."""
    base = _tokens(spark, sf_dir).select(
        _tag_expr(GOLD_B, GOLD_I).alias("gold"),
        _tag_expr(PRED_B, PRED_I).alias("pred"),
    )
    n_gold = base.groupBy(F.col("gold").alias("tag")).agg(
        F.count(F.lit(1)).alias("n_gold")
    )
    n_pred = base.groupBy(F.col("pred").alias("tag")).agg(
        F.count(F.lit(1)).alias("n_pred")
    )
    n_corr = (
        base.filter(F.col("gold") == F.col("pred"))
        .groupBy(F.col("gold").alias("tag"))
        .agg(F.count(F.lit(1)).alias("n_correct"))
    )
    out = (
        n_gold.join(n_pred, "tag", "full")
        .join(n_corr, "tag", "left")
        .select(
            "tag",
            F.coalesce("n_gold", F.lit(0)).alias("n_gold"),
            F.coalesce("n_pred", F.lit(0)).alias("n_pred"),
            F.coalesce("n_correct", F.lit(0)).alias("n_correct"),
        )
    )
    p = F.col("n_correct") / F.greatest(F.col("n_pred"), F.lit(1))
    r = F.col("n_correct") / F.greatest(F.col("n_gold"), F.lit(1))
    return out.select(
        "tag", "n_gold", "n_pred", "n_correct",
        F.round(p, 6).alias("precision"),
        F.round(r, 6).alias("recall"),
        F.round(2 * p * r / (p + r + F.lit(1e-20)), 6).alias("f1"),
    )


TOKEN_PRF1_SQL = f"""
WITH {_TOKS_CTE},
base AS (
  SELECT {_tag_case(GOLD_B, GOLD_I)} AS gold,
         {_tag_case(PRED_B, PRED_I)} AS pred
  FROM toks WHERE length(text) > 0
),
g AS (SELECT gold AS tag, COUNT(*)::BIGINT AS n_gold FROM base GROUP BY 1),
p AS (SELECT pred AS tag, COUNT(*)::BIGINT AS n_pred FROM base GROUP BY 1),
c AS (SELECT gold AS tag, COUNT(*)::BIGINT AS n_correct FROM base WHERE gold = pred GROUP BY 1),
m AS (
  SELECT tag,
    COALESCE(n_gold, 0)::BIGINT AS n_gold,
    COALESCE(n_pred, 0)::BIGINT AS n_pred,
    COALESCE(n_correct, 0)::BIGINT AS n_correct
  FROM g FULL JOIN p USING (tag) LEFT JOIN c USING (tag)
)
SELECT tag, n_gold, n_pred, n_correct,
  ROUND(n_correct / greatest(n_pred, 1), 6) AS precision,
  ROUND(n_correct / greatest(n_gold, 1), 6) AS recall,
  ROUND(2.0 * (n_correct / greatest(n_pred, 1)) * (n_correct / greatest(n_gold, 1))
        / ((n_correct / greatest(n_pred, 1)) + (n_correct / greatest(n_gold, 1)) + 1e-20),
        6) AS f1
FROM m
"""


def sentence_perfect(spark, sf_dir):
    """Sentence-perfect classification (SURVEY §2.6 A13 — reference
    analysis.py:26-37): perfect iff TP == |gold| == |pred|. Sentences
    with no span on either side are trivially perfect and excluded."""
    key = ["doc_id", "sentence_id", "start_tok", "end_tok"]
    gold = _spans(spark, sf_dir, GOLD_B, GOLD_I).select(*key)
    pred = _spans(spark, sf_dir, PRED_B, PRED_I).select(*key)
    gs = gold.groupBy("doc_id", "sentence_id").agg(F.count(F.lit(1)).alias("n_gold"))
    ps = pred.groupBy("doc_id", "sentence_id").agg(F.count(F.lit(1)).alias("n_pred"))
    tp = (
        gold.join(pred, key, "inner")
        .groupBy("doc_id", "sentence_id")
        .agg(F.count(F.lit(1)).alias("n_tp"))
    )
    return (
        gs.join(ps, ["doc_id", "sentence_id"], "full")
        .join(tp, ["doc_id", "sentence_id"], "left")
        .select(
            "doc_id",
            "sentence_id",
            F.coalesce("n_gold", F.lit(0)).alias("n_gold"),
            F.coalesce("n_pred", F.lit(0)).alias("n_pred"),
            F.coalesce("n_tp", F.lit(0)).alias("n_tp"),
        )
        .withColumn(
            "is_perfect",
            (
                (F.col("n_tp") == F.col("n_gold"))
                & (F.col("n_gold") == F.col("n_pred"))
            ).cast("int"),
        )
    )


SENTENCE_PERFECT_SQL = f"""{_PRF_CTE},
gs AS (SELECT doc_id, sentence_id, COUNT(*)::BIGINT AS n_gold
       FROM g_spans GROUP BY 1, 2),
ps AS (SELECT doc_id, sentence_id, COUNT(*)::BIGINT AS n_pred
       FROM p_spans GROUP BY 1, 2),
tp AS (
  SELECT g.doc_id, g.sentence_id, COUNT(*)::BIGINT AS n_tp
  FROM g_spans g JOIN p_spans p
    ON p.doc_id = g.doc_id AND p.sentence_id = g.sentence_id
   AND p.start_tok = g.start_tok AND p.end_tok = g.end_tok
  GROUP BY 1, 2
)
SELECT doc_id, sentence_id,
  COALESCE(n_gold, 0)::BIGINT AS n_gold,
  COALESCE(n_pred, 0)::BIGINT AS n_pred,
  COALESCE(n_tp, 0)::BIGINT AS n_tp,
  (COALESCE(n_tp, 0) = COALESCE(n_gold, 0)
   AND COALESCE(n_gold, 0) = COALESCE(n_pred, 0))::INT AS is_perfect
FROM gs FULL JOIN ps USING (doc_id, sentence_id)
LEFT JOIN tp USING (doc_id, sentence_id)
"""


def ensemble_spans(spark, sf_dir):
    """Ensemble intersection — spans predicted by BOTH models
    (SURVEY §2.6 A10 — reference analysis.py:106-114)."""
    return metrics.ensemble_intersection(
        _spans(spark, sf_dir, PRED_B, PRED_I).select(*metrics.SPAN_KEY, "mention_text"),
        _spans(spark, sf_dir, PRED2_B, PRED2_I),
    )


ENSEMBLE_SPANS_SQL = f"""
WITH {_TOKS_CTE},
{_spans_cte(PRED_B, PRED_I, pref='p')},
{_spans_cte(PRED2_B, PRED2_I, pref='q')}
SELECT p.doc_id, p.sentence_id, p.start_tok, p.end_tok, p.mention_text
FROM p_spans p JOIN q_spans q
  ON q.doc_id = p.doc_id AND q.sentence_id = p.sentence_id
 AND q.start_tok = p.start_tok AND q.end_tok = p.end_tok
"""


def overlap_stats(spark, sf_dir):
    """Pairwise FP/FN/TP overlap between two models' error analyses
    (SURVEY §2.6 A8+A11 — reference analysis.py:140-170)."""
    # persist the three span sets: the 9 counts below each launch a job,
    # and unpersisted they'd re-run the tokenize+decode lineage ~18×
    gold = _spans(spark, sf_dir, GOLD_B, GOLD_I).select(*metrics.SPAN_KEY).persist()
    p1 = _spans(spark, sf_dir, PRED_B, PRED_I).select(*metrics.SPAN_KEY).persist()
    p2 = _spans(spark, sf_dir, PRED2_B, PRED2_I).select(*metrics.SPAN_KEY).persist()
    kinds = ("true_positives", "false_positives", "false_negatives")
    try:
        s1, s2 = metrics.error_sets(p1, gold), metrics.error_sets(p2, gold)
        counts = tuple(
            s1[k].join(s2[k], metrics.SPAN_KEY, "inner").count() for k in kinds
        ) + tuple(s[k].count() for s in (s1, s2) for k in kinds)
    finally:
        # release even on a failed count — retries must not accumulate
        # dead caches
        for df in (gold, p1, p2):
            df.unpersist()
    return spark.createDataFrame(
        [counts],
        "tp_overlap bigint, fp_overlap bigint, fn_overlap bigint, "
        "tp_1 bigint, fp_1 bigint, fn_1 bigint, "
        "tp_2 bigint, fp_2 bigint, fn_2 bigint",
    )


OVERLAP_STATS_SQL = f"""
WITH {_TOKS_CTE},
{_spans_cte(GOLD_B, GOLD_I, pref='g')},
{_spans_cte(PRED_B, PRED_I, pref='p')},
{_spans_cte(PRED2_B, PRED2_I, pref='q')},
tp1 AS (SELECT p.* FROM p_spans p JOIN g_spans g USING (doc_id, sentence_id, start_tok, end_tok)),
fp1 AS (SELECT p.* FROM p_spans p ANTI JOIN g_spans g USING (doc_id, sentence_id, start_tok, end_tok)),
fn1 AS (SELECT g.* FROM g_spans g ANTI JOIN p_spans p USING (doc_id, sentence_id, start_tok, end_tok)),
tp2 AS (SELECT q.* FROM q_spans q JOIN g_spans g USING (doc_id, sentence_id, start_tok, end_tok)),
fp2 AS (SELECT q.* FROM q_spans q ANTI JOIN g_spans g USING (doc_id, sentence_id, start_tok, end_tok)),
fn2 AS (SELECT g.* FROM g_spans g ANTI JOIN q_spans q USING (doc_id, sentence_id, start_tok, end_tok))
SELECT
  (SELECT COUNT(*) FROM tp1 JOIN tp2 USING (doc_id, sentence_id, start_tok, end_tok))::BIGINT AS tp_overlap,
  (SELECT COUNT(*) FROM fp1 JOIN fp2 USING (doc_id, sentence_id, start_tok, end_tok))::BIGINT AS fp_overlap,
  (SELECT COUNT(*) FROM fn1 JOIN fn2 USING (doc_id, sentence_id, start_tok, end_tok))::BIGINT AS fn_overlap,
  (SELECT COUNT(*) FROM tp1)::BIGINT AS tp_1,
  (SELECT COUNT(*) FROM fp1)::BIGINT AS fp_1,
  (SELECT COUNT(*) FROM fn1)::BIGINT AS fn_1,
  (SELECT COUNT(*) FROM tp2)::BIGINT AS tp_2,
  (SELECT COUNT(*) FROM fp2)::BIGINT AS fp_2,
  (SELECT COUNT(*) FROM fn2)::BIGINT AS fn_2
"""


def bioul_to_bio2(spark, sf_dir):
    """BIOUL-tagged tokens (derived from gold spans) mapped back to BIO2
    (SURVEY §2.2 P9 — reference scibert_eval.py:121-134: L→I, U→B,
    else first char)."""
    toks = _tokens(spark, sf_dir)
    spans = _spans(spark, sf_dir, GOLD_B, GOLD_I)
    joined = toks.join(
        spans.select("doc_id", "sentence_id", "start_tok", "end_tok"),
        (toks["doc_id"] == spans["doc_id"])
        & (toks["sentence_id"] == spans["sentence_id"])
        & (toks["token_id"] >= spans["start_tok"])
        & (toks["token_id"] <= spans["end_tok"]),
        "left",
    ).select(
        toks["doc_id"], toks["sentence_id"], toks["token_id"],
        "start_tok", "end_tok",
    )
    bioul = (
        F.when(F.col("start_tok").isNull(), "O")
        .when(F.col("start_tok") == F.col("end_tok"), "U")
        .when(F.col("token_id") == F.col("start_tok"), "B")
        .when(F.col("token_id") == F.col("end_tok"), "L")
        .otherwise("I")
    )
    out = joined.withColumn("bioul", bioul)
    bio2 = (
        F.when(F.col("bioul") == "L", "I")
        .when(F.col("bioul") == "U", "B")
        .otherwise(F.substring(F.col("bioul"), 1, 1))
    )
    return out.select(
        "doc_id", "sentence_id", "token_id", "bioul", bio2.alias("bio2")
    )


BIOUL_TO_BIO2_SQL = f"""
WITH {_TOKS_CTE},
{_spans_cte(GOLD_B, GOLD_I).strip()},
t AS (SELECT * FROM toks WHERE length(text) > 0),
labeled AS (
  SELECT t.doc_id, t.sentence_id, t.token_id,
    CASE WHEN s.start_tok IS NULL THEN 'O'
         WHEN s.start_tok = s.end_tok THEN 'U'
         WHEN t.token_id = s.start_tok THEN 'B'
         WHEN t.token_id = s.end_tok THEN 'L'
         ELSE 'I' END AS bioul
  FROM t LEFT JOIN spans s
    ON s.doc_id = t.doc_id AND s.sentence_id = t.sentence_id
   AND t.token_id BETWEEN s.start_tok AND s.end_tok
)
SELECT doc_id, sentence_id, token_id, bioul,
  CASE WHEN bioul = 'L' THEN 'I'
       WHEN bioul = 'U' THEN 'B'
       ELSE substr(bioul, 1, 1) END AS bio2
FROM labeled
"""


def eval_format(spark, sf_dir):
    """3-col `token gold pred` eval-export lines (SURVEY §2.1 S6 —
    reference dataset_to_conll_file.py:6-16)."""
    toks = _tokens(spark, sf_dir)
    return toks.select(
        "doc_id",
        "sentence_id",
        "token_id",
        F.concat_ws(
            " ",
            F.col("text"),
            _tag_expr(GOLD_B, GOLD_I),
            _tag_expr(PRED_B, PRED_I),
        ).alias("line"),
    )


EVAL_FORMAT_SQL = f"""
WITH {_TOKS_CTE}
SELECT doc_id, sentence_id, token_id,
  text || ' ' || {_tag_case(GOLD_B, GOLD_I)} || ' ' || {_tag_case(PRED_B, PRED_I)} AS line
FROM toks WHERE length(text) > 0
"""


def error_csv_rows(spark, sf_dir):
    """Per-sentence CSV error-export rows (SURVEY §2.1 S15 — reference
    analysis.py:57-84): text row, gold row, one row per model."""
    gold = _tagged_tokens(spark, sf_dir, GOLD_B, GOLD_I)
    pred = _tagged_tokens(spark, sf_dir, PRED_B, PRED_I)
    return metrics.error_analysis_csv_rows(gold, {"model1": pred})


ERROR_CSV_ROWS_SQL = f"""
WITH {_TOKS_CTE},
t AS (
  SELECT doc_id, sentence_id, token_id, text,
         {_tag_case(GOLD_B, GOLD_I)} AS gold,
         {_tag_case(PRED_B, PRED_I)} AS pred
  FROM toks WHERE length(text) > 0
)
SELECT doc_id, sentence_id, 'text' AS row_kind,
       -- COALESCE matches the engine's array_join null-replacement '' —
       -- string_agg would otherwise skip NULLs and misalign columns
       string_agg(COALESCE(text, ''), ',' ORDER BY token_id) AS line
FROM t GROUP BY doc_id, sentence_id
UNION ALL
SELECT doc_id, sentence_id, 'gold' AS row_kind,
       string_agg(COALESCE(gold, ''), ',' ORDER BY token_id) AS line
FROM t GROUP BY doc_id, sentence_id
UNION ALL
SELECT doc_id, sentence_id, 'model1' AS row_kind,
       string_agg(COALESCE(pred, ''), ',' ORDER BY token_id) AS line
FROM t GROUP BY doc_id, sentence_id
"""


_CONTRACT = (
    (span_decode, SPAN_DECODE_SQL),
    (entity_prf1, ENTITY_PRF1_SQL),
    (error_stats_by_length, ERROR_STATS_BY_LENGTH_SQL),
    (error_chart_data, ERROR_CHART_DATA_SQL),
    (token_prf1, TOKEN_PRF1_SQL),
    (sentence_perfect, SENTENCE_PERFECT_SQL),
    (ensemble_spans, ENSEMBLE_SPANS_SQL),
    (overlap_stats, OVERLAP_STATS_SQL),
    (bioul_to_bio2, BIOUL_TO_BIO2_SQL),
    (eval_format, EVAL_FORMAT_SQL),
    (error_csv_rows, ERROR_CSV_ROWS_SQL),
)
QUERIES = {q.__name__: q for q, _ in _CONTRACT}
ORACLES = {q.__name__: sql for q, sql in _CONTRACT}
