"""Entity-level (span-exact) precision / recall / F1 and error analytics.

DataFrame reformulation of the reference's streaming metric accumulators
(reference bioner/model/metrics/entity_level_precision_recall.py:12-103):
TP = |pred ∩ gold| on exact (doc, sentence, start, end) equality — an inner
join; precision = TP / |pred|; recall = TP / |gold|;
F1 = 2PR / (P + R + 1e-20) (reference bioner/model/annotator.py:108-110).

Error-set partition (FP/FN/TP) and per-length error histograms mirror the
reference error-analysis module (reference bioner/misc/error_analysis/
analysis.py:140-203).

All of it is joins + partial/final hash aggregation — Catalyst-native,
scales linearly; span tables are tiny relative to the token table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bioner_spark.session import local_frame

SPAN_KEY = ["doc_id", "sentence_id", "start_tok", "end_tok"]


def exact_match_prf1(pred: DataFrame, gold: DataFrame, key: list[str]) -> DataFrame:
    """Shared exact-match PRF1 core → 1-row frame
    (true_positives, predicted, gold, precision, recall, f1).

    One full-outer join + one aggregate = ONE Spark action: tp is the rows
    present on both sides, predicted/gold the non-null counts per side.
    (Three separate counts would execute pred's and gold's upstream plans
    — possibly a whole tokenize→tag lineage — twice each.) The single
    authority for the tp condition and the 1e-20-epsilon F1 formula
    (reference bioner/model/annotator.py:108-110) — entity_level_prf1 and
    triples.triple_prf1 differ only in `key`."""
    p = pred.select(*key).distinct().withColumn("_p", F.lit(1))
    g = gold.select(*key).distinct().withColumn("_g", F.lit(1))
    row = (
        p.join(g, key, "full_outer")
        .agg(
            F.count(F.when(F.col("_p").isNotNull() & F.col("_g").isNotNull(), 1)).alias("tp"),
            F.count("_p").alias("n_pred"),
            F.count("_g").alias("n_gold"),
        )
        .collect()[0]
    )
    tp, n_pred, n_gold = int(row["tp"]), int(row["n_pred"]), int(row["n_gold"])
    precision = tp / n_pred if n_pred else 0.0
    recall = tp / n_gold if n_gold else 0.0
    f1 = 2 * precision * recall / (precision + recall + 1e-20)
    return local_frame(
        pred.sparkSession,
        [(tp, n_pred, n_gold, float(precision), float(recall), float(f1))],
        "true_positives long, predicted long, gold long, precision double, recall double, f1 double",
    )


def entity_level_prf1(pred: DataFrame, gold: DataFrame) -> DataFrame:
    """Span-exact entity PRF1 on (doc, sentence, start, end) equality."""
    return exact_match_prf1(pred, gold, SPAN_KEY)


def error_sets(pred: DataFrame, gold: DataFrame) -> dict[str, DataFrame]:
    """FP / FN / TP span sets (reference analysis.py:140-149):
    FP = pred minus gold, FN = gold minus pred, TP = intersection."""
    p = pred.select(*SPAN_KEY).distinct()
    g = gold.select(*SPAN_KEY).distinct()
    return {
        "false_positives": p.join(g, SPAN_KEY, "left_anti"),
        "false_negatives": g.join(p, SPAN_KEY, "left_anti"),
        "true_positives": p.join(g, SPAN_KEY, "left_semi"),
    }


def error_stats_by_length(pred: DataFrame, gold: DataFrame) -> DataFrame:
    """Per span-length error counts (reference analysis.py:188-203):
    length = end - start + 1 (reference entity_level_precision_recall.py:119-120);
    a gold span is an error if absent from pred."""
    g = gold.select(*SPAN_KEY).distinct().withColumn(
        "length", F.col("end_tok") - F.col("start_tok") + 1
    )
    p = pred.select(*SPAN_KEY).distinct()
    errors = g.join(p, SPAN_KEY, "left_anti").groupBy("length").agg(
        F.count(F.lit(1)).alias("n_errors")
    )
    totals = g.groupBy("length").agg(F.count(F.lit(1)).alias("n_total"))
    return (
        totals.join(errors, "length", "left")
        .fillna(0, subset=["n_errors"])
        .withColumn("error_ratio", F.col("n_errors") / F.col("n_total"))
        .orderBy("length")
    )


def ensemble_intersection(pred_a: DataFrame, pred_b: DataFrame) -> DataFrame:
    """Spans predicted by BOTH models (reference analysis.py:106-114):
    pred_a's rows, with any extra columns such as mention_text, whose span
    pred_b also predicts."""
    return pred_a.join(pred_b.select(*SPAN_KEY), SPAN_KEY, "left_semi")


def sample_error_sentences(
    pred: DataFrame, gold: DataFrame, n: int = 100, seed: int = 1632737901
) -> DataFrame:
    """Seeded random sample of sentences containing at least one span error
    (reference analysis.py:206-215 `select_errors`; sampling simplified from
    with-replacement-until-n-distinct to a seeded orderBy-rand limit — same
    contract: n distinct erroneous sentences, reproducible under a seed).
    Default seed = the reference's sampling seed (analysis.py:206).

    Divergence, quantified (tests/test_sampling_differential.py): both
    procedures draw a uniformly random n-subset of the error sentences —
    the reference's with-replacement stream only thins draws with non-error
    sentences, which does not change the law of the first n distinct error
    hits — so they differ only in which subset a FIXED seed maps to
    (different PRNGs), never in distribution; and when n >= |errors| both
    return the identical full error set.

    Deterministic by seeded HASH rank, not F.rand: rand(seed) is seeded
    per (seed + partitionIndex) and assigned in intra-partition row order,
    which is NOT stable coming out of the distinct() shuffle — two runs
    (or a task retry) could draw different samples despite the seed. The
    hash of (seed, sentence key) depends on nothing but the data."""
    p = pred.select(*SPAN_KEY).distinct()
    g = gold.select(*SPAN_KEY).distinct()
    errors = (
        p.join(g, SPAN_KEY, "left_anti")
        .select("doc_id", "sentence_id")
        .union(g.join(p, SPAN_KEY, "left_anti").select("doc_id", "sentence_id"))
        .distinct()
    )
    return errors.orderBy(
        F.xxhash64(F.lit(seed), F.col("doc_id"), F.col("sentence_id")),
        "doc_id",
        "sentence_id",
    ).limit(n)


def error_analysis_csv_rows(
    tokens_gold: DataFrame, model_tags: dict[str, DataFrame]
) -> DataFrame:
    """Per-sentence CSV export rows (reference analysis.py:57-84
    `ManualErrorAnalysis.export_to_csv`): for each sentence one text row,
    one gold-tag row, then one tag row per model, each comma-joined in
    token order. Output: (doc_id, sentence_id, row_kind, line) ordered by
    (doc_id, sentence_id, row_order)."""
    def rows_for(df: DataFrame, kind: str, order: int, col: str) -> DataFrame:
        return (
            df.groupBy("doc_id", "sentence_id")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("token_id", F.col(col)))),
                        lambda s: s[col],
                    ),
                    ",",
                    # null replacement: array_join otherwise FILTERS null
                    # elements, leaving that row one comma-field short and
                    # shifting every later column against the text row
                    "",
                ).alias("line")
            )
            .select(
                "doc_id", "sentence_id",
                F.lit(kind).alias("row_kind"), F.lit(order).alias("row_order"),
                "line",
            )
        )

    out = rows_for(tokens_gold, "text", 0, "text").unionByName(
        rows_for(tokens_gold, "gold", 1, "tag")
    )
    for i, (name, df) in enumerate(sorted(model_tags.items())):
        out = out.unionByName(rows_for(df, name, 2 + i, "tag"))
    return out.orderBy("doc_id", "sentence_id", "row_order").drop("row_order")


def human_format(col):
    """1234 → '1.23K' (reference analysis.py:173-180) — cosmetic helper for
    report tables; native expression, no UDF."""
    # clamp at 'T': beyond 1e15 element_at would index past the suffix
    # array — NULL suffix (value silently rendered scaled-by-1e15 with no
    # unit) under non-ANSI, INVALID_ARRAY_INDEX under ANSI mode
    magnitude = F.least(
        F.floor(F.log10(F.greatest(F.abs(col), F.lit(1))) / 3), F.lit(4)
    )
    scaled = col / F.pow(F.lit(1000.0), magnitude)
    suffix = F.element_at(
        F.array(F.lit(""), F.lit("K"), F.lit("M"), F.lit("B"), F.lit("T")),
        (magnitude + 1).cast("int"),
    )
    return F.concat(F.format_number(scaled, 2), F.coalesce(suffix, F.lit("")))
