"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship KG-construction query (dictionary-tagged
triple extraction) over /root/testdata/sf0.001/documents.parquet.

`queries()` exposes one callable per implemented operator family from
SURVEY.md §2 (+ the training-data ops), each mirrored by an ANSI-SQL
oracle in `oracle_sql()` where the semantics are SQL-expressible.
Non-SQL ops (HTML-extractor UDF, numpy NER kernel, multimodal stub,
checkpointed pipeline) are registered without an oracle → rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Shared literals: a tiny UMLS/MeSH-style alias dictionary over the testdata
# `documents` vocabulary, a predicate lexicon, and deterministic BIO tag
# rules used by the span-decode / metrics queries. These are the SAME values
# on the Spark side and inside the oracle SQL (inlined as VALUES/CASE).
# ---------------------------------------------------------------------------

DICT: list[tuple[str, str]] = [
    ("spark", "K01"),
    ("table", "K02"),
    ("agg", "K02"),
    ("agg", "K07"),  # ambiguous alias → bridges K02/K07 (exercises CC)
    ("window", "K03"),
    ("hash join", "K04"),
    ("merge", "K05"),
    ("sort merge", "K05"),
    ("stream", "K06"),
    ("column", "K08"),
]

PREDICATES = ["scan", "filter", "group"]

GOLD_B = ("spark", "window", "hash")
GOLD_I = ("table", "value")
PRED_B = ("spark", "window")
PRED_I = ("table", "value", "row")
# second "model" for ensemble / overlap-statistics queries (SURVEY §2.6 A10-A11)
PRED2_B = ("spark", "hash", "merge")
PRED2_I = ("table", "row")
# deterministic IVF / LSH similarity params (shared with the oracle SQL)
IVF_CENTROID_IDS = list(range(16))
NEAR_DUP_THRESHOLD = 0.3
# survives across queries() invocations: holds corpus_filter's persisted
# word-array base so each call can release the previous call's cache
_CORPUS_FILTER_BASE: dict = {}


def _components() -> dict[str, str]:
    """Union-find over DICT alias-sharing → canonical_id → min component id."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    by_alias: dict[str, list[str]] = {}
    for alias, cid in DICT:
        by_alias.setdefault(alias, []).append(cid)
    for ids in by_alias.values():
        for other in ids[1:]:
            ra, rb = find(ids[0]), find(other)
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
    return {cid: find(cid) for _, cid in DICT}


COMPONENTS = _components()

# ---------------------------------------------------------------------------
# Neural fixture: a fixed corpus + seeded stacked+BN model + fastText fixture
# embeddings. The oracle for `neural_ner_tags` is NEURAL_GOLDEN_TAGS —
# computed ONCE by the single-node numpy authority
# (scripts/gen_neural_golden.py, no Spark involved) and committed; the
# distributed path must reproduce it token-for-token.
# ---------------------------------------------------------------------------

NEURAL_FIXTURE_SENTENCES: list[tuple[str, int, str]] = [
    ("doc0", 0, "aspirin inhibits cyclooxygenase in human platelets"),
    ("doc0", 1, "the patient received beta-blocker therapy daily"),
    ("doc0", 2, "microbiome diversity declined after antibiotic exposure"),
    ("doc1", 0, "insulin regulates glucose uptake in muscle"),
    ("doc1", 1, "tumor suppressor genes prevent uncontrolled growth"),
    ("doc1", 2, "dopamine receptors mediate reward signaling"),
    ("doc2", 0, "the trial randomized patients to placebo or statin"),
    ("doc2", 1, "hemoglobin carries oxygen through arterial blood"),
    ("doc2", 2, "cortisol rises under chronic physiological stress"),
    ("doc3", 0, "antibodies bind antigens with high specificity"),
    ("doc3", 1, "mitochondria produce adenosine triphosphate continuously"),
    ("doc3", 2, "the ribosome translates messenger rna into protein"),
]


NEURAL_GOLDEN_TAGS = [
    ('doc0', 0, 0, 'aspirin', 'O', 0.04),
    ('doc0', 0, 1, 'inhibits', 'I', 0.02),
    ('doc0', 0, 2, 'cyclooxygenase', 'I', 0.01),
    ('doc0', 0, 3, 'in', 'B', 0.04),
    ('doc0', 0, 4, 'human', 'B', 0.06),
    ('doc0', 0, 5, 'platelets', 'B', 0.07),
    ('doc0', 1, 0, 'the', 'O', 0.04),
    ('doc0', 1, 1, 'patient', 'I', 0.02),
    ('doc0', 1, 2, 'received', 'I', 0.0),
    ('doc0', 1, 3, 'beta-blocker', 'B', 0.03),
    ('doc0', 1, 4, 'therapy', 'B', 0.05),
    ('doc0', 1, 5, 'daily', 'B', 0.06),
    ('doc0', 2, 0, 'microbiome', 'O', 0.05),
    ('doc0', 2, 1, 'diversity', 'I', 0.01),
    ('doc0', 2, 2, 'declined', 'B', 0.01),
    ('doc0', 2, 3, 'after', 'B', 0.04),
    ('doc0', 2, 4, 'antibiotic', 'B', 0.06),
    ('doc0', 2, 5, 'exposure', 'B', 0.07),
    ('doc1', 0, 0, 'insulin', 'O', 0.04),
    ('doc1', 0, 1, 'regulates', 'I', 0.01),
    ('doc1', 0, 2, 'glucose', 'B', 0.01),
    ('doc1', 0, 3, 'uptake', 'B', 0.04),
    ('doc1', 0, 4, 'in', 'B', 0.05),
    ('doc1', 0, 5, 'muscle', 'B', 0.06),
    ('doc1', 1, 0, 'tumor', 'O', 0.05),
    ('doc1', 1, 1, 'suppressor', 'I', 0.02),
    ('doc1', 1, 2, 'genes', 'I', 0.01),
    ('doc1', 1, 3, 'prevent', 'B', 0.03),
    ('doc1', 1, 4, 'uncontrolled', 'B', 0.05),
    ('doc1', 1, 5, 'growth', 'B', 0.06),
    ('doc1', 2, 0, 'dopamine', 'O', 0.04),
    ('doc1', 2, 1, 'receptors', 'I', 0.02),
    ('doc1', 2, 2, 'mediate', 'I', 0.01),
    ('doc1', 2, 3, 'reward', 'B', 0.03),
    ('doc1', 2, 4, 'signaling', 'B', 0.05),
    ('doc2', 0, 0, 'the', 'O', 0.04),
    ('doc2', 0, 1, 'trial', 'I', 0.01),
    ('doc2', 0, 2, 'randomized', 'B', 0.02),
    ('doc2', 0, 3, 'patients', 'B', 0.05),
    ('doc2', 0, 4, 'to', 'B', 0.07),
    ('doc2', 0, 5, 'placebo', 'B', 0.08),
    ('doc2', 0, 6, 'or', 'B', 0.08),
    ('doc2', 0, 7, 'statin', 'B', 0.08),
    ('doc2', 1, 0, 'hemoglobin', 'O', 0.05),
    ('doc2', 1, 1, 'carries', 'I', 0.02),
    ('doc2', 1, 2, 'oxygen', 'I', 0.01),
    ('doc2', 1, 3, 'through', 'B', 0.03),
    ('doc2', 1, 4, 'arterial', 'B', 0.05),
    ('doc2', 1, 5, 'blood', 'B', 0.06),
    ('doc2', 2, 0, 'cortisol', 'O', 0.04),
    ('doc2', 2, 1, 'rises', 'I', 0.02),
    ('doc2', 2, 2, 'under', 'B', 0.0),
    ('doc2', 2, 3, 'chronic', 'B', 0.03),
    ('doc2', 2, 4, 'physiological', 'B', 0.05),
    ('doc2', 2, 5, 'stress', 'B', 0.06),
    ('doc3', 0, 0, 'antibodies', 'O', 0.04),
    ('doc3', 0, 1, 'bind', 'I', 0.02),
    ('doc3', 0, 2, 'antigens', 'I', 0.01),
    ('doc3', 0, 3, 'with', 'B', 0.03),
    ('doc3', 0, 4, 'high', 'B', 0.05),
    ('doc3', 0, 5, 'specificity', 'B', 0.06),
    ('doc3', 1, 0, 'mitochondria', 'O', 0.04),
    ('doc3', 1, 1, 'produce', 'I', 0.01),
    ('doc3', 1, 2, 'adenosine', 'B', 0.01),
    ('doc3', 1, 3, 'triphosphate', 'B', 0.04),
    ('doc3', 1, 4, 'continuously', 'B', 0.06),
    ('doc3', 2, 0, 'the', 'O', 0.04),
    ('doc3', 2, 1, 'ribosome', 'I', 0.01),
    ('doc3', 2, 2, 'translates', 'B', 0.01),
    ('doc3', 2, 3, 'messenger', 'B', 0.04),
    ('doc3', 2, 4, 'rna', 'B', 0.06),
    ('doc3', 2, 5, 'into', 'B', 0.07),
    ('doc3', 2, 6, 'protein', 'B', 0.07),
]


def neural_fixture_models():
    """(FastTextModel fixture, stacked+BN SequenceModel) — shared by the
    Spark query, the golden generator, and the parity pytest.

    The output biases are CENTERED on the fixture corpus (subtract the
    per-class mean logit, computed single-node) so the untrained fixture
    model doesn't collapse to one tag class — the golden check then covers
    all three BIO branches. Seed 23 chosen for worst-case argmax margin
    1.3e-3 (≫ float32 noise) and tag diversity (B/I/O = 43/18/12)."""
    import numpy as np

    from bioner_spark.ner.fasttext import FastTextModel
    from bioner_spark.ner.kernel import load_model_config

    ft = FastTextModel.fixture(bucket=2000, dim=16)
    model = load_model_config(
        "CustomConfig_Stacked-DATEXIS-NER", input_dim=16,
        feedforward_size=32, lstm_size=8, seed=23,
    )
    logits = []
    for _doc, _si, text in NEURAL_FIXTURE_SENTENCES:
        words = text.split(" ")
        x = np.stack([ft.word_vector(w) for w in words])[None, :, :]
        logits.append(model.forward(x, np.array([len(words)]))[0])
    model.out_b = (model.out_b - np.concatenate(logits).mean(axis=0)).astype(
        np.float32
    )
    return ft, model


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _alias_df(spark: SparkSession) -> DataFrame:
    rows = [(a, c, a) for a, c in DICT]
    return spark.createDataFrame(rows, "alias string, canonical_id string, canonical_name string")


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bioner_spark.tokenizer import tokenize

    return tokenize(_docs(spark, sf_dir), doc_col="doc_id")


def _tag_expr(b_words, i_words):
    return (
        F.when(F.col("text").isin(*b_words), F.lit("B"))
        .when(F.col("text").isin(*i_words), F.lit("I"))
        .otherwise(F.lit("O"))
    )


def _tagged_tokens(spark: SparkSession, sf_dir: str, b_words, i_words) -> DataFrame:
    return _tokens(spark, sf_dir).withColumn("tag", _tag_expr(b_words, i_words))


def _spans(spark: SparkSession, sf_dir: str, b_words, i_words) -> DataFrame:
    from bioner_spark.spans import decode_spans

    return decode_spans(_tagged_tokens(spark, sf_dir, b_words, i_words))


def _kg_linked(spark: SparkSession, sf_dir: str):
    """documents → gazetteer match → overlap resolve → canonicalize.
    Returns (linked_mentions_with_component, tokens).

    Uses the pipeline's fast path (linking.dict_mentions): resolved matches
    ARE the mentions, already carrying canonical_id under the same min-id
    ambiguity rule — no BIO round-trip. The second return value feeds the
    triple extractor's verb scan, which reads raw token text only."""
    from bioner_spark.graph import canonical_map
    from bioner_spark.linking import dict_mentions as dict_mentions_fast

    alias = _alias_df(spark)
    toks = _tokens(spark, sf_dir)
    mentions = dict_mentions_fast(toks, alias, max_alias_len=2)
    components = canonical_map(alias)
    linked = (
        mentions.join(F.broadcast(components), "canonical_id", "left")
        .filter(F.col("component").isNotNull())
    )
    return linked, toks


# ---------------------------------------------------------------------------
# entry — flagship: end-to-end KG triple extraction on sf0.001
# ---------------------------------------------------------------------------

def _kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The constructed KG: `kg_triples`, the input of every read-side
    analytics query, and `entry` at sf0.001."""
    from bioner_spark.triples import extract_triples

    linked, tagged = _kg_linked(spark, sf_dir)
    return extract_triples(linked, tagged, predicates=PREDICATES)


def entry(spark: SparkSession) -> DataFrame:
    return _kg_triples(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # --- tokenizer / CoNLL IO (SURVEY §2.1 S1-S5, §2.4 B3) -----------------
    def tokenize_offsets(spark, sf_dir):
        return _tokens(spark, sf_dir).select(
            "doc_id", "sentence_id", "token_id", "text", "start", "end"
        )

    q["tokenize_offsets"] = tokenize_offsets

    def conll_render(spark, sf_dir):
        from bioner_spark.io.conll import conll_document_strings

        toks = _tagged_tokens(spark, sf_dir, GOLD_B, GOLD_I)
        return conll_document_strings(toks).select("doc_id", "doc_text")

    q["conll_render"] = conll_render

    # --- encoders (SURVEY §2.2 P1-P7, §2.3 V1-V3) ---------------------------
    def surface_features_q(spark, sf_dir):
        from bioner_spark.functions.surface import surface_features

        toks = _tokens(spark, sf_dir).select(F.col("text").alias("token")).distinct()
        feats = surface_features(F.col("token"))
        return toks.select(
            "token", *[c.cast("int").alias(n) for n, c in feats.items()]
        )

    q["surface_features"] = surface_features_q

    def position_features_q(spark, sf_dir):
        from bioner_spark.functions.position import with_position_features

        toks = _tokens(spark, sf_dir)
        out = with_position_features(toks)
        return out.select(
            "doc_id",
            "sentence_id",
            "token_id",
            F.col("begin_doc").cast("int").alias("begin_doc"),
            F.col("begin_sentence").cast("int").alias("begin_sentence"),
            F.col("end_sentence").cast("int").alias("end_sentence"),
            F.col("end_document").cast("int").alias("end_document"),
        )

    q["position_features"] = position_features_q

    def ngram_vocab(spark, sf_dir):
        from bioner_spark.functions.ngrams import build_vocabulary

        v = build_vocabulary(_tokens(spark, sf_dir), min_word_frequency=10)
        return v.select("ngram", "count", F.col("index").cast("int").alias("index"))

    q["ngram_vocab"] = ngram_vocab

    def huffman_codes_q(spark, sf_dir):
        # V4: word2vec CreateBinaryTree over the vocabulary (the reference's
        # ngram_encoder.update_huffman_codes intent — its own body is dead
        # code; see functions/huffman.py module docstring). points as CSV:
        # the driver's value-hash compare wants scalar columns, same
        # convention as multihot_indices' indices_csv.
        from bioner_spark.functions.huffman import huffman_codes
        from bioner_spark.functions.ngrams import build_vocabulary

        v = build_vocabulary(_tokens(spark, sf_dir), min_word_frequency=10)
        out = huffman_codes(v)
        return out.select(
            "ngram",
            "count",
            F.col("index").cast("int").alias("index"),
            "code",
            "code_len",
            F.array_join(
                F.transform("points", lambda x: x.cast("string")), ","
            ).alias("points_csv"),
        )

    q["huffman_codes"] = huffman_codes_q

    def multihot_indices(spark, sf_dir):
        from bioner_spark.functions.ngrams import (
            build_vocabulary, encode_multihot_indices, is_unknown,
        )

        toks = _tokens(spark, sf_dir)
        vocab = build_vocabulary(toks, min_word_frequency=10)
        distinct = toks.select(F.col("text").alias("token")).distinct()
        enc = is_unknown(
            encode_multihot_indices(distinct, vocab, token_col="token"),
            vocab, token_col="token",
        )
        return enc.select(
            "token",
            F.array_join("ngram_indices", ",").alias("indices_csv"),
            F.col("is_unknown").cast("int").alias("is_unknown"),
        )

    q["multihot_indices"] = multihot_indices

    # --- span decode + entity metrics (SURVEY §2.6 A2-A12) -----------------
    def span_decode(spark, sf_dir):
        return _spans(spark, sf_dir, GOLD_B, GOLD_I)

    q["span_decode"] = span_decode

    def entity_prf1(spark, sf_dir):
        from bioner_spark.metrics import entity_level_prf1

        prf = entity_level_prf1(
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

    q["entity_prf1"] = entity_prf1

    def error_stats_by_length(spark, sf_dir):
        from bioner_spark.metrics import error_stats_by_length as stats

        return stats(
            _spans(spark, sf_dir, PRED_B, PRED_I), _spans(spark, sf_dir, GOLD_B, GOLD_I)
        ).select(
            F.col("length").cast("int").alias("len"),
            "n_errors",
            "n_total",
            F.round("error_ratio", 6).alias("error_ratio"),
        )

    q["error_stats_by_length"] = error_stats_by_length

    def error_chart_data(spark, sf_dir):
        """Multi-model per-length error ratios — the data behind the
        reference's error-analysis bar chart (analysis.py:396-418;
        rendered driver-side by analysis_chart.render_error_length_chart)."""
        from bioner_spark.analysis_chart import error_length_chart_data

        gold = _spans(spark, sf_dir, GOLD_B, GOLD_I)
        models = {
            "BioNER": _spans(spark, sf_dir, PRED_B, PRED_I),
            "DATEXIS-NER": _spans(spark, sf_dir, PRED2_B, PRED2_I),
        }
        return error_length_chart_data(gold, models)

    q["error_chart_data"] = error_chart_data

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

    q["token_prf1"] = token_prf1

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

    q["sentence_perfect"] = sentence_perfect

    def ensemble_spans(spark, sf_dir):
        """Ensemble intersection — spans predicted by BOTH models
        (SURVEY §2.6 A10 — reference analysis.py:106-114)."""
        from bioner_spark.metrics import SPAN_KEY, ensemble_intersection

        return ensemble_intersection(
            _spans(spark, sf_dir, PRED_B, PRED_I).select(*SPAN_KEY, "mention_text"),
            _spans(spark, sf_dir, PRED2_B, PRED2_I),
        )

    q["ensemble_spans"] = ensemble_spans

    def overlap_stats(spark, sf_dir):
        """Pairwise FP/FN/TP overlap between two models' error analyses
        (SURVEY §2.6 A8+A11 — reference analysis.py:140-170)."""
        from bioner_spark.metrics import SPAN_KEY, error_sets

        # persist the three span sets: the 9 counts below each launch a job,
        # and unpersisted they'd re-run the tokenize+decode lineage ~18×
        gold = _spans(spark, sf_dir, GOLD_B, GOLD_I).select(*SPAN_KEY).persist()
        p1 = _spans(spark, sf_dir, PRED_B, PRED_I).select(*SPAN_KEY).persist()
        p2 = _spans(spark, sf_dir, PRED2_B, PRED2_I).select(*SPAN_KEY).persist()
        kinds = ("true_positives", "false_positives", "false_negatives")
        try:
            s1, s2 = error_sets(p1, gold), error_sets(p2, gold)
            counts = tuple(
                s1[k].join(s2[k], SPAN_KEY, "inner").count() for k in kinds
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

    q["overlap_stats"] = overlap_stats

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

    q["bioul_to_bio2"] = bioul_to_bio2

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

    q["eval_format"] = eval_format

    def error_csv_rows(spark, sf_dir):
        """Per-sentence CSV error-export rows (SURVEY §2.1 S15 — reference
        analysis.py:57-84): text row, gold row, one row per model."""
        from bioner_spark.metrics import error_analysis_csv_rows

        gold = _tagged_tokens(spark, sf_dir, GOLD_B, GOLD_I)
        pred = _tagged_tokens(spark, sf_dir, PRED_B, PRED_I)
        return error_analysis_csv_rows(gold, {"model1": pred})

    q["error_csv_rows"] = error_csv_rows

    # --- KG stages: gazetteer tagging, linking, CC, triples -----------------
    def dict_mentions(spark, sf_dir):
        linked, _ = _kg_linked(spark, sf_dir)
        return linked.select(
            "doc_id", "sentence_id", "start_tok", "end_tok",
            "mention_text", "canonical_id", "component",
        )

    q["dict_mentions"] = dict_mentions

    q["kg_triples"] = _kg_triples

    # --- KG read-side analytics (kg_analytics.py): queries a user runs
    # against the materialized triple table -------------------------------
    def kg_degree(spark, sf_dir):
        """Per-entity degree/support profile over the constructed KG
        (kg_analytics.entity_degree — per-metric distinct-then-count,
        Expand-free). entity_degree's contract expects a MATERIALIZED
        triples table (it makes four column-pruned passes); here the
        pipeline lineage is localCheckpointed once so the passes read
        executor blocks, not four re-executions of the gazetteer chain."""
        from bioner_spark.kg_analytics import entity_degree

        return entity_degree(_kg_triples(spark, sf_dir).localCheckpoint())

    q["kg_degree"] = kg_degree

    def kg_pmi(spark, sf_dir):
        """PMI of (subj, obj) co-occurrence vs entity marginals
        (kg_analytics.cooccurrence_pmi); marginals re-aggregate the pair
        counts, never re-scan triples."""
        from bioner_spark.kg_analytics import cooccurrence_pmi

        return cooccurrence_pmi(_kg_triples(spark, sf_dir))

    q["kg_pmi"] = kg_pmi

    def kg_pagerank(spark, sf_dir):
        """5-iteration damped PageRank with dangling-mass redistribution
        over the distinct directed entity graph (kg_analytics.pagerank);
        oracle = the same power iteration unrolled as DuckDB CTEs."""
        from bioner_spark.kg_analytics import pagerank

        return pagerank(_kg_triples(spark, sf_dir), iterations=5)

    q["kg_pagerank"] = kg_pagerank

    def kg_pagerank_weighted(spark, sf_dir):
        """Support-weighted PageRank (r5): edge weight = triple-support
        count, so heavily-evidenced relations carry proportionally more
        rank (kg_analytics.pagerank weighted=True); oracle = the weighted
        power iteration unrolled as DuckDB CTEs with the identical
        SUM(rank*w/od) op sequence."""
        from bioner_spark.kg_analytics import pagerank

        return pagerank(_kg_triples(spark, sf_dir), iterations=5, weighted=True)

    q["kg_pagerank_weighted"] = kg_pagerank_weighted

    def kg_khop(spark, sf_dir):
        """Min-hop BFS (≤3 hops, 5 smallest entities as seeds) along
        directed subj→obj edges (kg_analytics.khop_neighbors); the Spark
        side expands only the new frontier per round, the oracle re-expands
        the whole visited set — equivalent under min-hop."""
        from bioner_spark.kg_analytics import khop_neighbors

        return khop_neighbors(_kg_triples(spark, sf_dir), k=3, n_seeds=5)

    q["kg_khop"] = kg_khop

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
        from bioner_spark.kg_analytics import kg_diff

        # localCheckpoint once (same discipline as kg_degree): the union
        # below evaluates the diff branch twice (rows + audit counts) and
        # kg_diff itself reads each snapshot twice (distinct + anti-join) —
        # without materialization that would re-execute the full gazetteer
        # pipeline ~8x; blocks are freed when the driver-side frame is GC'd
        t = _kg_triples(spark, sf_dir).localCheckpoint()
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

    q["kg_snapshot_diff"] = kg_snapshot_diff

    def connected_components_q(spark, sf_dir):
        from bioner_spark.graph import canonical_map

        return canonical_map(_alias_df(spark)).select("canonical_id", "component")

    q["connected_components"] = connected_components_q

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

    q["corpus_split_semijoin"] = corpus_split_semijoin

    # --- dedup suite (training-data ops) ------------------------------------
    def dedup_exact(spark, sf_dir):
        from bioner_spark.ops.dedup import exact_duplicate_groups

        return exact_duplicate_groups(_docs(spark, sf_dir))

    q["dedup_exact"] = dedup_exact

    def minhash_signatures_q(spark, sf_dir):
        from bioner_spark.ops.dedup import minhash_signatures

        return minhash_signatures(_docs(spark, sf_dir))

    q["minhash_signatures"] = minhash_signatures_q

    def lsh_candidates(spark, sf_dir):
        from bioner_spark.ops.dedup import lsh_candidate_pairs

        return lsh_candidate_pairs(_docs(spark, sf_dir))

    q["lsh_candidates"] = lsh_candidates

    def jaccard_pairs_q(spark, sf_dir):
        from bioner_spark.ops.dedup import jaccard_pairs

        return jaccard_pairs(_docs(spark, sf_dir), threshold=0.05)

    q["jaccard_pairs"] = jaccard_pairs_q

    def simhash_q(spark, sf_dir):
        from bioner_spark.ops.dedup import simhash

        return simhash(_docs(spark, sf_dir))

    q["simhash"] = simhash_q

    def near_dup_clusters_q(spark, sf_dir):
        from bioner_spark.ops.dedup import near_dup_clusters

        # rows_per_band=1 for the oracle-checked contract query: the DuckDB
        # oracle computes ALL exact-Jaccard>=0.8 pairs, so the query runs
        # LSH at ~0.9997 pair recall to keep the probabilistic gap far
        # below the corpus size (recall contract: near_dup_clusters doc)
        return near_dup_clusters(_docs(spark, sf_dir), threshold=0.8, rows_per_band=1)

    q["near_dup_clusters"] = near_dup_clusters_q

    def decontamination_q(spark, sf_dir):
        # benchmark set = every 41st doc (stand-in for a held-out eval set);
        # flag the REST of the corpus for n-gram overlap against it
        from bioner_spark.ops.dedup import contamination_flags

        docs = _docs(spark, sf_dir)
        bench = docs.filter(F.col("doc_id") % 41 == 0)
        train = docs.filter(F.col("doc_id") % 41 != 0)
        return contamination_flags(train, bench, n=8)

    q["decontamination"] = decontamination_q

    # --- text stats (training-data ops) --------------------------------------
    def lang_guess(spark, sf_dir):
        from bioner_spark.ops.textstats import with_lang_guess

        return (
            with_lang_guess(_docs(spark, sf_dir))
            .groupBy("lang_guess")
            .agg(F.count(F.lit(1)).alias("n_docs"))
        )

    q["lang_guess"] = lang_guess

    def quality_features(spark, sf_dir):
        from bioner_spark.ops.textstats import with_quality_features

        return with_quality_features(_docs(spark, sf_dir)).select(
            "doc_id", "n_words", "n_chars", "mean_word_len",
            "punct_ratio", "digit_ratio", "stopword_ratio", "quality_score",
        )

    q["quality_features"] = quality_features

    def token_counts(spark, sf_dir):
        from bioner_spark.ops.textstats import with_token_counts

        return with_token_counts(_docs(spark, sf_dir)).select(
            "doc_id", "ws_tokens", "subword_est"
        )

    q["token_counts"] = token_counts

    def fingerprints(spark, sf_dir):
        from bioner_spark.ops.textstats import with_fingerprint

        return with_fingerprint(_docs(spark, sf_dir)).select(
            "doc_id", "fingerprint", "fingerprint16"
        )

    q["fingerprints"] = fingerprints

    # --- similarity search ----------------------------------------------------
    def cosine_topk_q(spark, sf_dir):
        from bioner_spark.ops.similarity import cosine_topk

        emb = _emb(spark, sf_dir)
        queries_df = emb.filter(F.col("vec_id") < 10)
        out = cosine_topk(emb, queries_df, k=5)
        return out.select(
            "query_id", "neighbor_id", "cosine", F.col("rank").cast("int").alias("rank")
        )

    q["cosine_topk"] = cosine_topk_q

    def lsh_topk_q(spark, sf_dir):
        from bioner_spark.ops.similarity import lsh_topk

        emb = _emb(spark, sf_dir)
        out = lsh_topk(emb, emb.filter(F.col("vec_id") < 10), k=5, n_planes=8, dim=64)
        return out.select(
            "query_id", "neighbor_id", "cosine", F.col("rank").cast("int").alias("rank")
        )

    q["lsh_topk"] = lsh_topk_q

    def lsh_topk_indexed_q(spark, sf_dir):
        # The production ANN shape: bucket assignment materialized ONCE at
        # ingest (Parquet partitioned by bucket), probes read only matching
        # partition dirs (plan-time pruning). Same planes → identical
        # results to lsh_topk, so it shares that oracle's semantics.
        import atexit
        import os
        import shutil
        import tempfile
        import uuid

        from bioner_spark.ops.similarity import lsh_topk_indexed, write_ann_index

        emb = _emb(spark, sf_dir)
        # UNIQUE path per call: a fixed path keyed on basename(sf_dir) let a
        # concurrent harness process (or a second sf_dir sharing the
        # basename) overwrite the index underneath THIS call's still-lazy
        # result DataFrame — FileNotFoundException mid-collect, or top-k
        # silently computed against the wrong corpus. Rebuild cost at
        # contract scale is trivial; cleanup at interpreter exit.
        idx = os.path.join(
            tempfile.gettempdir(), f"bioner_ann_index_{uuid.uuid4().hex[:12]}"
        )
        # cleanup registered BEFORE the write (same rule as the streaming/
        # pubtator temp dirs): a failed/interrupted write_ann_index would
        # otherwise leak the partial directory forever, and harness retries
        # accumulate orphans until /tmp fills
        atexit.register(shutil.rmtree, idx, ignore_errors=True)
        write_ann_index(emb, idx, dim=64, n_planes=8)
        out = lsh_topk_indexed(
            spark, idx, emb.filter(F.col("vec_id") < 10), k=5, n_planes=8, dim=64
        )
        return out.select(
            "query_id", "neighbor_id", "cosine", F.col("rank").cast("int").alias("rank")
        )

    q["lsh_topk_indexed"] = lsh_topk_indexed_q

    def embedding_near_dup_q(spark, sf_dir):
        from bioner_spark.ops.similarity import embedding_near_dup

        return embedding_near_dup(
            _emb(spark, sf_dir),
            threshold=NEAR_DUP_THRESHOLD,
            n_planes=8,
            n_bands=2,
            dim=64,
        )

    q["embedding_near_dup"] = embedding_near_dup_q

    def ivf_topk_q(spark, sf_dir):
        from bioner_spark.ops.similarity import ivf_topk

        emb = _emb(spark, sf_dir)
        out = ivf_topk(
            emb,
            emb.filter(F.col("vec_id") < 10),
            k=5,
            centroid_ids=IVF_CENTROID_IDS,
            n_probe=2,
        )
        return out.select(
            "query_id", "neighbor_id", "cosine", F.col("rank").cast("int").alias("rank")
        )

    q["ivf_topk"] = ivf_topk_q

    # --- extractor invariant (UDF vs native-SQL law; oracle = 0) -------------
    def extract_roundtrip(spark, sf_dir):
        """Differential invariant, corpus-INDEPENDENT: wrap every text line
        in boilerplate HTML (lines html-escaped, so a literal '&'/'<'/'>'
        in the corpus cannot alter parsing), run the UDF extractor, and
        compare against the extractor's per-line law recomputed in pure
        native SQL (Python-\\s runs → one space via the shared
        PY_STRIP_WHITESPACE class, strip, drop empty lines, join '\\n',
        then the engine's own native strip_truncation_markers). The oracle
        asserts n_mismatch = 0 — which now holds for ANY corpus, not just
        whitespace-pre-normalized ones: tabs/NBSP/doubled-space/blank-line
        documents exercise the law instead of breaking the check."""
        from bioner_spark.extract import strip_truncation_markers, with_extracted_text
        from bioner_spark.functions.surface import PY_STRIP_WHITESPACE

        head = (
            "<html><head><title>t</title><script>var x=1;</script></head><body>"
            "<nav><ul><li>Home</li></ul></nav><div id=\"content\">"
        )
        tail = "</div><footer>© 2024</footer><script>track();</script></body></html>"

        def esc(s):
            return F.replace(
                F.replace(
                    F.replace(s, F.lit("&"), F.lit("&amp;")),
                    F.lit("<"), F.lit("&lt;"),
                ),
                F.lit(">"), F.lit("&gt;"),
            )

        lines = F.split(F.coalesce(F.col("text"), F.lit("")), "\n")
        expected = strip_truncation_markers(
            F.array_join(
                F.filter(
                    F.transform(
                        lines,
                        lambda s: F.trim(
                            F.regexp_replace(s, f"[{PY_STRIP_WHITESPACE}]+", " ")
                        ),
                    ),
                    lambda s: s != F.lit(""),
                ),
                "\n",
            )
        )
        docs = _docs(spark, sf_dir).select(
            "doc_id",
            expected.alias("expected"),
            F.concat(
                F.lit(head),
                F.array_join(
                    F.transform(
                        lines,
                        lambda s: F.concat(F.lit("<p>"), esc(s), F.lit("</p>")),
                    ),
                    "",
                ),
                F.lit(tail),
            ).cast("binary").alias("html"),
        )
        out = with_extracted_text(docs, "html", "extracted")
        return out.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("extracted") != F.col("expected"), 1).otherwise(0)
            ).alias("n_mismatch"),
        )

    q["extract_roundtrip"] = extract_roundtrip

    # --- fastText subword inference (P5): exact-integer oracle ----------------
    def fasttext_vectors(spark, sf_dir):
        """Per distinct corpus token: subword count + int64 lattice sums of
        the first 3 embedding dims — the full subwords→FNV-1a→bucket→gather
        pipeline verified in exact integer arithmetic (bioner_spark/ner/
        fasttext.py; reference fasttext_encoder.py:26-28)."""
        from bioner_spark.ner.fasttext import int_subword_check

        return int_subword_check(_tokens(spark, sf_dir))

    q["fasttext_vectors"] = fasttext_vectors

    # --- neural north-star path: golden-fixture oracle ------------------------
    def neural_ner_tags(spark, sf_dir):
        """Distributed BioNER-shape inference (fastText encode → stacked+BN
        numpy forward inside mapInPandas, token-budget batching) on the
        fixed fixture corpus. Oracle = NEURAL_GOLDEN_TAGS, committed values
        computed by the SINGLE-NODE numpy authority
        (scripts/gen_neural_golden.py) — tags AND winning-logit scores, so
        the check verifies the forward numerically, not just argmax.
        sf_dir is unused by design: the fixture corpus is sf-independent."""
        from bioner_spark.ner.infer import annotate_tokens_fasttext

        ft, model = neural_fixture_models()
        rows = []
        for doc_id, sentence_id, text in NEURAL_FIXTURE_SENTENCES:
            for ti, w in enumerate(text.split(" ")):
                rows.append((doc_id, sentence_id, ti, w))
        tokens = spark.createDataFrame(
            rows, "doc_id string, sentence_id int, token_id int, text string"
        )
        tagged = annotate_tokens_fasttext(tokens, ft, model, with_scores=True)
        return tagged.select(
            "doc_id", "sentence_id", "token_id", "text", "tag", "score"
        )

    q["neural_ner_tags"] = neural_ner_tags

    def _media_table(spark, sf_dir):
        """THE synthetic media derivation (media_id cast, doc_id%2 modality
        rule, utf-8 payload, n_frames meta) — one definition for
        multimodal_features AND multimodal_hist; both oracles mirror it, so
        an edit here must update both oracle CTEs in lockstep. NULL-text
        law (same as the rest of the contract's fetch-failure treatment):
        NULL text/n_chars coalesce to ''/0, so a NULL-text doc yields an
        empty payload (n_bytes 0, zero histogram) on BOTH engines instead
        of a NULL-vs-zeros hash mismatch."""
        return _docs(spark, sf_dir).select(
            F.col("doc_id").cast("string").alias("media_id"),
            F.when(F.col("doc_id") % 2 == 0, F.lit("image"))
            .otherwise(F.lit("audio"))
            .alias("modality"),
            F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8").alias("payload"),
            F.create_map(
                F.lit("n_frames"),
                (F.coalesce(F.col("n_chars"), F.lit(0)) % 100).cast("string"),
            ).alias("meta"),
        )

    def multimodal_features(spark, sf_dir):
        from bioner_spark.ops.multimodal import extract_features

        feats = extract_features(_media_table(spark, sf_dir))
        # f0 = hist[0]/sum(hist), computed in float32 inside the UDF. No
        # rounding: IEEE single-precision division is bit-reproducible, so
        # the DuckDB oracle recomputes the exact same double (FLOAT/FLOAT
        # then cast) — exactness beats a round() whose half-way cases could
        # disagree between engines.
        return feats.select(
            "media_id",
            "modality",
            "n_bytes",
            F.element_at(F.col("feature"), 1).cast("double").alias("f0"),
        )

    q["multimodal_features"] = multimodal_features

    def multimodal_hist(spark, sf_dir):
        # same media table and mapInPandas plumbing as multimodal_features,
        # integer histogram output -> exact DuckDB oracle (no float
        # tolerance); one row per (item, bin)
        from bioner_spark.ops.multimodal import extract_features

        feats = extract_features(_media_table(spark, sf_dir), normalize=False)
        return feats.select(
            "media_id", "modality", "n_bytes",
            F.posexplode("feature").alias("bin", "n"),
        )

    q["multimodal_hist"] = multimodal_hist

    def multimodal_decode(spark, sf_dir):
        # REAL codec path: synthesize actual WAV-PCM / PPM containers from
        # (doc_id, n_chars) formulas, parse them back with the native
        # decoders (ops/multimodal.decode_wav / decode_netpbm), histogram
        # the DECODED samples/pixels in exact ints; the oracle recomputes
        # the histograms from the generating formulas alone — the
        # writer↔parser roundtrip and the decode plumbing are both verified
        # against a derivation that never touches either.
        from bioner_spark.ops.multimodal import (
            extract_decoded_histograms,
            synthesize_codec_media,
        )

        media = synthesize_codec_media(_docs(spark, sf_dir))
        feats = extract_decoded_histograms(media)
        return feats.select(
            "media_id", "modality", "n_values",
            F.posexplode("feature").alias("bin", "n"),
        )

    q["multimodal_decode"] = multimodal_decode

    def corpus_filter(spark, sf_dir):
        # the C4-style cleaning chain, composed from the engine's own ops:
        # benchmark holdout -> language -> length -> exact-dup rep ->
        # near-dup rep -> decontamination; one row per doc with keep flag
        # and first-failing reject reason (fixed precedence).
        #
        # Single-scan: the corpus is read ONCE into a persisted base that
        # carries the split-normalized word array; the exact-dup
        # fingerprint, the 3-gram shingles (near-dup) and the 8-gram
        # shingles (decontamination) all derive from that cached array
        # instead of re-scanning + re-normalizing the corpus per stage
        # (was 3-4 full scans). Eagerly materialized for the same
        # AQE-concurrent-subquery reason as the KG token hub (pipeline.py).
        from pyspark import StorageLevel

        from bioner_spark.ops.dedup import (
            contamination_flags,
            exact_duplicate_groups,
            near_dup_clusters,
            normalized,
        )
        from bioner_spark.ops.textstats import with_lang_guess, with_token_counts

        docs = _docs(spark, sf_dir)
        base = docs.withColumn("_words", F.split(normalized(F.col("text")), " ")).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        # the returned DF's lineage references `base`, so it can't be
        # unpersisted here — instead release the PREVIOUS call's cache,
        # bounding the leak to one copy per session however many times the
        # harness re-invokes this query. Module-level holder, NOT a
        # closure attribute: harnesses that call queries() per invocation
        # get a fresh closure each time, and an attribute on it would leak
        # one persisted base per call.
        prev = _CORPUS_FILTER_BASE.pop("base", None)
        if prev is not None:
            # the previous base may belong to an earlier, already-stopped
            # SparkContext (harnesses that restart Spark between
            # invocations); unpersisting through a stopped context raises,
            # and a dead context's cache is gone anyway. Caches live on the
            # CONTEXT, not the session wrapper — match on sparkContext so
            # harnesses that hand a fresh spark.newSession() per call still
            # get the previous base released instead of leaking one
            # persisted corpus per invocation.
            try:
                if prev.sparkSession.sparkContext is spark.sparkContext:
                    prev.unpersist()
            except Exception:
                # prev's context already torn down, or it died between the
                # identity check and the unpersist — degrade to the bounded
                # one-cache leak rather than failing the query
                pass
        _CORPUS_FILTER_BASE["base"] = base
        base.count()
        d = with_token_counts(with_lang_guess(base))
        reps = exact_duplicate_groups(base, words_col="_words").select(
            F.col("min_doc_id").alias("doc_id"), F.lit(1).alias("is_exact_rep")
        )
        # rows_per_band=1: ~0.9997 pair recall at j=0.8 — the oracle computes
        # ALL exact-Jaccard pairs, so the contract query minimizes the
        # probabilistic banding gap (see near_dup_clusters docstring)
        nd = near_dup_clusters(
            base, threshold=0.8, rows_per_band=1, words_col="_words"
        ).select("doc_id", F.col("is_representative").alias("is_nd_rep"))
        bench = base.filter(F.col("doc_id") % 41 == 0)
        train = base.filter(F.col("doc_id") % 41 != 0)
        cont = contamination_flags(train, bench, n=8, words_col="_words")
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

    q["corpus_filter"] = corpus_filter

    def kg_pipeline_synthetic(spark, sf_dir):
        """Full pipeline incl. HTML extractor UDF + salted repartition on the
        deterministic synthetic Common-Crawl-style corpus (corpus.py)."""
        from bioner_spark.corpus import alias_dict_spark_df, generate, pages_spark_df
        from bioner_spark.pipeline import build_triples

        corpus = generate(n_docs=60, giant_doc_sentences=40)
        pages = pages_spark_df(spark, corpus)
        alias = alias_dict_spark_df(spark, corpus)
        res = build_triples(pages, alias, tagger="dict")
        return res.triples

    q["kg_pipeline_synthetic"] = kg_pipeline_synthetic

    def streaming_dedup_ledger(spark, sf_dir):
        """Cross-batch stateful streaming dedup (applyInPandasWithState) run
        to completion with an availableNow trigger over 4 file micro-batches
        (maxFilesPerTrigger=1), then summarized per fingerprint.

        The summary is deliberately order-insensitive (arrival order within
        a micro-batch is not contractual) while still proving the stateful
        semantics end-to-end: `n_firsts` must be exactly 1 per fingerprint —
        if state were NOT carried across micro-batches, any fingerprint
        spanning two batches would emit two is_first rows and fail the hash —
        and `max_dup` must be n_docs - 1 (the last arrival saw every earlier
        one via state).
        """
        import atexit
        import shutil
        import tempfile

        from bioner_spark.streaming.stateful import streaming_dedup

        docs = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("string").alias("url"), "text"
        )
        base = tempfile.mkdtemp(prefix="stream_dedup_q_")
        # full corpus copy + checkpoint state per invocation: without
        # cleanup, repeated harness runs accumulate them until /tmp fills
        # (same rule as lsh_topk_indexed's index dir)
        atexit.register(shutil.rmtree, base, ignore_errors=True)
        in_dir, out_dir, ckpt = f"{base}/in", f"{base}/out", f"{base}/ckpt"
        # 4 deterministic micro-batches by doc_id mod 4 — duplicate groups
        # have scattered doc_ids, so fingerprints genuinely span batches
        for b in range(4):
            docs.filter(F.col("url").cast("long") % 4 == b).coalesce(1).write.mode(
                "append"
            ).parquet(in_dir)
        pages = (
            spark.readStream.schema("url string, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
        )
        (
            streaming_dedup(pages)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        return (
            spark.read.parquet(out_dir)
            .groupBy("fingerprint")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("is_first").cast("long").alias("n_firsts"),
                F.max("n_duplicates_so_far").alias("max_dup"),
                F.min("url").alias("min_doc"),
            )
        )

    q["streaming_dedup_ledger"] = streaming_dedup_ledger

    def streaming_window_counts(spark, sf_dir):
        """Watermarked event-time windowed mention counts run END-TO-END
        through Structured Streaming (streaming/ingest.
        streaming_mention_counts): the deterministic synthetic crawl
        (corpus.generate — 60 pages, 1/min event times) lands as parquet
        micro-batch files, is streamed with availableNow +
        maxFilesPerTrigger=1 through extract → tokenize → stream-static
        broadcast gazetteer join → 15-min watermarked window agg in append
        mode.

        Determinism under append mode: a far-future sentinel page (+2 days,
        one 'aspirin' mention so it survives the gazetteer join and reaches
        the watermark operator) is written as the LAST micro-batch file, so
        the final watermark (sentinel − 30 min) passes every real window
        and append emits them ALL; the sentinel's own window stays open and
        is never emitted. Batch boundaries can shift which batch emits a
        window but never the union. The oracle recomputes the window counts
        from the generator's committed GOLD tokens + page event times
        (tests/fixtures/kg_gold) — any drift in extraction, tokenization,
        the broadcast match, watermark handling, or window bucketing breaks
        the hash."""
        import atexit
        import os
        import shutil
        import tempfile
        import time
        from datetime import datetime

        from bioner_spark.corpus import (
            alias_dict_spark_df,
            generate,
            pages_spark_df,
        )
        from bioner_spark.schemas import PAGES_SCHEMA
        from bioner_spark.streaming.ingest import (
            read_page_stream,
            streaming_mention_counts,
        )

        corpus = generate(n_docs=60, giant_doc_sentences=40)
        pages = pages_spark_df(spark, corpus)
        alias = alias_dict_spark_df(spark, corpus)
        base = tempfile.mkdtemp(prefix="stream_window_q_")
        atexit.register(shutil.rmtree, base, ignore_errors=True)
        in_dir, out_dir, ckpt = f"{base}/in", f"{base}/out", f"{base}/ckpt"
        pages.coalesce(1).write.mode("append").parquet(in_dir)
        sentinel = spark.createDataFrame(
            [
                (
                    "sentinel://watermark-advance",
                    datetime(2024, 1, 3),
                    b"<p>aspirin</p>",
                    "aspirin",
                    "en",
                )
            ],
            schema=PAGES_SCHEMA,
        )
        real_files = {
            f for f in os.listdir(in_dir) if not f.startswith(("_", "."))
        }
        sentinel.coalesce(1).write.mode("append").parquet(in_dir)
        # FileStreamSource orders by modification time (latestFirst default
        # false). A sentinel-first batch would set the watermark past every
        # real event and drop them all as late, so the ordering must not
        # hinge on write-timing mtime luck: pin the real file strictly
        # earlier and the sentinel strictly later, explicitly.
        now = time.time()
        for f in os.listdir(in_dir):
            if f.startswith(("_", ".")):
                continue
            target = now - 120 if f in real_files else now + 60
            os.utime(os.path.join(in_dir, f), (target, target))
        stream = read_page_stream(spark, in_dir, max_files_per_trigger=1)
        (
            streaming_mention_counts(
                stream, alias,
                window_duration="15 minutes", watermark="30 minutes",
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        return spark.read.parquet(out_dir).select(
            F.col("window_start").cast("long").alias("window_start"),
            "canonical_id",
            F.col("n_mentions").cast("long").alias("n_mentions"),
        )

    q["streaming_window_counts"] = streaming_window_counts

    def pubtator_iob(spark, sf_dir):
        """PubTator source roundtrip (SURVEY §2.1 S10): render the corpus +
        gazetteer mentions into real PubTator files, re-read them with the
        line-parallel reader, and project the parsed char-span annotations
        onto re-tokenized text as IOB tags (what the reference delegates to
        bconv — medmentions_conll_converter.py:27-29). The oracle recomputes
        the expected token/tag rows straight from `documents` in SQL, so the
        render→write→read→parse→tokenize→project chain is hash-verified
        end to end."""
        import atexit
        import shutil
        import tempfile

        from bioner_spark.io.pubtator import (
            kept_sentence_offsets,
            project_iob,
            read_pubtator,
            render_pubtator,
        )
        from bioner_spark.tokenizer import tokenize

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
        tmp = tempfile.mkdtemp(prefix="pubtator_q_")
        # rendered-corpus copy per invocation — clean up like the
        # streaming/lsh-index temp dirs or repeated runs fill /tmp
        atexit.register(shutil.rmtree, tmp, ignore_errors=True)
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

    q["pubtator_iob"] = pubtator_iob

    # Ordering is part of the contract surface: the driver's correctness
    # harness walks this dict in insertion order under a budget, and in r4
    # the three heaviest end-to-end queries sat last and fell off the
    # check (no CORRECTNESS_r04 row). Front-load exactly those — plus the
    # snapshot-diff row whose r4 green was vacuous — so a budget cut can
    # only ever drop queries with the freshest green history.
    front = [
        "kg_pipeline_synthetic",
        "streaming_dedup_ledger",
        "streaming_window_counts",
        "pubtator_iob",
        "kg_snapshot_diff",
    ]
    return {k: q[k] for k in front} | {
        k: v for k, v in q.items() if k not in front
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect, ANSI where possible)
# ---------------------------------------------------------------------------

# THE ASCII whitespace class, imported from the engine so both sides share
# one source of truth. EXPLICIT class, not \\s: Java regex (Spark) counts
# U+000B vertical tab as \\s, RE2 (DuckDB) does not (measured), so '\\s+'
# in any oracle would silently diverge from the engine on VT — failing the
# fingerprint/minhash oracles AND the textstats word counts.
from bioner_spark.ops.textstats import WS_CHARS as _WS_CHARS  # noqa: E402
from bioner_spark.ops.textstats import WS_RE as _WS_SQL  # noqa: E402

# THE dedup-normalization law in SQL — ONE definition, mirroring
# ops.dedup.normalized.
# LOWER_SQL(x) — Java/Spark lower() semantics for the DuckDB oracles.
# DuckDB's lower() (utf8proc) is a simple 1:1 codepoint map; Spark applies
# Unicode SpecialCasing (measured divergences): U+0130 'İ' lowers to
# 'i' + U+0307 (two codepoints), and capital Σ takes the contextual
# Final_Sigma form ς. Java's exact rule (measured on this JVM, 43-case
# battery in tests/test_ops.py): Σ is final iff PRECEDED by a cased letter
# with any run of case-ignorable characters between, and NOT FOLLOWED by a
# run of case-ignorables then a cased letter. "Cased" excludes caseless
# scripts (中Σ → σ, ΟΣ中 → ς — measured) and "case-ignorable" covers
# marks/format/modifier chars plus word-internal punctuation (ΟΣ.α → σ:
# Java scans through the '.').
#
# RE2 has no lookahead, so the run-negation ("not followed by ci* cased")
# is computed by rewriting the COMPLEMENT first: two forward passes turn
# every Σ followed by ci*+cased into σ (two, because a pass that consumes
# a following capital Σ as its cased witness leaves that Σ unexamined;
# consecutive leftovers are never adjacent, so one more pass settles
# them — caseness is invariant under Σ→σ, which keeps later passes'
# context checks exact). The surviving capital Σs satisfy the after-
# condition by construction, so one final pass marks those with the
# cased-before context as ς; everything else simple-lowers. Original
# lowercase σ/ς are never touched (the rewrites run on the original
# string, keyed on CAPITAL Σ only). The expansion happens in oracle_sql()
# via _expand_lower_sql, so oracle bodies stay readable and
# f-string-brace-free.
_LOWER_MARK = "LOWER_SQL"

# Spark's lower() is ICU (CollationAwareUTF8String), NOT
# java.lang.String.toLowerCase — measured: Java-ROOT skips digits in the
# Final_Sigma scan ('ΟΣ1α' → 'οσ1α') while Spark does not ('ος1α'). The
# two classes below were therefore derived from SPARK ITSELF, exhaustively
# over the whole BMP (65k codepoints × two context probes classifying each
# char as case-ignorable / cased / neither), then the RE2 classes were
# diffed against that derivation to zero — exact, not approximate, for
# every BMP character.
#
# Supplementary planes do NOT simply ride the general categories: ICU
# (Spark) carries Unicode 14–16 scripts that DuckDB's utf8proc/RE2 tables
# predate. `scripts/astral_probe.py` ran the same two-probe derivation
# over all 131,859 assigned supplementary codepoints and found three
# one-sided families, patched below: (1) 57 uppercase letters DuckDB's
# lower() doesn't map (Vithkuqi U+10570.., Garay U+10D50..) — fixed with a
# codepoint-wise translate() pre-pass (_ASTRAL_LOWER_FROM/_TO); (2) cased
# letters/symbols RE2's \p{Lu}/\p{Ll} misses (Garay, plus squared/circled
# Latin U+1F130–1F189 which ICU treats as cased Final_Sigma context);
# (3) new-script case-ignorable marks (Garay, Gurung Khema, Kirat Rai,
# Ol Onal, Todhri, Tulu-Tigalari). Known single-codepoint residual, the
# only diff RE2 cannot express (no class subtraction): U+1171E AHOM
# MEDIAL RA is Mn in DuckDB's tables (→ matches \p{Mn}, case-ignorable)
# but reclassified Mc (not ignorable) in current ICU — the shim diverges
# from Spark only for a capital Σ separated from a cased letter by a
# ci-run containing U+1171E (e.g. 'Ο\U0001171EΣ'), pinned by test.
_ASTRAL_LOWER_FROM = (
    "\U00010570\U00010571\U00010572\U00010573\U00010574\U00010575"
    "\U00010576\U00010577\U00010578\U00010579\U0001057a\U0001057c"
    "\U0001057d\U0001057e\U0001057f\U00010580\U00010581\U00010582"
    "\U00010583\U00010584\U00010585\U00010586\U00010587\U00010588"
    "\U00010589\U0001058a\U0001058c\U0001058d\U0001058e\U0001058f"
    "\U00010590\U00010591\U00010592\U00010594\U00010595\U00010d50"
    "\U00010d51\U00010d52\U00010d53\U00010d54\U00010d55\U00010d56"
    "\U00010d57\U00010d58\U00010d59\U00010d5a\U00010d5b\U00010d5c"
    "\U00010d5d\U00010d5e\U00010d5f\U00010d60\U00010d61\U00010d62"
    "\U00010d63\U00010d64\U00010d65"
)
_ASTRAL_LOWER_TO = (
    "\U00010597\U00010598\U00010599\U0001059a\U0001059b\U0001059c"
    "\U0001059d\U0001059e\U0001059f\U000105a0\U000105a1\U000105a3"
    "\U000105a4\U000105a5\U000105a6\U000105a7\U000105a8\U000105a9"
    "\U000105aa\U000105ab\U000105ac\U000105ad\U000105ae\U000105af"
    "\U000105b0\U000105b1\U000105b3\U000105b4\U000105b5\U000105b6"
    "\U000105b7\U000105b8\U000105b9\U000105bb\U000105bc\U00010d70"
    "\U00010d71\U00010d72\U00010d73\U00010d74\U00010d75\U00010d76"
    "\U00010d77\U00010d78\U00010d79\U00010d7a\U00010d7b\U00010d7c"
    "\U00010d7d\U00010d7e\U00010d7f\U00010d80\U00010d81\U00010d82"
    "\U00010d83\U00010d84\U00010d85"
)
#
# Case-ignorable (Unicode Case_Ignorable): marks, format (incl. soft
# hyphen), modifier letters/symbols, plus word-internal punctuation
# (apostrophes, dots, colons, middle dot, Greek ano teleia, Hebrew
# gershayim, Armenian abbreviation mark, fullwidth/vertical forms).
# \x27 = "'" — hex-escaped so the class embeds in a SQL '...' literal.
_CI_CLASS = (
    r"\p{Mn}\p{Me}\p{Cf}\p{Lm}\p{Sk}"
    "\\x27\u2019\u2018.:\u00b7\u0387\u055f\u05f4\u0897\u2024\u2027"
    "\ufe13\ufe52\ufe55\uff07\uff0e\uff1a"
    # supplementary-plane case-ignorable marks ICU knows but RE2's older
    # tables don't (astral_probe.py derivation; ranges in probe output)
    "\U00010d4e\U00010d69-\U00010d6d\U00010d6f\U00010efc"
    "\U000113bb-\U000113c0\U000113ce\U000113d0\U000113d2"
    "\U000113e1-\U000113e2\U00011f5a\U0001611e-\U00016129"
    "\U0001612d-\U0001612f\U00016d40-\U00016d42\U00016d6b-\U00016d6c"
    "\U0001e5ee-\U0001e5ef"
)
# Cased (Unicode Cased): Lu/Ll/Lt plus Other_Uppercase/Other_Lowercase
# singletons the general categories miss — ª º (Lo), Roman numerals (Nl),
# circled letters (So), and post-Unicode-15 additions ICU knows. Lo (CJK
# etc.) is otherwise NOT cased; Lm modifiers are case-ignorable and the
# ci-run scan sees them first, matching ICU.
_CASED_CLASS = (
    r"\p{Lu}\p{Ll}\p{Lt}"
    "\u00aa\u00ba\u1c89\u1c8a\u2160-\u217f\u24b6-\u24e9"
    "\ua7cb-\ua7cd\ua7da-\ua7dc"
    # supplementary-plane cased letters/symbols per ICU (astral_probe.py):
    # Garay upper+lower, squared/circled/negative-squared Latin (So, but
    # Other_Uppercase \u2192 cased Final_Sigma context)
    "\U00010d50-\U00010d65\U00010d70-\U00010d85"
    "\U0001f130-\U0001f149\U0001f150-\U0001f169\U0001f170-\U0001f189"
)
_SIGMA_NONFINAL = f"Σ([{_CI_CLASS}]*[{_CASED_CLASS}])"
_SIGMA_FINAL = f"([{_CASED_CLASS}][{_CI_CLASS}]*)Σ"


def _lower_sql(arg: str) -> str:
    # Innermost translate() maps the 57 supplementary-plane uppercase
    # letters ICU lowers but utf8proc doesn't (1:1, codepoint-wise —
    # measured) so the sigma-context regexes then see the same cased
    # lowercase forms Spark's scan does (_CASED_CLASS covers them).
    arg = (
        "translate(" + arg + ", '" + _ASTRAL_LOWER_FROM + "', '"
        + _ASTRAL_LOWER_TO + "')"
    )
    return (
        "lower(regexp_replace(regexp_replace(regexp_replace("
        "replace(" + arg + ", 'İ', 'i̇'), "
        f"'{_SIGMA_NONFINAL}', 'σ\\1', 'g'), "
        f"'{_SIGMA_NONFINAL}', 'σ\\1', 'g'), "
        f"'{_SIGMA_FINAL}', '\\1ς', 'g'))"
    )


def _expand_lower_sql(sql: str) -> str:
    """Expand every LOWER_SQL(<expr>) marker, scanning for the balanced
    close paren (quote-aware, so parens inside SQL string literals don't
    miscount)."""
    out = []
    i = 0
    while True:
        j = sql.find(_LOWER_MARK + "(", i)
        if j < 0:
            out.append(sql[i:])
            return "".join(out)
        out.append(sql[i:j])
        k = j + len(_LOWER_MARK) + 1
        depth, in_q = 1, False
        start = k
        n = len(sql)
        while depth:
            if k >= n:
                raise ValueError(
                    f"unbalanced {_LOWER_MARK}(...) marker at offset {j}: "
                    f"...{sql[j:j + 80]!r}"
                )
            ch = sql[k]
            if in_q:
                if ch == "'":
                    in_q = False
            elif ch == "'":
                in_q = True
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            k += 1
        # expand inner markers first so LOWER_SQL(f(LOWER_SQL(x))) nests
        # instead of splicing the literal marker into the output SQL
        out.append(_lower_sql(_expand_lower_sql(sql[start:k - 1])))
        i = k


# trim with an EXPLICIT ' ' char set: DuckDB's bare trim() strips Unicode
# whitespace (NBSP, U+2000…) while Spark's F.trim strips ASCII space only —
# a document whose text starts/ends with NBSP would otherwise fingerprint
# differently per engine (measured: every dedup-family oracle diverged on a
# leading-NBSP doc). Post-collapse, edges can only carry ' ' anyway, so the
# space-only trim is the whole law on both sides.
_NORM_SQL = f"trim(regexp_replace(LOWER_SQL(text), '{_WS_SQL}+', ' ', 'g'), ' ')"

_TOKS_CTE = """
raw AS (
  SELECT doc_id, s.sid - 1 AS sentence_id, s.sentence
  FROM (
    SELECT doc_id,
           unnest(string_split(text, chr(10))) AS sentence,
           generate_subscripts(string_split(text, chr(10)), 1) AS sid
    FROM documents
  ) s
  WHERE length(s.sentence) > 0
),
tok0 AS (
  SELECT doc_id,
         sentence_id::INT AS sentence_id,
         (generate_subscripts(string_split(sentence, ' '), 1) - 1)::INT AS token_id,
         unnest(string_split(sentence, ' ')) AS text
  FROM raw
),
tokc AS (
  -- offsets over the ORIGINAL split positions (empties included), so char
  -- offsets stay exact under doubled/edge spaces — mirrors the engine
  SELECT doc_id, sentence_id, token_id AS pos, text,
         COALESCE(SUM(length(text) + 1) OVER (
             PARTITION BY doc_id, sentence_id ORDER BY token_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::INT AS start,
         (COALESCE(SUM(length(text) + 1) OVER (
             PARTITION BY doc_id, sentence_id ORDER BY token_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          + length(text))::INT AS "end"
  FROM tok0
),
toks AS (
  -- token_id is the DENSE rank among non-empty tokens (tokenizer.py law);
  -- downstream `WHERE length(text) > 0` guards are now no-ops, kept only
  -- where dropping them would churn unrelated queries
  SELECT doc_id, sentence_id,
         (ROW_NUMBER() OVER (PARTITION BY doc_id, sentence_id ORDER BY pos)
          - 1)::INT AS token_id,
         text, start, "end"
  FROM tokc WHERE length(text) > 0
)
"""


def _sql_in(words) -> str:
    return ", ".join(f"'{w}'" for w in words)


def _tag_case(b_words, i_words) -> str:
    return (
        f"CASE WHEN text IN ({_sql_in(b_words)}) THEN 'B' "
        f"WHEN text IN ({_sql_in(i_words)}) THEN 'I' ELSE 'O' END"
    )


def _spans_cte(b_words, i_words, pref: str = "") -> str:
    """CTEs tagged → spans implementing the reference BIO state machine
    (I-after-O opens; B closes+opens; reference
    entity_level_precision_recall.py:134-164). The CTE names are
    parameterized (f-string prefix), never post-hoc string-replaced — a
    substring replace would silently corrupt any future column/alias that
    happened to contain a CTE name."""
    p = f"{pref}_" if pref else ""
    return f"""
{p}tagged AS (
  SELECT doc_id, sentence_id, token_id, text,
         {_tag_case(b_words, i_words)} AS tag
  FROM toks WHERE length(text) > 0
),
{p}flagged AS (
  SELECT *, CASE WHEN tag <> 'O' AND (
      lag(tag) OVER (PARTITION BY doc_id, sentence_id ORDER BY token_id) IS NULL
      OR lag(tag) OVER (PARTITION BY doc_id, sentence_id ORDER BY token_id) = 'O'
      OR tag = 'B') THEN 1 ELSE 0 END AS is_start
  FROM {p}tagged
),
{p}runs AS (
  SELECT *, SUM(is_start) OVER (
      PARTITION BY doc_id, sentence_id ORDER BY token_id
      ROWS UNBOUNDED PRECEDING) AS span_id
  FROM {p}flagged
),
{p}spans AS (
  SELECT doc_id, sentence_id,
         MIN(token_id)::INT AS start_tok,
         MAX(token_id)::INT AS end_tok,
         string_agg(text, ' ' ORDER BY token_id) AS mention_text
  FROM {p}runs WHERE tag <> 'O'
  GROUP BY doc_id, sentence_id, span_id
)
"""


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


def _surface_sql() -> str:
    # trim with the EXACT Python str.strip() whitespace set — plain trim()
    # strips only ASCII space, diverging from the reference's .strip() on
    # NBSP/tab-padded tokens; the engine side (functions/surface.py
    # py_strip) states the same law
    from bioner_spark.functions.surface import PY_STRIP_WHITESPACE

    sql = r"""
WITH toks0 AS (
  SELECT DISTINCT unnest(string_split(sentence, ' ')) AS token
  FROM (
    SELECT unnest(string_split(text, chr(10))) AS sentence FROM documents
  ) WHERE length(sentence) > 0
),
base AS (
  SELECT token, trim(token, '__PYWS__') AS t,
         regexp_replace(trim(token, '__PYWS__'), '[^\p{L}]', '', 'g') AS letters
  FROM toks0 WHERE length(token) > 0
),
feat AS (
  SELECT token, t, letters,
    substr(letters, 1, 1) AS fl,
    substr(t, 1, 1) AS fc,
    CASE WHEN length(t) > 0 THEN substr(t, length(t), 1) ELSE '' END AS lc
  FROM base
)
SELECT token,
  (length(letters) > 0 AND regexp_matches(fl, '^\p{Lu}$'))::INT AS starts_with_uppercase,
  (length(letters) > 0 AND regexp_matches(fl, '^\p{Ll}$'))::INT AS starts_with_lowercase,
  (length(letters) > 0 AND regexp_matches(letters, '\p{Lu}')
     AND NOT regexp_matches(letters, '\p{Ll}'))::INT AS is_all_uppercase,
  (length(letters) > 0 AND regexp_matches(letters, '\p{Ll}')
     AND NOT regexp_matches(letters, '\p{Lu}'))::INT AS is_all_lowercase,
  (NOT (length(letters) > 0 AND regexp_matches(fl, '^\p{Lu}$'))
   AND NOT (length(letters) > 0 AND regexp_matches(letters, '\p{Lu}')
            AND NOT regexp_matches(letters, '\p{Ll}'))
   AND NOT (length(letters) > 0 AND regexp_matches(letters, '\p{Ll}')
            AND NOT regexp_matches(letters, '\p{Lu}')))::INT AS is_mixed_case,
  (t = regexp_replace(t, '[^\p{N}\p{P}]', '', 'g'))::INT AS is_all_numeric,
  (length(regexp_replace(t, '[^\p{N}\p{P}]', '', 'g')) > 0)::INT AS includes_numeric,
  (length(t) > 0 AND regexp_matches(fc, '^[\p{N}\p{P}]$'))::INT AS starts_with_numeric,
  (length(t) > 0 AND regexp_matches(lc, '^[\p{N}\p{P}]$'))::INT AS ends_with_numeric,
  (length(t) > 0 AND regexp_matches(fc, '^\p{P}$'))::INT AS starts_with_punctuation,
  (length(t) > 0 AND regexp_matches(lc, '^\p{P}$'))::INT AS ends_with_punctuation
FROM feat
"""
    return sql.replace('__PYWS__', PY_STRIP_WHITESPACE)


_NGRAM_CTE = r"""
tok_words AS (
  SELECT '#' || LOWER_SQL(regexp_replace(text, '[^\p{L}\p{N}\p{P}\p{Sm}\p{Sc}]', '', 'g')) || '#' AS word
  FROM toks WHERE length(text) > 0
),
grams_all AS (
  SELECT unnest(list_transform(range(1, length(word) - 1), i -> substr(word, i::INT, 3))) AS ngram
  FROM tok_words WHERE length(word) >= 3
),
vocab AS (
  SELECT ngram, COUNT(*)::BIGINT AS count,
         (row_number() OVER (ORDER BY COUNT(*) DESC, ngram ASC) - 1)::INT AS index
  FROM grams_all GROUP BY ngram HAVING COUNT(*) >= 10
)
"""

# derived from the engine constants (NOT re-typed literals): editing
# textstats.STOPWORDS must change the oracle in lockstep, same policy as
# MINHASH_COEFFS / hyperplanes below
from bioner_spark.ops.textstats import STOPWORDS as _STOPWORDS  # noqa: E402
from bioner_spark.triples import DEFAULT_PREDICATES as _VERBS  # noqa: E402

_STOP_EN = _sql_in(_STOPWORDS["en"])
_STOP_DE = _sql_in(_STOPWORDS["de"])
_STOP_FR = _sql_in(_STOPWORDS["fr"])

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
    from bioner_spark.ops.dedup import LSH_PRIME, MINHASH_COEFFS

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
    from bioner_spark.ops.dedup import MINHASH_COEFFS

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


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    o["tokenize_offsets"] = f"""
WITH {_TOKS_CTE}
SELECT doc_id, sentence_id, token_id, text, start, "end"
FROM toks WHERE length(text) > 0
"""

    o["conll_render"] = f"""
WITH {_TOKS_CTE},
tagged AS (
  SELECT doc_id, sentence_id, token_id,
         text || chr(9) || start || chr(9) || "end" || chr(9) ||
         {_tag_case(GOLD_B, GOLD_I)} AS line
  FROM toks WHERE length(text) > 0
),
per_sent AS (
  SELECT doc_id, sentence_id,
         string_agg(line, chr(10) ORDER BY token_id) AS sent_block
  FROM tagged GROUP BY doc_id, sentence_id
)
SELECT doc_id,
       '-DOCSTART-' || chr(9) || '0' || chr(9) || '0' || chr(9) || 'O'
       || chr(10) || chr(10) ||
       string_agg(sent_block || chr(10) || chr(10), '' ORDER BY sentence_id)
       AS doc_text
FROM per_sent GROUP BY doc_id
"""

    o["surface_features"] = _surface_sql()

    o["position_features"] = f"""
WITH {_TOKS_CTE},
t AS (SELECT * FROM toks WHERE length(text) > 0)
SELECT doc_id, sentence_id, token_id,
  (token_id = 0 AND sentence_id = 0)::INT AS begin_doc,
  (token_id = 0)::INT AS begin_sentence,
  (token_id = MAX(token_id) OVER (PARTITION BY doc_id, sentence_id))::INT AS end_sentence,
  (token_id = MAX(token_id) OVER (PARTITION BY doc_id, sentence_id)
   AND sentence_id = MAX(sentence_id) OVER (PARTITION BY doc_id))::INT AS end_document
FROM t
"""

    o["ngram_vocab"] = f"""
WITH {_TOKS_CTE},
{_NGRAM_CTE.lstrip().rstrip()}
SELECT ngram, count, index FROM vocab
"""

    # V4 Huffman: word2vec CreateBinaryTree as pure SQL — a single-row
    # recursive-CTE state machine replays the two-pointer merge over the
    # rank-ordered counts (strict `<` so count ties pick the INTERNAL node,
    # exactly like word2vec.c and functions/huffman._build_tree), emitting
    # one (min1, min2) row per merge; a second recursive CTE walks each
    # leaf root-ward over the child→parent edges. Differential-tested
    # cell-identical to the numpy authority (build_codes) on tie-heavy,
    # 257-word, all-equal-count and v=1 vocabularies —
    # tests/test_huffman.py::test_sql_oracle_matches_numpy_authority.
    # 2^62 = the engine's _SENTINEL (unfilled internal slots compare
    # greater than any real count).
    o["huffman_codes"] = f"""
WITH RECURSIVE {_TOKS_CTE},
{_NGRAM_CTE.lstrip().rstrip()},
lc AS (
  SELECT list(count ORDER BY index) AS counts, COUNT(*)::BIGINT AS v
  FROM vocab
),
merge AS (
  SELECT CAST(-1 AS BIGINT) AS a, (v - 1)::BIGINT AS pos1, v::BIGINT AS pos2,
         CAST([] AS BIGINT[]) AS ci,
         CAST(NULL AS BIGINT) AS min1, CAST(NULL AS BIGINT) AS min2,
         counts, v
  FROM lc
  UNION ALL
  SELECT a, pos1, pos2, list_append(ci, c1 + c2), m1, m2, counts, v
  FROM (
    SELECT a, counts, v, ci, m1, c1,
      CASE WHEN pos1a >= 0 AND
        (CASE WHEN pos1a < v THEN counts[(pos1a + 1)::INT]
              WHEN pos1a - v < len(ci) THEN ci[(pos1a - v + 1)::INT]
              ELSE 4611686018427387904 END)
        <
        (CASE WHEN pos2a < v THEN counts[(pos2a + 1)::INT]
              WHEN pos2a - v < len(ci) THEN ci[(pos2a - v + 1)::INT]
              ELSE 4611686018427387904 END)
      THEN pos1a ELSE pos2a END AS m2,
      CASE WHEN m2 = pos1a THEN pos1a - 1 ELSE pos1a END AS pos1,
      CASE WHEN m2 = pos1a THEN pos2a ELSE pos2a + 1 END AS pos2,
      CASE WHEN m2 < v THEN counts[(m2 + 1)::INT] ELSE ci[(m2 - v + 1)::INT] END AS c2
    FROM (
      SELECT (a + 1) AS a, counts, v, ci,
        CASE WHEN pos1 >= 0 AND
          (CASE WHEN pos1 < v THEN counts[(pos1 + 1)::INT]
                WHEN pos1 - v < len(ci) THEN ci[(pos1 - v + 1)::INT]
                ELSE 4611686018427387904 END)
          <
          (CASE WHEN pos2 < v THEN counts[(pos2 + 1)::INT]
                WHEN pos2 - v < len(ci) THEN ci[(pos2 - v + 1)::INT]
                ELSE 4611686018427387904 END)
        THEN pos1 ELSE pos2 END AS m1,
        CASE WHEN m1 = pos1 THEN pos1 - 1 ELSE pos1 END AS pos1a,
        CASE WHEN m1 = pos1 THEN pos2 ELSE pos2 + 1 END AS pos2a,
        CASE WHEN m1 < v THEN counts[(m1 + 1)::INT] ELSE ci[(m1 - v + 1)::INT] END AS c1
      FROM merge WHERE a + 1 <= v - 2
    )
  )
),
steps AS (SELECT a, min1, min2, v FROM merge WHERE a >= 0),
hnodes AS (
  SELECT min1 AS node, v + a AS parent, 0 AS bit FROM steps
  UNION ALL
  SELECT min2 AS node, v + a AS parent, 1 AS bit FROM steps
),
walk AS (
  SELECT vv.index::BIGINT AS leaf, vv.index::BIGINT AS cur,
         CAST([] AS TINYINT[]) AS bits, CAST([] AS BIGINT[]) AS nds
  FROM vocab vv
  UNION ALL
  SELECT w.leaf, n.parent::BIGINT, list_append(w.bits, n.bit::TINYINT),
         list_append(w.nds, w.cur)
  FROM walk w JOIN hnodes n ON n.node = w.cur
),
done AS (
  SELECT w.* FROM walk w, lc WHERE w.cur = 2 * lc.v - 2
)
-- v = 1 degenerate vocab: the walk's base row already sits at the root
-- (leaf 0 == 2v-2 == 0), so bits/nds are empty — but word2vec's do-while
-- records binary[leaf] BEFORE testing the root, and its calloc'd binary
-- array makes that bit 0 (the engine reproduces this deliberately:
-- functions/huffman._walk_codes appends first, then tests parent==root).
-- The recursive walk cannot take that step (hnodes has no edges at v=1),
-- so the do-while's one-bit result is spelled out as a CASE.
SELECT vb.ngram, vb.count, vb.index,
  CASE WHEN lc.v = 1 THEN '0'
       ELSE array_to_string(list_reverse(d.bits), '') END AS code,
  (CASE WHEN lc.v = 1 THEN 1 ELSE len(d.bits) END)::INT AS code_len,
  CASE WHEN lc.v = 1 THEN '-1,-1'
       ELSE array_to_string(
    list_prepend(lc.v - 2, list_transform(list_reverse(d.nds), x -> x - lc.v)),
    ',') END AS points_csv
FROM done d
JOIN vocab vb ON vb.index = d.leaf
CROSS JOIN lc
"""

    o["multihot_indices"] = f"""
WITH {_TOKS_CTE},
{_NGRAM_CTE.lstrip().rstrip()},
tok_d AS (SELECT DISTINCT text AS token FROM toks WHERE length(text) > 0),
tok_grams AS (
  SELECT token, unnest(
    CASE WHEN length(w) >= 3
      THEN list_transform(range(1, length(w) - 1), i -> substr(w, i::INT, 3))
      ELSE [NULL] END) AS ngram
  FROM (
    SELECT token,
      '#' || LOWER_SQL(regexp_replace(token, '[^\\p{{L}}\\p{{N}}\\p{{P}}\\p{{Sm}}\\p{{Sc}}]', '', 'g')) || '#' AS w
    FROM tok_d
  )
),
joined AS (
  SELECT g.token, g.ngram, v.index
  FROM tok_grams g LEFT JOIN vocab v ON g.ngram = v.ngram
)
SELECT token,
  COALESCE(array_to_string(list_sort(list(DISTINCT index) FILTER (index IS NOT NULL)), ','), '') AS indices_csv,
  (SUM(CASE WHEN index IS NOT NULL THEN 1 ELSE 0 END)
     < SUM(CASE WHEN ngram IS NOT NULL THEN 1 ELSE 0 END))::INT AS is_unknown
FROM joined GROUP BY token
"""

    o["span_decode"] = f"""
WITH {_TOKS_CTE},
{_spans_cte(GOLD_B, GOLD_I).strip()}
SELECT doc_id, sentence_id, start_tok, end_tok, mention_text FROM spans
"""

    _prf_cte = f"""
WITH {_TOKS_CTE},
{_spans_cte(GOLD_B, GOLD_I, pref='g').strip()},
{_spans_cte(PRED_B, PRED_I, pref='p').strip()}
"""

    o["entity_prf1"] = f"""{_prf_cte},
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

    o["error_stats_by_length"] = f"""{_prf_cte},
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

    o["error_chart_data"] = f"""
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

    o["token_prf1"] = f"""
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

    o["sentence_perfect"] = f"""{_prf_cte},
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

    o["ensemble_spans"] = f"""
WITH {_TOKS_CTE},
{_spans_cte(PRED_B, PRED_I, pref='p')},
{_spans_cte(PRED2_B, PRED2_I, pref='q')}
SELECT p.doc_id, p.sentence_id, p.start_tok, p.end_tok, p.mention_text
FROM p_spans p JOIN q_spans q
  ON q.doc_id = p.doc_id AND q.sentence_id = p.sentence_id
 AND q.start_tok = p.start_tok AND q.end_tok = p.end_tok
"""

    o["overlap_stats"] = f"""
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

    o["bioul_to_bio2"] = f"""
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

    o["eval_format"] = f"""
WITH {_TOKS_CTE}
SELECT doc_id, sentence_id, token_id,
  text || ' ' || {_tag_case(GOLD_B, GOLD_I)} || ' ' || {_tag_case(PRED_B, PRED_I)} AS line
FROM toks WHERE length(text) > 0
"""

    o["error_csv_rows"] = f"""
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

    o["dict_mentions"] = f"""
WITH {_TOKS_CTE},
{_kg_cte().strip()}
SELECT doc_id, sentence_id, start_tok, end_tok, mention_text, canonical_id, component
FROM linked
"""

    o["kg_triples"] = f"""
WITH {_TOKS_CTE},
{_kg_cte().strip()}
SELECT subj, pred, obj, doc_id, sentence_id FROM triples
"""

    # --- KG analytics oracles: recompute the triple set via _kg_cte, then
    # the analytics in plain SQL (kg_analytics.py docstrings state the
    # shared math) ---------------------------------------------------------
    o["kg_degree"] = f"""
WITH {_TOKS_CTE},
{_kg_cte().strip()},
sides AS (
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

    o["kg_pmi"] = f"""
WITH {_TOKS_CTE},
{_kg_cte().strip()},
pm_pairs AS (
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

    o["kg_pagerank"] = f"""
WITH {_TOKS_CTE},
{_kg_cte().strip()},
{_pagerank_cte(iterations=5).strip()}
"""

    o["kg_pagerank_weighted"] = f"""
WITH {_TOKS_CTE},
{_kg_cte().strip()},
{_pagerank_cte(iterations=5, weighted=True).strip()}
"""

    o["kg_khop"] = f"""
WITH {_TOKS_CTE},
{_kg_cte().strip()},
{_khop_cte(k=3, n_seeds=5).strip()}
"""

    o["kg_snapshot_diff"] = f"""
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

    o["connected_components"] = f"""
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

    o["corpus_split_semijoin"] = """
SELECT s.split, COUNT(d.doc_id)::BIGINT AS n_docs
FROM (VALUES ('train'), ('val'), ('test')) s(split)
LEFT JOIN documents d ON s.split = CASE
  WHEN d.doc_id % 10 <= 6 THEN 'train'
  WHEN d.doc_id % 10 = 7 THEN 'val'
  ELSE 'test' END
GROUP BY s.split
"""

    # COALESCE sentinel: NULL text must fingerprint per-id, never group as
    # one NULL key — same law as ops/dedup.exact_duplicate_groups and
    # streaming/stateful.streaming_dedup.
    o["dedup_exact"] = rf"""
SELECT COALESCE(md5({_NORM_SQL}),
                'null:' || CAST(doc_id AS VARCHAR)) AS fingerprint,
       COUNT(*)::BIGINT AS n_docs, MIN(doc_id) AS min_doc_id
FROM documents GROUP BY 1
"""

    o["minhash_signatures"] = f"""
WITH {_minhash_cte().strip()}
SELECT * FROM sigs
"""

    o["lsh_candidates"] = f"""
WITH {_minhash_cte().strip()},
{_bands_cte()}
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
"""

    o["jaccard_pairs"] = rf"""
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

    # near-dup clusters: the same pairwise-Jaccard SQL, then a recursive-CTE
    # transitive closure (min-id per component) — independent of the engine's
    # LSH + large-star/small-star path, so it also re-proves LSH recall on
    # this corpus (a >=0.8 pair missed by the banded candidates would split
    # a cluster and hash-mismatch; at jaccard >=0.9 — all pairs here — band
    # recall is ~0.999 and the deterministic hashes do collide).
    o["near_dup_clusters"] = rf"""
WITH RECURSIVE {_norm_words_cte()},
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
comp AS (SELECT node, MIN(reached) AS cluster_id FROM reach GROUP BY node)
SELECT d.doc_id,
       COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
       (CASE WHEN COALESCE(c.cluster_id, d.doc_id) = d.doc_id
             THEN 1 ELSE 0 END)::INT AS is_representative
FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
"""

    # decontamination: 8-gram overlap vs the doc_id%41 benchmark split,
    # recomputed with DuckDB list ops
    o["decontamination"] = rf"""
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

    o["simhash"] = _simhash_sql()

    o["lang_guess"] = f"""
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

    o["quality_features"] = rf"""
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

    o["token_counts"] = rf"""
SELECT doc_id,
  len(list_filter(string_split_regex(text, '{_WS_SQL}+'), w -> len(w) > 0))::INT AS ws_tokens,
  len(regexp_extract_all(text, '[A-Za-z]{{1,4}}|[0-9]|[^A-Za-z0-9{_WS_CHARS}]'))::INT AS subword_est
FROM documents
"""

    o["fingerprints"] = rf"""
WITH fp AS (SELECT doc_id, md5({_NORM_SQL}) AS fingerprint FROM documents)
SELECT doc_id, fingerprint, substr(fingerprint, 1, 16) AS fingerprint16
FROM fp
"""

    o["cosine_topk"] = """
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

    # --- LSH / near-dup / IVF similarity: same plane constants + cosine
    # formula as the Spark side (bioner_spark/ops/similarity.py) -----------
    from bioner_spark.ops.similarity import hyperplanes

    planes = hyperplanes(64, 8, 1234)

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

    o["lsh_topk"] = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
         {_bucket_sql('embedding::DOUBLE[]', planes)} AS bucket
  FROM embeddings WHERE vec_id < 10
),
c AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv,
         {_bucket_sql('embedding::DOUBLE[]', planes)} AS bucket
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

    # identical planes + identical cosine → the materialized-index probe
    # must reproduce lsh_topk exactly; reusing the SQL makes that a checked
    # invariant rather than a docstring claim
    o["lsh_topk_indexed"] = o["lsh_topk"]

    o["embedding_near_dup"] = f"""
WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (
  SELECT id, v,
         {_bucket_sql('v', planes[0:4])} AS k0,
         {_bucket_sql('v', planes[4:8])} AS k1
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

    _cent_ids = ", ".join(str(i) for i in IVF_CENTROID_IDS)
    o["ivf_topk"] = f"""
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

    # extract_roundtrip: the Spark side compares the UDF extractor against
    # its per-line law recomputed in native SQL (see the query docstring);
    # 0 is therefore a UNIVERSAL invariant of the two implementations
    # agreeing, not a precondition on the corpus being pre-normalized.
    o["extract_roundtrip"] = """
SELECT COUNT(*)::BIGINT AS n_docs, 0::BIGINT AS n_mismatch FROM documents
"""

    # fastText subword inference (P5): DuckDB independently recomputes
    # subwords ('<w>' codepoint n-grams, n∈[3,4]) → FNV-1a over UTF-8
    # BYTES with fastText's signed-char cast (each codepoint expands to
    # its UTF-8 byte sequence arithmetically; bytes >= 0x80 sign-extend to
    # 4294967040 + b, exactly uint32_t(int8_t(b)) — the engine law in
    # ner/fasttext.fnv1a) → bucket (mod 2000) → integer-lattice sums.
    # Exact int64 equality, no floats, correct for non-ASCII tokens too.
    o["fasttext_vectors"] = f"""
WITH {_TOKS_CTE},
words AS (
  SELECT DISTINCT text AS token FROM toks WHERE length(text) > 0
),
sub AS (
  -- EOS special case mirrors production subword_rows: fastText's '</s>'
  -- gets NO character n-grams, so it is excluded here and re-added below
  -- with zero subwords/sums
  SELECT token, '<' || token || '>' AS w FROM words WHERE token <> '</s>'
),
grams AS (
  -- position table sized from the actual longest padded token, NOT a
  -- fixed cap: a 350-char unbroken token (URL/hash) would otherwise lose
  -- its tail subwords here while the engine computes all of them
  SELECT token, substring(w, i, n) AS sw
  FROM sub, (SELECT unnest(generate_series(3, 4)) AS n) ns,
       (SELECT unnest(generate_series(1,
          (SELECT COALESCE(MAX(length(w)), 1) FROM sub))) AS i) pos
  WHERE i <= length(w) - n + 1
),
hashed AS (
  SELECT token,
    list_reduce(
      list_prepend(2166136261::BIGINT,
        flatten(list_transform(
          list_transform(generate_series(1, length(sw)),
                         j -> unicode(substring(sw, j, 1))),
          cp -> CASE
            WHEN cp < 128 THEN [cp::BIGINT]
            WHEN cp < 2048 THEN
              [4294967040 + 192 + cp // 64,
               4294967040 + 128 + cp % 64]
            WHEN cp < 65536 THEN
              [4294967040 + 224 + cp // 4096,
               4294967040 + 128 + (cp // 64) % 64,
               4294967040 + 128 + cp % 64]
            ELSE
              [4294967040 + 240 + cp // 262144,
               4294967040 + 128 + (cp // 4096) % 64,
               4294967040 + 128 + (cp // 64) % 64,
               4294967040 + 128 + cp % 64]
          END))),
      (h, b) -> (xor(h, b) * 16777619) % 4294967296
    ) % 2000 AS r
  FROM grams
)
SELECT token, COUNT(*)::INT AS n_subwords,
  SUM(((r * 2654435761 + 0 * 40503 + 17) % 2001) - 1000)::BIGINT AS s0,
  SUM(((r * 2654435761 + 1 * 40503 + 17) % 2001) - 1000)::BIGINT AS s1,
  SUM(((r * 2654435761 + 2 * 40503 + 17) % 2001) - 1000)::BIGINT AS s2
FROM hashed GROUP BY token
UNION ALL
SELECT token, 0::INT AS n_subwords, 0::BIGINT AS s0, 0::BIGINT AS s1,
  0::BIGINT AS s2
FROM words WHERE token = '</s>'
"""

    # neural north-star path: the oracle is the committed output of the
    # single-node numpy authority (scripts/gen_neural_golden.py) on the
    # fixed fixture corpus — tags + winning-logit scores. This makes the
    # distributed fastText-encode → stacked+BN forward a REAL pass/fail
    # CORRECTNESS row (VERDICT round-1 item 2).
    golden_rows = ",\n  ".join(
        f"('{d}', {s}, {t}, '{w}', '{tag}', {score})"
        for d, s, t, w, tag, score in NEURAL_GOLDEN_TAGS
    )
    o["neural_ner_tags"] = f"""
SELECT doc_id, sentence_id::INT AS sentence_id, token_id::INT AS token_id,
       text, tag, score::DOUBLE AS score
FROM (VALUES
  {golden_rows}
) AS t(doc_id, sentence_id, token_id, text, tag, score)
"""

    # corpus_filter: the composed cleaning chain, every rule recomputed
    # independently (lang argmax, whitespace tokens, md5 min-id exact rep,
    # recursive-CTE near-dup closure at 0.8, 8-gram decontamination) with
    # the same fixed reject precedence
    o["corpus_filter"] = rf"""
WITH RECURSIVE {_norm_words_cte()},
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
comp AS (SELECT node, MIN(reached) AS cluster_id FROM reach GROUP BY node),
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

    # multimodal_hist: DuckDB recomputes the byte histogram from
    # hex(encode(text)) — bin = byte >> 3, zero bins materialized — in exact
    # integer arithmetic, verifying the binary-column mapInPandas plumbing
    # end-to-end
    o["multimodal_hist"] = """
WITH media AS (
  SELECT CAST(doc_id AS VARCHAR) AS media_id,
         CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS modality,
         hex(encode(COALESCE(text, ''))) AS hx,
         octet_length(encode(COALESCE(text, '')))::INT AS n_bytes
  FROM documents
),
bytes AS (
  SELECT media_id,
    unnest(list_transform(range(0, n_bytes),
      i -> (strpos('0123456789ABCDEF', substring(hx, (2*i+1)::INT, 1)) - 1) * 16
         + (strpos('0123456789ABCDEF', substring(hx, (2*i+2)::INT, 1)) - 1))) AS b
  FROM media
),
counts AS (
  SELECT media_id, (b // 8)::INT AS bin, COUNT(*)::INT AS n
  FROM bytes GROUP BY 1, 2
),
bins AS (SELECT unnest(range(0, 32))::INT AS bin)
SELECT m.media_id, m.modality, m.n_bytes, bins.bin,
       COALESCE(c.n, 0)::INT AS n
FROM media m CROSS JOIN bins
LEFT JOIN counts c ON c.media_id = m.media_id AND c.bin = bins.bin
"""

    # multimodal_decode: DuckDB recomputes the DECODED-value histograms from
    # the synthesis formulas (odd docs: int16 PCM samples ((d*7919 +
    # i*104729) mod 65536) − 32768 binned by >>12; even docs: P6 bytes
    # ((d*31 + j*17) mod 256) binned by >>4) — never parsing the containers,
    # so a writer or parser defect on the Spark side cannot cancel out
    o["multimodal_decode"] = """
WITH aud AS (
  SELECT doc_id, ((COALESCE(n_chars, 0) % 200) + 50)::INT AS n
  FROM documents WHERE doc_id % 2 = 1
),
aud_vals AS (
  SELECT CAST(doc_id AS VARCHAR) AS media_id, 'audio' AS modality,
         n AS n_values,
         (((doc_id*7919 + unnest(range(0, n))*104729) % 65536) // 4096)::INT AS bin
  FROM aud
),
img AS (
  SELECT doc_id, ((COALESCE(n_chars, 0) % 16) + 4) * 8 * 3 AS n
  FROM documents WHERE doc_id % 2 = 0
),
img_vals AS (
  SELECT CAST(doc_id AS VARCHAR) AS media_id, 'image' AS modality,
         n::INT AS n_values,
         (((doc_id*31 + unnest(range(0, n))*17) % 256) // 16)::INT AS bin
  FROM img
),
vals AS (SELECT * FROM aud_vals UNION ALL SELECT * FROM img_vals),
counts AS (
  SELECT media_id, modality, n_values, bin, COUNT(*)::INT AS n
  FROM vals GROUP BY 1, 2, 3, 4
),
base AS (SELECT DISTINCT media_id, modality, n_values FROM vals),
bins AS (SELECT unnest(range(0, 16))::INT AS bin)
SELECT base.media_id, base.modality, base.n_values, bins.bin,
       COALESCE(c.n, 0)::INT AS n
FROM base CROSS JOIN bins
LEFT JOIN counts c ON c.media_id = base.media_id AND c.bin = bins.bin
"""

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
    import os as _os

    _kg_gold = _os.path.join(
        _os.path.dirname(_os.path.abspath(__file__)), "tests", "fixtures", "kg_gold"
    )
    o["kg_pipeline_synthetic"] = f"""
WITH RECURSIVE
al AS (SELECT * FROM read_parquet('{_kg_gold}/alias.parquet')),
gm AS (SELECT * FROM read_parquet('{_kg_gold}/mentions.parquet')),
gt AS (SELECT * FROM read_parquet('{_kg_gold}/tokens.parquet')),
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

    # multimodal_features: f0 = bin-0 byte-histogram count / total bytes,
    # recomputed in single precision (FLOAT/FLOAT → bit-identical to the
    # UDF's numpy float32 division) and cast to double. The decode itself is
    # the documented deterministic stub; the oracle verifies the float path
    # of the same mapInPandas plumbing multimodal_hist verifies in ints.
    o["multimodal_features"] = """
WITH media AS (
  SELECT CAST(doc_id AS VARCHAR) AS media_id,
         CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS modality,
         hex(encode(COALESCE(text, ''))) AS hx,
         octet_length(encode(COALESCE(text, '')))::INT AS n_bytes
  FROM documents
),
bytes AS (
  SELECT media_id,
    unnest(list_transform(range(0, n_bytes),
      i -> (strpos('0123456789ABCDEF', substring(hx, (2*i+1)::INT, 1)) - 1) * 16
         + (strpos('0123456789ABCDEF', substring(hx, (2*i+2)::INT, 1)) - 1))) AS b
  FROM media
),
bin0 AS (
  SELECT media_id, COUNT(*)::INT AS h0 FROM bytes WHERE b < 8 GROUP BY media_id
)
SELECT m.media_id, m.modality, m.n_bytes,
       CASE WHEN m.n_bytes = 0 THEN 0.0
            ELSE CAST(CAST(COALESCE(b.h0, 0) AS FLOAT)
                      / CAST(m.n_bytes AS FLOAT) AS DOUBLE)
       END AS f0
FROM media m LEFT JOIN bin0 b USING (media_id)
"""

    # streaming_dedup_ledger: the final per-fingerprint ledger of the
    # stateful streaming dedup is deterministic regardless of micro-batch
    # boundaries — n_firsts is 1 by the operator contract (state carries
    # across batches) and the max running-duplicate counter is n_docs - 1.
    o["streaming_dedup_ledger"] = rf"""
WITH fp AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc,
         COALESCE(md5({_NORM_SQL}),
                  'null:' || CAST(doc_id AS VARCHAR)) AS fingerprint
  FROM documents
)
SELECT fingerprint,
       COUNT(*)::BIGINT AS n_docs,
       CAST(1 AS BIGINT) AS n_firsts,
       (COUNT(*) - 1)::BIGINT AS max_dup,
       MIN(doc) AS min_doc
FROM fp GROUP BY fingerprint
"""

    # streaming_window_counts: recompute the watermarked windowed counts
    # from the generator's GOLD tokens (never engine output) + page event
    # times. Single-word aliases resolve to MIN(canonical_id) (the
    # stream-static broadcast join's rule); 15-min buckets via time_bucket
    # (origin 2000-01-01 is 15-min-aligned with Spark's 1970 epoch, so the
    # boundaries agree); the sentinel page exists only on the query side
    # and its window is never emitted, so the oracle covers real docs only.
    o["streaming_window_counts"] = f"""
WITH gt AS (SELECT * FROM read_parquet('{_kg_gold}/tokens.parquet')),
pm AS (SELECT * FROM read_parquet('{_kg_gold}/pages_meta.parquet')),
al AS (SELECT * FROM read_parquet('{_kg_gold}/alias.parquet')),
single AS (
  SELECT alias, MIN(canonical_id) AS canonical_id FROM al
  WHERE length(string_split(alias, ' ')) = 1 GROUP BY alias
),
matched AS (
  SELECT p.warc_ts, s.canonical_id
  FROM gt t
  JOIN pm p ON t.doc_id = p.url
  JOIN single s ON LOWER_SQL(t.text) = s.alias
)
SELECT epoch(time_bucket(INTERVAL '15 minutes', warc_ts))::BIGINT AS window_start,
       canonical_id, COUNT(*)::BIGINT AS n_mentions
FROM matched GROUP BY 1, 2
"""

    # pubtator_iob: the oracle never sees the PubTator files — it recomputes
    # the expected (token, IOB tag) rows directly from `documents`: global
    # char offsets = sentence-local offsets + kept-sentence cumulative
    # offsets (1-char separators), mention spans from the gazetteer CTE's
    # token spans, then the same earliest-start/longest-wins projection the
    # engine applies to the PARSED annotations. Any drift in render, file
    # write, read, parse, re-tokenize, or project breaks the hash.
    o["pubtator_iob"] = f"""
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

    # expand the LOWER_SQL(...) markers into the Java-lower() shim (see
    # _lower_sql) — one pass over every oracle, so no site can forget it
    return {k: _expand_lower_sql(v) for k, v in o.items()}
