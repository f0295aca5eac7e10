"""Contract family: fastText subword inference (P5, exact-integer oracle)
and the neural north-star path (golden-fixture oracle).

Neural fixture: a fixed corpus + seeded stacked+BN model + fastText fixture
embeddings. The oracle for `neural_ner_tags` is NEURAL_GOLDEN_TAGS —
computed ONCE by the single-node numpy authority
(scripts/gen_neural_golden.py, no Spark involved) and committed; the
distributed path must reproduce it token-for-token."""

from __future__ import annotations

import numpy as np

from bioner_spark.contract.fixtures import _tokens
from bioner_spark.contract.sql import _TOKS_CTE
from bioner_spark.ner.fasttext import FastTextModel, int_subword_check
from bioner_spark.ner.infer import annotate_tokens_fasttext
from bioner_spark.ner.kernel import load_model_config

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


def fasttext_vectors(spark, sf_dir):
    """Per distinct corpus token: subword count + int64 lattice sums of
    the first 3 embedding dims — the full subwords→FNV-1a→bucket→gather
    pipeline verified in exact integer arithmetic (bioner_spark/ner/
    fasttext.py; reference fasttext_encoder.py:26-28)."""
    return int_subword_check(_tokens(spark, sf_dir))


# fastText subword inference (P5): DuckDB independently recomputes
# subwords ('<w>' codepoint n-grams, n∈[3,4]) → FNV-1a over UTF-8
# BYTES with fastText's signed-char cast (each codepoint expands to
# its UTF-8 byte sequence arithmetically; bytes >= 0x80 sign-extend to
# 4294967040 + b, exactly uint32_t(int8_t(b)) — the engine law in
# ner/fasttext.fnv1a) → bucket (mod 2000) → integer-lattice sums.
# Exact int64 equality, no floats, correct for non-ASCII tokens too.
FASTTEXT_VECTORS_SQL = f"""
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


def neural_ner_tags(spark, sf_dir):
    """Distributed BioNER-shape inference (fastText encode → stacked+BN
    numpy forward inside mapInPandas, token-budget batching) on the
    fixed fixture corpus. Oracle = NEURAL_GOLDEN_TAGS, committed values
    computed by the SINGLE-NODE numpy authority
    (scripts/gen_neural_golden.py) — tags AND winning-logit scores, so
    the check verifies the forward numerically, not just argmax.
    sf_dir is unused by design: the fixture corpus is sf-independent."""
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


# neural north-star path: the oracle is the committed output of the
# single-node numpy authority (scripts/gen_neural_golden.py) on the
# fixed fixture corpus — tags + winning-logit scores. This makes the
# distributed fastText-encode → stacked+BN forward a REAL pass/fail
# CORRECTNESS row (VERDICT round-1 item 2).
_GOLDEN_ROWS = ",\n  ".join(
    f"('{d}', {s}, {t}, '{w}', '{tag}', {score})"
    for d, s, t, w, tag, score in NEURAL_GOLDEN_TAGS
)
NEURAL_NER_TAGS_SQL = f"""
SELECT doc_id, sentence_id::INT AS sentence_id, token_id::INT AS token_id,
       text, tag, score::DOUBLE AS score
FROM (VALUES
  {_GOLDEN_ROWS}
) AS t(doc_id, sentence_id, token_id, text, tag, score)
"""


_CONTRACT = (
    (fasttext_vectors, FASTTEXT_VECTORS_SQL),
    (neural_ner_tags, NEURAL_NER_TAGS_SQL),
)
QUERIES = {q.__name__: q for q, _ in _CONTRACT}
ORACLES = {q.__name__: sql for q, sql in _CONTRACT}
