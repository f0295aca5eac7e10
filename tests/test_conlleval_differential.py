"""Differential gate against the reference's own external eval authority:
scripts/conlleval.pl (consumed by the reference via
dataset_to_conll_file.py:6-16). We run the Perl oracle IN PLACE from the
read-only reference checkout on the engine's write_eval_conll output and
assert span-level P/R/F1 equality with metrics.entity_level_prf1.

Semantics note: conlleval treats I-after-O as a chunk start (its
startOfChunk: prev 'O' + tag 'I' → start), which is exactly the reference
Python state machine's I-after-O rule (entity_level_precision_recall.py:142)
and the engine's decode_spans — so the three agree with NO divergence on
plain B/I/O tags. (Divergences would only appear with typed tags like B-LOC
vs I-MISC continuation, which the BioNER pipeline never emits.)"""

from __future__ import annotations

import re
import subprocess
from pathlib import Path

import pytest

CONLLEVAL = Path("/root/reference/scripts/conlleval.pl")

pytestmark = pytest.mark.skipif(
    not CONLLEVAL.exists(), reason="reference conlleval.pl not available"
)


def _run_conlleval(eval_file: Path) -> dict[str, float]:
    out = subprocess.run(
        ["perl", str(CONLLEVAL)],
        stdin=open(eval_file, "rb"),
        capture_output=True,
        check=True,
    ).stdout.decode()
    m = re.search(
        r"precision:\s+([\d.]+)%; recall:\s+([\d.]+)%; FB1:\s+([\d.]+)", out
    )
    assert m, out
    counts = re.search(r"found:\s+(\d+) phrases; correct:\s+(\d+)", out)
    assert counts, out
    return {
        "precision": float(m.group(1)) / 100.0,
        "recall": float(m.group(2)) / 100.0,
        "f1": float(m.group(3)) / 100.0,
        "found": int(counts.group(1)),
        "correct": int(counts.group(2)),
    }


def _token_rows(tagged: list[tuple[str, list[tuple[str, str, str]]]]):
    """[(doc, [(text, gold, pred), ...sentence tokens])] → token rows."""
    rows = []
    sent_by_doc: dict[str, int] = {}
    for doc, sent in tagged:
        si = sent_by_doc.get(doc, 0)
        sent_by_doc[doc] = si + 1
        for ti, (text, gold, pred) in enumerate(sent):
            rows.append((doc, si, ti, text, gold, pred))
    return rows


CASES = [
    # exercises: exact match, B-B split, I-after-O opens (both sides),
    # boundary mismatch, missed span, spurious span, span at sentence end
    ("d0", [("aspirin", "B", "B"), ("works", "O", "O"), ("fast", "O", "O")]),
    ("d0", [("beta", "B", "B"), ("blocker", "I", "I"), ("dose", "O", "B")]),
    ("d0", [("x", "O", "O"), ("tumor", "I", "I"), ("cells", "I", "I")]),  # I-after-O
    ("d1", [("acid", "B", "O"), ("reflux", "I", "O"), ("seen", "O", "O")]),
    ("d1", [("gene", "B", "B"), ("therapy", "I", "B"), ("trial", "O", "O")]),
    ("d1", [("end", "O", "O"), ("span", "B", "B")]),  # open span at sentence end
    ("d2", [("a", "B", "B"), ("b", "B", "I"), ("c", "B", "B")]),  # B-B-B vs B-I-B
]


def test_engine_prf1_matches_conlleval(spark, tmp_path):
    from bioner_spark.io.conll import write_eval_conll
    from bioner_spark.metrics import entity_level_prf1
    from bioner_spark.spans import decode_spans

    rows = _token_rows(CASES)
    schema = "doc_id string, sentence_id int, token_id int, text string, gold string, pred string"
    df = spark.createDataFrame(rows, schema)
    gold_toks = df.select(
        "doc_id", "sentence_id", "token_id", "text", df.gold.alias("tag")
    )
    pred_toks = df.select(
        "doc_id", "sentence_id", "token_id", "text", df.pred.alias("tag")
    )

    eval_file = tmp_path / "eval.conll"
    write_eval_conll(gold_toks, pred_toks, str(eval_file))
    oracle = _run_conlleval(eval_file)

    engine = entity_level_prf1(
        decode_spans(pred_toks), decode_spans(gold_toks)
    ).collect()[0]

    assert engine["predicted"] == oracle["found"]
    assert engine["true_positives"] == oracle["correct"]
    # conlleval prints percentages rounded to 2 decimals
    assert round(engine["precision"] * 100, 2) == round(oracle["precision"] * 100, 2)
    assert round(engine["recall"] * 100, 2) == round(oracle["recall"] * 100, 2)
    assert round(engine["f1"] * 100, 2) == round(oracle["f1"] * 100, 2)


def test_neural_pipeline_prf1_matches_conlleval(spark, tmp_path):
    """Close the loop end-to-end: the engine's own neural fixture output
    (distributed inference) evaluated by conlleval vs the engine metric."""
    from bioner_spark.contract.neural import NEURAL_FIXTURE_SENTENCES, neural_fixture_models
    from bioner_spark.io.conll import write_eval_conll
    from bioner_spark.metrics import entity_level_prf1
    from bioner_spark.ner.infer import annotate_tokens_fasttext
    from bioner_spark.spans import decode_spans

    ft, model = neural_fixture_models()
    rows = []
    for doc_id, sentence_id, text in NEURAL_FIXTURE_SENTENCES:
        for ti, w in enumerate(text.split(" ")):
            rows.append((doc_id, sentence_id, ti, w))
    tokens = spark.createDataFrame(
        rows, "doc_id string, sentence_id int, token_id int, text string"
    )
    pred_toks = annotate_tokens_fasttext(tokens, ft, model).select(
        "doc_id", "sentence_id", "token_id", "text", "tag"
    )
    # synthetic gold: every 5th token starts a 2-token entity
    from pyspark.sql import functions as F

    gold_toks = tokens.withColumn(
        "tag",
        F.when(F.col("token_id") % 5 == 0, "B")
        .when(F.col("token_id") % 5 == 1, "I")
        .otherwise("O"),
    )
    eval_file = tmp_path / "eval_neural.conll"
    write_eval_conll(gold_toks, pred_toks, str(eval_file))
    oracle = _run_conlleval(eval_file)
    engine = entity_level_prf1(
        decode_spans(pred_toks), decode_spans(gold_toks)
    ).collect()[0]
    assert engine["predicted"] == oracle["found"]
    assert engine["true_positives"] == oracle["correct"]
    assert round(engine["f1"] * 100, 2) == round(oracle["f1"] * 100, 2)
