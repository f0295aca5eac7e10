"""Keeps the committed NEURAL_GOLDEN_TAGS oracle in sync with the
single-node numpy authority — if the kernel, the fastText fixture, or the
fixture corpus changes, this fails locally before the driver's oracle gate
does (regenerate with scripts/gen_neural_golden.py)."""

from __future__ import annotations

import numpy as np


def test_committed_golden_matches_authority():
    from bioner_spark.contract.neural import (
        NEURAL_FIXTURE_SENTENCES,
        NEURAL_GOLDEN_TAGS,
        neural_fixture_models,
    )

    ft, model = neural_fixture_models()
    expected = []
    for doc_id, sentence_id, text in NEURAL_FIXTURE_SENTENCES:
        words = text.split(" ")
        x = np.stack([ft.word_vector(w) for w in words])[None, :, :]
        lengths = np.array([len(words)])
        tags, scores = model.predict_tags_scores(x, lengths)
        for ti, (w, tag, sc) in enumerate(zip(words, tags[0], scores[0])):
            expected.append((doc_id, sentence_id, ti, w, tag, sc))
    assert expected == list(NEURAL_GOLDEN_TAGS)
    # the fixture must exercise every BIO branch, or the oracle is weak
    seen = {t for *_rest, t, _s in NEURAL_GOLDEN_TAGS}
    assert seen == {"B", "I", "O"}


def test_golden_margins_are_float_safe():
    """Worst-case argmax margin and score-rounding boundary distance must
    dwarf float32 noise, or the oracle could flake across BLAS paths."""
    from bioner_spark.contract.neural import NEURAL_FIXTURE_SENTENCES, neural_fixture_models

    ft, model = neural_fixture_models()
    margin = 1e9
    bdry = 1e9
    for _doc, _si, text in NEURAL_FIXTURE_SENTENCES:
        words = text.split(" ")
        x = np.stack([ft.word_vector(w) for w in words])[None, :, :]
        logits = model.forward(x, np.array([len(words)]))[0]
        top2 = np.sort(logits, axis=-1)
        margin = min(margin, float((top2[:, -1] - top2[:, -2]).min()))
        frac = np.abs(((top2[:, -1].astype(np.float64) * 100) % 1.0) - 0.5)
        bdry = min(bdry, float(frac.min()))
    assert margin > 1e-4
    assert bdry > 1e-3
