"""Generate the committed golden tags for the `neural_ner_tags` oracle.

Single-node authority (NO Spark): tokenize the fixed fixture sentences,
encode each token with the fastText fixture model, run the stacked+BN
sequence model per sentence (un-batched — the kernel is batching-invariant,
tests/test_ner_kernel.py), print the VALUES literal to paste into
bioner_spark/contract/neural.py.

The driver then compares the DISTRIBUTED path (mapInPandas fastText encode →
token-budget batched forward) against these independently-computed values —
this is what turns the neural north-star path from rows-only into a real
CORRECTNESS pass (VERDICT round-1 item 2).

Run: python scripts/gen_neural_golden.py
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bioner_spark.contract.neural import (  # noqa: E402
    NEURAL_FIXTURE_SENTENCES,
    neural_fixture_models,
)


def main() -> None:
    ft, model = neural_fixture_models()
    rows = []
    margins = []
    bdry = 1e9
    for doc_id, sentence_id, text in NEURAL_FIXTURE_SENTENCES:
        words = text.split(" ")
        x = np.stack([ft.word_vector(w) for w in words])[None, :, :]
        lengths = np.array([len(words)])
        logits = model.forward(x, lengths)[0]
        top2 = np.sort(logits, axis=-1)
        margins.append(float((top2[:, -1] - top2[:, -2]).min()))
        # distance of the winning logit from the nearest 0.005 rounding
        # boundary — must dwarf float32 noise or the score column could flake
        frac = np.abs(((top2[:, -1] * 100) % 1.0) - 0.5)
        bdry = min(bdry, float(frac.min()))
        tags, scores = model.predict_tags_scores(x, lengths)
        for ti, (w, tag, sc) in enumerate(zip(words, tags[0], scores[0])):
            rows.append((doc_id, sentence_id, ti, w, tag, sc))

    assert min(margins) > 1e-4, f"argmax margin too small: {min(margins)}"
    assert bdry > 1e-3, f"score rounding boundary too close: {bdry}"
    print(f"-- min argmax margin over all tokens: {min(margins):.6f}")
    print(f"-- min score rounding-boundary distance (x100): {bdry:.6f}")
    print(f"-- n rows: {len(rows)}")
    print("NEURAL_GOLDEN_TAGS = [")
    for r in rows:
        print(f"    {r!r},")
    print("]")


if __name__ == "__main__":
    main()
