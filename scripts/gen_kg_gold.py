"""Materialize the synthetic corpus's GOLD side tables as parquet fixtures.

The kg_pipeline_synthetic oracle recomputes the expected triples in DuckDB
from these gold tables (mentions at generator-known positions + the token
stream for the verb scan + the alias dictionary for the component closure).
The fixtures come from the single-node generator (corpus.py) — never from
the Spark engine — so the oracle is independent of the code under test.

Must match the query's corpus parameters exactly:
    generate(n_docs=60, giant_doc_sentences=40)   (bioner_spark/contract/kg.py)

Run from the repo root: python scripts/gen_kg_gold.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bioner_spark.corpus import generate  # noqa: E402

OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests", "fixtures", "kg_gold",
)


def main() -> None:
    corpus = generate(n_docs=60, giant_doc_sentences=40)
    os.makedirs(OUT_DIR, exist_ok=True)
    # page event-time metadata (url → warc_ts) for the streaming windowed-
    # count oracle — html/text deliberately omitted (fixture stays tiny and
    # the oracle must recompute from GOLD tokens, not engine-visible text)
    corpus.pages[["url", "warc_ts"]].to_parquet(
        os.path.join(OUT_DIR, "pages_meta.parquet"), index=False
    )
    corpus.tokens.to_parquet(os.path.join(OUT_DIR, "tokens.parquet"), index=False)
    corpus.mentions.to_parquet(os.path.join(OUT_DIR, "mentions.parquet"), index=False)
    corpus.alias_dict.to_parquet(os.path.join(OUT_DIR, "alias.parquet"), index=False)
    # gold triples too — not used by the oracle (it recomputes them), but
    # committed so a reviewer can diff the recompute against the generator
    corpus.triples.to_parquet(os.path.join(OUT_DIR, "triples.parquet"), index=False)
    print(f"wrote {OUT_DIR}: tokens={len(corpus.tokens)} mentions={len(corpus.mentions)} "
          f"alias={len(corpus.alias_dict)} triples={len(corpus.triples)}")


if __name__ == "__main__":
    main()
