#!/usr/bin/env python3
"""Adversarial contract corpus: sf0.001 plus documents engineered to hit
cross-engine semantic edges.

The driver's gate corpora are ASCII-clean with no NULLs, so a Spark-vs-DuckDB
function-semantics divergence that only fires on edge input stays latent
until a real corpus hits it. This script materializes a corpus that fires
the known edge classes on purpose; `scripts/verify_oracle.py <out_dir>`
must still report ALL OK. Divergences this sweep has already caught (each
now pinned by an explicit law in `bioner_spark/contract/`):

  * DuckDB bare trim() strips Unicode whitespace (NBSP, U+2000…) while
    Spark F.trim strips ASCII space only → leading-NBSP doc fingerprinted
    differently in every dedup-family oracle (fixed: trim(x, ' ')).
  * Stopword hits counted after a Unicode trim → '\\xa0of' counted as 'of'
    on one engine only (fixed: untrimmed split, empties never match).
  * FNV-1a folded over codepoints (ascii()) vs the engine's UTF-8 bytes
    with fastText's signed-char cast → any non-ASCII token diverged
    (fixed: arithmetic UTF-8 expansion + sign extension in SQL).
  * NULL text/n_chars crashing int(NaN) in the codec synthesizer and
    NULL-vs-zeros histogram mismatches (fixed: one COALESCE law).
  * extract_roundtrip asserting text == extract(wrap(text)) — true only
    for pre-normalized corpora (fixed: native-SQL recomputation of the
    extractor law, html-escaped wrapping).
  * DuckDB lower() is a simple 1:1 map while Spark applies Unicode
    SpecialCasing: 'İ' → 'i' + combining dot and contextual final sigma
    (ΣΟΦΙΑΣ → σοφιας, not σοφιασ) → every lower()-based oracle diverged
    on Turkish/Greek text (fixed: the LOWER_SQL shim in contract/sql.py;
    disclosed residual: a case-ignorable run between Σ and the word
    boundary, e.g. 'ΟΣ.α').

Rows (appended to the sf0.001 documents table, other tables copied):
  900001  NULL text + NULL n_chars (fetch failure)
  900002  VT / tab / mid-string NBSP / accents / CJK
  900003  doubled + edge spaces, blank lines, lone VT line
  900004  HTML metacharacters (< > & and a literal entity)
  900005  trailing reference truncation marker
  900006  LEADING NBSP + Cyrillic + astral emoji (the trim() catch)
  900007  empty string (distinct from NULL)
"""

from __future__ import annotations

import os
import shutil
import sys

SRC_DEFAULT = "/root/testdata/sf0.001"

ROWS = [
    (900001, None, None, "adv", None),
    (900002, "a\x0bb the\tand \xa0of caf\xe9 中文 line", "en", "adv", 28),
    (900003, "  spark  table \n\n merge rows  \n\x0b\n end", "en", "adv", 37),
    (900004, "x < y & z > w <tag> &amp; done", "en", "adv", 30),
    (900005, "trailing marker doc (ABSTRACT TRUNCATED)", "en", "adv", 40),
    (900006, "\xa0of био mix\xe9 \U0001f600emoji token", "en", "adv", 25),
    (900007, "", "en", "adv", 0),
    (900008, "İstanbul DİYARBAKIR trip", "tr", "adv", 24),
    (900009, "ΟΔΟΣ ΣΟΦΙΑΣ ΑΣΣΟΣ σΣσ ΣΣ İΣ τέλος", "el", "adv", 33),
    # Final_Sigma with case-ignorable runs (the formerly-disclosed shim
    # residuals, now exact): Σ before a ci-run+cased stays σ ('ΟΣ.α'),
    # cased+ci-run before Σ makes it final ("Ο'Σ"), caseless scripts are
    # not cased context ('ΟΣ中'/'中Σ'), trailing ci keeps finality
    (900010, "ΟΣ.α Ο'Σ ΑΣ·α ΟΣ́ ΟΣ中 中Σ ΤΕΛΟΣ’ ΟΣ.Ω", "el", "adv", 36),
]


def main() -> None:
    import duckdb

    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/bioner_adv"
    src = sys.argv[2] if len(sys.argv) > 2 else SRC_DEFAULT
    # n_chars must match the documents-table invariant (len in codepoints,
    # like the driver's generator) — a miscounted row would make any future
    # n_chars==length(text) contract law fire on this corpus itself
    for doc_id, text, _lang, _source, n_chars in ROWS:
        want = None if text is None else len(text)
        if n_chars != want:
            raise SystemExit(
                f"ROWS[{doc_id}]: n_chars={n_chars} but len(text)={want}"
            )
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for f in os.listdir(src):
        shutil.copy(os.path.join(src, f), os.path.join(out, f))
    con = duckdb.connect()
    placeholders = ",".join("(?,?,?,?,?)" for _ in ROWS)
    con.execute(
        f"""
COPY (
  SELECT * FROM read_parquet('{out}/documents.parquet')
  UNION ALL
  SELECT * FROM (VALUES {placeholders}) v(doc_id, text, lang, source, n_chars)
) TO '{out}/documents_adv.parquet' (FORMAT PARQUET)
""",
        [x for r in ROWS for x in r],
    )
    os.replace(f"{out}/documents_adv.parquet", f"{out}/documents.parquet")
    n = con.execute(
        f"SELECT COUNT(*) FROM read_parquet('{out}/documents.parquet')"
    ).fetchone()[0]
    print(f"wrote {out} ({n} documents); run: "
          f"python scripts/verify_oracle.py {out}")


if __name__ == "__main__":
    main()
