"""SQL shared by the contract's DuckDB oracles (DuckDB dialect, ANSI where
possible): the tokenizer CTE, the BIO span state machine, the
dedup-normalization law, and the LOWER_SQL shim that gives DuckDB
Spark's lower()."""

from __future__ import annotations

# THE ASCII whitespace class, imported from the engine so both sides share
# one source of truth. EXPLICIT class, not \\s: Java regex (Spark) counts
# U+000B vertical tab as \\s, RE2 (DuckDB) does not (measured), so '\\s+'
# in any oracle would silently diverge from the engine on VT — failing the
# fingerprint/minhash oracles AND the textstats word counts.
from bioner_spark.ops.textstats import WS_RE as _WS_SQL

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
# string, keyed on CAPITAL Σ only). __spark_entry__.oracle_sql() expands
# the markers via _expand_lower_sql, so oracle bodies stay readable and
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
# space-only trim is the whole law on both sides. THE dedup-normalization
# law in SQL — ONE definition, mirroring ops.dedup.normalized.
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
