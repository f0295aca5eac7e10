"""Contract family: tokenizer / CoNLL IO (SURVEY §2.1 S1-S5, §2.4 B3),
encoders (SURVEY §2.2 P1-P7, §2.3 V1-V3) and the HTML extractor
invariant — each query beside its DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import functions as F

from bioner_spark.contract.fixtures import GOLD_B, GOLD_I, _docs, _tagged_tokens, _tokens
from bioner_spark.contract.sql import _TOKS_CTE, _tag_case
from bioner_spark.extract import strip_truncation_markers, with_extracted_text
from bioner_spark.functions import huffman, ngrams, position, surface
from bioner_spark.functions.surface import PY_STRIP_WHITESPACE
from bioner_spark.io.conll import conll_document_strings


def _surface_sql() -> str:
    # trim with the EXACT Python str.strip() whitespace set — plain trim()
    # strips only ASCII space, diverging from the reference's .strip() on
    # NBSP/tab-padded tokens; the engine side (functions/surface.py
    # py_strip) states the same law
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


def tokenize_offsets(spark, sf_dir):
    return _tokens(spark, sf_dir).select(
        "doc_id", "sentence_id", "token_id", "text", "start", "end"
    )


TOKENIZE_OFFSETS_SQL = f"""
WITH {_TOKS_CTE}
SELECT doc_id, sentence_id, token_id, text, start, "end"
FROM toks WHERE length(text) > 0
"""


def conll_render(spark, sf_dir):
    toks = _tagged_tokens(spark, sf_dir, GOLD_B, GOLD_I)
    return conll_document_strings(toks).select("doc_id", "doc_text")


CONLL_RENDER_SQL = f"""
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


def surface_features(spark, sf_dir):
    toks = _tokens(spark, sf_dir).select(F.col("text").alias("token")).distinct()
    feats = surface.surface_features(F.col("token"))
    return toks.select(
        "token", *[c.cast("int").alias(n) for n, c in feats.items()]
    )


SURFACE_FEATURES_SQL = _surface_sql()


def position_features(spark, sf_dir):
    toks = _tokens(spark, sf_dir)
    out = position.with_position_features(toks)
    return out.select(
        "doc_id",
        "sentence_id",
        "token_id",
        F.col("begin_doc").cast("int").alias("begin_doc"),
        F.col("begin_sentence").cast("int").alias("begin_sentence"),
        F.col("end_sentence").cast("int").alias("end_sentence"),
        F.col("end_document").cast("int").alias("end_document"),
    )


POSITION_FEATURES_SQL = f"""
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


def ngram_vocab(spark, sf_dir):
    v = ngrams.build_vocabulary(_tokens(spark, sf_dir), min_word_frequency=10)
    return v.select("ngram", "count", F.col("index").cast("int").alias("index"))


NGRAM_VOCAB_SQL = f"""
WITH {_TOKS_CTE},
{_NGRAM_CTE.lstrip().rstrip()}
SELECT ngram, count, index FROM vocab
"""


def huffman_codes(spark, sf_dir):
    # V4: word2vec CreateBinaryTree over the vocabulary (the reference's
    # ngram_encoder.update_huffman_codes intent — its own body is dead
    # code; see functions/huffman.py module docstring). points as CSV:
    # the driver's value-hash compare wants scalar columns, same
    # convention as multihot_indices' indices_csv.
    v = ngrams.build_vocabulary(_tokens(spark, sf_dir), min_word_frequency=10)
    out = huffman.huffman_codes(v)
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
HUFFMAN_CODES_SQL = f"""
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


def multihot_indices(spark, sf_dir):
    toks = _tokens(spark, sf_dir)
    vocab = ngrams.build_vocabulary(toks, min_word_frequency=10)
    distinct = toks.select(F.col("text").alias("token")).distinct()
    enc = ngrams.is_unknown(
        ngrams.encode_multihot_indices(distinct, vocab, token_col="token"),
        vocab, token_col="token",
    )
    return enc.select(
        "token",
        F.array_join("ngram_indices", ",").alias("indices_csv"),
        F.col("is_unknown").cast("int").alias("is_unknown"),
    )


MULTIHOT_INDICES_SQL = f"""
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


# extract_roundtrip: the Spark side compares the UDF extractor against
# its per-line law recomputed in native SQL (see the query docstring);
# 0 is therefore a UNIVERSAL invariant of the two implementations
# agreeing, not a precondition on the corpus being pre-normalized.
EXTRACT_ROUNDTRIP_SQL = """
SELECT COUNT(*)::BIGINT AS n_docs, 0::BIGINT AS n_mismatch FROM documents
"""


_CONTRACT = (
    (tokenize_offsets, TOKENIZE_OFFSETS_SQL),
    (conll_render, CONLL_RENDER_SQL),
    (surface_features, SURFACE_FEATURES_SQL),
    (position_features, POSITION_FEATURES_SQL),
    (ngram_vocab, NGRAM_VOCAB_SQL),
    (huffman_codes, HUFFMAN_CODES_SQL),
    (multihot_indices, MULTIHOT_INDICES_SQL),
    (extract_roundtrip, EXTRACT_ROUNDTRIP_SQL),
)
QUERIES = {q.__name__: q for q, _ in _CONTRACT}
ORACLES = {q.__name__: sql for q, sql in _CONTRACT}
