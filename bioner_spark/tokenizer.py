"""pages → tokens: sentence split + tokenization with char offsets.

Engine text-layout contract: sentences are '\\n'-separated, tokens are
single-space separated (the extractor emits exactly this). Under that
contract the whole tokenizer is native Spark SQL — split / posexplode /
higher-order `aggregate` for cumulative offsets — with ZERO shuffle: every
step is a narrow per-row transformation, so at 100 TB this stage is pure
map-side throughput.

The output matches the reference's token model (text, start, end) —
reference bioner/model/token.py:6-32 — except start/end are int, not str
(see schemas.py). Offsets are char offsets within the sentence, computed
over the ORIGINAL split positions (so they stay exact under doubled/edge
spaces); `token_id` is the DENSE rank among non-empty tokens (no gaps —
downstream id arithmetic like the gazetteer's `end_tok = start_tok +
n_words - 1` is exact by construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def split_sentences(
    pages: DataFrame,
    doc_col: str = "url",
    text_col: str = "text",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """→ (doc_id, sentence_id, sentence [, carry_cols]); drops empty
    docs/sentences. `carry_cols` are passed through unchanged (e.g.
    `warc_ts` for streaming event-time) — still a narrow transformation."""
    return (
        pages.select(
            F.col(doc_col).alias("doc_id"),
            *[F.col(c) for c in carry_cols],
            F.posexplode(F.split(F.col(text_col), "\n")).alias("sentence_id", "sentence"),
        )
        .filter(F.length("sentence") > 0)
    )


def sentence_words(pages: DataFrame) -> DataFrame:
    """(url, text) pages → (doc_id, sentence_id, w): w is the sentence's
    lowercased non-empty tokens in order, so position i of w is the
    token_id `tokenize` gives the same token — one row per sentence, no
    token table."""
    return split_sentences(pages).select(
        "doc_id",
        F.col("sentence_id").cast("int").alias("sentence_id"),
        F.array_remove(F.split(F.lower(F.col("sentence")), " "), "").alias("w"),
    )


def tokenize(
    pages: DataFrame,
    doc_col: str = "url",
    text_col: str = "text",
    carry_cols: tuple[str, ...] = (),
    with_offsets: bool = True,
) -> DataFrame:
    """pages → canonical tokens table (TOKENS_SCHEMA minus tag).

    Offsets are computed inside the sentence's token array with a
    higher-order `aggregate` (running sum of len+1), THEN exploded — no
    window function, no shuffle anywhere in this lineage.

    with_offsets=False skips the offset computation entirely (measured ~8×
    the cost of the split itself) and emits start/end as NULL ints — the KG
    pipeline never reads char offsets, only the CoNLL-parity paths do.
    """
    sents = split_sentences(pages, doc_col=doc_col, text_col=text_col, carry_cols=carry_cols)
    if not with_offsets:
        # remove empties BEFORE posexplode: token_id is the DENSE rank
        # among non-empty tokens (doubled/edge spaces leave no gaps), so id
        # arithmetic like the gazetteer's `end_tok = start_tok + n_words -
        # 1` is exact — still a narrow array op, zero shuffle
        return sents.select(
            "doc_id",
            *[F.col(c) for c in carry_cols],
            F.col("sentence_id").cast("int").alias("sentence_id"),
            F.posexplode(F.array_remove(F.split(F.col("sentence"), " "), "")).alias(
                "token_id", "text"
            ),
            F.lit(None).cast("int").alias("start"),
            F.lit(None).cast("int").alias("end"),
        )
    toks = F.split(F.col("sentence"), " ")
    # offsets[i] = cumulative (length + 1) of tokens before i — computed
    # over the ORIGINAL split positions (empties included), so char offsets
    # stay exact however many separator spaces the sentence has
    offsets = F.aggregate(
        toks,
        F.struct(
            F.lit(0).alias("off"), F.array().cast("array<int>").alias("acc")
        ),
        lambda acc, x: F.struct(
            (acc["off"] + F.length(x) + F.lit(1)).alias("off"),
            F.concat(acc["acc"], F.array(acc["off"])).alias("acc"),
        ),
        lambda acc: acc["acc"],
    )
    # drop empty tokens from the ZIPPED array before posexplode: token_id
    # becomes the dense non-empty rank while each surviving token keeps its
    # original-position offset — zero shuffle, same single narrow stage
    zipped = F.filter(
        F.arrays_zip(toks.alias("text"), offsets.alias("start")),
        lambda z: F.length(z["text"]) > 0,
    )
    return (
        sents.select(
            "doc_id",
            *[F.col(c) for c in carry_cols],
            "sentence_id",
            F.posexplode(zipped).alias("token_id", "tok"),
        )
        .select(
            "doc_id",
            *[F.col(c) for c in carry_cols],
            F.col("sentence_id").cast("int"),
            F.col("token_id").cast("int"),
            F.col("tok.text").alias("text"),
            F.col("tok.start").cast("int").alias("start"),
            (F.col("tok.start") + F.length("tok.text")).cast("int").alias("end"),
        )
    )
