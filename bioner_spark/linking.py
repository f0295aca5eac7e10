"""Dictionary NER tagging + entity linking (UMLS/MeSH-style alias table).

Two tagger backends share the downstream pipeline:
  * the gazetteer (`sentence_candidates`) — pure native SQL over ONE row
    per sentence (posexplode of its word array, a broadcast first-word
    semi-join, phrases via slice/array_join, one broadcast alias join);
    deterministic, the parity-gated default. `dict_tag_tokens` turns its
    spans into BIO tags for the parity paths.
  * the neural tagger (bioner_spark.ner.infer) — the reference's
    BiLSTM analogue.

Linking proper (`link_mentions`) is the broadcast hash join the reference
never needed (its "joins" were Python set ops — SURVEY.md §2.7); ambiguous
aliases resolve to the MIN canonical_id (deterministic; canonicalization by
connected components later merges the ambiguous ids anyway). The gazetteer
applies the same rule to the alias table before its join.

Overlap resolution rule (documented engine semantic, applied identically in
the single-node oracle): a candidate span is kept iff no other overlapping
candidate in the same sentence is longer, or equal-length with an earlier
start. Non-iterative (one groupBy per sentence + an in-row `exists`) →
deterministic; on template corpora candidates never overlap, the rule
exists for robustness on real text.

Scale: the alias dictionary is small (≤ millions of rows) → broadcast;
token-side work is narrow up to that one (doc, sentence) groupBy of the
MATCHED candidates, 1-2 orders of magnitude fewer rows than tokens. Token
table callers (`candidate_mentions`, `dict_mentions`) first group tokens
per sentence into arrays sorted by token_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

KEY = ["doc_id", "sentence_id"]


def sentence_candidates(
    sents: DataFrame,
    alias_dict: DataFrame,
    max_alias_len: int = 3,
    components: DataFrame | None = None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """All dictionary matches: sents (doc_id, sentence_id, w[, ids]) →
    (doc_id, sentence_id, start_tok, end_tok, canonical_id, mention_text
    [, component], *carry). w is the sentence's lowercased tokens in order
    (tokenizer.sentence_words); matching is exact on their single-space
    join (the alias table stores lowercase surface forms). start_tok is
    the position in w, or ids[position] when sents has token ids; end_tok
    = start_tok + n_words - 1. `components` links in the same join.

    No lambdas: they are interpreted per element, so phrases come from
    slice/array_join over the exploded positions."""
    # one row per alias phrase: an ambiguous phrase takes its min id here
    al = (
        alias_dict.select(F.col("alias").alias("phrase"), "canonical_id")
        .withColumn("n_words", F.size(F.split(F.col("phrase"), " ")))
        .filter(F.col("n_words") <= max_alias_len)
        .groupBy("phrase", "n_words")
        .agg(F.min("canonical_id").alias("canonical_id"))
    )
    # first-word prefilter (exact): a phrase can only match an alias whose
    # first word equals w0, so positions whose word starts no alias (the
    # overwhelming majority on real text) build and probe no phrases.
    # Derived from the LENGTH-FILTERED aliases: a word that only starts
    # longer aliases can never match.
    first_words = al.select(
        F.element_at(F.split(F.col("phrase"), " "), 1).alias("w0")
    ).distinct()
    if components is not None:
        al = al.join(F.broadcast(components), "canonical_id", "left")
    ids = ["ids"] if "ids" in sents.columns else []
    keep = dict.fromkeys([*KEY, "w", *ids, *carry])
    starts = sents.select(*keep, F.posexplode("w").alias("pos", "w0")).join(
        F.broadcast(first_words), "w0", "left_semi"
    )
    # NULL once the sentence runs out; a NULL phrase matches nothing
    phrases = [F.col("w0")] + [
        F.when(
            F.col("pos") + L <= F.size("w"),
            F.array_join(F.slice("w", F.col("pos") + 1, F.lit(L)), " "),
        )
        for L in range(2, max_alias_len + 1)
    ]
    start = F.element_at("ids", F.col("pos") + 1) if ids else F.col("pos")
    cands = starts.select(
        *KEY, start.alias("start_tok"), *carry, F.explode(F.array(*phrases)).alias("phrase")
    )
    return cands.join(F.broadcast(al), "phrase").select(
        *KEY,
        "start_tok",
        (F.col("start_tok") + F.col("n_words") - 1).alias("end_tok"),
        "canonical_id",
        F.col("phrase").alias("mention_text"),
        *(["component"] if components is not None else []),
        *carry,
    )


def _dominates(b, a):
    len_a = a["end_tok"] - a["start_tok"]
    len_b = b["end_tok"] - b["start_tok"]
    overlap = (a["start_tok"] <= b["end_tok"]) & (b["start_tok"] <= a["end_tok"])
    return overlap & (
        (len_b > len_a) | ((len_b == len_a) & (b["start_tok"] < a["start_tok"]))
    )


def resolved_per_sentence(cands: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """candidates → one row per sentence, (doc_id, sentence_id, ms,
    *carry): ms holds the sentence's candidates (structs of every non-key
    column) that survive overlap resolution.

    Keep a candidate iff no overlapping candidate dominates it (longer, or
    same length and earlier start). DELIBERATE one-shot rule, NOT greedy
    longest-match: dominance is checked against ALL candidates, including
    ones that are themselves dropped. On chained equal-length overlaps —
    aliases 'a b', 'b c', 'c d' over tokens `a b c d` → candidates
    (0,1),(1,2),(2,3) — this keeps only (0,1): (2,3) is dominated by the
    dropped (1,2) and dies with it, where greedy would keep (0,1) and
    (2,3). The trade is a single vectorized pass (no iterative re-scan per
    sentence) for a recall tail on pathological alias chains; the DuckDB
    oracle mirrors the same rule, so parity holds by construction.

    carry columns are constant per sentence (the word array): they ride
    the same groupBy, so later in-row rules need no second shuffle."""
    fields = [c for c in cands.columns if c not in (*KEY, *carry)]
    cs = F.collect_list(F.struct(*fields))
    return cands.groupBy(*KEY).agg(
        F.filter(cs, lambda a: ~F.exists(cs, lambda b: _dominates(b, a))).alias("ms"),
        *[F.first(c).alias(c) for c in carry],
    )


def resolve_overlaps(cands: DataFrame) -> DataFrame:
    """Flat form of `resolved_per_sentence`: the kept candidates, one row
    each, with the columns of cands."""
    return resolved_per_sentence(cands).select(*KEY, F.inline("ms"))


def candidate_mentions(
    tokens: DataFrame, alias_dict: DataFrame, max_alias_len: int = 3
) -> DataFrame:
    """All dictionary matches of a token table: (doc_id, sentence_id,
    start_tok, end_tok, canonical_id, mention_text) — `sentence_candidates`
    over each sentence's lowercased texts and token_ids, sorted by token_id."""
    t = F.array_sort(F.collect_list(F.struct("token_id", F.lower("text").alias("w"))))
    sents = tokens.groupBy(*KEY).agg(t.alias("t")).select(
        *KEY, F.col("t.w").alias("w"), F.col("t.token_id").alias("ids")
    )
    return sentence_candidates(sents, alias_dict, max_alias_len)


def dict_mentions(
    tokens: DataFrame, alias_dict: DataFrame, max_alias_len: int = 3
) -> DataFrame:
    """tokens → mentions directly (doc_id, sentence_id, start_tok, end_tok,
    canonical_id, mention_text).

    The gazetteer fast path: resolved candidates ARE the mention spans, so
    the BIO round-trip (`dict_tag_tokens` → `decode_spans`) — a full tag
    join-back plus a window decode that exactly reconstructs the spans it
    started from — is parity machinery, not computation. mention_text is
    the matched alias (lowercase surface form), which is what linking
    joins on anyway."""
    return resolve_overlaps(candidate_mentions(tokens, alias_dict, max_alias_len))


def dict_tag_tokens(
    tokens: DataFrame,
    alias_dict: DataFrame,
    max_alias_len: int = 3,
    spans: DataFrame | None = None,
) -> DataFrame:
    """tokens → tokens + BIO `tag` from dictionary matches (B at span start,
    I inside, O elsewhere).

    spans: optional precomputed dict_mentions result. A caller that already
    built mentions (pipeline.build_triples does) passes them here so the
    gazetteer chain — per-sentence grouping, broadcast alias join and
    overlap resolution — is planned once and shared, instead of
    re-derived independently for the tag view."""
    if spans is None:
        spans = dict_mentions(tokens, alias_dict, max_alias_len)
    per_token = spans.select(
        "doc_id",
        "sentence_id",
        F.posexplode(
            F.sequence(F.col("start_tok"), F.col("end_tok"))
        ).alias("pos_in_span", "token_id"),
    ).select(
        "doc_id",
        "sentence_id",
        "token_id",
        F.when(F.col("pos_in_span") == 0, F.lit("B")).otherwise(F.lit("I")).alias("_tag"),
    )
    return (
        tokens.drop("tag")
        .join(per_token, ["doc_id", "sentence_id", "token_id"], "left")
        .withColumn("tag", F.coalesce(F.col("_tag"), F.lit("O")))
        .drop("_tag")
    )


def link_mentions(mentions: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """mentions (from span decode) → + canonical_id via broadcast alias join;
    unlinkable mentions keep canonical_id NULL (kept for recall analysis)."""
    al = alias_dict.groupBy("alias").agg(F.min("canonical_id").alias("canonical_id"))
    return mentions.join(
        F.broadcast(al),
        F.lower(F.col("mention_text")) == F.col("alias"),
        "left",
    ).drop("alias")


def alias_edges(alias_dict: DataFrame) -> DataFrame:
    """Canonical-id ↔ canonical-id edges induced by shared aliases — the
    input graph for connected-components canonicalization."""
    a = alias_dict.select("alias", F.col("canonical_id").alias("src"))
    b = alias_dict.select("alias", F.col("canonical_id").alias("dst"))
    return (
        a.join(b, "alias")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
