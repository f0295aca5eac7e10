"""(subj, pred, obj) triple materialization from linked mentions.

Semantics (the engine's KG rule, mirrored exactly by the single-node oracle
in corpus.py's gold generator):

  * for every ordered pair of linked mentions (m1, m2) in one sentence with
    m1.start_tok < m2.start_tok:
      - pred = the FIRST predicate-lexicon token strictly between m1.end_tok
        and m2.start_tok, else 'co_occurs_with'
      - subj = component(m1.canonical_id), obj = component(m2.canonical_id)
        (component = connected-components canonical form, graph.py)
  * triples are DISTINCT per (subj, pred, obj, doc_id, sentence_id).

Plan: every rule above is local to one sentence, so it runs inside ONE row
per sentence holding its mentions and predicate tokens as arrays: pairs,
the between-verb lookup and the distinct are in-row lambdas
(`_pair_triples`), then `inline` emits the triples — no mention self-join,
verb range join or distinct shuffle. The gazetteer pipeline hands that row
over from its one (doc, sentence) groupBy (`sentence_triples`);
`extract_triples` builds it from mention and token tables. Mentions per
sentence are few (≤ dozens), so the pair blowup is bounded per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bioner_spark.metrics import exact_match_prf1

DEFAULT_PREDICATES = ["treats", "causes", "inhibits", "prevents", "reduces"]
CO_OCCURS = "co_occurs_with"
KEY = ["doc_id", "sentence_id"]


def _lexicon(predicates: list[str] | None) -> list[str]:
    # normalize the lexicon like the token side: the scan lowercases token
    # text before isin(), so a caller-supplied "Treats" would otherwise
    # match nothing and every pair would silently fall through to
    # co_occurs_with
    return [p.lower() for p in (predicates or DEFAULT_PREDICATES)]


def _pair_triples(per_sent: DataFrame) -> DataFrame:
    """Rows (doc_id, sentence_id, ms, verbs) → distinct triples. ms: the
    sentence's mentions (start_tok, end_tok, component); verbs: its
    predicate tokens as (id, verb) sorted by id, or NULL when it has none.
    Both arrive as columns, not expressions: an expression would be
    re-evaluated for every pair inside the lambdas."""
    ms, verbs = F.col("ms"), F.col("verbs")

    def pred(m1, m2):
        between = F.filter(
            verbs, lambda v: (v["id"] > m1["end_tok"]) & (v["id"] < m2["start_tok"])
        )
        # get, not [0]: NULL on an empty array (ANSI raises on [0])
        return F.coalesce(F.get(between, 0)["verb"], F.lit(CO_OCCURS))

    triples = F.array_distinct(
        F.flatten(
            F.transform(
                ms,
                lambda m1: F.transform(
                    F.filter(ms, lambda m2: m1["start_tok"] < m2["start_tok"]),
                    lambda m2: F.struct(
                        m1["component"].alias("subj"),
                        pred(m1, m2).alias("pred"),
                        m2["component"].alias("obj"),
                    ),
                ),
            )
        )
    )
    return per_sent.select(
        F.inline(triples), "doc_id", F.col("sentence_id").cast("int").alias("sentence_id")
    )


def sentence_triples(per_sent: DataFrame) -> DataFrame:
    """Gazetteer rows (doc_id, sentence_id, w, ms) — ms the sentence's
    overlap-resolved mentions with `component`, w its lowercased words
    (linking.resolved_per_sentence) — → distinct triples. Mentions whose
    component is NULL are dropped first; a verb (DEFAULT_PREDICATES) has
    its position in w as id, the token_id the tokenizer gives it."""
    verbs = F.filter(
        F.transform("w", lambda x, i: F.struct(i.alias("id"), x.alias("verb"))),
        lambda v: v["verb"].isin(DEFAULT_PREDICATES),
    )
    linkable = F.filter("ms", lambda m: m["component"].isNotNull())
    return _pair_triples(
        per_sent.select(*KEY, linkable.alias("ms"), verbs.alias("verbs"))
    )


def extract_triples(
    linked_mentions: DataFrame,
    tokens: DataFrame,
    predicates: list[str] | None = None,
) -> DataFrame:
    """linked mentions (with `component`) + tokens → distinct triples.

    Mentions and predicate tokens are grouped per sentence and joined, then
    the same in-row rule as `sentence_triples` runs. A mention whose
    doc_id or sentence_id is NULL names no sentence and forms no pairs
    (NULL equals no key); it is filtered out before the groupBy, which
    would otherwise gather all such mentions into one NULL sentence."""
    lex = _lexicon(predicates)
    ms = (
        linked_mentions.filter(F.col("doc_id").isNotNull() & F.col("sentence_id").isNotNull())
        .groupBy(*KEY)
        .agg(F.collect_list(F.struct("start_tok", "end_tok", "component")).alias("ms"))
    )
    word = F.lower(F.col("text"))
    verbs = (
        tokens.filter(word.isin(lex))
        .groupBy(*KEY)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("token_id").alias("id"), word.alias("verb")))
            ).alias("verbs")
        )
    )
    return _pair_triples(ms.join(verbs, KEY, "left"))


def triple_prf1(pred_triples: DataFrame, gold_triples: DataFrame) -> DataFrame:
    """Exact-match triple precision/recall/F1 (the P/R ≥ 0.95 gate,
    BASELINE.json north_rule). Join/aggregate core is the shared
    metrics.exact_match_prf1 — ONE action, because pred_triples is the end
    of the whole extract→tag→link→triples DAG."""
    return exact_match_prf1(
        pred_triples, gold_triples, ["subj", "pred", "obj", "doc_id", "sentence_id"]
    )
