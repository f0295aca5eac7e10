from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from bioner_spark import corpus as corpus_mod
from bioner_spark.graph import canonical_map, connected_components
from bioner_spark.linking import (
    alias_edges,
    candidate_mentions,
    dict_mentions,
    dict_tag_tokens,
    link_mentions,
    resolve_overlaps,
)


def _alias_df(spark):
    rows = [
        ("aspirin", "C01", "aspirin"),
        ("acetylsalicylic acid", "C01", "aspirin"),
        ("asa", "C09", "asa"),
        ("asa", "C01", "aspirin"),  # ambiguous
        ("headache", "C03", "headache"),
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["alias", "canonical_id", "canonical_name"])
    )


def _tokens(spark, words: list[str]):
    rows = [("d", 0, i, w, 0, 1) for i, w in enumerate(words)]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "sentence_id", "token_id", "text", "start", "end"])
    )


def test_multiword_dict_match(spark):
    toks = _tokens(spark, ["acetylsalicylic", "acid", "treats", "headache", "."])
    cands = candidate_mentions(toks, _alias_df(spark)).collect()
    got = sorted((r.start_tok, r.end_tok, r.canonical_id) for r in cands)
    # 'acetylsalicylic acid' (0-1) and 'headache' (3)
    assert got == [(0, 1, "C01"), (3, 3, "C03")]


def test_ambiguous_alias_resolves_to_min_id(spark):
    toks = _tokens(spark, ["asa", "treats", "headache"])
    cands = candidate_mentions(toks, _alias_df(spark)).collect()
    got = {(r.start_tok, r.canonical_id) for r in cands}
    assert (0, "C01") in got  # min(C01, C09)


def test_overlap_resolution_prefers_longer(spark):
    toks = _tokens(spark, ["acetylsalicylic", "acid"])
    alias = spark.createDataFrame(
        pd.DataFrame(
            [
                ("acetylsalicylic acid", "C01", "aspirin"),
                ("acid", "C99", "acid"),
            ],
            columns=["alias", "canonical_id", "canonical_name"],
        )
    )
    got = resolve_overlaps(candidate_mentions(toks, alias)).collect()
    assert [(r.start_tok, r.end_tok, r.canonical_id) for r in got] == [(0, 1, "C01")]


def test_dict_tag_tokens_bio(spark):
    toks = _tokens(spark, ["acetylsalicylic", "acid", "treats", "headache", "."])
    tagged = dict_tag_tokens(toks, _alias_df(spark)).orderBy("token_id").collect()
    assert [r.tag for r in tagged] == ["B", "I", "O", "B", "O"]


def test_link_mentions(spark):
    mentions = spark.createDataFrame(
        pd.DataFrame(
            [("d", 0, 0, 0, "Aspirin"), ("d", 0, 2, 2, "unknownium")],
            columns=["doc_id", "sentence_id", "start_tok", "end_tok", "mention_text"],
        )
    )
    got = {r.mention_text: r.canonical_id for r in link_mentions(mentions, _alias_df(spark)).collect()}
    assert got == {"Aspirin": "C01", "unknownium": None}


def test_connected_components_chain(spark):
    edges = spark.createDataFrame(
        pd.DataFrame([("a", "b"), ("b", "c"), ("x", "y")], columns=["src", "dst"])
    )
    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
    # distributed min-label-propagation path (large-graph fallback) agrees
    got_dist = {
        r.node: r.component
        for r in connected_components(edges, driver_threshold=0).collect()
    }
    assert got_dist == got


def test_canonical_map_merges_ambiguous(spark):
    cmap = {r.canonical_id: r.component for r in canonical_map(_alias_df(spark)).collect()}
    # 'asa' bridges C01 and C09 → same component (min id C01)
    assert cmap["C01"] == "C01"
    assert cmap["C09"] == "C01"
    assert cmap["C03"] == "C03"


def test_alias_edges(spark):
    got = {(r.src, r.dst) for r in alias_edges(_alias_df(spark)).collect()}
    assert got == {("C01", "C09")}


def test_corpus_canonical_map_matches_generator(spark, corpus):
    alias = corpus_mod.alias_dict_spark_df(spark, corpus)
    got = {r.canonical_id: r.component for r in canonical_map(alias).collect()}
    expected = corpus_mod._canonical_components()
    assert got == expected


def test_canonical_map_null_alias_never_merges(spark):
    """NULL aliases share nothing: the distributed alias self-join drops
    them (SQL equi-join), so the driver path grouping them under one dict
    key silently merged every NULL-alias entity into a single KG node —
    and a NULL canonical_id crashed its min()/sorted(). Both paths must
    agree: no NULL-alias merges, NULL id maps to (NULL, NULL)."""
    df = spark.createDataFrame(
        [(None, "C1"), (None, "C2"), ("x", "C3"), ("x", "C4"), (None, None)],
        "alias string, canonical_id string",
    )
    expected = {"C1": "C1", "C2": "C2", "C3": "C3", "C4": "C3", None: None}
    driver = {r.canonical_id: r.component for r in canonical_map(df).collect()}
    dist = {
        r.canonical_id: r.component
        for r in canonical_map(df, driver_threshold=0).collect()
    }
    assert driver == expected
    assert dist == expected


def test_gazetteer_on_token_ids_with_gaps_and_chained_aliases(spark):
    """The token-table adapter numbers spans by the tokens' own ids: a
    sentence whose token_ids have gaps gives start_tok = the matched
    token's id and end_tok = start_tok + n_words - 1, whatever the ids of
    the tokens that follow. The chained 'a b'/'b c'/'c d' aliases keep only
    the first span (the one-shot overlap rule); a second sentence holds
    a 1-word match after a gap and a 2-word match across one."""
    toks = spark.createDataFrame(
        [
            ("d", 0, 10, "A"), ("d", 0, 11, "b"), ("d", 0, 12, "c"), ("d", 0, 20, "d"),
            ("d", 1, 3, "x"), ("d", 1, 7, "y"), ("d", 1, 9, "z"),
        ],
        "doc_id string, sentence_id int, token_id int, text string",
    )
    alias = spark.createDataFrame(
        [("a b", "X1"), ("b c", "X2"), ("c d", "X3"), ("y", "Y1"), ("y z", "Y2")],
        "alias string, canonical_id string",
    )
    cands = sorted(tuple(r) for r in candidate_mentions(toks, alias).collect())
    assert cands == [
        ("d", 0, 10, 11, "X1", "a b"),
        ("d", 0, 11, 12, "X2", "b c"),
        ("d", 0, 12, 13, "X3", "c d"),
        ("d", 1, 7, 7, "Y1", "y"),
        ("d", 1, 7, 8, "Y2", "y z"),
    ]
    kept = sorted(tuple(r) for r in dict_mentions(toks, alias).collect())
    assert kept == [("d", 0, 10, 11, "X1", "a b"), ("d", 1, 7, 8, "Y2", "y z")]
