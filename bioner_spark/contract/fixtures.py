"""Shared fixtures of the query contract: a tiny UMLS/MeSH-style alias
dictionary over the testdata `documents` vocabulary, a predicate lexicon,
and deterministic BIO tag rules used by the span-decode / metrics queries.
These are the SAME values on the Spark side and inside the oracle SQL
(inlined as VALUES/CASE). Also the per-query input readers every family
shares."""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bioner_spark.spans import decode_spans
from bioner_spark.tokenizer import tokenize

DICT: list[tuple[str, str]] = [
    ("spark", "K01"),
    ("table", "K02"),
    ("agg", "K02"),
    ("agg", "K07"),  # ambiguous alias → bridges K02/K07 (exercises CC)
    ("window", "K03"),
    ("hash join", "K04"),
    ("merge", "K05"),
    ("sort merge", "K05"),
    ("stream", "K06"),
    ("column", "K08"),
]

PREDICATES = ["scan", "filter", "group"]

GOLD_B = ("spark", "window", "hash")
GOLD_I = ("table", "value")
PRED_B = ("spark", "window")
PRED_I = ("table", "value", "row")
# second "model" for ensemble / overlap-statistics queries (SURVEY §2.6 A10-A11)
PRED2_B = ("spark", "hash", "merge")
PRED2_I = ("table", "row")

# the synthetic-corpus generator's committed GOLD side tables
# (scripts/gen_kg_gold.py), read by the kg_pipeline_synthetic and
# streaming_window_counts oracles
_KG_GOLD = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests", "fixtures", "kg_gold",
)


def _components() -> dict[str, str]:
    """Union-find over DICT alias-sharing → canonical_id → min component id."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    by_alias: dict[str, list[str]] = {}
    for alias, cid in DICT:
        by_alias.setdefault(alias, []).append(cid)
    for ids in by_alias.values():
        for other in ids[1:]:
            ra, rb = find(ids[0]), find(other)
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
    return {cid: find(cid) for _, cid in DICT}


COMPONENTS = _components()


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _alias_df(spark: SparkSession) -> DataFrame:
    rows = [(a, c, a) for a, c in DICT]
    return spark.createDataFrame(rows, "alias string, canonical_id string, canonical_name string")


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tokenize(_docs(spark, sf_dir), doc_col="doc_id")


def _tag_expr(b_words, i_words):
    return (
        F.when(F.col("text").isin(*b_words), F.lit("B"))
        .when(F.col("text").isin(*i_words), F.lit("I"))
        .otherwise(F.lit("O"))
    )


def _tagged_tokens(spark: SparkSession, sf_dir: str, b_words, i_words) -> DataFrame:
    return _tokens(spark, sf_dir).withColumn("tag", _tag_expr(b_words, i_words))


def _spans(spark: SparkSession, sf_dir: str, b_words, i_words) -> DataFrame:
    return decode_spans(_tagged_tokens(spark, sf_dir, b_words, i_words))


def _scratch_dir(prefix: str) -> str:
    """A fresh local temp dir, removed at interpreter exit.

    Unique per call: a fixed path let a concurrent harness process (or a
    second sf_dir) overwrite files under this call's still-lazy result
    DataFrame. The cleanup is registered BEFORE anything is written, so a
    failed or interrupted write cannot leak a partial dir, and repeated
    harness runs do not fill /tmp."""
    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path
