"""Explicit StructType schemas for every engine table.

The reference keeps everything as implicit Python object trees
(Document → Sentence → Token, reference bioner/model/conll_dataset.py:13-29);
the engine uses flat, Arrow-friendly columnar schemas. Token start/end are
int here (the reference carries them as *strings* straight from TSV,
reference bioner/model/token.py:7) — formatting back to str happens only at
the CoNLL write boundary.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Pipeline input — shape fixed by BASELINE.json input_hint.
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# Canonical exploded token table (the engine analogue of CoNLLDataset).
TOKENS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),  # url or synthetic id
        T.StructField("sentence_id", T.IntegerType(), False),
        T.StructField("token_id", T.IntegerType(), False),
        T.StructField("text", T.StringType(), False),
        # nullable: tokenize(with_offsets=False) — the KG pipeline's hot
        # path — legitimately emits NULL offsets (tokenizer.py)
        T.StructField("start", T.IntegerType(), True),
        T.StructField("end", T.IntegerType(), True),
        T.StructField("tag", T.StringType(), True),  # B/I/O, null pre-NER
    ]
)

# Span/mention relation (the reference's Annotation,
# entity_level_precision_recall.py:106-123, plus doc + surface text).
MENTIONS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("sentence_id", T.IntegerType(), False),
        T.StructField("start_tok", T.IntegerType(), False),
        T.StructField("end_tok", T.IntegerType(), False),
        T.StructField("mention_text", T.StringType(), True),
    ]
)

ALIAS_DICT_SCHEMA = T.StructType(
    [
        T.StructField("alias", T.StringType(), False),
        T.StructField("canonical_id", T.StringType(), False),
        T.StructField("canonical_name", T.StringType(), False),
    ]
)

TRIPLES_SCHEMA = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("sentence_id", T.IntegerType(), False),
    ]
)
