"""Distributed NER inference: encode → batch → numpy forward → BIO tags.

The engine analogue of the reference's annotation entry point
(reference annotate_dataset.py + bioner/model/annotator.py:250-285):

  reference                          engine
  ---------                          ------
  CoNLLDataLoader(batch=128)         sentence rows grouped per Arrow batch
  collate_batch pad (:26-46)         numpy padding inside mapInPandas
  model(x, lengths) forward          SequenceModel.forward (numpy)
  argmax(dim=1) → truncate → BIO2    predict_tags (kernel.py)
  positional tag write-back (:250)   join on (doc_id, sentence_id, token_id)

Feature vector layout follows the reference DATEXISEncoder
(bioner/model/encoder/datexis_encoder.py:19-38):
[position(4) ‖ surface(11) ‖ trigram multi-hot(V)].

Skew / memory safety: Arrow batches are bounded by
spark.sql.execution.arrow.maxRecordsPerBatch, and inside the UDF sentences
are additionally re-chunked by a TOKEN BUDGET (pad-aware, sorted by length
to minimize pad waste) so one giant document cannot OOM an executor
(SURVEY.md §4 engineering point 2).

Model shipping: a `SequenceModel` passed directly travels inside the UDF
closure — fine for DATEXIS-sized weights (~100 KB), a scale-killer for
BioNER (~60M params ≈ 240 MB pickled per task). For that, `ship_model`
saves the weights once as .npz, registers the file with
`SparkContext.addFile`, and the UDF receives only the FILE NAME; each
executor lazy-loads the matrix from its local SparkFiles copy exactly once
(module-level cache below), so task serialization stays O(bytes of a
string) regardless of model size.
"""

from __future__ import annotations

from typing import Iterator, Union

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bioner_spark.functions.ngrams import encode_multihot_indices
from bioner_spark.functions.position import with_position_features, position_vector
from bioner_spark.functions.surface import surface_vector
from bioner_spark.ner.kernel import SequenceModel

# executor-local model cache: file name → loaded SequenceModel. Lives for
# the lifetime of the Python worker, so N tasks on one executor load once.
# BOUNDED (see _cache_put): ship names are unique per call, so an unbounded
# dict would pin every model a retrain loop ever shipped in every worker.
_MODEL_CACHE: dict = {}
_CACHE_MAX = 2  # current model + one predecessor (e.g. an A/B pass)


def _cache_put(cache: dict, key, value):
    if len(cache) >= _CACHE_MAX and key not in cache:
        cache.clear()
    cache[key] = value
    return value

ModelRef = Union[SequenceModel, str]


def ship_model(
    spark: SparkSession, model: SequenceModel, name: str | None = None
) -> str:
    """Save `model` as .npz and register it with SparkContext.addFile.

    Returns the SparkFiles name to pass to ner_tag_sentences /
    annotate_tokens in place of the model object — the scale path for
    BioNER-sized weights (the closure then carries ~40 bytes, not ~240 MB;
    the executors fetch the file once and cache the loaded matrices).

    Unique-name and source-lifetime rules live in `shipping.ship_npz`
    (shared with ship_fasttext). Pass an explicit name only if you ship
    that name once per application."""
    from bioner_spark.ner.shipping import ship_npz

    return ship_npz(spark, model.save, name, "ner_model")


def _resolve_model(model: ModelRef) -> SequenceModel:
    """Closure-shipped model → itself; SparkFiles name → per-executor
    lazy-loaded singleton (the `load_model_udf` path promised in round 1)."""
    if isinstance(model, SequenceModel):
        return model
    m = _MODEL_CACHE.get(model)
    if m is None:
        from pyspark import SparkFiles

        m = _cache_put(_MODEL_CACHE, model, SequenceModel.load(SparkFiles.get(model)))
    return m

def _tags_schema(sentences: DataFrame) -> str:
    """Output schema mirrors the input's doc_id type (string urls in the
    parity paths, long doc_key in the slim-spine pipeline)."""
    doc_type = sentences.schema["doc_id"].dataType.simpleString()
    return f"doc_id {doc_type}, sentence_id int, token_id int, tag string"


def _tags_scores_schema(sentences: DataFrame) -> str:
    return _tags_schema(sentences) + ", score double"


def encoded_sentences(tokens: DataFrame, vocab: DataFrame) -> DataFrame:
    """tokens → one row per sentence with parallel feature arrays.

    Columns: doc_id, sentence_id, token_ids:array<int>,
    feat_dense:array<array<float>> (pos‖surface, 15 floats per token),
    feat_sparse:array<array<int>> (trigram vocab indices per token).

    The groupBy partitions by (doc_id, sentence_id); with_position_features'
    window partitions by doc_id — Catalyst reuses the doc_id hash exchange
    for both, so this costs one shuffle.
    """
    enc = with_position_features(tokens)
    enc = encode_multihot_indices(enc, vocab)
    enc = enc.withColumn(
        "feat_dense", F.concat(position_vector(), surface_vector(F.col("text")))
    )
    return _assemble_sentences(
        enc.select("doc_id", "sentence_id", "token_id", "feat_dense",
                   F.col("ngram_indices").alias("feat_sparse"))
    )


def _assemble_sentences(per_token: DataFrame) -> DataFrame:
    """(doc_id, sentence_id, token_id, feat_dense, feat_sparse) → one row
    per sentence with token-parallel arrays, sorted by token_id. THE
    sentence-assembly contract, shared by the DATEXIS and fastText encoders
    — sort key / column set / null handling live here once."""
    return (
        per_token.groupBy("doc_id", "sentence_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("token_id", "feat_dense", "feat_sparse"))
            ).alias("toks")
        )
        .select(
            "doc_id",
            "sentence_id",
            F.transform("toks", lambda s: s["token_id"]).alias("token_ids"),
            F.transform("toks", lambda s: s["feat_dense"]).alias("feat_dense"),
            F.transform("toks", lambda s: s["feat_sparse"]).alias("feat_sparse"),
        )
    )


def _densify(
    feat_dense: list, feat_sparse: list, sparse_dim: int, max_len: int
) -> np.ndarray:
    """One sentence → [max_len, W+S] float32 where W = width of the dense
    feature arrays and S = sparse_dim (multi-hot scatter width; 0 for the
    fastText path). Pad rows zero, like collate_batch's zero padding
    (reference annotator.py:26-46)."""
    T = len(feat_dense)
    dense = np.asarray([np.asarray(fd, dtype=np.float32) for fd in feat_dense])
    base = dense.shape[1] if T else 0
    x = np.zeros((max_len, base + sparse_dim), dtype=np.float32)
    x[:T, :base] = dense
    for t, idxs in enumerate(feat_sparse):
        if len(idxs):
            x[t, base + np.asarray(idxs, dtype=np.int64)] = 1.0
    return x


def ner_tag_sentences(
    sentences: DataFrame,
    model: ModelRef,
    sparse_dim: int,
    token_budget: int = 32768,
    with_scores: bool = False,
) -> DataFrame:
    """sentence rows → (doc_id, sentence_id, token_id, tag[, score]). The
    one neural kernel of the engine; vectorized per Arrow batch, never
    per-row.

    `model` may be a SequenceModel (travels in the closure — small configs)
    or a SparkFiles name from ship_model (lazy per-executor load — the
    BioNER-sized path). with_scores adds the winning logit rounded to 2
    decimals (the golden-oracle fingerprint)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mdl = _resolve_model(model)
        for pdf in batches:
            if pdf.empty:
                continue
            lengths_all = pdf["token_ids"].map(len).to_numpy()
            # sort by length: minimizes pad waste inside each sub-batch
            order = np.argsort(lengths_all, kind="stable")
            out_docs, out_sents, out_toks, out_tags, out_scores = [], [], [], [], []
            i = 0
            while i < len(order):
                # grow the chunk while batch_size * running_max_len ≤ budget
                j = i + 1
                max_len = lengths_all[order[i]]
                while j < len(order):
                    cand = max(max_len, lengths_all[order[j]])
                    if (j - i + 1) * cand > token_budget:
                        break
                    max_len = cand
                    j += 1
                sel = order[i:j]
                lengths = lengths_all[sel]
                max_len = int(lengths.max())
                x = np.stack(
                    [
                        _densify(
                            pdf["feat_dense"].iloc[k],
                            pdf["feat_sparse"].iloc[k],
                            sparse_dim,
                            max_len,
                        )
                        for k in sel
                    ]
                )
                if with_scores:
                    tags, scores = mdl.predict_tags_scores(x, lengths)
                else:
                    tags, scores = mdl.predict_tags(x, lengths), None
                for row_idx, k in enumerate(sel):
                    tids = pdf["token_ids"].iloc[k]
                    out_docs.extend([pdf["doc_id"].iloc[k]] * len(tids))
                    out_sents.extend([pdf["sentence_id"].iloc[k]] * len(tids))
                    out_toks.extend(list(tids))
                    out_tags.extend(tags[row_idx])
                    if scores is not None:
                        out_scores.extend(scores[row_idx])
                i = j
            cols = {
                "doc_id": out_docs,
                "sentence_id": np.asarray(out_sents, dtype=np.int32),
                "token_id": np.asarray(out_toks, dtype=np.int32),
                "tag": out_tags,
            }
            if with_scores:
                cols["score"] = np.asarray(out_scores, dtype=np.float64)
            yield pd.DataFrame(cols)

    schema = _tags_scores_schema(sentences) if with_scores else _tags_schema(sentences)
    return sentences.mapInPandas(run, schema=schema)


def annotate_tokens(
    tokens: DataFrame, vocab: DataFrame, model: ModelRef,
    sparse_dim: int | None = None,
) -> DataFrame:
    """tokens (untagged) → tokens + neural `tag` column.

    The tag write-back is a join on the token key — the engine version of
    the reference's positional deepcopy write-back (annotator.py:250-264),
    which needs no copy because DataFrames are immutable.

    sparse_dim (the multi-hot scatter width) is resolved without a hidden
    driver-side job: explicit argument first, then the size stashed by
    build_vocabulary's two-phase rank. Only an arbitrary external vocab
    DataFrame with neither falls back to a count() (and that fallback is
    the caller's one-time, documented cost — not a per-call surprise).
    """
    if sparse_dim is None:
        from bioner_spark.functions.ngrams import vocab_size

        sparse_dim = vocab_size(vocab)
    sents = encoded_sentences(tokens, vocab)
    tags = ner_tag_sentences(sents, model, sparse_dim)
    return tokens.drop("tag").join(tags, ["doc_id", "sentence_id", "token_id"], "left")


# --------------------------------------------------------------------------
# fastText-encoded path (the reference BioNER feature space, P5)
# --------------------------------------------------------------------------

def encoded_sentences_fasttext(tokens: DataFrame, ft_model) -> DataFrame:
    """tokens → sentence rows whose feat_dense is the per-token fastText
    subword vector (reference FasttextEncoder.encode,
    fasttext_encoder.py:17-28; BioNER consumes ONLY this embedding as
    features — annotate_dataset.py:16-18). feat_sparse is empty (the
    trigram multi-hot belongs to the DATEXIS encoder, not this path)."""
    from bioner_spark.ner.fasttext import fasttext_token_vectors

    enc = fasttext_token_vectors(tokens, ft_model, out_col="_ft_vec")
    return _assemble_sentences(
        enc.select(
            "doc_id",
            "sentence_id",
            "token_id",
            F.col("_ft_vec").alias("feat_dense"),
            F.array().cast("array<int>").alias("feat_sparse"),
        )
    )


def annotate_tokens_fasttext(
    tokens: DataFrame, ft_model, model: ModelRef, with_scores: bool = False
) -> DataFrame:
    """tokens → tokens + neural tag via the BioNER-shape path: fastText
    subword embeddings → sequence model. model.input_dim must equal
    ft_model.dim."""
    sents = encoded_sentences_fasttext(tokens, ft_model)
    tags = ner_tag_sentences(sents, model, sparse_dim=0, with_scores=with_scores)
    return tokens.drop("tag").join(tags, ["doc_id", "sentence_id", "token_id"], "left")
