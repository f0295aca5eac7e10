"""numpy fastText subword embedding inference (P5).

The reference encodes every token with a trained fastText model — load at
reference bioner/model/encoder/fasttext_encoder.py:14-15, per-token lookup
``self.model[token.text]`` at fasttext_encoder.py:26-28; training config
(skipgram, dim=300, char-ngrams minn/maxn 3-4 or 3-6) at
bioner/embeddings/fasttext_runner.py:13-28.  The fasttext library is not in
this environment (SURVEY.md §7), so the engine reimplements the inference
(``get_word_vector``) semantics in numpy over a pre-staged matrix:

  * subwords(word) = all character n-grams of ``"<" + word + ">"`` with
    minn <= n <= maxn (character = Unicode codepoint, matching fastText's
    UTF-8-aware ``computeSubwords``);
  * each subword indexes the input matrix at ``fnv1a(subword) % bucket``
    (fastText ``Dictionary::hash``: FNV-1a 32-bit over UTF-8 bytes with the
    signed-char cast);
  * ``word_vector(word) = sum(matrix[rows]) / n_subwords`` (fastText's OOV /
    pure-subword path — the general case for open-vocabulary web text; an
    in-vocab word row would be one extra gather, same plan).

Spark path: ``fasttext_token_vectors`` runs the lookup inside
``mapInPandas`` — subword hashing per DISTINCT word (token frequency is
Zipfian, so an executor-local LRU cache turns the per-word Python cost into
a near-O(#distinct) one), matrix gather + sum vectorized in numpy, matrix
shipped once per executor via the module-level cache (see ner/infer.py's
SparkFiles path, shared here).

Correctness: the committed fixture matrix is an integer lattice
(``fixture_matrix_int``) scaled by 1/1000, so the driver-contract query
``fasttext_vectors`` can verify the FULL pipeline (subwords → hash → bucket
→ gather → sum) against a DuckDB oracle in exact int64 arithmetic — no
float tolerance anywhere.  ``tests/test_fasttext.py`` additionally golden-
tests the float path (incl. non-ASCII words the ASCII-only oracle skips).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

FNV_OFFSET = 2166136261
FNV_PRIME = 16777619
MASK32 = 0xFFFFFFFF

# fastText's end-of-sentence token (src/dictionary.h EOS): always in-vocab
# for trained models and never assigned char n-grams (Dictionary::initNgrams
# skips it; an OOV "</s>" gets no subwords either in getSubwords)
EOS = "</s>"

# fixture-lattice constants — shared (as literals) with the DuckDB oracle in
# bioner_spark/contract/neural.py's fasttext_vectors oracle
LATTICE_A = 2654435761  # Knuth multiplicative-hash constant
LATTICE_B = 40503
LATTICE_C = 17
LATTICE_MOD = 2001  # entries span [-1000, 1000]
LATTICE_SCALE = 1000.0


def fnv1a(subword: str) -> int:
    """fastText Dictionary::hash — FNV-1a 32-bit over UTF-8 bytes with the
    signed-char cast (bytes >= 0x80 are sign-extended before the XOR)."""
    h = FNV_OFFSET
    for b in subword.encode("utf-8"):
        if b >= 128:
            b -= 256
        h = ((h ^ (b & MASK32)) * FNV_PRIME) & MASK32
    return h


def subwords(word: str, minn: int = 3, maxn: int = 4) -> list[str]:
    """Character n-grams of '<word>' with minn <= n <= maxn (codepoint-wise,
    like fastText computeSubwords; includes the full '<word>' sequence when
    its length falls in range)."""
    w = f"<{word}>"
    L = len(w)
    out: list[str] = []
    for n in range(minn, maxn + 1):
        for i in range(L - n + 1):
            # computeSubwords' one exclusion: a 1-gram that is just the BOW
            # '<' or EOW '>' boundary char is skipped (only reachable with
            # minn=1; n-grams >= 2 are all kept, full '<word>' included)
            if n == 1 and (i == 0 or i + n == L):
                continue
            out.append(w[i : i + n])
    return out


def fixture_matrix_int(bucket: int = 2000, dim: int = 16) -> np.ndarray:
    """Deterministic integer lattice [bucket, dim] in [-1000, 1000].

    Used instead of a trained matrix so that (a) no large binary artifact is
    needed and (b) the oracle can recompute any entry exactly in SQL:
    M[r, k] = ((r*A + k*B + C) mod MOD) - 1000."""
    r = np.arange(bucket, dtype=np.int64)[:, None]
    k = np.arange(dim, dtype=np.int64)[None, :]
    return (r * LATTICE_A + k * LATTICE_B + LATTICE_C) % LATTICE_MOD - 1000


@dataclass
class FastTextModel:
    """Inference-only fastText subword model.

    Two shapes, one code path:

    * bucket-only (``vocab=None``): matrix [bucket, dim], every word is
      treated as OOV — rows are ``fnv1a(ngram) % bucket``. The fixture /
      oracle configuration.
    * full dictionary (``vocab`` + ``nwords``, as loaded from a real
      ``.bin`` by fasttext_bin.load_bin): matrix [nwords + bucket, dim];
      an in-vocab word contributes its OWN dictionary row plus n-gram rows
      at ``nwords + h % bucket`` (Dictionary::getSubwords), an OOV word
      n-gram rows only, and EOS never gets n-grams.
    """

    matrix: np.ndarray  # [nwords + bucket, dim] float32 (nwords = 0 w/o vocab)
    minn: int = 3
    maxn: int = 4
    vocab: dict | None = None  # word -> dictionary row id (< nwords)
    nwords: int = 0

    @property
    def bucket(self) -> int:
        return self.matrix.shape[0] - self.nwords

    @property
    def dim(self) -> int:
        return self.matrix.shape[1]

    def subword_rows(self, word: str) -> np.ndarray:
        rows: list[int] = []
        if self.vocab is not None and word in self.vocab:
            rows.append(self.vocab[word])
            if word == EOS:
                return np.array(rows, dtype=np.int64)
        elif word == EOS:
            return np.array([], dtype=np.int64)
        off, b = self.nwords, self.bucket
        rows.extend(
            off + fnv1a(sw) % b for sw in subwords(word, self.minn, self.maxn)
        )
        return np.array(rows, dtype=np.int64)

    def word_vector(self, word: str) -> np.ndarray:
        """fastText getWordVector: mean over the word's subword rows (own
        dictionary row first when in-vocab); zero vector when the word
        yields no rows (OOV shorter than minn, or OOV EOS)."""
        rows = self.subword_rows(word)
        if len(rows) == 0:
            return np.zeros(self.dim, dtype=np.float32)
        return self.matrix[rows].sum(axis=0, dtype=np.float64).astype(np.float32) / np.float32(
            len(rows)
        )

    def save(self, path: str) -> None:
        arrays = dict(
            matrix=self.matrix, minn=np.array(self.minn), maxn=np.array(self.maxn)
        )
        if self.vocab is not None:
            # dict rows are 0..nwords-1 by construction; store words ordered
            # by row id so load rebuilds the same mapping
            words = sorted(self.vocab, key=self.vocab.get)
            arrays["words"] = np.array(words, dtype=object)
            arrays["nwords"] = np.array(self.nwords)
        # write through a file handle: np.savez_compressed(str) silently
        # APPENDS .npz to an extension-less path, so save(p) + load(p) —
        # the same string — would FileNotFoundError (same rule as
        # SequenceModel.save, kernel.py)
        with open(path, "wb") as fh:
            np.savez_compressed(fh, **arrays)

    @classmethod
    def load(cls, path: str) -> "FastTextModel":
        z = np.load(path, allow_pickle=True)
        vocab = nwords = None
        if "words" in z:
            vocab = {str(w): i for i, w in enumerate(z["words"])}
            nwords = int(z["nwords"])
        return cls(
            matrix=z["matrix"], minn=int(z["minn"]), maxn=int(z["maxn"]),
            vocab=vocab, nwords=nwords or 0,
        )

    @classmethod
    def fixture(cls, bucket: int = 2000, dim: int = 16, minn: int = 3, maxn: int = 4):
        m = (fixture_matrix_int(bucket, dim) / LATTICE_SCALE).astype(np.float32)
        return cls(matrix=m, minn=minn, maxn=maxn)


class _VectorCache:
    """Bounded word→vector cache (executor-local). Zipfian token frequency
    makes the hit rate ~99% on web text, so per-word Python hashing costs
    ~O(#distinct words), not O(#tokens)."""

    def __init__(self, model: FastTextModel, max_size: int = 1 << 20):
        self.model = model
        self.max_size = max_size
        self.data: dict[str, np.ndarray] = {}

    def get_many(self, words: pd.Series) -> list:
        uniq = pd.unique(words)
        miss = [w for w in uniq if w not in self.data]
        if miss:
            if len(self.data) + len(miss) > self.max_size:
                # epoch eviction drops CURRENT-batch hits too — recompute
                # the misses against the post-clear dict, or the return
                # lookup below KeyErrors on a word that was cached a moment
                # ago (task-killing; bites exactly in the >max_size
                # distinct-words regime the bound exists for)
                self.data.clear()
                miss = [w for w in uniq if w not in self.data]
            for w in miss:
                self.data[w] = self.model.word_vector(w)
        d = self.data
        return [d[w] for w in words]


# executor-local cache: SparkFiles name → loaded FastTextModel (same
# pattern — and same BOUND — as ner/infer._MODEL_CACHE: ship names are
# unique per call, so an unbounded dict would pin every matrix a retrain
# loop ever shipped in every Python worker)
_FT_CACHE: dict = {}


def ship_fasttext(spark, model: FastTextModel, name: str | None = None) -> str:
    """Save `model` as .npz and register it with SparkContext.addFile;
    returns the SparkFiles name to pass wherever a FastTextModel is
    accepted. THE scale path for real embeddings (nwords + 2M buckets x
    300 dims float32 is multiple GB — closure-pickling that into every
    task's serialized function is a scale-killer; as a file it ships to
    each executor once and loads once per Python worker).

    Unique-name and source-lifetime rules live in `shipping.ship_npz`
    (shared with infer.ship_model)."""
    from bioner_spark.ner.shipping import ship_npz

    return ship_npz(spark, model.save, name, "ft_model")


def _resolve_ft(model) -> FastTextModel:
    """Closure-shipped FastTextModel → itself; SparkFiles name → lazy
    per-executor singleton."""
    if isinstance(model, FastTextModel):
        return model
    m = _FT_CACHE.get(model)
    if m is None:
        from pyspark import SparkFiles

        from bioner_spark.ner.infer import _cache_put

        m = _cache_put(_FT_CACHE, model, FastTextModel.load(SparkFiles.get(model)))
    return m


def fasttext_token_vectors(
    tokens: DataFrame,
    model,
    token_col: str = "text",
    out_col: str = "embedding",
) -> DataFrame:
    """tokens → tokens + per-token fastText vector (array<float>).

    The engine analogue of FasttextEncoder.encode (reference
    fasttext_encoder.py:17-28), distributed: a narrow mapInPandas, no
    shuffle. `model` is a FastTextModel (fixture-sized: travels in the
    closure) or a `ship_fasttext` SparkFiles name (the 300-dim/2M-bucket
    real thing: the closure carries ~40 bytes and each executor loads the
    matrix from its local file copy once).
    """
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in tokens.schema.fields
    ) + f", {out_col} array<float>"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache = _VectorCache(_resolve_ft(model))
        for pdf in batches:
            if pdf.empty:
                continue
            vecs = cache.get_many(pdf[token_col])
            pdf = pdf.copy()
            pdf[out_col] = [v.tolist() for v in vecs]
            yield pdf

    return tokens.mapInPandas(run, schema=out_schema)


def int_subword_check(
    tokens: DataFrame,
    bucket: int = 2000,
    dim: int = 16,
    minn: int = 3,
    maxn: int = 4,
    n_dims_out: int = 3,
    token_col: str = "text",
) -> DataFrame:
    """Exact-integer verification projection for the driver contract.

    Per DISTINCT token: n_subwords and the int64 sums of the first
    `n_dims_out` matrix columns over the token's subword rows — the same
    subwords()/fnv1a() code the float path uses, with the un-scaled integer
    lattice, so the DuckDB oracle can reproduce every value exactly.

    EOS ("</s>") mirrors production subword_rows: fastText's EOS gets NO
    character n-grams (src/dictionary.cc computeSubwords skips it), so the
    check reports 0 subwords / zero sums for it — otherwise this projection
    would validate semantics the inference path never executes. The oracle
    SQL applies the same special case.
    """
    mat = fixture_matrix_int(bucket, dim)[:, :n_dims_out]
    cols = [f"s{k}" for k in range(n_dims_out)]
    schema = "token string, n_subwords int, " + ", ".join(f"{c} long" for c in cols)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for w in pdf[token_col]:
                sws = [] if w == EOS else subwords(w, minn, maxn)
                idx = np.array([fnv1a(s) % bucket for s in sws], dtype=np.int64)
                sums = (
                    mat[idx].sum(axis=0)
                    if len(idx)
                    else np.zeros(n_dims_out, dtype=np.int64)
                )
                rows.append((w, len(sws), *sums.tolist()))
            yield pd.DataFrame(rows, columns=["token", "n_subwords", *cols])

    return tokens.select(token_col).distinct().mapInPandas(run, schema=schema)
