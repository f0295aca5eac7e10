"""Huffman code assignment over the n-gram vocabulary (SURVEY §2 V4 —
reference ngram_encoder.py:30-101 `update_huffman_codes`).

The reference's version is dead code, twice over: its own docstring says
"Unnecessary to create huffman encoding!", and the body cannot run —
``np.zeros[Vocabulary.MAX_CODE_LENGTH]`` (ngram_encoder.py:78-79) and
``len(vocab_words * 2 - 2)`` (ngram_encoder.py:93) both raise, and it
re-sorts the vocab ASCENDING (ngram_encoder.py:34) while keeping the
descending-order two-pointer initialisation, which would mis-merge even
if it ran. What it clearly *intends* to be is word2vec's
``CreateBinaryTree`` (public word2vec.c, the hierarchical-softmax code
builder) — the engine implements THAT, correctly:

* leaves sorted by (count DESC, ngram ASC) — the vocabulary's existing
  deterministic rank (``build_vocabulary``'s ``index``), replacing
  word2vec's insertion-order tie behavior with a stable total order;
* the O(V) two-pointer merge over the already-sorted counts (no heap);
* per-word binary code (MSB-first string), code length, and the word2vec
  ``point`` path (inner-node indices, ``point[0] = V-2``, leaf sentinel
  ``index - V`` last) for hierarchical-softmax consumers.

Scale split: the corpus-sized work (n-gram counting, min-frequency
truncation, global rank) is the DISTRIBUTED ``build_vocabulary``. The
driver then does ONLY what is inherently sequential — the two-pointer
merge over the sorted counts (word2vec builds the tree single-threaded
too) — holding one int64 count array plus the tree itself (int32 parent
+ int8 branch-bit per node): ~80 MB counts + ~100 MB tree at a
10^7-entry web-corpus char-n-gram vocab, nothing per-word. The tree is
broadcast and every word's root-ward walk (code string, code_len, point
path — the O(V × depth) part, several GB if materialised centrally) runs
executor-side over Arrow batches of the vocab DataFrame, so the per-word
strings and point lists are built where the rows live and never
congregate on the driver.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from bioner_spark.session import local_frame

#: reference ngram_encoder.py:15 — word2vec.c's MAX_CODE_LENGTH.
MAX_CODE_LENGTH = 40

_SENTINEL = np.int64(1) << 62

_OUT_SCHEMA = (
    "ngram string, count bigint, index bigint, code string, "
    "code_len int, points array<bigint>"
)


def _build_tree(counts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """word2vec's two-pointer merge over counts ALREADY sorted descending.

    Returns (parent: int32[2V-1], binary: int8[2V-1]) — the whole tree in
    ~5 bytes/node, the only per-vocab state the driver keeps or ships.
    """
    v = int(len(counts))
    cnt = np.full(2 * v - 1, _SENTINEL, dtype=np.int64)
    cnt[:v] = counts
    parent = np.zeros(2 * v - 1, dtype=np.int32)
    binary = np.zeros(2 * v - 1, dtype=np.int8)
    pos1, pos2 = v - 1, v
    for a in range(v - 1):
        if pos1 >= 0 and cnt[pos1] < cnt[pos2]:
            min1, pos1 = pos1, pos1 - 1
        else:
            min1, pos2 = pos2, pos2 + 1
        if pos1 >= 0 and cnt[pos1] < cnt[pos2]:
            min2, pos1 = pos1, pos1 - 1
        else:
            min2, pos2 = pos2, pos2 + 1
        cnt[v + a] = cnt[min1] + cnt[min2]
        parent[min1] = v + a
        parent[min2] = v + a
        binary[min2] = 1
    return parent, binary


def _walk_codes(
    indices: np.ndarray,
    parent: np.ndarray,
    binary: np.ndarray,
    v: int,
    max_code_length: int = MAX_CODE_LENGTH,
):
    """Root-ward walk for the given word ranks (word2vec's per-word
    do-while, vectorised level-by-level over the batch). Memory is
    O(batch × depth) — batch-sized, not vocab-sized.

    Returns (codes: list[str], code_lens: np.ndarray, points: list[list[int]]).
    """
    m = int(len(indices))
    if m == 0:
        return [], np.zeros(0, dtype=np.int64), []
    root = 2 * v - 2
    cur = np.asarray(indices, dtype=np.int64).copy()
    alive = np.ones(m, dtype=bool)
    bit_levels: list[np.ndarray] = []
    node_levels: list[np.ndarray] = []
    code_lens = np.zeros(m, dtype=np.int64)
    while alive.any():
        if len(bit_levels) >= max_code_length:
            raise ValueError(
                f"Huffman code length exceeds {max_code_length} "
                f"(reference MAX_CODE_LENGTH, ngram_encoder.py:15); "
                f"vocabulary counts are pathologically skewed"
            )
        bit_levels.append(np.where(alive, binary[cur], -1).astype(np.int8))
        node_levels.append(np.where(alive, cur, -1))
        code_lens[alive] += 1
        nxt = parent[cur].astype(np.int64)
        alive &= nxt != root
        cur = np.where(alive, nxt, cur)
    bits = np.stack(bit_levels, axis=1) if bit_levels else np.zeros((m, 0))
    nodes = np.stack(node_levels, axis=1) if node_levels else np.zeros((m, 0))
    codes: list[str] = []
    points: list[list[int]] = []
    for w in range(m):
        n = int(code_lens[w])
        walk_bits = bits[w, :n]
        walk_nodes = nodes[w, :n]
        codes.append("".join("1" if b else "0" for b in walk_bits[::-1]))
        # word2vec: point[0] = V-2, then point[n-b] = walk_nodes[b] - V
        points.append([v - 2] + [int(x) - v for x in walk_nodes[::-1]])
    return codes, code_lens, points


def build_codes(counts: np.ndarray, max_code_length: int = MAX_CODE_LENGTH):
    """word2vec ``CreateBinaryTree`` over counts ALREADY sorted descending.

    Returns (codes: list[str], code_lens: np.ndarray, points: list[list[int]]).
    Pure driver-side numpy (the single-process path and the differential
    authority for the distributed one): merge + full-vocab walk, O(V ×
    depth) — fine for test-scale vocabs; at corpus scale use
    ``huffman_codes``, which runs the walk executor-side.
    """
    v = int(len(counts))
    if v == 0:
        return [], np.zeros(0, dtype=np.int64), []
    counts = np.asarray(counts, dtype=np.int64)
    if v > 1 and np.any(counts[:-1] < counts[1:]):
        raise ValueError("build_codes: counts must be sorted descending")
    parent, binary = _build_tree(counts)
    return _walk_codes(
        np.arange(v, dtype=np.int64), parent, binary, v, max_code_length
    )


def _is_materialized(df: DataFrame) -> bool:
    """True when scanning `df` twice does NOT re-run a corpus lineage:
    either it is persisted, or its plan is a LogicalRDD over a
    CHECKPOINTED RDD — a `(local)checkpoint()`ed frame scans an
    already-materialized RDD but reports storageLevel NONE because
    checkpoints don't register with the cache manager, so a
    storage-level-only check would re-persist build_vocabulary's
    checkpointed output (the documented common input) into a pointless
    second full copy. A LogicalRDD root ALONE is not enough: an
    un-checkpointed RDD-backed frame (createDataFrame over an RDD)
    re-runs its full lineage on every scan — double corpus cost, and
    wrong codes with no error if that lineage is nondeterministic (the
    two scans would see different rows)."""
    lvl = df.storageLevel
    if lvl.useMemory or lvl.useDisk:
        return True
    try:
        analyzed = df._jdf.queryExecution().analyzed()
        return (
            analyzed.getClass().getSimpleName() == "LogicalRDD"
            and analyzed.rdd().isCheckpointed()
        )
    except Exception:
        return False  # non-classic session: persist defensively


def huffman_codes(
    vocab: DataFrame, max_code_length: int = MAX_CODE_LENGTH
) -> DataFrame:
    """Per-vocabulary-word Huffman codes as a DataFrame.

    ``vocab``: output of ``build_vocabulary`` — (ngram, count, index) with
    index the global (count DESC, ngram ASC) rank. Output adds
    (code: string of '0'/'1' MSB-first, code_len: int, points: array<int>).

    Driver collects ONLY the count column in rank order (bounded by the
    vocabulary's min-frequency truncation — see module docstring for the
    scale argument) and runs the sequential merge; the per-word code
    assembly runs executor-side (``mapInPandas`` over the broadcast tree),
    so nothing per-word is ever materialised on the driver. The depth cap
    is enforced on the driver first (a cheap tree-height walk) so a
    pathological vocabulary fails loudly before any job is launched.

    The result is returned EAGERLY MATERIALISED (localCheckpoint, like
    build_vocabulary's own output): the walk runs once, right here, and
    the returned frame is self-contained — no lazy plan pinning this
    call's broadcast or an adopted cache, so both are released before
    returning. A previous holder design released the prior call's adopted
    vocab cache on the NEXT call, which silently re-ran the prior vocab's
    full (possibly nondeterministic) lineage if its returned frame was
    executed after the release — codes from a tree built on scan 1 joined
    to rows from scan 2, wrong with no error. Eager + self-contained
    deletes that hazard class. Checkpoint blocks lost to executor death
    fail LOUDLY on read; durable multi-hour pipelines should write the
    (vocab-sized) result to storage.

    Retention: each call's checkpointed result occupies executor storage
    until the driver drops its last reference to the returned frame and
    the ContextCleaner reclaims the blocks (the standard Spark lifecycle
    for checkpointed RDDs — GC-bounded, not deterministic). A loop that
    rebuilds codes per trial (e.g. a min_word_frequency grid search) holds
    at most the frames it keeps references to; drop or overwrite the
    previous result before the next call, or write each result to storage
    and read it back, if vocab-sized copies matter at your scale.
    """
    spark = vocab.sparkSession
    # the vocab plan executes twice (driver count collect + the executor
    # walk below); build_vocabulary output is localCheckpointed so both
    # reads are vocab-sized, but an arbitrary uncached input would re-run
    # its full corpus lineage — persist it across the two scans, released
    # in the finally below once the walk has materialised
    adopted = None
    if not _is_materialized(vocab):
        # don't adopt (and later unpersist) a cache the CALLER manages
        vocab = vocab.persist()
        adopted = vocab
    try:
        return _huffman_codes_inner(spark, vocab, max_code_length)
    finally:
        if adopted is not None:
            adopted.unpersist()


def _huffman_codes_inner(
    spark, vocab: DataFrame, max_code_length: int
) -> DataFrame:
    pdf = vocab.select("index", "count").orderBy("index").toPandas()
    v = len(pdf)
    if v == 0:
        # schema-stable empty result (createDataFrame can't infer a schema
        # from an all-empty object-dtype pandas frame)
        return local_frame(spark, [], _OUT_SCHEMA)
    counts = pdf["count"].to_numpy(dtype=np.int64)
    if v > 1 and np.any(counts[:-1] < counts[1:]):
        raise ValueError("huffman_codes: vocab index must rank count descending")
    # the executor walk uses raw index values as tree leaf slots, so the
    # index column must be EXACTLY the dense rank 0..V-1 (build_vocabulary's
    # contract) — a gapped or offset index (e.g. a filtered subset) would
    # still pass the descending check but silently map words to the wrong
    # leaves; fail loudly instead
    if not np.array_equal(
        pdf["index"].to_numpy(dtype=np.int64), np.arange(v, dtype=np.int64)
    ):
        raise ValueError(
            "huffman_codes: vocab index must be the dense rank 0..V-1 "
            "(build_vocabulary output); re-rank filtered vocabularies "
            "before building codes"
        )
    parent, binary = _build_tree(counts)
    # driver-side depth probe: O(tree height) scalar hops up the LAST leaf
    # (ties break toward earlier merges, so the rarest word is on a deepest
    # path) — loud failure before broadcasting or launching the walk job
    depth, node, root = 0, v - 1, 2 * v - 2
    while node != root:
        node, depth = int(parent[node]), depth + 1
        if depth > max_code_length:
            raise ValueError(
                f"Huffman code length exceeds {max_code_length} "
                f"(reference MAX_CODE_LENGTH, ngram_encoder.py:15); "
                f"vocabulary counts are pathologically skewed"
            )
    bc = spark.sparkContext.broadcast((parent, binary))

    def assemble(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tree_parent, tree_binary = bc.value
        for b in batches:
            idx = b["index"].to_numpy(dtype=np.int64)
            codes, code_lens, points = _walk_codes(
                idx, tree_parent, tree_binary, v, max_code_length
            )
            yield pd.DataFrame(
                {
                    "ngram": b["ngram"],
                    "count": b["count"].to_numpy(dtype=np.int64),
                    "index": idx,
                    "code": codes,
                    "code_len": code_lens.astype(np.int32),
                    "points": points,
                }
            )

    try:
        # eager: the walk job runs NOW; the checkpointed result owns its
        # rows, so the broadcast (~100 MB at a 10^7-entry vocab) can be
        # destroyed deterministically instead of lingering until GC
        return (
            vocab.select("ngram", "count", "index")
            .mapInPandas(assemble, _OUT_SCHEMA)
            .localCheckpoint(eager=True)
        )
    finally:
        bc.destroy()
