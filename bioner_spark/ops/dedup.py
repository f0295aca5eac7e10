"""Deduplication operators for large-scale training-data pipelines.

All hashing is md5-prefix based (`_hash32`) rather than Spark's native
murmur `hash()` so that every operator here has a bit-identical ANSI-SQL
oracle (DuckDB computes the same md5). At 100 TB you would swap `_hash32`
for xxhash64 (cheaper, JVM-intrinsic) — the operator shapes are unchanged.

Operators:
  * exact duplicates      — md5 fingerprint groupBy (one shuffle)
  * word-shingles         — native higher-order functions, no UDF
  * MinHash signatures    — k universal-hash mins per doc (explode + agg)
  * MinHash LSH pairs     — band-bucket join (the scale path: candidate
                            pairs only, never the O(n²) cross join)
  * n-gram Jaccard pairs  — exact verify on LSH candidates (or standalone
                            on small corpora)
  * SimHash               — 32-bit signature via per-bit majority vote,
                            expressed as 32 conditional sums (one groupBy)
  * near-dup clusters     — LSH candidates → Jaccard gate → connected
                            components → (doc, cluster, representative)
  * decontamination       — flag docs sharing any word n-gram with a
                            broadcast benchmark corpus (train/test overlap)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# deterministic universal-hash parameters: h_i(x) = (a_i * x + b_i) mod P.
# P prime > 2^32. The a_i MUST look like independent random multipliers:
# an earlier version used tiny a_i (2, 3, 5, ..., 19), which made all k
# "independent" minhashes collapse onto whichever shingle had the smallest
# base hash — the signature degenerated to ~1 effective hash and a
# Jaccard-0.98 pair was observed escaping every band at sf0.1. Fixed odd
# 30-bit multipliers keep a*x < 2^62 (int64-overflow-safe: x < 2^32,
# a < 2^30) while giving the pairwise near-independence MinHash needs.
LSH_PRIME = 4294967311
MINHASH_COEFFS = [
    (417371399, 3519957480),
    (266086569, 2821662308),
    (43659615, 4071123470),
    (350330669, 1659708643),
    (777982135, 1199402678),
    (349068043, 2415631480),
    (547769081, 2557419049),
    (141939557, 2983091597),
]


def _hash32(c):
    """Portable 32-bit unsigned hash: first 8 hex chars of md5 as bigint."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("bigint")


def normalized(text_col):
    """Dedup normalization: lowercase, collapse whitespace, trim.

    EXPLICIT ASCII whitespace class, not `\\s`: Java regex (Spark) counts
    U+000B vertical tab as \\s, RE2 (the DuckDB oracles) does not —
    measured divergence, so a VT in a document would normalize differently
    per engine and every fingerprint/minhash oracle downstream would
    mismatch. The explicit class is byte-identical semantics in both; the
    oracle SQL (`bioner_spark.contract.sql._NORM_SQL`) states the same class."""
    return F.trim(F.regexp_replace(F.lower(text_col), r"[ \t\n\x0B\f\r]+", " "))


def fingerprint_expr(text_col, key_col, words_col=None):
    """THE exact-dedup fingerprint: md5 of the normalized text, with a
    per-key sentinel for NULL text (fetch failures). One definition shared
    by batch dedup (here) and streaming_dedup (streaming/stateful.py) —
    the cross-path dedup parity the contract queries assert depends on the
    two staying bit-identical, as do the DuckDB oracles (dedup_exact,
    corpus_filter rep_id, streaming_dedup_ledger).

    Sentinel rationale: groupBy treats NULL as ONE key, so distinct failed
    fetches would otherwise collapse into a single "duplicate group" and
    dedup would silently drop all but one.

    NULL text AND NULL key: the sentinel is built with concat (NULL-in →
    NULL-out) + a final constant fallback, NOT concat_ws — concat_ws skips
    NULL args, which would silently degrade every NULL-key sentinel to the
    bare string 'null', colliding with each other AND with any real key
    named ''. Rows with neither text nor key carry zero identity, so they
    form ONE explicit "null:\\x00" group (\\x00 cannot occur in a url/id
    string, so no real key collides); that grouping matches the DuckDB
    oracle's NULL-fingerprint group (SQL GROUP BY puts all NULLs in one
    group). Contract tables have non-NULL keys, so the oracle hash never
    sees the fallback.

    words_col: fingerprint from a shared pre-split word array instead of
    re-normalizing text (array_join of the split is the exact inverse of
    the split, so the md5 is identical)."""
    base = (
        F.md5(F.array_join(words_col, " "))
        if words_col is not None
        else F.md5(normalized(text_col))
    )
    return F.coalesce(
        base,
        F.concat(F.lit("null:"), key_col.cast("string")),
        F.lit("null:\x00"),
    )


def exact_duplicate_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    words_col: str | None = None,
) -> DataFrame:
    """→ (fingerprint, n_docs, min_doc_id) per normalized-text group
    (fingerprint law: `fingerprint_expr`)."""
    fp = fingerprint_expr(
        F.col(text_col),
        F.col(id_col),
        words_col=F.col(words_col) if words_col else None,
    )
    return (
        df.select(F.col(id_col).alias("doc_id"), fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
    )


def dedup_exact(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one representative (min id) per exact-duplicate group."""
    w_rep = exact_duplicate_groups(df, id_col, text_col).select(
        F.col("min_doc_id").alias(id_col)
    )
    return df.join(w_rep, id_col, "left_semi")


def shingles_from_words(words, n: int = 3):
    """Array of word n-gram shingles from a pre-split word array (native
    HOF). Shared base for every shingle-n: a corpus-filter chain that needs
    3-grams AND 8-grams splits the text ONCE and derives both from the same
    persisted word array — one corpus scan instead of one per n."""
    return F.when(
        F.size(words) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(words) - n),
                lambda i: F.array_join(F.slice(words, i + 1, n), " "),
            )
        ),
    ).otherwise(F.array(F.array_join(words, " ")))


def word_shingles(text_col, n: int = 3):
    """Array of word n-gram shingles of the normalized text (native HOF)."""
    return shingles_from_words(F.split(normalized(text_col), " "), n)


def _words_src(text_col: str, words_col: str | None):
    """Shingle source: a pre-split word-array column when given (the shared
    single-scan base), else split-normalize the text column."""
    return F.col(words_col) if words_col else F.split(normalized(F.col(text_col)), " ")


def shingle_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3,
    words_col: str | None = None,
) -> DataFrame:
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles_from_words(_words_src(text_col, words_col), n)).alias("shingle"),
    )


def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3,
    words_col: str | None = None,
) -> DataFrame:
    """→ (doc_id, mh0..mh{k-1}); k = len(MINHASH_COEFFS)."""
    sh = shingle_table(df, id_col, text_col, n, words_col).withColumn(
        "h", _hash32(F.col("shingle"))
    )
    aggs = [
        F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(LSH_PRIME)).alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    rows_per_band: int = 2,
    words_col: str | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup candidates: band the signature, bucket-join.

    With k=8, r=2 → 4 bands; docs sharing any full band collide. The join is
    on (band_id, band_key) — never a cross join; skewed buckets (boilerplate
    shingles) are handled by AQE skew-join splitting.

    Recall is probabilistic: a pair at Jaccard j collides with probability
    1 - (1 - j^r)^(k/r). At j = 0.8: r=2 → ~98.3% (misses ~1 in 60 true
    pairs), r=1 → ~99.9997%. Pick r=1 when downstream must match an exact
    all-pairs oracle; r=2 trades that recall tail for ~an order of magnitude
    fewer candidate verifications on boilerplate-heavy corpora.
    """
    sig = minhash_signatures(df, id_col, text_col, n, words_col)
    k = len(MINHASH_COEFFS)
    if rows_per_band < 1 or k % rows_per_band != 0:
        # loud, like similarity.banded_buckets: k=8, r=3 would silently use
        # only mh0..mh5 (quietly lower recall than configured) and r>=9
        # would band NOTHING — zero candidates, every doc its own cluster
        raise ValueError(
            f"rows_per_band must divide the signature width {k}; "
            f"got {rows_per_band}"
        )
    n_bands = k // rows_per_band
    bands = sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "_",
                        *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)],
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band_id", "band_key"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
    words_col: str | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard ≥ threshold pairs.

    With `candidates` (e.g. from lsh_candidate_pairs) the verify is driven
    FROM the candidate pairs: shingles are aggregated to one set-array row
    per doc (ONE pass over the shingle table, and the identical subplan on
    both join sides lets AQE reuse the exchange), then each pair joins its
    two doc rows and intersects natively (array_intersect builds a hash
    set — O(|a|+|b|) per pair). Work is linear in docs + candidate pairs.
    (An earlier version self-joined the full shingle table on shingle and
    only then semi-joined candidates; a boilerplate shingle shared by d
    docs costs d² rows there, a 100 TB scale killer. Per-doc arrays are
    bounded by document size — the same bound every doc-level op here has.)
    Without candidates, the shingle self-join bounds the blowup to docs
    actually sharing a shingle (still not a cross join).
    """
    sh = shingle_table(df, id_col, text_col, n, words_col)
    if candidates is not None:
        sets = sh.groupBy("doc_id").agg(F.collect_set("shingle").alias("shs"))
        pairs = (
            candidates.join(
                sets.select(F.col("doc_id").alias("doc_a"), F.col("shs").alias("shs_a")),
                "doc_a",
            )
            .join(
                sets.select(F.col("doc_id").alias("doc_b"), F.col("shs").alias("shs_b")),
                "doc_b",
            )
        )
        return (
            pairs.select(
                "doc_a",
                "doc_b",
                F.size(F.array_intersect("shs_a", "shs_b")).alias("n_common"),
                F.size("shs_a").alias("n_a"),
                F.size("shs_b").alias("n_b"),
            )
            .withColumn(
                "jaccard",
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
        )
    else:
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
        a = sh.alias("a")
        b = sh.alias("b")
        common = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def near_dup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    rows_per_band: int = 2,
    words_col: str | None = None,
) -> DataFrame:
    """Assign every document to a near-duplicate cluster: (doc_id,
    cluster_id, is_representative), cluster_id = min doc_id of the
    Jaccard-connected component, singletons cluster with themselves.

    The full dedup composition a training-data pipeline actually runs:
    MinHash-LSH candidates → exact Jaccard gate (≥ threshold) → connected
    components over surviving pairs → left-join back to all docs. Every
    stage is the scale path: banded bucket join (never O(n²)), per-pair
    set intersect, large-star/small-star for big graphs (the driver
    union-find gate handles the common small-cluster case in one job).

    RECALL CONTRACT: candidate generation is MinHash-LSH, so clustering is
    probabilistic — a true pair at exactly the threshold escapes banding
    with probability (1 - threshold^rows_per_band)^(k/rows_per_band)
    (k = 8 hashes; see lsh_candidate_pairs). A missed pair can split a
    cluster. rows_per_band=1 gives ~0.9997 pair recall at threshold 0.8 and
    is what the oracle-checked contract queries use; rows_per_band=2 is the
    cheaper production default when exact parity with an all-pairs oracle
    is not required."""
    from bioner_spark.graph import connected_components

    cands = lsh_candidate_pairs(df, id_col, text_col, n, rows_per_band, words_col)
    pairs = jaccard_pairs(
        df, id_col, text_col, n, threshold, candidates=cands, words_col=words_col
    )
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    comp = connected_components(edges)
    out = df.select(F.col(id_col).alias("doc_id")).join(
        comp.withColumnRenamed("node", "doc_id"), "doc_id", "left"
    )
    return out.select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_id"),
    ).withColumn(
        "is_representative",
        (F.col("doc_id") == F.col("cluster_id")).cast("int"),
    )


def contamination_flags(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    words_col: str | None = None,
    benchmark_words_col: str | None = "auto",
) -> DataFrame:
    """Train/test decontamination: (doc_id, contaminated) — 1 iff the doc
    shares any word n-gram with the benchmark corpus (the standard
    n-gram-overlap decontamination rule for LLM training data).

    `words_col` names a pre-split word array on the CORPUS side;
    `benchmark_words_col` the same for the benchmark frame — they are
    independent inputs, so the default ("auto") uses `words_col` only when
    the benchmark actually carries that column and otherwise splits its
    `text_col` raw (a corpus pre-split for the single-scan filter chain
    must not force the benchmark set to be pre-split too).

    INVARIANT: any pre-split column MUST hold exactly
    `split(normalized(text), " ")` — the engine's own tokenization, the one
    the raw-text fallback applies (`_words_src`). A custom split (e.g.
    case-preserving) on one side while the other falls back silently
    produces shingles that can never match: contaminated docs flagged
    clean, no error. If you tokenize differently, pass BOTH columns
    explicitly so both sides diverge together.

    The benchmark n-gram set is small by construction (eval sets, not
    crawls) → broadcast, so the docs side avoids any JOIN shuffle: the semi
    join is map-side. The doc-side cost that remains is ONE shuffle — the
    distinct on doc_id (partial-aggregated map-side first, so only surviving
    distinct ids move) — plus the final left join back to df."""
    if benchmark_words_col == "auto":
        benchmark_words_col = (
            words_col if (words_col and words_col in benchmark.columns) else None
        )
    doc_sh = shingle_table(df, id_col, text_col, n, words_col)
    bench_sh = (
        benchmark.select(
            F.explode(
                shingles_from_words(_words_src(text_col, benchmark_words_col), n)
            ).alias("shingle")
        ).distinct()
    )
    hit = (
        doc_sh.join(F.broadcast(bench_sh), "shingle", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(1))
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(hit, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("contaminated"), F.lit(0)).cast("int").alias("contaminated"),
        )
    )


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """32-bit SimHash over word hashes: bit k set iff the majority of word
    hashes have bit k set. One explode + one groupBy with 32 conditional
    sums — fully native, oracle-expressible."""
    words = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(normalized(F.col(text_col)), " ")).alias("w"),
    ).withColumn("h", _hash32(F.col("w")))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), k).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{k}")
        for k in range(32)
    ]
    agg = words.groupBy("doc_id").agg(*bit_sums)
    sig = None
    for k in range(32):
        term = F.when(F.col(f"b{k}") > 0, F.lit(2**k)).otherwise(F.lit(0))
        sig = term if sig is None else (sig + term)
    return agg.select("doc_id", sig.cast("bigint").alias("simhash"))
