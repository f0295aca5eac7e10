"""Training-data pipeline operators over the driver testdata tables."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from bioner_spark.ops.dedup import (
    dedup_exact,
    exact_duplicate_groups,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash,
    word_shingles,
)
from bioner_spark.ops.similarity import cosine_topk, lsh_topk
from bioner_spark.ops.textstats import (
    with_fingerprint,
    with_lang_guess,
    with_quality_features,
    with_token_counts,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def _with_dups(documents):
    """Inject exact duplicates deterministically (doc_id + 1e6)."""
    dups = documents.filter(F.col("doc_id") < 10).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    return documents.unionByName(dups)


def test_exact_dedup(documents):
    df = _with_dups(documents)
    n_orig = documents.count()
    groups = exact_duplicate_groups(df)
    dup_groups = groups.filter(F.col("n_docs") > 1)
    assert dup_groups.count() == 10
    assert {r.min_doc_id for r in dup_groups.collect()} == set(range(10))
    assert dedup_exact(df).count() == n_orig


def test_word_shingles(spark):
    df = spark.range(1).select(
        word_shingles(F.lit("a b c d"), 3).alias("sh")
    )
    assert df.collect()[0]["sh"] == ["a b c", "b c d"]
    short = spark.range(1).select(word_shingles(F.lit("a b"), 3).alias("sh"))
    assert short.collect()[0]["sh"] == ["a b"]


def test_minhash_identical_docs_share_signature(documents):
    df = _with_dups(documents)
    sig = minhash_signatures(df).cache()
    a = sig.filter(F.col("doc_id") == 0).drop("doc_id").collect()[0]
    b = sig.filter(F.col("doc_id") == 1000000).drop("doc_id").collect()[0]
    assert a == b


def test_lsh_finds_injected_dups(documents):
    df = _with_dups(documents)
    pairs = lsh_candidate_pairs(df).cache()
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    for i in range(10):
        assert (i, i + 1000000) in got


def test_jaccard_pairs_exact_dups_have_jaccard_1(documents):
    df = _with_dups(documents)
    cands = lsh_candidate_pairs(df)
    pairs = jaccard_pairs(df, threshold=0.99, candidates=cands).collect()
    exact = {(r.doc_a, r.doc_b): r.jaccard for r in pairs}
    for i in range(10):
        assert exact.get((i, i + 1000000)) == 1.0


def test_simhash_stable_and_equal_for_dups(documents):
    df = _with_dups(documents)
    sh = simhash(df).cache()
    vals = {r.doc_id: r.simhash for r in sh.filter(F.col("doc_id").isin(0, 1000000, 1)).collect()}
    assert vals[0] == vals[1000000]
    assert 0 <= vals[0] < 2**32
    # deterministic across runs
    sh2 = {r.doc_id: r.simhash for r in simhash(df).filter(F.col("doc_id") == 0).collect()}
    assert sh2[0] == vals[0]


def test_cosine_topk_matches_numpy(embeddings):
    queries = embeddings.filter(F.col("vec_id") < 3)
    got = cosine_topk(embeddings, queries, k=5).collect()
    pdf = embeddings.toPandas()
    mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    ids = pdf["vec_id"].to_numpy()
    norms = np.linalg.norm(mat, axis=1)
    for qid in range(3):
        qi = np.where(ids == qid)[0][0]
        cos = (mat @ mat[qi]) / (norms * norms[qi])
        cos_r = np.round(cos, 6)
        order = sorted(
            [(c, i) for c, i in zip(cos_r, ids) if i != qid], key=lambda t: (-t[0], t[1])
        )[:5]
        expected = [(i, c) for c, i in order]
        mine = sorted(
            [(r.neighbor_id, r.cosine) for r in got if r.query_id == qid],
            key=lambda t: [x for x in got if x.query_id == qid and x.neighbor_id == t[0]][0].rank,
        )
        assert [m[0] for m in mine] == [e[0] for e in expected]
        np.testing.assert_allclose([m[1] for m in mine], [e[1] for e in expected], atol=1e-6)


def test_lsh_topk_runs_and_is_subset_quality(embeddings):
    queries = embeddings.filter(F.col("vec_id") < 3)
    approx = lsh_topk(embeddings, queries, k=5, n_planes=4, dim=64)
    rows = approx.collect()
    assert len(rows) > 0
    assert all(r.query_id != r.neighbor_id for r in rows)


def test_textstats(documents):
    out = with_token_counts(
        with_quality_features(with_lang_guess(with_fingerprint(documents)))
    )
    row = out.filter(F.col("doc_id") == 0).collect()[0]
    assert row["n_words"] > 0
    assert 0.0 <= row["quality_score"] <= 1.0
    assert len(row["fingerprint"]) == 32
    assert row["ws_tokens"] == row["n_words"]
    assert row["lang_guess"] in ("en", "de", "fr", "und")


def test_textstats_whitespace_and_null_edges(spark):
    """Word-count law on hostile whitespace + NULL-text lang guard: empty
    docs count 0 words (not 1), edge/doubled whitespace never inflates
    n_words/ws_tokens or mean_word_len, and NULL text is 'und' (the
    unguarded CASE used to fall through to 'fr')."""
    df = spark.createDataFrame(
        [
            (0, "\nthe cat\n"),   # edge newlines: 2 words, mean len 3.0
            (1, "a  b"),           # doubled space: 2 words, mean len 1.0
            (2, ""),               # empty: 0 words
            (3, "   "),            # all-whitespace: 0 words
            (4, None),             # NULL text
            (5, "word\tthe\tword"),  # tabs (trim() would not strip these)
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in with_token_counts(
            with_quality_features(with_lang_guess(df))
        ).collect()
    }
    assert out[0]["n_words"] == 2 and out[0]["ws_tokens"] == 2
    assert out[0]["mean_word_len"] == pytest.approx(3.0)  # "the","cat"
    assert out[1]["n_words"] == 2
    assert out[1]["mean_word_len"] == pytest.approx(1.0)
    assert out[2]["n_words"] == 0 and out[2]["ws_tokens"] == 0
    assert out[3]["n_words"] == 0 and out[3]["ws_tokens"] == 0
    assert out[4]["lang_guess"] == "und"
    assert out[5]["n_words"] == 3
    assert out[0]["lang_guess"] == "en"  # "the" hit survives the filter


def test_multimodal_features(spark):
    from bioner_spark.ops.multimodal import MEDIA_SCHEMA, extract_features, frame_sample_plan

    rows = [
        ("m1", "image", b"\x00\x01\x02\xff" * 10, {"w": "4"}),
        ("m2", "audio", b"", {}),
        ("m3", "video", b"\x10" * 100, {"n_frames": "90"}),
    ]
    media = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    feats = {r.media_id: r for r in extract_features(media).collect()}
    assert feats["m1"].n_bytes == 40
    assert len(feats["m1"].feature) == 32
    assert abs(sum(feats["m1"].feature) - 1.0) < 1e-5
    assert sum(feats["m2"].feature) == 0.0
    frames = frame_sample_plan(media, every_n=30).collect()
    assert [(r.media_id, r.frame_idx) for r in frames] == [("m3", 0), ("m3", 30), ("m3", 60)]


def test_decode_real_is_gated():
    """Compressed codecs still raise; malformed payloads get a typed error."""
    from bioner_spark.ops.multimodal import MediaDecodeError, decode_real

    with pytest.raises(NotImplementedError):
        decode_real(b"\xff\xd8\xff\xe0 jpeg-ish", "image")
    with pytest.raises(MediaDecodeError):
        decode_real(b"x", "image")


def test_wav_pcm_roundtrip_and_bounds():
    import numpy as np

    from bioner_spark.ops.multimodal import (
        MediaDecodeError, decode_real, decode_wav, encode_wav_pcm16,
    )

    rng = np.random.default_rng(11)
    s = rng.integers(-32768, 32768, size=777).astype(np.int16)
    wav = encode_wav_pcm16(s, sample_rate=22050)
    d = decode_wav(wav)
    assert d["sample_rate"] == 22050 and d["n_channels"] == 1
    np.testing.assert_array_equal(d["samples"][:, 0], s.astype(np.int32))
    assert "samples" in decode_real(wav, "audio")
    # declared chunk size past EOF must raise, not read out of bounds
    with pytest.raises(MediaDecodeError):
        decode_wav(b"RIFF\x10\x00\x00\x00WAVEdata\xff\xff\xff\xff")
    # non-PCM format codes are honestly not-implemented
    bad = bytearray(encode_wav_pcm16(s[:4]))
    bad[20] = 3  # fmt.audio_format = IEEE float
    with pytest.raises(NotImplementedError):
        decode_wav(bytes(bad))


def _wav_container(bits: int, data: bytes) -> bytes:
    """Minimal RIFF/WAVE PCM container at an arbitrary bit depth (the
    engine's own encoder is 16-bit only)."""
    fmt = (
        (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
        + (8000).to_bytes(4, "little")
        + (8000 * bits // 8).to_bytes(4, "little")
        + (bits // 8).to_bytes(2, "little") + bits.to_bytes(2, "little")
    )
    body = b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    body += b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + (4 + len(body)).to_bytes(4, "little") + b"WAVE" + body


def test_decoded_histograms_8_and_32_bit_pcm(spark):
    """Every supported PCM bit depth must land in the 16-bin contract:
    samples are normalized to the int16 domain before binning (8-bit << 8,
    32-bit >> 16), so extreme 32-bit values neither crash bincount with
    negatives nor overflow the feature length."""
    import numpy as np

    from bioner_spark.ops.multimodal import decode_wav, extract_decoded_histograms

    d8 = decode_wav(_wav_container(8, bytes([0, 128, 255])))
    assert d8["bits"] == 8
    np.testing.assert_array_equal(d8["samples"][:, 0], [-128, 0, 127])
    v32 = np.array([-(2**31), 0, 2**31 - 1], dtype="<i4")
    d32 = decode_wav(_wav_container(32, v32.tobytes()))
    assert d32["bits"] == 32

    media = spark.createDataFrame(
        [("a8", "audio", _wav_container(8, bytes([0, 128, 255]))),
         ("a32", "audio", _wav_container(32, v32.tobytes()))],
        "media_id string, modality string, payload binary",
    )
    rows = {r["media_id"]: r for r in extract_decoded_histograms(media).collect()}
    for r in rows.values():
        assert len(r["feature"]) == 16
        assert sum(r["feature"]) == r["n_values"] == 3
    # extremes bin to 0 and 15, midpoints to 8, at both depths
    for mid in ("a8", "a32"):
        f = rows[mid]["feature"]
        assert f[0] == 1 and f[8] == 1 and f[15] == 1


def test_netpbm_roundtrip_comments_and_truncation():
    import numpy as np

    from bioner_spark.ops.multimodal import (
        MediaDecodeError, decode_netpbm, encode_ppm,
    )

    rng = np.random.default_rng(12)
    px = rng.integers(0, 256, size=(5, 7, 3)).astype(np.uint8)
    d = decode_netpbm(encode_ppm(px))
    np.testing.assert_array_equal(d["pixels"], px)
    assert (d["width"], d["height"]) == (7, 5)
    # P5 grayscale with a header comment
    pgm = b"P5\n# comment line\n3 2\n255\n" + bytes(range(6))
    assert decode_netpbm(pgm)["pixels"].shape == (2, 3)
    with pytest.raises(MediaDecodeError):
        decode_netpbm(b"P6\n4 4\n255\n\x00\x01")  # truncated raster
    with pytest.raises(MediaDecodeError):
        decode_netpbm(b"P6\n4 4\n65535\n" + b"\x00" * 96)  # 16-bit maxval


def test_synthesized_codec_media_decodes_to_formula(spark):
    """End-to-end Spark path: synthesize real WAV/PPM containers, decode
    them with the native parsers via mapInPandas, and check the histograms
    against the generating formulas computed independently in numpy."""
    import numpy as np

    from bioner_spark.ops.multimodal import (
        extract_decoded_histograms, synthesize_codec_media,
    )

    docs = spark.createDataFrame(
        [(d, 100 + 37 * d) for d in range(6)], "doc_id long, n_chars int"
    )
    got = {
        r["media_id"]: r
        for r in extract_decoded_histograms(synthesize_codec_media(docs)).collect()
    }
    assert len(got) == 6
    for d in range(6):
        n_chars = 100 + 37 * d
        if d % 2 == 1:
            n = (n_chars % 200) + 50
            i = np.arange(n, dtype=np.int64)
            bins = ((d * 7919 + i * 104729) % 65536) >> 12
            assert got[str(d)]["modality"] == "audio"
        else:
            w = (n_chars % 16) + 4
            j = np.arange(w * 8 * 3, dtype=np.int64)
            bins = ((d * 31 + j * 17) % 256) >> 4
            assert got[str(d)]["modality"] == "image"
        expected = np.bincount(bins, minlength=16).tolist()
        assert got[str(d)]["feature"] == expected
        assert got[str(d)]["n_values"] == len(bins)


def test_near_dup_clusters(documents):
    from bioner_spark.ops.dedup import near_dup_clusters

    df = _with_dups(documents)
    out = near_dup_clusters(df, threshold=0.8).cache()
    rows = {r.doc_id: (r.cluster_id, r.is_representative) for r in out.collect()}
    # every doc appears exactly once
    assert len(rows) == df.count()
    # each injected dup (id+1e6) clusters with its original, original is rep
    for orig in range(10):
        dup = orig + 1000000
        if orig in rows and dup in rows:
            assert rows[dup][0] == rows[orig][0] == min(orig, rows[orig][0])
            assert rows[orig][1] == 1 and rows[dup][1] == 0
    # representatives are exactly the docs whose id equals their cluster id
    for d, (c, rep) in rows.items():
        assert rep == (1 if d == c else 0)
        assert c <= d  # cluster id is the component minimum


def test_contamination_flags(spark):
    from bioner_spark.ops.dedup import contamination_flags

    bench = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        "doc_id bigint, text string",
    )
    train = spark.createDataFrame(
        [
            # contains the benchmark 8-gram "the quick brown fox jumps over the lazy"
            (10, "prefix words the quick brown fox jumps over the lazy and more"),
            # shares words but no 8-gram run
            (11, "the quick brown fox sleeps now over the lazy dog today"),
            # completely disjoint
            (12, "completely different content with no overlap whatsoever here at all"),
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r.contaminated for r in contamination_flags(train, bench, n=8).collect()}
    assert out == {10: 1, 11: 0, 12: 0}


def test_multimodal_hist_counts(spark):
    from bioner_spark.ops.multimodal import extract_features

    media = spark.createDataFrame(
        [("m1", "image", bytearray(b"\x00\x07\x08\xff\xff"), None),
         ("m2", "audio", bytearray(b""), None)],
        "media_id string, modality string, payload binary, meta map<string,string>",
    )
    rows = {r.media_id: r for r in extract_features(media, normalize=False).collect()}
    f1 = rows["m1"].feature
    assert len(f1) == 32 and sum(f1) == rows["m1"].n_bytes == 5
    assert f1[0] == 2 and f1[1] == 1 and f1[31] == 2  # bins 0,1,31
    assert sum(rows["m2"].feature) == rows["m2"].n_bytes == 0


def test_kmeans_fit_matches_numpy_lloyds(spark):
    """Distributed Lloyd's == single-node numpy Lloyd's from the same init
    (deterministic xxhash64 take-ordered sample), per iteration count."""
    import numpy as np

    from bioner_spark.ops.similarity import kmeans_fit

    rng = np.random.default_rng(5)
    centers = np.array([[0.0, 0.0, 10.0], [10.0, 0.0, 0.0], [0.0, 10.0, 0.0]])
    pts = np.concatenate(
        [c + rng.normal(scale=0.5, size=(20, 3)) for c in centers]
    ).round(4)
    df = spark.createDataFrame(
        [(i, [float(x) for x in p]) for i, p in enumerate(pts)],
        "vec_id long, embedding array<double>",
    )
    got = np.array(kmeans_fit(df, k=3, max_iter=8, seed=77))

    # replicate the init exactly: k smallest xxhash64(seed, id) — seed as a
    # hash input, not arithmetic (string id columns must work too)
    init_rows = (
        df.select("embedding")
        .orderBy(F.xxhash64(F.lit(77), F.col("vec_id")))
        .limit(3)
        .collect()
    )
    cents = np.array([r["embedding"] for r in init_rows])
    for _ in range(8):
        d = ((pts[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        cell = d.argmin(axis=1)
        new = cents.copy()
        for c in range(3):
            if (cell == c).any():
                new[c] = pts[cell == c].mean(axis=0)
        if np.abs(new - cents).max() < 1e-6:
            cents = new
            break
        cents = new
    np.testing.assert_allclose(got, cents.round(6), atol=2e-6)


def test_ivf_topk_with_kmeans_centroids(spark):
    """The production IVF path: kmeans_fit codebook → ivf_topk. On
    well-separated clusters the probed cell contains the true neighbors, so
    IVF top-1 == brute-force top-1."""
    import numpy as np

    from bioner_spark.ops.similarity import cosine_topk, ivf_topk, kmeans_fit

    rng = np.random.default_rng(9)
    centers = rng.normal(size=(4, 8)) * 10
    pts = np.concatenate(
        [c + rng.normal(scale=0.3, size=(25, 8)) for c in centers]
    ).round(4)
    df = spark.createDataFrame(
        [(i, [float(x) for x in p]) for i, p in enumerate(pts)],
        "vec_id long, embedding array<double>",
    ).cache()
    cents = kmeans_fit(df, k=4, max_iter=10, seed=3, normalize=True)
    queries = df.filter(F.col("vec_id").isin([0, 30, 55, 80]))
    ivf = {
        r["query_id"]: r["neighbor_id"]
        for r in ivf_topk(df, queries, k=1, centroid_vecs=cents, n_probe=1).collect()
    }
    brute = {
        r["query_id"]: r["neighbor_id"]
        for r in cosine_topk(df, queries, k=1).collect()
    }
    assert ivf == brute


def test_lsh_indexed_matches_unindexed_and_prunes(spark, embeddings, tmp_path):
    """write_ann_index + lsh_topk_indexed == lsh_topk, and the probe scan
    carries PartitionFilters (plan-time pruning of bucket directories)."""
    from bioner_spark.ops.similarity import lsh_topk, lsh_topk_indexed, write_ann_index

    idx = str(tmp_path / "ann_idx")
    write_ann_index(embeddings, idx, dim=64, n_planes=4)
    queries = embeddings.filter(F.col("vec_id") < 3)
    got = lsh_topk_indexed(spark, idx, queries, k=5, n_planes=4, dim=64)
    want = lsh_topk(embeddings, queries, k=5, n_planes=4, dim=64)
    as_set = lambda df: {tuple(r) for r in df.select(
        "query_id", "neighbor_id", "cosine", "rank").collect()}
    assert as_set(got) == as_set(want)

    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        got.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "bucket" in plan


def test_lsh_rows_per_band_must_divide_signature_width(documents):
    """k=8 signature: r=3 would silently band only mh0..mh5 (lower recall
    than configured) and r=9 would band nothing (zero candidates). Both must
    fail loudly instead."""
    from bioner_spark.ops.dedup import lsh_candidate_pairs

    for bad in (3, 9, 0):
        with pytest.raises(ValueError, match="rows_per_band"):
            lsh_candidate_pairs(documents, rows_per_band=bad)


def test_contamination_benchmark_side_ignores_corpus_words_col(spark):
    """words_col names a pre-split array on the CORPUS side only; a
    benchmark frame without that column must still work (raw text split),
    and one WITH it must use it. The pre-split column holds the engine's
    own tokenization split(normalized(text)) — the documented invariant;
    a custom split would silently miss cross-side shingle matches."""
    from bioner_spark.ops.dedup import contamination_flags, normalized

    bench_raw = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], "doc_id bigint, text string"
    )
    train = spark.createDataFrame(
        [(10, "xx alpha beta gamma delta yy"), (11, "unrelated words entirely here")],
        "doc_id bigint, text string",
    ).withColumn("words", F.split(normalized(F.col("text")), " "))

    out = {
        r.doc_id: r.contaminated
        for r in contamination_flags(train, bench_raw, n=4, words_col="words").collect()
    }
    assert out == {10: 1, 11: 0}

    bench_split = bench_raw.withColumn("words", F.split(F.col("text"), " "))
    out2 = {
        r.doc_id: r.contaminated
        for r in contamination_flags(train, bench_split, n=4, words_col="words").collect()
    }
    assert out2 == out


def test_lsh_bucket_dim_mismatch_fails_loudly(spark):
    """A wrong caller dim must not silently send every vector to bucket 0
    (which would disable pruning → all-pairs candidates)."""
    from pyspark.errors import PySparkException

    from bioner_spark.ops.similarity import hyperplanes, lsh_bucket

    df = spark.createDataFrame(
        [(1, [0.1, 0.2, 0.3])], "vec_id bigint, embedding array<double>"
    )
    planes = hyperplanes(dim=4, n_planes=2)
    with pytest.raises(PySparkException, match="dim mismatch"):
        df.select(lsh_bucket(F.col("embedding"), planes).alias("b")).collect()
    ok = df.select(
        lsh_bucket(F.col("embedding"), hyperplanes(dim=3, n_planes=2)).alias("b")
    ).collect()
    assert len(ok) == 1 and ok[0].b is not None


def test_decoded_histograms_on_error_containment(spark):
    """At web scale corrupt/NULL/foreign payloads are certain: on_error
    ='skip' drops them and keeps the stage alive; the default stays loud
    for the contract fixtures, where any decode error is a bug."""
    from bioner_spark.ops.multimodal import extract_decoded_histograms

    media = spark.createDataFrame(
        [
            ("ok", "audio", _wav_container(8, bytes([0, 128, 255]))),
            ("nul", "audio", None),
            ("junk", "video", b"\x00\x01not-a-container"),
        ],
        "media_id string, modality string, payload binary",
    )
    got = extract_decoded_histograms(media, on_error="skip").collect()
    assert [r["media_id"] for r in got] == ["ok"]

    with pytest.raises(Exception):
        extract_decoded_histograms(media).collect()
    with pytest.raises(ValueError, match="on_error"):
        extract_decoded_histograms(media, on_error="quarantine")


def test_budget_subbatching_mid_loop_flush_matches_single_flush(spark):
    """byte_budget=1 forces a flush after every row — output must be
    identical (rows, dtypes) to the one-flush default, proving the shared
    scaffolding's mid-loop path emits schema-exact frames."""
    from bioner_spark.ops.multimodal import (
        extract_decoded_histograms,
        extract_features,
    )

    rows = [
        ("m1", "image", b"\x00\x01\x02\xff" * 10, {"w": "4"}),
        ("m2", "audio", b"", {}),
        ("m3", "video", b"\x10" * 100, {"n_frames": "90"}),
    ]
    from bioner_spark.ops.multimodal import MEDIA_SCHEMA

    media = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    key = lambda df: sorted(tuple(r) for r in df.collect())
    assert key(extract_features(media, byte_budget=1)) == key(extract_features(media))

    wav_media = spark.createDataFrame(
        [
            ("ok", "audio", _wav_container(8, bytes([0, 128, 255]))),
            ("junk", "video", b"\x00\x01not-a-container"),
            ("ok2", "audio", _wav_container(8, bytes([7, 9]))),
        ],
        "media_id string, modality string, payload binary",
    )
    got = extract_decoded_histograms(wav_media, byte_budget=1, on_error="skip")
    assert key(got) == key(
        extract_decoded_histograms(
            wav_media.filter(F.col("media_id") != "junk")
        )
    )


def test_normalization_law_identical_across_engines(spark):
    """The dedup normalization must agree byte-for-byte between Spark
    (Java regex) and DuckDB (RE2) — Java's \\s includes U+000B vertical
    tab, RE2's does not, so the law uses an explicit ASCII class. A VT doc
    is the regression probe."""
    import duckdb

    from bioner_spark.ops.dedup import normalized

    probes = [
        "a\x0bb",
        "A  b\tc\r\n",
        " x ",
        "mixed\x0b \t text",
        # Unicode-casing probes for the LOWER_SQL shim: İ expands to
        # i+U+0307 on Spark (SpecialCasing), Σ takes final-sigma form at
        # word end, NBSP must survive trim (explicit ' ' char set).
        "İstanbul ΟΔΥΣΣΕΥΣ",
        " edge ",
    ]
    sdf = spark.createDataFrame([(p,) for p in probes], "text string")
    got_spark = [r.n for r in sdf.select(normalized(F.col("text")).alias("n")).collect()]

    from bioner_spark.contract.sql import _NORM_SQL, _expand_lower_sql

    # _NORM_SQL carries the LOWER_SQL marker (expanded in oracle_sql());
    # expand it here exactly as the oracles do.
    norm_sql = _expand_lower_sql(_NORM_SQL)
    con = duckdb.connect()
    got_duck = [
        con.execute(
            f"SELECT {norm_sql} AS n FROM (SELECT ? AS text)", [p]
        ).fetchone()[0]
        for p in probes
    ]
    assert got_spark == got_duck
    assert got_spark[0] == "a b"  # VT collapsed on BOTH engines


def test_lower_sql_shim_matches_spark_lower(spark):
    """The LOWER_SQL shim (DuckDB side) must reproduce Spark/Java lower()
    byte-for-byte, including Unicode SpecialCasing: İ → i + U+0307 and the
    FULL Final_Sigma rule — Σ is final iff preceded by cased(+ci-run) and
    not followed by ci-run+cased, where ci spans marks, format chars,
    modifier letters/symbols, and word-internal punctuation. The battery
    covers every divergence class measured on this JVM, incl. the
    previously-disclosed residuals ('ΟΣ.α', ci-run-before "Ο'Σ"), caseless
    scripts (中), multi-Σ runs, and Lm/Sk edge chars."""
    import duckdb

    from bioner_spark.contract.sql import _expand_lower_sql

    probes = [
        # final-sigma core
        "ΣΟΦΙΑΣ", "ΟΔΥΣΣΕΥΣ", "ΑΣΣΟΣ", "σΣσ", "ΣΣ", "ΣΣΣΣΣΑ", "ΌΣ",
        # ci runs AFTER Σ (not final when a cased letter follows the run)
        "ΟΣ.α", "ΟΣ:α", "ΟΣ·α", "ΟΣ..α", "ΟΣ··α", "ΟΣ.Ω", "ΟΣ‘α",
        "ΟΣ：α", "ΟΣ’́α", "ΟΣ\xadα", "ΟΣ́α", "ΟΣʰα", "Σ.Σ.Σ.Α",
        # ci runs then END or non-cased (final)
        "ΟΣ.", "ΟΣ1", "ΟΣ_", "ΟΣ1α", "ΟΣ.1", "ΤΕΛΟΣ’", "ΟΣ́", "ΟΣᵃ", "ΟΣ˘",
        # ci runs BEFORE Σ (final when a cased letter precedes the run)
        "Ο'Σ", "Ο.Σ", "Ο‘Σ", "ΑΣ’Σ", "ΑΣ·α",
        # no cased letter before → never final
        "Σ.α", "'Σ", "‘Σ", "Σˌα", "�.Σ.",
        # caseless scripts are not cased context
        "ΟΣ中", "中Σ",
        # İ SpecialCasing (incl. as cased context for a final Σ)
        "İstanbul", "İΣ", "İΣ.α", "DİYARBAKIR",
    ]
    sdf = spark.createDataFrame([(p,) for p in probes], "text string")
    got_spark = [r.n for r in sdf.select(F.lower("text").alias("n")).collect()]
    con = duckdb.connect()
    shim = _expand_lower_sql("LOWER_SQL(text)")
    got_duck = [
        con.execute(f"SELECT {shim} AS n FROM (SELECT ? AS text)", [p]).fetchone()[0]
        for p in probes
    ]
    assert got_spark == got_duck, [
        (p, s, d) for p, s, d in zip(probes, got_spark, got_duck) if s != d
    ]


def test_lower_sql_shim_supplementary_planes(spark):
    """Supplementary-plane parity for the LOWER_SQL shim. ICU (Spark)
    carries Unicode 14-16 scripts that DuckDB's utf8proc/RE2 predate;
    scripts/astral_probe.py derived the full one-sided diff set over all
    131,859 assigned astral codepoints (post-patch: shim_diffs == 0).
    This test pins one probe per patched family, plus the single
    documented residual RE2 cannot express (no class subtraction):
    U+1171E AHOM MEDIAL RA is Mn (case-ignorable) in DuckDB's tables but
    Mc (not ignorable) in current ICU, so the shim mis-finalizes a Σ
    separated from a cased letter by a ci-run containing it."""
    import duckdb

    from bioner_spark.contract.sql import _expand_lower_sql

    probes = [
        # Vithkuqi (Unicode 14): utf8proc lower() is identity, RE2 classes
        # know it — translate pre-pass supplies the mapping, and the
        # lowered form must still act as cased Final_Sigma context.
        "\U00010570\U00010571",
        "\U00010570Σ",
        # Garay (Unicode 16): neither lower() nor \p{Lu}/\p{Ll} know it —
        # translate + explicit _CASED_CLASS ranges.
        "\U00010d50Σ",
        "Ο\U00010d69Σ",  # Garay ci mark inside the sigma scan run
        # Squared Latin capital A (So + Other_Uppercase): cased context
        # per ICU, invisible to \p{Lu} — explicit _CASED_CLASS range.
        "\U0001f130Σ",
        "Ο\U0001f130",
        # Gurung Khema ci mark (Unicode 16) inside the scan run
        "Ο\U0001611eΣ",
        # caseless astral char is NOT cased context (emoji, as in the
        # adversarial corpus)
        "\U0001f600Σ",
    ]
    sdf = spark.createDataFrame([(p,) for p in probes], "text string")
    got_spark = [r.n for r in sdf.select(F.lower("text").alias("n")).collect()]
    con = duckdb.connect()
    shim = _expand_lower_sql("LOWER_SQL(text)")
    got_duck = [
        con.execute(f"SELECT {shim} AS n FROM (SELECT ? AS text)", [p]).fetchone()[0]
        for p in probes
    ]
    assert got_spark == got_duck, [
        (p, s, d) for p, s, d in zip(probes, got_spark, got_duck) if s != d
    ]

    # The documented U+1171E residual: engines MUST diverge here (if this
    # starts passing, DuckDB upgraded its tables and the shim note +
    # astral_probe baseline should be refreshed).
    resid = "Ο\U0001171eΣ"
    s = sdf.sparkSession.createDataFrame([(resid,)], "text string") \
        .select(F.lower("text").alias("n")).collect()[0].n
    d = con.execute(
        f"SELECT {shim} AS n FROM (SELECT ? AS text)", [resid]
    ).fetchone()[0]
    assert s.endswith("σ") and d.endswith("ς"), (s, d)


def test_lower_sql_sigma_classes_exact_over_bmp(spark):
    """The shim's RE2 character classes (_CI_CLASS / _CASED_CLASS) must
    match Spark/ICU's Final_Sigma context classification for EVERY BMP
    codepoint — derived live from Spark with two context probes per char:
    lower('ΟΣ'+c+'α') keeps σ iff the scan walks through c (case-ignorable)
    or stops at a cased c; lower('ΟΣ'+c) ends final iff c is ci or
    non-cased. Note Spark lower() is ICU, NOT java.lang.String.toLowerCase
    (Java-ROOT skips digits in the scan; ICU does not) — so Spark itself is
    the only valid authority to derive from."""
    import duckdb

    from bioner_spark.contract.sql import _CASED_CLASS, _CI_CLASS

    rows = [(cp, chr(cp)) for cp in range(0x20, 0x10000)
            if not (0xD800 <= cp <= 0xDFFF)]
    df = spark.createDataFrame(rows, "cp int, c string")
    got = df.select(
        "cp",
        F.substring(
            F.lower(F.concat(F.lit("ΟΣ"), F.col("c"), F.lit("α"))), 2, 1
        ).alias("a1"),
        F.substring(F.lower(F.concat(F.lit("ΟΣ"), F.col("c"))), 2, 1).alias("b1"),
    ).collect()
    sp_ci = {r.cp for r in got if r.a1 == "σ" and r.b1 == "ς"}
    sp_cased = {r.cp for r in got if r.a1 == "σ" and r.b1 != "ς"}

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE cps AS SELECT range::INT AS cp, chr(range::INT) AS c "
        "FROM range(32, 65536) WHERE range < 55296 OR range > 57343"
    )
    memb = con.execute(
        "SELECT cp, regexp_matches(c, ?) AS ci, regexp_matches(c, ?) AS cs FROM cps",
        [
            f"^[{_CI_CLASS}]$".replace("\\x27", "'"),
            f"^[{_CASED_CLASS}]$",
        ],
    ).fetchall()
    re_ci = {cp for cp, ci, _ in memb if ci}
    re_cased = {cp for cp, _, cs in memb if cs}
    assert sorted(sp_ci ^ re_ci) == [], "case-ignorable class drifted from ICU"
    assert sorted(sp_cased ^ re_cased) == [], "cased class drifted from ICU"


def test_exact_dedup_null_text_gets_per_id_fingerprint(spark):
    """NULL text (fetch failures) must NOT collapse into one NULL-keyed
    duplicate group — distinct failed fetches are not copies of each other.
    Same sentinel law as streaming_dedup (streaming/stateful.py)."""
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "same"), (4, "same")],
        "doc_id long, text string",
    )
    groups = {r.fingerprint: r for r in exact_duplicate_groups(df).collect()}
    assert groups["null:1"].n_docs == 1 and groups["null:2"].n_docs == 1
    assert dedup_exact(df).count() == 3  # both NULLs kept, one 'same'


def test_fingerprint_null_key_does_not_collapse_to_bare_null(spark):
    """concat_ws skips NULL args, so a concat_ws-built sentinel would turn
    EVERY NULL-key NULL-text row into the bare string 'null' — colliding
    with each other and with a real key ''. The law must keep the non-NULL
    form 'null:<key>' bit-identical (the DuckDB oracles hash it) and give
    the no-identity rows the explicit \\x00 fallback group instead."""
    from pyspark.sql import functions as F

    from bioner_spark.ops.dedup import fingerprint_expr

    df = spark.createDataFrame(
        [("u1", None), (None, None), ("", None), ("u2", "text")],
        "url string, text string",
    )
    got = {
        r["url"]: r["fp"]
        for r in df.select(
            "url", fingerprint_expr(F.col("text"), F.col("url")).alias("fp")
        ).collect()
    }
    assert got["u1"] == "null:u1"          # oracle form unchanged
    assert got[None] == "null:\x00"        # explicit fallback, not 'null'
    assert got[""] == "null:"              # real empty key ≠ NULL key
    assert len(got["u2"]) == 32            # md5 path untouched


def test_kmeans_fit_rejects_whole_null_vector(spark):
    """size(NULL)/exists(NULL, ...) are NULL (not true) under ANSI mode, so
    the malformed-vector validation needs the explicit isNull arm — without
    it the Lloyd loop dies with an opaque driver TypeError."""
    import pytest

    from bioner_spark.ops.similarity import kmeans_fit

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, None)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="malformed vector"):
        kmeans_fit(df, k=2, max_iter=2, seed=1)


def test_kmeans_fit_normalize_still_rejects_null_and_nan(spark):
    """The spherical path's `_nrm > 0` filter silently drops NULL/NaN rows
    (their norm is NULL/NaN), so the loud validation must scan the
    PRE-normalize frame — normalize=True must raise on the same malformed
    inputs as normalize=False, not train on silently fewer rows. True zero
    vectors stay a documented silent drop (no direction to normalize)."""
    import pytest

    from bioner_spark.ops.similarity import kmeans_fit

    base = [(1, [3.0, 0.0]), (2, [0.0, 4.0]), (4, [5.0, 5.0])]
    for bad_row in [(3, None), (3, [float("nan"), 1.0])]:
        df = spark.createDataFrame(
            base + [bad_row], "vec_id long, embedding array<double>"
        )
        with pytest.raises(ValueError, match="malformed vector"):
            kmeans_fit(df, k=2, max_iter=2, seed=1, normalize=True)
    # zero vector: dropped by design, fit succeeds on the rest
    df = spark.createDataFrame(
        base + [(3, [0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    cents = kmeans_fit(df, k=2, max_iter=2, seed=1, normalize=True)
    assert len(cents) == 2


def test_textstats_whitespace_law_identical_across_engines(spark):
    """The textstats word split must agree between Spark and DuckDB on a
    VT doc, same law (and same regression probe) as the dedup
    normalization test above: Java \\s includes U+000B, RE2's does not, so
    the engine and the token_counts/quality_features/lang_guess/
    corpus_filter oracles all spell the explicit ASCII class. Runs the
    REAL contract oracle SQL against a VT corpus — with '\\s+' in any of
    those oracles, ws_tokens/n_words under-count on the DuckDB side and
    this fails (mutation-verified)."""
    import duckdb

    import __spark_entry__ as entrymod

    rows = [
        (1, "the\x0bcat and the dog", "en", "t", 20),
        (2, "und\x0b der\tdas 123 x!", "de", "t", 20),
    ]
    sdf = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    )
    eng = {
        r["doc_id"]: r
        for r in with_lang_guess(with_token_counts(sdf)).collect()
    }
    con = duckdb.connect()
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    con.register("documents", pdf)
    oracle_tok = {
        r[0]: r for r in con.execute(entrymod.oracle_sql()["token_counts"]).fetchall()
    }
    oracle_lang = {
        r[0]: r for r in con.execute(entrymod.oracle_sql()["lang_guess"]).fetchall()
    }
    for i, text, _lg, _s, _n in rows:
        n_java = len([w for w in __import__("re").split(r"[ \t\n\x0b\f\r]+", text) if w])
        assert eng[i]["ws_tokens"] == n_java  # engine splits ON the VT
        assert oracle_tok[i][1] == eng[i]["ws_tokens"]
        assert oracle_tok[i][2] == eng[i]["subword_est"]
    # VT-joined stopwords ('the\x0bcat', 'und\x0bder') must still HIT the
    # stopword list on both engines, or lang flips to 'und'; the contract
    # query aggregates to (lang_guess, n_docs)
    assert eng[1]["lang_guess"] == "en" and eng[2]["lang_guess"] == "de"
    assert {r[0]: r[1] for r in oracle_lang.values()} == {"en": 1, "de": 1}


def test_round6_law_identical_across_engines(spark):
    """Contract floats are rounded to 6 places on both sides; the two
    engines must agree on .5-at-digit-7 boundaries. Spark F.round and
    DuckDB ROUND both round half away from zero on the dyadic rational
    1/128 = 0.0078125; Python's round() is half-to-even and gives
    0.007812 — which is why no contract query may round driver-side with
    round() (entity_prf1 regressed exactly this way before moving to
    F.round)."""
    import duckdb

    val = 1 / 128  # exactly representable; 7th decimal digit is a hard 5
    got_spark = spark.range(1).select(
        F.round(F.lit(val), 6).alias("r")
    ).collect()[0]["r"]
    got_duck = duckdb.sql(
        f"SELECT ROUND(CAST({val!r} AS DOUBLE), 6)"  # DOUBLE, like the oracles
    ).fetchone()[0]
    assert got_spark == got_duck == 0.007813
    assert round(val, 6) == 0.007812  # the Python semantic this test bans


def test_frame_sample_plan_non_numeric_n_frames(spark):
    """A non-numeric declared frame count ('unknown') must route to the
    absent branch (zero frames), not abort the job under default ANSI."""
    from bioner_spark.ops.multimodal import MEDIA_SCHEMA, frame_sample_plan

    rows = [
        ("v1", "video", b"\x10" * 10, {"n_frames": "unknown"}),
        ("v2", "video", b"\x10" * 10, {"n_frames": "61"}),
    ]
    media = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    frames = sorted(
        (r.media_id, r.frame_idx) for r in frame_sample_plan(media, every_n=30).collect()
    )
    assert frames == [("v2", 0), ("v2", 30), ("v2", 60)]


def test_stable_default_parallelism_instant_on_local_master(spark, monkeypatch):
    """Plain local[N] masters have no asynchronous executor registration:
    the poll (warmup job + ≥1.5 s of sleeps) must be skipped entirely —
    every kg_job/train_job dev run previously paid it for a value that is
    fixed at session creation."""
    import time

    from bioner_spark.session import stable_default_parallelism

    def no_sleep(_):  # pragma: no cover - failure path
        raise AssertionError("poll loop ran on a local[N] master")

    monkeypatch.setattr(time, "sleep", no_sleep)
    got = stable_default_parallelism(spark)
    assert got == spark.sparkContext.defaultParallelism
