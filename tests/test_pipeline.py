"""End-to-end pipeline parity (the P/R ≥ 0.95 triple gate,
BASELINE.json north_rule) + checkpointed-resume behavior."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bioner_spark import corpus as corpus_mod
from bioner_spark.metrics import entity_level_prf1
from bioner_spark.pipeline import (
    TRIPLES_TABLE_SCHEMA,
    build_triples,
    run_checkpointed,
)
from bioner_spark.schemas import MENTIONS_SCHEMA
from bioner_spark.triples import triple_prf1


def test_end_to_end_triple_parity(spark, corpus):
    pages = corpus_mod.pages_spark_df(spark, corpus)
    alias = corpus_mod.alias_dict_spark_df(spark, corpus)
    result = build_triples(pages, alias, tagger="dict")
    gold = spark.createDataFrame(corpus.triples)
    row = triple_prf1(result.triples, gold).collect()[0]
    assert row["precision"] >= 0.95, row
    assert row["recall"] >= 0.95, row


def test_end_to_end_mention_parity(spark, corpus):
    pages = corpus_mod.pages_spark_df(spark, corpus)
    alias = corpus_mod.alias_dict_spark_df(spark, corpus)
    result = build_triples(pages, alias, tagger="dict")
    gold = spark.createDataFrame(
        corpus.mentions[["doc_id", "sentence_id", "start_tok", "end_tok"]]
    )
    row = entity_level_prf1(result.mentions, gold).collect()[0]
    assert row["f1"] >= 0.95, row


def test_duplicate_urls_collapse_to_one_document(spark, corpus):
    """Recrawled urls must not conflate: duplicated input pages yield
    byte-identical triples/mentions to the single-copy run (one document
    per url, deterministically chosen), never interleaved token tables."""
    pages = corpus_mod.pages_spark_df(spark, corpus)
    alias = corpus_mod.alias_dict_spark_df(spark, corpus)
    doubled = pages.union(pages)  # exact recrawl of every url
    base = build_triples(pages, alias, tagger="dict")
    dup = build_triples(doubled, alias, tagger="dict")
    try:
        t_base = {tuple(r) for r in base.triples.collect()}
        t_dup = {tuple(r) for r in dup.triples.collect()}
        assert t_dup == t_base
        # token table is NOT doubled and has unique keys
        keys = dup.tokens.groupBy("doc_id", "sentence_id", "token_id").count()
        assert keys.filter(F.col("count") > 1).count() == 0
        assert dup.tokens.count() == base.tokens.count()
    finally:
        base.unpersist()
        dup.unpersist()


def test_recrawl_keeps_longest_copy_not_lexicographic_max(spark, corpus):
    """A recrawl that caught a truncated error page must lose to the
    complete copy even when it sorts lexicographically later ('z' > '<'):
    the dedup rule is max payload BYTES, not string/binary max. Mutates the
    HTML payload — the column the default use_extractor=True path actually
    dedups on (a text-column mutation would be silently dropped by the
    payload select and test nothing)."""
    pages = corpus_mod.pages_spark_df(spark, corpus).orderBy("url").limit(3)
    truncated = pages.withColumn(
        "html", F.lit("zzz error page").cast("binary")
    )
    base = build_triples(pages, corpus_mod.alias_dict_spark_df(spark, corpus), tagger="dict")
    both = build_triples(
        pages.union(truncated),
        corpus_mod.alias_dict_spark_df(spark, corpus),
        tagger="dict",
    )
    try:
        assert {tuple(r) for r in both.triples.collect()} == {
            tuple(r) for r in base.triples.collect()
        }
    finally:
        base.unpersist()
        both.unpersist()


def test_checkpointed_resume(spark, corpus, tmp_path):
    pages = corpus_mod.pages_spark_df(spark, corpus)
    alias = corpus_mod.alias_dict_spark_df(spark, corpus)
    out = str(tmp_path / "kg")

    r1 = run_checkpointed(spark, pages, alias, out, n_buckets=4)
    assert r1.n_buckets_processed > 0
    t1 = r1.triples.drop("bucket").toPandas().sort_values(["doc_id", "sentence_id", "subj", "pred", "obj"]).reset_index(drop=True)

    # second run: everything already done → all skipped, same output
    r2 = run_checkpointed(spark, pages, alias, out, n_buckets=4)
    assert r2.n_buckets_processed == 0
    assert r2.n_buckets_skipped == r1.n_buckets_processed
    # bucket_lineage covers ALL buckets (secondary sinks diff against it);
    # identical input → identical fingerprints across runs
    assert sorted(b for b, _, _ in r2.bucket_lineage) == list(range(4))
    assert r2.bucket_lineage == r1.bucket_lineage
    t2 = r2.triples.drop("bucket").toPandas().sort_values(["doc_id", "sentence_id", "subj", "pred", "obj"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(t1, t2)

    # changed input in one bucket → only affected buckets recompute
    pages2 = pages.withColumn(
        "url", F.when(F.col("url").endswith("/doc/0"), F.concat(F.col("url"), F.lit("x"))).otherwise(F.col("url"))
    )
    r3 = run_checkpointed(spark, pages2, alias, out, n_buckets=4)
    assert 0 < r3.n_buckets_processed <= 2


def test_neural_pipeline_runs(spark, corpus):
    """Neural tagger path: structurally sound end-to-end (tag domain, spans
    decodable). Quality is not asserted — weights are a seeded fixture."""
    from bioner_spark.functions.ngrams import build_vocabulary
    from bioner_spark.ner.kernel import init_model
    from bioner_spark.tokenizer import tokenize

    pages = corpus_mod.pages_spark_df(spark, corpus).limit(6)
    alias = corpus_mod.alias_dict_spark_df(spark, corpus)
    toks = tokenize(pages)
    vocab = build_vocabulary(toks, min_word_frequency=1).cache()
    model = init_model(input_dim=15 + vocab.count(), seed=1234)
    result = build_triples(
        pages, alias, tagger="neural", model=model, vocab=vocab, use_extractor=False
    )
    tags = {r.tag for r in result.tokens.select("tag").distinct().collect()}
    assert tags <= {"B", "I", "O"}
    result.triples.count()  # must execute without error


def test_neural_pipeline_real_artifact_formats(spark, corpus, tmp_path):
    """The released-artifact loop, torch/fasttext-free: fastText .bin
    embeddings (committed fixture) + a .pt checkpoint round-tripped through
    the torch-zip writer drive the BioNER-shape pipeline end to end
    (reference: fasttext_encoder.py:14-15 + annotate_dataset.py:17-18)."""
    import os

    from bioner_spark.ner.fasttext_bin import load_bin
    from bioner_spark.ner.kernel import init_model
    from bioner_spark.ner.torch_import import (
        load_sequence_model,
        model_to_state_dict,
        write_state_dict_pt,
    )

    ft_model, meta = load_bin(
        os.path.join(os.path.dirname(__file__), "fixtures", "fasttext_tiny.bin")
    )
    src = init_model(input_dim=meta["dim"], feedforward_size=8, lstm_size=4,
                     n_bilstm_layers=1, seed=99)
    pt = str(tmp_path / "ckpt.pt")
    write_state_dict_pt(pt, model_to_state_dict(src))
    model = load_sequence_model(pt)
    assert model.input_dim == ft_model.dim

    pages = corpus_mod.pages_spark_df(spark, corpus).limit(6)
    alias = corpus_mod.alias_dict_spark_df(spark, corpus)
    result = build_triples(
        pages, alias, tagger="neural", model=model, ft_model=ft_model,
        use_extractor=False,
    )
    closure_triples = sorted(
        tuple(r) for r in result.triples.select("subj", "pred", "obj").collect()
    )

    # same pipeline with BOTH artifacts shipped via SparkFiles (the scale
    # path kg_job uses: multi-GB real models must never ride the closure) —
    # identical triples
    from bioner_spark.ner.fasttext import ship_fasttext
    from bioner_spark.ner.infer import ship_model

    shipped = build_triples(
        pages, alias, tagger="neural",
        model=ship_model(spark, model, name="pt_artifact_test"),
        ft_model=ship_fasttext(spark, ft_model, name="bin_artifact_test"),
        use_extractor=False,
    )
    shipped_triples = sorted(
        tuple(r) for r in shipped.triples.select("subj", "pred", "obj").collect()
    )
    assert shipped_triples == closure_triples


def test_checkpointed_resume_converges_to_current_input(spark, corpus, tmp_path):
    """The resume contract's hard cases: the on-disk table must converge to
    exactly the CURRENT input's triples — documents REMOVED from the input
    (whole buckets emptied or thinned to zero matches) must not leave stale
    partitions behind, and reverting an input must not be skipped against a
    stale manifest row (latest-wins)."""
    pages = corpus_mod.pages_spark_df(spark, corpus)
    alias = corpus_mod.alias_dict_spark_df(spark, corpus)
    out = str(tmp_path / "kg2")

    run_checkpointed(spark, pages, alias, out, n_buckets=4)

    # half the docs disappear: both emptied buckets (orphans) and thinned
    # ones must recompute / be dropped
    half = pages.filter(F.xxhash64("url") % 2 == 0)
    r2 = run_checkpointed(spark, half, alias, out, n_buckets=4)
    expected = sorted(
        map(tuple, build_triples(half, alias).triples
            .select("subj", "pred", "obj", "doc_id").collect())
    )
    got = sorted(
        map(tuple, r2.triples.select("subj", "pred", "obj", "doc_id").collect())
    )
    assert got == expected  # no stale rows from removed docs

    # revert to the full input (same fingerprints as run 1): latest-wins
    # must see the buckets were since overwritten/removed and recompute —
    # never skip against the stale run-1 'done' rows
    r3 = run_checkpointed(spark, pages, alias, out, n_buckets=4)
    expected3 = sorted(
        map(tuple, build_triples(pages, alias).triples
            .select("subj", "pred", "obj", "doc_id").collect())
    )
    got3 = sorted(
        map(tuple, r3.triples.select("subj", "pred", "obj", "doc_id").collect())
    )
    assert got3 == expected3


def test_checkpointed_zero_triples_and_recrawl(spark, corpus, tmp_path):
    """A run that emits NO triples at all must still write a readable empty
    table + manifest (not crash schema inference); a recrawl (same url, new
    warc_ts) must change the fingerprint and recompute the bucket."""
    pages = corpus_mod.pages_spark_df(spark, corpus)
    out = str(tmp_path / "kg3")
    empty_alias = pages.sparkSession.createDataFrame(
        [], "alias string, canonical_id string"
    )
    r1 = run_checkpointed(spark, pages, empty_alias, out, n_buckets=4)
    assert r1.triples.count() == 0
    r2 = run_checkpointed(spark, pages, empty_alias, out, n_buckets=4)
    assert r2.n_buckets_processed == 0  # manifest recorded the empty result

    # recrawl: identical urls, shifted warc_ts → every bucket recomputes
    recrawled = pages.withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 HOUR")
    )
    r3 = run_checkpointed(spark, recrawled, empty_alias, out, n_buckets=4)
    assert r3.n_buckets_processed == 4


def test_full_bioner_checkpoint_through_pipeline(spark, corpus, tmp_path):
    """The REAL released-BioNER architecture (ff1 2048, 3× BiLSTM 1024,
    encoder 1024, fastText-300 input — bioner_model.py:22-33) imported from
    a full-shape .pt fixture and run end-to-end through run_checkpointed:
    proves the import path at the real parameter-name set AND that a
    real-size model flows through SparkFiles shipping + the batched
    mapInPandas forward, not just the small-config subset."""
    import numpy as np

    from bioner_spark.ner.fasttext import FastTextModel, ship_fasttext
    from bioner_spark.ner.infer import ship_model
    from bioner_spark.ner.torch_import import (
        load_sequence_model, write_state_dict_pt,
    )

    rng = np.random.default_rng(177)
    D, FF, H = 300, 2048, 1024

    def t(*shape):
        return (rng.standard_normal(shape) * 0.01).astype(np.float32)

    sd = {"ff1.weight": t(FF, D), "ff1.bias": t(FF)}
    for prefix, d_in, bidi in (
        ("biLSTM", FF, True),
        ("additional_biLSTM_layers.0", 2 * H, True),
        ("additional_biLSTM_layers.1", 2 * H, True),
        ("encoderLSTM", 2 * H, False),
    ):
        for suf in ("", "_reverse") if bidi else ("",):
            sd[f"{prefix}.weight_ih_l0{suf}"] = t(4 * H, d_in)
            sd[f"{prefix}.weight_hh_l0{suf}"] = t(4 * H, H)
            sd[f"{prefix}.bias_ih_l0{suf}"] = t(4 * H)
            sd[f"{prefix}.bias_hh_l0{suf}"] = t(4 * H)
    sd["hidden2tag.weight"] = t(3, H)
    sd["hidden2tag.bias"] = t(3)

    pt = str(tmp_path / "bioner_full_pipeline.pt")
    write_state_dict_pt(pt, sd)
    model = load_sequence_model(pt, name="BioNER")
    ft = FastTextModel.fixture(bucket=500, dim=D)
    assert model.input_dim == ft.dim

    pages = corpus_mod.pages_spark_df(spark, corpus).limit(3)
    alias = corpus_mod.alias_dict_spark_df(spark, corpus)
    out = str(tmp_path / "bioner_full_out")
    result = run_checkpointed(
        spark, pages, alias, out, n_buckets=2, tagger="neural",
        model=ship_model(spark, model, name="bioner_full_fixture"),
        ft_model=ship_fasttext(spark, ft, name="ft300_fixture"),
        use_extractor=False,
    )
    # random weights → arbitrary tags; the contract here is plumbing:
    # the job completes, writes buckets, and the manifest is consistent
    n = result.triples.count()
    assert n >= 0
    manifest = spark.read.parquet(f"{out}/manifest")
    assert manifest.count() >= 1


def test_config_token_invalidates_resume(spark, corpus, tmp_path):
    """A config change (new model / alias version → new config_token) must
    recompute every bucket even though the INPUT fingerprints all match —
    without the token the resume served the old config's triples as if
    produced by the new one. Same token → normal skip. Legacy manifests
    written without a token recompute once (the safe direction)."""
    pages = corpus_mod.pages_spark_df(spark, corpus)
    alias = corpus_mod.alias_dict_spark_df(spark, corpus)
    out = str(tmp_path / "kg")

    r1 = run_checkpointed(spark, pages, alias, out, n_buckets=4,
                          config_token="cfgA")
    n = r1.n_buckets_processed
    assert n > 0

    # same input, same config → all skipped
    r2 = run_checkpointed(spark, pages, alias, out, n_buckets=4,
                          config_token="cfgA")
    assert r2.n_buckets_processed == 0 and r2.n_buckets_skipped == n

    # same input, DIFFERENT config → all recomputed
    r3 = run_checkpointed(spark, pages, alias, out, n_buckets=4,
                          config_token="cfgB")
    assert r3.n_buckets_processed == n and r3.n_buckets_skipped == 0

    # corpus-derived config: an input change ANYWHERE invalidates all
    # buckets (the vocab the tagger was built from changed)
    pages2 = pages.withColumn(
        "url",
        F.when(
            F.col("url").endswith("/doc/0"), F.concat(F.col("url"), F.lit("x"))
        ).otherwise(F.col("url")),
    )
    r4 = run_checkpointed(spark, pages2, alias, out, n_buckets=4,
                          config_token="cfgB", config_covers_corpus=True)
    assert r4.n_buckets_processed == n and r4.n_buckets_skipped == 0


def test_pending_row_voids_done_on_crashed_rewrite(spark, corpus, tmp_path):
    """Crash-window safety: if a rewrite deleted a bucket's partition but
    died before writing, the 'pending' manifest row appended BEFORE the
    delete must void the stale 'done' row, so a rerun with a matching
    input fingerprint recomputes the bucket instead of skipping a bucket
    with no data behind it (permanent silent row loss)."""
    import pyspark.sql.functions as SF

    pages = corpus_mod.pages_spark_df(spark, corpus)
    alias = corpus_mod.alias_dict_spark_df(spark, corpus)
    out = str(tmp_path / "kg")

    r1 = run_checkpointed(spark, pages, alias, out, n_buckets=4)
    n = r1.n_buckets_processed
    total = r1.triples.count()
    assert n > 0 and total > 0

    # simulate the crash: bucket partitions deleted, pending rows appended
    # (exactly what run_checkpointed does before its write), job dies
    from bioner_spark.pipeline import _delete_bucket_partitions

    some = [0, 1]
    (
        spark.createDataFrame([(b,) for b in some], "bucket int")
        .select(
            "bucket",
            SF.lit(None).cast("string").alias("input_fingerprint"),
            SF.lit(0).cast("long").alias("n_rows"),
            SF.lit(None).cast("long").alias("n_docs"),
            SF.current_timestamp().alias("completed_at"),
            SF.lit("pending").alias("status"),
        )
        .write.mode("append")
        .parquet(f"{out}/manifest")
    )
    _delete_bucket_partitions(spark, f"{out}/triples", some)

    # rerun with the SAME input: the pending buckets must be todo again,
    # and the table must converge back to the full row count
    r2 = run_checkpointed(spark, pages, alias, out, n_buckets=4)
    assert r2.n_buckets_processed >= 1
    assert r2.triples.count() == total


def test_extract_triples_predicates_case_insensitive(spark):
    """A caller-supplied mixed-case lexicon ('Treats') must match: the
    token scan lowercases text before isin(), so an un-normalized lexicon
    silently matched nothing and every pair degraded to co_occurs_with."""
    from bioner_spark.triples import extract_triples

    mentions = spark.createDataFrame(
        [(1, 0, 0, 0, "A"), (1, 0, 4, 4, "B")],
        "doc_id long, sentence_id long, start_tok int, end_tok int, component string",
    )
    tokens = spark.createDataFrame(
        [(1, 0, 0, "aspirin"), (1, 0, 2, "Treats"), (1, 0, 4, "pain")],
        "doc_id long, sentence_id long, token_id int, text string",
    )
    rows = extract_triples(mentions, tokens, predicates=["Treats"]).collect()
    assert len(rows) == 1 and rows[0]["pred"] == "treats"


def test_extract_triples_null_keys_form_no_pairs(spark):
    """Mentions whose doc_id or sentence_id is NULL form no pairs: the
    pair rule is per (doc, sentence), and a NULL key names no sentence.
    Grouping them would gather every NULL-keyed mention into one."""
    from bioner_spark.triples import extract_triples

    mentions = spark.createDataFrame(
        [
            (None, 0, 0, 0, "A"), (None, 0, 4, 4, "B"),
            ("d", None, 0, 0, "A"), ("d", None, 4, 4, "B"),
            ("d", 1, 0, 0, "A"), ("d", 1, 4, 4, "B"),
        ],
        "doc_id string, sentence_id int, start_tok int, end_tok int, component string",
    )
    tokens = spark.createDataFrame(
        [(None, 0, 2, "treats"), ("d", None, 2, "treats"), ("d", 1, 2, "causes")],
        "doc_id string, sentence_id int, token_id int, text string",
    )
    rows = [tuple(r) for r in extract_triples(mentions, tokens).collect()]
    assert rows == [("A", "causes", "B", "d", 1)]


def _plan_nodes(df) -> list[tuple]:
    """(node name, shuffle partitioning without expression ids or count,
    shuffle origin) per executed-plan node, following children only (a
    cached input shows as one InMemoryTableScan)."""
    import re

    out, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        n = stack.pop()
        name = n.nodeName().split(" (")[0]
        if name == "Exchange":
            part = re.sub(r"#\d+L?|, \d+\)$", "", n.outputPartitioning().toString())
            out.append((name, part + ")", n.shuffleOrigin().toString()))
        else:
            out.append((name, None, None))
        kids = n.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


def test_dict_build_plan_has_two_page_shuffles_and_no_cache(spark):
    """The dict build plans triples from one row per sentence (AQE off, so
    the plan is the one submitted): no Window, no SortMergeJoin, no cache,
    and over page/sentence rows only the url repartition — REPARTITION_BY_NUM,
    which AQE never coalesces into one task — and the one (doc, sentence)
    groupBy. The other two shuffles aggregate the alias table."""
    from collections import Counter

    corpus = corpus_mod.generate(n_docs=40)
    pages = corpus_mod.pages_spark_df(spark, corpus)
    alias = corpus_mod.alias_dict_spark_df(spark, corpus)
    before = _persistent_rdd_ids(spark)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        result = build_triples(pages, alias, tagger="dict")
        nodes = _plan_nodes(result.triples)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert result.persisted == ()
    assert _persistent_rdd_ids(spark) - before == set()
    names = Counter(n for n, _, _ in nodes)
    for absent in ("Window", "SortMergeJoin", "InMemoryTableScan", "ReusedExchange"):
        assert names[absent] == 0, absent
    assert (names["Exchange"], names["BroadcastExchange"], names["BroadcastHashJoin"]) == (4, 3, 3)
    assert (names["Generate"], names["ArrowEvalPython"]) == (4, 1)
    shuffles = sorted((p, o) for _, p, o in nodes if p)
    assert shuffles == [
        ("hashpartitioning(doc_id, sentence_id)", "ENSURE_REQUIREMENTS"),
        ("hashpartitioning(phrase, n_words)", "ENSURE_REQUIREMENTS"),
        ("hashpartitioning(url)", "REPARTITION_BY_NUM"),
        ("hashpartitioning(w0)", "ENSURE_REQUIREMENTS"),
    ]


def test_multiset_fingerprint_shared_law(spark):
    """One fold law for both resume-identity consumers: order-free,
    multiplicity-sensitive, and matching the 'n:xor:sum' string format
    bucket_fingerprints emits per bucket (kg_job's alias token uses it)."""
    from bioner_spark.pipeline import multiset_fingerprint

    rows = [("a", 1), ("b", 2), ("c", 3)]
    df1 = spark.createDataFrame(rows, "k string, v int")
    df2 = spark.createDataFrame(list(reversed(rows)), "k string, v int")
    fp1, fp2 = multiset_fingerprint(df1), multiset_fingerprint(df2)
    assert fp1 == fp2  # order-free
    assert fp1.startswith("3:")
    dup = spark.createDataFrame(rows + [("a", 1)], "k string, v int")
    assert multiset_fingerprint(dup) != fp1  # multiplicity-sensitive
    assert multiset_fingerprint(dup).startswith("4:")


def test_read_manifest_self_heals_first_append_crash_debris(spark, tmp_path):
    """A driver killed during the very FIRST manifest append leaves the
    manifest dir holding only `_temporary/` (zero committed footers).
    That IS the no-resume-state-yet condition and must read as a first
    run (None), not brick every retry with UNABLE_TO_INFER_SCHEMA; a
    manifest that HAS committed parquet files keeps the fail-loud law."""
    from bioner_spark.pipeline import read_manifest

    man = tmp_path / "manifest"
    (man / "_temporary" / "0").mkdir(parents=True)
    assert read_manifest(spark, str(man)) is None

    # committed data present and readable: normal resume path
    spark.createDataFrame([(1, "done")], "bucket int, status string").write.mode(
        "append"
    ).parquet(str(man))
    got = read_manifest(spark, str(man))
    assert got is not None and got.count() == 1


def test_read_manifest_missing_path_never_reads(spark, tmp_path, monkeypatch):
    """A manifest that does not exist yet is None without a read attempt:
    reading a missing path logs a FileNotFoundException stack trace on
    every fresh run."""
    from pyspark.sql.readwriter import DataFrameReader

    from bioner_spark.pipeline import read_manifest

    def no_read(self, *paths, **kwargs):
        raise AssertionError("parquet read of a missing manifest")

    monkeypatch.setattr(DataFrameReader, "parquet", no_read)
    assert read_manifest(spark, str(tmp_path / "manifest")) is None


def _persistent_rdd_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_run_checkpointed_leaves_no_cache(spark, corpus, tmp_path, monkeypatch):
    """run_checkpointed releases the write plan's token cache itself: no
    persistent RDD survives a fresh run, nor a run whose triples write
    raises."""
    from pyspark.sql.readwriter import DataFrameWriter

    pages = corpus_mod.pages_spark_df(spark, corpus)
    alias = corpus_mod.alias_dict_spark_df(spark, corpus)
    before = _persistent_rdd_ids(spark)

    fresh = run_checkpointed(spark, pages, alias, str(tmp_path / "fresh"), n_buckets=4)
    assert fresh.n_buckets_processed > 0
    assert (fresh.mentions, fresh.tokens, fresh.persisted) == (None, None, ())
    assert _persistent_rdd_ids(spark) - before == set()

    real_parquet = DataFrameWriter.parquet

    def failing_triples_write(self, path, *args, **kwargs):
        if path.endswith("/triples"):
            raise RuntimeError("triples write failed")
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing_triples_write)
    with pytest.raises(RuntimeError, match="triples write failed"):
        run_checkpointed(spark, pages, alias, str(tmp_path / "failed"), n_buckets=4)
    assert _persistent_rdd_ids(spark) - before == set()


def test_all_skipped_resume_never_evaluates_alias_dict(spark, corpus, tmp_path):
    """A resume with every bucket done runs no job over alias_dict: one that
    raises whenever it is evaluated still resumes, with the same table."""
    pages = corpus_mod.pages_spark_df(spark, corpus)
    alias = corpus_mod.alias_dict_spark_df(spark, corpus)
    out = str(tmp_path / "kg")
    r1 = run_checkpointed(spark, pages, alias, out, n_buckets=4)

    poisoned = alias.filter(F.raise_error(F.lit("alias_dict evaluated")).isNull())
    with pytest.raises(Exception, match="alias_dict evaluated"):
        poisoned.count()
    r2 = run_checkpointed(spark, pages, poisoned, out, n_buckets=4)
    assert (r2.n_buckets_processed, r2.n_buckets_skipped) == (0, r1.n_buckets_processed)
    assert r2.triples.count() == r1.triples.count() > 0


def test_run_checkpointed_schema_does_not_depend_on_run_history(spark, corpus, tmp_path):
    """Fresh, partial-resume, all-skipped and empty-input runs return the
    same triples schema, so callers can union results across runs."""
    pages = corpus_mod.pages_spark_df(spark, corpus)
    alias = corpus_mod.alias_dict_spark_df(spark, corpus)
    out = str(tmp_path / "kg")
    fresh = run_checkpointed(spark, pages, alias, out, n_buckets=4)
    pages2 = pages.withColumn(
        "url",
        F.when(
            F.col("url").endswith("/doc/0"), F.concat(F.col("url"), F.lit("x"))
        ).otherwise(F.col("url")),
    )
    partial = run_checkpointed(spark, pages2, alias, out, n_buckets=4)
    assert partial.n_buckets_processed > 0 and partial.n_buckets_skipped > 0
    skipped = run_checkpointed(spark, pages2, alias, out, n_buckets=4)
    assert skipped.n_buckets_processed == 0
    empty = run_checkpointed(
        spark, pages.limit(0), alias, str(tmp_path / "empty"), n_buckets=4
    )
    assert (empty.n_buckets_processed, empty.triples.count()) == (0, 0)
    for r in (fresh, partial, skipped, empty):
        assert r.triples.schema == TRIPLES_TABLE_SCHEMA


def test_driver_built_frames_are_local_relations(spark, corpus, tmp_path, monkeypatch):
    """Every frame run_checkpointed builds on the driver is an Arrow local
    relation, never a pickled Python RDD built from a list: fresh,
    orphan-dropping (n_buckets changed) and all-skipped runs pass with
    list-built createDataFrame forbidden. Each manifest append is one file."""
    from pyspark.sql import SparkSession

    from bioner_spark.graph import _driver_union_find, canonical_map

    pages = corpus_mod.pages_spark_df(spark, corpus)
    alias = corpus_mod.alias_dict_spark_df(spark, corpus)
    null_id_alias = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", None)], "alias string, canonical_id bigint"
    )
    real_create = SparkSession.createDataFrame

    def no_list_frames(self, data, *args, **kwargs):
        if isinstance(data, list):
            raise AssertionError("DataFrame built from a Python list")
        return real_create(self, data, *args, **kwargs)

    monkeypatch.setattr(SparkSession, "createDataFrame", no_list_frames)
    out = str(tmp_path / "kg")
    fresh = run_checkpointed(spark, pages, alias, out, n_buckets=4)
    assert fresh.n_buckets_processed == 4
    manifest_files = sorted((tmp_path / "kg" / "manifest").glob("*.parquet"))
    assert len(manifest_files) == 2, manifest_files
    rebucketed = run_checkpointed(spark, pages, alias, out, n_buckets=2)
    assert rebucketed.n_buckets_processed == 2
    removed = spark.read.parquet(f"{out}/manifest").filter(F.col("status") == "removed")
    assert sorted(r["bucket"] for r in removed.collect()) == [2, 3]
    skipped = run_checkpointed(spark, pages, alias, out, n_buckets=2)
    assert (skipped.n_buckets_processed, skipped.n_buckets_skipped) == (0, 2)

    def physical_plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    assert "LocalTableScan" in physical_plan(
        _driver_union_find([(1, 2), (3, 3)], spark, "bigint")
    )
    for components in (canonical_map(alias), canonical_map(null_id_alias)):
        assert "ExistingRDD" not in physical_plan(components)


def test_manifest_from_list_built_rows_still_resumes(spark, corpus, tmp_path):
    """A manifest whose rows were appended from list-built frames (one file
    per slice, as older runs wrote it) resumes: every bucket is skipped,
    later appends mix with it, and the manifest schema stays put."""
    import shutil

    from bioner_spark.pipeline import bucket_fingerprints

    pages = corpus_mod.pages_spark_df(spark, corpus)
    alias = corpus_mod.alias_dict_spark_df(spark, corpus)
    out = tmp_path / "kg"
    manifest = str(out / "manifest")
    fresh = run_checkpointed(spark, pages, alias, str(out), n_buckets=4)
    shutil.rmtree(manifest)

    todo = spark.createDataFrame(
        [
            (r["bucket"], r["input_fingerprint"], r["n_docs"])
            for r in bucket_fingerprints(pages, 4).collect()
        ],
        "bucket int, input_fingerprint string, n_docs long",
    )
    todo.select(
        "bucket",
        F.lit(None).cast("string").alias("input_fingerprint"),
        F.lit(0).cast("long").alias("n_rows"),
        "n_docs",
        F.current_timestamp().alias("completed_at"),
        F.lit("pending").alias("status"),
    ).write.mode("append").parquet(manifest)
    (
        spark.read.parquet(str(out / "triples"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .join(todo, "bucket", "right")
        .select(
            "bucket",
            "input_fingerprint",
            F.coalesce(F.col("n_rows"), F.lit(0)).alias("n_rows"),
            "n_docs",
            F.current_timestamp().alias("completed_at"),
            F.lit("done").alias("status"),
        )
        .write.mode("append")
        .parquet(manifest)
    )
    schema = T.StructType.fromDDL(
        "bucket int, input_fingerprint string, n_rows bigint, n_docs bigint, "
        "completed_at timestamp, status string"
    )
    assert spark.read.parquet(manifest).schema == schema

    resumed = run_checkpointed(spark, pages, alias, str(out), n_buckets=4)
    assert (resumed.n_buckets_processed, resumed.n_buckets_skipped) == (0, 4)
    assert resumed.triples.count() == fresh.triples.count() > 0

    pages2 = pages.withColumn(
        "url",
        F.when(
            F.col("url").endswith("/doc/0"), F.concat(F.col("url"), F.lit("x"))
        ).otherwise(F.col("url")),
    )
    partial = run_checkpointed(spark, pages2, alias, str(out), n_buckets=4)
    assert 0 < partial.n_buckets_processed < 4
    assert spark.read.parquet(manifest).schema == schema
    again = run_checkpointed(spark, pages2, alias, str(out), n_buckets=4)
    assert (again.n_buckets_processed, again.n_buckets_skipped) == (0, 4)
