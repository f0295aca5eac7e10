"""The benchmark's workloads. Each has an untimed `setup` (input generation
and expected values), a timed `run` (one call into the library, as a user
would make it) into an empty output directory, an untimed `check` of the
outputs, and a traced `walk` that composes the same library calls one layer
at a time. `warmup_runs` untimed runs come first; `min_timed` is the fewest
timed ones.

Why these workloads (README.md beside this file has the layer → metric →
workload prediction table):

* kg_build_dict — a fresh `run_checkpointed(tagger="dict")` into an empty
  directory over web-weight pages. Stresses extract, tokenizer, the
  gazetteer, triples and the bucketed write; bypasses ner.*, spans,
  linking.link and the analytics. Its traced run also walks the neural
  tagging layers (ner.encode, ner.tag, spans, linking.link) over a
  sixteenth of the same tokens, so they have per-layer figures although no
  timed workload runs them.
* kg_analytics — `write_analytics` over a materialized, skewed triple
  table. The pipeline's own output has 11 concepts, so analytics over it
  would time only fixed cost; this table has 10,000 entities with hub
  skew, dangling nodes and multi-edges. Bypasses every build layer.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from kgbench import inputs
from kgbench.trace import Tracer

TRIPLE_COLS = ("subj", "pred", "obj", "doc_id", "sentence_id")
TOKEN_KEY = ["doc_id", "sentence_id", "token_id"]
GOLD_SCHEMA = "subj string, pred string, obj string, doc_id string, sentence_id int"

PIPELINE_LAYERS = (
    "pipeline.fingerprint",
    "pipeline.manifest",
    "graph",
    "extract",
    "tokenizer",
)
DICT_LAYERS = ("linking.gazetteer",)
NEURAL_LAYERS = ("ner.encode", "ner.tag", "spans", "linking.link")
OUTPUT_LAYERS = ("triples", "pipeline.rekey", "pipeline.write")
ANALYTICS_LAYERS = (
    "kg_analytics.degree",
    "kg_analytics.pmi",
    "kg_analytics.pagerank",
    "kg_analytics.khop",
)
LAYERS = PIPELINE_LAYERS + DICT_LAYERS + NEURAL_LAYERS + OUTPUT_LAYERS + ANALYTICS_LAYERS


class KgBuildDict:
    name = "kg_build_dict"
    # the layers of the timed run (trace.coverage sums these)
    layers = PIPELINE_LAYERS + DICT_LAYERS + OUTPUT_LAYERS
    n_buckets = 16
    copies = 4
    warmup_runs = 1
    # the first timed run is still 10-15% slower than later ones while the
    # JIT compiles; a median of three leaves it out
    min_timed = 3
    neural_share = 16  # the traced run tags documents with doc_id % 16 == 0

    def __init__(self, spark, seed: int, work: str, scale: float = 1.0):
        self.spark = spark
        self.seed = seed
        self.base_docs = max(20, int(600 * scale))
        self._cached: list = []

    def setup(self) -> None:
        from bioner_spark.corpus import alias_dict_spark_df, pages_spark_df
        from bioner_spark.pipeline import multiset_fingerprint

        self.release()
        corpus = inputs.web_corpus(self.seed, self.base_docs, self.copies)
        self.n_docs = len(corpus.pages)
        self.pages = pages_spark_df(self.spark, corpus).persist()
        self.alias = alias_dict_spark_df(self.spark, corpus).persist()
        self.gold = self.spark.createDataFrame(corpus.triples, GOLD_SCHEMA).persist()
        self._cached = [self.pages, self.alias, self.gold]
        self.pages.count()
        self.alias.count()
        self.gold_fp = multiset_fingerprint(self.gold)
        # every bucket that holds a page is processed on a fresh run
        self.expected_buckets = (
            self.pages.select(F.pmod(F.xxhash64("url"), F.lit(self.n_buckets)))
            .distinct()
            .count()
        )

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached = []

    def run(self, out_dir: str):
        from bioner_spark.pipeline import run_checkpointed

        return run_checkpointed(
            self.spark, self.pages, self.alias, out_dir, n_buckets=self.n_buckets
        )

    def finish(self, res) -> None:
        res.unpersist()

    def check(self, res, full: bool = False) -> tuple[bool, str]:
        """The table equals the generator's gold triples as a multiset, and
        every bucket was processed. `full` adds the exact-match P/R/F1."""
        from bioner_spark.pipeline import multiset_fingerprint

        processed, skipped = res.n_buckets_processed, res.n_buckets_skipped
        if (processed, skipped) != (self.expected_buckets, 0):
            return False, f"buckets processed/skipped {processed}/{skipped}"
        fp = multiset_fingerprint(res.triples, cols=TRIPLE_COLS)
        if fp != self.gold_fp:
            return False, f"triple fingerprint {fp} != gold {self.gold_fp}"
        if full:
            from bioner_spark.triples import triple_prf1

            r = triple_prf1(res.triples, self.gold).collect()[0]
            if (r["precision"], r["recall"]) != (1.0, 1.0):
                return False, f"triple P/R {r['precision']}/{r['recall']}"
        return True, fp

    def walk(self, tr: Tracer, out_dir: str):
        res, tokens = walk_checkpointed(tr, self.pages, self.alias, out_dir, self.n_buckets)
        walk_neural_tagging(tr, tokens, self.alias, self.neural_share, out_dir + "_profile")
        return res


def walk_checkpointed(tr: Tracer, pages, alias, out_dir: str, n_buckets: int):
    """run_checkpointed (dict tagger, no config token), layer by layer, in
    its order: fingerprints, manifest read, canonical map, pending rows,
    then build_triples, the bucketed write and the done rows. The private
    helpers used here are the library's own, so the bucketing and
    table-read rules cannot drift from the untraced run. Returns the
    result and the persisted token table."""
    from bioner_spark import pipeline as P
    from bioner_spark.extract import with_extracted_text
    from bioner_spark.graph import canonical_map
    from bioner_spark.linking import candidate_mentions, dict_mentions
    from bioner_spark.tokenizer import tokenize
    from bioner_spark.triples import extract_triples

    spark = pages.sparkSession
    triples_path, manifest_path = f"{out_dir}/triples", f"{out_dir}/manifest"

    fp_rows = tr.collect("pipeline.fingerprint", lambda: P.bucket_fingerprints(pages, n_buckets))
    with tr.layer("pipeline.manifest"):
        if P.read_manifest(spark, manifest_path) is not None:
            raise RuntimeError(f"{out_dir} must start empty")
    todo_buckets = [r["bucket"] for r in fp_rows]

    cmap = tr.materialize("graph", lambda: canonical_map(alias))
    todo = spark.createDataFrame(
        [(r["bucket"], r["input_fingerprint"], r["n_docs"]) for r in fp_rows],
        "bucket int, input_fingerprint string, n_docs long",
    )
    with tr.layer("pipeline.manifest"):
        todo.select(
            "bucket",
            F.lit(None).cast("string").alias("input_fingerprint"),
            F.lit(0).cast("long").alias("n_rows"),
            "n_docs",
            F.current_timestamp().alias("completed_at"),
            F.lit("pending").alias("status"),
        ).write.mode("append").parquet(manifest_path)
        P._delete_bucket_partitions(spark, triples_path, todo_buckets)
    tr.rows_out["pipeline.manifest"] += len(todo_buckets)

    pages_todo = (
        pages.withColumn("bucket", P._bucket_col(n_buckets))
        .filter(F.col("bucket").isin(todo_buckets))
        .drop("bucket")
    )
    url_map = pages_todo.select(F.xxhash64("url").alias("doc_key"), "url").dropDuplicates(
        ["doc_key"]
    )

    def extracted():
        p = pages_todo.select("url", "html").repartition(F.col("url"))
        p = p.groupBy("url").agg(
            F.max_by(F.col("html"), F.struct(F.octet_length("html"), F.col("html"))).alias("html")
        )
        p = with_extracted_text(p, "html", "text")
        return p.select(F.xxhash64("url").alias("doc_key"), "text")

    # profiled before the layer's output is cached: once it is, Spark
    # answers the same plan from the cache and the UDF never runs
    with tr.bookkeeping("profile:extract"):
        tr.extra["extract.python_s"] = _profiled_python_s(spark, extracted, out_dir + "_profile")
    text = tr.materialize("extract", extracted)
    # build_triples persists the token table and counts it (eager cache)
    tokens = tr.hub("tokenizer", lambda: tokenize(text, doc_col="doc_key", with_offsets=False))
    tr.extra["tokenizer.cached_mb"] = tr.cached_mb["tokenizer"]

    linked = tr.materialize("linking.gazetteer", lambda: dict_mentions(tokens, alias))
    with tr.bookkeeping("count:candidates"):
        n_cand = candidate_mentions(tokens, alias).count()
    tr.extra["linking.gazetteer.kept_ratio"] = (
        tr.rows_out["linking.gazetteer"] / n_cand if n_cand else 0.0
    )

    def triples():
        joined = linked.join(F.broadcast(cmap), "canonical_id", "left")
        return extract_triples(joined.filter(F.col("component").isNotNull()), tokens)

    trip = tr.materialize("triples", triples)

    def rekeyed():
        cols = [c for c in trip.columns if c != "doc_id"]
        return (
            trip.withColumnRenamed("doc_id", "doc_key")
            .join(url_map, "doc_key")
            .select(F.col("url").alias("doc_id"), *cols)
            .select(*TRIPLE_COLS)
        )

    rek = tr.materialize("pipeline.rekey", rekeyed)
    out = rek.withColumn("bucket", P._bucket_col(n_buckets, "doc_id")).repartition(
        n_buckets, "bucket"
    )
    with tr.layer("pipeline.write"):
        out.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
            "bucket"
        ).parquet(triples_path)
    tr.rows_out["pipeline.write"] += tr.rows_out["pipeline.rekey"]
    with tr.layer("pipeline.manifest"):
        written = P._read_triples(spark, triples_path, out.schema).filter(
            F.col("bucket").isin(todo_buckets)
        )
        (
            written.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .join(todo.select("bucket", "input_fingerprint", "n_docs"), "bucket", "right")
            .select(
                F.col("bucket"),
                F.col("input_fingerprint"),
                F.coalesce(F.col("n_rows"), F.lit(0)).alias("n_rows"),
                F.col("n_docs"),
                F.current_timestamp().alias("completed_at"),
                F.lit("done").alias("status"),
            )
            .write.mode("append")
            .parquet(manifest_path)
        )
    tr.rows_out["pipeline.manifest"] += len(todo_buckets)
    res = P.PipelineResult(
        triples=P._read_triples(spark, triples_path, out.schema),
        mentions=None,
        tokens=None,
        n_buckets_processed=len(todo_buckets),
        n_buckets_skipped=0,
    )
    return res, tokens


def walk_neural_tagging(tr: Tracer, tokens, alias, share: int, profile_dir: str) -> None:
    """build_triples' neural path from the token table on, over the
    documents with doc_id % share == 0: the encode, the BiLSTM tagging and
    its tag write-back (annotate_tokens), span decoding and linking. The
    vocabulary and the shipped DATEXIS-NER model (seeded; tagging cost does
    not depend on the weights) are built untimed from the same tokens."""
    from bioner_spark.functions.ngrams import build_vocabulary, vocab_size
    from bioner_spark.linking import link_mentions
    from bioner_spark.ner.infer import encoded_sentences, ner_tag_sentences, ship_model
    from bioner_spark.ner.kernel import load_model_config
    from bioner_spark.spans import decode_spans

    spark = tokens.sparkSession
    with tr.bookkeeping("setup:neural"):
        sub = tokens.filter(F.pmod(F.col("doc_id"), F.lit(share)) == 0).persist()
        tr.keep(sub)
        sub.count()
        vocab = build_vocabulary(sub, min_word_frequency=10).persist()
        tr.keep(vocab)
        sparse_dim = vocab_size(vocab)
        model = ship_model(spark, load_model_config("DATEXIS-NER", input_dim=15 + sparse_dim))

    sents = tr.materialize("ner.encode", lambda: encoded_sentences(sub, vocab))
    with tr.bookkeeping("profile:ner.tag"):
        tr.extra["ner.tag.python_s"] = _profiled_python_s(
            spark, lambda: ner_tag_sentences(sents, model, sparse_dim), profile_dir
        )
    tagged = tr.materialize(
        "ner.tag",
        lambda: sub.drop("tag").join(ner_tag_sentences(sents, model, sparse_dim), TOKEN_KEY, "left"),
    )
    mentions = tr.materialize("spans", lambda: decode_spans(tagged))
    tr.materialize("linking.link", lambda: link_mentions(mentions, alias))


def _profiled_python_s(spark, build, profile_dir: str) -> float:
    """Re-run one layer with the `perf` UDF profiler on; its Python seconds
    (the layer's own timed run stays unprofiled)."""
    from kgbench.trace import udf_python_s

    udf_python_s(spark, profile_dir)  # drop anything recorded earlier
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    try:
        build().write.format("noop").mode("overwrite").save()
    finally:
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
    return udf_python_s(spark, profile_dir)


class KgAnalytics:
    name = "kg_analytics"
    layers = ANALYTICS_LAYERS
    pagerank_iterations = 5
    # the run after a single warm-up run is still ~15% slower than later ones
    warmup_runs = 2
    min_timed = 3

    def __init__(self, spark, seed: int, work: str, scale: float = 1.0):
        self.spark = spark
        self.seed = seed
        self.path = os.path.join(work, "input", "triples.parquet")
        self.n_ent = max(100, int(10_000 * scale))
        self.n_edges = max(300, int(30_000 * scale))
        # the source documents the table's triples came from: docs_per_s
        # counts them
        self.n_docs = max(100, int(10_000 * scale))

    def setup(self) -> None:
        table = inputs.skewed_triples(self.seed, self.n_ent, self.n_edges, self.n_docs)
        shutil.rmtree(os.path.dirname(self.path), ignore_errors=True)
        os.makedirs(os.path.dirname(self.path))
        pq.write_table(table, self.path)
        self.expected = inputs.analytics_expectations(table)
        self.scan = self.spark.read.parquet(self.path)

    def release(self) -> None:
        pass

    def run(self, out_dir: str):
        from bioner_spark.kg_analytics import write_analytics

        paths = write_analytics(
            self.scan, out_dir, pagerank_iterations=self.pagerank_iterations
        )
        return {k: self.spark.read.parquet(p) for k, p in paths.items()}

    def finish(self, out) -> None:
        pass

    def check(self, out, full: bool = False) -> tuple[bool, str]:
        """Row counts against the Python-side expectations, and PageRank
        mass: each of n ranks is rounded to 6 dp, so |Σrank − 1| ≤ n·5e-7."""
        counts = {k: df.count() for k, df in out.items()}
        if counts != self.expected:
            return False, f"row counts {counts} != expected {self.expected}"
        n = counts["pagerank"]
        mass = out["pagerank"].agg(F.sum("rank")).collect()[0][0]
        if abs(mass - 1.0) > n * 5e-7:
            return False, f"pagerank mass {mass} over {n} nodes"
        # the mass is a float sum in partition order: not part of the
        # fingerprint the traced run must reproduce
        return True, str(counts)

    def walk(self, tr: Tracer, out_dir: str):
        """write_analytics' products one at a time over the same shared
        (subj, obj) projection; PageRank is also run with zero rounds so
        the per-round cost can be separated from its set-up."""
        from bioner_spark.kg_analytics import (
            cooccurrence_pmi,
            entity_degree,
            khop_neighbors,
            pagerank,
        )

        triples = self.scan
        with tr.bookkeeping("persist:projection"):
            proj = triples.select("subj", "obj").persist()
            tr.keep(proj)
            proj.count()
        out = {
            "entity_degree": tr.materialize("kg_analytics.degree", lambda: entity_degree(triples)),
            "cooccurrence_pmi": tr.materialize("kg_analytics.pmi", lambda: cooccurrence_pmi(triples)),
        }
        out["pagerank"] = tr.materialize(
            "kg_analytics.pagerank",
            lambda: pagerank(proj, iterations=self.pagerank_iterations, _projected=True),
        )
        with tr.bookkeeping("pagerank:zero_rounds"):
            pagerank(proj, iterations=0, _projected=True).write.format("noop").mode(
                "overwrite"
            ).save()
        tr.extra["kg_analytics.pagerank.round_s"] = (
            tr.total("kg_analytics.pagerank") - tr.total("pagerank:zero_rounds")
        ) / self.pagerank_iterations
        out["khop_neighbors"] = tr.materialize(
            "kg_analytics.khop", lambda: khop_neighbors(proj, _projected=True)
        )
        return out


WORKLOADS = {"kg_build_dict": KgBuildDict, "kg_analytics": KgAnalytics}
