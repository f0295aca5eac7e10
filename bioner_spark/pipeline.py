"""End-to-end KG construction pipeline with checkpointed resume.

    pages → extract_text → tokenize → tag (dict | neural) → span decode
          → link → canonicalize (connected components) → triples
          → partitioned Parquet + per-partition lineage manifest

Resume model (the engine analogue of the reference's best-checkpoint sink,
reference bioner/model/annotator.py:143-150, reinterpreted for a batch job —
SURVEY.md §2.8): the output is partitioned by `bucket =
pmod(xxhash64(doc_id), n_buckets)`. A manifest table records, per completed
bucket, the input fingerprint (xor-ish sum of url hashes), row/doc counts
and completion time. On restart, buckets already in the manifest with a
matching fingerprint are SKIPPED (their partition dirs are left untouched);
everything else is recomputed and idempotently overwritten
(partitionOverwriteMode=dynamic). Kill the job at any point and rerun — the
result converges to the same table. run_checkpointed returns that table
read back from disk, with the processed/skipped bucket counts and the
per-bucket lineage; it keeps no cache alive after it returns or raises.

Driver-built frames (the todo/removed manifest rows, the empty table
read-back) go through session.local_frame: an Arrow local relation that
stays on the JVM. A list-built frame is a pickled Python RDD, so every
scan of it forks Python workers — in a dict-tagger build the extract UDF
should be the only Python that runs. Each manifest append (removed,
pending, done) writes one file (coalesce(1)), not one per slice of its
local relation, so a fresh run adds two files to the manifest.

Skew handling: pages are repartitioned by hash(url) before the tokenize→tag
stages — a few hosts owning ~30% of a crawl (corpus.py models this) spread
evenly because the key is the full url, not the host; every keyed stage
after tokenize re-shuffles on (doc, sentence), which de-skews giant
documents one explode later. Kept deliberately free of low-cardinality salt
keys (see the in-function note).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bioner_spark.extract import with_extracted_text
from bioner_spark.graph import canonical_map
from bioner_spark.linking import dict_mentions, dict_tag_tokens, link_mentions
from bioner_spark.schemas import TRIPLES_SCHEMA
from bioner_spark.session import local_frame
from bioner_spark.spans import decode_spans
from bioner_spark.tokenizer import tokenize
from bioner_spark.triples import extract_triples


@dataclass
class PipelineResult:
    triples: DataFrame
    # build_triples only; run_checkpointed returns None for both
    mentions: DataFrame | None
    tokens: DataFrame | None
    n_buckets_processed: int = 0
    n_buckets_skipped: int = 0
    # DataFrames build_triples persisted for stage reuse; callers that are
    # done with the result should unpersist() so a driver looping over many
    # inputs doesn't accumulate dead cache entries for the session lifetime
    persisted: tuple = ()
    # run_checkpointed only: [(bucket, input_fingerprint, n_docs)] for ALL
    # buckets of this input — secondary sinks (e.g. the Iceberg mirror)
    # diff it against their own recorded lineage to write only stale
    # buckets instead of re-scanning pages for fingerprints
    bucket_lineage: tuple = ()

    def unpersist(self) -> None:
        for df in self.persisted:
            df.unpersist()


def build_triples(
    pages: DataFrame,
    alias_dict: DataFrame,
    tagger: str = "dict",
    model=None,
    vocab=None,
    use_extractor: bool = True,
    ft_model=None,
) -> PipelineResult:
    """The logical plan for the whole pipeline (no writes).

    Eager: canonical_map's 1-2 small jobs over alias_dict, then one count()
    that materializes the persisted token/tag hub before returning. Without
    that count, the final job's independent exchanges (candidates, tag
    join-back, verb scan) are submitted CONCURRENTLY by AQE, each misses the
    still-empty cache, and each recomputes the full extract+tokenize lineage
    — measured 4× redundant CPU at 32 cores (and, perversely, anti-scaling:
    more cores → more concurrent cache misses). One eager pass costs one
    traversal and makes every later read a cache hit. The hub is returned
    in `persisted` for the caller to release; if building raises, it is
    released here."""
    if tagger not in ("dict", "neural"):
        raise ValueError(f"unknown tagger: {tagger}")
    # depends only on alias_dict; run before anything is persisted
    components = canonical_map(alias_dict)
    # (doc_key, url) map for the output joins — derived from the RAW input
    # so its lineage is a column-pruned scan of `url` alone; deriving it
    # downstream would drag the extractor UDF + repartition exchange into
    # every broadcast of this tiny table. dropDuplicates: crawls commonly
    # contain repeated urls, and a duplicated map row would multiply every
    # triple/mention of that document in the _rekey join below.
    url_map = pages.select(F.xxhash64("url").alias("doc_key"), "url").dropDuplicates(
        ["doc_key"]
    )

    # Spread pages evenly BEFORE the heavy per-token stages. Hashing the full
    # url (not the host) already de-skews crawl hot-hosts — a host owning 30%
    # of the crawl still spreads over all partitions because no downstream
    # stage keys on host. (An earlier version partitioned on
    # pmod(hash(url), salt_factor), which caps the stage at salt_factor
    # non-empty partitions — a silent parallelism ceiling; don't do that.)
    # Giant documents: the per-page extract/explode is inherently one row's
    # work, but every keyed stage after tokenize re-shuffles on
    # (doc, sentence), so a 10^5-sentence page spreads right after explode;
    # Arrow batching bounds UDF memory per batch.
    payload = "html" if use_extractor else "text"
    pages = pages.select("url", payload).repartition(F.col("url"))

    # EXACTLY ONE document per url, chosen deterministically (max payload
    # BYTES — a recrawl that caught a truncated error page must not beat
    # the complete copy, so the ordering key is length first; ties broken
    # by payload bytes, so equal-length copies still pick one copy
    # deterministically): crawls commonly contain recrawled urls, and
    # without this both copies would share doc_key with colliding
    # (sentence_id, token_id) token keys — tied window orderings downstream
    # would then interleave the copies nondeterministically per run/retry.
    # The groupBy reuses the url hash partitioning above (no extra
    # exchange), and deduping BEFORE the extractor also avoids paying the
    # extract UDF per duplicate copy.
    # octet_length, not length: length() counts CHARACTERS on a string
    # payload, and a 999-char multibyte copy can carry more bytes than a
    # 1000-char ASCII one — the rule is bytes for string and binary alike.
    pages = pages.groupBy("url").agg(
        F.max_by(
            F.col(payload), F.struct(F.octet_length(payload), F.col(payload))
        ).alias(payload)
    )

    if use_extractor:
        pages = with_extracted_text(pages, "html", "text")

    # Slim spine: every keyed stage between here and the final output
    # shuffles/sorts the token table, so its key is an 8-byte
    # xxhash64(url) instead of the ~30-byte url string (measured ~40%
    # faster window stages — this workload is memory-bandwidth-bound).
    # The url reappears exactly once, in the output joins below.
    # (64-bit collisions merge documents at ~(n²/2^65); fine to ~10^9 docs
    # per job — at full 10^12-doc scale partition the crawl into jobs, or
    # swap in a 128-bit fingerprint here.)
    pages = pages.select(F.xxhash64("url").alias("doc_key"), "text")

    # The token table is the hub of the DAG: gazetteer candidates, the
    # tag join-back, the verb lexicon scan and the final output all read
    # it. Without persisting, every AQE runtime-broadcast of a small
    # derived side RE-RUNS the extract-UDF + tokenize lineage (measured:
    # ~12 broadcast subquery jobs × 30 s at 8k docs). MEMORY_AND_DISK —
    # spills, never OOMs; at 100 TB this is the standard stage-reuse
    # materialization (or a checkpoint to DFS).
    # with_offsets=False: the KG path never reads char offsets, and the
    # offset aggregate costs ~8× the tokenization itself.
    from pyspark import StorageLevel

    tokens = tokenize(pages, doc_col="doc_key", with_offsets=False).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    persisted = (tokens,)
    try:
        tokens.count()
        if tagger == "dict":
            # gazetteer fast path: resolved dictionary matches ARE the
            # mention spans — no BIO tag join-back, no window re-decode (see
            # linking.dict_mentions). `tagged` stays a lazy parity view.
            # already linked: gazetteer matches carry canonical_id (min-id
            # ambiguity rule — same rule link_mentions applies)
            mentions = dict_mentions(tokens, alias_dict)
            # share the already-built mention spans: the parity tag view
            # must not re-plan the whole gazetteer chain over the token table
            tagged = dict_tag_tokens(tokens, alias_dict, spans=mentions)
            linked = mentions
        else:
            from bioner_spark.ner.infer import annotate_tokens, annotate_tokens_fasttext

            if ft_model is not None:
                # BioNER-shape encode: fastText subword embeddings (e.g. a
                # real .bin loaded by fasttext_bin.load_bin) instead of the
                # trigram multi-hot vocab — reference fasttext_encoder.py:17-28
                assert model is not None
                tagged = annotate_tokens_fasttext(tokens, ft_model, model)
            else:
                assert model is not None and vocab is not None
                tagged = annotate_tokens(tokens, vocab, model)
            tagged = tagged.persist(StorageLevel.MEMORY_AND_DISK)
            persisted += (tagged,)
            tagged.count()
            mentions = decode_spans(tagged)
            linked = link_mentions(mentions, alias_dict)
    except BaseException:
        for df in persisted:
            df.unpersist()
        raise
    linked = linked.join(F.broadcast(components), "canonical_id", "left")
    # unlinkable mentions (neural path, surface form outside alias_dict →
    # canonical_id/component NULL) are dropped from the TRIPLE stream only
    # — pairs read `component` — but stay in the returned mentions, per
    # link_mentions' documented kept-for-recall-analysis contract (on the
    # dict path every mention links, so the filter is a no-op there)
    linkable = linked.filter(F.col("component").isNotNull())
    # verbs come from the raw token table (tags are irrelevant to the
    # predicate scan) — keeps the lazy `tagged` parity view out of the plan
    triples = extract_triples(linkable, tokens)

    # doc_key → url, once, at the narrow end of the funnel (triples and
    # mentions are ~50× smaller than tokens). AQE broadcasts url_map when
    # it fits; at 10^12 docs this is one shuffle join on slim rows.
    def _rekey(df: DataFrame) -> DataFrame:
        cols = [c for c in df.columns if c != "doc_id"]
        return (
            df.withColumnRenamed("doc_id", "doc_key")
            .join(url_map, "doc_key")
            .select(F.col("url").alias("doc_id"), *cols)
        )

    return PipelineResult(
        triples=_rekey(triples).select(
            "subj", "pred", "obj", "doc_id", "sentence_id"
        ),
        mentions=_rekey(linked),
        tokens=tagged,
        persisted=persisted,
    )


# --------------------------------------------------------------------------
# Checkpointed, partition-manifest write path
# --------------------------------------------------------------------------

# The triples table as run_checkpointed reads it back. Every field is
# nullable because file sources report every column nullable; the empty
# table of a run with nothing on disk uses the same schema.
TRIPLES_TABLE_SCHEMA = T.StructType(
    [T.StructField(f.name, f.dataType, True) for f in TRIPLES_SCHEMA.fields]
    + [T.StructField("bucket", T.IntegerType(), True)]
)


def _bucket_col(n_buckets: int, col: str = "url"):
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


# The ONE multiset-fingerprint fold law: count, bit_xor of row hashes, and a
# bounded modular sum of row hashes (see bucket_fingerprints' docstring for
# why xor alone cancels even-multiplicity rows and why the modulus keeps the
# int64 sum overflow-safe). Shared by the per-bucket input fingerprints and
# kg_job's alias-dict config token — one definition, so the law cannot
# silently desync between the two resume-identity consumers.
MULTISET_FP_MODULUS = 1073741789


def _multiset_fingerprint_aggs(h_col: str):
    """The three agg expressions of the fold law over hash column h_col."""
    return (
        F.count(F.lit(1)),
        F.expr(f"bit_xor({h_col})"),
        F.sum(F.pmod(F.col(h_col), F.lit(MULTISET_FP_MODULUS))),
    )


def multiset_fingerprint(df: DataFrame, cols: tuple | None = None) -> str:
    """Whole-DataFrame order-free multiset fingerprint 'count:xor:sum' —
    the same law bucket_fingerprints folds per bucket. EAGER (one
    column-pruned agg job). cols defaults to every column of df."""
    use = tuple(cols) if cols else tuple(df.columns)
    n, x, s = _multiset_fingerprint_aggs("_h")
    row = (
        df.select(F.xxhash64(*[F.col(c) for c in use]).alias("_h"))
        .agg(n.alias("n"), x.alias("x"), s.alias("s"))
        .collect()[0]
    )
    return f'{row["n"]}:{row["x"]}:{row["s"]}'


def bucket_fingerprints(pages: DataFrame, n_buckets: int) -> DataFrame:
    """Per-bucket input fingerprint — order-free AND multiset-sensitive.

    Three folded components: row count, xor of row hashes, and a bounded
    modular sum of row hashes. Xor alone cancels even-multiplicity rows
    (h^h = 0: buckets {A,A,B} and {C,C,B} would collide); the modular sum
    restores multiplicity sensitivity while staying overflow-safe (each
    term < 2^30, so int64 holds ~8×10^9 docs per bucket — far beyond any
    sane bucket sizing; this stays a cheap column-pruned scan, no ANSI
    overflow risk).

    Rows hash (url, warc_ts) when the input carries a crawl timestamp —
    a RECRAWL of the same url then changes the fingerprint and the bucket
    is recomputed; url-only fingerprinting is blind to content changes at
    a stable url.

    n_docs counts INPUT rows — including every recrawled copy of a url —
    because the fingerprint must change whenever the input multiset does
    (a second crawl of an unchanged url is new input even though
    build_triples will process only one copy). Read it as "input rows",
    not "documents processed"; the processed count is lower whenever the
    bucket contains recrawls."""
    cols = ("url", "warc_ts") if "warc_ts" in pages.columns else ("url",)
    h = F.xxhash64(*[F.col(c) for c in cols])
    n, x, s = _multiset_fingerprint_aggs("_h")
    return (
        pages.withColumn("bucket", _bucket_col(n_buckets))
        .withColumn("_h", h)
        .groupBy("bucket")
        .agg(
            n.alias("n_docs"),
            x.alias("hash_xor"),
            s.alias("hash_sum"),
        )
        .select(
            "bucket",
            F.concat_ws(
                ":", F.col("n_docs"), F.col("hash_xor"), F.col("hash_sum")
            ).alias("input_fingerprint"),
            "n_docs",
        )
    )


def read_manifest(spark: SparkSession, manifest_path: str) -> DataFrame | None:
    """None ONLY for a manifest that does not exist yet (legitimate first
    run): a missing path, or a path holding zero committed parquet files —
    a driver killed during the very FIRST manifest append leaves only
    `_temporary/` debris, and that state must self-heal, not brick every
    retry. Any other failure — transient object-store 503, permission
    blip, corrupt footer on a manifest that HAS committed files — must
    RAISE: swallowing it would silently discard all resume state,
    recompute every bucket (hours at scale) and append duplicate 'done'
    rows, indistinguishable from a first run in the logs."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(manifest_path)
    except AnalysisException as e:
        msg = str(e)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return None
        if "UNABLE_TO_INFER_SCHEMA" in msg or "Unable to infer schema" in msg:
            # distinguish crash debris from corruption by whether any
            # parquet file was ever COMMITTED (committers rename finished
            # files out of _temporary/; hidden dirs never hold committed data)
            fs, jpath = _hadoop_fs(spark, manifest_path)
            for st in fs.listStatus(jpath):
                name = st.getPath().getName()
                if st.isFile() and name.endswith(".parquet"):
                    raise  # committed data exists yet is unreadable
            return None
        raise


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for `path` — works for any Hadoop-supported FS
    (local, HDFS, s3a, ...), so partition maintenance below is not
    local-FS-only."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _list_bucket_partitions(spark: SparkSession, triples_path: str) -> list[int]:
    """Bucket ids of the `bucket=N` partition dirs currently on disk."""
    fs, jpath = _hadoop_fs(spark, triples_path)
    if not fs.exists(jpath):
        return []
    out = []
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("bucket="):
            try:
                out.append(int(name.split("=", 1)[1]))
            except ValueError:
                pass
    return out


def _delete_bucket_partitions(
    spark: SparkSession, triples_path: str, buckets: list[int]
) -> None:
    fs, _ = _hadoop_fs(spark, triples_path)
    jvm = spark._jvm
    for b in buckets:
        p = jvm.org.apache.hadoop.fs.Path(f"{triples_path}/bucket={b}")
        if fs.exists(p):
            fs.delete(p, True)


def _read_triples(spark: SparkSession, triples_path: str, schema) -> DataFrame:
    """Schema-pinned read of the partitioned triples table: a directory
    that exists but holds zero data files (first run emitted no triples,
    or every partition was just removed) reads as an EMPTY DataFrame
    instead of crashing schema inference. A MISSING directory also reads
    as empty: a crash between the 'pending' manifest append and the first
    triples write leaves a manifest with no triples dir, and a rerun that
    then has zero todo buckets (e.g. drained input) must converge, not
    raise PATH_NOT_FOUND forever."""
    fs, jpath = _hadoop_fs(spark, triples_path)
    if not fs.exists(jpath):
        return local_frame(spark, [], schema)
    return spark.read.schema(schema).parquet(triples_path)


def run_checkpointed(
    spark: SparkSession,
    pages: DataFrame,
    alias_dict: DataFrame,
    out_dir: str,
    n_buckets: int = 16,
    tagger: str = "dict",
    model=None,
    vocab=None,
    use_extractor: bool = True,
    ft_model=None,
    config_token: str | None = None,
    config_covers_corpus: bool = False,
) -> PipelineResult:
    """Run the pipeline bucket-partitioned with resume and return what it
    wrote.

    out_dir/triples/  — Parquet partitioned by bucket
    out_dir/manifest/ — per-bucket lineage rows (append-only; latest wins)

    Returns a PipelineResult holding `triples` — the whole on-disk table
    read back (TRIPLES_TABLE_SCHEMA, whether this run recomputed every
    bucket, some, none, or had no input at all) — plus
    n_buckets_processed / n_buckets_skipped and bucket_lineage.
    `mentions` and `tokens` are None and `persisted` is empty: the write
    plan's token cache is released before returning, on success and on
    failure alike. A run whose buckets are all skipped runs no job over
    alias_dict. Callers wanting mentions or tokens call build_triples.

    config_token: identifies every TAGGING-RELEVANT configuration — tagger
    kind, model/embedding artifact identity, alias-dict version. The input
    fingerprint alone is blind to config: without a token, re-running with
    a new model or an updated alias dictionary matches every 'done' row
    and serves the OLD run's triples as if produced by the new config.
    Fold the token in whenever any of those can change between runs (the
    stored fingerprint becomes `<input_fp>|cfg:<token>`, so old manifests
    written without a token simply recompute once — the safe direction).

    config_covers_corpus: set True when the tagger's parameters are
    DERIVED FROM THE INPUT CORPUS itself (e.g. a trigram vocabulary built
    over all pages, kg_job's neural mode without --embeddings-bin): a pure
    input change to bucket A then changes the tags in EVERY bucket, so the
    global input fingerprint joins the config token and all buckets
    recompute — the table converges to what a fresh run would produce
    instead of keeping stale-vocab buckets.
    """
    triples_path = f"{out_dir}/triples"
    manifest_path = f"{out_dir}/manifest"

    # one job: collect the (tiny — n_buckets rows) fingerprint table, then
    # decide todo/skip driver-side instead of spending extra Spark jobs on it
    fp_rows = bucket_fingerprints(pages, n_buckets).collect()
    eff_token = config_token
    if config_covers_corpus:
        import hashlib

        glob = ";".join(
            sorted(f'{r["bucket"]}={r["input_fingerprint"]}' for r in fp_rows)
        )
        eff_token = (
            (config_token or "")
            + "|corpus:"
            + hashlib.sha256(glob.encode()).hexdigest()[:16]
        )
    if eff_token is not None:
        fp_rows = [
            {
                "bucket": r["bucket"],
                "input_fingerprint": f'{r["input_fingerprint"]}|cfg:{eff_token}',
                "n_docs": r["n_docs"],
            }
            for r in fp_rows
        ]
    manifest = read_manifest(spark, manifest_path)
    done_fp: dict[int, str] = {}
    if manifest is not None:
        # latest row per bucket wins (the manifest is append-only, so a
        # bucket recomputed under a new fingerprint has several rows; an
        # arbitrary pick could match a STALE fingerprint and skip a bucket
        # whose partition holds different data). max_by runs Spark-side so
        # the driver transfer stays O(n_buckets) however many runs the
        # append-only history accumulates.
        latest_rows = (
            manifest.groupBy("bucket")
            .agg(
                F.max_by(
                    F.struct("status", "input_fingerprint"), F.col("completed_at")
                ).alias("w")
            )
            .collect()
        )
        done_fp = {
            r["bucket"]: r["w"]["input_fingerprint"]
            for r in latest_rows
            if r["w"]["status"] == "done"
        }

    # buckets on disk that the CURRENT input no longer produces (docs
    # deleted, or n_buckets changed): drop their partitions — the output
    # must converge to the current input's table, never serve orphans —
    # and record the removal so a later reappearance is not skipped
    # against a stale 'done' row
    current_buckets = {r["bucket"] for r in fp_rows}
    orphans = [
        b for b in _list_bucket_partitions(spark, triples_path)
        if b not in current_buckets
    ]
    if orphans:
        # record-removal-THEN-delete (the Iceberg sink's ordering): a crash
        # between the two leaves the 'removed' row voiding the stale 'done'
        # row, so a later run re-examines the bucket instead of skipping a
        # bucket whose data is half-deleted. Delete-then-record inverts
        # that: crash after delete, before record → stale 'done' row
        # survives with no data behind it.
        (
            local_frame(spark, [(b,) for b in orphans], "bucket int")
            .select(
                "bucket",
                F.lit(None).cast("string").alias("input_fingerprint"),
                F.lit(0).cast("long").alias("n_rows"),
                F.lit(None).cast("long").alias("n_docs"),
                F.current_timestamp().alias("completed_at"),
                F.lit("removed").alias("status"),
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(manifest_path)
        )
        _delete_bucket_partitions(spark, triples_path, orphans)
    todo_rows = [r for r in fp_rows if done_fp.get(r["bucket"]) != r["input_fingerprint"]]
    todo_buckets = [r["bucket"] for r in todo_rows]
    n_skipped = len(fp_rows) - len(todo_buckets)

    if todo_buckets:
        # only built when consumed (the pending append + the done-row join
        # below); todo_rows is non-empty here so no placeholder row needed
        todo = local_frame(
            spark,
            [(r["bucket"], r["input_fingerprint"], r["n_docs"]) for r in todo_rows],
            "bucket int, input_fingerprint string, n_docs long",
        )
        pages_todo = pages.withColumn("bucket", _bucket_col(n_buckets)).filter(
            F.col("bucket").isin(todo_buckets)
        )
        result = build_triples(
            pages_todo.drop("bucket"),
            alias_dict,
            tagger=tagger,
            model=model,
            vocab=vocab,
            use_extractor=use_extractor,
            ft_model=ft_model,
        )
        try:
            # triples carry the page url as doc_id → same bucketing function
            out = result.triples.withColumn(
                "bucket", _bucket_col(n_buckets, "doc_id")
            )
            # co-locate each bucket into one task before partitionBy —
            # otherwise every write task opens a file per bucket it sees (tasks
            # × buckets small files; at 1000 executors that's a metadata storm)
            out = out.repartition(n_buckets, "bucket")
            # void each todo bucket's 'done' row BEFORE deleting its partition:
            # without the pending row, a crash after the delete leaves the old
            # 'done' row as the latest — and a later run whose input reverts to
            # that fingerprint (restored snapshot, retried orchestration) would
            # match it and skip the bucket whose data was deleted, silently
            # serving a table missing those rows forever. One extra tiny append
            # per run with todo work; the successful path's 'done' rows below
            # supersede these by timestamp.
            (
                todo.select(
                    "bucket",
                    F.lit(None).cast("string").alias("input_fingerprint"),
                    F.lit(0).cast("long").alias("n_rows"),
                    "n_docs",
                    F.current_timestamp().alias("completed_at"),
                    F.lit("pending").alias("status"),
                )
                .coalesce(1)
                .write.mode("append")
                .parquet(manifest_path)
            )
            # clear every todo partition BEFORE the write: dynamic overwrite
            # only replaces partitions PRESENT in the written data, so a todo
            # bucket whose recompute yields ZERO triples would otherwise keep
            # its stale files (and the read-back below would count them into
            # the manifest). A crash between delete and the final manifest
            # write leaves the 'pending' row latest → recomputed next run.
            # Visibility tradeoff, accepted: a concurrent reader of the triples
            # dir sees todo buckets ABSENT while the recompute runs (before, it
            # saw their stale previous contents — and a mixed old/new table
            # during the overwrite commit, which is no better). This table is
            # job-owned during a run; serving readers across rewrites is a
            # snapshot-table-format concern (write new snapshot dir, flip a
            # pointer — what Iceberg does), not a bucket-overwrite one.
            _delete_bucket_partitions(spark, triples_path, todo_buckets)
            (
                out.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket")
                .parquet(triples_path)
            )
            # manifest rows AFTER a successful write (crash before this line →
            # bucket is simply recomputed next run; writes are idempotent).
            # Schema-pinned read: a run whose todo buckets all produced zero
            # triples leaves no data files to infer from.
            written = _read_triples(
                spark, triples_path, TRIPLES_TABLE_SCHEMA
            ).filter(F.col("bucket").isin(todo_buckets))
            rows = (
                written.groupBy("bucket")
                .agg(F.count(F.lit(1)).alias("n_rows"))
                .join(todo, "bucket", "right")
                .select(
                    F.col("bucket"),
                    F.col("input_fingerprint"),
                    F.coalesce(F.col("n_rows"), F.lit(0)).alias("n_rows"),
                    F.col("n_docs"),
                    F.current_timestamp().alias("completed_at"),
                    F.lit("done").alias("status"),
                )
            )
            rows.coalesce(1).write.mode("append").parquet(manifest_path)
        finally:
            result.unpersist()

    return PipelineResult(
        triples=_read_triples(spark, triples_path, TRIPLES_TABLE_SCHEMA),
        mentions=None,
        tokens=None,
        n_buckets_processed=len(todo_buckets),
        n_buckets_skipped=int(n_skipped),
        bucket_lineage=tuple(
            (int(r["bucket"]), r["input_fingerprint"], int(r["n_docs"]))
            for r in fp_rows
        ),
    )
