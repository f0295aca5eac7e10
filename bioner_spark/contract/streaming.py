"""Contract family: Structured Streaming run to completion (availableNow
over file micro-batches) — the stateful cross-batch dedup ledger and the
watermarked windowed mention counts — each query beside its DuckDB
oracle."""

from __future__ import annotations

import os
import time
from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bioner_spark.contract.fixtures import _docs, _KG_GOLD, _scratch_dir
from bioner_spark.contract.sql import _NORM_SQL
from bioner_spark.corpus import alias_dict_spark_df, generate, pages_spark_df
from bioner_spark.schemas import PAGES_SCHEMA
from bioner_spark.streaming.ingest import read_page_stream, streaming_mention_counts
from bioner_spark.streaming.stateful import streaming_dedup


def _drain(stream: DataFrame, base: str) -> DataFrame:
    """Run a streaming query to completion (availableNow) into parquet
    under `base` (output + checkpoint state) and read the output back."""
    (
        stream.writeStream.format("parquet")
        .option("path", f"{base}/out")
        .option("checkpointLocation", f"{base}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return stream.sparkSession.read.parquet(f"{base}/out")


def streaming_dedup_ledger(spark, sf_dir):
    """Cross-batch stateful streaming dedup (applyInPandasWithState) run
    to completion with an availableNow trigger over 4 file micro-batches
    (maxFilesPerTrigger=1), then summarized per fingerprint.

    The summary is deliberately order-insensitive (arrival order within
    a micro-batch is not contractual) while still proving the stateful
    semantics end-to-end: `n_firsts` must be exactly 1 per fingerprint —
    if state were NOT carried across micro-batches, any fingerprint
    spanning two batches would emit two is_first rows and fail the hash —
    and `max_dup` must be n_docs - 1 (the last arrival saw every earlier
    one via state).
    """
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("url"), "text"
    )
    base = _scratch_dir("stream_dedup_q_")
    in_dir = f"{base}/in"
    # 4 deterministic micro-batches by doc_id mod 4 — duplicate groups
    # have scattered doc_ids, so fingerprints genuinely span batches
    for b in range(4):
        docs.filter(F.col("url").cast("long") % 4 == b).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
    pages = (
        spark.readStream.schema("url string, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    return (
        _drain(streaming_dedup(pages), base)
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("is_first").cast("long").alias("n_firsts"),
            F.max("n_duplicates_so_far").alias("max_dup"),
            F.min("url").alias("min_doc"),
        )
    )


# streaming_dedup_ledger: the final per-fingerprint ledger of the
# stateful streaming dedup is deterministic regardless of micro-batch
# boundaries — n_firsts is 1 by the operator contract (state carries
# across batches) and the max running-duplicate counter is n_docs - 1.
STREAMING_DEDUP_LEDGER_SQL = rf"""
WITH fp AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc,
         COALESCE(md5({_NORM_SQL}),
                  'null:' || CAST(doc_id AS VARCHAR)) AS fingerprint
  FROM documents
)
SELECT fingerprint,
       COUNT(*)::BIGINT AS n_docs,
       CAST(1 AS BIGINT) AS n_firsts,
       (COUNT(*) - 1)::BIGINT AS max_dup,
       MIN(doc) AS min_doc
FROM fp GROUP BY fingerprint
"""


def streaming_window_counts(spark, sf_dir):
    """Watermarked event-time windowed mention counts run END-TO-END
    through Structured Streaming (streaming/ingest.
    streaming_mention_counts): the deterministic synthetic crawl
    (corpus.generate — 60 pages, 1/min event times) lands as parquet
    micro-batch files, is streamed with availableNow +
    maxFilesPerTrigger=1 through extract → tokenize → stream-static
    broadcast gazetteer join → 15-min watermarked window agg in append
    mode.

    Determinism under append mode: a far-future sentinel page (+2 days,
    one 'aspirin' mention so it survives the gazetteer join and reaches
    the watermark operator) is written as the LAST micro-batch file, so
    the final watermark (sentinel − 30 min) passes every real window
    and append emits them ALL; the sentinel's own window stays open and
    is never emitted. Batch boundaries can shift which batch emits a
    window but never the union. The oracle recomputes the window counts
    from the generator's committed GOLD tokens + page event times
    (tests/fixtures/kg_gold) — any drift in extraction, tokenization,
    the broadcast match, watermark handling, or window bucketing breaks
    the hash."""
    corpus = generate(n_docs=60, giant_doc_sentences=40)
    pages = pages_spark_df(spark, corpus)
    alias = alias_dict_spark_df(spark, corpus)
    base = _scratch_dir("stream_window_q_")
    in_dir = f"{base}/in"
    pages.coalesce(1).write.mode("append").parquet(in_dir)
    sentinel = spark.createDataFrame(
        [
            (
                "sentinel://watermark-advance",
                datetime(2024, 1, 3),
                b"<p>aspirin</p>",
                "aspirin",
                "en",
            )
        ],
        schema=PAGES_SCHEMA,
    )
    real_files = {
        f for f in os.listdir(in_dir) if not f.startswith(("_", "."))
    }
    sentinel.coalesce(1).write.mode("append").parquet(in_dir)
    # FileStreamSource orders by modification time (latestFirst default
    # false). A sentinel-first batch would set the watermark past every
    # real event and drop them all as late, so the ordering must not
    # hinge on write-timing mtime luck: pin the real file strictly
    # earlier and the sentinel strictly later, explicitly.
    now = time.time()
    for f in os.listdir(in_dir):
        if f.startswith(("_", ".")):
            continue
        target = now - 120 if f in real_files else now + 60
        os.utime(os.path.join(in_dir, f), (target, target))
    stream = read_page_stream(spark, in_dir, max_files_per_trigger=1)
    counts = streaming_mention_counts(
        stream, alias, window_duration="15 minutes", watermark="30 minutes",
    )
    return _drain(counts, base).select(
        F.col("window_start").cast("long").alias("window_start"),
        "canonical_id",
        F.col("n_mentions").cast("long").alias("n_mentions"),
    )


# streaming_window_counts: recompute the watermarked windowed counts
# from the generator's GOLD tokens (never engine output) + page event
# times. Single-word aliases resolve to MIN(canonical_id) (the
# stream-static broadcast join's rule); 15-min buckets via time_bucket
# (origin 2000-01-01 is 15-min-aligned with Spark's 1970 epoch, so the
# boundaries agree); the sentinel page exists only on the query side
# and its window is never emitted, so the oracle covers real docs only.
STREAMING_WINDOW_COUNTS_SQL = f"""
WITH gt AS (SELECT * FROM read_parquet('{_KG_GOLD}/tokens.parquet')),
pm AS (SELECT * FROM read_parquet('{_KG_GOLD}/pages_meta.parquet')),
al AS (SELECT * FROM read_parquet('{_KG_GOLD}/alias.parquet')),
single AS (
  SELECT alias, MIN(canonical_id) AS canonical_id FROM al
  WHERE length(string_split(alias, ' ')) = 1 GROUP BY alias
),
matched AS (
  SELECT p.warc_ts, s.canonical_id
  FROM gt t
  JOIN pm p ON t.doc_id = p.url
  JOIN single s ON LOWER_SQL(t.text) = s.alias
)
SELECT epoch(time_bucket(INTERVAL '15 minutes', warc_ts))::BIGINT AS window_start,
       canonical_id, COUNT(*)::BIGINT AS n_mentions
FROM matched GROUP BY 1, 2
"""


_CONTRACT = (
    (streaming_dedup_ledger, STREAMING_DEDUP_LEDGER_SQL),
    (streaming_window_counts, STREAMING_WINDOW_COUNTS_SQL),
)
QUERIES = {q.__name__: q for q, _ in _CONTRACT}
ORACLES = {q.__name__: sql for q, sql in _CONTRACT}
