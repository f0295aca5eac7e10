"""Structured-Streaming ingestion: a continuously-arriving crawl → mentions.

The reference is a pure batch pipeline (files in, files out — SURVEY.md
§2.8); its only incremental behavior is append-mode corpus building
(reference bioner/preprocessing/pubmed_parser.py:21). The engine upgrades
that to a real incremental path:

  * `run_ingest_once` — new page files landing in a directory are picked up
    by `readStream` and each micro-batch is run through the SAME batch
    lineage the pipeline uses (extract → one row per sentence → gazetteer
    mentions, linking.sentence_candidates) via `foreachBatch`. No token
    table, no window: the gazetteer matches inside each sentence row and
    resolves overlaps after one (doc, sentence) groupBy, so batch and
    streaming share one implementation AND one plan shape. Source offsets
    live in the checkpoint → restarts re-process at most the last in-flight
    micro-batch; the write dedupes on (doc_id, batch file) by overwriting
    per-micro-batch output dirs idempotently.

  * `streaming_mention_counts` — fully in-stream watermarked event-time
    aggregation (no window functions: single-token gazetteer matches via a
    stream-static broadcast join). Late pages beyond the watermark are
    dropped rather than reopening closed windows.

Scale notes: file-source listing is incremental (`maxFilesPerTrigger`
bounds a micro-batch); watermark bounds the agg state; the foreachBatch
path holds NO streaming state at all, so executors scale horizontally
exactly like the batch job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bioner_spark.extract import with_extracted_text
from bioner_spark.linking import resolve_overlaps, sentence_candidates
from bioner_spark.schemas import PAGES_SCHEMA
from bioner_spark.tokenizer import sentence_words, tokenize


def read_page_stream(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming scan of a directory of Parquet page files (PAGES_SCHEMA)."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def batch_mentions(pages: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """pages (batch DF) → linked mentions. The shared batch/streaming body —
    called directly in batch jobs and from foreachBatch in streaming.

    Uses the gazetteer's sentence-level entry (`sentence_candidates`:
    resolved candidates ARE the spans, already linked by the same
    min-canonical-id rule) straight from the sentence rows — the BIO
    round-trip (`dict_tag_tokens` → `decode_spans` → `link_mentions`) the
    batch pipeline also skips is a full-token-table tag join-back plus a
    window re-decode per micro-batch, pure parity machinery."""
    extracted = with_extracted_text(pages.select("url", "html"))
    return resolve_overlaps(sentence_candidates(sentence_words(extracted), alias_dict))


def run_ingest_once(
    spark: SparkSession,
    input_dir: str,
    alias_dict: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drain everything currently in input_dir into the mentions table and
    stop (Trigger.AvailableNow). Re-running after new files arrive processes
    ONLY the new files — the checkpoint carries source offsets."""
    pages = read_page_stream(spark, input_dir)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_mentions(batch_df, alias_dict)
            .write.mode("overwrite")
            .parquet(f"{output_dir}/batch_id={batch_id}")
        )

    (
        pages.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def streaming_mention_counts(
    pages: DataFrame,
    alias_dict: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked per-window single-token mention counts by canonical id
    (event time = crawl timestamp). Pure in-stream plan: extract/tokenize
    are narrow, the gazetteer match is a stream-static broadcast join on
    the token text (1-word aliases), the agg is a watermarked window —
    every operator is streaming-supported, output mode `append` emits each
    window once when the watermark passes it."""
    extracted = with_extracted_text(pages.select("url", "warc_ts", "html"))
    # with_offsets=False: only text/warc_ts are read downstream; the
    # offset aggregate costs ~8x the split (tokenizer.py)
    tokens = tokenize(extracted, carry_cols=("warc_ts",), with_offsets=False)
    single = alias_dict.filter(~F.col("alias").contains(" ")).groupBy("alias").agg(
        F.min("canonical_id").alias("canonical_id")
    )
    matched = tokens.join(
        F.broadcast(single), F.lower(F.col("text")) == F.col("alias")
    )
    return (
        matched.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window_duration), "canonical_id")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .select(
            F.col("window.start").alias("window_start"),
            "canonical_id",
            "n_mentions",
        )
    )
