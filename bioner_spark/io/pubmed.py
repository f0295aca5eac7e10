"""Distributed PubMed gzip-XML corpus scan (SURVEY §2.1 S7-S9).

The reference parses `*.xml.gz` files sequentially with gzip + ElementTree,
extracting `Article/Abstract/AbstractText` (falling back to
`OtherAbstract/AbstractText`), skipping articles without an abstract, and
stripping three literal truncation markers from the end of each abstract
(reference bioner/preprocessing/pubmed_parser.py:20-69). Marker counts go
to a stats logfile (pubmed_parser.py:61-69).

Engine version: `spark.read.format("binaryFile")` distributes whole files
across executors (one file = one row — correct here because gzip members
are not splittable), and a `mapInPandas` kernel runs the identical
gzip+ElementTree parse per file. Marker stripping and the stats counters
are NATIVE Spark expressions downstream of the parse (extract.py), so only
the XML decode itself is Python. Parity authority: `parse_pubmed_file`
called single-node must equal the Spark output per (file, abstract index) —
the same golden-bytes test style as reference tests/test_pubmed_parser.py.
"""

from __future__ import annotations

import gzip
import io
import xml.etree.ElementTree as ET
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bioner_spark.extract import strip_truncation_markers


def parse_pubmed_bytes(data: bytes) -> list[tuple[int, str, str]]:
    """One .xml.gz payload → [(abstract_idx, pmid, raw_abstract_text)].

    Mirrors reference pubmed_parser.py:20-39: first AbstractText under
    Article/Abstract, else under OtherAbstract; articles without either are
    skipped (and do not consume an index).
    """
    out: list[tuple[int, str, str]] = []
    with gzip.open(io.BytesIO(data), "rb") as fh:
        tree = ET.parse(fh)
    idx = 0
    for article in tree.getroot().iter("PubmedArticle"):
        pmid_el = article.find(".//PMID")
        pmid = pmid_el.text if pmid_el is not None and pmid_el.text else ""
        el = article.find(".//Article/Abstract/AbstractText")
        if el is None:
            el = article.find(".//OtherAbstract/AbstractText")
        if el is None or el.text is None:
            continue
        out.append((idx, pmid, el.text))
        idx += 1
    return out


def parse_pubmed_file(path: str) -> list[tuple[int, str, str]]:
    """Single-node authority for parity tests."""
    with open(path, "rb") as fh:
        return parse_pubmed_bytes(fh.read())


def read_pubmed(spark: SparkSession, glob_path: str) -> DataFrame:
    """Distributed scan: glob of .xml.gz → one row per abstract with the
    truncation markers stripped (`abstract`) and raw text (`raw_abstract`).

    Marker-strip is the native-SQL `strip_truncation_markers` expression —
    identical semantics to the HTML extractor's marker handling (and the
    reference's process_abstract_text, pubmed_parser.py:41-53).
    """
    files = spark.read.format("binaryFile").load(glob_path).select("path", "content")

    def parse_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # yield per FILE, not per Arrow batch: the input batch is bounded by
        # maxBytesPerBatch (64 MB) of COMPRESSED payload, but gzip'd XML
        # expands ~5-10x — accumulating a whole batch's parsed abstracts
        # before yielding would hold several hundred MB of Python strings
        # per task. One file's expansion is the irreducible peak (gzip
        # members are unsplittable); everything beyond it streams out.
        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                rows = [
                    (path, idx, pmid, text)
                    for idx, pmid, text in parse_pubmed_bytes(bytes(content))
                ]
                if rows:
                    yield pd.DataFrame(
                        rows, columns=["path", "abstract_idx", "pmid", "raw_abstract"]
                    )

    parsed = files.mapInPandas(
        parse_partition,
        schema="path string, abstract_idx int, pmid string, raw_abstract string",
    )
    return parsed.withColumn(
        "abstract", strip_truncation_markers(F.col("raw_abstract"))
    )


def pubmed_truncation_stats(abstracts: DataFrame) -> DataFrame:
    """Corpus counters the reference writes to its stats logfile
    (pubmed_parser.py:61-69) — native aggregation over raw abstracts."""
    from bioner_spark.extract import truncation_marker_stats

    return truncation_marker_stats(abstracts, text_col="raw_abstract")
