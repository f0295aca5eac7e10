"""Contract family: multimodal feature extraction over synthetic media
(mapInPandas plumbing, float and exact-int histograms, real WAV/PPM codec
decode) — each query beside its DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import functions as F

from bioner_spark.contract.fixtures import _docs
from bioner_spark.ops.multimodal import (
    extract_decoded_histograms, extract_features, synthesize_codec_media,
)


def _media_table(spark, sf_dir):
    """THE synthetic media derivation (media_id cast, doc_id%2 modality
    rule, utf-8 payload, n_frames meta) — one definition for
    multimodal_features AND multimodal_hist; _MEDIA_BYTES_CTE mirrors it
    for both oracles, so an edit here must update that CTE. NULL-text
    law (same as the rest of the contract's fetch-failure treatment):
    NULL text/n_chars coalesce to ''/0, so a NULL-text doc yields an
    empty payload (n_bytes 0, zero histogram) on BOTH engines instead
    of a NULL-vs-zeros hash mismatch."""
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("image"))
        .otherwise(F.lit("audio"))
        .alias("modality"),
        F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8").alias("payload"),
        F.create_map(
            F.lit("n_frames"),
            (F.coalesce(F.col("n_chars"), F.lit(0)) % 100).cast("string"),
        ).alias("meta"),
    )


# the SQL mirror of _media_table (+ its payload exploded to bytes), shared
# by the multimodal_features and multimodal_hist oracles
_MEDIA_BYTES_CTE = """WITH media AS (
  SELECT CAST(doc_id AS VARCHAR) AS media_id,
         CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS modality,
         hex(encode(COALESCE(text, ''))) AS hx,
         octet_length(encode(COALESCE(text, '')))::INT AS n_bytes
  FROM documents
),
bytes AS (
  SELECT media_id,
    unnest(list_transform(range(0, n_bytes),
      i -> (strpos('0123456789ABCDEF', substring(hx, (2*i+1)::INT, 1)) - 1) * 16
         + (strpos('0123456789ABCDEF', substring(hx, (2*i+2)::INT, 1)) - 1))) AS b
  FROM media
),
"""


def multimodal_features(spark, sf_dir):
    feats = extract_features(_media_table(spark, sf_dir))
    # f0 = hist[0]/sum(hist), computed in float32 inside the UDF. No
    # rounding: IEEE single-precision division is bit-reproducible, so
    # the DuckDB oracle recomputes the exact same double (FLOAT/FLOAT
    # then cast) — exactness beats a round() whose half-way cases could
    # disagree between engines.
    return feats.select(
        "media_id",
        "modality",
        "n_bytes",
        F.element_at(F.col("feature"), 1).cast("double").alias("f0"),
    )


# multimodal_features: f0 = bin-0 byte-histogram count / total bytes,
# recomputed in single precision (FLOAT/FLOAT → bit-identical to the
# UDF's numpy float32 division) and cast to double. The decode itself is
# the documented deterministic stub; the oracle verifies the float path
# of the same mapInPandas plumbing multimodal_hist verifies in ints.
MULTIMODAL_FEATURES_SQL = f"""
{_MEDIA_BYTES_CTE}bin0 AS (
  SELECT media_id, COUNT(*)::INT AS h0 FROM bytes WHERE b < 8 GROUP BY media_id
)
SELECT m.media_id, m.modality, m.n_bytes,
       CASE WHEN m.n_bytes = 0 THEN 0.0
            ELSE CAST(CAST(COALESCE(b.h0, 0) AS FLOAT)
                      / CAST(m.n_bytes AS FLOAT) AS DOUBLE)
       END AS f0
FROM media m LEFT JOIN bin0 b USING (media_id)
"""


def multimodal_hist(spark, sf_dir):
    # same media table and mapInPandas plumbing as multimodal_features,
    # integer histogram output -> exact DuckDB oracle (no float
    # tolerance); one row per (item, bin)
    feats = extract_features(_media_table(spark, sf_dir), normalize=False)
    return feats.select(
        "media_id", "modality", "n_bytes",
        F.posexplode("feature").alias("bin", "n"),
    )


# multimodal_hist: DuckDB recomputes the byte histogram from
# hex(encode(text)) — bin = byte >> 3, zero bins materialized — in exact
# integer arithmetic, verifying the binary-column mapInPandas plumbing
# end-to-end
MULTIMODAL_HIST_SQL = f"""
{_MEDIA_BYTES_CTE}counts AS (
  SELECT media_id, (b // 8)::INT AS bin, COUNT(*)::INT AS n
  FROM bytes GROUP BY 1, 2
),
bins AS (SELECT unnest(range(0, 32))::INT AS bin)
SELECT m.media_id, m.modality, m.n_bytes, bins.bin,
       COALESCE(c.n, 0)::INT AS n
FROM media m CROSS JOIN bins
LEFT JOIN counts c ON c.media_id = m.media_id AND c.bin = bins.bin
"""


def multimodal_decode(spark, sf_dir):
    # REAL codec path: synthesize actual WAV-PCM / PPM containers from
    # (doc_id, n_chars) formulas, parse them back with the native
    # decoders (ops/multimodal.decode_wav / decode_netpbm), histogram
    # the DECODED samples/pixels in exact ints; the oracle recomputes
    # the histograms from the generating formulas alone — the
    # writer↔parser roundtrip and the decode plumbing are both verified
    # against a derivation that never touches either.
    media = synthesize_codec_media(_docs(spark, sf_dir))
    feats = extract_decoded_histograms(media)
    return feats.select(
        "media_id", "modality", "n_values",
        F.posexplode("feature").alias("bin", "n"),
    )


# multimodal_decode: DuckDB recomputes the DECODED-value histograms from
# the synthesis formulas (odd docs: int16 PCM samples ((d*7919 +
# i*104729) mod 65536) − 32768 binned by >>12; even docs: P6 bytes
# ((d*31 + j*17) mod 256) binned by >>4) — never parsing the containers,
# so a writer or parser defect on the Spark side cannot cancel out
MULTIMODAL_DECODE_SQL = """
WITH aud AS (
  SELECT doc_id, ((COALESCE(n_chars, 0) % 200) + 50)::INT AS n
  FROM documents WHERE doc_id % 2 = 1
),
aud_vals AS (
  SELECT CAST(doc_id AS VARCHAR) AS media_id, 'audio' AS modality,
         n AS n_values,
         (((doc_id*7919 + unnest(range(0, n))*104729) % 65536) // 4096)::INT AS bin
  FROM aud
),
img AS (
  SELECT doc_id, ((COALESCE(n_chars, 0) % 16) + 4) * 8 * 3 AS n
  FROM documents WHERE doc_id % 2 = 0
),
img_vals AS (
  SELECT CAST(doc_id AS VARCHAR) AS media_id, 'image' AS modality,
         n::INT AS n_values,
         (((doc_id*31 + unnest(range(0, n))*17) % 256) // 16)::INT AS bin
  FROM img
),
vals AS (SELECT * FROM aud_vals UNION ALL SELECT * FROM img_vals),
counts AS (
  SELECT media_id, modality, n_values, bin, COUNT(*)::INT AS n
  FROM vals GROUP BY 1, 2, 3, 4
),
base AS (SELECT DISTINCT media_id, modality, n_values FROM vals),
bins AS (SELECT unnest(range(0, 16))::INT AS bin)
SELECT base.media_id, base.modality, base.n_values, bins.bin,
       COALESCE(c.n, 0)::INT AS n
FROM base CROSS JOIN bins
LEFT JOIN counts c ON c.media_id = base.media_id AND c.bin = bins.bin
"""


_CONTRACT = (
    (multimodal_features, MULTIMODAL_FEATURES_SQL),
    (multimodal_hist, MULTIMODAL_HIST_SQL),
    (multimodal_decode, MULTIMODAL_DECODE_SQL),
)
QUERIES = {q.__name__: q for q, _ in _CONTRACT}
ORACLES = {q.__name__: sql for q, sql in _CONTRACT}
