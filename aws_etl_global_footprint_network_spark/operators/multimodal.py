"""Multimodal column plumbing ([EXT]): image/audio/video payloads as
opaque ``binary`` columns with typed metadata, processed by
Arrow-batched ``mapInPandas`` UDFs.

The decode step is REAL, stdlib-only: ``decode_image_header`` sniffs
the payload's magic bytes and parses PNG/JPEG/GIF/BMP headers into
(format, width, height) — sniffing, not trusting the metadata column,
because at 100 TB the metadata lies. ``byte_features`` derives the
feature vector from the actual bytes (numpy histogram: entropy,
printable ratio, ...). Payload *content* decode beyond headers
(pixel raster, audio samples) would need codecs this container lacks;
``synth_png`` builds valid PNGs (zlib + struct, stdlib) so the image
path is exercised end-to-end on real image bytes anyway.
"""

from __future__ import annotations

import math
import struct
import zlib
import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_etl_global_footprint_network_spark.functions import kernels
from aws_etl_global_footprint_network_spark.functions.compat import round_compat_np
from aws_etl_global_footprint_network_spark.registry import register
from aws_etl_global_footprint_network_spark.sources.readers import read_testdata

FEATURE_DIM = 8

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)

# JPEG start-of-frame markers that carry dimensions (C0-CF minus
# DHT/DAC/RST: C4, C8, CC)
_JPEG_SOF = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def synth_png(width: int, height: int, seed: bytes) -> bytes:
    """A VALID minimal 8-bit grayscale PNG (signature + IHDR + IDAT +
    IEND, correct CRCs) with pixel bytes cycled from ``seed`` —
    stdlib-only, so the pipeline can carry real image bytes without
    codec libraries."""

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    seed = seed or b"\x00"
    raw = b"".join(
        b"\x00"
        + bytes(seed[(r * width + c) % len(seed)] for c in range(width))
        for r in range(height)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def decode_image_header(payload: bytes) -> tuple[str, int | None, int | None]:
    """(format, width, height) from the payload's real bytes.

    PNG: IHDR is always the first chunk (spec) — width/height at
    offsets 16..24 big-endian. JPEG: walk the segment chain to the
    first SOFn marker; dimensions sit at +5 (height first). GIF:
    little-endian logical screen size at +6. BMP: BITMAPINFOHEADER
    signed dims at +18 (negative height = top-down rows). Anything
    else — including this corpus's text payloads — is 'unknown'."""
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        if len(payload) >= 24 and payload[12:16] == b"IHDR":
            w, h = struct.unpack(">II", payload[16:24])
            return "png", w, h
        return "png", None, None
    if payload[:3] == b"\xff\xd8\xff":
        i = 2
        while i + 9 < len(payload):
            if payload[i] != 0xFF:
                break
            marker = payload[i + 1]
            if marker == 0x01 or 0xD0 <= marker <= 0xD9:  # standalone
                i += 2
                continue
            if marker in _JPEG_SOF:
                h, w = struct.unpack(">HH", payload[i + 5 : i + 9])
                return "jpeg", w, h
            i += 2 + struct.unpack(">H", payload[i + 2 : i + 4])[0]
        return "jpeg", None, None
    if payload[:6] in (b"GIF87a", b"GIF89a") and len(payload) >= 10:
        w, h = struct.unpack("<HH", payload[6:10])
        return "gif", w, h
    if payload[:2] == b"BM" and len(payload) >= 26:
        w, h = struct.unpack("<ii", payload[18:26])
        return "bmp", abs(w), abs(h)
    return "unknown", None, None


def byte_features(payload: bytes) -> list[float]:
    """FEATURE_DIM real statistics of the payload bytes (numpy,
    vector-at-a-time): mean, std, Shannon entropy, printable ratio,
    zero ratio, high-bit ratio, distinct-value ratio, log-length."""
    if not payload:
        return [0.0] * FEATURE_DIM
    a = np.frombuffer(payload, dtype=np.uint8)
    n = a.size
    counts = np.bincount(a, minlength=256)
    p = counts[counts > 0] / n
    entropy = float(-(p * np.log2(p)).sum())
    return [
        float(a.mean()) / 255.0,
        float(a.std()) / 255.0,
        entropy / 8.0,
        float(((a >= 32) & (a <= 126)).mean()),
        float((a == 0).mean()),
        float((a >= 128).mean()),
        float((counts > 0).sum()) / 256.0,
        math.log10(n) / 10.0,
    ]


def attach_binary_payload(documents: DataFrame) -> DataFrame:
    """Treat the document text's UTF-8 bytes as an opaque media payload
    — the schema/partitioning stand-in for real image bytes."""
    return documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit("application/octet-stream").alias("media_type"),
        F.length(F.encode("text", "UTF-8")).cast("long").alias("n_bytes"),
    )


def synthesize_image_payloads(media: DataFrame, every: int = 4) -> DataFrame:
    """Re-encode every ``every``-th payload as a real PNG whose pixels
    are the original bytes and whose dimensions derive from doc_id —
    a deterministic, codec-free image corpus so the decode path runs
    on genuine image bytes. Map-only (mapInPandas), no shuffle."""

    def op(pdf: pd.DataFrame) -> list[tuple]:
        rows = []
        for doc_id, payload, mtype in zip(
            pdf["doc_id"], pdf["payload"], pdf["media_type"]
        ):
            if doc_id % every == 0:
                w = 4 + int(doc_id) % 29
                h = 3 + int(doc_id) % 17
                payload, mtype = synth_png(w, h, bytes(payload)), "image/png"
            rows.append((doc_id, payload, mtype, len(payload)))
        return rows

    return kernels.batch_map(media, op, MEDIA_SCHEMA)


def _header_columns(pdf: pd.DataFrame) -> dict:
    """doc_id, n_bytes and the sniffed (format, width, height) of a
    batch of payloads; width and height are NULL where unknown."""
    fmt, w, h = zip(*(decode_image_header(bytes(b)) for b in pdf["payload"]))
    return {
        "doc_id": pdf["doc_id"],
        "n_bytes": pdf["n_bytes"],
        "format": fmt,
        "width": pd.array(w, dtype="Int32"),
        "height": pd.array(h, dtype="Int32"),
    }


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched decode + featurize over binary payloads.

    ``mapInPandas``: each task pulls Arrow record batches, sniffs the
    image header and computes byte-statistics features per payload.
    No shuffle: a map-only stage, so it scales linearly with
    partitions; swap ``byte_features`` for a pixel/codec featurizer in
    a deployment that ships codec libraries."""

    def op(pdf: pd.DataFrame) -> dict:
        return dict(
            _header_columns(pdf),
            features=[
                [round(x, 6) for x in byte_features(bytes(b))]
                for b in pdf["payload"]
            ],
        )

    return kernels.batch_map(media, op, FEATURES_SCHEMA)


def extract_headers(media: DataFrame) -> DataFrame:
    """Header-only decode over binary payloads — the cheap subset of
    extract_features for consumers that never read the byte-statistics
    vector. Column pruning cannot reach INSIDE a mapInPandas stage, so
    a query that projects only header fields out of extract_features
    would still pay the full per-payload featurization in Python;
    dropping it here cut multimodal_features ~2.5x at sf1 (the
    remaining cost is the genuine PNG synth + header parse)."""

    def op(pdf: pd.DataFrame) -> dict:  # the stage name the plan shows
        return _header_columns(pdf)

    return kernels.batch_map(
        media,
        op,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("n_bytes", T.LongType()),
                T.StructField("format", T.StringType()),
                T.StructField("width", T.IntegerType()),
                T.StructField("height", T.IntegerType()),
            ]
        ),
    )


@register(
    "binary_payload_meta",
    """
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS payload_md5
    FROM documents
    """,
    "binary column plumbing: payload byte length + content digest",
    tags=("multimodal",),
)
def binary_payload_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_testdata(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.length(F.encode("text", "UTF-8")).cast("bigint").alias("n_bytes"),
        F.md5("text").alias("payload_md5"),
    )


def multimodal_features_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full featurized output (exploded so every column is scalar):
    header fields from the real byte-level parse PLUS the byte-statistics
    feature vector. The feature values depend on zlib-compressed PNG
    payload bytes, which no SQL oracle can reproduce — this shape is
    covered by the local determinism/shape tests instead; the
    REGISTERED query below is the header-only projection, which a
    DuckDB twin CAN predict."""
    d = read_testdata(spark, sf_dir, "documents")
    media = synthesize_image_payloads(attach_binary_payload(d))
    feats = extract_features(media)
    return feats.select(
        "doc_id",
        "n_bytes",
        "format",
        "width",
        "height",
        F.posexplode("features").alias("feature_pos", "feature_val"),
    ).select(
        "doc_id",
        "n_bytes",
        "format",
        "width",
        "height",
        F.col("feature_pos").cast("int").alias("feature_pos"),
        F.col("feature_val").cast("double").alias("feature_val"),
    )


# The synthesis rule (synthesize_image_payloads: every 4th doc becomes a
# PNG with width 4 + doc_id % 29, height 3 + doc_id % 17) is pure
# arithmetic in doc_id — so a SQL oracle can predict EXACTLY what the
# byte-level header parser must find, turning the Python decode path
# into a hash-checked differential test: Spark parses real PNG bytes,
# DuckDB computes the expectation, the driver hashes both.
_HDR_FMT = "CASE WHEN doc_id % 4 = 0 THEN 'png' ELSE 'unknown' END"
_HDR_W = "CASE WHEN doc_id % 4 = 0 THEN CAST(4 + doc_id % 29 AS INT) END"
_HDR_H = "CASE WHEN doc_id % 4 = 0 THEN CAST(3 + doc_id % 17 AS INT) END"


@register(
    "multimodal_features",
    f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           {_HDR_FMT} AS format,
           {_HDR_W} AS width,
           {_HDR_H} AS height,
           md5(concat({_HDR_FMT}, '|',
                      COALESCE(CAST({_HDR_W} AS VARCHAR), ''), '|',
                      COALESCE(CAST({_HDR_H} AS VARCHAR), ''))) AS header_md5
    FROM documents
    """,
    "mapInPandas image-header decode (PNG magic/IHDR parse on real"
    " synthesized PNG bytes; text payloads sniff to 'unknown'),"
    " hash-checked against the arithmetic expectation of the synthesis"
    " rule — the full byte-statistics feature output is"
    " multimodal_features_full()",
    tags=("multimodal",),
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_testdata(spark, sf_dir, "documents")
    media = synthesize_image_payloads(attach_binary_payload(d))
    # header-only: this query projects no byte-statistics, and pruning
    # cannot reach inside the Python stage (see extract_headers)
    feats = extract_headers(media)
    return feats.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "format",
        "width",
        "height",
        F.md5(
            F.concat(
                F.col("format"),
                F.lit("|"),
                F.coalesce(F.col("width").cast("string"), F.lit("")),
                F.lit("|"),
                F.coalesce(F.col("height").cast("string"), F.lit("")),
            )
        ).alias("header_md5"),
    )


@register(
    "grouped_pandas_rank",
    """
    SELECT CAST(user_id AS BIGINT) AS user_id, event_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS BIGINT) AS visit_rank,
           ROUND(value * 100, 0) / 100 AS value
    FROM events
    """,
    "grouped-map Pandas UDF (applyInPandas): per-user visit ranking;"
    " integer output keeps the oracle hash-exact despite the Python"
    " path",
    tags=("pandas_udf", "window"),
)
def grouped_pandas_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas: per-user visit ranking done in Python (the
    grouped-map shape per-entity model scoring / feature engineering
    uses), with the production twist: the grouping key is a HASH
    BUCKET of the entity, not the entity itself. applyInPandas pays a
    fixed Arrow/pandas cost per GROUP (~1 ms), so per-entity groups
    at 15k+ entities spend 10x longer on group plumbing than on work
    (measured 16.4 s -> 2.0 s at sf1 by bucketing). Each bucket holds
    ~2k rows of many users; the per-user ranking is a vectorized
    pandas groupby inside the bucket. Bucket count scales with input
    so a bucket stays worker-memory-bounded at any volume — the same
    shape handles 100 TB by raising the modulus. Outputs are exact
    integers so the DuckDB oracle hash-matches the Python path."""
    from aws_etl_global_footprint_network_spark.sources.readers import (
        read_testdata as _rt,
    )

    ev = _rt(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    # ~2k rows per bucket; parquet count-star is metadata-only.
    n_buckets = max(32, ev.count() // 2048 + 1)

    def rank_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["user_id", "ts", "event_id"]).reset_index(drop=True)
        # HALF_UP on the scaled double to match DuckDB's ROUND (pandas
        # .round is half-to-even; a tie like 2.125 would diverge 2.12
        # vs 2.13).
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "visit_rank": pdf.groupby("user_id").cumcount().to_numpy() + 1,
                "value": round_compat_np(pdf["value"], 2),
            }
        )

    return (
        ev.withColumn("bucket", F.pmod(F.col("user_id"), F.lit(n_buckets)))
        .groupBy("bucket")
        .applyInPandas(
            rank_bucket,
            schema="user_id bigint, event_id bigint, visit_rank bigint, value double",
        )
    )
