"""SURVEY.md §2.L (4/4) — multimodal (binary) column handling
(driver-mandated extension, BASELINE.json:6).

Images/audio/video are opaque ``binary`` payloads + typed metadata
structs. No codec libraries exist in this container (SURVEY.md §2.L),
so the decode step is STUBBED: ``decode_image_real`` raises
NotImplementedError; the pipeline runs a clearly-marked deterministic
fake decoder instead. Everything Spark-side — schema, Arrow batch shape,
mapInPandas signature, partitioning — is real and tested.

Scale notes (100 TB): payloads stay opaque bytes end-to-end (never
parsed JVM-side); per-batch decode via mapInPandas streams Arrow batches
so one row's blob never forces whole-partition materialization. Real
deployments put blobs behind a path column + object store and keep only
metadata in the table — the plumbing here is identical.
"""

from __future__ import annotations

from collections.abc import Iterator

import hashlib

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_test_spark.io import load_table
from hive_test_spark.registry import register


def decode_image_real(payload: bytes) -> dict:
    """Real image decode (PIL/opencv) — NOT AVAILABLE in this container.

    STUB: raises until an image codec is installed; the pipeline uses
    ``_decode_fake`` below, which is deterministic from the payload bytes.
    """
    raise NotImplementedError("image codecs not installed; use the deterministic fake decoder")


def _decode_fake(payload: bytes) -> tuple[int, int, str]:
    """Deterministic fake 'decode': width/height derived from payload
    length, format from the md5 first byte. Mirrors the real decoder's
    output schema exactly."""
    size = len(payload)
    width = 64 + size % 640
    height = 64 + (size * 7) % 480
    fmt = "png" if hashlib.md5(payload).digest()[0] % 2 == 0 else "jpeg"
    return width, height, fmt


def _decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        decoded = pdf["payload"].map(_decode_fake)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "modality": pdf["modality"],
                "byte_size": pdf["payload"].map(len).astype("int64"),
                "payload_md5": pdf["payload"].map(lambda b: hashlib.md5(b).hexdigest()),
                "width": decoded.map(lambda t: t[0]).astype("int64"),
                "height": decoded.map(lambda t: t[1]).astype("int64"),
                "format": decoded.map(lambda t: t[2]),
            }
        )


@register(
    "llm_multimodal_binary",
    """
    SELECT doc_id,
           'image' AS modality,
           CAST(n_chars AS BIGINT) AS byte_size,
           md5(text) AS payload_md5,
           64 + n_chars % 640 AS width,
           64 + (n_chars * 7) % 480 AS height
    FROM documents
    WHERE n_chars >= 200
    """,
)
def llm_multimodal_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary pipeline: synthesize binary payloads (utf-8 text
    bytes stand in for image blobs), attach a typed metadata struct,
    'decode' via mapInPandas (stubbed codec, see module docstring), filter
    on metadata. The oracle re-derives every output from the source text
    (payload md5 == text md5; sizes are n_chars since the corpus is ascii).

    `format` is fake-decoder-internal (md5-bit parity) — excluded from the
    verified projection, asserted in tests instead.
    """
    d = load_table(spark, sf_dir, "documents")
    binary = d.select(
        "doc_id",
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.struct(
            F.lit("image").alias("modality"),
            F.col("n_chars").alias("declared_size"),
        ).alias("meta"),
    ).withColumn("modality", F.col("meta.modality"))

    schema = (
        "doc_id long, modality string, byte_size long, payload_md5 string, "
        "width long, height long, format string"
    )
    # Push the size gate BEFORE the Python stage: declared_size equals the
    # payload byte length (ascii corpus), so filtering JVM-side skips the
    # Arrow round-trip + decode for rows the pipeline would discard — at
    # 100 TB the decode stage is the most expensive operator in the chain.
    decoded = (
        binary.filter(F.col("meta.declared_size") >= 200)
        .select("doc_id", "modality", "payload")
        .mapInPandas(_decode_batches, schema)
    )
    return decoded.filter(F.col("byte_size") >= 200).select(
        "doc_id", "modality", "byte_size", "payload_md5", "width", "height"
    )


def _feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Fake resize + feature-extract, deterministic from payload bytes.
    Mirrors a real vision preprocessor's output schema: resized dims that
    fit 224x224 preserving aspect ratio, plus a fixed-width feature vector
    (here: 4 md5-derived doubles standing in for model features)."""
    import math

    for pdf in batches:
        size = pdf["payload"].map(len)
        width = (64 + size % 640).astype("int64")
        height = (64 + (size * 7) % 480).astype("int64")
        scale = pd.concat([224.0 / width, 224.0 / height], axis=1).min(axis=1)
        out_w = (width * scale).map(math.floor).astype("int64")
        out_h = (height * scale).map(math.floor).astype("int64")
        digest = pdf["payload"].map(lambda b: hashlib.md5(b).hexdigest())
        # half-UP rounding to match DuckDB/Spark ROUND — Python round()
        # is banker's (half-even) and diverges on exact .xxxxxx5 ties.
        feats = {
            f"f{k}": digest.map(
                lambda h, k=k: int(
                    int(h[k * 8 : (k + 1) * 8], 16) / 4294967296.0 * 1e6 + 0.5
                )
                / 1e6
            )
            for k in range(4)
        }
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": width,
                "height": height,
                "out_w": out_w,
                "out_h": out_h,
                **feats,
            }
        )


_MM_W = "(64 + n_chars % 640)"
_MM_H = "(64 + (n_chars * 7) % 480)"
_MM_SCALE = f"LEAST(224.0 / {_MM_W}, 224.0 / {_MM_H})"
_MM_FEATS = ", ".join(
    f"ROUND(CAST(concat('0x', substr(md5(text), {k * 8 + 1}, 8)) AS UBIGINT)"
    f" / 4294967296.0, 6) AS f{k}"
    for k in range(4)
)


@register(
    "llm_multimodal_features",
    f"""
    SELECT doc_id,
           CAST({_MM_W} AS BIGINT) AS width,
           CAST({_MM_H} AS BIGINT) AS height,
           CAST(FLOOR({_MM_W} * {_MM_SCALE}) AS BIGINT) AS out_w,
           CAST(FLOOR({_MM_H} * {_MM_SCALE}) AS BIGINT) AS out_h,
           {_MM_FEATS}
    FROM documents
    """,
)
def llm_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize + feature-extract stage (the two preprocessing
    steps between decode and model input): aspect-preserving resize to fit
    224x224 and a fixed-width feature vector per payload, both computed in
    ONE mapInPandas pass (one Arrow round trip — chaining separate
    resize/featurize UDF stages would serialize the batch twice).

    The codec-dependent parts are deterministic fakes (module docstring);
    the oracle re-derives dims from n_chars and features from md5(text),
    so the whole Arrow pipeline is hash-verified. At 100 TB this stage is
    embarrassingly parallel map work — no shuffle; batch size is bounded
    by spark.sql.execution.arrow.maxRecordsPerBatch so a partition of
    large blobs never materializes at once."""
    d = load_table(spark, sf_dir, "documents")
    binary = d.select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    schema = (
        "doc_id long, width long, height long, out_w long, out_h long, "
        "f0 double, f1 double, f2 double, f3 double"
    )
    return binary.mapInPandas(_feature_batches, schema)
