"""Multimodal column plumbing: opaque ``binary`` payloads + typed metadata,
decode / feature-extract as Arrow-batched stages.

The image/audio codec libraries are not in this container, so the *decode*
step is stubbed behind an import-try with a deterministic fake (mission
brief allows this explicitly); the Spark-side plumbing — binary column,
schema, batch shape, partitioning — is real and tested. Swap
``_decode_stub`` for a PIL/librosa call on a real cluster and nothing else
changes.
"""

from __future__ import annotations

from typing import Iterator, List

from pyspark.sql import DataFrame, SparkSession, functions as F

from univer_ocr_spark.ops.dedup import _docs

FEATURE_DIM = 8


def with_binary_payload(df: DataFrame) -> DataFrame:
    """Attach an opaque binary payload column + typed metadata (stands in
    for image/audio bytes; here the UTF-8 encoding of ``text``)."""
    return df.withColumn("payload", F.encode(F.col("text"), "UTF-8")).withColumn(
        "payload_meta",
        F.struct(
            F.octet_length(F.col("text")).cast("long").alias("n_bytes"),
            F.lit("utf8-text").alias("format"),
        ),
    )


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata extraction over the binary column (JVM-side only)."""
    d = with_binary_payload(_docs(spark, sf_dir))
    return d.select(
        "doc_id",
        F.col("payload_meta.n_bytes").alias("n_bytes"),
        F.col("payload_meta.format").alias("format"),
        F.lower(F.hex(F.substring(F.col("payload"), 1, 4))).alias("header_hex"),
    ).orderBy("doc_id")


MULTIMODAL_META_SQL = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       'utf8-text' AS format,
       lower(hex(encode(text))[1:8]) AS header_hex
FROM documents ORDER BY doc_id
"""


def _decode_stub(payload: bytes) -> List[float]:
    """Deterministic fake decoder. Real deployment swaps this body for a
    PIL / torchvision / librosa decode+featurize; the Spark-side plumbing
    (binary column, Arrow batch shape, schema) is identical either way.
    Intentionally never raises — codec availability must not change
    behavior of the stub."""
    head = payload[:FEATURE_DIM]
    return [b / 255.0 for b in head] + [0.0] * (FEATURE_DIM - len(head))


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over binary payloads via mapInPandas — the Arrow
    batch shape (one list[float] per row) is exactly what a real image
    embedding stage produces."""
    import pandas as pd

    d = with_binary_payload(_docs(spark, sf_dir)).select("doc_id", "payload")

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "features": [
                        _decode_stub(bytes(p)) for p in pdf["payload"]
                    ],
                }
            )

    out = d.mapInPandas(fn, schema="doc_id long, features array<double>")
    return out.select(
        "doc_id",
        F.round(F.aggregate("features", F.lit(0.0), lambda a, x: a + x), 6).alias(
            "feature_sum"
        ),
        F.size("features").cast("long").alias("feature_dim"),
    ).orderBy("doc_id")


# The stub features ARE SQL-expressible (byte_k/255 over the first 8 UTF-8
# bytes), so the decode plumbing gets a real oracle: bytes recovered via
# hex-nibble arithmetic, folded LEFT in array order (list_reduce) to mirror
# Spark's F.aggregate fold exactly — same doubles, same round(…, 6).
MULTIMODAL_FEATURES_SQL = """
SELECT doc_id,
  CASE WHEN octet_length(encode(text)) = 0 THEN 0.0 ELSE
    round(list_reduce(
      list_transform(range(1, least(octet_length(encode(text)), 8) + 1),
        k -> ((strpos('0123456789abcdef', lower(hex(encode(text)))[2*k-1:2*k-1]) - 1) * 16
              + strpos('0123456789abcdef', lower(hex(encode(text)))[2*k:2*k]) - 1) / 255.0),
      (a, x) -> a + x), 6)
  END AS feature_sum,
  CAST(8 AS BIGINT) AS feature_dim
FROM documents ORDER BY doc_id
"""
