"""Multimodal-column plumbing: opaque ``binary`` payloads + typed metadata,
processed by an Arrow-batched ``mapInPandas`` kernel.

A 100 TB training-data pipeline carries images/audio/video as binary columns
next to typed metadata, and runs decode / feature-extract as vectorized
Python over Arrow batches. The engine ships no image/audio codec library
(PIL/ffmpeg decode, resize and frame sampling are out of scope), so the
*codec* step is a deterministic fake (clearly marked below); everything
Spark-side — schema, binary column handling, Arrow batch shape, UDF
signature, partitioning — is real and tested.

Design rules (the parts that matter at scale):
* binary payloads stay opaque to Catalyst — metadata columns (format,
  n_bytes, checksum) are first-class so filters/pruning never touch bytes;
* ``mapInPandas`` (not a scalar UDF) so one Python invocation handles a
  whole Arrow batch;
* batch size is bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch``
  — payload bytes dominate memory, so real deployments lower it per modality.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "doc_id long, media_type string, payload binary, n_bytes long, declared_md5 string"
)
FEATURE_SCHEMA = (
    "doc_id long, media_type string, n_bytes long, content_md5 string, "
    "checksum_ok boolean, width int, height int, n_frames int"
)


def synth_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic opaque payloads derived from documents.text (utf-8
    bytes stand in for encoded media; at 100 TB this column is the real
    image/audio bytes ingested from object storage)."""
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.element_at(
            F.array(F.lit("image/png"), F.lit("audio/wav"), F.lit("video/mp4")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.encode("text", "utf-8").alias("payload"),
        F.length(F.encode("text", "utf-8")).cast("long").alias("n_bytes"),
        F.md5(F.encode("text", "utf-8")).alias("declared_md5"),
    )


def _make_fake_decode():
    """STUB CODEC factory — deterministic fake standing in for
    PIL/ffmpeg/soundfile (not installed in this container). Returns
    (width, height, n_frames) derived purely from the payload bytes so tests
    are reproducible. A real deployment replaces ONLY this function; the
    Spark plumbing is unchanged.

    Returned as a fresh closure so cloudpickle ships it BY VALUE inside the
    mapInPandas kernel — executors never need this module importable
    (spark-submit --py-files works, but the driver contract must not
    depend on worker PYTHONPATH)."""

    def fake_decode(payload: bytes, media_type: str) -> tuple[int, int, int]:
        if not payload:
            raise ValueError("empty payload")
        w = 16 + payload[0] % 240
        h = 16 + payload[-1] % 240
        frames = 1 if media_type == "image/png" else 1 + len(payload) % 32
        return w, h, frames

    return fake_decode


def extract_features(media: DataFrame) -> DataFrame:
    """Decode + feature-extract: checksum verification, dimensions, frame
    counts. Corrupt rows (checksum mismatch / decode failure) are kept with
    checksum_ok=false and null dims — the dead-letter split happens
    downstream (route-stage semantics).

    The per-byte work (md5, length, checksum compare) runs JVM-side in
    whole-stage codegen before the Arrow hop, so only the codec itself
    crosses into Python — per row by nature (a real image/ffmpeg decode is
    a per-payload C call). Single pass, no join, no shuffle: the JVM
    columns ride through the kernel as passthrough."""
    import pandas as pd

    decode = _make_fake_decode()  # local binding -> pickled by value

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = []
            for payload, mt in zip(pdf["payload"], pdf["media_type"]):
                try:
                    dims.append(decode(bytes(payload), mt))
                except ValueError:
                    dims.append((None, None, None))
            w, h, n = (list(t) for t in zip(*dims)) if dims else ([], [], [])
            width = pd.Series(w, dtype="Int32", index=pdf.index)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pdf["n_bytes"],
                    "content_md5": pdf["content_md5"],
                    "checksum_ok": pdf["md5_ok"] & width.notna(),
                    "width": width,
                    "height": pd.Series(h, dtype="Int32", index=pdf.index),
                    "n_frames": pd.Series(n, dtype="Int32", index=pdf.index),
                }
            )

    base = media.select(
        "doc_id",
        "media_type",
        "payload",
        F.length("payload").cast("long").alias("n_bytes"),
        F.md5("payload").alias("content_md5"),
        (F.md5("payload") == F.col("declared_md5")).alias("md5_ok"),
    )
    return base.mapInPandas(kernel, FEATURE_SCHEMA)


def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() surface: synth media -> decode/extract (payload dropped
    from the output so the oracle-comparable columns are scalar)."""
    return extract_features(synth_media(spark, sf_dir)).select(
        "doc_id", "media_type", "n_bytes", "content_md5", "checksum_ok",
        "width", "height", "n_frames",
    )


# DuckDB oracle: the fake decode is pure byte arithmetic and the corpus text
# is verified ASCII (octet_length == length for every row), so the oracle
# reproduces the decode exactly from the text column — proving the
# mapInPandas plumbing loses/corrupts nothing.
MEDIA_FEATURES_ORACLE = """
WITH m AS (
    SELECT doc_id,
        ['image/png', 'audio/wav', 'video/mp4'][cast(doc_id % 3 AS int) + 1]
            AS media_type,
        text
    FROM documents
)
SELECT doc_id, media_type,
    cast(length(text) AS bigint) AS n_bytes,
    md5(text) AS content_md5,
    true AS checksum_ok,
    cast(16 + ascii(substr(text, 1, 1)) % 240 AS int) AS width,
    cast(16 + ascii(substr(text, length(text), 1)) % 240 AS int) AS height,
    cast(CASE WHEN media_type = 'image/png' THEN 1
              ELSE 1 + length(text) % 32 END AS int) AS n_frames
FROM m
"""
