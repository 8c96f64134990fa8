"""JSON-lines file format — a file-based receiver/exporter for JSON exports
(SURVEY §2.1).

One line is one LogRecord in the engine's own flat JSON envelope, written
and read with to_otlp_json / from_otlp_json in operators/observe.py
(integer epoch-micros timestamps — lossless where string formats
truncate). The line is NOT OTLP/JSON: the spec-exact OTLP/JSON wire
(resource -> scope -> records nesting, proto3 JSON mapping) is
operators/protobuf.py's ``to_otlp_request_json`` /
``from_otlp_request_json``. This is the ingest path for transcript data
arriving as JSON exports rather than parquet/Iceberg.

Scale notes: text-file writes shard per partition (no shuffle);
``compression`` accepts the reference's full negotiated codec set
(config/configcompression/compressionType.go:22-41: gzip, zlib, deflate,
snappy, zstd, lz4, none) via WIRE_CODECS below. gzip/zlib/deflate/snappy/
lz4 map onto Hadoop text codecs (zlib IS deflate — both names produce the
RFC 1950 zlib stream Hadoop calls "deflate"); zstd uses the Hadoop codec
when the classpath provides it and otherwise falls back to a pyarrow
zstd-frame wire (one ``.jsonl.zst`` file per partition, Arrow-batched
decode on read). Reads are line-splittable for uncompressed and bzip2
inputs; gzip/zstd files are one split each — many medium files beat few
huge ones for parallel ingest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from opentelemetry_collector_spark.operators.observe import (
    from_otlp_json,
    to_otlp_json,
)

# Reference codec name -> Spark/Hadoop text codec name. Keys mirror
# configcompression/compressionType.go:22-41 (the wire codecs the
# collector negotiates on OTLP/HTTP); "zlib" and "deflate" are one codec
# there too (both emit the zlib-wrapped stream, compressionType.go:34-38).
WIRE_CODECS: dict[str, str | None] = {
    "none": None,
    "": None,
    "gzip": "gzip",
    "zlib": "deflate",
    "deflate": "deflate",
    "snappy": "snappy",
    "lz4": "lz4",
    "zstd": "zstd",
}


def _resolve_codec(compression: str | None) -> str | None:
    if compression is None:
        return None
    try:
        return WIRE_CODECS[compression]
    except KeyError:
        raise ValueError(
            f"unsupported wire compression {compression!r}; "
            f"supported: {sorted(k for k in WIRE_CODECS if k)}"
        ) from None


def _write_zstd_pyarrow(lines: DataFrame, path: str) -> int:
    """zstd-frame JSONL wire without the Hadoop codec: one
    ``part-NNNNN.jsonl.zst`` per partition, written executor-side through
    pyarrow's CompressedOutputStream (zstd frames, the same stream format
    the collector's zstd transport emits). Per-partition imperative write
    is the one legitimate RDD use here; files land atomically via
    tmp+rename. Requires a shared filesystem mount on multi-node clusters
    (same assumption as any POSIX-path sink); deployments with the Hadoop
    zstd codec on the classpath never reach this path. Returns the number
    of lines written, summed from the per-partition counts.
    """
    import os
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)

    def write_part(idx, it):
        import pyarrow as pa

        out = os.path.join(path, f"part-{idx:05d}.jsonl.zst")
        tmp = f"{out}.tmp-{os.getpid()}"
        n = 0
        with pa.output_stream(tmp, compression="zstd") as f:
            for row in it:
                f.write((row[0] + "\n").encode("utf-8"))
                n += 1
        if n:
            os.replace(tmp, out)
        else:
            os.remove(tmp)  # skip empty partitions (Spark writers do too)
        return iter((n,))

    return lines.rdd.mapPartitionsWithIndex(write_part).sum()


def _read_zstd_pyarrow(spark: SparkSession, path: str) -> DataFrame:
    """Read the pyarrow zstd wire back: binaryFile scan (one task per
    ``.zst`` frame file) -> Arrow-batched streaming decompress -> one row
    per JSON line. Parallelism is per-file, matching the codec's
    non-splittable frames."""
    from pyspark.sql import functions as F

    files = (
        spark.read.format("binaryFile")
        .load(f"{path}/*.jsonl.zst")
        .select("content")
    )

    def decomp(batches):
        import pandas as pd
        import pyarrow as pa

        for pdf in batches:
            out: list[str] = []
            for content in pdf["content"]:
                raw = pa.input_stream(
                    pa.py_buffer(bytes(content)), compression="zstd"
                ).read()
                out.extend(raw.decode("utf-8").splitlines())
            yield pd.DataFrame({"otlp_json": out})

    lines = files.mapInPandas(decomp, "otlp_json string")
    return lines.select(F.col("otlp_json"))


def _hadoop_codec_available(spark: SparkSession, codec: str) -> bool:
    """True iff Hadoop's CompressionCodecFactory can resolve ``codec`` AND
    the codec's native/loadable backend is usable (mirrors the native-
    protobuf gate pattern, operators/protobuf.py)."""
    try:
        jvm = spark._jvm  # noqa: SLF001
        clazz = {
            "zstd": "org.apache.hadoop.io.compress.ZStandardCodec",
        }.get(codec)
        if clazz is None:
            return True
        jvm.java.lang.Class.forName(clazz)
        # class present is not enough: ZStandardCodec needs libhadoop
        return bool(
            jvm.org.apache.hadoop.io.compress.ZStandardCodec.isNativeCodeLoaded()
        )
    except Exception:
        return False


def write_otlp_jsonl(
    parsed: DataFrame, path: str, compression: str | None = None
) -> int:
    """Export parsed turns as JSON lines (logging/OTLP-HTTP exporter
    analog) and return the number of lines written. ``compression`` takes
    any reference wire codec name (WIRE_CODECS); zstd transparently uses
    the pyarrow frame wire when the Hadoop codec is off the classpath."""
    from opentelemetry_collector_spark.plans.service import count_on_write

    codec = _resolve_codec(compression)
    lines = to_otlp_json(parsed).select("otlp_json")
    if codec == "zstd" and not _hadoop_codec_available(
        lines.sparkSession, "zstd"
    ):
        return _write_zstd_pyarrow(lines, path)

    def write(d: DataFrame) -> None:
        writer = d.write.mode("overwrite")
        if codec:
            writer = writer.option("compression", codec)
        writer.text(path)

    return count_on_write(lines, write)


def read_otlp_jsonl(
    spark: SparkSession, path: str, compression: str | None = None
) -> DataFrame:
    """Ingest a JSON-lines export back into typed LogRecord columns
    (OTLP/HTTP JSON receiver analog): schema-explicit from_json — malformed
    lines yield null columns rather than failing the scan (partial-success
    receiver semantics; filter on conv_id IS NULL for the dead-letter split).

    ``compression`` is only needed for the pyarrow zstd wire (``"zstd"``
    when the Hadoop codec is absent, or leave None — ``.jsonl.zst`` files
    are auto-detected); every Hadoop codec self-identifies by extension.
    """
    import glob

    if compression == "zstd" or (
        compression is None and glob.glob(f"{path}/*.jsonl.zst")
    ):
        if not _hadoop_codec_available(spark, "zstd"):
            return from_otlp_json(_read_zstd_pyarrow(spark, path))
    return from_otlp_json(
        spark.read.text(path).withColumnRenamed("value", "otlp_json")
    )

