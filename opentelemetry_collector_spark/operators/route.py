"""Route stage — the fanout/router analog (SURVEY §2.4).

The reference's fanout consumer sends each batch to N downstream pipelines
(service/internal/fanoutconsumer/logs.go:35-85); the router surface selects a
pipeline subset (fanoutconsumer/logs.go:87-132). Re-expressed single-pass:
every row gets a ``sink_id`` (role/tool_family) or lands in ``dead_letter``
with an ``error_reason`` — the count-conservation invariant (every input row
appears in exactly one sink or dead-letter) mirrors
TestBatchProcessorSpansDelivered (processor/batchprocessor/batch_processor_test.go:39-79).

Dead-letter classification is the permanent-vs-retryable error split
(consumer/consumererror/permanent.go): malformed data is permanent -> dead
letter; infra failures are retryable -> task retry (plans/retry.py).

Scale note: routing is a narrow projection (one CASE per row) — the physical
fan-out to per-sink tables is a single write with partitionBy(sink columns),
NOT N filtered scans, so the input is read once (copy-minimization parity
with fanoutconsumer/logs.go:40-58).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ERR_EMPTY_TEXT = "empty_text"
ERR_UNKNOWN_SEVERITY = "unknown_severity"

_ERROR_REASON_SQL = (
    f"CASE WHEN text IS NULL OR text = '' THEN '{ERR_EMPTY_TEXT}'"
    " WHEN severity_text IS NOT NULL AND severity_number IS NULL"
    f" THEN '{ERR_UNKNOWN_SEVERITY}' ELSE CAST(NULL AS STRING) END"
)
# NULL-propagating concat (matches the oracle's `||`): concat_ws would
# silently SKIP a null role/tool_family and emit a partial sink id on the
# Spark side only
_SINK_ID_SQL = "CASE WHEN error_reason IS NULL THEN concat(role, '/', tool_family) END"


def route(enriched: DataFrame) -> DataFrame:
    """Add (error_reason, sink_id); sink_id NULL iff dead-lettered.

    Both are SQL text, which plans in a few py4j round trips (each PySpark
    Column call costs one or more). sink_id reads error_reason through the
    ATTRIBUTE, in a second projection, not a second copy of the CASE: the
    reason chains through severity_number's map lookup down to the parse
    regexes, and a duplicated tree re-evaluates that whole chain per row
    (operators/parse.py plan-shape note — Catalyst won't inline a
    non-cheap expression referenced twice, but it can't dedupe two copies
    it was handed)."""
    routed = enriched.withColumn("error_reason", F.expr(_ERROR_REASON_SQL))
    return routed.withColumn("sink_id", F.expr(_SINK_ID_SQL))


def routed_ok(routed: DataFrame) -> DataFrame:
    return routed.filter("error_reason IS NULL")


def dead_letter(routed: DataFrame) -> DataFrame:
    """The dead-letter sink (permanent errors; consumererror.NewPermanent)."""
    return routed.filter("error_reason IS NOT NULL")


def write_sinks(
    routed: DataFrame,
    base_path: str,
    max_records_per_file: int = 8192,
    extra_partition_cols: list[str] | None = None,
    compression: str | None = None,
) -> None:
    """Single-pass fan-out write: one scan, partitioned by sink key.

    max_records_per_file=8192 mirrors the batch processor's send_batch_size
    default (processor/batchprocessor/factory.go:31) — the batch-split
    semantics (splitlogs.go:22-84) become a file-size cap.

    extra_partition_cols are prepended to the layout and make the write a
    dynamic partition overwrite (a write option; the session setting is
    left alone): the checkpoint runner passes ["part_bucket"] so a re-run
    wave replaces only its own buckets, the stream writer ["epoch_id"] so a
    replayed epoch replaces only its own output.

    compression selects the parquet codec (gzip/snappy/zstd/lz4/none) — the
    configcompression transport-tuning analog
    (config/configcompression/compressionType.go:22-41) applied to the
    storage boundary.
    """
    writer = (
        routed.withColumn("sink", F.expr("coalesce(sink_id, 'dead_letter')"))
        .write.option("maxRecordsPerFile", max_records_per_file)
    )
    if compression:
        writer = writer.option("compression", compression)
    if extra_partition_cols:
        writer = writer.option("partitionOverwriteMode", "dynamic")
    (
        writer.partitionBy(*(extra_partition_cols or []), "sink")
        .mode("overwrite")
        .parquet(base_path)
    )
