"""Streaming pipeline — the continuous-collector mode (SURVEY §2.1 scraper /
§3.3 pull path; receiver/scraperhelper/scrapercontroller.go:91-227).

The collector pulls/receives batches and pushes them downstream with
queued-retry. Structured Streaming re-expresses that as an availableNow
query: each start drains every file not yet in the checkpoint, in one or
more micro-batches, and exits; the next start (cron, or an operator
re-running ``--mode stream``) resumes from the checkpoint.

* source: ``readStream`` over the transcripts table directory (file source;
  on a real deployment an Iceberg/Kafka source — same DataFrame surface).
  ``maxFilesPerTrigger`` is the admission-control knob (memory-limiter
  analog, memorylimiter.go:181-235 — backpressure by bounding per-trigger
  intake instead of refusing requests).
* transforms: the SAME parse/enrich/route functions as batch — they are
  plain DataFrame transforms, so batch/streaming share one implementation
  (the processorhelper scaffold analog, processor/processorhelper/logs.go:40-82).
  The batch aggregates (``sink_counts``, ``span_red_metrics``) run
  unchanged on the stream in complete output mode.
* sinks: ``foreachBatch`` writing per-sink partitioned parquet with the
  engine's checkpoint/WAL at ``checkpoint_dir`` — exactly-once per epoch is
  the streaming twin of plans/checkpoint.py's bucket ledger (persistent
  queue analog, exporter/exporterhelper/internal/persistent_storage.go).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opentelemetry_collector_spark.operators.enrich import enrich
from opentelemetry_collector_spark.operators.parse import parse_turns
from opentelemetry_collector_spark.operators.route import route, write_sinks

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp"
)


def stream_transcripts(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over a transcripts parquet directory."""
    reader = spark.readStream.schema(TRANSCRIPT_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def routed_stream(transcripts: DataFrame, spark: SparkSession) -> DataFrame:
    """parse -> enrich -> route, streaming-safe (all narrow transforms)."""
    return route(enrich(parse_turns(transcripts), spark))


def start_sink_writer(
    routed: DataFrame,
    base_path: str,
    checkpoint_dir: str,
    max_records_per_file: int = 8192,
):
    """Fan-out sink writer: an availableNow query whose foreachBatch writes
    every sink partition of an epoch in a single pass.

    Exactly-once on epoch REPLAY (crash between the parquet write and the
    WAL commit): output is partitioned by (epoch_id, sink) and written with
    dynamic partition overwrite, so a replayed epoch replaces only its own
    partitions instead of appending duplicates — the same idempotence
    pattern as the batch checkpoint runner's bucket waves. The write itself
    is route.write_sinks (shared layout + the maxRecordsPerFile batch-split
    cap); a cap of 0 or less would mean no cap to Spark, so it raises."""
    if max_records_per_file <= 0:
        raise ValueError("max_records_per_file must be positive")

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        write_sinks(
            batch_df.withColumn("epoch_id", F.lit(epoch_id)),
            base_path,
            max_records_per_file=max_records_per_file,
            extra_partition_cols=["epoch_id"],
        )

    return (
        routed.writeStream.foreachBatch(write_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )

