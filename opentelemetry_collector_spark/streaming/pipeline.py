"""Streaming pipeline — the continuous-collector mode (SURVEY §2.1 scraper /
§3.3 pull path; receiver/scraperhelper/scrapercontroller.go:91-227).

The collector runs forever, pulling/receiving batches and pushing them
downstream with queued-retry. Structured Streaming re-expresses that:

* source: ``readStream`` over the transcripts table directory (file source;
  on a real deployment an Iceberg/Kafka source — same DataFrame surface).
  ``maxFilesPerTrigger`` is the admission-control knob (memory-limiter
  analog, memorylimiter.go:181-235 — backpressure by bounding per-trigger
  intake instead of refusing requests).
* transforms: the SAME parse/enrich/route functions as batch — they are
  plain DataFrame transforms, so batch/streaming share one implementation
  (the processorhelper scaffold analog, processor/processorhelper/logs.go:40-82).
* sinks: ``foreachBatch`` writing per-sink partitioned parquet with the
  engine's checkpoint/WAL at ``checkpoint_dir`` — exactly-once per epoch is
  the streaming twin of plans/checkpoint.py's bucket ledger (persistent
  queue analog, exporter/exporterhelper/internal/persistent_storage.go).
* aggregates: event-time tumbling windows with a watermark re-express the
  batch processor's size/timeout flush (batch_processor.go:114-169) as
  time-bucket counts with bounded lateness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opentelemetry_collector_spark.operators.enrich import enrich
from opentelemetry_collector_spark.operators.parse import parse_turns
from opentelemetry_collector_spark.operators.route import route

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
    trigger_available_now: bool = True,
    max_records_per_file: int = 8192,
):
    """Fan-out sink writer: one foreachBatch per epoch writes every sink
    partition in a single pass.

    Exactly-once on epoch REPLAY (crash between the parquet write and the
    WAL commit): output is partitioned by (epoch_id, sink) and written with
    dynamic partition overwrite, so a replayed epoch replaces only its own
    partitions instead of appending duplicates — the same idempotence
    pattern as the batch checkpoint runner's bucket waves. The write itself
    is route.write_sinks (shared layout + the maxRecordsPerFile batch-split
    cap)."""
    from opentelemetry_collector_spark.operators.route import write_sinks

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        write_sinks(
            batch_df.withColumn("epoch_id", F.lit(epoch_id)),
            base_path,
            max_records_per_file=max_records_per_file,
            extra_partition_cols=["epoch_id"],
        )

    writer = (
        routed.writeStream.foreachBatch(write_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_windowed_counts(
    routed: DataFrame,
    checkpoint_dir: str,
    query_name: str = "sink_counts_stream",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    trigger_available_now: bool = True,
    output_mode: str = "complete",
):
    """Per-sink tumbling-window counts with a watermark (late rows beyond
    the watermark are dropped — the streaming form of the batch processor's
    timeout flush). Lands in a named memory sink for inspection/tests;
    production points this at a metrics table.

    output_mode: "append" emits each window once, after the watermark passes
    it — but windows within `watermark` of the stream's end stay open until
    more data arrives, so a finite availableNow run under-reports the tail.
    "complete" (default) re-emits the full count table each trigger, which
    is exact for finite runs and matches the batch aggregate."""
    counts = (
        routed.filter(F.col("error_reason").isNull())
        .withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window).alias("bucket"),
            F.col("role").alias("sink_role"),
            F.col("tool_family").alias("sink_tool"),
        )
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            F.unix_timestamp("bucket.start").alias("bucket_start_epoch"),
            "sink_role",
            "sink_tool",
            "n_rows",
        )
    )
    writer = (
        counts.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_windowed_red_metrics(
    parsed,
    checkpoint_dir: str,
    query_name: str = "red_metrics_stream",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    trigger_available_now: bool = True,
    output_mode: str = "complete",
):
    """Streaming RED metrics over tool-call spans (the spanmetrics-connector
    pattern in continuous mode): per (tool, event-time window) call count,
    error count, and duration sum/max, with the same watermark semantics as
    start_windowed_counts. Input is a streaming parsed frame
    (parse_turns over a stream source)."""
    red = (
        parsed.filter(F.col("trace_id").isNotNull())
        .withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window).alias("bucket"),
            F.col("parsed_tool").alias("tool"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_calls"),
            F.count(F.when(F.col("status") == "ERROR", 1)).alias("n_errors"),
            F.sum("dur_ms").alias("total_dur_ms"),
            F.max("dur_ms").alias("max_dur_ms"),
        )
        .select(
            F.unix_timestamp("bucket.start").alias("bucket_start_epoch"),
            "tool", "n_calls", "n_errors", "total_dur_ms", "max_dur_ms",
        )
    )
    writer = (
        red.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_windowed_log_dedup(
    parsed,
    checkpoint_dir: str,
    query_name: str = "log_dedup_stream",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    trigger_available_now: bool = True,
    output_mode: str = "complete",
):
    """Streaming log-template dedup (the continuous form of
    operators/aggregate.log_dedup): per (event-time window, role,
    numeric-masked template) occurrence count + representative body,
    same watermark semantics as start_windowed_counts. countDistinct is
    not supported in streaming aggregates, so the streaming twin
    approximates n_convs with approx_count_distinct — the documented
    batch/stream divergence (exact distinct needs the batch pass)."""
    template = F.regexp_replace(F.col("body"), "[0-9]+", "#")
    groups = (
        parsed.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window).alias("bucket"),
            "role",
            F.md5(template).alias("template_hash"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.approx_count_distinct("conv_id").alias("n_convs_approx"),
            F.min("body").alias("sample_body"),
        )
        .select(
            F.unix_timestamp("bucket.start").alias("bucket_start_epoch"),
            "role", "template_hash", "n_records", "n_convs_approx",
            "sample_body",
        )
    )
    writer = (
        groups.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
