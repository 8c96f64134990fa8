"""Aggregate stage — batch-processor + obsreport counters analog (SURVEY §2.6).

The reference's only aggregates are pipeline health counters: per-exporter
sent/failed record counts (obsmetrics/obs_exporter.go:36-76) and the batch
processor's flush-size distribution (processor/batchprocessor/metrics.go:37-101).
Re-expressed as groupBy over ts time buckets (the north rule's
"batch-processor-style per-sink count aggregates").

Bucketing uses epoch arithmetic (floor(epoch/300)*300) rather than
window()/time_bucket so the Spark and DuckDB results are bit-identical.

Scale note: groupBy(bucket, role, tool_family) is a partial-aggregate-friendly
shuffle (map-side combine collapses each task to |buckets x sinks| rows before
exchange) — cardinality is tiny regardless of input size, so this agg costs
one scan + a trivially small shuffle even at 10^12 rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from opentelemetry_collector_spark.severity import ERROR_THRESHOLD

BUCKET_SECONDS = 300  # 5-minute tumbling buckets (FIXTURES.md §3 sink_counts)


def time_bucket(ts: Column, seconds: int = BUCKET_SECONDS) -> Column:
    """Tumbling-window bucket start as epoch seconds (bigint). Raises
    ValueError when ``seconds <= 0``: such a bucket has no meaning."""
    if seconds <= 0:
        raise ValueError(f"bucket_seconds must be positive, got {seconds}")
    return (F.floor(F.unix_timestamp(ts) / seconds) * seconds).cast("long")


def sink_counts(routed_ok_df: DataFrame, bucket_seconds: int = BUCKET_SECONDS) -> DataFrame:
    """Per-sink, per-bucket counts: the exporter/sent_log_records analog
    (obsreport/obsreport_exporter.go:141-161) + error-severity split.
    """
    return (
        routed_ok_df.groupBy(
            time_bucket(F.col("ts"), bucket_seconds).alias("bucket_start_epoch"),
            F.col("role").alias("sink_role"),
            F.col("tool_family").alias("sink_tool"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(
                F.when(F.col("severity_number") >= ERROR_THRESHOLD, 1)
            ).alias("n_error_severity"),
        )
    )


def severity_histogram(parsed: DataFrame) -> DataFrame:
    """Counts per severity level — batch_send_size-style distribution
    (processor/batchprocessor/metrics.go:37-101 analog over severities).
    """
    return (
        parsed.groupBy("severity_number", "severity_text")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def log_dedup(
    parsed: DataFrame, bucket_seconds: int = BUCKET_SECONDS
) -> DataFrame:
    """Collapse same-template log bodies within a time bucket into one row
    + occurrence counts — the log-deduplication processor pattern
    (repeated near-identical records are the dominant log-volume
    pathology; the collector ecosystem handles it with an interval-keyed
    identity aggregate). Identity = the body with numeric payloads masked
    (``[0-9]+`` -> ``#``), i.e. log-template extraction, so records that
    differ only in ids/counters/durations dedup together.

    The group key is md5(template), not the text, so the shuffle carries
    32-byte keys — at 10^12 rows the exchange volume is bounded by
    (buckets x roles x distinct templates) after map-side partial
    aggregation; hot templates (the very thing being deduped) collapse to
    one row per task before the shuffle, so the skew they'd otherwise
    cause is absorbed by the combine. ``sample_body`` keeps min(body) as
    a representative record (one body per group per task in the partial
    agg, not a full-text shuffle).
    """
    template = F.regexp_replace(F.col("body"), "[0-9]+", "#")
    return (
        parsed.groupBy(
            time_bucket(F.col("ts"), bucket_seconds).alias(
                "bucket_start_epoch"
            ),
            "role",
            F.md5(template).alias("template_hash"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.countDistinct("conv_id").alias("n_convs"),
            F.min("body").alias("sample_body"),
        )
    )


LOG_DEDUP_ORACLE_BODY = f"""
SELECT cast(floor(epoch(ts)/{BUCKET_SECONDS})*{BUCKET_SECONDS} AS bigint)
        AS bucket_start_epoch,
    role,
    md5(regexp_replace(body, '[0-9]+', '#', 'g')) AS template_hash,
    count(*) AS n_records,
    cast(count(DISTINCT conv_id) AS bigint) AS n_convs,
    min(body) AS sample_body
FROM parsed
GROUP BY 1, 2, 3
"""
