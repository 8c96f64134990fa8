"""Record envelopes of the parsed turns: the JSONL record envelope and the
trace signal's span rows.

JSONL record envelope: to_otlp_json / from_otlp_json serialize parsed
turns to / from one flat JSON object per LogRecord with to_json /
from_json — the line format of the ``otlp_jsonl`` exporter and
sources/jsonl.py. The round trip is lossless (tested). It is the engine's
own envelope, not the OTLP/JSON wire: the spec-exact wires of all three
signals are operators/protobuf.py's ``to/from_otlp_*_json``.

Span rows: build_spans materializes the pdata/ptrace Span surface from the
parsed tool-call turns.

Pipeline-health counts (the obsreport analog, SURVEY §2.6) are not here:
each exporter counts the rows it sent on its own write
(plans/service.py ``count_on_write``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# OTLP wire timestamps are integers since epoch (uint64 ns,
# pdata/pcommon/timestamp.go:26-37); Spark timestamps are µs, so the
# envelope carries time_unix_micros — integer codec is lossless where
# string formats truncate (to_json defaults to millis).
LOG_RECORD_JSON_SCHEMA = (
    "struct<conv_id:string, turn_idx:int, role:string, time_unix_micros:long, "
    "severity_number:int, severity_text:string, trace_id:string, "
    "span_id:string, attributes_json:string, body:string>"
)


def to_otlp_json(parsed: DataFrame) -> DataFrame:
    """Serialize parsed turns to the flat JSONL record envelope — one JSON
    string per LogRecord."""
    return parsed.select(
        "conv_id",
        "turn_idx",
        F.to_json(
            F.struct(
                F.col("conv_id"),
                F.col("turn_idx"),
                F.col("role"),
                # ts may be TIMESTAMP_NTZ (parquet); session tz is UTC so the
                # cast is lossless
                F.unix_micros(F.col("ts").cast("timestamp")).alias(
                    "time_unix_micros"
                ),
                F.col("severity_number"),
                F.col("severity_text"),
                F.col("trace_id"),
                F.col("span_id"),
                F.col("attributes_json"),
                F.col("body"),
            )
        ).alias("otlp_json"),
    )


def from_otlp_json(serialized: DataFrame) -> DataFrame:
    """Parse the JSONL record envelope back to columns; inverse of
    to_otlp_json."""
    return serialized.select(
        F.from_json("otlp_json", LOG_RECORD_JSON_SCHEMA).alias("r")
    ).select(
        "r.conv_id", "r.turn_idx", "r.role",
        F.timestamp_micros("r.time_unix_micros").cast("timestamp_ntz").alias("ts"),
        "r.severity_number", "r.severity_text", "r.trace_id", "r.span_id",
        "r.attributes_json", "r.body",
    )


# --- trace signal: span rows built from parsed turns (pdata/ptrace) ---------

# SpanKind enum (pdata/ptrace/span_kind.go): tool calls are CLIENT spans
SPAN_KIND_CLIENT = 3
# StatusCode enum (pdata/ptrace/status_code.go): Unset=0, Ok=1, Error=2
_STATUS_CODE = (
    "CASE WHEN status = 'ERROR' THEN 2 WHEN status = 'OK' THEN 1 ELSE 0 END"
)


def build_spans(parsed: DataFrame) -> DataFrame:
    """Materialize full Span rows from parsed tool-call turns — every
    generated_span.go:58-149 surface:

    * identity + timing + kind + status as before;
    * TraceState (pdata/pcommon/trace_state.go): opaque W3C key=value
      passthrough — synthesized deterministically as ``otelcol=<trace_id
      prefix>`` since transcripts carry no upstream vendor state;
    * flags: W3C sampled bit set on every materialized span
      (pdata/ptrace generated SetFlags; mask semantics in
      functions/flags.py);
    * Events (generated_span.go:97-105): call_started at span start,
      call_ended at end, plus an ``error`` event carrying the status when
      the call failed — the retry/rate-limit sub-event analog;
    * Links (generated_span.go:107-115): one link to the previous span in
      the same conversation (lag window over the conv_id bucket key — the
      only shuffle, aligned with the table layout).
    """
    from pyspark.sql.window import Window

    start = F.unix_micros(F.col("ts").cast("timestamp"))
    end = start + F.col("dur_ms") * 1000
    w_all = Window.partitionBy("conv_id").orderBy("turn_idx")
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    # A tool-call span's outcome lives on the FOLLOWING tool-result turn
    # (the assistant's "calling tool=" line has no status) — effective span
    # status = own status, else the next turn's when that turn is the tool
    # result. Both windows share the conv_id/turn_idx sort: one shuffle.
    with_result = parsed.withColumn(
        "next_status", F.lead("status").over(w_all)
    ).withColumn("next_role", F.lead("role").over(w_all))
    spans = (
        with_result.filter(F.col("trace_id").isNotNull())
        .withColumn(
            "status",
            F.coalesce(
                F.col("status"),
                F.when(F.col("next_role") == "tool", F.col("next_status")),
            ),
        )
        .withColumn("start_unix_micros", start)
        .withColumn("end_unix_micros", end)
        .withColumn("prev_trace_id", F.lag("trace_id").over(w))
        .withColumn("prev_span_id", F.lag("span_id").over(w))
    )
    event = lambda name, ts_col: F.struct(  # noqa: E731
        F.lit(name).alias("name"),
        F.col(ts_col).alias("time_unix_micros"),
        F.lit("{}").alias("attributes_json"),
    )
    error_event = F.struct(
        F.lit("error").alias("name"),
        F.col("end_unix_micros").alias("time_unix_micros"),
        F.lit('{"status": "ERROR"}').alias("attributes_json"),
    )
    events = F.when(
        F.col("status") == "ERROR",
        F.array(
            event("call_started", "start_unix_micros"),
            event("call_ended", "end_unix_micros"),
            error_event,
        ),
    ).otherwise(
        F.array(
            event("call_started", "start_unix_micros"),
            event("call_ended", "end_unix_micros"),
        )
    )
    links = F.when(
        F.col("prev_trace_id").isNotNull(),
        F.array(
            F.struct(
                F.col("prev_trace_id").alias("trace_id"),
                F.col("prev_span_id").alias("span_id"),
                F.lit('{"link.type": "prev_span"}').alias("attributes_json"),
            )
        ),
    ).otherwise(
        F.expr(
            "CAST(array() AS array<struct<trace_id:string, span_id:string,"
            " attributes_json:string>>)"
        )
    )
    from opentelemetry_collector_spark.functions.flags import FLAG_SAMPLED

    return spans.select(
        F.col("trace_id"),
        F.col("span_id"),
        F.concat(F.lit("otelcol="), F.substring("trace_id", 1, 8)).alias(
            "trace_state"
        ),
        F.lit("").alias("parent_span_id"),  # root span per turn
        F.col("parsed_tool").alias("name"),
        F.lit(SPAN_KIND_CLIENT).alias("kind"),
        F.lit(FLAG_SAMPLED).alias("flags"),
        "start_unix_micros",
        "end_unix_micros",
        F.expr(_STATUS_CODE).alias("status_code"),
        F.col("conv_id"),
        F.col("turn_idx"),
        F.col("attributes_json"),
        events.alias("events"),
        links.alias("links"),
    )
