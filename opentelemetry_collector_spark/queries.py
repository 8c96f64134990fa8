"""Query registry: every implemented operator exposed as a (spark, sf_dir) ->
DataFrame callable plus a DuckDB oracle SQL string (driver correctness gate).

Column names AND types are aligned pairwise between the Spark plan and the
oracle SQL — the driver sorts columns by name and hashes values.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opentelemetry_collector_spark.operators.aggregate import (
    severity_histogram,
    sink_counts,
)
from opentelemetry_collector_spark.operators.enrich import (
    enrich,
    roles_values_sql,
    tools_values_sql,
)
from opentelemetry_collector_spark.operators.parse import parse_oracle_sql, parse_turns
from opentelemetry_collector_spark.severity import ERROR_THRESHOLD
from opentelemetry_collector_spark.operators.route import dead_letter, route, routed_ok
from opentelemetry_collector_spark.operators import aggregate as _agg
from opentelemetry_collector_spark.operators import dedup as _dedup
from opentelemetry_collector_spark.operators import bpe as _bpe
from opentelemetry_collector_spark.operators import sketch as _sk
from opentelemetry_collector_spark.operators import quality as _qual
from opentelemetry_collector_spark.operators import quantile as _qtl
from opentelemetry_collector_spark.operators import bloom as _bloom
from opentelemetry_collector_spark.operators import sampling as _samp
from opentelemetry_collector_spark.operators.asof import (
    asof_oracle_sql,
    q_asof_enrich,
)
from opentelemetry_collector_spark.operators import grok as _grok
from opentelemetry_collector_spark.operators.grok import grok_parse as _grok_parse
from opentelemetry_collector_spark.operators import metrics as _met
from opentelemetry_collector_spark.operators import traces as _tr
from opentelemetry_collector_spark.operators import similarity as _sim
from opentelemetry_collector_spark.operators import textstats as _ts
from opentelemetry_collector_spark.operators import training as _train
from opentelemetry_collector_spark.sources.transcripts import (
    TRANSCRIPTS_FROM_EVENTS_SQL,
    events_to_transcripts,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

_PARSED_COLS = [
    "conv_id",
    "turn_idx",
    "role",
    "tool",
    "ts",
    "severity_text",
    "severity_number",
    "parsed_tool",
    "trace_id",
    "span_id",
    "dur_ms",
    "status",
    "attributes_json",
    "body",
]

# Shared oracle CTE prefix: transcripts -> parsed -> enriched -> routed.
_ORACLE_BASE = f"""WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL}),
parsed AS ({parse_oracle_sql('transcripts')}),
{roles_values_sql()},
{tools_values_sql()},
enriched AS (
    SELECT p.*,
        coalesce(r.role_kind, 'unknown') AS role_kind,
        r.is_human,
        cast(r.priority AS int) AS priority,
        CASE WHEN p.parsed_tool IS NULL THEN 'none'
             ELSE coalesce(t.tool_family, 'unknown') END AS tool_family,
        cast(t.timeout_ms AS int) AS timeout_ms,
        t.deprecated
    FROM parsed p
    LEFT JOIN roles r ON p.role = r.role
    LEFT JOIN tools t ON p.parsed_tool = t.tool
),
routed AS (
    SELECT *,
        CASE WHEN text IS NULL OR text = '' THEN 'empty_text'
             WHEN severity_text IS NOT NULL AND severity_number IS NULL
                 THEN 'unknown_severity'
        END AS error_reason,
        CASE WHEN (text IS NOT NULL AND text <> '')
                  AND NOT (severity_text IS NOT NULL AND severity_number IS NULL)
             THEN role || '/' || tool_family END AS sink_id
    FROM enriched
)"""

_ENRICHED_COLS = _PARSED_COLS + [
    "role_kind",
    "is_human",
    "priority",
    "tool_family",
    "timeout_ms",
    "deprecated",
]
_ROUTED_COLS = _ENRICHED_COLS + ["error_reason", "sink_id"]


def _normalize_enriched(df: DataFrame) -> DataFrame:
    # align lookup int widths with the oracle's int32
    return df.withColumn("priority", F.col("priority").cast("int")).withColumn(
        "timeout_ms", F.col("timeout_ms").cast("int")
    )


def _routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = events_to_transcripts(spark, sf_dir)
    return _normalize_enriched(route(enrich(parse_turns(t), spark)))


# --- query callables -------------------------------------------------------


def q_transcripts_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events_to_transcripts(spark, sf_dir)


def q_parse_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    return parse_turns(events_to_transcripts(spark, sf_dir)).select(*_PARSED_COLS)


def q_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = enrich(parse_turns(events_to_transcripts(spark, sf_dir)), spark)
    return _normalize_enriched(df).select(*_ENRICHED_COLS)


def q_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _routed(spark, sf_dir).select(*_ROUTED_COLS)


def q_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dead_letter(_routed(spark, sf_dir)).select(
        "conv_id", "turn_idx", "role", "error_reason", "body"
    )


def q_sink_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sink_counts(routed_ok(_routed(spark, sf_dir)))


def q_severity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return severity_histogram(
        parse_turns(events_to_transcripts(spark, sf_dir))
    )


def q_log_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from opentelemetry_collector_spark.operators.aggregate import log_dedup

    return log_dedup(_parsed(spark, sf_dir))


def q_count_conservation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-conservation invariant (batch_processor_test.go:39-79 analog):
    total == routed_ok + dead_letter, per-sink breakdown included.
    """
    routed = _routed(spark, sf_dir)
    return routed.groupBy(
        F.coalesce("sink_id", F.lit("dead_letter")).alias("sink")
    ).agg(F.count(F.lit(1)).alias("n_rows"))


def q_turn_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable turn ordering + inter-turn gap — Window.partitionBy(conv_id)
    .orderBy(turn_idx) (SURVEY §2.8: the collector gets slice order free).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = events_to_transcripts(spark, sf_dir)
    return t.select(
        "conv_id",
        "turn_idx",
        F.row_number().over(w).alias("rn"),
        (
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
        ).cast("long").alias("gap_s"),
    )


TOOL_SPANS_TOPK = 3
TOOL_SPANS_SALTS = 64


def q_tool_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span extraction + per-tool top-3 by duration — the tool-call span
    analog (pdata/ptrace/generated_span.go:58-131).

    Two-phase top-k: ``parsed_tool`` has ~5 distinct values, so a single
    ``row_number`` window over it funnels EVERY span into <=5 reducer
    tasks — at 100 TB five tasks own the whole dataset. Phase 1 ranks
    within (parsed_tool, salt) — 5x64 well-spread keys — and keeps <=k
    rows per salted group; phase 2 ranks the <=5*64*k survivors globally
    per tool. The top-k per tool is contained in the union of per-salt
    top-ks, and (dur_ms desc, trace_id) is a total order (trace_id is
    unique per turn), so the result is row-identical to the one-phase
    window the oracle runs.
    """
    from pyspark.sql.window import Window

    parsed = parse_turns(events_to_transcripts(spark, sf_dir))
    spans = parsed.filter(F.col("trace_id").isNotNull()).select(
        "parsed_tool", "trace_id", "span_id", "dur_ms"
    )
    order = (F.col("dur_ms").desc(), F.col("trace_id"))
    w_local = Window.partitionBy("parsed_tool", "salt").orderBy(*order)
    survivors = (
        spans.withColumn(
            "salt", F.pmod(F.xxhash64("trace_id"), F.lit(TOOL_SPANS_SALTS))
        )
        .withColumn("rk", F.row_number().over(w_local))
        .filter(F.col("rk") <= TOOL_SPANS_TOPK)
        .drop("rk", "salt")
    )
    w_global = Window.partitionBy("parsed_tool").orderBy(*order)
    return (
        survivors.withColumn("rk", F.row_number().over(w_global))
        .filter(F.col("rk") <= TOOL_SPANS_TOPK)
        .select("parsed_tool", "trace_id", "span_id", "dur_ms", "rk")
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: a new session starts when the inter-turn gap exceeds
    600s (grouping/temporality semantics from docs/processing.md:33-91 —
    the one 'metric generation' shape the transcript domain needs). Window
    lag -> break flag -> running sum; no extra shuffle beyond the per-conv
    window (partitioned by conv_id, the table's bucket key)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = events_to_transcripts(spark, sf_dir)
    gapped = t.select(
        "conv_id",
        "turn_idx",
        (
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
        ).alias("gap_s"),
    )
    return gapped.select(
        "conv_id",
        "turn_idx",
        F.sum(F.when(F.col("gap_s") > 600, 1).otherwise(0))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("int")
        .alias("session_idx"),
    )


def q_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tool span duration stats over extracted tool-call spans — the
    span-analytics surface (pdata/ptrace/generated_span.go:58-149 fields)."""
    parsed = parse_turns(events_to_transcripts(spark, sf_dir))
    return (
        parsed.filter(F.col("trace_id").isNotNull())
        .groupBy(F.col("parsed_tool").alias("tool"))
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum("dur_ms").alias("total_dur_ms"),
            F.max("dur_ms").alias("max_dur_ms"),
            F.round(F.avg("dur_ms"), 4).alias("avg_dur_ms"),
        )
    )


def q_sink_counts_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sink counts with subtotals (ROLLUP role -> role,tool_family):
    the hierarchical form of the exporter sent-counters."""
    routed = routed_ok(_routed(spark, sf_dir))
    return (
        routed.rollup(
            F.col("role").alias("sink_role"),
            F.col("tool_family").alias("sink_tool"),
        )
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def _parsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return parse_turns(events_to_transcripts(spark, sf_dir))


def q_nested_attributes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested attribute values canonicalized COLUMN-side — the map/slice
    arm of pcommon.Value (pdata/pcommon/value.go:31-40) flowing through
    functions.values.json_value/attributes_json_typed: per conversation,
    ``durs`` is an array<long> attribute (sorted span durations) and
    ``tools`` a map<string,long> attribute (per-tool span counts), both
    rendered into one canonical sorted-key attributes_json string by pure
    Column expressions (byte-identical to the Python wire twin,
    tests/test_protobuf.py).

    Scale shape: two stacked partial-agg groupBys — (conv_id, parsed_tool)
    then conv_id, the table bucket key — no join, no window, no UDF.
    """
    from opentelemetry_collector_spark.functions.values import (
        attributes_json_typed,
    )

    spans = _parsed(spark, sf_dir).filter(F.col("trace_id").isNotNull())
    per_tool = spans.groupBy("conv_id", "parsed_tool").agg(
        F.count(F.lit(1)).alias("c"),
        F.collect_list("dur_ms").alias("durs_t"),
    )
    nested = per_tool.groupBy("conv_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("parsed_tool", "c"))
        ).alias("tools"),
        F.sort_array(F.flatten(F.collect_list("durs_t"))).alias("durs"),
    )
    return nested.select(
        "conv_id",
        attributes_json_typed(
            {
                "durs": (F.col("durs"), ("array", "int")),
                "tools": (F.col("tools"), ("map", "int")),
            }
        ).alias("attributes_json"),
    )


# --- metrics-signal queries (pmetric analog; operators/metrics.py) ----------

def q_metrics_gauge_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _met.gauge_last(_parsed(spark, sf_dir))


def q_metrics_sum_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _met.sum_delta_to_cumulative(_parsed(spark, sf_dir))


def q_metrics_sum_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _met.sum_cumulative_to_delta(_parsed(spark, sf_dir))


def q_metrics_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _met.histogram_explicit(_parsed(spark, sf_dir))


def q_metrics_exp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _met.exp_histogram(_parsed(spark, sf_dir))


def q_metrics_exp_histogram_neg1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarser grid (scale -1, base 4) — exact integer mapping path."""
    return _met.exp_histogram(_parsed(spark, sf_dir), scale=-1)


def q_metrics_exp_histogram_s2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finer grid (scale 2, base 2^(1/4)) — the documented float path."""
    return _met.exp_histogram(_parsed(spark, sf_dir), scale=2)


def q_span_red_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _met.span_red_metrics(_parsed(spark, sf_dir))


def q_metrics_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _met.summary_quantiles(_parsed(spark, sf_dir))


def q_histogram_exemplars(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _met.histogram_exemplars(_parsed(spark, sf_dir))


TRANSFORM_DEMO_STATEMENTS = [
    # PII masking (attributesprocessor hash action analog)
    {"op": "hash", "field": "conv_id"},
    # resource enrichment: constant attribute upsert
    {"op": "set_attribute", "key": "env", "expr": "'prod'"},
    # drop a noisy attribute on the happy path
    {"op": "delete_attribute", "key": "status", "where": "status = 'OK'"},
    # field mutation with a condition
    {"op": "set", "field": "role", "expr": "upper(role)",
     "where": "severity_number >= 17"},
    # LogRecordFlags bit ops (log_record_flags.go): mark sampled spans,
    # flag high severity, then clear the severity bit on the happy path
    {"op": "set", "field": "flags", "expr": "cast(0 AS int)"},
    {"op": "set_flag", "field": "flags", "mask": 0x01,
     "where": "trace_id IS NOT NULL"},
    {"op": "set_flag", "field": "flags", "mask": 0x02,
     "where": "severity_number >= 17"},
    {"op": "clear_flag", "field": "flags", "mask": 0x02,
     "where": "status = 'OK'"},
    # filter processor: drop system turns
    {"op": "drop", "where": "role = 'system'"},
]


def q_transform_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative transform/filter statements over parsed turns
    (operators/transform.py; telemetry-mutation semantics)."""
    from opentelemetry_collector_spark.operators.transform import (
        compile_statements,
    )

    out = compile_statements(TRANSFORM_DEMO_STATEMENTS)(
        _parsed(spark, sf_dir)
    )
    return out.select(
        F.col("conv_id").alias("conv_hash"),
        "turn_idx",
        "role",
        "severity_number",
        "flags",
        "attributes_json",
    )


# --- trace-signal queries (ptrace analog; operators/traces.py) --------------

def q_span_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span Events exploded to one row each (generated_span.go:97-105):
    call_started / call_ended per tool span plus an error event on failed
    calls, with TraceState carried through."""
    from opentelemetry_collector_spark.operators.observe import build_spans

    spans = build_spans(_parsed(spark, sf_dir))
    return spans.select(
        "conv_id",
        "turn_idx",
        "trace_id",
        "span_id",
        "trace_state",
        F.explode("events").alias("e"),
    ).select(
        "conv_id", "turn_idx", "trace_id", "span_id", "trace_state",
        F.col("e.name").alias("event_name"),
        F.col("e.time_unix_micros").alias("event_time_unix_micros"),
        F.col("e.attributes_json").alias("event_attributes_json"),
    )


def q_span_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span Links exploded (generated_span.go:107-115): each span links to
    the previous span of its conversation."""
    from opentelemetry_collector_spark.operators.observe import build_spans

    spans = build_spans(_parsed(spark, sf_dir))
    return spans.select(
        "conv_id",
        "turn_idx",
        "trace_id",
        "span_id",
        F.explode("links").alias("l"),
    ).select(
        "conv_id", "turn_idx", "trace_id", "span_id",
        F.col("l.trace_id").alias("linked_trace_id"),
        F.col("l.span_id").alias("linked_span_id"),
        F.col("l.attributes_json").alias("link_attributes_json"),
    )


def q_protobuf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse -> OTLP protobuf LogRecord bytes -> decode. Encode/decode is
    an identity on the parsed-turn columns (tests/test_protobuf.py), so the
    parse_turns oracle checks the full wire round-trip byte path."""
    from opentelemetry_collector_spark.operators import protobuf as _pb

    parsed = parse_turns(events_to_transcripts(spark, sf_dir)).select(*_PARSED_COLS)
    return _pb.from_otlp_protobuf(_pb.to_otlp_protobuf(parsed)).select(*_PARSED_COLS)


def q_otlp_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse -> spec-exact OTLP/JSON ExportLogsServiceRequest text ->
    decode (plogjson marshaler analog; the OTLP/HTTP endpoint's JSON
    content type). Identity on the parsed columns, same oracle as the
    protobuf document round trip."""
    from opentelemetry_collector_spark.operators import protobuf as _pb

    parsed = parse_turns(events_to_transcripts(spark, sf_dir)).select(*_PARSED_COLS)
    return _pb.from_otlp_request_json(
        _pb.to_otlp_request_json(parsed)
    ).select(*_PARSED_COLS)


def q_otlp_span_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse -> build_spans -> spec-exact OTLP/JSON ExportTraceServiceRequest
    text -> receiver-side unmarshal+flatten (ptracejson marshaler analog,
    pdata/ptrace/json.go:29-42) -> Span Events exploded. Identity on the
    build_spans schema, so the span_events oracle checks the full JSON wire
    path (ids as hex, fixed64 nanos as strings, enum kinds as ints)."""
    from opentelemetry_collector_spark.operators import protobuf as _pb

    parsed = parse_turns(events_to_transcripts(spark, sf_dir)).select(*_PARSED_COLS)
    spans = _pb.from_otlp_trace_json(_pb.to_otlp_trace_json(parsed))
    return spans.select(
        "conv_id",
        "turn_idx",
        "trace_id",
        "span_id",
        "trace_state",
        F.explode("events").alias("e"),
    ).select(
        "conv_id", "turn_idx", "trace_id", "span_id", "trace_state",
        F.col("e.name").alias("event_name"),
        F.col("e.time_unix_micros").alias("event_time_unix_micros"),
        F.col("e.attributes_json").alias("event_attributes_json"),
    )


def q_otlp_metric_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """histogram_explicit -> spec-exact OTLP/JSON ExportMetricsServiceRequest
    text (pmetricjson marshaler analog, pdata/pmetric/json.go:29-42;
    fixed64 count / bucketCounts as decimal strings) -> unmarshal back to
    the exact histogram columns — the metrics_histogram oracle gates the
    JSON metric wire end-to-end."""
    from opentelemetry_collector_spark.operators import protobuf as _pb

    parsed = _parsed(spark, sf_dir)
    return _pb.from_otlp_metric_json(_pb.to_otlp_metric_json(parsed))


def q_otlp_partial_success(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-request partial-success counts off the JSON wire: parse ->
    OTLP/JSON request per conversation -> receiver-side accept/reject
    (otlpreceiver Export -> ExportPartialSuccess; plogotlp/response.go).
    The oracle recomputes accepted/rejected from the reject predicates
    directly (unmappable severity = severity_number NULL with non-empty
    text), so the whole encode -> unmarshal -> classify -> count path is
    value-hash gated."""
    from opentelemetry_collector_spark.operators import protobuf as _pb

    parsed = parse_turns(events_to_transcripts(spark, sf_dir)).select(*_PARSED_COLS)
    resp = _pb.otlp_ingest_response_json(_pb.to_otlp_request_json(parsed))
    return resp.select("conv_id", "accepted", "rejected")


def q_protobuf_document_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse -> one ExportLogsServiceRequest per conversation (Resource ->
    Scope -> LogRecord[] nesting) -> receiver-side unmarshal+flatten."""
    from opentelemetry_collector_spark.operators import protobuf as _pb

    parsed = parse_turns(events_to_transcripts(spark, sf_dir)).select(*_PARSED_COLS)
    return _pb.from_otlp_request_protobuf(
        _pb.to_otlp_request_protobuf(parsed)
    ).select(*_PARSED_COLS)


def q_staleness_markers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _met.staleness_markers(_parsed(spark, sf_dir))


def q_trace_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tr.trace_rollup(_parsed(spark, sf_dir))


def q_tail_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tr.tail_sampling(_parsed(spark, sf_dir))


def q_tail_sampling_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tr.tail_sampling(_parsed(spark, sf_dir), composite=True)


def q_span_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tr.span_edges(_parsed(spark, sf_dir))


def q_probabilistic_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tr.probabilistic_sampler(_parsed(spark, sf_dir))


def q_metrics_sum_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _met.sum_delta_to_rate(_parsed(spark, sf_dir))


REDACTION_STATEMENTS = [
    # mask raw trace ids everywhere (32-hex tokens in the body)
    {"op": "redact", "field": "body", "pattern": "[0-9a-f]{32}",
     "replacement": "[TRACE_ID]"},
    # mask payload identifiers, but only on tool turns
    {"op": "redact", "field": "body", "pattern": "payload-[0-9]+",
     "replacement": "payload-[N]", "where": "role = 'tool'"},
]


def q_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redaction-processor pattern: regex PII masking as transform
    statements (global regexp_replace, conditional second pass)."""
    from opentelemetry_collector_spark.operators.transform import (
        compile_statements,
    )

    parsed = _parsed(spark, sf_dir)
    return compile_statements(REDACTION_STATEMENTS)(parsed).select(
        "conv_id", "turn_idx", "role", "body"
    )


_PARSED_CTE = f"""WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL}),
parsed AS ({parse_oracle_sql('transcripts')})"""


PIPELINE_QUERIES: dict[str, QueryFn] = {
    "transcripts_source": q_transcripts_source,
    "parse_turns": q_parse_turns,
    "enrich": q_enrich,
    "route": q_route,
    "dead_letter": q_dead_letter,
    "sink_counts": q_sink_counts,
    "severity_histogram": q_severity_histogram,
    "log_dedup": q_log_dedup,
    "count_conservation": q_count_conservation,
    "turn_ordering": q_turn_ordering,
    "tool_spans": q_tool_spans,
    "sessionize": q_sessionize,
    "span_stats": q_span_stats,
    "nested_attributes": q_nested_attributes,
    "sink_counts_rollup": q_sink_counts_rollup,
    "asof_enrich": q_asof_enrich,
    # grok pattern-library parse (one ordered RLIKE CASE + per-field
    # regexp_extract CASEs, all SQL); oracle = the same ordered CASE in
    # DuckDB (GROK_ORACLE_BODY); native-parse agreement is additionally
    # pytest-gated (tests/test_grok.py)
    "grok_parse": lambda spark, sf_dir: _grok_parse(
        events_to_transcripts(spark, sf_dir)
    ),
    "transform_pipeline": q_transform_pipeline,
    "protobuf_roundtrip": q_protobuf_roundtrip,
    "otlp_json_roundtrip": q_otlp_json_roundtrip,
    "otlp_span_json_roundtrip": q_otlp_span_json_roundtrip,
    "otlp_metric_json_roundtrip": q_otlp_metric_json_roundtrip,
    "otlp_partial_success": q_otlp_partial_success,
    "protobuf_document_roundtrip": q_protobuf_document_roundtrip,
    "span_events": q_span_events,
    "span_links": q_span_links,
    "metrics_gauge_last": q_metrics_gauge_last,
    "metrics_sum_cumulative": q_metrics_sum_cumulative,
    "metrics_sum_delta": q_metrics_sum_delta,
    "metrics_histogram": q_metrics_histogram,
    "metrics_exp_histogram": q_metrics_exp_histogram,
    "metrics_exp_histogram_neg1": q_metrics_exp_histogram_neg1,
    "metrics_exp_histogram_s2": q_metrics_exp_histogram_s2,
    "span_red_metrics": q_span_red_metrics,
    "metrics_summary": q_metrics_summary,
    # metrics_summary_approx is deliberately NOT registered: the t-digest
    # sketch (engine.approxQuantiles) is not bit-reproducible in DuckDB, so
    # a driver oracle slot would permanently record `err: no_oracle`
    # (VERDICT r04 task 3). Its contract — closeness to the exact twin
    # above — is gated by tests/test_metrics_traces.py instead.
    "histogram_exemplars": q_histogram_exemplars,
    "staleness_markers": q_staleness_markers,
    "trace_rollup": q_trace_rollup,
    "tail_sampling": q_tail_sampling,
    "tail_sampling_composite": q_tail_sampling_composite,
    "span_edges": q_span_edges,
    "probabilistic_sampler": q_probabilistic_sampler,
    "metrics_sum_rate": q_metrics_sum_rate,
    "redaction": q_redaction,
    "sft_loss_mask": _train.sft_loss_mask,
    "conversation_pack": _train.conversation_pack,
}

# --- training-data-pipeline operators (documents / embeddings tables) ------

DOCS_QUERIES: dict[str, QueryFn] = {
    "doc_tokens": _ts.doc_tokens,
    "doc_quality": _ts.doc_quality,
    "doc_langid": _ts.doc_langid,
    "doc_fingerprint": _ts.doc_fingerprint,
    "dedup_exact": _dedup.dedup_exact,
    "dedup_minhash_pairs": _dedup.dedup_minhash_pairs,
    "ann_cosine_topk": _sim.ann_cosine_topk,
    "ann_ivf_topk": _sim.ann_ivf_topk,
    # performance-path twin of ann_cosine_topk (Arrow/numpy matmul). Both
    # sides normalize in float64 and round the cosine to 6 dp, which
    # absorbs the ~1e-13 summation-order difference between the numpy
    # matmul and the SQL fold — so it shares ann_cosine_topk's oracle.
    "ann_cosine_topk_pandas": _sim.cosine_topk_pandas,
    "corpus_curation": _ts.corpus_curation,
    "doc_split": _ts.doc_split,
    "corpus_sample": _ts.corpus_sample,
    "doc_repetition": _ts.doc_repetition,
    "contamination_tag": _ts.contamination_tag,
    "dedup_clusters": _dedup.dedup_clusters,
    "dedup_substring_spans": _dedup.dedup_substring_spans,
    "dedup_substring_excise": _dedup.dedup_substring_excise,
    "doc_tfidf_topk": _ts.doc_tfidf_topk,
    "doc_unigram_ll": _ts.doc_unigram_ll,
    "vocab_topk": _ts.vocab_topk,
    "corpus_pack": _ts.corpus_pack,
    "embedding_quantize": _sim.embedding_quantize,
    "embedding_kmeans": _sim.embedding_kmeans,
    "cluster_balanced_sample": _sim.cluster_balanced_sample,
    "semdedup_pairs": _sim.semdedup_pairs,
    "semdedup_ivf_pairs": _sim.semdedup_ivf_pairs,
    "semdedup": _sim.semdedup,
    "doc_gopher_rules": _qual.doc_gopher_rules,
    "doc_normalize": _qual.doc_normalize,
    "corpus_mix": _qual.corpus_mix,
    "dsir_weights": _qual.dsir_weights,
    "doc_chunk": _qual.doc_chunk,
    "doc_split_leakage_safe": _qual.doc_split_leakage_safe,
    "embedding_pq": _sim.embedding_pq,
    "ann_pq_topk": _sim.ann_pq_topk,
    "doc_entropy": _qual.doc_entropy,
    "bpe_train": _bpe.bpe_train,
    "bpe_encode": _bpe.bpe_encode,
    "dedup_paragraphs": _dedup.dedup_paragraphs,
    "ann_mmr_topk": _sim.ann_mmr_topk,
    "cms_heavy_hitters": _sk.cms_heavy_hitters,
    "hll_distinct": _sk.hll_distinct,
    "doc_length_quantiles": _qtl.doc_length_quantiles,
    "bloom_fingerprints": _bloom.bloom_fingerprints,
    "corpus_priority_sample": _samp.corpus_priority_sample,
    "corpus_ppl_buckets": _qual.corpus_ppl_buckets,
    "ann_recall": _sim.ann_recall,
    "corpus_shuffle": _samp.corpus_shuffle,
    "corpus_interleave": _samp.corpus_interleave,
}

DOCS_ORACLES: dict[str, str] = {
    "doc_tokens": _ts.DOC_TOKENS_ORACLE,
    "doc_quality": _ts.DOC_QUALITY_ORACLE,
    "doc_langid": _ts.DOC_LANGID_ORACLE,
    "doc_fingerprint": _ts.DOC_FINGERPRINT_ORACLE,
    "dedup_exact": _dedup.DEDUP_EXACT_ORACLE,
    "dedup_minhash_pairs": _dedup.DEDUP_MINHASH_ORACLE,
    "ann_cosine_topk": _sim.ANN_TOPK_ORACLE,
    "ann_cosine_topk_pandas": _sim.ANN_TOPK_ORACLE,
    "ann_ivf_topk": _sim.ANN_IVF_ORACLE,
    "corpus_curation": _ts.CORPUS_CURATION_ORACLE,
    "doc_split": _ts.DOC_SPLIT_ORACLE,
    "corpus_sample": _ts.CORPUS_SAMPLE_ORACLE,
    "doc_repetition": _ts.DOC_REPETITION_ORACLE,
    "contamination_tag": _ts.CONTAMINATION_ORACLE,
    "dedup_clusters": _dedup.DEDUP_CLUSTERS_ORACLE,
    "dedup_substring_spans": _dedup.DEDUP_SUBSTRING_ORACLE,
    "dedup_substring_excise": _dedup.DEDUP_EXCISE_ORACLE,
    "doc_tfidf_topk": _ts.DOC_TFIDF_ORACLE,
    "doc_unigram_ll": _ts.DOC_UNIGRAM_LL_ORACLE,
    "vocab_topk": _ts.VOCAB_TOPK_ORACLE,
    "corpus_pack": _ts.CORPUS_PACK_ORACLE,
    "embedding_quantize": _sim.EMBEDDING_QUANTIZE_ORACLE,
    "embedding_kmeans": _sim.EMBEDDING_KMEANS_ORACLE,
    "cluster_balanced_sample": _sim.CLUSTER_SAMPLE_ORACLE,
    "semdedup_pairs": _sim.SEMDEDUP_PAIRS_ORACLE,
    "semdedup_ivf_pairs": _sim.SEMDEDUP_IVF_ORACLE,
    "semdedup": _sim.SEMDEDUP_ORACLE,
    "doc_gopher_rules": _qual.DOC_GOPHER_ORACLE,
    "doc_normalize": _qual.DOC_NORMALIZE_ORACLE,
    "corpus_mix": _qual.CORPUS_MIX_ORACLE,
    "dsir_weights": _qual.DSIR_ORACLE,
    "doc_chunk": _qual.DOC_CHUNK_ORACLE,
    "doc_split_leakage_safe": _qual.DOC_SPLIT_LEAKAGE_SAFE_ORACLE,
    "embedding_pq": _sim.EMBEDDING_PQ_ORACLE,
    "ann_pq_topk": _sim.ANN_PQ_ORACLE,
    "doc_entropy": _qual.DOC_ENTROPY_ORACLE,
    "bpe_train": _bpe.BPE_TRAIN_ORACLE,
    "bpe_encode": _bpe.BPE_ENCODE_ORACLE,
    "dedup_paragraphs": _dedup.DEDUP_PARAGRAPHS_ORACLE,
    "ann_mmr_topk": _sim.ANN_MMR_ORACLE,
    "cms_heavy_hitters": _sk.CMS_ORACLE,
    "hll_distinct": _sk.HLL_ORACLE,
    "doc_length_quantiles": _qtl.LOG_QUANTILES_ORACLE,
    "bloom_fingerprints": _bloom.BLOOM_ORACLE,
    "corpus_priority_sample": _samp.PRIORITY_SAMPLE_ORACLE,
    "corpus_ppl_buckets": _qual.PPL_BUCKETS_ORACLE,
    "ann_recall": _sim.ANN_RECALL_ORACLE,
    "corpus_shuffle": _samp.SHUFFLE_ORACLE,
    "corpus_interleave": _samp.INTERLEAVE_ORACLE,
}

PIPELINE_ORACLES: dict[str, str] = {
    "transcripts_source": TRANSCRIPTS_FROM_EVENTS_SQL,
    "parse_turns": f"""WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL})
SELECT {', '.join(_PARSED_COLS)} FROM ({parse_oracle_sql('transcripts')}) q""",
    # wire round-trips are identities on the parsed columns, so the parse
    # oracle doubles as the protobuf-codec oracle (any codec bug breaks hash)
    "protobuf_roundtrip": f"""WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL})
SELECT {', '.join(_PARSED_COLS)} FROM ({parse_oracle_sql('transcripts')}) q""",
    "protobuf_document_roundtrip": f"""WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL})
SELECT {', '.join(_PARSED_COLS)} FROM ({parse_oracle_sql('transcripts')}) q""",
    "otlp_json_roundtrip": f"""WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL})
SELECT {', '.join(_PARSED_COLS)} FROM ({parse_oracle_sql('transcripts')}) q""",
    "enrich": f"""{_ORACLE_BASE}
SELECT {', '.join(_ENRICHED_COLS)} FROM enriched""",
    "route": f"""{_ORACLE_BASE}
SELECT {', '.join(_ROUTED_COLS)} FROM routed""",
    "dead_letter": f"""{_ORACLE_BASE}
SELECT conv_id, turn_idx, role, error_reason, body FROM routed
WHERE error_reason IS NOT NULL""",
    "sink_counts": f"""{_ORACLE_BASE}
SELECT
    cast(floor(epoch(ts)/300)*300 AS bigint) AS bucket_start_epoch,
    role AS sink_role,
    tool_family AS sink_tool,
    count(*) AS n_rows,
    count(*) FILTER (WHERE severity_number >= {ERROR_THRESHOLD}) AS n_error_severity
FROM routed WHERE error_reason IS NULL
GROUP BY 1, 2, 3""",
    "severity_histogram": f"""WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL}),
parsed AS ({parse_oracle_sql('transcripts')})
SELECT severity_number, severity_text, count(*) AS n_rows
FROM parsed GROUP BY 1, 2""",
    "count_conservation": f"""{_ORACLE_BASE}
SELECT coalesce(sink_id, 'dead_letter') AS sink, count(*) AS n_rows
FROM routed GROUP BY 1""",
    "turn_ordering": f"""WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL})
SELECT conv_id, turn_idx,
    cast(row_number() OVER w AS int) AS rn,
    cast(floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) AS bigint) AS gap_s
FROM transcripts
WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)""",
    "tool_spans": f"""WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL}),
parsed AS ({parse_oracle_sql('transcripts')})
SELECT parsed_tool, trace_id, span_id, dur_ms, rk FROM (
    SELECT parsed_tool, trace_id, span_id, dur_ms,
        cast(row_number() OVER (PARTITION BY parsed_tool
            ORDER BY dur_ms DESC, trace_id) AS int) AS rk
    FROM parsed WHERE trace_id IS NOT NULL
) q WHERE rk <= 3""",
    "sessionize": f"""WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL})
SELECT conv_id, turn_idx,
    cast(sum(CASE WHEN gap_s > 600 THEN 1 ELSE 0 END) OVER (
        PARTITION BY conv_id ORDER BY turn_idx
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS int) AS session_idx
FROM (
    SELECT conv_id, turn_idx,
        floor(epoch(ts)) - floor(epoch(lag(ts) OVER (
            PARTITION BY conv_id ORDER BY turn_idx))) AS gap_s
    FROM transcripts
) g""",
    "nested_attributes": f"""{_PARSED_CTE},
spans AS (
    SELECT conv_id, parsed_tool, dur_ms FROM parsed
    WHERE trace_id IS NOT NULL
),
counts AS (
    SELECT conv_id, parsed_tool, count(*) AS c FROM spans GROUP BY 1, 2
),
tools AS (
    SELECT conv_id,
        '{{' || string_agg('"' || parsed_tool || '": ' || c, ', '
                           ORDER BY parsed_tool) || '}}' AS tools_json
    FROM counts GROUP BY 1
),
durs AS (
    SELECT conv_id,
        '[' || string_agg(cast(dur_ms AS VARCHAR), ', '
                          ORDER BY dur_ms) || ']' AS durs_json
    FROM spans GROUP BY 1
)
SELECT d.conv_id,
    '{{"durs": ' || d.durs_json || ', "tools": ' || t.tools_json || '}}'
        AS attributes_json
FROM durs d JOIN tools t ON d.conv_id = t.conv_id""",
    "span_stats": f"""WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL}),
parsed AS ({parse_oracle_sql('transcripts')})
SELECT parsed_tool AS tool,
    count(*) AS n_spans,
    cast(sum(dur_ms) AS BIGINT) AS total_dur_ms,
    max(dur_ms) AS max_dur_ms,
    round(avg(dur_ms), 4) AS avg_dur_ms
FROM parsed WHERE trace_id IS NOT NULL
GROUP BY 1""",
    "sink_counts_rollup": f"""{_ORACLE_BASE}
SELECT role AS sink_role, tool_family AS sink_tool, count(*) AS n_rows
FROM routed WHERE error_reason IS NULL
GROUP BY ROLLUP (sink_role, sink_tool)""",
    "asof_enrich": asof_oracle_sql(
        TRANSCRIPTS_FROM_EVENTS_SQL, parse_oracle_sql("transcripts")
    ),
    # transform statements re-expressed declaratively: hash, env upsert,
    # conditional status delete, conditional role upper-case, system drop
    "transform_pipeline": f"""{_PARSED_CTE}
SELECT conv_hash, turn_idx, role, severity_number, flags, attributes_json FROM (
    SELECT sha256(conv_id) AS conv_hash, turn_idx,
        CASE WHEN severity_number >= 17 THEN upper(role) ELSE role END AS role,
        severity_number,
        cast((CASE WHEN trace_id IS NOT NULL THEN 1 ELSE 0 END)
             | (CASE WHEN severity_number >= 17
                     AND NOT coalesce(status = 'OK', FALSE)
                THEN 2 ELSE 0 END) AS int) AS flags,
        '{{' || concat_ws(', ',
            CASE WHEN dur_ms IS NOT NULL THEN '"dur_ms": ' || cast(dur_ms AS string) END,
            '"env": "prod"',
            CASE WHEN status IS NOT NULL AND status <> 'OK'
                THEN '"status": "' || status || '"' END,
            CASE WHEN parsed_tool IS NOT NULL THEN '"tool": "' || parsed_tool || '"' END
        ) || '}}' AS attributes_json
    FROM parsed
) q WHERE role <> 'system'""",
    "span_events": f"""{_PARSED_CTE},
leadp AS (
    SELECT *, lead(status) OVER w AS next_status,
        lead(role) OVER w AS next_role
    FROM parsed
    WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
),
spans AS (
    SELECT conv_id, turn_idx, trace_id, span_id,
        'otelcol=' || substr(trace_id, 1, 8) AS trace_state,
        epoch_us(ts) AS start_us, epoch_us(ts) + dur_ms * 1000 AS end_us,
        coalesce(status,
                 CASE WHEN next_role = 'tool' THEN next_status END) AS status
    FROM leadp WHERE trace_id IS NOT NULL
)
SELECT conv_id, turn_idx, trace_id, span_id, trace_state,
    'call_started' AS event_name, start_us AS event_time_unix_micros,
    '{{}}' AS event_attributes_json
FROM spans
UNION ALL
SELECT conv_id, turn_idx, trace_id, span_id, trace_state,
    'call_ended', end_us, '{{}}'
FROM spans
UNION ALL
SELECT conv_id, turn_idx, trace_id, span_id, trace_state,
    'error', end_us, '{{"status": "ERROR"}}'
FROM spans WHERE status = 'ERROR'""",
    "span_links": f"""{_PARSED_CTE},
spans AS (
    SELECT conv_id, turn_idx, trace_id, span_id,
        lag(trace_id) OVER w AS linked_trace_id,
        lag(span_id) OVER w AS linked_span_id
    FROM parsed WHERE trace_id IS NOT NULL
    WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
)
SELECT conv_id, turn_idx, trace_id, span_id, linked_trace_id,
    linked_span_id, '{{"link.type": "prev_span"}}' AS link_attributes_json
FROM spans WHERE linked_trace_id IS NOT NULL""",
    "metrics_gauge_last": f"{_PARSED_CTE}\n{_met.GAUGE_LAST_ORACLE_BODY}",
    "metrics_sum_cumulative": f"{_PARSED_CTE}\n{_met.SUM_CUMULATIVE_ORACLE_BODY}",
    "metrics_sum_delta": f"{_PARSED_CTE}{_met.SUM_DELTA_ORACLE_BODY}",
    "metrics_histogram": f"{_PARSED_CTE}\n{_met.histogram_oracle_body()}",
    "metrics_exp_histogram": f"{_PARSED_CTE}\n{_met.EXP_HISTOGRAM_ORACLE_BODY}",
    "metrics_exp_histogram_neg1": f"{_PARSED_CTE}\n{_met.exp_histogram_oracle_body(-1)}",
    "metrics_exp_histogram_s2": f"{_PARSED_CTE}\n{_met.exp_histogram_oracle_body(2)}",
    "span_red_metrics": f"{_PARSED_CTE}\n{_met.span_red_oracle_body()}",
    "metrics_summary": f"{_PARSED_CTE}\n{_met.SUMMARY_ORACLE_BODY}",
    "histogram_exemplars": f"{_PARSED_CTE}\n{_met.exemplars_oracle_body()}",
    "log_dedup": f"{_PARSED_CTE}\n{_agg.LOG_DEDUP_ORACLE_BODY}",
    "staleness_markers": f"{_PARSED_CTE}\n{_met.staleness_oracle_body()}",
    "trace_rollup": f"{_PARSED_CTE}\n{_tr.TRACE_ROLLUP_ORACLE_BODY}",
    "tail_sampling": f"{_PARSED_CTE}\n{_tr.tail_sampling_oracle_body()}",
    "tail_sampling_composite": (
        f"{_PARSED_CTE}\n{_tr.tail_sampling_oracle_body(composite=True)}"
    ),
    "span_edges": f"{_PARSED_CTE}\n{_tr.SPAN_EDGES_ORACLE_BODY}",
    "probabilistic_sampler": (
        f"{_PARSED_CTE}\n{_tr.probabilistic_sampler_oracle_body()}"
    ),
    "metrics_sum_rate": f"{_PARSED_CTE}\n{_met.SUM_RATE_ORACLE_BODY}",
    # plain concatenation: the {32} quantifier would be eaten by f-strings
    "redaction": (
        _PARSED_CTE
        + """
SELECT conv_id, turn_idx, role,
    CASE WHEN role = 'tool'
         THEN regexp_replace(b1, 'payload-[0-9]+', 'payload-[N]', 'g')
         ELSE b1 END AS body
FROM (
    SELECT conv_id, turn_idx, role,
        regexp_replace(body, '[0-9a-f]{32}', '[TRACE_ID]', 'g') AS b1
    FROM parsed
) q"""
    ),
    # plain concatenation (not f-string): the grok regexes carry {32}/{16}
    # quantifiers that f-string interpolation would eat
    "grok_parse": (
        "WITH transcripts AS ("
        + TRANSCRIPTS_FROM_EVENTS_SQL
        + ")\n"
        + _grok.GROK_ORACLE_BODY
    ),
    # the transcript-native training ops ship their oracles in-module,
    # written against a `transcripts` view
    "sft_loss_mask": f"""WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL})
{_train.SFT_LOSS_MASK_ORACLE}""",
    "conversation_pack": f"""WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL})
{_train.CONVERSATION_PACK_ORACLE}""",
}

# The OTLP/JSON wire round-trips are identities on their operators' outputs,
# so the existing span-events / histogram oracles gate the JSON trace and
# metric codecs end-to-end (any hex/string-int/enum encoding bug breaks hash).
PIPELINE_ORACLES["otlp_partial_success"] = f"""{_PARSED_CTE}
SELECT conv_id,
    cast(count(*) - sum(CASE WHEN severity_number IS NULL
                             AND severity_text IS NOT NULL
                        THEN 1 ELSE 0 END) AS int) AS accepted,
    cast(sum(CASE WHEN severity_number IS NULL AND severity_text IS NOT NULL
             THEN 1 ELSE 0 END) AS int) AS rejected
FROM parsed GROUP BY conv_id"""

PIPELINE_ORACLES["otlp_span_json_roundtrip"] = PIPELINE_ORACLES["span_events"]
PIPELINE_ORACLES["otlp_metric_json_roundtrip"] = PIPELINE_ORACLES[
    "metrics_histogram"
]
