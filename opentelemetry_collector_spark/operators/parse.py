"""Parse stage — the receiver/processorhelper analog (SURVEY §2.3, §7.3).

Extracts the LogRecord fields (pdata/plog/generated_logrecord.go:34-159) from
the free-text ``text`` column: severity token + 25-level number
(pdata/plog/severity_number.go:21-50), tool-call span fields (trace_id,
span_id, dur_ms — pdata/ptrace/generated_span.go:58-131), status, and a
sorted-key canonical attributes JSON (pcommon.Map analog,
pdata/pcommon/map.go:109-127).

Everything is native ``regexp_extract`` — JVM-side, whole-stage codegen, no
per-row Python (input_hint: "vectorized ... no per-row Python"). Duplicate
markers resolve first-match-wins, mirroring Map upsert semantics
(pdata/pcommon/map.go:121-127). An Arrow ``mapInPandas`` grok variant for
patterns regex-in-SQL can't express lives in operators/grok.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from opentelemetry_collector_spark.functions.values import attributes_json
from opentelemetry_collector_spark.severity import (
    severity_case_sql,
    severity_number_column,
)

# Regex patterns — RE2-compatible so the DuckDB oracle runs the same ones.
SEV_PATTERN = r"^\[([A-Z]+[0-9]?)\] "
TOOL_PATTERN = r"tool=([a-z_]+)"
TRACE_PATTERN = r"trace_id=([0-9a-f]{32})"
SPAN_PATTERN = r"span_id=([0-9a-f]{16})"
DUR_PATTERN = r"dur_ms=([0-9]+)"
STATUS_PATTERN = r"status=(OK|ERROR)"


def parse_turns(transcripts: DataFrame) -> DataFrame:
    """transcripts -> parsed turns (PARSED_SCHEMA). Narrow op: no shuffle.

    Plan shape: each regexp_extract is planned EXACTLY ONCE, staged
    through attribute references. Reusing the Column trees directly (the
    obvious construction) bakes expression-level duplicates into single
    projections — nullif(re, '') copies the regex twice, attributes_json
    embeds the same trees again — and Catalyst's CollapseProject then
    multiplies them further through the downstream single-reference merge
    cascade (measured: 33 regex evaluations/row in the parse projection
    alone, 83 after a 9-statement transform; 6 and ~10 staged). Catalyst
    does NOT inline a non-cheap expression referenced more than once, so
    attribute indirection is the stable way to pin evaluation counts.
    """
    raw = transcripts.withColumns(
        {
            "__sev_raw": F.regexp_extract(F.col("text"), SEV_PATTERN, 1),
            "__tool_raw": F.regexp_extract(F.col("text"), TOOL_PATTERN, 1),
            "__trace_raw": F.regexp_extract(F.col("text"), TRACE_PATTERN, 1),
            "__span_raw": F.regexp_extract(F.col("text"), SPAN_PATTERN, 1),
            "__dur_raw": F.regexp_extract(F.col("text"), DUR_PATTERN, 1),
            "__status_raw": F.regexp_extract(F.col("text"), STATUS_PATTERN, 1),
        }
    )
    # regexp_extract gives '' on no match in Spark and DuckDB: NULL it
    typed = raw.withColumns(
        {
            "severity_text": F.nullif(F.col("__sev_raw"), F.lit("")),
            "parsed_tool": F.nullif(F.col("__tool_raw"), F.lit("")),
            "trace_id": F.nullif(F.col("__trace_raw"), F.lit("")),
            "span_id": F.nullif(F.col("__span_raw"), F.lit("")),
            "dur_ms": F.nullif(F.col("__dur_raw"), F.lit("")).cast("long"),
            "status": F.nullif(F.col("__status_raw"), F.lit("")),
        }
    )
    derived = typed.withColumns(
        {
            "severity_number": severity_number_column(
                F.col("severity_text")
            ).cast("int"),
            "attributes_json": attributes_json(
                {
                    "dur_ms": F.col("dur_ms"),
                    "status": F.col("status"),
                    "tool": F.col("parsed_tool"),
                }
            ),
            "body": F.col("text"),
        }
    )
    # canonical output order (PARSED_SCHEMA) — the withColumns staging
    # above appends in dependency order, not presentation order
    return derived.select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
        "severity_text", "severity_number", "parsed_tool", "trace_id",
        "span_id", "dur_ms", "status", "attributes_json", "body",
    )


def parse_oracle_sql(from_clause: str = "transcripts") -> str:
    """DuckDB SQL computing the identical parsed relation (oracle side)."""
    return f"""
SELECT
    conv_id, turn_idx, role, text, tool, ts,
    severity_text,
    cast(({severity_case_sql('severity_text')}) AS int) AS severity_number,
    parsed_tool,
    trace_id,
    span_id,
    dur_ms,
    status,
    '{{' || concat_ws(', ',
        CASE WHEN dur_ms IS NOT NULL THEN '"dur_ms": ' || cast(dur_ms AS string) END,
        CASE WHEN status IS NOT NULL THEN '"status": "' || status || '"' END,
        CASE WHEN parsed_tool IS NOT NULL THEN '"tool": "' || parsed_tool || '"' END
    ) || '}}' AS attributes_json,
    text AS body
FROM (
    SELECT *,
        nullif(regexp_extract(text, '{SEV_PATTERN}', 1), '') AS severity_text,
        nullif(regexp_extract(text, '{TOOL_PATTERN}', 1), '') AS parsed_tool,
        cast(nullif(regexp_extract(text, '{DUR_PATTERN}', 1), '') AS bigint) AS dur_ms,
        nullif(regexp_extract(text, '{STATUS_PATTERN}', 1), '') AS status,
        nullif(regexp_extract(text, '{TRACE_PATTERN}', 1), '') AS trace_id,
        nullif(regexp_extract(text, '{SPAN_PATTERN}', 1), '') AS span_id
    FROM {from_clause}
) ex
"""
