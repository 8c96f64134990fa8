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
(pdata/pcommon/map.go:121-127). The multi-pattern grok library, tried in
order with one layout claiming each row, lives in operators/grok.py (also
native SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from opentelemetry_collector_spark.functions.values import (
    attributes_json_sql,
    sql_str,
)
from opentelemetry_collector_spark.severity import (
    SEVERITY_NUMBER,
    severity_case_sql,
)

# Regex patterns — RE2-compatible so the DuckDB oracle runs the same ones.
SEV_PATTERN = r"^\[([A-Z]+[0-9]?)\] "
TOOL_PATTERN = r"tool=([a-z_]+)"
TRACE_PATTERN = r"trace_id=([0-9a-f]{32})"
SPAN_PATTERN = r"span_id=([0-9a-f]{16})"
DUR_PATTERN = r"dur_ms=([0-9]+)"
STATUS_PATTERN = r"status=(OK|ERROR)"

# (output column, staging column, pattern), in extraction order
_FIELDS = [
    ("severity_text", "__sev_raw", SEV_PATTERN),
    ("parsed_tool", "__tool_raw", TOOL_PATTERN),
    ("trace_id", "__trace_raw", TRACE_PATTERN),
    ("span_id", "__span_raw", SPAN_PATTERN),
    ("dur_ms", "__dur_raw", DUR_PATTERN),
    ("status", "__status_raw", STATUS_PATTERN),
]

# token -> number as ONE lookup into a constant-folded literal map, not the
# 25-branch CASE: NULL token -> 0, unknown token -> NULL (try_element_at's
# missing key), as severity_case_sql. The expression references the token
# twice instead of 25 times — when Catalyst pushes a severity predicate
# down through this projection it inlines the token's defining regex per
# reference, and the CASE form multiplied it ~25x into every pushed filter.
_SEVERITY_NUMBER_SQL = (
    "CAST(CASE WHEN severity_text IS NULL THEN 0 ELSE try_element_at(map("
    + ", ".join(f"{sql_str(name)}, {num}" for name, num in SEVERITY_NUMBER.items())
    + "), severity_text) END AS INT)"
)


def _staged(df: DataFrame, exprs: dict[str, str]) -> DataFrame:
    return df.withColumns({name: F.expr(sql) for name, sql in exprs.items()})


def parse_turns(transcripts: DataFrame) -> DataFrame:
    """transcripts -> parsed turns (PARSED_SCHEMA). Narrow op: no shuffle.

    Plan shape: each regexp_extract is planned EXACTLY ONCE, staged
    through attribute references. Inlining each regex into every
    expression that reads it (the obvious construction) bakes
    expression-level duplicates into single projections — nullif(re, '')
    copies the regex twice, the attributes JSON embeds the same trees
    again — and Catalyst's CollapseProject then multiplies them further
    through the downstream single-reference merge cascade (measured: 33
    regex evaluations/row in the parse projection alone, 83 after a
    9-statement transform; 6 and ~10 staged). Catalyst does NOT inline a
    non-cheap expression referenced more than once, so attribute
    indirection is the stable way to pin evaluation counts.

    The three staged projections are SQL text, each reading the previous
    stage's columns by name: the raw regex captures, their typed NULL-on-
    no-match forms, then severity_number, attributes_json and body in
    canonical order. Planned from text, parse costs about 100 py4j round
    trips, where building the same plan from PySpark Column calls takes
    ~2,000.
    Literals render through ``sql_str``, so the plan is the same under
    either ``spark.sql.parser.escapedStringLiterals``.
    """
    raw = _staged(transcripts, {
        stage: f"regexp_extract(text, {sql_str(pattern)}, 1)"
        for _, stage, pattern in _FIELDS
    })
    # regexp_extract gives '' on no match in Spark and DuckDB: NULL it.
    # try_cast: a dur_ms past bigint reads NULL like a missing marker
    # (under ANSI a plain CAST would fail the whole job on one row)
    typed = _staged(raw, {
        name: f"nullif({stage}, '')" for name, stage, _ in _FIELDS
    } | {"dur_ms": "try_cast(nullif(__dur_raw, '') AS BIGINT)"})
    attrs = attributes_json_sql(
        {"dur_ms": "dur_ms", "status": "status", "tool": "parsed_tool"}
    )
    return typed.selectExpr(
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
        "severity_text", f"{_SEVERITY_NUMBER_SQL} AS severity_number",
        "parsed_tool", "trace_id", "span_id", "dur_ms", "status",
        f"{attrs} AS attributes_json", "text AS body",
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
        try_cast(nullif(regexp_extract(text, '{DUR_PATTERN}', 1), '') AS bigint) AS dur_ms,
        nullif(regexp_extract(text, '{STATUS_PATTERN}', 1), '') AS status,
        nullif(regexp_extract(text, '{TRACE_PATTERN}', 1), '') AS trace_id,
        nullif(regexp_extract(text, '{SPAN_PATTERN}', 1), '') AS span_id
    FROM {from_clause}
) ex
"""
