"""Grok stage — the multi-pattern parse path (SURVEY §7.3).

The native parse (operators/parse.py) runs one ``regexp_extract`` per field
over one layout. Real log pipelines carry grok PATTERN LIBRARIES — several
alternative layouts tried in order until one matches. This module is that
path, in Catalyst: ``GROK_LIBRARY`` is compiled into one projection, an
ordered ``CASE WHEN text RLIKE <p> THEN '<name>'`` that names the claiming
pattern, then per field a ``CASE pattern WHEN '<name>' THEN
regexp_extract(text, <p>, <i>)`` that extracts only from that pattern. Each
(pattern, field) arm is one ``regexp_extract``; no Python worker runs.

First-matching-pattern-wins across the library; within a pattern,
first-match-wins per field (pcommon.Map upsert parity,
pdata/pcommon/map.go:121-127 — same invariant as the native parse). The
regexes are RE2-compatible so the DuckDB oracle runs the same library.

Scale notes: the stage is a narrow map — no shuffle; each regex is a
literal, compiled once per task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from opentelemetry_collector_spark.functions.values import sql_str

# Ordered pattern library: (name, regex with plain groups, field names in
# group order). Tried in order; the first pattern that matches claims the
# row and is the only one its fields are extracted from.
GROK_LIBRARY: list[tuple[str, str, tuple[str, ...]]] = [
    (
        "tool_call",
        r"^\[([A-Z]+[0-9]?)\] calling tool=([a-z_]+)"
        r" trace_id=([0-9a-f]{32}) span_id=([0-9a-f]{16}) dur_ms=([0-9]+)",
        ("severity_text", "tool", "trace_id", "span_id", "dur_ms"),
    ),
    (
        "tool_result",
        r"^\[([A-Z]+[0-9]?)\] tool=([a-z_]+) status=(OK|ERROR)",
        ("severity_text", "tool", "status"),
    ),
    ("bare_severity", r"^\[([A-Z]+[0-9]?)\] ", ("severity_text",)),
]

# DuckDB oracle for the library: the hand-written ordered CASE over the same
# regexes (DuckDB string literals keep backslashes as is). Plain string
# (no f-string) so the {32}/{16} regex quantifiers survive; the caller
# prepends a `transcripts` CTE.
GROK_ORACLE_BODY = """
SELECT conv_id, turn_idx, pattern,
    CASE pattern
        WHEN 'tool_call' THEN regexp_extract(text, '{tool_call}', 1)
        WHEN 'tool_result' THEN regexp_extract(text, '{tool_result}', 1)
        WHEN 'bare_severity' THEN regexp_extract(text, '{bare_severity}', 1)
    END AS severity_text,
    CASE pattern
        WHEN 'tool_call' THEN regexp_extract(text, '{tool_call}', 2)
        WHEN 'tool_result' THEN regexp_extract(text, '{tool_result}', 2)
    END AS tool,
    CASE pattern WHEN 'tool_call' THEN regexp_extract(text, '{tool_call}', 3) END
        AS trace_id,
    CASE pattern WHEN 'tool_call' THEN regexp_extract(text, '{tool_call}', 4) END
        AS span_id,
    CASE pattern
        WHEN 'tool_call'
        THEN try_cast(regexp_extract(text, '{tool_call}', 5) AS BIGINT)
    END AS dur_ms,
    CASE pattern WHEN 'tool_result' THEN regexp_extract(text, '{tool_result}', 3) END
        AS status
FROM (
    SELECT conv_id, turn_idx, text,
        CASE
            WHEN regexp_matches(text, '{tool_call}') THEN 'tool_call'
            WHEN regexp_matches(text, '{tool_result}') THEN 'tool_result'
            WHEN regexp_matches(text, '{bare_severity}') THEN 'bare_severity'
        END AS pattern
    FROM transcripts
) m
""".format(**{name: rx for name, rx, _ in GROK_LIBRARY})


def _field_sql(field: str) -> str:
    """``CASE pattern WHEN <name> THEN regexp_extract(..) .. END AS field``
    over the library patterns that carry ``field``; a dur_ms past bigint
    reads NULL instead of failing the job."""
    arms = " ".join(
        f"WHEN {sql_str(name)} THEN regexp_extract(text, {sql_str(rx)}, "
        f"{fields.index(field) + 1})"
        for name, rx, fields in GROK_LIBRARY
        if field in fields
    )
    case = f"CASE pattern {arms} END"
    if field == "dur_ms":
        case = f"try_cast({case} AS BIGINT)"
    return f"{case} AS {field}"


def grok_parse(transcripts: DataFrame) -> DataFrame:
    """One output row per input row: ``pattern`` = name of the first library
    pattern that matches (NULL if none), then each field extracted from that
    pattern only (NULL where the claiming pattern has no such field)."""
    claim = " ".join(
        f"WHEN text RLIKE {sql_str(rx)} THEN {sql_str(name)}"
        for name, rx, _ in GROK_LIBRARY
    )
    fields = dict.fromkeys(f for _, _, fs in GROK_LIBRARY for f in fs)
    # two projections: every field CASE reads the `pattern` attribute, so
    # Catalyst keeps one RLIKE chain per row instead of inlining it per field
    return transcripts.selectExpr(
        "conv_id", "turn_idx", "text", f"CASE {claim} END AS pattern"
    ).selectExpr("conv_id", "turn_idx", "pattern", *map(_field_sql, fields))
