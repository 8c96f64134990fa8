"""Parse-stage unit tests — LogRecord field extraction semantics
(pdata/plog/generated_logrecord.go:34-159, severity_number.go:21-50)."""

from __future__ import annotations

import datetime

from opentelemetry_collector_spark.operators.parse import parse_turns
from opentelemetry_collector_spark.schemas import TRANSCRIPT_SCHEMA
from opentelemetry_collector_spark.severity import (
    SEVERITY_NUMBER,
    SEVERITY_TEXT,
)

TS = datetime.datetime(2020, 2, 11, 20, 26, 13)  # reference fixture epoch
# internal/testdata/log.go:28-70 pins 2020-02-11T20:26:13.000000789Z


def _rows(spark, rows):
    return spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)


def test_severity_ladder_complete():
    # 24 named levels, bands of 4 (severity_number.go:25-49)
    assert len(SEVERITY_NUMBER) == 24
    assert SEVERITY_NUMBER["TRACE"] == 1
    assert SEVERITY_NUMBER["DEBUG"] == 5
    assert SEVERITY_NUMBER["INFO"] == 9
    assert SEVERITY_NUMBER["WARN"] == 13
    assert SEVERITY_NUMBER["ERROR"] == 17
    assert SEVERITY_NUMBER["FATAL"] == 21
    assert SEVERITY_NUMBER["FATAL4"] == 24
    assert SEVERITY_TEXT[12] == "INFO4"


def test_parse_assistant_tool_call(spark):
    text = (
        "[INFO] calling tool=python trace_id=" + "ab" * 16 + " span_id=" + "cd" * 8
        + ' dur_ms=420 args={"k": 7}'
    )
    df = parse_turns(_rows(spark, [("c1", 0, "assistant", text, "python", TS)]))
    r = df.collect()[0]
    assert r.severity_text == "INFO" and r.severity_number == 9
    assert r.parsed_tool == "python"
    assert r.trace_id == "ab" * 16 and r.span_id == "cd" * 8
    assert r.dur_ms == 420
    assert r.attributes_json == '{"dur_ms": 420, "tool": "python"}'
    assert r.body == text


def test_parse_tool_result_all_severities(spark):
    rows = [
        ("c1", i, "tool", f"[{name}] tool=bash status=OK result: x", "bash", TS)
        for i, name in enumerate(SEVERITY_NUMBER)
    ]
    out = parse_turns(_rows(spark, rows)).collect()
    for r in out:
        assert r.severity_number == SEVERITY_NUMBER[r.severity_text]
        assert r.status == "OK"
        assert r.attributes_json == '{"status": "OK", "tool": "bash"}'


def test_parse_plain_turn_unspecified_severity(spark):
    # no marker -> SeverityNumberUnspecified = 0 (severity_number.go:23)
    df = parse_turns(_rows(spark, [("c1", 0, "user", "hello there", None, TS)]))
    r = df.collect()[0]
    assert r.severity_text is None and r.severity_number == 0
    assert r.trace_id is None and r.dur_ms is None
    assert r.attributes_json == "{}"


def test_parse_unknown_severity_token(spark):
    # marker present but not in the 25-level ladder -> NULL (dead-letter signal)
    df = parse_turns(
        _rows(spark, [("c1", 0, "tool", "[SEVERE] tool=bash status=OK result: x", "bash", TS)])
    )
    r = df.collect()[0]
    assert r.severity_text == "SEVERE" and r.severity_number is None


def test_duplicate_marker_first_match_wins(spark):
    # Map upsert parity: first occurrence wins (pdata/pcommon/map.go:121-127)
    text = "[WARN] tool=search status=OK result: y tool=dupe status=DUP"
    r = parse_turns(_rows(spark, [("c1", 0, "tool", text, "search", TS)])).collect()[0]
    assert r.parsed_tool == "search"
    assert r.status == "OK"


def test_parse_multiline_unicode(spark):
    r = parse_turns(
        _rows(spark, [("c1", 0, "user", "multi\nline é中文", None, TS)])
    ).collect()[0]
    assert r.severity_number == 0
    assert r.body == "multi\nline é中文"


def test_trace_ids_match_deterministic_helpers(spark):
    """The id-generation helpers (functions/values.py) are the definition
    of the fixture's embedded trace/span ids: every parsed id must equal
    the helper applied to (conv_id, turn_idx) — keeps the helpers and the
    synthesis SQL from drifting apart."""
    from pyspark.sql import functions as F

    from opentelemetry_collector_spark.functions.values import (
        deterministic_span_id,
        deterministic_trace_id,
    )
    from opentelemetry_collector_spark.operators.parse import parse_turns
    from opentelemetry_collector_spark.sources.transcripts import (
        events_to_transcripts,
    )
    from tests.conftest import SF_SMOKE

    parsed = parse_turns(events_to_transcripts(spark, SF_SMOKE)).filter(
        F.col("trace_id").isNotNull()
    )
    mismatches = parsed.filter(
        (F.col("trace_id")
         != deterministic_trace_id(F.col("conv_id"), F.col("turn_idx")))
        | (F.col("span_id")
           != deterministic_span_id(F.col("conv_id"), F.col("turn_idx")))
    ).count()
    assert parsed.count() > 0 and mismatches == 0


def test_bigint_overflowing_dur_ms_reads_null(spark):
    """A dur_ms past bigint parses to NULL, like a missing marker, instead
    of failing the job under ANSI casts; the attributes JSON leaves the key
    out, the oracle agrees, and the row beside it is untouched."""
    from opentelemetry_collector_spark.operators.enrich import enrich
    from opentelemetry_collector_spark.operators.route import route
    from opentelemetry_collector_spark.queries import (
        _ROUTED_COLS,
        PIPELINE_ORACLES,
        _normalize_enriched,
    )
    from tests.conftest import OVERFLOW_ROWS, assert_df_equal, oracle_over

    t, want = oracle_over(spark, OVERFLOW_ROWS, PIPELINE_ORACLES["route"])
    got = _normalize_enriched(route(enrich(parse_turns(t), spark))).select(
        *_ROUTED_COLS
    )
    assert_df_equal(got, want)
    r = {r.turn_idx: r for r in got.collect()}
    assert r[0].dur_ms is None
    assert r[0].attributes_json == '{"tool": "python"}'
    assert r[0].error_reason is None and r[0].trace_id == "a" * 32
    assert r[1].dur_ms == 42
    assert r[1].attributes_json == '{"dur_ms": 42, "tool": "python"}'
