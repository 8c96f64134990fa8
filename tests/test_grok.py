"""Grok library stage vs the native regexp parse: the two parse paths must
agree wherever both claim a row (same first-match-wins invariant)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from opentelemetry_collector_spark.operators.grok import grok_parse
from opentelemetry_collector_spark.operators.parse import parse_turns
from opentelemetry_collector_spark.sources.transcripts import events_to_transcripts
from tests.conftest import SF_SMOKE


def test_grok_agrees_with_native_parse(spark):
    t = events_to_transcripts(spark, SF_SMOKE)
    native = parse_turns(t).select(
        "conv_id", "turn_idx", "severity_text", "parsed_tool",
        "trace_id", "span_id", "dur_ms", "status",
    )
    grok = grok_parse(t)
    joined = grok.alias("g").join(
        native.alias("n"), ["conv_id", "turn_idx"]
    )

    # every grok-claimed row must carry identical extracted fields
    claimed = joined.filter(F.col("g.pattern").isNotNull())
    assert claimed.count() > 0
    mismatch = claimed.filter(
        ~(
            F.col("g.severity_text").eqNullSafe(F.col("n.severity_text"))
            & F.col("g.trace_id").eqNullSafe(F.col("n.trace_id"))
            & F.col("g.span_id").eqNullSafe(F.col("n.span_id"))
            & F.col("g.dur_ms").eqNullSafe(F.col("n.dur_ms"))
        )
    )
    assert mismatch.count() == 0

    # tool field: grok's tool_call/tool_result patterns anchor tool= after
    # the severity token, which equals the native first-match extraction
    tool_rows = claimed.filter(F.col("g.pattern").isin("tool_call", "tool_result"))
    assert tool_rows.filter(
        ~F.col("g.tool").eqNullSafe(F.col("n.parsed_tool"))
    ).count() == 0

    # rows grok leaves unclaimed have no severity marker natively either
    unclaimed = joined.filter(F.col("g.pattern").isNull())
    assert unclaimed.filter(F.col("n.severity_text").isNotNull()).count() == 0


def test_grok_pattern_priority(spark):
    """tool-call turns must be claimed by the tool_call pattern, not the
    weaker bare_severity fallback (library order = first-match-wins)."""
    t = events_to_transcripts(spark, SF_SMOKE)
    g = grok_parse(t).join(
        t.select("conv_id", "turn_idx", "text"), ["conv_id", "turn_idx"]
    )
    calls = g.filter(F.col("text").contains("calling tool="))
    assert calls.count() > 0
    assert calls.filter(F.col("pattern") != "tool_call").count() == 0


def test_grok_bigint_overflowing_dur_ms_reads_null(spark):
    """grok_parse reads a dur_ms past bigint as NULL, as the native parse
    does, and agrees with its oracle; the normal row keeps its value."""
    from opentelemetry_collector_spark.queries import PIPELINE_ORACLES
    from tests.conftest import OVERFLOW_ROWS, assert_df_equal, oracle_over

    t, want = oracle_over(spark, OVERFLOW_ROWS, PIPELINE_ORACLES["grok_parse"])
    got = grok_parse(t)
    assert_df_equal(got, want)
    r = {r.turn_idx: r for r in got.collect()}
    assert r[0].pattern == "tool_call" and r[0].dur_ms is None
    assert r[1].dur_ms == 42


# rows where Java's regex engine (Spark) and RE2 (DuckDB) could part ways:
# NULL/empty text, a marker without its trailing space, the marker after a
# newline (``^`` anchors at the text start only), a newline after a full
# match, a digit-suffixed, non-ASCII or lowercase severity, an unknown
# status, and a tab in place of the space after the marker
_TS = datetime.datetime(2020, 2, 11, 20, 26, 13)
EDGE_ROWS = [
    ("edge", i, "tool", text, None, _TS)
    for i, text in enumerate([
        None,
        "",
        "[INFO]",
        "[INFO] ",
        "x\n[INFO] tool=a status=OK",
        "[INFO] tool=a status=OK\nmore",
        "[WARN2] tool=web_search status=ERROR",
        "[ÉRR] tool=a status=OK",
        "[info] tool=a status=OK",
        "[INFO] tool=a status=PENDING",
        "[INFO]\ttool=a status=OK",
    ])
]


def test_grok_edge_rows_match_oracle_ansi_on_and_off(spark):
    """grok_parse equals its DuckDB oracle over the regex-engine edge rows
    and the dur_ms overflow rows, with ANSI on and off."""
    from opentelemetry_collector_spark.queries import PIPELINE_ORACLES
    from tests.conftest import OVERFLOW_ROWS, assert_df_equal, oracle_over

    t, want = oracle_over(
        spark, EDGE_ROWS + OVERFLOW_ROWS, PIPELINE_ORACLES["grok_parse"]
    )
    assert want["pattern"].notna().sum() == 6  # 4 edge rows + 2 overflow
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for mode in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", mode)
            assert_df_equal(grok_parse(t), want)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
