"""Parse and route are planned from SQL text: the text reads the same under
both values of spark.sql.parser.escapedStringLiterals, and the SQL
rendering of the flat JSON scalar rule matches its Column twin."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_spark.functions.values import (
    _json_scalar,
    json_scalar_sql,
)
from opentelemetry_collector_spark.operators.enrich import enrich
from opentelemetry_collector_spark.operators.parse import parse_turns
from opentelemetry_collector_spark.operators.route import route
from opentelemetry_collector_spark.schemas import TRANSCRIPT_SCHEMA
from opentelemetry_collector_spark.sources.transcripts import events_to_transcripts
from tests.conftest import SF_SMOKE

ESCAPED = "spark.sql.parser.escapedStringLiterals"
TS = datetime.datetime(2020, 2, 11, 20, 26, 13)

EDGE_ROWS = [
    ("edge", 0, "user", "", None, TS),
    ("edge", 1, "user", None, None, TS),
    ("edge", 2, "tool", "[SEVERE] tool=bash status=OK result: x", "bash", TS),
    ("edge", 3, "tool", "[INFO] tool=python dur_ms=0012 status=OK", "python", TS),
    ("edge", 4, "assistant", '[WARN] say "hi" \\ C:\\dir\nnext tool=bash',
     "bash", TS),
]


@pytest.fixture
def parser_setting(spark):
    """Sets the string-literal parser mode for one test, then restores it."""
    before = spark.conf.get(ESCAPED)

    def set_mode(value: bool):
        spark.conf.set(ESCAPED, str(value).lower())

    yield set_mode
    spark.conf.set(ESCAPED, before)


def _routed_rows(spark):
    edges = spark.createDataFrame(EDGE_ROWS, TRANSCRIPT_SCHEMA)
    df = events_to_transcripts(spark, SF_SMOKE).unionByName(edges)
    rows = route(enrich(parse_turns(df), spark)).collect()
    return sorted(rows, key=lambda r: (r.conv_id, r.turn_idx))


def test_routed_rows_ignore_the_literal_parser_setting(spark, parser_setting):
    rows, probe = {}, {}
    for escaped in (False, True):
        parser_setting(escaped)
        rows[escaped] = _routed_rows(spark)
        probe[escaped] = spark.range(1).select(F.expr(r"'a\\b'")).first()[0]
    # the setting is live: a plain literal with a backslash reads differently
    assert probe[False] != probe[True]
    assert rows[False] == rows[True]

    edge = {r.turn_idx: r for r in rows[False] if r.conv_id == "edge"}
    assert edge[0].error_reason == edge[1].error_reason == "empty_text"
    assert edge[2].severity_text == "SEVERE"
    assert edge[2].error_reason == "unknown_severity"
    assert edge[3].dur_ms == 12
    assert edge[3].attributes_json == (
        '{"dur_ms": 12, "status": "OK", "tool": "python"}'
    )
    assert edge[4].severity_number == 13
    assert edge[4].body == EDGE_ROWS[4][3]
    assert edge[4].sink_id == "assistant/code"


def test_json_scalar_sql_matches_its_column_twin(spark, parser_setting):
    values = ["0123", "42\n", "-1.5", 'a"b\\c', "\u0085", "\u2028", None]
    values += [chr(c) for c in range(0x20)]
    values += [f"x{chr(c)}y" for c in range(0x20)]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)],
                               "i int, v string")
    for escaped in (False, True):
        parser_setting(escaped)
        out = df.select(
            "i", _json_scalar(F.col("v")).alias("col"),
            F.expr(json_scalar_sql("v")).alias("sql"),
        ).collect()
        assert len(out) == len(values)
        assert [(r.i, r.sql) for r in out] == [(r.i, r.col) for r in out]
    got = {values[r.i]: r.sql for r in out}
    assert got["0123"] == '"0123"' and got["-1.5"] == "-1.5"
    assert got["42\n"] == '"42\\n"' and got['a"b\\c'] == '"a\\"b\\\\c"'
    assert got["\x01"] == '"\\u0001"' and got[None] is None
