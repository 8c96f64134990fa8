"""Transform/filter processor (operators/transform.py): statement
validation, ordering semantics, and service-builder integration."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_spark.operators.transform import compile_statements
from opentelemetry_collector_spark.queries import _parsed
from tests.conftest import SF_SMOKE


@pytest.mark.parametrize(
    "bad",
    [
        [{"op": "nope"}],
        [{"op": "set", "field": "x"}],                # missing expr
        [{"op": "hash"}],                             # missing field
        [{"op": "set_attribute", "key": "k"}],        # missing expr
        [{"op": "delete_attribute"}],                 # missing key
        [{"op": "drop"}],                             # missing where
        [{"op": "set_flag", "field": "flags"}],       # missing mask
        [{"op": "clear_flag", "mask": 1}],            # missing field
        [{"op": "set_flag", "field": "flags", "mask": "1"}],  # mask not int
    ],
)
def test_invalid_statements_rejected(bad):
    with pytest.raises(ValueError):
        compile_statements(bad)


def test_flag_ops_set_clear_test(spark):
    """LogRecordFlags bit semantics (log_record_flags.go): set ORs the mask,
    clear ANDs it out, other bits survive both; has_flag tests a mask."""
    from opentelemetry_collector_spark.functions.flags import (
        FLAG_SAMPLED,
        has_flag,
        trace_flags,
    )

    df = spark.createDataFrame(
        [(0,), (1,), (2,), (3,), (0x81,)], "flags int"
    )
    out = compile_statements(
        [
            {"op": "set_flag", "field": "flags", "mask": 0x04},
            {"op": "clear_flag", "field": "flags", "mask": 0x01},
        ]
    )(df)
    got = sorted(r.flags for r in out.collect())
    # [0,1,2,3,0x81] |= 0x04 -> [4,5,6,7,0x85]; &= ~0x01 -> [4,4,6,6,0x84]
    assert got == sorted([4, 4, 6, 6, 0x84]), got
    flagged = df.select(
        has_flag("flags", FLAG_SAMPLED).alias("sampled"),
        trace_flags("flags").alias("tf"),
    ).collect()
    assert [r.sampled for r in flagged] == [False, True, False, True, True]
    assert [r.tf for r in flagged] == [0, 1, 2, 3, 0x81]


def test_set_attribute_json_escapes_special_chars(spark):
    """A value with quotes/backslashes/newlines must serialize to VALID
    canonical JSON and round-trip through from_json (the set_attribute
    surface accepts arbitrary exprs, so the serializer cannot assume clean
    values)."""
    df = spark.createDataFrame([(1, "{}")], "id int, attributes_json string")
    out = compile_statements(
        [
            {"op": "set_attribute", "key": "note",
             "expr": r"'he said \"hi\" \\ back' || chr(10) || 'line2'"},
        ]
    )(df)
    row = out.collect()[0]
    import json

    parsed = json.loads(row.attributes_json)
    assert parsed == {"note": 'he said "hi" \\ back\nline2'}
    # Spark-side from_json round-trip (the invariant the codecs rely on)
    back = out.select(
        F.from_json("attributes_json", "map<string,string>").alias("m")
    ).collect()[0].m
    assert back == {"note": 'he said "hi" \\ back\nline2'}


def test_flag_ops_guarded(spark):
    """where-guards gate flag mutation per row like every other statement."""
    df = spark.createDataFrame([(1, 0), (2, 0)], "id int, flags int")
    out = compile_statements(
        [{"op": "set_flag", "field": "flags", "mask": 8, "where": "id = 2"}]
    )(df)
    assert {r.id: r.flags for r in out.collect()} == {1: 0, 2: 8}


def test_statement_order_matters(spark):
    """set-then-drop vs drop-then-set differ when the set feeds the drop
    predicate (OTTL statement-list ordering)."""
    df = _parsed(spark, SF_SMOKE)
    set_then_drop = compile_statements(
        [
            {"op": "set", "field": "role", "expr": "'x'", "where": "role = 'user'"},
            {"op": "drop", "where": "role = 'x'"},
        ]
    )(df)
    drop_then_set = compile_statements(
        [
            {"op": "drop", "where": "role = 'x'"},
            {"op": "set", "field": "role", "expr": "'x'", "where": "role = 'user'"},
        ]
    )(df)
    n_users = df.filter("role = 'user'").count()
    assert n_users > 0
    assert set_then_drop.count() == df.count() - n_users
    assert drop_then_set.count() == df.count()


def test_attribute_upsert_is_sorted_and_idempotent(spark):
    df = _parsed(spark, SF_SMOKE)
    once = compile_statements(
        [{"op": "set_attribute", "key": "env", "expr": "'prod'"}]
    )
    twice = compile_statements(
        [
            {"op": "set_attribute", "key": "env", "expr": "'stale'"},
            {"op": "set_attribute", "key": "env", "expr": "'prod'"},
        ]
    )
    a = once(df).select("conv_id", "turn_idx", "attributes_json")
    b = twice(df).select("conv_id", "turn_idx", "attributes_json")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # every row has env, keys stay sorted
    sample = a.filter(~F.col("attributes_json").contains('"env": "prod"'))
    assert sample.count() == 0


def test_hash_preserves_grouping(spark):
    """Masking conv_id is a bijection on the fixture: group cardinality is
    unchanged (PII-safe aggregation)."""
    df = _parsed(spark, SF_SMOKE)
    hashed = compile_statements([{"op": "hash", "field": "conv_id"}])(df)
    assert (
        hashed.select("conv_id").distinct().count()
        == df.select("conv_id").distinct().count()
    )


def test_service_builder_runs_transform(spark, tmp_path):
    """A pipeline with a transform processor wired via config."""
    from opentelemetry_collector_spark.plans.config import ServiceConfig
    from opentelemetry_collector_spark.plans.service import run_service

    cfg = ServiceConfig(
        receivers={"transcripts": {"path": SF_SMOKE}},
        processors={
            "parse": {},
            "transform": {
                "statements": [
                    {"op": "drop", "where": "role = 'system'"},
                    {"op": "set_attribute", "key": "env", "expr": "'test'"},
                ]
            },
            "enrich": {},
            "route": {},
        },
        exporters={"sinks": {"path": str(tmp_path / "sinks")}},
        pipelines={
            "logs": {
                "receivers": ["transcripts"],
                "processors": ["parse", "transform", "enrich", "route"],
                "exporters": ["sinks"],
            }
        },
    )
    out = run_service(spark, cfg)["logs"].frame
    assert out.filter("role = 'system'").count() == 0
    assert out.filter(~F.col("attributes_json").contains('"env": "test"')).count() == 0


def test_fused_attribute_expr_sees_prior_statements(spark):
    """A set_attribute whose EXPR reads attributes_json must observe every
    earlier fused attribute statement — the fusion must flush before any
    read of the serialized column, whether it is in the guard or the
    value expression."""
    import json

    parsed = _parsed(spark, SF_SMOKE)
    out = compile_statements([
        {"op": "set_attribute", "key": "a", "expr": "'1'"},
        {"op": "set_attribute", "key": "copy", "expr": "attributes_json"},
    ])(parsed)
    row = out.select("attributes_json").first()
    attrs = json.loads(row.attributes_json)
    copied = json.loads(attrs["copy"])
    assert copied.get("a") == 1 or copied.get("a") == "1", attrs


def test_control_chars_escape_and_roundtrip(spark):
    """Attribute values containing control characters (\\x0c, \\x00, \\b)
    must serialize to VALID JSON — from_json round-trips the exact value
    and json.loads accepts the document (RFC 8259 full escape table)."""
    import json

    parsed = _parsed(spark, SF_SMOKE)
    evil = 'concat("a", char(12), char(8), char(1), "b")'  # a\f\b\x01b
    out = compile_statements([
        {"op": "set_attribute", "key": "evil", "expr": evil},
    ])(parsed)
    doc = out.select("attributes_json").first().attributes_json
    attrs = json.loads(doc)  # raises on raw control chars
    assert attrs["evil"] == "a\f\b\x01b"
    rt = (
        out.select(
            F.from_json(
                "attributes_json", "map<string,string>"
            ).alias("m")
        )
        .select(F.col("m")["evil"].alias("v"))
        .first()
    )
    assert rt.v == "a\f\b\x01b"


def test_numeric_with_trailing_newline_is_quoted(spark):
    """'42\\n' must NOT serialize bare — both regex engines' `$` anchor
    matches before a final newline, so the bare-number path needs the
    explicit terminator guard (review finding)."""
    import json

    parsed = _parsed(spark, SF_SMOKE)
    out = compile_statements([
        {"op": "set_attribute", "key": "n", "expr": "concat('42', chr(10))"},
    ])(parsed)
    doc = out.select("attributes_json").first().attributes_json
    attrs = json.loads(doc)  # raises if the raw newline escaped the string
    assert attrs["n"] == "42\n"

    # Python twin (protobuf codec) agrees
    from opentelemetry_collector_spark.operators.protobuf import (
        canonical_attrs_json,
    )

    assert json.loads(canonical_attrs_json({"n": "42\n"}))["n"] == "42\n"
