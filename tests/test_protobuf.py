"""OTLP protobuf wire codec (functions/protowire.py, operators/protobuf.py).

Golden vectors are hand-assembled from the protobuf wire spec + the OTLP
field numbers (pdata/plog/generated_logrecord.go) — they test conformance
independently of the encoder under test.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from opentelemetry_collector_spark.functions.protowire import (
    decode_any_value,
    decode_log_record,
    decode_logs_request,
    decode_varint,
    encode_any_value,
    encode_log_record,
    encode_logs_request,
    encode_varint,
    iter_fields,
)
from opentelemetry_collector_spark.operators.protobuf import (
    canonical_attrs_json,
    from_otlp_protobuf,
    from_otlp_request_protobuf,
    native_protobuf_available,
    to_otlp_protobuf,
    to_otlp_request_protobuf,
)

from tests.conftest import SF_SMOKE


# --- wire primitives ---------------------------------------------------------


def test_varint_golden():
    assert encode_varint(0) == b"\x00"
    assert encode_varint(1) == b"\x01"
    assert encode_varint(127) == b"\x7f"
    assert encode_varint(128) == b"\x80\x01"
    assert encode_varint(300) == b"\xac\x02"  # the canonical spec example
    assert encode_varint((1 << 64) - 1) == b"\xff" * 9 + b"\x01"


@settings(max_examples=200)
@given(st.integers(min_value=0, max_value=(1 << 64) - 1))
def test_varint_roundtrip(n):
    v, pos = decode_varint(encode_varint(n), 0)
    assert v == n and pos == len(encode_varint(n))


def test_varint_truncated_raises():
    with pytest.raises(ValueError):
        decode_varint(b"\x80", 0)


@settings(max_examples=100)
@given(
    st.recursive(
        st.one_of(
            st.booleans(),
            st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1),
            st.floats(allow_nan=False),
            st.text(max_size=40),
            st.binary(max_size=40),
        ),
        lambda leaf: st.one_of(
            st.lists(leaf, max_size=4),
            st.dictionaries(st.text(max_size=8), leaf, max_size=4),
        ),
        max_leaves=8,
    )
)
def test_any_value_roundtrip(v):
    assert decode_any_value(encode_any_value(v)) == v


def test_negative_int_is_ten_byte_varint():
    enc = encode_any_value(-1)
    # field 3 varint tag + 10-byte two's-complement varint
    assert enc == b"\x18" + b"\xff" * 9 + b"\x01"
    assert decode_any_value(enc) == -1


# --- LogRecord golden vector --------------------------------------------------


def _golden_record():
    return {
        "time_unix_nano": 1_000_000_000,
        "severity_number": 9,
        "severity_text": "INFO",
        "body": "hi",
        "attributes": {"dur_ms": 113, "tool": "browser"},
        "trace_id": bytes.fromhex("00112233445566778899aabbccddeeff"),
        "span_id": bytes.fromhex("0011223344556677"),
    }


_GOLDEN_BYTES = (
    b"\x09\x00\xca\x9a\x3b\x00\x00\x00\x00"  # 1: time fixed64 1e9
    b"\x10\x09"  # 2: severity_number 9
    b"\x1a\x04INFO"  # 3: severity_text
    b"\x2a\x04\x0a\x02hi"  # 5: body AnyValue{string "hi"}
    b"\x32\x0c\x0a\x06dur_ms\x12\x02\x18\x71"  # 6: KV dur_ms=113 (int)
    b"\x32\x11\x0a\x04tool\x12\x09\x0a\x07browser"  # 6: KV tool="browser"
    b"\x4a\x10" + bytes.fromhex("00112233445566778899aabbccddeeff")  # 9
    + b"\x52\x08" + bytes.fromhex("0011223344556677")  # 10
)


def test_log_record_golden_encode():
    assert encode_log_record(_golden_record()) == _GOLDEN_BYTES


def test_log_record_golden_decode():
    rec = decode_log_record(_GOLDEN_BYTES)
    g = _golden_record()
    for k, v in g.items():
        assert rec[k] == v, k
    assert rec["flags"] == 0 and rec["dropped_attributes_count"] == 0


def test_proto3_defaults_omitted():
    # zero/empty fields encode to nothing and decode back to defaults
    assert encode_log_record({"attributes": {}}) == b""
    rec = decode_log_record(b"")
    assert rec["time_unix_nano"] == 0 and rec["trace_id"] == b""


def test_malformed_bytes_raise():
    with pytest.raises(ValueError):
        list(iter_fields(b"\x32\xff\x01short"))  # length overruns buffer
    with pytest.raises(ValueError):
        list(iter_fields(b"\x04"))  # wire type 4 unsupported


def test_logs_request_roundtrip_python():
    recs = [_golden_record(), {"severity_number": 5, "attributes": {}}]
    blob = encode_logs_request({"conv_id": "c-1"}, "scope-x", recs)
    decoded = decode_logs_request(blob)
    assert len(decoded) == 1
    res_attrs, scope, out = decoded[0]
    assert res_attrs == {"conv_id": "c-1"} and scope == "scope-x"
    assert len(out) == 2
    assert out[0]["attributes"] == _golden_record()["attributes"]
    assert out[1]["severity_number"] == 5


# --- canonical attrs serializer parity ---------------------------------------


def test_canonical_attrs_json_matches_column_semantics():
    # vectors mirror functions.values.attributes_json_sql output shapes
    assert canonical_attrs_json({}) == "{}"
    assert (
        canonical_attrs_json({"tool": "browser", "dur_ms": 113})
        == '{"dur_ms": 113, "tool": "browser"}'
    )
    # string that parses as a canonical JSON number stays bare (cast-to-
    # string semantics of the Column path)
    assert canonical_attrs_json({"x": "42"}) == '{"x": 42}'
    # leading-zero strings are NOT canonical numbers -> quoted
    assert canonical_attrs_json({"x": "0123"}) == '{"x": "0123"}'
    # JSON escaping identical to the Column path's five escapes
    assert (
        canonical_attrs_json({"q": 'he said "hi"\n'})
        == '{"q": "he said \\"hi\\"\\n"}'
    )
    # doubles render in ES6 form; integral doubles drop the .0 and so
    # serialize bare
    assert canonical_attrs_json({"d": 1.5}) == '{"d": 1.5}'
    assert canonical_attrs_json({"d": 3.0}) == '{"d": 3}'
    # nulls omitted (Map.Get absent-key semantics)
    assert canonical_attrs_json({"a": None, "b": 1}) == '{"b": 1}'


# --- nested attribute values (pcommon.Value map/slice/bytes) ------------------

NESTED_ATTRS = {
    "s": "plain",
    "numish": "42",            # flat path renders bare
    "n": 7,
    "d": 2.5,
    "b": True,                 # flat path: cast-to-string -> quoted "true"
    "blob": b"\x00\x01\xff",
    "arr": ["a", 1, 2.5, False, None, b"\x02"],
    "kv": {"z": "last", "a": [1, 2], "m": {"x": b"\x03", "ok": True}},
}


def test_nested_attrs_canonicalize_as_json_not_repr():
    """ADVICE r02: list/dict values must serialize as JSON arrays/objects
    (sorted map keys, type-faithful leaves per value.go:361-395), bytes as
    base64 — never Python repr."""
    out = canonical_attrs_json(NESTED_ATTRS)
    import json as _json

    parsed = _json.loads(out)
    assert parsed["arr"] == ["a", 1, 2.5, False, None, "Ag=="]
    assert parsed["kv"] == {
        "z": "last",
        "a": [1, 2],
        "m": {"x": "Aw==", "ok": True},
    }
    assert parsed["blob"] == "AAH/"
    # nested map keys sorted; nested strings ALWAYS quoted (types known)
    assert '"kv": {"a": [1, 2], "m": {"ok": true, "x": "Aw=="}, "z": "last"}' in out
    assert '"numish": 42' in out  # top-level flat rule unchanged


def test_nested_attrs_column_twin_byte_identical(spark):
    """functions.values json_value/attributes_json_typed over typed nested
    columns produces the same bytes as the Python twin."""
    from pyspark.sql import functions as F

    from opentelemetry_collector_spark.functions.values import (
        attributes_json_typed,
    )

    df = spark.createDataFrame(
        [("plain", 7, 2.5, True, b"\x00\x01\xff", ["x", None, "y"],
          {"z": 9, "a": 1})],
        "s string, n long, d double, b boolean, blob binary, "
        "arr array<string>, kv map<string,long>",
    )
    out = df.select(
        attributes_json_typed(
            {
                "s": (F.col("s"), "str"),
                "n": (F.col("n"), "int"),
                "d": (F.col("d"), "double"),
                "b": (F.col("b"), "bool"),
                "blob": (F.col("blob"), "bytes"),
                "arr": (F.col("arr"), ("array", "str")),
                "kv": (F.col("kv"), ("map", "int")),
            }
        ).alias("attrs")
    ).collect()[0]["attrs"]
    expected = canonical_attrs_json(
        {
            "s": "plain", "n": 7, "d": 2.5, "b": True,
            "blob": b"\x00\x01\xff",
            "arr": ["x", None, "y"], "kv": {"z": 9, "a": 1},
        }
    )
    # the Python twin's flat top-level rule differs for b (quoted) and
    # s (bare-iff-numeric) — but for these vectors both rules agree except
    # bool, which the typed path renders bare
    assert out == expected.replace('"b": "true"', '"b": true')


def test_wire_roundtrip_byte_identical_all_seven_types():
    """wire -> column row -> wire is byte-identical for all 7 AnyValue
    types via the typed sidecar (attributes_wire), including the three the
    flat canonical form cannot carry (bool/bytes/integral double)."""
    from opentelemetry_collector_spark.operators.protobuf import (
        _record_to_row,
        _row_to_record,
    )

    rec = {
        "time_unix_nano": 1_700_000_000_000_000_000,
        "severity_number": 9,
        "severity_text": "INFO",
        "body": "hello",
        "attributes": {
            k: v for k, v in sorted(
                (NESTED_ATTRS | {"intd": 42.0}).items()
            )
        },
        "trace_id": bytes.fromhex("0af7651916cd43dd8448eb211c80319c"),
        "span_id": bytes.fromhex("b7ad6b7169203331"),
    }
    wire1 = encode_log_record(rec)
    row = _record_to_row(decode_log_record(wire1))
    wire2 = encode_log_record(_row_to_record(dict(row)))
    assert wire2 == wire1


def test_wire_roundtrip_unsorted_external_becomes_fixed_point():
    """External wire with UNSORTED top-level attribute order canonicalizes
    (sorts) on the first pass; every pass after that is byte-identical."""
    from opentelemetry_collector_spark.operators.protobuf import (
        _record_to_row,
        _row_to_record,
    )

    rec = {
        "time_unix_nano": 1,
        "severity_number": 0,
        "severity_text": "",
        "body": "b",
        "attributes": {"z": 1, "a": {"q": b"\x05", "p": [True, 2.0]}},
        "trace_id": b"",
        "span_id": b"",
    }
    wire0 = encode_log_record(rec)  # dict order: z before a (unsorted)
    row1 = _record_to_row(decode_log_record(wire0))
    wire1 = encode_log_record(_row_to_record(dict(row1)))
    assert wire1 != wire0  # canonicalized (sorted) on first pass
    row2 = _record_to_row(decode_log_record(wire1))
    wire2 = encode_log_record(_row_to_record(dict(row2)))
    assert wire2 == wire1  # fixed point
    # NESTED kvlist order is preserved verbatim both times
    assert row1["attributes_json"] == row2["attributes_json"]


def test_otlp_json_anyvalue_codec_roundtrip():
    from opentelemetry_collector_spark.operators.protobuf import (
        any_value_from_otlp_json,
        any_value_to_otlp_json,
    )

    for v in ["s", 42, -(1 << 62), 2.5, 42.0, True, False, b"\x00\xff",
              [1, "a", [True]], {"k": {"n": b"\x01"}}, []]:
        got = any_value_from_otlp_json(any_value_to_otlp_json(v))
        assert got == v and type(got) is type(v)
    # int64 rides as a decimal string per OTLP/JSON
    assert any_value_to_otlp_json(5) == {"intValue": "5"}
    assert any_value_to_otlp_json(42.0) == {"doubleValue": 42.0}
    # proto3 JSON: non-finite doubles are the STRINGS "NaN"/"Infinity"/
    # "-Infinity" — bare tokens would be invalid JSON (ADVICE r03)
    import json as _json
    import math

    assert any_value_to_otlp_json(float("nan")) == {"doubleValue": "NaN"}
    assert any_value_to_otlp_json(float("inf")) == {"doubleValue": "Infinity"}
    assert any_value_to_otlp_json(float("-inf")) == {
        "doubleValue": "-Infinity"
    }
    for v in [float("nan"), float("inf"), float("-inf")]:
        text = _json.dumps(any_value_to_otlp_json(v), allow_nan=False)
        back = any_value_from_otlp_json(_json.loads(text))
        assert math.isnan(back) if math.isnan(v) else back == v


# --- Spark round-trips --------------------------------------------------------


@pytest.fixture(scope="module")
def parsed(spark):
    from opentelemetry_collector_spark.operators.parse import parse_turns
    from opentelemetry_collector_spark.sources.transcripts import (
        events_to_transcripts,
    )

    return parse_turns(events_to_transcripts(spark, SF_SMOKE)).select(
        "conv_id", "turn_idx", "role", "tool", "ts", "severity_text",
        "severity_number", "parsed_tool", "trace_id", "span_id", "dur_ms",
        "status", "attributes_json", "body",
    )


def _assert_same_rows(a, b):
    import pandas as pd

    pa = a.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pb = b.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(pa[sorted(pa.columns)], pb[sorted(pb.columns)],
                                  check_dtype=False)


def test_flat_protobuf_roundtrip_spark(spark, parsed):
    wire = to_otlp_protobuf(parsed)
    assert dict(wire.dtypes)["otlp_protobuf"] == "binary"
    _assert_same_rows(
        from_otlp_protobuf(wire).drop("attributes_wire"), parsed
    )


def test_document_protobuf_roundtrip_spark(spark, parsed):
    wire = to_otlp_request_protobuf(parsed)
    assert wire.columns == ["conv_id", "otlp_request"]
    # one request per conversation
    assert wire.count() == parsed.select("conv_id").distinct().count()
    _assert_same_rows(
        from_otlp_request_protobuf(wire).drop("attributes_wire"), parsed
    )


def test_otlp_json_wire_conformance_with_protobuf():
    """The two wire encodings decode to the SAME record dicts (the OTLP
    endpoint serves both; encoder.go:30-36), and the JSON form follows the
    spec's proto3-JSON deviations: int64 as string, hex trace/span ids,
    typed AnyValue objects, defaults omitted."""
    import json as _json

    from opentelemetry_collector_spark.functions.otlpjson import (
        log_record_from_otlp_json,
        log_record_to_otlp_json,
        logs_request_from_otlp_json,
        logs_request_to_otlp_json,
    )

    rec = {
        "time_unix_nano": 1_700_000_000_000_000_000,
        "severity_number": 9,
        "severity_text": "INFO",
        "body": "hello",
        "attributes": {"k": "v", "n": 7, "nested": {"a": [1, True]},
                       "blob": b"\x01\x02"},
        "trace_id": bytes.fromhex("0af7651916cd43dd8448eb211c80319c"),
        "span_id": bytes.fromhex("b7ad6b7169203331"),
    }
    j = log_record_to_otlp_json(rec)
    assert j["timeUnixNano"] == "1700000000000000000"  # int64 as string
    assert j["traceId"] == "0af7651916cd43dd8448eb211c80319c"  # hex, not b64
    assert j["body"] == {"stringValue": "hello"}
    assert {"key": "n", "value": {"intValue": "7"}} in j["attributes"]

    # protobuf wire and JSON wire decode to the SAME record dict
    pb_rec = decode_log_record(encode_log_record(rec))
    assert log_record_from_otlp_json(j) == pb_rec

    # defaults omitted on the wire, restored on decode
    minimal = log_record_to_otlp_json(
        {"time_unix_nano": 0, "severity_number": 0, "severity_text": "",
         "body": None, "attributes": {}, "trace_id": b"", "span_id": b""}
    )
    assert minimal == {}
    restored = log_record_from_otlp_json(minimal)
    assert restored["flags"] == 0 and restored["trace_id"] == b""

    # request document round trip is byte-stable
    doc = logs_request_to_otlp_json({"conv_id": "c1"}, "scope/x", [rec])
    (res, scope, recs), = logs_request_from_otlp_json(doc)
    assert res == {"conv_id": "c1"} and scope == "scope/x"
    assert recs == [pb_rec]
    assert logs_request_to_otlp_json(res, scope, recs) == doc
    _json.loads(doc)  # valid JSON


def test_otlp_json_request_roundtrip_spark(spark, parsed):
    from opentelemetry_collector_spark.operators.protobuf import (
        from_otlp_request_json,
        to_otlp_request_json,
    )

    wire = to_otlp_request_json(parsed)
    assert wire.columns == ["conv_id", "otlp_json_request"]
    _assert_same_rows(
        from_otlp_request_json(wire).drop("attributes_wire"), parsed
    )


def test_logs_response_wire_codec():
    """ExportLogsServiceResponse: full success encodes EMPTY (the OTLP spec
    leaves partial_success unset when nothing was rejected); partial
    success round-trips rejected count + message."""
    from opentelemetry_collector_spark.functions.protowire import (
        decode_logs_response,
        encode_logs_response,
    )

    assert encode_logs_response(0, "") == b""
    assert decode_logs_response(b"") == {
        "rejected_log_records": 0, "error_message": ""
    }
    wire = encode_logs_response(3, "bad severity")
    assert decode_logs_response(wire) == {
        "rejected_log_records": 3, "error_message": "bad severity"
    }


def test_otlp_ingest_response_partial_success(spark, parsed):
    """VERDICT r02 task 9: the per-request (accepted, rejected,
    first_error) surface. Clean requests accept everything; a request with
    an unmappable-severity record reports it as partial success; a
    corrupted blob is a full reject (NULL counts + unmarshal message)."""
    from opentelemetry_collector_spark.functions.protowire import (
        decode_logs_response,
    )
    from opentelemetry_collector_spark.operators.protobuf import (
        otlp_ingest_response,
    )

    wire = to_otlp_request_protobuf(parsed)
    resp = otlp_ingest_response(wire)
    rows = {r.conv_id: r for r in resp.collect()}
    per_conv = {
        r.conv_id: r["count"]
        for r in parsed.groupBy("conv_id").count().collect()
    }
    severities_ok = parsed.filter(
        "severity_number IS NULL AND severity_text IS NOT NULL"
    ).groupBy("conv_id").count().collect()
    rejected_per_conv = {r.conv_id: r["count"] for r in severities_ok}
    assert set(rows) == set(per_conv)
    for conv_id, r in rows.items():
        want_rej = rejected_per_conv.get(conv_id, 0)
        assert r.rejected == want_rej
        assert r.accepted == per_conv[conv_id] - want_rej
        decoded = decode_logs_response(bytes(r.response_protobuf))
        assert decoded["rejected_log_records"] == want_rej
        if want_rej:
            assert r.error_message and decoded["error_message"]
        else:
            assert r.error_message is None and r.response_protobuf == b""

    # corrupted blob -> full reject
    import pandas as pd

    bad = spark.createDataFrame(
        pd.DataFrame(
            {"conv_id": ["conv-x"], "otlp_request": [b"\xff\xff\xff"]}
        ),
        "conv_id string, otlp_request binary",
    )
    (br,) = otlp_ingest_response(bad).collect()
    assert br.accepted is None and br.rejected is None
    assert "unmarshal" in br.error_message
    # the wire bytes must NOT claim success: empty bytes decode as full
    # success, so a full reject carries NULL instead (ADVICE r03)
    assert br.response_protobuf is None


def test_null_request_cell_is_one_reject_on_both_wires(spark):
    """A NULL request cell (no body) is a full reject answered before the
    wire decoder runs: the same row on the protobuf and the JSON wire, with
    one engine message instead of a decoder's TypeError text."""
    from opentelemetry_collector_spark.operators.protobuf import (
        otlp_ingest_response,
        otlp_ingest_response_json,
    )

    pb = spark.createDataFrame(
        [("conv-x", None)], "conv_id string, otlp_request binary"
    )
    js = spark.createDataFrame(
        [("conv-x", None)], "conv_id string, otlp_json_request string"
    )
    (pr,) = otlp_ingest_response(pb).collect()
    (jr,) = otlp_ingest_response_json(js).collect()
    assert tuple(pr) == tuple(jr) == (
        "conv-x", None, None, "unmarshal: NULL request", None
    )


def test_native_protobuf_gate(spark):
    # gate probes the classpath without raising either way
    assert native_protobuf_available(spark) in (True, False)


# --- Span wire codec (trace.proto) -------------------------------------------


def _golden_span():
    return {
        "trace_id": bytes.fromhex("00112233445566778899aabbccddeeff"),
        "span_id": bytes.fromhex("0011223344556677"),
        "trace_state": "otelcol=00112233",
        "parent_span_id": b"",
        "name": "browser",
        "kind": 3,  # CLIENT
        "start_time_unix_nano": 1_000_000_000,
        "end_time_unix_nano": 2_000_000_000,
        "attributes": {"conv_id": "c-1", "turn_idx": 4},
        "events": [
            {"time_unix_nano": 1_000_000_000, "name": "call_started",
             "attributes": {}},
            {"time_unix_nano": 2_000_000_000, "name": "call_ended",
             "attributes": {}},
        ],
        "links": [
            {"trace_id": b"\x01" * 16, "span_id": b"\x02" * 8,
             "trace_state": "", "attributes": {"link.type": "prev_span"}},
        ],
        "status_code": 2,
        "status_message": "boom",
    }


def test_span_roundtrip():
    from opentelemetry_collector_spark.functions.protowire import (
        decode_span,
        encode_span,
    )

    sp = _golden_span()
    assert decode_span(encode_span(sp)) == sp


def test_span_golden_prefix():
    # identity fields occupy the exact reference field numbers/wire types
    # (trace.pb.go: 1 trace_id LEN, 2 span_id LEN, 3 trace_state LEN)
    from opentelemetry_collector_spark.functions.protowire import encode_span

    enc = encode_span(_golden_span())
    assert enc.startswith(
        b"\x0a\x10" + bytes.fromhex("00112233445566778899aabbccddeeff")
        + b"\x12\x08" + bytes.fromhex("0011223344556677")
        + b"\x1a\x10otelcol=00112233"
    )
    # Status submessage: field 15 LEN -> {2: "boom", 3: code 2}
    assert enc.endswith(b"\x7a\x08\x12\x04boom\x18\x02")


def test_span_proto3_defaults():
    from opentelemetry_collector_spark.functions.protowire import (
        decode_span,
        encode_span,
    )

    assert encode_span({"attributes": {}}) == b""
    sp = decode_span(b"")
    assert sp["kind"] == 0 and sp["events"] == [] and sp["status_code"] == 0


def test_trace_request_roundtrip():
    from opentelemetry_collector_spark.functions.protowire import (
        decode_trace_request,
        encode_trace_request,
    )

    spans = [_golden_span(), {"name": "n2", "kind": 1, "attributes": {}}]
    blob = encode_trace_request({"conv_id": "c-1"}, "scope-t", spans)
    [(res, scope, out)] = decode_trace_request(blob)
    assert res == {"conv_id": "c-1"} and scope == "scope-t"
    assert out[0]["links"][0]["attributes"] == {"link.type": "prev_span"}
    assert out[1]["name"] == "n2"


# --- Metric wire codec (metrics.proto) ---------------------------------------


def _gauge_metric():
    return {
        "name": "queue_size", "description": "", "unit": "1",
        "type": "gauge", "aggregation_temporality": 0, "is_monotonic": False,
        "data_points": [
            {"attributes": {"tool": "browser"}, "start_time_unix_nano": 0,
             "time_unix_nano": 5_000, "as_double": None, "as_int": 7,
             "exemplars": [], "flags": 0},
        ],
    }


def test_metric_gauge_roundtrip():
    from opentelemetry_collector_spark.functions.protowire import (
        decode_metric,
        encode_metric,
    )

    m = _gauge_metric()
    assert decode_metric(encode_metric(m)) == m


def test_metric_sum_temporality_monotonic():
    from opentelemetry_collector_spark.functions.protowire import (
        AGG_TEMPORALITY_CUMULATIVE,
        decode_metric,
        encode_metric,
    )

    m = {
        "name": "turns_total", "description": "d", "unit": "1", "type": "sum",
        "aggregation_temporality": AGG_TEMPORALITY_CUMULATIVE,
        "is_monotonic": True,
        "data_points": [
            {"attributes": {}, "start_time_unix_nano": 1, "time_unix_nano": 2,
             "as_double": 4.5, "as_int": None, "exemplars": [], "flags": 0},
        ],
    }
    assert decode_metric(encode_metric(m)) == m


def test_metric_histogram_roundtrip_with_exemplar():
    from opentelemetry_collector_spark.functions.protowire import (
        AGG_TEMPORALITY_DELTA,
        decode_metric,
        encode_metric,
    )

    m = {
        "name": "dur_ms", "description": "", "unit": "ms",
        "type": "histogram",
        "aggregation_temporality": AGG_TEMPORALITY_DELTA,
        "is_monotonic": False,
        "data_points": [
            {
                "attributes": {"tool": "code"},
                "start_time_unix_nano": 1, "time_unix_nano": 2,
                "count": 6, "sum": 120.5,
                "bucket_counts": [1, 2, 3], "explicit_bounds": [10.0, 100.0],
                "exemplars": [
                    {"filtered_attributes": {}, "time_unix_nano": 2,
                     "as_double": 99.0, "as_int": None,
                     "span_id": b"\x02" * 8, "trace_id": b"\x01" * 16},
                ],
                "flags": 0, "min": 1.0, "max": 99.0,
            },
        ],
    }
    assert decode_metric(encode_metric(m)) == m


def test_metric_exp_histogram_negative_scale_offset():
    from opentelemetry_collector_spark.functions.protowire import (
        decode_metric,
        encode_metric,
    )

    m = {
        "name": "eh", "description": "", "unit": "",
        "type": "exponential_histogram",
        "aggregation_temporality": 2, "is_monotonic": False,
        "data_points": [
            {
                "attributes": {}, "start_time_unix_nano": 0,
                "time_unix_nano": 9, "count": 10, "sum": 55.0,
                "scale": -1,  # zigzag32 path
                "zero_count": 2,
                "positive": {"offset": -3, "bucket_counts": [1, 0, 7]},
                "negative": {"offset": 0, "bucket_counts": []},
                "exemplars": [], "flags": 0, "min": None, "max": None,
            },
        ],
    }
    assert decode_metric(encode_metric(m)) == m


def test_metric_summary_roundtrip():
    from opentelemetry_collector_spark.functions.protowire import (
        decode_metric,
        encode_metric,
    )

    m = {
        "name": "dur_q", "description": "", "unit": "ms", "type": "summary",
        "aggregation_temporality": 0, "is_monotonic": False,
        "data_points": [
            {"attributes": {"tool": "sql"}, "start_time_unix_nano": 0,
             "time_unix_nano": 3, "count": 5, "sum": 50.0,
             "quantile_values": [
                 {"quantile": 0.5, "value": 9.0},
                 {"quantile": 0.99, "value": 48.0},
             ],
             "flags": 0},
        ],
    }
    assert decode_metric(encode_metric(m)) == m


def test_metrics_request_roundtrip():
    from opentelemetry_collector_spark.functions.protowire import (
        decode_metrics_request,
        encode_metrics_request,
    )

    blob = encode_metrics_request({"service": "otelcol"}, "scope-m",
                                  [_gauge_metric()])
    [(res, scope, ms)] = decode_metrics_request(blob)
    assert res == {"service": "otelcol"} and scope == "scope-m"
    assert ms == [_gauge_metric()]


def test_packed_vs_unpacked_decoding():
    # decoders accept unpacked repeated scalars too (proto3 parsers must)
    from opentelemetry_collector_spark.functions.protowire import (
        decode_histogram_point,
    )

    # field 6 (bucket_counts) as three separate fixed64 fields
    import struct as _s

    unpacked = b"".join(
        b"\x31" + _s.pack("<Q", v) for v in (1, 2, 3)
    )
    dp = decode_histogram_point(unpacked)
    assert dp["bucket_counts"] == [1, 2, 3]


def test_zigzag_golden():
    from opentelemetry_collector_spark.functions.protowire import (
        _unzigzag,
        _zigzag32,
    )

    # canonical spec vectors
    for raw, enc in [(0, 0), (-1, 1), (1, 2), (-2, 3), (2147483647, 4294967294),
                     (-2147483648, 4294967295)]:
        assert _zigzag32(raw) == enc
        assert _unzigzag(enc) == raw


# --- Spark trace/metric signal round-trips -----------------------------------


def test_trace_protobuf_roundtrip_spark(spark, parsed):
    from opentelemetry_collector_spark.operators.observe import build_spans
    from opentelemetry_collector_spark.operators.protobuf import (
        from_otlp_trace_protobuf,
        to_otlp_trace_protobuf,
    )

    spans = build_spans(parsed)
    wire = to_otlp_trace_protobuf(parsed)
    assert dict(wire.dtypes)["otlp_trace_request"] == "binary"
    # one request per conversation that has spans
    assert wire.count() == spans.select("conv_id").distinct().count()
    decoded = from_otlp_trace_protobuf(wire)

    import pandas as pd

    key = ["conv_id", "turn_idx"]
    pa = spans.toPandas().sort_values(key).reset_index(drop=True)
    pb = decoded.toPandas().sort_values(key).reset_index(drop=True)
    pa, pb = pa[sorted(pa.columns)], pb[sorted(pb.columns)]
    # events/links are arrays of Rows on the Spark side vs dicts after the
    # wire pass — compare canonical tuples
    norm = lambda cell: [tuple(dict(e).items()) for e in cell]  # noqa: E731
    for c in ("events", "links"):
        pa[c] = pa[c].map(norm)
        pb[c] = pb[c].map(norm)
    pd.testing.assert_frame_equal(pa, pb, check_dtype=False)


def test_metric_protobuf_roundtrip_spark(spark, parsed):
    from opentelemetry_collector_spark.operators.metrics import (
        histogram_explicit,
    )
    from opentelemetry_collector_spark.operators.protobuf import (
        from_otlp_metric_protobuf,
        to_otlp_metric_protobuf,
    )

    hist = histogram_explicit(parsed)
    wire = to_otlp_metric_protobuf(parsed)
    assert dict(wire.dtypes)["otlp_metric"] == "binary"
    decoded = from_otlp_metric_protobuf(wire)

    import pandas as pd

    key = ["bucket_start_epoch", "tool"]
    pa = hist.toPandas().sort_values(key).reset_index(drop=True)
    pb = decoded.toPandas().sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        pa[sorted(pa.columns)], pb[sorted(pb.columns)], check_dtype=False
    )


def test_metric_wire_is_one_request_per_point_on_both_wires(spark, parsed):
    """OTLP/HTTP carries metrics as ExportMetricsServiceRequest on both
    wires: each protobuf row and each JSON row is one request with
    resource {tool}, scope SCOPE_NAME and one histogram Metric, and the two
    wires decode to the same (resource, scope, metrics) per point."""
    from opentelemetry_collector_spark.functions.otlpjson import (
        metrics_request_from_otlp_json,
    )
    from opentelemetry_collector_spark.functions.protowire import (
        decode_metrics_request,
    )
    from opentelemetry_collector_spark.operators.metrics import (
        histogram_explicit,
    )
    from opentelemetry_collector_spark.operators.protobuf import (
        SCOPE_NAME,
        to_otlp_metric_json,
        to_otlp_metric_protobuf,
    )

    def by_point(rows, decode):
        out = {}
        for tool, wire in rows:
            ((res, scope, metrics),) = decode(wire)
            ((dp,),) = [m["data_points"] for m in metrics]
            key = (tool, dp["attributes"]["otelcol.bucket_start_epoch"])
            out[key] = (res, scope, metrics)
        return out

    pb = by_point(
        to_otlp_metric_protobuf(parsed).collect(),
        lambda b: decode_metrics_request(bytes(b)),
    )
    js = by_point(
        to_otlp_metric_json(parsed).collect(), metrics_request_from_otlp_json
    )
    assert len(pb) == histogram_explicit(parsed).count() > 0
    assert pb == js
    for (tool, _start), (res, scope, _metrics) in pb.items():
        assert res == {"tool": tool} and scope == SCOPE_NAME


# --- OTLP/JSON trace + metric wire (ptracejson/pmetricjson analogs) ----------


def test_otlp_span_json_wire_conformance_with_protobuf():
    """The JSON and protobuf trace wires decode to the SAME span dicts
    (pdata/ptrace/json.go:29-42 is jsonpb EnumsAsInts=true OrigName=false:
    ids hex, fixed64 nanos as strings, kind/status enums as ints,
    defaults omitted)."""
    from opentelemetry_collector_spark.functions.otlpjson import (
        span_from_otlp_json,
        span_to_otlp_json,
        trace_request_from_otlp_json,
        trace_request_to_otlp_json,
    )
    from opentelemetry_collector_spark.functions.protowire import (
        decode_span,
        decode_trace_request,
        encode_span,
        encode_trace_request,
    )

    span = {
        "trace_id": bytes.fromhex("0af7651916cd43dd8448eb211c80319c"),
        "span_id": bytes.fromhex("b7ad6b7169203331"),
        "trace_state": "otelcol=0af76519",
        "parent_span_id": bytes.fromhex("00f067aa0ba902b7"),
        "name": "tool.call",
        "kind": 3,
        "start_time_unix_nano": 1_581_452_772_000_000_321,
        "end_time_unix_nano": 1_581_452_773_000_000_789,
        "attributes": {"a": 1, "b": "s", "c": [True, 2.5]},
        "events": [
            {"time_unix_nano": 7, "name": "ev", "attributes": {"x": 1}}
        ],
        "links": [
            {
                "trace_id": b"\x01" * 16,
                "span_id": b"\x02" * 8,
                "trace_state": "ts",
                "attributes": {},
            }
        ],
        "status_code": 2,
        "status_message": "boom",
    }
    j = span_to_otlp_json(span)
    assert j["traceId"] == "0af7651916cd43dd8448eb211c80319c"  # hex
    assert j["startTimeUnixNano"] == "1581452772000000321"  # fixed64 string
    assert j["kind"] == 3  # enum as INT (jsonpb EnumsAsInts)
    assert j["status"] == {"message": "boom", "code": 2}
    assert j["links"][0]["spanId"] == "02" * 8
    assert span_from_otlp_json(j) == decode_span(encode_span(span))

    # defaults omitted, restored on decode
    empty = span_to_otlp_json(decode_span(b""))
    assert empty == {}
    assert span_from_otlp_json({}) == decode_span(b"")

    # request docs: both wires flatten identically, JSON is byte-stable
    doc = trace_request_to_otlp_json({"conv_id": "c1"}, "scope/x", [span])
    pb = encode_trace_request({"conv_id": "c1"}, "scope/x", [span])
    assert trace_request_from_otlp_json(doc) == decode_trace_request(pb)
    (res, scope, spans), = trace_request_from_otlp_json(doc)
    assert trace_request_to_otlp_json(res, scope, spans) == doc


def test_otlp_metric_json_wire_conformance_with_protobuf():
    """All five metric data types decode identically off both wires;
    JSON carries fixed64 count/bucketCounts as decimal strings, sint32
    scale/offset as numbers, aggregationTemporality as an INT, and
    non-finite doubles as the proto3 spec strings."""
    import math

    from opentelemetry_collector_spark.functions.otlpjson import (
        metric_from_otlp_json,
        metric_to_otlp_json,
        metrics_request_from_otlp_json,
        metrics_request_to_otlp_json,
    )
    from opentelemetry_collector_spark.functions.protowire import (
        decode_metric,
        decode_metrics_request,
        encode_metric,
        encode_metrics_request,
    )

    metrics = [
        {
            "name": "g", "description": "d", "unit": "1", "type": "gauge",
            "data_points": [
                {"attributes": {"t": "a"}, "start_time_unix_nano": 0,
                 "time_unix_nano": 5, "as_double": 0.0, "as_int": None,
                 "exemplars": [], "flags": 0},
                {"attributes": {}, "start_time_unix_nano": 1,
                 "time_unix_nano": 6, "as_double": None, "as_int": -7,
                 "exemplars": [
                     {"filtered_attributes": {"f": 1}, "time_unix_nano": 3,
                      "as_double": None, "as_int": 9,
                      "span_id": b"\x02" * 8, "trace_id": b"\x03" * 16}
                 ],
                 "flags": 1},
            ],
            "aggregation_temporality": 0, "is_monotonic": False,
        },
        {
            "name": "s", "description": "", "unit": "", "type": "sum",
            "data_points": [
                {"attributes": {}, "start_time_unix_nano": 1,
                 "time_unix_nano": 2, "as_double": math.inf, "as_int": None,
                 "exemplars": [], "flags": 0}
            ],
            "aggregation_temporality": 2, "is_monotonic": True,
        },
        {
            "name": "h", "description": "", "unit": "ms",
            "type": "histogram",
            "data_points": [
                {"attributes": {"tool": "bash"}, "start_time_unix_nano": 1,
                 "time_unix_nano": 2, "count": 10, "sum": 55.5,
                 "bucket_counts": [1, 2, 3, 4],
                 "explicit_bounds": [0.5, 1.0, 5.0], "exemplars": [],
                 "flags": 0, "min": 0.1, "max": 9.0}
            ],
            "aggregation_temporality": 1, "is_monotonic": False,
        },
        {
            "name": "e", "description": "", "unit": "",
            "type": "exponential_histogram",
            "data_points": [
                {"attributes": {}, "start_time_unix_nano": 1,
                 "time_unix_nano": 2, "count": 5, "sum": 1.5, "scale": -1,
                 "zero_count": 2,
                 "positive": {"offset": -3, "bucket_counts": [1, 0, 2]},
                 "negative": {"offset": 0, "bucket_counts": []},
                 "exemplars": [], "flags": 0, "min": None, "max": None}
            ],
            "aggregation_temporality": 2, "is_monotonic": False,
        },
        {
            "name": "q", "description": "", "unit": "", "type": "summary",
            "data_points": [
                {"attributes": {}, "start_time_unix_nano": 1,
                 "time_unix_nano": 2, "count": 4, "sum": 8.0,
                 "quantile_values": [
                     {"quantile": 0.5, "value": 2.0},
                     {"quantile": 0.99, "value": 7.5},
                 ],
                 "flags": 0}
            ],
            "aggregation_temporality": 0, "is_monotonic": False,
        },
    ]
    for m in metrics:
        j = metric_to_otlp_json(m)
        assert metric_from_otlp_json(j) == decode_metric(encode_metric(m))
    jh = metric_to_otlp_json(metrics[2])
    assert jh["histogram"]["dataPoints"][0]["count"] == "10"  # fixed64 str
    assert jh["histogram"]["dataPoints"][0]["bucketCounts"] == [
        "1", "2", "3", "4",
    ]
    assert jh["histogram"]["aggregationTemporality"] == 1  # enum as int
    js = metric_to_otlp_json(metrics[1])
    assert js["sum"]["dataPoints"][0]["asDouble"] == "Infinity"
    assert js["sum"]["isMonotonic"] is True
    je = metric_to_otlp_json(metrics[3])
    assert je["exponentialHistogram"]["dataPoints"][0]["scale"] == -1
    assert je["exponentialHistogram"]["dataPoints"][0]["positive"] == {
        "offset": -3, "bucketCounts": ["1", "0", "2"],
    }
    jg = metric_to_otlp_json(metrics[0])
    assert jg["gauge"]["dataPoints"][1]["asInt"] == "-7"  # sfixed64 string
    assert jg["gauge"]["dataPoints"][0]["asDouble"] == 0.0  # set oneof at 0

    doc = metrics_request_to_otlp_json({"conv_id": "c1"}, "scope", metrics)
    pb = encode_metrics_request({"conv_id": "c1"}, "scope", metrics)
    assert metrics_request_from_otlp_json(doc) == decode_metrics_request(pb)
    (res, scope, ms), = metrics_request_from_otlp_json(doc)
    assert metrics_request_to_otlp_json(res, scope, ms) == doc


def test_trace_json_roundtrip_spark(spark, parsed):
    """JSON trace wire round trip lands on the exact build_spans rows —
    and on the SAME rows as the protobuf wire (conformance on Spark)."""
    from opentelemetry_collector_spark.operators.observe import build_spans
    from opentelemetry_collector_spark.operators.protobuf import (
        from_otlp_trace_json,
        to_otlp_trace_json,
    )

    spans = build_spans(parsed)
    wire = to_otlp_trace_json(parsed)
    assert dict(wire.dtypes)["otlp_trace_json_request"] == "string"
    assert wire.count() == spans.select("conv_id").distinct().count()
    decoded = from_otlp_trace_json(wire)

    import pandas as pd

    key = ["conv_id", "turn_idx"]
    pa = spans.toPandas().sort_values(key).reset_index(drop=True)
    pb = decoded.toPandas().sort_values(key).reset_index(drop=True)
    pa, pb = pa[sorted(pa.columns)], pb[sorted(pb.columns)]
    norm = lambda cell: [tuple(dict(e).items()) for e in cell]  # noqa: E731
    for c in ("events", "links"):
        pa[c] = pa[c].map(norm)
        pb[c] = pb[c].map(norm)
    pd.testing.assert_frame_equal(pa, pb, check_dtype=False)


def test_metric_json_roundtrip_spark(spark, parsed):
    from opentelemetry_collector_spark.operators.metrics import (
        histogram_explicit,
    )
    from opentelemetry_collector_spark.operators.protobuf import (
        from_otlp_metric_json,
        to_otlp_metric_json,
    )

    hist = histogram_explicit(parsed)
    wire = to_otlp_metric_json(parsed)
    assert dict(wire.dtypes)["otlp_metric_json_request"] == "string"
    decoded = from_otlp_metric_json(wire)

    import pandas as pd

    key = ["bucket_start_epoch", "tool"]
    pa = hist.toPandas().sort_values(key).reset_index(drop=True)
    pb = decoded.toPandas().sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        pa[sorted(pa.columns)], pb[sorted(pb.columns)], check_dtype=False
    )


def test_protobuf_codec_selection_both_ways(spark, parsed, monkeypatch):
    """The gate's code-path selection logic, exercised both ways (VERDICT
    r03 task 8): force pins the branch; the probe decides otherwise; and
    the python branch decodes identically to calling the codec directly."""
    import opentelemetry_collector_spark.operators.protobuf as pb

    # probe-driven selection, both probe outcomes
    monkeypatch.setattr(pb, "native_protobuf_available", lambda s: False)
    assert pb.select_protobuf_codec(spark) == "python"
    monkeypatch.setattr(pb, "native_protobuf_available", lambda s: True)
    assert pb.select_protobuf_codec(spark) == "native"
    monkeypatch.undo()

    # force overrides the probe
    assert pb.select_protobuf_codec(spark, force="python") == "python"
    assert pb.select_protobuf_codec(spark, force="native") == "native"
    with pytest.raises(ValueError):
        pb.select_protobuf_codec(spark, force="grpc")

    # python branch == the direct codec
    wire = pb.to_otlp_protobuf(parsed)
    via_gate = pb.decode_log_records(spark, wire, force="python")
    direct = pb.from_otlp_protobuf(wire)
    assert via_gate.schema == direct.schema
    assert sorted(map(tuple, via_gate.collect())) == sorted(
        map(tuple, direct.collect())
    )

    # native branch in this sandbox: actionable gate error, not a crash
    with pytest.raises(RuntimeError, match="spark-protobuf|descriptor"):
        pb.decode_log_records(spark, wire, force="native")


def test_logs_response_json_wire_codec():
    """The JSON response twin: full success is the empty object (spec:
    partialSuccess unset when nothing rejected), int64 count rides as a
    decimal string, and both wires decode to the same dict."""
    from opentelemetry_collector_spark.functions.otlpjson import (
        logs_response_from_otlp_json,
        logs_response_to_otlp_json,
    )
    from opentelemetry_collector_spark.functions.protowire import (
        decode_logs_response,
        encode_logs_response,
    )

    assert logs_response_to_otlp_json(0, "") == "{}"
    assert logs_response_from_otlp_json("{}") == decode_logs_response(b"")
    doc = logs_response_to_otlp_json(3, "bad severity")
    assert (
        doc
        == '{"partialSuccess":{"rejectedLogRecords":"3",'
        '"errorMessage":"bad severity"}}'
    )
    assert logs_response_from_otlp_json(doc) == decode_logs_response(
        encode_logs_response(3, "bad severity")
    )


def test_otlp_ingest_response_json_partial_success(spark, parsed):
    """JSON-wire partial success mirrors the protobuf twin row for row
    (the HTTP receiver answers JSON requests with JSON responses)."""
    import pandas as pd

    from opentelemetry_collector_spark.functions.otlpjson import (
        logs_response_from_otlp_json,
    )
    from opentelemetry_collector_spark.operators.protobuf import (
        otlp_ingest_response,
        otlp_ingest_response_json,
        to_otlp_request_json,
    )

    wire = to_otlp_request_json(parsed)
    resp = {r.conv_id: r for r in otlp_ingest_response_json(wire).collect()}
    pb_resp = {
        r.conv_id: r
        for r in otlp_ingest_response(
            to_otlp_request_protobuf(parsed)
        ).collect()
    }
    assert set(resp) == set(pb_resp)
    for conv_id, r in resp.items():
        pr = pb_resp[conv_id]
        assert (r.accepted, r.rejected, r.error_message) == (
            pr.accepted, pr.rejected, pr.error_message,
        )
        decoded = logs_response_from_otlp_json(r.response_json)
        assert decoded["rejected_log_records"] == r.rejected
        if not r.rejected:
            assert r.response_json == "{}"

    # malformed document -> full reject with NULL response text
    bad = spark.createDataFrame(
        pd.DataFrame(
            {"conv_id": ["conv-x"], "otlp_json_request": ["{not json"]}
        ),
        "conv_id string, otlp_json_request string",
    )
    (br,) = otlp_ingest_response_json(bad).collect()
    assert br.accepted is None and br.rejected is None
    assert "unmarshal" in br.error_message
    assert br.response_json is None


@settings(max_examples=100)
@given(
    st.recursive(
        st.one_of(
            st.booleans(),
            st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1),
            st.floats(allow_nan=False),
            st.text(max_size=40),
            st.binary(max_size=40),
        ),
        lambda leaf: st.one_of(
            st.lists(leaf, max_size=4),
            st.dictionaries(st.text(max_size=8), leaf, max_size=4),
        ),
        max_leaves=8,
    )
)
def test_any_value_json_wire_roundtrip_and_codec_agreement(v):
    """Property twin of test_any_value_roundtrip for the OTLP/JSON wire:
    any AnyValue survives encode -> actual JSON serialization
    (allow_nan=False proves the wire is valid strict JSON) -> decode, and
    the two wire codecs (protobuf, JSON) agree on every value."""
    import json

    from opentelemetry_collector_spark.operators.protobuf import (
        any_value_from_otlp_json,
        any_value_to_otlp_json,
    )

    wire = json.loads(
        json.dumps(any_value_to_otlp_json(v), allow_nan=False)
    )
    got_json = any_value_from_otlp_json(wire)
    assert got_json == v
    assert got_json == decode_any_value(encode_any_value(v))


# --- one message table, two wires ----------------------------------------------


def test_none_attribute_is_an_empty_any_value_on_both_wires():
    """A None-valued attribute is an empty AnyValue on both wires: the key
    is kept, and decodes back to None."""
    import json

    from opentelemetry_collector_spark.functions.otlpjson import (
        log_record_from_otlp_json,
        log_record_to_otlp_json,
    )

    rec = {"attributes": {"a": None, "b": 1}}
    pb = decode_log_record(encode_log_record(rec))
    js = log_record_from_otlp_json(json.loads(json.dumps(
        log_record_to_otlp_json(rec)
    )))
    assert pb["attributes"] == js["attributes"] == {"a": None, "b": 1}
    assert encode_log_record(pb) == encode_log_record(rec)


@pytest.mark.parametrize("wire", ["protobuf", "json"])
@pytest.mark.parametrize(
    "message, rec",
    [
        ("log_record", {"flags": 1 << 33}),
        ("log_record", {"flags": -1}),
        ("log_record", {"time_unix_nano": (1 << 64) + 5}),
        ("log_record", {"dropped_attributes_count": -1}),
        ("log_record", {"severity_number": 1 << 31}),
        ("log_record", {"attributes": {"big": 1 << 70}}),
        ("log_record", {"body": [-(1 << 63) - 1]}),
        ("span", {"kind": -(1 << 31) - 1}),
        ("number_point", {"as_int": 1 << 63}),
        ("histogram_point", {"bucket_counts": [1, -1]}),
        ("exp_histogram_point", {"scale": 1 << 31}),
        ("exp_histogram_point", {"positive": {"bucket_counts": [1 << 64]}}),
    ],
)
def test_out_of_range_integers_raise_on_both_wires(wire, message, rec):
    """Each integer kind has one range, checked by both wires' encoders:
    uint32/fixed32 [0, 2^32), fixed64 [0, 2^64), int64/sfixed64
    [-2^63, 2^63), sint32 and enums [-2^31, 2^31)."""
    from opentelemetry_collector_spark.functions import otlpjson, protowire

    encode = (
        getattr(protowire, f"encode_{message}") if wire == "protobuf"
        else getattr(otlpjson, f"{message}_to_otlp_json")
    )
    with pytest.raises(ValueError, match="range"):
        encode(rec)


def test_in_range_extremes_encode_on_both_wires():
    from opentelemetry_collector_spark.functions import otlpjson
    from opentelemetry_collector_spark.functions import protowire as pw

    rec = {
        "flags": (1 << 32) - 1, "time_unix_nano": (1 << 64) - 1,
        "dropped_attributes_count": (1 << 32) - 1,
        "severity_number": -(1 << 31), "attributes": {"i": -(1 << 63)},
    }
    pb = pw.decode_log_record(pw.encode_log_record(rec))
    js = otlpjson.log_record_from_otlp_json(otlpjson.log_record_to_otlp_json(rec))
    assert pb == js and {k: pb[k] for k in rec} == rec


@pytest.mark.parametrize(
    "blob, field",
    [
        (b"\x0a\x01x", "LogRecord.time_unix_nano"),  # LEN for a fixed64
        (b"\x48\x01", "LogRecord.trace_id"),  # varint for bytes
        (b"\x18\x05", "LogRecord.severity_text"),  # varint for a string
        (b"\x2d\x00\x00\x00\x00", "LogRecord.body"),  # fixed32 for a message
        # AnyValue and KeyValue decode outside the table, by the same rule
        (b"\x2a\x02\x08\x01", "AnyValue.string_value"),  # varint for a string
        (b"\x2a\x02\x20\x01", "AnyValue.double_value"),  # varint for a double
        (b"\x2a\x04\x2a\x02\x08\x01", "ArrayValue.values"),  # varint element
        (b"\x2a\x04\x32\x02\x08\x01", "KeyValueList.values"),
        (b"\x32\x02\x08\x01", "KeyValue.key"),  # attribute key as a varint
        (b"\x32\x02\x10\x01", "KeyValue.value"),
    ],
    ids=["time_unix_nano", "trace_id", "severity_text", "body",
         "any_string_value", "any_double_value", "array_values",
         "kvlist_values", "kv_key", "kv_value"],
)
def test_wrong_wire_type_raises_naming_the_field(blob, field):
    with pytest.raises(ValueError, match=field.replace(".", r"\.")):
        decode_log_record(blob)


def test_unknown_fields_are_skipped():
    # field 12 (varint) and field 13 (LEN) are not in LogRecord's layout
    rec = decode_log_record(b"\x60\x01\x6a\x02hi\x10\x09")
    assert rec["severity_number"] == 9 and rec == {
        **decode_log_record(b""), "severity_number": 9,
    }


# records nest messages in lists, so a draw can be large and slow to build
_NESTED = [HealthCheck.data_too_large, HealthCheck.too_slow]


def _table_messages():
    """Every message reachable from the request and response envelopes."""
    from opentelemetry_collector_spark.functions import protowire as pw

    seen, todo = {}, [
        pw.LOGS_REQUEST, pw.TRACE_REQUEST, pw.METRICS_REQUEST,
        pw.LOGS_RESPONSE,
    ]
    while todo:
        msg = todo.pop()
        if msg.name not in seen:
            seen[msg.name] = msg
            todo += [f.message for f in msg.fields if f.message is not None]
    return [seen[name] for name in sorted(seen)]


def _ints(lo: int, hi: int):
    """Integers of [lo, hi), and the two just outside it."""
    return st.integers(min_value=lo, max_value=hi - 1) | st.sampled_from(
        [lo - 1, hi]
    )


_ANY_VALUES = st.recursive(
    st.one_of(
        st.booleans(),
        _ints(-(1 << 63), 1 << 63),
        st.floats(allow_nan=False),
        st.text(max_size=8),
        st.binary(max_size=8),
    ),
    lambda leaf: st.one_of(
        st.lists(leaf, max_size=3),
        st.dictionaries(st.text(max_size=4), leaf, max_size=3),
    ),
    max_leaves=4,
)


def _record_fields(msg) -> dict:
    """key -> value strategy for each field of ``msg`` the record holds
    (an INLINE message's fields included, a data oneof's excluded)."""
    from opentelemetry_collector_spark.functions import protowire as pw

    def ints(kind):
        return _ints(kind.lo, kind.hi)

    scalars = {
        pw.STRING: st.text(max_size=6),
        pw.ID: st.binary(max_size=16),
        pw.BOOL: st.booleans(),
        pw.DOUBLE: st.floats(allow_nan=False),
        pw.ANY: _ANY_VALUES,
        pw.ATTRS: st.dictionaries(
            st.text(max_size=4), st.none() | _ANY_VALUES, max_size=3
        ),
        pw.PACKED_DOUBLE: st.lists(st.floats(allow_nan=False), max_size=3),
        pw.PACKED_FIXED64: st.lists(ints(pw.PACKED_FIXED64), max_size=3),
        pw.PACKED_UINT64: st.lists(ints(pw.PACKED_UINT64), max_size=3),
    }
    out = {}
    for key, f in zip(msg.keys, msg.fields):
        if f.presence is pw.ONEOF:
            continue
        if f.kind is pw.INLINE:
            out.update(_record_fields(f.message))
            continue
        if f.kind is pw.MESSAGES:
            value = st.lists(_records(f.message), max_size=2)
        elif f.kind is pw.MESSAGE:
            value = _records(f.message)
        else:
            value = scalars[f.kind] if f.kind in scalars else ints(f.kind)
        out[key] = value if f.presence is pw.IMPLICIT else st.none() | value
    return out


def _records(msg):
    """Records of ``msg``, any key absent or present; a message with a
    data oneof draws one member and that member's fields."""
    fields = _record_fields(msg)
    if not msg.oneof:
        return st.fixed_dictionaries({}, optional=fields)
    members = [f for f in msg.fields if f.name in msg.oneof]
    return st.one_of([
        st.fixed_dictionaries(
            {"type": st.just(f.name)},
            optional={**fields, **_record_fields(f.message)},
        )
        for f in members
    ])


@pytest.mark.parametrize("msg", _table_messages(), ids=lambda m: m.name)
@settings(max_examples=30, deadline=None, suppress_health_check=_NESTED)
@given(data=st.data())
def test_every_table_message_agrees_on_both_wires(msg, data):
    """For every message of the table: the protobuf and JSON wires both
    reject a record (an integer out of its kind's range) or decode it to
    the same dict, and each wire re-encodes its own decode
    byte-identically."""
    import json

    from opentelemetry_collector_spark.functions import otlpjson
    from opentelemetry_collector_spark.functions import protowire as pw

    rec = data.draw(_records(msg))
    try:
        pb = pw.encode_message(msg, rec)
    except ValueError:
        with pytest.raises(ValueError):
            otlpjson.message_to_json(msg, rec)
        return
    text = json.dumps(otlpjson.message_to_json(msg, rec), allow_nan=False)
    from_pb = pw.decode_message(msg, pb)
    from_json = otlpjson.message_from_json(msg, text)
    assert from_pb == from_json
    assert pw.encode_message(msg, from_pb) == pb
    assert json.dumps(
        otlpjson.message_to_json(msg, from_json), allow_nan=False
    ) == text


@pytest.mark.parametrize("signal", ["logs", "trace", "metrics"])
@settings(max_examples=30, deadline=None, suppress_health_check=_NESTED)
@given(data=st.data())
def test_request_envelopes_agree_on_both_wires(signal, data):
    from opentelemetry_collector_spark.functions import otlpjson
    from opentelemetry_collector_spark.functions import protowire as pw

    item = {"logs": pw.LOG_RECORD, "trace": pw.SPAN, "metrics": pw.METRIC}[
        signal
    ]
    resource = data.draw(_record_fields(pw.RESOURCE)["attributes"])
    scope = data.draw(st.text(max_size=6))
    items = data.draw(st.lists(_records(item), max_size=3))
    try:
        pb = getattr(pw, f"encode_{signal}_request")(
            resource or {}, scope, items
        )
    except ValueError:
        with pytest.raises(ValueError):
            getattr(otlpjson, f"{signal}_request_to_otlp_json")(
                resource or {}, scope, items
            )
        return
    text = getattr(otlpjson, f"{signal}_request_to_otlp_json")(
        resource or {}, scope, items
    )
    from_pb = getattr(pw, f"decode_{signal}_request")(pb)
    from_json = getattr(otlpjson, f"{signal}_request_from_otlp_json")(text)
    assert from_pb == from_json
    [(res, name, recs)] = from_pb
    assert getattr(pw, f"encode_{signal}_request")(res, name, recs) == pb
    assert getattr(otlpjson, f"{signal}_request_to_otlp_json")(
        res, name, recs
    ) == text
