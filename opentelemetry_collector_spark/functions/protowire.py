"""Hand-rolled OTLP protobuf wire codec — the pdata ProtoMarshaler analog.

The reference's primary wire format is protobuf (pdata/plog/pb.go:24-40,
negotiated at receiver/otlpreceiver/encoder.go:30-36). This sandbox has no
``protobuf`` package, no ``spark-protobuf`` jar and no ``protoc``, so the
wire format is implemented directly from the two public specs it is built
from:

* the protobuf wire encoding (varint base-128, little-endian fixed64/32,
  length-delimited submessages; tag = field_number << 3 | wire_type);
* the OTLP field layout of ``opentelemetry/proto/{logs,trace,metrics}/v1``
  and ``common/v1/common.proto`` (field numbers below match the reference's
  generated pdata structs under pdata/internal/data/protogen/ — all three
  signals: LogRecord, Span incl. events/links/status, and Metric with
  gauge/sum/histogram/exponential_histogram/summary points + exemplars).

Everything here is pure Python over ``bytes`` — no Spark imports — so the
codec unit-tests run without a session and the Spark glue
(operators/protobuf.py) stays a thin Arrow-batched wrapper. Deployments
that ship the spark-protobuf jar can swap in the native
``from_protobuf``/``to_protobuf`` fast path (same bytes — this codec is the
conformance oracle for that swap); the gate is documented in
operators/protobuf.py alongside the Iceberg gate pattern of
sources/catalog.py.

proto3 presence semantics are preserved: zero/default-valued scalar fields
are omitted on encode and materialize as defaults on decode, exactly like
the reference's generated marshalers.
"""

from __future__ import annotations

import struct
from functools import partial
from typing import Any, Callable, Iterator

# wire types (protobuf encoding spec)
_VARINT = 0
_FIXED64 = 1
_LEN = 2
_FIXED32 = 5

_U64 = (1 << 64) - 1
_I64_MAX = (1 << 63) - 1


# --- primitive writers ------------------------------------------------------


def encode_varint(n: int) -> bytes:
    """Base-128 varint for n in [0, 2^64)."""
    if not 0 <= n <= _U64:
        raise ValueError(f"varint out of range: {n}")
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _tag(field: int, wire: int) -> bytes:
    return encode_varint((field << 3) | wire)


def _int64_field(field: int, v: int) -> bytes:
    # proto int64: negative values encode as 10-byte two's-complement varint
    return _tag(field, _VARINT) + encode_varint(v & _U64)


def _fixed64_field(field: int, v: int) -> bytes:
    return _tag(field, _FIXED64) + struct.pack("<Q", v & _U64)


def _fixed32_field(field: int, v: int) -> bytes:
    return _tag(field, _FIXED32) + struct.pack("<I", v & 0xFFFFFFFF)


def _double_field(field: int, v: float) -> bytes:
    return _tag(field, _FIXED64) + struct.pack("<d", v)


def _len_field(field: int, payload: bytes) -> bytes:
    return _tag(field, _LEN) + encode_varint(len(payload)) + payload


def _str_field(field: int, s: str) -> bytes:
    return _len_field(field, s.encode("utf-8"))


# --- primitive reader -------------------------------------------------------


def decode_varint(buf: bytes, pos: int) -> tuple[int, int]:
    """Returns (value, next_pos); raises ValueError on truncation/overlong."""
    result = 0
    shift = 0
    while True:
        if pos >= len(buf):
            raise ValueError("truncated varint")
        if shift > 63:
            raise ValueError("varint exceeds 64 bits")
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result & _U64, pos
        shift += 7


def iter_fields(buf: bytes) -> Iterator[tuple[int, int, Any]]:
    """Yield (field_number, wire_type, value) over one message's bytes.

    Values: int for VARINT/FIXED64/FIXED32 (unsigned), bytes for LEN.
    Unknown wire types raise — the reference's unmarshal does the same
    (proto cannot skip what it cannot size).
    """
    pos = 0
    n = len(buf)
    while pos < n:
        key, pos = decode_varint(buf, pos)
        field, wire = key >> 3, key & 0x7
        if field == 0:
            raise ValueError("field number 0 is reserved")
        if wire == _VARINT:
            v, pos = decode_varint(buf, pos)
        elif wire == _FIXED64:
            if pos + 8 > n:
                raise ValueError("truncated fixed64")
            v = struct.unpack_from("<Q", buf, pos)[0]
            pos += 8
        elif wire == _FIXED32:
            if pos + 4 > n:
                raise ValueError("truncated fixed32")
            v = struct.unpack_from("<I", buf, pos)[0]
            pos += 4
        elif wire == _LEN:
            ln, pos = decode_varint(buf, pos)
            if pos + ln > n:
                raise ValueError("truncated length-delimited field")
            v = buf[pos : pos + ln]
            pos += ln
        else:
            raise ValueError(f"unsupported wire type {wire}")
        yield field, wire, v


def _to_i64(u: int) -> int:
    return u - (1 << 64) if u > _I64_MAX else u


def _zigzag32(v: int) -> int:
    """sint32 zigzag encode (negative scales/offsets stay 1-2 bytes)."""
    return ((v << 1) ^ (v >> 31)) & 0xFFFFFFFF


def _unzigzag(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


def _sint32_field(field: int, v: int) -> bytes:
    return _tag(field, _VARINT) + encode_varint(_zigzag32(v))


def _packed_fixed64(field: int, vals: list[int]) -> bytes:
    if not vals:
        return b""
    return _len_field(field, b"".join(struct.pack("<Q", v & _U64) for v in vals))


def _packed_double(field: int, vals: list[float]) -> bytes:
    if not vals:
        return b""
    return _len_field(field, b"".join(struct.pack("<d", v) for v in vals))


def _packed_varint(field: int, vals: list[int]) -> bytes:
    if not vals:
        return b""
    return _len_field(field, b"".join(encode_varint(v) for v in vals))


def _unpack_fixed64(buf: bytes) -> list[int]:
    if len(buf) % 8:
        raise ValueError("packed fixed64 length not a multiple of 8")
    return [v[0] for v in struct.iter_unpack("<Q", buf)]


def _unpack_double(buf: bytes) -> list[float]:
    if len(buf) % 8:
        raise ValueError("packed double length not a multiple of 8")
    return [v[0] for v in struct.iter_unpack("<d", buf)]


def _unpack_varint(buf: bytes) -> list[int]:
    out, pos = [], 0
    while pos < len(buf):
        v, pos = decode_varint(buf, pos)
        out.append(v)
    return out


def _as_double(u: int) -> float:
    return struct.unpack("<d", struct.pack("<Q", u))[0]


# --- AnyValue / KeyValue (common.proto) --------------------------------------
# AnyValue oneof fields (pdata/pcommon/generated_value.go):
#   1 string_value, 2 bool_value, 3 int_value, 4 double_value,
#   5 array_value (ArrayValue{1: repeated AnyValue}),
#   6 kvlist_value (KeyValueList{1: repeated KeyValue}), 7 bytes_value
# KeyValue: 1 key (string), 2 value (AnyValue)


def encode_any_value(v: Any) -> bytes:
    if v is None:  # unset oneof == empty AnyValue message (zero bytes)
        return b""
    if isinstance(v, bool):  # before int — bool is an int subclass
        # oneof presence: False still encodes (explicit 0 varint)
        return _int64_field(2, 1 if v else 0)
    if isinstance(v, int):
        # AnyValue.int_value is int64 — Python ints are unbounded, and a
        # silent two's-complement wrap would corrupt the attribute
        if not -(1 << 63) <= v < (1 << 63):
            raise ValueError(f"int attribute out of int64 range: {v}")
        return _int64_field(3, v)
    if isinstance(v, float):
        return _double_field(4, v)
    if isinstance(v, str):
        return _str_field(1, v)
    if isinstance(v, (bytes, bytearray)):
        return _len_field(7, bytes(v))
    if isinstance(v, list):
        inner = b"".join(_len_field(1, encode_any_value(x)) for x in v)
        return _len_field(5, inner)
    if isinstance(v, dict):
        inner = b"".join(
            _len_field(1, encode_key_value(k, x)) for k, x in v.items()
        )
        return _len_field(6, inner)
    raise TypeError(f"unsupported AnyValue type: {type(v).__name__}")


def decode_any_value(buf: bytes) -> Any:
    val: Any = None  # empty AnyValue == unset oneof
    for field, _wire, v in iter_fields(buf):
        if field == 1:
            val = v.decode("utf-8")
        elif field == 2:
            val = bool(v)
        elif field == 3:
            val = _to_i64(v)
        elif field == 4:
            val = struct.unpack("<d", struct.pack("<Q", v))[0]
        elif field == 5:
            val = [
                decode_any_value(item)
                for f2, _w2, item in iter_fields(v)
                if f2 == 1
            ]
        elif field == 6:
            val = dict(
                decode_key_value(item)
                for f2, _w2, item in iter_fields(v)
                if f2 == 1
            )
        elif field == 7:
            val = bytes(v)
    return val


def encode_key_value(key: str, value: Any) -> bytes:
    return _str_field(1, key) + _len_field(2, encode_any_value(value))


def decode_key_value(buf: bytes) -> tuple[str, Any]:
    key = ""
    value: Any = None
    for field, _wire, v in iter_fields(buf):
        if field == 1:
            key = v.decode("utf-8")
        elif field == 2:
            value = decode_any_value(v)
    return key, value


def _attrs_block(field: int, attrs: dict[str, Any]) -> bytes:
    return b"".join(
        _len_field(field, encode_key_value(k, v))
        for k, v in attrs.items()
        if v is not None
    )


# --- Export*ServiceRequest envelope (one layout for all three signals) ------
# Export{Logs,Trace,Metrics}ServiceRequest:
#             1 repeated Resource{Logs,Spans,Metrics}
# Resource*:  1 Resource, 2 repeated Scope*, 3 schema_url
# Resource:   1 repeated KeyValue, 2 dropped_attributes_count
# Scope*:     1 InstrumentationScope, 2 repeated item (LogRecord, Span or
#             Metric), 3 schema_url
# InstrumentationScope: 1 name, 2 version, 3 repeated KeyValue


def _encode_request(
    encode_item: Callable[[dict[str, Any]], bytes],
    resource_attrs: dict[str, Any],
    scope_name: str,
    items: list[dict[str, Any]],
) -> bytes:
    """One request: one Resource{resource_attrs} -> one Scope{scope_name}
    -> items, each written by ``encode_item``."""
    resource = _attrs_block(1, resource_attrs)
    scope = _str_field(1, scope_name) if scope_name else b""
    scoped = _len_field(1, scope) + b"".join(
        _len_field(2, encode_item(x)) for x in items
    )
    return _len_field(1, _len_field(1, resource) + _len_field(2, scoped))


def _decode_request(
    decode_item: Callable[[bytes], dict[str, Any]], buf: bytes
) -> list[tuple[dict[str, Any], str, list[dict[str, Any]]]]:
    """Returns [(resource_attrs, scope_name, [item, ...]), ...] — one tuple
    per (Resource*, Scope*) pair, the receiver-side flatten (otlpreceiver
    encoder.go:30-133)."""
    out: list[tuple[dict[str, Any], str, list[dict[str, Any]]]] = []
    for f1, _w1, rx in iter_fields(bytes(buf)):
        if f1 != 1:
            continue
        resource_attrs: dict[str, Any] = {}
        for f2, _w2, v2 in iter_fields(rx):
            if f2 == 1:  # Resource
                for f3, _w3, v3 in iter_fields(v2):
                    if f3 == 1:
                        k, val = decode_key_value(v3)
                        resource_attrs[k] = val
        for f2, _w2, v2 in iter_fields(rx):
            if f2 != 2:  # Scope*
                continue
            scope_name = ""
            items: list[dict[str, Any]] = []
            for f3, _w3, v3 in iter_fields(v2):
                if f3 == 1:  # InstrumentationScope
                    for f4, _w4, v4 in iter_fields(v3):
                        if f4 == 1:
                            scope_name = v4.decode("utf-8")
                elif f3 == 2:
                    items.append(decode_item(v3))
            out.append((resource_attrs, scope_name, items))
    return out


# --- LogRecord (logs.proto) ---------------------------------------------------
# Field numbers (pdata/plog/generated_logrecord.go):
#   1 time_unix_nano (fixed64)      2 severity_number (varint enum)
#   3 severity_text (string)        5 body (AnyValue)
#   6 attributes (repeated KeyValue) 7 dropped_attributes_count (uint32)
#   8 flags (fixed32)               9 trace_id (bytes[16])
#  10 span_id (bytes[8])           11 observed_time_unix_nano (fixed64)


def encode_log_record(rec: dict[str, Any]) -> bytes:
    """rec keys (all optional, proto3 defaults omitted): time_unix_nano,
    severity_number, severity_text, body, attributes (ordered dict),
    dropped_attributes_count, flags, trace_id (bytes), span_id (bytes),
    observed_time_unix_nano."""
    out = bytearray()
    if rec.get("time_unix_nano"):
        out += _fixed64_field(1, rec["time_unix_nano"])
    if rec.get("severity_number"):
        out += _int64_field(2, rec["severity_number"])
    if rec.get("severity_text"):
        out += _str_field(3, rec["severity_text"])
    if rec.get("body") is not None:
        out += _len_field(5, encode_any_value(rec["body"]))
    out += _attrs_block(6, rec.get("attributes") or {})
    if rec.get("dropped_attributes_count"):
        out += _int64_field(7, rec["dropped_attributes_count"])
    if rec.get("flags"):
        out += _fixed32_field(8, rec["flags"])
    if rec.get("trace_id"):
        out += _len_field(9, rec["trace_id"])
    if rec.get("span_id"):
        out += _len_field(10, rec["span_id"])
    if rec.get("observed_time_unix_nano"):
        out += _fixed64_field(11, rec["observed_time_unix_nano"])
    return bytes(out)


def decode_log_record(buf: bytes) -> dict[str, Any]:
    rec: dict[str, Any] = {
        "time_unix_nano": 0,
        "severity_number": 0,
        "severity_text": "",
        "body": None,
        "attributes": {},
        "dropped_attributes_count": 0,
        "flags": 0,
        "trace_id": b"",
        "span_id": b"",
        "observed_time_unix_nano": 0,
    }
    for field, _wire, v in iter_fields(buf):
        if field == 1:
            rec["time_unix_nano"] = v
        elif field == 2:
            rec["severity_number"] = _to_i64(v)
        elif field == 3:
            rec["severity_text"] = v.decode("utf-8")
        elif field == 5:
            rec["body"] = decode_any_value(v)
        elif field == 6:
            k, val = decode_key_value(v)
            rec["attributes"][k] = val
        elif field == 7:
            rec["dropped_attributes_count"] = v
        elif field == 8:
            rec["flags"] = v
        elif field == 9:
            rec["trace_id"] = bytes(v)
        elif field == 10:
            rec["span_id"] = bytes(v)
        elif field == 11:
            rec["observed_time_unix_nano"] = v
    return rec


encode_logs_request = partial(_encode_request, encode_log_record)
decode_logs_request = partial(_decode_request, decode_log_record)


# --- ExportLogsServiceResponse (collector/logs/v1) ---------------------------


def encode_logs_response(
    rejected_log_records: int = 0, error_message: str = ""
) -> bytes:
    """ExportLogsServiceResponse wire bytes — field 1 is the
    ExportLogsPartialSuccess submessage {1: rejected_log_records int64,
    2: error_message string} (plogotlp/response.go +
    generated_exportpartialsuccess.go). Full success is the EMPTY response:
    the OTLP spec says servers MUST leave partial_success unset when
    nothing was rejected, so default values encode to zero bytes."""
    if not rejected_log_records and not error_message:
        return b""
    inner = bytearray()
    if rejected_log_records:
        inner += _int64_field(1, rejected_log_records)
    if error_message:
        inner += _str_field(2, error_message)
    return _len_field(1, bytes(inner))


def decode_logs_response(buf: bytes) -> dict[str, Any]:
    """Inverse of encode_logs_response:
    {'rejected_log_records': int, 'error_message': str}."""
    out: dict[str, Any] = {"rejected_log_records": 0, "error_message": ""}
    for f1, _w1, v1 in iter_fields(buf):
        if f1 != 1:
            continue
        for f2, _w2, v2 in iter_fields(v1):
            if f2 == 1:
                out["rejected_log_records"] = _to_i64(v2)
            elif f2 == 2:
                out["error_message"] = v2.decode("utf-8")
    return out


# --- Span (trace.proto) -------------------------------------------------------
# Field numbers (pdata/internal/data/protogen/trace/v1/trace.pb.go; this
# collector version's Span ends at 15 status — it predates Span.flags=16,
# so the wire codec matches the reference and the engine's flags column
# rides in the otelcol. attribute namespace like other engine columns):
#   1 trace_id (bytes[16])   2 span_id (bytes[8])   3 trace_state (string)
#   4 parent_span_id (bytes) 5 name (string)        6 kind (varint enum)
#   7 start_time_unix_nano   8 end_time_unix_nano   (both fixed64)
#   9 attributes (rep KV)   10 dropped_attributes_count
#  11 events (rep Event)    12 dropped_events_count
#  13 links (rep Link)      14 dropped_links_count  15 status (Status)
# Span.Event: 1 time_unix_nano (fixed64), 2 name, 3 attributes, 4 dropped
# Span.Link:  1 trace_id, 2 span_id, 3 trace_state, 4 attributes, 5 dropped
# Status:     2 message (string), 3 code (varint enum; field 1 deprecated)


def encode_span_event(ev: dict[str, Any]) -> bytes:
    out = bytearray()
    if ev.get("time_unix_nano"):
        out += _fixed64_field(1, ev["time_unix_nano"])
    if ev.get("name"):
        out += _str_field(2, ev["name"])
    out += _attrs_block(3, ev.get("attributes") or {})
    return bytes(out)


def decode_span_event(buf: bytes) -> dict[str, Any]:
    ev: dict[str, Any] = {"time_unix_nano": 0, "name": "", "attributes": {}}
    for field, _w, v in iter_fields(buf):
        if field == 1:
            ev["time_unix_nano"] = v
        elif field == 2:
            ev["name"] = v.decode("utf-8")
        elif field == 3:
            k, val = decode_key_value(v)
            ev["attributes"][k] = val
    return ev


def encode_span_link(ln: dict[str, Any]) -> bytes:
    out = bytearray()
    if ln.get("trace_id"):
        out += _len_field(1, ln["trace_id"])
    if ln.get("span_id"):
        out += _len_field(2, ln["span_id"])
    if ln.get("trace_state"):
        out += _str_field(3, ln["trace_state"])
    out += _attrs_block(4, ln.get("attributes") or {})
    return bytes(out)


def decode_span_link(buf: bytes) -> dict[str, Any]:
    ln: dict[str, Any] = {
        "trace_id": b"", "span_id": b"", "trace_state": "", "attributes": {},
    }
    for field, _w, v in iter_fields(buf):
        if field == 1:
            ln["trace_id"] = bytes(v)
        elif field == 2:
            ln["span_id"] = bytes(v)
        elif field == 3:
            ln["trace_state"] = v.decode("utf-8")
        elif field == 4:
            k, val = decode_key_value(v)
            ln["attributes"][k] = val
    return ln


def encode_span(sp: dict[str, Any]) -> bytes:
    out = bytearray()
    if sp.get("trace_id"):
        out += _len_field(1, sp["trace_id"])
    if sp.get("span_id"):
        out += _len_field(2, sp["span_id"])
    if sp.get("trace_state"):
        out += _str_field(3, sp["trace_state"])
    if sp.get("parent_span_id"):
        out += _len_field(4, sp["parent_span_id"])
    if sp.get("name"):
        out += _str_field(5, sp["name"])
    if sp.get("kind"):
        out += _int64_field(6, sp["kind"])
    if sp.get("start_time_unix_nano"):
        out += _fixed64_field(7, sp["start_time_unix_nano"])
    if sp.get("end_time_unix_nano"):
        out += _fixed64_field(8, sp["end_time_unix_nano"])
    out += _attrs_block(9, sp.get("attributes") or {})
    for ev in sp.get("events") or []:
        out += _len_field(11, encode_span_event(ev))
    for ln in sp.get("links") or []:
        out += _len_field(13, encode_span_link(ln))
    # Status presence mirrors pdata: encode when code or message is set
    # (Unset code + empty message == absent Status submessage)
    if sp.get("status_code") or sp.get("status_message"):
        st = bytearray()
        if sp.get("status_message"):
            st += _str_field(2, sp["status_message"])
        if sp.get("status_code"):
            st += _int64_field(3, sp["status_code"])
        out += _len_field(15, bytes(st))
    return bytes(out)


def decode_span(buf: bytes) -> dict[str, Any]:
    sp: dict[str, Any] = {
        "trace_id": b"", "span_id": b"", "trace_state": "",
        "parent_span_id": b"", "name": "", "kind": 0,
        "start_time_unix_nano": 0, "end_time_unix_nano": 0,
        "attributes": {}, "events": [], "links": [],
        "status_code": 0, "status_message": "",
    }
    for field, _w, v in iter_fields(buf):
        if field == 1:
            sp["trace_id"] = bytes(v)
        elif field == 2:
            sp["span_id"] = bytes(v)
        elif field == 3:
            sp["trace_state"] = v.decode("utf-8")
        elif field == 4:
            sp["parent_span_id"] = bytes(v)
        elif field == 5:
            sp["name"] = v.decode("utf-8")
        elif field == 6:
            sp["kind"] = _to_i64(v)
        elif field == 7:
            sp["start_time_unix_nano"] = v
        elif field == 8:
            sp["end_time_unix_nano"] = v
        elif field == 9:
            k, val = decode_key_value(v)
            sp["attributes"][k] = val
        elif field == 11:
            sp["events"].append(decode_span_event(v))
        elif field == 13:
            sp["links"].append(decode_span_link(v))
        elif field == 15:
            for f2, _w2, v2 in iter_fields(v):
                if f2 == 2:
                    sp["status_message"] = v2.decode("utf-8")
                elif f2 == 3:
                    sp["status_code"] = _to_i64(v2)
    return sp


encode_trace_request = partial(_encode_request, encode_span)
decode_trace_request = partial(_decode_request, decode_span)


# --- Metric (metrics.proto) ---------------------------------------------------
# Metric: 1 name, 2 description, 3 unit; data oneof: 5 gauge, 7 sum,
#   9 histogram, 10 exponential_histogram, 11 summary
# Gauge{1 rep NumberDataPoint}; Sum{1 rep NDP, 2 temporality, 3 monotonic};
# Histogram{1 rep HDP, 2 temporality}; ExpHistogram{1 rep EHDP, 2 temp};
# Summary{1 rep SDP}
# NumberDataPoint: 7 attrs, 2 start, 3 time (fixed64), 4 as_double,
#   6 as_int (both fixed64 oneof), 5 exemplars, 8 flags
# HistogramDataPoint: 9 attrs, 2 start, 3 time, 4 count (fixed64),
#   5 sum (double oneof), 6 bucket_counts (packed fixed64),
#   7 explicit_bounds (packed double), 8 exemplars, 10 flags, 11 min, 12 max
# ExponentialHistogramDataPoint: 1 attrs, 2 start, 3 time, 4 count,
#   5 sum, 6 scale (zigzag32), 7 zero_count (fixed64), 8 positive,
#   9 negative (Buckets{1 offset zigzag32, 2 bucket_counts packed varint}),
#   10 flags, 11 exemplars, 12 min, 13 max
# SummaryDataPoint: 7 attrs, 2 start, 3 time, 4 count (fixed64),
#   5 sum (double, NOT oneof), 6 rep ValueAtQuantile{1 quantile, 2 value}
# Exemplar: 7 filtered_attributes, 2 time (fixed64), 3 as_double,
#   6 as_int (oneof), 4 span_id, 5 trace_id

AGG_TEMPORALITY_DELTA = 1
AGG_TEMPORALITY_CUMULATIVE = 2

_METRIC_DATA_FIELD = {
    "gauge": 5, "sum": 7, "histogram": 9,
    "exponential_histogram": 10, "summary": 11,
}
_METRIC_DATA_TYPE = {v: k for k, v in _METRIC_DATA_FIELD.items()}


def _encode_point_common(dp: dict[str, Any], attrs_field: int) -> bytes:
    out = bytearray()
    out += _attrs_block(attrs_field, dp.get("attributes") or {})
    if dp.get("start_time_unix_nano"):
        out += _fixed64_field(2, dp["start_time_unix_nano"])
    if dp.get("time_unix_nano"):
        out += _fixed64_field(3, dp["time_unix_nano"])
    return bytes(out)


def encode_exemplar(ex: dict[str, Any]) -> bytes:
    out = bytearray()
    out += _attrs_block(7, ex.get("filtered_attributes") or {})
    if ex.get("time_unix_nano"):
        out += _fixed64_field(2, ex["time_unix_nano"])
    if ex.get("as_int") is not None:
        out += _tag(6, _FIXED64) + struct.pack("<q", ex["as_int"])
    elif ex.get("as_double") is not None:
        out += _double_field(3, ex["as_double"])
    if ex.get("span_id"):
        out += _len_field(4, ex["span_id"])
    if ex.get("trace_id"):
        out += _len_field(5, ex["trace_id"])
    return bytes(out)


def decode_exemplar(buf: bytes) -> dict[str, Any]:
    ex: dict[str, Any] = {
        "filtered_attributes": {}, "time_unix_nano": 0,
        "as_double": None, "as_int": None, "span_id": b"", "trace_id": b"",
    }
    for field, _w, v in iter_fields(buf):
        if field == 7:
            k, val = decode_key_value(v)
            ex["filtered_attributes"][k] = val
        elif field == 2:
            ex["time_unix_nano"] = v
        elif field == 3:
            ex["as_double"] = _as_double(v)
        elif field == 6:
            ex["as_int"] = struct.unpack("<q", struct.pack("<Q", v))[0]
        elif field == 4:
            ex["span_id"] = bytes(v)
        elif field == 5:
            ex["trace_id"] = bytes(v)
    return ex


def encode_number_point(dp: dict[str, Any]) -> bytes:
    out = bytearray(_encode_point_common(dp, 7))
    # oneof value: as_int wins when both set (pdata's ValueType switch)
    if dp.get("as_int") is not None:
        out += _tag(6, _FIXED64) + struct.pack("<q", dp["as_int"])
    elif dp.get("as_double") is not None:
        out += _double_field(4, dp["as_double"])
    for ex in dp.get("exemplars") or []:
        out += _len_field(5, encode_exemplar(ex))
    if dp.get("flags"):
        out += _int64_field(8, dp["flags"])
    return bytes(out)


def decode_number_point(buf: bytes) -> dict[str, Any]:
    dp: dict[str, Any] = {
        "attributes": {}, "start_time_unix_nano": 0, "time_unix_nano": 0,
        "as_double": None, "as_int": None, "exemplars": [], "flags": 0,
    }
    for field, _w, v in iter_fields(buf):
        if field == 7:
            k, val = decode_key_value(v)
            dp["attributes"][k] = val
        elif field == 2:
            dp["start_time_unix_nano"] = v
        elif field == 3:
            dp["time_unix_nano"] = v
        elif field == 4:
            dp["as_double"] = _as_double(v)
        elif field == 6:
            dp["as_int"] = struct.unpack("<q", struct.pack("<Q", v))[0]
        elif field == 5:
            dp["exemplars"].append(decode_exemplar(v))
        elif field == 8:
            dp["flags"] = v
    return dp


def encode_histogram_point(dp: dict[str, Any]) -> bytes:
    out = bytearray(_encode_point_common(dp, 9))
    if dp.get("count"):
        out += _fixed64_field(4, dp["count"])
    if dp.get("sum") is not None:
        out += _double_field(5, dp["sum"])
    out += _packed_fixed64(6, dp.get("bucket_counts") or [])
    out += _packed_double(7, dp.get("explicit_bounds") or [])
    for ex in dp.get("exemplars") or []:
        out += _len_field(8, encode_exemplar(ex))
    if dp.get("flags"):
        out += _int64_field(10, dp["flags"])
    if dp.get("min") is not None:
        out += _double_field(11, dp["min"])
    if dp.get("max") is not None:
        out += _double_field(12, dp["max"])
    return bytes(out)


def decode_histogram_point(buf: bytes) -> dict[str, Any]:
    dp: dict[str, Any] = {
        "attributes": {}, "start_time_unix_nano": 0, "time_unix_nano": 0,
        "count": 0, "sum": None, "bucket_counts": [], "explicit_bounds": [],
        "exemplars": [], "flags": 0, "min": None, "max": None,
    }
    for field, wire, v in iter_fields(buf):
        if field == 9:
            k, val = decode_key_value(v)
            dp["attributes"][k] = val
        elif field == 2:
            dp["start_time_unix_nano"] = v
        elif field == 3:
            dp["time_unix_nano"] = v
        elif field == 4:
            dp["count"] = v
        elif field == 5:
            dp["sum"] = _as_double(v)
        elif field == 6:
            dp["bucket_counts"] = (
                _unpack_fixed64(v) if wire == _LEN
                else dp["bucket_counts"] + [v]  # unpacked fallback
            )
        elif field == 7:
            dp["explicit_bounds"] = (
                _unpack_double(v) if wire == _LEN
                else dp["explicit_bounds"] + [_as_double(v)]
            )
        elif field == 8:
            dp["exemplars"].append(decode_exemplar(v))
        elif field == 10:
            dp["flags"] = v
        elif field == 11:
            dp["min"] = _as_double(v)
        elif field == 12:
            dp["max"] = _as_double(v)
    return dp


def _encode_exp_buckets(b: dict[str, Any]) -> bytes:
    out = bytearray()
    if b.get("offset"):
        out += _sint32_field(1, b["offset"])
    out += _packed_varint(2, b.get("bucket_counts") or [])
    return bytes(out)


def _decode_exp_buckets(buf: bytes) -> dict[str, Any]:
    b: dict[str, Any] = {"offset": 0, "bucket_counts": []}
    for field, wire, v in iter_fields(buf):
        if field == 1:
            b["offset"] = _unzigzag(v)
        elif field == 2:
            b["bucket_counts"] = (
                _unpack_varint(v) if wire == _LEN
                else b["bucket_counts"] + [v]
            )
    return b


def encode_exp_histogram_point(dp: dict[str, Any]) -> bytes:
    out = bytearray(_encode_point_common(dp, 1))
    if dp.get("count"):
        out += _fixed64_field(4, dp["count"])
    if dp.get("sum") is not None:
        out += _double_field(5, dp["sum"])
    if dp.get("scale"):
        out += _sint32_field(6, dp["scale"])
    if dp.get("zero_count"):
        out += _fixed64_field(7, dp["zero_count"])
    # emit buckets only when non-default: the decoder materializes
    # {'offset': 0, 'bucket_counts': []} for an ABSENT submessage, and an
    # explicit empty length-delimited field would break the byte-identical
    # decode->re-encode property (proto3 omits default submessages)
    for field_no, key in ((8, "positive"), (9, "negative")):
        b = dp.get(key)
        if b and (b.get("offset") or b.get("bucket_counts")):
            out += _len_field(field_no, _encode_exp_buckets(b))
    if dp.get("flags"):
        out += _int64_field(10, dp["flags"])
    for ex in dp.get("exemplars") or []:
        out += _len_field(11, encode_exemplar(ex))
    if dp.get("min") is not None:
        out += _double_field(12, dp["min"])
    if dp.get("max") is not None:
        out += _double_field(13, dp["max"])
    return bytes(out)


def decode_exp_histogram_point(buf: bytes) -> dict[str, Any]:
    dp: dict[str, Any] = {
        "attributes": {}, "start_time_unix_nano": 0, "time_unix_nano": 0,
        "count": 0, "sum": None, "scale": 0, "zero_count": 0,
        "positive": {"offset": 0, "bucket_counts": []},
        "negative": {"offset": 0, "bucket_counts": []},
        "exemplars": [], "flags": 0, "min": None, "max": None,
    }
    for field, _w, v in iter_fields(buf):
        if field == 1:
            k, val = decode_key_value(v)
            dp["attributes"][k] = val
        elif field == 2:
            dp["start_time_unix_nano"] = v
        elif field == 3:
            dp["time_unix_nano"] = v
        elif field == 4:
            dp["count"] = v
        elif field == 5:
            dp["sum"] = _as_double(v)
        elif field == 6:
            dp["scale"] = _unzigzag(v)
        elif field == 7:
            dp["zero_count"] = v
        elif field == 8:
            dp["positive"] = _decode_exp_buckets(v)
        elif field == 9:
            dp["negative"] = _decode_exp_buckets(v)
        elif field == 10:
            dp["flags"] = v
        elif field == 11:
            dp["exemplars"].append(decode_exemplar(v))
        elif field == 12:
            dp["min"] = _as_double(v)
        elif field == 13:
            dp["max"] = _as_double(v)
    return dp


def encode_summary_point(dp: dict[str, Any]) -> bytes:
    out = bytearray(_encode_point_common(dp, 7))
    if dp.get("count"):
        out += _fixed64_field(4, dp["count"])
    if dp.get("sum"):  # plain double, proto3 default-omitted (not a oneof)
        out += _double_field(5, dp["sum"])
    for qv in dp.get("quantile_values") or []:
        inner = bytearray()
        if qv.get("quantile"):
            inner += _double_field(1, qv["quantile"])
        if qv.get("value"):
            inner += _double_field(2, qv["value"])
        out += _len_field(6, bytes(inner))
    if dp.get("flags"):
        out += _int64_field(8, dp["flags"])
    return bytes(out)


def decode_summary_point(buf: bytes) -> dict[str, Any]:
    dp: dict[str, Any] = {
        "attributes": {}, "start_time_unix_nano": 0, "time_unix_nano": 0,
        "count": 0, "sum": 0.0, "quantile_values": [], "flags": 0,
    }
    for field, _w, v in iter_fields(buf):
        if field == 7:
            k, val = decode_key_value(v)
            dp["attributes"][k] = val
        elif field == 2:
            dp["start_time_unix_nano"] = v
        elif field == 3:
            dp["time_unix_nano"] = v
        elif field == 4:
            dp["count"] = v
        elif field == 5:
            dp["sum"] = _as_double(v)
        elif field == 6:
            qv = {"quantile": 0.0, "value": 0.0}
            for f2, _w2, v2 in iter_fields(v):
                if f2 == 1:
                    qv["quantile"] = _as_double(v2)
                elif f2 == 2:
                    qv["value"] = _as_double(v2)
            dp["quantile_values"].append(qv)
        elif field == 8:
            dp["flags"] = v
    return dp


_POINT_CODEC = {
    "gauge": (encode_number_point, decode_number_point),
    "sum": (encode_number_point, decode_number_point),
    "histogram": (encode_histogram_point, decode_histogram_point),
    "exponential_histogram": (
        encode_exp_histogram_point, decode_exp_histogram_point,
    ),
    "summary": (encode_summary_point, decode_summary_point),
}


def encode_metric(m: dict[str, Any]) -> bytes:
    """m: name/description/unit, type (gauge|sum|histogram|
    exponential_histogram|summary), data_points (list of point dicts),
    aggregation_temporality (sum/histogram/exp), is_monotonic (sum)."""
    mtype = m["type"]
    if mtype not in _POINT_CODEC:
        # a dataless Metric (name-only, unset data oneof) decodes to
        # type=None — re-encoding needs an explicit contract, not KeyError
        raise ValueError(
            f"metric {m.get('name')!r} has no encodable data oneof "
            f"(type={mtype!r}; expected one of {sorted(_POINT_CODEC)})"
        )
    enc, _ = _POINT_CODEC[mtype]
    data = bytearray()
    for dp in m.get("data_points") or []:
        data += _len_field(1, enc(dp))
    if mtype in ("sum", "histogram", "exponential_histogram") and m.get(
        "aggregation_temporality"
    ):
        data += _int64_field(2, m["aggregation_temporality"])
    if mtype == "sum" and m.get("is_monotonic"):
        data += _int64_field(3, 1)
    out = bytearray()
    if m.get("name"):
        out += _str_field(1, m["name"])
    if m.get("description"):
        out += _str_field(2, m["description"])
    if m.get("unit"):
        out += _str_field(3, m["unit"])
    out += _len_field(_METRIC_DATA_FIELD[mtype], bytes(data))
    return bytes(out)


def decode_metric(buf: bytes) -> dict[str, Any]:
    m: dict[str, Any] = {
        "name": "", "description": "", "unit": "", "type": None,
        "data_points": [], "aggregation_temporality": 0,
        "is_monotonic": False,
    }
    for field, _w, v in iter_fields(buf):
        if field == 1:
            m["name"] = v.decode("utf-8")
        elif field == 2:
            m["description"] = v.decode("utf-8")
        elif field == 3:
            m["unit"] = v.decode("utf-8")
        elif field in _METRIC_DATA_TYPE:
            mtype = _METRIC_DATA_TYPE[field]
            m["type"] = mtype
            _, dec = _POINT_CODEC[mtype]
            for f2, _w2, v2 in iter_fields(v):
                if f2 == 1:
                    m["data_points"].append(dec(v2))
                elif f2 == 2:
                    m["aggregation_temporality"] = _to_i64(v2)
                elif f2 == 3:
                    m["is_monotonic"] = bool(v2)
    return m


encode_metrics_request = partial(_encode_request, encode_metric)
decode_metrics_request = partial(_decode_request, decode_metric)
