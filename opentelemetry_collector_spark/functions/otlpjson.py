"""OTLP/JSON wire codec — the spec-exact JSON encoding of all three signals
(pdata/plog/internal/plogjson/json.go, pdata/ptrace/internal/ptracejson/
json.go:29, pdata/pmetric/internal/pmetricjson/json.go:29; public OTLP/JSON
spec = proto3 JSON mapping with OTLP special cases; the reference's
marshaler is gogo jsonpb with EnumsAsInts=true, OrigName=false). The
reference negotiates protobuf OR JSON on the OTLP/HTTP endpoint
(receiver/otlpreceiver/encoder.go:30-36); this module is the JSON twin of
functions/protowire.py. It has no layout of its own: ``message_to_json``
and ``message_from_json`` walk protowire's message table, so both wires
share one field order, one set of presence rules and the same record
dicts, and `decode_json(encode_json(r)) == decode_pb(encode_pb(r))` holds
for every message.

Encoding rules (proto3 JSON + OTLP deviations), by the table's kinds:
- member names are the lowerCamelCase of the proto names (proto3 JSON:
  drop each underscore and upper-case the letter after it); proto3
  default values (0, "", empty) omitted;
- int64, fixed64 and sfixed64 (timeUnixNano, count, asInt, bucketCounts)
  ride as decimal STRINGS; uint32, fixed32, sint32 and enums
  (EnumsAsInts) as numbers;
- trace_id/span_id are HEX strings (the OTLP special case — plain proto3
  JSON would base64 them);
- non-finite doubles are the strings "NaN" / "Infinity" / "-Infinity";
- bytes values are base64; AnyValue uses the typed object encoding
  ({"stringValue": ...}, {"intValue": "42"}, ...);
- attributes are a KeyValue LIST [{"key": k, "value": {...}}] (map order
  is meaningful in pdata, so it is not a JSON object).

Pure Python — used inside Arrow-batched mapInPandas by the operators in
operators/protobuf.py, same scale shape as the protobuf codec.
"""

from __future__ import annotations

import base64
import json
from functools import partial
from math import isfinite
from operator import methodcaller
from typing import Any

from opentelemetry_collector_spark.functions.protowire import (
    ALWAYS,
    ANY,
    ATTRS,
    BOOL,
    DOUBLE,
    ENUM,
    EXEMPLAR,
    EXP_HISTOGRAM_POINT,
    FIXED32,
    FIXED64,
    HISTOGRAM_POINT,
    ID,
    IMPLICIT,
    INLINE,
    INT64,
    LOG_RECORD,
    LOGS_REQUEST,
    LOGS_RESPONSE,
    MESSAGE,
    MESSAGES,
    METRIC,
    METRICS_REQUEST,
    NUMBER_POINT,
    ONEOF,
    PACKED_DOUBLE,
    PACKED_FIXED64,
    PACKED_UINT64,
    SFIXED64,
    SINT32,
    SPAN,
    SPAN_EVENT,
    SPAN_LINK,
    SUMMARY_POINT,
    TRACE_REQUEST,
    UINT32,
    UNLESS_INT,
    _LEN,
    Message,
    check_range,
    flatten_request,
    request_record,
)


def any_value_to_otlp_json(v: Any) -> dict[str, Any]:
    """One AnyValue (natural Python form) -> OTLP/JSON typed object."""
    if isinstance(v, str):
        return {"stringValue": v}
    if v is None:
        return {}  # unset oneof == empty object
    if isinstance(v, bool):  # before int — bool is an int subclass
        return {"boolValue": v}
    if isinstance(v, int):
        if not INT64.lo <= v < INT64.hi:
            check_range(INT64, v, "AnyValue.int_value")
        return {"intValue": str(v)}  # int64 rides as a decimal string
    if isinstance(v, float):
        return {"doubleValue": _jdouble(v)}
    if isinstance(v, (bytes, bytearray)):
        return {"bytesValue": base64.b64encode(bytes(v)).decode("ascii")}
    if isinstance(v, list):
        return {"arrayValue": {"values": [any_value_to_otlp_json(x) for x in v]}}
    if isinstance(v, dict):
        return {"kvlistValue": {"values": _attrs_to_json(v)}}
    raise TypeError(f"unsupported AnyValue type: {type(v).__name__}")


def any_value_from_otlp_json(d: dict[str, Any]) -> Any:
    """OTLP/JSON typed object -> natural Python AnyValue (inverse of the
    above: decode(encode(v)) == v for all 7 types)."""
    if not d:
        return None
    if "boolValue" in d:
        return bool(d["boolValue"])
    if "intValue" in d:
        return int(d["intValue"])
    if "doubleValue" in d:
        return float(d["doubleValue"])
    if "stringValue" in d:
        return d["stringValue"]
    if "bytesValue" in d:
        return base64.b64decode(d["bytesValue"])
    if "arrayValue" in d:
        return [
            any_value_from_otlp_json(x)
            for x in d["arrayValue"].get("values", [])
        ]
    if "kvlistValue" in d:
        return _attrs_from_json(d["kvlistValue"].get("values", []))
    raise ValueError(f"unrecognized OTLP/JSON AnyValue: {sorted(d)}")


_UNSET: dict[str, Any] = {}  # an absent KeyValue.value: the empty AnyValue


def _attrs_to_json(attrs: dict[str, Any]) -> list[dict[str, Any]]:
    return [
        {"key": k, "value": any_value_to_otlp_json(v)} for k, v in attrs.items()
    ]


def _attrs_from_json(lst: list[dict[str, Any]]) -> dict[str, Any]:
    return {
        kv["key"]: any_value_from_otlp_json(kv.get("value", _UNSET))
        for kv in lst
    }


def _jdouble(v: float) -> Any:
    """jsonpb double encoding: non-finite -> the spec strings, else the
    number itself (bare NaN/Infinity tokens are invalid JSON, and the
    reference's marshaler never emits them)."""
    if isfinite(v):
        return v
    return "NaN" if v != v else "Infinity" if v > 0 else "-Infinity"


def _jdoubles(vs: list[float]) -> list[Any]:
    return list(vs) if all(map(isfinite, vs)) else list(map(_jdouble, vs))


# The OTLP special cases, by kind: (to JSON, from JSON). 64-bit integers
# ride as decimal strings, 32-bit ones and enums as numbers, ids as hex and
# non-finite doubles as the spec strings. A None converter passes the value
# through; a kind missing here (a string, a message) has none.
_KIND_JSON = {
    ENUM: (None, int),
    UINT32: (None, int),
    FIXED32: (None, int),
    SINT32: (None, int),
    INT64: (str, int),
    FIXED64: (str, int),
    SFIXED64: (str, int),
    BOOL: (bool, bool),
    DOUBLE: (_jdouble, float),
    ID: (methodcaller("hex"), bytes.fromhex),
    ANY: (any_value_to_otlp_json, any_value_from_otlp_json),
    ATTRS: (_attrs_to_json, _attrs_from_json),
    PACKED_UINT64: (lambda v: list(map(str, v)), lambda v: list(map(int, v))),
    PACKED_FIXED64: (lambda v: list(map(str, v)), lambda v: list(map(int, v))),
    PACKED_DOUBLE: (_jdoubles, lambda v: list(map(float, v))),
}


def _json_name(name: str) -> str:
    """proto3 JSON's lowerCamelCase member name of a snake_case field."""
    first, *rest = name.split("_")
    return first + "".join(w[:1].upper() + w[1:] for w in rest)


# encoder modes: a proto3 default-omitted scalar or list, without (_PLAIN)
# or with (_RANGED) a scalar range to check; one member of a data oneof
# (_MEMBER); any other presence rule, a packed range or a singular
# message (_OTHER)
_PLAIN, _RANGED, _MEMBER, _OTHER = range(4)

# Each message's walk, compiled once from the table; a submessage's walk is
# bound into its field.
_ENCODERS: dict[Message, tuple] = {}
_DECODERS: dict[Message, tuple] = {}


def _encoder(msg: Message) -> tuple:
    if msg not in _ENCODERS:
        fields = []
        for key, f in zip(msg.keys, msg.fields):
            kind = f.kind
            sub = None if f.message is None else _encoder(f.message)
            if kind is MESSAGES:
                to_json = partial(_messages_to_json, sub)
            else:
                to_json = _KIND_JSON.get(kind, (None, None))[0]
            if f.presence is ONEOF:
                mode = _MEMBER
            elif f.presence is not IMPLICIT or kind in (MESSAGE, INLINE) or (
                kind.lo is not None and kind.wire == _LEN
            ):
                mode = _OTHER
            else:
                mode = _PLAIN if kind.lo is None else _RANGED
            fields.append((key, _json_name(f.name), to_json, mode, f, sub))
        _ENCODERS[msg] = (msg, tuple(fields))
    return _ENCODERS[msg]


def _decoder(msg: Message) -> tuple:
    """(defaults, converted fields, plain fields, message fields, inline
    containers): the fields grouped by how a member decodes. A container
    field carries the factory of its empty value, for when it is absent;
    an INLINE field's key is the oneof member it names, if any. The inline
    containers are those of a data oneof, for when no member is present."""
    if msg not in _DECODERS:
        converted, plain, messages = [], [], []
        fresh = dict(msg._fresh)
        for key, f in zip(msg.keys, msg.fields):
            jname = _json_name(f.name)
            empty = fresh.pop(key, None)
            if f.kind is INLINE:
                member = f.name if f.presence is ONEOF else None
                messages.append(
                    (jname, member, INLINE, _decoder(f.message), None)
                )
            elif f.message is not None:
                messages.append(
                    (jname, key, f.kind, _decoder(f.message), empty)
                )
            elif f.kind in _KIND_JSON:
                converted.append((jname, key, _KIND_JSON[f.kind][1], empty))
            else:
                plain.append((jname, key))
        _DECODERS[msg] = (
            msg._zeros, tuple(converted), tuple(plain), tuple(messages),
            tuple(fresh.items()),
        )
    return _DECODERS[msg]


def _to_json(plan: tuple, rec: dict[str, Any]) -> dict[str, Any]:
    msg, fields = plan
    if msg.oneof:
        msg.check_oneof(rec)
    out: dict[str, Any] = {}
    for key, jname, to_json, mode, f, sub in fields:
        if mode is _PLAIN:
            v = rec.get(key)
            if v:
                out[jname] = v if to_json is None else to_json(v)
            continue
        if mode is _RANGED:
            v = rec.get(key)
            if v:
                kind = f.kind
                if not kind.lo <= v < kind.hi:
                    check_range(kind, v, f"{msg.name}.{f.name}")
                out[jname] = v if to_json is None else to_json(v)
            continue
        if mode is _MEMBER:
            if rec["type"] == key:
                out[jname] = _to_json(sub, rec)
            continue
        kind, presence = f.kind, f.presence
        if kind is INLINE:
            inline = _to_json(sub, rec)
            if inline:
                out[jname] = inline
            continue
        v = rec.get(key)
        if presence is IMPLICIT:
            if not v:
                continue
        elif presence is ALWAYS:
            if v is None:
                v = [] if kind is MESSAGES else {}
        elif v is None or presence is UNLESS_INT and (
            rec.get("as_int") is not None
        ):
            continue
        if kind is MESSAGE:
            v = _to_json(sub, v)
            if v or presence is not IMPLICIT:
                out[jname] = v
            continue
        if kind.lo is not None:
            check_range(kind, v, f"{msg.name}.{f.name}")
        out[jname] = v if to_json is None else to_json(v)
    return out


def _messages_to_json(plan: tuple, recs: list) -> list[dict[str, Any]]:
    return [_to_json(plan, r) for r in recs]


def _from_json(
    plan: tuple, d: dict[str, Any], rec: dict[str, Any] | None = None
) -> dict[str, Any]:
    """Decode ``d`` into ``rec``, a new record by default."""
    zeros, converted, plain, messages, inline_fresh = plan
    if rec is None:
        rec = zeros.copy()
    for jname, key, from_json, empty in converted:
        v = d.get(jname)
        if v is not None:
            rec[key] = from_json(v)
        elif empty is not None:
            rec[key] = empty()
    for jname, key in plain:
        v = d.get(jname)
        if v is not None:
            rec[key] = v
    if not messages:  # most messages end here
        return rec
    for jname, key, kind, sub, empty in messages:
        v = d.get(jname)
        if v is None:
            if empty is not None:
                rec[key] = empty()
        elif kind is MESSAGES:
            rec[key] = [_from_json(sub, x) for x in v]
        elif kind is MESSAGE:
            rec[key] = _from_json(sub, v)
        else:  # INLINE: the submessage's fields are this record's
            if key is not None:
                rec["type"] = key
            _from_json(sub, v, rec)
    for key, empty in inline_fresh:  # an absent oneof's containers
        if rec[key] is None:
            rec[key] = empty()
    return rec


def message_to_json(msg: Message, rec: dict[str, Any]) -> dict[str, Any]:
    """One record -> ``msg``'s OTLP/JSON object (absent keys are defaults;
    the protobuf wire's presence rules decide which members appear)."""
    return _to_json(_encoder(msg), rec)


def message_from_json(msg: Message, doc: dict[str, Any] | str) -> dict[str, Any]:
    """``msg``'s OTLP/JSON object (or its text) -> the record, absent
    members at their defaults: exactly what protowire.decode_message
    yields for the same message on the protobuf wire."""
    if isinstance(doc, (str, bytes, bytearray)):
        doc = json.loads(doc)
    return _from_json(_decoder(msg), doc)


# Compact separators and table field order give deterministic bytes, so
# encode(decode(s)) == s for documents this module wrote. allow_nan=False
# enforces the double rule: a bare NaN/Infinity token would be a codec bug.
# The documents are trees built fresh by message_to_json, so the cycle
# check is skipped.
_dumps = json.JSONEncoder(
    separators=(",", ":"), allow_nan=False, check_circular=False
).encode


def request_to_otlp_json(
    msg: Message,
    resource_attrs: dict[str, Any],
    scope_name: str,
    items: list[dict[str, Any]],
) -> str:
    rec = request_record(msg, resource_attrs, scope_name, items)
    return _dumps(message_to_json(msg, rec))


def request_from_otlp_json(
    msg: Message, s: str
) -> list[tuple[dict[str, Any], str, list[dict[str, Any]]]]:
    """OTLP/JSON text -> [(resource_attrs, scope_name, [item, ...])] — the
    flatten shape of protowire's request decoders. Strict: malformed JSON
    raises (the receiver rejects the request)."""
    return flatten_request(msg, message_from_json(msg, s))


def logs_response_to_otlp_json(
    rejected_log_records: int = 0, error_message: str = ""
) -> str:
    """ExportLogsServiceResponse as OTLP/JSON text; full success is "{}"
    (the HTTP receiver answers JSON requests with JSON responses,
    receiver/otlpreceiver/encoder.go:30-36)."""
    return _dumps(message_to_json(LOGS_RESPONSE, {
        "rejected_log_records": rejected_log_records,
        "error_message": error_message,
    }))


# --- the per-message names -----------------------------------------------------

log_record_to_otlp_json = partial(message_to_json, LOG_RECORD)
log_record_from_otlp_json = partial(message_from_json, LOG_RECORD)
logs_request_to_otlp_json = partial(request_to_otlp_json, LOGS_REQUEST)
logs_request_from_otlp_json = partial(request_from_otlp_json, LOGS_REQUEST)
logs_response_from_otlp_json = partial(message_from_json, LOGS_RESPONSE)
span_event_to_otlp_json = partial(message_to_json, SPAN_EVENT)
span_event_from_otlp_json = partial(message_from_json, SPAN_EVENT)
span_link_to_otlp_json = partial(message_to_json, SPAN_LINK)
span_link_from_otlp_json = partial(message_from_json, SPAN_LINK)
span_to_otlp_json = partial(message_to_json, SPAN)
span_from_otlp_json = partial(message_from_json, SPAN)
trace_request_to_otlp_json = partial(request_to_otlp_json, TRACE_REQUEST)
trace_request_from_otlp_json = partial(request_from_otlp_json, TRACE_REQUEST)
exemplar_to_otlp_json = partial(message_to_json, EXEMPLAR)
exemplar_from_otlp_json = partial(message_from_json, EXEMPLAR)
number_point_to_otlp_json = partial(message_to_json, NUMBER_POINT)
number_point_from_otlp_json = partial(message_from_json, NUMBER_POINT)
histogram_point_to_otlp_json = partial(message_to_json, HISTOGRAM_POINT)
histogram_point_from_otlp_json = partial(message_from_json, HISTOGRAM_POINT)
exp_histogram_point_to_otlp_json = partial(message_to_json, EXP_HISTOGRAM_POINT)
exp_histogram_point_from_otlp_json = partial(
    message_from_json, EXP_HISTOGRAM_POINT
)
summary_point_to_otlp_json = partial(message_to_json, SUMMARY_POINT)
summary_point_from_otlp_json = partial(message_from_json, SUMMARY_POINT)
metric_to_otlp_json = partial(message_to_json, METRIC)
metric_from_otlp_json = partial(message_from_json, METRIC)
metrics_request_to_otlp_json = partial(request_to_otlp_json, METRICS_REQUEST)
metrics_request_from_otlp_json = partial(request_from_otlp_json, METRICS_REQUEST)
