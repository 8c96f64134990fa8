"""OTLP/JSON wire codec — the spec-exact JSON encoding of all three signals
(pdata/plog/internal/plogjson/json.go, pdata/ptrace/internal/ptracejson/
json.go:29, pdata/pmetric/internal/pmetricjson/json.go:29; public OTLP/JSON
spec = proto3 JSON mapping with OTLP special cases; the reference's
marshaler is gogo jsonpb with EnumsAsInts=true, OrigName=false). The
reference negotiates protobuf OR JSON on the OTLP/HTTP endpoint
(receiver/otlpreceiver/encoder.go:30-36); this module is the JSON twin of
functions/protowire.py, sharing the SAME record dict shapes, so
`decode_json(encode_json(r)) == decode_pb(encode_pb(r))` is a testable
conformance property for every signal.

Encoding rules implemented (proto3 JSON + OTLP deviations):
- field names lowerCamelCase; proto3 default values (0, "", empty) omitted;
- 64-bit ints (timeUnixNano) ride as decimal STRINGS;
- trace_id/span_id are HEX strings (the OTLP special case — plain proto3
  JSON would base64 them);
- bytes values are base64; AnyValue uses the typed object encoding
  ({"stringValue": ...}, {"intValue": "42"}, ...);
- attributes are a KeyValue LIST [{"key": k, "value": {...}}] (map order
  is meaningful in pdata, so it is not a JSON object).

Pure Python — used inside Arrow-batched mapInPandas by the operators in
operators/protobuf.py, same scale shape as the protobuf codec.
"""

from __future__ import annotations

import json
from functools import partial
from typing import Any, Callable


def any_value_to_otlp_json(v: Any) -> dict[str, Any]:
    """One AnyValue (natural Python form) -> OTLP/JSON typed object."""
    if v is None:
        return {}  # unset oneof == empty object
    if isinstance(v, bool):
        return {"boolValue": v}
    if isinstance(v, int):
        return {"intValue": str(v)}  # int64 rides as a decimal string
    if isinstance(v, float):
        # proto3 JSON maps non-finite doubles to the STRINGS "NaN" /
        # "Infinity" / "-Infinity" — bare NaN/Infinity tokens are invalid
        # JSON and the reference's jsoniter marshaler never emits them.
        if v != v:  # NaN
            return {"doubleValue": "NaN"}
        if v == float("inf"):
            return {"doubleValue": "Infinity"}
        if v == float("-inf"):
            return {"doubleValue": "-Infinity"}
        return {"doubleValue": v}
    if isinstance(v, str):
        return {"stringValue": v}
    if isinstance(v, (bytes, bytearray)):
        import base64

        return {"bytesValue": base64.b64encode(bytes(v)).decode("ascii")}
    if isinstance(v, list):
        return {"arrayValue": {"values": [any_value_to_otlp_json(x) for x in v]}}
    if isinstance(v, dict):
        return {
            "kvlistValue": {
                "values": [
                    {"key": k, "value": any_value_to_otlp_json(x)}
                    for k, x in v.items()
                ]
            }
        }
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
        import base64

        return base64.b64decode(d["bytesValue"])
    if "arrayValue" in d:
        return [
            any_value_from_otlp_json(x)
            for x in d["arrayValue"].get("values", [])
        ]
    if "kvlistValue" in d:
        return {
            kv["key"]: any_value_from_otlp_json(kv["value"])
            for kv in d["kvlistValue"].get("values", [])
        }
    raise ValueError(f"unrecognized OTLP/JSON AnyValue: {sorted(d)}")


def _attrs_to_json(attrs: dict[str, Any]) -> list[dict[str, Any]]:
    return [
        {"key": k, "value": any_value_to_otlp_json(v)} for k, v in attrs.items()
    ]


def _attrs_from_json(lst: list[dict[str, Any]]) -> dict[str, Any]:
    return {
        kv["key"]: any_value_from_otlp_json(kv.get("value", {})) for kv in lst
    }


# --- Export*ServiceRequest envelope (one nesting for all three signals) ----
# {resourceX: [{resource: {attributes}, scopeX: [{scope: {name}, items}]}]}
# with (resourceX, scopeX, items) = (resourceLogs, scopeLogs, logRecords),
# (resourceSpans, scopeSpans, spans) or (resourceMetrics, scopeMetrics,
# metrics) — the same layout as protowire's request envelope.


def _request_to_json(
    keys: tuple[str, str, str],
    item_to_json: Callable[[dict[str, Any]], dict[str, Any]],
    resource_attrs: dict[str, Any],
    scope_name: str,
    items: list[dict[str, Any]],
) -> str:
    """One request as canonical OTLP/JSON text (compact separators, proto
    field order — deterministic bytes for a given request, so
    encode(decode(s)) == s for requests this module wrote)."""
    resource_key, scope_key, items_key = keys
    scope: dict[str, Any] = {}
    if scope_name:
        scope["name"] = scope_name
    doc = {
        resource_key: [
            {
                "resource": {"attributes": _attrs_to_json(resource_attrs)},
                scope_key: [
                    {
                        "scope": scope,
                        items_key: [item_to_json(x) for x in items],
                    }
                ],
            }
        ]
    }
    # allow_nan=False enforces the item encoders' invariant: non-finite
    # doubles were already mapped to their spec string encodings, so a
    # bare NaN/Infinity token here would be a codec bug, not valid output.
    return json.dumps(doc, separators=(",", ":"), allow_nan=False)


def _request_from_json(
    keys: tuple[str, str, str],
    item_from_json: Callable[[dict[str, Any]], dict[str, Any]],
    s: str,
) -> list[tuple[dict[str, Any], str, list[dict[str, Any]]]]:
    """OTLP/JSON text -> [(resource_attrs, scope_name, [item, ...])] — the
    flatten shape of protowire's request decoders. Strict: malformed JSON
    raises (the receiver rejects the request)."""
    resource_key, scope_key, items_key = keys
    doc = json.loads(s)
    out: list[tuple[dict[str, Any], str, list[dict[str, Any]]]] = []
    for rx in doc.get(resource_key, []):
        res_attrs = _attrs_from_json(
            rx.get("resource", {}).get("attributes", [])
        )
        for sx in rx.get(scope_key, []):
            scope_name = sx.get("scope", {}).get("name", "")
            items = [item_from_json(x) for x in sx.get(items_key, [])]
            out.append((res_attrs, scope_name, items))
    return out


def log_record_to_otlp_json(rec: dict[str, Any]) -> dict[str, Any]:
    """protowire LogRecord dict -> OTLP/JSON object (defaults omitted)."""
    out: dict[str, Any] = {}
    if rec.get("time_unix_nano"):
        out["timeUnixNano"] = str(rec["time_unix_nano"])
    if rec.get("observed_time_unix_nano"):
        out["observedTimeUnixNano"] = str(rec["observed_time_unix_nano"])
    if rec.get("severity_number"):
        out["severityNumber"] = rec["severity_number"]
    if rec.get("severity_text"):
        out["severityText"] = rec["severity_text"]
    # None == unset AnyValue message; an EMPTY string body is still a SET
    # body (message presence), mirroring protowire's `is not None` rule
    if rec.get("body") is not None:
        out["body"] = any_value_to_otlp_json(rec["body"])
    if rec.get("attributes"):
        out["attributes"] = _attrs_to_json(rec["attributes"])
    if rec.get("dropped_attributes_count"):
        out["droppedAttributesCount"] = rec["dropped_attributes_count"]
    if rec.get("flags"):
        out["flags"] = rec["flags"]
    if rec.get("trace_id"):
        out["traceId"] = bytes(rec["trace_id"]).hex()
    if rec.get("span_id"):
        out["spanId"] = bytes(rec["span_id"]).hex()
    return out


def log_record_from_otlp_json(d: dict[str, Any]) -> dict[str, Any]:
    """OTLP/JSON object -> protowire LogRecord dict (defaults restored, so
    the result is exactly what decode_log_record yields for the same
    record on the protobuf wire)."""
    body = d.get("body")
    return {
        "time_unix_nano": int(d.get("timeUnixNano", "0")),
        "observed_time_unix_nano": int(d.get("observedTimeUnixNano", "0")),
        "severity_number": int(d.get("severityNumber", 0)),
        "severity_text": d.get("severityText", ""),
        "body": None if body is None else any_value_from_otlp_json(body),
        "attributes": _attrs_from_json(d.get("attributes", [])),
        "dropped_attributes_count": int(d.get("droppedAttributesCount", 0)),
        "flags": int(d.get("flags", 0)),
        "trace_id": bytes.fromhex(d["traceId"]) if d.get("traceId") else b"",
        "span_id": bytes.fromhex(d["spanId"]) if d.get("spanId") else b"",
    }


logs_request_to_otlp_json = partial(
    _request_to_json, ("resourceLogs", "scopeLogs", "logRecords"),
    log_record_to_otlp_json,
)
logs_request_from_otlp_json = partial(
    _request_from_json, ("resourceLogs", "scopeLogs", "logRecords"),
    log_record_from_otlp_json,
)


def logs_response_to_otlp_json(
    rejected_log_records: int = 0, error_message: str = ""
) -> str:
    """ExportLogsServiceResponse as OTLP/JSON text — the JSON twin of
    protowire.encode_logs_response (the HTTP receiver answers JSON
    requests with JSON responses, receiver/otlpreceiver/encoder.go:30-36).
    Full success is the empty object: the OTLP spec says servers MUST
    leave partialSuccess unset when nothing was rejected; the int64
    rejected count rides as a decimal string per proto3 JSON."""
    if not rejected_log_records and not error_message:
        return "{}"
    ps: dict[str, Any] = {}
    if rejected_log_records:
        ps["rejectedLogRecords"] = str(rejected_log_records)
    if error_message:
        ps["errorMessage"] = error_message
    return json.dumps(
        {"partialSuccess": ps}, separators=(",", ":"), allow_nan=False
    )


def logs_response_from_otlp_json(s: str) -> dict[str, Any]:
    """Inverse of logs_response_to_otlp_json — the same dict shape as
    protowire.decode_logs_response, so both wires decode identically."""
    doc = json.loads(s)
    ps = doc.get("partialSuccess", {})
    return {
        "rejected_log_records": int(ps.get("rejectedLogRecords", "0")),
        "error_message": ps.get("errorMessage", ""),
    }


# --- trace signal (ptracejson analog) -----------------------------------------


def span_event_to_otlp_json(ev: dict[str, Any]) -> dict[str, Any]:
    out: dict[str, Any] = {}
    if ev.get("time_unix_nano"):
        out["timeUnixNano"] = str(ev["time_unix_nano"])
    if ev.get("name"):
        out["name"] = ev["name"]
    if ev.get("attributes"):
        out["attributes"] = _attrs_to_json(ev["attributes"])
    return out


def span_event_from_otlp_json(d: dict[str, Any]) -> dict[str, Any]:
    return {
        "time_unix_nano": int(d.get("timeUnixNano", "0")),
        "name": d.get("name", ""),
        "attributes": _attrs_from_json(d.get("attributes", [])),
    }


def span_link_to_otlp_json(ln: dict[str, Any]) -> dict[str, Any]:
    out: dict[str, Any] = {}
    if ln.get("trace_id"):
        out["traceId"] = bytes(ln["trace_id"]).hex()
    if ln.get("span_id"):
        out["spanId"] = bytes(ln["span_id"]).hex()
    if ln.get("trace_state"):
        out["traceState"] = ln["trace_state"]
    if ln.get("attributes"):
        out["attributes"] = _attrs_to_json(ln["attributes"])
    return out


def span_link_from_otlp_json(d: dict[str, Any]) -> dict[str, Any]:
    return {
        "trace_id": bytes.fromhex(d["traceId"]) if d.get("traceId") else b"",
        "span_id": bytes.fromhex(d["spanId"]) if d.get("spanId") else b"",
        "trace_state": d.get("traceState", ""),
        "attributes": _attrs_from_json(d.get("attributes", [])),
    }


def span_to_otlp_json(sp: dict[str, Any]) -> dict[str, Any]:
    """protowire Span dict -> OTLP/JSON object. Enum fields (kind, status
    code) ride as INTS (jsonpb EnumsAsInts=true), ids as hex, fixed64
    timestamps as decimal strings, proto3 defaults omitted."""
    out: dict[str, Any] = {}
    if sp.get("trace_id"):
        out["traceId"] = bytes(sp["trace_id"]).hex()
    if sp.get("span_id"):
        out["spanId"] = bytes(sp["span_id"]).hex()
    if sp.get("trace_state"):
        out["traceState"] = sp["trace_state"]
    if sp.get("parent_span_id"):
        out["parentSpanId"] = bytes(sp["parent_span_id"]).hex()
    if sp.get("name"):
        out["name"] = sp["name"]
    if sp.get("kind"):
        out["kind"] = sp["kind"]
    if sp.get("start_time_unix_nano"):
        out["startTimeUnixNano"] = str(sp["start_time_unix_nano"])
    if sp.get("end_time_unix_nano"):
        out["endTimeUnixNano"] = str(sp["end_time_unix_nano"])
    if sp.get("attributes"):
        out["attributes"] = _attrs_to_json(sp["attributes"])
    if sp.get("events"):
        out["events"] = [span_event_to_otlp_json(e) for e in sp["events"]]
    if sp.get("links"):
        out["links"] = [span_link_to_otlp_json(ln) for ln in sp["links"]]
    # Status presence mirrors the protobuf encoder: emitted when code or
    # message set (Unset + empty message == absent Status submessage)
    if sp.get("status_code") or sp.get("status_message"):
        st: dict[str, Any] = {}
        if sp.get("status_message"):
            st["message"] = sp["status_message"]
        if sp.get("status_code"):
            st["code"] = sp["status_code"]
        out["status"] = st
    return out


def span_from_otlp_json(d: dict[str, Any]) -> dict[str, Any]:
    """OTLP/JSON object -> protowire Span dict (defaults restored — the
    exact decode_span shape for the same span on the protobuf wire)."""
    st = d.get("status", {})
    return {
        "trace_id": bytes.fromhex(d["traceId"]) if d.get("traceId") else b"",
        "span_id": bytes.fromhex(d["spanId"]) if d.get("spanId") else b"",
        "trace_state": d.get("traceState", ""),
        "parent_span_id": (
            bytes.fromhex(d["parentSpanId"]) if d.get("parentSpanId") else b""
        ),
        "name": d.get("name", ""),
        "kind": int(d.get("kind", 0)),
        "start_time_unix_nano": int(d.get("startTimeUnixNano", "0")),
        "end_time_unix_nano": int(d.get("endTimeUnixNano", "0")),
        "attributes": _attrs_from_json(d.get("attributes", [])),
        "events": [
            span_event_from_otlp_json(e) for e in d.get("events", [])
        ],
        "links": [span_link_from_otlp_json(ln) for ln in d.get("links", [])],
        "status_code": int(st.get("code", 0)),
        "status_message": st.get("message", ""),
    }


trace_request_to_otlp_json = partial(
    _request_to_json, ("resourceSpans", "scopeSpans", "spans"),
    span_to_otlp_json,
)
trace_request_from_otlp_json = partial(
    _request_from_json, ("resourceSpans", "scopeSpans", "spans"),
    span_from_otlp_json,
)


# --- metrics signal (pmetricjson analog) ---------------------------------------


def _jdouble(v: float) -> Any:
    """jsonpb double encoding: non-finite -> the spec strings, else the
    number itself."""
    if v != v:
        return "NaN"
    if v == float("inf"):
        return "Infinity"
    if v == float("-inf"):
        return "-Infinity"
    return v


def exemplar_to_otlp_json(ex: dict[str, Any]) -> dict[str, Any]:
    out: dict[str, Any] = {}
    if ex.get("filtered_attributes"):
        out["filteredAttributes"] = _attrs_to_json(ex["filtered_attributes"])
    if ex.get("time_unix_nano"):
        out["timeUnixNano"] = str(ex["time_unix_nano"])
    # value oneof: presence-based, asInt wins (protowire's rule); sfixed64
    # rides as a decimal string, and a SET member is emitted even at 0
    if ex.get("as_int") is not None:
        out["asInt"] = str(ex["as_int"])
    elif ex.get("as_double") is not None:
        out["asDouble"] = _jdouble(ex["as_double"])
    if ex.get("span_id"):
        out["spanId"] = bytes(ex["span_id"]).hex()
    if ex.get("trace_id"):
        out["traceId"] = bytes(ex["trace_id"]).hex()
    return out


def exemplar_from_otlp_json(d: dict[str, Any]) -> dict[str, Any]:
    return {
        "filtered_attributes": _attrs_from_json(
            d.get("filteredAttributes", [])
        ),
        "time_unix_nano": int(d.get("timeUnixNano", "0")),
        "as_double": (
            float(d["asDouble"]) if "asDouble" in d else None
        ),
        "as_int": int(d["asInt"]) if "asInt" in d else None,
        "span_id": bytes.fromhex(d["spanId"]) if d.get("spanId") else b"",
        "trace_id": bytes.fromhex(d["traceId"]) if d.get("traceId") else b"",
    }


def _point_common_to_json(dp: dict[str, Any]) -> dict[str, Any]:
    out: dict[str, Any] = {}
    if dp.get("attributes"):
        out["attributes"] = _attrs_to_json(dp["attributes"])
    if dp.get("start_time_unix_nano"):
        out["startTimeUnixNano"] = str(dp["start_time_unix_nano"])
    if dp.get("time_unix_nano"):
        out["timeUnixNano"] = str(dp["time_unix_nano"])
    return out


def _point_common_from_json(d: dict[str, Any]) -> dict[str, Any]:
    return {
        "attributes": _attrs_from_json(d.get("attributes", [])),
        "start_time_unix_nano": int(d.get("startTimeUnixNano", "0")),
        "time_unix_nano": int(d.get("timeUnixNano", "0")),
    }


def number_point_to_otlp_json(dp: dict[str, Any]) -> dict[str, Any]:
    out = _point_common_to_json(dp)
    if dp.get("as_int") is not None:
        out["asInt"] = str(dp["as_int"])  # sfixed64 -> decimal string
    elif dp.get("as_double") is not None:
        out["asDouble"] = _jdouble(dp["as_double"])
    if dp.get("exemplars"):
        out["exemplars"] = [exemplar_to_otlp_json(e) for e in dp["exemplars"]]
    if dp.get("flags"):
        out["flags"] = dp["flags"]
    return out


def number_point_from_otlp_json(d: dict[str, Any]) -> dict[str, Any]:
    dp = _point_common_from_json(d)
    dp.update(
        {
            "as_double": float(d["asDouble"]) if "asDouble" in d else None,
            "as_int": int(d["asInt"]) if "asInt" in d else None,
            "exemplars": [
                exemplar_from_otlp_json(e) for e in d.get("exemplars", [])
            ],
            "flags": int(d.get("flags", 0)),
        }
    )
    return dp


def histogram_point_to_otlp_json(dp: dict[str, Any]) -> dict[str, Any]:
    out = _point_common_to_json(dp)
    if dp.get("count"):
        out["count"] = str(dp["count"])  # fixed64 -> decimal string
    if dp.get("sum") is not None:  # optional double: presence-based
        out["sum"] = _jdouble(dp["sum"])
    if dp.get("bucket_counts"):
        # repeated fixed64 -> array of decimal strings (jsonpb)
        out["bucketCounts"] = [str(c) for c in dp["bucket_counts"]]
    if dp.get("explicit_bounds"):
        out["explicitBounds"] = [_jdouble(b) for b in dp["explicit_bounds"]]
    if dp.get("exemplars"):
        out["exemplars"] = [exemplar_to_otlp_json(e) for e in dp["exemplars"]]
    if dp.get("flags"):
        out["flags"] = dp["flags"]
    if dp.get("min") is not None:
        out["min"] = _jdouble(dp["min"])
    if dp.get("max") is not None:
        out["max"] = _jdouble(dp["max"])
    return out


def histogram_point_from_otlp_json(d: dict[str, Any]) -> dict[str, Any]:
    dp = _point_common_from_json(d)
    dp.update(
        {
            "count": int(d.get("count", "0")),
            "sum": float(d["sum"]) if "sum" in d else None,
            "bucket_counts": [int(c) for c in d.get("bucketCounts", [])],
            "explicit_bounds": [
                float(b) for b in d.get("explicitBounds", [])
            ],
            "exemplars": [
                exemplar_from_otlp_json(e) for e in d.get("exemplars", [])
            ],
            "flags": int(d.get("flags", 0)),
            "min": float(d["min"]) if "min" in d else None,
            "max": float(d["max"]) if "max" in d else None,
        }
    )
    return dp


def _exp_buckets_to_json(b: dict[str, Any]) -> dict[str, Any]:
    out: dict[str, Any] = {}
    if b.get("offset"):
        out["offset"] = b["offset"]  # sint32 stays a JSON number
    if b.get("bucket_counts"):
        out["bucketCounts"] = [str(c) for c in b["bucket_counts"]]
    return out


def _exp_buckets_from_json(d: dict[str, Any]) -> dict[str, Any]:
    return {
        "offset": int(d.get("offset", 0)),
        "bucket_counts": [int(c) for c in d.get("bucketCounts", [])],
    }


def exp_histogram_point_to_otlp_json(dp: dict[str, Any]) -> dict[str, Any]:
    out = _point_common_to_json(dp)
    if dp.get("count"):
        out["count"] = str(dp["count"])
    if dp.get("sum") is not None:
        out["sum"] = _jdouble(dp["sum"])
    if dp.get("scale"):
        out["scale"] = dp["scale"]
    if dp.get("zero_count"):
        out["zeroCount"] = str(dp["zero_count"])
    # default submessages omitted, mirroring the protobuf encoder
    for key, jkey in (("positive", "positive"), ("negative", "negative")):
        b = dp.get(key)
        if b and (b.get("offset") or b.get("bucket_counts")):
            out[jkey] = _exp_buckets_to_json(b)
    if dp.get("flags"):
        out["flags"] = dp["flags"]
    if dp.get("exemplars"):
        out["exemplars"] = [exemplar_to_otlp_json(e) for e in dp["exemplars"]]
    if dp.get("min") is not None:
        out["min"] = _jdouble(dp["min"])
    if dp.get("max") is not None:
        out["max"] = _jdouble(dp["max"])
    return out


def exp_histogram_point_from_otlp_json(d: dict[str, Any]) -> dict[str, Any]:
    dp = _point_common_from_json(d)
    dp.update(
        {
            "count": int(d.get("count", "0")),
            "sum": float(d["sum"]) if "sum" in d else None,
            "scale": int(d.get("scale", 0)),
            "zero_count": int(d.get("zeroCount", "0")),
            "positive": _exp_buckets_from_json(d.get("positive", {})),
            "negative": _exp_buckets_from_json(d.get("negative", {})),
            "flags": int(d.get("flags", 0)),
            "exemplars": [
                exemplar_from_otlp_json(e) for e in d.get("exemplars", [])
            ],
            "min": float(d["min"]) if "min" in d else None,
            "max": float(d["max"]) if "max" in d else None,
        }
    )
    return dp


def summary_point_to_otlp_json(dp: dict[str, Any]) -> dict[str, Any]:
    out = _point_common_to_json(dp)
    if dp.get("count"):
        out["count"] = str(dp["count"])
    if dp.get("sum"):  # plain double field: default-omitted, not presence
        out["sum"] = _jdouble(dp["sum"])
    if dp.get("quantile_values"):
        qvs = []
        for qv in dp["quantile_values"]:
            q: dict[str, Any] = {}
            if qv.get("quantile"):
                q["quantile"] = _jdouble(qv["quantile"])
            if qv.get("value"):
                q["value"] = _jdouble(qv["value"])
            qvs.append(q)
        out["quantileValues"] = qvs
    if dp.get("flags"):
        out["flags"] = dp["flags"]
    return out


def summary_point_from_otlp_json(d: dict[str, Any]) -> dict[str, Any]:
    dp = _point_common_from_json(d)
    dp.update(
        {
            "count": int(d.get("count", "0")),
            "sum": float(d.get("sum", 0.0)),
            "quantile_values": [
                {
                    "quantile": float(qv.get("quantile", 0.0)),
                    "value": float(qv.get("value", 0.0)),
                }
                for qv in d.get("quantileValues", [])
            ],
            "flags": int(d.get("flags", 0)),
        }
    )
    return dp


# data-oneof JSON key per metric type (lowerCamelCase of the proto field)
_METRIC_JSON_KEY = {
    "gauge": "gauge",
    "sum": "sum",
    "histogram": "histogram",
    "exponential_histogram": "exponentialHistogram",
    "summary": "summary",
}
_METRIC_JSON_TYPE = {v: k for k, v in _METRIC_JSON_KEY.items()}

_POINT_JSON_CODEC = {
    "gauge": (number_point_to_otlp_json, number_point_from_otlp_json),
    "sum": (number_point_to_otlp_json, number_point_from_otlp_json),
    "histogram": (
        histogram_point_to_otlp_json, histogram_point_from_otlp_json,
    ),
    "exponential_histogram": (
        exp_histogram_point_to_otlp_json, exp_histogram_point_from_otlp_json,
    ),
    "summary": (summary_point_to_otlp_json, summary_point_from_otlp_json),
}


def metric_to_otlp_json(m: dict[str, Any]) -> dict[str, Any]:
    """protowire Metric dict -> OTLP/JSON object. The data oneof becomes
    the camelCase member key; aggregationTemporality rides as an INT
    (jsonpb EnumsAsInts=true)."""
    mtype = m["type"]
    if mtype not in _POINT_JSON_CODEC:
        raise ValueError(
            f"metric {m.get('name')!r} has no encodable data oneof "
            f"(type={mtype!r}; expected one of {sorted(_POINT_JSON_CODEC)})"
        )
    enc, _ = _POINT_JSON_CODEC[mtype]
    data: dict[str, Any] = {}
    pts = [enc(dp) for dp in m.get("data_points") or []]
    if pts:
        data["dataPoints"] = pts
    if mtype in ("sum", "histogram", "exponential_histogram") and m.get(
        "aggregation_temporality"
    ):
        data["aggregationTemporality"] = m["aggregation_temporality"]
    if mtype == "sum" and m.get("is_monotonic"):
        data["isMonotonic"] = True
    out: dict[str, Any] = {}
    if m.get("name"):
        out["name"] = m["name"]
    if m.get("description"):
        out["description"] = m["description"]
    if m.get("unit"):
        out["unit"] = m["unit"]
    out[_METRIC_JSON_KEY[mtype]] = data
    return out


def metric_from_otlp_json(d: dict[str, Any]) -> dict[str, Any]:
    """OTLP/JSON object -> protowire Metric dict (decode_metric's exact
    shape for the same metric on the protobuf wire)."""
    m: dict[str, Any] = {
        "name": d.get("name", ""),
        "description": d.get("description", ""),
        "unit": d.get("unit", ""),
        "type": None,
        "data_points": [],
        "aggregation_temporality": 0,
        "is_monotonic": False,
    }
    for jkey, mtype in _METRIC_JSON_TYPE.items():
        if jkey not in d:
            continue
        data = d[jkey]
        m["type"] = mtype
        _, dec = _POINT_JSON_CODEC[mtype]
        m["data_points"] = [dec(dp) for dp in data.get("dataPoints", [])]
        m["aggregation_temporality"] = int(
            data.get("aggregationTemporality", 0)
        )
        m["is_monotonic"] = bool(data.get("isMonotonic", False))
        break
    return m


metrics_request_to_otlp_json = partial(
    _request_to_json, ("resourceMetrics", "scopeMetrics", "metrics"),
    metric_to_otlp_json,
)
metrics_request_from_otlp_json = partial(
    _request_from_json, ("resourceMetrics", "scopeMetrics", "metrics"),
    metric_from_otlp_json,
)
