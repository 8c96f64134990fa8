"""Hand-rolled OTLP protobuf wire codec — the pdata ProtoMarshaler analog.

The reference's primary wire format is protobuf (pdata/plog/pb.go:24-40,
negotiated at receiver/otlpreceiver/encoder.go:30-36). This sandbox has no
``protobuf`` package, no ``spark-protobuf`` jar and no ``protoc``, so the
wire format is implemented directly from the two public specs it is built
from:

* the protobuf wire encoding (varint base-128, little-endian fixed64/32,
  length-delimited submessages; tag = field_number << 3 | wire_type);
* the OTLP field layout of ``opentelemetry/proto/{logs,trace,metrics}/v1``,
  ``common/v1/common.proto`` and ``collector/logs/v1`` (field numbers match
  the reference's generated pdata structs under
  pdata/internal/data/protogen/).

The layout is written once, in the message table below. Each message lists
its fields in the order the encoder writes them, each field as (number,
snake_case proto name, kind, presence). The name is the key of the record
dicts that both wires read and write, and functions/otlpjson.py derives
the JSON member names from it, so the reference's two marshalers (gogo
protobuf and jsonpb, generated from one set of structs) have one source
here too. ``encode_message`` and ``decode_message`` are the protobuf
wire's one encoder and one decoder over the table; every per-message name
(``encode_span``, ``decode_metric``, ...) binds them to one message.

proto3 presence semantics are preserved: zero/default-valued scalar fields
are omitted on encode and materialize as defaults on decode, exactly like
the reference's generated marshalers. An attribute whose value is None is
written as an empty AnyValue on both wires: its key is kept, and decodes
back to None. The encoders check each integer against its kind's range
and raise ValueError outside it (a silent wrap would corrupt the value).
The decoder raises ValueError on a known field that arrives with the wrong
wire type, and skips unknown field numbers; a repeated field appends and a
singular message merges, as proto3 parsers do.

Everything here is pure Python over ``bytes`` — no Spark imports — so the
codec unit-tests run without a session and the Spark glue
(operators/protobuf.py) stays a thin Arrow-batched wrapper. Deployments
that ship the spark-protobuf jar can swap in the native
``from_protobuf``/``to_protobuf`` fast path (same bytes — this codec is the
conformance oracle for that swap); the gate is documented in
operators/protobuf.py alongside the Iceberg gate pattern of
sources/catalog.py.
"""

from __future__ import annotations

import struct
from functools import partial
from typing import Any, Iterator, NamedTuple

# wire types (protobuf encoding spec)
_VARINT = 0
_FIXED64 = 1
_LEN = 2
_FIXED32 = 5

_U64 = (1 << 64) - 1
_I64_MAX = (1 << 63) - 1


# --- primitive writers ------------------------------------------------------

_ONE_BYTE = [bytes((n,)) for n in range(0x80)]


def encode_varint(n: int) -> bytes:
    """Base-128 varint for n in [0, 2^64)."""
    if 0 <= n < 0x80:
        return _ONE_BYTE[n]
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


def _len_field(field: int, payload: bytes) -> bytes:
    return _tag(field, _LEN) + encode_varint(len(payload)) + payload


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
        key = buf[pos]  # one-byte tags (fields 1-15) skip the varint loop
        if key < 0x80:
            pos += 1
        else:
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
            if pos < n and buf[pos] < 0x80:
                ln = buf[pos]
                pos += 1
            else:
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


def _as_double(u: int) -> float:
    return struct.unpack("<d", struct.pack("<Q", u))[0]


def _unpack_packed(fmt: str, buf: bytes) -> list:
    if len(buf) % 8:
        raise ValueError("packed 64-bit field length not a multiple of 8")
    return [v[0] for v in struct.iter_unpack(fmt, buf)]


def _unpack_varints(buf: bytes) -> list[int]:
    out, pos = [], 0
    while pos < len(buf):
        v, pos = decode_varint(buf, pos)
        out.append(v)
    return out


# --- AnyValue / KeyValue (common.proto) --------------------------------------
# AnyValue's typed oneof is the one message the table does not describe: its
# seven members map to the seven Python types of the natural form.


def encode_any_value(v: Any) -> bytes:
    if isinstance(v, str):
        return _len_field(1, v.encode("utf-8"))
    if v is None:  # unset oneof == empty AnyValue message (zero bytes)
        return b""
    if isinstance(v, bool):  # before int — bool is an int subclass
        # oneof presence: False still encodes (explicit 0 varint)
        return _tag(2, _VARINT) + _ONE_BYTE[1 if v else 0]
    if isinstance(v, int):
        check_range(INT64, v, "AnyValue.int_value")
        return _tag(3, _VARINT) + encode_varint(v & _U64)
    if isinstance(v, float):
        return _tag(4, _FIXED64) + struct.pack("<d", v)
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


# (name, wire type) of the known fields of the hand-written messages below:
# a known field on the wrong wire raises the table decoder's ValueError
_ANY_VALUE_FIELDS = {
    1: ("string_value", _LEN), 2: ("bool_value", _VARINT),
    3: ("int_value", _VARINT), 4: ("double_value", _FIXED64),
    5: ("array_value", _LEN), 6: ("kvlist_value", _LEN),
    7: ("bytes_value", _LEN),
}
_KEY_VALUE_FIELDS = {1: ("key", _LEN), 2: ("value", _LEN)}
_VALUES_FIELDS = {1: ("values", _LEN)}  # ArrayValue, KeyValueList


def _known_fields(
    name: str, fields: dict[int, tuple[str, int]], buf: bytes
) -> Iterator[tuple[int, Any]]:
    """(field number, value) of ``buf``'s known fields, unknown ones
    skipped; a known field with the wrong wire type raises ValueError."""
    for number, wire, v in iter_fields(buf):
        f = fields.get(number)
        if f is None:
            continue
        if wire != f[1]:
            raise ValueError(f"{name}.{f[0]}: wire type {wire}, expected {f[1]}")
        yield number, v


def decode_any_value(buf: bytes) -> Any:
    val: Any = None  # empty AnyValue == unset oneof
    for field, v in _known_fields("AnyValue", _ANY_VALUE_FIELDS, buf):
        if field == 1:
            val = v.decode("utf-8")
        elif field == 2:
            val = bool(v)
        elif field == 3:
            val = _to_i64(v)
        elif field == 4:
            val = _as_double(v)
        elif field == 5:
            val = [
                decode_any_value(item)
                for _, item in _known_fields("ArrayValue", _VALUES_FIELDS, v)
            ]
        elif field == 6:
            val = dict(
                decode_key_value(item)
                for _, item in _known_fields("KeyValueList", _VALUES_FIELDS, v)
            )
        else:
            val = bytes(v)
    return val


def encode_key_value(key: str, value: Any) -> bytes:
    return _len_field(1, key.encode("utf-8")) + _len_field(
        2, encode_any_value(value)
    )


def decode_key_value(buf: bytes) -> tuple[str, Any]:
    key = ""
    value: Any = None
    for field, v in _known_fields("KeyValue", _KEY_VALUE_FIELDS, buf):
        if field == 1:
            key = v.decode("utf-8")
        else:
            value = decode_any_value(v)
    return key, value


# --- the message table: kinds and presence rules ------------------------------


class Kind:
    """How one field's values are written. ``wire`` is the wire type of the
    field; [lo, hi) bounds an integer kind's values (of each element for a
    packed kind), and both wires' encoders raise ValueError outside it."""

    __slots__ = ("name", "wire", "lo", "hi")

    def __init__(
        self, name: str, wire: int, lo: int | None = None, hi: int | None = None
    ):
        self.name, self.wire, self.lo, self.hi = name, wire, lo, hi

    def __repr__(self) -> str:
        return f"Kind({self.name})"


STRING = Kind("string", _LEN)
ID = Kind("id", _LEN)  # trace/span id bytes: hex on the JSON wire
BOOL = Kind("bool", _VARINT)
ENUM = Kind("enum", _VARINT, -(1 << 31), 1 << 31)
INT64 = Kind("int64", _VARINT, -(1 << 63), 1 << 63)
UINT32 = Kind("uint32", _VARINT, 0, 1 << 32)
SINT32 = Kind("sint32", _VARINT, -(1 << 31), 1 << 31)
FIXED32 = Kind("fixed32", _FIXED32, 0, 1 << 32)
FIXED64 = Kind("fixed64", _FIXED64, 0, 1 << 64)
SFIXED64 = Kind("sfixed64", _FIXED64, -(1 << 63), 1 << 63)
DOUBLE = Kind("double", _FIXED64)
# repeated scalars, written packed; the decoder also takes the unpacked form
PACKED_UINT64 = Kind("packed uint64", _LEN, 0, 1 << 64)
PACKED_FIXED64 = Kind("packed fixed64", _LEN, 0, 1 << 64)
PACKED_DOUBLE = Kind("packed double", _LEN)
ANY = Kind("AnyValue", _LEN)
# repeated KeyValue held as a dict in wire order. A None value is an empty
# AnyValue on both wires: the key is kept, and decodes back to None.
ATTRS = Kind("attributes", _LEN)
MESSAGE = Kind("message", _LEN)
MESSAGES = Kind("repeated message", _LEN)
# a submessage whose fields live in the enclosing record, keyed by the
# submessage's prefix (Span.status -> status_code, status_message)
INLINE = Kind("inline message", _LEN)

_ZEROS = {STRING: "", ID: b"", BOOL: False, DOUBLE: 0.0}  # others: 0
_UNPACKED_WIRE = {
    PACKED_UINT64: _VARINT, PACKED_FIXED64: _FIXED64, PACKED_DOUBLE: _FIXED64,
}

# presence rules: when an encoder writes a field
IMPLICIT = "implicit"  # proto3 default omitted: when truthy / non-empty
OPTIONAL = "optional"  # when not None, even at zero or empty
UNLESS_INT = "unless as_int"  # value oneof: when set and as_int is unset
ALWAYS = "always"  # even when absent: an empty message, an empty JSON list
ONEOF = "oneof"  # when the record's "type" names the field, even if empty


def check_range(kind: Kind, v: Any, where: str) -> None:
    """The one range check of an integer kind, shared by both wires'
    encoders; a packed kind (an integer kind written length-delimited)
    checks every element."""
    if kind.wire == _LEN:
        if v and not (kind.lo <= min(v) and max(v) < kind.hi):
            raise ValueError(f"{where}: element out of {kind.name} range")
    elif not kind.lo <= v < kind.hi:
        raise ValueError(f"{where}: {v} out of {kind.name} range")


class Field(NamedTuple):
    number: int
    name: str
    kind: Kind
    presence: str = IMPLICIT
    message: "Message | None" = None


_MESSAGES: dict[str, Message] = {}


def _message(name: str) -> Message:
    return _MESSAGES[name]


class Message:
    """One OTLP message: its fields in the order the encoders write them.
    An INLINE message's fields are keyed ``prefix + name`` in the record
    that holds them."""

    def __init__(self, name: str, fields: list[tuple], prefix: str = ""):
        if name in _MESSAGES:  # messages pickle by name
            raise ValueError(f"duplicate message name {name!r}")
        _MESSAGES[name] = self
        self.name = name
        self.fields = tuple(Field(*f) for f in fields)
        self.keys = tuple(prefix + f.name for f in self.fields)
        self.oneof = {f.name for f in self.fields if f.presence is ONEOF}
        self._plan = tuple(
            (key, _tag(f.number, f.kind.wire), f.kind, f.presence, f,
             f"{name}.{f.name}")
            for key, f in zip(self.keys, self.fields)
        )
        self._by_number = {
            f.number: (key, f.kind, f) for key, f in zip(self.keys, self.fields)
        }
        # decoded defaults: None for an OPTIONAL scalar, a fresh empty list,
        # dict or record for the container kinds, the kind's zero otherwise.
        # A oneof's members may share a field (Metric's data_points).
        self._zeros: dict[str, Any] = {"type": None} if self.oneof else {}
        fresh: dict[str, Any] = {}
        for key, f in zip(self.keys, self.fields):
            if f.kind is INLINE:
                self._zeros.update(f.message._zeros)
                fresh.update(f.message._fresh)
            elif f.kind is MESSAGE:
                fresh[key] = f.message.new_record
            elif f.kind is ATTRS:
                fresh[key] = dict
            elif f.kind is MESSAGES or f.kind in _UNPACKED_WIRE:
                fresh[key] = list
            elif f.presence is not IMPLICIT:
                self._zeros[key] = None
            else:
                self._zeros[key] = _ZEROS.get(f.kind, 0)
        self._fresh = tuple(fresh.items())
        # placeholders: a copy of _zeros then holds every key, so filling
        # the containers never resizes it
        self._zeros.update(dict.fromkeys(fresh))

    def new_record(self) -> dict[str, Any]:
        """The record of an empty message: every field at its default."""
        rec = self._zeros.copy()
        for key, empty in self._fresh:
            rec[key] = empty()
        return rec

    def check_oneof(self, rec: dict[str, Any]) -> None:
        """A record of a message with a oneof must name one of its fields:
        a dataless Metric decodes to type=None, and re-encoding needs an
        explicit contract, not a silently dropped oneof."""
        if rec.get("type") not in self.oneof:
            raise ValueError(
                f"{self.name} {rec.get('name')!r} has no encodable data oneof "
                f"(type={rec.get('type')!r}; expected one of "
                f"{sorted(self.oneof)})"
            )

    def __reduce__(self) -> tuple:
        # pickled by name (the codec bindings ride in Spark closures): the
        # unpickled message is the worker's own table entry, whose kinds
        # and presence rules are the ones the codecs compare by identity
        return _message, (self.name,)

    def __repr__(self) -> str:
        return f"Message({self.name})"


# --- the message table ---------------------------------------------------------

LOG_RECORD = Message("LogRecord", [
    (1, "time_unix_nano", FIXED64),
    (2, "severity_number", ENUM),
    (3, "severity_text", STRING),
    (5, "body", ANY, OPTIONAL),  # an empty-string body is still a set body
    (6, "attributes", ATTRS),
    (7, "dropped_attributes_count", UINT32),
    (8, "flags", FIXED32),
    (9, "trace_id", ID),
    (10, "span_id", ID),
    (11, "observed_time_unix_nano", FIXED64),
])

# This collector version's Span ends at 15 status: it predates Span.flags=16,
# so the engine's flags column rides in the otelcol. attribute namespace.
SPAN_EVENT = Message("Span.Event", [
    (1, "time_unix_nano", FIXED64),
    (2, "name", STRING),
    (3, "attributes", ATTRS),
])
SPAN_LINK = Message("Span.Link", [
    (1, "trace_id", ID),
    (2, "span_id", ID),
    (3, "trace_state", STRING),
    (4, "attributes", ATTRS),
])
STATUS = Message("Status", [  # field 1 is deprecated
    (2, "message", STRING),
    (3, "code", ENUM),
], prefix="status_")
SPAN = Message("Span", [
    (1, "trace_id", ID),
    (2, "span_id", ID),
    (3, "trace_state", STRING),
    (4, "parent_span_id", ID),
    (5, "name", STRING),
    (6, "kind", ENUM),
    (7, "start_time_unix_nano", FIXED64),
    (8, "end_time_unix_nano", FIXED64),
    (9, "attributes", ATTRS),
    (11, "events", MESSAGES, IMPLICIT, SPAN_EVENT),
    (13, "links", MESSAGES, IMPLICIT, SPAN_LINK),
    # Unset code + empty message == absent Status submessage
    (15, "status", INLINE, IMPLICIT, STATUS),
])

AGG_TEMPORALITY_DELTA = 1
AGG_TEMPORALITY_CUMULATIVE = 2

EXEMPLAR = Message("Exemplar", [
    (7, "filtered_attributes", ATTRS),
    (2, "time_unix_nano", FIXED64),
    (6, "as_int", SFIXED64, OPTIONAL),
    (3, "as_double", DOUBLE, UNLESS_INT),
    (4, "span_id", ID),
    (5, "trace_id", ID),
])
NUMBER_POINT = Message("NumberDataPoint", [
    (7, "attributes", ATTRS),
    (2, "start_time_unix_nano", FIXED64),
    (3, "time_unix_nano", FIXED64),
    (6, "as_int", SFIXED64, OPTIONAL),  # as_int wins when both are set
    (4, "as_double", DOUBLE, UNLESS_INT),
    (5, "exemplars", MESSAGES, IMPLICIT, EXEMPLAR),
    (8, "flags", UINT32),
])
HISTOGRAM_POINT = Message("HistogramDataPoint", [
    (9, "attributes", ATTRS),
    (2, "start_time_unix_nano", FIXED64),
    (3, "time_unix_nano", FIXED64),
    (4, "count", FIXED64),
    (5, "sum", DOUBLE, OPTIONAL),
    (6, "bucket_counts", PACKED_FIXED64),
    (7, "explicit_bounds", PACKED_DOUBLE),
    (8, "exemplars", MESSAGES, IMPLICIT, EXEMPLAR),
    (10, "flags", UINT32),
    (11, "min", DOUBLE, OPTIONAL),
    (12, "max", DOUBLE, OPTIONAL),
])
EXP_BUCKETS = Message("ExponentialHistogramDataPoint.Buckets", [
    (1, "offset", SINT32),
    (2, "bucket_counts", PACKED_UINT64),
])
EXP_HISTOGRAM_POINT = Message("ExponentialHistogramDataPoint", [
    (1, "attributes", ATTRS),
    (2, "start_time_unix_nano", FIXED64),
    (3, "time_unix_nano", FIXED64),
    (4, "count", FIXED64),
    (5, "sum", DOUBLE, OPTIONAL),
    (6, "scale", SINT32),
    (7, "zero_count", FIXED64),
    (8, "positive", MESSAGE, IMPLICIT, EXP_BUCKETS),  # omitted when default
    (9, "negative", MESSAGE, IMPLICIT, EXP_BUCKETS),
    (10, "flags", UINT32),
    (11, "exemplars", MESSAGES, IMPLICIT, EXEMPLAR),
    (12, "min", DOUBLE, OPTIONAL),
    (13, "max", DOUBLE, OPTIONAL),
])
VALUE_AT_QUANTILE = Message("SummaryDataPoint.ValueAtQuantile", [
    (1, "quantile", DOUBLE),
    (2, "value", DOUBLE),
])
SUMMARY_POINT = Message("SummaryDataPoint", [
    (7, "attributes", ATTRS),
    (2, "start_time_unix_nano", FIXED64),
    (3, "time_unix_nano", FIXED64),
    (4, "count", FIXED64),
    (5, "sum", DOUBLE),  # a plain double, default-omitted: not a oneof
    (6, "quantile_values", MESSAGES, IMPLICIT, VALUE_AT_QUANTILE),
    (8, "flags", UINT32),
])
# the Metric data oneof: its members' fields live in the Metric record, and
# the record's "type" names the member; temporality is on sum, histogram
# and exponential_histogram only, is_monotonic on sum only
METRIC = Message("Metric", [
    (1, "name", STRING),
    (2, "description", STRING),
    (3, "unit", STRING),
    (5, "gauge", INLINE, ONEOF, Message("Gauge", [
        (1, "data_points", MESSAGES, IMPLICIT, NUMBER_POINT),
    ])),
    (7, "sum", INLINE, ONEOF, Message("Sum", [
        (1, "data_points", MESSAGES, IMPLICIT, NUMBER_POINT),
        (2, "aggregation_temporality", ENUM),
        (3, "is_monotonic", BOOL),
    ])),
    (9, "histogram", INLINE, ONEOF, Message("Histogram", [
        (1, "data_points", MESSAGES, IMPLICIT, HISTOGRAM_POINT),
        (2, "aggregation_temporality", ENUM),
    ])),
    (10, "exponential_histogram", INLINE, ONEOF, Message(
        "ExponentialHistogram", [
            (1, "data_points", MESSAGES, IMPLICIT, EXP_HISTOGRAM_POINT),
            (2, "aggregation_temporality", ENUM),
        ],
    )),
    (11, "summary", INLINE, ONEOF, Message("Summary", [
        (1, "data_points", MESSAGES, IMPLICIT, SUMMARY_POINT),
    ])),
])

# Full success is the EMPTY response: the OTLP spec says servers MUST leave
# partial_success unset when nothing was rejected (plogotlp/response.go).
LOGS_RESPONSE = Message("ExportLogsServiceResponse", [
    (1, "partial_success", INLINE, IMPLICIT, Message(
        "ExportLogsPartialSuccess", [
            (1, "rejected_log_records", INT64),
            (2, "error_message", STRING),
        ],
    )),
])


# Export{Logs,Trace,Metrics}ServiceRequest: one envelope, three signals. A
# request writes its Resource and InstrumentationScope even when they are
# empty, and the JSON wire writes their lists even when empty.
RESOURCE = Message("Resource", [(1, "attributes", ATTRS, ALWAYS)])
SCOPE = Message("InstrumentationScope", [(1, "name", STRING)])


def _request(name: str, signal: str, items: str, item: Message) -> Message:
    scoped = Message(f"Scope{signal}", [
        (1, "scope", MESSAGE, ALWAYS, SCOPE),
        (2, items, MESSAGES, ALWAYS, item),
    ])
    return Message(name, [
        (1, f"resource_{signal.lower()}", MESSAGES, IMPLICIT, Message(
            f"Resource{signal}", [
                (1, "resource", MESSAGE, ALWAYS, RESOURCE),
                (2, f"scope_{signal.lower()}", MESSAGES, IMPLICIT, scoped),
            ],
        )),
    ])


LOGS_REQUEST = _request(
    "ExportLogsServiceRequest", "Logs", "log_records", LOG_RECORD
)
TRACE_REQUEST = _request("ExportTraceServiceRequest", "Spans", "spans", SPAN)
METRICS_REQUEST = _request(
    "ExportMetricsServiceRequest", "Metrics", "metrics", METRIC
)


def _envelope(msg: Message) -> tuple[str, str, str]:
    """A request's (resource list, scope list, item list) record keys."""
    rx = msg.fields[0]
    sx = rx.message.fields[1]
    return rx.name, sx.name, sx.message.fields[1].name


def request_record(
    msg: Message,
    resource_attrs: dict[str, Any],
    scope_name: str,
    items: list[dict[str, Any]],
) -> dict[str, Any]:
    """One request record: one Resource{resource_attrs} -> one
    Scope{scope_name} -> items. Both wires encode requests through it."""
    rx, sx, it = _envelope(msg)
    return {rx: [{
        "resource": {"attributes": resource_attrs},
        sx: [{"scope": {"name": scope_name}, it: items}],
    }]}


def flatten_request(
    msg: Message, rec: dict[str, Any]
) -> list[tuple[dict[str, Any], str, list[dict[str, Any]]]]:
    """A decoded request -> [(resource_attrs, scope_name, [item, ...]), ...],
    one tuple per (Resource*, Scope*) pair: the receiver-side flatten
    (otlpreceiver encoder.go:30-133). Both wires decode through it."""
    rx, sx, it = _envelope(msg)
    return [
        (r["resource"]["attributes"], s["scope"]["name"], s[it])
        for r in rec[rx]
        for s in r[sx]
    ]


# --- the generic codec ---------------------------------------------------------


def encode_message(msg: Message, rec: dict[str, Any]) -> bytes:
    """One record -> ``msg``'s wire bytes (absent keys are defaults)."""
    if msg.oneof:
        msg.check_oneof(rec)
    out = bytearray()
    for key, tag, kind, presence, f, where in msg._plan:
        if kind is INLINE:
            if presence is ONEOF and rec.get("type") != f.name:
                continue
            payload = encode_message(f.message, rec)
            if payload or presence is ONEOF:
                out += tag
                out += encode_varint(len(payload))
                out += payload
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
        if kind.lo is not None:
            check_range(kind, v, where)
        if kind is STRING:
            v = v.encode("utf-8")
            out += tag
            out += encode_varint(len(v))
            out += v
        elif kind is ID:
            out += tag
            out += encode_varint(len(v))
            out += v
        elif kind is FIXED64:
            out += tag
            out += struct.pack("<Q", v)
        elif kind is ATTRS:
            for k, x in v.items():
                kv = encode_key_value(k, x)
                out += tag
                out += encode_varint(len(kv))
                out += kv
        elif kind is ENUM or kind is INT64:
            out += tag
            out += encode_varint(v & _U64)
        elif kind is MESSAGES:
            sub = f.message
            for x in v:
                payload = encode_message(sub, x)
                out += tag
                out += encode_varint(len(payload))
                out += payload
        elif kind is DOUBLE:
            out += tag
            out += struct.pack("<d", v)
        elif kind is UINT32:
            out += tag
            out += encode_varint(v)
        elif kind is ANY or kind is MESSAGE:
            payload = (
                encode_any_value(v) if kind is ANY
                else encode_message(f.message, v)
            )
            if payload or presence is not IMPLICIT:
                out += tag
                out += encode_varint(len(payload))
                out += payload
        elif kind is SFIXED64:
            out += tag
            out += struct.pack("<q", v)
        elif kind is FIXED32:
            out += tag
            out += struct.pack("<I", v)
        elif kind is SINT32:
            out += tag
            out += encode_varint(_zigzag32(v))
        elif kind is BOOL:
            out += tag
            out += _ONE_BYTE[1 if v else 0]
        else:  # packed repeated scalars
            payload = (
                b"".join(map(encode_varint, v)) if kind is PACKED_UINT64
                else struct.pack(
                    f"<{len(v)}{'d' if kind is PACKED_DOUBLE else 'Q'}", *v
                )
            )
            out += tag
            out += encode_varint(len(payload))
            out += payload
    return bytes(out)


def _decode_into(msg: Message, buf: bytes, rec: dict[str, Any]) -> None:
    """Decode ``buf`` into ``rec``: a repeated field appends, a singular
    message merges, any other field takes the value last seen."""
    by_number = msg._by_number
    for number, wire, v in iter_fields(buf):
        entry = by_number.get(number)
        if entry is None:  # unknown field: skipped, as proto3 requires
            continue
        key, kind, f = entry
        if wire != kind.wire:
            if _UNPACKED_WIRE.get(kind) != wire:
                raise ValueError(
                    f"{msg.name}.{f.name}: wire type {wire}, "
                    f"expected {kind.wire}"
                )
            # an unpacked element of a packed repeated field
            rec[key].append(_as_double(v) if kind is PACKED_DOUBLE else v)
        elif kind is FIXED64 or kind is UINT32 or kind is FIXED32:
            rec[key] = v
        elif kind is STRING:
            rec[key] = v.decode("utf-8")
        elif kind is ID:
            rec[key] = bytes(v)
        elif kind is ATTRS:
            k, x = decode_key_value(v)
            rec[key][k] = x
        elif kind is ENUM or kind is INT64 or kind is SFIXED64:
            rec[key] = _to_i64(v)
        elif kind is MESSAGES:
            rec[key].append(decode_message(f.message, v))
        elif kind is DOUBLE:
            rec[key] = _as_double(v)
        elif kind is ANY:
            rec[key] = decode_any_value(v)
        elif kind is INLINE:
            if f.presence is ONEOF:
                rec["type"] = f.name
            _decode_into(f.message, v, rec)
        elif kind is MESSAGE:
            _decode_into(f.message, v, rec[key])
        elif kind is SINT32:
            rec[key] = _unzigzag(v)
        elif kind is BOOL:
            rec[key] = bool(v)
        elif kind is PACKED_UINT64:
            rec[key] += _unpack_varints(v)
        else:
            fmt = "<d" if kind is PACKED_DOUBLE else "<Q"
            rec[key] += _unpack_packed(fmt, v)


def decode_message(msg: Message, buf: bytes) -> dict[str, Any]:
    """``msg``'s wire bytes -> its record, absent fields at their defaults."""
    rec = msg.new_record()
    _decode_into(msg, buf, rec)
    return rec


def encode_request(
    msg: Message,
    resource_attrs: dict[str, Any],
    scope_name: str,
    items: list[dict[str, Any]],
) -> bytes:
    return encode_message(
        msg, request_record(msg, resource_attrs, scope_name, items)
    )


def decode_request(
    msg: Message, buf: bytes
) -> list[tuple[dict[str, Any], str, list[dict[str, Any]]]]:
    return flatten_request(msg, decode_message(msg, bytes(buf)))


def encode_logs_response(
    rejected_log_records: int = 0, error_message: str = ""
) -> bytes:
    """ExportLogsServiceResponse wire bytes; full success is b""."""
    return encode_message(LOGS_RESPONSE, {
        "rejected_log_records": rejected_log_records,
        "error_message": error_message,
    })


# --- the per-message names -----------------------------------------------------

encode_log_record = partial(encode_message, LOG_RECORD)
decode_log_record = partial(decode_message, LOG_RECORD)
encode_logs_request = partial(encode_request, LOGS_REQUEST)
decode_logs_request = partial(decode_request, LOGS_REQUEST)
decode_logs_response = partial(decode_message, LOGS_RESPONSE)
encode_span_event = partial(encode_message, SPAN_EVENT)
decode_span_event = partial(decode_message, SPAN_EVENT)
encode_span_link = partial(encode_message, SPAN_LINK)
decode_span_link = partial(decode_message, SPAN_LINK)
encode_span = partial(encode_message, SPAN)
decode_span = partial(decode_message, SPAN)
encode_trace_request = partial(encode_request, TRACE_REQUEST)
decode_trace_request = partial(decode_request, TRACE_REQUEST)
encode_exemplar = partial(encode_message, EXEMPLAR)
decode_exemplar = partial(decode_message, EXEMPLAR)
encode_number_point = partial(encode_message, NUMBER_POINT)
decode_number_point = partial(decode_message, NUMBER_POINT)
encode_histogram_point = partial(encode_message, HISTOGRAM_POINT)
decode_histogram_point = partial(decode_message, HISTOGRAM_POINT)
encode_exp_histogram_point = partial(encode_message, EXP_HISTOGRAM_POINT)
decode_exp_histogram_point = partial(decode_message, EXP_HISTOGRAM_POINT)
encode_summary_point = partial(encode_message, SUMMARY_POINT)
decode_summary_point = partial(decode_message, SUMMARY_POINT)
encode_metric = partial(encode_message, METRIC)
decode_metric = partial(decode_message, METRIC)
encode_metrics_request = partial(encode_request, METRICS_REQUEST)
decode_metrics_request = partial(decode_request, METRICS_REQUEST)
