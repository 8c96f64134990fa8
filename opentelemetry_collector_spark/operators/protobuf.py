"""OTLP codec operators — the OTLP/HTTP receiver's send/receive analog.

The reference negotiates protobuf or JSON per signal on the OTLP/HTTP
endpoint and swaps only the serializer by content type
(receiver/otlpreceiver/encoder.go:30-36; marshalers at
pdata/plog/pb.go:24-40 and pdata/plog/json.go:29-42). This module
round-trips the engine's frames through real OTLP bytes or OTLP/JSON text.
The wire layout is the message table of functions/protowire.py; the
protobuf wire's generic codec is there, and functions/otlpjson.py walks
the same table for the JSON wire:

* flat: one ``LogRecord`` protobuf message per row (to/from_otlp_protobuf);
* logs: one ``ExportLogsServiceRequest`` per conversation —
  Resource{conv_id} -> Scope -> LogRecord[] in turn order, the actual
  resourceLogs nesting (pdata/plog/logs.go:24,60-62);
* traces: build_spans rows <-> one ``ExportTraceServiceRequest`` per
  conversation (Span incl. events/links/trace_state/status);
* metrics: histogram_explicit points <-> one
  ``ExportMetricsServiceRequest`` per point (Resource{tool} -> Scope ->
  one histogram ``Metric``);
* the ingest response: per-request partial success
  (``ExportLogsServiceResponse``).

Each signal's encoder and decoder is written once and bound to a wire
(``_Wire``: the wire's generic request codecs); the ``*_protobuf`` and
``*_json`` functions differ only in that binding, so both wires decode to
identical rows.

Engine columns ride in the reserved ``otelcol.`` attribute namespace
(conv_id/turn_idx/role/tool/parsed_tool/dur_ms/status); user attributes
(attributes_json) become real typed KeyValue pairs and are re-canonicalized
on decode with byte-identical rules to functions.values.attributes_json_sql.

Scale notes: both directions are ``mapInPandas`` (Arrow-batched, one pass);
the logs and trace encoders' only shuffle is the groupBy(conv_id) that the
wire hierarchy itself requires, aligned with the table bucket key. Byte
assembly is per-record by nature (same loop shape as the reference's
generated Marshal), but stays inside the Arrow batch.

Native fast path: Spark 3.4+ ships ``from_protobuf``/``to_protobuf`` in the
``spark-protobuf`` artifact. The engine does not bundle the jar (gated the
same way sources/catalog.py gates Iceberg) — ``native_protobuf_available()``
probes for it; when a deployment ships the jar plus the OTLP descriptor
set, the swap is mechanical and this codec is the conformance oracle
(byte-identical proto3 output is asserted by the golden-vector tests).
"""

from __future__ import annotations

import json
import re
from functools import partial
from typing import Any, Callable, Iterator, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from opentelemetry_collector_spark.functions import otlpjson, protowire
from opentelemetry_collector_spark.functions.otlpjson import (
    any_value_from_otlp_json,
    any_value_to_otlp_json,
)
from opentelemetry_collector_spark.functions.protowire import (
    LOGS_REQUEST,
    METRICS_REQUEST,
    TRACE_REQUEST,
    decode_log_record,
    encode_log_record,
)
from opentelemetry_collector_spark.functions.values import (
    JSON_ESCAPES as _ESCAPES,
)
from opentelemetry_collector_spark.functions.values import (
    JSON_NUMBER_RE,
    JSON_TERMINATOR_RE,
    _es6_number_str,
)

#: reserved attribute namespace for engine columns on the wire
ENGINE_PREFIX = "otelcol."
SCOPE_NAME = "otelcol-spark/transcripts"

_NUM_RE = re.compile(JSON_NUMBER_RE)
_TERM_RE = re.compile(JSON_TERMINATOR_RE)

DECODED_SCHEMA = (
    "conv_id string, turn_idx int, role string, tool string, "
    "ts timestamp_ntz, severity_text string, severity_number int, "
    "parsed_tool string, trace_id string, span_id string, dur_ms long, "
    "status string, attributes_json string, body string, "
    "attributes_wire string"
)

_OUT_COLS = [f.split()[0] for f in DECODED_SCHEMA.split(", ")]


def _escape(s: str) -> str:
    for raw, esc in _ESCAPES:
        s = s.replace(raw, esc)
    return s


def _nested_fragment(v: Any) -> str:
    """A value in NESTED position (inside a map/slice attribute) -> JSON
    fragment. Nested positions follow pcommon.Value.AsString's map/slice
    rule (value.go:361-395: AsRaw + json.Marshal — sorted map keys, bare
    bools/numbers, bytes as base64 strings), NOT the flat top-level
    convention (_scalar_text quotes bools/bytes because the Column path is
    cast-to-string). Non-finite doubles render quoted — json.Marshal
    rejects them outright; a quoted 'NaN' keeps the document parseable.
    Must stay byte-identical to functions.values.json_value (the Column
    twin)."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (bytes, bytearray)):
        import base64

        return '"' + base64.b64encode(bytes(v)).decode("ascii") + '"'
    if isinstance(v, dict):
        return (
            "{"
            + ", ".join(
                f'"{_escape(k)}": {_nested_fragment(x)}'
                for k, x in sorted(v.items())
            )
            + "}"
        )
    if isinstance(v, list):
        return "[" + ", ".join(_nested_fragment(x) for x in v) + "]"
    if isinstance(v, float):
        s = _es6_number_str(v)
        return s if _NUM_RE.match(s) else f'"{s}"'
    if isinstance(v, int):
        return str(v)
    return f'"{_escape(str(v))}"'


def _scalar_text(v: Any) -> str:
    """One TOP-LEVEL attribute value -> canonical JSON fragment. Mirrors
    functions.values._json_scalar exactly: render to string (ES6 form for
    doubles), bare iff it is a canonical JSON number, else escaped+quoted
    (bools stringify to 'true'/'false' and thus quote, matching the Column
    path's cast-to-string behavior). Non-scalar values — map/slice/bytes
    AnyValues decoded from an external OTLP blob — take the nested-JSON
    rule (value.go:361-395), never Python repr."""
    if isinstance(v, (dict, list, bytes, bytearray)):
        return _nested_fragment(v)
    if isinstance(v, bool):
        s = "true" if v else "false"
    elif isinstance(v, float):
        s = _es6_number_str(v)
    else:
        s = str(v)
    # mirror the Column path's terminator guard: Python `$` matches before
    # a trailing \n, so "42\n" would otherwise be emitted bare (invalid)
    if _NUM_RE.match(s) and not _TERM_RE.search(s):
        return s
    return f'"{_escape(s)}"'


def canonical_attrs_json(attrs: dict[str, Any]) -> str:
    """Sorted-key canonical JSON — the Python twin of
    functions.values.attributes_json_sql (null-valued keys omitted)."""
    return (
        "{"
        + ", ".join(
            f'"{k}": {_scalar_text(v)}'
            for k, v in sorted(attrs.items())
            if v is not None
        )
        + "}"
    )


# --- typed attribute sidecar (OTLP/JSON AnyValue encoding) -------------------
# The flat canonical attributes_json is the reference's AsString form —
# lossy by construction for bool ("true" is a string), bytes (base64 is a
# string) and integral doubles (42.0 renders "42"). For byte-identical
# wire -> column -> wire round trips the decode path also carries the
# attributes in the OTLP/JSON typed AnyValue encoding (the public OTLP JSON
# protocol's representation — int64 as decimal STRING, bytes as base64
# under "bytesValue", arrays/kvlists recursive), which encode_any_value can
# regenerate exactly.




def attrs_to_wire_json(attrs: dict[str, Any]) -> str:
    """User attributes -> OTLP/JSON typed sidecar string (sorted keys —
    canonical, so encode->decode->encode is byte-identical and any external
    unsorted wire becomes a fixed point after one pass)."""
    return json.dumps(
        {k: any_value_to_otlp_json(attrs[k]) for k in sorted(attrs)},
        separators=(",", ":"),
    )


def attrs_from_wire_json(s: str) -> dict[str, Any]:
    return {k: any_value_from_otlp_json(v) for k, v in json.loads(s).items()}


def _none_if_na(v: Any) -> Any:
    import pandas as pd

    return None if v is None or (not isinstance(v, (str, bytes)) and pd.isna(v)) else v


def _row_to_record(row: dict[str, Any]) -> dict[str, Any]:
    """One wire-input row (plain dict) -> protowire LogRecord dict. User
    attributes come from the typed sidecar when present (wire-fidelity:
    bool/bytes/double survive exactly); the parse stage has no sidecar and
    uses the flat canonical JSON, whose values are scalar by construction.
    """
    if row.get("attributes_wire") is not None:
        user = attrs_from_wire_json(row["attributes_wire"])
    else:
        user = json.loads(row["attributes_json"] or "{}")
    engine = {
        "conv_id": row["conv_id"],
        "turn_idx": row["turn_idx"],
        "role": row["role"],
        "tool": row["tool"],
        "parsed_tool": row["parsed_tool"],
        "dur_ms": row["dur_ms"],
        "status": row["status"],
    }
    attrs = dict(user)
    for k, v in engine.items():
        if v is not None:
            attrs[ENGINE_PREFIX + k] = v
    micros = row["time_unix_micros"]
    return {
        "time_unix_nano": 0 if micros is None else int(micros) * 1000,
        "severity_number": row["severity_number"] or 0,
        "severity_text": row["severity_text"] or "",
        "body": row["body"],
        "attributes": {k: attrs[k] for k in sorted(attrs)},
        "trace_id": bytes.fromhex(row["trace_id"]) if row["trace_id"] else b"",
        "span_id": bytes.fromhex(row["span_id"]) if row["span_id"] else b"",
    }


def _record_to_row(rec: dict[str, Any]) -> dict[str, Any]:
    """protowire LogRecord dict -> decoded output row. proto3 defaults
    (0 / empty) map back to SQL NULL where the engine schema uses NULL:
    time 0 is unset, empty trace/span ids are invalid ids. severity is
    three-valued in the parse layer (severity.py:severity_case_sql): no
    marker -> 0 (SeverityNumberUnspecified, severity_number.go:23), unknown
    token -> NULL (dead-letter signal). proto3 conflates NULL with 0 on the
    wire, but severity_text disambiguates: a non-empty text whose number is
    0 can only be an unmapped token (the encoder always writes the number
    for mapped tokens), so decode restores NULL there and 0 otherwise."""
    attrs = rec["attributes"]
    engine = {
        k[len(ENGINE_PREFIX):]: v
        for k, v in attrs.items()
        if k.startswith(ENGINE_PREFIX)
    }
    user = {k: v for k, v in attrs.items() if not k.startswith(ENGINE_PREFIX)}
    t = rec["time_unix_nano"]
    dur = engine.get("dur_ms")
    return {
        "conv_id": engine.get("conv_id"),
        "turn_idx": engine.get("turn_idx"),
        "role": engine.get("role"),
        "tool": engine.get("tool"),
        "time_unix_micros": None if t == 0 else t // 1000,
        "severity_text": rec["severity_text"] or None,
        "severity_number": (
            rec["severity_number"]
            if rec["severity_number"]
            else (None if rec["severity_text"] else 0)
        ),
        "parsed_tool": engine.get("parsed_tool"),
        "trace_id": rec["trace_id"].hex() if rec["trace_id"] else None,
        "span_id": rec["span_id"].hex() if rec["span_id"] else None,
        "dur_ms": None if dur is None else int(dur),
        "status": engine.get("status"),
        "attributes_json": canonical_attrs_json(user),
        "body": rec["body"],
        "attributes_wire": attrs_to_wire_json(
            {k: v for k, v in user.items() if v is not None}
        ),
    }


_WIRE_INPUT_FIELDS = (
    "conv_id", "turn_idx", "role", "tool", "time_unix_micros",
    "severity_text", "severity_number", "parsed_tool", "trace_id",
    "span_id", "dur_ms", "status", "attributes_json", "body",
)


def _wire_input(parsed: DataFrame) -> DataFrame:
    """Project parsed turns to the codec input (ts -> integer micros on the
    JVM side so pandas never touches timezone logic)."""
    return parsed.select(
        "conv_id", "turn_idx", "role", "tool",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("time_unix_micros"),
        "severity_text", "severity_number", "parsed_tool", "trace_id",
        "span_id", "dur_ms", "status", "attributes_json", "body",
    )


def _clean_row(row: dict[str, Any]) -> dict[str, Any]:
    """NA -> None and pandas float-widened ints -> int (varints need ints)."""
    clean = {k: _none_if_na(v) for k, v in row.items()}
    for k in ("turn_idx", "severity_number", "dur_ms", "time_unix_micros"):
        if clean.get(k) is not None:
            clean[k] = int(clean[k])
    return clean


def _clean_rows(pdf) -> Iterator[dict[str, Any]]:
    for row in pdf.to_dict("records"):
        yield _clean_row(row)


def _rows_to_pdf(rows: list[dict[str, Any]]):
    import pandas as pd

    pdf = pd.DataFrame(
        {c: [r[c] for r in rows] for c in _OUT_COLS if c != "ts"}
        | {
            "ts": pd.to_datetime(
                pd.Series([r["time_unix_micros"] for r in rows], dtype="Int64"),
                unit="us",
            )
        }
    )
    for int_col, dtype in (("turn_idx", "Int32"), ("severity_number", "Int32"),
                           ("dur_ms", "Int64")):
        pdf[int_col] = pdf[int_col].astype(dtype)
    return pdf[_OUT_COLS]


def to_otlp_protobuf(parsed: DataFrame) -> DataFrame:
    """Serialize parsed turns to one OTLP LogRecord protobuf message per row
    (plog ProtoMarshaler analog) -> [conv_id, turn_idx, otlp_protobuf]."""

    def encode(batches) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = list(_clean_rows(pdf))
            yield pd.DataFrame(
                {
                    "conv_id": [r["conv_id"] for r in rows],
                    "turn_idx": pd.Series(
                        [r["turn_idx"] for r in rows], dtype="Int32"
                    ),
                    "otlp_protobuf": [
                        encode_log_record(_row_to_record(r)) for r in rows
                    ],
                }
            )

    return _wire_input(parsed).mapInPandas(
        encode, "conv_id string, turn_idx int, otlp_protobuf binary"
    )


def from_otlp_protobuf(serialized: DataFrame) -> DataFrame:
    """Parse LogRecord protobuf bytes back to parsed-turn columns (plog
    ProtoUnmarshaler analog); strict — malformed bytes raise, mirroring the
    reference unmarshal error that makes the receiver reject the request
    (dead-lettering belongs to the source layer, sources/jsonl.py)."""

    def decode(batches) -> Iterator:
        for pdf in batches:
            rows = [
                _record_to_row(decode_log_record(bytes(b)))
                for b in pdf["otlp_protobuf"]
            ]
            yield _rows_to_pdf(rows)

    return serialized.select("otlp_protobuf").mapInPandas(
        decode, DECODED_SCHEMA
    )


# --- one Spark codec per signal, bound to a wire -----------------------------
# The OTLP/HTTP receiver serves each signal on two wires and swaps only the
# serializer by content type (receiver/otlpreceiver/encoder.go:30-36). So
# does this module: each signal's Spark encoder and decoder is written once
# and takes a _Wire, which supplies the wire's generic request codecs (bound
# to the signal's request message at the call) and the Spark type of the
# wire column. Each public function binds one wire.


class _Wire(NamedTuple):
    spark_type: str  # of the wire column
    # (request message, resource attrs, scope name, items) -> one request
    encode: Callable[..., Any]
    # (request message, request) -> [(resource attrs, scope name, items)]
    decode: Callable[..., list]
    encode_logs_response: Callable[[int, str], Any]


_PROTOBUF = _Wire(
    "binary", protowire.encode_request, protowire.decode_request,
    protowire.encode_logs_response,
)
_JSON = _Wire(
    "string", otlpjson.request_to_otlp_json, otlpjson.request_from_otlp_json,
    otlpjson.logs_response_to_otlp_json,
)


def _frame(rows: list, cols: list[str], int_dtypes: tuple = ()):
    """rows -> a pandas frame of exactly ``cols`` (an empty batch still
    carries them: pd.DataFrame([]) has none and fails Arrow schema
    conversion), with nullable Int dtypes where a NULL would otherwise
    widen the column to float."""
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=cols)
    for col, dtype in int_dtypes:
        pdf[col] = pdf[col].astype(dtype)
    return pdf


def _encode_by_conv(
    rows: DataFrame,
    item: Column,
    to_item: Callable[[dict[str, Any]], dict[str, Any]],
    encode: Callable[..., Any],
    out_col: str,
    spark_type: str,
) -> DataFrame:
    """One request per conversation: Resource{conv_id} -> Scope -> one
    wire item per row, sorted by ``item`` (a struct led by turn_idx, so
    the order is turn order). The groupBy(conv_id) shuffle is inherent to
    the wire hierarchy and aligns with the table bucket key."""
    grouped = rows.groupBy("conv_id").agg(
        F.sort_array(F.collect_list(item)).alias("items")
    )

    def encode_batches(batches) -> Iterator:
        import pandas as pd

        for pdf in batches:
            convs = list(pdf["conv_id"])
            yield pd.DataFrame(
                {
                    "conv_id": convs,
                    out_col: [
                        encode(
                            {"conv_id": conv_id},
                            SCOPE_NAME,
                            [to_item(dict(r) | {"conv_id": conv_id})
                             for r in items],
                        )
                        for conv_id, items in zip(convs, pdf["items"])
                    ],
                }
            )

    return grouped.mapInPandas(
        encode_batches, f"conv_id string, {out_col} {spark_type}"
    )


def _decode_requests(
    serialized: DataFrame,
    in_col: str,
    decode: Callable[[Any], list],
    to_rows: Callable[[dict[str, Any], dict[str, Any]], list],
    to_pdf: Callable[[list], Any],
    schema: str,
) -> DataFrame:
    """Explode request blobs to output rows (receiver-side unmarshal +
    flatten, otlpreceiver encoder.go:30-133): ``to_rows(resource_attrs,
    item)`` gives the rows of one wire item. Strict — a malformed blob
    raises, mirroring the reference unmarshal error that makes the
    receiver reject the request."""

    def decode_batches(batches) -> Iterator:
        for pdf in batches:
            yield to_pdf(
                [
                    row
                    for blob in pdf[in_col]
                    for res_attrs, _scope, items in decode(blob)
                    for item in items
                    for row in to_rows(res_attrs, item)
                ]
            )

    return serialized.select(in_col).mapInPandas(decode_batches, schema)


def _resource_conv(
    res_attrs: dict[str, Any], row: dict[str, Any]
) -> dict[str, Any]:
    """The resource-level conv_id wins over the item's own attribute
    copy."""
    row["conv_id"] = res_attrs.get("conv_id", row["conv_id"])
    return row


# --- logs signal -------------------------------------------------------------


def _to_logs_requests(
    parsed: DataFrame, wire: _Wire, out_col: str
) -> DataFrame:
    item = F.struct(*[F.col(c) for c in _WIRE_INPUT_FIELDS if c != "conv_id"])
    return _encode_by_conv(
        _wire_input(parsed), item, lambda r: _row_to_record(_clean_row(r)),
        partial(wire.encode, LOGS_REQUEST), out_col, wire.spark_type,
    )


def _from_logs_requests(
    serialized: DataFrame, wire: _Wire, in_col: str
) -> DataFrame:
    return _decode_requests(
        serialized, in_col, partial(wire.decode, LOGS_REQUEST),
        lambda res, rec: [_resource_conv(res, _record_to_row(rec))],
        _rows_to_pdf, DECODED_SCHEMA,
    )


def to_otlp_request_protobuf(parsed: DataFrame) -> DataFrame:
    """One ExportLogsServiceRequest per conversation -> [conv_id,
    otlp_request]: Resource{conv_id} -> Scope -> LogRecord[] sorted by
    turn_idx (plog ProtoMarshaler analog)."""
    return _to_logs_requests(parsed, _PROTOBUF, "otlp_request")


def from_otlp_request_protobuf(serialized: DataFrame) -> DataFrame:
    """Explode ExportLogsServiceRequest blobs back to one row per LogRecord
    on DECODED_SCHEMA (receiver-side unmarshal+flatten)."""
    return _from_logs_requests(serialized, _PROTOBUF, "otlp_request")


def to_otlp_request_json(parsed: DataFrame) -> DataFrame:
    """to_otlp_request_protobuf on the OTLP/JSON wire (plogjson
    JSONMarshaler analog) -> [conv_id, otlp_json_request]."""
    return _to_logs_requests(parsed, _JSON, "otlp_json_request")


def from_otlp_request_json(serialized: DataFrame) -> DataFrame:
    """from_otlp_request_protobuf on the OTLP/JSON wire: both wires decode
    to identical rows (tests/test_protobuf.py)."""
    return _from_logs_requests(serialized, _JSON, "otlp_json_request")


def _ingest_response(
    serialized: DataFrame, wire: _Wire, in_col: str, out_col: str
) -> DataFrame:
    """Per-request partial-success surface — one row per request with
    (accepted, rejected, error_message) and the wire
    ``ExportLogsServiceResponse``, mirroring otlpreceiver's per-Export
    response (receiver/otlpreceiver/otlp.go Export -> plogotlp/response.go
    ExportPartialSuccess{rejected_log_records, error_message}).

    A record is REJECTED when it fails the engine ingest contract at the
    codec boundary: no ``otelcol.conv_id`` identity, or a severity token
    the 25-level table cannot map (severity_number NULL with non-empty
    text) — the dead-letter predicate. A request that fails unmarshal
    outright is a FULL reject — the reference answers that with an error
    status, not partial success — surfaced as accepted/rejected NULL, the
    unmarshal message, and a NULL response. A NULL request cell (no body)
    is the same full reject with one message on both wires,
    ``unmarshal: NULL request``, answered before the wire decoder runs.

    Scale: one mapInPandas pass over the requests, no shuffle; pairs with
    the request decoder (same input, second action) the way the
    receiver's response writer pairs with its consumer push."""

    def respond(batches) -> Iterator:
        for pdf in batches:
            rows = []
            for conv_id, blob in zip(pdf["conv_id"], pdf[in_col]):
                if blob is None:
                    rows.append(
                        (conv_id, None, None, "unmarshal: NULL request", None)
                    )
                    continue
                try:
                    requests = wire.decode(LOGS_REQUEST, blob)
                except Exception as e:  # malformed request: full reject
                    # NULL response, NOT the empty one: an empty response
                    # encodes FULL SUCCESS (0 rejects), so the wire must
                    # never claim success for a rejected request — the
                    # reference answers unmarshal failures with an error
                    # status and no Export response at all.
                    rows.append((conv_id, None, None, f"unmarshal: {e}", None))
                    continue
                accepted = rejected = 0
                first_error = None
                for res_attrs, _scope, recs in requests:
                    for rec in recs:
                        row = _resource_conv(res_attrs, _record_to_row(rec))
                        error = None
                        if row["conv_id"] is None:
                            error = "missing conv_id"
                        elif (
                            row["severity_number"] is None
                            and row["severity_text"]
                        ):
                            error = "unmappable severity: " + str(
                                row["severity_text"]
                            )
                        if error is None:
                            accepted += 1
                        else:
                            rejected += 1
                            first_error = first_error or error
                rows.append(
                    (
                        conv_id,
                        accepted,
                        rejected,
                        first_error,
                        wire.encode_logs_response(rejected, first_error or ""),
                    )
                )
            yield _frame(
                rows,
                ["conv_id", "accepted", "rejected", "error_message", out_col],
                (("accepted", "Int32"), ("rejected", "Int32")),
            )

    return serialized.select("conv_id", in_col).mapInPandas(
        respond,
        "conv_id string, accepted int, rejected int, error_message string, "
        f"{out_col} {wire.spark_type}",
    )


def otlp_ingest_response(serialized: DataFrame) -> DataFrame:
    """Partial-success responses to [conv_id, otlp_request] protobuf
    requests -> [conv_id, accepted, rejected, error_message,
    response_protobuf]; full success is b"", a full reject NULL."""
    return _ingest_response(
        serialized, _PROTOBUF, "otlp_request", "response_protobuf"
    )


def otlp_ingest_response_json(serialized: DataFrame) -> DataFrame:
    """otlp_ingest_response on the OTLP/JSON wire (the HTTP receiver
    answers JSON requests with JSON responses) -> [..., response_json];
    full success is "{}", a full reject NULL."""
    return _ingest_response(
        serialized, _JSON, "otlp_json_request", "response_json"
    )


def native_protobuf_available(spark) -> bool:
    """True iff the spark-protobuf artifact is on the session classpath —
    the gate for swapping this codec's mapInPandas path for the built-in
    ``from_protobuf``/``to_protobuf`` columnar functions (same bytes)."""
    try:
        jvm = spark._jvm  # noqa: SLF001
        jvm.java.lang.Class.forName(
            "org.apache.spark.sql.protobuf.ProtobufDataToCatalyst"
        )
        return True
    except Exception:
        return False


def select_protobuf_codec(spark, force: str | None = None) -> str:
    """Code-path selection for OTLP log-record decode: ``"native"`` when
    the spark-protobuf artifact is on the classpath, else ``"python"``
    (this module's Arrow-batched pure-Python codec). ``force`` pins the
    choice — deployments that ship the jar but want the conformance-oracle
    path (or vice versa) set it explicitly."""
    if force is not None:
        if force not in ("native", "python"):
            raise ValueError(
                f"force must be 'native' or 'python', got {force!r}"
            )
        return force
    return "native" if native_protobuf_available(spark) else "python"


def decode_log_records(
    spark, serialized: DataFrame, force: str | None = None
) -> DataFrame:
    """Decode flat LogRecord blobs via whichever codec the gate selects.

    The native branch is the mechanical swap documented in the module
    header: ``from_protobuf(otlp_protobuf, "...LogRecord", descriptor)``
    with the OTLP descriptor set compiled at deploy time. The sandbox
    ships no spark-protobuf jar, so that branch raises the same actionable
    gate error as ``sources/catalog.py``'s Iceberg path; the pure-Python
    codec is its conformance oracle either way (golden-vector tests pin
    the exact wire bytes both must produce)."""
    path = select_protobuf_codec(spark, force)
    if path == "native":
        if not native_protobuf_available(spark):
            raise RuntimeError(
                "spark-protobuf not on classpath; pass force='python' or "
                "ship the jar + OTLP descriptor set"
            )
        # deploy-time shape (unreachable in this sandbox, exercised via
        # the selection test): columnar decode, no Python in the path
        from pyspark.sql.protobuf.functions import from_protobuf  # noqa: F401

        raise RuntimeError(
            "native decode needs the OTLP FileDescriptorSet compiled at "
            "deploy time (protoc --descriptor_set_out); wire it here"
        )
    return from_otlp_protobuf(serialized)


# --- trace signal (ptrace ProtoMarshaler analog) -----------------------------

SPAN_DECODED_SCHEMA = (
    "trace_id string, span_id string, trace_state string, "
    "parent_span_id string, name string, kind int, flags int, "
    "start_unix_micros long, end_unix_micros long, status_code int, "
    "conv_id string, turn_idx int, attributes_json string, "
    "events array<struct<name:string, time_unix_micros:long, "
    "attributes_json:string>>, "
    "links array<struct<trace_id:string, span_id:string, "
    "attributes_json:string>>"
)

_SPAN_OUT_COLS = [
    "trace_id", "span_id", "trace_state", "parent_span_id", "name", "kind",
    "flags", "start_unix_micros", "end_unix_micros", "status_code",
    "conv_id", "turn_idx", "attributes_json", "events", "links",
]
_SPAN_INT_DTYPES = (
    ("kind", "Int32"), ("flags", "Int32"), ("turn_idx", "Int32"),
    ("status_code", "Int32"), ("start_unix_micros", "Int64"),
    ("end_unix_micros", "Int64"),
)


def _cell_list(v: Any) -> list:
    """Arrow hands array<struct> cells to pandas as numpy arrays whose
    truthiness is ambiguous — normalize to a plain list."""
    return [] if v is None else list(v)


def _span_row_to_wire(row: dict[str, Any]) -> dict[str, Any]:
    """One build_spans row -> protowire Span dict. The engine's flags column
    rides in the otelcol. attribute namespace: this collector version's Span
    message ends at field 15 (trace.pb.go predates Span.flags=16)."""
    attrs = dict(json.loads(row["attributes_json"] or "{}"))
    for k in ("conv_id", "turn_idx", "flags"):
        if row.get(k) is not None:
            attrs[ENGINE_PREFIX + k] = int(row[k]) if k != "conv_id" else row[k]
    return {
        "trace_id": bytes.fromhex(row["trace_id"]) if row["trace_id"] else b"",
        "span_id": bytes.fromhex(row["span_id"]) if row["span_id"] else b"",
        "trace_state": row["trace_state"] or "",
        "parent_span_id": (
            bytes.fromhex(row["parent_span_id"]) if row["parent_span_id"] else b""
        ),
        "name": row["name"] or "",
        "kind": int(row["kind"] or 0),
        "start_time_unix_nano": int(row["start_unix_micros"] or 0) * 1000,
        "end_time_unix_nano": int(row["end_unix_micros"] or 0) * 1000,
        "attributes": {k: attrs[k] for k in sorted(attrs)},
        "events": [
            {
                "time_unix_nano": int(ev["time_unix_micros"] or 0) * 1000,
                "name": ev["name"] or "",
                "attributes": dict(json.loads(ev["attributes_json"] or "{}")),
            }
            for ev in _cell_list(row.get("events"))
        ],
        "links": [
            {
                "trace_id": (
                    bytes.fromhex(ln["trace_id"]) if ln["trace_id"] else b""
                ),
                "span_id": (
                    bytes.fromhex(ln["span_id"]) if ln["span_id"] else b""
                ),
                "trace_state": "",
                "attributes": dict(json.loads(ln["attributes_json"] or "{}")),
            }
            for ln in _cell_list(row.get("links"))
        ],
        "status_code": int(row["status_code"] or 0),
        "status_message": "",
    }


def _wire_to_span_row(sp: dict[str, Any]) -> dict[str, Any]:
    attrs = sp["attributes"]
    engine = {
        k[len(ENGINE_PREFIX):]: v
        for k, v in attrs.items()
        if k.startswith(ENGINE_PREFIX)
    }
    user = {k: v for k, v in attrs.items() if not k.startswith(ENGINE_PREFIX)}
    return {
        "trace_id": sp["trace_id"].hex() if sp["trace_id"] else None,
        "span_id": sp["span_id"].hex() if sp["span_id"] else None,
        "trace_state": sp["trace_state"],
        "parent_span_id": sp["parent_span_id"].hex() if sp["parent_span_id"] else "",
        "name": sp["name"],
        "kind": sp["kind"],
        "flags": None if engine.get("flags") is None else int(engine["flags"]),
        "start_unix_micros": sp["start_time_unix_nano"] // 1000,
        "end_unix_micros": sp["end_time_unix_nano"] // 1000,
        "status_code": sp["status_code"],
        "conv_id": engine.get("conv_id"),
        "turn_idx": None if engine.get("turn_idx") is None else int(engine["turn_idx"]),
        "attributes_json": canonical_attrs_json(user),
        "events": [
            {
                "name": ev["name"],
                "time_unix_micros": ev["time_unix_nano"] // 1000,
                "attributes_json": canonical_attrs_json(ev["attributes"]),
            }
            for ev in sp["events"]
        ],
        "links": [
            {
                "trace_id": ln["trace_id"].hex() if ln["trace_id"] else None,
                "span_id": ln["span_id"].hex() if ln["span_id"] else None,
                "attributes_json": canonical_attrs_json(ln["attributes"]),
            }
            for ln in sp["links"]
        ],
    }


def _to_trace_requests(
    parsed: DataFrame, wire: _Wire, out_col: str
) -> DataFrame:
    from opentelemetry_collector_spark.operators.observe import build_spans

    item = F.struct(
        "turn_idx", *[F.col(c) for c in _SPAN_OUT_COLS if c != "turn_idx"]
    )
    return _encode_by_conv(
        build_spans(parsed), item, _span_row_to_wire,
        partial(wire.encode, TRACE_REQUEST), out_col, wire.spark_type,
    )


def _from_trace_requests(
    serialized: DataFrame, wire: _Wire, in_col: str
) -> DataFrame:
    return _decode_requests(
        serialized, in_col, partial(wire.decode, TRACE_REQUEST),
        lambda res, sp: [_resource_conv(res, _wire_to_span_row(sp))],
        lambda rows: _frame(rows, _SPAN_OUT_COLS, _SPAN_INT_DTYPES),
        SPAN_DECODED_SCHEMA,
    )


def to_otlp_trace_protobuf(parsed: DataFrame) -> DataFrame:
    """parse -> build_spans -> one ExportTraceServiceRequest per
    conversation -> [conv_id, otlp_trace_request] (Resource{conv_id} ->
    Scope -> Span[] in turn order; ptrace pb.go marshal analog)."""
    return _to_trace_requests(parsed, _PROTOBUF, "otlp_trace_request")


def from_otlp_trace_protobuf(serialized: DataFrame) -> DataFrame:
    """Unmarshal ExportTraceServiceRequest blobs back to one row per Span
    with the exact build_spans schema (receiver-side flatten)."""
    return _from_trace_requests(serialized, _PROTOBUF, "otlp_trace_request")


def to_otlp_trace_json(parsed: DataFrame) -> DataFrame:
    """to_otlp_trace_protobuf on the OTLP/JSON wire (ptracejson marshaler
    analog) -> [conv_id, otlp_trace_json_request]."""
    return _to_trace_requests(parsed, _JSON, "otlp_trace_json_request")


def from_otlp_trace_json(serialized: DataFrame) -> DataFrame:
    """from_otlp_trace_protobuf on the OTLP/JSON wire: both wires decode to
    identical rows (tests/test_protobuf.py)."""
    return _from_trace_requests(serialized, _JSON, "otlp_trace_json_request")


# --- metrics signal (pmetric ProtoMarshaler analog) --------------------------

_HIST_DECODED_SCHEMA_TMPL = (
    "bucket_start_epoch bigint, tool string, n_points bigint, "
    "sum_value bigint, min_value bigint, max_value bigint, {buckets}"
)


def _hist_bucket_cols() -> list[str]:
    from opentelemetry_collector_spark.operators.metrics import HISTOGRAM_BOUNDS

    return [f"bucket_le_{b}" for b in HISTOGRAM_BOUNDS] + [
        f"bucket_gt_{HISTOGRAM_BOUNDS[-1]}"
    ]


def _to_metric_requests(
    parsed: DataFrame, wire: _Wire, out_col: str
) -> DataFrame:
    """histogram_explicit points -> one ExportMetricsServiceRequest per row:
    Resource{tool} -> Scope -> one histogram Metric with one
    delta-temporality HistogramDataPoint. Bucket counts map 1:1:
    explicit_bounds = HISTOGRAM_BOUNDS, counts = per-bucket le_* columns +
    the gt_* overflow."""
    from opentelemetry_collector_spark.operators.metrics import (
        HISTOGRAM_BOUNDS,
        histogram_explicit,
    )

    bucket_cols = _hist_bucket_cols()
    encode = partial(wire.encode, METRICS_REQUEST)

    def metric(r: dict[str, Any]) -> dict[str, Any]:
        start = int(r["bucket_start_epoch"])
        dp = {
            "attributes": {
                "tool": r["tool"],
                ENGINE_PREFIX + "bucket_start_epoch": start,
            },
            "start_time_unix_nano": start * 10**9,
            "time_unix_nano": start * 10**9,
            "count": int(r["n_points"]),
            "sum": float(r["sum_value"]),
            "bucket_counts": [int(r[c]) for c in bucket_cols],
            "explicit_bounds": [float(b) for b in HISTOGRAM_BOUNDS],
            "exemplars": [],
            "flags": 0,
            "min": float(r["min_value"]),
            "max": float(r["max_value"]),
        }
        return {
            "name": "otelcol.span.duration",
            "description": "",
            "unit": "ms",
            "type": "histogram",
            "aggregation_temporality": protowire.AGG_TEMPORALITY_DELTA,
            "data_points": [dp],
        }

    def encode_batches(batches) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = pdf.to_dict("records")
            yield pd.DataFrame(
                {
                    "tool": [r["tool"] for r in rows],
                    out_col: [
                        encode({"tool": r["tool"]}, SCOPE_NAME, [metric(r)])
                        for r in rows
                    ],
                }
            )

    return histogram_explicit(parsed).mapInPandas(
        encode_batches, f"tool string, {out_col} {wire.spark_type}"
    )


def _from_metric_requests(
    serialized: DataFrame, wire: _Wire, in_col: str
) -> DataFrame:
    """Metric requests back to histogram_explicit's exact columns."""
    from opentelemetry_collector_spark.operators.metrics import HISTOGRAM_BOUNDS

    engine_bounds = [float(b) for b in HISTOGRAM_BOUNDS]
    bucket_cols = _hist_bucket_cols()
    col_order = [
        "bucket_start_epoch", "tool", "n_points",
        "sum_value", "min_value", "max_value", *bucket_cols,
    ]

    def point_rows(_res_attrs: dict[str, Any], m: dict[str, Any]) -> list:
        if m["type"] != "histogram":
            raise ValueError(f"expected histogram metric, got {m['type']}")
        rows = []
        for dp in m["data_points"]:
            # sum/min/max are OPTIONAL in OTLP HistogramDataPoint — a
            # spec-valid external producer may omit them; surface NULL
            # instead of crashing the task on int(None)
            row = {
                "bucket_start_epoch": int(
                    dp["attributes"][ENGINE_PREFIX + "bucket_start_epoch"]
                ),
                "tool": dp["attributes"]["tool"],
                "n_points": dp["count"],
                "sum_value": None if dp.get("sum") is None else int(dp["sum"]),
                "min_value": None if dp.get("min") is None else int(dp["min"]),
                "max_value": None if dp.get("max") is None else int(dp["max"]),
            }
            # strict — this decoder's columnar schema IS the bucket layout;
            # silently zip-truncating (or NULL-padding) an external point
            # with a different bucketization would corrupt counts,
            # contradicting the codec's malformed-bytes-raise posture
            if len(dp["bucket_counts"]) != len(bucket_cols):
                raise ValueError(
                    f"histogram point has {len(dp['bucket_counts'])} "
                    f"bucket counts, expected {len(bucket_cols)}"
                )
            if dp.get("explicit_bounds") != engine_bounds:
                raise ValueError(
                    f"histogram point bounds {dp.get('explicit_bounds')} "
                    f"!= engine bounds {engine_bounds}"
                )
            row.update(zip(bucket_cols, dp["bucket_counts"]))
            rows.append(row)
        return rows

    return _decode_requests(
        serialized, in_col, partial(wire.decode, METRICS_REQUEST), point_rows,
        lambda rows: _frame(rows, col_order),
        _HIST_DECODED_SCHEMA_TMPL.format(
            buckets=", ".join(f"{c} bigint" for c in bucket_cols)
        ),
    )


def to_otlp_metric_protobuf(parsed: DataFrame) -> DataFrame:
    """histogram_explicit points -> one ExportMetricsServiceRequest per row
    -> [tool, otlp_metric] (pmetric pb.go marshal analog)."""
    return _to_metric_requests(parsed, _PROTOBUF, "otlp_metric")


def from_otlp_metric_protobuf(serialized: DataFrame) -> DataFrame:
    """Unmarshal metric request blobs back to histogram_explicit's exact
    columns; strict on the bucket layout."""
    return _from_metric_requests(serialized, _PROTOBUF, "otlp_metric")


def to_otlp_metric_json(parsed: DataFrame) -> DataFrame:
    """to_otlp_metric_protobuf on the OTLP/JSON wire (pmetricjson
    marshaler analog) -> [tool, otlp_metric_json_request]."""
    return _to_metric_requests(parsed, _JSON, "otlp_metric_json_request")


def from_otlp_metric_json(serialized: DataFrame) -> DataFrame:
    """from_otlp_metric_protobuf on the OTLP/JSON wire, with the same strict
    bucket-layout checks."""
    return _from_metric_requests(serialized, _JSON, "otlp_metric_json_request")
