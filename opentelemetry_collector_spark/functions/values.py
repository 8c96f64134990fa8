"""Scalar function library — the pcommon.Value/Map analog (SURVEY §2.7).

The reference's dynamic value system (pdata/pcommon/value.go:31-40, 7 types)
dissolves into typed columns; the two semantics that must be preserved are:

- ``AsString`` canonicalization (value.go:361-426): maps/slices -> JSON,
  bytes -> base64. Here: ``json_value`` renders a nested attribute value
  that way (its Python twin is operators/protobuf.py ``_nested_fragment``).
- ordered-Map equality (pdata/pcommon/map.go:109-127): MapType loses order,
  so attributes serialize to a sorted-key JSON string (``attributes_json_sql``
  for the parse stage, ``attributes_json_typed`` for typed nested columns).

The Column functions are pure Column expressions — JVM-side, inside
whole-stage codegen; no Python UDFs except ``es6_double_string``. The
``*_sql`` renderers return Spark SQL text for the same rules: a hot
projection planned from SQL text costs a handful of py4j round trips,
where each PySpark Column call costs one or more.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


# A value serializes bare iff it is a CANONICAL JSON number (no leading
# zeros — '0123' bare would be invalid JSON). Single source for every
# attributes serializer (parse stage here, transform rewrites, codecs).
# The `$` anchor is line-terminator-lenient in BOTH engines (Python `$`
# matches before a final \n; Java before any final terminator), so the
# bare path must ALSO reject line terminators — "42\n" emitted bare would
# put a raw newline outside any JSON string. JSON_TERMINATOR_RE is that
# shared guard (valid in Python re and Java regex alike).
JSON_NUMBER_RE = r"^-?(0|[1-9][0-9]*)(\.[0-9]+)?$"
JSON_TERMINATOR_RE = r"[\n\r\u0085\u2028\u2029]"


# Full JSON string-escape table (RFC 8259 §7): backslash FIRST (escaping
# it later would double the escapes the other rules introduce), the five
# short escapes + \b \f, then every remaining control char as \u00XX.
# Single source for the Column and SQL-text serializers here and the Python
# twin in operators/protobuf.py.
JSON_ESCAPES: tuple[tuple[str, str], ...] = (
    ("\\", "\\\\"),
    ('"', '\\"'),
    ("\b", "\\b"),
    ("\f", "\\f"),
    ("\n", "\\n"),
    ("\r", "\\r"),
    ("\t", "\\t"),
) + tuple(
    (chr(c), f"\\u{c:04x}")
    for c in range(0x20)
    if chr(c) not in "\b\f\n\r\t"
)


def _json_scalar(col: Column) -> Column:
    # numeric stays bare if it round-trips as a canonical JSON number,
    # else JSON-escaped quoted string (full control-char coverage — a raw
    # \x0c in a value would make the document unparseable by from_json).
    # Bench-measured: the 34-replace chain costs ~3% steady-state over the
    # 5-escape version on the hot parse projection (well inside host
    # noise); a branch-gated variant compiled BOTH chains and measured
    # slower, so the straight chain stays.
    s = col.cast("string")
    is_bare = s.rlike(JSON_NUMBER_RE) & ~s.rlike(JSON_TERMINATOR_RE)
    return F.when(is_bare, s).otherwise(
        F.concat(F.lit('"'), _escape_col(s), F.lit('"'))
    )


def sql_str(s: str) -> str:
    """Spark SQL string literal reading ``s`` under both values of
    ``spark.sql.parser.escapedStringLiterals``: quoted as is when it holds
    no backslash, quote or non-printable character, else its UTF-8 bytes
    as ``CAST(X'..' AS STRING)`` (which constant-folds to the literal)."""
    if s.isprintable() and "\\" not in s and "'" not in s:
        return f"'{s}'"
    return f"CAST(X'{s.encode().hex().upper()}' AS STRING)"


def json_scalar_sql(expr: str) -> str:
    """SQL text twin of ``_json_scalar``: the flat scalar rule over the SQL
    expression ``expr``, read from the same JSON_ESCAPES, JSON_NUMBER_RE
    and JSON_TERMINATOR_RE."""
    s = f"CAST({expr} AS STRING)"
    e = s
    for raw, esc in JSON_ESCAPES:
        e = f"replace({e}, {sql_str(raw)}, {sql_str(esc)})"
    return (
        f"CASE WHEN {s} RLIKE {sql_str(JSON_NUMBER_RE)}"
        f" AND NOT ({s} RLIKE {sql_str(JSON_TERMINATOR_RE)}) THEN {s}"
        f" ELSE concat('\"', {e}, '\"') END"
    )


def attributes_json_sql(pairs: dict[str, str]) -> str:
    """Sorted-key canonical JSON object, as SQL text, from (name -> SQL
    expression) pairs. Null-valued keys are omitted (Map.Get absent-key
    semantics, pdata/pcommon/map.go:64-75); values follow the flat scalar
    rule (``json_scalar_sql``). Output example:
    '{"dur_ms": 42, "status": "OK"}'."""
    frags = ", ".join(
        f"CASE WHEN CAST({expr} AS STRING) IS NOT NULL"
        f" THEN concat({sql_str(json_key)}, {json_scalar_sql(expr)}) END"
        for key, expr in sorted(pairs.items())
        for json_key in [f'"{key}": ']
    )
    return f"concat('{{', concat_ws(', ', {frags}), '}}')"


def _escape_col(col: Column) -> Column:
    e = col
    for raw, esc in JSON_ESCAPES:
        e = F.replace(e, F.lit(raw), F.lit(esc))
    return e


def json_value(col: Column, kind="scalar") -> Column:
    """Canonical JSON fragment for a typed Column in NESTED position — the
    Column twin of operators.protobuf._nested_fragment, extending the flat
    scalar path (_json_scalar) to the full pcommon.Value type set
    (value.go:361-395 AsRaw+json.Marshal semantics):

    - "str": escaped+quoted (ALWAYS — nested types are known, so the flat
      path's bare-iff-looks-numeric heuristic does not apply);
    - "int": bare decimal;
    - "double": ES6 canonical form, bare when finite (quoted 'NaN'/
      'Infinity' keep the document parseable — json.Marshal rejects them);
      the one non-codegen leaf (Arrow-vectorized es6_double_string);
    - "bool": bare true/false;
    - "bytes": base64, quoted (BinaryType column);
    - ("array", elem_kind): JSON array over an ArrayType column;
    - ("map", value_kind): SORTED-key JSON object over a MapType column
      (MapType loses order; sorting is what makes the form canonical).

    The default kind "scalar" is the FLAT top-level rule (_json_scalar:
    cast to string, bare iff it looks like a canonical JSON number) —
    what attributes_json_sql does for the parse stage's scalar columns.

    NULL elements/values render as JSON null; a NULL at the top level
    renders NULL (attributes_json_typed omits the key). Everything
    is a pure Column expression — JVM-side, inside whole-stage codegen
    (the "double" leaf's ES6 formatter is the one Arrow-UDF exception).
    """
    if kind == "bool":
        return F.when(col, F.lit("true")).otherwise(F.lit("false"))
    if kind == "int":
        return col.cast("string")
    if kind == "str":
        return F.concat(F.lit('"'), _escape_col(col.cast("string")), F.lit('"'))
    if kind == "double":
        s = es6_double_string(col)
        return F.when(
            s.rlike(JSON_NUMBER_RE), s
        ).otherwise(F.concat(F.lit('"'), s, F.lit('"')))
    if kind == "bytes":
        # java.util.Base64 basic encoder — no line wrapping, matching
        # Python b64encode (guarded by the twin-consistency test)
        return F.concat(F.lit('"'), F.base64(col), F.lit('"'))
    if isinstance(kind, tuple) and kind[0] == "array":
        frags = F.transform(
            col, lambda x: F.coalesce(json_value(x, kind[1]), F.lit("null"))
        )
        return F.concat(F.lit("["), F.concat_ws(", ", frags), F.lit("]"))
    if isinstance(kind, tuple) and kind[0] == "map":
        entries = F.array_sort(F.map_entries(col))  # struct sorts key-first
        frags = F.transform(
            entries,
            lambda e: F.concat(
                F.lit('"'),
                _escape_col(e["key"]),
                F.lit('": '),
                F.coalesce(json_value(e["value"], kind[1]), F.lit("null")),
            ),
        )
        return F.concat(F.lit("{"), F.concat_ws(", ", frags), F.lit("}"))
    return _json_scalar(col)


def attributes_json_typed(pairs: dict) -> Column:
    """attributes_json_sql's Column form with per-key kind specs: values are
    (Column, kind)
    tuples (kind as in json_value) or bare Columns (scalar). Lets a nested
    attribute decoded from the wire — or built from typed nested columns —
    be re-canonicalized entirely column-side, byte-identical to the Python
    twin canonical_attrs_json."""
    frags = []
    for key in sorted(pairs):
        spec = pairs[key]
        col, kind = spec if isinstance(spec, tuple) else (spec, "scalar")
        frag = json_value(col, kind)
        frags.append(
            F.when(
                col.isNotNull(),
                F.concat(F.lit(f'"{key}": '), frag),
            )
        )
    return F.concat(F.lit("{"), F.concat_ws(", ", *frags), F.lit("}"))


def _es6_number_str(f: float) -> str:
    """ES6 Number::toString for one float64 — the reference's double
    canonicalization (pdata/pcommon/value.go:397-426: shortest round-trip
    decimal, integer-valued doubles without '.0', exponent form only for
    abs >= 1e21 or < 1e-6, bare exponent digits)."""
    import math
    from decimal import Decimal

    if math.isnan(f):
        return "NaN"
    if math.isinf(f):
        return "Infinity" if f > 0 else "-Infinity"
    if f == 0:
        return "0"
    neg = f < 0
    a = abs(f)
    # Python repr is the shortest round-trip form; rebase it to ES6's
    # exponent thresholds ([1e-6, 1e21) stays positional)
    if 1e-6 <= a < 1e21:
        s = format(Decimal(repr(a)), "f")
        if "." in s:
            s = s.rstrip("0").rstrip(".")
    else:
        mant, _, exp = repr(a).partition("e")
        if not exp:  # repr stayed positional outside ES6's window
            mant, _, exp = format(Decimal(repr(a)).normalize(), "e").partition("e")
        if "." in mant:
            mant = mant.rstrip("0").rstrip(".")
        e = int(exp)
        s = f"{mant}e{'+' if e >= 0 else '-'}{abs(e)}"
    return ("-" + s) if neg else s


def es6_double_string(col: Column) -> Column:
    """Vectorized (Arrow) ES6 double->string canonicalization. Only needed
    when asserting STRING equality on double-typed attribute values against
    the reference's AsString output; numeric comparisons never need it."""
    import pandas
    from pyspark.sql.functions import pandas_udf

    def _fmt(s: "pandas.Series") -> "pandas.Series":
        # Arrow hands SQL NULL to pandas as NaN; real NaN never reaches this
        # UDF (handled natively below), so isna here means NULL
        return s.map(lambda v: None if pandas.isna(v) else _es6_number_str(v))

    _fmt.__annotations__ = {"s": pandas.Series, "return": pandas.Series}
    fmt = pandas_udf(_fmt, "string")
    return (
        F.when(F.isnan(col), F.lit("NaN"))
        .when(col.isNull(), F.lit(None).cast("string"))
        .otherwise(fmt(col))
    )


def deterministic_trace_id(conv_id: Column, turn_idx: Column) -> Column:
    """32-hex deterministic trace id (pdata/pcommon/traceid.go analog):
    md5(conv_id:turn_idx). Hex-string form per SURVEY §1.6 mapping.
    """
    return F.md5(F.concat_ws(":", conv_id, turn_idx.cast("string")))


def deterministic_span_id(conv_id: Column, turn_idx: Column) -> Column:
    """16-hex deterministic span id (pdata/pcommon/spanid.go analog)."""
    return F.substring(
        F.md5(F.concat_ws(":", conv_id, turn_idx.cast("string"), F.lit("s"))), 1, 16
    )
