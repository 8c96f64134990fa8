"""Enrich stage — the attributes/resource-processor analog.

The reference core documents "telemetry enrichment" as a processor category
(docs/processing.md:82-91); here it is one projection over literal maps, no
join: each role/tool lookup table (FIXTURES.md §2) is a ``map(...)`` literal
keyed by role or parsed tool. Default fills: unmatched tool ->
tool_family='unknown' (attributes-processor upsert semantics,
pdata/pcommon/map.go:109-127).

The lookup rows are module constants — the single source of truth consumed by
BOTH the Spark side (the literal maps) and the DuckDB oracle (generated
VALUES clause), so engine-vs-oracle equality is structural.

Scale note: the projection fuses into whole-stage codegen — the 100 TB plan
is scan -> parse -> Project with zero exchange and no Python worker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# (role, role_kind, is_human, priority)
ROLES: list[tuple[str, str, bool, int]] = [
    ("user", "human", True, 1),
    ("assistant", "agent", False, 2),
    ("tool", "machine", False, 3),
    ("system", "control", False, 4),
]

# (tool, tool_family, timeout_ms, deprecated)
TOOLS: list[tuple[str, str, int, bool]] = [
    ("search", "search", 5000, False),
    ("browser", "search", 30000, False),
    ("python", "code", 60000, False),
    ("bash", "code", 60000, False),
    ("calculator", "compute", 1000, True),
    ("none", "none", 0, False),
]

ROLES_COLUMNS = ["role", "role_kind", "is_human", "priority"]
TOOLS_COLUMNS = ["tool", "tool_family", "timeout_ms", "deprecated"]


def _sql(v: object) -> str:
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, str):
        return f"'{v}'"
    return str(v)


def _lookup(key: str, rows: list[tuple], columns: list[str]) -> list[str]:
    """Spark SQL for ``columns[1:]`` of the row whose first field is ``key``
    in one literal map (NULL if none), ints as bigint. SQL text, since each
    PySpark Column method call costs several py4j round trips."""

    def lit(v: object) -> str:
        return f"{v}L" if type(v) is int else _sql(v)

    entries = ", ".join(
        f"{lit(row[0])}, named_struct("
        + ", ".join(f"{lit(c)}, {lit(v)}" for c, v in zip(columns[1:], row[1:]))
        + ")"
        for row in rows
    )
    return [f"map({entries})[{key}].{c}" for c in columns[1:]]


def enrich(parsed: DataFrame, spark: SparkSession) -> DataFrame:
    """One projection, no join. Column order: ``role``, the other parsed
    columns, then the role and tool attributes."""
    role_kind, *role_rest = _lookup("role", ROLES, ROLES_COLUMNS)
    tool_family, *tool_rest = _lookup("parsed_tool", TOOLS, TOOLS_COLUMNS)
    attrs = [
        f"coalesce({role_kind}, 'unknown')", *role_rest,
        "CASE WHEN parsed_tool IS NULL THEN 'none' "
        f"ELSE coalesce({tool_family}, 'unknown') END", *tool_rest,
    ]
    return parsed.select(
        "role", *(c for c in parsed.columns if c != "role"),
        *(F.expr(f"{a} AS {c}")
          for a, c in zip(attrs, ROLES_COLUMNS[1:] + TOOLS_COLUMNS[1:])),
    )


def _values_sql(rows: list[tuple], columns: list[str], name: str) -> str:
    values = ",\n    ".join("(" + ", ".join(_sql(v) for v in row) + ")" for row in rows)
    cols = ", ".join(columns)
    return f"{name}({cols}) AS (VALUES\n    {values})"


def roles_values_sql() -> str:
    """`roles(...) AS (VALUES ...)` CTE body for oracle SQL."""
    return _values_sql(ROLES, ROLES_COLUMNS, "roles")


def tools_values_sql() -> str:
    return _values_sql(TOOLS, TOOLS_COLUMNS, "tools")
