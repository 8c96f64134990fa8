"""Arrow-batched grok stage — the multi-pattern parse path (SURVEY §7.3).

The native parse (operators/parse.py) runs one ``regexp_extract`` per field:
ideal for a handful of anchored patterns (JVM, whole-stage codegen). Real
log pipelines carry grok PATTERN LIBRARIES — dozens of alternative layouts
tried in order until one matches — which SQL regex calls express poorly
(N fields x M patterns calls). This module is that path: a compiled-once
pattern library applied per Arrow batch in ``mapInPandas``, using pandas'
vectorized ``str.extract`` (one C pass per pattern over the whole batch, no
per-row Python loop — the input_hint's "vectorized pandas/Arrow UDFs, no
per-row Python").

First-matching-pattern-wins across the library; within a pattern,
first-match-wins per field (pcommon.Map upsert parity,
pdata/pcommon/map.go:121-127 — same invariant as the native parse).

Scale notes: the stage is a narrow map — no shuffle; pattern compilation
happens once per executor task (closure constant), not per batch; output
columns are typed at the boundary so downstream stays JVM-side.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Ordered pattern library: (name, regex with named groups). Tried in order;
# first pattern whose mandatory group matches claims the row.
GROK_LIBRARY: list[tuple[str, str]] = [
    (
        "tool_call",
        r"^\[(?P<severity_text>[A-Z]+[0-9]?)\] calling tool=(?P<tool>[a-z_]+)"
        r" trace_id=(?P<trace_id>[0-9a-f]{32}) span_id=(?P<span_id>[0-9a-f]{16})"
        r" dur_ms=(?P<dur_ms>[0-9]+)",
    ),
    (
        "tool_result",
        r"^\[(?P<severity_text>[A-Z]+[0-9]?)\] tool=(?P<tool>[a-z_]+)"
        r" status=(?P<status>OK|ERROR)",
    ),
    ("bare_severity", r"^\[(?P<severity_text>[A-Z]+[0-9]?)\] "),
]

GROK_SCHEMA = (
    "conv_id string, turn_idx int, pattern string, severity_text string, "
    "tool string, trace_id string, span_id string, dur_ms long, status string"
)

_FIELDS = ["severity_text", "tool", "trace_id", "span_id", "dur_ms", "status"]

# the kernel's batches carry dur_ms as its matched digits; the JVM types it
# with try_cast, so a value past bigint reads NULL instead of failing the job
_KERNEL_SCHEMA = GROK_SCHEMA.replace("dur_ms long", "dur_ms string")

# DuckDB oracle for the library: the ordered CASE expresses exactly the
# first-matching-pattern-wins precedence the kernel implements; each field
# extracts only from the claiming pattern (unnamed group indexes mirror the
# named groups above). Plain string (no f-string) so the {32}/{16} regex
# quantifiers survive; the caller prepends a `transcripts` CTE.
_P1 = (
    "^\\[([A-Z]+[0-9]?)\\] calling tool=([a-z_]+)"
    " trace_id=([0-9a-f]{32}) span_id=([0-9a-f]{16})"
    " dur_ms=([0-9]+)"
)
_P2 = "^\\[([A-Z]+[0-9]?)\\] tool=([a-z_]+) status=(OK|ERROR)"
_P3 = "^\\[([A-Z]+[0-9]?)\\] "

GROK_ORACLE_BODY = """
SELECT conv_id, turn_idx, pattern,
    CASE pattern
        WHEN 'tool_call' THEN regexp_extract(text, '{p1}', 1)
        WHEN 'tool_result' THEN regexp_extract(text, '{p2}', 1)
        WHEN 'bare_severity' THEN regexp_extract(text, '{p3}', 1)
    END AS severity_text,
    CASE pattern
        WHEN 'tool_call' THEN regexp_extract(text, '{p1}', 2)
        WHEN 'tool_result' THEN regexp_extract(text, '{p2}', 2)
    END AS tool,
    CASE pattern WHEN 'tool_call' THEN regexp_extract(text, '{p1}', 3) END
        AS trace_id,
    CASE pattern WHEN 'tool_call' THEN regexp_extract(text, '{p1}', 4) END
        AS span_id,
    CASE pattern
        WHEN 'tool_call' THEN try_cast(regexp_extract(text, '{p1}', 5) AS BIGINT)
    END AS dur_ms,
    CASE pattern WHEN 'tool_result' THEN regexp_extract(text, '{p2}', 3) END
        AS status
FROM (
    SELECT conv_id, turn_idx, text,
        CASE
            WHEN regexp_matches(text, '{p1}') THEN 'tool_call'
            WHEN regexp_matches(text, '{p2}') THEN 'tool_result'
            WHEN regexp_matches(text, '{p3}') THEN 'bare_severity'
        END AS pattern
    FROM transcripts
) m
""".format(p1=_P1, p2=_P2, p3=_P3)


def grok_parse(transcripts: DataFrame) -> DataFrame:
    """Apply the grok library over Arrow batches; one output row per input
    row, `pattern` = name of the matching pattern (null if none matched)."""

    library = list(GROK_LIBRARY)  # closure copy -> pickled by value
    fields = list(_FIELDS)

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd
        import re

        compiled = [(name, re.compile(rx)) for name, rx in library]
        for pdf in batches:
            text = pdf["text"].astype("string")
            out = pd.DataFrame({
                "conv_id": pdf["conv_id"],
                "turn_idx": pdf["turn_idx"],
                "pattern": pd.Series([None] * len(pdf), dtype="object"),
            })
            for f in fields:
                out[f] = pd.Series([None] * len(pdf), dtype="object")
            unclaimed = np.ones(len(pdf), dtype=bool)
            for name, rx in compiled:
                if not unclaimed.any():
                    break
                # ONE vectorized C pass over the still-unclaimed rows
                ext = text[unclaimed].str.extract(rx)
                hit = ext[ext.columns[0]].notna().to_numpy()
                idx = np.flatnonzero(unclaimed)[hit]
                if len(idx) == 0:
                    continue
                out.loc[idx, "pattern"] = name
                for col in ext.columns:
                    out.loc[idx, col] = ext[col].to_numpy()[hit]
                unclaimed[idx] = False
            yield out

    return (
        transcripts.select("conv_id", "turn_idx", "text")
        .mapInPandas(kernel, _KERNEL_SCHEMA)
        .withColumn("dur_ms", F.expr("try_cast(dur_ms AS BIGINT)"))
    )
