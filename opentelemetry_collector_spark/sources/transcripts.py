"""Transcript sources — the receiver analog (SURVEY §2.1).

The reference's OTLP receiver (receiver/otlpreceiver/otlp.go:63-269) accepts a
batch object and hands it to the pipeline; in Spark the "receive" is a table
scan. Two sources:

1. ``read_transcripts`` — scan a transcripts parquet/Iceberg table with the
   BASELINE.json input_hint schema (conv_id, turn_idx, role, text, tool, ts).

2. ``events_to_transcripts`` — derive a deterministic transcripts table from
   the driver-provided ``events`` table using ONLY expressions with exact
   Spark-SQL <-> DuckDB-SQL parity (md5, floor, CASE, ||, row_number). The
   same SQL text runs verbatim in both engines, which is what makes the
   downstream parse/enrich/route/aggregate queries oracle-checkable.

The synthesized text embeds the grok-parse surface (FIXTURES.md §1):
  - assistant turn: "[INFO] calling tool=X trace_id=<32hex> span_id=<16hex>
    dur_ms=N args={...}"  (tool-call span analog,
    pdata/ptrace/generated_span.go:58-131)
  - tool turn: "[SEV] tool=X status=OK|ERROR result: ..."  (severity ladder,
    pdata/plog/severity_number.go:25-49)
  - user/system turns: plain text, no markers -> SeverityNumberUnspecified=0
  - deterministic edge rows: empty text, unknown severity token (dead-letter),
    multiline+unicode, duplicate marker pairs (first-match-wins, mirroring
    pcommon.Map upsert semantics, pdata/pcommon/map.go:121-127).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Shared verbatim between Spark SQL and DuckDB SQL. Requires a view `events`
# with columns (event_id, ts, user_id, event_type, value, props).
TRANSCRIPTS_FROM_EVENTS_SQL = """
SELECT
    conv_id,
    turn_idx,
    role,
    CASE
        WHEN event_id % 101 = 0 THEN ''
        WHEN event_id % 103 = 0 AND role = 'user'
            THEN 'multi' || chr(10) || 'line message é中文 ' || cast(k AS string)
        WHEN role = 'assistant' THEN
            '[INFO] calling tool=' || tool
            || ' trace_id=' || md5(conv_id || ':' || cast(turn_idx AS string))
            || ' span_id=' || substr(md5(conv_id || ':' || cast(turn_idx AS string) || ':s'), 1, 16)
            || ' dur_ms=' || cast(dur AS string)
            || ' args={"k": ' || cast(k AS string) || '}'
        WHEN role = 'tool' THEN
            '[' || sev || '] tool=' || tool
            || ' status=' || status
            || ' result: payload-' || cast(k AS string)
            || CASE WHEN event_id % 89 = 0 THEN ' tool=dupe status=DUP' ELSE '' END
        WHEN role = 'user' THEN 'hello this is a plain user message number ' || cast(k AS string)
        ELSE 'system prompt update ' || cast(k AS string)
    END AS text,
    tool,
    ts
FROM (
    SELECT
        *,
        CASE
            WHEN event_id % 97 = 0 AND role = 'tool' THEN 'SEVERE'
            ELSE CASE cast(dur % 6 AS int)
                WHEN 0 THEN 'TRACE' WHEN 1 THEN 'DEBUG' WHEN 2 THEN 'INFO'
                WHEN 3 THEN 'WARN' WHEN 4 THEN 'ERROR' ELSE 'FATAL' END
        END AS sev
    FROM (
        SELECT
            'conv-' || lpad(cast(user_id AS string), 6, '0') AS conv_id,
            cast(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS int) AS turn_idx,
            CASE event_type
                WHEN 'click' THEN 'user'
                WHEN 'view' THEN 'assistant'
                WHEN 'purchase' THEN 'tool'
                WHEN 'error' THEN 'tool'
                ELSE 'system'
            END AS role,
            CASE
                WHEN event_type IN ('view', 'purchase', 'error') THEN
                    CASE cast(event_id % 5 AS int)
                        WHEN 0 THEN 'search' WHEN 1 THEN 'browser'
                        WHEN 2 THEN 'python' WHEN 3 THEN 'bash'
                        ELSE 'calculator' END
                ELSE NULL
            END AS tool,
            CASE WHEN event_type = 'error' THEN 'ERROR' ELSE 'OK' END AS status,
            cast(floor(value) AS bigint) AS dur,
            cast(event_id % 100 AS bigint) AS k,
            event_id,
            ts
        FROM events
    ) base
) marked
"""


def events_to_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic transcripts derived from {sf_dir}/events.parquet."""
    spark.read.parquet(f"{sf_dir}/events.parquet").createOrReplaceTempView("events")
    return spark.sql(TRANSCRIPTS_FROM_EVENTS_SQL)


def read_transcripts(spark: SparkSession, path: str) -> DataFrame:
    """Scan a materialized transcripts parquet directory. For Iceberg
    tables use sources/catalog.py's ``IcebergCatalog.read_transcripts``
    (``spark.read.table``, bucket-prunable) — a table identifier is NOT a
    valid argument here."""
    return spark.read.parquet(path)

