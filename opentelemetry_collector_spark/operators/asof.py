"""As-of join — temporal lookup enrichment (SURVEY §2.8 custom operator).

A production enrich dimension is time-versioned (tool metadata changes over
the life of the stream); enriching each turn with the version *in effect at
its timestamp* is an as-of join, which Spark has no native operator for.
Composition used here (the small-dimension case, which enrichment always
is):

    fact LEFT JOIN broadcast(versions) ON key equality AND eff_ts <= ts
    -> row_number() over (fact row) ordered by eff_ts DESC -> keep rank 1

One broadcast join + one narrow window; no shuffle of the fact side (the
window partitions by the fact's unique key, which Catalyst plans as a local
sort within the existing partitioning when the fact is already bucketed).
For a LARGE versioned dimension the same semantics come from
range-bucketing both sides on (key, time_bucket) and union-window
last-value — documented, not needed for enrichment dims.

The DuckDB oracle uses its native ASOF JOIN, so this also cross-checks our
composition against an independent as-of implementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from opentelemetry_collector_spark.session import local_rows

# (tool, effective_ts, rate_limit_qps) — three deterministic config epochs
# spanning the fixture ts range (base 2024-01-01, see sources/transcripts.py)
TOOL_VERSIONS: list[tuple[str, str, int]] = [
    (tool, eff, qps)
    for tool in ("search", "browser", "python", "bash", "calculator")
    for eff, qps in [
        ("2024-01-01 00:00:00", 10),
        ("2024-01-10 00:00:00", 50),
        ("2024-01-20 00:00:00", 100),
    ]
]


def tool_versions_df(spark: SparkSession) -> DataFrame:
    schema = T.StructType().add("tool", "string").add(
        "effective_ts", "string").add("rate_limit_qps", "long")
    return local_rows(spark, TOOL_VERSIONS, schema).withColumn(
        "effective_ts", F.col("effective_ts").cast("timestamp_ntz"))


def tool_versions_values_sql() -> str:
    rows = ", ".join(
        f"('{t}', TIMESTAMP '{e}', {q})" for t, e, q in TOOL_VERSIONS
    )
    return (
        "tool_versions(tool, effective_ts, rate_limit_qps) AS (VALUES "
        + rows + ")"
    )


def asof_enrich(parsed: DataFrame, spark: SparkSession) -> DataFrame:
    """Attach the tool config version in effect at each turn's ts.

    Left-as-of semantics: turns without a tool (or before the first
    version) keep NULL version columns."""
    from pyspark.sql.window import Window

    v = tool_versions_df(spark)
    joined = parsed.join(
        F.broadcast(v),
        on=[
            parsed["parsed_tool"] == v["tool"],
            v["effective_ts"] <= parsed["ts"],
        ],
        how="left",
    ).drop(v["tool"])
    w = Window.partitionBy("conv_id", "turn_idx").orderBy(
        F.col("effective_ts").desc_nulls_last()
    )
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .drop("rk")
    )


def q_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from opentelemetry_collector_spark.operators.parse import parse_turns
    from opentelemetry_collector_spark.sources.transcripts import (
        events_to_transcripts,
    )

    parsed = parse_turns(events_to_transcripts(spark, sf_dir))
    # version ts emitted as epoch seconds: VALUES-derived timestamps come
    # back datetime64[us] from DuckDB vs [ns] from Spark, which breaks
    # value comparison even when times are identical — integers don't
    return asof_enrich(parsed, spark).select(
        "conv_id",
        "turn_idx",
        "parsed_tool",
        "ts",
        F.unix_timestamp(F.col("effective_ts").cast("timestamp"))
        .cast("long")
        .alias("config_effective_epoch"),
        "rate_limit_qps",
    )


def asof_oracle_sql(transcripts_sql: str, parse_sql: str) -> str:
    """DuckDB native ASOF JOIN over the identical versions table."""
    return f"""WITH transcripts AS ({transcripts_sql}),
parsed AS ({parse_sql}),
{tool_versions_values_sql()}
SELECT p.conv_id, p.turn_idx, p.parsed_tool, p.ts,
    cast(floor(epoch(v.effective_ts)) AS bigint) AS config_effective_epoch,
    v.rate_limit_qps
FROM parsed p
ASOF LEFT JOIN tool_versions v
    ON p.parsed_tool = v.tool AND v.effective_ts <= p.ts"""
