"""DuckDB oracle for the benchmark's output checks.

The transcript side composes the engine's public oracle pieces
(``parse_oracle_sql``, ``roles_values_sql``, ``tools_values_sql``) over the
same parquet files the engine read. The dedup side is
``DEDUP_MINHASH_ORACLE`` with only its signature CTE restated relationally
(an unnest over the permutations and a grouped min): DuckDB evaluates the
original nested-lambda form about ten times slower, which would not fit in
a benchmark run. The banding, candidate and verify SQL run verbatim.
"""

from __future__ import annotations

from collections import Counter
from pathlib import Path
from urllib.parse import unquote

import duckdb

from opentelemetry_collector_spark.operators import dedup as D
from opentelemetry_collector_spark.operators.enrich import (
    roles_values_sql,
    tools_values_sql,
)
from opentelemetry_collector_spark.operators.parse import parse_oracle_sql
from opentelemetry_collector_spark.severity import ERROR_THRESHOLD


def connect(temp_dir: str | None = None) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.sql("SET threads = 4")
    if temp_dir:
        con.sql(f"SET temp_directory = '{temp_dir}'")
    return con


def _files_sql(files: list[str]) -> str:
    return "read_parquet([" + ", ".join(f"'{f}'" for f in files) + "])"


def routed_cte(files: list[str]) -> str:
    """transcripts -> parsed -> enriched -> routed, as DuckDB CTEs."""
    return f"""WITH transcripts AS (SELECT * FROM {_files_sql(files)}),
parsed AS ({parse_oracle_sql('transcripts')}),
{roles_values_sql()},
{tools_values_sql()},
enriched AS (
    SELECT p.*,
        CASE WHEN p.parsed_tool IS NULL THEN 'none'
             ELSE coalesce(t.tool_family, 'unknown') END AS tool_family
    FROM parsed p
    LEFT JOIN roles r ON p.role = r.role
    LEFT JOIN tools t ON p.parsed_tool = t.tool
),
routed AS (
    SELECT *,
        CASE WHEN text IS NULL OR text = '' THEN 'empty_text'
             WHEN severity_text IS NOT NULL AND severity_number IS NULL
                 THEN 'unknown_severity'
        END AS error_reason
    FROM enriched
)"""


def sink_counts(con, files: list[str]) -> list[tuple]:
    """Sorted (bucket_start_epoch, sink_role, sink_tool, n_rows,
    n_error_severity) rows, as ``aggregate.sink_counts(routed_ok(...))``."""
    return sorted(
        con.sql(
            f"""{routed_cte(files)}
SELECT cast(floor(epoch(ts) / 300) * 300 AS bigint), role, tool_family,
    count(*), count(*) FILTER (WHERE severity_number >= {ERROR_THRESHOLD})
FROM routed WHERE error_reason IS NULL
GROUP BY 1, 2, 3"""
        ).fetchall()
    )


def sink_totals(con, files: list[str]) -> dict[str, int]:
    """Rows per sink as ``route.write_sinks`` names them (dead-lettered rows
    under ``dead_letter``)."""
    rows = con.sql(
        f"""{routed_cte(files)}
SELECT CASE WHEN error_reason IS NULL THEN role || '/' || tool_family
            ELSE 'dead_letter' END, count(*)
FROM routed GROUP BY 1"""
    ).fetchall()
    return dict(rows)


def routed_totals(sinks: dict[str, int]) -> dict[str, int]:
    dl = sinks.get("dead_letter", 0)
    total = sum(sinks.values())
    return {"n_input": total, "n_ok": total - dl, "n_dl": dl}


def check_bulk(expected_counts, expected_totals, observed_counts, observed_totals) -> list[str]:
    """Differences between one pipeline_bulk operation and the oracle."""
    errs = []
    if observed_totals != expected_totals:
        errs.append(f"routed totals {observed_totals} != {expected_totals}")
    if observed_totals["n_ok"] + observed_totals["n_dl"] != observed_totals["n_input"]:
        errs.append("ok + dead_letter != input")
    if observed_counts != expected_counts:
        diff = Counter(observed_counts)
        diff.subtract(Counter(expected_counts))
        bad = [r for r, n in diff.items() if n]
        errs.append(f"sink_counts differ in {len(bad)} rows, e.g. {bad[:2]}")
    return errs


def read_tick_output(con, base: Path) -> tuple[dict, dict, list[tuple]]:
    """What one tick's CheckpointedRunner left under ``base``: rows per sink,
    rows per work bucket in the sink files, and the ledger rows
    (bucket, n_input, n_routed_ok, n_dead_letter)."""
    files = con.sql(
        f"""SELECT sink, part_bucket, count(*) FROM read_parquet(
    '{base}/sinks/*/*/*.parquet', hive_partitioning = true)
GROUP BY 1, 2"""
    ).fetchall()
    per_sink: Counter = Counter()
    per_bucket: Counter = Counter()
    for sink, bucket, n in files:
        per_sink[unquote(str(sink))] += n
        per_bucket[int(bucket)] += n
    ledger = con.sql(
        f"""SELECT bucket, n_input, n_routed_ok, n_dead_letter
FROM read_parquet('{base}/_checkpoints/*.parquet') ORDER BY bucket"""
    ).fetchall()
    return dict(per_sink), dict(per_bucket), ledger


def check_tick(expected_sinks, n_buckets, n_rows, per_sink, per_bucket, ledger) -> list[str]:
    """Differences between one tick's output and the oracle: per-sink
    counts, per-bucket counts (ledger vs files written), and conservation
    (ok + dead_letter = input)."""
    errs = []
    if per_sink != expected_sinks:
        errs.append(f"per-sink counts {per_sink} != {expected_sinks}")
    buckets = [b for b, *_ in ledger]
    if sorted(buckets) != list(range(n_buckets)):
        errs.append(f"ledger buckets {buckets} != 0..{n_buckets - 1}")
    for b, n_in, n_ok, n_dl in ledger:
        if n_ok + n_dl != n_in:
            errs.append(f"bucket {b}: ok {n_ok} + dl {n_dl} != input {n_in}")
        if per_bucket.get(b, 0) != n_in:
            errs.append(f"bucket {b}: {per_bucket.get(b, 0)} rows written, ledger {n_in}")
    totals = routed_totals(expected_sinks)
    if sum(r[1] for r in ledger) != totals["n_input"] or n_rows != totals["n_input"]:
        errs.append(f"input rows: ledger/tick/oracle differ ({n_rows} vs {totals})")
    if sum(r[2] for r in ledger) != totals["n_ok"]:
        errs.append("routed-ok total differs from oracle")
    return errs


def minhash_pairs(con, docs_path: str) -> list[tuple]:
    """Sorted (doc_a, doc_b, jaccard) near-duplicate pairs."""
    a = ", ".join(f"{x}::BIGINT" for x in D._MINHASH_A)
    b = ", ".join(f"{x}::BIGINT" for x in D._MINHASH_B)
    oracle = D.DEDUP_MINHASH_ORACLE
    sql = f"""WITH documents AS (SELECT * FROM read_parquet('{docs_path}')),
sh AS (SELECT doc_id, {D._SHINGLES_SQL} AS shingles FROM documents),
lanes AS (SELECT doc_id, unnest({D._LANES_SQL}) AS l FROM sh),
perm AS (
    SELECT unnest(range(0, {D.MINHASH_K})) AS j,
        unnest([{a}]) AS a, unnest([{b}]) AS b
),
mh AS (
    SELECT doc_id, j, min((l.h0 * a + l.h1 * b + j) & 4294967295) AS m
    FROM lanes, perm GROUP BY doc_id, j
),
sig AS (SELECT doc_id, list(m ORDER BY j) AS sig FROM mh GROUP BY doc_id),
{oracle[oracle.index("bands AS ("):]}"""
    return sorted(con.sql(sql).fetchall())


def check_pairs(expected: list[tuple], observed: list[tuple]) -> list[str]:
    if observed == expected:
        return []
    missing = sorted(set(expected) - set(observed))
    extra = sorted(set(observed) - set(expected))
    return [f"pairs differ: {len(missing)} missing {missing[:2]}, {len(extra)} extra {extra[:2]}"]
