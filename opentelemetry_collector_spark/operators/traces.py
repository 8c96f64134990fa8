"""Trace-signal operators — the ptrace analog (SURVEY §1.1, §2.8).

The reference's trace signal groups spans under a trace identity
(pdata/ptrace/traces.go:45 SpanCount; pdata/ptrace/generated_span.go:58-149
span fields). Here a conversation is the trace: every tool-call span parsed
out of its turns shares the conversation's identity, so trace-level analytics
group by conv_id.

Two operators:

- ``trace_rollup`` — per-trace summary (SpanCount analog + duration/status
  rollup): span count, error count, total/max span duration, trace wall span
  (first..last turn timestamp).
- ``tail_sampling`` — the tail-sampling pattern the reference's docs call out
  as requiring traceID-affinity routing (docs/performance.md:69-72): the
  keep/drop decision needs ALL spans of a trace in one place. Policies
  (first match wins): `error` (any span with status=ERROR), `latency`
  (any span with dur_ms >= threshold), and with ``composite=True`` a
  hash-deterministic `probabilistic` fallback. Kept traces emit all their
  spans with the deciding policy attached.

Scale notes: both operators shuffle by conv_id — the table's bucket(conv_id)
layout means this is the one partitioning the whole pipeline already uses, so
on a bucketed table the "shuffle" is a co-partitioned exchange-free pass.
tail_sampling uses a window (not a groupBy + self-join) so the spans are
scanned once; the trace-affinity requirement is satisfied by partitioning,
which is exactly how the reference scales it horizontally (load-balancer
traceID affinity -> Spark hash partitioning on conv_id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

LATENCY_THRESHOLD_MS = 900


def trace_rollup(parsed: DataFrame) -> DataFrame:
    """Per-conversation (= per-trace) rollup: SpanCount + status/duration."""
    return parsed.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.count(F.when(F.col("trace_id").isNotNull(), 1)).alias("n_spans"),
        F.count(F.when(F.col("status") == "ERROR", 1)).alias("n_errors"),
        F.sum("dur_ms").alias("total_dur_ms"),
        F.max("dur_ms").alias("max_dur_ms"),
        (
            F.max(F.unix_timestamp("ts")) - F.min(F.unix_timestamp("ts"))
        ).cast("long").alias("wall_s"),
    )


# composite fallback: the probabilistic policy keeps 10.00% of the rest
TAIL_PROB_PERMYRIAD = 1000
TAIL_PROB_SALT = ":tailprob"


def tail_sampling(
    parsed: DataFrame,
    latency_threshold_ms: int = LATENCY_THRESHOLD_MS,
    project: bool = True,
    composite: bool = False,
) -> DataFrame:
    """Keep whole traces matching a policy; emit their spans + the policy.

    Policy order mirrors tail-sampling's first-match semantics: `error`
    wins over `latency`. ``composite=True`` appends the `probabilistic`
    fallback — the and/or policy chain the tail-sampling pattern defines:
    it keeps a hash-deterministic TAIL_PROB_PERMYRIAD/10000 share of the
    traces no stronger policy claimed, so kept traffic stays bounded. That
    decision hashes the trace identity (conv_id), so it needs no window —
    all spans of a trace agree by construction — and the composite costs
    the same one trace-affinity shuffle as the two-policy form
    (exchange-free on the bucket(conv_id) layout).

    ``project=False`` keeps every input column (+ ``keep_policy``) — the
    in-pipeline processor shape, where downstream stages still need the
    full record.
    """
    w = Window.partitionBy("conv_id")
    spans = parsed.filter(F.col("trace_id").isNotNull())
    policy = F.when(
        F.max(F.when(F.col("status") == "ERROR", 1).otherwise(0)).over(w)
        == 1,
        F.lit("error"),
    ).when(F.max("dur_ms").over(w) >= latency_threshold_ms, F.lit("latency"))
    if composite:
        from opentelemetry_collector_spark.operators.textstats import (
            _hash_bucket,
        )

        prob_bucket = _hash_bucket(F.col("conv_id"), 10000, TAIL_PROB_SALT)
        policy = policy.when(
            prob_bucket.cast("int") < TAIL_PROB_PERMYRIAD,
            F.lit("probabilistic"),
        )
    kept = spans.withColumn("keep_policy", policy).filter(
        F.col("keep_policy").isNotNull()
    )
    if not project:
        return kept
    return kept.select(
        "conv_id",
        "turn_idx",
        F.col("parsed_tool").alias("tool"),
        "trace_id",
        "span_id",
        "dur_ms",
        "status",
        "keep_policy",
    )


# --- DuckDB oracle SQL (over a `parsed` CTE) --------------------------------

TRACE_ROLLUP_ORACLE_BODY = """
SELECT conv_id,
    count(*) AS n_turns,
    count(*) FILTER (WHERE trace_id IS NOT NULL) AS n_spans,
    count(*) FILTER (WHERE status = 'ERROR') AS n_errors,
    cast(sum(dur_ms) AS BIGINT) AS total_dur_ms,
    max(dur_ms) AS max_dur_ms,
    cast(max(floor(epoch(ts))) - min(floor(epoch(ts))) AS bigint) AS wall_s
FROM parsed
GROUP BY conv_id
"""


def tail_sampling_oracle_body(
    latency_threshold_ms: int = LATENCY_THRESHOLD_MS,
    composite: bool = False,
) -> str:
    fallback = ""
    if composite:
        from opentelemetry_collector_spark.operators.textstats import (
            _hash_bucket_sql,
        )

        bucket = _hash_bucket_sql("conv_id", 10000, TAIL_PROB_SALT)
        fallback = f"""
            WHEN cast({bucket} AS int) < {TAIL_PROB_PERMYRIAD}
                THEN 'probabilistic'"""
    return f"""
SELECT conv_id, turn_idx, tool, trace_id, span_id, dur_ms, status, keep_policy
FROM (
    SELECT conv_id, turn_idx, parsed_tool AS tool, trace_id, span_id, dur_ms, status,
        CASE
            WHEN max(CASE WHEN status = 'ERROR' THEN 1 ELSE 0 END)
                OVER (PARTITION BY conv_id) = 1 THEN 'error'
            WHEN max(dur_ms) OVER (PARTITION BY conv_id)
                >= {latency_threshold_ms} THEN 'latency'{fallback}
        END AS keep_policy
    FROM parsed WHERE trace_id IS NOT NULL
) q WHERE keep_policy IS NOT NULL
"""


# --- head sampling ----------------------------------------------------------

SAMPLER_PERMYRIAD = 2500  # keep 25.00% of traces
SAMPLER_SALT = ":sampler"


def probabilistic_sampler(
    parsed: DataFrame,
    project: bool = True,
    permyriad: int = SAMPLER_PERMYRIAD,
) -> DataFrame:
    """Hash-seed head sampling — the probabilistic-sampler processor
    pattern (OTel sampling spec: hash the trace id into a fixed range,
    keep when below threshold; complements ``tail_sampling``, which needs
    the whole trace, by deciding per span from the id alone).

    The trace-unit key is hashed (salted md5, first 8 hex chars -> int)
    into [0, 10000); spans with bucket < SAMPLER_PERMYRIAD are kept. The
    key is ``conv_id`` — the engine's trace unit, the SAME identity
    tail_sampling evaluates its whole-trace policies over (parse
    synthesizes ``trace_id`` per TURN, so hashing it would
    sample individual spans out of a conversation and a downstream
    whole-trace policy would see partial traces; ADVICE r02). All spans of
    a conversation share conv_id, so the decision is trace-consistent
    without any trace-affinity shuffle — this is a stateless, shuffle-free
    filter that pipelines into the scan, the property that makes head
    sampling the cheap pre-filter at 100 TB.
    """
    from opentelemetry_collector_spark.operators.textstats import (
        _hash_bucket,
    )

    bucket = _hash_bucket(F.col("conv_id"), 10000, SAMPLER_SALT)
    kept = (
        parsed.filter(F.col("trace_id").isNotNull())
        .withColumn("sample_bucket", bucket.cast("int"))
        .filter(F.col("sample_bucket") < int(permyriad))
    )
    if not project:
        return kept
    return kept.select(
        "conv_id",
        "turn_idx",
        F.col("parsed_tool").alias("tool"),
        "trace_id",
        "span_id",
        "dur_ms",
        "sample_bucket",
    )


def probabilistic_sampler_oracle_body() -> str:
    from opentelemetry_collector_spark.operators.textstats import (
        _hash_bucket_sql,
    )

    bucket = _hash_bucket_sql("conv_id", 10000, SAMPLER_SALT)
    return f"""
SELECT conv_id, turn_idx, tool, trace_id, span_id, dur_ms, sample_bucket
FROM (
    SELECT conv_id, turn_idx, parsed_tool AS tool, trace_id, span_id,
        dur_ms, cast({bucket} AS int) AS sample_bucket
    FROM parsed WHERE trace_id IS NOT NULL
) q WHERE sample_bucket < {SAMPLER_PERMYRIAD}
"""


# --- span-edge aggregation (service-graph connector analog) ------------------


def span_edges(parsed: DataFrame) -> DataFrame:
    """Caller->callee edge aggregation over each trace's span sequence —
    the service-graph connector pattern (build (src, dst) edges from
    trace structure, aggregate count/error/latency per edge). In the
    transcript model a conversation's tool calls form the call sequence,
    so the edge is (previous tool -> this tool) within conv_id order.

    One lag window on the conv_id bucket layout (the pipeline's standing
    partitioning — exchange-free on the bucketed table), then a tiny
    groupBy on (src_tool, dst_tool): |tools|^2 output rows, map-side
    partial agg collapses each partition before the shuffle.
    """
    spans = parsed.filter(F.col("trace_id").isNotNull())
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    edges = spans.select(
        "conv_id",
        F.lag("parsed_tool").over(w).alias("src_tool"),
        F.col("parsed_tool").alias("dst_tool"),
        "dur_ms",
        "status",
    ).filter(F.col("src_tool").isNotNull())
    return edges.groupBy("src_tool", "dst_tool").agg(
        F.count(F.lit(1)).alias("n_calls"),
        F.count(F.when(F.col("status") == "ERROR", 1)).alias("n_errors"),
        F.sum("dur_ms").cast("long").alias("total_dur_ms"),
        F.max("dur_ms").alias("max_dur_ms"),
    )


SPAN_EDGES_ORACLE_BODY = """
SELECT src_tool, dst_tool,
    count(*) AS n_calls,
    count(*) FILTER (WHERE status = 'ERROR') AS n_errors,
    cast(sum(dur_ms) AS BIGINT) AS total_dur_ms,
    max(dur_ms) AS max_dur_ms
FROM (
    SELECT conv_id,
        lag(parsed_tool) OVER (PARTITION BY conv_id ORDER BY turn_idx)
            AS src_tool,
        parsed_tool AS dst_tool, dur_ms, status
    FROM parsed WHERE trace_id IS NOT NULL
) e WHERE src_tool IS NOT NULL
GROUP BY 1, 2
"""
