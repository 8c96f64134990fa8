from opentelemetry_collector_spark.functions.values import (  # noqa: F401
    as_string,
    deterministic_span_id,
    deterministic_trace_id,
)
