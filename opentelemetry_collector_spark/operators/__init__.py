from opentelemetry_collector_spark.operators.parse import parse_turns  # noqa: F401
from opentelemetry_collector_spark.operators.route import (  # noqa: F401
    dead_letter,
    route,
    routed_ok,
)
from opentelemetry_collector_spark.operators.aggregate import (  # noqa: F401
    severity_histogram,
    sink_counts,
)
