"""otelcol-spark: a PySpark-native analytics engine with the capabilities of
the OpenTelemetry Collector core (lightstep/opentelemetry-collector).

This is NOT a port of the Go goroutine/channel execution engine. The
collector's receiver -> processor -> exporter DAG is re-expressed as a
Catalyst logical plan over a transcripts table:

    scan (receiver)  ->  regexp parse (processorhelper)
                     ->  literal-map enrich (attributes/resource processor)
                     ->  fan-out routing filters (fanoutconsumer/router)
                     ->  groupBy(time-bucket) counts (batchprocessor/obsreport)
                     ->  checkpointed per-sink writes (exporterhelper queue/retry)

Reference parity citations live in each module's docstrings
(file:line into /root/reference).
"""

__version__ = "0.1.0"
