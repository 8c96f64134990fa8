"""Mergeable log2-histogram quantiles — the fixed-size quantile sketch
for 10^12-row length/duration distributions.

An exact quantile needs a global sort (or a full value-keyed shuffle);
at 10^12 rows neither is affordable for a monitoring-grade answer. The
classic fix (DDSketch, Masson et al. VLDB 2019; HDR-histogram) buckets
values on a logarithmic grid so the sketch is a CONSTANT ~64 counters
with a guaranteed relative error, and histograms from disjoint shards
merge by adding counters. This module uses the base-2 grid (bucket =
floor(log2(x)), relative error <= 2x bounds), computed WITHOUT floating
log: ``length(bin(x)) - 1`` via radix conversion is exact integer math
in both Spark (``conv(x, 10, 2)``) and DuckDB (``bin(x)``), so the
engine and the oracle agree bit-for-bit — the same discipline as the
OTLP exponential-histogram operator (operators/metrics.py), whose
scale-0 bucketing this deliberately shares.

Scale shape: one corpus scan -> per-doc count (the one inherent
doc_id-keyed shuffle) -> ~40 bucket rows -> a window over those ~40 rows
(single tiny partition, constant state) -> a 3-row quantile probe join.
Shuffle volume past the per-doc aggregate is independent of corpus size.

The collector's analog is the explicit-bounds histogram aggregation
(pdata/pmetric histogram data points); reference:
processor/batchprocessor metrics batching, and this repo's
``metrics_exp_histogram`` family for the shared bucketing rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from opentelemetry_collector_spark.operators.textstats import _tokens
from opentelemetry_collector_spark.session import local_rows

# p50 / p90 / p99 as integer milli-quantiles (the repo's integer-parity
# convention: no float literals cross the engine/oracle boundary)
QUANTILES_MILLI = [500, 900, 990]


def _floor_log2(col):
    """Exact integer floor(log2(x)) for x >= 1: binary-string length - 1.

    No floating log anywhere — ``log2(8.0)`` is allowed to read
    2.9999999999999996 in one engine and 3.0 in the other; radix
    conversion is not."""
    return (F.length(F.conv(col.cast("string"), 10, 2)) - 1).cast("int")


def doc_length_quantiles(
    spark: SparkSession,
    sf_dir: str,
    docs: DataFrame | None = None,
) -> DataFrame:
    """p50/p90/p99 of the per-document token count as log2-histogram
    bucket ranges: one row per quantile,
    (q_milli, bucket, lo, hi, cum_count, total) with the true quantile
    value guaranteed inside [lo, hi] (= [2^bucket, 2^(bucket+1) - 1]).

    The quantile rule is the exact inverse-CDF convention: the chosen
    bucket is the smallest whose cumulative count reaches
    ceil(q * total) — integer arithmetic only
    ((q_milli * total + 999) div 1000)."""
    counts = (
        _tokens(spark, sf_dir, docs=docs)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    hist = (
        counts.select(_floor_log2(F.col("n")).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    # ~40 rows total: a single-partition running sum is constant state,
    # not a scale hazard (same argument as the metrics histogram family)
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "bucket",
        F.sum("cnt").over(w).cast("long").alias("cum_count"),
        F.sum("cnt").over(
            Window.orderBy("bucket").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).cast("long").alias("total"),
    )
    qs = local_rows(spark, [(q,) for q in QUANTILES_MILLI],
                    T.StructType().add("q_milli", "integer"))
    hit = (
        F.broadcast(qs)
        .crossJoin(cum)
        .filter(
            F.col("cum_count")
            >= F.expr("(q_milli * total + 999) div 1000").cast("long")
        )
        .groupBy("q_milli")
        .agg(F.min("bucket").alias("bucket"))
    )
    return (
        hit.join(cum, "bucket")
        .select(
            "q_milli",
            "bucket",
            F.expr("shiftleft(1L, bucket)").alias("lo"),
            F.expr("shiftleft(1L, bucket + 1) - 1L").alias("hi"),
            "cum_count",
            "total",
        )
    )


LOG_QUANTILES_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, w FROM (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS w
        FROM documents
    ) t WHERE length(w) > 0
),
counts AS (
    SELECT doc_id, cast(count(*) AS bigint) AS n FROM toks GROUP BY doc_id
),
hist AS (
    SELECT cast(length(bin(n)) - 1 AS int) AS bucket,
           cast(count(*) AS bigint) AS cnt
    FROM counts GROUP BY 1
),
cum AS (
    SELECT bucket,
           cast(sum(cnt) OVER (ORDER BY bucket) AS bigint) AS cum_count,
           cast(sum(cnt) OVER () AS bigint) AS total
    FROM hist
),
qs AS (SELECT unnest({QUANTILES_MILLI}) AS q_milli),
hit AS (
    SELECT q_milli, min(bucket) AS bucket
    FROM qs, cum
    WHERE cum_count >= (q_milli * total + 999) // 1000
    GROUP BY q_milli
)
SELECT cast(h.q_milli AS int) AS q_milli,
       h.bucket,
       cast(1::BIGINT << h.bucket AS bigint) AS lo,
       cast((1::BIGINT << (h.bucket + 1)) - 1 AS bigint) AS hi,
       c.cum_count,
       c.total
FROM hit h JOIN cum c USING (bucket)
"""
