"""SparkSession construction with scale-oriented defaults.

The reference is single-process (docs/performance.md:69-72 — horizontal scale
is an external load balancer). Here partitioning/shuffle IS the engine, so the
session defaults matter: AQE on (runtime re-plan + skew-join splitting),
shuffle partitions sized to cores at test scale, Arrow enabled for every
pandas-UDF boundary.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.types import _make_type_verifier

# At 100 TB / 1000 executors these become cluster-level spark-submit confs;
# the values here are the local[N] test-scale equivalents of the same knobs.
_SCALE_CONFS = {
    # AQE: runtime coalescing of small shuffle partitions + skew-join split.
    # The reference has no optimizer at all (SURVEY §4); AQE is the Spark-side
    # answer to hot conv_id skew (the skew_salt processor salts on top).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for the pandas UDF / mapInPandas boundaries that remain: the
    # protobuf codec, the pyarrow zstd fallback, es6_double_string and the
    # ann_cosine_topk_pandas twin.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Broadcast threshold: TPC-H dims at sf0.1 and the as-of versions table
    # are < 10 MB. 64 MB keeps every dimension join a broadcast-hash-join.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Batch-processor analog (factory.go:31 — 8192-record flush): cap rows per
    # output file so sink files stay bounded like collector export batches.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
    "spark.ui.enabled": "false",
    "spark.sql.shuffle.partitions": "32",
    # Overwrites truncate unless the write itself asks for dynamic partition
    # overwrite (route.write_sinks, ledger.Ledger.commit_tick): pinned here
    # so a cluster default of "dynamic" cannot turn a full-table overwrite
    # into a partial one, and no run ever has to set or restore it.
    "spark.sql.sources.partitionOverwriteMode": "static",
}


def get_spark(
    app_name: str = "otelcol-spark",
    cores: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores=None -> local[*]; cores=N -> local[N] (used by bench.py to measure
    the N vs 4N scaling-efficiency criterion on one box).
    """
    n = cores or os.environ.get("SPARK_GRAFT_CPUS")
    master = f"local[{n}]" if n else "local[*]"
    builder = SparkSession.builder.appName(app_name).master(master)
    confs = dict(_SCALE_CONFS)
    if n:
        # shuffle partitions track parallelism so a local[8] run isn't
        # dominated by 32-way shuffle scheduling overhead.
        confs["spark.sql.shuffle.partitions"] = str(max(int(n), 8))
    if extra_conf:
        confs.update(extra_conf)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_rows(
    spark: SparkSession, rows: list[tuple], schema: T.StructType
) -> DataFrame:
    """A small constant frame with exactly ``schema``. The rows become
    Catalyst literals that ``inline`` expands over a one-row ``Range``, so
    the plan stays in the JVM, where ``createDataFrame(list)`` scans a
    Python RDD (``Scan ExistingRDD``) in Python workers. Each row is first
    checked with ``createDataFrame``'s verifier: a wrong type or a None in
    a non-nullable field raises before any job runs."""
    verify = _make_type_verifier(schema)
    for row in rows:
        verify(tuple(row))
    # one cast names the fields, widens each literal to its field's type,
    # pins nullability to the schema's and types an empty array
    table = F.array(*(F.struct(*map(F.lit, row)) for row in rows)).cast(
        T.ArrayType(schema, containsNull=False))
    return spark.range(1, numPartitions=1).select(F.inline(table))
