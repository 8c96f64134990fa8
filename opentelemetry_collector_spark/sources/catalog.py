"""Table catalog — the Iceberg layout contract with a parquet fallback.

The production layout (north rule / SURVEY §7.9) is an Iceberg table
partitioned ``bucket(N, conv_id)`` with per-partition sort on ``turn_idx``:

    CREATE TABLE otelcol.transcripts (
        conv_id string, turn_idx int, role string, text string,
        tool string, ts timestamp)
    USING iceberg
    PARTITIONED BY (bucket(16, conv_id))
    TBLPROPERTIES ('write.parquet.compression-codec' = 'zstd')
    -- + ALTER TABLE ... WRITE ORDERED BY conv_id, turn_idx

That layout is what makes the engine's big claims true at 100 TB:
* the checkpoint runner's ``pmod(xxhash64(conv_id), N)`` wave filter becomes
  **partition pruning** (Iceberg's bucket transform uses the same
  murmur-bucket principle; the filter never re-scans the table);
* the per-conv ordering window becomes a **partition-local sort** (SPJ /
  storage-partitioned join keeps conv-locality through joins);
* snapshot reads give the streaming scraper incremental batches.

This container ships no iceberg-spark-runtime jar, so ``IcebergCatalog``
activates only when the jar is present (``iceberg_available()``); the
``ParquetCatalog`` fallback implements the same interface with
hash-bucketed directory layout — semantics identical, pruning manual.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 16


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg runtime is on the session classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class ParquetCatalog:
    """Fallback table IO: bucket column materialized as a partition dir
    (`part_bucket=K`), so bucket-filtered reads prune directories exactly
    like Iceberg's bucket transform prunes manifests."""

    def __init__(self, spark: SparkSession, warehouse: str,
                 n_buckets: int = DEFAULT_BUCKETS):
        self.spark = spark
        self.warehouse = warehouse
        self.n_buckets = n_buckets

    def _path(self, table: str) -> str:
        return f"{self.warehouse}/{table}"

    def write_transcripts(self, df: DataFrame, table: str = "transcripts",
                          mode: str = "overwrite") -> None:
        (
            df.withColumn(
                "part_bucket",
                F.pmod(F.xxhash64("conv_id"), F.lit(self.n_buckets)).cast("int"),
            )
            .sortWithinPartitions("conv_id", "turn_idx")  # WRITE ORDERED BY
            .write.partitionBy("part_bucket")
            .mode(mode)
            .parquet(self._path(table))
        )

    def read_transcripts(self, table: str = "transcripts",
                         buckets: list[int] | None = None) -> DataFrame:
        df = self.spark.read.parquet(self._path(table))
        if buckets is not None:
            # directory-partition filter -> pruned scan (manual analog of
            # Iceberg bucket-transform pruning)
            df = df.filter(F.col("part_bucket").isin(buckets))
        return df.drop("part_bucket")


class IcebergCatalog:
    """Iceberg table IO (requires iceberg-spark-runtime on the classpath)."""

    def __init__(self, spark: SparkSession, catalog: str = "otelcol",
                 n_buckets: int = DEFAULT_BUCKETS):
        if not iceberg_available(spark):
            raise RuntimeError(
                "iceberg-spark-runtime not on classpath; use ParquetCatalog"
            )
        self.spark = spark
        self.catalog = catalog
        self.n_buckets = n_buckets

    def ensure_transcripts(self, table: str = "transcripts") -> None:
        self.spark.sql(
            f"""CREATE TABLE IF NOT EXISTS {self.catalog}.{table} (
                conv_id string, turn_idx int, role string, text string,
                tool string, ts timestamp)
            USING iceberg
            PARTITIONED BY (bucket({self.n_buckets}, conv_id))
            TBLPROPERTIES ('write.parquet.compression-codec' = 'zstd')"""
        )

    def write_transcripts(self, df: DataFrame, table: str = "transcripts",
                          mode: str = "append") -> None:
        """mode='overwrite' uses overwritePartitions, which replaces EVERY
        storage partition the incoming rows touch — safe only when the
        write covers whole Iceberg buckets (i.e. work units align with
        ``system.bucket``); subset writes must use append."""
        self.ensure_transcripts(table)
        writer = df.writeTo(f"{self.catalog}.{table}")
        (writer.append() if mode == "append" else writer.overwritePartitions())

    def read_transcripts(self, table: str = "transcripts",
                         buckets: list[int] | None = None) -> DataFrame:
        """Bucket-scoped reads MUST use Iceberg's own bucket transform
        (murmur3 per the Iceberg spec — NOT the engine's xxhash64 work
        buckets, which are a different hash and would neither prune nor
        align with the storage partitions). The ``system.bucket`` SQL
        function (Iceberg extensions >= 1.3) evaluates the same transform
        the partitioning uses, so the predicate prunes manifests."""
        df = self.spark.read.table(f"{self.catalog}.{table}")
        if buckets is not None:
            df = df.filter(
                F.expr(f"system.bucket({self.n_buckets}, conv_id)").isin(buckets)
            )
        return df


def get_catalog(spark: SparkSession, warehouse: str,
                n_buckets: int = DEFAULT_BUCKETS):
    """Best catalog for this runtime: Iceberg when the jar is present,
    bucket-partitioned parquet otherwise (same interface)."""
    if iceberg_available(spark):
        return IcebergCatalog(spark, n_buckets=n_buckets)
    return ParquetCatalog(spark, warehouse, n_buckets=n_buckets)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    n_buckets: int = DEFAULT_BUCKETS,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Materialize the production layout with Spark's NATIVE bucketing
    (``bucketBy(N, conv_id).sortBy(turn_idx)`` + ``saveAsTable``) — the
    metastore-less stand-in for the Iceberg ``bucket(N, conv_id)`` +
    write-ordered layout in the header (works against the in-memory
    session catalog; no extra jar).

    Reading the table back via ``spark.table(name)`` carries the bucket
    spec into FileSourceScanExec's outputPartitioning, so every conv_id-
    keyed window/groupBy downstream plans with ZERO exchanges and the
    ordering window degrades to a partition-local sort — the claim
    PLANS.md makes for the 100 TB layout, mechanically verified by
    tests/test_bucketed.py over this writer.
    """
    w = df.write.bucketBy(n_buckets, "conv_id").sortBy("turn_idx").mode(mode)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)
