"""Incremental ledgers — the storage API every crash-safe bookmark goes
through (SURVEY §2.5; the reference keeps all persistent-queue state
behind one Get/Set/Delete/Batch client,
extension/experimental/storage/storage.go:48-62).

A ledger is one parquet directory under an explicit schema, in one of
two layouts:

* **flat** (``tick_col=None``): an append-only log, one ``coalesce(1)``
  file per ``append``, each row stamped with ``committed_at`` (the
  schema's last field). The processed-files ledger of
  ``sources/incremental.py`` and the bucket ledger of
  ``plans/checkpoint.py`` are flat.
* **tick-partitioned**: one ``{tick_col}=<id>`` directory per tick,
  written by ``commit_tick`` as a dynamic partition overwrite, so a
  retried tick replaces its own partition instead of appending
  duplicates. The fingerprint, curation and signature ledgers of
  ``operators/incremental_dedup.py``, the Bloom ledger and the HLL ledger
  are tick-partitioned.

Bootstrap rule (``exists``): a path with no data file is a fresh ledger;
any other read failure propagates, because reading a broken ledger as
empty would erase resume state. ``compact`` merges small files under the
rewrite-then-swap protocol of ``operators/compact.py`` and keeps the
layout, so a compacted ledger reads and commits exactly like the original.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from opentelemetry_collector_spark.operators.compact import compact_sinks
from opentelemetry_collector_spark.session import local_rows

# files per committed tick partition: bounds both the commit's fan-in (no
# single-task funnel on a large tick) and the ledger's file count
TICK_FILES = 8


def _data_files(spark: SparkSession, path: str):
    """FileStatus of every data file under ``path``, lazily, via the Hadoop
    FileSystem API — a metadata listing, no data read."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(conf)
    if not fs.exists(hpath):
        return
    it = fs.listFiles(hpath, True)  # recursive
    while it.hasNext():
        st = it.next()
        if not st.getPath().getName().startswith(("_", ".")):
            yield st  # skips _SUCCESS and hidden/temp files


def list_data_files(spark: SparkSession, path: str) -> dict[str, int]:
    """{absolute file path: size} of every data file under ``path``."""
    return {
        st.getPath().toString(): st.getLen() for st in _data_files(spark, path)
    }


class Ledger:
    """One ledger directory: read, commit and compact under ``schema``."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        tick_col: str | None = None,
    ):
        self.spark = spark
        self.path = path
        self.schema = schema
        self.tick_col = tick_col

    def exists(self) -> bool:
        """True once any data file is committed (stops at the first)."""
        return next(_data_files(self.spark, self.path), None) is not None

    def read(self, except_tick: str | None = None) -> DataFrame:
        """The ledger under ``schema``; an empty frame of exactly ``schema``
        before the first commit. ``except_tick`` leaves that tick's
        partition out, so a retry of a committed tick reads the state the
        tick first saw."""
        if not self.exists():
            return local_rows(self.spark, [], self.schema)
        led = self.spark.read.schema(self.schema).parquet(self.path)
        if except_tick is not None:
            led = led.filter(F.col(self.tick_col) != except_tick)
        return led

    def append(self, rows: list[tuple]) -> None:
        """Append ``rows`` (every field but the trailing ``committed_at``,
        which is stamped here) to a flat ledger as one file."""
        (
            local_rows(self.spark, rows, self.schema[:-1])
            .withColumn("committed_at", F.current_timestamp())
            .coalesce(1)
            .write.mode("append")
            .parquet(self.path)
        )

    def commit_tick(self, df: DataFrame, tick_id: str) -> None:
        """Write ``df``'s ledger columns as tick ``tick_id``, replacing only
        that tick's partition: committing a tick twice leaves one copy."""
        (
            df.withColumn(self.tick_col, F.lit(tick_id))
            .select(*self.schema.fieldNames())
            .coalesce(TICK_FILES)
            .write.mode("overwrite")
            .partitionBy(self.tick_col)
            .option("partitionOverwriteMode", "dynamic")
            .parquet(self.path)
        )

    def compact(self, max_records_per_file: int = 1_000_000) -> dict:
        """Merge the ledger's small files, keeping its layout (one
        partition per tick on a tick ledger). Crash-safe and re-runnable;
        run it between commits, never concurrently with one — the swap
        renames the live dir. A missing ledger is a no-op."""
        return compact_sinks(
            self.spark,
            self.path,
            partition_cols=[self.tick_col] if self.tick_col else [],
            max_records_per_file=max_records_per_file,
            schema=self.schema,
        )
