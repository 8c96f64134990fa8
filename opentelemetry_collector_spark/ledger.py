"""Incremental ledgers — the storage API every crash-safe bookmark goes
through (SURVEY §2.5; the reference keeps all persistent-queue state
behind one Get/Set/Delete/Batch client,
extension/experimental/storage/storage.go:48-62).

A ledger is one parquet directory under an explicit schema, in one of
two layouts:

* **flat** (``tick_col=None``): an append-only log, one file per
  ``append``, each row stamped with ``committed_at`` (the schema's last
  field). The driver encodes the file and renames it into place, so a
  commit runs no Spark job; the file is the one Spark's own parquet writer
  would produce, so old and new commits read back alike. The
  processed-files ledger of ``sources/incremental.py`` and the bucket
  ledger of ``plans/checkpoint.py`` are flat.
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

import io
import uuid
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _make_type_verifier

from opentelemetry_collector_spark.operators.compact import compact_sinks
from opentelemetry_collector_spark.session import local_rows

# files per committed tick partition: bounds both the commit's fan-in (no
# single-task funnel on a large tick) and the ledger's file count
TICK_FILES = 8


def _fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Hadoop Path) of ``path`` under the session's
    Hadoop configuration."""
    hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), hpath


def _data_files(spark: SparkSession, path: str):
    """FileStatus of every data file under ``path``, lazily, via the Hadoop
    FileSystem API — a metadata listing, no data read."""
    fs, hpath = _fs(spark, path)
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
        which is stamped here) to a flat ledger as one file, written by the
        driver with no Spark job.

        The rows, checked against the schema, become one Arrow table that
        pyarrow encodes as Spark's parquet writer would: INT96 timestamps
        and the ``org.apache.spark.version`` and
        ``org.apache.spark.sql.parquet.row.metadata`` footer keys (beside
        pyarrow's own ``ARROW:schema`` key, which Spark ignores). The bytes
        go to a hidden ``.part-<uuid>.parquet`` through the Hadoop
        FileSystem, which is closed and then renamed to
        ``part-<uuid>.parquet``. Listings and reads skip hidden names, so
        the rename is the commit: a crash before it leaves a file that no
        read, ``exists`` or ``compact`` sees. A rename that returns false
        raises."""
        now = datetime.now(timezone.utc)
        stamped = [tuple(r) + (now,) for r in rows]
        verify = _make_type_verifier(self.schema)
        for row in stamped:
            verify(row)
        jvm = self.spark.sparkContext._jvm
        table = pa.Table.from_pylist(
            [dict(zip(self.schema.fieldNames(), row)) for row in stamped],
            schema=to_arrow_schema(self.schema).with_metadata({
                "org.apache.spark.version": self.spark.version,
                "org.apache.spark.sql.parquet.row.metadata": (
                    jvm.org.apache.spark.sql.types.DataType.fromJson(
                        self.schema.json()).json()
                ),
            }),
        )
        buf = io.BytesIO()
        pq.write_table(table, buf, compression="snappy",
                       use_deprecated_int96_timestamps=True)
        name = f"part-{uuid.uuid4()}.parquet"
        fs, staged = _fs(self.spark, f"{self.path}/.{name}")
        out = fs.create(staged, False)
        try:
            out.write(buf.getvalue())
        finally:
            out.close()
        final = jvm.org.apache.hadoop.fs.Path(f"{self.path}/{name}")
        if not fs.rename(staged, final):
            raise OSError(f"ledger commit: rename {staged} -> {final} failed")

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
