"""Sink and ledger compaction — small-file management for the fan-out
sinks and the incremental ledgers.

Per-sink partitioned writes at high fan-out produce many small files
(every task x every sink partition it touches); at 10^12 rows the sink
tables degrade scans unless compacted. Ledgers grow the same way, one
small file per commit (``ledger.Ledger.compact`` calls this with the
ledger's own layout). The reference's persistent queue has the same
maintenance need on its storage backend (it bounds itself by deleting
delivered items, persistent_storage.go:268-296); the batch ledgers are
append-only for auditability, so they compact instead of deleting.
Iceberg deployments run ``rewrite_data_files`` (use that for object-store
tables — this module is the parquet-dir equivalent for driver-local
warehouses and refuses URI paths); the contract is the same: rows and
partition values preserved exactly, small files merged up to the record
cap.

Crash-safety protocol (rewrite-then-swap with recovery preamble):
  1. stale ``.compacting`` / orphaned ``.pre-compact`` dirs from an earlier
     crash are healed first (backup restored if the live dir is missing,
     removed if the swap had completed);
  2. the rewrite goes to ``.compacting``; any failure before the swap
     leaves the original untouched (staging cleaned up on error);
  3. swap = rename live -> ``.pre-compact``, rename staging -> live,
     delete backup. A crash inside the swap is healed by the next run's
     preamble, so the operation is re-runnable after any crash point.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _heal(base_path: str, staging: str, backup: str) -> None:
    """Recover from a previous crash at any point of the swap protocol."""
    if os.path.exists(backup):
        if os.path.exists(base_path):
            # crash after swap completed but before backup cleanup
            shutil.rmtree(backup)
        else:
            # crash mid-swap: restore the original
            os.rename(backup, base_path)
    if os.path.exists(staging):
        shutil.rmtree(staging)  # incomplete rewrite from a previous attempt


def compact_sinks(
    spark: SparkSession,
    base_path: str,
    partition_cols: list[str] | None = None,
    max_records_per_file: int = 8192,
    tasks_per_partition: int = 1,
    schema: T.StructType | None = None,
) -> dict:
    """Rewrite a partitioned sink dir or a ledger dir with bin-packed files.

    partition_cols must match the dir's layout (default ["sink"]; the
    checkpoint runner's sinks use ["part_bucket", "sink"], a tick ledger
    [tick_id]). An empty list is a FLAT dir — the append-only ledgers,
    whose one-file-per-commit appends otherwise cost one parquet footer
    per historical tick on every bookmark scan — rewritten to
    ceil(rows / max_records_per_file) files without a shuffle.
    tasks_per_partition > 1 salts a partitioned rewrite's shuffle so one
    hot sink doesn't serialize onto a single task (cost: up to that many
    extra files per partition). ``schema`` pins the read schema, so a
    ledger written before a nullable-column addition compacts to the
    CURRENT schema. A missing dir is a no-op (a fresh deployment's
    maintenance cron must not fail before the first commit).

    Returns {files_before, files_after, rows} for observability."""
    if "://" in base_path:
        raise ValueError(
            "compact_sinks operates on driver-local paths; for object-store "
            "tables use Iceberg rewrite_data_files"
        )
    if partition_cols is None:
        partition_cols = ["sink"]
    if tasks_per_partition > 1 and not partition_cols:
        raise ValueError(
            "tasks_per_partition > 1 salts a partitioned rewrite; a flat "
            "dir has no partition to spread"
        )
    staging = base_path.rstrip("/") + ".compacting"
    backup = base_path.rstrip("/") + ".pre-compact"
    _heal(base_path, staging, backup)
    if not os.path.exists(base_path):
        return {"rows": 0, "files_before": 0, "files_after": 0}

    reader = spark.read.schema(schema) if schema is not None else spark.read
    df = reader.parquet(base_path)
    missing = [c for c in partition_cols if c not in df.columns]
    if missing:
        raise ValueError(f"partition_cols not in table: {missing}")
    rows = df.count()
    files_before = len(df.inputFiles())

    if partition_cols:
        shuffle_keys = [F.col(c) for c in partition_cols]
        if tasks_per_partition > 1:
            data_cols = [c for c in df.columns if c not in partition_cols]
            if not data_cols:
                raise ValueError(
                    "tasks_per_partition > 1 needs at least one "
                    "non-partition column to salt on"
                )
            shuffle_keys.append(
                F.pmod(F.xxhash64(*data_cols), F.lit(tasks_per_partition))
            )
        df = df.repartition(*shuffle_keys)
    else:
        df = df.coalesce(max(1, -(-rows // max_records_per_file)))
    try:
        (
            df.write.option("maxRecordsPerFile", max_records_per_file)
            .partitionBy(*partition_cols)
            .mode("overwrite")
            .parquet(staging)
        )
        n_staged = reader.parquet(staging).count()
        if n_staged != rows:
            raise RuntimeError(
                f"compaction would lose rows ({n_staged} != {rows}); "
                "original left untouched"
            )
    except Exception:
        if os.path.exists(staging):
            shutil.rmtree(staging)
        raise

    os.rename(base_path, backup)
    os.rename(staging, base_path)
    shutil.rmtree(backup)

    return {
        "rows": rows,
        "files_before": files_before,
        "files_after": len(reader.parquet(base_path).inputFiles()),
    }
