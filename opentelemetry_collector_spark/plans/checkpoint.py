"""Resumable per-partition checkpoints — the persistent-queue analog
(SURVEY §2.5; exporter/exporterhelper/internal/persistent_storage.go:51-396).

The reference's persistent queue survives crashes by persisting read/write
indices plus the currently-dispatched item list, deleting an item only after
``OnProcessingFinished`` (persistent_storage.go:268-273) — in-flight items are
re-enqueued on restart (persistent_storage.go:93-122,282-348). Re-expressed
for a deterministic batch DAG:

* The unit of work is a **conv_id hash bucket** (``pmod(xxhash64(conv_id), n)``)
  — deterministic in the DATA, not in input splits, so re-runs see identical
  bucket membership regardless of file layout or parallelism. This matches the
  target Iceberg layout ``bucket(n, conv_id)``: on a real table the bucket
  filter prunes to 1/n of the files (partition pruning), so a wave never
  rescans the whole input.
* Buckets are processed in **waves**; each wave's sink output is written with
  dynamic partition overwrite (a per-write option of ``route.write_sinks``,
  never a session setting; idempotent — a re-run of a half-written wave
  replaces it), and ONLY THEN is a checkpoint row committed per bucket
  (write-then-commit = delete-after-OnProcessingFinished ordering).
* A wave's per-bucket stats are **observed on its write**, the way the
  reference's obsreport counts items as they pass a boundary rather than in
  a second pass: each write attempt carries a fresh ``Observation`` of
  conditional aggregates, one set per bucket of the wave, and only the
  attempt that succeeded is read. The stats therefore describe exactly the
  rows that were written, with no persist and no second job.
* Resume = anti-join committed buckets: a new run processes only buckets with
  no committed checkpoint row. Crash between write and commit re-runs the
  wave; the overwrite makes that exactly-once in the output.

Each checkpoint row carries lineage + metrics (run_id, bucket, input
fingerprint, per-sink row counts, wall_ms) — the obsreport sent/failed
counters (obsreport/obsreport_exporter.go:141-161) and queue-depth gauges
(queued_retry.go:209-223) live in this table. The table is a flat
``ledger.Ledger`` under ``{base}/_checkpoints``: one appended file per wave,
merged between runs by ``runner.ledger.compact()``.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from opentelemetry_collector_spark.ledger import Ledger
from opentelemetry_collector_spark.plans.retry import (
    RetryConfig,
    with_retry,
    with_timeout,
)

CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("n_buckets", T.IntegerType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("input_fingerprint", T.LongType(), True),
        T.StructField("n_input", T.LongType(), False),
        T.StructField("n_routed_ok", T.LongType(), False),
        T.StructField("n_dead_letter", T.LongType(), False),
        T.StructField("wall_ms", T.LongType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("committed_at", T.TimestampType(), False),
    ]
)


def bucket_col(n_buckets: int):
    """Deterministic work-unit id: pmod(xxhash64(conv_id), n_buckets).

    xxhash64 is a fixed-seed deterministic Spark builtin — bucket membership
    is a pure function of the data (persistent queue item keys are likewise
    monotone-deterministic, persistent_storage.go:93-122).

    NOTE: these work buckets are NOT Iceberg storage buckets (Iceberg's
    bucket transform is murmur3). On an Iceberg table, pass
    ``F.expr(f"system.bucket({n}, conv_id)")`` as ``bucket_expr`` to
    CheckpointedRunner.run so wave filters align with (and prune on) the
    table's own partitioning.
    """
    return F.expr(f"CAST(pmod(xxhash64(conv_id), {int(n_buckets)}) AS INT)")


def _bucket_stats_sql(b: int) -> str:
    """Bucket ``b``'s ledger stats as one observed aggregate over its wave:
    the order-independent 64-bit lineage fingerprint (bit_xor cannot
    overflow at any row count, where a sum of hashes overflows int64
    around 1.8e10 rows and ANSI mode turns that into a post-write
    failure; NULL when the bucket has no rows), its row count, and the
    ok / dead-letter split on error_reason."""
    return (
        "named_struct("
        f"'fp', bit_xor(CASE WHEN part_bucket = {b} THEN xxhash64(conv_id, turn_idx) END), "
        f"'n', count_if(part_bucket = {b}), "
        f"'ok', count_if(part_bucket = {b} AND error_reason IS NULL), "
        f"'dl', count_if(part_bucket = {b} AND error_reason IS NOT NULL)"
        f") AS b{b}"
    )


@dataclass
class CheckpointConfig:
    base_path: str  # root: sinks under {base}/sinks, ledger under {base}/_checkpoints
    n_buckets: int = 16
    buckets_per_wave: int = 4
    max_records_per_file: int = 8192  # batchprocessor/factory.go:31
    # per-ATTEMPT deadline on each wave's sink write; 0 disables (the
    # reference's Timeout > 0 guard). On expiry the attempt's tagged jobs
    # are cancelled and the retry sender backs off — the full
    # queue -> retry -> timeout -> push chain (exporterhelper/common.go:159-209)
    attempt_timeout_s: float = 0.0

    def validate(self) -> None:
        if self.n_buckets <= 0 or self.buckets_per_wave <= 0:
            raise ValueError("n_buckets and buckets_per_wave must be positive")
        if not self.base_path:
            raise ValueError("base_path required")
        if self.max_records_per_file <= 0:
            # batch processor config validation: send_batch_max_size >= 1
            # (processor/batchprocessor/config.go:25-52)
            raise ValueError("max_records_per_file must be positive")
        if self.attempt_timeout_s < 0:
            raise ValueError("attempt_timeout_s must be >= 0 (0 = no deadline)")

    @property
    def sinks_path(self) -> str:
        return f"{self.base_path}/sinks"

    @property
    def ledger_path(self) -> str:
        return f"{self.base_path}/_checkpoints"


class CheckpointedRunner:
    """Drives routed output to per-sink tables in resumable waves."""

    def __init__(self, spark: SparkSession, config: CheckpointConfig,
                 retry: RetryConfig | None = None):
        config.validate()
        self.spark = spark
        self.config = config
        self.retry = retry or RetryConfig()
        self.ledger = Ledger(spark, config.ledger_path, CHECKPOINT_SCHEMA)

    def committed_buckets(self) -> set[int]:
        """Committed bucket ids from the ledger (a fresh ledger answers
        from the FileSystem probe, with no job).

        Raises if the ledger was written with a DIFFERENT n_buckets —
        resuming under a changed bucketing would silently mix two
        incompatible partitionings."""
        if not self.ledger.exists():
            return set()
        rows = (
            self.ledger.read().filter(F.col("status") == "committed")
            .select("bucket", "n_buckets").collect()
        )
        seen_nb = {r.n_buckets for r in rows}
        if seen_nb and seen_nb != {self.config.n_buckets}:
            raise ValueError(
                f"ledger was written with n_buckets={sorted(seen_nb)}, "
                f"config has n_buckets={self.config.n_buckets}; resuming "
                "under a different bucketing would corrupt the output"
            )
        return {r.bucket for r in rows}

    # --- run --------------------------------------------------------------

    def run(
        self,
        routed: DataFrame,
        run_id: str | None = None,
        fail_after_waves: int | None = None,
        bucket_expr=None,
    ) -> dict:
        """Write ``routed`` (route() output) to per-sink tables, resumably.

        ``fail_after_waves`` injects a crash after K committed waves (test
        hook mirroring persistent_storage_test.go's restart-recovery tests).
        Returns run metrics: buckets processed/skipped, row counts.
        """
        run_id = run_id or uuid.uuid4().hex[:12]
        cfg = self.config
        done = self.committed_buckets()
        todo = [b for b in range(cfg.n_buckets) if b not in done]
        waves = [
            todo[i : i + cfg.buckets_per_wave]
            for i in range(0, len(todo), cfg.buckets_per_wave)
        ]

        from opentelemetry_collector_spark.operators.route import write_sinks

        # bucket_expr overrides the work-bucket derivation (e.g. Iceberg's
        # system.bucket so wave filters prune the storage partitions)
        bucketed = routed.withColumn(
            "part_bucket",
            bucket_col(cfg.n_buckets) if bucket_expr is None
            else bucket_expr.cast("int"),
        )
        totals = {"run_id": run_id, "skipped_buckets": sorted(done),
                  "processed_buckets": [], "n_routed_ok": 0, "n_dead_letter": 0}

        for w_idx, wave in enumerate(waves):
            t0 = time.perf_counter()
            # no persist: the write is the wave's one materialization, and
            # the stats are observed on it (module docstring)
            wave_df = bucketed.filter(
                f"part_bucket IN ({', '.join(map(str, wave))})"
            )
            stats = [F.expr(_bucket_stats_sql(b)) for b in wave]

            def attempt(df=wave_df, stats=stats) -> Observation:
                obs = Observation()
                write_sinks(
                    df.observe(obs, *stats), cfg.sinks_path,
                    cfg.max_records_per_file,
                    extra_partition_cols=["part_bucket"],
                )
                return obs

            observed = with_retry(
                lambda: with_timeout(attempt, cfg.attempt_timeout_s,
                                     spark=self.spark),
                self.retry,
            ).get
            by_bucket = {b: observed[f"b{b}"] for b in wave}
            wall_ms = int((time.perf_counter() - t0) * 1000)
            # attribute wave wall time to buckets by row share (buckets
            # run concurrently in one job; an even split overstates the
            # small buckets' throughput)
            wave_rows = max(sum(r.n for r in by_bucket.values()), 1)
            self.ledger.append(
                [
                    (
                        run_id, cfg.n_buckets, b, r.fp, r.n, r.ok, r.dl,
                        max(1, wall_ms * r.n // wave_rows), "committed",
                    )
                    for b, r in by_bucket.items()
                ]
            )
            totals["processed_buckets"].extend(wave)
            totals["n_routed_ok"] += sum(r.ok for r in by_bucket.values())
            totals["n_dead_letter"] += sum(r.dl for r in by_bucket.values())

            if fail_after_waves is not None and w_idx + 1 >= fail_after_waves:
                raise RuntimeError(
                    f"injected crash after wave {w_idx + 1} (test hook)"
                )

        return totals
