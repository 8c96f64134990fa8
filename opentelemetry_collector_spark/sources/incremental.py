"""Incremental file ingest — the pull/scraper receiver analog for batch
(SURVEY §2.1, §3.3; receiver/scraperhelper/scrapercontroller.go:91-227).

The scraper controller ticks on a timer, collects whatever is new, and feeds
the pipeline; the persistent queue guarantees nothing is lost or double-sent
(persistent_storage.go:51-396). Batch re-expression: each ``process_new``
call is one tick — it lists the source directory (METADATA ONLY: a Hadoop
FileSystem listing, never a data scan — at 100 TB listing is thousands of
file statuses, not bytes), anti-joins against the processed-files ledger,
reads only the new files, runs the caller's action, and only then commits
the files to the ledger (write-then-commit = delete-after-
OnProcessingFinished ordering, persistent_storage.go:268-273). A crash
before commit re-processes the same files on the next tick — the caller's
write must be idempotent (dynamic partition overwrite, as in
plans/checkpoint.py), which makes the tick exactly-once in the output.

This is the parquet-directory stand-in for Iceberg incremental snapshot
reads (read between snapshot IDs); the ledger is the "last snapshot"
bookmark — a flat ``ledger.Ledger``, one appended file per tick, merged
between ticks by ``source.ledger.compact()``. Structured Streaming's file source does the same bookkeeping in
its WAL — this source exists for batch/cron deployments where a long-lived
streaming query isn't wanted.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from opentelemetry_collector_spark.ledger import Ledger, list_data_files

LEDGER_SCHEMA = T.StructType(
    [
        T.StructField("file_path", T.StringType(), False),
        T.StructField("file_size", T.LongType(), False),
        T.StructField("run_id", T.StringType(), False),
        T.StructField("n_rows", T.LongType(), True),
        # non-NULL = the file was DEAD-LETTERED, not processed: it failed
        # the footer probe and was committed so it never blocks a tick
        # again (partial-scrape semantics, scrapererror/
        # partialscrapeerror.go:19-34 — the scrape succeeds with a Failed
        # count instead of failing wholesale). Ledgers written before this
        # column existed read back as NULL (= processed) under the
        # explicit schema.
        T.StructField("error", T.StringType(), True),
        T.StructField("committed_at", T.TimestampType(), False),
    ]
)


@dataclass(frozen=True)
class PendingTick:
    """Immutable snapshot of one tick's input: id + {file: size}."""

    tick_id: str
    files: dict[str, int]


class IncrementalSource:
    """One-directory incremental reader with a processed-files ledger."""

    def __init__(self, spark: SparkSession, data_path: str, ledger_path: str):
        self.spark = spark
        self.data_path = data_path
        self.ledger = Ledger(spark, ledger_path, LEDGER_SCHEMA)

    def processed_files(self) -> set[str]:
        # a fresh ledger answers from the FileSystem probe, with no job
        if not self.ledger.exists():
            return set()
        return {
            r.file_path
            for r in self.ledger.read().select("file_path").collect()
        }

    def new_files(self) -> dict[str, int]:
        files = list_data_files(self.spark, self.data_path)
        done = self.processed_files()
        return {p: sz for p, sz in files.items() if p not in done}

    def pending(self) -> "PendingTick | None":
        """Snapshot of the CURRENT pending tick: the new-file set plus a
        deterministic id (hash of the sorted file list). Processing the
        SNAPSHOT -- not a re-listing -- pins the tick to exactly these
        files, so a crash-and-retry over the same snapshot re-derives the
        same id even if further files landed meanwhile (layered
        exactly-once: tick-scoped state like a checkpoint ledger under
        ``{base}/{tick_id}`` resumes instead of restarting, and late
        arrivals wait for the next tick). None when nothing is pending."""
        import hashlib

        new = self.new_files()
        if not new:
            return None
        h = hashlib.sha256("\n".join(sorted(new)).encode()).hexdigest()[:16]
        return PendingTick(tick_id=f"tick-{h}", files=new)

    def _probe_files(
        self, files: dict[str, int]
    ) -> tuple[dict[str, int], dict[str, str]]:
        """Partition a tick's file set into (readable, {bad: error}) by
        reading each NEW file's parquet footer — a KB-scale metadata read
        per file, exactly the per-endpoint touch the reference's scraper
        makes every tick. Corrupt/truncated/non-parquet files surface here
        instead of killing the whole-scan action.

        Probes run on a driver thread pool (footer reads are IO-bound and
        Spark's read-path schema resolution is safe to issue concurrently),
        so a 10k-new-file tick probes in seconds, not minutes — the same
        driver-side-but-parallel shape as Spark's own file-source listing.
        """
        from concurrent.futures import ThreadPoolExecutor

        def probe(p: str) -> str | None:
            try:
                self.spark.read.parquet(p).schema  # footer read only
                return None
            except Exception as e:
                return str(e).splitlines()[0][:500]

        paths = sorted(files)
        with ThreadPoolExecutor(max_workers=min(16, max(1, len(paths)))) as ex:
            errs = list(ex.map(probe, paths))
        good = {p: files[p] for p, e in zip(paths, errs) if e is None}
        bad = {p: e for p, e in zip(paths, errs) if e is not None}
        return good, bad

    def process_new(
        self,
        action,
        run_id: str | None = None,
        pending: "PendingTick | None" = None,
    ) -> dict:
        """One tick: read the pending snapshot's files (taken now if not
        given), run ``action(df) -> None`` over them, then commit the file
        list. ``action`` must be idempotent (re-run on crash-before-commit);
        pass the SAME ``pending`` snapshot on a retry so tick-scoped state
        keyed by its tick_id lines up.

        Partial-scrape semantics (scrapererror/partialscrapeerror.go:19-34;
        scrapercontroller.go reports partial errors through obsreport and
        keeps ticking): a file that fails the footer probe does NOT fail
        the tick — the good files process and commit normally, the bad
        file is dead-lettered into the ledger with its error, and the
        returned counters carry ``n_failed_files``/``failed_files``
        (obsreport ``refused`` analog). Because the dead-letter commit
        rides the SAME ledger append as the good files, a crash-and-retry
        re-processes the whole snapshot exactly once — never double-
        committing either class. An ``action`` failure still fails the
        whole tick (nothing commits), matching the exporter-side error
        path rather than the scrape-side one."""
        run_id = run_id or uuid.uuid4().hex[:12]
        t0 = time.perf_counter()
        if pending is None:
            pending = self.pending()
        if pending is None or not pending.files:
            return {
                "run_id": run_id,
                "tick_id": None,
                "n_files": 0,
                "n_rows": 0,
                "n_failed_files": 0,
                "failed_files": {},
                "wall_ms": 0,
            }
        good, bad = self._probe_files(pending.files)
        n_rows = 0
        if good:
            df = self.spark.read.parquet(*sorted(good))
            n_rows = df.count()
            action(df)
        self.ledger.append(
            [
                (p, sz, run_id, None if p in bad else n_rows, bad.get(p))
                for p, sz in sorted(pending.files.items())
            ]
        )
        return {
            "run_id": run_id,
            "tick_id": pending.tick_id,
            "n_files": len(good),
            "n_rows": n_rows,
            "n_failed_files": len(bad),
            "failed_files": bad,
            "wall_ms": int((time.perf_counter() - t0) * 1000),
        }

    def metrics(self) -> DataFrame:
        """The tick ledger as obsreport-style scraper counters — one row
        per run_id with the scraped/errored split the reference records
        per scrape (obsreport/obsreport_scraper.go:159-160,175-176:
        ScrapedMetricPoints vs ErroredMetricPoints; here whole files are
        the scrape unit, so files_committed vs files_failed plus the
        tick's row count). The checkpoint runner's metrics() is the
        queue-gauge twin of this scrape-counter surface."""
        return self.ledger.read().groupBy("run_id").agg(
            F.count(F.when(F.col("error").isNull(), True)).alias(
                "files_committed"
            ),
            F.count("error").alias("files_failed"),
            # n_rows is the tick total replicated onto each good file row
            # (NULL on dead-letter rows) — max recovers the tick total
            F.max("n_rows").alias("n_rows"),
            F.max("committed_at").alias("committed_at"),
        )
