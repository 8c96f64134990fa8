"""Incremental file ingest — the pull/scraper receiver analog for batch
(SURVEY §2.1, §3.3; receiver/scraperhelper/scrapercontroller.go:91-227).

The scraper controller ticks on a timer, collects whatever is new, and feeds
the pipeline; the persistent queue guarantees nothing is lost or double-sent
(persistent_storage.go:51-396). Batch re-expression: each ``process_new``
call is one tick — it lists the source directory (METADATA ONLY: a Hadoop
FileSystem listing, never a data scan — at 100 TB listing is thousands of
file statuses, not bytes), drops the files the processed-files ledger
holds, reads each new file's parquet footer on the driver, reads only the
new files, runs the caller's action, and only then commits the files to
the ledger (write-then-commit = delete-after-OnProcessingFinished
ordering, persistent_storage.go:268-273). A crash before commit
re-processes the same files on the next tick — the caller's write must be
idempotent (dynamic partition overwrite, as in plans/checkpoint.py), which
makes the tick exactly-once in the output.

The tick's own bookkeeping starts no Spark job: the footers give each
file's row count and the read schema, the ledger commit is a driver-side
file rename (``Ledger.append``), and the source keeps the processed set it
committed instead of re-reading the ledger. The caller's action is the
tick's only job.

This is the parquet-directory stand-in for Iceberg incremental snapshot
reads (read between snapshot IDs); the ledger is the "last snapshot"
bookmark — a flat ``ledger.Ledger``, one appended file per tick, merged
between ticks by ``source.ledger.compact()``. Structured Streaming's file
source does the same bookkeeping in its WAL — this source exists for
batch/cron deployments where a long-lived streaming query isn't wanted.
"""

from __future__ import annotations

import json
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from opentelemetry_collector_spark.ledger import Ledger, list_data_files

LEDGER_SCHEMA = T.StructType(
    [
        T.StructField("file_path", T.StringType(), False),
        T.StructField("file_size", T.LongType(), False),
        T.StructField("run_id", T.StringType(), False),
        # the file's own footer row count; NULL on a dead-letter row
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
        self._processed: set[str] | None = None

    def processed_files(self) -> set[str]:
        """Every file the ledger holds, processed or dead-lettered. The
        ledger is read once per source object (a fresh ledger answers from
        the FileSystem probe, with no job); after that the source keeps the
        set itself, adding each tick's files once its commit succeeds. That
        is exact because this source is its ledger's only writer and
        ``ledger.compact()`` keeps the ledger's rows. A second source object
        on the same ledger reads it afresh."""
        if self._processed is None:
            self._processed = (
                {r.file_path for r in self.ledger.read().select("file_path").collect()}
                if self.ledger.exists() else set()
            )
        return set(self._processed)

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
    ) -> tuple[dict[str, int], dict[str, str], T.StructType | None]:
        """Partition a tick's file set into ({readable: footer row count},
        {bad: error}, read schema) by opening each NEW file's parquet footer
        with ``ParquetFileReader`` — a KB-scale metadata read per file and
        no Spark job, exactly the per-endpoint touch the reference's scraper
        makes every tick. Corrupt/truncated/non-parquet files surface here
        instead of killing the whole-scan action.

        The read schema is the first (sorted) readable file's footer
        converted as Spark's own schema inference converts it
        (``ParquetFileFormat.readSchemaFromFooter``): with ``mergeSchema``
        off, inference reads that one footer too, so ``spark.read.parquet``
        over the same files infers the same schema. Both classes are
        Spark-internal; ``tests/test_footer_probe.py`` fails if an upgrade
        changes what they return.

        Probes run on a driver thread pool (footer reads are IO-bound), so
        a 10k-new-file tick probes in seconds, not minutes — the same
        driver-side-but-parallel shape as Spark's own file-source listing.
        """
        from concurrent.futures import ThreadPoolExecutor

        from py4j.protocol import Py4JJavaError

        jvm = self.spark.sparkContext._jvm
        conf = self.spark.sparkContext._jsc.hadoopConfiguration()

        def probe(p: str):
            """(row count, footer) of ``p``, or the reader's error text."""
            path = jvm.org.apache.hadoop.fs.Path(p)
            try:
                reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
                    jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                        path, conf))
            except Py4JJavaError as e:
                return str(e.java_exception).splitlines()[0][:500]
            try:
                return reader.getRecordCount(), jvm.org.apache.parquet.hadoop.Footer(
                    path, reader.getFooter())
            finally:
                reader.close()

        paths = sorted(files)
        with ThreadPoolExecutor(max_workers=min(16, max(1, len(paths)))) as ex:
            probed = dict(zip(paths, ex.map(probe, paths)))
        bad = {p: r for p, r in probed.items() if isinstance(r, str)}
        good = {p: r for p, r in probed.items() if p not in bad}
        if not good:
            return {}, bad, None
        parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
        schema = parquet.ParquetFileFormat.readSchemaFromFooter(
            good[min(good)][1],
            parquet.ParquetToSparkSchemaConverter(
                self.spark._jsparkSession.sessionState().conf()),
        )
        return (
            {p: n for p, (n, _) in good.items()},
            bad,
            T.StructType.fromJson(json.loads(schema.json())),
        )

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

        ``df`` reads the readable files under the schema their footers give
        (``_probe_files``), and ``n_rows`` is the sum of their footer row
        counts, so the tick counts nothing with Spark. Each good file's
        ledger row carries its own footer count. The commit is one
        driver-side ``Ledger.append``, after which the files join the set
        ``processed_files`` keeps; a failed commit drops that set, so the
        next tick re-reads the ledger.

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
        good, bad, schema = self._probe_files(pending.files)
        if good:
            action(self.spark.read.schema(schema).parquet(*sorted(good)))
        try:
            self.ledger.append(
                [
                    (p, sz, run_id, good.get(p), bad.get(p))
                    for p, sz in sorted(pending.files.items())
                ]
            )
        except BaseException:
            self._processed = None  # the commit may have landed: re-read
            raise
        if self._processed is not None:
            self._processed.update(pending.files)
        return {
            "run_id": run_id,
            "tick_id": pending.tick_id,
            "n_files": len(good),
            "n_rows": sum(good.values()),
            "n_failed_files": len(bad),
            "failed_files": bad,
            "wall_ms": int((time.perf_counter() - t0) * 1000),
        }
