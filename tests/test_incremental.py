"""Incremental file-ingest source (sources/incremental.py): new-files-only
ticks, write-then-commit crash recovery, ledger durability."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_spark.sources.incremental import IncrementalSource


def _write_batch(spark, path, start, n):
    (
        spark.range(start, start + n)
        .select(F.col("id"), (F.col("id") * 2).alias("v"))
        .coalesce(1)
        .write.mode("append")
        .parquet(path)
    )


@pytest.fixture
def dirs(tmp_path):
    return str(tmp_path / "data"), str(tmp_path / "ledger"), str(tmp_path / "out")


def test_ticks_see_only_new_files(spark, dirs):
    data, ledger, out = dirs
    src = IncrementalSource(spark, data, ledger)

    _write_batch(spark, data, 0, 100)
    seen = []
    r1 = src.process_new(lambda df: seen.append(df.count()))
    assert r1["n_rows"] == 100 and r1["n_files"] >= 1

    # no new data -> empty tick, action not invoked
    r2 = src.process_new(lambda df: seen.append(df.count()))
    assert r2["n_files"] == 0 and len(seen) == 1

    _write_batch(spark, data, 100, 50)
    r3 = src.process_new(lambda df: seen.append(df.count()))
    assert r3["n_rows"] == 50, "second tick must read only the new files"
    assert seen == [100, 50]


def test_crash_before_commit_reprocesses(spark, dirs):
    data, ledger, _ = dirs
    src = IncrementalSource(spark, data, ledger)
    _write_batch(spark, data, 0, 10)

    def boom(df):
        raise RuntimeError("injected crash between read and commit")

    with pytest.raises(RuntimeError):
        src.process_new(boom)
    # nothing committed -> the same files arrive again (at-least-once input;
    # idempotent writes make it exactly-once output)
    r = src.process_new(lambda df: None)
    assert r["n_rows"] == 10


def test_ledger_records_lineage(spark, dirs):
    data, ledger, _ = dirs
    src = IncrementalSource(spark, data, ledger)
    _write_batch(spark, data, 0, 5)
    src.process_new(lambda df: None, run_id="tick-1")
    _write_batch(spark, data, 5, 5)
    src.process_new(lambda df: None, run_id="tick-2")

    led = spark.read.parquet(ledger)
    assert set(r.run_id for r in led.select("run_id").distinct().collect()) == {
        "tick-1",
        "tick-2",
    }
    assert led.filter(F.col("file_size") <= 0).count() == 0
    # every data file is committed exactly once
    assert led.groupBy("file_path").count().filter("count > 1").count() == 0


def test_end_to_end_with_pipeline_write(spark, dirs, tmp_path):
    """Tick -> parse -> idempotent sink write: re-running a crashed tick
    does not duplicate output rows."""
    from opentelemetry_collector_spark.sources.transcripts import (
        events_to_transcripts,
    )
    from tests.conftest import SF_SMOKE

    data, ledger, out = dirs
    # seed: materialize sf0.001 transcripts as the incoming file batch
    events_to_transcripts(spark, SF_SMOKE).coalesce(1).write.mode(
        "append"
    ).parquet(data)
    src = IncrementalSource(spark, data, ledger)

    def write_out(df):
        df.write.mode("overwrite").parquet(out)  # idempotent overwrite

    r = src.process_new(write_out)
    n = spark.read.parquet(out).count()
    assert n == r["n_rows"] > 0
    # replayed tick (simulating crash-before-commit re-run) leaves output stable
    write_out(spark.read.parquet(data))
    assert spark.read.parquet(out).count() == n


def test_partial_scrape_bad_file_dead_letters_not_fails(spark, dirs):
    """Partial-scrape semantics (scrapererror/partialscrapeerror.go:19-34):
    one malformed file in a tick dead-letters THAT file with a failed
    count; the good files commit; retry does not double-commit either."""
    import pathlib

    data, ledger, out = dirs
    src = IncrementalSource(spark, data, ledger)
    _write_batch(spark, data, 0, 100)
    # a truncated/garbage parquet file lands alongside the good ones
    pathlib.Path(data, "corrupt-0.parquet").write_bytes(b"PAR1 not really")

    seen: list[int] = []
    r = src.process_new(lambda df: seen.append(df.count()))
    assert r["n_rows"] == 100 and seen == [100]
    assert r["n_failed_files"] == 1
    (bad_path,) = r["failed_files"]
    assert bad_path.endswith("corrupt-0.parquet")
    assert r["failed_files"][bad_path]  # carries the probe error text

    # the dead-letter is in the ledger with its error, good files without
    led = spark.read.parquet(ledger)
    assert led.filter("error IS NOT NULL").count() == 1
    assert led.filter("error IS NULL").count() == r["n_files"] >= 1

    # retry tick: nothing pending — neither class re-processes
    r2 = src.process_new(lambda df: seen.append(df.count()))
    assert r2["n_files"] == 0 and r2["n_failed_files"] == 0
    assert seen == [100]
    assert spark.read.parquet(ledger).count() == led.count()

    # next tick still works for fresh files
    _write_batch(spark, data, 100, 50)
    r3 = src.process_new(lambda df: seen.append(df.count()))
    assert r3["n_rows"] == 50 and r3["n_failed_files"] == 0


def test_partial_scrape_all_bad_commits_dead_letters_only(spark, dirs):
    """A tick whose every file fails the probe commits the dead-letters,
    never runs the action, and reports zero processed rows."""
    import pathlib

    data, ledger, out = dirs
    src = IncrementalSource(spark, data, ledger)
    pathlib.Path(data).mkdir(parents=True)
    pathlib.Path(data, "bad-a.parquet").write_bytes(b"\x00\x01")
    pathlib.Path(data, "bad-b.parquet").write_bytes(b"junk")

    calls: list[int] = []
    r = src.process_new(lambda df: calls.append(1))
    assert r["n_files"] == 0 and r["n_failed_files"] == 2
    assert r["n_rows"] == 0 and not calls
    assert src.pending() is None  # dead-letters are off the pending set


def test_ledger_compaction_preserves_bookmark(spark, dirs):
    """ledger.compact() merges the one-file-per-tick appends without moving
    the bookmark: processed_files() identical before/after, the next tick
    still sees only genuinely-new files, and row lineage is conserved."""
    data, ledger, _ = dirs
    src = IncrementalSource(spark, data, ledger)
    for i in range(4):
        _write_batch(spark, data, i * 10, 10)
        src.process_new(lambda df: None, run_id=f"tick-{i}")

    before = src.processed_files()
    rows_before = spark.read.parquet(ledger).count()
    stats = src.ledger.compact()
    assert stats["files_before"] == 4
    assert stats["files_after"] == 1
    assert stats["rows"] == rows_before
    assert src.processed_files() == before

    # bookmark still advances correctly: only the post-compaction file is new
    _write_batch(spark, data, 100, 7)
    r = src.process_new(lambda df: None)
    assert r["n_rows"] == 7

    # re-running compaction is a cheap no-op shape (already 2 files now)
    stats2 = src.ledger.compact()
    assert stats2["rows"] == rows_before + 1
    assert stats2["files_after"] == 1


def test_ledger_compaction_heals_mid_swap_crash(spark, dirs):
    """A crash between the two swap renames (live gone, backup present) is
    healed by the next ledger.compact() call — the protocol's recovery
    preamble restores the backup before rewriting."""
    import os

    data, ledger, _ = dirs
    src = IncrementalSource(spark, data, ledger)
    _write_batch(spark, data, 0, 10)
    src.process_new(lambda df: None)
    _write_batch(spark, data, 10, 10)
    src.process_new(lambda df: None)

    before = src.processed_files()
    os.rename(ledger, ledger + ".pre-compact")  # simulate mid-swap crash
    stats = src.ledger.compact()
    assert stats["files_after"] == 1
    assert src.processed_files() == before


def test_ledger_compaction_missing_dir_is_noop(spark, dirs):
    data, ledger, _ = dirs
    src = IncrementalSource(spark, data, ledger)
    assert src.ledger.compact() == {
        "rows": 0, "files_before": 0, "files_after": 0,
    }


def test_ledger_metrics_scraped_vs_errored_split(spark, dirs):
    """The ledger holds the per-run scraped/errored file split: each good
    file's row carries its own footer row count, a dead-lettered file's
    row its error and a NULL count (obsreport scraper-counter analog)."""
    import pathlib

    data, ledger, _ = dirs
    src = IncrementalSource(spark, data, ledger)
    _write_batch(spark, data, 0, 20)
    _write_batch(spark, data, 20, 5)
    pathlib.Path(data, "bad.parquet").write_bytes(b"not parquet")
    src.process_new(lambda df: None, run_id="mixed-tick")

    rows = src.ledger.read().filter("run_id = 'mixed-tick'").collect()
    good = sorted(r.n_rows for r in rows if r.error is None)
    (bad,) = [r for r in rows if r.error is not None]
    assert good == [5, 20]
    assert bad.file_path.endswith("bad.parquet") and bad.n_rows is None


def test_tick_over_bigint_overflowing_dur_ms_commits(spark, dirs):
    """A landed file holding a turn whose dur_ms overflows bigint runs
    through parse -> enrich -> route and commits: the row reads NULL, so
    the file is not retried forever."""
    from opentelemetry_collector_spark.operators.enrich import enrich
    from opentelemetry_collector_spark.operators.parse import parse_turns
    from opentelemetry_collector_spark.operators.route import route
    from opentelemetry_collector_spark.schemas import TRANSCRIPT_SCHEMA
    from tests.conftest import OVERFLOW_ROWS

    data, ledger, out = dirs
    rows = spark.createDataFrame(OVERFLOW_ROWS, TRANSCRIPT_SCHEMA)
    rows.coalesce(1).write.parquet(data)
    src = IncrementalSource(spark, data, ledger)

    def write_out(df):
        routed = route(enrich(parse_turns(df), spark))
        routed.write.mode("overwrite").parquet(out)

    r = src.process_new(write_out)
    assert r["n_rows"] == 2 and r["n_failed_files"] == 0
    assert src.pending() is None
    got = {x.turn_idx: x.dur_ms for x in spark.read.parquet(out).collect()}
    assert got == {0: None, 1: 42}
