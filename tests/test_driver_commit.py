"""The flat ledger's driver-side commit (``ledger.Ledger.append``): a file
left by a crash before its rename is invisible and a retried tick commits
each file once, a rename that fails raises, and Spark-written and
driver-written files read back together."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_spark import ledger as ledger_mod
from opentelemetry_collector_spark.ledger import Ledger
from opentelemetry_collector_spark.plans.checkpoint import CHECKPOINT_SCHEMA
from opentelemetry_collector_spark.session import local_rows
from opentelemetry_collector_spark.sources.incremental import (
    LEDGER_SCHEMA,
    IncrementalSource,
)


class _Rename:
    """A Hadoop FileSystem whose ``rename`` is replaced by ``rename``."""

    def __init__(self, fs, rename):
        self._fs = fs
        self.rename = rename

    def __getattr__(self, name):
        return getattr(self._fs, name)


def _patch_rename(monkeypatch, rename) -> None:
    real = ledger_mod._fs

    def fs(spark, path):
        fs, hpath = real(spark, path)
        return _Rename(fs, rename), hpath

    monkeypatch.setattr(ledger_mod, "_fs", fs)


def _write_batch(spark, path, start, n):
    spark.range(start, start + n).coalesce(1).write.mode("append").parquet(path)


def test_crash_before_rename_is_invisible_and_retry_commits_once(
    spark, tmp_path, monkeypatch
):
    data, ledger = str(tmp_path / "data"), str(tmp_path / "ledger")
    for k in range(3):
        _write_batch(spark, data, 10 * k, 10)
    src = IncrementalSource(spark, data, ledger)
    pending = src.pending()

    def crash(staged, final):
        raise RuntimeError("injected crash between create and rename")

    _patch_rename(monkeypatch, crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        src.process_new(lambda df: None, pending=pending)
    monkeypatch.undo()

    (orphan,) = glob.glob(f"{ledger}/.part-*.parquet")
    assert not src.ledger.exists()
    assert src.ledger.read().count() == 0
    for fresh in (src, IncrementalSource(spark, data, ledger)):
        assert fresh.pending() == pending

    r = src.process_new(lambda df: None, pending=pending)
    assert r["n_rows"] == 30
    assert glob.glob(f"{ledger}/.part-*.parquet") == [orphan]
    committed = [row.file_path for row in src.ledger.read().collect()]
    assert sorted(committed) == sorted(pending.files)
    assert src.pending() is None
    assert IncrementalSource(spark, data, ledger).pending() is None

    stats = src.ledger.compact()
    assert stats["rows"] == 3 and stats["files_before"] == 1
    assert IncrementalSource(spark, data, ledger).processed_files() == set(
        pending.files
    )


def test_rename_returning_false_raises_and_commits_nothing(
    spark, tmp_path, monkeypatch
):
    data, ledger = str(tmp_path / "data"), str(tmp_path / "ledger")
    _write_batch(spark, data, 0, 4)
    src = IncrementalSource(spark, data, ledger)
    _patch_rename(monkeypatch, lambda staged, final: False)
    with pytest.raises(OSError, match="rename"):
        src.process_new(lambda df: None)
    monkeypatch.undo()
    assert src.ledger.read().count() == 0
    assert src.process_new(lambda df: None)["n_rows"] == 4
    assert src.ledger.read().count() == 1


@pytest.mark.parametrize("schema, rows", [
    (LEDGER_SCHEMA, [("/in/a.parquet", 10, "r1", 7, None),
                     ("/in/b.parquet", 3, "r1", None, "bad")]),
    (CHECKPOINT_SCHEMA, [("r1", 2, 0, 11, 5, 4, 1, 9, "committed"),
                         ("r1", 2, 1, None, 0, 0, 0, 1, "committed")]),
])
def test_spark_and_driver_written_files_read_back_together(
    spark, tmp_path, schema, rows
):
    """A ledger holding a file Spark wrote (the commit before the driver
    commit) and one the driver wrote reads back every row under the
    schema, with each commit's ``committed_at``, and compacts whole."""
    path = str(tmp_path / "ledger")
    spark_rows, driver_rows = rows[:1], rows[1:]
    (
        local_rows(spark, spark_rows, schema[:-1])
        .withColumn("committed_at", F.current_timestamp())
        .coalesce(1)
        .write.mode("append")
        .parquet(path)
    )
    led = Ledger(spark, path, schema)
    led.append(driver_rows)
    assert len(glob.glob(f"{path}/*.parquet")) == 2

    got = led.read()
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in schema
    ]
    collected = got.collect()
    assert sorted((tuple(r)[:-1] for r in collected), key=repr) == sorted(
        rows, key=repr
    )
    # both stamps are the same instant to within the test's run time: the
    # driver's INT96 stamp reads back in the same time base as Spark's
    a, b = (r.committed_at for r in collected)
    assert abs((a - b).total_seconds()) < 120
    assert led.compact()["rows"] == 2
    assert sorted((tuple(r)[:-1] for r in led.read().collect()), key=repr) == (
        sorted(rows, key=repr)
    )
