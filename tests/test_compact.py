"""Sink compaction: file count drops, rows and partition values conserved,
crash recovery heals every swap-crash point, multi-level layouts preserved."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_spark.operators.compact import compact_sinks
from opentelemetry_collector_spark.operators.enrich import enrich
from opentelemetry_collector_spark.operators.parse import parse_turns
from opentelemetry_collector_spark.operators.route import route, write_sinks
from opentelemetry_collector_spark.plans.checkpoint import (
    CheckpointConfig,
    CheckpointedRunner,
)
from opentelemetry_collector_spark.sources.transcripts import events_to_transcripts
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def routed(spark):
    df = route(enrich(parse_turns(events_to_transcripts(spark, SF_SMOKE)), spark))
    df = df.persist()
    df.count()
    yield df
    df.unpersist()


def _fragmented(spark, routed, tmp_path):
    base = str(tmp_path / "sinks")
    write_sinks(routed.repartition(8), base, max_records_per_file=8192)
    return base


def test_compaction_conserves_and_shrinks(spark, routed, tmp_path):
    base = _fragmented(spark, routed, tmp_path)
    before = spark.read.parquet(base)
    n = before.count()
    counts_before = {r.sink: r["count"] for r in
                     before.groupBy("sink").count().collect()}

    stats = compact_sinks(spark, base)
    assert stats["rows"] == n
    assert stats["files_after"] < stats["files_before"]

    after = spark.read.parquet(base)
    assert after.count() == n
    counts_after = {r.sink: r["count"] for r in
                    after.groupBy("sink").count().collect()}
    assert counts_after == counts_before

    # bin-packed: files per sink <= ceil(rows/cap), checked via the scan
    # itself (no path decoding)
    per_sink = (
        after.withColumn("f", F.input_file_name())
        .groupBy("sink").agg(F.countDistinct("f").alias("nf"),
                             F.count(F.lit(1)).alias("n"))
        .collect()
    )
    for r in per_sink:
        assert r.nf <= -(-r.n // 8192) + 1


def test_compaction_preserves_checkpoint_layout(spark, routed, tmp_path):
    """The checkpoint runner's two-level (part_bucket, sink) layout must
    survive compaction — resume depends on it."""
    cfg = CheckpointConfig(base_path=str(tmp_path / "out"), n_buckets=4)
    CheckpointedRunner(spark, cfg).run(routed, run_id="r")
    n = spark.read.parquet(cfg.sinks_path).count()

    compact_sinks(spark, cfg.sinks_path, partition_cols=["part_bucket", "sink"])

    after = spark.read.parquet(cfg.sinks_path)
    assert after.count() == n
    assert {"part_bucket", "sink"} <= set(after.columns)
    # bucket dirs still prunable (resume's layout contract)
    plan = (
        after.filter(F.col("part_bucket") == 1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan and "part_bucket" in plan


def test_compaction_wrong_partition_cols_refused(spark, routed, tmp_path):
    base = _fragmented(spark, routed, tmp_path)
    with pytest.raises(ValueError, match="partition_cols"):
        compact_sinks(spark, base, partition_cols=["nope"])
    with pytest.raises(ValueError, match="driver-local"):
        compact_sinks(spark, "s3://bucket/sinks")


def test_flat_compaction_refuses_salting(spark, tmp_path):
    with pytest.raises(ValueError, match="tasks_per_partition"):
        compact_sinks(spark, str(tmp_path), partition_cols=[],
                      tasks_per_partition=2)


def test_crash_recovery_mid_swap(spark, routed, tmp_path):
    """Simulate every crash point of the swap; the next run must heal and
    complete with identical data."""
    base = _fragmented(spark, routed, tmp_path)
    n = spark.read.parquet(base).count()
    backup, staging = base + ".pre-compact", base + ".compacting"

    # crash point A: live renamed to backup, staging not yet swapped in
    # (emulate: move live aside, plant a bogus staging leftovers dir)
    os.rename(base, backup)
    os.makedirs(staging)
    stats = compact_sinks(spark, base)  # heals: restores backup, drops staging
    assert stats["rows"] == n
    assert spark.read.parquet(base).count() == n
    assert not os.path.exists(backup) and not os.path.exists(staging)

    # crash point B: swap completed but backup not deleted
    shutil.copytree(base, backup)
    stats = compact_sinks(spark, base)
    assert stats["rows"] == n
    assert not os.path.exists(backup)


def test_hot_sink_salting_spreads_files(spark, routed, tmp_path):
    base = _fragmented(spark, routed, tmp_path)
    stats = compact_sinks(spark, base, tasks_per_partition=4,
                          max_records_per_file=10_000_000)
    after = spark.read.parquet(base)
    assert after.count() == stats["rows"]
    # with salting and a huge cap, big sinks may produce up to 4 files
    per_sink = (
        after.withColumn("f", F.input_file_name())
        .groupBy("sink").agg(F.countDistinct("f").alias("nf")).collect()
    )
    assert max(r.nf for r in per_sink) <= 4
