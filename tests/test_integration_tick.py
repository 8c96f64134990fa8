"""Layered exactly-once integration: incremental file ticks (file-level
ledger, sources/incremental.py) composed with checkpointed sink waves
(bucket-level ledger, plans/checkpoint.py) — the full persistent-queue
recovery story across BOTH granularities (persistent_storage.go:268-348)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_spark.operators.enrich import enrich
from opentelemetry_collector_spark.operators.parse import parse_turns
from opentelemetry_collector_spark.operators.route import route
from opentelemetry_collector_spark.plans.checkpoint import (
    CheckpointConfig,
    CheckpointedRunner,
)
from opentelemetry_collector_spark.sources.incremental import IncrementalSource
from opentelemetry_collector_spark.sources.transcripts import events_to_transcripts
from tests.conftest import SF_SMOKE, jobs_started


def _routed(spark, df):
    from opentelemetry_collector_spark.queries import _normalize_enriched

    return _normalize_enriched(route(enrich(parse_turns(df), spark)))


def test_crashed_tick_resumes_at_both_layers(spark, tmp_path):
    data = str(tmp_path / "incoming")
    out = str(tmp_path / "out")
    src = IncrementalSource(spark, data, str(tmp_path / "file_ledger"))

    base = events_to_transcripts(spark, SF_SMOKE)
    half1 = base.filter(F.crc32("conv_id") % 2 == 0)
    half2 = base.filter(F.crc32("conv_id") % 2 == 1)
    half1.coalesce(1).write.mode("append").parquet(data)

    # --- tick 1, crashing after the first committed wave -------------------
    p1 = src.pending()
    assert p1 is not None
    tick1 = p1.tick_id

    def crashing_action(df):
        runner = CheckpointedRunner(
            spark,
            CheckpointConfig(base_path=f"{out}/{tick1}", n_buckets=4,
                             buckets_per_wave=2),
        )
        runner.run(_routed(spark, df), fail_after_waves=1)

    with pytest.raises(RuntimeError, match="injected crash"):
        src.process_new(crashing_action, pending=p1)

    # file ledger did not commit -> same files pending, SAME tick id
    assert src.pending().tick_id == tick1

    # --- retry: bucket ledger resumes, file ledger commits ------------------
    resumed = {}

    def resuming_action(df):
        runner = CheckpointedRunner(
            spark,
            CheckpointConfig(base_path=f"{out}/{tick1}", n_buckets=4,
                             buckets_per_wave=2),
        )
        resumed.update(runner.run(_routed(spark, df)))

    # a LATE file (with real rows) lands before the retry; processing the
    # ORIGINAL snapshot keeps the tick pinned to its file set -- if
    # process_new re-listed instead, r1 would include half2's rows and the
    # assertion below would catch the leak
    half2.coalesce(1).write.mode("append").parquet(data)
    r1 = src.process_new(resuming_action, pending=p1)
    assert r1["n_rows"] == half1.count()
    assert r1["tick_id"] == tick1
    # wave 1's buckets were NOT rerun (bucket-level resume inside the tick)
    assert len(resumed["skipped_buckets"]) == 2
    assert len(resumed["processed_buckets"]) == 2

    # --- tick 2 picks up the late file ------------------------------------
    p2 = src.pending()
    assert p2 is not None and p2.tick_id != tick1
    tick2 = p2.tick_id

    def tick2_action(df):
        CheckpointedRunner(
            spark,
            CheckpointConfig(base_path=f"{out}/{tick2}", n_buckets=4,
                             buckets_per_wave=4),
        ).run(_routed(spark, df))

    r2 = src.process_new(tick2_action, pending=p2)
    assert r2["n_rows"] == half2.count()

    # --- global conservation: union of tick sinks == all input turns -------
    sinks = spark.read.parquet(f"{out}/{tick1}/sinks").unionByName(
        spark.read.parquet(f"{out}/{tick2}/sinks")
    )
    assert sinks.count() == base.count()
    # and no row landed twice
    assert (
        sinks.groupBy("conv_id", "turn_idx").count().filter("count > 1").count()
        == 0
    )
    # nothing further pending
    assert src.pending() is None


def test_tick_job_budget(spark, tmp_path):
    """A steady-state tick (the file ledger already holds a tick) over
    three new files and one corrupt file, with a checkpointed parse ->
    enrich -> route write, runs exactly one Spark job on all threads: the
    write. The footer probes open each file on the driver (their pool's
    threads would run jobs in no group, which are counted too), the row
    count is the footers' sum, both ledger commits are driver-side file
    renames, the source keeps the processed set it committed, enrich's
    lookups are literals, and each wave's stats are observed on its
    write."""
    import pathlib

    data = str(tmp_path / "landing")
    src = IncrementalSource(spark, data, str(tmp_path / "file_ledger"))
    base = events_to_transcripts(spark, SF_SMOKE)

    def land(k):
        base.filter(F.crc32("conv_id") % 4 == k).coalesce(1).write.mode(
            "append").parquet(data)

    land(0)
    src.process_new(lambda df: None)
    for k in (1, 2, 3):
        land(k)
    pathlib.Path(data, "corrupt.parquet").write_bytes(b"PAR1 not really")

    def action(df):
        CheckpointedRunner(
            spark,
            CheckpointConfig(base_path=str(tmp_path / "out"), n_buckets=2,
                             buckets_per_wave=2),
        ).run(route(enrich(parse_turns(df), spark)))

    out = {}
    jobs = jobs_started(spark, lambda: out.update(src.process_new(action)))
    assert out["n_files"] == 3 and out["n_failed_files"] == 1
    assert len(jobs) == 1, f"{len(jobs)} jobs in one tick: {jobs}"


def test_planning_py4j_budget(spark, monkeypatch):
    """Planning parse -> enrich -> route takes at most 250 py4j round trips
    (counted by wrapping the gateway client's send_command): the three
    stages are SQL text, where the same plan built from PySpark Column
    calls took ~2,300. The fewest of three plannings is taken, so a
    garbage-collection burst of py4j object releases does not count."""
    import gc

    df = events_to_transcripts(spark, SF_SMOKE)
    client = spark.sparkContext._gateway._gateway_client
    sent = []
    real = client.send_command

    def counted(*args, **kwargs):
        sent.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counted)
    calls = []
    for _ in range(3):
        gc.collect()
        sent.clear()
        route(enrich(parse_turns(df), spark))
        calls.append(len(sent))
    assert 0 < min(calls) <= 250, f"{calls} py4j calls to plan the tick"
