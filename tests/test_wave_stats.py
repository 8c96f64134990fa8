"""Checkpoint wave stats are observed on the wave's write: a retried write
commits what a clean run commits, an empty bucket commits a NULL
fingerprint and zero counts, and no wave is persisted."""

from __future__ import annotations

import importlib

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_spark.operators.enrich import enrich
from opentelemetry_collector_spark.operators.parse import parse_turns
from opentelemetry_collector_spark.operators.route import route
from opentelemetry_collector_spark.plans.checkpoint import (
    CheckpointConfig,
    CheckpointedRunner,
)
from opentelemetry_collector_spark.plans.retry import RetryConfig
from opentelemetry_collector_spark.sources.transcripts import events_to_transcripts
from tests.conftest import SF_SMOKE

N_BUCKETS = 4
STATS = ["bucket", "input_fingerprint", "n_input", "n_routed_ok", "n_dead_letter"]
FAST_RETRY = RetryConfig(initial_interval_s=0.01, max_interval_s=0.01)
# the module, not the `route` function the operators package re-exports
route_mod = importlib.import_module("opentelemetry_collector_spark.operators.route")


@pytest.fixture
def routed(spark):
    return route(enrich(parse_turns(events_to_transcripts(spark, SF_SMOKE)), spark))


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _run(spark, routed, base, retry=None) -> CheckpointedRunner:
    runner = CheckpointedRunner(
        spark,
        CheckpointConfig(base_path=str(base), n_buckets=N_BUCKETS,
                         buckets_per_wave=2),
        retry,
    )
    runner.run(routed)
    return runner


def _ledger(runner) -> list[tuple]:
    return sorted(tuple(r) for r in runner.ledger.read().select(*STATS).collect())


def _expected(routed) -> list[tuple]:
    """The per-bucket stats as a separate groupBy pass computes them, with
    a NULL fingerprint and zero counts for a bucket that has no rows."""
    got = {
        r.bucket: tuple(r)
        for r in routed.groupBy(
            F.expr(f"CAST(pmod(xxhash64(conv_id), {N_BUCKETS}) AS INT)")
            .alias("bucket")
        ).agg(
            F.expr("bit_xor(xxhash64(conv_id, turn_idx))"),
            F.count(F.lit(1)),
            F.expr("count_if(error_reason IS NULL)"),
            F.expr("count_if(error_reason IS NOT NULL)"),
        ).collect()
    }
    return [got.get(b, (b, None, 0, 0, 0)) for b in range(N_BUCKETS)]


def test_retried_write_commits_what_a_clean_run_commits(
    spark, routed, tmp_path, monkeypatch
):
    before = _persisted(spark)
    clean = _ledger(_run(spark, routed, tmp_path / "clean"))

    real = route_mod.write_sinks
    calls = []

    def write_then_fail_once(*args, **kwargs):
        real(*args, **kwargs)
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("injected failure after a completed write")

    monkeypatch.setattr(route_mod, "write_sinks", write_then_fail_once)
    runner = _run(spark, routed, tmp_path / "retried", FAST_RETRY)

    assert len(calls) == 3  # two waves, the first written twice
    assert _ledger(runner) == clean == _expected(routed)
    out = spark.read.parquet(runner.config.sinks_path)
    assert out.count() == routed.count()
    assert out.select("conv_id", "turn_idx").distinct().count() == out.count()
    assert _persisted(spark) == before


def test_empty_buckets_commit_null_fingerprint_and_zero_counts(
    spark, routed, tmp_path
):
    """Only bucket 0 keeps rows: wave [0, 1] holds an empty bucket and
    wave [2, 3] holds no rows at all."""
    only0 = routed.filter(f"pmod(xxhash64(conv_id), {N_BUCKETS}) = 0")
    ledger = _ledger(_run(spark, only0, tmp_path / "out"))

    assert [r[1:] for r in ledger[1:]] == [(None, 0, 0, 0)] * 3
    assert ledger == _expected(only0)
    assert ledger[0][2] > 0
