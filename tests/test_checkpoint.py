"""Checkpoint/resume + retry tests — persistent-queue recovery semantics
(exporter/exporterhelper/internal/persistent_storage_test.go: restart tests
re-init storage and assert in-flight items recovered; queued_retry_test.go:
backoff/permanent classification)."""

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
from opentelemetry_collector_spark.plans.retry import (
    PermanentError,
    RetryConfig,
    with_retry,
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


def _read_sinks(spark, cfg):
    return spark.read.parquet(cfg.sinks_path)


def test_clean_run_writes_all_rows_once(spark, routed, tmp_path):
    cfg = CheckpointConfig(base_path=str(tmp_path / "out"), n_buckets=8,
                           buckets_per_wave=3)
    runner = CheckpointedRunner(spark, cfg)
    totals = runner.run(routed, run_id="clean")

    n_in = routed.count()
    out = _read_sinks(spark, cfg)
    assert out.count() == n_in  # count conservation: every row in exactly one sink
    assert totals["n_routed_ok"] + totals["n_dead_letter"] == n_in
    # no duplicate (conv_id, turn_idx)
    assert out.select("conv_id", "turn_idx").distinct().count() == n_in
    # ledger covers every bucket exactly once
    ledger = runner.ledger.read()
    assert ledger.filter(F.col("status") == "committed").count() == 8
    assert set(runner.committed_buckets()) == set(range(8))


def test_crash_then_resume_is_exactly_once(spark, routed, tmp_path):
    cfg = CheckpointConfig(base_path=str(tmp_path / "out"), n_buckets=8,
                           buckets_per_wave=2)
    runner = CheckpointedRunner(spark, cfg)
    with pytest.raises(RuntimeError, match="injected crash"):
        runner.run(routed, run_id="attempt1", fail_after_waves=2)

    committed_mid = runner.committed_buckets()
    assert len(committed_mid) == 4  # 2 waves x 2 buckets

    totals = CheckpointedRunner(spark, cfg).run(routed, run_id="attempt2")
    assert sorted(totals["skipped_buckets"]) == sorted(committed_mid)
    assert sorted(committed_mid | set(totals["processed_buckets"])) == list(range(8))

    n_in = routed.count()
    out = _read_sinks(spark, cfg)
    assert out.count() == n_in
    assert out.select("conv_id", "turn_idx").distinct().count() == n_in

    # lineage fingerprints in the ledger are per-bucket deterministic: re-run
    # a fresh runner into a fresh dir and compare fingerprints bucket-by-bucket
    cfg2 = CheckpointConfig(base_path=str(tmp_path / "out2"), n_buckets=8)
    CheckpointedRunner(spark, cfg2).run(routed, run_id="fresh")
    fp1 = {r.bucket: r.input_fingerprint
           for r in runner.ledger.read().select("bucket", "input_fingerprint").collect()}
    fp2 = {r.bucket: r.input_fingerprint
           for r in CheckpointedRunner(spark, cfg2).ledger.read()
           .select("bucket", "input_fingerprint").collect()}
    assert fp1 == fp2


def test_resume_noop_when_all_committed(spark, routed, tmp_path):
    cfg = CheckpointConfig(base_path=str(tmp_path / "out"), n_buckets=4)
    CheckpointedRunner(spark, cfg).run(routed, run_id="first")
    totals = CheckpointedRunner(spark, cfg).run(routed, run_id="second")
    assert totals["processed_buckets"] == []
    assert sorted(totals["skipped_buckets"]) == [0, 1, 2, 3]


def test_fresh_base_has_no_committed_buckets(spark, tmp_path):
    cfg = CheckpointConfig(base_path=str(tmp_path / "fresh"), n_buckets=4)
    assert CheckpointedRunner(spark, cfg).committed_buckets() == set()


def test_unreadable_ledger_raises_instead_of_reading_as_fresh(spark, tmp_path):
    """A ledger dir that holds a data file is read, never taken for a fresh
    run: a file that is not parquet fails the read."""
    cfg = CheckpointConfig(base_path=str(tmp_path / "out"), n_buckets=4)
    ledger = tmp_path / "out" / "_checkpoints"
    ledger.mkdir(parents=True)
    (ledger / "part-00000.parquet").write_text("not parquet")
    with pytest.raises(Exception, match="(?i)parquet"):
        CheckpointedRunner(spark, cfg).committed_buckets()


# --- retry sender semantics (queued_retry_test.go analog) -------------------


def test_retry_backoff_sequence():
    calls, sleeps = [], []
    cfg = RetryConfig(initial_interval_s=1, multiplier=1.5, max_interval_s=3,
                      max_elapsed_s=100)
    clock = {"t": 0.0}

    def fake_sleep(s):
        sleeps.append(s)
        clock["t"] += s

    def fn():
        calls.append(1)
        if len(calls) < 5:
            raise OSError("transient")
        return "ok"

    assert with_retry(fn, cfg, sleep=fake_sleep, clock=lambda: clock["t"]) == "ok"
    # 5s-initial x1.5 capped pattern scaled: 1, 1.5, 2.25, 3(cap)
    assert sleeps == [1, 1.5, 2.25, 3]


def test_retry_gives_up_after_max_elapsed():
    cfg = RetryConfig(initial_interval_s=1, multiplier=2, max_interval_s=10,
                      max_elapsed_s=5)
    clock = {"t": 0.0}

    def fake_sleep(s):
        clock["t"] += s

    with pytest.raises(OSError):
        with_retry(lambda: (_ for _ in ()).throw(OSError("down")), cfg,
                   sleep=fake_sleep, clock=lambda: clock["t"])
    assert clock["t"] <= 5


def test_permanent_error_not_retried():
    calls = []

    def fn():
        calls.append(1)
        raise PermanentError("bad data")

    with pytest.raises(PermanentError):
        with_retry(fn, RetryConfig(initial_interval_s=0.001))
    assert len(calls) == 1  # dropped immediately (queued_retry.go:399-407)


def test_throttle_delay_is_a_floor_on_backoff(
):
    """A throttle error forces the server-requested delay when it exceeds
    the scheduled backoff (queued_retry.go:420-424
    ``backoffDelay = max(backoffDelay, throttleErr.delay)``) — but the
    backoff schedule itself keeps advancing underneath."""
    from opentelemetry_collector_spark.plans.retry import ThrottleRetry

    calls, sleeps = [], []
    cfg = RetryConfig(initial_interval_s=1, multiplier=2, max_interval_s=8,
                      max_elapsed_s=1000)
    clock = {"t": 0.0}

    def fake_sleep(s):
        sleeps.append(s)
        clock["t"] += s

    def fn():
        calls.append(1)
        if len(calls) == 1:
            raise ThrottleRetry("429", delay_s=10)   # > backoff 1 -> forced
        if len(calls) == 2:
            raise ThrottleRetry("429", delay_s=0.5)  # < backoff 2 -> backoff
        if len(calls) == 3:
            raise OSError("transient")               # plain retryable
        return "ok"

    assert with_retry(fn, cfg, sleep=fake_sleep, clock=lambda: clock["t"]) == "ok"
    # sleeps: max(1,10)=10, max(2,0.5)=2, then plain backoff 4
    assert sleeps == [10, 2, 4]


def test_throttle_sleep_counts_against_max_elapsed():
    """A long server-forced delay consumes the max_elapsed budget: the
    next failure after the throttle sleep trips the give-up gate, like
    backoff.NextBackOff returning Stop after MaxElapsedTime."""
    from opentelemetry_collector_spark.plans.retry import ThrottleRetry

    calls = []
    cfg = RetryConfig(initial_interval_s=1, multiplier=2, max_interval_s=8,
                      max_elapsed_s=30)
    clock = {"t": 0.0}

    def fake_sleep(s):
        clock["t"] += s

    def fn():
        calls.append(1)
        raise ThrottleRetry("503", delay_s=60)

    with pytest.raises(ThrottleRetry):
        with_retry(fn, cfg, sleep=fake_sleep, clock=lambda: clock["t"])
    assert len(calls) == 2  # one throttle sleep, then give up


def test_classify_http_error_taxonomy():
    """otlphttpexporter/otlp.go:148-200: retryable codes -> ThrottleRetry
    (Retry-After honored only for 429/503, integer seconds only), other
    4xx/5xx -> PermanentError."""
    from opentelemetry_collector_spark.plans.retry import (
        ThrottleRetry,
        classify_http_error,
    )

    e429 = classify_http_error(429, "slow down", retry_after="7")
    assert isinstance(e429, ThrottleRetry) and e429.delay_s == 7.0
    e503 = classify_http_error(503, "busy", retry_after="3")
    assert isinstance(e503, ThrottleRetry) and e503.delay_s == 3.0
    # 502/504 are retryable but never carry a server delay
    e502 = classify_http_error(502, "bad gw", retry_after="7")
    assert isinstance(e502, ThrottleRetry) and e502.delay_s == 0.0
    # malformed Retry-After -> default backoff (delay 0)
    e_bad = classify_http_error(429, "slow", retry_after="soon")
    assert isinstance(e_bad, ThrottleRetry) and e_bad.delay_s == 0.0
    # non-retryable codes are permanent (otlp.go:182 NewPermanent)
    assert isinstance(classify_http_error(400, "bad req"), PermanentError)
    assert isinstance(classify_http_error(500, "ise"), PermanentError)


def test_resume_with_different_n_buckets_raises(spark, routed, tmp_path):
    """Changing the bucketing between runs must be refused — resuming under
    a different pmod silently mixes two incompatible partitionings."""
    cfg8 = CheckpointConfig(base_path=str(tmp_path / "out"), n_buckets=8)
    CheckpointedRunner(spark, cfg8).run(routed, run_id="first")
    cfg16 = CheckpointConfig(base_path=str(tmp_path / "out"), n_buckets=16)
    with pytest.raises(ValueError, match="n_buckets"):
        CheckpointedRunner(spark, cfg16).run(routed, run_id="second")


def test_overwrite_mode_restored_after_run(spark, routed, tmp_path):
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    cfg = CheckpointConfig(base_path=str(tmp_path / "out"), n_buckets=4)
    CheckpointedRunner(spark, cfg).run(routed, run_id="r")
    assert spark.conf.get(key) == prev


def test_retry_zero_max_elapsed_means_no_limit():
    """max_elapsed_s=0 retries indefinitely (reference max_elapsed_time
    semantics), not zero retries."""
    calls = []
    cfg = RetryConfig(initial_interval_s=1, multiplier=2, max_interval_s=4,
                      max_elapsed_s=0)
    clock = {"t": 0.0}

    def fake_sleep(s):
        clock["t"] += s

    def fn():
        calls.append(1)
        if len(calls) < 50:
            raise OSError("down")
        return "ok"

    assert with_retry(fn, cfg, sleep=fake_sleep,
                      clock=lambda: clock["t"]) == "ok"
    assert len(calls) == 50  # far beyond any finite max_elapsed budget


def test_checkpoint_ledger_compaction_preserves_resume(spark, routed, tmp_path):
    """ledger.compact() on the checkpoint ledger: committed_buckets() and
    the ledger's rows read through unchanged, and a resumed run is still a no-op."""
    cfg = CheckpointConfig(base_path=str(tmp_path / "out"), n_buckets=8,
                           buckets_per_wave=2)
    CheckpointedRunner(spark, cfg).run(routed, run_id="first")

    runner = CheckpointedRunner(spark, cfg)
    committed = runner.committed_buckets()
    rows = runner.ledger.read().count()
    stats = runner.ledger.compact()
    assert stats["files_before"] == 4  # one append per 2-bucket wave
    assert stats["files_after"] == 1
    assert runner.committed_buckets() == committed
    assert runner.ledger.read().count() == rows

    totals = CheckpointedRunner(spark, cfg).run(routed, run_id="second")
    assert totals["processed_buckets"] == []
    assert sorted(totals["skipped_buckets"]) == list(range(8))


# --- timeout sender semantics (exporterhelper/common.go:194-209) ------------


def test_timeout_sender_passes_fast_results_through():
    from opentelemetry_collector_spark.plans.retry import with_timeout

    assert with_timeout(lambda: 42, timeout_s=5.0) == 42
    # <= 0 disables the deadline entirely (the reference's Timeout > 0 guard)
    assert with_timeout(lambda: 7, timeout_s=0) == 7


def test_timeout_sender_expiry_is_retryable():
    import time as _time

    from opentelemetry_collector_spark.plans.retry import (
        AttemptTimeout,
        RetryConfig,
        with_retry,
        with_timeout,
    )

    with pytest.raises(AttemptTimeout):
        with_timeout(lambda: _time.sleep(10), timeout_s=0.2)

    # composes under with_retry: first attempt times out, second succeeds
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] == 1:
            _time.sleep(10)
        return "ok"

    slept: list[float] = []
    out = with_retry(
        lambda: with_timeout(flaky, timeout_s=0.2),
        RetryConfig(initial_interval_s=0.01, max_elapsed_s=0),
        sleep=slept.append,
    )
    assert out == "ok" and calls["n"] == 2 and len(slept) == 1


def test_timeout_sender_cancels_hung_spark_action(spark):
    """A hung Spark action times out AND its job group is cancelled so the
    tasks stop burning executors; the session stays usable afterwards."""
    import time as _time

    from opentelemetry_collector_spark.plans.retry import (
        AttemptTimeout,
        with_timeout,
    )

    def hung():
        return (
            spark.range(8)
            .rdd.mapPartitions(lambda it: (_time.sleep(120), iter(it))[1])
            .count()
        )

    t0 = _time.monotonic()
    with pytest.raises(AttemptTimeout):
        with_timeout(hung, timeout_s=3.0, spark=spark)
    assert _time.monotonic() - t0 < 30  # deadline, not the 120s sleep
    # cancellation reached the scheduler: the session still answers
    assert spark.range(5).count() == 5


def test_run_with_attempt_timeout_happy_path(spark, routed, tmp_path):
    """A generous attempt_timeout_s routes every wave write through the
    timeout sender without changing results."""
    cfg = CheckpointConfig(base_path=str(tmp_path / "out"), n_buckets=4,
                           attempt_timeout_s=600.0)
    totals = CheckpointedRunner(spark, cfg).run(routed, run_id="deadline")
    assert sorted(totals["processed_buckets"]) == [0, 1, 2, 3]
    assert _read_sinks(spark, cfg).count() == routed.count()
