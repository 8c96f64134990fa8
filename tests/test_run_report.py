"""The run report: every built-in exporter returns what it sent, counted on
its own write (the obsreport exporter boundary,
obsreport/obsreport_exporter.go:141-161), and counting it costs no job and
no lost filter pushdown."""

from __future__ import annotations

import importlib

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_spark.operators.enrich import enrich
from opentelemetry_collector_spark.operators.parse import parse_turns
from opentelemetry_collector_spark.operators.route import route
from opentelemetry_collector_spark.plans.config import ServiceConfig
from opentelemetry_collector_spark.plans.service import run_service
from opentelemetry_collector_spark.sources.transcripts import (
    events_to_transcripts,
)
from tests.conftest import SF_SMOKE

PROCESSORS = ["parse", "enrich", "route"]


def _cfg(exporters: dict, pipelines: dict[str, list[str]],
         processors=PROCESSORS) -> ServiceConfig:
    return ServiceConfig.from_sources(
        {
            "receivers": {"transcripts": {"path": SF_SMOKE}},
            "processors": {name: {} for name in processors},
            "exporters": exporters,
            "service": {
                "pipelines": {
                    name: {"receivers": ["transcripts"],
                           "processors": processors, "exporters": exps}
                    for name, exps in pipelines.items()
                }
            },
        },
        env={},
    )


def test_exporters_report_sent_counted_on_their_write(spark, tmp_path):
    """``sent`` is the rows each exporter's write consumed, equal to an
    independent count; checkpointed_sinks reports its runner totals, with
    sent = ok + dead-letter, equal to a groupBy of error_reason."""
    out = str(tmp_path)
    cfg = _cfg(
        {
            "sinks": {"path": f"{out}/sinks"},
            "dead_letter": {"path": f"{out}/dead_letter"},
            "sink_counts": {"path": f"{out}/counts"},
            "checkpointed_sinks": {"base_path": f"{out}/ckpt",
                                   "n_buckets": 4},
        },
        {"fanout": ["sinks", "dead_letter", "sink_counts"],
         "waves": ["checkpointed_sinks"]},
    )
    runs = run_service(spark, cfg)

    routed = route(enrich(parse_turns(
        events_to_transcripts(spark, SF_SMOKE)), spark))
    by_reason = {
        r.dead: r.n for r in routed.groupBy(
            F.col("error_reason").isNotNull().alias("dead")
        ).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_ok, n_dead = by_reason[False], by_reason[True]
    assert n_dead > 0

    fanout = runs["fanout"].report
    assert fanout["sinks"] == {"sent": n_ok + n_dead}
    assert spark.read.parquet(f"{out}/sinks").count() == n_ok + n_dead
    assert fanout["dead_letter"] == {"sent": n_dead}
    assert spark.read.parquet(f"{out}/dead_letter").count() == n_dead
    assert fanout["sink_counts"] == {"sent": n_ok}
    counts = spark.read.parquet(f"{out}/counts")
    assert counts.agg(F.sum("n_rows")).collect()[0][0] == n_ok
    assert fanout["wall_s"] >= 0

    waves = runs["waves"].report["checkpointed_sinks"]
    assert waves["processed_buckets"] == [0, 1, 2, 3]
    assert (waves["n_routed_ok"], waves["n_dead_letter"]) == (n_ok, n_dead)
    assert waves["sent"] == n_ok + n_dead


def test_parquet_exporter_runs_no_extra_job(spark, tmp_path):
    """Counting an export adds no Spark job: a one-pipeline run_service
    with a single parquet exporter runs exactly as many jobs as writing
    the same frame directly (jobs counted per job group, as in
    test_tick_job_budget)."""
    routed = route(enrich(parse_turns(
        events_to_transcripts(spark, SF_SMOKE)), spark))
    cfg = ServiceConfig(
        receivers={"fixture": {}},
        processors={},
        exporters={"parquet": {"path": str(tmp_path / "service")}},
        pipelines={"p": {"receivers": ["fixture"], "processors": [],
                         "exporters": ["parquet"]}},
    )
    sc = spark.sparkContext

    def jobs_in(group, action):
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    n_service = jobs_in("report-service", lambda: run_service(
        spark, cfg, extra_receivers={"fixture": lambda spark, cfg: routed}))
    n_direct = jobs_in("report-direct", lambda: routed.write.mode(
        "overwrite").parquet(str(tmp_path / "direct")))
    assert 0 < n_service == n_direct
    assert spark.read.parquet(str(tmp_path / "service")).count() == (
        routed.count()
    )


def test_checkpointed_wave_filter_sits_below_parse(spark, tmp_path,
                                                   monkeypatch):
    """checkpointed_sinks counts through its runner, not an observation on
    the pipeline frame: in each wave's optimized plan the part_bucket
    filter sits below parse's projection, with no CollectMetrics between
    them, so a wave parses only its own buckets. (An observation on the
    frame handed to the runner would hold the filter above the parse.)"""
    route_mod = importlib.import_module(
        "opentelemetry_collector_spark.operators.route"
    )
    real = route_mod.write_sinks
    plans = []

    def spy(df, *args, **kwargs):
        plans.append(df._jdf.queryExecution().optimizedPlan().toString())
        return real(df, *args, **kwargs)

    monkeypatch.setattr(route_mod, "write_sinks", spy)
    cfg = _cfg(
        {"checkpointed_sinks": {"base_path": str(tmp_path / "ckpt"),
                                "n_buckets": 4, "buckets_per_wave": 2}},
        {"waves": ["checkpointed_sinks"]},
    )
    report = run_service(spark, cfg)["waves"].report
    assert report["checkpointed_sinks"]["processed_buckets"] == [0, 1, 2, 3]
    assert len(plans) == 2
    for plan in plans:
        lines = plan.splitlines()
        parse_at = min(i for i, ln in enumerate(lines)
                       if " AS severity_number#" in ln)
        filter_at = [i for i, ln in enumerate(lines)
                     if "Filter " in ln and "xxhash64(conv_id" in ln]
        assert len(filter_at) == 1 and filter_at[0] > parse_at, plan
        between = lines[parse_at:filter_at[0]]
        assert not [ln for ln in between if "CollectMetrics" in ln], plan


@pytest.mark.parametrize("exporter", ["log_dedup", "sink_counts"])
def test_nonpositive_bucket_seconds_raises(spark, tmp_path, exporter):
    """A bucket width of -300 s has no meaning: both exporters that bucket
    by time refuse it (aggregate.time_bucket checks it once) instead of
    writing meaningless buckets."""
    cfg = _cfg(
        {exporter: {"path": str(tmp_path / "out"), "bucket_seconds": -300}},
        {"p": [exporter]},
    )
    with pytest.raises(ValueError, match="bucket_seconds must be positive"):
        run_service(spark, cfg)
    assert not (tmp_path / "out").exists()
