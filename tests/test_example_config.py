"""The shipped example config resolves, validates, and runs end-to-end
(reference examples/ parity: a user can start from the YAML alone)."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from opentelemetry_collector_spark.plans.config import ServiceConfig
from opentelemetry_collector_spark.plans.service import run_service
from tests.conftest import SF_SMOKE

EXAMPLE = str(
    Path(__file__).resolve().parent.parent / "examples" / "transcripts_pipeline.yaml"
)


def test_example_config_runs_end_to_end(spark, tmp_path):
    cfg = ServiceConfig.from_sources(
        EXAMPLE, env={"DATA_DIR": SF_SMOKE, "OUT_DIR": str(tmp_path)}
    )
    out = run_service(spark, cfg)["logs"].frame

    # the transform dropped system turns and masked conv_id
    assert out.filter("role = 'system'").count() == 0
    assert out.filter(F.length("conv_id") != 64).count() == 0  # sha256 hex
    # all three exporters wrote
    assert (tmp_path / "sinks").exists()
    assert (tmp_path / "metrics" / "sink_counts").exists()
    assert (tmp_path / "dead_letter").exists()
    counts = spark.read.parquet(str(tmp_path / "metrics" / "sink_counts"))
    ok_rows = out.filter("error_reason IS NULL").count()
    assert counts.agg(F.sum("n_rows")).collect()[0][0] == ok_rows > 0


EXAMPLE_SAMPLED = str(
    Path(__file__).resolve().parent.parent / "examples" / "sampled_pipeline.yaml"
)


def test_sampled_example_via_cli_config_mode(tmp_path):
    """`python -m opentelemetry_collector_spark --config <yaml>` is the
    collector.Run parity path: resolve config from the env, build the
    graph, run it (subprocess because config mode owns its session)."""
    import json
    import os
    import subprocess
    import sys

    import pyarrow.parquet as pq

    env = dict(os.environ, DATA_DIR=SF_SMOKE, OUT_DIR=str(tmp_path))
    proc = subprocess.run(
        [sys.executable, "-m", "opentelemetry_collector_spark",
         "--config", EXAMPLE_SAMPLED,
         "--master", "local[4]", "--shuffle-partitions", "4"],
        capture_output=True, text=True, timeout=240, env=env,
        cwd=str(Path(__file__).resolve().parent.parent),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["mode"] == "config"
    # the exporter's sent count is the rows its write consumed: every
    # sampled record lands in exactly one log_dedup group
    sent = report["pipelines"]["sampled"]["log_dedup"]["sent"]
    groups = pq.read_table(str(tmp_path / "log_dedup"))
    assert sum(groups.column("n_records").to_pylist()) == sent > 0


EXAMPLE_CURATION = str(
    Path(__file__).resolve().parent.parent / "examples" / "curation_pipeline.yaml"
)


def test_curation_example_via_cli_config_mode(tmp_path):
    """The corpus-curation pass runs end-to-end from a collector-style
    --config YAML (VERDICT r02 task 8): documents receiver -> dedup_exact ->
    dedup_minhash -> quality_filter -> parquet exporter."""
    import json
    import os
    import subprocess
    import sys

    env = dict(os.environ, DATA_DIR=SF_SMOKE, OUT_DIR=str(tmp_path))
    proc = subprocess.run(
        [sys.executable, "-m", "opentelemetry_collector_spark",
         "--config", EXAMPLE_CURATION,
         "--master", "local[4]", "--shuffle-partitions", "4"],
        capture_output=True, text=True, timeout=240, env=env,
        cwd=str(Path(__file__).resolve().parent.parent),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["mode"] == "config"
    n_curated = report["pipelines"]["curation"]["parquet"]["sent"]
    assert n_curated > 0
    # the pass actually filtered something, and wrote what it kept
    import pyarrow.parquet as pq

    n_in = pq.read_table(f"{SF_SMOKE}/documents.parquet").num_rows
    curated_files = list((tmp_path / "curated").rglob("*.parquet"))
    assert curated_files
    n_out = sum(pq.read_table(str(f)).num_rows for f in curated_files)
    assert 0 < n_out == n_curated < n_in
    # second pipeline: normalize -> gopher_filter -> mix over the same
    # receiver (training-mix construction)
    n_mixed = report["pipelines"]["mixing"]["parquet/mixed"]["sent"]
    mixed_files = list((tmp_path / "mixed").rglob("*.parquet"))
    assert mixed_files
    n_mixed_out = sum(pq.read_table(str(f)).num_rows for f in mixed_files)
    assert 0 < n_mixed_out == n_mixed < n_in
    # third pipeline: gopher_filter -> priority_sample (fixed-size
    # weighted selection) — exactly k docs survive
    n_selected = report["pipelines"]["selection"]["parquet/selected"]["sent"]
    selected_files = list((tmp_path / "selected").rglob("*.parquet"))
    assert selected_files
    n_sel_out = sum(pq.read_table(str(f)).num_rows for f in selected_files)
    assert n_sel_out == n_selected == 50


def test_cli_requires_source_output_without_config():
    import subprocess
    import sys

    proc = subprocess.run(
        [sys.executable, "-m", "opentelemetry_collector_spark"],
        capture_output=True, text=True, timeout=60,
        cwd=str(Path(__file__).resolve().parent.parent),
    )
    assert proc.returncode != 0
    assert "--source and --output are required" in proc.stderr


def test_cli_stream_mode_refuses_an_events_source(tmp_path):
    """The stream source reads its path under the transcript schema, so an
    sf dir of events would stream every row into dead_letter; the flag
    check fails before Spark starts."""
    import subprocess
    import sys

    proc = subprocess.run(
        [sys.executable, "-m", "opentelemetry_collector_spark",
         "--source", SF_SMOKE, "--output", str(tmp_path), "--mode", "stream"],
        capture_output=True, text=True, timeout=60,
        cwd=str(Path(__file__).resolve().parent.parent),
    )
    assert proc.returncode != 0
    assert "--mode stream needs --source-kind transcripts" in proc.stderr
    assert not any(tmp_path.iterdir())


def test_cli_stream_mode_refuses_batch_only_flags(tmp_path):
    """--mode stream has no buckets, waves, ledger or salting: a batch-only
    flag is a parser error naming the flag, before Spark starts, even when
    it repeats the flag's default value."""
    import subprocess
    import sys

    proc = subprocess.run(
        [sys.executable, "-m", "opentelemetry_collector_spark",
         "--source", SF_SMOKE, "--output", str(tmp_path), "--mode", "stream",
         "--source-kind", "transcripts", "--n-buckets", "16"],
        capture_output=True, text=True, timeout=60,
        cwd=str(Path(__file__).resolve().parent.parent),
    )
    assert proc.returncode == 2
    assert "--mode stream does not use --n-buckets" in proc.stderr
    assert not any(tmp_path.iterdir())


def test_cli_stream_mode_honours_max_records_per_file(spark, tmp_path):
    """--mode stream drains a transcripts table once (availableNow) and
    writes its sinks under the --max-records-per-file cap: every routed
    row lands, no sink file holds more rows than the cap, and the report's
    n_input counts every source row."""
    import json
    import subprocess
    import sys

    import pyarrow.parquet as pq

    from opentelemetry_collector_spark.sources.transcripts import (
        events_to_transcripts,
    )

    src = str(tmp_path / "transcripts")
    events_to_transcripts(spark, SF_SMOKE).coalesce(2).write.parquet(src)
    out = tmp_path / "out"
    cap = 50
    proc = subprocess.run(
        [sys.executable, "-m", "opentelemetry_collector_spark",
         "--source", src, "--output", str(out), "--mode", "stream",
         "--source-kind", "transcripts", "--max-records-per-file", str(cap),
         "--master", "local[2]", "--shuffle-partitions", "2"],
        capture_output=True, text=True, timeout=240,
        cwd=str(Path(__file__).resolve().parent.parent),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["mode"] == "stream"
    n_src = spark.read.parquet(src).count()
    assert report["n_input"] == n_src
    sizes = [pq.read_metadata(str(f)).num_rows
             for f in (out / "sinks").rglob("*.parquet")]
    assert sum(sizes) == n_src > cap
    assert max(sizes) <= cap


def test_cli_flag_mode_batch_run_and_resume(tmp_path):
    """Flag mode builds the default sinks + metrics graph and runs it
    through run_service: the report is what its exporters returned (the
    checkpoint runner's totals for this run), a rerun over a committed
    ledger needs --resume, and a resume over a fully committed ledger
    processes nothing."""
    import json
    import subprocess
    import sys

    import pyarrow.parquet as pq

    out = tmp_path / "out"

    def cli(*extra):
        return subprocess.run(
            [sys.executable, "-m", "opentelemetry_collector_spark",
             "--source", SF_SMOKE, "--output", str(out),
             "--n-buckets", "4", "--master", "local[2]",
             "--shuffle-partitions", "2", *extra],
            capture_output=True, text=True, timeout=240,
            cwd=str(Path(__file__).resolve().parent.parent),
        )

    first = cli("--adaptive-salting")
    assert first.returncode == 0, first.stderr[-2000:]
    report = json.loads(first.stdout.strip().splitlines()[-1])
    assert report["mode"] == "batch"
    sinks = report["pipelines"]["sinks"]["checkpointed_sinks"]
    assert sinks["processed_buckets"] == [0, 1, 2, 3]
    assert sinks["skipped_buckets"] == []
    assert (sinks["n_routed_ok"], sinks["n_dead_letter"]) == (988, 12)
    assert sinks["sent"] == 988 + 12
    ledger = pq.read_table(str(out / "_checkpoints")).to_pylist()
    assert {r["run_id"] for r in ledger} == {sinks["run_id"]}
    assert sum(r["n_routed_ok"] for r in ledger) == sinks["n_routed_ok"]
    counts = pq.read_table(str(out / "_metrics" / "sink_counts"))
    assert sum(counts.column("n_rows").to_pylist()) == sinks["n_routed_ok"]
    assert report["pipelines"]["metrics"]["sink_counts"] == {"sent": 988}

    again = cli()
    assert again.returncode == 2
    assert "pass --resume" in again.stderr

    resumed = cli("--resume")
    assert resumed.returncode == 0, resumed.stderr[-2000:]
    report = json.loads(resumed.stdout.strip().splitlines()[-1])
    sinks = report["pipelines"]["sinks"]["checkpointed_sinks"]
    assert sinks["processed_buckets"] == []
    assert sinks["skipped_buckets"] == [0, 1, 2, 3]
    assert (sinks["n_routed_ok"], sinks["n_dead_letter"]) == (0, 0)
