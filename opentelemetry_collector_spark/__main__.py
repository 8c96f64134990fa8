"""spark-submit entrypoint — the collector binary analog (otelcol/collector.go:154-255).

Usage (cluster):
    spark-submit --py-files otelcol_spark.zip \\
        -m opentelemetry_collector_spark ...        # or path to this file
Usage (local):
    python -m opentelemetry_collector_spark \\
        --source /root/testdata/sf0.001 --output /tmp/otelcol_out \\
        [--mode batch|stream] [--n-buckets 16] [--resume]

Lifecycle mirrors the reference: resolve+validate config -> build the DAG
(one Catalyst plan) -> run -> report counters (service/service.go:83-233).
Batch flags and ``--config`` YAML both become a ``ServiceConfig`` that
``run_service`` executes; checkpointed waves make any crash resumable
(--resume skips committed buckets, persistent-queue semantics).

Both print one JSON report, ``{"mode", "wall_s", "pipelines": {pipeline:
{exporter: counts, "wall_s"}}}``, taken from what ``run_service`` returns:
each exporter's counts are observed on its own write, so the report costs
no extra job. ``checkpointed_sinks`` reports its run totals (processed and
skipped buckets, ok and dead-letter rows, run_id) next to ``sent``.
``--mode stream`` prints ``{"mode", "wall_s", "n_input"}``.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def build_arg_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="opentelemetry_collector_spark")
    p.add_argument("--config", default=None,
                   help="collector-style YAML service config (provider URI "
                        "or path; repeatable, later files override earlier)",
                   action="append")
    p.add_argument("--source", required=False,
                   help="sf dir containing events.parquet, or a transcripts table path")
    p.add_argument("--output", required=False, help="sink base path")
    p.add_argument("--mode", choices=["batch", "stream"], default="batch")
    p.add_argument("--source-kind", choices=["events", "transcripts"],
                   default="events",
                   help="events: an sf dir, turned into transcripts; "
                        "transcripts: a transcripts table (needed by "
                        "--mode stream)")
    p.add_argument("--n-buckets", type=int, default=16)
    p.add_argument("--buckets-per-wave", type=int, default=4)
    p.add_argument("--bucket-seconds", type=int, default=300)
    p.add_argument("--max-records-per-file", type=int, default=8192)
    p.add_argument("--attempt-timeout", type=float, default=0.0,
                   help="per-attempt deadline (s) on each wave's sink write;"
                        " 0 disables (timeout sender analog)")
    p.add_argument("--adaptive-salting", action="store_true",
                   help="two-pass histogram-driven skew salting")
    p.add_argument("--run-id", default=None)
    p.add_argument("--resume", action="store_true",
                   help="skip buckets already committed in the output ledger")
    p.add_argument("--master", default=None,
                   help="override master (default: from spark-submit / local[*])")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    return p


# batch-only flags: the stream branch reads --source, --output and
# --max-records-per-file, so passing any of these with --mode stream is an
# error, not a silent no-op
_STREAM_REFUSED = ("n_buckets", "buckets_per_wave", "bucket_seconds",
                   "attempt_timeout", "adaptive_salting", "run_id", "resume")


def _given_flags(argv: list[str] | None, dests: tuple[str, ...]) -> list[str]:
    """The option strings, among ``dests``, that ``argv`` sets: a re-parse
    with an unset marker as their default (so an explicit default value or
    an abbreviated flag still counts as given)."""
    unset = object()
    parser = build_arg_parser()
    parser.set_defaults(**{d: unset for d in dests})
    args = parser.parse_args(argv)
    return ["--" + d.replace("_", "-") for d in dests
            if getattr(args, d) is not unset]


def flag_service_config(args: argparse.Namespace, run_id: str):
    """The flag CLI's default graph: one receiver feeding two pipelines,
    ``sinks`` (checkpointed per-sink tables) and ``metrics`` (the
    sink_counts table under ``{output}/_metrics``)."""
    from opentelemetry_collector_spark.plans.config import ServiceConfig

    receiver = {"events": "transcripts",
                "transcripts": "transcripts_table"}[args.source_kind]
    processors = ["parse", "enrich", "route"]
    if args.adaptive_salting:
        processors.insert(0, "skew_salt")
    cfg = ServiceConfig(
        receivers={receiver: {"path": args.source}},
        processors={name: {} for name in processors},
        exporters={
            "checkpointed_sinks": {
                "base_path": args.output,
                "n_buckets": args.n_buckets,
                "buckets_per_wave": args.buckets_per_wave,
                "max_records_per_file": args.max_records_per_file,
                "attempt_timeout_s": args.attempt_timeout,
                "run_id": run_id,
            },
            "sink_counts": {
                "path": f"{args.output}/_metrics/sink_counts",
                "bucket_seconds": args.bucket_seconds,
            },
        },
        pipelines={
            name: {"receivers": [receiver], "processors": processors,
                   "exporters": [exporter]}
            for name, exporter in (("sinks", "checkpointed_sinks"),
                                   ("metrics", "sink_counts"))
        },
    )
    cfg.validate()
    return cfg


def main(argv: list[str] | None = None) -> int:
    parser = build_arg_parser()
    args = parser.parse_args(argv)
    if args.config is None and (args.source is None or args.output is None):
        parser.error(
            "--source and --output are required unless --config is given"
        )
    if (args.config is None and args.mode == "stream"
            and args.source_kind == "events"):
        # the stream source reads the path under the transcript schema; an
        # sf dir of events would stream every row into dead_letter
        parser.error("--mode stream needs --source-kind transcripts")
    if args.config is None and args.mode == "stream":
        refused = _given_flags(argv, _STREAM_REFUSED)
        if refused:
            parser.error(f"--mode stream does not use {', '.join(refused)}")

    from pyspark.sql import SparkSession

    from opentelemetry_collector_spark.plans.service import run_service

    builder = SparkSession.builder.appName("otelcol-spark")
    if args.master:
        builder = builder.master(args.master)
    builder = builder.config("spark.sql.adaptive.enabled", "true").config(
        "spark.sql.session.timeZone", "UTC"
    )
    if args.shuffle_partitions:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(args.shuffle_partitions)
        )
    spark = builder.getOrCreate()

    t0 = time.perf_counter()
    if args.mode == "stream" and not args.config:
        from opentelemetry_collector_spark.streaming.pipeline import (
            routed_stream,
            start_sink_writer,
            stream_transcripts,
        )

        stream = routed_stream(stream_transcripts(spark, args.source), spark)
        q = start_sink_writer(
            stream, f"{args.output}/sinks", f"{args.output}/_stream_checkpoint",
            max_records_per_file=args.max_records_per_file,
        )
        q.awaitTermination()
        report = {
            "mode": "stream",
            "wall_s": round(time.perf_counter() - t0, 2),
            # availableNow with no per-trigger file cap drains the source
            # in one micro-batch, well inside recentProgress's window
            "n_input": sum(p["numInputRows"] for p in q.recentProgress),
        }
    else:
        if args.config:
            # collector.Run parity: resolve config (confmap provider URIs,
            # ${} expansion, right-biased merge across files), build the
            # pipeline graph, run every pipeline (service/service.go:83-233)
            import os

            from opentelemetry_collector_spark.plans.config import (
                ServiceConfig,
            )

            mode = "config"
            svc_cfg = ServiceConfig.from_sources(
                *args.config, env=dict(os.environ)
            )
        else:
            import uuid

            from opentelemetry_collector_spark.plans.checkpoint import (
                CheckpointConfig,
                CheckpointedRunner,
            )

            mode = "batch"
            run_id = args.run_id or uuid.uuid4().hex[:12]
            svc_cfg = flag_service_config(args, run_id)
            if CheckpointedRunner(
                spark, CheckpointConfig(args.output, n_buckets=args.n_buckets)
            ).committed_buckets() and not args.resume:
                # fresh run: a prior ledger would mask new work — require
                # a clean dir
                print(
                    "output ledger exists; pass --resume to continue it",
                    file=sys.stderr,
                )
                spark.stop()
                return 2
        results = run_service(spark, svc_cfg)
        report = {
            "mode": mode,
            "wall_s": round(time.perf_counter() - t0, 2),
            "pipelines": {name: r.report for name, r in results.items()},
        }

    print(json.dumps(report))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
