"""Streaming pipeline tests: availableNow micro-batch run over a materialized
transcripts dir must produce the same routed rows and sink counts as the
batch plan (scraper/pull-path analog, scrapercontroller.go:179-227; the
count-conservation assertions mirror batch_processor_test.go:39-79). The
stream aggregates ARE the batch ones (sink_counts, span_red_metrics), run
in complete output mode."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_spark.operators.aggregate import sink_counts
from opentelemetry_collector_spark.operators.enrich import enrich
from opentelemetry_collector_spark.operators.metrics import span_red_metrics
from opentelemetry_collector_spark.operators.parse import parse_turns
from opentelemetry_collector_spark.operators.route import route, routed_ok
from opentelemetry_collector_spark.sources.transcripts import events_to_transcripts
from opentelemetry_collector_spark.streaming.pipeline import (
    routed_stream,
    start_sink_writer,
    stream_transcripts,
)
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def transcripts_dir(spark, tmp_path_factory):
    """Materialized transcripts table (8 files so multiple micro-batches
    exercise the WAL when maxFilesPerTrigger=2)."""
    path = str(tmp_path_factory.mktemp("stream") / "transcripts")
    events_to_transcripts(spark, SF_SMOKE).repartition(8).write.parquet(path)
    return path


def start_complete(agg, name: str, checkpoint_dir: str):
    """availableNow query writing a stream aggregate in complete mode to
    the memory table ``name``: each trigger re-emits the whole table."""
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def test_stream_routes_match_batch(spark, transcripts_dir, tmp_path):
    src = stream_transcripts(spark, transcripts_dir, max_files_per_trigger=2)
    routed = routed_stream(src, spark)
    q = start_sink_writer(
        routed, str(tmp_path / "sinks"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    out = spark.read.parquet(str(tmp_path / "sinks"))
    batch = route(enrich(parse_turns(
        spark.read.parquet(transcripts_dir)), spark))
    assert out.count() == batch.count()
    # routed-row equality on the key + sink assignment
    got = {
        (r.conv_id, r.turn_idx, r.sink)
        for r in out.select("conv_id", "turn_idx", "sink").collect()
    }
    want = {
        (r.conv_id, r.turn_idx, r.sink)
        for r in batch.select(
            "conv_id", "turn_idx",
            F.coalesce("sink_id", F.lit("dead_letter")).alias("sink"),
        ).collect()
    }
    assert got == want
    # multiple epochs actually ran (WAL exercised)
    assert out.select("epoch_id").distinct().count() > 1


def test_stream_windowed_counts_match_batch(spark, transcripts_dir, tmp_path):
    """The batch sink_counts on a stream of 2-file micro-batches equals
    sink_counts over the whole table, every column of every group."""
    src = stream_transcripts(spark, transcripts_dir, max_files_per_trigger=2)
    q = start_complete(
        sink_counts(routed_ok(routed_stream(src, spark))),
        "t_counts", str(tmp_path / "ckpt2"),
    )
    q.awaitTermination(120)

    got = spark.sql("SELECT * FROM t_counts")
    batch = route(enrich(parse_turns(
        spark.read.parquet(transcripts_dir)), spark))
    want = sink_counts(routed_ok(batch))
    assert got.columns == want.columns
    assert Counter(map(tuple, got.collect())) == Counter(
        map(tuple, want.collect()))
    assert want.count() > 0


def test_stream_red_metrics_match_batch(spark, transcripts_dir, tmp_path):
    """The batch span_red_metrics (spanmetrics-connector pattern) on a
    stream of 2-file micro-batches equals the batch aggregate."""
    src = stream_transcripts(spark, transcripts_dir, max_files_per_trigger=2)
    q = start_complete(
        span_red_metrics(parse_turns(src)), "t_red", str(tmp_path / "ckpt3")
    )
    q.awaitTermination(120)

    got = spark.sql("SELECT * FROM t_red")
    want = span_red_metrics(parse_turns(spark.read.parquet(transcripts_dir)))
    assert got.columns == want.columns
    assert Counter(map(tuple, got.collect())) == Counter(
        map(tuple, want.collect()))
    assert want.count() > 0


def test_stream_resume_from_checkpoint(spark, transcripts_dir, tmp_path):
    """Second availableNow start on the same checkpoint must be a no-op
    (file-source WAL remembers consumed files — persistent-queue recovery,
    persistent_storage.go:282-348)."""
    sinks, ckpt = str(tmp_path / "sinks"), str(tmp_path / "ckpt")
    src = stream_transcripts(spark, transcripts_dir, max_files_per_trigger=4)
    q = start_sink_writer(routed_stream(src, spark), sinks, ckpt)
    q.awaitTermination(120)
    n1 = spark.read.parquet(sinks).count()

    q2 = start_sink_writer(
        routed_stream(stream_transcripts(spark, transcripts_dir), spark),
        sinks, ckpt,
    )
    q2.awaitTermination(120)
    n2 = spark.read.parquet(sinks).count()
    assert n1 == n2  # no duplicates: nothing re-consumed


def test_stream_sampler_matches_batch(spark, transcripts_dir, tmp_path):
    """Head sampling is a stateless, shuffle-free filter, so the same
    probabilistic_sampler call must work unchanged on a streaming parsed
    frame and keep exactly the batch-selected span set (trace-consistent
    hash decision, probabilisticsampler pattern)."""
    from opentelemetry_collector_spark.operators.traces import (
        probabilistic_sampler,
    )

    src = stream_transcripts(spark, transcripts_dir, max_files_per_trigger=2)
    sampled = probabilistic_sampler(parse_turns(src))
    out_dir = str(tmp_path / "sampled")
    q = (
        sampled.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r.conv_id, r.turn_idx, r.trace_id)
        for r in spark.read.parquet(out_dir)
        .select("conv_id", "turn_idx", "trace_id").collect()
    }
    batch = probabilistic_sampler(
        parse_turns(spark.read.parquet(transcripts_dir)))
    want = {
        (r.conv_id, r.turn_idx, r.trace_id)
        for r in batch.select("conv_id", "turn_idx", "trace_id").collect()
    }
    assert got == want and len(got) > 0
    # sampling actually filtered (keep rate permyriad of 2500 -> ~25%)
    total = parse_turns(spark.read.parquet(transcripts_dir)).filter(
        F.col("trace_id").isNotNull()).count()
    assert 0 < len(got) < total

