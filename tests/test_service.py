"""Config-driven service execution: a YAML-shaped config builds and runs the
full pipeline graph (collector.Run analog, otelcol/collector.go:154-255),
including multi-exporter fan-out and type/name component instances."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_spark.plans.config import ServiceConfig
from opentelemetry_collector_spark.plans.service import run_service
from tests.conftest import SF_SMOKE


def _cfg(tmp_path) -> ServiceConfig:
    return ServiceConfig.from_sources(
        {
            "receivers": {"transcripts": {"path": SF_SMOKE}},
            "processors": {"parse": {}, "enrich": {}, "route": {}},
            "exporters": {
                "sinks": {"path": str(tmp_path / "sinks"),
                          "max_records_per_file": 500},
                "sink_counts": {"path": str(tmp_path / "counts")},
                "otlp_jsonl/backup": {"path": str(tmp_path / "export"),
                                      "compression": "gzip"},
            },
            "service": {
                "pipelines": {
                    "logs": {
                        "receivers": ["transcripts"],
                        "processors": ["parse", "enrich", "route"],
                        "exporters": ["sinks", "sink_counts",
                                      "otlp_jsonl/backup"],
                    }
                }
            },
        },
        env={},
    )


def test_run_service_end_to_end(spark, tmp_path):
    results = run_service(spark, _cfg(tmp_path))
    routed = results["logs"].frame
    n = routed.count()

    # every exporter consumed the same fan-out (count conservation per sink)
    sinks = spark.read.parquet(str(tmp_path / "sinks"))
    assert sinks.count() == n
    counts = spark.read.parquet(str(tmp_path / "counts"))
    ok = routed.filter(F.col("error_reason").isNull()).count()
    assert counts.agg(F.sum("n_rows")).collect()[0][0] == ok
    export = spark.read.text(str(tmp_path / "export"))
    assert export.count() == n


def test_run_service_unknown_component_type(spark, tmp_path):
    cfg = _cfg(tmp_path)
    cfg.exporters["kafka"] = {"path": "x"}
    cfg.pipelines["logs"]["exporters"] = ["kafka"]
    with pytest.raises(ValueError, match="no factory for exporter"):
        run_service(spark, cfg)


def test_run_service_custom_factory(spark, tmp_path):
    captured = {}

    def capture(spark_, df, cfg):
        captured["n"] = df.count()

    cfg = _cfg(tmp_path)
    cfg.exporters["capture"] = {}
    cfg.pipelines["logs"]["exporters"] = ["capture"]
    results = run_service(spark, cfg, extra_exporters={"capture": capture})
    assert captured["n"] == results["logs"].frame.count()


def test_run_service_curation_pipeline(spark, tmp_path):
    """VERDICT r02 task 8: the dedup family and quality filters are
    config-buildable — a documents -> dedup_exact -> dedup_minhash ->
    quality_filter -> parquet pipeline equals the direct operator
    composition (anti-join policies) and keeps every input column."""
    from pyspark.sql import functions as SF

    from opentelemetry_collector_spark.operators.dedup import (
        connected_components,
        dedup_exact,
        dedup_minhash_pairs,
    )
    from opentelemetry_collector_spark.operators.textstats import (
        doc_repetition,
    )

    cfg = ServiceConfig.from_sources(
        {
            "receivers": {
                "documents": {"path": f"{SF_SMOKE}/documents.parquet"}
            },
            "processors": {
                "dedup_exact": {},
                "dedup_minhash": {},
                "quality_filter": {"drop_repetitive": True},
            },
            "exporters": {
                "parquet": {"path": str(tmp_path / "curated")},
            },
            "service": {
                "pipelines": {
                    "curation": {
                        "receivers": ["documents"],
                        "processors": [
                            "dedup_exact", "dedup_minhash", "quality_filter"
                        ],
                        "exporters": ["parquet"],
                    }
                }
            },
        },
        env={},
    )
    results = run_service(spark, cfg)
    got = results["curation"].frame

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    d1 = docs.join(
        dedup_exact(spark, "", docs=docs).filter("is_dup").select("doc_id"),
        "doc_id", "left_anti",
    )
    # keep-first = connected-component canonicals over the MinHash pair
    # set (ADVICE r03: dropping doc_b of every pair over-deletes chains)
    d2 = d1.join(
        connected_components(dedup_minhash_pairs(spark, "", docs=d1))
        .filter(SF.col("doc_id") != SF.col("cluster_id"))
        .select("doc_id"),
        "doc_id", "left_anti",
    )
    d3 = d2.join(
        doc_repetition(spark, "", docs=d2).filter("repetitive")
        .select("doc_id"),
        "doc_id", "left_anti",
    )
    want_ids = sorted(r.doc_id for r in d3.select("doc_id").collect())
    got_ids = sorted(r.doc_id for r in got.select("doc_id").collect())
    assert got_ids == want_ids
    assert 0 < len(got_ids) < docs.count()  # filtering actually happened
    assert set(docs.columns) <= set(got.columns)  # full record preserved
    written = spark.read.parquet(str(tmp_path / "curated"))
    assert written.count() == len(got_ids)


def test_run_service_sampling_pipeline(spark, tmp_path):
    """Sampling processors and the log_dedup exporter are config-buildable:
    a sampler -> tail_sampling(composite) pipeline built from config must
    equal the direct operator composition (processor position keeps every
    column so downstream stages still work)."""
    from opentelemetry_collector_spark.operators.aggregate import log_dedup
    from opentelemetry_collector_spark.operators.parse import parse_turns
    from opentelemetry_collector_spark.operators.traces import (
        probabilistic_sampler,
        tail_sampling,
    )
    from opentelemetry_collector_spark.sources.transcripts import (
        events_to_transcripts,
    )

    cfg = ServiceConfig.from_sources(
        {
            "receivers": {"transcripts": {"path": SF_SMOKE}},
            "processors": {
                "parse": {},
                "sampler": {},
                # conv-keyed head sampling keeps ~4 of 15 smoke convs; the
                # default 900ms latency policy matches none of them, so the
                # example threshold (200ms) keeps the pipeline non-empty
                "tail_sampling": {"policies": "composite",
                                  "latency_threshold_ms": 200},
            },
            "exporters": {
                "log_dedup": {"path": str(tmp_path / "dedup"),
                              "bucket_seconds": 300},
            },
            "service": {
                "pipelines": {
                    "sampled": {
                        "receivers": ["transcripts"],
                        "processors": ["parse", "sampler", "tail_sampling"],
                        "exporters": ["log_dedup"],
                    }
                }
            },
        },
        env={},
    )
    results = run_service(spark, cfg)
    got = results["sampled"].frame

    parsed = parse_turns(events_to_transcripts(spark, SF_SMOKE))
    want = tail_sampling(
        probabilistic_sampler(parsed, project=False),
        latency_threshold_ms=200, project=False, composite=True,
    )
    assert got.count() == want.count() > 0
    key = lambda r: (r.conv_id, r.turn_idx)  # noqa: E731
    assert sorted(map(key, got.collect())) == sorted(map(key, want.collect()))
    # processor position preserved the full record (parse cols + markers)
    assert {"body", "keep_policy", "sample_bucket"} <= set(got.columns)

    dedup_out = spark.read.parquet(str(tmp_path / "dedup"))
    direct = log_dedup(want)
    assert dedup_out.count() == direct.count()
    assert (
        dedup_out.agg(F.sum("n_records")).collect()[0][0]
        == direct.agg(F.sum("n_records")).collect()[0][0]
    )


@pytest.mark.parametrize(
    "compression", ["gzip", "zlib", "deflate", "snappy", "lz4", "zstd"]
)
def test_config_built_jsonl_sink_every_wire_codec(spark, tmp_path, compression):
    """The sinks-config `compression` key drives the full reference wire
    codec set end-to-end (configcompression/compressionType.go:22-41): a
    config-built pipeline exports JSONL under each codec and the export
    reads back losslessly."""
    from opentelemetry_collector_spark.sources.jsonl import read_otlp_jsonl

    cfg = ServiceConfig.from_sources(
        {
            "receivers": {"transcripts": {"path": SF_SMOKE}},
            "processors": {"parse": {}},
            "exporters": {
                "otlp_jsonl": {"path": str(tmp_path / "export"),
                               "compression": compression},
            },
            "service": {
                "pipelines": {
                    "logs": {
                        "receivers": ["transcripts"],
                        "processors": ["parse"],
                        "exporters": ["otlp_jsonl"],
                    }
                }
            },
        },
        env={},
    )
    results = run_service(spark, cfg)
    n = results["logs"].frame.count()
    back = read_otlp_jsonl(spark, str(tmp_path / "export"))
    assert back.count() == n > 0
    assert back.filter("conv_id IS NULL").count() == 0


def test_run_service_mixing_pipeline(spark, tmp_path):
    """Round 5: the normalize -> gopher_filter -> mix processors are
    config-buildable and equal the direct project=False composition,
    preserving the documents schema plus norm_hash."""
    from opentelemetry_collector_spark.operators import quality as q

    cfg = ServiceConfig.from_sources(
        {
            "receivers": {
                "documents": {"path": f"{SF_SMOKE}/documents.parquet"}
            },
            "processors": {
                "normalize": {},
                "gopher_filter": {},
                "mix": {},
            },
            "exporters": {
                "parquet": {"path": str(tmp_path / "mixed")},
            },
            "service": {
                "pipelines": {
                    "mixing": {
                        "receivers": ["documents"],
                        "processors": ["normalize", "gopher_filter", "mix"],
                        "exporters": ["parquet"],
                    }
                }
            },
        },
        env={},
    )
    got = run_service(spark, cfg)["mixing"].frame

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    want = q.corpus_mix(
        spark,
        "",
        docs=q.doc_gopher_rules(
            spark,
            "",
            docs=q.doc_normalize(spark, "", docs=docs, project=False),
            project=False,
        ),
        project=False,
    )
    assert sorted(got.columns) == sorted(
        [*docs.columns, "norm_hash"]
    )
    got_rows = {tuple(r) for r in got.select(sorted(got.columns)).collect()}
    want_rows = {tuple(r) for r in want.select(sorted(want.columns)).collect()}
    assert got_rows == want_rows and got_rows
    # the written corpus matches what flowed
    assert spark.read.parquet(str(tmp_path / "mixed")).count() == len(got_rows)


def test_dsir_filter_processor(spark, tmp_path):
    """The dsir_filter processor keeps exactly the keep=true docs of the
    dsir_weights scorer, preserving every input column."""
    from opentelemetry_collector_spark.operators import quality as q

    cfg = ServiceConfig.from_sources(
        {
            "receivers": {
                "documents": {"path": f"{SF_SMOKE}/documents.parquet"}
            },
            "processors": {"dsir_filter": {"target_lang": "en"}},
            "exporters": {
                "parquet": {"path": str(tmp_path / "selected")},
            },
            "service": {
                "pipelines": {
                    "select": {
                        "receivers": ["documents"],
                        "processors": ["dsir_filter"],
                        "exporters": ["parquet"],
                    }
                }
            },
        },
        env={},
    )
    got = run_service(spark, cfg)["select"].frame
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    want_ids = {
        r.doc_id
        for r in q.dsir_weights(spark, "", docs=docs).filter("keep").collect()
    }
    assert sorted(got.columns) == sorted(docs.columns)
    assert {r.doc_id for r in got.select("doc_id").collect()} == want_ids
    assert 0 < len(want_ids) < docs.count()


def test_leakage_split_processor(spark, tmp_path):
    """The leakage_split processor with keep=train exports exactly the
    train docs of doc_split_leakage_safe, preserving every input column
    (split consumed by the filter)."""
    from opentelemetry_collector_spark.operators import quality as q

    cfg = ServiceConfig.from_sources(
        {
            "receivers": {
                "documents": {"path": f"{SF_SMOKE}/documents.parquet"}
            },
            "processors": {"leakage_split": {"keep": "train"}},
            "exporters": {
                "parquet": {"path": str(tmp_path / "train_cut")},
            },
            "service": {
                "pipelines": {
                    "cut": {
                        "receivers": ["documents"],
                        "processors": ["leakage_split"],
                        "exporters": ["parquet"],
                    }
                }
            },
        },
        env={},
    )
    got = run_service(spark, cfg)["cut"].frame
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    want_ids = {
        r.doc_id
        for r in q.doc_split_leakage_safe(spark, "", docs=docs)
        .filter("split = 'train'")
        .collect()
    }
    assert sorted(got.columns) == sorted(docs.columns)
    assert {r.doc_id for r in got.select("doc_id").collect()} == want_ids
    assert 0 < len(want_ids) < docs.count()


def test_dedup_paragraphs_processor(spark, tmp_path):
    """The dedup_paragraphs processor rewrites text to the surviving
    tiles, recomputes n_chars, preserves the column set, and drops docs
    whose every tile was a duplicate."""
    from opentelemetry_collector_spark.operators import dedup as dd

    cfg = ServiceConfig.from_sources(
        {
            "receivers": {
                "documents": {"path": f"{SF_SMOKE}/documents.parquet"}
            },
            "processors": {"dedup_paragraphs": {}},
            "exporters": {
                "parquet": {"path": str(tmp_path / "cleaned")},
            },
            "service": {
                "pipelines": {
                    "clean": {
                        "receivers": ["documents"],
                        "processors": ["dedup_paragraphs"],
                        "exporters": ["parquet"],
                    }
                }
            },
        },
        env={},
    )
    got = run_service(spark, cfg)["clean"].frame
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    want = {
        r.doc_id: r.text_kept
        for r in dd.dedup_paragraphs(spark, "", docs=docs).collect()
        if r.n_kept > 0
    }
    assert sorted(got.columns) == sorted(docs.columns)
    got_rows = {r.doc_id: r for r in got.collect()}
    assert set(got_rows) == set(want)
    for doc_id, text in want.items():
        assert got_rows[doc_id].text == text
        assert got_rows[doc_id].n_chars == len(text)


def test_entropy_filter_processor(spark, tmp_path):
    """The entropy_filter processor drops exactly the low_entropy docs of
    the doc_entropy scorer, preserving every input column."""
    from opentelemetry_collector_spark.operators import quality as q

    cfg = ServiceConfig.from_sources(
        {
            "receivers": {
                "documents": {"path": f"{SF_SMOKE}/documents.parquet"}
            },
            "processors": {"entropy_filter": {}},
            "exporters": {
                "parquet": {"path": str(tmp_path / "kept")},
            },
            "service": {
                "pipelines": {
                    "filter": {
                        "receivers": ["documents"],
                        "processors": ["entropy_filter"],
                        "exporters": ["parquet"],
                    }
                }
            },
        },
        env={},
    )
    got = run_service(spark, cfg)["filter"].frame
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    dropped = {
        r.doc_id
        for r in q.doc_entropy(spark, "", docs=docs)
        .filter("low_entropy")
        .collect()
    }
    assert sorted(got.columns) == sorted(docs.columns)
    got_ids = {r.doc_id for r in got.select("doc_id").collect()}
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    assert got_ids == all_ids - dropped
    assert 0 < len(got_ids) < len(all_ids)


def test_priority_sample_processor(spark, tmp_path):
    """The priority_sample processor keeps exactly the k docs the direct
    corpus_priority_sample operator selects, preserving every input
    column — config-built == direct (the factory-parity contract)."""
    from opentelemetry_collector_spark.operators import sampling as ps

    cfg = ServiceConfig.from_sources(
        {
            "receivers": {
                "documents": {"path": f"{SF_SMOKE}/documents.parquet"}
            },
            "processors": {"priority_sample": {"k": 15}},
            "exporters": {
                "parquet": {"path": str(tmp_path / "sampled")},
            },
            "service": {
                "pipelines": {
                    "select": {
                        "receivers": ["documents"],
                        "processors": ["priority_sample"],
                        "exporters": ["parquet"],
                    }
                }
            },
        },
        env={},
    )
    got = run_service(spark, cfg)["select"].frame
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    want_ids = {
        r.doc_id
        for r in ps.corpus_priority_sample(
            spark, "", docs=docs, k=15
        ).collect()
    }
    assert sorted(got.columns) == sorted(docs.columns)
    assert {r.doc_id for r in got.select("doc_id").collect()} == want_ids
    assert len(want_ids) == 15


def test_ppl_filter_processor(spark, tmp_path):
    """The ppl_filter processor keeps exactly the head+middle docs of the
    corpus_ppl_buckets tagger (the CCNet training cut), preserving every
    input column."""
    from opentelemetry_collector_spark.operators import quality as q

    cfg = ServiceConfig.from_sources(
        {
            "receivers": {
                "documents": {"path": f"{SF_SMOKE}/documents.parquet"}
            },
            "processors": {"ppl_filter": {"keep": ["head", "middle"]}},
            "exporters": {
                "parquet": {"path": str(tmp_path / "in_distribution")},
            },
            "service": {
                "pipelines": {
                    "select": {
                        "receivers": ["documents"],
                        "processors": ["ppl_filter"],
                        "exporters": ["parquet"],
                    }
                }
            },
        },
        env={},
    )
    got = run_service(spark, cfg)["select"].frame
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    want_ids = {
        r.doc_id
        for r in q.corpus_ppl_buckets(spark, "", docs=docs)
        .filter("ppl_bucket != 'tail'")
        .collect()
    }
    assert sorted(got.columns) == sorted(docs.columns)
    assert {r.doc_id for r in got.select("doc_id").collect()} == want_ids
    assert 0 < len(want_ids) < docs.count()


def test_shuffle_order_and_interleave_processors(spark, tmp_path):
    """A ppl_filter -> shuffle_order -> interleave chain annotates the
    surviving docs with the exact order/interleave columns the direct
    operators produce on the same (filtered) frame, preserving inputs."""
    from opentelemetry_collector_spark.operators import quality as q
    from opentelemetry_collector_spark.operators import sampling as ps

    cfg = ServiceConfig.from_sources(
        {
            "receivers": {
                "documents": {"path": f"{SF_SMOKE}/documents.parquet"}
            },
            "processors": {
                "ppl_filter": {"keep": ["head", "middle"]},
                "shuffle_order": {},
                "interleave": {},
            },
            "exporters": {
                "parquet": {"path": str(tmp_path / "ordered")},
            },
            "service": {
                "pipelines": {
                    "order": {
                        "receivers": ["documents"],
                        "processors": [
                            "ppl_filter", "shuffle_order", "interleave",
                        ],
                        "exporters": ["parquet"],
                    }
                }
            },
        },
        env={},
    )
    got = run_service(spark, cfg)["order"].frame.toPandas().set_index("doc_id")
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    kept = docs.join(
        q.corpus_ppl_buckets(spark, "", docs=docs)
        .filter("ppl_bucket != 'tail'")
        .select("doc_id"),
        "doc_id",
        "left_semi",
    )
    want_order = {
        r.doc_id: r.order_idx
        for r in ps.corpus_shuffle(spark, "", docs=kept).collect()
    }
    want_key = {
        r.doc_id: (r.src_rank, r.interleave_key)
        for r in ps.corpus_interleave(spark, "", docs=kept).collect()
    }
    assert set(got.index) == set(want_order)
    # shuffle/interleave ran on the FILTERED frame: order_idx is a dense
    # permutation of the survivors, not of the raw corpus
    assert sorted(got["order_idx"]) == list(range(len(got)))
    for doc_id, row in got.iterrows():
        assert row["order_idx"] == want_order[doc_id]
        assert (row["src_rank"], row["interleave_key"]) == want_key[doc_id]
    for c in docs.columns:
        assert c in got.reset_index().columns
