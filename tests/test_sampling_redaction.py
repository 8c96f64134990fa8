"""Semantic invariants for the round-2 additions: Gopher repetition
metrics, benchmark-contamination tagging, probabilistic head sampling,
delta-to-rate conversion, and regex redaction. Oracle hash parity for the
same queries is covered by the parametrized oracle tests."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_spark.operators.textstats import (
    CONTAM_BENCH_MOD,
    CONTAM_SHINGLE_WORDS,
)
from opentelemetry_collector_spark.operators.traces import SAMPLER_PERMYRIAD
from opentelemetry_collector_spark.queries import (
    DOCS_QUERIES,
    PIPELINE_QUERIES,
    REDACTION_STATEMENTS,
)
from tests.conftest import SF_CORRECT


def test_repetition_fractions_bounded_and_exact(spark, duck):
    rows = DOCS_QUERIES["doc_repetition"](spark, SF_CORRECT).collect()
    assert rows
    by_id = {r.doc_id: r for r in rows}
    for r in rows:
        assert 0 < r.top_word_frac <= 1
        assert 0 <= r.dup_word_frac <= 1
        # every occurrence of the top word beyond the first is a duplicate
        # occurrence, so top>1 implies dup covers it
        if r.top_word_frac > 1.0 / r.n_words:
            assert r.dup_word_frac >= r.top_word_frac
    # recompute one doc by hand
    con = duck(SF_CORRECT)
    doc = con.sql(
        "SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 1"
    ).fetchone()
    words = doc[1].split(" ")
    from collections import Counter

    c = Counter(words)
    r = by_id[doc[0]]
    assert r.n_words == len(words)
    assert r.top_word_frac == pytest.approx(max(c.values()) / len(words))
    dup = sum(v for v in c.values() if v > 1)
    assert r.dup_word_frac == pytest.approx(dup / len(words))


def test_contamination_tags_are_true_overlaps(spark, duck):
    rows = DOCS_QUERIES["contamination_tag"](spark, SF_CORRECT).collect()
    assert rows, "fixture must contain contaminated docs"
    con = duck(SF_CORRECT)
    texts = dict(con.sql("SELECT doc_id, text FROM documents").fetchall())

    def shingles(doc_id: int) -> set[str]:
        ws = texts[doc_id].split(" ")
        k = CONTAM_SHINGLE_WORDS
        return {
            " ".join(ws[i : i + k]) for i in range(len(ws) - k + 1)
        }

    bench = set()
    for doc_id in texts:
        if doc_id % CONTAM_BENCH_MOD == 0:
            bench |= shingles(doc_id)
    for r in rows:
        assert r.doc_id % CONTAM_BENCH_MOD != 0
        shared = shingles(r.doc_id) & bench
        assert len(shared) == r.n_shared_shingles


def test_probabilistic_sampler_is_trace_consistent(spark):
    df = PIPELINE_QUERIES["probabilistic_sampler"](spark, SF_CORRECT)
    rows = df.collect()
    assert rows
    # deterministic: same bucket for every span of a conversation — the
    # engine's trace unit, matching tail_sampling's whole-trace identity
    # (ADVICE r02: hashing the per-turn trace_id would emit partial traces)
    buckets: dict[str, int] = {}
    for r in rows:
        assert r.sample_bucket < SAMPLER_PERMYRIAD
        assert buckets.setdefault(r.conv_id, r.sample_bucket) == r.sample_bucket
    # whole conversations survive: a kept conv keeps ALL its spans, so a
    # chained whole-trace policy (tail_sampling) never sees a partial trace
    from opentelemetry_collector_spark.queries import _parsed as _p

    all_spans = (
        _p(spark, SF_CORRECT)
        .filter(F.col("trace_id").isNotNull())
        .groupBy("conv_id")
        .count()
        .collect()
    )
    totals = {r.conv_id: r["count"] for r in all_spans}
    kept_counts: dict[str, int] = {}
    for r in rows:
        kept_counts[r.conv_id] = kept_counts.get(r.conv_id, 0) + 1
    assert all(kept_counts[c] == totals[c] for c in kept_counts)
    # keep rate approximates the configured ratio (binomial tolerance)
    from opentelemetry_collector_spark.queries import _parsed

    total = (
        _parsed(spark, SF_CORRECT)
        .filter(F.col("trace_id").isNotNull())
        .count()
    )
    rate = len(rows) / total
    assert abs(rate - SAMPLER_PERMYRIAD / 10000) < 0.05


def test_rate_times_gap_recovers_delta(spark):
    rows = PIPELINE_QUERIES["metrics_sum_rate"](spark, SF_CORRECT).collect()
    assert rows
    saw_rate = False
    for r in rows:
        if r.gap_s is None or r.gap_s <= 0:
            assert r.rate_per_s is None
        else:
            saw_rate = True
            assert r.rate_per_s * r.gap_s == pytest.approx(r.delta_value)
    assert saw_rate


def test_redaction_masks_all_targets(spark):
    rows = PIPELINE_QUERIES["redaction"](spark, SF_CORRECT).collect()
    hex32 = re.compile(r"[0-9a-f]{32}")
    payload = re.compile(r"payload-[0-9]+")
    masked_trace = masked_payload = False
    for r in rows:
        if r.body is None:
            continue
        assert not hex32.search(r.body)
        if "[TRACE_ID]" in r.body:
            masked_trace = True
        if r.role == "tool":
            assert not payload.search(r.body)
            if "payload-[N]" in r.body:
                masked_payload = True
    assert masked_trace and masked_payload


def test_redact_statement_validation():
    from opentelemetry_collector_spark.operators.transform import (
        compile_statements,
    )

    with pytest.raises(ValueError, match="missing"):
        compile_statements([{"op": "redact", "field": "body"}])
    # full statement list validates
    compile_statements(REDACTION_STATEMENTS)


def test_dedup_clusters_are_valid_components(spark):
    """Every pair's endpoints share a cluster; every cluster id is the min
    member; sizes agree with membership."""
    pairs = DOCS_QUERIES["dedup_minhash_pairs"](spark, SF_CORRECT).collect()
    rows = DOCS_QUERIES["dedup_clusters"](spark, SF_CORRECT).collect()
    assert pairs and rows
    label = {r.doc_id: r.cluster_id for r in rows}
    for p in pairs:
        assert label[p.doc_a] == label[p.doc_b]
    from collections import Counter

    members: dict[int, list[int]] = {}
    for r in rows:
        members.setdefault(r.cluster_id, []).append(r.doc_id)
    sizes = Counter(label.values())
    for r in rows:
        assert r.cluster_id == min(members[r.cluster_id])
        assert r.cluster_size == sizes[r.cluster_id]
