"""Physical-plan regression guards: the plan properties PLANS.md claims are
asserted here so a future change can't silently trade them away (the
.explain review, mechanized)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_spark.queries import (
    DOCS_QUERIES,
    PIPELINE_QUERIES,
)
from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_enrich_plan_has_no_join_and_no_python_scan(spark):
    """enrich is one projection over literal maps: no join of any kind,
    and no Scan ExistingRDD (a createDataFrame lookup side, whose tasks
    run in Python workers)."""
    plan = _plan(PIPELINE_QUERIES["enrich"](spark, SF_SMOKE))
    assert "Join" not in plan
    assert "ExistingRDD" not in plan


def _shuffles(plan: str) -> int:
    """Shuffle exchanges only (BroadcastExchange is not a data shuffle)."""
    return plan.count("Exchange") - plan.count("BroadcastExchange")


def test_narrow_ops_add_no_shuffle(spark):
    """parse/enrich/route/transform are projections: exactly one shuffle
    total — the transcripts-derivation window (test-fixture artifact), none
    from the operator itself."""
    for name in ["parse_turns", "enrich", "route", "transform_pipeline"]:
        plan = _plan(PIPELINE_QUERIES[name](spark, SF_SMOKE))
        assert _shuffles(plan) <= 1, f"{name} added a shuffle"


def test_aggregates_do_partial_aggregation(spark):
    """Every groupBy must map-side combine before its exchange."""
    for name in ["sink_counts", "span_stats", "metrics_histogram",
                 "span_red_metrics"]:
        plan = _plan(PIPELINE_QUERIES[name](spark, SF_SMOKE))
        # partial + final HashAggregate pairs straddling the exchange
        assert plan.count("HashAggregate") >= 2, f"{name} lacks partial agg"


def test_docs_scans_prune_columns(spark):
    """doc_tokens projects 2 columns: the parquet scan must not read the
    rest of the documents table (column pruning reaches the source)."""
    plan = _plan(DOCS_QUERIES["doc_tokens"](spark, SF_SMOKE))
    scan = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scan, "expected a parquet scan"
    line = scan[0]
    assert "text" in line
    assert "source" not in line.split("ReadSchema")[-1], (
        "unprojected column read from the documents scan"
    )


def test_ann_brute_force_broadcasts_query_side_only(spark):
    """The deliberate BroadcastNestedLoopJoin broadcasts the tiny QUERY
    side; the corpus side must stream (no cartesian of two big sides)."""
    plan = _plan(DOCS_QUERIES["ann_cosine_topk"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_dedup_joins_are_equality_joins(spark):
    """Candidate generation must hash-join on LSH band keys — a nested
    loop here would be quadratic in the corpus."""
    plan = _plan(DOCS_QUERIES["dedup_minhash_pairs"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_minhash_signature_is_one_compiled_aggregate(spark):
    """The signature is a hash aggregate on doc_id over the exploded
    shingles: its only Exchange is ``_docs``' compute_dense repartition,
    no Filter sits between the scan and that Exchange (``explode`` would
    infer a shingle-size filter there), and the aggregate's expressions
    hold no lambda (the per-permutation ``transform`` signature did).
    The cache is cleared first: a shingle frame that an earlier
    ``dedup_minhash_pairs`` persisted over the same input would stand in
    for the scan."""
    from opentelemetry_collector_spark.operators.dedup import (
        minhash_signatures,
    )

    spark.catalog.clearCache()
    plan = _plan(minhash_signatures(spark, SF_SMOKE))
    assert _shuffles(plan) == 1, plan
    lines = plan.splitlines()
    exchange = next(i for i, ln in enumerate(lines) if "Exchange" in ln)
    filters = [
        ln for ln in lines[exchange:]
        if re.match(r"[\s:+-]*(\*\(\d+\) )?Filter ", ln)
    ]
    assert not filters, plan
    aggs = [ln for ln in lines if "HashAggregate" in ln]
    assert aggs, plan
    assert not [ln for ln in aggs if "lambdafunction" in ln], plan


def test_minhash_pairs_sign_each_doc_once(spark):
    """Candidates come from (band, key) buckets, not a band self-join:
    the executed plan holds exactly one signature aggregate (output
    ``doc_id, sig``; each side of a self-join re-ran it), no join keyed
    on the band ``key``, and the distinct over ``[doc_a, doc_b]`` whose
    rows the traced harness reads as the candidate count. No generator
    takes a ``flatten``: a bucket's pairs must stream out row by row, not
    as one n(n-1)/2-element array. The cache is cleared first, as above."""
    spark.catalog.clearCache()
    plan = _plan(DOCS_QUERIES["dedup_minhash_pairs"](spark, SF_SMOKE))
    assert not [ln for ln in plan.splitlines()
                if "Generate" in ln and "flatten(" in ln], plan
    sig_aggs = re.findall(r"output=\[doc_id#\d+L?, sig#\d+\]\)", plan)
    assert len(sig_aggs) == 1, plan
    joins = [ln for ln in plan.splitlines() if "Join" in ln]
    assert joins, plan
    assert not [ln for ln in joins if re.search(r"Join \[[^\]]*\bkey#", ln)], plan
    assert re.search(
        r"HashAggregate\(keys=\[doc_a#\d+L?, doc_b#\d+L?\], functions=\[\], "
        r"output=\[doc_a#\d+L?, doc_b#\d+L?\]\)",
        plan,
    ), plan


def test_minhash_pairs_planning_py4j_budget(spark, monkeypatch):
    """Building ``dedup_minhash_pairs`` takes at most 250 py4j round trips
    (counted by wrapping the gateway client's send_command): the operator
    is SQL text, where its Column-call build took ~1,900. The fewest of
    three builds is taken, so a garbage-collection burst of py4j object
    releases does not count."""
    import gc

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
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
        DOCS_QUERIES["dedup_minhash_pairs"](spark, "", docs=docs)
        calls.append(len(sent))
    assert 0 < min(calls) <= 250, f"{calls} py4j calls to build the operator"


def test_sampler_and_redaction_add_no_shuffle(spark):
    """Head sampling and redaction are stateless filters/projections over
    the parsed stage — at 100 TB they must pipeline into the scan. The
    only exchange allowed is the transcripts-derivation window (a
    test-fixture artifact; the production table is already turn-ordered)."""
    for name in ["probabilistic_sampler", "redaction"]:
        plan = _plan(PIPELINE_QUERIES[name](spark, SF_SMOKE))
        assert _shuffles(plan) <= 1, f"{name} added a shuffle"


def test_temporality_conversions_share_one_stream_shuffle(spark):
    """delta->cumulative, cumulative->delta, and delta->rate each shuffle
    the stream exactly once on the (conv_id, tool) key — the
    cumulative->delta op stacks two windows and must NOT re-shuffle
    between them (renaming the partition attribute between windows used
    to cost a full second exchange)."""
    for name in ["metrics_sum_cumulative", "metrics_sum_delta",
                 "metrics_sum_rate"]:
        plan = _plan(PIPELINE_QUERIES[name](spark, SF_SMOKE))
        assert _shuffles(plan) <= 2, (
            f"{name}: more than fixture-window + one stream shuffle"
        )


def test_contamination_broadcasts_benchmark_side(spark):
    """Decontamination joins the corpus shingle set against the (small)
    benchmark shingle set: must be a broadcast hash join — a sort-merge
    join here shuffles the full corpus on shingle key."""
    plan = _plan(DOCS_QUERIES["contamination_tag"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def _outside_cache(plan: str) -> str:
    """The plan text without the cached subtrees that each
    InMemoryTableScan prints under itself (they run once, to fill the
    cache)."""
    out, cached_below = [], None
    for line in plan.splitlines():
        depth = len(line) - len(line.lstrip(" :+-"))
        if cached_below is not None and depth > cached_below:
            continue
        cached_below = None
        out.append(line)
        if "InMemoryTableScan" in line:
            cached_below = depth
    return "\n".join(out)


def test_embedding_pairs_use_bucket_equality_join(spark):
    """Embedding near-dup candidates (semdedup_ivf_pairs) come from an
    equality join on the IVF cell id — never a cartesian product or a
    nested loop. The plan's one nested-loop join is the coarse
    quantizer's broadcast of the seed cells, inside the cached cell
    assignment."""
    plan = _plan(DOCS_QUERIES["semdedup_ivf_pairs"](spark, SF_SMOKE))
    pairs = _outside_cache(plan)
    assert re.search(r"Join \[cluster#\d+L?\], \[cluster#\d+L?\], Inner", pairs)
    assert "BroadcastNestedLoopJoin" not in pairs
    assert "CartesianProduct" not in plan


def test_unigram_vocab_join_is_broadcast(spark):
    """The LM-model join must broadcast the vocab side — a sort-merge join
    here would shuffle every (doc_id, word) pair on the word key; the
    top-k query must plan TakeOrderedAndProject, not a global sort."""
    plan = _plan(DOCS_QUERIES["doc_unigram_ll"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    plan_top = _plan(DOCS_QUERIES["vocab_topk"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan_top


def test_trace_ops_share_the_trace_affinity_shuffle(spark):
    """tail_sampling_composite adds a policy without adding a shuffle
    (probabilistic decision is hash-of-key, windowless); span_edges costs
    the conv_id window plus one tiny (src,dst) aggregate exchange."""
    plain = _shuffles(_plan(PIPELINE_QUERIES["tail_sampling"](spark, SF_SMOKE)))
    comp = _shuffles(
        _plan(PIPELINE_QUERIES["tail_sampling_composite"](spark, SF_SMOKE))
    )
    assert comp == plain, "composite policy added a shuffle"
    edges = _shuffles(_plan(PIPELINE_QUERIES["span_edges"](spark, SF_SMOKE)))
    assert edges <= plain + 1, "span_edges: more than window + edge agg"


def test_kmeans_joins_broadcast_the_centroids(spark):
    """Every k-means iteration joins the exploded vector stream against
    k*dim centroid cells — always a broadcast hash join, never a shuffle
    of the vector stream on dim_idx or an all-pairs nested loop."""
    plan = _plan(DOCS_QUERIES["embedding_kmeans"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _scan_count(plan: str) -> int:
    return plan.count("FileScan") + plan.count("InMemoryTableScan")


def test_kmeans_final_plan_is_flat_in_iters(spark):
    """Iteration state is materialized (centroid cells collected to driver
    literals each round), so the FINAL assignment plan must scan the
    vector stream a constant number of times — chaining the lazy centroid
    lineage instead makes scan count and plan depth grow with iters
    (round-2 scale-audit finding #2)."""
    from opentelemetry_collector_spark.operators.similarity import (
        embedding_kmeans,
    )

    p1 = _plan(embedding_kmeans(spark, SF_SMOKE, iters=1))
    p3 = _plan(embedding_kmeans(spark, SF_SMOKE, iters=3))
    assert _scan_count(p3) == _scan_count(p1), (
        "k-means final-plan scan count grows with iters"
    )
    assert _scan_count(p3) <= 2


def test_unigram_ll_precomputed_model_is_single_corpus_scan(spark, tmp_path):
    """With a precomputed (vocab, tot) model the scoring pass must scan the
    documents table exactly once (VERDICT r02 task 7 plan guard); the
    self-training shape costs two extra corpus scans (vocab + total)."""
    from opentelemetry_collector_spark.operators.textstats import (
        doc_unigram_ll,
        train_unigram_model,
    )

    vocab, tot = train_unigram_model(spark, SF_SMOKE)
    vocab.write.mode("overwrite").parquet(str(tmp_path / "vocab"))
    tot.write.mode("overwrite").parquet(str(tmp_path / "tot"))
    model = (
        spark.read.parquet(str(tmp_path / "vocab")),
        spark.read.parquet(str(tmp_path / "tot")),
    )
    plan = _plan(doc_unigram_ll(spark, SF_SMOKE, model=model))
    doc_scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "documents" in ln
    ]
    assert len(doc_scans) == 1, (
        f"precomputed-model scoring should scan documents once, "
        f"saw {len(doc_scans)}"
    )


def test_tool_spans_ranks_locally_before_the_tool_window(spark):
    """Top-k over the ~5-value parsed_tool key must be two-phase: a salted
    (parsed_tool, salt) local rank prunes to <=5*salts*k rows BEFORE the
    global per-tool window, so no reducer ever owns a full tool's rows
    (round-2 scale-audit finding #1)."""
    plan = _plan(PIPELINE_QUERIES["tool_spans"](spark, SF_SMOKE))
    assert plan.count("Window") >= 2, "expected local + global rank windows"
    assert "salt" in plan, "local rank must partition by the salt key"


def test_gauge_last_is_a_partial_aggregate_not_a_window(spark):
    """The gauge arg-max must map-side combine (max(struct) partial agg),
    not row_number over the ~5-value tool key (round-2 finding #1)."""
    plan = _plan(PIPELINE_QUERIES["metrics_gauge_last"](spark, SF_SMOKE))
    # the only Window allowed is the transcripts-derivation fixture's
    # (user_id-keyed); the gauge itself must not window on parsed_tool
    assert "windowspecdefinition(parsed_tool" not in plan
    assert "partial_max(struct" in plan, "arg-max must map-side combine"


def test_tfidf_has_no_forced_vocab_broadcast(spark):
    """The document-frequency side of the tf-idf term join is the corpus
    VOCABULARY — unbounded over web-scale text — so it must never carry an
    explicit broadcast hint (round-3 scale-audit finding #1). The only
    allowed hint is the 1-row corpus-count literal; the w-key join is left
    to the planner (AQE picks shuffle vs broadcast from runtime stats)."""
    from opentelemetry_collector_spark.operators.textstats import (
        doc_tfidf_topk,
    )

    df = doc_tfidf_topk(spark, SF_SMOKE)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    hints = analyzed.count("ResolvedHint")
    assert hints == 1, (
        f"expected exactly one broadcast hint (the 1-row corpus count), "
        f"saw {hints} — a hint on the vocabulary side would OOM the "
        f"driver at 100 TB"
    )
    # and the query still matches its oracle without the hint (correctness
    # is the driver artifact's job; here just assert it executes)
    assert df.limit(1).count() >= 0


def test_excise_rebuild_is_linear_not_membership_scan(spark):
    """The excision rebuild must stitch kept text from interval slices —
    per-doc cost linear in words — not probe a covered-position set per
    word (round-3 scale-audit finding #2: array_contains(cov, i) per word
    is O(words x covered), quadratic on a heavily duplicated doc)."""
    from opentelemetry_collector_spark.operators.dedup import (
        dedup_substring_excise,
    )

    df = dedup_substring_excise(spark, SF_SMOKE)
    plan = _plan(df)
    assert "array_contains" not in plan, (
        "per-word membership probe reintroduced into the excise rebuild"
    )
    # interval list, not exploded covered positions, feeds the rebuild
    assert "span_start" in plan and "slice" in plan


def test_regex_evaluation_counts_are_pinned(spark):
    """Expression-duplication guard (PLANS.md round-5 audit): parse plans
    each of its 6 regexes exactly once, and the downstream pipelines stay
    within a small constant of that — CollapseProject's single-reference
    merge cascade once multiplied them to 83 copies/row (5.6s -> 1.7s for
    the transform demo at sf0.1 when fixed)."""
    counts = {
        "parse_turns": 6,
        "route": 8,           # +pushdown copies of the dead-letter predicate
        "sink_counts": 10,
        "transform_pipeline": 12,
        "tail_sampling": 10,
        "grok_parse": 9,      # one per (pattern, field) arm of the library
    }
    for name, bound in counts.items():
        plan = _plan(PIPELINE_QUERIES[name](spark, SF_SMOKE))
        n = plan.count("regexp_extract")
        assert n <= bound, (
            f"{name}: {n} regexp_extract evaluations in the physical plan "
            f"(bound {bound}) — expression duplication is back, see "
            "PLANS.md 'Expression-duplication audit'"
        )


def test_grok_parse_plan_is_sql_only(spark):
    """grok_parse is native SQL: no Python worker node in its plan, and the
    ordered pattern CASE is planned once (3 RLIKE, one per library pattern)
    rather than inlined into each field's CASE."""
    plan = _plan(PIPELINE_QUERIES["grok_parse"](spark, SF_SMOKE))
    for node in ["MapInPandas", "PythonUDF", "ArrowEvalPython",
                 "BatchEvalPython"]:
        assert node not in plan, f"grok_parse plans a {node}"
    assert plan.count("RLIKE") == 3


def test_quality_ops_plan_shapes(spark):
    """Round-5 curation ops: gopher rules and normalize are shuffle-free
    single-scan projections; corpus_mix broadcasts its ~#sources rate
    table onto the scan (never a sort-merge join on source) and the only
    shuffles are the tiny source-count aggregates."""
    for name in ["doc_gopher_rules", "doc_normalize"]:
        plan = _plan(DOCS_QUERIES[name](spark, SF_SMOKE))
        assert _shuffles(plan) == 0, f"{name} must not shuffle"
        assert "SortMergeJoin" not in plan

    mix = _plan(DOCS_QUERIES["corpus_mix"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in mix, "rate table must broadcast"
    assert "SortMergeJoin" not in mix, "the corpus must never shuffle on source"


def test_semdedup_pairs_block_join_is_equality(spark):
    """SemDeDup candidates come from an equality join on the block id
    (k-means cluster / IVF home cell) — never a nested-loop/cartesian
    pair enumeration. The IVF variant's only nested-loop join is the
    broadcast of the tiny seed-centroid side."""
    plan = _plan(DOCS_QUERIES["semdedup_pairs"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    ivf = _plan(DOCS_QUERIES["semdedup_ivf_pairs"](spark, SF_SMOKE))
    assert "CartesianProduct" not in ivf
    # the O(n*cells) coarse-quantizer pass is pinned: both tau subtrees
    # read the cached assignment instead of re-running the broadcast
    # nested-loop seed join (the printed plan repeats the cached subtree
    # under each InMemoryTableScan, so count scans, not BNLJ text)
    assert ivf.count("InMemoryTableScan") >= 2


def test_doc_chunk_is_shuffle_free(spark):
    plan = _plan(DOCS_QUERIES["doc_chunk"](spark, SF_SMOKE))
    assert _shuffles(plan) == 0


def test_dsir_model_join_broadcasts(spark):
    """The DSIR bucket-ratio table (<= DSIR_BUCKETS rows) must broadcast
    onto the token stream — never a sort-merge join on the bucket key,
    and never a vocabulary-sized shuffle."""
    plan = _plan(DOCS_QUERIES["dsir_weights"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_leakage_safe_split_has_no_nested_loop(spark):
    """The leakage-safe split composes the guarded components pass with
    one doc_id equality join back to the corpus — nothing in the tree may
    degrade to a nested loop (quadratic in the corpus at 10^12 docs)."""
    plan = _plan(DOCS_QUERIES["doc_split_leakage_safe"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pq_final_plan_is_flat_in_iters(spark):
    """embedding_pq materializes its codebooks driver-side each round like
    embedding_kmeans — the final assignment plan's scan count must not
    grow with iters, and the codebook join must broadcast."""
    from opentelemetry_collector_spark.operators.similarity import (
        embedding_pq,
    )

    # earlier tests' persisted frames can overlay extra InMemoryTableScan
    # layers onto the shared subtree — clear so the count is order-stable
    spark.catalog.clearCache()
    p1 = _plan(embedding_pq(spark, SF_SMOKE, iters=1))
    p3 = _plan(embedding_pq(spark, SF_SMOKE, iters=3))
    assert _scan_count(p3) == _scan_count(p1), (
        "PQ final-plan scan count grows with iters"
    )
    assert _scan_count(p3) <= 2
    assert "BroadcastHashJoin" in p3
    assert "CartesianProduct" not in p3


def test_pq_adc_scan_reads_codes_not_vectors(spark):
    """The ADC search must broadcast the tiny LUT onto the codes stream —
    an equality join on (sub, code) — with no nested loop and a plan
    that's flat in training iters (shared _pq_train materialization)."""
    from opentelemetry_collector_spark.operators.similarity import (
        ann_pq_topk,
    )

    spark.catalog.clearCache()
    p1 = _plan(ann_pq_topk(spark, SF_SMOKE, iters=1))
    p3 = _plan(ann_pq_topk(spark, SF_SMOKE, iters=3))
    assert _scan_count(p3) == _scan_count(p1)
    assert "BroadcastHashJoin" in p3
    assert "CartesianProduct" not in p3
    assert "BroadcastNestedLoopJoin" not in p3


def test_bpe_encode_plan_is_flat_in_merge_count(spark):
    """With precomputed merge rules (the production path) the encode plan
    must scan the documents table a constant number of times — the merge
    folds are per-distinct-word array expressions, so plan scans must not
    grow with the rule count (the kmeans/PQ materialization discipline
    applied to the tokenizer)."""
    from opentelemetry_collector_spark.operators.bpe import bpe_encode

    rules2 = [("e", "r"), ("e", "</w>")]
    rules8 = rules2 + [
        ("n", "</w>"), ("er", "</w>"), ("o", "w"),
        ("ow", "</w>"), ("o", "r"), ("s", "t"),
    ]
    p2 = _plan(bpe_encode(spark, SF_SMOKE, merge_rules=rules2))
    p8 = _plan(bpe_encode(spark, SF_SMOKE, merge_rules=rules8))
    assert _scan_count(p8) == _scan_count(p2), (
        "bpe_encode plan scan count grows with merge-rule count"
    )
    assert _scan_count(p2) <= 2
    assert "BroadcastNestedLoopJoin" not in p8
    assert "CartesianProduct" not in p8


def test_bpe_train_rounds_scan_cached_state_not_files(spark):
    """Each training round's pair aggregate must read the persisted symbol
    frame (InMemoryTableScan), not re-fold all prior rounds from the
    parquet files — otherwise round i re-pays rounds 1..i-1 and total
    work goes quadratic in the merge count."""
    from opentelemetry_collector_spark.operators.bpe import bpe_train

    _, state1 = bpe_train(spark, SF_SMOKE, merges=1, return_state=True)
    p1 = _plan(state1)
    state1.unpersist()
    _, state3 = bpe_train(spark, SF_SMOKE, merges=3, return_state=True)
    p3 = _plan(state3)
    state3.unpersist()
    assert "InMemoryTableScan" in p3
    # the printed plan shows the innermost cache-BUILD lineage once; if a
    # round re-folded prior rounds from files instead of reading the cache,
    # file scans would accumulate per round
    assert _scan_count(p3) == _scan_count(p1), (
        "training-round lineage re-reads files instead of the cached state"
    )


def test_dedup_paragraphs_no_window_over_content_key(spark):
    """First-wins must resolve via the keeper aggregate + equality join
    (skew-safe), never a Window over the tile hash, and must not produce
    nested-loop or cartesian shapes."""
    plan = _plan(DOCS_QUERIES["dedup_paragraphs"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert not re.search(r"Window .*\bh\b", plan), (
        "tile-hash ordering must not run through a Window"
    )


def test_mmr_rerank_stays_on_bounded_pools(spark):
    """MMR's only nested-loop join is the deliberate broadcast of the tiny
    query side (the ANN candidate scan); the pool self-join must be a hash
    equality join on query_id, and iteration state must come from
    materialized checkpoints (no corpus re-scan per selection step)."""
    plan = _plan(DOCS_QUERIES["ann_mmr_topk"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "FileScan" not in plan, (
        "selection steps must read checkpointed state, not re-scan parquet"
    )


def test_sketches_partial_aggregate_and_broadcast(spark):
    """The sketch shuffles must be constant-size: every aggregate
    map-side combines (partial+final HashAggregate pairs), the CMS probe
    join broadcasts the 1024-cell sketch, and the top-word selection is
    TakeOrderedAndProject — never a global sort or a content-key
    window."""
    cms = _plan(DOCS_QUERIES["cms_heavy_hitters"](spark, SF_SMOKE))
    assert cms.count("HashAggregate") >= 2
    assert "BroadcastHashJoin" in cms
    assert "TakeOrderedAndProject" in cms
    assert "Window" not in cms
    hll = _plan(DOCS_QUERIES["hll_distinct"](spark, SF_SMOKE))
    assert hll.count("HashAggregate") >= 2
    assert "Window" not in hll
    assert "CartesianProduct" not in hll


def test_priority_sample_and_bloom_plan_shapes(spark):
    """corpus_priority_sample must be per-partition partial top-k
    (TakeOrderedAndProject, never a global Sort/Window); the Bloom
    summary must broadcast the constant-size bitmap and 1-row aggregates
    (no SortMergeJoin, no cartesian of data-sized sides)."""
    samp = _plan(DOCS_QUERIES["corpus_priority_sample"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in samp
    assert "Window" not in samp
    assert "Exchange" not in samp.split("TakeOrderedAndProject")[0]

    bloom = _plan(DOCS_QUERIES["bloom_fingerprints"](spark, SF_SMOKE))
    assert "SortMergeJoin" not in bloom
    assert "CartesianProduct" not in bloom
    assert "BroadcastHashJoin" in bloom

    qtl = _plan(DOCS_QUERIES["doc_length_quantiles"](spark, SF_SMOKE))
    # the only data-sized shuffle is the per-doc count; the probe join
    # broadcasts the 3-row quantile side over the ~40-row histogram
    assert "CartesianProduct" not in qtl
    assert "SortMergeJoin" not in qtl


def test_shuffle_and_interleave_rank_without_global_sort(spark):
    """corpus_shuffle / corpus_interleave produce a global (resp.
    per-source) dense rank via the two-phase bucket pattern — the plans
    must carry NO range partitioning (the global-sort marker): doc rows
    move only through hash exchanges on the bucket key, and the
    256-row offset/weight sides join as broadcasts."""
    for name in ["corpus_shuffle", "corpus_interleave"]:
        plan = _plan(DOCS_QUERIES[name](spark, SF_SMOKE))
        assert "rangepartitioning" not in plan, f"{name} sorts the world"
        assert "SortMergeJoin" not in plan, f"{name} shuffled a join side"
        assert "BroadcastHashJoin" in plan, f"{name} lost the broadcast"
