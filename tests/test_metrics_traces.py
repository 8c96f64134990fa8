"""Semantic invariants for the metrics-signal (pmetric analog) and
trace-signal (ptrace analog) operators beyond raw oracle parity."""

from __future__ import annotations

from pyspark.sql import functions as F

from opentelemetry_collector_spark.queries import (
    _parsed,
    q_metrics_exp_histogram,
    q_metrics_histogram,
    q_metrics_sum_cumulative,
    q_span_red_metrics,
    q_tail_sampling,
    q_trace_rollup,
)
from tests.conftest import SF_CORRECT, SF_SMOKE


def _span_count(spark):
    return (
        _parsed(spark, SF_SMOKE).filter(F.col("trace_id").isNotNull()).count()
    )


def test_cumulative_final_equals_stream_sum(spark):
    """Delta->cumulative conversion: the last cumulative value of each
    (conv_id, tool) stream equals the plain sum of its deltas."""
    cum = q_metrics_sum_cumulative(spark, SF_SMOKE)
    finals = (
        cum.groupBy("conv_id", "tool")
        .agg(
            F.max_by("cumulative_value", "turn_idx").alias("final_cum"),
            F.sum("delta_value").alias("stream_sum"),
        )
    )
    assert finals.filter(F.col("final_cum") != F.col("stream_sum")).count() == 0
    assert finals.count() > 0


def test_histogram_buckets_partition_points(spark):
    """Explicit-bounds buckets are a partition: per data point exactly one
    bucket increments, so bucket counts sum to n_points (and globally to the
    span count)."""
    h = q_metrics_histogram(spark, SF_SMOKE)
    bucket_cols = [
        c for c in h.columns if c.startswith(("bucket_le_", "bucket_gt_"))
    ]
    assert len(bucket_cols) == 5
    expr = None
    for c in bucket_cols:
        expr = F.col(c) if expr is None else expr + F.col(c)
    assert h.filter(expr != F.col("n_points")).count() == 0
    total = h.agg(F.sum("n_points")).collect()[0][0]
    assert total == _span_count(spark)


def test_exp_histogram_bucket_bounds_and_total(spark):
    """OTel boundary convention (lower-exclusive/upper-inclusive): every
    positive v in bucket i satisfies base^i < v <= base^(i+1), at scale 0
    (base 2) and scale -1 (base 4); totals conserve the span count."""
    from opentelemetry_collector_spark.operators.metrics import (
        _exp_index_exprs,
        exp_histogram,
    )

    parsed = _parsed(spark, SF_SMOKE)
    for scale, base in ((0, 2.0), (-1, 4.0)):
        eh = exp_histogram(parsed, scale=scale)
        total = eh.agg(F.sum("n_points")).collect()[0][0]
        assert total == _span_count(spark)
        spans = parsed.filter(F.col("trace_id").isNotNull())
        bad = spans.withColumn(
            "i", F.expr(_exp_index_exprs(scale, "dur_ms"))
        ).filter(
            (F.col("dur_ms") > 0)
            & (
                (F.col("dur_ms") <= F.pow(F.lit(base), F.col("i")))
                | (F.col("dur_ms") > F.pow(F.lit(base), F.col("i") + 1))
            )
        )
        assert bad.count() == 0
    # exact powers of the base land in the LOWER bucket (k -> index k-1):
    # the boundary case the previous floor convention got wrong
    df = spark.createDataFrame([(1,), (2,), (4,), (1024,)], "dur_ms bigint")
    got = {
        r.dur_ms: r.i
        for r in df.withColumn(
            "i", F.expr(_exp_index_exprs(0, "dur_ms"))
        ).collect()
    }
    assert got == {1: -1, 2: 0, 4: 1, 1024: 9}


def test_exp_histogram_float_path_parity_sweep(spark, duck):
    """Scale>0 float path: Spark and DuckDB must agree on the bucket index
    for every magnitude 1..20000 at scales 1 and 2 (the cross-engine ulp
    risk the docstring documents — this sweep is the evidence it holds on
    the integer domain)."""
    from opentelemetry_collector_spark.operators.metrics import (
        _exp_index_exprs,
    )

    con = duck("/root/testdata/sf0.001")
    for scale in (1, 2):
        expr = _exp_index_exprs(scale, "v")
        s_rows = spark.sql(
            f"SELECT v, {expr} AS i FROM "
            "(SELECT explode(sequence(1, 20000)) AS v)"
        ).collect()
        d_rows = con.sql(
            f"SELECT v, {expr} AS i FROM "
            "(SELECT unnest(range(1, 20001)) AS v)"
        ).fetchall()
        s = {r.v: r.i for r in s_rows}
        d = dict(d_rows)
        diff = {v for v in s if s[v] != d[v]}
        assert not diff, (scale, sorted(diff)[:10])


def test_tail_sampling_trace_affinity(spark):
    """All-or-nothing per trace: every kept conv_id keeps ALL its spans,
    with one uniform policy (the traceID-affinity requirement,
    docs/performance.md:69-72)."""
    kept = q_tail_sampling(spark, SF_SMOKE)
    per_conv = kept.groupBy("conv_id").agg(
        F.countDistinct("keep_policy").alias("n_policies"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    assert per_conv.filter(F.col("n_policies") != 1).count() == 0
    all_spans = (
        _parsed(spark, SF_SMOKE)
        .filter(F.col("trace_id").isNotNull())
        .groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n_spans"))
    )
    joined = per_conv.join(all_spans, "conv_id")
    assert joined.filter(F.col("n_kept") != F.col("n_spans")).count() == 0
    # policy precedence: an ERROR-containing trace is tagged error, not latency
    err_convs = (
        _parsed(spark, SF_SMOKE)
        .filter(F.col("status") == "ERROR")
        .select("conv_id")
        .distinct()
    )
    mismatch = kept.join(err_convs, "conv_id").filter(
        F.col("keep_policy") != "error"
    )
    assert mismatch.count() == 0


def test_trace_rollup_conserves_turns(spark):
    roll = q_trace_rollup(spark, SF_SMOKE)
    total_turns = roll.agg(F.sum("n_turns")).collect()[0][0]
    assert total_turns == _parsed(spark, SF_SMOKE).count()
    assert roll.filter(F.col("n_spans") > F.col("n_turns")).count() == 0


def test_summary_quantiles_ordered(spark):
    """Summary quantiles are monotone (p50 <= p90 <= p99) and bounded by the
    series min/max."""
    from opentelemetry_collector_spark.queries import q_metrics_summary

    s = q_metrics_summary(spark, SF_SMOKE)
    bad = s.filter(
        (F.col("p50") > F.col("p90")) | (F.col("p90") > F.col("p99"))
    )
    assert bad.count() == 0
    assert s.count() > 0


def test_exemplars_lie_in_their_bucket(spark):
    """Each exemplar's value respects its bucket's bounds, and every
    non-empty (tool, bucket) cell has exactly one exemplar."""
    from opentelemetry_collector_spark.operators.metrics import HISTOGRAM_BOUNDS
    from opentelemetry_collector_spark.queries import q_histogram_exemplars

    ex = q_histogram_exemplars(spark, SF_SMOKE).collect()
    assert len(ex) > 0
    seen = set()
    for r in ex:
        key = (r["tool"], r["bucket"])
        assert key not in seen, f"duplicate exemplar for {key}"
        seen.add(key)
        v = r["exemplar_dur_ms"]
        if r["bucket"].startswith("gt_"):
            assert v > HISTOGRAM_BOUNDS[-1]
        else:
            hi = int(r["bucket"].removeprefix("le_"))
            assert v <= hi
            i = HISTOGRAM_BOUNDS.index(hi)
            if i > 0:
                assert v > HISTOGRAM_BOUNDS[i - 1]


def test_span_json_round_trip(spark):
    """ptrace JSON wire: serialize -> parse recovers identity, timing
    (end - start == dur_ms), and status for every span."""
    from opentelemetry_collector_spark.operators.protobuf import (
        from_otlp_trace_json,
        to_otlp_trace_json,
    )

    parsed = _parsed(spark, SF_SMOKE)
    spans = parsed.filter(F.col("trace_id").isNotNull())
    back = from_otlp_trace_json(to_otlp_trace_json(parsed))
    assert back.count() == spans.count() > 0

    orig = spans.select(
        "conv_id", "turn_idx", "trace_id", "span_id",
        F.col("parsed_tool").alias("name"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias(
            "start_unix_micros"
        ),
        "attributes_json",
    )
    rt = back.select(
        "conv_id", "turn_idx", "trace_id", "span_id",
        "name", "start_unix_micros", "attributes_json",
    )
    assert orig.exceptAll(rt).count() == 0
    assert rt.exceptAll(orig).count() == 0
    joined = back.join(
        spans.select("conv_id", "turn_idx", "status", "dur_ms"),
        ["conv_id", "turn_idx"],
    )
    assert joined.filter(
        F.col("end_unix_micros") - F.col("start_unix_micros")
        != F.col("dur_ms") * 1000
    ).count() == 0
    # status enum mapping (status_code.go): ERROR->2, OK->1
    assert joined.filter(
        (F.col("status") == "ERROR") & (F.col("status_code") != 2)
    ).count() == 0
    assert joined.filter(
        (F.col("status") == "OK") & (F.col("status_code") != 1)
    ).count() == 0


def test_span_events_links_tracestate_round_trip(spark):
    """Events/Links/TraceState (generated_span.go:97-149,
    pdata/pcommon/trace_state.go) survive the JSON wire; event and link
    contents follow the build_spans contract."""
    from opentelemetry_collector_spark.operators.observe import build_spans
    from opentelemetry_collector_spark.operators.protobuf import (
        from_otlp_trace_json,
        to_otlp_trace_json,
    )

    parsed = _parsed(spark, SF_SMOKE)
    spans = build_spans(parsed)
    back = from_otlp_trace_json(to_otlp_trace_json(parsed))

    # trace_state is the deterministic W3C key=value passthrough
    assert spans.filter(
        F.col("trace_state") != F.concat(
            F.lit("otelcol="), F.substring("trace_id", 1, 8)
        )
    ).count() == 0
    # sampled flag set on every materialized span
    from opentelemetry_collector_spark.functions.flags import (
        FLAG_SAMPLED,
        has_flag,
    )

    assert back.filter(~has_flag("flags", FLAG_SAMPLED)).count() == 0
    # events: 2 on OK spans, 3 (incl. 'error') on ERROR spans
    n_err = spans.filter(F.col("status_code") == 2).count()
    assert n_err > 0, "fixture must contain failed tool calls"
    assert back.filter(F.size("events") == 3).count() == n_err
    assert back.filter(F.size("events") == 2).count() == back.count() - n_err
    ev_names = back.select(F.explode("events.name").alias("n"))
    assert {r.n for r in ev_names.distinct().collect()} == {
        "call_started", "call_ended", "error"
    }
    # links: every non-first span of a conversation links to its predecessor
    n_convs_with_spans = (
        spans.select("conv_id").distinct().count()
    )
    assert back.filter(F.size("links") == 1).count() == (
        back.count() - n_convs_with_spans
    )
    # round-trip equality of the nested arrays themselves
    a = spans.select("conv_id", "turn_idx", "trace_state", "events", "links")
    b = back.select("conv_id", "turn_idx", "trace_state", "events", "links")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_metric_json_round_trip(spark):
    """pmetric JSON wire: the decoded histogram points carry
    histogram_explicit's totals (points, duration sum, per-bucket
    counts), and the duration sum is every span's."""
    from opentelemetry_collector_spark.operators.metrics import (
        histogram_explicit,
    )
    from opentelemetry_collector_spark.operators.protobuf import (
        from_otlp_metric_json,
        to_otlp_metric_json,
    )

    parsed = _parsed(spark, SF_SMOKE)
    hist = histogram_explicit(parsed)
    back = from_otlp_metric_json(to_otlp_metric_json(parsed))
    assert back.count() == hist.count() > 0
    cols = ["n_points", "sum_value"] + [
        c for c in hist.columns if c.startswith(("bucket_le_", "bucket_gt_"))
    ]

    def totals(df):
        return df.agg(*[F.sum(c).alias(c) for c in cols]).collect()[0]

    assert totals(back) == totals(hist)
    spans = parsed.filter(F.col("trace_id").isNotNull())
    dur_total = spans.agg(F.sum("dur_ms")).collect()[0][0]
    assert totals(back)["sum_value"] == dur_total


def test_red_metrics_error_rate_bounds(spark):
    red = q_span_red_metrics(spark, SF_SMOKE)
    bad = red.filter(
        (F.col("error_rate") < 0)
        | (F.col("error_rate") > 1)
        | (F.col("n_errors") > F.col("n_calls"))
    )
    assert bad.count() == 0
    assert red.agg(F.sum("n_calls")).collect()[0][0] == _span_count(spark)


def test_otlp_document_round_trip(spark):
    """Nested resource->scope->records OTLP/JSON request: one document per
    conversation, explode recovers every record with its fields, and
    records inside each document are in turn order (slice-order parity)."""
    from opentelemetry_collector_spark.functions.otlpjson import (
        logs_request_from_otlp_json,
    )
    from opentelemetry_collector_spark.operators.protobuf import (
        from_otlp_request_json,
        to_otlp_request_json,
    )

    parsed = _parsed(spark, SF_SMOKE)
    docs = to_otlp_request_json(parsed)
    assert docs.count() == parsed.select("conv_id").distinct().count()

    back = from_otlp_request_json(docs)
    cols = ["conv_id", "turn_idx", "role", "ts", "severity_number",
            "severity_text", "trace_id", "span_id", "attributes_json", "body"]
    a, b = parsed.select(cols), back.select(cols)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    for doc in docs.collect():
        ((res, _scope, recs),) = logs_request_from_otlp_json(
            doc.otlp_json_request
        )
        assert res["conv_id"] == doc.conv_id
        idxs = [r["attributes"]["otelcol.turn_idx"] for r in recs]
        assert idxs == sorted(idxs)


def test_summary_approx_close_to_exact(spark):
    """engine.approxQuantiles path: percentile_approx must land within a
    tight rank-error bound of the exact per-series sort (sketch size 10000
    over a few thousand points -> near-exact), and count/sum identical."""
    from opentelemetry_collector_spark.operators.metrics import (
        summary_quantiles,
    )

    parsed = _parsed(spark, SF_SMOKE)
    exact = {r.tool: r for r in summary_quantiles(parsed, approx=False).collect()}
    approx = {r.tool: r for r in summary_quantiles(parsed, approx=True).collect()}
    assert exact.keys() == approx.keys() and exact
    # ground-truth order statistics per series: the approx value must be an
    # actual data point adjacent to the interpolated quantile position
    # (percentile_approx returns a member value; exact interpolates between
    # the two neighbors, so the sketch answer must be one of them)
    vals = {}
    for r in (
        parsed.filter(F.col("trace_id").isNotNull())
        .select("parsed_tool", "dur_ms")
        .collect()
    ):
        vals.setdefault(r.parsed_tool, []).append(r.dur_ms)
    for tool, e in exact.items():
        a = approx[tool]
        assert a.n_points == e.n_points and a.sum_value == e.sum_value
        xs = sorted(vals[tool])
        for q, p in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
            pos = q * (len(xs) - 1)
            neighbors = {xs[int(pos)], xs[min(int(pos) + 1, len(xs) - 1)]}
            assert getattr(a, p) in neighbors, (tool, p, getattr(a, p), neighbors)


def test_approx_gate_drives_summary_path(spark):
    """The feature gate flips the implementation; stable/deprecated gates
    reject Set entirely (gate.go semantics)."""
    import pytest as _pytest

    from opentelemetry_collector_spark.plans.featuregate import Registry

    r = Registry()
    r.register("engine.approxQuantiles", "alpha")
    assert not r.is_enabled("engine.approxQuantiles")
    r.set("engine.approxQuantiles", True)
    assert r.is_enabled("engine.approxQuantiles")
    r.register("engine.stableThing", "stable")
    with _pytest.raises(ValueError):
        r.set("engine.stableThing", True)  # even a no-op override is rejected


def test_cumulative_to_delta_inverts_forward_conversion(spark):
    """cumulative->delta recovers the original per-point values everywhere a
    baseline exists; first point of each stream is NULL (dropped-baseline
    semantics)."""
    from opentelemetry_collector_spark.operators.metrics import (
        sum_cumulative_to_delta,
        sum_delta_to_cumulative,
    )
    from opentelemetry_collector_spark.queries import _parsed

    parsed = _parsed(spark, SF_SMOKE)
    fwd = sum_delta_to_cumulative(parsed).withColumnRenamed(
        "delta_value", "orig_value"
    )
    back = sum_cumulative_to_delta(parsed)
    joined = fwd.join(back, ["conv_id", "tool", "turn_idx"]).cache()
    try:
        assert joined.count() > 0
        # non-first points: recovered delta == original value
        mismatch = joined.filter(
            F.col("delta_value").isNotNull()
            & (F.col("delta_value") != F.col("orig_value"))
        ).count()
        assert mismatch == 0
        # exactly one NULL delta per stream (the baseline-less first point)
        n_null = joined.filter(F.col("delta_value").isNull()).count()
        n_streams = joined.select("conv_id", "tool").distinct().count()
        assert n_null == n_streams
    finally:
        joined.unpersist()


def test_cumulative_to_delta_reset_semantics(spark):
    """A stream reset (cumulative drops) restarts the baseline: the point's
    delta is its full cumulative value (OTel data-model reset rule)."""
    import datetime

    from opentelemetry_collector_spark.operators.metrics import (
        sum_cumulative_to_delta,
    )

    ts = datetime.datetime(2026, 1, 1)
    rows = [
        # stream (c1, sql): 5, 12, then reset to 3, then 10
        ("c1", 0, "sql", ts, 5),
        ("c1", 1, "sql", ts, 7),
        ("c1", 2, "sql", ts, -9),   # running sum: 5, 12, 3 (reset), 13
        ("c1", 3, "sql", ts, 10),
    ]
    parsed = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, parsed_tool string, "
              "ts timestamp_ntz, dur_ms long"
    ).withColumn("trace_id", F.lit("aa"))
    out = {
        r["turn_idx"]: r["delta_value"]
        for r in sum_cumulative_to_delta(parsed).collect()
    }
    assert out[0] is None          # no baseline
    assert out[1] == 7             # 12 - 5
    assert out[2] == 3             # reset: cumulative 3 < 12 -> full value
    assert out[3] == 10            # 13 - 3


def test_composite_policy_precedence(spark):
    """Composite = plain tail sampling plus a probabilistic fallback:
    every (trace, policy) the two-policy form keeps must re-appear
    unchanged, and every extra trace must carry keep_policy
    'probabilistic' (first-match-wins composition)."""
    from opentelemetry_collector_spark.queries import PIPELINE_QUERIES

    plain = {
        (r.conv_id, r.keep_policy)
        for r in PIPELINE_QUERIES["tail_sampling"](spark, SF_CORRECT)
        .select("conv_id", "keep_policy").distinct().collect()
    }
    comp = {
        (r.conv_id, r.keep_policy)
        for r in PIPELINE_QUERIES["tail_sampling_composite"](spark, SF_CORRECT)
        .select("conv_id", "keep_policy").distinct().collect()
    }
    assert plain <= comp
    extras = comp - plain
    assert extras, "probabilistic fallback never fired"
    assert all(p == "probabilistic" for _, p in extras)


def test_span_edges_conservation(spark):
    """Each conversation with k spans contributes exactly k-1 edges, so
    sum(n_calls) == total spans - conversations-with-spans."""
    from opentelemetry_collector_spark.queries import PIPELINE_QUERIES, _parsed
    from pyspark.sql import functions as F

    parsed = _parsed(spark, SF_CORRECT).filter(F.col("trace_id").isNotNull())
    n_spans = parsed.count()
    n_convs = parsed.select("conv_id").distinct().count()
    edges = PIPELINE_QUERIES["span_edges"](spark, SF_CORRECT)
    total_calls = edges.agg(F.sum("n_calls")).collect()[0][0]
    assert total_calls == n_spans - n_convs


def test_staleness_markers_fire_and_sit_inside_the_gap(spark):
    """Every marker carries the NoRecordedValue flag and is timestamped
    prev_ts + threshold, strictly inside its gap; streams with no
    over-threshold gap emit nothing."""
    from opentelemetry_collector_spark.functions.flags import (
        FLAG_NO_RECORDED_VALUE,
    )
    from opentelemetry_collector_spark.operators.metrics import (
        STALE_GAP_S,
        staleness_markers,
    )
    from opentelemetry_collector_spark.queries import _parsed

    parsed = _parsed(spark, SF_CORRECT)
    rows = staleness_markers(parsed).collect()
    assert rows, "fixture has over-threshold stream gaps by construction"
    # ground truth: the actual per-stream timestamp sequences
    streams: dict[tuple, list[int]] = {}
    for p in (
        parsed.filter(F.col("trace_id").isNotNull())
        .select("conv_id", "parsed_tool", "turn_idx", "ts")
        .collect()
    ):
        streams.setdefault((p.conv_id, p.parsed_tool), []).append(
            (p.turn_idx, int(p.ts.timestamp()))
        )
    for s in streams.values():
        s.sort()
    by_turn = {
        (c, t): {turn: e for turn, e in pts}
        for (c, t), pts in streams.items()
    }
    for r in rows:
        assert r.flags == FLAG_NO_RECORDED_VALUE
        assert r.gap_s > STALE_GAP_S
        # marker sits strictly inside the real silent interval:
        # prev_ts < marker < current_ts, at exactly prev_ts + threshold
        pts = by_turn[(r.conv_id, r.tool)]
        cur = pts[r.turn_idx]
        prev = max(e for turn, e in streams[(r.conv_id, r.tool)]
                   if turn < r.turn_idx)
        assert r.marker_ts_epoch == prev + STALE_GAP_S
        assert prev < r.marker_ts_epoch < cur
        assert r.gap_s == cur - prev
