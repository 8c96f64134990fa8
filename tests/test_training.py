"""SFT loss-mask spans + conversation packing (operators/training.py):
DuckDB-oracle parity on a handcrafted fixture (the oracle sweep in
tests/test_pipeline_oracle.py covers the events-derived transcripts),
python ground-truth recounts, the shared
token-model cross-op invariant, plan guards (incl. exchange elision on
the production bucketed layout), and the config-built processors."""

from __future__ import annotations

import math

import duckdb
import pandas as pd
import pytest

from opentelemetry_collector_spark.operators.training import (
    CONV_PACK_BUDGET_TOKENS,
    CONVERSATION_PACK_ORACLE,
    SFT_LOSS_MASK_ORACLE,
    TURN_OVERHEAD_TOKENS,
    conversation_pack,
    sft_loss_mask,
)
from opentelemetry_collector_spark.sources.transcripts import (
    events_to_transcripts,
)
from tests.conftest import SF_SMOKE

# (conv_id, turn_idx, role, text) — all four roles, empty text, unicode,
# a NULL text (coalesce path), and one conversation long enough to be
# oversize on its own (> CONV_PACK_BUDGET_TOKENS * 4 chars).
FIXTURE = [
    ("conv-a", 0, "system", "system prompt update 1"),
    ("conv-a", 1, "user", "hello there, what is 2+2?"),
    ("conv-a", 2, "assistant", "[INFO] calling tool=python dur_ms=3"),
    ("conv-a", 3, "tool", "[INFO] tool=python status=OK result: 4"),
    ("conv-a", 4, "assistant", "the answer is 4 é中文"),
    ("conv-b", 0, "user", ""),
    ("conv-b", 1, "assistant", None),
    ("conv-c", 0, "user", "x" * (CONV_PACK_BUDGET_TOKENS * 4 + 40)),
    ("conv-d", 0, "user", "short."),
    ("conv-d", 1, "assistant", "ok."),
]


def _fixture_pdf() -> pd.DataFrame:
    pdf = pd.DataFrame(FIXTURE, columns=["conv_id", "turn_idx", "role", "text"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    return pdf


def _fixture_transcripts(spark):
    return spark.createDataFrame(
        FIXTURE, "conv_id string, turn_idx int, role string, text string"
    )


def _cmp(sdf, sql: str, con: duckdb.DuckDBPyConnection) -> None:
    s, d = sdf.toPandas(), con.sql(sql).df()
    cols = sorted(s.columns)
    assert cols == sorted(d.columns)
    s = s[cols].sort_values(cols).reset_index(drop=True)
    d = d[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(s, d, check_dtype=False)


def _fixture_con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.register("transcripts", _fixture_pdf())
    return con


def test_sft_loss_mask_matches_duckdb_oracle_fixture(spark):
    _cmp(
        sft_loss_mask(spark, "", transcripts=_fixture_transcripts(spark)),
        SFT_LOSS_MASK_ORACLE,
        _fixture_con(),
    )


def test_conversation_pack_matches_duckdb_oracle_fixture(spark):
    _cmp(
        conversation_pack(
            spark, "", transcripts=_fixture_transcripts(spark)
        ),
        CONVERSATION_PACK_ORACLE,
        _fixture_con(),
    )


def _py_tokens(text: str | None) -> int:
    return math.ceil(len(text or "") / 4) + TURN_OVERHEAD_TOKENS


def test_sft_spans_tile_each_conversation_python_recount(spark):
    rows = sorted(
        sft_loss_mask(
            spark, "", transcripts=_fixture_transcripts(spark)
        ).collect(),
        key=lambda r: (r.conv_id, r.turn_idx),
    )
    by_text = {(c, i): t for c, i, _r, t in FIXTURE}
    offset: dict[str, int] = {}
    for r in rows:
        assert r.n_tokens == _py_tokens(by_text[(r.conv_id, r.turn_idx)])
        assert r.tok_start == offset.get(r.conv_id, 0), (
            "spans must tile: start == previous end (0 for the first turn)"
        )
        assert r.tok_end == r.tok_start + r.n_tokens
        assert r.loss_mask == (r.role == "assistant")
        offset[r.conv_id] = r.tok_end
    # all four roles exercised, both mask sides
    roles = {r.role for r in rows}
    assert roles == {"system", "user", "assistant", "tool"}


def test_conversation_pack_greedy_recount_and_oversize(spark):
    got = conversation_pack(
        spark, "", transcripts=_fixture_transcripts(spark)
    ).collect()
    by_conv = {r.conv_id: r for r in got}
    # shared token model: pack n_tokens == sum of the python per-turn counts
    for conv in {c for c, *_ in FIXTURE}:
        expect = sum(
            _py_tokens(t) for c, _i, _r, t in FIXTURE if c == conv
        )
        assert by_conv[conv].n_tokens == expect
    assert by_conv["conv-c"].is_oversize
    assert not by_conv["conv-a"].is_oversize
    # greedy recount per bucket: replay the cumsum in ord_key order
    import hashlib

    def ord_key(conv: str) -> str:
        return hashlib.md5(f"{conv}:cpack-ord".encode()).hexdigest()

    buckets: dict[int, list] = {}
    for r in got:
        buckets.setdefault(r.pack_bucket, []).append(r)
    for rows in buckets.values():
        cum = 0
        for r in sorted(rows, key=lambda r: ord_key(r.conv_id)):
            assert r.cum_tokens == cum + r.n_tokens
            assert r.pack_seq == cum // CONV_PACK_BUDGET_TOKENS
            cum += r.n_tokens


def test_conversation_pack_flags_over_budget_packs(spark):
    """A pack is a start-offset window, so conversations each under the
    budget can share a pack whose summed n_tokens overruns it: every row of
    such a pack carries over_budget, as a python recount per (pack_bucket,
    pack_seq) and the DuckDB oracle say."""
    # 1204 tokens each: start offsets 0, 1204, 2408, ... put two
    # conversations in each pack of a stream, 2408 tokens > 2048
    rows = [(f"pack-{i:02d}", 0, "user", "y" * 4800) for i in range(40)]
    tx = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )
    got = conversation_pack(spark, "", transcripts=tx)
    packs: dict[tuple, list] = {}
    for r in got.collect():
        packs.setdefault((r.pack_bucket, r.pack_seq), []).append(r)
    for members in packs.values():
        over = sum(r.n_tokens for r in members) > CONV_PACK_BUDGET_TOKENS
        assert [r.over_budget for r in members] == [over] * len(members)
    shared = [r for members in packs.values() if len(members) > 1
              for r in members]
    assert shared
    assert all(r.over_budget and not r.is_oversize for r in shared)

    con = duckdb.connect()
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text"])
    con.register("transcripts", pdf)
    _cmp(got, CONVERSATION_PACK_ORACLE, con)


def test_pack_totals_equal_last_sft_span_end(spark):
    """The cross-op invariant the shared token model buys: a packed
    conversation's n_tokens == the last turn's tok_end."""
    tx = events_to_transcripts(spark, SF_SMOKE)
    spans = {
        r.conv_id: r.mx
        for r in sft_loss_mask(spark, "", transcripts=tx)
        .groupBy("conv_id")
        .agg({"tok_end": "max"})
        .withColumnRenamed("max(tok_end)", "mx")
        .collect()
    }
    packed = conversation_pack(spark, "", transcripts=tx).collect()
    assert len(packed) == len(spans)
    for r in packed:
        assert r.n_tokens == spans[r.conv_id]


def test_training_plan_shapes(spark, tmp_path):
    """100 TB shape: sft_loss_mask is ONE conv-keyed exchange + window
    over the scan (no Python eval, no cartesian); conversation_pack adds
    only the rollup exchange + the pack-bucket exchange."""
    path = str(tmp_path / "transcripts")
    events_to_transcripts(spark, SF_SMOKE).write.parquet(path)
    tx = spark.read.parquet(path)

    def plan(df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    p1 = plan(sft_loss_mask(spark, "", transcripts=tx))
    assert p1.count("Exchange") - p1.count("BroadcastExchange") == 1
    p2 = plan(conversation_pack(spark, "", transcripts=tx))
    assert p2.count("Exchange") - p2.count("BroadcastExchange") <= 2
    for p in (p1, p2):
        assert "BatchEvalPython" not in p
        assert "ArrowEvalPython" not in p
        assert "CartesianProduct" not in p
    # column pruning: neither op reads text-adjacent unused columns
    scans = [ln for ln in p1.splitlines() if "Scan parquet" in ln]
    assert scans and "ReadSchema" in scans[0]
    assert "tool" not in scans[0].split("ReadSchema:")[1]


def test_sft_loss_mask_is_exchange_free_on_bucketed_layout(spark, tmp_path):
    """On the production bucket(conv_id)+sortBy(turn_idx) layout the one
    inherent exchange elides: the op becomes a scan-local running sum."""
    from opentelemetry_collector_spark.sources.catalog import (
        write_bucketed_table,
    )

    spark.sql("DROP TABLE IF EXISTS transcripts_training_bucketed")
    write_bucketed_table(
        events_to_transcripts(spark, SF_SMOKE),
        "transcripts_training_bucketed",
        n_buckets=8,
        path=str(tmp_path / "tb"),
    )
    try:
        df = sft_loss_mask(
            spark,
            "",
            transcripts=spark.table("transcripts_training_bucketed"),
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan
    finally:
        spark.sql("DROP TABLE IF EXISTS transcripts_training_bucketed")


def test_config_built_training_processors(spark, tmp_path):
    """sft_mask / conversation_pack as collector-style processors: the
    config-built pipeline equals the direct composition."""
    from opentelemetry_collector_spark.plans.config import ServiceConfig
    from opentelemetry_collector_spark.plans.service import run_service

    src = str(tmp_path / "transcripts.parquet")
    events_to_transcripts(spark, SF_SMOKE).write.parquet(src)
    tx = spark.read.parquet(src)
    for proc, direct in (
        ("sft_mask", sft_loss_mask),
        ("conversation_pack", conversation_pack),
    ):
        cfg = ServiceConfig.from_sources(
            {
                "receivers": {"transcripts_table": {"path": src}},
                "processors": {proc: {}},
                "exporters": {
                    "parquet": {"path": str(tmp_path / f"out_{proc}")}
                },
                "service": {
                    "pipelines": {
                        "train_prep": {
                            "receivers": ["transcripts_table"],
                            "processors": [proc],
                            "exporters": ["parquet"],
                        }
                    }
                },
            },
            env={},
        )
        got = run_service(spark, cfg)["train_prep"].frame.toPandas()
        want = direct(spark, "", transcripts=tx).toPandas()
        cols = sorted(want.columns)
        assert sorted(got.columns) == cols
        pd.testing.assert_frame_equal(
            got[cols].sort_values(cols).reset_index(drop=True),
            want[cols].sort_values(cols).reset_index(drop=True),
        )


def test_shipped_sft_example_runs_end_to_end(spark, tmp_path):
    """examples/sft_prep_pipeline.yaml resolves from the env and runs
    both pipelines (spans + packs) off one shared transcripts source."""
    from pathlib import Path

    from opentelemetry_collector_spark.plans.config import ServiceConfig
    from opentelemetry_collector_spark.plans.service import run_service

    example = str(
        Path(__file__).resolve().parent.parent
        / "examples" / "sft_prep_pipeline.yaml"
    )
    events_to_transcripts(spark, SF_SMOKE).write.parquet(
        str(tmp_path / "transcripts.parquet")
    )
    cfg = ServiceConfig.from_sources(
        example, env={"DATA_DIR": str(tmp_path), "OUT_DIR": str(tmp_path)}
    )
    got = run_service(spark, cfg)
    assert set(got) == {"spans", "packs"}
    spans = spark.read.parquet(str(tmp_path / "sft_spans"))
    packs = spark.read.parquet(str(tmp_path / "packs"))
    n_turns = events_to_transcripts(spark, SF_SMOKE).count()
    assert spans.count() == n_turns
    assert packs.count() == spans.select("conv_id").distinct().count()
    assert spans.filter("loss_mask AND role <> 'assistant'").count() == 0


def test_fuzz_random_transcripts_match_python_ground_truth(spark):
    """One Spark pass over a seeded-random 80-conversation corpus ≡ the
    python recount for BOTH ops: every span, every mask bit, every pack
    assignment (edge cases salted in: empty text, unicode, single-turn
    conversations, one conversation past the pack budget)."""
    import hashlib
    import random

    rng = random.Random(7)
    roles = ["system", "user", "assistant", "tool"]
    words = ["alpha", "beta", "gamma", "é中文", "tool=x", "ok.", ""]
    rows = []
    for c in range(80):
        conv = f"conv-f{c:03d}"
        n_turns = rng.randrange(1, 9)
        for t in range(n_turns):
            if rng.random() < 0.05:
                text = ""
            elif c == 3 and t == 0:
                text = "y" * (CONV_PACK_BUDGET_TOKENS * 4 + 8)
            else:
                text = " ".join(
                    rng.choice(words) for _ in range(rng.randrange(0, 40))
                )
            rows.append((conv, t, rng.choice(roles), text))
    tx = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )
    # spans: exact python replay per conversation
    got = sorted(
        sft_loss_mask(spark, "", transcripts=tx).collect(),
        key=lambda r: (r.conv_id, r.turn_idx),
    )
    by_key = {(c, t): txt for c, t, _r, txt in rows}
    offset: dict[str, int] = {}
    for r in got:
        assert r.n_tokens == _py_tokens(by_key[(r.conv_id, r.turn_idx)])
        assert r.tok_start == offset.get(r.conv_id, 0)
        assert r.tok_end == r.tok_start + r.n_tokens
        assert r.loss_mask == (r.role == "assistant")
        offset[r.conv_id] = r.tok_end
    # packs: totals == span ends, greedy cumsum replay per bucket
    packed = conversation_pack(spark, "", transcripts=tx).collect()
    assert {r.conv_id: r.n_tokens for r in packed} == offset
    buckets: dict[int, list] = {}
    for r in packed:
        buckets.setdefault(r.pack_bucket, []).append(r)

    def ord_key(conv: str) -> str:
        return hashlib.md5(f"{conv}:cpack-ord".encode()).hexdigest()

    for rs in buckets.values():
        cum = 0
        for r in sorted(rs, key=lambda r: ord_key(r.conv_id)):
            assert r.cum_tokens == cum + r.n_tokens
            assert r.pack_seq == cum // CONV_PACK_BUDGET_TOKENS
            assert r.is_oversize == (r.n_tokens > CONV_PACK_BUDGET_TOKENS)
            cum += r.n_tokens
    assert any(r.is_oversize for r in packed)  # the salted giant conv
