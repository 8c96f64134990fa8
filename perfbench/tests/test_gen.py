"""The seeded generator: same seed, same bytes; another seed, other
inputs; transcripts come from the engine's derivation and parse as the
production grammar does."""

import re

import numpy as np
import pyarrow.parquet as pq

import gen
from opentelemetry_collector_spark.operators.parse import (
    DUR_PATTERN,
    SEV_PATTERN,
    SPAN_PATTERN,
    STATUS_PATTERN,
    TRACE_PATTERN,
)


def _transcripts(seed):
    return gen.transcripts(np.random.default_rng(seed), 3000, gen.EventMix())


def _docs(seed):
    return gen.documents(np.random.default_rng(seed), 400, gen.DocMix())


def test_same_seed_gives_identical_bytes(tmp_path):
    assert gen.parquet_bytes(_transcripts(7)) == gen.parquet_bytes(_transcripts(7))
    assert gen.parquet_bytes(_docs(7)) == gen.parquet_bytes(_docs(7))
    for run in ("a", "b"):
        (tmp_path / run).mkdir()
        gen.write_bulk_table(_transcripts(7), str(tmp_path / run), 4)
    for f in sorted((tmp_path / "a").iterdir()):
        assert f.read_bytes() == (tmp_path / "b" / f.name).read_bytes()


def test_different_seed_gives_different_inputs():
    assert not _transcripts(7).equals(_transcripts(8))
    assert not _docs(7).equals(_docs(8))


def test_bulk_layout_is_conv_hashed_and_ordered(tmp_path):
    gen.write_bulk_table(_transcripts(3), str(tmp_path), 4)
    seen = set()
    for f in sorted(tmp_path.iterdir()):
        rows = pq.read_table(f).select(["conv_id", "turn_idx"]).to_pylist()
        keys = [(r["conv_id"], r["turn_idx"]) for r in rows]
        assert keys == sorted(keys)
        convs = {c for c, _ in keys}
        assert not convs & seen  # each conversation lives in one file
        seen |= convs


def test_transcripts_follow_the_parse_grammar():
    t = _transcripts(5).to_pylist()
    assistant = [r for r in t if r["role"] == "assistant" and r["text"]]
    tool = [r for r in t if r["role"] == "tool" and r["text"]]
    assert assistant and tool
    for r in assistant:
        for pat in (SEV_PATTERN, TRACE_PATTERN, SPAN_PATTERN, DUR_PATTERN):
            assert re.search(pat, r["text"]), (pat, r["text"])
    for r in tool:
        assert re.search(SEV_PATTERN, r["text"]) and re.search(STATUS_PATTERN, r["text"])
    # dead-letter rows of both kinds are present
    assert any(r["text"] == "" for r in t)
    assert any(r["text"].startswith("[SEVERE]") for r in tool)


def test_time_split_continues_conversations():
    t = _transcripts(6)
    parts = gen.split_by_time(t, 4)
    assert sum(p.num_rows for p in parts) == t.num_rows
    assert all(abs(p.num_rows - t.num_rows / 4) <= 1 for p in parts)
    last_ts, last_turn = None, {}
    for p in parts:
        rows = p.to_pylist()
        if last_ts is not None:
            assert min(r["ts"] for r in rows) >= last_ts
        last_ts = max(r["ts"] for r in rows)
        for r in rows:  # turn numbers go on from the previous file
            assert r["turn_idx"] > last_turn.get(r["conv_id"], -1)
        for r in rows:
            last_turn[r["conv_id"]] = max(last_turn.get(r["conv_id"], -1), r["turn_idx"])


def test_documents_plant_near_duplicates():
    texts = _docs(9).column("text").to_pylist()
    copies = [s for s in texts if s.endswith(" dup")]
    assert len(copies) == round(len(texts) * gen.DocMix().dup_share)
    assert all(s.removesuffix(" dup") in texts for s in copies)

    def shingles(s):
        w = s.split(" ")
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    sh = [shingles(s) for s in texts]
    close = sum(
        1
        for i in range(len(sh))
        for j in range(i + 1, len(sh))
        if len(sh[i] & sh[j]) / len(sh[i] | sh[j]) >= 0.6
    )
    assert close > 0
