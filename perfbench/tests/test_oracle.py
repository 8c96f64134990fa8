"""The DuckDB oracle checks catch an injected off-by-one row."""

import numpy as np
import pyarrow.parquet as pq
import pytest

import gen
import oracle


@pytest.fixture(scope="module")
def files(tmp_path_factory):
    d = tmp_path_factory.mktemp("t")
    t = gen.transcripts(np.random.default_rng(1), 2000, gen.EventMix())
    pq.write_table(t, d / "part-0.parquet")
    return [str(d / "part-0.parquet")]


@pytest.fixture(scope="module")
def con():
    return oracle.connect()


def test_bulk_check_passes_on_oracle_output(con, files):
    counts = oracle.sink_counts(con, files)
    totals = oracle.routed_totals(oracle.sink_totals(con, files))
    assert totals["n_input"] == 2000 and totals["n_dl"] > 0
    assert oracle.check_bulk(counts, totals, list(counts), dict(totals)) == []


def test_bulk_check_catches_off_by_one(con, files):
    counts = oracle.sink_counts(con, files)
    totals = oracle.routed_totals(oracle.sink_totals(con, files))
    bumped = list(counts)
    b, role, tool, n, n_err = bumped[0]
    bumped[0] = (b, role, tool, n + 1, n_err)
    assert oracle.check_bulk(counts, totals, bumped, dict(totals))
    off = dict(totals, n_dl=totals["n_dl"] - 1)
    assert oracle.check_bulk(counts, totals, list(counts), off)


def _tick_output(expected):
    per_sink = dict(expected)
    n = sum(expected.values())
    ok = n - expected.get("dead_letter", 0)
    # all rows in bucket 0, empty buckets 1..3
    ledger = [(0, n, ok, n - ok)] + [(b, 0, 0, 0) for b in (1, 2, 3)]
    return per_sink, {0: n}, ledger, n


def test_tick_check_passes_on_consistent_output(con, files):
    expected = oracle.sink_totals(con, files)
    per_sink, per_bucket, ledger, n = _tick_output(expected)
    assert oracle.check_tick(expected, 4, n, per_sink, per_bucket, ledger) == []


def test_tick_check_catches_off_by_one(con, files):
    expected = oracle.sink_totals(con, files)
    per_sink, per_bucket, ledger, n = _tick_output(expected)
    sink = next(iter(per_sink))
    assert oracle.check_tick(expected, 4, n, dict(per_sink, **{sink: per_sink[sink] + 1}),
                             per_bucket, ledger)
    assert oracle.check_tick(expected, 4, n, per_sink, {0: n - 1}, ledger)
    b, n_in, ok, dl = ledger[0]
    assert oracle.check_tick(expected, 4, n, per_sink, per_bucket,
                             [(b, n_in, ok + 1, dl)] + ledger[1:])


def test_pairs_check_catches_a_missing_pair():
    pairs = [(1, 2, 0.75), (3, 9, 0.6)]
    assert oracle.check_pairs(pairs, list(pairs)) == []
    assert oracle.check_pairs(pairs, pairs[:1])


def test_minhash_oracle_equals_the_engine_oracle(con, tmp_path):
    from opentelemetry_collector_spark.operators.dedup import DEDUP_MINHASH_ORACLE

    path = tmp_path / "documents.parquet"
    pq.write_table(gen.documents(np.random.default_rng(4), 300, gen.DocMix()), path)
    con.sql(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM '{path}'")
    reference = sorted(con.sql(DEDUP_MINHASH_ORACLE).fetchall())
    assert reference
    assert oracle.minhash_pairs(con, str(path)) == reference
