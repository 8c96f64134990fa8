"""Data-quality checks (operators/checks.py): single-pass metrics vs a
DuckDB recount, rule verdicts vs python ground truth, gate semantics,
plan shape, and the config-built quality_checks processor."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from opentelemetry_collector_spark.operators.checks import (
    QualityGateError,
    data_quality_metrics,
    quality_gate,
    quality_verdicts,
    validate_rules,
)
from tests.conftest import SF_SMOKE


def _frame(spark):
    pdf = pd.DataFrame({
        "doc_id": pd.array([0, 1, 2, 3, 4, 5], dtype="int64"),
        "lang": ["en", "en", "zh", None, "de", "en"],
        "n_chars": pd.array([10, 25, 0, 40, 25, 7], dtype="int64"),
        "score": [0.5, 0.25, 0.125, 0.75, 0.5, 1.0],  # float: min/max rejected
    })
    return spark.createDataFrame(pdf), pdf


def test_metrics_match_duckdb_recount(spark):
    df, pdf = _frame(spark)
    got = {m["column"]: m
           for m in data_quality_metrics(df, ["doc_id", "lang", "n_chars"])}
    con = duckdb.connect()
    con.register("t", pdf)
    for col in ("doc_id", "lang", "n_chars"):
        n, nn, nd, lo, hi = con.sql(
            f"SELECT count(*), count({col}), count(DISTINCT {col}),"
            f" cast(min({col}) AS varchar), cast(max({col}) AS varchar)"
            " FROM t"
        ).fetchone()
        m = got[col]
        assert (m["n"], m["n_nonnull"], m["n_distinct"]) == (n, nn, nd), col
        assert (m["min_value"], m["max_value"]) == (lo, hi), col


def test_verdicts_ground_truth(spark):
    df, _ = _frame(spark)
    rules = {
        "lang": {"max_null_frac": 0.25, "min_distinct": 3},
        "doc_id": {"min_value": 0, "max_value": 5, "not_empty": True},
        "n_chars": {"max_null_frac": 0.0, "min_value": 1},
    }
    got = {(v["column"], v["rule"]): v for v in quality_verdicts(df, rules)}
    # 1 null lang of 6 rows = 0.1667 <= 0.25 -> ok; 4 distinct (nulls
    # excluded by count_distinct) >= 3 -> ok
    assert got[("lang", "max_null_frac")]["ok"] is True
    assert got[("lang", "min_distinct")]["ok"] is True
    assert got[("doc_id", "min_value")]["ok"] is True
    assert got[("doc_id", "max_value")]["ok"] is True
    assert got[("doc_id", "not_empty")]["ok"] is True
    # n_chars has a 0 -> min_value 1 fails; no nulls -> frac ok
    assert got[("n_chars", "max_null_frac")]["ok"] is True
    assert got[("n_chars", "min_value")]["ok"] is False
    assert got[("n_chars", "min_value")]["value"] == "0"
    # exact integer cross-multiplication at the boundary: 1/6 vs 0.166
    tight = quality_verdicts(df, {"lang": {"max_null_frac": 0.166}})
    assert tight[0]["ok"] is False  # 1000*1 > 6*166
    loose = quality_verdicts(df, {"lang": {"max_null_frac": 0.167}})
    assert loose[0]["ok"] is True  # 1000*1 <= 6*167


def test_string_bounds_compare_lexically(spark):
    df, _ = _frame(spark)
    v = quality_verdicts(
        df, {"lang": {"min_value": "de", "max_value": "zz"}}
    )
    assert all(x["ok"] for x in v)
    v = quality_verdicts(df, {"lang": {"max_value": "en"}})
    assert v[0]["ok"] is False  # max is 'zh' > 'en'


def test_rule_validation_rejects_bad_specs(spark):
    df, _ = _frame(spark)
    with pytest.raises(ValueError, match="unknown column"):
        validate_rules(df, {"nope": {"not_empty": True}})
    with pytest.raises(ValueError, match="unknown quality rule"):
        validate_rules(df, {"lang": {"max_nulls": 1}})
    with pytest.raises(ValueError, match="integer or string"):
        validate_rules(df, {"score": {"min_value": 0}})


def test_gate_passes_through_or_raises_with_failures(spark):
    df, _ = _frame(spark)
    out = quality_gate(spark, df, {"doc_id": {"min_distinct": 6}})
    assert out is df  # untouched frame on success
    with pytest.raises(QualityGateError) as ei:
        quality_gate(spark, df, {
            "lang": {"max_null_frac": 0.0},
            "n_chars": {"min_value": 1},
        })
    failed = {(f["column"], f["rule"]) for f in ei.value.failures}
    assert failed == {("lang", "max_null_frac"), ("n_chars", "min_value")}


def test_metrics_are_one_aggregate_pass(spark):
    """Plan shape: the whole audit is ONE agg over ONE scan — partial
    HashAggregate/expand below a single exchange, never a scan or job
    per column."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    audited = docs.select("doc_id", "lang", "n_chars")
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1))]
    for c in audited.columns:
        aggs += [F.count(c), F.count_distinct(c)]
    plan = (
        audited.agg(*aggs)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Scan parquet") == 1
    # and the public entry computes correct values on real data
    m = {x["column"]: x for x in data_quality_metrics(audited)}
    assert m["doc_id"]["n_distinct"] == docs.count()
    assert m["lang"]["n_nonnull"] == docs.count()


def test_gate_composes_as_per_tick_admission_control(spark, tmp_path):
    """quality_gate inside IncrementalSource.process_new's action is the
    production ingest shape: a tick whose batch fails the rules raises,
    commits NOTHING (ledger unchanged, sink unwritten), and the source
    re-offers the same files next tick; a clean tick commits normally."""
    from pyspark.sql import functions as F

    from opentelemetry_collector_spark.sources.incremental import (
        IncrementalSource,
    )

    data = tmp_path / "in"
    sink = tmp_path / "out"
    rules = {"lang": {"max_null_frac": 0.0}}

    def write_batch(name, langs):
        spark.createDataFrame(
            [(i, lang) for i, lang in enumerate(langs)],
            "doc_id long, lang string",
        ).coalesce(1).write.parquet(str(data / name))

    def action(df):
        quality_gate(spark, df, rules)
        df.write.mode("append").parquet(str(sink))

    src = IncrementalSource(spark, str(data), str(tmp_path / "ledger"))

    write_batch("t1", ["en", "de"])
    r1 = src.process_new(action)
    assert r1["n_files"] == 1 and r1["n_rows"] == 2

    write_batch("t2", ["en", None])  # violates max_null_frac=0
    with pytest.raises(QualityGateError):
        src.process_new(action)
    assert spark.read.parquet(str(sink)).count() == 2  # nothing flowed
    pending = src.pending()
    assert pending is not None  # the refused files are still pending

    # operator remediation: relax the rule -> the SAME snapshot commits
    rules["lang"]["max_null_frac"] = 0.5
    r2 = src.process_new(action, pending=pending)
    assert r2["n_rows"] == 2 and src.pending() is None
    out = spark.read.parquet(str(sink))
    assert out.count() == 4
    assert out.filter(F.col("lang").isNull()).count() == 1


def test_config_built_quality_checks_processor(spark, tmp_path):
    from opentelemetry_collector_spark.plans.config import ServiceConfig
    from opentelemetry_collector_spark.plans.service import run_service

    def cfg(rules):
        return ServiceConfig.from_sources(
            {
                "receivers": {
                    "documents": {"path": f"{SF_SMOKE}/documents.parquet"}
                },
                "processors": {"quality_checks": {"rules": rules}},
                "exporters": {
                    "parquet": {"path": str(tmp_path / "gated")}
                },
                "service": {
                    "pipelines": {
                        "gate": {
                            "receivers": ["documents"],
                            "processors": ["quality_checks"],
                            "exporters": ["parquet"],
                        }
                    }
                },
            },
            env={},
        )

    ok = run_service(
        spark,
        cfg({"doc_id": {"not_empty": True},
             "lang": {"max_null_frac": 0.0}}),
    )["gate"].frame
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    assert ok.count() == docs.count()  # gate passes rows through intact

    with pytest.raises(QualityGateError):
        run_service(
            spark, cfg({"doc_id": {"min_distinct": 10 ** 9}})
        )
