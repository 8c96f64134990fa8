"""Supervised NB log-odds quality classifier (operators/quality.py):
DuckDB-oracle parity (train+score in one SQL vs the decoupled Spark
train→apply path), python ground-truth recount, keep-rule sanity on
distinctive vocabularies, scoring a second unlabeled corpus with a
persisted model, plan guards, and the config-built processor."""

from __future__ import annotations

import hashlib
import math

import duckdb
import pandas as pd

from opentelemetry_collector_spark.operators.quality import (
    CLASSIFIER_ORACLE,
    CLF_BUCKETS,
    CLF_SALT,
    doc_classifier_score,
    train_quality_classifier,
)

# labeled seed: positive docs share a "clean prose" vocabulary, negative
# docs a "boilerplate/spam" vocabulary; NULL labels = the corpus to score.
# Unlabeled docs mix both vocabularies plus words unseen in training
# (exercising the default-weight sentinel).
FIXTURE = [
    (0, "the quiet morning essay considers history with careful prose", True),
    (1, "a thoughtful essay on science history and careful argument", True),
    (2, "careful prose considers the evidence with quiet argument", True),
    (3, "click here buy now free offer winner casino bonus deal", False),
    (4, "free bonus click now casino offer buy winner prize", False),
    (5, "subscribe click winner free deal bonus casino offer now", False),
    (6, "the morning essay considers science with careful argument", None),
    (7, "click buy free casino bonus winner offer now deal prize", None),
    (8, "careful essay prose zebra quasar unseen tokens here", None),
    (9, "casino click znovel zwords appear offer free bonus", None),
]


def _fixture_pdf() -> pd.DataFrame:
    pdf = pd.DataFrame(FIXTURE, columns=["doc_id", "text", "label"])
    pdf["doc_id"] = pdf["doc_id"].astype("int64")
    pdf["label"] = pdf["label"].astype(object)
    return pdf


def _fixture_docs(spark):
    return spark.createDataFrame(
        FIXTURE, "doc_id long, text string, label boolean"
    )


def _labeled_rows():
    return [(i, t, lb) for i, t, lb in FIXTURE if lb is not None]


def test_classifier_matches_duckdb_oracle(spark):
    docs = _fixture_docs(spark)
    got = doc_classifier_score(
        spark, "", docs=docs, labeled=docs
    ).toPandas()
    con = duckdb.connect()
    con.register("documents", _fixture_pdf())
    want = con.sql(CLASSIFIER_ORACLE).df()
    cols = sorted(got.columns)
    assert cols == sorted(want.columns)
    pd.testing.assert_frame_equal(
        got[cols].sort_values("doc_id").reset_index(drop=True),
        want[cols].sort_values("doc_id").reset_index(drop=True),
        check_dtype=False,
    )


def _py_bucket(w: str) -> int:
    md5 = hashlib.md5((w + CLF_SALT).encode()).hexdigest()
    return int(md5[:8], 16) % CLF_BUCKETS


def _py_model():
    cp: dict[int, int] = {}
    cn: dict[int, int] = {}
    p_total = n_total = pos_docs = neg_docs = 0
    for _i, text, label in _labeled_rows():
        if label:
            pos_docs += 1
        else:
            neg_docs += 1
        for w in text.lower().split():
            b = _py_bucket(w)
            if label:
                cp[b] = cp.get(b, 0) + 1
                p_total += 1
            else:
                cn[b] = cn.get(b, 0) + 1
                n_total += 1
    weights = {
        b: round(
            math.log(
                ((cp.get(b, 0) + 1) * (n_total + CLF_BUCKETS))
                / ((cn.get(b, 0) + 1) * (p_total + CLF_BUCKETS))
            )
            * 1000
        )
        for b in set(cp) | set(cn)
    }
    bias = round(math.log((pos_docs + 1) / (neg_docs + 1)) * 1000)
    default = round(
        math.log((n_total + CLF_BUCKETS) / (p_total + CLF_BUCKETS)) * 1000
    )
    return weights, bias, default


def _py_score(text: str):
    weights, bias, default = _py_model()
    toks = [w for w in text.lower().split() if w]
    score = bias + sum(
        weights.get(_py_bucket(w), default) for w in toks
    )
    return len(toks), score


def test_classifier_python_recount(spark):
    docs = _fixture_docs(spark)
    got = {
        r.doc_id: r
        for r in doc_classifier_score(
            spark, "", docs=docs, labeled=docs
        ).collect()
    }
    assert set(got) == {i for i, _t, _l in FIXTURE}
    for doc_id, text, _label in FIXTURE:
        n, score = _py_score(text)
        assert got[doc_id].n_tokens == n, doc_id
        assert got[doc_id].score_milli == score, doc_id
        assert got[doc_id].keep == (score > 0), doc_id


def test_classifier_keep_rule_separates_the_vocabularies(spark):
    docs = _fixture_docs(spark)
    got = {
        r.doc_id: r.keep
        for r in doc_classifier_score(
            spark, "", docs=docs, labeled=docs
        ).collect()
    }
    # the unlabeled prose doc keeps, the unlabeled spam doc drops; both
    # unseen-token docs resolve by their seen-vocabulary evidence
    assert got[6] is True and got[8] is True
    assert got[7] is False and got[9] is False
    # labeled docs score consistently with their own labels
    for i, _t, lb in _labeled_rows():
        assert got[i] == lb


def test_persisted_model_scores_a_second_corpus(spark, tmp_path):
    """The decoupled production shape: train once, persist the bounded
    model table, score a corpus that has no labels at all."""
    labeled = spark.createDataFrame(
        _labeled_rows(), "doc_id long, text string, label boolean"
    )
    path = str(tmp_path / "clf_model")
    train_quality_classifier(spark, labeled).write.parquet(path)
    model = spark.read.parquet(path)
    assert model.count() <= CLF_BUCKETS + 3
    second = spark.createDataFrame(
        [
            (100, "careful essay prose considers quiet evidence"),
            (101, "click free casino bonus offer winner now"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r
        for r in doc_classifier_score(
            spark, "", docs=second, model=model
        ).collect()
    }
    assert got[100].keep is True and got[101].keep is False
    for doc_id, text in [(100, got[100]), (101, got[101])]:
        n, score = _py_score(
            dict((i, t) for i, t in
                 [(100, "careful essay prose considers quiet evidence"),
                  (101, "click free casino bonus offer winner now")])[doc_id]
        )
        assert text.n_tokens == n and text.score_milli == score


def test_persisted_model_refuses_another_bucket_count(spark, tmp_path):
    """A model hashes tokens into its own bucket count; scoring it with
    another count would look up the wrong weights, so the model records
    its count and scoring refuses a mismatch (and a model without the
    record)."""
    import pytest
    from pyspark.sql import functions as F

    labeled = spark.createDataFrame(
        _labeled_rows(), "doc_id long, text string, label boolean"
    )
    path = str(tmp_path / "clf_model_64")
    train_quality_classifier(spark, labeled, n_buckets=64).write.parquet(path)
    model = spark.read.parquet(path)
    docs = _fixture_docs(spark)
    with pytest.raises(ValueError, match=f"64.*{CLF_BUCKETS}"):
        doc_classifier_score(spark, "", docs=docs, model=model)
    # the matching count scores
    assert doc_classifier_score(
        spark, "", docs=docs, model=model, n_buckets=64
    ).count() == len(FIXTURE)
    with pytest.raises(ValueError, match="n_buckets"):
        doc_classifier_score(
            spark, "", docs=docs, model=model.filter(F.col("b") != -3),
            n_buckets=64,
        )


def test_classifier_plan_broadcasts_the_bounded_model(spark, tmp_path):
    """100 TB shape: the ≤{CLF_BUCKETS}+3-row model rides a broadcast
    join onto the token stream — no sort-merge join, no cartesian over
    the corpus, no Python eval."""
    src = str(tmp_path / "docs.parquet")
    _fixture_docs(spark).write.parquet(src)
    docs = spark.read.parquet(src)
    df = doc_classifier_score(spark, "", docs=docs, labeled=docs)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def _run_classifier_filter(spark, tmp_path, docs, label_col="label"):
    from opentelemetry_collector_spark.plans.config import ServiceConfig
    from opentelemetry_collector_spark.plans.service import run_service

    src = str(tmp_path / "docs.parquet")
    docs.write.parquet(src)
    cfg = ServiceConfig.from_sources(
        {
            "receivers": {"documents": {"path": src}},
            "processors": {"classifier_filter": {"label_col": label_col}},
            "exporters": {"parquet": {"path": str(tmp_path / "kept")}},
            "service": {
                "pipelines": {
                    "clf": {
                        "receivers": ["documents"],
                        "processors": ["classifier_filter"],
                        "exporters": ["parquet"],
                    }
                }
            },
        },
        env={},
    )
    return run_service(spark, cfg)["clf"].frame


def test_config_built_classifier_filter(spark, tmp_path):
    got = _run_classifier_filter(spark, tmp_path, _fixture_docs(spark))
    kept = {r.doc_id for r in got.collect()}
    assert kept == {0, 1, 2, 6, 8}
    # the filter preserves the flowing frame's columns
    assert sorted(got.columns) == ["doc_id", "label", "text"]


def test_classifier_filter_refuses_a_label_col_with_no_labels(spark, tmp_path):
    """A label_col that is NULL on every row trains no model; the filter
    must refuse the config instead of passing every doc through."""
    import pytest
    from pyspark.sql import functions as F

    unlabeled = _fixture_docs(spark).withColumn(
        "label", F.lit(None).cast("boolean")
    )
    with pytest.raises(ValueError, match="label_col 'label'"):
        _run_classifier_filter(spark, tmp_path, unlabeled)
    assert not (tmp_path / "kept").exists()


def test_fuzz_random_labeled_corpus_matches_python_nb(spark):
    """Seeded-random labeled corpus (120 docs, skewed vocabularies,
    NULL-label scoring side, hash collisions guaranteed by a tight
    vocabulary): every score equals the python NB recount computed from
    the SAME random rows."""
    import random

    rng = random.Random(11)
    pos_words = ["prose", "essay", "careful", "quiet", "history", "argue"]
    neg_words = ["click", "free", "casino", "bonus", "winner", "offer"]
    both = pos_words + neg_words + ["the", "and", "zq1", "zq2"]
    rows = []
    for i in range(120):
        kind = rng.random()
        label = True if kind < 0.3 else False if kind < 0.6 else None
        pool = (
            pos_words + both if label
            else neg_words + both if label is False
            else both
        )
        text = " ".join(rng.choice(pool) for _ in range(rng.randrange(1, 25)))
        rows.append((i, text, label))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, label boolean"
    )

    # python NB over the random rows (same math as _py_model/_py_score
    # but bound to THIS corpus)
    cp: dict[int, int] = {}
    cn: dict[int, int] = {}
    p_total = n_total = pos_docs = neg_docs = 0
    for _i, text, label in rows:
        if label is None:
            continue
        if label:
            pos_docs += 1
        else:
            neg_docs += 1
        for w in text.lower().split():
            b = _py_bucket(w)
            if label:
                cp[b] = cp.get(b, 0) + 1
                p_total += 1
            else:
                cn[b] = cn.get(b, 0) + 1
                n_total += 1
    weights = {
        b: round(
            math.log(
                ((cp.get(b, 0) + 1) * (n_total + CLF_BUCKETS))
                / ((cn.get(b, 0) + 1) * (p_total + CLF_BUCKETS))
            )
            * 1000
        )
        for b in set(cp) | set(cn)
    }
    bias = round(math.log((pos_docs + 1) / (neg_docs + 1)) * 1000)
    default = round(
        math.log((n_total + CLF_BUCKETS) / (p_total + CLF_BUCKETS)) * 1000
    )

    got = {
        r.doc_id: r
        for r in doc_classifier_score(
            spark, "", docs=docs, labeled=docs
        ).collect()
    }
    assert set(got) == {i for i, t, _l in rows if t.strip()}
    for i, text, _label in rows:
        toks = [w for w in text.lower().split() if w]
        if not toks:
            continue
        score = bias + sum(weights.get(_py_bucket(w), default) for w in toks)
        assert got[i].n_tokens == len(toks), i
        assert got[i].score_milli == score, i
        assert got[i].keep == (score > 0), i
