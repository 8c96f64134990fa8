"""PII masking + C4 cleaning (operators/cleaning.py): DuckDB oracle
parity on a handcrafted fixture, python ground-truth recounts, plan
guards, processor positions, and the config-built pipeline."""

from __future__ import annotations

import re

import duckdb
import pandas as pd
import pytest

from opentelemetry_collector_spark.operators.cleaning import (
    C4_MIN_LINE_WORDS,
    C4_MIN_SENTENCES,
    C4_TERMINALS,
    DOC_C4_ORACLE,
    DOC_PII_ORACLE,
    PII_PATTERNS,
    _c4_oracle,
    doc_c4_filters,
    doc_pii_scrub,
)
from tests.conftest import SF_SMOKE

FIXTURE = [
    # every PII category, several per doc, mid-line and line-final
    (0, "contact bob.smith+x@corp.example.org or 10.2.3.44 now.\n"
        "ssn 123-45-6789 call +1-800-555-0199.\n"
        "card 4111111111111111 end here.\n"
        "also alice@x.io and 999-88-7777 fine.\n"
        "fifth line is a clean one today."),
    # line filter: short line, javascript line, unterminated lines
    (1, "no pii here at all.\n"
        "just plain text lines everywhere!\n"
        "short\n"
        "this has javascript inside it.\n"
        "but plenty of words remain for sure?\n"
        "and a final sentence. with two enders."),
    # page rules, one violation each
    (2, "lorem ipsum dolor sit amet.\nreal content follows here now.\n"
        "more real content with enders.\neven more lines ending well.\n"
        "five sentences at least total here."),
    (3, "curly { brace page should drop.\nsecond line fine here today.\n"
        "third line fine here today.\nfourth line fine here today.\n"
        "fifth line fine here today."),
    (4, "badword page content here now.\nsecond line fine here today.\n"
        "third line fine here today.\nfourth line fine here today.\n"
        "fifth line fine here today."),
    # zero kept lines (array_join('') vs DuckDB NULL parity case)
    (5, "only two lines no punct\nsecond one also unterminated"),
    # quote terminal + trailing whitespace before the terminal check
    (6, 'he said "fine by me."\nshe replied "done deal!"  \n'
        "third line lands here today.\nfourth line lands here today.\n"
        "fifth line lands here today."),
]


def _fixture_pdf() -> pd.DataFrame:
    pdf = pd.DataFrame(FIXTURE, columns=["doc_id", "text"])
    pdf["doc_id"] = pdf["doc_id"].astype("int64")
    return pdf


def _fixture_docs(spark):
    return spark.createDataFrame(_fixture_pdf())


def _cmp(sdf, sql: str) -> None:
    con = duckdb.connect()
    con.register("documents", _fixture_pdf())
    s, d = sdf.toPandas(), con.sql(sql).df()
    cols = sorted(s.columns)
    assert cols == sorted(d.columns)
    s = s[cols].sort_values(cols).reset_index(drop=True)
    d = d[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(s, d, check_dtype=False)


def test_pii_scrub_matches_duckdb_oracle(spark):
    _cmp(doc_pii_scrub(spark, "", docs=_fixture_docs(spark)),
         DOC_PII_ORACLE)


def test_c4_filters_match_duckdb_oracle(spark):
    _cmp(doc_c4_filters(spark, "", docs=_fixture_docs(spark)),
         DOC_C4_ORACLE)


def test_c4_badwords_variant_matches_duckdb_oracle(spark):
    _cmp(
        doc_c4_filters(
            spark, "", docs=_fixture_docs(spark), bad_words=("badword",)
        ),
        _c4_oracle(("badword",)),
    )


def _pii_recount(text: str):
    """Sequential-fold ground truth with python `re` (same pattern
    strings — they live in the Java ∩ RE2 ∩ `re` common subset)."""
    counts = {}
    for name, pat, repl in PII_PATTERNS:
        counts[f"n_{name}"] = len(re.findall(pat, text))
        text = re.sub(pat, repl, text)
    return text, counts


def test_pii_scrub_python_recount(spark):
    got = {
        r.doc_id: r.asDict()
        for r in doc_pii_scrub(
            spark, "", docs=_fixture_docs(spark)
        ).collect()
    }
    for doc_id, text in FIXTURE:
        want_text, want_counts = _pii_recount(text)
        row = got[doc_id]
        assert row["text"] == want_text, doc_id
        for k, v in want_counts.items():
            assert row[k] == v, (doc_id, k)
        assert row["pii_total"] == sum(want_counts.values())
        assert row["has_pii"] == (row["pii_total"] > 0)
    # the fixture exercises every category at least once
    totals = {
        k: sum(_pii_recount(t)[1][k] for _, t in FIXTURE)
        for k in [f"n_{c[0]}" for c in PII_PATTERNS]
    }
    assert all(v > 0 for v in totals.values()), totals


def _c4_line_keep_py(ln: str) -> bool:
    lt = ln.strip()
    return (
        lt[-1:] in C4_TERMINALS
        and len(lt.split(" ")) >= C4_MIN_LINE_WORDS
        and "javascript" not in lt.lower()
    )


def test_c4_python_recount(spark):
    got = {
        r.doc_id: r.asDict()
        for r in doc_c4_filters(
            spark, "", docs=_fixture_docs(spark), bad_words=("badword",)
        ).collect()
    }
    for doc_id, text in FIXTURE:
        lines = text.split("\n")
        kept = [ln.strip() for ln in lines if _c4_line_keep_py(ln)]
        clean = "\n".join(kept)
        row = got[doc_id]
        assert row["n_lines"] == len(lines), doc_id
        assert row["n_kept_lines"] == len(kept), doc_id
        assert row["clean_text"] == clean, doc_id
        n_sent = len(re.findall(r"[.!?]", clean))
        assert row["n_sentences"] == n_sent, doc_id
        want_keep = (
            n_sent >= C4_MIN_SENTENCES
            and "{" not in text and "}" not in text
            and "lorem ipsum" not in text.lower()
            and "badword" not in text.lower().replace("\n", " ").split(" ")
            and len(kept) >= 1
        )
        assert row["keep"] == want_keep, doc_id
    # the fixture exercises every rule on both sides
    assert {r["keep"] for r in got.values()} == {True, False}
    for rule in ("r_min_sentences", "r_no_brace", "r_no_lorem",
                 "r_no_badwords"):
        assert {r[rule] for r in got.values()} == {True, False}, rule


@pytest.mark.parametrize("op", [doc_pii_scrub, doc_c4_filters])
def test_cleaning_is_one_projection_no_shuffle_no_python(spark, op):
    """100 TB shape: a single narrow projection over the scan — no
    Exchange, no Python eval, one FileScan reading only (doc_id, text)."""
    df = op(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    scans = [ln for ln in plan.splitlines() if "Scan parquet" in ln]
    assert len(scans) == 1
    # column pruning reached the scan: only (doc_id, text) are read
    assert "ReadSchema" in scans[0]
    schema = scans[0].split("ReadSchema:")[1]
    assert "doc_id" in schema and "text" in schema
    for unused in ("lang", "source", "n_chars"):
        assert unused not in schema, unused


def test_pii_processor_position_rewrites_in_place(spark):
    docs = _fixture_docs(spark).selectExpr(
        "doc_id", "text", "'en' AS lang",
        "cast(length(text) AS bigint) AS n_chars"
    )
    out = doc_pii_scrub(spark, "", docs=docs, project=False)
    assert sorted(out.columns) == sorted(
        ["doc_id", "text", "lang", "n_chars", "pii_total"]
    )
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[0].text == _pii_recount(dict(FIXTURE)[0])[0]
    assert rows[0].n_chars == len(rows[0].text)
    assert rows[0].pii_total == 7 and rows[1].pii_total == 0
    assert out.count() == len(FIXTURE)  # masking never drops rows


def test_c4_processor_position_filters_and_rewrites(spark):
    docs = _fixture_docs(spark).selectExpr(
        "doc_id", "text", "'web' AS source",
        "cast(length(text) AS bigint) AS n_chars"
    )
    out = doc_c4_filters(
        spark, "", docs=docs, bad_words=("badword",), project=False
    )
    assert sorted(out.columns) == sorted(docs.columns)
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {0, 1, 6}  # 2=lorem 3=brace 4=badword 5=no lines
    for doc_id, r in rows.items():
        kept = [ln.strip() for ln in dict(FIXTURE)[doc_id].split("\n")
                if _c4_line_keep_py(ln)]
        assert r.text == "\n".join(kept)
        assert r.n_chars == len(r.text)
        assert r.source == "web"


def test_config_built_cleaning_pipeline(spark, tmp_path):
    """documents -> pii_scrub -> c4_filter via YAML config ≡ the direct
    operator composition on the same frame."""
    from opentelemetry_collector_spark.plans.config import ServiceConfig
    from opentelemetry_collector_spark.plans.service import run_service

    src = str(tmp_path / "docs.parquet")
    _fixture_docs(spark).selectExpr(
        "doc_id", "text", "cast(length(text) AS bigint) AS n_chars"
    ).write.parquet(src)
    cfg = ServiceConfig.from_sources(
        {
            "receivers": {"documents": {"path": src}},
            "processors": {
                "pii_scrub": {},
                "c4_filter": {"bad_words": ["badword"]},
            },
            "exporters": {"parquet": {"path": str(tmp_path / "clean")}},
            "service": {
                "pipelines": {
                    "clean": {
                        "receivers": ["documents"],
                        "processors": ["pii_scrub", "c4_filter"],
                        "exporters": ["parquet"],
                    }
                }
            },
        },
        env={},
    )
    got = run_service(spark, cfg)["clean"].frame
    docs = spark.read.parquet(src)
    want = doc_c4_filters(
        spark,
        "",
        docs=doc_pii_scrub(spark, "", docs=docs, project=False),
        bad_words=("badword",),
        project=False,
    )
    g = {r.doc_id: r for r in got.collect()}
    w = {r.doc_id: r for r in want.collect()}
    assert set(g) == set(w) and len(g) > 0
    for k in g:
        assert g[k].text == w[k].text
    assert sorted(got.columns) == sorted(want.columns)
    # the scrub ran BEFORE the line filter: placeholders survive
    assert any("<EMAIL>" in r.text for r in g.values())


def _random_corpus(n_docs: int = 200) -> pd.DataFrame:
    """Seeded fuzz corpus: random ASCII lines salted with PII shapes,
    rule triggers, edge whitespace, and empty docs. ASCII-only on
    purpose — lower() case folding beyond ASCII differs between the JVM
    and python in ways the ops don't promise to bridge."""
    import random

    rng = random.Random(42)
    words = ["alpha", "beta", "gamma", "delta", "words", "here", "now",
             "a", "bb", "ccc", "javascript", "lorem", "ipsum", "badword"]
    pii = [
        lambda: f"u{rng.randrange(99)}.x+tag@mail{rng.randrange(9)}.example.org",
        lambda: ".".join(str(rng.randrange(256)) for _ in range(4)),
        lambda: f"{rng.randrange(1000):03d}-{rng.randrange(100):02d}-"
                f"{rng.randrange(10000):04d}",
        lambda: f"+{rng.randrange(1, 99)}-{rng.randrange(1000):03d}-"
                f"{rng.randrange(10000):04d}",
        lambda: "".join(str(rng.randrange(10)) for _ in range(rng.randrange(13, 20))),
    ]
    enders = [".", "!", "?", '"', "", "", ":"]
    docs = []
    for i in range(n_docs):
        lines = []
        for _ in range(rng.randrange(0, 8)):
            toks = [rng.choice(words) for _ in range(rng.randrange(0, 7))]
            if rng.random() < 0.4:
                toks.insert(rng.randrange(len(toks) + 1), rng.choice(pii)())
            if rng.random() < 0.1:
                toks.append(rng.choice(["{", "}", "lorem ipsum"]))
            pad_l = " " * rng.randrange(0, 3)
            pad_r = " " * rng.randrange(0, 3)
            lines.append(pad_l + " ".join(toks) + rng.choice(enders) + pad_r)
        docs.append((i, "\n".join(lines)))
    pdf = pd.DataFrame(docs, columns=["doc_id", "text"])
    pdf["doc_id"] = pdf["doc_id"].astype("int64")
    return pdf


def test_fuzz_corpus_matches_python_ground_truth(spark):
    """One Spark pass over 200 seeded-random docs ≡ the python recount
    for BOTH ops — regex/split/trim engine parity beyond the handcrafted
    fixture."""
    pdf = _random_corpus()
    docs = spark.createDataFrame(pdf)
    texts = dict(zip(pdf["doc_id"], pdf["text"]))

    got_pii = {
        r.doc_id: r.asDict()
        for r in doc_pii_scrub(spark, "", docs=docs).collect()
    }
    n_with_pii = 0
    for doc_id, text in texts.items():
        want_text, want_counts = _pii_recount(text)
        assert got_pii[doc_id]["text"] == want_text, doc_id
        for k, v in want_counts.items():
            assert got_pii[doc_id][k] == v, (doc_id, k)
        n_with_pii += got_pii[doc_id]["pii_total"] > 0
    assert n_with_pii > 20  # the corpus actually exercises the scrub

    got_c4 = {
        r.doc_id: r.asDict()
        for r in doc_c4_filters(
            spark, "", docs=docs, bad_words=("badword",)
        ).collect()
    }
    kept_pages = 0
    for doc_id, text in texts.items():
        lines = text.split("\n")
        kept = [ln.strip() for ln in lines if _c4_line_keep_py(ln)]
        row = got_c4[doc_id]
        assert row["n_lines"] == len(lines), doc_id
        assert row["n_kept_lines"] == len(kept), doc_id
        assert row["clean_text"] == "\n".join(kept), doc_id
        assert row["n_sentences"] == len(
            re.findall(r"[.!?]", "\n".join(kept))
        ), doc_id
        kept_pages += row["keep"]
    assert 0 < kept_pages < len(texts)  # both keep outcomes occur


def test_shipped_cleaning_example_runs_end_to_end(spark, tmp_path):
    """examples/cleaning_pipeline.yaml resolves from the env and runs:
    a user can start from the YAML alone (example-config parity)."""
    from pathlib import Path

    from opentelemetry_collector_spark.plans.config import ServiceConfig
    from opentelemetry_collector_spark.plans.service import run_service

    example = str(
        Path(__file__).resolve().parent.parent
        / "examples" / "cleaning_pipeline.yaml"
    )
    _fixture_docs(spark).selectExpr(
        "doc_id", "text", "cast(length(text) AS bigint) AS n_chars"
    ).write.parquet(str(tmp_path / "raw_docs.parquet"))
    cfg = ServiceConfig.from_sources(
        example, env={"DATA_DIR": str(tmp_path), "OUT_DIR": str(tmp_path)}
    )
    got = run_service(spark, cfg)["clean"].frame
    rows = {r.doc_id: r for r in got.collect()}
    assert set(rows) == {0, 1, 6}  # the fixture's surviving pages
    assert "<EMAIL>" in rows[0].text and "<SSN>" in rows[0].text
    out = spark.read.parquet(str(tmp_path / "clean"))
    assert out.count() == len(rows)
