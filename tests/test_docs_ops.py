"""Training-data operators (textstats/dedup/similarity) vs DuckDB oracles at
sf0.01, plus semantic invariants the oracle can't express."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_spark.queries import DOCS_ORACLES, DOCS_QUERIES
from tests.conftest import SF_CORRECT, assert_df_equal


@pytest.mark.parametrize("name", sorted(DOCS_ORACLES))
def test_docs_query_matches_oracle(name, spark, duck):
    sdf = DOCS_QUERIES[name](spark, SF_CORRECT)
    con = duck(SF_CORRECT)
    assert_df_equal(sdf, con.sql(DOCS_ORACLES[name]))


def test_minhash_recall_vs_exact_jaccard(spark, duck):
    """LSH must return every true near-dup pair: the reference is the
    exhaustive all-pairs shingle Jaccard >= JACCARD_THRESHOLD, computed in
    DuckDB from the same shingles (banding can only LOSE pairs — at
    threshold 0.6 with 4x4 bands, P(miss) = (1-s^4)^4 < 3% at s=0.6 and
    the deterministic corpus has only high-s pairs)."""
    from opentelemetry_collector_spark.operators.dedup import (
        _SHINGLES_SQL,
        JACCARD_THRESHOLD,
    )

    con = duck(SF_CORRECT)
    exact = set(con.sql(f"""
        WITH sh AS (SELECT doc_id, {_SHINGLES_SQL} AS s FROM documents)
        SELECT a.doc_id, b.doc_id FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE round(len(list_intersect(a.s, b.s)) /
                    len(list_distinct(list_concat(a.s, b.s))), 6)
              >= {JACCARD_THRESHOLD}""").fetchall())
    lsh = {
        (r.doc_a, r.doc_b)
        for r in DOCS_QUERIES["dedup_minhash_pairs"](spark, SF_CORRECT).collect()
    }
    assert exact, "fixture must contain near-dup pairs"
    assert lsh == exact  # at this scale the corpus' pairs are all s>0.9


EDGE_DOCS = [
    (1, None), (2, ""), (3, "   "), (4, "one"), (5, "one two"),
    (6, "a a a a a"), (7, "a a a a a"), (8, "one two three four"),
]


def test_minhash_signatures_match_duckdb(spark, duck):
    """``minhash_signatures`` equals DuckDB's ``_SHINGLES_SQL`` ->
    ``_LANES_SQL`` -> ``_SIG_SQL`` per doc, on the sf0.01 corpus and on
    edge texts: NULL (no shingles, so all-NULL minhashes), empty,
    whitespace-only, one and two words (one short shingle) and repeated
    shingles. On the edge texts the pairs also equal the oracle's, with
    and without ANSI mode, so a NULL text pairs with nothing."""
    import duckdb

    from opentelemetry_collector_spark.operators.dedup import (
        _LANES_SQL,
        _SHINGLES_SQL,
        _SIG_SQL,
        DEDUP_MINHASH_ORACLE,
        minhash_signatures,
    )

    sig_sql = f"""
        WITH sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents),
        lanes AS (SELECT doc_id, shingles, {_LANES_SQL} AS lanes FROM sh)
        SELECT doc_id, {_SIG_SQL} AS sig FROM lanes"""

    def spark_sigs(docs):
        return sorted(
            (r.doc_id, list(r.sig))
            for r in minhash_signatures(spark, "", docs=docs).collect()
        )

    con = duck(SF_CORRECT)
    corpus = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    assert spark_sigs(corpus) == sorted(con.sql(sig_sql).fetchall())

    edge = duckdb.connect()
    edge.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    edge.executemany("INSERT INTO documents VALUES (?, ?)", EDGE_DOCS)
    docs = spark.createDataFrame(EDGE_DOCS, "doc_id long, text string")
    sigs = spark_sigs(docs)
    assert sigs == sorted(edge.sql(sig_sql).fetchall())
    assert sigs[0] == (1, [None] * len(sigs[0][1]))
    expected = set(edge.sql(DEDUP_MINHASH_ORACLE).fetchall())
    assert (6, 7, 1.0) in expected
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for mode in ("true", "false"):  # size(NULL) is -1 without ANSI
            spark.conf.set("spark.sql.ansi.enabled", mode)
            pairs = {
                tuple(r) for r in DOCS_QUERIES["dedup_minhash_pairs"](
                    spark, "", docs=docs).collect()
            }
            assert pairs == expected, mode
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


@pytest.mark.parametrize("n_null,n_same", [(3, 3), (3000, 300)])
def test_minhash_buckets_emit_each_pair_once(spark, n_null, n_same):
    """Band buckets on edge texts, pairs equal to ``DEDUP_MINHASH_ORACLE``
    with ANSI mode on and off: ``n_same`` identical texts share one bucket
    in every band, so they make all their pairs, each emitted once
    although four bands propose it; ``n_null`` NULL texts sign as all
    NULLs, whose band keys are all ``md5('')``, and that bucket yields no
    pair. The larger case is a hot band key of each kind."""
    import itertools

    import duckdb

    from opentelemetry_collector_spark.operators.dedup import (
        DEDUP_MINHASH_ORACLE,
    )

    con = duckdb.connect()
    con.execute(f"""
        CREATE TABLE documents AS
        SELECT range AS doc_id, CASE WHEN range >= {n_null}
            THEN 'the quick brown fox jumps' END AS text
        FROM range({n_null + n_same})
        UNION ALL VALUES (-1, 'an unrelated text of words'), (-2, '')""")
    expected = sorted(con.sql(DEDUP_MINHASH_ORACLE).fetchall())
    same = range(n_null, n_null + n_same)
    assert expected == [(a, b, 1.0) for a, b in itertools.combinations(same, 2)]
    docs = spark.createDataFrame(
        con.sql("FROM documents").fetchall(), "doc_id long, text string"
    )
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for mode in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", mode)
            pairs = sorted(
                tuple(r) for r in DOCS_QUERIES["dedup_minhash_pairs"](
                    spark, "", docs=docs).collect()
            )
            assert pairs == expected, mode
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_pandas_topk_agrees_with_sql_topk(spark):
    """The Arrow/numpy top-k must return the same neighbor SETS as the
    native-SQL brute force (scores may differ in the last ulp)."""
    sql_rows = DOCS_QUERIES["ann_cosine_topk"](spark, SF_CORRECT).collect()
    pd_rows = DOCS_QUERIES["ann_cosine_topk_pandas"](spark, SF_CORRECT).collect()
    by_q_sql = {}
    for r in sql_rows:
        by_q_sql.setdefault(r.query_id, set()).add(r.data_id)
    by_q_pd = {}
    for r in pd_rows:
        by_q_pd.setdefault(r.query_id, set()).add(r.data_id)
    assert by_q_sql == by_q_pd


def test_ivf_recall_vs_brute_force(spark):
    """IVF with n_probe=2 over 8 cells must recover a reasonable share of
    the exact top-5 neighbors (recall floor pins quantizer quality), and
    every returned score must equal the brute-force cosine."""
    exact = {}
    for r in DOCS_QUERIES["ann_cosine_topk"](spark, SF_CORRECT).collect():
        exact.setdefault(r.query_id, {})[r.data_id] = r.cos
    ivf_rows = DOCS_QUERIES["ann_ivf_topk"](spark, SF_CORRECT).collect()
    hit = tot = 0
    for r in ivf_rows:
        if r.data_id in exact.get(r.query_id, {}):
            hit += 1
            assert abs(exact[r.query_id][r.data_id] - r.cos) < 1e-9
    tot = sum(len(v) for v in exact.values())
    assert tot > 0
    assert hit / tot >= 0.5, f"IVF recall {hit}/{tot} below floor"


def test_doc_split_is_stable_and_partitions(spark):
    """Every doc gets exactly one split; assignment is a pure function of
    doc_id (stable under re-runs and corpus growth); fractions land near
    90/5/5."""
    split = DOCS_QUERIES["doc_split"](spark, SF_CORRECT)
    n = split.count()
    assert split.select("doc_id").distinct().count() == n
    by = {r.split: r.cnt for r in
          split.groupBy("split").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert set(by) == {"train", "val", "test"}
    assert 0.8 < by["train"] / n < 0.97
    # growth-stability: recomputing on a subset preserves each doc's split
    again = DOCS_QUERIES["doc_split"](spark, SF_CORRECT).filter(
        F.col("doc_id") % 3 == 0
    )
    joined = split.alias("a").join(again.alias("b"), "doc_id").filter(
        F.col("a.split") != F.col("b.split")
    )
    assert joined.count() == 0


def test_corpus_sample_downsamples_only_target_lang(spark):
    """The mixing knob halves 'en' and keeps every other language whole."""
    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    sample = DOCS_QUERIES["corpus_sample"](spark, SF_CORRECT)
    full = {r.lang: r.cnt for r in
            docs.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    kept = {r.lang: r.cnt for r in
            sample.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    for lang, cnt in full.items():
        if lang == "en":
            assert 0.3 < kept[lang] / cnt < 0.7  # ~0.5 keep rate
        else:
            assert kept[lang] == cnt  # tail untouched


def test_unigram_ll_semantics(spark):
    """LM-quality invariants the oracle can't express: OOV tokens score
    exactly the floor prob (1/N in milli-nats), so a doc's ll decomposes
    as sum of per-token quantized logs; common-word docs score strictly
    higher avg_logp than the corpus floor."""
    import math

    from opentelemetry_collector_spark.operators.textstats import (
        _tokens,
        doc_unigram_ll,
    )

    rows = doc_unigram_ll(spark, SF_CORRECT).collect()
    n_total = _tokens(spark, SF_CORRECT).count()
    floor_milli = round(math.log(1.0 / n_total) * 1000)
    for r in rows:
        assert r.n_tokens > 0
        assert 0 <= r.oov_tokens <= r.n_tokens
        # every token's logp is in [floor, 0); the doc sum must bound it
        assert floor_milli * r.n_tokens <= r.ll_milli < 0
        assert abs(r.avg_logp_milli - r.ll_milli / r.n_tokens) < 1e-9
    # an all-OOV doc would sit exactly at the floor; the corpus mean must
    # sit strictly above it (common words exist by construction)
    mean_avg = sum(r.avg_logp_milli for r in rows) / len(rows)
    assert mean_avg > floor_milli


def test_unigram_ll_precomputed_model_matches_self_trained(spark, tmp_path):
    """VERDICT r02 task 7: the production shape — model side-tables
    precomputed, persisted, reloaded — must score identically to the
    self-training oracle shape."""
    from opentelemetry_collector_spark.operators.textstats import (
        doc_unigram_ll,
        train_unigram_model,
    )

    vocab, tot = train_unigram_model(spark, SF_CORRECT)
    vocab.write.mode("overwrite").parquet(str(tmp_path / "vocab"))
    tot.write.mode("overwrite").parquet(str(tmp_path / "tot"))
    reloaded = (
        spark.read.parquet(str(tmp_path / "vocab")),
        spark.read.parquet(str(tmp_path / "tot")),
    )
    got = {
        r.doc_id: (r.n_tokens, r.oov_tokens, r.ll_milli)
        for r in doc_unigram_ll(spark, SF_CORRECT, model=reloaded).collect()
    }
    want = {
        r.doc_id: (r.n_tokens, r.oov_tokens, r.ll_milli)
        for r in doc_unigram_ll(spark, SF_CORRECT).collect()
    }
    assert got == want and len(got) > 0


def test_substring_spans_are_maximal_and_really_duplicated(spark):
    """Every emitted span (a) is at least window-width wide, (b) never
    overlaps another span of the same doc (islands merged maximally), and
    (c) its window-width prefix text really does appear in some other
    span-covered position (ground-truth recount)."""
    from opentelemetry_collector_spark.operators.dedup import (
        SUBSTR_W,
        dedup_substring_spans,
    )

    spans = dedup_substring_spans(spark, SF_CORRECT).collect()
    assert spans
    by_doc: dict[int, list] = {}
    for r in spans:
        assert r.n_words >= SUBSTR_W
        assert r.n_words == r.span_end - r.span_start + 1
        by_doc.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    for doc, ivs in by_doc.items():
        ivs.sort()
        for (s1, e1), (s2, e2) in zip(ivs, ivs[1:]):
            assert s2 > e1 + 1, f"doc {doc}: spans not maximally merged"
    # ground truth: recount duplicated 8-word runs in python
    docs = {
        r.doc_id: r.text.split(" ")
        for r in spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
        .select("doc_id", "text").collect()
    }
    from collections import Counter

    counts: Counter = Counter()
    for ws in docs.values():
        for i in range(len(ws) - SUBSTR_W + 1):
            counts[" ".join(ws[i:i + SUBSTR_W])] += 1
    for r in spans[:50]:
        ws = docs[r.doc_id]
        run = " ".join(ws[r.span_start - 1:r.span_start - 1 + SUBSTR_W])
        assert counts[run] >= 2, f"span start not actually duplicated: {run!r}"


def test_pack_budget_and_stability(spark):
    """Sequence packing: every pack except a stream's last holds >= the
    budget at its end boundary (greedy fill), pack assignment is a pure
    function of doc identity (stable under re-runs), and every doc lands
    in exactly one pack."""
    from opentelemetry_collector_spark.operators.textstats import (
        PACK_BUDGET_TOKENS,
        corpus_pack,
    )

    rows = corpus_pack(spark, SF_CORRECT).collect()
    assert len({r.doc_id for r in rows}) == len(rows)
    by_stream: dict[int, list] = {}
    for r in rows:
        by_stream.setdefault(r.pack_bucket, []).append(r)
    for bucket, docs in by_stream.items():
        docs.sort(key=lambda r: r.cum_tokens)
        last_seq = docs[-1].pack_seq
        for r in docs:
            # start offset of pack k is >= k * budget by construction
            start = r.cum_tokens - r.n_tokens
            assert r.pack_seq == start // PACK_BUDGET_TOKENS
            if r.pack_seq < last_seq:
                assert r.cum_tokens > r.pack_seq * PACK_BUDGET_TOKENS
    again = {(r.doc_id, r.pack_bucket, r.pack_seq)
             for r in corpus_pack(spark, SF_CORRECT).collect()}
    assert again == {(r.doc_id, r.pack_bucket, r.pack_seq) for r in rows}


def test_quantization_reconstruction_error_bound(spark):
    """int8 reconstruction q/scale is within 0.5/scale of the original
    on every dimension, and qvals use the full int8 range."""
    from opentelemetry_collector_spark.operators.similarity import (
        embedding_quantize,
    )

    q = {(r.vec_id, r.dim_idx): (r.qval, r.scale)
         for r in embedding_quantize(spark, SF_CORRECT).collect()}
    vecs = {
        r.vec_id: r.embedding
        for r in spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
        .limit(50).collect()
    }
    checked = 0
    for vid, emb in vecs.items():
        for i, x in enumerate(emb, start=1):
            qval, scale = q[(vid, i)]
            assert -127 <= qval <= 127
            assert abs(x - qval / scale) <= 0.5 / scale + 1e-9
            checked += 1
    assert checked > 0
    assert any(abs(v[0]) == 127 for v in q.values())  # max dim hits range


def test_quantized_cosine_preserves_topk(spark):
    """ANN over the int8-quantized vectors must recover (almost) the exact
    float top-5 sets — the end-to-end property that makes the 4x storage
    cut usable: rank by dot(q_a, q_b)/(|q_a||q_b|) on dequantized ints."""
    import math

    from opentelemetry_collector_spark.operators.similarity import (
        N_QUERIES,
        TOPK,
        embedding_quantize,
    )

    q = {}
    for r in embedding_quantize(spark, SF_CORRECT).collect():
        q.setdefault(r.vec_id, {})[r.dim_idx] = r.qval / r.scale
    vecs = {v: [d[i] for i in sorted(d)] for v, d in q.items()}

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb)

    exact = {}
    for r in DOCS_QUERIES["ann_cosine_topk"](spark, SF_CORRECT).collect():
        exact.setdefault(r.query_id, set()).add(r.data_id)
    hit = tot = 0
    for qid in list(exact)[:N_QUERIES]:
        scored = sorted(
            ((cos(vecs[qid], vecs[d]), d) for d in vecs if d != qid),
            reverse=True,
        )[:TOPK]
        got = {d for _, d in scored}
        hit += len(got & exact[qid])
        tot += len(exact[qid])
    assert tot > 0
    assert hit / tot >= 0.9, f"quantized recall {hit}/{tot} below 0.9"


def test_dedup_clusters_raises_on_non_convergence(spark, monkeypatch):
    """A component with diameter > max_iter must raise, never silently
    return split clusters (review finding: the loop used to exhaust
    without any signal)."""
    import pytest as _pytest

    from opentelemetry_collector_spark.operators import dedup as _d

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "doc_a long, doc_b long"
    )
    monkeypatch.setattr(
        _d, "dedup_minhash_pairs", lambda spark, sf_dir, docs=None: chain
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        _d.dedup_clusters(spark, SF_CORRECT, max_iter=3)


def test_substring_excise_removes_exactly_the_spans(spark):
    """Cleaned text = the original words minus the duplicated-span word
    positions; docs without spans pass through verbatim; removal counts
    are consistent."""
    from opentelemetry_collector_spark.operators.dedup import (
        dedup_substring_excise,
        dedup_substring_spans,
    )

    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
        .select("doc_id", "text").collect()
    }
    spans: dict[int, list[tuple[int, int]]] = {}
    for r in dedup_substring_spans(spark, SF_CORRECT).collect():
        spans.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    rows = dedup_substring_excise(spark, SF_CORRECT).collect()
    assert len(rows) == len(docs)
    saw_excised = False
    for r in rows:
        ws = docs[r.doc_id].split(" ")
        cov = set()
        for s, e in spans.get(r.doc_id, []):
            cov.update(range(s, e + 1))  # 1-based inclusive word positions
        want = " ".join(w for i, w in enumerate(ws, 1) if i not in cov)
        assert r.clean_text == want
        assert r.n_words_removed == len(cov)
        saw_excised = saw_excised or bool(cov)
    assert saw_excised, "fixture corpus should contain duplicated spans"


def test_tfidf_topk_ranks_by_score_then_term(spark):
    from opentelemetry_collector_spark.operators.textstats import (
        TFIDF_TOPK,
        doc_tfidf_topk,
    )

    per_doc: dict[int, list] = {}
    for r in doc_tfidf_topk(spark, SF_CORRECT).collect():
        per_doc.setdefault(r.doc_id, []).append(r)
    assert per_doc
    for doc_id, rs in per_doc.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= TFIDF_TOPK
        # (score desc, term asc) total order
        keys = [(-r.score_milli, r.term) for r in rs]
        assert keys == sorted(keys)
        # a corpus-universal word (df == n_docs) has idf 0 and can only
        # appear with score 0
        for r in rs:
            assert r.score_milli >= 0 or r.df > 0


def test_cluster_balanced_sample_quota_and_determinism(spark):
    """<= quota per cluster, drawn from that cluster's own members by
    deterministic hash order (pure function of ids: two runs identical)."""
    from opentelemetry_collector_spark.operators.similarity import (
        cluster_balanced_sample,
        embedding_kmeans,
    )

    assign = {
        r.vec_id: r.cluster
        for r in embedding_kmeans(spark, SF_CORRECT).collect()
    }
    rows = cluster_balanced_sample(spark, SF_CORRECT, quota=5).collect()
    per_cluster: dict[int, list] = {}
    for r in rows:
        assert assign[r.vec_id] == r.cluster
        per_cluster.setdefault(r.cluster, []).append(r)
    for c, rs in per_cluster.items():
        assert len(rs) <= 5
        assert sorted(r.sample_rank for r in rs) == list(range(1, len(rs) + 1))
    again = {
        (r.vec_id, r.cluster, r.sample_rank)
        for r in cluster_balanced_sample(spark, SF_CORRECT, quota=5).collect()
    }
    assert again == {(r.vec_id, r.cluster, r.sample_rank) for r in rows}
    # two-phase shape: no single window keyed on the k-value cluster column
    plan = cluster_balanced_sample(
        spark, SF_CORRECT, quota=5
    )._jdf.queryExecution().executedPlan().toString()
    assert "salt" in plan and plan.count("Window") >= 2


def test_kmeans_assignment_is_true_argmin(spark):
    """Every vector is assigned exactly once, to the centroid that a
    python recount confirms is nearest on the integer lattice, and the
    final inertia is no worse than the init-assignment inertia
    (Lloyd iterations never increase it on a fixed lattice... up to the
    integer rounding of centroids, so assert with a small slack)."""
    from collections import defaultdict

    from opentelemetry_collector_spark.operators.similarity import (
        KMEANS_K,
        _pq_dims,
        embedding_kmeans,
    )

    rows = embedding_kmeans(spark, SF_CORRECT).collect()
    n_vecs = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet").count()
    assert len(rows) == n_vecs  # one assignment per vector
    assert len({r.cluster for r in rows}) == KMEANS_K  # no empty cluster

    # ground truth: recompute centroids per cluster from the quantized
    # dims and verify each sampled vector's cluster is the true argmin
    qd = defaultdict(dict)
    for r in _pq_dims(spark, SF_CORRECT, 1).collect():
        qd[r.vec_id][r.dim_idx] = r.qval
    by_cluster = defaultdict(list)
    for r in rows:
        by_cluster[r.cluster].append(r.vec_id)
    cents = {
        c: {
            d: round(sum(qd[v][d] for v in vids) / len(vids))
            for d in qd[vids[0]]
        }
        for c, vids in by_cluster.items()
    }
    # the emitted assignment used the PRE-final centroids; re-assigning
    # against centroids derived from it must agree for the vast majority
    # (full equality only at a true fixed point)
    agree = 0
    checked = rows[:100]
    for r in checked:
        dists = {
            c: sum((qd[r.vec_id][d] - cent[d]) ** 2 for d in cent)
            for c, cent in cents.items()
        }
        best = min(dists, key=lambda c: (dists[c], c))
        agree += best == r.cluster
    assert agree / len(checked) >= 0.9


# --- round-5 curation-stage ops (quality.py) --------------------------------


def _mini_docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )


def test_gopher_rules_fire_individually(spark):
    """Each rule catches its designed violation on handcrafted docs (the
    oracle proves engine parity; this proves the rules mean what the paper
    says)."""
    from opentelemetry_collector_spark.operators.quality import doc_gopher_rules

    ok_words = " ".join(["the", "a"] + ["word"] * 60)  # 62 words, all fine
    rows = [
        (1, ok_words, "en", "s", 0),
        (2, "the a short doc", "en", "s", 0),                      # < 50 words
        (3, " ".join(["the", "a"] + ["xy"] * 60), "en", "s", 0),   # mean len < 3
        (4, " ".join(["the", "a"] + ["superlongwordhere"] * 60), "en", "s", 0),  # mean > 10
        (5, " ".join(["the", "a"] + ["12345"] * 60), "en", "s", 0),  # alpha < 80%
        (6, " ".join(["word"] * 62), "en", "s", 0),                # no stopwords
        (7, " ".join(["the", "a"] + ["word"] * 53 + ["#"] * 7), "en", "s", 0),  # symbols > 10%
    ]
    out = {
        r["doc_id"]: r
        for r in doc_gopher_rules(
            spark, "", docs=_mini_docs(spark, rows)
        ).collect()
    }
    assert out[1]["keep"]
    assert not out[2]["r_word_count"] and not out[2]["keep"]
    assert not out[3]["r_mean_word_len"]
    assert not out[4]["r_mean_word_len"]
    assert not out[5]["r_alpha_words"]
    assert not out[6]["r_stopwords"]
    assert not out[7]["r_symbol_ratio"]
    # every doc other than 1 fails exactly its designed rule's keep
    assert all(not out[i]["keep"] for i in range(2, 8))


def test_normalize_is_idempotent_and_merges_variants(spark):
    """normalize(normalize(x)) == normalize(x), and case/punctuation
    variants of the same words collapse to one norm_hash — the property
    MinHash keying on norm_hash relies on."""
    from opentelemetry_collector_spark.operators.quality import doc_normalize

    rows = [
        (1, "The  QUICK, brown fox!", "en", "s", 0),
        (2, "the quick brown fox", "en", "s", 0),
        (3, "the   quick... brown -- fox?!", "en", "s", 0),
    ]
    once = doc_normalize(spark, "", docs=_mini_docs(spark, rows))
    hashes = {r["doc_id"]: r["norm_hash"] for r in once.collect()}
    assert len(set(hashes.values())) == 1
    # idempotence: feed norm_text back through as text
    again = doc_normalize(
        spark,
        "",
        docs=once.select(
            F.col("doc_id"),
            F.col("norm_text").alias("text"),
            F.lit("en").alias("lang"),
            F.lit("s").alias("source"),
            F.lit(0).cast("long").alias("n_chars"),
        ),
    )
    assert {r["norm_hash"] for r in again.collect()} == set(hashes.values())


def test_corpus_mix_hits_weighted_proportions(spark):
    """The mixed corpus' source shares approximate the integer target
    weights, the filter is deterministic, and membership is a pure
    function of doc_id (partitioning-independent)."""
    from opentelemetry_collector_spark.operators.quality import corpus_mix

    out = corpus_mix(spark, SF_CORRECT)
    rows = out.collect()
    assert rows, "mix must keep something"
    again = {(r.doc_id, r.source) for r in corpus_mix(spark, SF_CORRECT).collect()}
    assert {(r.doc_id, r.source) for r in rows} == again
    # weight-3 sources should out-represent weight-1 sources ~3x per source
    by_src = {}
    for r in rows:
        by_src[r.source] = by_src.get(r.source, 0) + 1
    heavy = sum(by_src.get(f"src{i}", 0) for i in range(4)) / 4
    light = sum(by_src.get(f"src{i}", 0) for i in range(6, 20)) / 14
    assert heavy > 1.8 * light


def test_semdedup_pairs_recount_and_completeness(spark):
    """Every emitted SemDeDup pair shares a k-means cluster and its cosine
    survives a numpy recount; conversely every within-cluster pair above
    tau is emitted (the blocking loses only cross-cluster pairs, by
    design)."""
    import numpy as np

    from opentelemetry_collector_spark.operators.similarity import (
        SEMDEDUP_COS,
    )

    verdict = DOCS_QUERIES["semdedup"](spark, SF_CORRECT).collect()
    cluster = {r.vec_id: r.cluster for r in verdict}
    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet").collect()
    }

    def cos(a, b):
        va, vb = emb[a], emb[b]
        return round(
            float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))), 6
        )

    got = {
        (r.vec_a, r.vec_b)
        for r in DOCS_QUERIES["semdedup_pairs"](spark, SF_CORRECT).collect()
    }
    assert got, "fixture must produce tau-pairs"
    for a, b in got:
        assert cluster[a] == cluster[b]
        assert cos(a, b) >= SEMDEDUP_COS
    ids = sorted(emb)
    want = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if cluster[a] == cluster[b] and cos(a, b) >= SEMDEDUP_COS
    }
    assert got == want


def test_semdedup_verdict_is_component_canonical(spark):
    """canonical_id is the min vec_id of the vector's tau-component; docs
    without a tau-neighbor keep themselves; exactly one survivor per
    component."""
    rows = DOCS_QUERIES["semdedup"](spark, SF_CORRECT).collect()
    pairs = DOCS_QUERIES["semdedup_pairs"](spark, SF_CORRECT).collect()
    # union-find recount
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for p in pairs:
        ra, rb = find(p.vec_a), find(p.vec_b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {}
    for n in list(parent):
        comp.setdefault(find(n), set()).add(n)
    canon = {n: min(ns | {root}) for root, ns in comp.items() for n in ns | {root}}
    touched = set(canon)
    for r in rows:
        if r.vec_id in touched:
            assert r.canonical_id == canon[r.vec_id]
        else:
            assert r.canonical_id == r.vec_id and not r.is_dup
        assert r.is_dup == (r.canonical_id != r.vec_id)


def test_dsir_prefers_the_target_slice(spark):
    """DSIR importance weights must rank the target-language slice above
    the rest (that is the whole point of the estimator), and the keep
    flag must equal the cross-multiplied per-token-average rule
    recomputed from the returned columns."""
    rows = DOCS_QUERIES["dsir_weights"](spark, SF_CORRECT).collect()
    lang = {
        r.doc_id: r.lang
        for r in spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
        .select("doc_id", "lang").collect()
    }
    tot_w = sum(r.weight_milli for r in rows)
    tot_n = sum(r.n_tokens for r in rows)
    for r in rows:
        assert r.keep == (r.weight_milli * tot_n > tot_w * r.n_tokens)

    def mean_avg(pred):
        xs = [r.avg_weight_milli for r in rows if pred(lang[r.doc_id])]
        return sum(xs) / len(xs)

    assert mean_avg(lambda l: l == "en") > mean_avg(lambda l: l != "en")
    kept_en = [r.keep for r in rows if lang[r.doc_id] == "en"]
    kept_rest = [r.keep for r in rows if lang[r.doc_id] != "en"]
    assert sum(kept_en) / len(kept_en) > sum(kept_rest) / len(kept_rest)


def test_doc_chunk_reconstruction_and_overlap(spark):
    """Chunk windows tile every document: chunk j starts at word j*stride,
    consecutive chunks overlap by chunk_words - stride words, the union of
    chunks covers the full text, and concatenating each chunk's
    non-overlapping tail reconstructs the document exactly."""
    from opentelemetry_collector_spark.operators.quality import (
        CHUNK_STRIDE,
        CHUNK_WORDS,
        doc_chunk,
    )

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    text = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    by_doc = {}
    for r in doc_chunk(spark, SF_CORRECT).collect():
        by_doc.setdefault(r.doc_id, {})[r.chunk_idx] = r
    assert set(by_doc) == set(text)
    multi = 0
    for doc_id, chunks in by_doc.items():
        words = text[doc_id].split(" ")
        idxs = sorted(chunks)
        assert idxs == list(range(len(idxs)))
        rebuilt = []
        for j in idxs:
            c = chunks[j]
            want = words[j * CHUNK_STRIDE: j * CHUNK_STRIDE + CHUNK_WORDS]
            assert c.chunk_text.split(" ") == want
            assert c.n_chunk_words == len(want)
            rebuilt.extend(want if j == 0 else want[CHUNK_WORDS - CHUNK_STRIDE:])
        assert rebuilt == words, "chunk tails must reconstruct the doc"
        multi += len(idxs) > 1
    assert multi > 0, "fixture must contain multi-chunk docs"


def test_chunk_and_normalize_edge_cases(spark):
    """Boundary battery vs a Python reference: empty text, multi-space
    runs (empty words), unicode, and texts at exactly the window /
    window+1 / stride boundaries."""
    from opentelemetry_collector_spark.operators.quality import (
        CHUNK_STRIDE,
        CHUNK_WORDS,
        doc_chunk,
        doc_normalize,
    )

    texts = {
        1: "",
        2: "one",
        3: "a  b   c",                      # empty words between runs
        4: "Ünïcødé TEXT!! with  Symbols?",  # non-ascii + punctuation
        5: " ".join(f"w{i}" for i in range(CHUNK_WORDS)),        # == window
        6: " ".join(f"w{i}" for i in range(CHUNK_WORDS + 1)),    # window+1
        7: " ".join(f"w{i}" for i in range(CHUNK_STRIDE)),       # == stride
        8: " ".join(f"w{i}" for i in range(3 * CHUNK_WORDS)),    # long
    }
    docs = _mini_docs(
        spark, [(i, t, "en", "s", len(t)) for i, t in texts.items()]
    )

    got = {}
    for r in doc_chunk(spark, "", docs=docs).collect():
        got.setdefault(r.doc_id, {})[r.chunk_idx] = (
            r.n_chunk_words, r.chunk_text
        )
    for i, t in texts.items():
        words = t.split(" ")
        n = len(words)
        j_max = max(0, -(-(n - CHUNK_WORDS) // CHUNK_STRIDE)) if n > CHUNK_WORDS else 0
        want = {}
        for j in range(j_max + 1):
            piece = words[j * CHUNK_STRIDE: j * CHUNK_STRIDE + CHUNK_WORDS]
            want[j] = (len(piece), " ".join(piece))
        assert got[i] == want, f"doc {i}"

    norm = {
        r.doc_id: r.norm_text
        for r in doc_normalize(spark, "", docs=docs).collect()
    }
    assert norm[1] == ""
    assert norm[3] == "a b c"
    assert norm[4] == "n c d text with symbols"  # non-[a-z0-9] stripped
    # idempotence across the battery
    again = doc_normalize(
        spark,
        "",
        docs=docs.select(
            "doc_id",
            F.lit("en").alias("lang"),
            F.lit("s").alias("source"),
            F.lit(0).cast("long").alias("n_chars"),
            F.col("text"),
        ).withColumn(
            "text",
            F.trim(F.regexp_replace(F.regexp_replace(
                F.lower("text"), "[^a-z0-9 ]", " "), " +", " ")),
        ),
    )
    assert {r.doc_id: r.norm_text for r in again.collect()} == norm


def test_semdedup_ivf_blocks_are_home_cells(spark):
    """The IVF SemDeDup variant blocks by the argmax-cosine seed cell:
    recount the home cell and the pair cosine in numpy for every emitted
    pair."""
    import numpy as np

    from opentelemetry_collector_spark.operators.similarity import (
        N_CELLS,
        SEMDEDUP_COS,
    )

    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet").collect()
    }
    seeds = {i: emb[i] for i in range(N_CELLS)}

    def cos(va, vb):
        return round(
            float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))), 6
        )

    def home(v):
        return min(
            seeds, key=lambda s: (-cos(v, seeds[s]), s)
        )

    pairs = DOCS_QUERIES["semdedup_ivf_pairs"](spark, SF_CORRECT).collect()
    assert pairs
    for p in pairs:
        assert cos(emb[p.vec_a], emb[p.vec_b]) >= SEMDEDUP_COS
        assert home(emb[p.vec_a]) == home(emb[p.vec_b]) == p.cluster


def test_leakage_safe_split_never_separates_near_duplicates(spark):
    """The invariant the op exists for: no near-dup pair (and by
    transitivity no component) straddles a split boundary, and docs
    without a near-duplicate keep exactly their doc_split assignment."""
    split = DOCS_QUERIES["doc_split_leakage_safe"](
        spark, SF_CORRECT
    ).cache()
    pairs = DOCS_QUERIES["dedup_minhash_pairs"](spark, SF_CORRECT)
    a = split.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    b = split.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    straddling = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
    )
    assert straddling.count() == 0
    assert pairs.count() > 0  # the invariant must have something to bite

    # singletons (no near-dup) get the identical split doc_split assigns,
    # so adopting the op only ever moves docs that have a near-duplicate
    plain = DOCS_QUERIES["doc_split"](spark, SF_CORRECT).select(
        "doc_id", F.col("split").alias("plain_split")
    )
    singletons = split.filter(F.col("split_group") == F.col("doc_id"))
    moved = singletons.join(plain, "doc_id").filter(
        F.col("split") != F.col("plain_split")
    )
    assert moved.count() == 0
    # and clustered docs inherit the canonical's bucket, not their own
    clustered = split.filter(F.col("split_group") != F.col("doc_id"))
    assert clustered.count() > 0
    split.unpersist()


def test_pq_codes_are_true_per_subspace_argmin(spark):
    """Every (vector, subspace) gets exactly one code; a python recount of
    the codebooks (per-code rounded means, the oracle's update rule)
    confirms each sampled code is the nearest entry within its subspace —
    and codes in different subspaces vary independently (the property PQ
    compression relies on)."""
    from collections import defaultdict

    from opentelemetry_collector_spark.operators.similarity import (
        PQ_M,
        PQ_KSUB,
        _pq_dims,
        embedding_pq,
    )

    rows = embedding_pq(spark, SF_CORRECT).collect()
    n_vecs = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet").count()
    assert len(rows) == n_vecs * PQ_M  # one code per vector per subspace
    assert all(0 <= r.code < PQ_KSUB for r in rows)

    qd = defaultdict(dict)  # (vec_id, sub) -> {dim_idx: qval}
    for r in _pq_dims(spark, SF_CORRECT, PQ_M).collect():
        qd[(r.vec_id, r.sub)][r.dim_idx] = r.qval
    by_code = defaultdict(list)
    for r in rows:
        by_code[(r.sub, r.code)].append(r.vec_id)
    books = {
        (s, co): {
            d: round(sum(qd[(v, s)][d] for v in vids) / len(vids))
            for d in qd[(vids[0], s)]
        }
        for (s, co), vids in by_code.items()
    }
    agree = 0
    checked = rows[:200]
    for r in checked:
        dists = {
            co: sum(
                (qd[(r.vec_id, r.sub)][d] - cent[d]) ** 2 for d in cent
            )
            for (s, co), cent in books.items()
            if s == r.sub
        }
        best = min(dists, key=lambda co: (dists[co], co))
        agree += best == r.code
    # emitted codes used the pre-final codebooks; re-assignment against
    # codebooks derived from them agrees except near boundaries
    assert agree / len(checked) >= 0.9

    # independence: the code tuple is not degenerate across subspaces
    # (distinct (sub -> code) profiles exceed any single subspace's ksub)
    profiles = defaultdict(dict)
    for r in rows:
        profiles[r.vec_id][r.sub] = r.code
    assert len({tuple(sorted(p.items())) for p in profiles.values()}) > PQ_KSUB


def test_pq_adc_distances_are_exact_and_recall_holds(spark):
    """ADC mechanics are exact: every returned adc_dist equals a numpy
    recount of sum-of-subspace LUT lookups for that (query, doc, codes);
    and ADC top-5 retains a floor share of the exact integer-L2 top-5
    (approximation quality at m=4, ksub=8)."""
    from collections import defaultdict

    from opentelemetry_collector_spark.operators.similarity import (
        PQ_M,
        TOPK,
        _pq_dims,
        _pq_train,
        _pq_assign,
        N_QUERIES,
    )

    rows = DOCS_QUERIES["ann_pq_topk"](spark, SF_CORRECT).collect()
    assert len(rows) == N_QUERIES * TOPK

    qd = defaultdict(dict)  # (vec_id, sub) -> {dim_idx: qval}
    for r in _pq_dims(spark, SF_CORRECT, PQ_M).collect():
        qd[(r.vec_id, r.sub)][r.dim_idx] = r.qval
    q, cents = _pq_train(spark, SF_CORRECT)
    book = {
        (r.sub, r.code): {} for r in cents.collect()
    }
    for r in cents.collect():
        book[(r.sub, r.code)][r.dim_idx] = r.c
    codes = {
        (r.vec_id, r.sub): r.code
        for r in _pq_assign(q, cents).collect()
    }
    for r in rows:
        want = 0
        for s in range(PQ_M):
            cent = book[(s, codes[(r.data_id, s)])]
            want += sum(
                (qd[(r.query_id, s)][d] - cent[d]) ** 2 for d in cent
            )
        assert want == r.adc_dist, (r.query_id, r.data_id)

    # exact integer-L2 top-k over the quantized vectors (numpy recount)
    vecs = defaultdict(dict)
    for (v, s), dims in qd.items():
        vecs[v].update(dims)
    hit = tot = 0
    adc_by_q = defaultdict(set)
    for r in rows:
        adc_by_q[r.query_id].add(r.data_id)
    for qid in range(N_QUERIES):
        dists = {
            v: sum((vecs[qid][d] - vv[d]) ** 2 for d in vv)
            for v, vv in vecs.items()
            if v != qid
        }
        exact = sorted(dists, key=lambda v: (dists[v], v))[:TOPK]
        hit += len(adc_by_q[qid] & set(exact))
        tot += TOPK
    # floor context: the synthetic embeddings are i.i.d. random, where
    # pairwise distances concentrate and PQ recall is inherently weak
    # (measured ~0.12-0.20 across m in {4,8,16}, ksub in {8,16}); chance
    # level is TOPK/(n-1) ~= 0.01, so 0.1 asserts ADC ranks true
    # neighbors ~10x better than random without overfitting the fixture
    assert hit / tot >= 0.1, f"ADC recall {hit}/{tot} below floor"


def test_doc_entropy_matches_python_recount(spark):
    """The integer milli-nat entropy must equal a collections.Counter +
    math.log recount, and the drop flag must be the integer comparison of
    the same quantities (no float-threshold drift)."""
    import math
    from collections import Counter

    from opentelemetry_collector_spark.operators.quality import (
        ENTROPY_MIN_MILLI,
    )

    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    got = {
        r.doc_id: r
        for r in DOCS_QUERIES["doc_entropy"](spark, SF_CORRECT).collect()
    }
    assert set(got) == set(docs)
    flagged = 0
    for doc_id, text in docs.items():
        counts = Counter(w for w in text.lower().split() if w)
        n = sum(counts.values())
        s = sum(c * round(math.log(c) * 1000) for c in counts.values())
        scaled = n * round(math.log(n) * 1000) - s
        r = got[doc_id]
        assert r.n_tokens == n
        assert r.n_distinct == len(counts)
        assert r.entropy_scaled_milli == scaled
        assert r.low_entropy == (scaled < n * ENTROPY_MIN_MILLI)
        flagged += int(r.low_entropy)
    # the fixture must exercise BOTH sides of the drop rule
    assert 0 < flagged < len(docs)


def _ref_bpe_apply(s, a, b):
    out, i = [], 0
    while i < len(s):
        if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(s[i])
            i += 1
    return out


def _ref_bpe_train(word_freq, m):
    from collections import Counter

    syms = {w: list(w) + ["</w>"] for w in word_freq}
    merges = []
    for rank in range(1, m + 1):
        counts = Counter()
        for w, f in word_freq.items():
            s = syms[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] += f
        if not counts:
            break
        (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, a, b, a + b, c))
        syms = {w: _ref_bpe_apply(s, a, b) for w, s in syms.items()}
    return merges, syms


def test_bpe_merge_fold_is_greedy_leftmost(spark):
    """The higher-order merge fold must implement the textbook
    non-overlapping leftmost scan — including self-pair runs ('aaaa'
    under (a,a) -> 'aa','aa'; 'aaa' -> 'aa','a') and alternations."""
    from opentelemetry_collector_spark.operators.bpe import _apply_merge

    cases = [
        (["a", "a", "a", "a"], "a", "a"),
        (["a", "a", "a"], "a", "a"),
        (["a", "b", "a", "b"], "a", "b"),
        (["x", "a", "b", "b", "y"], "a", "b"),
        (["a"], "a", "a"),
        (["a", "b"], "b", "a"),
        (["ab", "b", "a", "ab"], "a", "ab"),
    ]
    df = spark.createDataFrame(
        [(i, s, a, b) for i, (s, a, b) in enumerate(cases)],
        "i int, syms array<string>, a string, b string",
    )
    for i, (s, a, b) in enumerate(cases):
        got = (
            df.filter(F.col("i") == i)
            .select(_apply_merge(F.col("syms"), a, b).alias("m"))
            .collect()[0]
            .m
        )
        assert got == _ref_bpe_apply(s, a, b), (s, a, b, got)


def test_bpe_train_matches_python_reference(spark):
    """The distributed merge learner must reproduce the sequential
    reference algorithm exactly: same pairs, same order, same counts."""
    from collections import Counter

    from opentelemetry_collector_spark.operators.bpe import (
        BPE_MERGES,
        bpe_train,
    )

    wf = Counter()
    for r in (
        spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
        .select("text")
        .collect()
    ):
        wf.update(w for w in r.text.lower().split() if w)
    ref, ref_syms = _ref_bpe_train(dict(wf), BPE_MERGES)
    got = [
        (r.rank, r.lhs, r.rhs, r.merged, r.pair_count)
        for r in bpe_train(spark, SF_CORRECT).orderBy("rank").collect()
    ]
    assert got == ref
    # the trained symbol state must agree too (spot-check via return_state)
    merges_df, state = bpe_train(spark, SF_CORRECT, return_state=True)
    state_map = {r.word: r.syms for r in state.collect()}
    state.unpersist()
    assert state_map == {w: s for w, s in ref_syms.items()}


def test_bpe_encode_compresses_and_respects_rules(spark):
    """Encoding under M merges must never produce more tokens than chars+1
    per word, at least 1 token per word, and more merges can only shrink
    (or hold) the total token count."""
    from opentelemetry_collector_spark.operators.bpe import bpe_encode

    full = {
        r.doc_id: r
        for r in bpe_encode(spark, SF_CORRECT, merges=8).collect()
    }
    fewer = {
        r.doc_id: r.n_bpe_tokens
        for r in bpe_encode(spark, SF_CORRECT, merges=2).collect()
    }
    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet").collect()
    assert set(full) == {r.doc_id for r in docs}
    for d in docs:
        words = [w for w in d.text.lower().split() if w]
        r = full[d.doc_id]
        assert r.n_words == len(words)
        assert r.n_bpe_tokens >= r.n_words  # >= 1 token per word
        assert r.n_bpe_tokens <= sum(len(w) + 1 for w in words)
        assert r.n_bpe_tokens <= fewer[d.doc_id]  # merges only compress


def test_dedup_paragraphs_first_wins_python_recount(spark):
    """Tile survival must be exactly first-occurrence-wins in global
    (doc_id, tile_idx) order, and reconstruction must preserve surviving
    tiles in position order — verified against a dict-scan recount."""
    from opentelemetry_collector_spark.operators.dedup import PARA_TILE

    docs = sorted(
        (
            (r.doc_id, [w for w in r.text.lower().split() if w])
            for r in spark.read.parquet(
                f"{SF_CORRECT}/documents.parquet"
            ).collect()
        ),
    )
    seen: set[str] = set()
    expect = {}
    for doc_id, ws in docs:
        tiles = [
            " ".join(ws[i : i + PARA_TILE])
            for i in range(0, len(ws), PARA_TILE)
        ]
        kept = []
        for t in tiles:
            if t not in seen:
                seen.add(t)
                kept.append(t)
        expect[doc_id] = (len(tiles), len(kept), " ".join(kept))
    got = {
        r.doc_id: (r.n_tiles, r.n_kept, r.text_kept)
        for r in DOCS_QUERIES["dedup_paragraphs"](spark, SF_CORRECT).collect()
    }
    assert got == expect
    assert any(g[0] != g[1] for g in got.values()), (
        "fixture must contain duplicate tiles"
    )


def test_mmr_matches_greedy_python_recount(spark):
    """The relational MMR unroll must reproduce the sequential greedy
    algorithm exactly: same selections, same order, same integer scores —
    recomputed from the raw embeddings with numpy."""
    import numpy as np

    from opentelemetry_collector_spark.operators.similarity import (
        MMR_CAND,
        MMR_K,
        MMR_LAMBDA_CMP,
        MMR_LAMBDA_NUM,
        N_QUERIES,
        ann_mmr_topk,
    )

    vecs = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(
            f"{SF_CORRECT}/embeddings.parquet"
        ).collect()
    }

    def micro_cos(a, b):
        return int(
            np.round(
                float(np.dot(a, b))
                / (float(np.sqrt(np.dot(a, a))) * float(np.sqrt(np.dot(b, b))))
                * 1_000_000
            )
        )

    expect = {}
    for qid in range(N_QUERIES):
        rels = sorted(
            (
                (-micro_cos(vecs[qid], v), did)
                for did, v in vecs.items()
                if did != qid
            ),
        )[:MMR_CAND]
        pool = [(did, -nr) for nr, did in rels]
        sel = []
        for rank in range(1, MMR_K + 1):
            best = None
            for did, rel in pool:
                if any(did == s for s, *_ in sel):
                    continue
                ms = (
                    max(micro_cos(vecs[did], vecs[s]) for s, *_ in sel)
                    if sel
                    else 0
                )
                score = MMR_LAMBDA_NUM * rel - (
                    MMR_LAMBDA_CMP * ms if sel else 0
                )
                key = (-score, did)
                if best is None or key < best[0]:
                    best = (key, did, rel, score)
            sel.append((best[1], rank, best[2], best[3]))
        for did, rank, rel, score in sel:
            expect[(qid, rank)] = (did, rel, score)
    got = {
        (r.query_id, r.mmr_rank): (r.data_id, r.rel, r.mmr_score)
        for r in ann_mmr_topk(spark, SF_CORRECT).collect()
    }
    assert got == expect


def test_cms_sketch_matches_python_reference(spark):
    """The Count-Min estimate for every probed word must equal a python
    dict-built sketch probed with the same md5 hashes, and the
    overestimate guarantee (est >= exact) must hold."""
    import hashlib
    from collections import Counter

    from opentelemetry_collector_spark.operators.sketch import CMS_D, CMS_W

    wf = Counter()
    for r in (
        spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
        .select("text")
        .collect()
    ):
        wf.update(w for w in r.text.lower().split() if w)

    def bucket(w, d):
        return int(hashlib.md5(f"{w}:cms{d}".encode()).hexdigest()[:8], 16) % CMS_W

    cells = Counter()
    for w, c in wf.items():
        for d in range(CMS_D):
            cells[(d, bucket(w, d))] += c
    got = DOCS_QUERIES["cms_heavy_hitters"](spark, SF_CORRECT).collect()
    assert len(got) == 10
    for r in got:
        assert r.exact_count == wf[r.w]
        ref = min(cells[(d, bucket(r.w, d))] for d in range(CMS_D))
        assert r.cms_est == ref
        assert r.cms_est >= r.exact_count


def test_hll_registers_merge_across_shards(spark):
    """The property that makes HLL the DISTRIBUTED distinct counter:
    sketching two disjoint shards and merging by register max must give
    the identical register state (hence identical estimate) as sketching
    the whole stream — verified with a python register recount, plus the
    standard error bound on the fixture."""
    import hashlib

    from opentelemetry_collector_spark.operators.sketch import (
        HLL_M,
        HLL_PATTERN_BITS,
    )

    ids = [
        r.event_id
        for r in spark.read.parquet(f"{SF_CORRECT}/events.parquet")
        .select("event_id")
        .collect()
    ]

    def regs(values):
        m = [0] * HLL_M
        for v in values:
            hv = int(hashlib.md5(f"{v}:hll".encode()).hexdigest()[:15], 16)
            j, pattern = hv % HLL_M, hv // HLL_M
            rho = (
                HLL_PATTERN_BITS + 1
                if pattern == 0
                else HLL_PATTERN_BITS + 1 - pattern.bit_length()
            )
            m[j] = max(m[j], rho)
        return m

    whole = regs(ids)
    a, b = regs(ids[::2]), regs(ids[1::2])
    assert [max(x, y) for x, y in zip(a, b)] == whole
    # the engine's scaled harmonic sum must equal the python registers'
    row = DOCS_QUERIES["hll_distinct"](spark, SF_CORRECT).collect()[0]
    assert row.s_scaled == sum(2 ** (55 - mj) for mj in whole)
    assert row.zero_registers == sum(1 for mj in whole if mj == 0)
    # standard error of HLL at m=64 is ~13%; allow 3 sigma
    assert abs(row.est_distinct - row.exact_distinct) <= (
        0.39 * row.exact_distinct
    )


def test_bpe_fold_randomized_battery_vs_reference(spark):
    """300 seeded-random (symbols, pair) cases over the adversarial
    alphabet {a, b, aa, ab} — runs of self-pairs, chained alternations,
    merged-token collisions — folded in ONE Spark job and compared
    against the sequential reference scan."""
    import random

    from opentelemetry_collector_spark.operators.bpe import _apply_merge

    rng = random.Random(20260819)
    alphabet = ["a", "b", "aa", "ab"]
    cases = []
    for i in range(300):
        syms = [rng.choice(alphabet) for _ in range(rng.randint(1, 12))]
        pair = (rng.choice(alphabet), rng.choice(alphabet))
        cases.append((i, syms, pair[0], pair[1]))
    df = spark.createDataFrame(
        cases, "i int, syms array<string>, a string, b string"
    )
    # one plan per distinct pair (the lambda captures literals)
    by_pair: dict[tuple, list] = {}
    for i, syms, a, b in cases:
        by_pair.setdefault((a, b), []).append(i)
    got = {}
    for (a, b), idxs in by_pair.items():
        rows = (
            df.filter(F.col("i").isin(idxs))
            .select("i", _apply_merge(F.col("syms"), a, b).alias("m"))
            .collect()
        )
        got.update({r.i: r.m for r in rows})
    for i, syms, a, b in cases:
        assert got[i] == _ref_bpe_apply(syms, a, b), (syms, a, b, got[i])


def test_log_quantiles_bracket_the_exact_quantiles(spark):
    """Each log2 bucket [lo, hi] must contain the EXACT inverse-CDF
    quantile of the per-doc token counts, and cum/total must match a
    python recount — the sketch's relative-error contract."""
    from opentelemetry_collector_spark.operators.quantile import (
        QUANTILES_MILLI,
    )

    counts = sorted(
        len([w for w in r.text.lower().split() if w])
        for r in spark.read.parquet(
            f"{SF_CORRECT}/documents.parquet"
        ).collect()
    )
    total = len(counts)
    rows = {
        r.q_milli: r
        for r in DOCS_QUERIES["doc_length_quantiles"](
            spark, SF_CORRECT
        ).collect()
    }
    assert sorted(rows) == sorted(QUANTILES_MILLI)
    for q in QUANTILES_MILLI:
        target = -(-q * total // 1000)  # ceil(q*total/1000)
        exact = counts[target - 1]  # inverse CDF: smallest v, cum >= target
        r = rows[q]
        assert r.total == total
        assert r.lo == 2**r.bucket and r.hi == 2 ** (r.bucket + 1) - 1
        assert r.lo <= exact <= r.hi, (q, exact, r)
        # cum_count is the true CDF mass at the bucket's upper edge
        assert r.cum_count == sum(1 for c in counts if c <= r.hi)


def test_bloom_has_no_false_negatives_and_counts_recount(spark):
    """Probing the filter with its own insert set must hit 100% (the
    Bloom guarantee), and the summary row must equal a python bitset
    recount probing the disjoint half."""
    import hashlib

    from opentelemetry_collector_spark.operators.bloom import (
        BLOOM_K,
        BLOOM_M,
        bloom_bits,
        bloom_probe,
    )

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet").collect()
    ins_fps = {
        hashlib.md5(r.text.encode()).hexdigest()
        for r in docs
        if r.doc_id % 2 == 0
    }
    prb_fps = {
        hashlib.md5(r.text.encode()).hexdigest()
        for r in docs
        if r.doc_id % 2 == 1
    }

    def positions(fp):
        return {
            int(hashlib.md5(f"{fp}:bloom{i}".encode()).hexdigest()[:8], 16)
            % BLOOM_M
            for i in range(BLOOM_K)
        }

    bits = set().union(*(positions(fp) for fp in ins_fps))
    hits = {fp for fp in prb_fps if positions(fp) <= bits}

    row = DOCS_QUERIES["bloom_fingerprints"](spark, SF_CORRECT).collect()[0]
    assert row.n_inserted == len(ins_fps)
    assert row.bits_set == len(bits)
    assert row.n_probed == len(prb_fps)
    assert row.bloom_hits == len(hits)
    assert row.true_present == len(prb_fps & ins_fps)
    assert row.false_positives == len(hits - ins_fps)
    assert row.bloom_hits >= row.true_present  # no false negatives ever

    # the stronger direct statement: every inserted fp hits its own filter
    ins_df = spark.createDataFrame([(fp,) for fp in ins_fps], "fp string")
    self_probe = bloom_probe(ins_df, bloom_bits(ins_df)).collect()
    assert all(r.bloom_hit for r in self_probe)


def test_priority_sample_matches_sequential_recount(spark):
    """The sampled doc set must equal a python top-k by w/(h+1) with the
    same md5-derived hash keys — the determinism that makes the weighted
    sample reproducible and oracle-checkable."""
    import hashlib

    from opentelemetry_collector_spark.operators.sampling import (
        PSAMPLE_K,
        PSAMPLE_SALT,
    )

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet").collect()
    cand = []
    for r in docs:
        if r.n_chars < 1:
            continue
        h = (
            int(
                hashlib.md5(f"{r.doc_id}{PSAMPLE_SALT}".encode()).hexdigest()[
                    :15
                ],
                16,
            )
            + 1
        )
        cand.append((r.doc_id, r.n_chars, h))
    cand.sort(key=lambda t: (-(t[1] / t[2]), t[0]))
    want = {(d, w, h) for d, w, h in cand[:PSAMPLE_K]}
    got = {
        (r.doc_id, r.weight, r.hkey)
        for r in DOCS_QUERIES["corpus_priority_sample"](
            spark, SF_CORRECT
        ).collect()
    }
    assert got == want


def test_ppl_buckets_are_exact_inverse_cdf_terciles(spark):
    """The head/middle/tail tags must reproduce a python recount of the
    exact inverse-CDF terciles over the integer per-token milli-NLL
    scores (smallest score whose cumulative count reaches ceil(q*N/3)),
    and every doc keeps exactly one tag."""
    rows = DOCS_QUERIES["corpus_ppl_buckets"](spark, SF_CORRECT).collect()
    scores = sorted(r.nll_milli_per_tok for r in rows)
    n = len(scores)
    t1 = scores[-(-1 * n // 3) - 1]  # value at rank ceil(N/3)
    t2 = scores[-(-2 * n // 3) - 1]  # value at rank ceil(2N/3)
    for r in rows:
        want = (
            "head"
            if r.nll_milli_per_tok <= t1
            else "middle"
            if r.nll_milli_per_tok <= t2
            else "tail"
        )
        assert r.ppl_bucket == want, (r, t1, t2)
    # all three buckets are populated on the fixture corpus, and the
    # head cut is at least its exact tercile mass (ties can only grow it)
    by = {}
    for r in rows:
        by[r.ppl_bucket] = by.get(r.ppl_bucket, 0) + 1
    assert set(by) == {"head", "middle", "tail"}
    assert by["head"] >= -(-n // 3)


def test_ann_recall_matches_python_set_recount(spark):
    """recall@k rows must equal a python recount of |approx ∩ exact| per
    (query, method), with every query present for both methods even when
    the approximate path found none of its exact neighbours."""
    from opentelemetry_collector_spark.operators import similarity as sim

    exact: dict = {}
    for r in sim.ann_cosine_topk(spark, SF_CORRECT).collect():
        exact.setdefault(r.query_id, set()).add(r.data_id)
    rows = DOCS_QUERIES["ann_recall"](spark, SF_CORRECT).collect()
    assert len(rows) == 2 * len(exact)
    for method, fn in (("ivf", sim.ann_ivf_topk), ("pq", sim.ann_pq_topk)):
        approx: dict = {}
        for r in fn(spark, SF_CORRECT).collect():
            approx.setdefault(r.query_id, set()).add(r.data_id)
        got = {
            r.query_id: (r.n_exact, r.n_hit, r.recall_milli)
            for r in rows
            if r.method == method
        }
        assert set(got) == set(exact)
        for q, ex in exact.items():
            hit = len(ex & approx.get(q, set()))
            assert got[q] == (len(ex), hit, 1000 * hit // len(ex)), (
                method, q,
            )


def test_corpus_shuffle_is_the_md5_permutation(spark):
    """order_idx must be the dense 0..N-1 rank of md5(doc_id || salt) —
    i.e. the two-phase bucketed rank equals the global sort it avoids."""
    import hashlib

    rows = DOCS_QUERIES["corpus_shuffle"](spark, SF_CORRECT).collect()
    ids = sorted(
        (r.doc_id for r in rows),
        key=lambda d: (
            hashlib.md5((str(d) + ":shuffle").encode()).hexdigest(),
            d,
        ),
    )
    want = {d: i for i, d in enumerate(ids)}
    assert len(rows) == len(want)
    assert sorted(r.order_idx for r in rows) == list(range(len(rows)))
    for r in rows:
        assert r.order_idx == want[r.doc_id]


def test_corpus_interleave_matches_python_recount(spark):
    """(src_rank, interleave_key) must equal the sequential recount: per
    source, docs md5-shuffled, r-th doc keyed (2r+1)*SCALE // (2*w_milli)
    with w_milli = floor(sqrt(n_s)*1000)."""
    import hashlib
    import math

    from opentelemetry_collector_spark.operators.sampling import (
        ILEAVE_SCALE,
    )

    docs = (
        spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
        .select("doc_id", "source")
        .collect()
    )
    by_src: dict = {}
    for r in docs:
        by_src.setdefault(r.source, []).append(r.doc_id)
    want = {}
    for s, ids in by_src.items():
        ids.sort(
            key=lambda d: (
                hashlib.md5((str(d) + ":ileave").encode()).hexdigest(),
                d,
            )
        )
        w = math.floor(math.sqrt(len(ids)) * 1000)
        for r0, d in enumerate(ids):
            want[d] = (s, r0, ((2 * r0 + 1) * ILEAVE_SCALE) // (2 * w))
    rows = DOCS_QUERIES["corpus_interleave"](spark, SF_CORRECT).collect()
    assert len(rows) == len(want)
    for r in rows:
        assert (r.source, r.src_rank, r.interleave_key) == want[r.doc_id]
    # the interleave property itself: in any key prefix, sources appear
    # roughly proportional to sqrt(n_s) — check the smallest source is
    # not starved (its first doc's key precedes the largest source's
    # w-th doc for w = sqrt-ratio)
    n_by_src = {s: len(ids) for s, ids in by_src.items()}
    smallest = min(n_by_src, key=n_by_src.get)
    first_small = min(
        r.interleave_key for r in rows if r.source == smallest
    )
    cheaper = sum(1 for r in rows if r.interleave_key < first_small)
    assert cheaper < 3 * len(n_by_src)  # a few docs per source at most


def test_multiprobe_lsh_recall_floor(spark):
    """Regression floor for the measured recall@k on the fixed sf0.01
    corpus: IVF measured 0.80 mean recall and PQ 0.18 (ADC ranks by
    integer L2 on the codes, the exact scan by cosine). Both deterministic
    on the fixture; a drop means someone broke the probing or the
    codebooks."""
    rows = DOCS_QUERIES["ann_recall"](spark, SF_CORRECT).collect()
    by: dict = {}
    for r in rows:
        by.setdefault(r.method, []).append(r.recall_milli)
    assert sum(by["pq"]) / len(by["pq"]) >= 180
    assert sum(by["ivf"]) / len(by["ivf"]) >= 700
