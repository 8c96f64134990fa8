"""Corpus-curation stages a training-data pipeline runs between ingest
and packing: rule filters, canonical normalization, weighted mixing,
importance-based selection, and context chunking.

The reference collector has no corpus operators; these extend the engine's
training-data family (SURVEY §2 LLM ops) with the standard public
methods:

* ``doc_gopher_rules`` — the Gopher quality-rule set (Rae et al. 2021,
  arXiv:2112.11446 §A1.1): word-count bounds, mean-word-length bounds,
  minimum alphabetic-word fraction, minimum stop-word presence, maximum
  symbol ratio. Every rule is a per-doc boolean plus the conjunction
  ``keep`` — filters are kept inspectable, never silent.
* ``doc_normalize`` — the canonical text form near-dedup pipelines hash
  (lowercase, strip non-alphanumerics, collapse whitespace) plus its md5,
  so a MinHash stage downstream can key on ``norm_hash`` instead of raw
  text.
* ``corpus_mix`` — deterministic weighted source mixing: given integer
  source weights, compute the largest feasible mixed corpus hitting those
  proportions and keep each doc by a salted hash threshold — reproducible
  across runs, engines, and cluster sizes (no ``rand()``).
* ``dsir_weights`` — DSIR importance weighting (Xie et al. 2023,
  arXiv:2302.03169): hashed-unigram bag models for a target slice vs the
  raw corpus, per-doc importance log-weights in integer milli-nats.
* ``doc_chunk`` — sliding-window word chunking with overlap (the context
  construction step before ``corpus_pack``).
* ``doc_split_leakage_safe`` — train/val/test assignment on near-dup
  components so no duplicate pair straddles an eval boundary.
* ``doc_entropy`` — word-entropy repetitiveness signal in integer
  milli-nats.
* ``corpus_ppl_buckets`` — CCNet head/middle/tail perplexity terciles
  under the unigram LM (Wenzek et al. 2020 §3.3).
* ``train_quality_classifier`` / ``doc_classifier_score`` — the
  FineWeb/CCNet supervised quality-classifier stage: NB log-odds over
  hashed unigram features, trained once on a boolean-labeled seed into a
  hash-bounded weight table and applied to any corpus via one broadcast
  join (see the section comment for the DSIR contrast).

Scale notes (100 TB): everything is single-scan. The Gopher rules and the
normalizer are pure codegen projections (the only higher-order function is
one ``filter`` for the alphabetic-word count; mean word length uses the
identity ``sum(len(w)) == length(text) - (n_words - 1)`` for
single-space-joined text instead of an interpreted fold). ``corpus_mix``
adds one partial aggregate over ~#sources rows and broadcasts the ≤#sources
rate table back; ``dsir_weights`` bounds its model tables at 1024 hash
buckets regardless of vocabulary — the corpus itself is never shuffled
wide by either.

Exact-arithmetic discipline: every rule threshold is compared in INTEGER
form (``3*n <= s`` instead of ``s/n >= 3.0``) so the DuckDB oracle is
bit-identical with no float formatting hazards.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from opentelemetry_collector_spark.operators.textstats import (
    STOPWORDS,
    _docs,
    _hash_bucket,
    _hash_bucket_sql,
    _occ_sql,
    _occurrences,
)

# --- Gopher rule constants (Rae et al. 2021 §A1.1) --------------------------
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3  # inclusive lower bound on mean word length
GOPHER_MAX_MEAN_WORD_LEN = 10  # inclusive upper bound
# >= 80% of words must contain at least one alphabetic character: 5*a >= 4*n
GOPHER_ALPHA_NUM, GOPHER_ALPHA_DEN = 4, 5
GOPHER_MIN_STOPWORDS = 2  # distinct stop words present
# symbol-to-word ratio (hash marks + ellipses) <= 10%: 10*s <= n
GOPHER_SYMBOL_DEN = 10
GOPHER_SYMBOLS = ("#", "...")


def _gopher_columns() -> dict[str, Column]:
    """The rule expressions over a ``text`` column, shared by the
    inventory query (``project=True``) and the processor-position filter
    (``project=False``)."""
    words = F.split(F.col("text"), " ")
    n_words = F.size(words).cast("long")
    # single-space-joined text: sum of word lengths == len - (n_words - 1)
    sum_len = (F.length("text") - n_words + F.lit(1)).cast("long")
    n_alpha = F.expr(
        "cast(size(filter(split(text, ' '), w -> w rlike '[a-zA-Z]')) AS bigint)"
    )
    n_stop = sum(
        (
            F.array_contains(words, w).cast("long")
            for w in STOPWORDS
        ),
        F.lit(0).cast("long"),
    )
    n_sym = sum(
        (_occurrences(s) for s in GOPHER_SYMBOLS), F.lit(0).cast("long")
    )
    r_words = (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    r_mean = (sum_len >= GOPHER_MIN_MEAN_WORD_LEN * n_words) & (
        sum_len <= GOPHER_MAX_MEAN_WORD_LEN * n_words
    )
    r_alpha = n_alpha * GOPHER_ALPHA_DEN >= n_words * GOPHER_ALPHA_NUM
    r_stop = n_stop >= GOPHER_MIN_STOPWORDS
    r_sym = n_sym * GOPHER_SYMBOL_DEN <= n_words
    return {
        "n_words": n_words,
        "sum_word_len": sum_len,
        "n_alpha_words": n_alpha,
        "n_stopwords_distinct": n_stop,
        "n_symbols": n_sym,
        "r_word_count": r_words,
        "r_mean_word_len": r_mean,
        "r_alpha_words": r_alpha,
        "r_stopwords": r_stop,
        "r_symbol_ratio": r_sym,
        "keep": r_words & r_mean & r_alpha & r_stop & r_sym,
    }


def doc_gopher_rules(
    spark,
    sf_dir: str,
    docs: DataFrame | None = None,
    project: bool = True,
) -> DataFrame:
    """Per-document Gopher rule booleans + the conjunction ``keep``.

    One projection, no shuffle: counts are derived from ``split(text, ' ')``
    and length arithmetic; the mean-word-length rule compares
    ``lo*n <= sum_word_len <= hi*n`` in integers.

    ``project=False`` is the processor position: the input frame filtered
    to ``keep`` rows with every column preserved — a pure Catalyst filter,
    no join against the rule frame.
    """
    df = _docs(spark, sf_dir, docs=docs)
    cols = _gopher_columns()
    if not project:
        return df.where(cols["keep"])
    return df.select(
        "doc_id", *[c.alias(n) for n, c in cols.items()]
    )


_STOP_SUM_SQL = " + ".join(
    f"(CASE WHEN list_contains(string_split(text, ' '), '{w}') THEN 1 ELSE 0 END)"
    for w in STOPWORDS
)
_SYM_SUM_SQL = " + ".join(_occ_sql(s) for s in GOPHER_SYMBOLS)

DOC_GOPHER_ORACLE = f"""
SELECT doc_id, n_words, sum_word_len, n_alpha_words, n_stopwords_distinct,
    n_symbols,
    (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS})
        AS r_word_count,
    (sum_word_len >= {GOPHER_MIN_MEAN_WORD_LEN} * n_words
     AND sum_word_len <= {GOPHER_MAX_MEAN_WORD_LEN} * n_words)
        AS r_mean_word_len,
    (n_alpha_words * {GOPHER_ALPHA_DEN} >= n_words * {GOPHER_ALPHA_NUM})
        AS r_alpha_words,
    (n_stopwords_distinct >= {GOPHER_MIN_STOPWORDS}) AS r_stopwords,
    (n_symbols * {GOPHER_SYMBOL_DEN} <= n_words) AS r_symbol_ratio,
    ((n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS})
     AND (sum_word_len >= {GOPHER_MIN_MEAN_WORD_LEN} * n_words
          AND sum_word_len <= {GOPHER_MAX_MEAN_WORD_LEN} * n_words)
     AND (n_alpha_words * {GOPHER_ALPHA_DEN} >= n_words * {GOPHER_ALPHA_NUM})
     AND (n_stopwords_distinct >= {GOPHER_MIN_STOPWORDS})
     AND (n_symbols * {GOPHER_SYMBOL_DEN} <= n_words)) AS keep
FROM (
    SELECT doc_id,
        cast(len(string_split(text, ' ')) AS bigint) AS n_words,
        cast(length(text) - len(string_split(text, ' ')) + 1 AS bigint)
            AS sum_word_len,
        cast(len(list_filter(string_split(text, ' '),
                             w -> regexp_matches(w, '[a-zA-Z]'))) AS bigint)
            AS n_alpha_words,
        cast({_STOP_SUM_SQL} AS bigint) AS n_stopwords_distinct,
        cast({_SYM_SUM_SQL} AS bigint) AS n_symbols
    FROM documents
) q
"""


def doc_normalize(
    spark,
    sf_dir: str,
    docs: DataFrame | None = None,
    project: bool = True,
) -> DataFrame:
    """Canonical text form for near-dedup keying: lowercase, map every
    non-[a-z0-9 ] rune to space, collapse runs of spaces, trim; plus its
    md5 (``norm_hash``) and normalized length. Pure codegen projection.

    ``project=False`` is the processor position: ``text``/``n_chars`` are
    rewritten in place (every other column preserved) and ``norm_hash``
    is appended for downstream dedup keying."""
    df = _docs(spark, sf_dir, docs=docs)
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    if not project:
        return (
            df.withColumn("text", norm)
            .withColumn("n_chars", F.length("text").cast("long"))
            .withColumn("norm_hash", F.md5("text"))
        )
    return df.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length(norm).cast("long").alias("n_chars_norm"),
        F.md5(norm).alias("norm_hash"),
    )


DOC_NORMALIZE_ORACLE = """
SELECT doc_id, norm_text,
    cast(length(norm_text) AS bigint) AS n_chars_norm,
    md5(norm_text) AS norm_hash
FROM (
    SELECT doc_id,
        trim(regexp_replace(
            regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
            ' +', ' ', 'g')) AS norm_text
    FROM documents
) q
"""


# --- deterministic weighted source mixing -----------------------------------
#
# Integer weights per source family; the mix targets proportions
# w_s / sum(w). The largest feasible mixed corpus is T = min_s(n_s * W / w_s)
# (the scarcest source binds); each source then keeps
# rate_s = (w_s * T * 1000) / (W * n_s) per-mille of its docs by salted
# doc_id hash. All arithmetic is integer (floor division), so the oracle is
# exact.

MIX_SALT = "mix"
MIX_WEIGHT_CASE = (
    "CASE WHEN source IN ('src0', 'src1', 'src2', 'src3') THEN 3 "
    "WHEN source IN ('src4', 'src5') THEN 2 ELSE 1 END"
)


def _mix_weight() -> Column:
    return F.expr(MIX_WEIGHT_CASE).cast("long")


def corpus_mix(
    spark,
    sf_dir: str,
    docs: DataFrame | None = None,
    project: bool = True,
) -> DataFrame:
    """Weighted source mix: per-source keep rates derived from integer
    target weights, applied as a deterministic salted-hash filter.

    Plan shape at 10^12 docs: one partial aggregate to ~#sources rows, a
    driver-free scalar reduction on that tiny frame, and one broadcast join
    of the ≤#sources rate table back onto the scan — the corpus itself is
    never shuffled.

    ``project=False`` is the processor position: the kept rows with every
    input column preserved (rate column dropped).
    """
    df = _docs(spark, sf_dir, docs=docs)
    counts = (
        df.groupBy("source")
        .agg(F.count("*").cast("long").alias("n_s"))
        .withColumn("wgt", _mix_weight())
    )
    totals = counts.agg(F.sum("wgt").cast("long").alias("w_total"))
    t_max = (
        counts.crossJoin(F.broadcast(totals))
        .select(F.expr("n_s * w_total div wgt").alias("cand"))
        .agg(F.min("cand").cast("long").alias("t_mix"))
    )
    rates = (
        counts.crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(t_max))
        .select(
            "source",
            F.expr(
                "least(1000L, (wgt * t_mix * 1000) div (w_total * n_s))"
            ).alias("rate_permille"),
        )
    )
    kept = df.join(F.broadcast(rates), "source").where(
        _hash_bucket(F.col("doc_id"), 1000, MIX_SALT) < F.col("rate_permille")
    )
    if not project:
        return kept.drop("rate_permille")
    return kept.select("doc_id", "source", "rate_permille")


CORPUS_MIX_ORACLE = f"""
WITH cnt AS (
    SELECT source, any_value({MIX_WEIGHT_CASE}) AS wgt,
           count(*) AS n_s
    FROM documents GROUP BY source
),
tot AS (SELECT sum(wgt) AS w_total FROM cnt),
tmin AS (
    SELECT min(n_s * (SELECT w_total FROM tot) // wgt) AS t_mix FROM cnt
),
rates AS (
    SELECT source,
        least(1000, (wgt * (SELECT t_mix FROM tmin) * 1000)
                    // ((SELECT w_total FROM tot) * n_s))
            AS rate_permille
    FROM cnt
)
SELECT d.doc_id, d.source, cast(r.rate_permille AS bigint) AS rate_permille
FROM documents d JOIN rates r USING (source)
WHERE {_hash_bucket_sql('d.doc_id', 1000, MIX_SALT)} < r.rate_permille
"""


# --- DSIR: data selection via importance resampling --------------------------
#
# Xie et al. 2023 (arXiv:2302.03169): score each raw document by the
# importance log-ratio log p_target(x) / p_raw(x) under hashed-n-gram bag
# models and resample toward the target distribution. Here the feature
# space is hashed unigrams (DSIR_BUCKETS buckets, salted md5 — the same
# engine-portable hash the samplers use), the target distribution is the
# corpus slice ``lang == target_lang``, and both models are Laplace-
# smoothed bucket frequencies. The deterministic selection analog of the
# paper's Gumbel resampling: keep = per-token weight above the corpus
# per-token average (raw-typical docs average -KL(p_raw||p_target) < 0,
# so an absolute >0 cut would be degenerate), with the integer weight
# exposed so callers can rank or threshold instead.

DSIR_BUCKETS = 1024
DSIR_SALT = "dsir"
DSIR_TARGET_LANG = "en"


def dsir_weights(
    spark,
    sf_dir: str,
    docs: DataFrame | None = None,
    target_lang: str = DSIR_TARGET_LANG,
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """Per-document DSIR importance weights against the ``target_lang``
    slice: (doc_id, n_tokens, weight_milli, avg_weight_milli, keep).

    Cross-engine exactness: the per-bucket log-ratio is quantized to
    integer milli-nats BEFORE the per-doc sum (the doc_unigram_ll rule) —
    each bucket's double derives from four exact integers, and integer
    sums are order-independent.

    Scale shape at 10^12 docs: tokens explode once (``lang`` rides the
    projection — no join back to the corpus); the two bucket-count tables
    are bounded at ``n_buckets`` rows (partial aggregates, then broadcast
    back onto the token stream); the per-doc sum shuffles on the uniform
    doc_id key. Nothing driver-side, nothing all-pairs, no vocabulary-
    sized broadcast — hashing bounds the model at n_buckets regardless of
    corpus vocabulary (the paper's reason for hashed features).
    """
    from opentelemetry_collector_spark.operators.textstats import _docs as _d

    toks = (
        _d(spark, sf_dir, docs=docs)
        .select(
            "doc_id",
            "lang",
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w"),
        )
        .filter(F.length("w") > 0)
        .withColumn("b", _hash_bucket(F.col("w"), n_buckets, DSIR_SALT))
    )
    raw = toks.groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("cr"))
    tgt = (
        toks.filter(F.col("lang") == target_lang)
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("long").alias("ct"))
    )
    totals = toks.agg(
        F.count(F.lit(1)).cast("long").alias("r_total"),
        F.sum((F.col("lang") == target_lang).cast("long"))
        .cast("long")
        .alias("t_total"),
    )
    lr_milli = F.round(
        F.log(
            (
                (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
                * (F.col("r_total") + n_buckets).cast("double")
            )
            / (
                (F.col("cr") + 1).cast("double")
                * (F.col("t_total") + n_buckets).cast("double")
            )
        )
        * 1000.0
    ).cast("long")
    ratios = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(totals))
        .select("b", lr_milli.alias("lr_milli"))
    )
    per_doc = (
        toks.join(F.broadcast(ratios), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("lr_milli").cast("long").alias("weight_milli"),
        )
    )
    corpus = per_doc.agg(
        F.sum("weight_milli").cast("long").alias("tot_w"),
        F.sum("n_tokens").cast("long").alias("tot_n"),
    )
    # keep: per-token weight above the corpus per-token average, compared
    # cross-multiplied in integers (w/n > W/N  <=>  w*N > W*n) — no float
    return per_doc.crossJoin(F.broadcast(corpus)).select(
        "doc_id",
        "n_tokens",
        "weight_milli",
        (
            F.col("weight_milli").cast("double")
            / F.col("n_tokens").cast("double")
        ).alias("avg_weight_milli"),
        (
            F.col("weight_milli") * F.col("tot_n")
            > F.col("tot_w") * F.col("n_tokens")
        ).alias("keep"),
    )


DSIR_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, lang, w,
        {_hash_bucket_sql('w', DSIR_BUCKETS, DSIR_SALT)} AS b
    FROM (
        SELECT doc_id, lang,
            unnest(string_split_regex(lower(text), '\\s+')) AS w
        FROM documents
    ) t WHERE length(w) > 0
),
raw AS (SELECT b, count(*) AS cr FROM toks GROUP BY b),
tgt AS (
    SELECT b, count(*) AS ct FROM toks
    WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY b
),
tot AS (
    SELECT count(*) AS r_total,
        sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
            AS t_total
    FROM toks
),
ratios AS (
    SELECT r.b,
        cast(round(ln(
            (cast(coalesce(t.ct, 0) + 1 AS double)
             * cast(tot.r_total + {DSIR_BUCKETS} AS double))
            / (cast(r.cr + 1 AS double)
               * cast(tot.t_total + {DSIR_BUCKETS} AS double))
        ) * 1000) AS bigint) AS lr_milli
    FROM raw r LEFT JOIN tgt t USING (b), tot
),
per_doc AS (
    SELECT doc_id,
        cast(count(*) AS bigint) AS n_tokens,
        cast(sum(lr_milli) AS bigint) AS weight_milli
    FROM toks JOIN ratios USING (b)
    GROUP BY doc_id
),
corpus AS (
    SELECT cast(sum(weight_milli) AS bigint) AS tot_w,
        cast(sum(n_tokens) AS bigint) AS tot_n
    FROM per_doc
)
SELECT doc_id, n_tokens, weight_milli,
    cast(weight_milli AS double) / cast(n_tokens AS double)
        AS avg_weight_milli,
    (weight_milli * tot_n > tot_w * n_tokens) AS keep
FROM per_doc, corpus
"""


# --- sliding-window chunking (training-context construction) -----------------
#
# Long documents are split into fixed-size word windows with overlap before
# packing/tokenization (every LM data pipeline's step between curation and
# corpus_pack). Deterministic, engine-exact: chunk boundaries are pure
# integer arithmetic over the whitespace word array.

CHUNK_WORDS = 64  # window size in words
CHUNK_STRIDE = 48  # step between window starts (overlap = 16)


def doc_chunk(
    spark,
    sf_dir: str,
    docs: DataFrame | None = None,
    chunk_words: int = CHUNK_WORDS,
    stride: int = CHUNK_STRIDE,
) -> DataFrame:
    """(doc_id, chunk_idx, n_chunk_words, chunk_text): window ``j`` covers
    words ``[j*stride, j*stride + chunk_words)``; the last window may be
    short; a doc shorter than one window yields exactly one chunk. Chunk
    count is ``1 + ceil(max(0, n - chunk_words) / stride)``.

    Scale: one explode over a (doc_id, text) projection — no shuffle, no
    UDF; output volume is ~n/stride rows per doc by construction (the
    overlap factor is the only amplification).
    """
    if stride <= 0 or chunk_words <= 0:
        raise ValueError("chunk_words and stride must be positive")
    df = _docs(spark, sf_dir, docs=docs)
    words = F.split(F.col("text"), " ")
    n = F.size(words).cast("long")
    # ceil((n - chunk_words)/stride) in integers; 0 when n <= chunk_words
    j_max = F.greatest(
        F.lit(0).cast("long"),
        F.expr(
            f"(size(split(text, ' ')) - {chunk_words} + {stride} - 1) "
            f"div {stride}"
        ),
    )
    chunked = df.select(
        "doc_id",
        words.alias("words"),
        F.explode(F.sequence(F.lit(0).cast("long"), j_max)).alias("chunk_idx"),
    )
    piece = F.slice(
        F.col("words"),
        (F.col("chunk_idx") * stride + 1).cast("int"),
        chunk_words,
    )
    return chunked.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.size(piece).cast("long").alias("n_chunk_words"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


DOC_CHUNK_ORACLE = f"""
WITH w AS (
    SELECT doc_id, string_split(text, ' ') AS words,
        len(string_split(text, ' ')) AS n
    FROM documents
),
idx AS (
    SELECT doc_id, words,
        unnest(generate_series(0,
            greatest(0, (n - {CHUNK_WORDS} + {CHUNK_STRIDE} - 1)
                        // {CHUNK_STRIDE}))) AS chunk_idx
    FROM w
)
SELECT doc_id, cast(chunk_idx AS int) AS chunk_idx,
    cast(len(list_slice(words, chunk_idx * {CHUNK_STRIDE} + 1,
                        chunk_idx * {CHUNK_STRIDE} + {CHUNK_WORDS}))
         AS bigint) AS n_chunk_words,
    array_to_string(list_slice(words, chunk_idx * {CHUNK_STRIDE} + 1,
                               chunk_idx * {CHUNK_STRIDE} + {CHUNK_WORDS}),
                    ' ') AS chunk_text
FROM idx
"""


# --- leakage-safe splitting --------------------------------------------------


def doc_split_leakage_safe(
    spark,
    sf_dir: str,
    docs: DataFrame | None = None,
    max_iter: int = 20,
) -> DataFrame:
    """Train/val/test assignment that near-duplicates can never straddle:
    every document in a near-dup connected component is assigned the split
    of the component's canonical doc (min doc_id), so paraphrases and
    boilerplate copies of a training document cannot leak into the test
    set. This is why dedup/clustering runs BEFORE splitting in the public
    pipelines (Lee et al. 2021 §4 measure exactly this train/test overlap;
    The Pile and the C4 replication both report eval contamination from
    hash-splitting raw docs) — splitting by raw doc_id hash leaks whenever
    a duplicate pair crosses the boundary.

    Output: (doc_id, split_group, split_bucket, split) — ``split_group``
    is the component canonical for clustered docs, the doc's own id for
    singletons. Uses the identical hash, salt, and SPLIT_FRACTIONS as
    ``doc_split``, so singleton docs land in exactly the split they'd get
    there (swapping the op in only moves docs that have a near-duplicate).

    Scale shape at 10^12 docs: the pair set is ``dedup_clusters``'
    MinHash band-key equality join (never all-pairs); components
    converge in O(diameter) propagation rounds over the node set only
    (≪ corpus); the join back to the corpus keys on uniform doc_id —
    left as a shuffle join deliberately, because at web scale 30-50% of
    docs sit in some dup component, far past broadcast size (AQE may
    still elect broadcast at small SF).
    """
    from opentelemetry_collector_spark.operators.dedup import dedup_clusters
    from opentelemetry_collector_spark.operators.textstats import (
        _split_expr,
    )

    d = _docs(spark, sf_dir, docs=docs)
    comps = dedup_clusters(spark, sf_dir, docs=d, max_iter=max_iter).select(
        "doc_id", "cluster_id"
    )
    group = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    bucket = _hash_bucket(group, 100, ":split")
    return d.join(comps, "doc_id", "left").select(
        "doc_id",
        group.alias("split_group"),
        bucket.cast("int").alias("split_bucket"),
        _split_expr(bucket).alias("split"),
    )


def _leakage_safe_oracle() -> str:
    from opentelemetry_collector_spark.operators.dedup import (
        DEDUP_CLUSTERS_ORACLE,
    )
    from opentelemetry_collector_spark.operators.textstats import (
        _split_case_sql,
    )

    return f"""
WITH lab AS (
    {DEDUP_CLUSTERS_ORACLE}
),
grp AS (
    SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS split_group
    FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id
)
SELECT doc_id, split_group, cast(b AS int) AS split_bucket,
    {_split_case_sql()} AS split
FROM (
    SELECT doc_id, split_group,
        {_hash_bucket_sql('split_group', 100, ':split')} AS b
    FROM grp
) q
"""


DOC_SPLIT_LEAKAGE_SAFE_ORACLE = _leakage_safe_oracle()


# --- word-distribution entropy (repetitiveness quality signal) ---------------
#
# Shannon entropy of the per-document word distribution,
# H = ln(n) - (1/n) * sum_w c_w ln(c_w) — the standard "gibberish vs
# boilerplate" axis (low entropy = a few words repeated; used alongside the
# Gopher repetition rules, e.g. CCNet §4.2's LM-based filter uses the same
# distributional idea at the corpus level). Exact-arithmetic discipline:
# per-word terms quantize to integer milli-nats BEFORE the weighted sum
# (c_w * round(ln(c_w)*1000) — integer × integer), so the aggregate is an
# order-independent bigint and the drop rule compares integers:
# H >= tau  <=>  n*round(ln(n)*1000) - S >= n*tau_milli.

ENTROPY_MIN_MILLI = 3000  # 3 nats ~ e^3 ~ 20 effective word types


def doc_entropy(
    spark,
    sf_dir: str,
    docs: DataFrame | None = None,
) -> DataFrame:
    """Per-document word-entropy quality signal.

    Output: (doc_id, n_tokens, n_distinct, entropy_scaled_milli,
    entropy_milli, low_entropy). ``entropy_scaled_milli`` is the exact
    integer n*H in milli-nats; ``entropy_milli`` its per-token double;
    ``low_entropy`` the integer-compared drop flag at ENTROPY_MIN_MILLI.

    Scale (100 TB): two partial aggregates on uniform keys —
    (doc_id, word) then doc_id — both map-side combined; no joins, no
    broadcast, no skew surface (doc_id is unique, (doc_id, word) is
    bounded by the doc's own vocabulary).
    """
    from opentelemetry_collector_spark.operators.textstats import _tokens

    per_word = (
        _tokens(spark, sf_dir, docs=docs)
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    clnc = F.col("c") * F.round(
        F.log(F.col("c").cast("double")) * 1000.0
    ).cast("long")
    agg = per_word.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(clnc).cast("long").alias("sum_clnc_milli"),
    )
    ln_n_milli = F.round(
        F.log(F.col("n_tokens").cast("double")) * 1000.0
    ).cast("long")
    scaled = F.col("n_tokens") * ln_n_milli - F.col("sum_clnc_milli")
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        scaled.alias("entropy_scaled_milli"),
        (
            scaled.cast("double") / F.col("n_tokens").cast("double")
        ).alias("entropy_milli"),
        (
            scaled < F.col("n_tokens") * F.lit(ENTROPY_MIN_MILLI)
        ).alias("low_entropy"),
    )


DOC_ENTROPY_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, w FROM (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS w
        FROM documents
    ) t WHERE length(w) > 0
),
per_word AS (
    SELECT doc_id, w, cast(count(*) AS bigint) AS c
    FROM toks GROUP BY doc_id, w
),
agg AS (
    SELECT doc_id,
        cast(sum(c) AS bigint) AS n_tokens,
        cast(count(*) AS bigint) AS n_distinct,
        cast(sum(c * cast(round(ln(cast(c AS double)) * 1000) AS bigint))
            AS bigint) AS sum_clnc_milli
    FROM per_word GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_distinct,
    n_tokens * cast(round(ln(cast(n_tokens AS double)) * 1000) AS bigint)
        - sum_clnc_milli AS entropy_scaled_milli,
    cast(n_tokens * cast(round(ln(cast(n_tokens AS double)) * 1000) AS bigint)
        - sum_clnc_milli AS double) / cast(n_tokens AS double)
        AS entropy_milli,
    (n_tokens * cast(round(ln(cast(n_tokens AS double)) * 1000) AS bigint)
        - sum_clnc_milli) < n_tokens * {ENTROPY_MIN_MILLI} AS low_entropy
FROM agg
"""


# --- CCNet perplexity bucketing (Wenzek et al. 2020 §3.3) --------------------

PPL_BUCKETS = ("head", "middle", "tail")


def corpus_ppl_buckets(
    spark,
    sf_dir: str,
    docs: DataFrame | None = None,
    model=None,
) -> DataFrame:
    """CCNet-style head/middle/tail corpus partitioning by LM perplexity
    terciles (Wenzek et al. 2020 §3.3: "we divide each language's data
    into head/middle/tail by the perplexity of a language model"):
    (doc_id, nll_milli_per_tok, ppl_bucket).

    The per-doc score is the integer ceil of milli-nats-per-token under
    the unigram LM (``doc_unigram_ll``'s exact integer ll_milli):
    low NLL = most in-distribution = head. Tercile thresholds are the
    exact inverse-CDF 1/3 and 2/3 points — smallest score whose
    cumulative doc count reaches ceil(q*N/3) — integer arithmetic only.

    Scale: CCNet computes percentile cutoffs once and then streams; this
    does the same relationally. The threshold pass aggregates on the
    integer score, whose distinct-value count is bounded by the VALUE
    RANGE (~1000*ln(N_tokens) milli-nats, tens of thousands of rows at
    any corpus size), NOT by doc count — so the cumulative-sum window
    runs on constant-bounded state and the thresholds broadcast back as
    one row. No global sort of documents anywhere; contrast ntile(3),
    which would sort the world.
    """
    from pyspark.sql.window import Window

    from opentelemetry_collector_spark.operators.textstats import (
        doc_unigram_ll,
    )

    ll = doc_unigram_ll(spark, sf_dir, model=model, docs=docs)
    scores = ll.select(
        "doc_id",
        F.expr("(n_tokens - 1 - ll_milli) div n_tokens")
        .cast("long")
        .alias("nll_milli_per_tok"),
    )
    hist = scores.groupBy("nll_milli_per_tok").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    w = Window.orderBy("nll_milli_per_tok").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.orderBy("nll_milli_per_tok").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        "nll_milli_per_tok",
        F.sum("cnt").over(w).cast("long").alias("cum"),
        F.sum("cnt").over(w_all).cast("long").alias("total"),
    )
    thr = cum.agg(
        F.min(
            F.when(
                F.col("cum") >= F.expr("(1 * total + 2) div 3"),
                F.col("nll_milli_per_tok"),
            )
        ).alias("t1"),
        F.min(
            F.when(
                F.col("cum") >= F.expr("(2 * total + 2) div 3"),
                F.col("nll_milli_per_tok"),
            )
        ).alias("t2"),
    )
    return scores.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "nll_milli_per_tok",
        F.when(F.col("nll_milli_per_tok") <= F.col("t1"), F.lit("head"))
        .when(F.col("nll_milli_per_tok") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )


PPL_BUCKETS_ORACLE = """
WITH toks AS (
    SELECT doc_id, w FROM (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS w
        FROM documents
    ) t WHERE length(w) > 0
),
vocab AS (
    SELECT w, count(*) AS c FROM toks GROUP BY w
    HAVING count(*) >= 2
),
tot AS (SELECT cast(count(*) AS double) AS n FROM toks),
ll AS (
    SELECT doc_id,
        cast(count(*) AS bigint) AS n_tokens,
        cast(sum(cast(round(ln(cast(coalesce(c, 1) AS double) / n) * 1000)
            AS bigint)) AS bigint) AS ll_milli
    FROM toks LEFT JOIN vocab USING (w), tot
    GROUP BY doc_id
),
scores AS (
    SELECT doc_id,
        cast((n_tokens - 1 - ll_milli) // n_tokens AS bigint)
            AS nll_milli_per_tok
    FROM ll
),
hist AS (
    SELECT nll_milli_per_tok, cast(count(*) AS bigint) AS cnt
    FROM scores GROUP BY 1
),
cum AS (
    SELECT nll_milli_per_tok,
        cast(sum(cnt) OVER (ORDER BY nll_milli_per_tok) AS bigint) AS cum,
        cast(sum(cnt) OVER () AS bigint) AS total
    FROM hist
),
thr AS (
    SELECT
        min(CASE WHEN cum >= (1 * total + 2) // 3
            THEN nll_milli_per_tok END) AS t1,
        min(CASE WHEN cum >= (2 * total + 2) // 3
            THEN nll_milli_per_tok END) AS t2
    FROM cum
)
SELECT doc_id, nll_milli_per_tok,
    CASE WHEN nll_milli_per_tok <= t1 THEN 'head'
         WHEN nll_milli_per_tok <= t2 THEN 'middle'
         ELSE 'tail' END AS ppl_bucket
FROM scores, thr
"""


# --- supervised quality classifier (NB log-odds over hashed features) --------
#
# The FineWeb/CCNet-style CLASSIFIER stage: a seed set of labeled docs
# (human- or LLM-judged good/bad) trains a linear model that scores the
# whole corpus. Distinct from `dsir_weights` in both contract and math:
# DSIR is UNSUPERVISED (importance ratios of a target SLICE of the same
# frame, computed and applied in one pass), while this is a SUPERVISED
# Naive-Bayes log-odds posterior with an explicit boolean label column
# and a DECOUPLED train→apply shape — train once on the labeled seed,
# persist the (bucket, weight) table, score any number of corpora with a
# single broadcast join (the `train_unigram_model` production split,
# applied discriminatively).
#
# Cross-engine exactness: every weight is round(1000 * ln(ratio of exact
# integers)) — the doc_unigram_ll/dsir integer milli-nat rule — and the
# per-doc score is an order-independent integer sum, so keep decisions
# are integer comparisons (score_milli > 0 ⇔ positive posterior beats
# the prior-adjusted threshold).
#
# Scale: the model is hash-bounded at CLF_BUCKETS (+3 sentinel) rows
# regardless of vocabulary — broadcast-sized BY CONSTRUCTION (the
# doc_tfidf_topk lesson does not apply: nothing vocabulary-sized ever
# shuffles or broadcasts); tokens explode once; the per-doc sum shuffles
# on the uniform doc_id key.

CLF_BUCKETS = 1024
CLF_SALT = "qclf"
CLF_BIAS_B = -1  # sentinel row: class-prior log-odds
CLF_DEFAULT_B = -2  # sentinel row: weight of a bucket unseen in training
CLF_NBUCKETS_B = -3  # sentinel row: the model's n_buckets (in w_milli)


def train_quality_classifier(
    spark,
    labeled: DataFrame,
    label_col: str = "label",
    n_buckets: int = CLF_BUCKETS,
) -> DataFrame:
    """Train the NB log-odds model on docs whose ``label_col`` is a
    non-null boolean: returns (b, w_milli) with one row per observed
    hashed-unigram bucket plus the three sentinel rows ({CLF_BIAS_B} =
    doc-count prior log-odds, {CLF_DEFAULT_B} = unseen-bucket weight,
    {CLF_NBUCKETS_B} = the ``n_buckets`` the tokens were hashed into).
    Two bounded aggregates over one token explosion — nothing
    vocabulary-sized anywhere."""
    lab = labeled.filter(F.col(label_col).isNotNull()).select(
        "doc_id", "text", F.col(label_col).cast("boolean").alias("label")
    )
    toks = (
        lab.select(
            "doc_id",
            "label",
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w"),
        )
        .filter(F.length("w") > 0)
        .withColumn("b", _hash_bucket(F.col("w"), n_buckets, CLF_SALT))
    )
    cnt = toks.groupBy("b").agg(
        F.sum(F.col("label").cast("long")).cast("long").alias("cp"),
        F.sum((~F.col("label")).cast("long")).cast("long").alias("cn"),
    )
    tot = toks.agg(
        F.sum(F.col("label").cast("long")).cast("long").alias("p_total"),
        F.sum((~F.col("label")).cast("long")).cast("long").alias("n_total"),
    )
    _w = F.round(
        F.log(
            (
                (F.col("cp") + 1).cast("double")
                * (F.col("n_total") + n_buckets).cast("double")
            )
            / (
                (F.col("cn") + 1).cast("double")
                * (F.col("p_total") + n_buckets).cast("double")
            )
        )
        * 1000.0
    ).cast("long")
    weights = cnt.crossJoin(F.broadcast(tot)).select(
        F.col("b").cast("bigint").alias("b"), _w.alias("w_milli")
    )
    docs_tot = lab.agg(
        F.sum(F.col("label").cast("long")).cast("long").alias("pos_docs"),
        F.sum((~F.col("label")).cast("long")).cast("long").alias("neg_docs"),
    )
    bias = docs_tot.select(
        F.lit(CLF_BIAS_B).cast("bigint").alias("b"),
        F.round(
            F.log(
                (F.col("pos_docs") + 1).cast("double")
                / (F.col("neg_docs") + 1).cast("double")
            )
            * 1000.0
        )
        .cast("long")
        .alias("w_milli"),
    )
    default = tot.select(
        F.lit(CLF_DEFAULT_B).cast("bigint").alias("b"),
        F.round(
            F.log(
                (F.col("n_total") + n_buckets).cast("double")
                / (F.col("p_total") + n_buckets).cast("double")
            )
            * 1000.0
        )
        .cast("long")
        .alias("w_milli"),
    )
    n_buckets_row = tot.select(
        F.lit(CLF_NBUCKETS_B).cast("bigint").alias("b"),
        F.lit(n_buckets).cast("long").alias("w_milli"),
    )
    return weights.unionByName(bias).unionByName(default).unionByName(
        n_buckets_row
    )


def doc_classifier_score(
    spark,
    sf_dir: str,
    docs: DataFrame | None = None,
    model: DataFrame | None = None,
    labeled: DataFrame | None = None,
    label_col: str = "label",
    n_buckets: int = CLF_BUCKETS,
) -> DataFrame:
    """Score docs under a trained model: (doc_id, n_tokens, score_milli,
    avg_score_milli, keep). ``keep = score_milli > 0`` — the NB positive-
    posterior rule, an integer comparison. Pass ``model`` (the persisted
    table) for the decoupled production shape, or ``labeled`` to train
    in-flight (the self-contained single-frame shape the oracle mirrors;
    when the labels ride the scored frame itself, pass it as both).

    A passed ``model`` must have been trained with this ``n_buckets``:
    its tokens hash into that many buckets, and another count would look
    up the wrong weights. Its ``{CLF_NBUCKETS_B}`` sentinel row is read
    (one small job) and a mismatch or a missing row raises ValueError.

    One token explosion, one broadcast join against the ≤{CLF_BUCKETS}+3
    row model, one doc_id-keyed aggregate. Docs with no tokens carry no
    evidence and are not scored (the dsir_weights convention)."""
    d = _docs(spark, sf_dir, docs=docs)
    if model is None:
        if labeled is None:
            raise ValueError("pass a trained `model` or a `labeled` frame")
        model = train_quality_classifier(
            spark, labeled, label_col=label_col, n_buckets=n_buckets
        )
    else:
        trained = [
            r.w_milli
            for r in model.filter(F.col("b") == CLF_NBUCKETS_B).collect()
        ]
        if len(trained) != 1:
            raise ValueError(
                f"classifier model has {len(trained)} n_buckets sentinel "
                f"rows (b = {CLF_NBUCKETS_B}), expected 1: retrain it"
            )
        if trained[0] != n_buckets:
            raise ValueError(
                f"classifier model was trained with n_buckets={trained[0]}, "
                f"scoring uses n_buckets={n_buckets}"
            )
    sentinels = model.filter(F.col("b") < 0).groupBy().agg(
        F.max(
            F.when(F.col("b") == CLF_BIAS_B, F.col("w_milli"))
        ).alias("bias_milli"),
        F.max(
            F.when(F.col("b") == CLF_DEFAULT_B, F.col("w_milli"))
        ).alias("def_milli"),
    )
    toks = (
        d.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w"),
        )
        .filter(F.length("w") > 0)
        .withColumn(
            "b", _hash_bucket(F.col("w"), n_buckets, CLF_SALT).cast("bigint")
        )
    )
    per_doc = (
        toks.join(F.broadcast(model.filter(F.col("b") >= 0)), "b", "left")
        .crossJoin(F.broadcast(sentinels))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            (
                F.sum(F.coalesce(F.col("w_milli"), F.col("def_milli")))
                + F.first("bias_milli")
            )
            .cast("long")
            .alias("score_milli"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "score_milli",
        (
            F.col("score_milli").cast("double")
            / F.col("n_tokens").cast("double")
        ).alias("avg_score_milli"),
        (F.col("score_milli") > 0).alias("keep"),
    )


# Self-contained train+score over a `documents` view carrying a nullable
# boolean `label` column (train on the labeled subset, score every doc) —
# proves the decoupled Spark train→apply path is lossless vs one SQL pass.
CLASSIFIER_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, label, w,
        {_hash_bucket_sql('w', CLF_BUCKETS, CLF_SALT)} AS b
    FROM (
        SELECT doc_id, label,
            unnest(string_split_regex(lower(text), '\\s+')) AS w
        FROM documents
    ) t WHERE length(w) > 0
),
ltoks AS (SELECT * FROM toks WHERE label IS NOT NULL),
cnt AS (
    SELECT b,
        sum(CASE WHEN label THEN 1 ELSE 0 END) AS cp,
        sum(CASE WHEN label THEN 0 ELSE 1 END) AS cn
    FROM ltoks GROUP BY b
),
tot AS (
    SELECT sum(CASE WHEN label THEN 1 ELSE 0 END) AS p_total,
        sum(CASE WHEN label THEN 0 ELSE 1 END) AS n_total
    FROM ltoks
),
weights AS (
    SELECT b,
        cast(round(ln(
            (cast(cp + 1 AS double) * cast(tot.n_total + {CLF_BUCKETS} AS double))
            / (cast(cn + 1 AS double) * cast(tot.p_total + {CLF_BUCKETS} AS double))
        ) * 1000) AS bigint) AS w_milli
    FROM cnt, tot
),
sentinels AS (
    SELECT
        cast(round(ln(
            cast((SELECT sum(CASE WHEN label THEN 1 ELSE 0 END) FROM documents
                  WHERE label IS NOT NULL) + 1 AS double)
            / cast((SELECT sum(CASE WHEN label THEN 0 ELSE 1 END) FROM documents
                    WHERE label IS NOT NULL) + 1 AS double)
        ) * 1000) AS bigint) AS bias_milli,
        cast(round(ln(
            cast(tot.n_total + {CLF_BUCKETS} AS double)
            / cast(tot.p_total + {CLF_BUCKETS} AS double)
        ) * 1000) AS bigint) AS def_milli
    FROM tot
)
SELECT doc_id,
    cast(count(*) AS bigint) AS n_tokens,
    cast(sum(coalesce(w.w_milli, s.def_milli)) + s.bias_milli AS bigint)
        AS score_milli,
    cast(sum(coalesce(w.w_milli, s.def_milli)) + s.bias_milli AS double)
        / cast(count(*) AS double) AS avg_score_milli,
    (sum(coalesce(w.w_milli, s.def_milli)) + s.bias_milli) > 0 AS keep
FROM toks LEFT JOIN weights w USING (b), sentinels s
GROUP BY doc_id, s.bias_milli
"""
