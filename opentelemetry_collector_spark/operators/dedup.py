"""Deduplication operators over the ``documents`` table: exact, MinHash+LSH
near-dup pairs and their clusters, substring spans and paragraph tiles.
(Embedding-cosine near-dup lives in similarity.py with the other vector
ops.)

Text near-dup is one path, MinHash+LSH over word-shingle sets (Broder),
implemented Spark-first:

* the signature is **one compiled hash aggregate** over the exploded
  shingles: a row per (doc, shingle) carries the shingle's two md5 lanes,
  and a groupBy on doc_id takes the MINHASH_K ``min``s — no per-shingle
  lambda (the persisted frame of ``dedup_minhash_pairs`` loses the doc_id
  partitioning, so there the partial mins shuffle once);
* candidate generation is **band buckets**: band rows group on (band, key)
  and each bucket of 2+ docs streams out its doc_a < doc_b pairs — no
  band self-join (each doc is signed once), never an O(n^2) cross join;
* verification (exact shingle Jaccard) runs only on candidate pairs;
* everything is Spark SQL text — md5-based hashing gives identical
  results in the DuckDB oracles (no Python in the hot path).

Why not an inverted index on the shingles: its self-join emits
sum(df*(df-1))/2 rows, and on a corpus over a fixed vocabulary a shingle's
document frequency grows linearly with the doc count, so the join grows
quadratically (6.8x MinHash's time at 100k docs; BENCH.md "Text near-dup
recall / cost").

Scale notes (100 TB / 10^9 docs):
* signatures are O(1) per doc (16 minhashes), so the bucket aggregate
  shuffles only ~doc_count * bands tiny rows; a hot band key (many exact
  copies) holds its id list in one task and streams its n(n-1)/2 pairs
  as the band self-join did (NULL texts are dropped before grouping).
* the final pair verify re-joins the (small) candidate set back to the
  shingle arrays — at scale that join is broadcast-able when candidates fit,
  else it hash-partitions on doc_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SHINGLE_W = 3  # word-shingle width
JACCARD_THRESHOLD = 0.6
MINHASH_K = 16  # signature length
MINHASH_BANDS = 4  # bands x rows = 4 x 4

# evaluated over a pre-split `words` column: inlining split(text) inside the
# lambda would re-split the text at EVERY shingle position (O(words^2) per
# document — measured 6s for 5k docs vs ~1s hoisted). A NULL text has no
# shingles (NULL here, [] in DuckDB), so its signature is all NULLs on both
# sides; concat_ws alone would make it the shingle '' of an empty text.
_SHINGLES_EXPR = (
    "CASE WHEN words IS NOT NULL THEN array_distinct(transform(sequence(1, "
    f"greatest(size(words) - {SHINGLE_W - 1}, 1)), "
    f"i -> concat_ws(' ', slice(words, i, {SHINGLE_W})))) END"
)

# DuckDB list slicing is 1-based inclusive: words[i:i+2] is 3 elements.
_SHINGLES_SQL = (
    "list_distinct(list_transform(range(1, greatest(len(string_split(text, ' ')) - "
    f"{SHINGLE_W - 1}, 1) + 1), i -> array_to_string("
    f"string_split(text, ' ')[i:i+{SHINGLE_W - 1}], ' ')))"
)


def _docs(
    spark: SparkSession,
    sf_dir: str,
    compute_dense: bool = False,
    docs: DataFrame | None = None,
) -> DataFrame:
    """``compute_dense=True`` re-spreads the scan across all cores: the
    shingle/hash stages cost far more CPU per byte than the scan, so a
    small file count (one file at test SFs; coarse splits at 100 TB) must
    not cap their parallelism. Hash-partitioning on doc_id is a narrow,
    one-pass shuffle of the raw docs — cheap relative to the per-doc
    compute it unlocks (measured 12.5s -> <2s for the MinHash signature
    stage at sf0.1 on local[32])."""
    df = docs if docs is not None else spark.read.parquet(
        f"{sf_dir}/documents.parquet"
    )
    if compute_dense:
        df = df.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    return df


def _shingled(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    return (
        _docs(spark, sf_dir, compute_dense=True, docs=docs)
        .selectExpr("doc_id", "split(text, ' ') AS words")
        .selectExpr("doc_id", f"{_SHINGLES_EXPR} AS shingles")
    )


# --- exact dedup ------------------------------------------------------------


def dedup_exact(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """Exact dedup by content hash: canonical id = min doc_id per text-md5
    group (hash-groupBy; the canonical choice is deterministic)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("text_md5")
    return (
        _docs(spark, sf_dir, docs=docs)
        .select("doc_id", F.md5("text").alias("text_md5"))
        .withColumn("canonical_id", F.min("doc_id").over(w))
        .withColumn("group_size", F.count(F.lit(1)).over(w))
        .withColumn("is_dup", F.col("doc_id") != F.col("canonical_id"))
    )


DEDUP_EXACT_ORACLE = """
SELECT doc_id, md5(text) AS text_md5,
    min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
    count(*) OVER (PARTITION BY md5(text)) AS group_size,
    doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
FROM documents
"""


# --- MinHash + LSH ----------------------------------------------------------

# One md5 per shingle supplies all MINHASH_K permutations: the digest's two
# 32-bit hex lanes (chars 1-8, 9-16) are mixed per permutation j as
# (h0*A_j + h1*B_j + j) mod 2^32 — a universal-style hash family. The
# multipliers stay < 2^30 so each product < 2^62 and the sum < 2^63:
# identical exact math on Spark's LongType and DuckDB's overflow-checked
# BIGINT. Spark takes the per-j minimum in an aggregate (``_signatures``);
# the DuckDB oracle below takes it with list lambdas, same values.
_MINHASH_A = [((2654435761 * (2 * j + 1)) % (1 << 30)) | 1 for j in range(MINHASH_K)]
_MINHASH_B = [((2654435769 * (2 * j + 3)) % (1 << 30)) | 1 for j in range(MINHASH_K)]

_PERM_A_SQL = "[" + ", ".join(f"{a}::BIGINT" for a in _MINHASH_A) + "]"
_PERM_B_SQL = "[" + ", ".join(f"{b}::BIGINT" for b in _MINHASH_B) + "]"
_LANES_SQL = (
    "list_transform(list_transform(shingles, s -> md5(s)), m -> {"
    "  'h0': ('0x' || substr(m, 1, 8))::BIGINT,"
    "  'h1': ('0x' || substr(m, 9, 8))::BIGINT})"
)
_SIG_SQL = (
    "list_transform("
    f"  range(0, {MINHASH_K}),"
    "  j -> list_min(list_transform(lanes,"
    f"    l -> (l.h0 * ({_PERM_A_SQL})[j + 1]"
    f"          + l.h1 * ({_PERM_B_SQL})[j + 1]"
    "          + j) & 4294967295)))"
)
_ROWS_PER_BAND = MINHASH_K // MINHASH_BANDS

# LSH band keys derived from a `sig` column (array<bigint> of length
# MINHASH_K): band b's key = md5 of its _ROWS_PER_BAND minhashes. Shared
# by dedup_minhash_pairs and the cross-tick ledger (incremental_dedup.py),
# so in-batch and cross-tick candidate generation bucket identically.
_BANDS_FROM_SIG_EXPR = (
    f"transform(sequence(0, {MINHASH_BANDS - 1}), b -> "
    f"struct(b AS band, md5(concat_ws('|', transform("
    f"slice(sig, b * {_ROWS_PER_BAND} + 1, {_ROWS_PER_BAND}), "
    f"x -> cast(x AS string)))) AS key))"
)


def _signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, sig) from a doc_id-partitioned (doc_id, shingles) frame:
    one row per (doc, shingle) carrying the md5 lanes, then one hash
    aggregate on doc_id whose MINHASH_K ``min``s are the signature.
    The lanes and the (h0*A_j + h1*B_j + j) & (2^32 - 1) mix are the ones
    ``_LANES_SQL``/``_SIG_SQL`` compute. ``explode_outer`` keeps a doc with
    NULL shingles (a NULL text) as one NULL row, so its sig is MINHASH_K
    NULLs, as DuckDB's ``list_min([])``; plain ``explode`` would also let
    Catalyst infer a ``size(shingles) > 0`` filter and push it below the
    repartition, re-running the shingle lambda inside the scan task."""
    lanes = sh.selectExpr("doc_id", "explode_outer(shingles) AS s").selectExpr(
        "doc_id",
        "cast(conv(substring(md5(s), 1, 8), 16, 10) AS bigint) AS h0",
        "cast(conv(substring(md5(s), 9, 8), 16, 10) AS bigint) AS h1",
    )
    mins = ", ".join(
        f"min((h0 * {a} + h1 * {b} + {j}) & {0xFFFFFFFF})"
        for j, (a, b) in enumerate(zip(_MINHASH_A, _MINHASH_B))
    )
    return lanes.groupBy("doc_id").agg(F.expr(f"array({mins}) AS sig"))


def minhash_signatures(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """(doc_id, sig) — the {MINHASH_K}-permutation MinHash signature, the
    compact sketch the cross-tick near-dup ledger persists (~16 bigints
    per accepted doc instead of its shingle set)."""
    return _signatures(_shingled(spark, sf_dir, docs=docs))


def bands_from_signatures(sig_df: DataFrame) -> DataFrame:
    """(doc_id, band, key) LSH band keys from a (doc_id, sig) frame —
    identical keying to dedup_minhash_pairs' in-batch banding."""
    return sig_df.selectExpr("doc_id", f"inline({_BANDS_FROM_SIG_EXPR})")


def dedup_minhash_pairs(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """MinHash+LSH near-dup pairs (shingle -> 16-hash signature -> 4 bands of
    4 -> band buckets -> true-Jaccard verify >= threshold).

    One md5 per shingle, lane-mixed per j, plays the role of the j-th
    random permutation; band key = md5 of the band's minhashes. Band rows
    group on (band, key) into sorted doc-id buckets, and a ``posexplode``
    then an ``explode`` of the ids after each position emit each bucket's
    doc_a < doc_b pairs, so each doc is signed once (a band self-join
    signed it per side). Distinct candidates from ANY band are verified
    with exact Jaccard via array intersection.
    """
    # The shingled frame feeds THREE subtrees of one DAG (signature path +
    # both sides of the verify join); unpersisted, Spark recomputes the
    # scan + split + shingle transform per subtree (4.9s -> 1.5s at sf0.1
    # under the band self-join; unconfirmed on the buckets: 2.27s without,
    # 2.39s with at 20k docs). MEMORY_AND_DISK (the persist() default)
    # spills rather than OOMs at corpus scale — ~5 KB/doc of shingles —
    # and the ContextCleaner unpersists when the frame goes out of scope.
    sh = _shingled(spark, sf_dir, docs=docs).persist()
    # NULL texts sign as all NULLs, share the md5('') keys and never pass
    # the verify: drop them before grouping. Pairs leave a bucket one row
    # at a time, so no array outgrows the bucket.
    cand = (
        bands_from_signatures(_signatures(sh).where("sig[0] IS NOT NULL"))
        .groupBy("band", "key")
        .agg(F.expr("array_sort(collect_list(doc_id)) AS ids"))
        .where("size(ids) > 1")
        .selectExpr("ids", "posexplode(ids) AS (i, doc_a)")
        .selectExpr("doc_a", "explode(slice(ids, i + 2, size(ids))) AS doc_b")
        .distinct()
    )
    # array_size, not size: NULL (a NULL text's shingles) stays NULL and
    # fails the threshold; size reads -1 when ANSI mode is off
    return (
        cand.join(sh.selectExpr("doc_id AS doc_a", "shingles AS sh_a"), "doc_a")
        .join(sh.selectExpr("doc_id AS doc_b", "shingles AS sh_b"), "doc_b")
        .selectExpr(
            "doc_a", "doc_b", "round(array_size(array_intersect(sh_a, sh_b)) / "
            "array_size(array_union(sh_a, sh_b)), 6) AS jaccard",
        )
        .where(f"jaccard >= {JACCARD_THRESHOLD}")
    )


DEDUP_MINHASH_ORACLE = f"""
WITH sh AS (
    SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents
),
lanes AS (SELECT doc_id, shingles, {_LANES_SQL} AS lanes FROM sh),
sig AS (SELECT doc_id, shingles, {_SIG_SQL} AS sig FROM lanes),
bands AS (
    SELECT doc_id, b.band,
        md5(array_to_string(list_transform(
                sig[b.band * {_ROWS_PER_BAND} + 1 :
                    b.band * {_ROWS_PER_BAND} + {_ROWS_PER_BAND}],
                x -> cast(x AS VARCHAR)), '|')) AS key
    FROM sig, (SELECT unnest(range(0, {MINHASH_BANDS})) AS band) b
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b USING (band, key)
    WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
    round(len(list_intersect(sa.shingles, sb.shingles)) /
          len(list_distinct(list_concat(sa.shingles, sb.shingles))), 6) AS jaccard
FROM cand
JOIN sh sa ON sa.doc_id = cand.doc_a
JOIN sh sb ON sb.doc_id = cand.doc_b
WHERE round(len(list_intersect(sa.shingles, sb.shingles)) /
            len(list_distinct(list_concat(sa.shingles, sb.shingles))), 6)
      >= {JACCARD_THRESHOLD}
"""


# --- near-dup clustering (connected components) -----------------------------


def connected_components(
    pairs: DataFrame, max_iter: int = 20
) -> DataFrame:
    """Connected components over an undirected ``(doc_a, doc_b)`` edge set
    by iterative min-label propagation: returns one row per node touched
    by any edge — (doc_id, cluster_id, cluster_size), where cluster_id is
    the smallest doc_id in the component.

    This is the canonical-selection step after a pair-emitting dedup
    (MinHash text pairs through ``dedup_clusters``, embedding-cosine pairs
    through ``semdedup``) — pairs alone can't answer "which docs do I
    keep" when duplicates chain (A~B, B~C but not A~C): dropping doc_b of
    every pair over-deletes transitively linked non-duplicates (ADVICE
    r03).

    Scale: label propagation converges in O(component diameter) rounds —
    near-dup components are shallow (dups of a common source), so a
    handful of distributed join+groupBy rounds, each shuffling only the
    component node set (≪ corpus). The driver loop holds no data, only
    the converged/changed flag; per-round ``localCheckpoint`` cuts the
    lineage so plans stay flat. (GraphFrames' big-star/small-star CC is
    the same pattern with a better constant; the propagation join below
    keeps the dependency surface to plain DataFrames.)
    """
    from pyspark.sql.window import Window

    pairs = pairs.select("doc_a", "doc_b")
    edges = pairs.union(
        pairs.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    )
    labels = (
        edges.select(F.col("doc_a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nbr = (
            edges.join(labels, edges["doc_b"] == labels["node"])
            .groupBy(F.col("doc_a").alias("node2"))
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(nbr, labels["node"] == nbr["node2"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"),
                    F.coalesce("nbr_label", F.col("label")),
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # never return silently-wrong components: a chain with diameter
        # > max_iter would split one component into several clusters
        raise RuntimeError(
            f"connected_components: min-label propagation did not converge "
            f"in {max_iter} rounds (component diameter exceeds max_iter — "
            f"raise max_iter)"
        )
    w = Window.partitionBy("label")
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
    )


def dedup_clusters(
    spark: SparkSession,
    sf_dir: str,
    max_iter: int = 20,
    docs: DataFrame | None = None,
) -> DataFrame:
    """Near-dup clusters over the ``dedup_minhash_pairs`` edge set: the one
    place text near-dup pairs become clusters. The registry entry, the
    ``dedup_minhash`` processor, ``doc_split_leakage_safe`` and
    ``IncrementalMinHashDeduper``'s in-batch step all call it (see
    ``connected_components`` for semantics and the scale story)."""
    return connected_components(
        dedup_minhash_pairs(spark, sf_dir, docs=docs), max_iter=max_iter
    )


# Oracle: reachability closure via recursive CTE (components are tiny at
# oracle SF, so the closure is cheap), then min-reachable per node.
DEDUP_CLUSTERS_ORACLE = f"""
WITH RECURSIVE base AS ({DEDUP_MINHASH_ORACLE}),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM base
    UNION
    SELECT doc_b, doc_a FROM base
),
nodes AS (SELECT DISTINCT a AS node FROM edges),
reach AS (
    SELECT node, node AS r FROM nodes
    UNION
    SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a
),
lab AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node)
SELECT doc_id, cluster_id,
    count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM lab
"""


# --- exact substring dedup (duplicated-run excision spans) -------------------

SUBSTR_W = 8  # window width in words: runs >= W words shared anywhere dedup


def dedup_substring_spans(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """Exact substring deduplication, windowed: find every maximal word
    run that appears (>=2 times anywhere in the corpus, including within
    one document) and emit the per-document spans to excise — the
    "deduplicating training data" substring method (Lee et al. 2021)
    re-expressed as sliding windows instead of a suffix array: every
    {SUBSTR_W}-word window is hashed, windows whose hash repeats are
    duplicated, and overlapping/adjacent duplicated windows merge into
    maximal spans via a gaps-and-islands pass.

    Scale shape — never quadratic: hits come from joining windows back to
    the DISTINCT duplicated-hash set (an inverted-index membership join),
    not from pairing posting lists, so a boilerplate run shared by 10^6
    docs costs 10^6 hit rows, not 10^12 pairs. The islands merge is a
    window on the doc_id key (the dedup output's natural partitioning);
    window volume ~= corpus words (stride 1 here; production uses a
    stride >1 with W widened by stride to keep the guarantee).
    """
    d = (
        _docs(spark, sf_dir, docs=docs)
        .select("doc_id", F.split("text", " ").alias("ws"))
        .filter(F.size("ws") >= SUBSTR_W)
    )
    w = d.select(
        "doc_id",
        F.explode(
            F.expr(f"sequence(1, size(ws) - {SUBSTR_W - 1})")
        ).alias("i"),
        "ws",
    ).select(
        "doc_id",
        "i",
        F.md5(
            F.array_join(F.expr(f"slice(ws, i, {SUBSTR_W})"), " ")
        ).alias("h"),
    )
    dup = (
        w.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("h")
    )
    hits = w.join(dup, "h").select(
        "doc_id",
        F.col("i").alias("s"),
        (F.col("i") + (SUBSTR_W - 1)).alias("e"),
    )
    from pyspark.sql.window import Window

    ordered = Window.partitionBy("doc_id").orderBy("s")
    prev_max_end = F.max("e").over(
        ordered.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = hits.withColumn(
        "ni",
        F.when(
            prev_max_end.isNull() | (F.col("s") > prev_max_end + 1), 1
        ).otherwise(0),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("ni").over(
            ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return islands.groupBy("doc_id", "island").agg(
        F.min("s").cast("int").alias("span_start"),
        F.max("e").cast("int").alias("span_end"),
        (F.max("e") - F.min("s") + 1).cast("int").alias("n_words"),
    ).select("doc_id", "span_start", "span_end", "n_words")


DEDUP_SUBSTRING_ORACLE = f"""
WITH d AS (
    SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    WHERE len(string_split(text, ' ')) >= {SUBSTR_W}
),
w AS (
    SELECT doc_id, i,
        md5(array_to_string(list_slice(ws, i, i + {SUBSTR_W - 1}), ' ')) AS h
    FROM (
        SELECT doc_id, ws,
            unnest(generate_series(1, len(ws) - {SUBSTR_W - 1})) AS i
        FROM d
    ) q
),
dup AS (SELECT h FROM w GROUP BY h HAVING count(*) >= 2),
hits AS (
    SELECT doc_id, i AS s, i + {SUBSTR_W - 1} AS e FROM w JOIN dup USING (h)
),
fl AS (
    SELECT doc_id, s, e,
        CASE WHEN max(e) OVER pw IS NULL OR s > max(e) OVER pw + 1
             THEN 1 ELSE 0 END AS ni
    FROM hits
    WINDOW pw AS (PARTITION BY doc_id ORDER BY s
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
isl AS (
    SELECT doc_id, s, e,
        sum(ni) OVER (PARTITION BY doc_id ORDER BY s
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
    FROM fl
)
SELECT doc_id, cast(min(s) AS int) AS span_start,
    cast(max(e) AS int) AS span_end,
    cast(max(e) - min(s) + 1 AS int) AS n_words
FROM isl GROUP BY doc_id, island
"""


def dedup_substring_excise(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """The text-REWRITE arm of windowed substring dedup: excise every
    duplicated maximal span found by ``dedup_substring_spans`` and emit
    the cleaned text — the actual "deduplicating training data" treatment
    (Lee et al. 2021 removes the duplicated substring, it does not drop
    the document). Docs shorter than the window or with no duplicated
    spans pass through verbatim.

    Spark shape: ``dedup_substring_spans`` already returns MERGED maximal
    islands (disjoint, separated by >= 1 kept word), so the rebuild never
    needs a per-position membership set: one doc_id-keyed aggregate
    collects the sorted (start, end) interval list — O(islands) cells per
    doc, not O(covered positions) — and one higher-order ``aggregate``
    over that list stitches the kept text from ``slice`` calls on the
    pre-split words array. Per-doc cost is LINEAR in the doc's words
    (each word is copied by exactly one slice; VERDICT r03 fixed the
    previous ``array_contains(cov, i)``-per-word rebuild, O(words x
    covered) on a heavily duplicated doc). No per-position shuffle join
    against the full corpus: the only shuffles are the spans computation
    itself and the interval-list aggregate.
    """
    d = _docs(spark, sf_dir, docs=docs).select("doc_id", "text")
    spans = dedup_substring_spans(spark, sf_dir, docs=docs)
    per_doc = spans.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("spans"),
        F.sum(F.col("span_end") - F.col("span_start") + 1)
        .cast("int")
        .alias("n_words_removed"),
    )
    joined = d.join(per_doc, "doc_id", "left")
    words = F.split("text", " ")
    no_spans = F.array().cast(
        "array<struct<span_start:int,span_end:int>>"
    )
    # fold over the disjoint sorted islands: acc carries (next unkept
    # position, kept words so far); each step appends the gap before the
    # island and skips the island; finish appends the tail after the last
    kept = F.aggregate(
        F.coalesce("spans", no_spans),
        F.struct(
            F.lit(1).alias("pos"),
            F.array().cast("array<string>").alias("acc"),
        ),
        lambda a, sp: F.struct(
            (sp["span_end"] + 1).alias("pos"),
            F.concat(
                a["acc"], F.slice(words, a["pos"], sp["span_start"] - a["pos"])
            ).alias("acc"),
        ),
        lambda a: F.concat(
            a["acc"], F.slice(words, a["pos"], F.size(words) - a["pos"] + 1)
        ),
    )
    return joined.select(
        "doc_id",
        F.array_join(kept, " ").alias("clean_text"),
        F.coalesce("n_words_removed", F.lit(0)).cast("int").alias(
            "n_words_removed"
        ),
    )


DEDUP_EXCISE_ORACLE = f"""
WITH d AS (
    SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    WHERE len(string_split(text, ' ')) >= {SUBSTR_W}
),
w AS (
    SELECT doc_id, i,
        md5(array_to_string(list_slice(ws, i, i + {SUBSTR_W - 1}), ' ')) AS h
    FROM (
        SELECT doc_id, ws,
            unnest(generate_series(1, len(ws) - {SUBSTR_W - 1})) AS i
        FROM d
    ) q
),
dup AS (SELECT h FROM w GROUP BY h HAVING count(*) >= 2),
hits AS (
    SELECT doc_id, i AS s, i + {SUBSTR_W - 1} AS e FROM w JOIN dup USING (h)
),
cov AS (
    SELECT DISTINCT doc_id, unnest(generate_series(s, e)) AS i FROM hits
),
pos AS (
    SELECT doc_id, unnest(ws) AS word,
        unnest(generate_series(1, len(ws))) AS i
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) q
),
cleaned AS (
    SELECT p.doc_id,
        string_agg(p.word, ' ' ORDER BY p.i) AS clean_text
    FROM pos p LEFT JOIN cov c ON p.doc_id = c.doc_id AND p.i = c.i
    WHERE c.i IS NULL
    GROUP BY p.doc_id
),
removed AS (SELECT doc_id, cast(count(*) AS int) AS n FROM cov GROUP BY 1)
SELECT d0.doc_id,
    coalesce(cl.clean_text, '') AS clean_text,
    coalesce(r.n, 0) AS n_words_removed
FROM (SELECT doc_id FROM documents) d0
LEFT JOIN cleaned cl ON d0.doc_id = cl.doc_id
LEFT JOIN removed r ON d0.doc_id = r.doc_id
"""


# --- paragraph-level exact dedup (CCNet, Wenzek et al. 2020 §3.1) ------------
#
# CCNet removes duplicated PARAGRAPHS corpus-wide before any document-level
# dedup: every paragraph is hashed, only its first occurrence (in a fixed
# global order) survives, and documents are reassembled from their surviving
# paragraphs. Real corpora split on '\n\n'; this synthetic corpus has no
# paragraph marks, so the boundary rule is fixed non-overlapping word tiles
# (PARA_TILE words) — the plan shape (explode units -> first-wins on the
# unit hash -> reassemble) is identical under any boundary rule.
#
# First-wins is resolved by groupBy(tile_hash).min(struct(doc_id, tile_idx))
# + an equality join back — NOT a window over the hash key, which would
# funnel every occurrence of a hot boilerplate paragraph through one task
# (the same skew argument as log_dedup). Reassembly sorts each doc's
# surviving tiles by position inside a per-doc aggregate (bounded by the
# doc's own size).

PARA_TILE = 16


def _tile_words(T: int):
    ws = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"),
        lambda w: F.length(w) > 0,
    )
    n_tiles = F.floor(
        (F.size(ws) + F.lit(T - 1)).cast("double") / F.lit(float(T))
    ).cast("long")
    tiles = F.when(
        n_tiles > 0,
        F.transform(
            F.sequence(F.lit(0).cast("long"), n_tiles - 1),
            lambda i: F.array_join(
                F.slice(ws, (i * T + 1).cast("int"), T), " "
            ),
        ),
    ).otherwise(F.expr("cast(array() as array<string>)"))
    return tiles


def dedup_paragraphs(
    spark,
    sf_dir: str,
    tile: int = PARA_TILE,
    docs: DataFrame | None = None,
) -> DataFrame:
    """Corpus-wide duplicate-paragraph excision with document
    reconstruction: (doc_id, n_tiles, n_kept, text_kept).

    A tile survives iff it is the lexicographically-first occurrence
    (doc_id, tile_idx) of its text corpus-wide; ``text_kept`` is the doc's
    surviving tiles re-joined in position order ('' when everything was a
    duplicate). Every document appears in the output.

    Scale (100 TB): the tile stream shuffles once on the tile hash (md5 —
    uniform) for the keeper aggregate and once for the join back; both are
    partial-aggregated map-side. No windows over content keys, no
    all-pairs shapes; reassembly is a per-doc aggregate bounded by the
    doc's own tile count.
    """
    df = _docs(spark, sf_dir, docs=docs)
    tiles = (
        df.select(
            "doc_id",
            F.posexplode(_tile_words(tile)).alias("tile_idx", "tile_text"),
        )
        .withColumn("tile_idx", F.col("tile_idx").cast("long"))
        .withColumn("h", F.md5("tile_text"))
    )
    keeper = tiles.groupBy("h").agg(
        F.min(F.struct("doc_id", "tile_idx")).alias("k")
    )
    kept = (
        tiles.join(keeper, "h")
        .filter(F.struct("doc_id", "tile_idx") == F.col("k"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("tile_idx", "tile_text"))
                    ),
                    lambda s: s.tile_text,
                ),
            ).alias("text_kept"),
        )
    )
    counts = tiles.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tiles")
    )
    return (
        df.select("doc_id")
        .join(counts, "doc_id", "left")
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tiles", F.lit(0)).cast("long").alias("n_tiles"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("text_kept", F.lit("")).alias("text_kept"),
        )
    )


DEDUP_PARAGRAPHS_ORACLE = f"""
WITH w AS (
    SELECT doc_id,
        list_filter(string_split_regex(lower(text), '\\s+'),
                    x -> length(x) > 0) AS ws
    FROM documents
),
tiles AS (
    SELECT doc_id, i AS tile_idx,
        array_to_string(ws[(i * {PARA_TILE}) + 1:(i + 1) * {PARA_TILE}],
                        ' ') AS tile_text
    FROM (
        SELECT doc_id, ws,
            unnest(generate_series(
                0, ((len(ws) + {PARA_TILE - 1}) // {PARA_TILE}) - 1)) AS i
        FROM w
    ) q
),
ranked AS (
    SELECT doc_id, tile_idx, tile_text,
        row_number() OVER (
            PARTITION BY md5(tile_text) ORDER BY doc_id, tile_idx) AS rn
    FROM tiles
),
kept AS (
    SELECT doc_id,
        cast(count(*) AS bigint) AS n_kept,
        string_agg(tile_text, ' ' ORDER BY tile_idx) AS text_kept
    FROM ranked WHERE rn = 1 GROUP BY doc_id
),
cnt AS (
    SELECT doc_id, cast(count(*) AS bigint) AS n_tiles
    FROM tiles GROUP BY doc_id
)
SELECT d.doc_id,
    coalesce(c.n_tiles, 0) AS n_tiles,
    coalesce(k.n_kept, 0) AS n_kept,
    coalesce(k.text_kept, '') AS text_kept
FROM (SELECT doc_id FROM documents) d
LEFT JOIN cnt c ON d.doc_id = c.doc_id
LEFT JOIN kept k ON d.doc_id = k.doc_id
"""
