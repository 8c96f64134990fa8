"""Vector-similarity operators over the ``embeddings`` table
(vec_id, embedding: array<float> 64-dim, label): brute-force cosine top-k,
IVF approximate top-k, int8 quantization, k-means and product
quantization, SemDeDup near-dup pairs, and MMR re-ranking.

Spark-first design:
* all vector math is native higher-order functions (``zip_with`` +
  ``aggregate`` folds) — JVM-side, no Python; the fold order is fixed
  (index order), which is what makes the DuckDB oracle bit-identical in
  double precision (verified: 0 ulp drift over all pairs at sf0.01).
* brute-force top-k: the (small) query set is **broadcast** against the full
  table — one scan of the big side, no shuffle of the corpus; per-query
  ranking is a window over query_id.
* the scale path is **IVF**: one broadcast of the seed centroids assigns
  every vector its nearest cells (``_ivf_cells``, the one coarse
  quantizer); top-k runs inside the query's probed cells and SemDeDup's
  IVF variant blocks on the home cell. At 10^9 vectors the cell equality
  join replaces the O(n*q) scan with a hash-partitioned join on cell id;
  recall is tunable via the probe count. It beat random-hyperplane LSH on
  both recall@5 and wall time at sf0.01 and sf0.1 (BENCH.md), so it is the
  only bucketed top-k.
* k-means and product quantization share one Lloyd loop (``_pq_train``):
  k-means is PQ with one subspace.
* a Pandas-UDF (Arrow/numpy) cosine kernel is provided for the hot path
  (one matmul per batch; measured 3.8x faster than the SQL fold scan at
  100k vectors, 2.9 s vs 10.8 s on local[4], BENCH.md); the native-SQL
  scan stays as the oracle-checkable reference that ``ann_recall``
  measures against.

No reference analog (SURVEY §2.8 — the collector has no vector ops); these
are the training-data-pipeline ANN requirements.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

DIM = 64
TOPK = 5
N_QUERIES = 10  # demo query set: vec_id < 10


def _emb(spark: SparkSession, sf_dir: str, id_col: str = "vec_id",
         vec_col: str = "v") -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias(id_col),
        F.expr("transform(embedding, x -> cast(x AS double))").alias(vec_col),
        "label",
    )


def _dot(a: str, b: str) -> Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "cast(0 AS double), (acc, x) -> acc + x)"
    )


def _norm(a: str) -> Column:
    return F.expr(
        f"sqrt(aggregate(transform({a}, x -> x * x), "
        "cast(0 AS double), (acc, x) -> acc + x))"
    )


_DOT_SQL = (
    "list_aggregate(list_transform(range(1, {d} + 1), i -> {a}[i] * {b}[i]), 'sum')"
)


def _cos_sql(a: str, b: str) -> str:
    dot = _DOT_SQL.format(a=a, b=b, d=DIM)
    na = _DOT_SQL.format(a=a, b=a, d=DIM)
    nb = _DOT_SQL.format(a=b, b=b, d=DIM)
    return f"({dot} / (sqrt({na}) * sqrt({nb})))"


# --- brute-force cosine top-k ----------------------------------------------


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-{TOPK} for each query vector (vec_id < {N_QUERIES}):
    broadcast the query set, scan the corpus once, rank per query.

    Norms are precomputed per SIDE before the join — an O(DIM) fold once per
    row, not once per (query, data) pair; the quotient is the same doubles,
    so oracle parity is unaffected."""
    from pyspark.sql.window import Window

    data = _emb(spark, sf_dir, "data_id", "dv").withColumn("dnorm", _norm("dv"))
    q = (
        _emb(spark, sf_dir, "query_id", "qv")
        .filter(F.col("query_id") < N_QUERIES)
        .withColumn("qnorm", _norm("qv"))
    )
    pairs = data.crossJoin(
        F.broadcast(q.select("query_id", "qv", "qnorm"))
    ).filter(F.col("data_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        "data_id",
        F.round(
            _dot("qv", "dv") / (F.col("qnorm") * F.col("dnorm")), 6
        ).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("data_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOPK)
        .select("query_id", "data_id", "cos", "rk")
    )


ANN_TOPK_ORACLE = f"""
WITH e AS (
    SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS v
    FROM embeddings
),
scored AS (
    SELECT q.vec_id AS query_id, d.vec_id AS data_id,
        round({_cos_sql('q.v', 'd.v')}, 6) AS cos
    FROM e q JOIN e d ON d.vec_id <> q.vec_id
    WHERE q.vec_id < {N_QUERIES}
)
SELECT query_id, data_id, cos, rk FROM (
    SELECT *, cast(row_number() OVER (PARTITION BY query_id
        ORDER BY cos DESC, data_id) AS int) AS rk
    FROM scored
) r WHERE rk <= {TOPK}
"""


# --- vectorized kernel (performance path; ann_cosine_topk's oracle) ----------


def cosine_topk_pandas(spark: SparkSession, sf_dir: str, k: int = TOPK,
                       n_queries: int = N_QUERIES) -> DataFrame:
    """Arrow-batched numpy top-k: queries are closed over as a broadcast
    matrix; each input batch does one (batch x dim) @ (dim x q) matmul.
    Same semantics as ann_cosine_topk (exact, brute force) — the hot-path
    implementation for wide fan-out."""
    import numpy as np
    import pandas as pd

    q_rows = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect()
    )
    q_ids = np.array([r.vec_id for r in q_rows])
    qm = np.array([r.embedding for r in q_rows], dtype=np.float64)
    qm /= np.linalg.norm(qm, axis=1, keepdims=True)
    bq = spark.sparkContext.broadcast((q_ids, qm))

    def score(batches):
        ids, mat = bq.value
        for pdf in batches:
            dm = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            dm /= np.linalg.norm(dm, axis=1, keepdims=True)
            sims = dm @ mat.T  # (batch, q)
            out = pd.DataFrame(
                {
                    "query_id": np.repeat(ids, len(pdf)),
                    "data_id": np.tile(pdf["vec_id"].to_numpy(), len(ids)),
                    "cos": np.round(sims.T.ravel(), 6),
                }
            )
            yield out[out.query_id != out.data_id]

    from pyspark.sql.window import Window

    scored = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .mapInPandas(
            score, "query_id long, data_id long, cos double"
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("data_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "data_id", "cos", "rk")
    )


# --- IVF-bucketed ANN (the scale path) ---------------------------------------

N_CELLS = 8  # coarse quantizer size; seeds are the first N_CELLS vectors
N_PROBE = 2  # query probes its nearest N_PROBE cells


def _ivf_cells(
    spark: SparkSession,
    sf_dir: str,
    df: DataFrame,
    id_col: str,
    vec: str,
    norm: str,
    n_probe: int,
) -> DataFrame:
    """The coarse quantizer: ``df`` with one row per (``id_col``, cell) for
    its nearest ``n_probe`` seed cells by cosine (rank 1 = home cell, ties
    to the lower seed id). Seeds are the vectors vec_id < {N_CELLS} — a
    deterministic stand-in for trained kmeans centroids; the plan shape is
    identical. One broadcast join against the seeds (O(n*cells) map work,
    no shuffle of the corpus), then a window per id."""
    from pyspark.sql.window import Window

    seeds = (
        _emb(spark, sf_dir, "seed_id", "sv")
        .filter(F.col("seed_id") < N_CELLS)
        .withColumn("snorm", _norm("sv"))
        .select("seed_id", "sv", "snorm")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("seed_cos").desc(), F.col("seed_id")
    )
    return (
        df.crossJoin(F.broadcast(seeds))
        .withColumn(
            "seed_cos",
            F.round(_dot(vec, "sv") / (F.col(norm) * F.col("snorm")), 6),
        )
        .withColumn("cell_rk", F.row_number().over(w))
        .filter(F.col("cell_rk") <= n_probe)
        .drop("sv", "snorm", "seed_cos", "cell_rk")
        .withColumnRenamed("seed_id", "cell")
    )


def _ivf_cells_sql(n_probe: int, where: str = "true") -> str:
    """DuckDB twin of ``_ivf_cells`` over a CTE ``e(vec_id, v)``: rows
    (vec_id, v, cell) for the nearest ``n_probe`` seed cells of every
    vector of ``e`` that passes ``where``."""
    return f"""
    SELECT vec_id, v, cell FROM (
        SELECT e.vec_id, e.v, s.vec_id AS cell,
            row_number() OVER (PARTITION BY e.vec_id
                ORDER BY round({_cos_sql('e.v', 's.v')}, 6) DESC, s.vec_id)
                AS cell_rk
        FROM e, e s WHERE s.vec_id < {N_CELLS} AND {where}
    ) a WHERE cell_rk <= {n_probe}"""


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-{TOPK}: every vector lands in its home cell,
    queries probe their {N_PROBE} nearest cells (both by ``_ivf_cells``),
    and exact cosine ranks candidates inside the probed cells.

    Scale path: cell assignment is one broadcast join against {N_CELLS}
    centroids; the probe join is an equality join on cell id — at 10^9
    vectors this replaces the brute-force O(n*q) scan, with recall
    controlled by n_probe."""
    from pyspark.sql.window import Window

    data = _ivf_cells(
        spark,
        sf_dir,
        _emb(spark, sf_dir, "data_id", "dv").withColumn("dnorm", _norm("dv")),
        "data_id", "dv", "dnorm", 1,
    )
    q = _ivf_cells(
        spark,
        sf_dir,
        _emb(spark, sf_dir, "query_id", "qv")
        .filter(F.col("query_id") < N_QUERIES)
        .withColumn("qnorm", _norm("qv")),
        "query_id", "qv", "qnorm", N_PROBE,
    )

    pairs = data.join(
        F.broadcast(q.select("query_id", "qv", "qnorm", "cell")), "cell"
    ).filter(F.col("data_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        "data_id",
        F.round(_dot("qv", "dv") / (F.col("qnorm") * F.col("dnorm")), 6).alias("cos"),
    ).distinct()  # a data point probed via 2 cells appears once
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("data_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOPK)
        .select("query_id", "data_id", "cos", "rk")
    )


ANN_IVF_ORACLE = f"""
WITH e AS (
    SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS v
    FROM embeddings
),
data_cells AS ({_ivf_cells_sql(1)}
),
query_cells AS ({_ivf_cells_sql(N_PROBE, f'e.vec_id < {N_QUERIES}')}
),
scored AS (
    SELECT DISTINCT q.vec_id AS query_id, d.vec_id AS data_id,
        round({_cos_sql('q.v', 'd.v')}, 6) AS cos
    FROM query_cells q JOIN data_cells d USING (cell)
    WHERE d.vec_id <> q.vec_id
)
SELECT query_id, data_id, cos, rk FROM (
    SELECT *, cast(row_number() OVER (PARTITION BY query_id
        ORDER BY cos DESC, data_id) AS int) AS rk
    FROM scored
) r WHERE rk <= {TOPK}
"""


# --- int8 scalar quantization (embedding storage compression) ----------------


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column —
    the storage-compression step in front of any 100 TB vector corpus
    (4x smaller than float32; cosine on int8 with a per-vector scale is
    the standard ANN memory trade). Per vector: scale = 127/max|v_i|,
    q_i = round(v_i * scale). Output is exploded to scalars
    (vec_id, dim_idx, qval, scale) so the oracle hash covers every
    component; reconstruction error is bounded by 0.5/scale per dim
    (pytest-checked).

    Scale shape: a narrow per-row projection + explode — no shuffle; the
    scale factor derives from array_max (order-independent, exact), and
    round() quantizes a single double product, the same cross-engine-safe
    pattern as the unigram milli-nats.
    """
    e = _emb(spark, sf_dir, "vec_id", "v")
    amax = F.array_max(F.expr("transform(v, x -> abs(x))"))
    scaled = e.withColumn(
        "scale",
        F.when(amax > 0, F.lit(127.0) / amax).otherwise(F.lit(1.0)),
    )
    exploded = scaled.select(
        "vec_id",
        "scale",
        F.posexplode(
            F.expr("transform(v, x -> cast(round(x * scale) AS int))")
        ).alias("pos", "qval"),
    )
    return exploded.select(
        "vec_id",
        (F.col("pos") + 1).cast("int").alias("dim_idx"),
        "qval",
        "scale",
    )


EMBEDDING_QUANTIZE_ORACLE = """
WITH e AS (
    SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS v
    FROM embeddings
),
s AS (
    SELECT vec_id, v,
        CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
             THEN 127.0 / list_max(list_transform(v, x -> abs(x)))
             ELSE 1.0 END AS scale
    FROM e
)
SELECT vec_id, cast(i AS int) AS dim_idx,
    cast(round(v[i] * scale) AS int) AS qval, scale
FROM (
    SELECT vec_id, v, scale,
        unnest(generate_series(1, len(v))) AS i
    FROM s
) q
"""


# --- Lloyd's k-means on the int8 lattice: k-means and PQ codebooks ----------
#
# One Lloyd loop serves both vector quantizers. Product quantization splits
# each quantized vector into m contiguous subspaces and runs k-means in every
# subspace at once (the subspace id rides every join and group key); plain
# k-means is the m=1 case, its code is the cluster id.

KMEANS_K = 4
KMEANS_ITERS = 3
PQ_M = 4  # subspaces of DIM/PQ_M dims each
PQ_KSUB = 8  # codes per subspace (3 bits x 4 subspaces at test scale)
PQ_ITERS = 2


def _pq_dims(spark: SparkSession, sf_dir: str, m: int) -> DataFrame:
    """(vec_id, sub, dim_idx, qval): the int8-quantized component stream
    (embedding_quantize without the per-vector scale) keyed by its PQ
    subspace (dims 1..DIM split into ``m`` contiguous blocks)."""
    w = DIM // m
    return embedding_quantize(spark, sf_dir).select(
        "vec_id",
        F.floor((F.col("dim_idx") - 1) / w).cast("int").alias("sub"),
        "dim_idx",
        "qval",
    )


def _pq_assign(q: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest codebook entry per (vector, subspace): exact integer
    distances on the quantized lattice, ties to the lower code."""
    from pyspark.sql.window import Window

    d = (
        q.join(F.broadcast(cents), ["sub", "dim_idx"])
        .groupBy("vec_id", "sub", "code")
        .agg(
            F.sum(
                (F.col("qval") - F.col("c")) * (F.col("qval") - F.col("c"))
            ).cast("long").alias("dist_sq")
        )
    )
    w = Window.partitionBy("vec_id", "sub").orderBy("dist_sq", "code")
    return (
        d.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "sub", "code", "dist_sq")
    )


def _pq_train(
    spark: SparkSession,
    sf_dir: str,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = PQ_ITERS,
) -> tuple[DataFrame, DataFrame]:
    """The Lloyd loop: ``iters`` rounds of k-means with ``ksub`` centroids
    in each of ``m`` subspaces. Returns (q, cents) — the persisted subspace
    component stream and the final ksub*DIM-cell codebook literal — so
    embedding_kmeans (m=1), embedding_pq (codes) and ann_pq_topk (ADC
    search) share one training pass shape.

    Deterministic and cross-engine-exact by construction: vectors AND
    centroids live on the integer lattice (the update rounds the per-dim
    mean back to an int), so distances are order-independent integer sums
    and the argmin needs no float tolerance; vector j seeds code j in every
    subspace (a deterministic stand-in for kmeans++ — the plan shape is
    what scales, not the init).

    Scale shape per iteration: one broadcast of ksub*DIM centroid cells
    onto the exploded (vec_id, dim) stream, a (vec_id, sub, code)
    partial-agg distance sum, a (vec_id, sub) window argmin, and a
    (sub, code, dim) partial-agg mean — every shuffle keyed on uniform
    ids, centroids never leave the driver-broadcast size class, and all m
    subspaces train in the same pass.

    Iteration state is MATERIALIZED: each update collects the centroid
    cells (tiny by construction) to the driver and rebuilds ``cents`` as a
    literal DataFrame. Chaining the lazy centroid lineage instead makes
    every later ``_pq_assign`` re-execute the quantize pass and all
    earlier iterations each time ``q`` is re-joined — plan depth and scan
    count grow with ``iters`` (round-2 scale-audit finding; guards:
    test_kmeans_final_plan_is_flat_in_iters,
    test_pq_final_plan_is_flat_in_iters). ``q`` itself is cached for the
    2*iters passes over it and the handle is kept on the returned plan,
    matching how dedup_clusters pins its per-round state
    (operators/dedup.py localCheckpoint)."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    cent_schema = StructType(
        [
            StructField("sub", IntegerType(), False),
            StructField("code", IntegerType(), False),
            StructField("dim_idx", IntegerType(), False),
            StructField("c", IntegerType(), False),
        ]
    )

    q = _pq_dims(spark, sf_dir, m).persist()
    seed_rows = (
        q.filter(F.col("vec_id") < ksub)
        .select(
            "sub",
            F.col("vec_id").cast("int").alias("code"),
            F.col("dim_idx").cast("int").alias("dim_idx"),
            F.col("qval").cast("int").alias("c"),
        )
        .collect()
    )
    cells = {(r.sub, r.code, r.dim_idx): r.c for r in seed_rows}
    for _ in range(iters):
        cents = spark.createDataFrame(
            [(s, co, d, c) for (s, co, d), c in sorted(cells.items())],
            cent_schema,
        )
        assign = _pq_assign(q, cents)
        means = (
            q.join(assign.select("vec_id", "sub", "code"), ["vec_id", "sub"])
            .groupBy("sub", "code", "dim_idx")
            .agg(
                F.round(
                    F.sum("qval").cast("double") / F.count(F.lit(1))
                ).cast("int").alias("c_new")
            )
            .collect()
        )
        # an empty code keeps its previous entry (identical rule in the
        # oracle's unrolled CTEs)
        for r in means:
            cells[(r.sub, r.code, r.dim_idx)] = r.c_new
    final = spark.createDataFrame(
        [(s, co, d, c) for (s, co, d), c in sorted(cells.items())],
        cent_schema,
    )
    return q, final


def _pq_oracle(
    m: int = PQ_M, ksub: int = PQ_KSUB, iters: int = PQ_ITERS
) -> tuple[str, str]:
    """DuckDB twin of ``_pq_train`` + ``_pq_assign``: the CTE list (no
    ``WITH``) of the quantized stream ``q``, the unrolled Lloyd rounds and
    the final assignment ``afinal`` (vec_id, sub, code, dist_sq), plus the
    name of the final codebook CTE."""
    w = DIM // m
    quant = f"""
q AS (
    SELECT vec_id, cast(floor((dim_idx - 1) / {w}.0) AS int) AS sub,
        dim_idx, qval
    FROM ({EMBEDDING_QUANTIZE_ORACLE}) q0
)"""

    def assign(cent: str, name: str) -> str:
        return f"""
{name} AS (
    SELECT vec_id, sub, code, dist_sq FROM (
        SELECT vec_id, sub, code, dist_sq,
            row_number() OVER (PARTITION BY vec_id, sub
                ORDER BY dist_sq, code) AS rk
        FROM (
            SELECT q.vec_id, q.sub, c.code,
                cast(sum((q.qval - c.c) * (q.qval - c.c)) AS bigint)
                    AS dist_sq
            FROM q JOIN {cent} c
                ON q.sub = c.sub AND q.dim_idx = c.dim_idx
            GROUP BY q.vec_id, q.sub, c.code
        ) d
    ) r WHERE rk = 1
)"""

    def update(prev_cent: str, assign_name: str, name: str) -> str:
        return f"""
{name} AS (
    SELECT p.sub, p.code, p.dim_idx,
        coalesce(m.c_new, p.c) AS c
    FROM {prev_cent} p LEFT JOIN (
        SELECT a.sub, a.code, q.dim_idx,
            cast(round(cast(sum(q.qval) AS double) / count(*)) AS int)
                AS c_new
        FROM q JOIN {assign_name} a
            ON q.vec_id = a.vec_id AND q.sub = a.sub
        GROUP BY a.sub, a.code, q.dim_idx
    ) m ON m.sub = p.sub AND m.code = p.code AND m.dim_idx = p.dim_idx
)"""

    parts = [
        quant,
        f"""
c0 AS (
    SELECT sub, cast(vec_id AS int) AS code, dim_idx, qval AS c
    FROM q WHERE vec_id < {ksub}
)""",
    ]
    cent = "c0"
    for i in range(1, iters + 1):
        parts.append(assign(cent, f"a{i}"))
        parts.append(update(cent, f"a{i}", f"c{i}"))
        cent = f"c{i}"
    parts.append(assign(cent, "afinal"))
    body = ",".join(parts)
    return body, cent


# --- k-means over quantized embeddings (diversity clustering) ----------------


def embedding_kmeans(
    spark: SparkSession,
    sf_dir: str,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
) -> DataFrame:
    """Distributed k-means over the int8-quantized embeddings — the
    diversity-clustering step of corpus curation (cluster-balanced
    sampling / per-cluster dedup budgets): (vec_id, cluster, dist_sq).
    It is the Lloyd loop ``_pq_train`` with one subspace, so the codebook
    is the k centroids and a vector's code is its cluster; the first ``k``
    quantized vectors seed the clusters, and ``dist_sq`` is the exact
    integer distance to the final centroid."""
    q, cents = _pq_train(spark, sf_dir, m=1, ksub=k, iters=iters)
    return _pq_assign(q, cents).select(
        "vec_id", F.col("code").alias("cluster"), "dist_sq"
    )


# the m=1 Lloyd rounds; every k-means-blocked oracle below reads the
# ``kmeans`` (vec_id, cluster, dist_sq) CTE
_KMEANS_CTE = _pq_oracle(1, KMEANS_K, KMEANS_ITERS)[0] + """,
kmeans AS (SELECT vec_id, code AS cluster, dist_sq FROM afinal)"""

EMBEDDING_KMEANS_ORACLE = f"""WITH {_KMEANS_CTE}
SELECT vec_id, cluster, dist_sq FROM kmeans"""

CLUSTER_SAMPLE_QUOTA = 16
_CSAMPLE_SALT = ":csample"
_CSAMPLE_SALTS = 64


def cluster_balanced_sample(
    spark: SparkSession,
    sf_dir: str,
    quota: int = CLUSTER_SAMPLE_QUOTA,
) -> DataFrame:
    """Cluster-balanced (diversity) sampling: up to ``quota`` vectors per
    k-means cluster, chosen by deterministic hash order — the curation
    step that caps each semantic region's contribution so dominant
    clusters don't swamp the training mix (the per-cluster dedup-budget
    pattern). Order inside a cluster is md5(vec_id + salt), so the sample
    is a pure function of ids: reproducible across runs, engines, and
    cluster sizes.

    Scale shape: the per-cluster rank reuses the two-phase top-k from
    q_tool_spans — ``cluster`` has only k distinct values, so a single
    row_number window would funnel every vector into k reducers; phase 1
    ranks within (cluster, salt) and keeps <= quota rows per salted group,
    phase 2 ranks the <= k*salts*quota survivors. The per-cluster top-k
    by a total order is contained in the union of per-salt top-ks, so the
    result is row-identical to the one-phase window the oracle runs.
    """
    from pyspark.sql.window import Window

    assign = embedding_kmeans(spark, sf_dir)
    h = F.md5(
        F.concat(F.col("vec_id").cast("string"), F.lit(_CSAMPLE_SALT))
    )
    order = (F.col("h"), F.col("vec_id"))
    ranked = assign.withColumn("h", h).withColumn(
        "salt", F.pmod(F.xxhash64("vec_id"), F.lit(_CSAMPLE_SALTS))
    )
    w_local = Window.partitionBy("cluster", "salt").orderBy(*order)
    survivors = (
        ranked.withColumn("lrk", F.row_number().over(w_local))
        .filter(F.col("lrk") <= quota)
        .drop("lrk", "salt")
    )
    w_global = Window.partitionBy("cluster").orderBy(*order)
    return (
        survivors.withColumn(
            "sample_rank", F.row_number().over(w_global).cast("int")
        )
        .filter(F.col("sample_rank") <= quota)
        .select("vec_id", "cluster", "sample_rank")
    )


CLUSTER_SAMPLE_ORACLE = f"""WITH {_KMEANS_CTE}
SELECT vec_id, cluster, cast(rk AS int) AS sample_rank FROM (
    SELECT vec_id, cluster,
        row_number() OVER (PARTITION BY cluster
            ORDER BY md5(cast(vec_id AS string) || '{_CSAMPLE_SALT}'),
                     vec_id) AS rk
    FROM kmeans
) q2 WHERE rk <= {CLUSTER_SAMPLE_QUOTA}"""


# --- SemDeDup: semantic dedup within k-means cluster blocks ------------------
#
# Abbas et al. 2023 (arXiv:2303.09540): embed, k-means cluster, and compare
# pairwise ONLY within each cluster — the published recipe for semantic
# near-dedup at corpus scale. The cluster id is the blocking key (an
# EQUALITY join, never all-pairs): candidate volume is sum_c |c|^2, bounded
# by growing k with n (the paper's regime — k ~ sqrt(n) holds expected block
# work at O(n)). At large k the exact Lloyd assign itself becomes the cost
# (n*k*dim compare work per pass); the 10^9-vector deployment swaps the
# block assignment for the IVF cell routing ann_ivf_topk already uses
# (coarse centroids from a sample, one broadcast assign pass) — the pair
# stage below is unchanged, it only consumes (vec_id, cluster).
# Keep-selection is connected components over the tau-pairs
# with the component minimum as canonical — the same deterministic
# parallel analog of the paper's greedy keep-one-per-ball that the MinHash
# family uses (greedy sequential order does not distribute; min-label
# canonicals do, and chains collapse to one survivor either way).

SEMDEDUP_COS = 0.38  # tuned to the synthetic corpus (global p99.9 cos ~0.377)


def _semdedup_pairs_from(assign: DataFrame, emb: DataFrame) -> DataFrame:
    """tau-pairs within cluster blocks; norms precomputed per side (an
    O(DIM) fold once per row, not once per pair)."""
    av = assign.join(emb, "vec_id").withColumn("nrm", _norm("v"))
    a = av.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"),
        F.col("nrm").alias("na"), "cluster",
    )
    b = av.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"), "cluster",
    )
    return (
        a.join(b, "cluster")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            "cluster",
            F.round(_dot("va", "vb") / (F.col("na") * F.col("nb")), 6)
            .alias("cos"),
        )
        .filter(F.col("cos") >= SEMDEDUP_COS)
    )


def semdedup_pairs(
    spark: SparkSession,
    sf_dir: str,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
) -> DataFrame:
    """SemDeDup candidate pairs: (vec_a, vec_b, cluster, cos >= tau).

    The assignment frame is persisted: the tau self-join references it in
    BOTH subtrees, and without the pin each side would re-run the whole
    Lloyd assignment (the shuffle-free-diamond persist rule, PLANS.md)."""
    assign = embedding_kmeans(spark, sf_dir, k=k, iters=iters).select(
        "vec_id", "cluster"
    ).persist()
    return _semdedup_pairs_from(assign, _emb(spark, sf_dir))


def semdedup(
    spark: SparkSession,
    sf_dir: str,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
) -> DataFrame:
    """Per-vector SemDeDup verdict: (vec_id, cluster, canonical_id,
    is_dup) — canonical is the min vec_id of the vector's tau-component,
    itself for untouched vectors. One k-means pass feeds both the blocks
    and the output clusters (the pairs and the verdict share ``assign``)."""
    from opentelemetry_collector_spark.operators.dedup import (
        connected_components,
    )

    assign = embedding_kmeans(spark, sf_dir, k=k, iters=iters).select(
        "vec_id", "cluster"
    )
    assign = assign.persist()  # referenced by both tau subtrees + output
    pairs = _semdedup_pairs_from(assign, _emb(spark, sf_dir)).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    comp = connected_components(pairs).select(
        F.col("doc_id").alias("vec_id"),
        F.col("cluster_id").alias("canonical_id"),
    )
    return (
        assign.join(comp, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.coalesce("canonical_id", F.col("vec_id")).alias("canonical_id"),
        )
        .withColumn("is_dup", F.col("vec_id") != F.col("canonical_id"))
    )


# the DuckDB twin of _semdedup_pairs_from over a CTE ``av(vec_id, cluster,
# v)``, shared by the k-means and IVF blockings
_TAUPAIRS_SQL = f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.cluster,
        round({_cos_sql('a.v', 'b.v')}, 6) AS cos
    FROM av a JOIN av b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    WHERE round({_cos_sql('a.v', 'b.v')}, 6) >= {SEMDEDUP_COS}"""

_SEMDEDUP_CTE = f"""{_KMEANS_CTE},
ev AS (
    SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS v
    FROM embeddings
),
av AS (
    SELECT a.vec_id, a.cluster, ev.v
    FROM kmeans a JOIN ev USING (vec_id)
),
taupairs AS ({_TAUPAIRS_SQL}
)"""


SEMDEDUP_PAIRS_ORACLE = f"""WITH {_SEMDEDUP_CTE}
SELECT vec_a, vec_b, cluster, cos FROM taupairs"""

SEMDEDUP_ORACLE = f"""WITH RECURSIVE {_SEMDEDUP_CTE},
edges AS (
    SELECT vec_a AS a, vec_b AS b FROM taupairs
    UNION
    SELECT vec_b, vec_a FROM taupairs
),
nodes AS (SELECT DISTINCT a AS node FROM edges),
reach AS (
    SELECT node, node AS r FROM nodes
    UNION
    SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a
),
lab AS (SELECT node AS vec_id, min(r) AS canonical_id FROM reach GROUP BY node)
SELECT s.vec_id, s.cluster,
    coalesce(l.canonical_id, s.vec_id) AS canonical_id,
    (coalesce(l.canonical_id, s.vec_id) != s.vec_id) AS is_dup
FROM kmeans s LEFT JOIN lab l USING (vec_id)
"""


def semdedup_ivf_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup blocking by IVF home cell — the billion-vector variant the
    kmeans form documents: the coarse quantizer (``_ivf_cells``, the one
    ann_ivf_topk uses) is ONE broadcast of {N_CELLS} seed centroids (no
    Lloyd iterations, no per-iteration shuffles, no driver-side centroid
    collection), each vector lands in its rank-1 cell, and the tau-pair
    stage is identical to semdedup_pairs — an equality join on the cell
    id. Cell count is the block-size knob exactly as k is for the kmeans
    variant; assign cost is one O(n*cells) map pass."""
    emb = _emb(spark, sf_dir).withColumn("nrm", _norm("v"))
    cells = (
        _ivf_cells(spark, sf_dir, emb, "vec_id", "v", "nrm", 1)
        .select("vec_id", F.col("cell").alias("cluster"))
        # both tau-join subtrees read the assignment; pin it so the
        # O(n*cells) coarse-quantizer pass runs once (diamond persist rule)
        .persist()
    )
    return _semdedup_pairs_from(cells, _emb(spark, sf_dir))


SEMDEDUP_IVF_ORACLE = f"""
WITH e AS (
    SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS v
    FROM embeddings
),
av AS (SELECT vec_id, cell AS cluster, v FROM ({_ivf_cells_sql(1)}) c)
{_TAUPAIRS_SQL}
"""


# --- product quantization (the PQ half of IVF-PQ) -----------------------------


def embedding_pq(
    spark: SparkSession,
    sf_dir: str,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = PQ_ITERS,
) -> DataFrame:
    """Product quantization codes — the compression half of the IVF-PQ
    architecture every billion-vector ANN deployment runs (Jégou et al.
    2011): split each vector into ``m`` contiguous subspaces, k-means each
    subspace to a ``ksub``-entry codebook, store per-vector codes. With
    ``ann_ivf_topk`` supplying the coarse cells and ``ann_pq_topk``
    searching the codes, this completes the IVF-PQ stack: memory per
    vector drops from DIM floats to m codes, and distances become
    codebook lookups (ADC).

    Output: (vec_id, sub, code, dist_sq) — one row per vector and
    subspace; dist_sq is the exact integer quantization error against the
    chosen codebook entry (the reconstruction-error term PQ minimizes).

    Training is the Lloyd loop ``_pq_train`` that embedding_kmeans runs
    with one subspace (same lattice trick, same seed rule — vector j seeds
    code j): distances and argmins are exact integers and the DuckDB
    oracle unrolls the identical iterations. The codebook is
    m*ksub*(DIM/m) = ksub*DIM integer cells — broadcast-sized by
    construction, independent of the corpus — and all m subspaces train
    in the SAME single pass per iteration, so adding subspaces adds no
    stages.
    """
    q, final = _pq_train(spark, sf_dir, m, ksub, iters)
    return _pq_assign(q, final)


def ann_pq_topk(
    spark: SparkSession,
    sf_dir: str,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = PQ_ITERS,
) -> DataFrame:
    """Approximate top-{TOPK} by asymmetric distance computation (ADC)
    over the PQ codes — the search half of IVF-PQ: each query precomputes
    an (m × ksub)-entry lookup table of exact integer L2 distances from
    its quantized subvectors to every codebook entry, and a corpus
    vector's distance is the SUM of m table lookups selected by its
    stored codes (Jégou et al. 2011 §4.1). Distances stay exact integers
    end-to-end, so ranking is engine-portable with no float tolerance.

    Scale shape: the lookup table is N_QUERIES*m*ksub rows — broadcast
    onto the codes stream (m ints per vector, the whole point of PQ: the
    scan reads codes, never the vectors); the per-(query, vector) sum is
    a partial aggregate on uniform keys, and the final top-{TOPK} is a
    bounded window per query. At 10^9+ vectors the production composition
    restricts candidates to the query's IVF cells first (ann_ivf_topk's
    probe join) — this operator IS that scan with the cell filter at 1.0.
    """
    from pyspark.sql.window import Window

    q, cents = _pq_train(spark, sf_dir, m, ksub, iters)
    codes = _pq_assign(q, cents).select("vec_id", "sub", "code")
    lut = (
        q.filter(F.col("vec_id") < N_QUERIES)
        .withColumnRenamed("vec_id", "query_id")
        .join(F.broadcast(cents), ["sub", "dim_idx"])
        .groupBy("query_id", "sub", "code")
        .agg(
            F.sum(
                (F.col("qval") - F.col("c")) * (F.col("qval") - F.col("c"))
            ).cast("long").alias("d")
        )
    )
    adc = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("data_id"))
        .agg(F.sum("d").cast("long").alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "data_id")
    return (
        adc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOPK)
        .select("query_id", "data_id", "adc_dist", "rk")
    )


_PQ_CTE, _PQ_CENTS = _pq_oracle()

EMBEDDING_PQ_ORACLE = f"""WITH {_PQ_CTE}
SELECT vec_id, sub, code, dist_sq FROM afinal"""

ANN_PQ_ORACLE = f"""WITH {_PQ_CTE},
lut AS (
    SELECT qq.vec_id AS query_id, c.sub, c.code,
        cast(sum((qq.qval - c.c) * (qq.qval - c.c)) AS bigint) AS d
    FROM q qq JOIN {_PQ_CENTS} c
        ON qq.sub = c.sub AND qq.dim_idx = c.dim_idx
    WHERE qq.vec_id < {N_QUERIES}
    GROUP BY qq.vec_id, c.sub, c.code
),
adc AS (
    SELECT l.query_id, a.vec_id AS data_id,
        cast(sum(l.d) AS bigint) AS adc_dist
    FROM afinal a JOIN lut l ON a.sub = l.sub AND a.code = l.code
    WHERE a.vec_id != l.query_id
    GROUP BY l.query_id, a.vec_id
)
SELECT query_id, data_id, adc_dist, rk FROM (
    SELECT query_id, data_id, adc_dist,
        row_number() OVER (PARTITION BY query_id
            ORDER BY adc_dist, data_id) AS rk
    FROM adc
) r WHERE rk <= {TOPK}"""


# --- ANN recall measurement (approximation-quality evidence) -----------------


def ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@{TOPK} of the two approximate top-k paths — IVF
    cells (``ivf``) and PQ codes (``pq``) — against the exact cosine scan,
    per query vector: (query_id, method, n_exact, n_hit, recall_milli).

    This is the evaluation harness every production ANN deployment runs
    before trusting a bucketed index (FAISS's standard recall@k
    protocol): ``n_hit`` = |approx top-k ∩ exact top-k|, and
    ``recall_milli`` = floor(1000 * n_hit / n_exact) — integer division,
    so the emitted values are exact in both engines. A query whose
    approximate top-k holds none of its exact neighbours still appears
    (n_hit = 0): the blind spots are the point of the measurement.

    Scale shape: the heavy lifting is the underlying operators (the
    exact scan is the cost ceiling — which is why recall is measured on
    a bounded query SAMPLE, here the {N_QUERIES}-vector demo set, never
    the full corpus); the comparison itself is a key-equality join on
    (query_id, data_id) followed by a partial aggregate on ~q*k rows.
    Tuning loop at 10^9 vectors: raise N_PROBE (IVF) or PQ_M / PQ_KSUB
    (PQ) until recall_milli clears the product bar, re-measuring on the
    same sample."""
    exact = ann_cosine_topk(spark, sf_dir).select("query_id", "data_id")
    base = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    per_method = []
    for method, fn in (("ivf", ann_ivf_topk), ("pq", ann_pq_topk)):
        approx = fn(spark, sf_dir).select("query_id", "data_id")
        hits = (
            exact.join(approx, ["query_id", "data_id"], "left_semi")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
        )
        per_method.append(
            base.join(hits, "query_id", "left").select(
                "query_id",
                F.lit(method).alias("method"),
                "n_exact",
                F.coalesce(F.col("n_hit"), F.lit(0))
                .cast("long")
                .alias("n_hit"),
            )
        )
    both = per_method[0].unionByName(per_method[1])
    return both.withColumn(
        "recall_milli",
        F.expr("(1000 * n_hit) div n_exact").cast("long"),
    )


ANN_RECALL_ORACLE = f"""
WITH exact AS (SELECT query_id, data_id FROM ({ANN_TOPK_ORACLE})),
ivf AS (SELECT query_id, data_id FROM ({ANN_IVF_ORACLE})),
pq AS (SELECT query_id, data_id FROM ({ANN_PQ_ORACLE})),
base AS (
    SELECT query_id, cast(count(*) AS bigint) AS n_exact
    FROM exact GROUP BY 1
),
m AS (
    SELECT 'ivf' AS method, * FROM ivf
    UNION ALL SELECT 'pq' AS method, * FROM pq
),
hits AS (
    SELECT method, query_id, cast(count(*) AS bigint) AS n_hit
    FROM m JOIN exact USING (query_id, data_id) GROUP BY 1, 2
),
methods AS (SELECT 'ivf' AS method UNION ALL SELECT 'pq')
SELECT b.query_id, md.method, b.n_exact,
    cast(coalesce(h.n_hit, 0) AS bigint) AS n_hit,
    cast((1000 * coalesce(h.n_hit, 0)) // b.n_exact AS bigint)
        AS recall_milli
FROM base b CROSS JOIN methods md
LEFT JOIN hits h ON h.query_id = b.query_id AND h.method = md.method
"""


# --- MMR diversity re-ranking (Carbonell & Goldstein 1998) -------------------
#
# Maximal Marginal Relevance: after ANN retrieval, select k results that
# trade relevance against redundancy — argmax over remaining candidates of
# lambda*rel(q,d) - (1-lambda)*max_{s in S} sim(d,s). The standard diverse
# few-shot / retrieval-dedup step of an LLM data pipeline.
#
# Engine-exact arithmetic: relevance and candidate-candidate cosines are
# quantized to integer MICRO-cosines (round(cos*1e6) -> bigint) before any
# decision, and lambda=0.7 becomes the integer score 7*rel - 3*maxsim, so
# every argmax (ties: data_id asc) is an integer comparison in both engines.
#
# Scale (100 TB / millions of queries): the heavy stage is the existing ANN
# candidate scan; the rerank operates on bounded per-query pools
# (MMR_CAND candidates, MMR_CAND^2 pool sims) and every selection step
# advances ALL queries at once relationally — a window + two equality joins
# on the query key, never a per-query driver loop or python kernel.
# Iteration state (pool, sims, selected-so-far) is localCheckpoint'ed:
# materialized to executor storage with lineage truncated, so step t scans
# the stored state instead of re-deriving steps 1..t-1 (the kmeans/BPE
# materialization discipline; plans stay flat in k).

MMR_K = 5
MMR_CAND = 20
# lambda = 0.7 -> integer score 7*rel - 3*maxsim (units: 1e-7 cosine)
MMR_LAMBDA_NUM, MMR_LAMBDA_CMP = 7, 3


def ann_mmr_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = MMR_K,
    n_cand: int = MMR_CAND,
) -> DataFrame:
    """MMR-diverse top-k per query vector:
    (query_id, data_id, mmr_rank, rel, mmr_score).

    ``rel`` is the integer micro-cosine to the query; ``mmr_score`` the
    integer MMR objective 7*rel - 3*max-sim-to-selected (maxsim = 0 for
    the first pick). Selection order is mmr_rank.
    """
    from pyspark.sql.window import Window

    data = _emb(spark, sf_dir, "data_id", "dv").withColumn(
        "dnorm", _norm("dv")
    )
    q = (
        _emb(spark, sf_dir, "query_id", "qv")
        .filter(F.col("query_id") < N_QUERIES)
        .withColumn("qnorm", _norm("qv"))
    )
    rel = (
        data.crossJoin(F.broadcast(q.select("query_id", "qv", "qnorm")))
        .filter(F.col("data_id") != F.col("query_id"))
        .select(
            "query_id",
            "data_id",
            F.round(
                _dot("qv", "dv")
                / (F.col("qnorm") * F.col("dnorm"))
                * 1_000_000.0
            )
            .cast("long")
            .alias("rel"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("rel").desc(), "data_id")
    cand = (
        rel.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= n_cand)
        .localCheckpoint()
    )
    cv = (
        cand.select("query_id", "data_id")
        .join(
            _emb(spark, sf_dir, "data_id", "cv").select("data_id", "cv"),
            "data_id",
        )
        .withColumn("cnorm", _norm("cv"))
    )
    a = cv.select(
        "query_id",
        F.col("data_id").alias("a_id"),
        F.col("cv").alias("av"),
        F.col("cnorm").alias("an"),
    )
    b = cv.select(
        "query_id",
        F.col("data_id").alias("b_id"),
        F.col("cv").alias("bv"),
        F.col("cnorm").alias("bn"),
    )
    sims = (
        a.join(b, "query_id")
        .filter(F.col("a_id") != F.col("b_id"))
        .select(
            "query_id",
            "a_id",
            "b_id",
            F.round(
                _dot("av", "bv") / (F.col("an") * F.col("bn")) * 1_000_000.0
            )
            .cast("long")
            .alias("sim"),
        )
        .localCheckpoint()
    )
    selected = cand.filter(F.col("rk") == 1).select(
        "query_id",
        "data_id",
        F.lit(1).alias("mmr_rank"),
        "rel",
        (F.lit(MMR_LAMBDA_NUM) * F.col("rel")).alias("mmr_score"),
    ).localCheckpoint()
    for t in range(2, k + 1):
        rem = cand.join(
            selected.select("query_id", "data_id"),
            ["query_id", "data_id"],
            "left_anti",
        )
        pen = (
            rem.join(
                sims.withColumnRenamed("a_id", "data_id"),
                ["query_id", "data_id"],
            )
            .join(
                selected.select(
                    "query_id", F.col("data_id").alias("b_id")
                ),
                ["query_id", "b_id"],
            )
            .groupBy("query_id", "data_id", "rel")
            .agg(F.max("sim").alias("ms"))
        )
        score = F.lit(MMR_LAMBDA_NUM) * F.col("rel") - F.lit(
            MMR_LAMBDA_CMP
        ) * F.col("ms")
        wt = Window.partitionBy("query_id").orderBy(
            score.desc(), "data_id"
        )
        step = (
            pen.withColumn("rn", F.row_number().over(wt))
            .filter(F.col("rn") == 1)
            .select(
                "query_id",
                "data_id",
                F.lit(t).alias("mmr_rank"),
                "rel",
                score.alias("mmr_score"),
            )
        )
        selected = selected.unionByName(step).localCheckpoint()
    return selected


def _mmr_oracle(k: int = MMR_K, n_cand: int = MMR_CAND) -> str:
    body = f"""
WITH e AS MATERIALIZED (
    SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS v
    FROM embeddings
),
relq AS (
    SELECT q.vec_id AS query_id, d.vec_id AS data_id,
        cast(round({_cos_sql('q.v', 'd.v')} * 1000000) AS bigint) AS rel
    FROM e q JOIN e d ON d.vec_id <> q.vec_id
    WHERE q.vec_id < {N_QUERIES}
),
cand AS MATERIALIZED (
    SELECT query_id, data_id, rel, rk FROM (
        SELECT *, cast(row_number() OVER (
            PARTITION BY query_id ORDER BY rel DESC, data_id) AS int) AS rk
        FROM relq
    ) r WHERE rk <= {n_cand}
),
sims AS MATERIALIZED (
    SELECT a.query_id, a.data_id AS a_id, b.data_id AS b_id,
        cast(round({_cos_sql('va.v', 'vb.v')} * 1000000) AS bigint) AS sim
    FROM cand a
    JOIN cand b ON a.query_id = b.query_id AND a.data_id <> b.data_id
    JOIN e va ON va.vec_id = a.data_id
    JOIN e vb ON vb.vec_id = b.data_id
),
sel1 AS MATERIALIZED (
    SELECT query_id, data_id, 1 AS mmr_rank, rel,
        {MMR_LAMBDA_NUM} * rel AS mmr_score
    FROM cand WHERE rk = 1
),
selu1 AS MATERIALIZED (SELECT query_id, data_id FROM sel1)"""
    for t in range(2, k + 1):
        body += f""",
pen{t} AS (
    SELECT c.query_id, c.data_id, c.rel, max(s.sim) AS ms
    FROM cand c
    JOIN sims s ON s.query_id = c.query_id AND s.a_id = c.data_id
    JOIN selu{t - 1} u ON u.query_id = s.query_id AND u.data_id = s.b_id
    WHERE NOT EXISTS (
        SELECT 1 FROM selu{t - 1} x
        WHERE x.query_id = c.query_id AND x.data_id = c.data_id)
    GROUP BY c.query_id, c.data_id, c.rel
),
sel{t} AS MATERIALIZED (
    SELECT query_id, data_id, {t} AS mmr_rank, rel, mmr_score FROM (
        SELECT query_id, data_id, rel,
            {MMR_LAMBDA_NUM} * rel - {MMR_LAMBDA_CMP} * ms AS mmr_score,
            row_number() OVER (PARTITION BY query_id
                ORDER BY {MMR_LAMBDA_NUM} * rel - {MMR_LAMBDA_CMP} * ms DESC,
                         data_id) AS rn
        FROM pen{t}
    ) z WHERE rn = 1
),
selu{t} AS MATERIALIZED (
    SELECT * FROM selu{t - 1}
    UNION ALL SELECT query_id, data_id FROM sel{t}
)"""
    selects = [
        f"SELECT query_id, data_id, mmr_rank, rel, mmr_score FROM sel{t}"
        for t in range(1, k + 1)
    ]
    return body + "\n" + "\nUNION ALL ".join(selects)


ANN_MMR_ORACLE = _mmr_oracle()
