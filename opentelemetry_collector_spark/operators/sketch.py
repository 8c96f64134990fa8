"""Deterministic streaming sketches: Count-Min heavy hitters and
HyperLogLog distinct counting — the fixed-size aggregate summaries a
10^12-row pipeline uses where exact per-key state is unaffordable.

Why sketches at 100 TB: an exact word count shuffles on the word key
(vocabulary-sized state); an exact distinct count shuffles every key once.
Both sketches below reduce the shuffle to a CONSTANT number of rows
(D×W counters / M registers) with map-side partial aggregation doing all
the heavy lifting — the shuffle volume is independent of corpus size, the
textbook reason these structures exist (Cormode & Muthukrishnan 2005,
J. Algorithms 55(1); Flajolet et al. 2007, AofA).

Engine-exact discipline (the repo's parity rules):

* All hashing is md5-derived integers via the shared ``_hash_bucket``
  convention (hex prefix -> bigint), identical in Spark and DuckDB.
* CMS counters are integers end-to-end; the point estimate is
  ``min`` over D integer counters.
* HLL registers are integer max-of-rho values; the harmonic sum
  ``sum(2^-M_j)`` is computed as the EXACT integer ``sum(2^(55-M_j))``
  (rho <= 55, so every term is integral, and 64 terms of <= 2^55 cannot
  overflow a bigint) — no float accumulation order anywhere; the final
  estimate is one double division (plus one ``ln`` on the
  linear-counting branch), deterministic in both engines.

The collector has no sketch analog (its histograms are exact bucket
counts); these extend the engine's aggregate family per the LLM-pipeline
charter ("a novel sketch" — custom operator class (a): compositions of
existing DataFrame ops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from opentelemetry_collector_spark.ledger import Ledger
from opentelemetry_collector_spark.operators.textstats import _tokens

# Count-Min: D hash rows x W buckets; P(overestimate > 2N/W) < (1/2)^D-ish
CMS_D = 4
CMS_W = 256
CMS_TOPK = 10

# HyperLogLog: M registers, 60-bit hashes (15 md5 hex chars), rho over the
# remaining 54-bit pattern
HLL_M = 64
HLL_ALPHA = 0.709  # alpha_64 (Flajolet et al. 2007, fig. 3)
HLL_HASH_BITS = 60
HLL_PATTERN_BITS = HLL_HASH_BITS - 6  # log2(HLL_M) register bits
HLL_SCALE = HLL_PATTERN_BITS + 1  # 55: max rho, so 2^(SCALE-rho) is integral


def _h60(col, salt: str):
    """60-bit md5-derived integer, identical in Spark and DuckDB."""
    return F.conv(
        F.substring(
            F.md5(F.concat(col.cast("string"), F.lit(salt))), 1, 15
        ),
        16,
        10,
    ).cast("long")


def _h60_sql(expr: str, salt: str) -> str:
    return (
        f"cast(('0x' || substr(md5(cast({expr} AS string) || '{salt}'), "
        f"1, 15)) AS bigint)"
    )


def cms_heavy_hitters(
    spark: SparkSession,
    sf_dir: str,
    docs: DataFrame | None = None,
) -> DataFrame:
    """Count-Min estimates for the corpus' top-{CMS_TOPK} words:
    (w, exact_count, cms_est), cms_est >= exact_count always.

    The sketch build shuffles exactly D*W = {CMS_D*CMS_W} counter rows no
    matter the corpus size: each task partial-aggregates its token stream
    into (hash_row, bucket) cells map-side. The exact counts ride along
    here only to exhibit the overestimate guarantee; a production run
    keeps the 1024-row sketch and drops the word-keyed aggregate
    entirely."""
    toks = _tokens(spark, sf_dir, docs=docs)
    rows = F.explode(
        F.array(*[F.lit(d) for d in range(CMS_D)])
    ).alias("d")
    cells = (
        toks.select("w", rows)
        .select(
            "d",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("w"),
                                F.lit(":cms"),
                                F.col("d").cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % CMS_W
            ).alias("bucket"),
        )
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    top = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_count"))
        .orderBy(F.desc("exact_count"), "w")
        .limit(CMS_TOPK)
    )
    probes = top.select(
        "w",
        "exact_count",
        F.explode(F.array(*[F.lit(d) for d in range(CMS_D)])).alias("d"),
    ).select(
        "w",
        "exact_count",
        "d",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("w"),
                            F.lit(":cms"),
                            F.col("d").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % CMS_W
        ).alias("bucket"),
    )
    return (
        probes.join(F.broadcast(cells), ["d", "bucket"])
        .groupBy("w", "exact_count")
        .agg(F.min("cnt").alias("cms_est"))
        .select("w", "exact_count", "cms_est")
    )


CMS_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, w FROM (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS w
        FROM documents
    ) t WHERE length(w) > 0
),
cells AS MATERIALIZED (
    SELECT d,
        cast(('0x' || substr(md5(w || ':cms' || d), 1, 8)) AS bigint)
            % {CMS_W} AS bucket,
        cast(count(*) AS bigint) AS cnt
    FROM toks, unnest([0, 1, 2, 3]) u(d)
    GROUP BY d, bucket
),
top AS (
    SELECT w, cast(count(*) AS bigint) AS exact_count
    FROM toks GROUP BY w
    ORDER BY exact_count DESC, w LIMIT {CMS_TOPK}
),
probes AS (
    SELECT w, exact_count, d,
        cast(('0x' || substr(md5(w || ':cms' || d), 1, 8)) AS bigint)
            % {CMS_W} AS bucket
    FROM top, unnest([0, 1, 2, 3]) u(d)
)
SELECT p.w, p.exact_count, min(c.cnt) AS cms_est
FROM probes p JOIN cells c ON p.d = c.d AND p.bucket = c.bucket
GROUP BY p.w, p.exact_count
"""


def hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count of ``events.event_id`` with the exact
    count alongside: one row
    (m, zero_registers, s_scaled, est_distinct, exact_distinct).

    ``s_scaled`` is the EXACT integer 2^55-scaled harmonic sum — the whole
    sketch state after registers are maxed; ``est_distinct`` is
    alpha*m^2*2^55/s with the standard linear-counting fallback below
    2.5m when empty registers remain. The shuffle is M = {HLL_M} register
    rows regardless of stream size (max partial-aggregates map-side);
    sketches from disjoint shards merge by register max — the property
    that makes HLL the distributed distinct counter."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    regs = hll_registers(ev.sparkSession, ev, "event_id")
    exact = ev.agg(
        F.countDistinct("event_id").cast("long").alias("exact_distinct")
    )
    return hll_estimate(regs).crossJoin(F.broadcast(exact)).select(
        "m",
        "zero_registers",
        "s_scaled",
        "est_distinct",
        "exact_distinct",
    )


def hll_registers(spark, df: DataFrame, key_col: str) -> DataFrame:
    """The sketch state: all {HLL_M} (j, m_j) register rows for the
    stream ``df[key_col]`` (absent registers surface as m_j = 0). Merge
    sketches from disjoint shards/ticks by per-register max."""
    vals = df.select(
        _h60(F.col(key_col), ":hll").alias("hv")
    ).select(
        # integer div/mod only: hv is 60 bits, beyond double precision
        F.expr(f"hv % {HLL_M}").cast("long").alias("j"),
        F.expr(f"hv div {HLL_M}").cast("long").alias("pattern"),
    ).select(
        "j",
        F.when(
            F.col("pattern") == 0, F.lit(HLL_PATTERN_BITS + 1)
        )
        .otherwise(
            F.lit(HLL_PATTERN_BITS + 1) - F.length(F.bin(F.col("pattern")))
        )
        .cast("int")
        .alias("rho"),
    )
    return (
        # the register rows are one partition: a tick's sketch commits as
        # one ledger file, and HLL_M rows need no parallelism
        spark.range(HLL_M, numPartitions=1)
        .select(F.col("id").cast("long").alias("j"))
        .join(
            vals.groupBy("j").agg(F.max("rho").alias("mx")), "j", "left"
        )
        .select("j", F.coalesce("mx", F.lit(0)).cast("int").alias("m_j"))
    )


def hll_estimate(regs: DataFrame) -> DataFrame:
    """One-row estimate (m, zero_registers, s_scaled, est_distinct) from
    a (j, m_j) register frame — the exact integer harmonic sum plus the
    standard linear-counting fallback."""
    agg = regs.agg(
        F.count(F.lit(1)).cast("int").alias("m"),
        F.sum(F.when(F.col("m_j") == 0, 1).otherwise(0))
        .cast("long")
        .alias("zero_registers"),
        F.sum(F.pow(F.lit(2.0), HLL_SCALE - F.col("m_j")).cast("long"))
        .cast("long")
        .alias("s_scaled"),
    )
    raw = (
        F.lit(HLL_ALPHA)
        * F.lit(float(HLL_M * HLL_M))
        * F.lit(float(2**HLL_SCALE))
        / F.col("s_scaled").cast("double")
    )
    linear = F.lit(float(HLL_M)) * F.log(
        F.lit(float(HLL_M)) / F.col("zero_registers").cast("double")
    )
    est = F.when(
        (raw <= 2.5 * HLL_M) & (F.col("zero_registers") > 0), linear
    ).otherwise(raw)
    return agg.select(
        "m", "zero_registers", "s_scaled", est.alias("est_distinct")
    )


HLL_ORACLE = f"""
WITH h AS (
    SELECT {_h60_sql('event_id', ':hll')} AS hv FROM events
),
vals AS (
    SELECT hv % {HLL_M} AS j,
        CASE WHEN hv // {HLL_M} = 0 THEN {HLL_PATTERN_BITS + 1}
             ELSE {HLL_PATTERN_BITS + 1} - length(bin(hv // {HLL_M}))
        END AS rho
    FROM h
),
regs AS (
    SELECT g.j, cast(coalesce(max(v.rho), 0) AS int) AS m_j
    FROM (SELECT unnest(generate_series(0, {HLL_M - 1})) AS j) g
    LEFT JOIN vals v ON v.j = g.j
    GROUP BY g.j
),
agg AS (
    SELECT cast(count(*) AS int) AS m,
        cast(sum(CASE WHEN m_j = 0 THEN 1 ELSE 0 END) AS bigint)
            AS zero_registers,
        cast(sum(cast(power(2, {HLL_SCALE} - m_j) AS bigint)) AS bigint)
            AS s_scaled
    FROM regs
),
exact AS (
    SELECT cast(count(DISTINCT event_id) AS bigint) AS exact_distinct
    FROM events
)
SELECT m, zero_registers, s_scaled,
    CASE WHEN (cast({HLL_ALPHA} AS double) * cast({HLL_M * HLL_M} AS double)
               * cast({2**HLL_SCALE} AS double)
               / cast(s_scaled AS double)) <= {2.5 * HLL_M}
              AND zero_registers > 0
         THEN cast({HLL_M} AS double)
              * ln(cast({HLL_M} AS double) / cast(zero_registers AS double))
         ELSE cast({HLL_ALPHA} AS double) * cast({HLL_M * HLL_M} AS double)
              * cast({2**HLL_SCALE} AS double)
              / cast(s_scaled AS double)
    END AS est_distinct,
    exact_distinct
FROM agg, exact
"""


# --- cross-tick incremental HLL (the streaming sketch twin) ------------------

HLL_LEDGER_SCHEMA = T.StructType(
    [
        T.StructField("j", T.LongType()),
        T.StructField("m_j", T.IntegerType()),
        T.StructField("tick_id", T.StringType()),
    ]
)


class IncrementalSketcher:
    """Cross-tick HLL distinct counting for streams that arrive in
    batches: each tick computes its own {HLL_M} register maxima (pure —
    safe to recompute on a crash retry) and commits them to a persistent
    ledger partitioned by tick_id (dynamic overwrite, so a retried tick
    never duplicates — the IncrementalDeduper/persistent-queue crash
    protocol, persistent_storage.go:268-348 analog). The merged sketch is
    the per-register MAX over every committed tick.

    Register max is associative, commutative, and IDEMPOTENT — so not
    only do crash retries leave the estimate unchanged, re-delivered
    DATA does too: re-ingesting yesterday's events cannot inflate the
    distinct count, a property no additive counter has. That is what
    makes HLL the right cardinality aggregate for an at-least-once
    ingest pipeline.

    Scale: the ledger is tick-partitioned (``ledger.Ledger``), {HLL_M}
    rows in one file per tick. The merge reads {HLL_M} rows per committed
    tick whatever the stream size; the estimate is constant work.
    ``sketcher.ledger.compact()`` merges files within each tick but keeps
    one partition per tick, which the idempotent retry relies on.
    """

    def __init__(self, spark: SparkSession, ledger_path: str,
                 key_col: str = "event_id"):
        self.spark = spark
        self.ledger = Ledger(spark, ledger_path, HLL_LEDGER_SCHEMA, "tick_id")
        self.key_col = key_col

    def sketch(self, df: DataFrame) -> DataFrame:
        """This tick's (j, m_j) registers. Pure."""
        return hll_registers(self.spark, df, self.key_col)

    def commit(self, regs: DataFrame, tick_id: str) -> None:
        """Record the tick's registers idempotently."""
        self.ledger.commit_tick(regs, tick_id)

    def merged_registers(self) -> DataFrame:
        """Per-register max over all committed ticks (all {HLL_M} rows;
        an empty ledger is the all-zero sketch)."""
        base = self.spark.range(HLL_M).select(
            F.col("id").cast("long").alias("j")
        )
        mx = self.ledger.read().groupBy("j").agg(F.max("m_j").alias("mx"))
        return base.join(mx, "j", "left").select(
            "j", F.coalesce("mx", F.lit(0)).cast("int").alias("m_j")
        )

    def estimate(self) -> DataFrame:
        """One-row (m, zero_registers, s_scaled, est_distinct) over the
        merged ledger state."""
        return hll_estimate(self.merged_registers())
