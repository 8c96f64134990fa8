"""Bloom-filter membership over document fingerprints — the constant-
size "have we seen this document before" structure for a 10^12-row
ingest pipeline (Bloom 1970, CACM 13(7); the dedup-at-ingest shape used
by CCNet/RefinedWeb-scale corpus builds).

Why at 100 TB: an exact seen-set is a fingerprint-keyed table that every
tick must anti-join against — correct (operators/incremental_dedup.py
does exactly that for the exactly-once ledger) but the state grows with
the corpus. A Bloom filter caps the state at M bits forever, answers
"definitely new" with zero false negatives, and its merge operator is
SET UNION of bit positions — associative, commutative, and IDEMPOTENT,
so like the HLL sketch (operators/sketch.py) it is safe under crash
retries AND at-least-once re-delivered data, which no counting
structure is.

Engine-exact discipline: positions are md5-derived integers (hex prefix
-> bigint mod M, the repo's shared hashing convention), every output
column is an integer, and the false-positive count is an exact integer
comparison of bloom verdicts against true membership — no float
anywhere, so the DuckDB oracle agrees bit-for-bit.

Scale shape: one scan per side; the bitmap is <= M distinct-position
rows (constant), broadcast into the probe join; probe verdicts are a
per-fingerprint count-equality. Shuffle volume past the fingerprint
projection is independent of corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from opentelemetry_collector_spark.ledger import Ledger

BLOOM_M = 2048  # bits
BLOOM_K = 5  # hash functions


def _positions(fps: DataFrame) -> DataFrame:
    """(fp, pos): the BLOOM_K md5-derived bit positions of each
    fingerprint. A fingerprint's own k positions may collide — callers
    compare DISTINCT-position counts, never raw k."""
    return fps.select(
        "fp",
        F.explode(
            F.array(*[F.lit(i) for i in range(BLOOM_K)])
        ).alias("i"),
    ).select(
        "fp",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("fp"),
                            F.lit(":bloom"),
                            F.col("i").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % BLOOM_M
        ).alias("pos"),
    )


def bloom_bits(fps: DataFrame) -> DataFrame:
    """The filter state: distinct ``pos`` rows (<= BLOOM_M) for the
    fingerprint stream. Merge filters from shards/ticks by set union."""
    return _positions(fps).select("pos").distinct()


def bloom_probe(fps: DataFrame, bits: DataFrame) -> DataFrame:
    """(fp, bloom_hit): a fingerprint hits iff ALL of its distinct
    positions are set. Guaranteed: every inserted fingerprint hits
    (no false negatives); a miss is proof of novelty."""
    pos = _positions(fps)
    need = pos.groupBy("fp").agg(F.countDistinct("pos").alias("npos"))
    have = (
        pos.join(F.broadcast(bits), "pos")
        .groupBy("fp")
        .agg(F.countDistinct("pos").alias("nhit"))
    )
    return need.join(have, "fp", "left").select(
        "fp",
        (F.coalesce(F.col("nhit"), F.lit(0)) == F.col("npos")).alias(
            "bloom_hit"
        ),
    )


def bloom_fingerprints(
    spark: SparkSession,
    sf_dir: str,
    docs: DataFrame | None = None,
) -> DataFrame:
    """Build a Bloom filter over the even-doc_id half of the corpus'
    text fingerprints and probe the odd half: one summary row
    (m, k, n_inserted, bits_set, n_probed, bloom_hits, true_present,
    false_positives).

    ``true_present`` counts probe fingerprints that textually exist in
    the insert set (duplicated texts across the split); those are TRUE
    positives. ``false_positives = bloom_hits - true_present`` is the
    exact integer cost of the M-bit compression; bloom_hits >=
    true_present always (no false negatives)."""
    if docs is None:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fp = docs.select("doc_id", F.md5(F.col("text")).alias("fp"))
    ins = fp.filter(F.col("doc_id") % 2 == 0).select("fp").distinct()
    prb = fp.filter(F.col("doc_id") % 2 == 1).select("fp").distinct()
    bits = bloom_bits(ins)
    verdicts = bloom_probe(prb, bits)

    n_inserted = ins.agg(F.count(F.lit(1)).cast("long").alias("n_inserted"))
    bits_set = bits.agg(F.count(F.lit(1)).cast("long").alias("bits_set"))
    probe_stats = verdicts.agg(
        F.count(F.lit(1)).cast("long").alias("n_probed"),
        F.sum(F.col("bloom_hit").cast("long"))
        .cast("long")
        .alias("bloom_hits"),
    )
    true_present = prb.join(ins, "fp").agg(
        F.count(F.lit(1)).cast("long").alias("true_present")
    )
    return (
        n_inserted.crossJoin(F.broadcast(bits_set))
        .crossJoin(F.broadcast(probe_stats))
        .crossJoin(F.broadcast(true_present))
        .select(
            F.lit(BLOOM_M).cast("int").alias("m"),
            F.lit(BLOOM_K).cast("int").alias("k"),
            "n_inserted",
            "bits_set",
            "n_probed",
            "bloom_hits",
            "true_present",
            (F.col("bloom_hits") - F.col("true_present")).alias(
                "false_positives"
            ),
        )
    )


_POS_SQL = (
    f"cast(('0x' || substr(md5(fp || ':bloom' || i), 1, 8)) AS bigint)"
    f" % {BLOOM_M}"
)

BLOOM_ORACLE = f"""
WITH fp AS (
    SELECT doc_id, md5(text) AS fp FROM documents
),
ins AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 2 = 0),
prb AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 2 = 1),
ks AS (SELECT unnest(range({BLOOM_K})) AS i),
bits AS (
    SELECT DISTINCT {_POS_SQL} AS pos FROM ins, ks
),
need AS (
    SELECT fp, count(DISTINCT {_POS_SQL}) AS npos FROM prb, ks GROUP BY fp
),
have AS (
    SELECT fp, count(DISTINCT pos) AS nhit FROM (
        SELECT fp, {_POS_SQL} AS pos FROM prb, ks
    ) p JOIN bits USING (pos)
    GROUP BY fp
),
verdicts AS (
    SELECT need.fp,
           coalesce(have.nhit, 0) = need.npos AS bloom_hit
    FROM need LEFT JOIN have USING (fp)
)
SELECT cast({BLOOM_M} AS int) AS m,
       cast({BLOOM_K} AS int) AS k,
       (SELECT cast(count(*) AS bigint) FROM ins) AS n_inserted,
       (SELECT cast(count(*) AS bigint) FROM bits) AS bits_set,
       (SELECT cast(count(*) AS bigint) FROM verdicts) AS n_probed,
       (SELECT cast(count(*) FILTER (bloom_hit) AS bigint) FROM verdicts)
           AS bloom_hits,
       (SELECT cast(count(*) AS bigint) FROM prb JOIN ins USING (fp))
           AS true_present,
       (SELECT cast(count(*) FILTER (bloom_hit) AS bigint) FROM verdicts)
       - (SELECT cast(count(*) AS bigint) FROM prb JOIN ins USING (fp))
           AS false_positives
"""


# --- cross-tick incremental Bloom (the streaming membership twin) ------------

BLOOM_LEDGER_SCHEMA = T.StructType(
    [
        T.StructField("pos", T.LongType()),
        T.StructField("tick_id", T.StringType()),
    ]
)


class IncrementalBloom:
    """Cross-tick Bloom membership for batch-arriving streams: each tick
    commits its distinct bit positions to a tick_id-partitioned
    ``ledger.Ledger`` (dynamic overwrite — the persistent-queue crash
    protocol, persistent_storage.go:268-348 analog, shared with
    IncrementalDeduper and IncrementalSketcher); the merged filter is the
    position-set UNION over committed ticks.

    Set union is idempotent: crash-retried ticks AND re-delivered data
    leave the filter unchanged. Ledger state is <= BLOOM_M rows per tick
    and the merged filter is <= BLOOM_M rows regardless of stream size
    or tick count — the constant-state seen-set a 10^12-turn ingest
    needs where the exact fingerprint ledger would grow unboundedly.
    """

    def __init__(self, spark: SparkSession, ledger_path: str):
        self.ledger = Ledger(spark, ledger_path, BLOOM_LEDGER_SCHEMA, "tick_id")

    def sketch(self, fps: DataFrame) -> DataFrame:
        """This tick's distinct positions. Pure — safe to recompute."""
        return bloom_bits(fps)

    def commit(self, bits: DataFrame, tick_id: str) -> None:
        """Record the tick's positions idempotently."""
        self.ledger.commit_tick(bits, tick_id)

    def merged_bits(self) -> DataFrame:
        """Position-set union over all committed ticks (empty ledger =
        empty filter: everything reads definitely-new)."""
        return self.ledger.read().select("pos").distinct()

    def probe(self, fps: DataFrame) -> DataFrame:
        """(fp, bloom_hit) against the merged filter — a miss is proof
        the fingerprint never appeared in any committed tick."""
        return bloom_probe(fps, self.merged_bits())
