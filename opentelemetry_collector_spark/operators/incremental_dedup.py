"""Cross-tick corpus dedup — exact dedup against a persistent fingerprint
ledger, composing the training-data dedup operators with the incremental
ingest/checkpoint layer (SURVEY §2.5, §2.8).

A 100 TB training corpus is not deduped once: new crawl/transcript batches
arrive continuously and must be checked against EVERYTHING already accepted.
Re-running global dedup per batch is O(corpus) per tick; the standard shape
is a fingerprint ledger — the accepted docs' content hashes — that each new
batch anti-joins against. This module is that stage, with the same
crash-safety contract as the rest of the engine (write-then-commit,
idempotent re-run; the two-layer recovery pattern of
``sources/incremental.py`` + ``plans/checkpoint.py``, reference analog
persistent_storage.go:268-348's delete-after-OnProcessingFinished ordering).

Protocol per tick (caller typically inside ``IncrementalSource.process_new``
with the tick's ``PendingTick.tick_id``)::

    fresh = deduper.dedup(new_docs, tick_id)   # pure, repeatable
    ... write `fresh` to the accepted corpus (idempotent sink) ...
    deduper.commit(fresh, tick_id)             # fp ledger, tick-partitioned

``dedup`` reads the ledger WITHOUT the ``tick_id`` partition, so a retry
sees the state the tick first saw at every crash point: before ``commit``
(the ledger has not moved) and after it (the tick's own fingerprints are
left out, instead of matching every doc and erasing the tick on the
re-commit). The re-run recomputes the SAME ``fresh`` set, and the
idempotent sink + tick-partition overwrite make it exactly-once. Every
ledger here is a tick-partitioned ``ledger.Ledger``: commits are dynamic
overwrites of the tick's partition, so a double-commit of one tick cannot
duplicate fingerprints.

Scale: the ledger holds one 32-char md5 + doc_id per accepted doc — bytes
per doc, not the doc. The anti-join shuffles only (fp) pairs hashed on fp;
no skew surface (md5 is uniform). At 10^9+ docs, bucket the ledger table by
fp so the per-tick anti-join co-locates with no ledger shuffle at all —
same Iceberg bucket layout note as sources/catalog.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from opentelemetry_collector_spark.ledger import Ledger

FP_SCHEMA = T.StructType(
    [
        T.StructField("fp", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("tick_id", T.StringType(), False),
    ]
)


def fingerprint(docs: DataFrame) -> DataFrame:
    """(doc_id, fp=md5(text)) — same content hash as ``dedup_exact``."""
    return docs.select("doc_id", F.md5("text").alias("fp"))


def _gauges(ledger: Ledger) -> dict:
    """Ledger gauges (queue-gauge analog, queued_retry.go:209-223)."""
    return ledger.read().agg(
        F.count(F.lit(1)).alias("accepted_docs"),
        F.countDistinct("tick_id").alias("ticks"),
    ).first().asDict()


class IncrementalDeduper:
    """Exact dedup of incoming batches against a persistent fp ledger."""

    def __init__(
        self,
        spark: SparkSession,
        ledger_path: str,
        bloom_ledger_path: str | None = None,
    ):
        self.ledger = Ledger(spark, ledger_path, FP_SCHEMA, "tick_id")
        # optional constant-state prefilter: with a Bloom ledger, a probe
        # MISS is proof of novelty (no false negatives), so only the
        # maybe-seen subset pays the anti-join against the growing fp
        # ledger — at 10^9 accepted docs that join's probe side shrinks
        # from "every incoming doc" to "actual dups + the filter's small
        # false-positive rate" while results stay bit-identical
        self._bloom = None
        if bloom_ledger_path is not None:
            from opentelemetry_collector_spark.operators.bloom import (
                IncrementalBloom,
            )

            self._bloom = IncrementalBloom(spark, bloom_ledger_path)

    def dedup(self, docs: DataFrame, tick_id: str) -> DataFrame:
        """The tick's accepted docs: in-batch dups collapsed to the min
        doc_id per content hash, then everything the ledger holds from
        OTHER ticks anti-joined away. Pure — safe to recompute on a crash
        retry, before or after ``commit``."""
        from pyspark.sql.window import Window

        fps = fingerprint(docs)
        w = Window.partitionBy("fp")
        in_batch = (
            fps.withColumn("canonical_id", F.min("doc_id").over(w))
            .filter(F.col("doc_id") == F.col("canonical_id"))
            .drop("canonical_id")
        )
        seen = self.ledger.read(except_tick=tick_id).select("fp")
        if self._bloom is None:
            fresh = in_batch.join(seen, "fp", "left_anti")
        else:
            # bloom prefilter: misses are definitely new (no exact-ledger
            # work at all); only hits — true dups plus the bounded
            # false-positive residue — get the exact anti-join
            hits = (
                self._bloom.probe(in_batch.select("fp"))
                .filter("bloom_hit")
                .select("fp")
            )
            definitely_new = in_batch.join(hits, "fp", "left_anti")
            checked = in_batch.join(hits, "fp").join(seen, "fp", "left_anti")
            fresh = definitely_new.unionByName(checked)
        return docs.join(fresh.select("doc_id"), "doc_id")

    def commit(self, accepted: DataFrame, tick_id: str) -> None:
        """Record the tick's accepted fingerprints, idempotently: the
        write replaces only this tick's partition (dynamic partition
        overwrite), so retrying a tick never duplicates ledger rows.

        With a Bloom prefilter, the filter commits FIRST: the bloom bits
        must always be a SUPERSET of the fp ledger, else a crash between
        the two writes could leave a committed fingerprint reading as a
        bloom miss — "definitely new" — and a later tick would re-accept
        the duplicate. The safe failure mode is the reverse (bloom has a
        tick the fp ledger lacks): those probes hit, the exact check
        finds nothing, and the docs are correctly treated as fresh."""
        if self._bloom is not None:
            self._bloom.commit(
                self._bloom.sketch(fingerprint(accepted).select("fp")),
                tick_id,
            )
        self.ledger.commit_tick(fingerprint(accepted), tick_id)

    def metrics(self) -> dict:
        """{accepted_docs, ticks} of the fp ledger."""
        return _gauges(self.ledger)


# --- cross-tick NEAR-dup (MinHash signature ledger) ---------------------------

SIG_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("sig", T.ArrayType(T.LongType(), False), False),
        T.StructField("tick_id", T.StringType(), False),
    ]
)


class IncrementalMinHashDeduper:
    """Cross-tick NEAR-duplicate dedup against a persistent MinHash
    signature ledger — the fuzzy twin of ``IncrementalDeduper`` (which
    catches only byte-identical content across ticks).

    Per tick: (1) in-batch near-dups collapse to cluster canonicals via
    ``dedup_clusters`` (MinHash pairs with exact shingle-Jaccard verify,
    then connected components) — the same call the batch
    ``dedup_minhash`` config processor makes; (2) the canonicals' LSH
    band keys (identical banding to the in-batch op —
    ``bands_from_signatures``) equality-join against the ledger's bands,
    and candidates are verified by SIGNATURE-estimated
    Jaccard (matching minhash components / K ≥ the same threshold): the
    ledger keeps the 16-bigint sketch per accepted doc, never its
    shingles, so the cross-tick verify uses the standard unbiased MinHash
    estimator rather than exact Jaccard — documented estimator tradeoff,
    candidates are already band-collision-filtered high-J pairs.

    Dedup policy is FIRST-ACCEPTED-WINS against the retained corpus: a
    new doc is dropped iff it is a near-dup of an ACCEPTED doc. Chains
    through previously-dropped docs deliberately do not propagate across
    ticks — the dropped doc is not in the training corpus, so it cannot
    justify dropping anything (the same over-deletion argument as
    ``dedup_minhash_p``'s cluster canonicals, applied at the corpus
    boundary).

    Crash contract is the module protocol: ``dedup`` is pure given the
    ledger without its own tick, ``commit`` is a dynamic tick-partition
    overwrite, so crash retries recompute the same accepted set and
    double commits cannot duplicate signatures.

    Scale: ledger row = doc_id + {16} bigints (~150 B per accepted doc).
    The per-tick probe is an equality join on (band, key) — uniform md5
    keys, no skew surface; at 10^9+ accepted docs, bucket the ledger by
    the band key (Iceberg layout note in sources/catalog.py) so the probe
    co-locates without a ledger shuffle.
    """

    def __init__(self, spark: SparkSession, ledger_path: str):
        self.spark = spark
        self.ledger = Ledger(spark, ledger_path, SIG_SCHEMA, "tick_id")

    def dedup(self, docs: DataFrame, tick_id: str) -> DataFrame:
        """The tick's accepted docs (near-dup-free within the batch AND
        vs everything other ticks accepted). Pure — safe to recompute,
        before or after ``commit``."""
        from opentelemetry_collector_spark.operators.dedup import (
            JACCARD_THRESHOLD,
            MINHASH_K,
            bands_from_signatures,
            dedup_clusters,
            minhash_signatures,
        )

        # (1) in-batch: exact-verified pairs -> component canonicals
        drop_in_batch = (
            dedup_clusters(self.spark, "", docs=docs)
            .filter(F.col("doc_id") != F.col("cluster_id"))
            .select("doc_id")
        )
        canon = docs.join(drop_in_batch, "doc_id", "left_anti")

        # (2) cross-tick: band-collision candidates vs the ledger,
        # verified by the signature-estimated Jaccard
        new_sigs = minhash_signatures(self.spark, "", docs=canon)
        led = self.ledger.read(except_tick=tick_id)
        cand = (
            bands_from_signatures(new_sigs)
            .join(
                bands_from_signatures(
                    led.select("doc_id", "sig")
                ).select(
                    F.col("doc_id").alias("old_id"), "band", "key"
                ),
                ["band", "key"],
            )
            .select("doc_id", "old_id")
            .distinct()
        )
        est = (
            cand.join(new_sigs, "doc_id")
            .join(
                led.select(
                    F.col("doc_id").alias("old_id"),
                    F.col("sig").alias("old_sig"),
                ),
                "old_id",
            )
            .withColumn(
                "est_jaccard",
                sum(
                    F.when(F.col("sig")[i] == F.col("old_sig")[i], 1).otherwise(0)
                    for i in range(MINHASH_K)
                )
                / F.lit(MINHASH_K),
            )
        )
        drop_cross = (
            est.filter(F.col("est_jaccard") >= JACCARD_THRESHOLD)
            .select("doc_id")
            .distinct()
        )
        return canon.join(drop_cross, "doc_id", "left_anti")

    def commit(self, accepted: DataFrame, tick_id: str) -> None:
        """Record the tick's accepted signatures idempotently (dynamic
        tick-partition overwrite)."""
        from opentelemetry_collector_spark.operators.dedup import (
            minhash_signatures,
        )

        self.ledger.commit_tick(
            minhash_signatures(self.spark, "", docs=accepted), tick_id
        )

    def metrics(self) -> dict:
        """{accepted_docs, ticks} of the signature ledger."""
        return _gauges(self.ledger)
