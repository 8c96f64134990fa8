"""Measured two-scale evidence for the cross-tick MinHash near-dup ledger.

Holds the incoming tick FIXED (2,000 docs: 5% near-dups of accepted
docs, 95% novel) and grows the accepted-signature LEDGER 1x -> 10x
(5,000 -> 50,000 docs), timing ``IncrementalMinHashDeduper.dedup`` at
both sizes. The tick-side work (shingle/signature/in-batch pairs) is
constant, so the ratio isolates the ledger-probe cost: the band
equality join plus the ledger scan. Expect well below 10x — the probe
shuffles only (band, key) pairs and the candidate verify touches the
handful of collisions — with the residual growth being the per-tick
ledger scan, the cost the catalog.py band-key bucketing note removes
at 10^9+ docs.

Run: python scripts/bench_incremental_minhash.py  (prints one JSON line)
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import SparkSession, functions as F

from opentelemetry_collector_spark.operators.incremental_dedup import (
    IncrementalMinHashDeduper,
)

TICK_DOCS = 2_000
LEDGER_1X = 5_000
AMP = 10


def synth_docs(spark, n: int, seed_tag: str, id_base: int):
    """Deterministic ~60-word docs (md5-derived words, no RNG state)."""
    return spark.range(n).select(
        (F.col("id") + id_base).alias("doc_id"),
        F.concat_ws(
            " ",
            F.expr(
                "transform(sequence(1, 12), i -> substr(md5(concat("
                f"'{seed_tag}', cast(id AS string), ':', cast(i AS string)"
                ")), 1, 24))"
            ),
        ).alias("text"),
    )


def near_dups_of(docs, n: int, id_base: int):
    """First n docs, one 'word' altered (high-Jaccard near-dups)."""
    return (
        docs.orderBy("doc_id")
        .limit(n)
        .select(
            (F.col("doc_id") + id_base).alias("doc_id"),
            F.concat(F.lit("mutated "), F.expr("substr(text, 10)")).alias(
                "text"
            ),
        )
    )


def main() -> None:
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    out = {"tick_docs": TICK_DOCS, "ledger_docs": {}, "sec": {}}
    for amp in (1, AMP):
        n_ledger = LEDGER_1X * amp
        work = tempfile.mkdtemp(prefix=f"mh_ledger_{amp}x_")
        try:
            d = IncrementalMinHashDeduper(spark, f"{work}/ledger")
            accepted = synth_docs(spark, n_ledger, f"led{amp}", 0)
            d.commit(accepted, "t0")  # ledger built directly (accepted set)
            tick = synth_docs(
                spark, TICK_DOCS - TICK_DOCS // 20, "tick", 10_000_000
            ).unionByName(
                near_dups_of(accepted, TICK_DOCS // 20, 20_000_000)
            )
            tick = tick.persist()
            tick.count()  # materialize input outside the timed window
            d.dedup(tick, "t1").count()  # warm-up: JIT/codegen outside the timing
            t0 = time.monotonic()
            kept = d.dedup(tick, "t1").count()
            sec = round(time.monotonic() - t0, 3)
            out["ledger_docs"][str(amp)] = n_ledger
            out["sec"][str(amp)] = sec
            out[f"kept_{amp}x"] = kept
            tick.unpersist()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    out["ratio_10x"] = round(out["sec"][str(AMP)] / out["sec"]["1"], 2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
