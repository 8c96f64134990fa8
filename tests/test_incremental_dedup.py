"""Cross-tick fingerprint-ledger dedup: in-batch collapse, cross-tick
anti-join, crash-retry determinism, double-commit idempotence, and global
first-seen-wins conservation."""

from __future__ import annotations

import pytest

from opentelemetry_collector_spark.operators.incremental_dedup import (
    IncrementalDeduper,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture()
def deduper(spark, tmp_path):
    return IncrementalDeduper(spark, str(tmp_path / "fp_ledger"))


def test_in_batch_dups_collapse_to_min_doc_id(spark, deduper):
    out = deduper.dedup(
        _docs(spark, [(1, "aa"), (2, "bb"), (3, "aa"), (4, "aa")]), "t1"
    )
    assert {r.doc_id for r in out.collect()} == {1, 2}


def test_cross_tick_dedup_and_conservation(spark, deduper):
    t1 = _docs(spark, [(1, "aa"), (2, "bb")])
    a1 = deduper.dedup(t1, "t1")
    deduper.commit(a1, "t1")
    # tick 2 repeats "aa" (different doc_id) and adds "cc"
    t2 = _docs(spark, [(10, "aa"), (11, "cc"), (12, "cc")])
    a2 = deduper.dedup(t2, "t2")
    assert {r.doc_id for r in a2.collect()} == {11}
    deduper.commit(a2, "t2")
    # accepted across ticks == distinct texts, first-seen wins, no fp dups
    led = deduper.ledger.read().collect()
    assert len({r.fp for r in led}) == len(led)
    assert sorted(r.doc_id for r in led) == [1, 2, 11]
    assert deduper.metrics() == {"accepted_docs": 3, "ticks": 2}


def test_crash_retry_is_deterministic(spark, deduper):
    t1 = _docs(spark, [(1, "aa"), (2, "bb")])
    deduper.commit(deduper.dedup(t1, "t1"), "t1")
    t2 = _docs(spark, [(10, "aa"), (11, "cc")])
    # "crash" after dedup, before commit: recompute gives the same set
    first = {r.doc_id for r in deduper.dedup(t2, "t2").collect()}
    retry = {r.doc_id for r in deduper.dedup(t2, "t2").collect()}
    assert first == retry == {11}


def test_double_commit_does_not_duplicate(spark, deduper):
    t1 = _docs(spark, [(1, "aa"), (2, "bb")])
    a1 = deduper.dedup(t1, "t1")
    deduper.commit(a1, "t1")
    deduper.commit(a1, "t1")  # retried tick: same partition overwritten
    led = deduper.ledger.read().collect()
    assert len(led) == 2
    assert deduper.metrics() == {"accepted_docs": 2, "ticks": 1}


def test_incremental_hll_ticks_equal_batch_sketch(spark, tmp_path):
    """Cross-tick HLL: committing per-tick registers and merging by max
    must reproduce the one-shot batch sketch EXACTLY (same registers,
    same s_scaled, same estimate) — the associativity property that makes
    HLL the distributed distinct counter."""
    from pyspark.sql import functions as F

    from opentelemetry_collector_spark.operators.sketch import (
        IncrementalSketcher,
        hll_estimate,
        hll_registers,
    )
    from tests.conftest import SF_CORRECT

    ev = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    batch_regs = {
        r.j: r.m_j for r in hll_registers(spark, ev, "event_id").collect()
    }
    batch_est = hll_estimate(
        hll_registers(spark, ev, "event_id")
    ).collect()[0]

    sk = IncrementalSketcher(spark, str(tmp_path / "hll_ledger"))
    for tick in range(3):
        part = ev.filter(F.col("event_id") % 3 == tick)
        sk.commit(sk.sketch(part), f"tick-{tick}")
    merged = {r.j: r.m_j for r in sk.merged_registers().collect()}
    assert merged == batch_regs
    got = sk.estimate().collect()[0]
    assert got.s_scaled == batch_est.s_scaled
    assert got.est_distinct == batch_est.est_distinct


def test_incremental_hll_is_retry_and_redelivery_proof(spark, tmp_path):
    """A crash-retried tick (same tick_id recommitted) AND fully
    re-delivered data (the same events committed under a NEW tick id)
    must both leave the merged sketch unchanged — register max is
    idempotent, which no additive counter is."""
    from opentelemetry_collector_spark.operators.sketch import (
        IncrementalSketcher,
    )
    from tests.conftest import SF_CORRECT

    ev = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    sk = IncrementalSketcher(spark, str(tmp_path / "hll_ledger"))
    sk.commit(sk.sketch(ev), "tick-0")
    base = sk.estimate().collect()[0]
    # crash retry: same tick recommitted (dynamic overwrite, no dup rows)
    sk.commit(sk.sketch(ev), "tick-0")
    assert sk.estimate().collect()[0] == base
    # at-least-once redelivery: same data under a new tick id
    sk.commit(sk.sketch(ev), "tick-1")
    assert sk.estimate().collect()[0] == base


def test_incremental_hll_empty_ledger_is_zero_sketch(spark, tmp_path):
    """Before any tick commits, the merged sketch is the all-zero
    register state (every register empty, linear-counting regime)."""
    from opentelemetry_collector_spark.operators.sketch import (
        HLL_M,
        IncrementalSketcher,
    )

    sk = IncrementalSketcher(spark, str(tmp_path / "hll_ledger"))
    regs = sk.merged_registers().collect()
    assert len(regs) == HLL_M
    assert all(r.m_j == 0 for r in regs)
    est = sk.estimate().collect()[0]
    assert est.zero_registers == HLL_M


def test_incremental_bloom_ticks_equal_batch_and_idempotent(spark, tmp_path):
    """Cross-tick Bloom: per-tick position unions must reproduce the
    one-shot batch filter exactly, and both a crash-retried tick and
    fully re-delivered data must leave the filter unchanged (set union
    is idempotent)."""
    from pyspark.sql import functions as F

    from opentelemetry_collector_spark.operators.bloom import (
        IncrementalBloom,
        bloom_bits,
    )
    from tests.conftest import SF_CORRECT

    fps = (
        spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
        .select("doc_id", F.md5(F.col("text")).alias("fp"))
    )
    batch = {r.pos for r in bloom_bits(fps.select("fp")).collect()}

    bl = IncrementalBloom(spark, str(tmp_path / "bloom_ledger"))
    for tick in range(3):
        part = fps.filter(F.col("doc_id") % 3 == tick).select("fp")
        bl.commit(bl.sketch(part), f"tick-{tick}")
    assert {r.pos for r in bl.merged_bits().collect()} == batch

    # crash retry: same tick recommitted
    bl.commit(bl.sketch(fps.filter(F.col("doc_id") % 3 == 0).select("fp")), "tick-0")
    assert {r.pos for r in bl.merged_bits().collect()} == batch
    # at-least-once redelivery: all data again under a new tick id
    bl.commit(bl.sketch(fps.select("fp")), "tick-redeliver")
    assert {r.pos for r in bl.merged_bits().collect()} == batch


def test_incremental_bloom_empty_ledger_reads_definitely_new(spark, tmp_path):
    """Before any tick commits, every probe must miss — an empty filter
    claims nothing, so 'miss = definitely new' holds from tick zero."""
    from opentelemetry_collector_spark.operators.bloom import IncrementalBloom

    bl = IncrementalBloom(spark, str(tmp_path / "bloom_ledger"))
    probe = spark.createDataFrame([("a",), ("b",)], "fp string")
    got = bl.probe(probe).collect()
    assert len(got) == 2 and not any(r.bloom_hit for r in got)


def test_incremental_bloom_no_false_negatives_across_ticks(spark, tmp_path):
    """Every fingerprint committed in ANY tick must hit the merged
    filter — the cross-tick no-false-negative guarantee that lets a
    miss skip the exact-ledger anti-join entirely."""
    from pyspark.sql import functions as F

    from opentelemetry_collector_spark.operators.bloom import IncrementalBloom
    from tests.conftest import SF_CORRECT

    fps = (
        spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
        .select("doc_id", F.md5(F.col("text")).alias("fp"))
    )
    bl = IncrementalBloom(spark, str(tmp_path / "bloom_ledger"))
    for tick in range(2):
        bl.commit(
            bl.sketch(fps.filter(F.col("doc_id") % 2 == tick).select("fp")),
            f"tick-{tick}",
        )
    verdicts = bl.probe(fps.select("fp").distinct()).collect()
    assert verdicts and all(r.bloom_hit for r in verdicts)


def test_bloom_prefiltered_deduper_is_bit_identical_to_plain(spark, tmp_path):
    """A deduper with the Bloom prefilter must accept EXACTLY the docs
    the plain exact-ledger deduper accepts, tick by tick — the prefilter
    changes the plan (misses skip the anti-join), never the answer —
    including duplicates arriving in a later tick AND a crash-retried
    tick recomputing the same accepted set."""
    from pyspark.sql import functions as F

    from opentelemetry_collector_spark.operators.incremental_dedup import (
        IncrementalDeduper,
    )
    from tests.conftest import SF_CORRECT

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    plain = IncrementalDeduper(spark, str(tmp_path / "fp_plain"))
    bloomy = IncrementalDeduper(
        spark,
        str(tmp_path / "fp_bloom"),
        bloom_ledger_path=str(tmp_path / "bloom"),
    )

    # tick 0: first half; tick 1: second half PLUS a replay of the first
    # half under shifted doc_ids (cross-tick exact duplicates)
    t0 = docs.filter(F.col("doc_id") % 2 == 0)
    replay = t0.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    t1 = docs.filter(F.col("doc_id") % 2 == 1).unionByName(replay)

    for tick_id, batch in [("tick-0", t0), ("tick-1", t1)]:
        a = plain.dedup(batch, tick_id)
        b = bloomy.dedup(batch, tick_id)
        got_a = {r.doc_id for r in a.select("doc_id").collect()}
        got_b = {r.doc_id for r in b.select("doc_id").collect()}
        assert got_a == got_b, tick_id
        plain.commit(a, tick_id)
        bloomy.commit(b, tick_id)

    # every replayed duplicate was rejected by both
    assert not {
        r.doc_id
        for r in bloomy.dedup(replay, "tick-2").select("doc_id").collect()
    }
    # crash retry: recomputing tick-1 against the committed ledgers is
    # a no-op-identical set (pure dedup + idempotent commits)
    again = {
        r.doc_id for r in bloomy.dedup(t1, "tick-1").select("doc_id").collect()
    }
    assert not (again & {r.doc_id for r in replay.select("doc_id").collect()})


def test_bloom_ledger_is_superset_of_fp_ledger_after_commit(spark, tmp_path):
    """The commit-ordering invariant: after any commit, every fingerprint
    in the exact ledger must HIT the Bloom filter (bloom bits ⊇ fp
    ledger) — the property that makes a miss safe to treat as
    definitely-new across crash windows."""
    from pyspark.sql import functions as F

    from opentelemetry_collector_spark.operators.incremental_dedup import (
        IncrementalDeduper,
    )
    from tests.conftest import SF_CORRECT

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    d = IncrementalDeduper(
        spark,
        str(tmp_path / "fp"),
        bloom_ledger_path=str(tmp_path / "bloom"),
    )
    for tick in range(2):
        batch = docs.filter(F.col("doc_id") % 2 == tick)
        d.commit(d.dedup(batch, f"tick-{tick}"), f"tick-{tick}")
    committed = d.ledger.read().select("fp").distinct()
    verdicts = d._bloom.probe(committed).collect()
    assert verdicts and all(r.bloom_hit for r in verdicts)


# --- cross-tick NEAR-dup (MinHash signature ledger) ---------------------------

_BASE = " ".join(f"w{i:02d} common corpus token" for i in range(10))
_NEAR = _BASE.replace("w03", "x03")  # one word changed: shingle J ≈ 0.81
_NOVEL = " ".join(f"z{i:02d} different text entirely" for i in range(10))
_FRESH = "totally fresh words appear here in this new document today ok"


@pytest.fixture()
def mh_deduper(spark, tmp_path):
    from opentelemetry_collector_spark.operators.incremental_dedup import (
        IncrementalMinHashDeduper,
    )

    return IncrementalMinHashDeduper(spark, str(tmp_path / "sig_ledger"))


def test_minhash_in_batch_near_dups_collapse_to_canonical(spark, mh_deduper):
    out = mh_deduper.dedup(
        _docs(spark, [(1, _BASE), (2, _NEAR), (4, _NOVEL)]), "t1"
    )
    assert {r.doc_id for r in out.collect()} == {1, 4}


def test_minhash_cross_tick_near_dup_dropped_novel_kept(spark, mh_deduper):
    a1 = mh_deduper.dedup(_docs(spark, [(1, _BASE), (4, _NOVEL)]), "t1")
    mh_deduper.commit(a1, "t1")
    # tick 2: a near-dup of the ACCEPTED base (different doc_id, one word
    # changed) must be caught by the signature ledger; a novel doc passes
    a2 = mh_deduper.dedup(_docs(spark, [(10, _NEAR), (11, _FRESH)]), "t2")
    assert {r.doc_id for r in a2.collect()} == {11}
    mh_deduper.commit(a2, "t2")
    assert mh_deduper.metrics() == {"accepted_docs": 3, "ticks": 2}


def test_minhash_crash_retry_and_double_commit_idempotent(spark, mh_deduper):
    a1 = mh_deduper.dedup(_docs(spark, [(1, _BASE)]), "t1")
    mh_deduper.commit(a1, "t1")
    t2 = _docs(spark, [(10, _NEAR), (11, _FRESH)])
    # crash after dedup, before commit: recompute is identical
    first = {r.doc_id for r in mh_deduper.dedup(t2, "t2").collect()}
    retry = {r.doc_id for r in mh_deduper.dedup(t2, "t2").collect()}
    assert first == retry == {11}
    a2 = mh_deduper.dedup(t2, "t2")
    mh_deduper.commit(a2, "t2")
    mh_deduper.commit(a2, "t2")  # retried tick: partition overwritten
    led = mh_deduper.ledger.read().collect()
    assert sorted(r.doc_id for r in led) == [1, 11]
    # the ledger holds the compact sketch, never shingles/text
    from opentelemetry_collector_spark.operators.dedup import MINHASH_K

    assert all(len(r.sig) == MINHASH_K for r in led)


def test_minhash_ledger_holds_only_accepted_docs(spark, mh_deduper):
    # the in-batch-dropped near-dup never enters the ledger: dedup is
    # against the RETAINED corpus (first-accepted-wins), so dropped docs
    # cannot justify dropping future arrivals
    a1 = mh_deduper.dedup(_docs(spark, [(1, _BASE), (2, _NEAR)]), "t1")
    mh_deduper.commit(a1, "t1")
    assert sorted(r.doc_id for r in mh_deduper.ledger.read().collect()) == [1]


def test_minhash_ticks_match_batch_policy_without_chains(spark, mh_deduper):
    """Ordered ticks ≡ the batch dedup_minhash config processor when no
    duplicate component straddles a dropped doc (the policy-equivalence
    regime): both keep exactly the cluster canonicals."""
    from opentelemetry_collector_spark.plans.service import (
        _builtin_processors,
    )

    all_docs = [(1, _BASE), (4, _NOVEL), (10, _NEAR), (11, _FRESH)]
    a1 = mh_deduper.dedup(_docs(spark, all_docs[:2]), "t1")
    mh_deduper.commit(a1, "t1")
    a2 = mh_deduper.dedup(_docs(spark, all_docs[2:]), "t2")
    incremental = {r.doc_id for r in a1.collect()} | {
        r.doc_id for r in a2.collect()
    }
    batch = _builtin_processors()["dedup_minhash"](
        spark, _docs(spark, all_docs), {}
    )
    assert incremental == {r.doc_id for r in batch.collect()} == {1, 4, 11}


def test_minhash_dedup_plan_has_no_cartesian(spark, mh_deduper):
    mh_deduper.commit(
        mh_deduper.dedup(_docs(spark, [(1, _BASE)]), "t1"), "t1"
    )
    df = mh_deduper.dedup(_docs(spark, [(10, _NEAR), (11, _FRESH)]), "t2")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


_FRESH_NEAR = _FRESH.replace("totally", "entirely")
_OTHER = " ".join(f"q{i:02d} other corpus body" for i in range(10))


def test_minhash_dedup_over_incremental_ticks_with_crash(spark, tmp_path):
    """The near-dup ledger under the REAL tick machinery: three
    IncrementalSource ticks, a crash between the sink write and the
    ledger commit on tick 2, retry over the SAME pending snapshot —
    exactly-once accepted set, near-dups caught in-tick AND cross-tick,
    one ledger partition per tick."""
    from opentelemetry_collector_spark.operators.incremental_dedup import (
        IncrementalMinHashDeduper,
    )
    from opentelemetry_collector_spark.sources.incremental import (
        IncrementalSource,
    )

    data = str(tmp_path / "incoming")
    out = str(tmp_path / "accepted")
    src = IncrementalSource(spark, data, str(tmp_path / "file_ledger"))
    d = IncrementalMinHashDeduper(spark, str(tmp_path / "sig_ledger"))
    ticks = [
        [(1, _BASE), (2, _NOVEL), (3, _NEAR)],  # 3 dups 1 in-tick
        [(10, _NEAR), (11, _FRESH)],  # 10 dups accepted 1 cross-tick
        [(20, _FRESH_NEAR), (21, _OTHER)],  # 20 dups accepted 11
    ]
    crash = {"armed": True}
    for k, rows in enumerate(ticks):
        _docs(spark, rows).coalesce(1).write.mode("overwrite").parquet(
            f"{data}/part{k}"
        )
        pending = src.pending()
        assert pending is not None

        def action(df, _tick=pending.tick_id, _k=k):
            accepted = d.dedup(df, _tick)
            # idempotent sink: tick-keyed overwrite (retry re-writes the
            # same path with the same recomputed rows)
            accepted.write.mode("overwrite").parquet(f"{out}/{_tick}")
            if _k == 1 and crash["armed"]:
                crash["armed"] = False
                raise RuntimeError("crash before ledger commit")
            d.commit(accepted, _tick)

        if k == 1:
            with pytest.raises(RuntimeError):
                src.process_new(action, pending=pending)
            retry = src.pending()  # file ledger uncommitted: same tick
            assert retry is not None and retry.tick_id == pending.tick_id
            src.process_new(action, pending=retry)
        else:
            src.process_new(action, pending=pending)

    import pathlib

    accepted_ids = set()
    for tick_dir in pathlib.Path(out).iterdir():
        accepted_ids |= {
            r.doc_id
            for r in spark.read.parquet(str(tick_dir)).collect()
        }
    assert accepted_ids == {1, 2, 11, 21}
    led = d.ledger.read().collect()
    assert sorted(r.doc_id for r in led) == [1, 2, 11, 21]
    assert len({r.tick_id for r in led}) == 3
    assert src.pending() is None  # everything committed at the file layer


@pytest.mark.parametrize("owner", ["exact", "minhash"])
def test_retry_after_commit_accepts_the_same_docs(spark, tmp_path, owner):
    """A crash after ``commit`` (before the tick is recorded upstream)
    retries the tick over a ledger that already holds it. The retry must
    accept the same docs again — not match the tick's own ledger rows and
    erase the tick with its re-commit."""
    from opentelemetry_collector_spark.operators.incremental_dedup import (
        IncrementalMinHashDeduper,
    )

    path = str(tmp_path / "ledger")
    if owner == "exact":
        d, docs = IncrementalDeduper(spark, path), _docs(spark, [(1, "aa"), (2, "bb")])
    else:
        d = IncrementalMinHashDeduper(spark, path)
        docs = _docs(spark, [(1, _BASE), (2, _NOVEL)])

    def accepted_ids():
        return sorted(r.doc_id for r in d.dedup(docs, "t1").collect())

    first = accepted_ids()
    assert first
    d.commit(d.dedup(docs, "t1"), "t1")
    assert accepted_ids() == first
    d.commit(d.dedup(docs, "t1"), "t1")  # the retry's own re-commit
    assert sorted(r.doc_id for r in d.ledger.read().collect()) == first


def test_compacted_tick_ledgers_read_like_uncompacted(spark, tmp_path):
    """Compaction keeps one partition per tick, so a tick committed after
    it adds to the compacted ticks instead of hiding them: the HLL
    estimate and the fp ledger gauges equal an uncompacted copy's."""
    from pyspark.sql import functions as F

    from opentelemetry_collector_spark.operators.sketch import (
        IncrementalSketcher,
    )

    keys = spark.range(400).select(F.col("id").alias("event_id"))
    docs = spark.range(400).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), (F.col("id") % 300).cast("string")).alias("text"),
    )
    sketchers = [IncrementalSketcher(spark, str(tmp_path / n)) for n in ("h", "hc")]
    dedupers = [IncrementalDeduper(spark, str(tmp_path / n)) for n in ("f", "fc")]
    for t in range(4):
        tick = f"tick-{t}"
        for sk in sketchers:
            sk.commit(sk.sketch(keys.filter(F.col("event_id") % 4 == t)), tick)
        batch = docs.filter(F.col("doc_id") % 4 == t)
        for d in dedupers:
            d.commit(d.dedup(batch, tick), tick)
        if t == 2:
            for owner in (sketchers[1], dedupers[1]):
                assert owner.ledger.compact()["files_after"] == 3  # one a tick
    plain, compacted = (sk.estimate().collect() for sk in sketchers)
    assert compacted == plain
    assert dedupers[1].metrics() == dedupers[0].metrics() == {
        "accepted_docs": 300,
        "ticks": 4,
    }
