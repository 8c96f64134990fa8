"""Service builder — config -> running pipeline (the service/graph analog,
SURVEY §2.4/§3.2; service/internal/graph/graph.go:66-249, otelcol/collector.go).

The reference builds components from config by factory name and wires
receivers -> processors -> exporters per pipeline. Here the "graph" is
DataFrame composition: each named component resolves to a function, and a
pipeline is a fold of processors over the receiver's DataFrame, fanned out
to every exporter (fanoutconsumer semantics — the DataFrame is shared; each
exporter is one write action over the same plan, and reports the rows it
sent, counted on that write).

Component registry (extensible by passing extra factories):
  receivers:  transcripts (events-derived), transcripts_table (parquet dir),
              otlp_jsonl (JSON-lines wire)
  processors: parse, enrich, route, skew_salt (histogram-driven hot-conv_id
              salting)
  exporters:  sinks (partitioned fan-out write), checkpointed_sinks
              (resumable bucket waves with a commit ledger), sink_counts
              (metrics table), otlp_jsonl (JSON-lines export), dead_letter
"""

from __future__ import annotations

import time
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from opentelemetry_collector_spark.plans.config import ServiceConfig


def _builtin_receivers() -> dict[str, Callable]:
    from opentelemetry_collector_spark.sources.jsonl import read_otlp_jsonl
    from opentelemetry_collector_spark.sources.transcripts import (
        events_to_transcripts,
        read_transcripts,
    )

    return {
        "transcripts": lambda spark, cfg: events_to_transcripts(
            spark, cfg["path"]
        ),
        "transcripts_table": lambda spark, cfg: read_transcripts(
            spark, cfg["path"]
        ),
        "otlp_jsonl": lambda spark, cfg: read_otlp_jsonl(spark, cfg["path"]),
        # corpus-curation source: a documents table (doc_id, text, ...)
        "documents": lambda spark, cfg: spark.read.parquet(cfg["path"]),
    }


def _builtin_processors() -> dict[str, Callable]:
    from opentelemetry_collector_spark.operators.enrich import enrich
    from opentelemetry_collector_spark.operators.parse import parse_turns
    from opentelemetry_collector_spark.operators.route import route
    from opentelemetry_collector_spark.operators.transform import (
        transform_processor_factory,
    )

    from opentelemetry_collector_spark.operators.traces import (
        LATENCY_THRESHOLD_MS,
        probabilistic_sampler,
        tail_sampling,
    )

    def sampler_factory(spark, df, cfg):
        # head sampling keeps every input column in processor position —
        # downstream stages still need the full record; keep rate is
        # configurable like the reference's sampling_percentage
        from opentelemetry_collector_spark.operators.traces import (
            SAMPLER_PERMYRIAD,
        )

        return probabilistic_sampler(
            df, project=False,
            permyriad=cfg.get("permyriad", SAMPLER_PERMYRIAD),
        )

    def tail_factory(spark, df, cfg):
        return tail_sampling(
            df,
            latency_threshold_ms=cfg.get(
                "latency_threshold_ms", LATENCY_THRESHOLD_MS
            ),
            project=False,
            composite=cfg.get("policies") == "composite",
        )

    # --- corpus-curation processors (documents stream) ----------------
    # Each filters the flowing documents frame via an anti-join against a
    # marker set computed over that SAME frame (processor position keeps
    # every input column). Policies are the standard curation ones; the
    # underlying operators are the oracle-gated ones in operators/dedup.py
    # and operators/textstats.py (docs= processor-position entry).

    from opentelemetry_collector_spark.operators import dedup as _dd
    from opentelemetry_collector_spark.operators import textstats as _tx

    def dedup_exact_p(spark, df, cfg):
        dups = _dd.dedup_exact(spark, "", docs=df).filter("is_dup")
        return df.join(dups.select("doc_id"), "doc_id", "left_anti")

    def dedup_minhash_p(spark, df, cfg):
        # keep-first policy via connected components over the verified
        # MinHash pair set: only the cluster canonical (min doc_id per
        # component) survives. Dropping doc_b of every pair would
        # over-delete on chains a~b, b~c (no a~c): c's only near-dup b is
        # itself removed, so keep-first would re-keep c (ADVICE r03).
        clusters = _dd.dedup_clusters(
            spark, "", max_iter=cfg.get("max_iter", 20), docs=df
        )
        drop = clusters.filter(
            F.col("doc_id") != F.col("cluster_id")
        ).select("doc_id")
        return df.join(drop, "doc_id", "left_anti")

    def dedup_substring_p(spark, df, cfg):
        # drop docs whose duplicated-substring spans cover more than
        # max_dup_word_frac of their words (Lee et al. windowed dedup as a
        # doc-level filter; span excision is the text-rewrite variant)
        spans = _dd.dedup_substring_spans(spark, "", docs=df)
        dup_words = spans.groupBy("doc_id").agg(
            F.sum("n_words").alias("dup_words")
        )
        frac = F.col("dup_words") / (
            F.size(F.split(F.col("text"), " "))
        )
        over = (
            df.select("doc_id", "text")
            .join(dup_words, "doc_id")
            .filter(frac > float(cfg.get("max_dup_word_frac", 0.5)))
            .select("doc_id")
        )
        return df.join(over, "doc_id", "left_anti")

    def quality_filter_p(spark, df, cfg):
        out = df
        if cfg.get("drop_repetitive", True):
            bad = _tx.doc_repetition(spark, "", docs=df).filter("repetitive")
            out = out.join(bad.select("doc_id"), "doc_id", "left_anti")
        min_ll = cfg.get("min_avg_logp_milli")
        if min_ll is not None:
            model = None
            if cfg.get("model_dir"):  # precomputed LM side-tables
                model = (
                    spark.read.parquet(f"{cfg['model_dir']}/vocab"),
                    spark.read.parquet(f"{cfg['model_dir']}/tot"),
                )
            ll = _tx.doc_unigram_ll(spark, "", model=model, docs=df)
            bad = ll.filter(
                F.col("avg_logp_milli") < float(min_ll)
            ).select("doc_id")
            out = out.join(bad, "doc_id", "left_anti")
        return out

    from opentelemetry_collector_spark.operators import quality as _q

    def gopher_filter_p(spark, df, cfg):
        # pure Catalyst filter on the flowing frame — no rule-frame join
        return _q.doc_gopher_rules(spark, "", docs=df, project=False)

    def normalize_p(spark, df, cfg):
        # rewrites text/n_chars in place, appends norm_hash for dedup keying
        return _q.doc_normalize(spark, "", docs=df, project=False)

    def mix_p(spark, df, cfg):
        # broadcast per-source rate table, salted-hash keep — no wide shuffle
        return _q.corpus_mix(spark, "", docs=df, project=False)

    def leakage_split_p(spark, df, cfg):
        # annotate the flowing documents frame with the leakage-safe split
        # (near-dup components never straddle train/test); with `keep:`,
        # filter to that split — the step that builds a clean training cut
        s = _q.doc_split_leakage_safe(spark, "", docs=df)
        out = df.join(s.select("doc_id", "split"), "doc_id")
        keep = cfg.get("keep")
        if keep:
            out = out.filter(F.col("split") == str(keep)).drop("split")
        return out

    def dedup_paragraphs_p(spark, df, cfg):
        # CCNet-style duplicate-paragraph excision: rewrite text to the
        # surviving tiles (position order preserved) and drop documents
        # whose every tile was a duplicate. First-wins resolves via the
        # keeper aggregate + equality join (skew-safe, see dedup.py).
        kept = _dd.dedup_paragraphs(
            spark, "", tile=int(cfg.get("tile", _dd.PARA_TILE)), docs=df
        )
        return (
            df.join(
                kept.filter(F.col("n_kept") > 0).select(
                    "doc_id", "text_kept"
                ),
                "doc_id",
            )
            .withColumn("text", F.col("text_kept"))
            .drop("text_kept")
            .withColumn("n_chars", F.length("text").cast("long"))
        )

    def entropy_filter_p(spark, df, cfg):
        # drop low-entropy (repetitive/boilerplate) documents; threshold in
        # integer milli-nats so the decision is engine-exact
        flagged = (
            _q.doc_entropy(spark, "", docs=df)
            .filter("low_entropy")
            .select("doc_id")
        )
        return df.join(flagged, "doc_id", "left_anti")

    def ppl_filter_p(spark, df, cfg):
        # CCNet §3.3: tag head/middle/tail by unigram-LM perplexity
        # terciles and keep the configured buckets (default head+middle —
        # the CCNet training cut). Threshold pass runs on the bounded
        # integer-score histogram; the tag join is doc_id-keyed.
        keep = set(cfg.get("keep", ["head", "middle"]))
        tagged = _q.corpus_ppl_buckets(spark, "", docs=df)
        kept = tagged.filter(
            F.col("ppl_bucket").isin(*sorted(keep))
        ).select("doc_id")
        return df.join(kept, "doc_id", "left_semi")

    def priority_sample_p(spark, df, cfg):
        # deterministic weighted top-k (Duffield-Lund-Thorup priority
        # sampling): keep the k docs with the largest w/u priority under
        # the md5-derived hash. TakeOrderedAndProject ships k rows to the
        # driver side of the plan — no global sort, rerun-stable.
        from opentelemetry_collector_spark.operators import (
            sampling as _ps,
        )

        kept = _ps.corpus_priority_sample(
            spark,
            "",
            docs=df,
            k=int(cfg.get("k", _ps.PSAMPLE_K)),
            weight_col=cfg.get("weight_col", "n_chars"),
        ).select("doc_id")
        return df.join(kept, "doc_id", "left_semi")

    def shuffle_order_p(spark, df, cfg):
        # epoch-0 training order: annotate the flowing frame with the
        # deterministic md5-permutation rank (two-phase bucketed rank —
        # no range partitioning). The downstream writer sorts or
        # bucket-partitions by order_idx; the column is the contract.
        from opentelemetry_collector_spark.operators import (
            sampling as _ps,
        )

        order = _ps.corpus_shuffle(spark, "", docs=df)
        return df.join(order, "doc_id")

    def interleave_p(spark, df, cfg):
        # temperature-weighted source interleave key (alpha = 0.5):
        # annotate (src_rank, interleave_key); sorting by the key yields
        # the sqrt-flattened training mix. Same two-phase rank, keyed by
        # (source, bucket).
        from opentelemetry_collector_spark.operators import (
            sampling as _ps,
        )

        keyed = _ps.corpus_interleave(spark, "", docs=df).drop("source")
        return df.join(keyed, "doc_id")

    def dsir_filter_p(spark, df, cfg):
        # DSIR importance selection: keep docs whose per-token weight beats
        # the corpus average. The score pass aggregates on doc_id anyway, so
        # the semi-join back is the one inherent extra shuffle.
        kept = (
            _q.dsir_weights(
                spark,
                "",
                docs=df,
                target_lang=cfg.get("target_lang", _q.DSIR_TARGET_LANG),
            )
            .filter("keep")
            .select("doc_id")
        )
        return df.join(kept, "doc_id", "left_semi")

    from opentelemetry_collector_spark.operators import cleaning as _cl

    def pii_scrub_p(spark, df, cfg):
        # typed PII masking in place (text + n_chars rewritten,
        # pii_total appended) — single projection, no shuffle
        return _cl.doc_pii_scrub(spark, "", docs=df, project=False)

    def quality_checks_p(spark, df, cfg):
        # Deequ-style admission control: ONE aggregate pass evaluates the
        # declarative per-column rules; any failure raises (refuse,
        # don't corrupt) BEFORE downstream stages see the batch. Eager by
        # design — the gate is an action, like config validation.
        from opentelemetry_collector_spark.operators.checks import (
            quality_gate,
        )

        return quality_gate(spark, df, dict(cfg.get("rules", {})))

    def c4_filter_p(spark, df, cfg):
        # C4 line/page cleaning: drop failing pages, rewrite text to the
        # surviving lines — single projection + filter, no shuffle
        return _cl.doc_c4_filters(
            spark,
            "",
            docs=df,
            bad_words=tuple(cfg.get("bad_words", ())),
            project=False,
        )

    def classifier_filter_p(spark, df, cfg):
        # FineWeb-style supervised quality classifier: train NB log-odds
        # on the rows whose `label_col` is non-null, score EVERY doc,
        # keep positive-posterior docs (token-less docs carry no
        # evidence and are kept — the filter only drops on evidence)
        from opentelemetry_collector_spark.operators.quality import (
            doc_classifier_score,
        )

        label_col = cfg.get("label_col", "label")
        # with no labeled row the model is all prior and keeps every doc,
        # so a wrong label_col would pass for a working filter
        if df.filter(F.col(label_col).isNotNull()).isEmpty():
            raise ValueError(
                f"classifier_filter: label_col {label_col!r} is NULL on "
                "every row; there is nothing to train on"
            )
        scored = doc_classifier_score(
            spark,
            "",
            docs=df,
            labeled=df,
            label_col=label_col,
        )
        drop = scored.filter(~F.col("keep")).select("doc_id")
        return df.join(drop, "doc_id", "left_anti")

    def sft_mask_p(spark, df, cfg):
        # SFT training-prep: per-turn token spans + assistant loss mask
        # over the flowing transcripts frame — one conv-keyed window
        # (elided on the bucketed layout)
        from opentelemetry_collector_spark.operators.training import (
            sft_loss_mask,
        )

        return sft_loss_mask(spark, "", transcripts=df)

    def conversation_pack_p(spark, df, cfg):
        # whole-conversation sequence packing (terminal, conv-granular
        # output): rollup + pack-bucket cumsum, corpus_pack's shape
        from opentelemetry_collector_spark.operators.training import (
            CONV_PACK_BUDGET_TOKENS,
            conversation_pack,
        )

        return conversation_pack(
            spark,
            "",
            transcripts=df,
            budget=int(cfg.get("budget", CONV_PACK_BUDGET_TOKENS)),
        )

    def skew_salt_p(spark, df, cfg):
        # two-pass salting (operators/skew.py): the key histogram finds the
        # hot conversations and each gets the split factor its volume
        # needs; cold keys keep one partition cell
        from opentelemetry_collector_spark.operators.skew import (
            SALT_COL,
            skew_aware_repartition,
        )

        return skew_aware_repartition(
            df, "conv_id", "turn_idx", spark.sparkContext.defaultParallelism
        ).drop(SALT_COL)

    return {
        "parse": lambda spark, df, cfg: parse_turns(df),
        "enrich": lambda spark, df, cfg: enrich(df, spark),
        "route": lambda spark, df, cfg: route(df),
        "skew_salt": skew_salt_p,
        # telemetry-mutation / filter statements (docs/processing.md:33-60)
        "transform": transform_processor_factory,
        # sampling processors (trace-consistent hash head sampling; window
        # tail sampling with error>latency[>probabilistic] policies)
        "sampler": sampler_factory,
        "tail_sampling": tail_factory,
        # corpus-curation processors (documents stream)
        "dedup_exact": dedup_exact_p,
        "dedup_minhash": dedup_minhash_p,
        "dedup_substring": dedup_substring_p,
        "quality_filter": quality_filter_p,
        "gopher_filter": gopher_filter_p,
        "normalize": normalize_p,
        "mix": mix_p,
        "dsir_filter": dsir_filter_p,
        "leakage_split": leakage_split_p,
        "dedup_paragraphs": dedup_paragraphs_p,
        "entropy_filter": entropy_filter_p,
        "priority_sample": priority_sample_p,
        "ppl_filter": ppl_filter_p,
        "shuffle_order": shuffle_order_p,
        "interleave": interleave_p,
        "pii_scrub": pii_scrub_p,
        "c4_filter": c4_filter_p,
        "quality_checks": quality_checks_p,
        "classifier_filter": classifier_filter_p,
        # transcript-native training-prep (operators/training.py)
        "sft_mask": sft_mask_p,
        "conversation_pack": conversation_pack_p,
    }


def count_on_write(df: DataFrame, write: Callable[[DataFrame], object]) -> int:
    """Run ``write`` on ``df`` and return how many rows of ``df`` it
    consumed, counted by one ``Observation`` on the frame handed to it: the
    write is the count, as obsreport counts records as they cross the
    exporter boundary (obsreport_exporter.go:141-161), with no second pass.

    ``write`` must run one Dataset action on that frame (a DataFrameWriter
    save or a collect): ``Observation.get`` waits for it, and an RDD action
    never completes it. An observation also stops filters above it from
    being pushed below it, so observe only the frame the write consumes."""
    obs = Observation()
    write(df.observe(obs, F.count(F.lit(1)).alias("n")))
    return obs.get["n"]


def _builtin_exporters() -> dict[str, Callable]:
    """Exporter factories. Each runs one write and returns its counts,
    ``{"sent": n}``: the pipeline rows that fed the write (all of them, or
    the ok / dead-letter split the exporter selects), counted on that
    write by ``count_on_write``."""
    from opentelemetry_collector_spark.operators.aggregate import (
        log_dedup,
        sink_counts,
    )
    from opentelemetry_collector_spark.operators.route import (
        dead_letter,
        routed_ok,
        write_sinks,
    )
    from opentelemetry_collector_spark.sources.jsonl import write_otlp_jsonl

    def export_sinks(spark, df, cfg):
        def write(d):
            write_sinks(d, cfg["path"],
                        cfg.get("max_records_per_file", 8192),
                        compression=cfg.get("compression"))

        return {"sent": count_on_write(df, write)}

    def export_checkpointed(spark, df, cfg):
        # keys are CheckpointConfig's fields plus run_id; an unknown key
        # fails in the dataclass constructor. The runner counts each wave
        # on its own write; an observation on ``df`` would sit above the
        # wave filter and make every wave parse every bucket.
        from opentelemetry_collector_spark.plans.checkpoint import (
            CheckpointConfig,
            CheckpointedRunner,
        )

        ckpt = dict(cfg)
        run_id = ckpt.pop("run_id", None)
        totals = CheckpointedRunner(spark, CheckpointConfig(**ckpt)).run(
            df, run_id=run_id
        )
        return {**totals,
                "sent": totals["n_routed_ok"] + totals["n_dead_letter"]}

    def export_counts(spark, df, cfg):
        def write(ok):
            counts = sink_counts(ok, cfg.get("bucket_seconds", 300))
            counts.coalesce(1).write.mode("overwrite").parquet(cfg["path"])

        return {"sent": count_on_write(routed_ok(df), write)}

    def export_jsonl(spark, df, cfg):
        # write_otlp_jsonl counts its own lines: its pyarrow zstd branch
        # writes through an RDD action, which no Observation sees
        return {"sent": write_otlp_jsonl(df, cfg["path"],
                                         cfg.get("compression"))}

    def export_dead_letter(spark, df, cfg):
        return {"sent": count_on_write(
            dead_letter(df),
            lambda d: d.write.mode("overwrite").parquet(cfg["path"]))}

    def export_log_dedup(spark, df, cfg):
        def write(d):
            groups = log_dedup(d, cfg.get("bucket_seconds", 300))
            groups.write.mode("overwrite").parquet(cfg["path"])

        return {"sent": count_on_write(df, write)}

    def export_parquet(spark, df, cfg):
        def write(d):
            writer = d.write.mode("overwrite")
            if cfg.get("partition_by"):
                writer = writer.partitionBy(*cfg["partition_by"])
            writer.parquet(cfg["path"])

        return {"sent": count_on_write(df, write)}

    return {
        "sinks": export_sinks,
        "checkpointed_sinks": export_checkpointed,
        "sink_counts": export_counts,
        "otlp_jsonl": export_jsonl,
        "dead_letter": export_dead_letter,
        # template-identity dedup counts (log-deduplication pattern)
        "log_dedup": export_log_dedup,
        # generic table writer (curated-corpus sink)
        "parquet": export_parquet,
    }


class PipelineRun(NamedTuple):
    """One pipeline's result: its final (pre-export) frame, and its report
    ``{exporter: counts, "wall_s": seconds}``."""

    frame: DataFrame
    report: dict


def run_service(
    spark: SparkSession,
    config: ServiceConfig,
    extra_receivers: dict[str, Callable] | None = None,
    extra_processors: dict[str, Callable] | None = None,
    extra_exporters: dict[str, Callable] | None = None,
) -> dict[str, PipelineRun]:
    """Build and execute every configured pipeline. Component TYPE is the
    config key before any '/' (collector 'type/name' instance convention,
    e.g. 'otlp_jsonl/backup'). Returns a ``PipelineRun`` per pipeline: the
    final frame (pre-export) for inspection, and a report holding what each
    exporter returned (the built-ins return ``{"sent": n}``, counted on
    their own write) and the pipeline's wall time. Nothing is counted in a
    pass of its own.

    Fan-out parity (fanoutconsumer/logs.go:35-85): all of a pipeline's
    exporters consume the SAME DataFrame — immutability replaces the
    clone-if-mutating dance; Catalyst may recompute the plan per action,
    which callers avoid at scale by .persist() between exporters (handled
    here when a pipeline has >1 exporter, and released after them).
    """
    receivers = {**_builtin_receivers(), **(extra_receivers or {})}
    processors = {**_builtin_processors(), **(extra_processors or {})}
    exporters = {**_builtin_exporters(), **(extra_exporters or {})}

    def ctype(name: str) -> str:
        return name.split("/", 1)[0]

    results: dict[str, PipelineRun] = {}
    for pname, p in config.pipelines.items():
        t0 = time.perf_counter()
        # receivers: union of all configured sources (shared-component dedup
        # happens naturally — one DataFrame per receiver instance)
        dfs = []
        for rname in p["receivers"]:
            factory = receivers.get(ctype(rname))
            if factory is None:
                raise ValueError(f"no factory for receiver type {ctype(rname)!r}")
            dfs.append(factory(spark, config.receivers[rname]))
        df = dfs[0]
        for other in dfs[1:]:
            df = df.unionByName(other, allowMissingColumns=True)

        for prname in p.get("processors", []):
            factory = processors.get(ctype(prname))
            if factory is None:
                raise ValueError(f"no factory for processor type {ctype(prname)!r}")
            df = factory(spark, df, config.processors[prname])

        exps = p["exporters"]
        persisted = len(exps) > 1
        if persisted:
            df = df.persist()
        report = {}
        try:
            for ename in exps:
                factory = exporters.get(ctype(ename))
                if factory is None:
                    raise ValueError(
                        f"no factory for exporter type {ctype(ename)!r}"
                    )
                report[ename] = factory(spark, df, config.exporters[ename])
        finally:
            if persisted:
                df.unpersist()
        report["wall_s"] = round(time.perf_counter() - t0, 2)
        results[pname] = PipelineRun(df, report)
    return results
