"""The three benchmark workloads. BENCHMARK.json lists ingest_ticks and
dedup_near; pipeline_bulk runs by name (``--workload pipeline_bulk``).

Each drives the engine from outside, through the public functions of
``sources``, ``operators.parse``, ``operators.enrich``, ``operators.route``,
``operators.aggregate``, ``plans.checkpoint`` and ``operators.dedup``, and
not through ``plans.pipeline.Pipeline``.

A workload provides: ``generate`` (seeded inputs, written before timing),
``warm`` (the operation on a small input, part of set-up), ``timed`` (the
measured phase), ``check`` (outputs against the DuckDB oracle) and
``traced`` (the per-layer run).
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

import gen
import oracle
import spans
from opentelemetry_collector_spark.operators.aggregate import sink_counts
from opentelemetry_collector_spark.operators.dedup import (
    bands_from_signatures,
    dedup_minhash_pairs,
    minhash_signatures,
)
from opentelemetry_collector_spark.operators.enrich import enrich
from opentelemetry_collector_spark.operators.parse import parse_turns
from opentelemetry_collector_spark.operators.route import route, routed_ok
from opentelemetry_collector_spark.plans.checkpoint import (
    CheckpointConfig,
    CheckpointedRunner,
)
from opentelemetry_collector_spark.sources.incremental import IncrementalSource
from opentelemetry_collector_spark.sources.transcripts import read_transcripts

MIN_OPS = 3  # a closed-loop run measures at least this many operations
PREFIX_PASSES = 2  # a prefix time is the median over this many passes


def _nospan(name, op=None):
    return nullcontext()


@dataclass
class Op:
    """One operation: a job, a tick or a dedup run."""

    start: float
    end: float
    rows: int
    output: object = None
    error: str | None = None
    latencies: list[float] = field(default_factory=list)
    traced: bool = False

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Timed:
    ops: list[Op]
    wall_s: float
    rows: int
    extra: dict = field(default_factory=dict)


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _counted(df: DataFrame, name: str, **cols) -> tuple[DataFrame, Observation]:
    obs = Observation(name)
    exprs = [F.count(F.lit(1)).alias("rows")] + [c.alias(k) for k, c in cols.items()]
    return df.observe(obs, *exprs), obs


def _route_counts():
    return {
        "n_ok": F.count(F.when(F.col("error_reason").isNull(), 1)),
        "n_dl": F.count(F.when(F.col("error_reason").isNotNull(), 1)),
    }


def _dir_mb(paths: list[str]) -> float:
    return sum(os.path.getsize(p) for p in paths) / 1e6


def _parquet_files(d: Path) -> list[str]:
    return sorted(str(p) for p in d.rglob("*.parquet"))


def alternate(spark: SparkSession, tracer, k: int, flip: bool = False):
    """The tracer for operation ``k`` of a traced run, or None: operations
    alternate untraced and traced (odd ``k`` traced, even ``k`` with
    ``flip``) in one context, so their wall times compare without drift.
    An untraced operation has no spans and no job group."""
    if tracer is None or (k % 2 == 0) != flip:
        if tracer is not None:
            set_group(spark, None)
        return None
    set_group(spark, f"op:{k}")
    return tracer


def closed_loop(
    run_op, seconds: float, spark=None, tracer=None, min_ops: int = MIN_OPS,
    first: int = 0, flip: bool = False,
) -> tuple[list[Op], float]:
    """Issue the next operation as soon as the previous one returns, while
    it can be expected to end within ``seconds`` (and until at least
    ``min_ops`` operations ran); ``first`` numbers the first one. With a
    tracer, every second operation is traced (see ``alternate``): it gets
    an ``op`` span and its own job group."""
    ops: list[Op] = []
    t0 = time.perf_counter()
    while len(ops) < min_ops or time.perf_counter() - t0 + ops[-1].wall <= seconds:
        tag = f"op:{first + len(ops)}"
        op_tracer = alternate(spark, tracer, first + len(ops), flip)
        span = op_tracer.span if op_tracer else _nospan
        start = time.perf_counter()
        try:
            with span("op", tag):
                rows, out = run_op(tag, op_tracer)
            ops.append(Op(start, time.perf_counter(), rows, out, traced=bool(op_tracer)))
        except Exception as e:  # an operation that raises counts as failed
            ops.append(Op(start, time.perf_counter(), 0, error=repr(e)[:500],
                          traced=bool(op_tracer)))
    return ops, time.perf_counter() - t0


def traced_rounds(spark: SparkSession, tracer, seconds: float, run_op, ops: list[Op]):
    """A callback for round ``k`` of a closed-loop workload's traced run:
    an untraced and a traced operation (more while the round's share of
    ``seconds`` lasts), appended to ``ops``. Each round precedes one pass
    of the layer prefixes, so operations and prefixes are timed at the same
    stage of the JVM's warm-up; odd rounds start with the traced operation,
    so the warm-up does not favour either kind. An untimed operation goes
    first: the first full-size operation after the set-up still carries
    JIT warm-up."""

    def run_round(k: int) -> None:
        if k == 0:
            set_group(spark, None)
            run_op("warm", None)
        part, _ = closed_loop(run_op, seconds / PREFIX_PASSES, spark, tracer,
                              min_ops=2, first=len(ops), flip=k % 2 == 1)
        for o in part:
            o.latencies = [o.wall]
        ops.extend(part)

    return run_round


def set_group(spark: SparkSession, group: str | None) -> None:
    """Tag the following jobs with ``group``; None clears the tag."""
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", group)


def transcript_prefixes(spark: SparkSession, read, tracer, before_pass=None) -> dict:
    """Materialize scan, +parse, +enrich with noop writes, each cumulative
    over the previous prefix. Then run the rest as the operation does: the
    routed frame into a noop write (with the operation's route counts), the
    aggregate action over that same frame, and the pruned routed frame the
    aggregate reads (it needs four columns, so its upstream costs less than
    the route prefix). One job group per prefix and pass; each timing
    includes building the plan. ``before_pass(k)`` runs ahead of pass
    ``k``. Row counts are taken afterwards, untimed."""
    times: dict[str, list[float]] = {}

    @contextmanager
    def prefix(name: str, k: int):
        set_group(spark, f"prefix:{name}" if k == 0 else f"prefix{k}:{name}")
        with tracer.span(f"prefix.{name}", "prefix"):
            t0 = time.perf_counter()
            yield
            times.setdefault(name, []).append(time.perf_counter() - t0)

    for k in range(PREFIX_PASSES):
        if before_pass:
            before_pass(k)
        with prefix("sources", k):
            noop(read())
        with prefix("parse", k):
            noop(parse_turns(read()))
        with prefix("enrich", k):
            noop(enrich(parse_turns(read()), spark))
        with prefix("route", k):
            routed = route(enrich(parse_turns(read()), spark))
            counted, obs = _counted(routed, "route", **_route_counts())
            noop(counted)
        with prefix("aggregate", k):
            rows = sink_counts(routed_ok(routed)).collect()
        with prefix("aggregate_input", k):
            noop(routed_ok(routed).select("ts", "role", "tool_family", "severity_number"))
    out: dict = {name: statistics.median(t) for name, t in times.items()}
    set_group(spark, "counts")
    out["route.counts"] = obs.get
    out["aggregate.groups_out"] = len(rows)
    out["sources.rows"] = read().count()
    out["parse.rows"] = parse_turns(read()).count()
    out["enrich.rows"] = enrich(parse_turns(read()), spark).count()
    set_group(spark, None)
    return out


def transcript_layer_metrics(p: dict, files: list[str], engine: dict) -> dict:
    """Per-layer self times by prefix difference, row counts, and the
    layer-attributed engine job count of enrich."""
    def jobs(prefix: str) -> int:
        return engine.get(f"prefix:{prefix}", {}).get("jobs", 0)

    return {
        "sources.scan_s": p["sources"],
        "sources.rows_out": p["sources.rows"],
        "sources.input_mb": _dir_mb(files),
        "parse.self_s": p["parse"] - p["sources"],
        "parse.rows_out": p["parse.rows"],
        "enrich.self_s": p["enrich"] - p["parse"],
        "enrich.rows_out": p["enrich.rows"],
        "enrich.spark_jobs": jobs("enrich") - jobs("parse"),
        "route.self_s": p["route"] - p["enrich"],
        "route.rows_ok": p["route.counts"]["n_ok"],
        "route.rows_dead_letter": p["route.counts"]["n_dl"],
        "aggregate.self_s": p["aggregate"] - p["aggregate_input"],
        "aggregate.groups_out": p["aggregate.groups_out"],
    }


# --- pipeline_bulk ----------------------------------------------------------


class PipelineBulk:
    """The deployed batch job, closed loop, one job at a time."""

    name = "pipeline_bulk"
    N_TURNS = 100_000
    N_FILES = 8
    WARM_TURNS = 2_000
    MIX = gen.EventMix()

    def generate(self, work: Path, seed: int, seconds: float) -> None:
        rng = np.random.default_rng([seed, 1])
        self.table_dir = work / "bulk"
        self.warm_dir = work / "bulk_warm"
        for d, n, files in (
            (self.table_dir, self.N_TURNS, self.N_FILES),
            (self.warm_dir, self.WARM_TURNS, 2),
        ):
            d.mkdir(parents=True)
            gen.write_bulk_table(gen.transcripts(rng, n, self.MIX), str(d), files)
        self.files = _parquet_files(self.table_dir)

    def op(self, spark: SparkSession, path: Path, tracer=None, tag=None):
        span = tracer.span if tracer else _nospan
        transcripts = read_transcripts(spark, str(path))
        with span("parse.plan", tag):
            parsed = parse_turns(transcripts)
        with span("enrich.plan", tag):
            enriched = enrich(parsed, spark)
        routed = route(enriched)
        counted, obs = _counted(routed, "routed", **_route_counts())
        noop(counted)
        counts = sink_counts(routed_ok(routed)).collect()
        got = obs.get
        totals = {"n_input": got["rows"], "n_ok": got["n_ok"], "n_dl": got["n_dl"]}
        return got["rows"], (totals, sorted(tuple(r) for r in counts))

    def warm(self, spark: SparkSession, k: int) -> int:
        return self.op(spark, self.warm_dir)[0]

    def baseline_op(self, spark: SparkSession) -> int:
        # one of the table's files, an eighth of the input
        return self.op(spark, Path(self.files[0]))[0]

    def timed(self, spark: SparkSession, seconds: float, tracer=None) -> Timed:
        # untimed: the first full-size operation still carries JIT warm-up
        self.op(spark, self.table_dir)
        ops, wall = closed_loop(
            lambda tag, t: self.op(spark, self.table_dir, t, tag), seconds, spark, tracer
        )
        for o in ops:
            o.latencies = [o.wall]  # closed loop: input is due when the op starts
        return Timed(ops, wall, sum(o.rows for o in ops))

    def check(self, con, timed: Timed) -> int:
        counts = oracle.sink_counts(con, self.files)
        totals = oracle.routed_totals(oracle.sink_totals(con, self.files))
        for o in timed.ops:
            if o.error is None:
                errs = oracle.check_bulk(counts, totals, o.output[1], o.output[0])
                o.error = "; ".join(errs) or None
        return sum(o.error is not None for o in timed.ops)

    def traced(self, spark: SparkSession, tracer, seconds: float) -> dict:
        ops: list[Op] = []
        rounds = traced_rounds(
            spark, tracer, seconds, lambda tag, t: self.op(spark, self.table_dir, t, tag), ops
        )
        read = lambda: read_transcripts(spark, str(self.table_dir))  # noqa: E731
        prefixes = transcript_prefixes(spark, read, tracer, before_pass=rounds)
        timed = Timed(ops, sum(o.wall for o in ops), sum(o.rows for o in ops))
        return {"timed": timed, "prefixes": prefixes}

    def layer_metrics(self, traced: dict, engine: dict, tracer) -> dict:
        p = traced["prefixes"]
        m = transcript_layer_metrics(p, self.files, engine)
        m["parse.plan_s"] = tracer.median("parse.plan")
        m["enrich.plan_s"] = tracer.median("enrich.plan")
        # the job runs the upstream layers twice: once into the noop write
        # (scan plus the parse, enrich and route self times), once pruned
        # under the aggregate (aggregate_input plus the aggregate self time)
        m["bench.accounted_ratio"] = (p["route"] + p["aggregate"]) / tracer.median("op")
        return m


# --- ingest_ticks -----------------------------------------------------------


class TickGenerator(threading.Thread):
    """Open-loop arrivals: file i becomes visible at t0 + i * interval,
    whether or not the engine keeps up. Files are pre-encoded, so the
    thread only writes bytes and renames (the rename makes each file
    appear whole; the source skips dot-files)."""

    def __init__(self, landing: Path, blobs: list[bytes], interval: float, t0: float):
        super().__init__(daemon=True)
        self.landing = landing
        self.blobs = blobs
        self.interval = interval
        self.t0 = t0
        self.due: dict[str, float] = {}
        self.lag: list[float] = []
        self.stop_event = threading.Event()
        self.lock = threading.Lock()

    def run(self) -> None:
        for i, blob in enumerate(self.blobs):
            due = self.t0 + i * self.interval
            if self.stop_event.wait(max(0.0, due - time.perf_counter())):
                return
            tmp = self.landing / f".part-{i:05d}.parquet"
            final = self.landing / f"part-{i:05d}.parquet"
            tmp.write_bytes(blob)
            with self.lock:  # recorded before the file can be listed
                self.due[f"file:{final}"] = due
            os.rename(tmp, final)
            with self.lock:
                self.lag.append(time.perf_counter() - due)

    def due_of(self, path: str) -> float:
        with self.lock:
            return self.due[path]


class IngestTicks:
    """The cron/incremental deployment: ticks on a fixed schedule over an
    open-loop landing dir."""

    name = "ingest_ticks"
    # the offered load is fixed (the seed varies content, not volume). Tick
    # k is due at slot k, TICK_S apart, and starts then, or when tick k - 1
    # returns if that is later. Files arrive FILES_PER_TICK to a period,
    # half an interval out of phase with the slots, so a tick that keeps to
    # its slot takes exactly FILES_PER_TICK files; only a tick that overran
    # its slot leaves the next one a larger backlog. TICK_S is above a
    # tick's wall time on a 4-core host, so that is rare
    TICK_S = 7.0
    FILES_PER_TICK = 3
    INTERVAL_S = TICK_S / FILES_PER_TICK
    ROWS_PER_FILE = 6_000
    WARM_TICKS = 2  # untimed: the first takes one file, the second warms the JIT
    MIN_TICKS = 3  # timed ticks: those due within the window, at least this many
    N_BUCKETS = 2
    BUCKETS_PER_WAVE = 2
    N_WARM = 3  # warm-up files: the set-up, and two for the local[1] baseline
    MIX = gen.EventMix()

    def n_ticks(self, seconds: float) -> int:
        """Ticks of a run: the untimed ones and those due within ``seconds``."""
        return self.WARM_TICKS + max(self.MIN_TICKS, math.ceil(seconds / self.TICK_S))

    def generate(self, work: Path, seed: int, seconds: float) -> None:
        """One stream of events cut into consecutive time windows, one file
        each, so conversations continue from file to file."""
        rng = np.random.default_rng([seed, 2])
        self.work = work
        # files keep arriving for one period after the last slot, so a late
        # last tick still finds the files that arrived while it waited
        n_files = 1 + self.FILES_PER_TICK * self.n_ticks(seconds)
        stream = gen.transcripts(rng, n_files * self.ROWS_PER_FILE, self.MIX)
        self.blobs = [gen.parquet_bytes(t) for t in gen.split_by_time(stream, n_files)]
        self.warm_blobs = [
            gen.parquet_bytes(gen.transcripts(rng, self.ROWS_PER_FILE, self.MIX))
            for _ in range(self.N_WARM)
        ]

    @staticmethod
    def _reset(root: Path) -> tuple[Path, Path, Path]:
        """Empty landing, ledger and sink directories under ``root``."""
        if root.exists():
            shutil.rmtree(root)
        dirs = (root / "landing", root / "ledger", root / "sinks")
        for d in dirs:
            d.mkdir(parents=True)
        return dirs

    def _tick(self, spark, src, sinks: Path, tracer=None, tag=None) -> dict | None:
        """One tick: take the pending snapshot, run the checkpointed write
        over it under a per-tick base, commit the files."""
        span = tracer.span if tracer else _nospan
        with span("sources.incremental.pending", tag) as rec:
            pending = src.pending()
            if pending is None and rec is not None:
                rec["name"] = "sources.incremental.poll_empty"
        if pending is None:
            return None
        runner = CheckpointedRunner(
            spark,
            CheckpointConfig(
                base_path=str(sinks / pending.tick_id),
                n_buckets=self.N_BUCKETS,
                buckets_per_wave=self.BUCKETS_PER_WAVE,
            ),
        )
        if tracer:
            read = runner.committed_buckets

            def timed_read():
                with tracer.span("checkpoint.ledger_read", tag):
                    return read()

            runner.committed_buckets = timed_read
        result: dict = {}

        def action(df: DataFrame) -> None:
            with span("parse.plan", tag):
                parsed = parse_turns(df)
            with span("enrich.plan", tag):
                enriched = enrich(parsed, spark)
            with span("checkpoint.run", tag):
                result.update(runner.run(route(enriched)))

        out = src.process_new(action, pending=pending)
        return {
            "files": sorted(pending.files),
            "n_rows": out["n_rows"],
            "base": sinks / pending.tick_id,
            "waves": math.ceil(len(result["processed_buckets"]) / self.BUCKETS_PER_WAVE),
        }

    def warm(self, spark: SparkSession, k: int) -> int:
        """One tick over a landing dir holding one small file."""
        landing, ledger, sinks = self._reset(self.work / f"warm{k}")
        (landing / "part-00000.parquet").write_bytes(self.warm_blobs[k])
        src = IncrementalSource(spark, str(landing), str(ledger))
        return self._tick(spark, src, sinks)["n_rows"]

    def baseline_op(self, spark: SparkSession) -> int:
        # ticks are small by nature: the baseline is the set-up operation
        return self.warm(spark, self.N_WARM - 1)

    def timed(self, spark: SparkSession, seconds: float, tracer=None) -> Timed:
        """Tick on the schedule while files arrive: WARM_TICKS untimed
        ticks, then the ticks due within ``seconds``. Every file a timed
        tick commits has its latency observed. Every run starts from empty
        landing, ledger and sink directories. With a tracer, every second
        timed tick is traced."""
        landing, ledger, sinks = self._reset(self.work / ("traced" if tracer else "run"))
        src = IncrementalSource(spark, str(landing), str(ledger))
        t_arrive = time.perf_counter()
        arrivals = TickGenerator(landing, self.blobs, self.INTERVAL_S, t_arrive)
        ops: list[Op] = []
        arrivals.start()
        try:
            for k in range(self.n_ticks(seconds)):
                slot = t_arrive + self.INTERVAL_S / 2 + k * self.TICK_S
                time.sleep(max(0.0, slot - time.perf_counter()))
                if k < self.WARM_TICKS:
                    self._tick(spark, src, sinks)
                    continue
                if k == self.WARM_TICKS:
                    t0 = time.perf_counter()
                tag = f"op:{len(ops)}"
                op_tracer = alternate(spark, tracer, len(ops))
                span = op_tracer.span if op_tracer else _nospan
                start = time.perf_counter()
                try:
                    with span("op", tag):
                        tick = self._tick(spark, src, sinks, op_tracer, tag)
                    if tick is None:
                        raise RuntimeError(f"no file pending at slot {k}")
                except Exception as e:  # a tick that raises counts as failed
                    ops.append(Op(start, time.perf_counter(), 0, error=repr(e)[:500],
                                  traced=bool(op_tracer)))
                    continue
                end = time.perf_counter()
                ops.append(Op(start, end, tick["n_rows"], output=tick, traced=bool(op_tracer),
                              latencies=[end - arrivals.due_of(f) for f in tick["files"]]))
        finally:
            arrivals.stop_event.set()
            arrivals.join(timeout=10)
        return Timed(ops, ops[-1].end - t0, sum(o.rows for o in ops), extra={
            "generator_lag_s_max": max(arrivals.lag, default=0.0),
            "ledger": ledger,
        })

    def check(self, con, timed: Timed) -> int:
        for o in timed.ops:
            if o.error is None:
                t = o.output
                expected = oracle.sink_totals(con, [f.removeprefix("file:") for f in t["files"]])
                per_sink, per_bucket, ledger = oracle.read_tick_output(con, t["base"])
                errs = oracle.check_tick(expected, self.N_BUCKETS, t["n_rows"],
                                         per_sink, per_bucket, ledger)
                o.error = "; ".join(errs) or None
        return sum(o.error is not None for o in timed.ops)

    def traced(self, spark: SparkSession, tracer, seconds: float) -> dict:
        timed = self.timed(spark, seconds, tracer)
        ok = [o for o in timed.ops if o.error is None]
        # layer self times come from prefixes over the largest tick's files
        files = [f.removeprefix("file:") for f in max(ok, key=lambda o: o.rows).output["files"]]
        written = [_parquet_files(o.output["base"] / "sinks") for o in ok]
        return {
            "timed": timed,
            "prefixes": transcript_prefixes(spark, lambda: spark.read.parquet(*files), tracer),
            "prefix_files": files,
            "backlog": [len(o.output["files"]) for o in ok],
            "waves": [o.output["waves"] for o in ok],
            "files_written": [len(w) for w in written],
            "mb_written": [_dir_mb(w) for w in written],
        }

    def layer_metrics(self, traced: dict, engine: dict, tracer) -> dict:
        p = traced["prefixes"]
        timed = traced["timed"]
        m = transcript_layer_metrics(p, traced["prefix_files"], engine)
        med = statistics.median
        m.update({
            "sources.incremental.pending_s": tracer.median("sources.incremental.pending"),
            "sources.incremental.ledger_files": len(_parquet_files(timed.extra["ledger"])),
            "sources.incremental.backlog_files": med(traced["backlog"]),
            "parse.plan_s": tracer.median("parse.plan"),
            "enrich.plan_s": tracer.median("enrich.plan"),
            "checkpoint.run_s": tracer.median("checkpoint.run"),
            "checkpoint.waves": med(traced["waves"]),
            "checkpoint.ledger_read_s": tracer.median("checkpoint.ledger_read"),
            "route.files_written": med(traced["files_written"]),
            "route.mb_written": med(traced["mb_written"]),
            "bench.generator_lag_s_max": timed.extra["generator_lag_s_max"],
        })
        # the spans on a tick's blocking path: listing plus input-ledger
        # read, and the checkpointed write; the rest of a tick is footer
        # probes, the row count and the input-ledger commit
        m["bench.accounted_ratio"] = (
            sum(tracer.durations("sources.incremental.pending"))
            + sum(tracer.durations("checkpoint.run"))
        ) / sum(tracer.durations("op"))
        return m


# --- dedup_near -------------------------------------------------------------


class DedupNear:
    """MinHash near-duplicate pairs over a seeded corpus."""

    name = "dedup_near"
    N_DOCS = 3_000
    WARM_DOCS = 300
    BASELINE_DOCS = 600  # the corpus prefix timed at local[1]
    MIX = gen.DocMix()

    def generate(self, work: Path, seed: int, seconds: float) -> None:
        rng = np.random.default_rng([seed, 3])
        self.docs = work / "documents.parquet"
        self.warm_docs = work / "documents_warm.parquet"
        self.baseline_docs = work / "documents_baseline.parquet"
        corpus = gen.documents(rng, self.N_DOCS, self.MIX)
        pq.write_table(corpus, self.docs)
        pq.write_table(corpus.slice(0, self.BASELINE_DOCS), self.baseline_docs)
        pq.write_table(gen.documents(rng, self.WARM_DOCS, self.MIX), self.warm_docs)

    def op(self, spark: SparkSession, path: Path, n_docs: int, tracer=None):
        df = dedup_minhash_pairs(spark, "", docs=spark.read.parquet(str(path)))
        pairs = df.collect()
        if tracer:
            # the engine's candidate set: the distinct over the band
            # self-join (the partial and final aggregates of that distinct
            # share its output columns; the final one has the fewest rows)
            rows = spans.plan_output_rows(df, "HashAggregate", ["doc_a", "doc_b"])
            if not rows:
                raise RuntimeError("no candidate distinct in the executed plan")
            tracer.record("dedup.candidate_pairs", min(rows))
            tracer.record("dedup.pairs_out", len(pairs))
        # the operator persists its shingle frame; a later run over the
        # same input would hit that cache until the frame is collected, so
        # drop it: every measured run starts cold, as a deployed run does
        spark.catalog.clearCache()
        return n_docs, sorted((r.doc_a, r.doc_b, r.jaccard) for r in pairs)

    def warm(self, spark: SparkSession, k: int) -> int:
        return self.op(spark, self.warm_docs, self.WARM_DOCS)[0]

    def baseline_op(self, spark: SparkSession) -> int:
        return self.op(spark, self.baseline_docs, self.BASELINE_DOCS)[0]

    def timed(self, spark: SparkSession, seconds: float, tracer=None) -> Timed:
        # untimed: the first full-size operation still carries JIT warm-up
        self.op(spark, self.docs, self.N_DOCS)
        ops, wall = closed_loop(
            lambda tag, t: self.op(spark, self.docs, self.N_DOCS, t), seconds, spark, tracer
        )
        for o in ops:
            o.latencies = [o.wall]
        return Timed(ops, wall, sum(o.rows for o in ops))

    def check(self, con, timed: Timed) -> int:
        expected = oracle.minhash_pairs(con, str(self.docs))
        for o in timed.ops:
            if o.error is None:
                o.error = "; ".join(oracle.check_pairs(expected, o.output)) or None
        return sum(o.error is not None for o in timed.ops)

    def traced(self, spark: SparkSession, tracer, seconds: float) -> dict:
        """Rounds of alternating operations, each followed by a pass of the
        prefixes scan, +signatures and the whole operator into noop writes;
        band rows are counted afterwards, untimed."""
        ops: list[Op] = []
        rounds = traced_rounds(
            spark, tracer, seconds, lambda tag, t: self.op(spark, self.docs, self.N_DOCS, t), ops
        )
        docs = lambda: spark.read.parquet(str(self.docs))  # noqa: E731
        out: dict = {}

        def prefix(name: str, build, k: int) -> None:
            set_group(spark, f"prefix:{name}" if k == 0 else f"prefix{k}:{name}")
            with tracer.span(f"prefix.{name}", "prefix"):
                t0 = time.perf_counter()
                noop(build())
                out.setdefault(name, []).append(time.perf_counter() - t0)
            spark.catalog.clearCache()

        for k in range(PREFIX_PASSES):
            rounds(k)
            prefix("sources", docs, k)
            prefix("dedup.sig", lambda: minhash_signatures(spark, "", docs=docs()), k)
            prefix("dedup", lambda: dedup_minhash_pairs(spark, "", docs=docs()), k)
        for name in ("sources", "dedup.sig", "dedup"):
            out[name] = statistics.median(out[name])
        out["timed"] = Timed(ops, sum(o.wall for o in ops), sum(o.rows for o in ops))
        set_group(spark, "counts")
        out["sources.rows"] = docs().count()
        out["dedup.band_rows"] = bands_from_signatures(
            minhash_signatures(spark, "", docs=docs())).count()
        set_group(spark, None)
        return out

    def layer_metrics(self, traced: dict, engine: dict, tracer) -> dict:
        med = statistics.median
        cand = med(tracer.values["dedup.candidate_pairs"])
        pairs = med(tracer.values["dedup.pairs_out"])
        return {
            "sources.scan_s": traced["sources"],
            "sources.rows_out": traced["sources.rows"],
            "sources.input_mb": _dir_mb([str(self.docs)]),
            "dedup.sig_s": traced["dedup.sig"] - traced["sources"],
            "dedup.band_rows": traced["dedup.band_rows"],
            "dedup.candidate_pairs": cand,
            "dedup.pairs_out": pairs,
            "dedup.verify_ratio": pairs / cand if cand else 0.0,
            "dedup.self_s": traced["dedup"] - traced["sources"],
            "bench.accounted_ratio": traced["dedup"] / tracer.median("op"),
        }


WORKLOADS = {w.name: w for w in (PipelineBulk, IngestTicks, DedupNear)}
