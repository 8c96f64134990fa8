"""Benchmark of the scan -> parse -> enrich -> route -> aggregate engine.

    python3 perfbench/run.py --workload ingest_ticks --seed 1 --seconds 25 --trace 0

Run from the repository root. One process drives Spark on ``local[4]``
with a 2 GB driver heap. The seeded inputs are written before timing
starts. Outputs are checked against DuckDB. The last line of stdout is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``. Earlier lines are a human-readable report (host
disclosure, tail percentiles with their sample counts, failed-op ratio).
Scratch files go to ``.bench_work/<workload>`` under the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import numpy as np  # noqa: E402

import oracle  # noqa: E402
import spans  # noqa: E402
from workloads import WORKLOADS, Timed  # noqa: E402

CORES = 4
HEAP = "2g"


def host_probe() -> dict:
    """1-minute loadavg and a short memory-bandwidth probe (a 64 MB array
    copied for half a second), plus cores and heap."""
    a = np.zeros(8_000_000)
    b = np.empty_like(a)
    n = 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < 0.5:
        np.copyto(b, a)
        n += 1
    dt = time.perf_counter() - t0
    return {
        "loadavg_1m": os.getloadavg()[0],
        "mem_bandwidth_gbps": 2 * a.nbytes * n / dt / 1e9,
        "nproc": len(os.sched_getaffinity(0)),
        "spark_master": f"local[{CORES}]",
        "driver_heap": HEAP,
    }


def build_engine_zip(work: Path) -> Path:
    """The engine package as a zip, the artifact shipped with addPyFile."""
    path = work / "engine.zip"
    pkg = ROOT / "opentelemetry_collector_spark"
    with zipfile.ZipFile(path, "w") as z:
        for p in sorted(pkg.rglob("*.py")):
            z.write(p, str(p.relative_to(ROOT)))
    return path


class Session:
    """The run's Spark JVM, launched by the first ``start``; SparkContexts
    restart inside it."""

    def __init__(self, work: Path, engine_zip: Path):
        self.work = work
        self.engine_zip = engine_zip
        self.events = work / "events"
        self.events.mkdir()
        self.spark = None

    def start(self, cores: int = CORES, event_log: bool = False):
        from opentelemetry_collector_spark.session import get_spark

        tmp = self.work / "tmp"
        conf = {
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": str(tmp / "spark"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": str(event_log).lower(),
            "spark.eventLog.dir": self.events.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
        self.spark = get_spark("perfbench", cores=cores, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.sparkContext.addPyFile(str(self.engine_zip))
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def shutdown(self) -> None:
        """Stop Spark and the gateway JVM, and wait until it has exited."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def _rss_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024
    return 0.0


class RssSampler(threading.Thread):
    """Peak resident memory of the Spark JVM plus this Python driver,
    sampled every 50 ms while running."""

    def __init__(self, jvm_pid: int):
        super().__init__(daemon=True)
        self.jvm_pid = jvm_pid
        self.peak_mb = 0.0
        self.done = threading.Event()

    def run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, _rss_mb(self.jvm_pid) + _rss_mb("self"))
            if self.done.wait(0.05):
                return

    def __enter__(self):
        self.start()
        return self

    def __exit__(self, *exc):
        self.done.set()
        self.join()
        return False


def tail(values: list[float]) -> dict | None:
    """The highest of p50/p75/p90/p95/p99 with at least ten samples beyond
    it, or None when the sample is too small."""
    n = len(values)
    best = None
    for p in (50, 75, 90, 95, 99):
        if n * (1 - p / 100) >= 10:
            best = {"percentile": p, "value": float(np.percentile(values, p)), "n": n}
    return best


def end_to_end(timed: Timed, setup_s: float) -> dict:
    lat = [x for o in timed.ops for x in o.latencies]
    return {
        "setup_s": setup_s,
        "rows_per_s": timed.rows / timed.wall_s,
        "op_s_p50": statistics.median(o.wall for o in timed.ops),
        "latency_s_p50": statistics.median(lat) if lat else 0.0,
    }


def engine_per_op(engine: dict[str, dict]) -> dict:
    ops = [g for name, g in engine.items() if name.startswith("op:")]
    if not ops:
        return {}
    return {f"spark.{k}": statistics.median(g[k] for g in ops) for k in ops[0]}


def run(args) -> tuple[dict, dict]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    workload = WORKLOADS[args.workload]()
    work = ROOT / ".bench_work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp" / "spark").mkdir(parents=True)
    (work / "data").mkdir()
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "tmp" / "spark")
    tempfile.tempdir = str(work / "tmp")

    t_run = time.perf_counter()
    report: dict = {"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace,
                    "host_before": host_probe()}
    t0 = time.perf_counter()
    workload.generate(work / "data", args.seed, args.seconds)
    report["generate_s"] = time.perf_counter() - t0
    session = Session(work, build_engine_zip(work))
    try:
        # the set-up is a cold start, as each run of a cron deployment pays
        # it: JVM launch, SparkContext start, addPyFile of the engine zip,
        # and the operation on a small input (class loading, code generation)
        t0 = time.perf_counter()
        spark = session.start(event_log=bool(args.trace))
        workload.warm(spark, 0)
        report["setup_s"] = setup_s = time.perf_counter() - t0
        con = oracle.connect(str(work / "tmp"))
        if not args.trace:
            with RssSampler(session.jvm_pid()) as rss:
                timed = workload.timed(spark, args.seconds)
            session.shutdown()
            t0 = time.perf_counter()
            failed = workload.check(con, timed)
            report["check_s"] = time.perf_counter() - t0
            metrics = end_to_end(timed, setup_s)
            all_ops = timed.ops
            report["peak_rss_mb"] = rss.peak_mb
            report["op_walls_s"] = [o.wall for o in timed.ops]
            report["op_s_tail"] = tail([o.wall for o in timed.ops])
            report["latency_s_tail"] = tail([x for o in timed.ops for x in o.latencies])
            report["generator_lag_s_max"] = timed.extra.get("generator_lag_s_max")
            wanted = spec["end_to_end"]
        else:
            # one event-logged context: the timed phase alternates untraced
            # and traced operations, then the layer prefixes run
            tracer = spans.Tracer()
            with RssSampler(session.jvm_pid()) as rss:
                traced = workload.traced(spark, tracer, args.seconds)
            session.stop()
            # single-core baseline, after a set-up operation so the new
            # context's first-job costs are excluded
            spark = session.start(cores=1)
            workload.warm(spark, 1)
            t0 = time.perf_counter()
            rows = workload.baseline_op(spark)
            local1 = rows / (time.perf_counter() - t0)
            session.shutdown()
            engine = spans.engine_metrics(session.events)
            metrics = workload.layer_metrics(traced, engine, tracer)
            metrics.update(engine_per_op(engine))
            all_ops = traced["timed"].ops
            report["op_walls_s"] = {
                kind: [o.wall for o in all_ops if o.traced == flag]
                for kind, flag in (("untraced", False), ("traced", True))
            }
            metrics["bench.trace_overhead_ratio"] = statistics.median(
                report["op_walls_s"]["traced"]
            ) / statistics.median(report["op_walls_s"]["untraced"])
            metrics["bench.rows_per_s_local1"] = local1
            metrics["bench.peak_rss_mb"] = rss.peak_mb
            failed = workload.check(con, traced["timed"])
            tracer.write(work / "trace.json", {"engine": engine, "layers": metrics})
            wanted = spec["per_layer"]
        report["failed_op_ratio"] = {
            "ratio": failed / len(all_ops), "failed": failed, "attempted": len(all_ops)
        }
        report["errors"] = [o.error for o in all_ops if o.error][:3]
    finally:
        session.shutdown()
    report["host_after"] = host_probe()
    report["run_s"] = time.perf_counter() - t_run
    # a per-layer metric a workload does not produce is a layer it bypasses
    report["bypassed"] = [m["name"] for m in wanted if m["name"] not in metrics]
    out = {
        m["name"]: {"value": metrics.get(m["name"], 0), "unit": m["unit"]}
        for m in wanted
    }
    (work / "report.json").write_text(json.dumps({**report, "metrics": out}, indent=1, default=str))
    result = {
        "correct": failed == 0,
        "attempted": len(all_ops),
        "failed": failed,
        "metrics": out,
    }
    return report, result


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    report, result = run(ap.parse_args())
    for k, v in report.items():
        print(f"# {k}: {json.dumps(v, default=str)}")
    for name, m in result["metrics"].items():
        print(f"{name} {m['value']} {m['unit']}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
