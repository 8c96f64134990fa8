"""Driver contract for the spark-graft builder (PySpark target).

Flagship: the OTel-collector-equivalent parse -> enrich -> route -> aggregate
pipeline over a deterministic transcripts table (derived from ``events`` with
exact Spark<->DuckDB expression parity so every stage is oracle-checkable).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from opentelemetry_collector_spark import queries as _q  # noqa: E402

_SHIPPED: set[str] = set()


def _ensure_pkg_shipped(spark: SparkSession) -> None:
    """Ship the engine package to executor Python workers via addPyFile.

    The driver may import this module from any cwd; Arrow-batched
    operators (mapInPandas in operators/protobuf.py) unpickle by
    module reference on the workers, which otherwise only see the cwd the
    Spark JVM inherited. Deduped per SparkContext by applicationId
    (id() would be reused after a stopped context is garbage-collected);
    the zip path is per-process so concurrent drivers can't tear each
    other's artifact mid-fetch.
    """
    sc = spark.sparkContext
    app_id = sc.applicationId
    if app_id in _SHIPPED:
        return
    import os
    import zipfile

    root = Path(__file__).resolve().parent
    zip_path = f"/tmp/otelcol_spark_entry_pkg_{os.getpid()}.zip"
    # always rebuild (atomic replace): a leftover zip from a recycled pid,
    # or source edits since this process last shipped, must never win —
    # the build is milliseconds against silently-stale executor code
    tmp = f"{zip_path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for p in (root / "opentelemetry_collector_spark").rglob("*.py"):
            if "__pycache__" in p.parts:
                continue
            z.write(p, str(p.relative_to(root)))
    os.replace(tmp, zip_path)
    sc.addPyFile(zip_path)
    _SHIPPED.add(app_id)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: per-sink, per-time-bucket
    record counts from the full parse->enrich->route->aggregate pipeline."""
    _ensure_pkg_shipped(spark)
    return _q.q_sink_counts(spark, "/root/testdata/sf0.001")


def _wrap(fn: Callable[[SparkSession, str], DataFrame]):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_pkg_shipped(spark)
        return fn(spark, sf_dir)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        k: _wrap(fn)
        for k, fn in {**_q.PIPELINE_QUERIES, **_q.DOCS_QUERIES}.items()
    }


def oracle_sql() -> dict[str, str]:
    return {**_q.PIPELINE_ORACLES, **_q.DOCS_ORACLES}
