from __future__ import annotations

import datetime
import uuid

import duckdb
import pytest

from opentelemetry_collector_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def run_routed(spark, transcripts, salted: bool):
    """``transcripts`` through run_service's [skew_salt] parse -> enrich ->
    route graph; returns the routed frame (the exporter writes nothing)."""
    from opentelemetry_collector_spark.plans.config import ServiceConfig
    from opentelemetry_collector_spark.plans.service import run_service

    processors = ["skew_salt"] * salted + ["parse", "enrich", "route"]
    cfg = ServiceConfig(
        receivers={"fixture": {}},
        processors={name: {} for name in processors},
        exporters={"none": {}},
        pipelines={"p": {"receivers": ["fixture"], "processors": processors,
                         "exporters": ["none"]}},
    )
    return run_service(
        spark,
        cfg,
        extra_receivers={"fixture": lambda spark, cfg: transcripts},
        extra_exporters={"none": lambda spark, df, cfg: None},
    )["p"].frame


def assert_same_routing(plain, salted):
    """ok rows, dead_letter rows and sink_counts of two routed frames are
    equal as multisets."""
    from opentelemetry_collector_spark.operators.aggregate import sink_counts
    from opentelemetry_collector_spark.operators.route import (
        dead_letter,
        routed_ok,
    )

    for split in (routed_ok, dead_letter):
        a = split(plain).select("conv_id", "turn_idx", "sink_id")
        b = split(salted).select("conv_id", "turn_idx", "sink_id")
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert {tuple(r) for r in sink_counts(routed_ok(plain)).collect()} == {
        tuple(r) for r in sink_counts(routed_ok(salted)).collect()
    }


def jobs_started(spark, action) -> list[int]:
    """Ids of every Spark job ``action()`` starts, on any thread. Jobs of
    this thread carry a job group set for the call; a thread the action
    starts (a driver pool) runs its jobs in no group, so those are the
    no-group jobs numbered above every no-group job seen before the call.
    Comparing ids, not counts, stays exact once the status store starts
    evicting old jobs (``spark.ui.retainedJobs``)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    seen = max(tracker.getJobIdsForGroup(None), default=-1)
    group = f"jobs-started-{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status store is fed by it
    return sorted(
        [j for j in tracker.getJobIdsForGroup(None) if j > seen]
        + list(tracker.getJobIdsForGroup(group))
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark("otelcol-spark-tests", cores=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the same views the driver pre-registers."""

    def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
        con = duckdb.connect()
        for t in TABLES:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        return con

    return connect


# a tool call whose dur_ms does not fit a bigint, and a normal one
_TS = datetime.datetime(2020, 2, 11, 20, 26, 13)
OVERFLOW_ROWS = [
    ("big", 0, "assistant",
     "[INFO] calling tool=python trace_id=" + "a" * 32 + " span_id="
     + "b" * 16 + " dur_ms=99999999999999999999 args={}", "python", _TS),
    ("big", 1, "assistant",
     "[INFO] calling tool=python trace_id=" + "c" * 32 + " span_id="
     + "d" * 16 + " dur_ms=42 args={}", "python", _TS),
]


def oracle_over(spark, rows, oracle_sql):
    """(Spark transcripts frame of ``rows``, the DuckDB result of a
    registered oracle run over those rows instead of the fixture)."""
    from opentelemetry_collector_spark.schemas import TRANSCRIPT_SCHEMA
    from opentelemetry_collector_spark.sources.transcripts import (
        TRANSCRIPTS_FROM_EVENTS_SQL,
    )

    t = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    con = duckdb.connect()
    con.register("given_rows", t.toPandas())
    assert TRANSCRIPTS_FROM_EVENTS_SQL in oracle_sql
    sql = oracle_sql.replace(
        TRANSCRIPTS_FROM_EVENTS_SQL, "SELECT * FROM given_rows", 1
    )
    return t, con.sql(sql).df()


def assert_df_equal(spark_df, duck_df, sort_cols=None):
    """Exact frame equality after canonical sort (FIXTURES.md §4)."""
    import pandas as pd

    s = spark_df.toPandas()
    d = duck_df if isinstance(duck_df, pd.DataFrame) else duck_df.df()
    assert sorted(s.columns) == sorted(d.columns), (
        f"columns differ: {sorted(s.columns)} vs {sorted(d.columns)}"
    )
    cols = sorted(s.columns)
    s, d = s[cols], d[cols]
    sort_cols = sort_cols or cols
    s = s.sort_values(sort_cols).reset_index(drop=True)
    d = d.sort_values(sort_cols).reset_index(drop=True)

    # Normalize missing-value representations in object columns (Spark
    # surfaces None where DuckDB surfaces NaN/NaT): pandas currently treats
    # them as equal in assert_frame_equal but warns (FutureWarning) that a
    # future major will not — canonicalize to None so the comparison stays
    # exact across pandas versions. Scalar-safe (list/array cells pass
    # through untouched; pd.isna on those returns an array).
    def _null_to_none(v):
        if v is None or v is pd.NaT:
            return None
        if isinstance(v, float) and v != v:
            return None
        return v

    for c in cols:
        if s[c].dtype == object:
            s[c] = s[c].map(_null_to_none)
        if d[c].dtype == object:
            d[c] = d[c].map(_null_to_none)
    pd.testing.assert_frame_equal(s, d, check_dtype=False)
    # The driver's value-hash is dtype-sensitive: DuckDB HUGEINT sums surface as
    # float64 (3.0) while Spark yields int64 (3) — frame_equal(check_dtype=False)
    # hides that, the driver's hash does not. Require matching dtype *kinds*
    # (int vs float vs object ...), allowing width differences (int32 vs int64).
    for c in cols:
        sk, dk = s[c].dtype.kind, d[c].dtype.kind
        if {sk, dk} <= {"i", "u"} or sk == dk:
            continue
        # empty object columns from DuckDB for typed-but-empty results are fine
        if s[c].empty:
            continue
        raise AssertionError(
            f"dtype kind mismatch on '{c}': spark={s[c].dtype} oracle={d[c].dtype}"
            " (driver value-hash would differ)"
        )
