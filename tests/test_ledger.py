"""The ledger storage format: the bootstrap read of every ledger owner,
tick commits, and the flat layout the engine's commits wrote before the
``Ledger`` class."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from opentelemetry_collector_spark.ledger import Ledger
from opentelemetry_collector_spark.operators.bloom import (
    BLOOM_LEDGER_SCHEMA,
    IncrementalBloom,
)
from opentelemetry_collector_spark.operators.incremental_dedup import (
    FP_SCHEMA,
    SIG_SCHEMA,
    IncrementalDeduper,
    IncrementalMinHashDeduper,
)
from opentelemetry_collector_spark.operators.sketch import (
    HLL_LEDGER_SCHEMA,
    IncrementalSketcher,
)
from opentelemetry_collector_spark.plans.checkpoint import (
    CHECKPOINT_SCHEMA,
    CheckpointConfig,
    CheckpointedRunner,
)
from opentelemetry_collector_spark.session import local_rows
from opentelemetry_collector_spark.sources.incremental import (
    LEDGER_SCHEMA,
    IncrementalSource,
)

OWNERS = {
    "IncrementalSource": (
        lambda spark, p: IncrementalSource(spark, f"{p}/data", f"{p}/ledger"),
        LEDGER_SCHEMA,
    ),
    "CheckpointedRunner": (
        lambda spark, p: CheckpointedRunner(spark, CheckpointConfig(p)),
        CHECKPOINT_SCHEMA,
    ),
    "IncrementalDeduper": (IncrementalDeduper, FP_SCHEMA),
    "IncrementalMinHashDeduper": (IncrementalMinHashDeduper, SIG_SCHEMA),
    "IncrementalBloom": (IncrementalBloom, BLOOM_LEDGER_SCHEMA),
    "IncrementalSketcher": (IncrementalSketcher, HLL_LEDGER_SCHEMA),
}


@pytest.mark.parametrize("owner", sorted(OWNERS))
def test_empty_read_has_the_schema_and_no_python_scan(spark, tmp_path, owner):
    make, schema = OWNERS[owner]
    led = make(spark, str(tmp_path)).ledger.read()
    assert led.schema == schema
    assert "ExistingRDD" not in led._jdf.queryExecution().executedPlan().toString()
    assert led.count() == 0


def test_commit_tick_twice_leaves_one_copy(spark, tmp_path):
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("tick_id", T.StringType())]
    )
    led = Ledger(spark, str(tmp_path / "led"), schema, "tick_id")
    keys = spark.range(5).select(F.col("id").alias("k"))
    led.commit_tick(keys, "t1")
    led.commit_tick(keys.filter("k < 2"), "t2")
    led.commit_tick(keys, "t1")
    assert sorted(tuple(r) for r in led.read().collect()) == sorted(
        [(k, "t1") for k in range(5)] + [(k, "t2") for k in range(2)]
    )


FLAT_ROWS = {
    "files": (
        LEDGER_SCHEMA,
        [("/in/a.parquet", 10, "r1", 7, None), ("/in/b.parquet", 3, "r1", None, "bad")],
    ),
    "buckets": (
        CHECKPOINT_SCHEMA,
        [("r1", 2, 0, 11, 5, 4, 1, 9, "committed"), ("r1", 2, 1, None, 0, 0, 0, 1, "committed")],
    ),
}


@pytest.mark.parametrize("kind", sorted(FLAT_ROWS))
def test_flat_layout_is_the_one_commits_wrote_before(spark, tmp_path, kind):
    """IncrementalSource and CheckpointedRunner used to commit with their
    own ``_commit``: ``local_rows`` over every field but ``committed_at``,
    the timestamp added, one ``coalesce(1)`` append. A ledger written that
    way reads back through ``Ledger.read()``, and ``Ledger.append`` writes
    one file per commit with the same parquet schema."""
    schema, rows = FLAT_ROWS[kind]
    old, new = str(tmp_path / "old"), str(tmp_path / "new")
    (
        local_rows(spark, rows, schema[:-1])
        .withColumn("committed_at", F.current_timestamp())
        .coalesce(1)
        .write.mode("append")
        .parquet(old)
    )
    got = Ledger(spark, old, schema).read().collect()
    assert sorted((tuple(r)[:-1] for r in got), key=repr) == sorted(rows, key=repr)

    Ledger(spark, new, schema).append(rows)
    (old_file,) = glob.glob(f"{old}/*.parquet")
    (new_file,) = glob.glob(f"{new}/*.parquet")
    assert pq.read_schema(new_file).equals(
        pq.read_schema(old_file), check_metadata=True
    )
