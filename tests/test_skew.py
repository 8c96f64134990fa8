"""Hot-key skew handling (SURVEY §4 'ours to design'): a conversation holding
half the rows must neither change results nor concentrate on one partition
when the skew_salt processor runs."""

from __future__ import annotations

from pyspark.sql import functions as F

from opentelemetry_collector_spark.sources.transcripts import events_to_transcripts
from tests.conftest import SF_SMOKE, assert_same_routing, run_routed


def _skewed_transcripts(spark):
    """sf0.001 transcripts + one conversation amplified to ~half of all
    rows (turn_idx renumbered to stay unique per conv)."""
    t = events_to_transcripts(spark, SF_SMOKE)
    hot_conv = t.groupBy("conv_id").count().orderBy(F.desc("count")).first().conv_id
    hot = (
        t.filter(F.col("conv_id") == hot_conv)
        .crossJoin(F.broadcast(spark.range(40).select(F.col("id").alias("rep"))))
        .withColumn(
            "turn_idx",
            (F.col("turn_idx") * 40 + F.col("rep")).cast("int"),
        )
        .drop("rep")
    )
    return t.unionByName(hot), hot_conv


def test_salting_spreads_hot_conversation(spark):
    skewed, hot_conv = _skewed_transcripts(spark)
    n_total = skewed.count()
    n_hot = skewed.filter(F.col("conv_id") == hot_conv).count()
    assert n_hot / n_total > 0.4  # genuinely skewed fixture

    salted = run_routed(spark, skewed, salted=True)
    dist = (
        salted.withColumn("pid", F.spark_partition_id())
        .groupBy("pid").count().collect()
    )
    max_share = max(r["count"] for r in dist) / n_total
    # unsalted, the hot conv's ~40%+ would sit in one partition; salted it
    # must spread well below that
    assert max_share < 0.25, f"max partition share {max_share:.2f}"


def test_adaptive_salting_targets_only_heavy_keys(spark):
    """Two-pass scheme: the histogram finds the hot conversation, the salt
    plan splits only it, and the spread flattens without touching cold
    keys."""
    from opentelemetry_collector_spark.operators.skew import (
        key_histogram,
        plan_salts,
        skew_aware_repartition,
        SALT_COL,
    )

    skewed, hot_conv = _skewed_transcripts(spark)
    n_total = skewed.count()
    parallelism = spark.sparkContext.defaultParallelism

    total, heavy = key_histogram(skewed, "conv_id", min_share=0.05)
    assert total == n_total
    assert hot_conv in heavy, "histogram must surface the hot key"

    salts = plan_salts(total, heavy, parallelism)
    assert salts.get(hot_conv, 1) > 1, "hot key must be split"
    # cold keys stay unsalted: the plan contains only above-target keys
    assert all(f > 1 for f in salts.values())

    spread = skew_aware_repartition(
        skewed, "conv_id", "turn_idx", parallelism, min_share=0.05
    )
    # the hot conversation now spans multiple salt cells
    n_cells = (
        spread.filter(F.col("conv_id") == hot_conv)
        .select(SALT_COL)
        .distinct()
        .count()
    )
    assert n_cells == salts[hot_conv]
    dist = (
        spread.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    assert max(r["count"] for r in dist) / n_total < 0.25


def test_adaptive_salting_preserves_results(spark):
    """The two-pass operator on its own, planned for four times the
    default parallelism so the hot conversation is split further than the
    skew_salt processor splits it: routing the spread frame gives the same
    sink_counts as routing the unsalted one."""
    from opentelemetry_collector_spark.operators.skew import (
        SALT_COL,
        skew_aware_repartition,
    )

    skewed, _ = _skewed_transcripts(spark)
    spread = skew_aware_repartition(
        skewed, "conv_id", "turn_idx", 4 * spark.sparkContext.defaultParallelism
    ).drop(SALT_COL)
    assert_same_routing(
        run_routed(spark, skewed, salted=False),
        run_routed(spark, spread, salted=False),
    )


def test_salting_preserves_results_on_skewed_input(spark):
    skewed, _ = _skewed_transcripts(spark)
    assert_same_routing(
        run_routed(spark, skewed, salted=False),
        run_routed(spark, skewed, salted=True),
    )
