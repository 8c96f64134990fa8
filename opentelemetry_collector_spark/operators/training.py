"""Transcript-native training-prep: SFT loss-mask spans + conversation
packing.

The reference collector ends at export; a transcript corpus destined for
supervised fine-tuning needs two more data-side computations that every
SFT pipeline otherwise re-derives row-by-row inside the trainer loop:

* ``sft_loss_mask`` — per-turn token-offset spans under a deterministic
  token model (chars/4 rounded up, plus a fixed per-turn chat-template
  overhead) with the assistant-only loss mask: ``tok_start``/``tok_end``
  are the turn's half-open token span inside its rendered conversation,
  ``loss_mask`` is true exactly on assistant turns. Computing the spans
  data-side means the trainer consumes ready offsets instead of
  re-tokenizing prompts to find mask boundaries.
* ``conversation_pack`` — whole-conversation sequence packing: every
  conversation (all turns, order preserved — a conversation never
  splits, the multi-turn analog of corpus_pack's doc-never-splits rule)
  is hash-routed into one of {CONV_PACK_BUCKETS} independent packing
  streams and greedily packed into {CONV_PACK_BUDGET_TOKENS}-token
  training sequences in deterministic md5 order. ``pack_seq`` is the
  budget window the conversation's START offset falls in (straddling
  conversations spill to the next pack); conversations that alone
  exceed the budget are flagged ``is_oversize`` for the
  truncation/chunking policy downstream.

The two ops share one token model (``_turn_tokens``), which buys the
cross-op invariant tests rely on: a conversation's packed ``n_tokens``
equals the last turn's ``tok_end`` from ``sft_loss_mask``.

Scale notes (100 TB / 10^12 turns):
* ``sft_loss_mask`` is ONE window over the conv key — on the production
  ``bucket(conv_id)`` layout the exchange elides entirely (the
  test_bucketed argument), so the op is a scan-local running sum.
* ``conversation_pack`` is a partial-agg rollup on conv_id (map-side
  combine collapses each task to one row per conv) followed by a
  cumsum window partitioned by the uniform hash bucket — the same
  skew-free shape as corpus_pack, with CONV_PACK_BUCKETS scaled to the
  cluster so each stream's sort stays partition-local.
* All arithmetic is integer (char counts, integer ceil, integer
  cumsum), so results are bit-identical across engines — the DuckDB
  oracles below run the same SQL text.

Both ops are registered queries: the oracle sweep runs the in-module
oracles below over the sf0.01 transcripts (queries.PIPELINE_ORACLES), and
tests/test_training.py runs them on a handcrafted fixture with the edge
rows sf0.01 lacks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from opentelemetry_collector_spark.operators.textstats import (
    _hash_bucket,
    _hash_bucket_sql,
)
from opentelemetry_collector_spark.sources.transcripts import (
    events_to_transcripts,
)

# Fixed per-turn chat-template framing cost (role header + separators) in
# tokens — charged to every turn, including empty-text edge rows, the way
# a renderer emits framing regardless of content.
TURN_OVERHEAD_TOKENS = 4

# Token budget of one packed training sequence.
CONV_PACK_BUDGET_TOKENS = 2048

# Independent packing streams; scale to the cluster (each stream's window
# sort is partition-local, so streams = parallelism).
CONV_PACK_BUCKETS = 64


def _transcripts(
    spark: SparkSession, sf_dir: str, transcripts: DataFrame | None
) -> DataFrame:
    return (
        transcripts
        if transcripts is not None
        else events_to_transcripts(spark, sf_dir)
    )


def _turn_tokens() -> Column:
    """Deterministic per-turn token count: ceil(chars/4) + framing
    overhead. Integer end-to-end (length is an int, ceil of int/4.0 is
    exact in IEEE doubles far beyond any real text length)."""
    return (
        F.ceil(F.length(F.coalesce(F.col("text"), F.lit(""))) / 4.0)
        + F.lit(TURN_OVERHEAD_TOKENS)
    ).cast("long")


_TURN_TOKENS_SQL = (
    "cast(ceil(length(coalesce(text, '')) / 4.0) AS bigint) + "
    f"{TURN_OVERHEAD_TOKENS}"
)


def sft_loss_mask(
    spark: SparkSession,
    sf_dir: str,
    *,
    transcripts: DataFrame | None = None,
) -> DataFrame:
    """Per-turn token spans + assistant-only loss mask.

    One window over (conv_id ORDER BY turn_idx): ``tok_end`` is the
    running token sum, ``tok_start = tok_end - n_tokens``, so spans tile
    the conversation exactly ([0, total) with no gaps or overlaps — the
    invariant tests recount). ``loss_mask`` marks assistant turns, the
    standard SFT supervision rule (loss on model outputs only).
    """
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    toks = _transcripts(spark, sf_dir, transcripts).select(
        "conv_id", "turn_idx", "role", _turn_tokens().alias("n_tokens")
    )
    cum = toks.withColumn("tok_end", F.sum("n_tokens").over(w))
    return cum.select(
        "conv_id",
        "turn_idx",
        "role",
        "n_tokens",
        (F.col("tok_end") - F.col("n_tokens")).alias("tok_start"),
        "tok_end",
        (F.col("role") == "assistant").alias("loss_mask"),
    )


# Runs verbatim in DuckDB against a `transcripts` view (create one over an
# `events` view with sources/transcripts.py's TRANSCRIPTS_FROM_EVENTS_SQL,
# or register a fixture frame directly).
SFT_LOSS_MASK_ORACLE = f"""
SELECT conv_id, turn_idx, role, n_tokens,
    cast(tok_end - n_tokens AS bigint) AS tok_start,
    cast(tok_end AS bigint) AS tok_end,
    role = 'assistant' AS loss_mask
FROM (
    SELECT conv_id, turn_idx, role, n_tokens,
        sum(n_tokens) OVER (PARTITION BY conv_id ORDER BY turn_idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tok_end
    FROM (
        SELECT conv_id, turn_idx, role,
            {_TURN_TOKENS_SQL} AS n_tokens
        FROM transcripts
    ) t
) q
"""


def conversation_pack(
    spark: SparkSession,
    sf_dir: str,
    *,
    transcripts: DataFrame | None = None,
    budget: int = CONV_PACK_BUDGET_TOKENS,
) -> DataFrame:
    """Pack whole conversations into token-budget training sequences.

    Rollup to one row per conversation (partial agg — map-side combine
    collapses each task before the only conv-keyed shuffle), hash-route
    into {CONV_PACK_BUCKETS} packing streams, then per stream a
    deterministic md5 order and an integer cumsum. A pack is a start-offset
    window: ``pack_seq`` = floor(start offset / budget), so a pack holds
    every conversation that STARTS inside its budget window and can overrun
    the budget (greedy close-on-overflow is sequential per stream and is
    not attempted). ``over_budget`` flags every row of a pack whose summed
    ``n_tokens`` exceeds the budget; ``is_oversize`` flags a conversation
    over the budget on its own.
    """
    from pyspark.sql.window import Window

    conv = (
        _transcripts(spark, sf_dir, transcripts)
        .select("conv_id", _turn_tokens().alias("turn_tokens"))
        .groupBy("conv_id")
        .agg(F.sum("turn_tokens").alias("n_tokens"))
        .select(
            "conv_id",
            "n_tokens",
            _hash_bucket(F.col("conv_id"), CONV_PACK_BUCKETS, ":cpack")
            .cast("int")
            .alias("pack_bucket"),
            F.md5(F.concat(F.col("conv_id"), F.lit(":cpack-ord"))).alias(
                "ord_key"
            ),
        )
    )
    w = (
        Window.partitionBy("pack_bucket")
        .orderBy("ord_key")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = conv.withColumn("cum_tokens", F.sum("n_tokens").over(w)).withColumn(
        "pack_seq",
        F.floor((F.col("cum_tokens") - F.col("n_tokens")) / budget).cast("int"),
    )
    # partitioned by pack_bucket first: rides the stream window's exchange
    pack = Window.partitionBy("pack_bucket", "pack_seq")
    return cum.select(
        "conv_id",
        "pack_bucket",
        "n_tokens",
        "cum_tokens",
        "pack_seq",
        (F.col("n_tokens") > budget).alias("is_oversize"),
        (F.sum("n_tokens").over(pack) > budget).alias("over_budget"),
    )


CONVERSATION_PACK_ORACLE = f"""
SELECT *,
    sum(n_tokens) OVER (PARTITION BY pack_bucket, pack_seq)
        > {CONV_PACK_BUDGET_TOKENS} AS over_budget
FROM (
    SELECT conv_id, pack_bucket, n_tokens,
        cast(cum_tokens AS bigint) AS cum_tokens,
        cast(floor((cum_tokens - n_tokens) / {CONV_PACK_BUDGET_TOKENS}) AS int)
            AS pack_seq,
        n_tokens > {CONV_PACK_BUDGET_TOKENS} AS is_oversize
    FROM (
        SELECT conv_id, pack_bucket, n_tokens,
            sum(n_tokens) OVER (PARTITION BY pack_bucket ORDER BY ord_key
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
        FROM (
            SELECT conv_id, cast(sum(n_tokens) AS bigint) AS n_tokens,
                cast({_hash_bucket_sql('conv_id', CONV_PACK_BUCKETS, ':cpack')}
                    AS int) AS pack_bucket,
                md5(conv_id || ':cpack-ord') AS ord_key
            FROM (
                SELECT conv_id, {_TURN_TOKENS_SQL} AS n_tokens
                FROM transcripts
            ) t
            GROUP BY conv_id
        ) c
    ) q
) p
"""
