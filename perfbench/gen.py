"""Seeded input generator for the benchmark.

Everything the engine reads is written here, from a workload seed, before
timing starts. The same seed gives byte-identical files; the engine never
sees the seed itself.

Transcripts are not written out here. The generator draws an ``events``
table (the shape of the engine's ``events`` input) and derives the
transcripts from it by running the engine's ``TRANSCRIPTS_FROM_EVENTS_SQL``
verbatim in DuckDB. The text grammar, the roles and tools per event type
and the dead-letter rows (empty text on every 101st event, the unknown
severity ``SEVERE`` on every 97th tool turn) therefore live only in
``sources/transcripts.py``.

Documents follow the ``documents`` table schema (doc_id, text, lang,
source, n_chars) and the process visible in the sf0.1 test data: texts
over a 30-word vocabulary, and near-duplicates made by appending " dup"
to a copy of another document.

The mix defaults are measured on the sf0.1 test data (``events.parquet``,
``documents.parquet``); the figures are beside each field. Two are
chosen rather than measured: the user skew (sf0.1 users are uniform, 45-85
events each; the generator draws users from a Zipf law to get hot
conversations) and the event rate (see ``EventMix.events_per_s``).
"""

from __future__ import annotations

import io
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from opentelemetry_collector_spark.sources.transcripts import (
    TRANSCRIPTS_FROM_EVENTS_SQL,
)

# 2024-01-01T00:00:00Z, where sf0.1 events start, in microseconds
TS0_US = 1_704_067_200_000_000

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
    ]
)

TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)

DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


@dataclass(frozen=True)
class EventMix:
    """Shape of an events sample."""

    # sf0.1: 20302 signup, 20084 purchase, 19941 view, 19863 click and
    # 19810 error events of 100000
    event_types: tuple = ("signup", "purchase", "view", "click", "error")
    type_shares: tuple = (0.20302, 0.20084, 0.19941, 0.19863, 0.19810)
    # sf0.1: 100000 events over 1500 users
    events_per_user: float = 100_000 / 1_500
    # assumed: hot conversations (sf0.1 users are uniform)
    user_zipf_s: float = 1.0
    # sf0.1 value p10/p50/p90 are 5.35/34.8/114.3, an exponential of mean 50
    value_mean: float = 50.0
    # the test data spreads its events uniformly over 30 days at every
    # scale factor (1000 events at sf0.001, 100000 at sf0.1), so the rate
    # grows with the table. Inputs here are time slices of a table of the
    # few million turns the deployed job reads: 3M events (sf3) in 30 days
    events_per_s: float = 3_000_000 / (30 * 86_400)


def events(rng: np.random.Generator, n: int, mix: EventMix) -> pa.Table:
    """``n`` events in ``ts`` order, ids from 0, spread uniformly from TS0
    at ``mix.events_per_s``."""
    n_users = max(1, round(n / mix.events_per_user))
    if n_users >= 1_000_000:  # the derivation pads user ids to six digits
        raise ValueError(f"{n_users} users do not fit conv_id")
    weights = 1.0 / np.arange(1, n_users + 1) ** mix.user_zipf_s
    span_us = int(n / mix.events_per_s * 1e6)
    return pa.Table.from_arrays(
        [
            pa.array(np.arange(n, dtype=np.int64)),
            pa.array(TS0_US + np.sort(rng.integers(0, span_us, n))).cast(
                pa.timestamp("us")
            ),
            pa.array(rng.choice(n_users, size=n, p=weights / weights.sum())),
            pa.array(
                np.array(mix.event_types)[
                    rng.choice(len(mix.event_types), size=n, p=mix.type_shares)
                ]
            ),
            pa.array(np.round(rng.exponential(mix.value_mean, n), 2)),
        ],
        schema=EVENTS_SCHEMA,
    )


def transcripts(rng: np.random.Generator, n: int, mix: EventMix) -> pa.Table:
    """The engine's transcript derivation over ``n`` seeded events, run in
    DuckDB, in (conv_id, turn_idx) order."""
    con = duckdb.connect()
    try:
        con.register("events", events(rng, n, mix))
        out = con.sql(
            f"SELECT * FROM ({TRANSCRIPTS_FROM_EVENTS_SQL}) ORDER BY conv_id, turn_idx"
        ).arrow()
    finally:
        con.close()
    return out.cast(TRANSCRIPT_SCHEMA)


def split_by_time(table: pa.Table, n_parts: int) -> list[pa.Table]:
    """Cut ``table`` at ``ts`` boundaries into ``n_parts`` consecutive
    windows of about equal row count (the files a landing directory
    receives one after another), each in (conv_id, turn_idx) order."""
    ts = table.column("ts").cast(pa.int64()).to_numpy()
    order = np.argsort(ts, kind="stable")
    bounds = ts[order][np.linspace(0, len(ts), n_parts + 1).astype(int)[1:-1]]
    part = np.searchsorted(bounds, ts, side="right")
    return [table.filter(pa.array(part == i)) for i in range(n_parts)]


def parquet_bytes(table: pa.Table) -> bytes:
    """One zstd parquet file, in memory (the tick generator writes these
    verbatim, so its timed loop does no encoding)."""
    buf = io.BytesIO()
    pq.write_table(table, buf, compression="zstd")
    return buf.getvalue()


def write_bulk_table(table: pa.Table, out_dir: str, n_files: int) -> None:
    """The production layout (sources/catalog.py DDL): zstd, conv_id-hashed
    file assignment, (conv_id, turn_idx) order inside each file."""
    conv_num = np.array(
        [int(c.rsplit("-", 1)[1]) for c in table.column("conv_id").to_pylist()]
    )
    # a fixed multiplicative hash of the conversation number: file
    # assignment must not depend on Python's per-process string hashing
    file_ix = (conv_num * 2654435761 % (1 << 32)) % n_files
    for f in range(n_files):
        part = table.filter(pa.array(file_ix == f))
        pq.write_table(
            part, f"{out_dir}/part-{f:05d}.parquet", compression="zstd"
        )


# the sf0.1 documents vocabulary: 30 words used about equally often, plus
# the "dup" marker of near-duplicate copies
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


@dataclass(frozen=True)
class DocMix:
    # sf0.1: lengths uniform over 10..99 words
    min_words: int = 10
    max_words: int = 99
    # sf0.1: 255 of 5000 documents copy another one with " dup" appended
    # (a base copied twice makes a cluster of three)
    dup_share: float = 255 / 5000
    # sf0.1: 2059 en, 753 zh, 744 es, 742 fr, 702 de; 20 sources of 250
    langs: tuple = ("en", "zh", "es", "fr", "de")
    lang_shares: tuple = (0.4118, 0.1506, 0.1488, 0.1484, 0.1404)
    n_sources: int = 20


def documents(rng: np.random.Generator, n_docs: int, mix: DocMix) -> pa.Table:
    """A seeded corpus: fresh documents first, then the near-duplicate
    copies of randomly chosen ones, as in sf0.1."""
    words = np.array(WORDS)
    n_dup = round(n_docs * mix.dup_share)
    n_base = n_docs - n_dup
    lengths = rng.integers(mix.min_words, mix.max_words + 1, n_base)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    texts += [texts[i] + " dup" for i in rng.integers(0, n_base, n_dup)]
    langs = np.array(mix.langs)[rng.choice(len(mix.langs), n_docs, p=mix.lang_shares)]
    return pa.Table.from_arrays(
        [
            pa.array(np.arange(n_docs, dtype=np.int64)),
            pa.array(texts),
            pa.array(langs),
            pa.array([f"src{i % mix.n_sources}" for i in range(n_docs)]),
            pa.array([len(t) for t in texts], pa.int64()),
        ],
        schema=DOC_SCHEMA,
    )
