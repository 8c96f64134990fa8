"""The incremental source's footer probe (sources/incremental.py
``_probe_files``): the tick's row count is the sum of the readable files'
footer counts, its frame has the schema Spark's inference gives, and a
tick whose action starts no job starts none at all, a corrupt file
included."""

from __future__ import annotations

import pathlib

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from opentelemetry_collector_spark.sources.incremental import IncrementalSource
from opentelemetry_collector_spark.sources.transcripts import events_to_transcripts
from tests.conftest import SF_SMOKE, jobs_started


def _good_files(src) -> list[str]:
    """The files the source committed as processed, not dead-lettered."""
    return sorted(
        r.file_path for r in src.ledger.read().filter("error IS NULL").collect()
    )


def test_n_rows_is_the_footer_sum_over_row_groups_and_empty_files(spark, tmp_path):
    data = tmp_path / "data"
    data.mkdir()
    table = pa.table({"id": pa.array(range(50), pa.int64()),
                      "name": pa.array([f"n{i}" for i in range(50)])})
    pq.write_table(table, data / "a-groups.parquet", row_group_size=7)
    pq.write_table(table.slice(0, 0), data / "b-empty.parquet")
    assert pq.ParquetFile(data / "a-groups.parquet").num_row_groups == 8
    (
        spark.range(13).select("id", F.concat(F.lit("s"), "id").alias("name"))
        .coalesce(1).write.parquet(str(data / "c-spark"))
    )
    src = IncrementalSource(spark, str(data), str(tmp_path / "ledger"))

    seen = {}
    r = src.process_new(lambda df: seen.update(schema=df.schema, n=df.count()))

    good = _good_files(src)
    assert r["n_files"] == len(good) == 3
    assert r["n_rows"] == seen["n"] == spark.read.parquet(*good).count() == 63
    assert seen["schema"] == spark.read.parquet(*good).schema
    per_file = {
        pathlib.Path(row.file_path).name: row.n_rows
        for row in src.ledger.read().collect()
    }
    assert per_file.pop("a-groups.parquet") == 50
    assert per_file.pop("b-empty.parquet") == 0
    assert list(per_file.values()) == [13]


def test_tick_frame_schema_is_the_inferred_schema(spark, tmp_path):
    """The frame is read under the first file's footer schema, converted
    as Spark's inference converts it; on the transcripts it is the schema
    ``spark.read.parquet`` infers over the same files."""
    data = str(tmp_path / "data")
    events_to_transcripts(spark, SF_SMOKE).repartition(3).write.parquet(data)
    src = IncrementalSource(spark, data, str(tmp_path / "ledger"))
    seen = {}
    r = src.process_new(lambda df: seen.update(schema=df.schema))
    good = _good_files(src)
    assert r["n_files"] == len(good) == 3
    assert seen["schema"] == spark.read.parquet(*good).schema


def test_steady_tick_with_a_corrupt_file_starts_no_job(spark, tmp_path):
    """Once the source holds its processed set, a tick with a no-op action
    over a good and a corrupt file starts no Spark job on any thread; the
    corrupt file is dead-lettered with the reader's error."""
    data = str(tmp_path / "data")
    src = IncrementalSource(spark, data, str(tmp_path / "ledger"))
    spark.range(5).coalesce(1).write.mode("append").parquet(data)
    src.process_new(lambda df: None)
    spark.range(7).coalesce(1).write.mode("append").parquet(data)
    pathlib.Path(data, "corrupt.parquet").write_bytes(b"PAR1 not really")

    out = {}
    jobs = jobs_started(spark, lambda: out.update(src.process_new(lambda df: None)))
    assert jobs == []
    assert out["n_rows"] == 7 and out["n_failed_files"] == 1
    (error,) = out["failed_files"].values()
    assert "corrupt.parquet" in error and "Parquet" in error
