"""``io.read_parquet`` takes its schema from the parquet footers: the
schema must be the one Spark infers, no Spark job may run before the
action, and every input the footer cannot describe the way Spark does
must fall back to Spark's own inference."""

from __future__ import annotations

import glob
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as registry
from bytewax_spark.io import read_parquet
from perfbench.batch import CORE
from perfbench.fixtures import TABLES_DIR
from tests.conftest import SF_DIR

TESTDATA = os.path.dirname(SF_DIR)
FIXTURES = sorted(
    glob.glob(os.path.join(TESTDATA, "sf0.001", "*.parquet"))
    + glob.glob(os.path.join(TESTDATA, "sf0.01", "*.parquet"))
    + glob.glob(os.path.join(TESTDATA, "sf0.1", "*.parquet"))
    + glob.glob(os.path.join(TABLES_DIR, "*.parquet"))
)


def _jobs(spark, group: str, build) -> tuple[object, int]:
    """``build()``'s result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc.setJobGroup("idle", "idle")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _footer_read(spark, path: str):
    """``read_parquet(path)``, asserting that it ran no job: its schema
    came from the footers, not from Spark's inference."""
    df, jobs = _jobs(spark, f"footer-{path}", lambda: read_parquet(spark, path))
    assert jobs == 0, path
    return df


def test_fixture_footer_schemas_match_inference(spark):
    assert len(FIXTURES) >= 30
    for path in FIXTURES:
        df = _footer_read(spark, path)
        assert df.schema == spark.read.parquet(path).schema, path


def test_spark_written_footer_schema_matches_inference(spark, tmp_path):
    out = str(tmp_path / "sw")
    spark.sql(
        """SELECT CAST(id AS INT) AS i, TIMESTAMP '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts,
                  CAST(id / 3 AS DECIMAL(18, 4)) AS dec, array(id, id + 1) AS arr,
                  map('k', id) AS m, named_struct('a', id, 'b', 'x') AS st,
                  CAST('ab' AS BINARY) AS bin, CAST(NULL AS STRING) AS sn
           FROM range(9)"""
    ).repartition(3).write.parquet(out)
    parts = sorted(glob.glob(f"{out}/part-*.parquet"))
    assert len(parts) == 3
    for path in [out, parts[0]]:
        df = _footer_read(spark, path)
        assert df.schema == spark.read.parquet(path).schema
    assert dict(_footer_read(spark, out).dtypes)["ts"] == "timestamp"
    assert sorted(r.i for r in read_parquet(spark, out).collect()) == list(range(9))


def test_multi_file_directory_footer_schema(spark, tmp_path):
    for n in range(3):
        pd.DataFrame(
            {
                "id": [n],
                "ts": pd.to_datetime(["2024-01-01"]).astype("datetime64[us]"),
                "tags": [["a", None]],
                "score": [0.5],
            }
        ).to_parquet(tmp_path / f"f{n}.parquet")
    (tmp_path / "_SUCCESS").write_text("")
    df = _footer_read(spark, str(tmp_path))
    assert df.schema == spark.read.parquet(str(tmp_path)).schema
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    assert df.count() == 3


def _fallback(spark, path: str):
    """``read_parquet(path)``, asserting that Spark inferred its schema."""
    df, jobs = _jobs(spark, f"infer-{path}", lambda: read_parquet(spark, path))
    assert jobs > 0, path
    return df


def test_fallbacks_keep_the_inferred_schema(spark, tmp_path):
    hive = tmp_path / "hive"
    spark.range(6).withColumn("part", F.col("id") % 2).write.partitionBy("part").parquet(str(hive))
    mixed = tmp_path / "mixed"
    mixed.mkdir()
    pq.write_table(pa.table({"a": [1]}), mixed / "x.parquet")
    pq.write_table(pa.table({"b": ["x"]}), mixed / "y.parquet")
    uint = tmp_path / "uint.parquet"
    pq.write_table(pa.table({"u": pa.array([1, 2], pa.uint32()), "s": ["x", "y"]}), uint)
    int96 = tmp_path / "int96.parquet"
    pq.write_table(
        pa.table({"ts": pa.array([0], pa.timestamp("us"))}), int96, use_deprecated_int96_timestamps=True
    )
    for path in [hive, mixed, uint, int96]:
        df = _fallback(spark, str(path))
        assert df.schema == spark.read.parquet(str(path)).schema, path
    assert dict(_fallback(spark, str(hive)).dtypes) == {"id": "bigint", "part": "int"}


def _nano_file(path) -> None:
    pd.DataFrame(
        {
            "id": [1, 2],
            "ts": pd.to_datetime(["2024-01-01 00:00:00.123456789", "2024-01-02 00:00:00.000000999"]),
        }
    ).to_parquet(path)


NANO_ROWS = [(1, pd.Timestamp("2024-01-01 00:00:00.123456")), (2, pd.Timestamp("2024-01-02"))]


def test_nanosecond_file_reads_as_timestamp_ntz(spark, tmp_path):
    path = str(tmp_path / "nanos.parquet")
    _nano_file(path)
    df = _footer_read(spark, path)
    assert df.dtypes == [("id", "bigint"), ("ts", "timestamp_ntz")]
    assert [(r.id, pd.Timestamp(r.ts)) for r in df.orderBy("id").collect()] == NANO_ROWS


def test_nanosecond_file_through_input_and_parquet_source(spark, tmp_path):
    """``op.input`` given a path and ``ParquetSource`` read what
    ``read_parquet`` reads, nanosecond timestamps included."""
    import bytewax_spark.operators as op
    from bytewax_spark.dataflow import Dataflow
    from bytewax_spark.sources import ParquetSource

    path = str(tmp_path / "nanos.parquet")
    _nano_file(path)
    flow = Dataflow("nanos")
    for step, source in [("path", path), ("source", ParquetSource(path))]:
        rows = op.input(step, flow, source).df.orderBy("id").collect()
        assert [(r.id, pd.Timestamp(r.ts)) for r in rows] == NANO_ROWS


def test_streaming_parquet_source_takes_the_footer_schema(spark, tmp_path):
    from bytewax_spark.sources import ParquetSource

    pd.DataFrame({"k": ["a"], "v": [1.5]}).to_parquet(tmp_path / "0.parquet")
    src = ParquetSource(str(tmp_path), streaming=True)
    df, jobs = _jobs(spark, "stream-peek", src.to_df)
    assert jobs == 0 and df.isStreaming
    assert src.schema == spark.read.parquet(str(tmp_path)).schema


def test_streaming_parquet_source_drains_a_nanosecond_file(spark, tmp_path):
    """A streamed nanosecond file scans its INT64 column as ``long`` and
    converts it as the batch read does (a ``TIMESTAMP_NTZ`` read schema
    failed once the stream ran)."""
    from bytewax_spark.sources import ParquetSource

    src_dir = tmp_path / "in"
    src_dir.mkdir()
    _nano_file(str(src_dir / "0.parquet"))
    df = ParquetSource(str(src_dir), streaming=True).to_df()
    assert df.dtypes == [("id", "bigint"), ("ts", "timestamp_ntz")]
    got = []
    q = (
        df.writeStream.foreachBatch(lambda b, _: got.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    assert sorted((r.id, pd.Timestamp(r.ts)) for r in got) == NANO_ROWS


@pytest.mark.parametrize(
    "name, jobs",
    [(n, 0) for n in CORE]
    + [("cosine_topk_batch_embeddings", 1), ("knn_label_agreement_embeddings", 1)],
)
def test_building_a_benchmark_query_runs_no_job(spark, name, jobs):
    """Only the action runs Spark jobs, except the probe pull of the
    batch top-k kernel: the broadcast probe matrix is the algorithm."""
    build = registry.queries()[name]
    _, ran = _jobs(spark, f"build-{name}", lambda: build(spark, TABLES_DIR))
    assert ran == jobs
