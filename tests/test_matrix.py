"""Execution-matrix tests (reference ``pytests/conftest.py:15-52``
parameterizes every operator test over run_main / 1-worker / 2-worker
cluster and asserts identical results).

Our engine's execution axes: batch vs streaming micro-batch, and
partition count (the worker-count analog). The same flow must produce
identical results across all of them.
"""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from bytewax_spark import operators as op
from bytewax_spark.dataflow import Dataflow
from bytewax_spark.sources import TestingSource

DATA = [(f"k{i % 3}", i, float(i) * 1.5) for i in range(30)]
SCHEMA = "k string, i long, x double"


def _build(flow, s):
    """map -> filter -> key_on -> flat_map_value -> keyed count+sum:
    a stateless chain ending in a keyed EOF aggregation."""
    m = op.map("m", s, {"k": "k", "i": "i", "x2": F.col("x") * 2})
    f = op.filter("f", m, F.col("i") % 7 != 0)
    ks = op.key_on("key", f, "k")
    e = op.flat_map_value("e", ks, F.array(F.col("x2"), -F.col("x2")), alias="v")
    return op.fold_final("agg", e, aggs={"n": F.count(F.lit(1)), "s": F.round(F.sum("v"), 6)})


def _expected():
    import collections

    agg = collections.defaultdict(lambda: [0, 0.0])
    for k, i, x in DATA:
        if i % 7 != 0:
            for v in (x * 2, -x * 2):
                agg[k][0] += 1
                agg[k][1] += v
    return sorted((k, n, round(s, 6)) for k, (n, s) in agg.items())


@pytest.mark.parametrize("partitions", [1, 16])
def test_matrix_batch_partition_invariance(spark, partitions):
    flow = Dataflow(f"mx_b{partitions}")
    s = op.input("in", flow, TestingSource(DATA, schema=SCHEMA))
    s = op.redistribute("rr", s, num_partitions=partitions)
    out = _build(flow, s)
    got = sorted((r["key"], r["n"], r["s"]) for r in out.df.collect())
    assert got == _expected()


@pytest.mark.parametrize("files", [1, 3])
def test_matrix_streaming_microbatch_invariance(spark, files):
    """Same flow over 1 micro-batch vs 3: final complete-mode output
    is identical (micro-batch cut points must not change results)."""
    flow = Dataflow(f"mx_s{files}")
    s = op.input("in", flow, TestingSource(DATA, schema=SCHEMA, streaming=True, files=files))
    out = _build(flow, s)
    name = f"mx_out_{files}"
    q = (
        out.df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="bw_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted((r["key"], r["n"], r["s"]) for r in spark.sql(f"SELECT * FROM {name}").collect())
    assert got == _expected()
