"""The function library's materialization policy (``functions/_materialize.py``):
intermediate tables live and die with their query."""

from __future__ import annotations

import logging
import os
import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import functions as F

from bytewax_spark.functions import behavior, dedup
from tests.conftest import SF_DIR, load

SF01 = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _docs(spark):
    return load(spark, SF01, "documents")


CHANGED = {
    "ngram_jaccard_pairs": lambda s: dedup.ngram_jaccard_pairs(
        _docs(s), "text", "doc_id", n=1, threshold=0.95
    ),
    "minhash_lsh_pairs": lambda s: dedup.minhash_lsh_pairs(
        _docs(s), "text", "doc_id", n=1, k=32, bands=4
    ),
    "minhash_lsh_verified_pairs": lambda s: dedup.minhash_lsh_verified_pairs(
        _docs(s), "text", "doc_id", n=1, k=32, bands=4, threshold=0.8
    ),
    "minhash_lsh_pairs_incremental": lambda s: dedup.minhash_lsh_pairs_incremental(
        _docs(s).filter(F.col("doc_id") % 7 == 0),
        _docs(s).filter(F.col("doc_id") % 7 != 0),
        "text",
        "doc_id",
        n=1,
        k=32,
        bands=4,
    ),
    "dedup_spans_global": lambda s: dedup.dedup_spans_global(
        _docs(s), "text", "doc_id", span_len=8
    ),
    "containment_pairs": lambda s: dedup.containment_pairs(
        _docs(s), "text", "doc_id", n=3, threshold=0.8
    ),
    "hamming_neighbor_pairs": lambda s: dedup.hamming_neighbor_pairs(
        dedup.simhash(_docs(s), "text", "doc_id", bits=16),
        "simhash",
        "doc_id",
        bits=16,
        max_hamming=3,
    ),
    "rfm_segments": lambda s: behavior.rfm_segments(
        load(s, SF01, "events"), "user_id", "ts", "value", n_tiles=5
    ),
}


@pytest.mark.parametrize("name", sorted(CHANGED))
def test_function_leaves_cache_manager_empty(spark, name):
    """No library function registers a table in Spark's CacheManager:
    what it keeps is a checkpoint of its own query, freed with it."""
    spark.catalog.clearCache()
    CHANGED[name](spark).write.format("noop").mode("overwrite").save()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_materialize_logs_why_and_caller(spark, sf_dir, caplog):
    docs = load(spark, sf_dir, "documents")
    with caplog.at_level(logging.DEBUG, logger="bytewax_spark.functions._materialize"):
        dedup.minhash_lsh_pairs(docs, "text", "doc_id", n=1, k=32, bands=4)
    msgs = [r.getMessage() for r in caplog.records]
    assert len(msgs) == 1
    assert msgs[0].startswith(
        "materialize bytewax_spark.functions.dedup.minhash_lsh_pairs eager=False: "
        "one row per distinct signature"
    )


_RESTART = textwrap.dedent(
    """
    import sys

    from pyspark import SparkContext

    from bytewax_spark.functions import behavior, dedup
    from bytewax_spark.session import get_spark

    SF = sys.argv[1]

    def run(spark):
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        ev = spark.read.parquet(f"{SF}/events.parquet")
        return (
            dedup.minhash_lsh_pairs(docs, "text", "doc_id", n=1, k=32, bands=4).count(),
            behavior.rfm_segments(ev, "user_id", "ts", "value").count(),
        )

    spark = get_spark("restart_a")
    first = run(spark)
    # stop the JVM too, not just the session: a library object kept
    # from the first session would now talk to a dead gateway
    spark.stop()
    gateway = SparkContext._gateway
    gateway.proc.stdin.close()  # the gateway JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    gateway.close()
    SparkContext._gateway = None
    SparkContext._jvm = None
    second = run(get_spark("restart_b"))
    assert first == second, (first, second)
    print("OK", first)
    """
)


def test_second_session_in_one_process_runs_the_library(tmp_path):
    """Nothing a library function keeps outlives its session's JVM:
    the same calls run again after the JVM is replaced."""
    env = dict(os.environ, PYTHONPATH=_ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""))
    out = subprocess.run(
        [sys.executable, "-c", _RESTART, SF_DIR],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "OK" in out.stdout
