"""SparkSession factory with scale-aware defaults.

Centralizes the configuration every entry point (tests, bench,
``__spark_entry__``, the ``run`` CLI) shares, so the engine behaves the
same everywhere:

- AQE on (runtime coalesce, skew-join splitting) — at 100 TB the
  static plan is always wrong somewhere; AQE re-plans from shuffle
  statistics.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster this should be ~2-3x total cores (AQE coalesces down).
- UTC session timezone so event-time semantics are stable and DuckDB
  oracle comparisons are exact.
- Arrow enabled for the Pandas-UDF slow path.

Local sessions (``local[...]`` masters) also get:

- :mod:`bytewax_spark._daemon` as the Python worker daemon, with the
  package root on the workers' ``PYTHONPATH`` so it imports from any
  working directory. Every Python task starts with
  ``importlib.invalidate_caches()``, which on CPython 3.10-3.12 re-reads
  the ``pyspark.zip`` and py4j directories, 100-230 ms per task on a
  4-core VM; the daemon re-reads an archive only when it changed. Every
  streaming micro-batch pays this per task, so it set their floor.
- file listing on the driver at any file count
  (``spark.sql.sources.parallelPartitionDiscovery.threshold``). Past the
  default 32 files Spark lists through a Spark job, which here runs on the
  same task slots as the query: a file source taking 40 new files per
  trigger spent a median 650 ms per micro-batch fetching its batch,
  against 70 ms listing on the driver (4-core VM, ``local[2]``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

__all__ = ["get_spark", "default_parallelism"]


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return max(1, int(cpus))
    return os.cpu_count() or 8


def _workers_find_daemon() -> bool:
    # Python workers start in the driver's working directory, which comes
    # before _PACKAGE_ROOT on their path: a copy of the package there is the
    # one they import, and an older copy has no daemon module
    pkg = os.path.join(os.getcwd(), "bytewax_spark")
    return not os.path.isdir(pkg) or os.path.isfile(os.path.join(pkg, "_daemon.py"))


def get_spark(app_name: str = "bytewax_spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults."""
    par = default_parallelism()
    # local mode: the driver JVM is the whole engine — the 1g default
    # heap causes GC-locker stalls/OOM on wide shuffles long before the
    # machine is used. Upper bound matters just as much HERE: the
    # sandbox guest advertises 128 GiB but the host overcommits it, so
    # freshly-touched pages fault in at ~0.03-0.4 GB/s while
    # already-backed pages re-fault at ~1-2 GB/s (measured r7:
    # touching 8 GiB fresh 21.9 s, re-touch 4.5 s, the NEXT 8 GiB
    # 288 s). A big heap keeps G1 growing into fresh pages mid-query
    # (link_prediction_parts at sf0.1: 24g heap cold 43.7 s / warm
    # median 14.1 s vs 12g cold 9.5 s / median 7.2 s, same box,
    # interleaved A/B; 96g documented as catastrophic in BASELINE.md),
    # while a modest heap recycles already-faulted memory through GC.
    # 12g is the measured sweet spot for the sf0.1/sf1 bench workloads
    # on this box class; override via env for real clusters, where
    # executor sizing follows the guide's §5 rules instead.
    mem = os.environ.get("SPARK_GRAFT_MEM", "12g")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.driver.memory", mem)
        .config("spark.sql.shuffle.partitions", str(par))
        .config("spark.default.parallelism", str(par))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # MIN/MAX/COUNT over unfiltered scans answered from parquet
        # footer statistics — no row reads at all
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    if master is None and not os.environ.get("SPARK_MASTER"):
        master = f"local[{par}]"
    if master is not None:
        builder = builder.master(master)
    if master and master.startswith("local"):
        # above any per-trigger file count: list on the driver
        builder = builder.config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1000000")
        # executors elsewhere may not have the package; see the module docstring
        if _workers_find_daemon():
            builder = builder.config("spark.python.daemon.module", "bytewax_spark._daemon").config(
                "spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT
            )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
