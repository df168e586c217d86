"""Table loading helpers.

``read_parquet`` builds a read that runs no Spark job until its action.
Spark's own ``spark.read.parquet`` infers the schema with a one-task job
that reads a footer, one job per table a flow reads, all before the flow
runs. Here the footers are read driver-side with pyarrow (metadata
only) and the schema is handed to ``spark.read.schema``: the Spark
schema stored in the footer when there is one, else the Arrow schema
mapped as Spark's inference maps the parquet types. Inputs where the two could differ — partitioned or mixed
directories, unusual column types, non-default inference settings — are
left to Spark's inference.

Parquet TIMESTAMP(NANOS) columns, which Spark (4.x) cannot read as
timestamps, are read as their ``long`` nanoseconds and rewritten to
``TIMESTAMP_NTZ`` via integer microsecond math (``ts div 1000`` — long
division, no double precision loss at 1e18 nanos). Pure column
expressions: stays in codegen, pushdown on other columns is unaffected.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

__all__ = [
    "read_parquet",
    "write_bucketed",
    "bucketed_table",
    "ensure_min_partitions",
]


def ensure_min_partitions(df: DataFrame, n: int | None = None) -> DataFrame:
    """Round-robin repartition ``df`` up to ``n`` partitions (default:
    the cluster's core count) ONLY when it currently has fewer — the
    scale-adaptive guard for per-row-expensive stages that sit
    directly on a scan.

    Why: scan parallelism is bounded by file splits, and a parquet
    file is only splittable at row-group boundaries — a small table
    written as one row group becomes ONE task no matter what
    ``maxPartitionBytes``/``minPartitionNum`` say, serializing any
    heavy per-row compute (Arrow kernels, md5 pipelines) onto a single
    core. At real scale inputs carry plenty of splits and this helper
    no-ops, so no shuffle is ever added where the scan already
    parallelizes; the repartition only fires for under-split inputs,
    where the shuffled bytes (the raw projected rows) are trivially
    small by the same token."""
    target = n or df.sparkSession.sparkContext.defaultParallelism
    # .rdd here only plans the scan (no exchanges below a projected
    # scan, so AQE has nothing to execute); it reports the file-split
    # count the scan would actually get.
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _shuffle_partitions(df: DataFrame) -> int:
    """The session's ``spark.sql.shuffle.partitions``: the explicit
    count a per-pair or per-row-heavy stage repartitions to, so AQE
    cannot coalesce its small-in-bytes exchange into a few tasks."""
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str | list[str],
    n_buckets: int,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` hash-bucketed (and bucket-sorted) on ``key`` —
    the co-located-join layout.

    Two tables bucketed on the same key with the same bucket count
    join WITHOUT an exchange: every bucket pairs file-to-file, so the
    100 TB fact-to-fact join (the one that can't broadcast) runs
    shuffle-free, and repeated joins amortize ONE write-time shuffle
    across every downstream query. ``sort=True`` additionally
    bucket-sorts so sort-merge joins skip their sort. Catalog-backed
    (``saveAsTable``) because bucket metadata lives in the table
    catalog, not the parquet files — plain ``.parquet(path)`` cannot
    carry it."""
    keys = [key] if isinstance(key, str) else list(key)
    writer = df.write.mode(mode).format("parquet").bucketBy(n_buckets, *keys)
    if sort:
        writer = writer.sortBy(*keys)
    writer.saveAsTable(table)


def bucketed_table(spark: SparkSession, table: str) -> DataFrame:
    """Read back a bucketed table (the catalog carries the bucket
    spec, so joins/aggregations on the bucket key plan exchange-free
    when ``spark.sql.sources.bucketing.enabled`` is on — default)."""
    return spark.table(table)


_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"
# the settings under which Spark's parquet schema inference reads a
# footer the way the mapping below does
_INFER_DEFAULTS = {
    "spark.sql.parquet.binaryAsString": "false",
    "spark.sql.parquet.int96AsTimestamp": "true",
}
# parquet leaf annotations whose Spark type ``from_arrow_type`` gives
# (ENUM, JSON, UUID, TIME, FLOAT16, ... are left to Spark)
_PLAIN_LEAVES = {"NONE", "STRING", "INT", "DECIMAL", "DATE", "TIMESTAMP"}


def _data_files(path: str) -> tuple[list[str], bool]:
    """``(files, flat)``: the files Spark scans under ``path`` and
    whether they all sit directly in it. Under subdirectories only the
    first file is returned."""

    def listed(name: str) -> bool:
        # Spark's listing skips hidden and `_` names, but not `k=v` directories
        return not (
            name.startswith(".")
            or (name.startswith("_") and "=" not in name)
            or name.endswith("._COPYING_")
        )

    if os.path.isfile(path):
        return [path], True
    for root, dirs, names in os.walk(path):
        dirs[:] = sorted(d for d in dirs if listed(d))
        files = [os.path.join(root, n) for n in sorted(names) if listed(n)]
        if root == path and not dirs:
            return files, True
        if files:
            return files[:1], False
    return [], False


def _plain(t) -> bool:
    """Arrow types whose parquet encoding Spark infers as
    ``from_arrow_type`` maps them. The footer's stored Arrow schema can
    name types the parquet file does not have (a duration is an
    ``int64``, a dictionary a ``string``): those are left to Spark."""
    import pyarrow.types as pt

    if pt.is_list(t) or pt.is_large_list(t):
        return _plain(t.value_type)
    if pt.is_map(t):
        return _plain(t.key_type) and _plain(t.item_type)
    if pt.is_struct(t):
        return all(_plain(f.type) for f in t)
    return (pt.is_timestamp(t) and t.unit != "ns") or any(
        test(t)
        for test in (
            pt.is_boolean, pt.is_signed_integer, pt.is_float32, pt.is_float64,
            pt.is_decimal128, pt.is_string, pt.is_large_string, pt.is_binary,
            pt.is_large_binary, pt.is_date32,
        )
    )


def _file_schema(meta, prefer_ntz: bool) -> tuple[StructType | None, list[str]]:
    """``(schema, nanos)`` for one parquet footer: the schema Spark
    infers from it, nanosecond timestamps as ``long`` (None where the
    mapping is not sure to agree with Spark's), and its top-level
    TIMESTAMP(NANOS) columns."""
    from pyspark.sql.pandas.types import from_arrow_type

    leaves = [meta.schema.column(i) for i in range(meta.num_columns)]
    nanos = [
        c.name
        for c in leaves
        if c.path == c.name
        and json.loads(c.logical_type.to_json()).get("timeUnit") == "nanoseconds"
    ]
    stored = (meta.metadata or {}).get(_SPARK_ROW_METADATA)
    if stored is not None:
        try:
            return StructType.fromJson(json.loads(stored)), nanos
        except (ValueError, KeyError, TypeError):
            return None, nanos
    if any(c.logical_type.type not in _PLAIN_LEAVES for c in leaves):
        return None, nanos
    fields = []
    for f in meta.schema.to_arrow_schema():
        if f.name in nanos:
            dt = LongType()
        elif _plain(f.type):
            dt = from_arrow_type(f.type, prefer_ntz)
        else:
            return None, nanos
        fields.append(StructField(f.name, dt, f.nullable))
    return StructType(fields), nanos


def _footer_schema(spark: SparkSession, path: str) -> tuple[StructType | None, list[str]]:
    """``(schema, nanos)`` for a parquet file or a flat directory of
    them, from their footers alone: the schema Spark would infer (None
    where it must infer it itself) and the nanosecond timestamp
    columns, which that schema reads as ``long``."""
    import pyarrow.parquet as pq

    files, flat = _data_files(path)
    try:
        metas = [pq.read_metadata(f) for f in files]
    except (OSError, ValueError):
        return None, []
    if not metas:
        return None, []
    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true").lower() == "true"
    found = [_file_schema(m, ntz) for m in metas]
    defaults = all(spark.conf.get(k, v).lower() == v for k, v in _INFER_DEFAULTS.items())
    if flat and defaults and all(f == found[0] for f in found):
        return found[0]
    return None, found[0][1]


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` that runs no Spark job and tolerates
    nanosecond timestamps.

    The schema comes from the parquet footers, read driver-side with
    pyarrow: a single file, or a directory of files with no
    subdirectories whose footers all agree, is read with
    ``spark.read.schema(<footer schema>)``. That schema is the one
    Spark's inference gives: the Spark schema stored in the footer when
    the file has one (Spark writes it), else the footer's Arrow schema
    through ``from_arrow_type``, tz-naive timestamps as
    ``TIMESTAMP_NTZ`` under ``spark.sql.parquet.inferTimestampNTZ.enabled``.

    Any other input is left to Spark's inference, which runs a job to
    read a footer: a partitioned directory (its partition columns come
    from the paths), footers that disagree or that pyarrow cannot read,
    a column whose parquet type Spark maps in its own way (unsigned,
    INT96, ENUM, TIME, ...), or a non-default
    ``spark.sql.parquet.binaryAsString`` / ``int96AsTimestamp``.

    A TIMESTAMP(NANOS) column, which Spark cannot read as a timestamp,
    is read as its ``long`` nanoseconds and returned as
    ``TIMESTAMP_NTZ``."""
    return _from_nanos(*_parquet_scan(spark, path))


def _parquet_scan(spark: SparkSession, path: str) -> tuple[DataFrame, list[str]]:
    """The read behind :func:`read_parquet`, before its nanosecond
    conversion: the DataFrame, with each TIMESTAMP(NANOS) column still
    its ``long`` nanoseconds, and the names of those columns."""
    schema, nanos = _footer_schema(spark, path)
    if schema is not None:
        return spark.read.schema(schema).parquet(path), nanos
    if not nanos:
        return spark.read.parquet(path), nanos
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        # the flag is only read while the schema is inferred
        return spark.read.parquet(path), nanos
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def _from_nanos(df: DataFrame, nanos: list[str]) -> DataFrame:
    """``df`` with each ``long`` nanosecond column in ``nanos`` as
    ``TIMESTAMP_NTZ`` (batch or streaming)."""
    for c in nanos:
        df = df.withColumn(
            c, F.expr(f"CAST(timestamp_micros(`{c}` div 1000) AS TIMESTAMP_NTZ)")
        )
    return df
