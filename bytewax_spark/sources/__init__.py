"""Sources — partitioned inputs (reference §2.6, ``pysrc/bytewax/inputs.py``,
``connectors/files.py``, ``connectors/kafka/``).

Each source compiles to ``spark.read`` (batch) or ``spark.readStream``
(``streaming=True``); per-partition resume state is Spark's
checkpointed source offsets — we never implement recovery ourselves
(SURVEY §3 entry point 3).
"""

from __future__ import annotations

from collections.abc import Iterable
from datetime import timedelta
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from bytewax_spark.session import get_spark

__all__ = [
    "Source",
    "ParquetSource",
    "OrcSource",
    "CSVSource",
    "JSONSource",
    "FileSource",
    "DirSource",
    "TestingSource",
    "KafkaSource",
    "RandomMetricSource",
    "SimplePollingSource",
    "batch",
    "batch_getter",
    "batch_getter_ex",
    "batch_async",
]


class Source:
    """Base source. ``to_df()`` yields the DataFrame scan."""

    streaming: bool = False

    def to_df(self) -> DataFrame:
        raise NotImplementedError

    def _spark(self) -> SparkSession:
        return get_spark()


class ParquetSource(Source):
    """Columnar scan with pushdown/pruning — the default table source."""

    def __init__(self, path: str, streaming: bool = False, schema: Any | None = None) -> None:
        self.path, self.streaming, self.schema = path, streaming, schema
        self._nanos: list[str] = []

    def to_df(self) -> DataFrame:
        from bytewax_spark.io import _from_nanos, _parquet_scan, read_parquet

        spark = self._spark()
        if self.streaming:
            if self.schema is None:
                # streaming file sources require a schema: the batch
                # read's, nanosecond timestamps still as their long value
                raw, self._nanos = _parquet_scan(spark, self.path)
                self.schema = raw.schema
            stream = spark.readStream.schema(self.schema).parquet(self.path)
            return _from_nanos(stream, self._nanos)
        if self.schema is None:
            return read_parquet(spark, self.path)
        return spark.read.schema(self.schema).parquet(self.path)


class OrcSource(Source):
    """ORC columnar scan — same pushdown/pruning story as Parquet via
    Spark's native reader (the reference has no columnar source at
    all; beyond-reference format parity for warehouses that standardize
    on ORC)."""

    def __init__(self, path: str, streaming: bool = False, schema: Any | None = None) -> None:
        self.path, self.streaming, self.schema = path, streaming, schema

    def to_df(self) -> DataFrame:
        spark = self._spark()
        if self.streaming:
            reader = spark.readStream
            if self.schema is None:
                self.schema = spark.read.orc(self.path).schema
            return reader.schema(self.schema).orc(self.path)
        reader = spark.read
        if self.schema is not None:
            reader = reader.schema(self.schema)
        return reader.orc(self.path)


class CSVSource(Source):
    """CSV rows as typed columns (reference ``connectors/files.py:202-322``
    yields DictReader dicts; we go schema-full)."""

    def __init__(self, path: str, schema: Any | None = None, header: bool = True, streaming: bool = False, **options: Any) -> None:
        self.path, self.schema, self.header, self.streaming, self.options = path, schema, header, streaming, options

    def to_df(self) -> DataFrame:
        spark = self._spark()
        reader = spark.readStream if self.streaming else spark.read
        if self.schema is not None:
            reader = reader.schema(self.schema)
        elif not self.streaming:
            reader = reader.option("inferSchema", "true")
        return reader.options(**self.options).csv(self.path, header=self.header)


class JSONSource(Source):
    def __init__(self, path: str, schema: Any | None = None, streaming: bool = False) -> None:
        self.path, self.schema, self.streaming = path, schema, streaming

    def to_df(self) -> DataFrame:
        spark = self._spark()
        reader = spark.readStream if self.streaming else spark.read
        if self.schema is not None:
            reader = reader.schema(self.schema)
        return reader.json(self.path)


class FileSource(Source):
    """One text file, line-per-row as column ``line`` (reference
    ``connectors/files.py:136-199``; offset-resume ≙ file-source
    checkpoint)."""

    def __init__(self, path: str, streaming: bool = False) -> None:
        self.path, self.streaming = path, streaming

    def to_df(self) -> DataFrame:
        spark = self._spark()
        reader = spark.readStream if self.streaming else spark.read
        return reader.text(self.path).withColumnRenamed("value", "line")


class DirSource(FileSource):
    """Glob a directory of text files; Spark's file listing partitions
    per file like the reference's partition-per-file
    (``connectors/files.py:58-133``)."""

    def __init__(self, dir_path: str, glob: str = "*", streaming: bool = False) -> None:
        super().__init__(f"{dir_path.rstrip('/')}/{glob}", streaming)


class TestingSource(Source):
    """In-memory rows (reference ``pysrc/bytewax/testing.py:148-260``).

    Batch: ``createDataFrame``. Streaming: written to a temp parquet
    dir and re-read with ``readStream`` so availableNow-triggered tests
    exercise the real micro-batch path.

    Fault-injection sentinels (reference ``TestingSource.EOF`` /
    ``ABORT`` / ``PAUSE``, ``testing.py:165-200``) may appear inline
    in ``items`` when ``streaming=True``:

    - :class:`TestingSource.EOF` — ends the current *execution*'s
      input here; the next execution (same checkpoint, after calling
      :meth:`advance`) continues from the item after it.
    - :class:`TestingSource.ABORT` — the micro-batch containing it
      raises, failing the query. Triggers once: the restart skips it
      and Spark's checkpoint replays the failed batch (the
      reference's "resume from some item before this one").
    - :class:`TestingSource.PAUSE` — the stream goes silent for the
      duration before later items emit.

    Like the reference's, this is a single-process testing facility
    (the ABORT arm flag lives on the local filesystem).
    """

    from dataclasses import dataclass as _dc

    @_dc
    class EOF:
        """End this execution's input; the next execution continues
        after it."""

    @_dc
    class ABORT:
        """Fail the query when this point of the stream is processed;
        fires exactly once (skipped on the resume execution)."""

    @_dc
    class PAUSE:
        """Emit nothing for ``for_duration`` before continuing."""

        for_duration: timedelta

    def __init__(
        self,
        items: Iterable[Any],
        schema: Any | None = None,
        streaming: bool = False,
        files: int = 1,
    ) -> None:
        self.items, self.schema, self.streaming, self.files = list(items), schema, streaming, files
        self._stage: str | None = None
        self._phases: list[list[Any]] | None = None
        self._released = 0
        self._seg = 0
        self._last_mtime_ms = 0
        self._data_schema = None

    # -- sentinel handling ------------------------------------------
    def _split_phases(self) -> list[list[Any]]:
        """Phases delimited by EOF; ABORT/PAUSE stay inline as control
        entries."""
        phases: list[list[Any]] = [[]]
        for it in self.items:
            if isinstance(it, TestingSource.EOF):
                phases.append([])
            else:
                phases[-1].append(it)
        return [p for i, p in enumerate(phases) if p or i == 0]

    def _rows_df(self, spark: SparkSession, rows: list[Any]):
        import pandas as pd

        if rows and isinstance(rows[0], dict):
            return spark.createDataFrame(pd.DataFrame(rows), schema=self._data_schema or self.schema)
        return spark.createDataFrame(rows, schema=self._data_schema or self.schema)

    def _write_segment(self, spark: SparkSession, rows: list[Any], ctl: str | None) -> None:
        """One parquet file = one micro-batch (maxFilesPerTrigger=1).
        Control segments carry null data columns + the _bw_ctl tag."""
        import glob
        import os
        import shutil

        from pyspark.sql import functions as F

        assert self._stage is not None
        if ctl is None:
            df = self._rows_df(spark, rows).withColumn("_bw_ctl", F.lit(None).cast("string"))
        else:
            schema = self._data_schema
            nulls = [F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
            df = spark.range(1).select(*nulls, F.lit(ctl).alias("_bw_ctl"))
        tmp = os.path.join(self._stage, "_tmp")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        for f in sorted(glob.glob(os.path.join(tmp, "part-*.parquet"))):
            # the file source replays in mtime order (millisecond
            # resolution): each segment lands strictly after the last
            ms = max(os.stat(f).st_mtime_ns // 10**6, self._last_mtime_ms + 1)
            os.utime(f, ns=(ms * 10**6, ms * 10**6))
            self._last_mtime_ms = ms
            shutil.move(f, os.path.join(self._stage, f"segment-{self._seg:05d}.parquet"))
            self._seg += 1
        shutil.rmtree(tmp, ignore_errors=True)

    def _write_phase(self, spark: SparkSession, phase: list[Any]) -> None:
        import os
        import uuid

        pending: list[Any] = []

        def flush() -> None:
            if not pending:
                return
            chunks = max(1, min(self.files, len(pending))) if self.files > 1 else 1
            per = max(1, (len(pending) + chunks - 1) // chunks)
            for i in range(0, len(pending), per):
                self._write_segment(spark, pending[i : i + per], None)
            pending.clear()

        flags_dir = self._stage + "_flags"  # outside the watched path
        os.makedirs(flags_dir, exist_ok=True)
        for it in phase:
            if isinstance(it, TestingSource.ABORT):
                flush()
                flag = os.path.join(flags_dir, f"abort-{uuid.uuid4().hex}.armed")
                with open(flag, "w") as f:
                    f.write("armed")
                self._write_segment(spark, [], f"abort:{flag}")
            elif isinstance(it, TestingSource.PAUSE):
                flush()
                ms = int(it.for_duration.total_seconds() * 1000)
                self._write_segment(spark, [], f"pause:{ms}")
            else:
                pending.append(it)
        flush()

    def advance(self) -> bool:
        """Release the next EOF-delimited phase into the stream (call
        between executions); returns False when no phases remain."""
        if self._phases is None or self._released >= len(self._phases):
            return False
        self._write_phase(self._spark(), self._phases[self._released])
        self._released += 1
        return True

    def to_df(self) -> DataFrame:
        spark = self._spark()

        has_sentinels = any(
            isinstance(it, (TestingSource.EOF, TestingSource.ABORT, TestingSource.PAUSE))
            for it in self.items
        )
        if not self.streaming:
            if has_sentinels:
                raise ValueError("EOF/ABORT/PAUSE sentinels require streaming=True")
            return self._rows_df(spark, self.items)

        import os
        import tempfile

        self._stage = tempfile.mkdtemp(prefix="bwspark_testing_src_")
        self._phases = self._split_phases()
        data_rows = [
            it
            for p in self._phases
            for it in p
            if not isinstance(it, (TestingSource.ABORT, TestingSource.PAUSE))
        ]
        self._data_schema = self._rows_df(spark, data_rows).schema
        self._released = 0
        self.advance()

        from pyspark.sql.types import StringType, StructField, StructType

        full_schema = StructType(list(self._data_schema.fields) + [StructField("_bw_ctl", StringType())])
        reader = spark.readStream.schema(full_schema)
        if self.files > 1 or has_sentinels:
            reader = reader.option("maxFilesPerTrigger", 1)
        raw = reader.parquet(self._stage)
        if not has_sentinels:
            return raw.drop("_bw_ctl")

        data_schema = self._data_schema

        def _wrap(batches):
            import os as _os
            import time as _time

            for pdf in batches:
                for c in pdf["_bw_ctl"].dropna():
                    kind, _, arg = c.partition(":")
                    if kind == "pause":
                        _time.sleep(int(arg) / 1000.0)
                    elif kind == "abort" and _os.path.exists(arg):
                        _os.remove(arg)  # fire exactly once
                        raise RuntimeError("TestingSource.ABORT")
                out = pdf[pdf["_bw_ctl"].isna()].drop(columns=["_bw_ctl"])
                if len(out):
                    yield out

        return raw.mapInPandas(_wrap, schema=data_schema)


class KafkaSource(Source):
    """Kafka consumer (reference ``connectors/kafka/__init__.py:306-424``).

    ``brokers`` as ``host:port`` strings compiles to Spark's kafka
    source — partition-per-topic-partition and offset resume are
    native (requires the spark-sql-kafka jar on the classpath).

    ``brokers`` as a single local directory path selects the embedded
    file-backed log (:mod:`bytewax_spark.connectors.kafka_log`): the
    SAME frame schema and the same offset-resume contract (Spark's
    checkpointed file-source log is the committed-offset store), so
    flows developed against it run unchanged on a real broker."""

    def __init__(self, brokers: list[str], topics: list[str], starting_offsets: str = "earliest", streaming: bool = True) -> None:
        self.brokers, self.topics, self.starting_offsets, self.streaming = brokers, topics, starting_offsets, streaming

    def _embedded_df(self) -> DataFrame:
        from pyspark.sql import functions as F

        from bytewax_spark.connectors.kafka_log import KAFKA_FRAME_DDL, KafkaLog

        spark = self._spark()
        log = KafkaLog(self.brokers[0])
        out: DataFrame | None = None
        for topic in self.topics:
            import os

            os.makedirs(log.topic_dir(topic), exist_ok=True)
            reader = spark.readStream if self.streaming else spark.read
            df = reader.schema(KAFKA_FRAME_DDL).parquet(log.topic_dir(topic))
            if self.starting_offsets == "latest":
                # consume only records appended after stream start —
                # Kafka's startingOffsets=latest
                ends = log.end_offsets(topic)
                cond = F.lit(False)
                for p in range(log.n_partitions):
                    cond = cond | (
                        (F.col("partition") == p)
                        & (F.col("offset") >= F.lit(ends.get(p, 0)))
                    )
                df = df.filter(cond)
            out = df if out is None else out.unionByName(df)
        assert out is not None, "KafkaSource needs at least one topic"
        return out

    def to_df(self) -> DataFrame:
        from bytewax_spark.connectors.kafka_log import is_log_path

        if is_log_path(self.brokers):
            return self._embedded_df()
        spark = self._spark()
        reader = spark.readStream if self.streaming else spark.read
        return (
            reader.format("kafka")
            .option("kafka.bootstrap.servers", ",".join(self.brokers))
            .option("subscribe", ",".join(self.topics))
            .option("startingOffsets", self.starting_offsets)
            .load()
        )


class RandomMetricSource(Source):
    """Synthetic ``(metric_name, value)`` ticker (reference
    ``connectors/demo.py:52-102``): the ``rate`` source + projection."""

    def __init__(self, metric_name: str, rows_per_second: int = 10) -> None:
        self.metric_name, self.rps = metric_name, rows_per_second
        self.streaming = True

    def to_df(self) -> DataFrame:
        from pyspark.sql import functions as F

        spark = self._spark()
        return (
            spark.readStream.format("rate")
            .option("rowsPerSecond", self.rps)
            .load()
            .select(
                F.lit(self.metric_name).alias("metric_name"),
                F.col("timestamp").alias("ts"),
                (F.pmod(F.col("value"), F.lit(100)).cast("double")).alias("value"),
            )
        )


class SimplePollingSource(Source):
    """Poll a Python function on a fixed interval (reference
    ``pysrc/bytewax/inputs.py:285-452``): rate-source ticks drive a
    ``mapInPandas`` fetch; the trigger interval is the poll interval."""

    def __init__(self, getter: Any, interval_sec: int, schema: str) -> None:
        self.getter, self.interval_sec, self.schema = getter, interval_sec, schema
        self.streaming = True

    def to_df(self) -> DataFrame:
        import pandas as pd

        from pyspark.sql import functions as F

        spark = self._spark()
        if self.interval_sec >= 1:
            # One 1 Hz tick stream, keep every interval_sec-th tick —
            # exactly one fetch per interval (rate can't go below 1 Hz).
            ticks = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
            ticks = ticks.filter(F.pmod(F.col("value"), F.lit(int(self.interval_sec))) == 0)
        else:
            # Sub-second interval: scale the tick rate up.
            rps = max(1, round(1.0 / float(self.interval_sec)))
            ticks = spark.readStream.format("rate").option("rowsPerSecond", rps).load()
        getter = self.getter

        def fetch(batches):
            for pdf in batches:
                for _ in range(len(pdf)):
                    yield pd.DataFrame([getter()])

        return ticks.mapInPandas(fetch, schema=self.schema)


# -- batching helpers for custom-source authors -------------------------
# (reference §2.6 input helpers, ``pysrc/bytewax/inputs.py:455-629``:
# ``batch`` / ``batch_getter`` / ``batch_getter_ex`` / ``batch_async``.)
# Arrow batching is native on the Spark path, so the ENGINE never needs
# these — they exist for the user-side contract: code written against
# the reference's helpers (hand-rolled pollers, queue drains, async
# feeds wrapped for TestingSource / SimplePollingSource) ports over
# unchanged. Semantics matched to the reference: batch() never yields
# an empty list; the getter variants yield a (possibly empty) partial
# batch on their "no items yet" signal and yield the final partial
# batch once on EOF (StopIteration); batch_async never blocks longer
# than `timeout` per yielded batch and keeps the in-flight item task
# alive across timeouts so no item is lost.


def batch(ib, batch_size: int):
    """Chunk an iterable into lists of at most ``batch_size`` items.
    Yields only non-empty batches; stops when the iterable is
    exhausted."""
    from itertools import islice

    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size}")
    it = iter(ib)
    for head in it:
        chunk = [head]
        chunk.extend(islice(it, batch_size - 1))
        yield chunk


def batch_getter(getter, batch_size: int, yield_on=None):
    """Chunk a getter that signals "no item yet" with a SENTINEL value
    (``yield_on``, default None). Each yielded batch has at most
    ``batch_size`` items; seeing the sentinel ends the current batch
    (which may be empty — the caller's poll loop keeps cadence); the
    getter raising StopIteration is EOF: the final partial batch is
    yielded once, then iteration ends."""
    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size}")
    while True:
        chunk: list = []
        while len(chunk) < batch_size:
            try:
                item = getter()
            except StopIteration:
                yield chunk
                return
            if item == yield_on:
                break
            chunk.append(item)
        yield chunk


def batch_getter_ex(getter, batch_size: int, yield_ex=None):
    """Chunk a getter that signals "no item yet" by RAISING
    ``yield_ex`` (default ``queue.Empty`` — the queue-drain idiom).
    Same batch/EOF contract as :func:`batch_getter`."""
    import queue

    if yield_ex is None:
        yield_ex = queue.Empty
    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size}")
    while True:
        chunk: list = []
        while len(chunk) < batch_size:
            try:
                chunk.append(getter())
            except yield_ex:
                break
            except StopIteration:
                yield chunk
                return
        yield chunk


def batch_async(aib, timeout: timedelta, batch_size: int, loop=None):
    """Drive an async iterable from synchronous code, yielding at most
    every ``timeout``: each yielded batch holds up to ``batch_size``
    items gathered within the window (possibly zero — the caller's
    poll loop keeps its cadence and never blocks past the timeout).
    The in-flight ``__anext__`` task is shielded from the timeout
    cancellation and carried over to the next batch, so no item is
    ever dropped at a window boundary. Ends when the async iterator
    is exhausted and all gathered items have been yielded."""
    import asyncio

    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size}")
    ait = aib.__aiter__()
    run_loop = loop if loop is not None else asyncio.new_event_loop()
    carry: list = [None]  # the in-flight __anext__ task, if any

    async def _gather() -> list:
        chunk: list = []
        while len(chunk) < batch_size:
            if carry[0] is None:
                carry[0] = run_loop.create_task(ait.__anext__())
            try:
                # shield: a timeout must not kill the fetch itself —
                # the pending task is resumed by the NEXT batch
                item = await asyncio.shield(carry[0])
            except asyncio.CancelledError:
                break  # window closed; yield what we have
            except StopAsyncIteration:
                if chunk:
                    break  # flush gathered items; EOF re-raises next call
                raise
            carry[0] = None
            chunk.append(item)
        return chunk

    while True:
        try:
            yield run_loop.run_until_complete(
                asyncio.wait_for(_gather(), timeout.total_seconds())
            )
        except StopAsyncIteration:
            return
