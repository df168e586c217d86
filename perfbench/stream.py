"""The streaming workload: two flows over watched parquet directories,
run one after the other in one session.

``WindowDrain`` (closed loop): a staged backlog, one file per micro-batch,
drained cold and then warm, each time from a fresh checkpoint, by an
availableNow query running a custom-fold tumbling ``fold_window`` over few
keys into a ``MemorySink``. ``KeyedOpen`` (open loop): a generator thread
publishes a file every tick at a fixed rate,
whatever the query is doing, and a ``stateful_map_stream`` running mean
over many Zipf-skewed keys, triggered at a fixed interval, feeds a
foreachBatch body that hands each batch to ``MemorySink.write_batch`` and
stamps each result row on arrival.
The two use the state store in opposite ways: few keys with large row
buffers, many keys with tiny state.
"""

from __future__ import annotations

import json
import os
import threading
import time
from datetime import timedelta

import numpy as np
import pandas as pd

from perfbench import fixtures, flows, sparkprobe
from perfbench.spans import Tracer, batch_spans, median, percentile, progress_epoch, progress_metrics

# closed loop: few keys, one window per key that spans every micro-batch
# of a drain, so each key's row buffer grows through the whole drain. The
# same backlog is drained from a fresh checkpoint each time: first as the
# process's first streaming job, then DRAIN_WARM_REPS times warm
DRAIN_FILES = 4
DRAIN_EVENTS_PER_FILE = 2000
DRAIN_KEYS = 4
DRAIN_FILE_SPAN_S = 60  # event time covered by one file
DRAIN_WINDOW = timedelta(seconds=DRAIN_FILES * DRAIN_FILE_SPAN_S)
DRAIN_DELAY = timedelta(seconds=30)
DRAIN_WARM_REPS = 3

# open loop: many Zipf-skewed keys with tiny state
OPEN_RATE = 50.0  # events per second
OPEN_TICK_S = 0.1
OPEN_USERS = 2000
OPEN_WARMUP_S = 1.0  # after the first result, before latency counts
# a fixed trigger interval near three times the batch time (about 1.4 s,
# nearly all of it fixed per-batch cost). Back to back, one slow batch
# feeds its backlog into the next; with a 2 or 3 s interval, a host slowed
# by its neighbours pushed batches past the interval, the backlog grew, and
# the latency median of those runs doubled
OPEN_TRIGGER = "4 seconds"


def _progress(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


class _Dirs:
    def __init__(self, work: str, name: str, fn_dir: str) -> None:
        self.root = os.path.join(work, name)
        self.staging = os.path.join(self.root, "staging")
        self.watched = os.path.join(self.root, "watched")
        self.fn = fn_dir
        for d in (self.staging, self.watched):
            os.makedirs(d, exist_ok=True)
        self._ck = 0

    def checkpoint(self) -> str:
        self._ck += 1
        return os.path.join(self.root, f"checkpoint-{self._ck}")


class WindowDrain:
    def __init__(self, work: str, seed: int, tracer: Tracer, fn_dir: str) -> None:
        self.tracer = tracer
        self.dirs = _Dirs(work, "drain", fn_dir)
        rng = np.random.default_rng(seed)
        base = fixtures.EPOCH_US
        span = DRAIN_FILE_SPAN_S * 1_000_000
        # one far-future event, last in the last file, moves the watermark
        # past every real window, which the next (no-data) batch emits
        far = base + (DRAIN_FILES + 100) * span
        frames = []
        mtime0 = time.time() - DRAIN_FILES - 10
        for i in range(DRAIN_FILES):
            ts = base + i * span + np.sort(rng.integers(0, span, DRAIN_EVENTS_PER_FILE))
            ids = np.arange(i * DRAIN_EVENTS_PER_FILE, (i + 1) * DRAIN_EVENTS_PER_FILE)
            keys = rng.integers(0, DRAIN_KEYS, DRAIN_EVENTS_PER_FILE)
            amount = rng.integers(1, 1000, DRAIN_EVENTS_PER_FILE)
            frames.append(pd.DataFrame({"event_id": ids, "user_id": keys, "ts": ts, "amount": amount}))
            if i == DRAIN_FILES - 1:
                ids, keys = np.append(ids, ids[-1] + 1), np.append(keys, 0)
                ts, amount = np.append(ts, far), np.append(amount, 1)
            fixtures.publish(fixtures.event_table(ids, keys, ts, amount, ts), self.dirs.staging,
                             self.dirs.watched, f"part-{i:05d}.parquet", mtime0 + i)
        self.events = pd.concat(frames, ignore_index=True)
        self.n_events = DRAIN_FILES * DRAIN_EVENTS_PER_FILE + 1
        self.paths = [self.dirs.watched]
        self.first_s = 0.0
        self.warm: list[tuple[float, float]] = []  # (job seconds, start-to-end seconds)
        self.progress: list[dict] = []
        self.layers: dict[str, float] = {}
        self._drains = 0

    def _flow(self, spark, fold, watched: str):
        import bytewax_spark.operators as op
        import bytewax_spark.operators.windowing as win
        from bytewax_spark.dataflow import Dataflow
        from pyspark.sql import functions as F

        with self.tracer.span("sources.open"):
            src = (spark.readStream.schema(fixtures.EVENT_SCHEMA)
                   .option("maxFilesPerTrigger", 1).parquet(watched))
        with self.tracer.span("operators.build"):
            flow = Dataflow("drain")
            s = op.input("in", flow, src)
            # the file's TIMESTAMP_NTZ must become TIMESTAMP for withWatermark
            s = op.map("cast", s, {"event_id": "event_id", "user_id": "user_id", "amount": "amount",
                                   "ts": F.col("ts").cast("timestamp")})
            ks = op.key_on("key", s, "user_id")
            out = win.fold_window("win", ks, win.EventClock("ts", wait_for_system_duration=DRAIN_DELAY),
                                  win.TumblingWindower(DRAIN_WINDOW), fold=fold, schema=flows.WINDOW_SCHEMA)
        return out.df

    def _drain(self, spark) -> tuple[float, float, list[dict], object]:
        """One drain of the backlog from a fresh checkpoint into a memory
        table named after the drain; returns (job seconds, start-to-end
        seconds, progress, query)."""
        from bytewax_spark.sinks import MemorySink

        fold = flows.traced_window_totals if self.tracer.enabled else flows.window_totals
        self._drains += 1
        t0 = time.perf_counter()
        df = self._flow(spark, fold, self.dirs.watched)
        sink = MemorySink(f"drain_{self._drains}")
        t1 = time.perf_counter()
        with self.tracer.span("sinks.write_stream"):
            query = sink.write_stream(df, checkpoint=self.dirs.checkpoint(), availableNow=True)
        query.awaitTermination()
        t2 = time.perf_counter()
        if query.exception() is not None:
            raise RuntimeError(f"drain query failed: {query.exception()}")
        return t2 - t0, t2 - t1, _progress(query), query

    def measure_cold(self, spark) -> None:
        """The first drain: the process's first streaming job."""
        with self.tracer.span("drain.cold"):
            self.first_s, _, _, _ = self._drain(spark)

    def measure_warm(self, spark) -> None:
        """One warm drain; the layer numbers come from the last one."""
        fn0 = flows.user_fn_ms(self.dirs.fn)
        with self.tracer.span("drain.warm") as warm:
            job_s, drain_s, progress, query = self._drain(spark)
        self.warm.append((job_s, drain_s))
        self.progress = progress
        if self.tracer.enabled:
            batch_spans(self.tracer, progress, warm.id)
            self.layers = {"user_fn_ms": flows.user_fn_ms(self.dirs.fn) - fn0,
                           **sparkprobe.group_counts(spark, str(query.runId))}

    def check(self, spark) -> tuple[int, int]:
        """(events attempted, events whose window result is missing or
        wrong in the last drain's output)."""
        got = spark.sql(f"SELECT * FROM drain_{self._drains}").toPandas()
        ev = self.events
        win_us = int(DRAIN_WINDOW.total_seconds() * 1_000_000)
        ev = ev.assign(ws=(ev["ts"] // win_us) * win_us)
        want = ev.groupby(["user_id", "ws"]).agg(
            n=("event_id", "size"), total=("amount", "sum"), max_event_id=("event_id", "max")).reset_index()
        got_ws = got["window_start"].astype("datetime64[us]").astype("int64")
        got = got.assign(user_id=got["key"], ws=got_ws)[["user_id", "ws", "n", "total", "max_event_id"]]
        merged = want.merge(got, on=["user_id", "ws"], how="outer", suffixes=("", "_got"), indicator=True)
        ok = (merged["_merge"] == "both") & (merged["n"] == merged["n_got"]) & \
             (merged["total"] == merged["total_got"]) & (merged["max_event_id"] == merged["max_event_id_got"])
        bad_events = int(merged.loc[~ok, "n"].fillna(0).sum())
        extra = int((merged["_merge"] == "right_only").sum())
        return self.n_events - 1, bad_events + extra

    def per_layer(self) -> dict[str, float]:
        pm = progress_metrics(self.progress)
        return {
            "windowing.add_batch_ms_p50": pm["add_batch_ms_p50"],
            "windowing.add_batch_ms_p99": pm["add_batch_ms_p99"],
            "windowing.user_fn_ms": self.layers.get("user_fn_ms", 0.0) / max(pm["data_batches"], 1.0),
            **_state_layers("state.window", pm),
        }


def _state_layers(prefix: str, pm: dict[str, float]) -> dict[str, float]:
    return {f"{prefix}.{k}": pm[f"state_{k}"]
            for k in ("rows_total", "memory_bytes", "commit_ms", "update_ms", "rows_updated")}


class _Generator(threading.Thread):
    """Publishes one file per tick at ``OPEN_RATE`` until ``stop_at``
    (monotonic), on a schedule that does not wait for the query. Each
    event carries its scheduled send time."""

    def __init__(self, dirs: _Dirs, seed: int) -> None:
        super().__init__(name="perfbench-generator", daemon=True)
        self.dirs = dirs
        self.rng = np.random.default_rng(seed)
        self.stop_at = float("inf")
        self.published: list[tuple[float, int]] = []  # (epoch publish time, events so far)
        self.late_ms: list[tuple[float, float]] = []  # (epoch scheduled tick, ms late)
        self.frames: list[pd.DataFrame] = []
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            self._run()
        except BaseException as exc:  # surfaced by the main thread after join
            self.error = exc

    def _run(self) -> None:
        mono0 = time.monotonic()
        epoch0 = time.time()
        sent, tick, last_mtime = 0, 0, 0.0
        while True:
            tick += 1
            due = mono0 + tick * OPEN_TICK_S
            if due > self.stop_at:
                return
            delay = due - time.monotonic()
            if delay > 0:
                time.sleep(delay)
            upto = int(tick * OPEN_TICK_S * OPEN_RATE)
            ids = np.arange(sent, upto)
            sched_us = ((epoch0 + (ids + 1) / OPEN_RATE) * 1_000_000).astype(np.int64)
            keys = fixtures.zipf_keys(self.rng, len(ids), OPEN_USERS)
            amount = self.rng.integers(1, 1000, len(ids))
            table = fixtures.event_table(ids, keys, sched_us, amount, sched_us)
            mtime = max(time.time(), last_mtime + 0.002)
            fixtures.publish(table, self.dirs.staging, self.dirs.watched, f"tick-{tick:07d}.parquet", mtime)
            last_mtime = mtime
            now = time.time()
            self.late_ms.append((epoch0 + tick * OPEN_TICK_S, (time.monotonic() - due) * 1000.0))
            self.published.append((now, upto))
            self.frames.append(pd.DataFrame({"event_id": ids, "user_id": keys, "amount": amount,
                                             "sched_us": sched_us}))
            sent = upto


class KeyedOpen:
    def __init__(self, work: str, seed: int, tracer: Tracer, fn_dir: str) -> None:
        self.tracer = tracer
        self.seed = seed
        self.dirs = _Dirs(work, "open", fn_dir)
        # one warm-up file so the session's footer read has a schema to read
        fixtures.publish(fixtures.event_table(*[np.array([-1])] * 5), self.dirs.staging,
                         self.dirs.watched, "tick-0000000.parquet", time.time() - 60)
        self.paths = [self.dirs.watched]
        self.received: list[tuple[int, int, int, float, float]] = []
        self.write_ms: list[tuple[float, float]] = []  # (epoch arrival, ms in write_batch)
        self.sink = None
        self.first_s = 0.0
        self._t0 = 0.0
        self.progress: list[dict] = []
        self.all_progress: list[dict] = []
        self.layers: dict[str, float] = {}
        self.gen: _Generator | None = None
        self.window = (0.0, 0.0)

    def _sink(self, batch_df, batch_id) -> None:
        """foreachBatch body: the repository sink collects the batch (the
        one action that runs it), then every new row is stamped."""
        seen = len(self.sink.rows)
        t0 = time.perf_counter()
        with self.tracer.span("sinks.write_batch"):
            self.sink.write_batch(batch_df.select("event_id", "user_id", "sched_us", "mean"))
        write_ms = (time.perf_counter() - t0) * 1000.0
        now = time.time()
        self.received.extend((r[0], r[1], r[2], r[3], now) for r in self.sink.rows[seen:])
        self.write_ms.append((now, write_ms))
        if not self.first_s:
            self.first_s = time.perf_counter() - self._t0

    def measure(self, spark, seconds: float) -> None:
        import bytewax_spark.operators as op
        from bytewax_spark.dataflow import Dataflow
        from bytewax_spark.sinks import MemorySink
        from bytewax_spark.sources import ParquetSource
        from bytewax_spark.streaming import stateful_map_stream

        self.sink = MemorySink("open")
        mapper = flows.traced_running_mean if self.tracer.enabled else flows.running_mean
        self._t0 = time.perf_counter()
        with self.tracer.span("sources.open"):
            src = ParquetSource(self.dirs.watched, streaming=True, schema=fixtures.EVENT_SCHEMA)
        with self.tracer.span("operators.build"):
            flow = Dataflow("open")
            s = op.input("in", flow, src)
            s = op.filter("real", s, "event_id >= 0")
            ks = op.key_on("key", s, "user_id")
            out = stateful_map_stream("mean", ks, mapper, value_col="amount", out_col="mean",
                                      order_by="event_id")
        self.gen = gen = _Generator(self.dirs, self.seed)
        with self.tracer.span("open.run") as run:
            query = (out.df.writeStream.foreachBatch(self._sink).trigger(processingTime=OPEN_TRIGGER)
                     .option("checkpointLocation", self.dirs.checkpoint()).start())
            gen.start()
            try:
                while not self.first_s and query.isActive:
                    time.sleep(0.01)
                first_epoch = time.time()
                self.window = (first_epoch + OPEN_WARMUP_S, first_epoch + OPEN_WARMUP_S + seconds)
                fn0 = flows.user_fn_ms(self.dirs.fn)
                gen.stop_at = time.monotonic() + OPEN_WARMUP_S + seconds
                gen.join()
                if gen.error is not None:
                    raise gen.error
                total = gen.published[-1][1] if gen.published else 0
                deadline = time.monotonic() + 60
                while len(self.received) < total and query.isActive and time.monotonic() < deadline:
                    time.sleep(0.02)
            finally:
                gen.stop_at = 0.0
                gen.join()
                query.stop()
        if query.exception() is not None:
            raise RuntimeError(f"open-loop query failed: {query.exception()}")
        lo, hi = self.window
        self.all_progress = _progress(query)
        self.progress = [p for p in self.all_progress if lo <= progress_epoch(p) < hi]
        if self.tracer.enabled:
            batch_spans(self.tracer, self.progress, run.id)
            self.layers = {"user_fn_ms": flows.user_fn_ms(self.dirs.fn) - fn0,
                           **sparkprobe.group_counts(spark, str(query.runId))}

    def latencies(self) -> list[float]:
        """Per event scheduled inside the measured window: seconds from its
        scheduled send time to its result row reaching the sink."""
        lo, hi = self.window
        return [recv - sched / 1e6 for _, _, sched, _, recv in self.received if lo <= sched / 1e6 < hi]

    def check(self, spark) -> tuple[int, int]:
        """(events attempted, events missing, duplicated or wrong)."""
        sent = pd.concat(self.gen.frames, ignore_index=True) if self.gen.frames else pd.DataFrame()
        got = pd.DataFrame(self.received, columns=["event_id", "user_id", "sched_us", "mean", "recv"])
        dups = int(got["event_id"].duplicated().sum())
        sent = sent.sort_values("event_id")
        g = sent.groupby("user_id")["amount"]
        sent = sent.assign(want=g.cumsum() / (g.cumcount() + 1))
        merged = sent.merge(got.drop_duplicates("event_id"), on="event_id", how="left", suffixes=("", "_got"))
        wrong = merged["mean"].isna() | ((merged["mean"] - merged["want"]).abs() > 1e-9 * merged["want"].abs())
        extra = int((~got["event_id"].isin(sent["event_id"])).sum())
        return len(sent), int(wrong.sum()) + dups + extra

    def per_layer(self) -> dict[str, float]:
        pm = progress_metrics(self.progress)
        lo, hi = self.window
        # backlog: published but not yet read when each batch started;
        # the first batch also reads the one-row warm-up file
        backlog, read = 0.0, -1
        for p in self.all_progress:
            start = progress_epoch(p)
            published = max((n for t, n in self.gen.published if t <= start), default=0)
            if lo <= start < hi:
                backlog = max(backlog, float(published - read))
            read += int(p.get("numInputRows", 0))
        return {
            "sources.get_batch_ms": pm["get_batch_ms"],
            "sources.rows_per_batch": pm["rows_per_batch"],
            "sources.backlog_max": backlog,
            "sources.gen_late_ms": max((ms for t, ms in self.gen.late_ms if lo <= t < hi), default=0.0),
            "streaming.add_batch_ms_p50": pm["add_batch_ms_p50"],
            "streaming.add_batch_ms_p99": pm["add_batch_ms_p99"],
            "streaming.user_fn_ms": self.layers.get("user_fn_ms", 0.0) / max(pm["data_batches"], 1.0),
            **_state_layers("state.keyed", pm),
            "spark.stream.trigger_ms_p50": pm["trigger_ms_p50"],
            "spark.stream.trigger_ms_p99": pm["trigger_ms_p99"],
            "spark.stream.query_planning_ms": pm["query_planning_ms"],
            "spark.stream.wal_commit_ms": pm["wal_commit_ms"],
            "spark.stream.commit_offsets_ms": pm["commit_offsets_ms"],
            "spark.stream.data_batch_frac": pm["data_batch_frac"],
            "sinks.write_ms": median([ms for t, ms in self.write_ms if lo <= t < hi]),
        }


class StreamRun:
    """Both flows in one session: a cold drain, the open loop, then the
    warm drains.

    A job is one drain of the staged backlog; latency is the open loop's,
    from each event's scheduled send time to its result at the sink."""

    def __init__(self, work: str, seed: int, tracer: Tracer, seconds: float) -> None:
        self.tracer = tracer
        self.seconds = seconds
        self.fn_dir = os.path.join(work, "fn")
        os.makedirs(self.fn_dir, exist_ok=True)
        self.drain = WindowDrain(work, seed, tracer, self.fn_dir)
        self.open = KeyedOpen(work, seed, tracer, self.fn_dir)
        self.paths = self.drain.paths + self.open.paths

    def measure(self, spark) -> None:
        # recentProgress keeps the last 100 batches by default; keep them all
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
        self.drain.measure_cold(spark)
        self.open.measure(spark, self.seconds)
        for _ in range(DRAIN_WARM_REPS):
            self.drain.measure_warm(spark)

    def check(self, spark) -> tuple[int, int]:
        a1, f1 = self.drain.check(spark)
        a2, f2 = self.open.check(spark)
        return a1 + a2, f1 + f2

    def end_to_end(self) -> dict[str, float]:
        d, o = self.drain, self.open
        lat = o.latencies()
        return {
            # the least disturbed warm drain: host stalls only ever add time
            "job_s": min(job for job, _ in d.warm),
            "first_job_s": d.first_s,
            "latency_p50_ms": percentile(lat, 50) * 1000.0,
            "latency_p99_ms": percentile(lat, 99) * 1000.0,
            "events_per_s": (d.n_events - 1) / min(drain for _, drain in d.warm),
            "samples": float(len(lat)),
        }

    def per_layer(self) -> dict[str, float]:
        exec_counts = {k: self.drain.layers.get(k, 0.0) + self.open.layers.get(k, 0.0)
                       for k in ("jobs", "stages", "tasks")}
        return {
            **self.drain.per_layer(),
            **self.open.per_layer(),
            "operators.build_ms": median([s.ms for s in self.tracer.named("operators.build")]),
            **{f"spark.exec.{k}": v for k, v in exec_counts.items()},
        }
