"""The benchmark's handle on one Spark process tree.

Sets the environment a local session needs, starts and fully stops the
driver JVM, samples the tree's resident memory from ``/proc``, and reads
the engine's own counters: planner phases and per-job-group job, stage
and task counts.
"""

from __future__ import annotations

import os
import shlex
import signal
import subprocess
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def configure(root: str, work: str, heap: str, max_cores: int) -> int:
    """Point Spark's scratch space into ``work`` and let Python workers
    import the repository. Call before the first session starts; returns
    the core count the session will use: the process's cores, at most
    ``max_cores``."""
    cores = min(len(os.sched_getaffinity(0)), max_cores)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + old if old else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_MEM"] = heap
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.pop("SPARK_MASTER", None)
    # pandas deprecation notices from Spark's own worker code flood stderr
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options", shlex.quote(java_opts),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
        "pyspark-shell",
    ])
    return cores


def start_session(footer_paths: list[str]):
    """A warm session: ``get_spark``, one action, and the footer (schema)
    read of every input the workload scans."""
    from bytewax_spark.io import read_parquet
    from bytewax_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.range(1).count()
    for path in footer_paths:
        read_parquet(spark, path).schema
    return spark


def stop_session(spark) -> None:
    """Stop the session and its JVM, then wait for every process it left."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        # only now: with the JVM gone, closing the callback server that
        # foreachBatch used cannot block on a live connection
        gateway.close()
        SparkContext._gateway = None
        SparkContext._jvm = None
    reap_descendants()


def descendants() -> list[int]:
    """Pids of every live process below this one."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ")"
        parent[int(name)] = int(stat[stat.rindex(")") + 2:].split()[1])
    out, frontier = [], [os.getpid()]
    while frontier:
        pid = frontier.pop()
        kids = [p for p, pp in parent.items() if pp == pid]
        out.extend(kids)
        frontier.extend(kids)
    return out


def reap_descendants(timeout: float = 30.0) -> None:
    """Terminate whatever still runs below this process and wait for it."""
    deadline = time.monotonic() + timeout
    sig = signal.SIGTERM
    while True:
        pids = descendants()
        if not pids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        for pid in pids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)


def tree_rss_bytes() -> int:
    """Resident memory of every process below this one: the driver JVM
    and the Python workers it forks."""
    total = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Background thread that keeps the peak of ``tree_rss_bytes``."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def plan_phases_ms(df) -> dict[str, float]:
    """Force ``df``'s optimization and physical planning and return the
    analysis, optimization and planning time its query tracker recorded.
    py4j exposes no ``durationMs``, so durations come from the start and
    end stamps."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().endTimeMs() - opt.get().startTimeMs()) if opt.isDefined() else 0.0
    return out


def group_counts(spark, group: str) -> dict[str, float]:
    """Jobs, executed stages and completed tasks of one job group."""
    tracker = spark.sparkContext.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = 0
    for sid in stage_ids:
        info = tracker.getStageInfo(sid)
        if info is not None and info.numCompletedTasks > 0:
            stages += 1
            tasks += info.numCompletedTasks
    return {"jobs": float(len(job_ids)), "stages": float(stages), "tasks": float(tasks)}
