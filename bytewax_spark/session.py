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
- a class-data-sharing archive for the driver JVM. A flow is a process,
  and a restart from a checkpoint is a new one, so each pays the driver
  JVM's start, most of which is loading Spark's classes from the jars.
  A JDK AppCDS archive holds those classes pre-parsed, and the JVM maps
  it at start: ``get_spark``, the first action and the footer reads
  took a median 9.7 s without it and 5.3 s with it (12 benchmark runs
  each, 4-core VM, ``local[2]``).

The archive rules:

- It applies only when ``get_spark`` starts the driver JVM of a local
  master, and only when the driver classpath is exactly the conf dir
  plus ``$SPARK_HOME/jars/*``: the conf dir (``SPARK_CONF_DIR``, else
  ``$SPARK_HOME/conf``) holds nothing but ``*.template`` files or does
  not exist; none of ``HADOOP_CONF_DIR``, ``YARN_CONF_DIR``,
  ``SPARK_DIST_CLASSPATH``, ``SPARK_CLASSPATH`` or
  ``SPARK_PREPEND_CLASSES`` is set; and ``PYSPARK_SUBMIT_ARGS`` adds no
  jars or class path. JDK 17 refuses to dump an archive while a
  non-empty directory is on the classpath, so such a launch sets
  ``SPARK_CONF_DIR`` to an empty directory of the cache and restores
  the environment once the JVM is up. Any other launch is a plain one.
- It lives in ``$XDG_CACHE_HOME/bytewax_spark/``, else
  ``~/.cache/bytewax_spark/``, and takes about 160 MB. Its name hashes
  the ``java`` binary and its ``lib/modules``, the name, size and mtime
  of every Spark jar, and the pyspark version, so a JDK or Spark change
  starts a new one.
- The first launch without an archive dumps one when its JVM exits
  (``-XX:ArchiveClassesAtExit``): that start is about a third slower,
  and the exit takes about 12 s more, once. At most one process dumps
  per archive name: it holds an ``O_EXCL`` lock file and dumps to a
  temp file named by its pid. Only that process publishes, by
  ``os.replace``, and only once its JVM exited with code 0: at the next
  launch in the process, or at interpreter exit, where it closes the
  JVM's stdin and waits for it (bounded). A published archive is never
  written in place; temp files and locks of dead pids are deleted.
- Later launches map it (``-XX:SharedArchiveFile``). The JVM ignores an
  archive that does not match its classpath or is not an archive, and
  ``-Xlog:cds=off -Xlog:cds+dynamic=off`` keeps it from saying so on
  stdout. If a JVM started with an archive fails to come up and a plain
  start works, the archive is deleted.
- The options go in ``spark.driver.defaultJavaOptions``, so
  ``--driver-java-options`` and ``spark.driver.extraJavaOptions`` still
  apply. Any failure of the archive machinery (no ``java``, an
  unwritable cache, a held lock) gives a plain launch, never an error.
- Each launch logs one INFO line on this module's logger saying whether
  the archive was used, is being dumped or was skipped, and why.
"""

from __future__ import annotations

import atexit
import hashlib
import logging
import os
import shlex
import shutil
import subprocess
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark import __version__ as _PYSPARK_VERSION
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

__all__ = ["get_spark", "default_parallelism"]

_log = logging.getLogger(__name__)

# anything that puts more than the conf dir and the jars on the driver classpath
_CLASSPATH_VARS = (
    "HADOOP_CONF_DIR",
    "YARN_CONF_DIR",
    "SPARK_DIST_CLASSPATH",
    "SPARK_CLASSPATH",
    "SPARK_PREPEND_CLASSES",
)
_CLASSPATH_ARGS = (
    "--jars",
    "--packages",
    "--driver-class-path",
    "spark.jars",
    "spark.jars.packages",
    "spark.driver.extraClassPath",
)
_CDS_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
# the dump takes about 12 s at JVM exit on a 4-core VM; a slow host doubles it
_EXIT_WAIT_S = 120.0


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


@dataclass
class _Dump:
    """An archive this process's driver JVM writes when it exits."""

    tmp: str
    archive: str
    lock: str
    proc: subprocess.Popen | None = None


@dataclass
class _Launch:
    """How to start the driver JVM; ``note`` is the logged decision."""

    note: str
    java_opts: str | None = None
    conf_dir: str | None = None
    archive: str | None = None  # the archive mapped or to be published
    dump: _Dump | None = None


_dumps: list[_Dump] = []


def _cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "bytewax_spark")


def _unlink(path: str) -> None:
    try:
        os.unlink(path)
    except FileNotFoundError:
        pass


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _plain_classpath_blocker(spark_home: str) -> str | None:
    """Why the driver classpath would hold more than the conf dir and the
    jars, or None."""
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if os.path.isdir(conf):
        extra = sorted(n for n in os.listdir(conf) if not n.endswith(".template"))
        if extra:
            return f"{conf} holds {extra[0]}"
    for var in _CLASSPATH_VARS:
        if os.environ.get(var):
            return f"{var} is set"
    for arg in shlex.split(os.environ.get("PYSPARK_SUBMIT_ARGS", "")):
        if arg.split("=", 1)[0] in _CLASSPATH_ARGS:
            return f"PYSPARK_SUBMIT_ARGS sets {arg.split('=', 1)[0]}"
    return None


def _archive_path(spark_home: str | None = None) -> str:
    """The published archive for this JDK, these Spark jars and this
    pyspark; raises when no ``java`` is found."""
    spark_home = spark_home or _find_spark_home()
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java or not os.path.isfile(java):
        raise FileNotFoundError("no java binary")
    java = os.path.realpath(java)
    st = os.stat(os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "modules"))
    h = hashlib.sha256(f"{java} {st.st_size} {st.st_mtime_ns}\n".encode())
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)):
        st = os.stat(os.path.join(jars, name))
        h.update(f"{name} {st.st_size} {st.st_mtime_ns}\n".encode())
    h.update(_PYSPARK_VERSION.encode())
    return os.path.join(_cache_dir(), f"spark-{h.hexdigest()[:20]}.jsa")


def _sweep(cache: str) -> None:
    """Delete the dump temp files (``<name>.<pid>.tmp``) and the locks of
    processes that are gone."""
    for name in os.listdir(cache):
        path = os.path.join(cache, name)
        if name.endswith(".tmp"):
            pid = name.rsplit(".", 2)[-2]
        elif name.endswith(".lock"):
            try:
                with open(path) as f:
                    pid = f.read().strip()
            except FileNotFoundError:
                continue
        else:
            continue
        if not pid.isdigit() or not _alive(int(pid)):
            _unlink(path)


def _settle(dump: _Dump, wait: float) -> bool:
    """Publish ``dump`` if its JVM exited with code 0, else delete it, and
    release its lock. With ``wait``, first close the JVM's stdin (it exits
    on EOF) and wait up to ``wait`` seconds; without, return False while
    the JVM runs."""
    proc = dump.proc
    if proc is not None and proc.poll() is None:
        if not wait:
            return False
        try:
            proc.stdin.close()
            proc.wait(timeout=wait)
        except (OSError, subprocess.TimeoutExpired):
            pass
    code = None if proc is None else proc.returncode
    written = os.path.isfile(dump.tmp)
    if code == 0 and written:
        os.replace(dump.tmp, dump.archive)
        _log.info("driver JVM class archive published: %s", dump.archive)
    else:
        _unlink(dump.tmp)
        _log.info("driver JVM class archive not published: JVM exit code %s, archive written %s", code, written)
    _unlink(dump.lock)
    return True


def _settle_dumps(wait: float) -> None:
    for dump in list(_dumps):
        try:
            done = _settle(dump, wait)
        except Exception as e:  # never fail a launch or the interpreter's exit
            _log.info("driver JVM class archive not published: %s: %s", type(e).__name__, e)
            done = True
        if done:
            _dumps.remove(dump)


atexit.register(_settle_dumps, _EXIT_WAIT_S)


def _plan_launch() -> _Launch:
    """Map the published archive, dump one at JVM exit, or launch plain.
    Never raises."""
    try:
        spark_home = _find_spark_home()
        blocker = _plain_classpath_blocker(spark_home)
        if blocker:
            return _Launch(f"skipped: {blocker}")
        archive = _archive_path(spark_home)
        cache = os.path.dirname(archive)
        conf_dir = os.path.join(cache, "empty-conf")
        os.makedirs(conf_dir, exist_ok=True)
        if os.listdir(conf_dir):
            return _Launch(f"skipped: {conf_dir} is not empty")
        _settle_dumps(0)
        _sweep(cache)
        if os.path.isfile(archive):
            opts = f"-XX:SharedArchiveFile={shlex.quote(archive)} {_CDS_QUIET}"
            return _Launch(f"used: {archive}", opts, conf_dir, archive)
        base = archive[: -len(".jsa")]
        lock = f"{base}.lock"
        try:
            fd = os.open(lock, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644)
        except FileExistsError:
            return _Launch(f"skipped: {lock} is held, {archive} is being dumped")
        with os.fdopen(fd, "w") as f:
            f.write(str(os.getpid()))
        dump = _Dump(f"{base}.{os.getpid()}.tmp", archive, lock)
        opts = f"-XX:ArchiveClassesAtExit={shlex.quote(dump.tmp)} {_CDS_QUIET}"
        return _Launch(f"dumping at JVM exit: {archive}", opts, conf_dir, archive, dump)
    except Exception as e:
        _log.debug("driver JVM class archive planning failed", exc_info=True)
        return _Launch(f"skipped: {type(e).__name__}: {e}")


def _launch(builder_conf: dict[str, str], launch: _Launch) -> SparkSession:
    """Start the driver JVM as ``launch`` says; a JVM that fails to come up
    with the archive options is started again without them."""
    _log.info("driver JVM class archive %s", launch.note)
    if launch.java_opts is None:
        return SparkSession.builder.config(map=builder_conf).getOrCreate()
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = launch.conf_dir
    try:
        conf = {**builder_conf, "spark.driver.defaultJavaOptions": launch.java_opts}
        spark = SparkSession.builder.config(map=conf).getOrCreate()
    except Exception:
        if SparkContext._gateway is not None:
            raise
        _log.debug("driver JVM start with the class archive options failed", exc_info=True)
        spark = None
    finally:
        if saved is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if spark is None:
        if launch.dump is not None:
            _unlink(launch.dump.tmp)
            _unlink(launch.dump.lock)
        _log.warning("driver JVM did not start with the class archive options; starting it without")
        spark = SparkSession.builder.config(map=builder_conf).getOrCreate()
        if launch.dump is None:
            _unlink(launch.archive)
        return spark
    if launch.dump is not None:
        launch.dump.proc = SparkContext._gateway.proc
        _dumps.append(launch.dump)
    return spark


def get_spark(app_name: str = "bytewax_spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults."""
    par = default_parallelism()
    # local mode: the driver JVM is the whole engine — the 1g default
    # heap causes GC-locker stalls/OOM on wide shuffles long before the
    # machine is used. The upper bound matters just as much: a VM that
    # advertises 128 GiB may be overcommitted by its host, so freshly
    # touched pages fault in at ~0.03-0.4 GB/s while already-backed
    # pages re-fault at ~1-2 GB/s (touching 8 GiB fresh took 21.9 s,
    # re-touching it 4.5 s, the next 8 GiB 288 s). A big heap keeps G1
    # growing into fresh pages mid-query (link_prediction_parts at
    # sf0.1: 24g heap cold 43.7 s / warm median 14.1 s vs 12g cold
    # 9.5 s / median 7.2 s, interleaved A/B on a 32-core VM; 96g was
    # catastrophic, see BASELINE.md), while a modest heap recycles
    # already-faulted memory through GC. 12g is the measured sweet spot
    # for the sf0.1/sf1 bench workloads on that VM; override via env for
    # real clusters, where executor sizing follows the guide's §5 rules
    # instead.
    mem = os.environ.get("SPARK_GRAFT_MEM", "12g")
    conf = {
        "spark.app.name": app_name,
        "spark.driver.memory": mem,
        "spark.sql.shuffle.partitions": str(par),
        "spark.default.parallelism": str(par),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        # MIN/MAX/COUNT over unfiltered scans answered from parquet
        # footer statistics — no row reads at all
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "false",
    }
    if master is None and not os.environ.get("SPARK_MASTER"):
        master = f"local[{par}]"
    if master is not None:
        conf["spark.master"] = master
    launch = None
    if master and master.startswith("local"):
        # above any per-trigger file count: list on the driver
        conf["spark.sql.sources.parallelPartitionDiscovery.threshold"] = "1000000"
        # executors elsewhere may not have the package; see the module docstring
        if _workers_find_daemon():
            conf["spark.python.daemon.module"] = "bytewax_spark._daemon"
            conf["spark.executorEnv.PYTHONPATH"] = _PACKAGE_ROOT
        if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
            launch = _plan_launch()
    spark = SparkSession.builder.config(map=conf).getOrCreate() if launch is None else _launch(conf, launch)
    spark.sparkContext.setLogLevel("WARN")
    return spark
