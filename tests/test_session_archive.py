"""The driver JVM's class-data-sharing archive (``bytewax_spark.session``):
each test starts sessions in subprocesses with their own cache dir."""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time

import pytest

from bytewax_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# starts a session, runs one job and reports on stderr; stdout is the JVM's
SCRIPT = r"""
import json, logging, os, sys, time
from pyspark import SparkContext
from bytewax_spark.session import get_spark

notes = []
handler = logging.Handler()
handler.emit = lambda rec: notes.append(rec.getMessage())
logging.getLogger("bytewax_spark.session").addHandler(handler)
logging.getLogger("bytewax_spark.session").setLevel(logging.INFO)
conf_dir = os.environ.get("SPARK_CONF_DIR")
spark = get_spark("archive-test")
assert spark.range(3).count() == 3
jvm = SparkContext._gateway.proc.pid
with open(f"/proc/{jvm}/maps") as f:
    mapped = sorted({line.split()[-1] for line in f if line.rstrip().endswith(".jsa")})
report = {
    "notes": notes,
    "mapped": mapped,
    "conf_dir_kept": os.environ.get("SPARK_CONF_DIR") == conf_dir,
    "marker": spark.conf.get("spark.bytewax.test.marker", None),
    "jvm": jvm,
}
print("REPORT " + json.dumps(report), file=sys.stderr, flush=True)
if len(sys.argv) > 1:  # hold the session until killed
    with open(sys.argv[1], "w") as f:
        f.write(str(jvm))
    time.sleep(600)
"""


def _env(cache: str, **extra: str) -> dict[str, str]:
    env = {k: v for k, v in os.environ.items() if k not in ("PYSPARK_GATEWAY_PORT", "SPARK_CONF_DIR")}
    env.update(
        XDG_CACHE_HOME=cache,
        PYTHONPATH=ROOT,
        SPARK_GRAFT_MEM="1g",
        SPARK_GRAFT_CPUS="1",
        PYTHONWARNINGS="ignore::FutureWarning",
    )
    env.update(extra)
    return env


def _run(cache: str, cwd: str, **extra: str) -> tuple[dict, str]:
    """Run SCRIPT; returns its report and the JVM's stdout."""
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT], cwd=cwd, env=_env(cache, **extra),
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = next(ln for ln in proc.stderr.splitlines() if ln.startswith("REPORT "))
    return json.loads(line[len("REPORT "):]), proc.stdout


def _archive_for(cache: str, monkeypatch) -> str:
    monkeypatch.setenv("XDG_CACHE_HOME", cache)
    return session._archive_path()


def _gone(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except FileNotFoundError:
        return True


@pytest.fixture(scope="module")
def published(tmp_path_factory):
    """A cache dir whose archive the first launch dumped and published."""
    cache = str(tmp_path_factory.mktemp("cds_cache"))
    report, _ = _run(cache, cache)
    yield cache, report
    shutil.rmtree(cache)  # the archive is over 100 MB


def test_first_launch_publishes_an_archive(published, monkeypatch):
    cache, report = published
    archive = _archive_for(cache, monkeypatch)
    assert report["notes"] == [f"driver JVM class archive dumping at JVM exit: {archive}"]
    assert report["conf_dir_kept"]
    assert os.path.getsize(archive) > 10 << 20
    # no temp file or lock left behind
    assert sorted(os.listdir(os.path.dirname(archive))) == ["empty-conf", os.path.basename(archive)]


def test_second_launch_maps_the_archive(published, monkeypatch):
    cache, _ = published
    archive = _archive_for(cache, monkeypatch)
    report, stdout = _run(cache, cache)
    assert report["notes"] == [f"driver JVM class archive used: {archive}"]
    assert archive in report["mapped"]
    assert report["conf_dir_kept"]
    assert "cds" not in stdout


def test_mismatched_archive_prints_no_cds_line(published, tmp_path, monkeypatch):
    # the archive records its classpath, whose conf dir lies in the first cache
    cache, _ = published
    src = _archive_for(cache, monkeypatch)
    dst = _archive_for(str(tmp_path), monkeypatch)
    os.makedirs(os.path.dirname(dst))
    shutil.copyfile(src, dst)
    report, stdout = _run(str(tmp_path), str(tmp_path))
    assert report["notes"] == [f"driver JVM class archive used: {dst}"]
    assert dst not in report["mapped"]
    assert "cds" not in stdout, stdout
    os.unlink(dst)


def test_truncated_archive_is_deleted(published, tmp_path, monkeypatch):
    # a JVM mapping a truncated archive dies of SIGBUS while it starts
    cache, _ = published
    src = _archive_for(cache, monkeypatch)
    dst = _archive_for(str(tmp_path), monkeypatch)
    os.makedirs(os.path.dirname(dst))
    with open(src, "rb") as f, open(dst, "wb") as g:
        g.write(f.read(os.path.getsize(src) // 2))
    report, _ = _run(str(tmp_path), str(tmp_path))
    assert report["notes"] == [
        f"driver JVM class archive used: {dst}",
        "driver JVM did not start with the class archive options; starting it without",
    ]
    assert dst not in report["mapped"]
    assert not os.path.exists(dst)


def test_garbage_archive_still_gives_a_session(tmp_path, monkeypatch):
    archive = _archive_for(str(tmp_path), monkeypatch)
    os.makedirs(os.path.dirname(archive))
    with open(archive, "wb") as f:
        f.write(b"not a class archive\n" * 50_000)
    report, stdout = _run(str(tmp_path), str(tmp_path))
    assert report["notes"] == [f"driver JVM class archive used: {archive}"]
    assert "cds" not in stdout


def test_killed_dumper_publishes_nothing(tmp_path, monkeypatch):
    archive = _archive_for(str(tmp_path), monkeypatch)
    pid_file = tmp_path / "jvm.pid"
    proc = subprocess.Popen(
        [sys.executable, "-c", SCRIPT, str(pid_file)], cwd=tmp_path, env=_env(str(tmp_path)),
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    try:
        deadline = time.monotonic() + 300
        while not (pid_file.exists() and pid_file.read_text()):
            assert proc.poll() is None and time.monotonic() < deadline
            time.sleep(0.2)
    finally:
        proc.send_signal(signal.SIGKILL)
        proc.wait()
    # the orphaned JVM sees EOF on stdin, exits and writes its temp file
    jvm = int(pid_file.read_text())
    deadline = time.monotonic() + 180
    while not _gone(jvm):
        assert time.monotonic() < deadline, "driver JVM outlived its Python process"
        time.sleep(0.5)
    cache = os.path.dirname(archive)
    left = sorted(os.listdir(cache))
    base = os.path.basename(archive)[: -len(".jsa")]
    assert left == ["empty-conf", f"{base}.{proc.pid}.tmp", f"{base}.lock"]
    session._sweep(cache)
    assert sorted(os.listdir(cache)) == ["empty-conf"]


def test_conf_dir_with_settings_gets_no_archive(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.bytewax.test.marker  yes\n")
    report, _ = _run(str(tmp_path), str(tmp_path), SPARK_CONF_DIR=str(conf))
    assert report["notes"] == [f"driver JVM class archive skipped: {conf} holds spark-defaults.conf"]
    assert report["marker"] == "yes"
    assert report["conf_dir_kept"]
    assert not os.path.exists(tmp_path / "bytewax_spark")


@pytest.mark.parametrize("case", ["held lock", "unwritable cache", "no java", "extra jars"])
def test_plain_launch_when_the_archive_cannot_be_had(case, tmp_path, monkeypatch):
    """Planning a launch never raises; each of these gives a plain one."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    if case == "held lock":
        archive = session._archive_path()
        os.makedirs(os.path.dirname(archive))
        with open(archive[: -len(".jsa")] + ".lock", "w") as f:
            f.write(str(os.getpid()))
    elif case == "unwritable cache":
        (tmp_path / "bytewax_spark").write_text("a file where the cache dir goes")
    elif case == "no java":
        monkeypatch.setenv("JAVA_HOME", str(tmp_path / "no-jdk"))
    else:
        monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "--jars /x.jar pyspark-shell")
    launch = session._plan_launch()
    assert launch.note.startswith("skipped: ")
    assert launch.java_opts is None
    assert launch.dump is None
