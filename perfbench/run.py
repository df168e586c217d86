#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload stream --seed 1 --seconds 9 --trace 0

Run from the repository root. The batch workload reads the registry
fixtures copied into ``perfbench/tables/``; the stream workload generates
its events from ``--seed`` under ``.perfbench_work/``. The run starts a
fresh local Spark session on every core, times the workload, checks its
outputs, stops every process it started and removes its inputs. The last line of standard
output is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Traced runs also write their spans to
``.perfbench_work/traces/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

HEAP = "2g"  # per driver JVM; leaves room for the Python workers on a 15 GB box
# task slots of the local session. Both workloads are bound by fixed
# per-query and per-batch costs (planning, codegen, scheduling, Python
# worker calls), not by data volume; leaving cores free for the JIT, the GC
# and the Python workers made runs faster or as fast, and far steadier,
# than one task slot per core on a shared 4-core host
MAX_CORES = 2

END_TO_END = [
    ("setup_s", "s"),
    ("job_s", "s"),
    ("latency_p50_ms", "ms"),
]

PER_LAYER = [
    ("session.start_ms", "ms"),
    ("operators.build_ms", "ms"),
    ("functions.build_ms", "ms"),
    ("functions.eager_jobs", "count"),
    ("spark.plan.analysis_ms", "ms"),
    ("spark.plan.optimization_ms", "ms"),
    ("spark.plan.planning_ms", "ms"),
    ("spark.exec.jobs", "count"),
    ("spark.exec.stages", "count"),
    ("spark.exec.tasks", "count"),
    ("spark.exec.run_ms", "ms"),
    ("sources.get_batch_ms", "ms"),
    ("sources.rows_per_batch", "rows"),
    ("sources.backlog_max", "events"),
    ("sources.gen_late_ms", "ms"),
    ("windowing.add_batch_ms_p50", "ms"),
    ("windowing.add_batch_ms_p99", "ms"),
    ("windowing.user_fn_ms", "ms"),
    ("state.window.rows_total", "rows"),
    ("state.window.memory_bytes", "bytes"),
    ("state.window.commit_ms", "ms"),
    ("state.window.update_ms", "ms"),
    ("state.window.rows_updated", "rows"),
    ("streaming.add_batch_ms_p50", "ms"),
    ("streaming.add_batch_ms_p99", "ms"),
    ("streaming.user_fn_ms", "ms"),
    ("state.keyed.rows_total", "rows"),
    ("state.keyed.memory_bytes", "bytes"),
    ("state.keyed.commit_ms", "ms"),
    ("state.keyed.update_ms", "ms"),
    ("state.keyed.rows_updated", "rows"),
    ("spark.stream.trigger_ms_p50", "ms"),
    ("spark.stream.trigger_ms_p99", "ms"),
    ("spark.stream.query_planning_ms", "ms"),
    ("spark.stream.wal_commit_ms", "ms"),
    ("spark.stream.commit_offsets_ms", "ms"),
    ("spark.stream.data_batch_frac", "ratio"),
    ("sinks.write_ms", "ms"),
    ("proc.rss_peak_mb", "MB"),
    ("trace.job_s", "s"),
]

WORKLOADS = ("batch", "stream")


def _repo_present() -> bool:
    need = ("bytewax_spark/__init__.py", "__spark_entry__.py", "tools/check_oracle.py")
    return all(os.path.isfile(os.path.join(ROOT, p)) for p in need)


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    """Run one workload; returns the numbers the report prints."""
    from perfbench import sparkprobe
    from perfbench.spans import Tracer

    tracer = Tracer(trace)
    cores = sparkprobe.configure(ROOT, work, HEAP, MAX_CORES)

    # inputs first, outside every timed region
    if workload == "batch":
        from perfbench import batch, fixtures

        names = batch.CORE + batch.LIBRARY
        data = fixtures.TABLES_DIR
        oracle = batch.oracle_rows(data, names, os.path.join(ROOT, ".perfbench_work", "oracle-cache"))
        job = batch.BatchRun(data, names, tracer, oracle)
    else:
        from perfbench import stream

        job = stream.StreamRun(work, seed, tracer, seconds)
        os.environ["PERFBENCH_FN_DIR"] = job.fn_dir

    spark = None
    try:
        with sparkprobe.RssSampler() as rss:
            t0 = time.perf_counter()
            with tracer.span("session.start") as session:
                spark = sparkprobe.start_session(job.paths)
            setup_s = time.perf_counter() - t0
            job.measure(spark)
        attempted, failed = job.check(spark)
    finally:
        if spark is not None:
            sparkprobe.stop_session(spark)
        else:  # the session failed to start: whatever it launched still goes
            sparkprobe.reap_descendants()
    e2e = job.end_to_end()
    e2e["setup_s"] = setup_s
    e2e["peak_rss_mb"] = rss.peak / 2**20
    layers = {}
    if trace:
        layers = job.per_layer()
        layers["session.start_ms"] = session.ms
        layers["proc.rss_peak_mb"] = rss.peak / 2**20
        layers["trace.job_s"] = e2e["job_s"]
        trace_dir = os.path.join(ROOT, ".perfbench_work", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(os.path.join(trace_dir, f"{workload}-seed{seed}.json"))
    return {"e2e": e2e, "layers": layers, "attempted": attempted, "failed": failed, "cores": cores}


def report(workload: str, args, res: dict) -> dict:
    e2e = res["e2e"]
    attempted, failed = res["attempted"], res["failed"]
    unit_word = "queries" if workload == "batch" else "events"
    print(f"perfbench {workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
          f"cores={res['cores']} heap={HEAP}")
    extra = [("first_job_s", "s"), ("peak_rss_mb", "MB"), ("latency_p99_ms", "ms"), ("events_per_s", "events/s")]
    for name, unit in END_TO_END + extra:
        if name in e2e:
            print(f"  {name:<16} {e2e[name]:>12.4f} {unit}")
    print(f"  {'failed_frac':<16} {failed / attempted:>12.4f} ratio ({failed} of {attempted} {unit_word})")
    what = "queries, each its median warm rep" if workload == "batch" else "open-loop events"
    print(f"  latency samples: {int(e2e['samples'])} {what}")
    if args.trace:
        for name, unit in PER_LAYER:
            print(f"  {name:<32} {res['layers'].get(name, 0.0):>14.4f} {unit}")
        metrics = {n: {"value": float(res["layers"].get(n, 0.0)), "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not _repo_present():
        print(f"perfbench: no bytewax_spark repository at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        res = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report(args.workload, args, res)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
