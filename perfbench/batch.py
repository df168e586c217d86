"""Batch workloads: registry queries, each rebuilt from its constructor
and written to the ``noop`` sink on every rep."""

from __future__ import annotations

import json
import os
import time

from perfbench import sparkprobe
from perfbench.fixtures import TABLES, file_checksum
from perfbench.spans import Tracer, median

# six of bench.py's 13 headline queries, one per plan shape (grouped
# agg, joins, explode, tumbling / session / running window): sub-second
# jobs whose time is the fixed per-query cost of build, planning and
# stages; their flows are built by ``operators``
CORE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "wordcount",
    "hourly_event_counts",
    "session_windows_30m",
    "cumulative_value_per_user",
]

# a job built by ``functions``: the kNN label screen, the cheapest of the
# functions that ship both an impl="arrow" and an impl="sql" path
LIBRARY = [
    "knn_label_agreement_embeddings",
]

# the JIT keeps speeding the passes up for several of them, and on a
# shared host any pass may be stalled: each query's fastest rep comes from
# a late, undisturbed pass
WARM_PASSES = 4


def oracle_rows(data_dir: str, names: list[str], cache_dir: str) -> dict[str, tuple]:
    """Normalised DuckDB oracle results, cached by input checksum."""
    import duckdb

    from tools.check_oracle import normalize

    paths = [os.path.join(data_dir, f"{t}.parquet") for t in TABLES]
    cache = os.path.join(cache_dir, f"oracle-{file_checksum(paths)}.json")
    cached: dict = {}
    if os.path.exists(cache):
        with open(cache) as f:
            cached = json.load(f)
    import __spark_entry__ as registry

    sql = registry.oracle_sql()
    missing = [n for n in names if n not in cached]
    if missing:
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 4")
            for t, p in zip(TABLES, paths):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
            for n in missing:
                cols, rows = normalize(con.execute(sql[n]).fetchdf())
                cached[n] = [cols, rows]
        finally:
            con.close()
        os.makedirs(cache_dir, exist_ok=True)
        tmp = f"{cache}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(cached, f)
        os.replace(tmp, cache)  # a concurrent reader never sees a partial file
    return {n: (list(cached[n][0]), [tuple(r) for r in cached[n][1]]) for n in names}


class BatchRun:
    """Times every query of one workload in one warm session."""

    def __init__(self, data_dir: str, names: list[str], tracer: Tracer, oracle: dict[str, tuple]) -> None:
        import __spark_entry__ as registry

        self.data_dir, self.names = data_dir, names
        self.tracer, self.oracle = tracer, oracle
        self.queries = registry.queries()
        self.paths = [os.path.join(data_dir, f"{t}.parquet") for t in TABLES]
        self.spark = None
        self.first: dict[str, float] = {}
        self.warm: dict[str, list[float]] = {n: [] for n in names}
        self.built: dict = {}  # per query, the DataFrame of its last rep
        # per query, per warm rep: layer numbers from the traced run
        self.layers: dict[str, list[dict[str, float]]] = {n: [] for n in names}
        self._rep = 0

    def _one(self, name: str) -> tuple[float, dict[str, float]]:
        """Build ``name`` from its constructor and write it to ``noop``."""
        tr, spark, sc = self.tracer, self.spark, self.spark.sparkContext
        self._rep += 1
        group = f"perfbench-{self._rep}"
        layers: dict[str, float] = {}
        t0 = time.perf_counter()
        if tr.enabled:
            sc.setJobGroup(group + "-build", name)
        layer = "functions" if name in LIBRARY else "operators"
        with tr.span(f"{layer}.build") as build:
            df = self.queries[name](spark, self.data_dir)
        if tr.enabled:
            layers[f"{layer}_build_ms"] = build.ms
            layers["eager_jobs"] = sparkprobe.group_counts(spark, group + "-build")["jobs"]
            with tr.span("spark.plan"):
                for phase, ms in sparkprobe.plan_phases_ms(df).items():
                    layers[f"plan_{phase}_ms"] = ms
            sc.setJobGroup(group + "-exec", name)
        with tr.span("spark.exec") as run:
            df.write.format("noop").mode("overwrite").save()
        elapsed = time.perf_counter() - t0
        self.built[name] = df
        if tr.enabled:
            layers["run_ms"] = run.ms
            for k, v in sparkprobe.group_counts(spark, group + "-exec").items():
                layers[k] = v
            sc.setJobGroup("perfbench", "idle")
        return elapsed, layers

    def measure(self, spark) -> None:
        """One cold pass, then ``WARM_PASSES`` warm passes."""
        self.spark = spark
        with self.tracer.span("batch.cold"):
            for n in self.names:
                self.first[n], _ = self._one(n)
        for _ in range(WARM_PASSES):
            with self.tracer.span("batch.warm"):
                for n in self.names:
                    t, layers = self._one(n)
                    self.warm[n].append(t)
                    self.layers[n].append(layers)

    def check(self, spark) -> tuple[int, int]:
        """(queries attempted, queries whose result differs from the oracle),
        collecting each query's last timed DataFrame once more."""
        from tools.check_oracle import normalize

        failed = []
        for n in self.names:
            try:
                got = normalize(self.built[n].toPandas())
            except Exception as exc:  # a query that raises is a failed unit
                print(f"query {n} raised: {exc!r}"[:500])
                failed.append(n)
                continue
            if (got[0], got[1]) != self.oracle[n]:
                print(f"query {n}: result differs from the DuckDB oracle")
                failed.append(n)
        return len(self.names), len(failed)

    def end_to_end(self) -> dict[str, float]:
        # job: per query the least disturbed warm rep, since transient host
        # stalls only ever add time; latency: per query its typical warm
        # rep, which spread less between runs than the fastest rep did
        fastest = [min(self.warm[n]) for n in self.names]
        typical = [median(self.warm[n]) for n in self.names]
        return {
            "job_s": sum(fastest),
            "first_job_s": sum(self.first.values()),
            "latency_p50_ms": median(typical) * 1000.0,
            "samples": float(len(typical)),
        }

    def per_layer(self) -> dict[str, float]:
        """Sum over queries of the per-query median over warm reps."""

        def total(key: str) -> float:
            return sum(median([r.get(key, 0.0) for r in self.layers[n]]) for n in self.names)

        return {
            "operators.build_ms": total("operators_build_ms"),
            "functions.build_ms": total("functions_build_ms"),
            "functions.eager_jobs": total("eager_jobs"),
            "spark.plan.analysis_ms": total("plan_analysis_ms"),
            "spark.plan.optimization_ms": total("plan_optimization_ms"),
            "spark.plan.planning_ms": total("plan_planning_ms"),
            "spark.exec.jobs": total("jobs"),
            "spark.exec.stages": total("stages"),
            "spark.exec.tasks": total("tasks"),
            "spark.exec.run_ms": total("run_ms"),
        }
