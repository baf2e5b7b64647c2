"""Batch query workloads: registry callables from
`mysense_spark.queries.spark_queries()` over seeded tables.

A run goes through the workload's list twice, in list order: a cold
pass in the fresh JVM, then a warm pass over a fresh copy of the tables;
both are timed. Each query's result is collected into pandas
(`toPandas`) inside the timed region; the collected frames of both
passes are checked against the DuckDB oracle afterwards.
"""

from __future__ import annotations

import time

from .spans import SparkCounters, Tracer

TRACED_MODULES = ("timeseries", "qc", "indices", "regression", "geo", "ingest", "similarity", "dedup")
LAYER_UNITS = {
    "busy_s": "s", "plan_s": "s", "jobs": "count", "stages": "count", "tasks": "count",
    "task_s": "s", "shuffle_bytes": "B", "input_bytes": "B", "core_util": "ratio",
}


def module_of() -> dict[str, str]:
    """{query name: operator module} for the traced modules."""
    import importlib

    out = {}
    for m in TRACED_MODULES:
        mod = importlib.import_module(f"mysense_spark.operators.{m}")
        out.update(dict.fromkeys(mod.QUERIES, m))
    return out


def run_queries(spark, names: list[str], sf_dir: str, tracer: Tracer,
                counters: SparkCounters | None) -> dict:
    """Run each query once; returns the tables read, per-query walls,
    results, errors and (when `counters`) per-query work."""
    from mysense_spark import cache
    from mysense_spark.queries import spark_queries

    fns = spark_queries()
    walls: dict[str, float] = {}
    results: dict = {}
    errors: dict[str, str] = {}
    work: dict[str, dict] = {}
    tracked = 0
    t_all = time.perf_counter()
    for name in names:
        with tracer.span("query", op=name):
            if counters:
                counters.set_group(name)
            t0 = time.perf_counter()
            plan_s = 0.0
            try:
                with tracer.span("query.build"):
                    df = fns[name](spark, sf_dir)
                if counters:
                    with tracer.span("query.plan"):
                        t1 = time.perf_counter()
                        df._jdf.queryExecution().executedPlan()
                        plan_s = time.perf_counter() - t1
                with tracer.span("query.execute"):
                    results[name] = df.toPandas()
            except Exception as exc:  # one failed query must not end the run
                errors[name] = f"{type(exc).__name__}: {exc}"
            walls[name] = time.perf_counter() - t0
            tracked += len(getattr(cache, "_TRACKED", ()))
            if counters:
                counters.clear_group()
                work[name] = {**counters.work(counters.group_jobs(name)), "plan_s": plan_s}
    return {
        "run_s": time.perf_counter() - t_all,
        "tables": sf_dir,
        "walls": walls,
        "results": results,
        "errors": errors,
        "work": work,
        "tracked_persists": tracked,
    }


def module_layers(out: dict, cpus: int) -> dict[str, float]:
    """Per operator module: the sums of its queries' walls and work
    counters, and core utilisation = task time / (busy time x cpus)."""
    mods = module_of()
    agg = {f"{m}.{f}": 0.0 for m in TRACED_MODULES for f in LAYER_UNITS}
    for name, w in out["work"].items():
        m = mods.get(name)
        if m is None:
            continue
        agg[f"{m}.busy_s"] += out["walls"][name]
        agg[f"{m}.plan_s"] += w["plan_s"]
        agg[f"{m}.jobs"] += w["jobs"]
        agg[f"{m}.stages"] += w["stages"]
        agg[f"{m}.tasks"] += w["tasks"]
        agg[f"{m}.task_s"] += w["task_ms"] / 1e3
        agg[f"{m}.shuffle_bytes"] += w["shuffle_bytes"]
        agg[f"{m}.input_bytes"] += w["input_bytes"]
    for m in TRACED_MODULES:
        busy = agg[f"{m}.busy_s"]
        agg[f"{m}.core_util"] = agg[f"{m}.task_s"] / (busy * cpus) if busy else 0.0
    return agg


def check_all(out: dict) -> dict[str, str]:
    """{query: failure detail} for every query that raised or whose
    result differs from its oracle."""
    from mysense_spark.queries import registry

    from .checks import check_query

    reg = registry()
    failures = dict(out["errors"])
    for name, pdf in out["results"].items():
        try:
            ok, detail = check_query(name, pdf, reg[name][1], out["tables"])
        except Exception as exc:  # an oracle that cannot run is a failed check
            ok, detail = False, f"oracle error {type(exc).__name__}: {exc}"
        if not ok:
            failures[name] = detail
    return failures
