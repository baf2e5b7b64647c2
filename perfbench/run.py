"""The repository benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Each invocation is a fresh process with a
private work directory under `.perfbench_work/` (removed at exit):
Spark local dirs, JVM temp dir, warehouse, persisted ANN indexes and all
generated inputs live there, so nothing survives from one run to the
next. Spark runs on `local[<cpus>]`, cpus = the cores this process may
use.

`--trace 0` prints the end-to-end metrics; `--trace 1` runs the timed
body untraced, then a traced drain or warm pass, and prints the
per-layer metrics
(the span file is written to `--trace-out`, default
`perfbench-trace-<workload>.jsonl` in the working directory). Outputs are
checked outside the timed regions; the last line of stdout is one JSON
object {correct, attempted, failed, metrics}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import checks, ingest, queries  # noqa: E402
from perfbench.gen_ttn import write_drop_files  # noqa: E402
from perfbench.spans import MemSampler, SparkCounters, Tracer, percentile  # noqa: E402

# ingest_backlog: `files_per_s` sizes the backlog so that it drains in
# about --seconds on a 4-core host.
# sensor_corpus: a fixed list, run once cold and once warm.
WORKLOADS: dict[str, dict] = {
    "ingest_backlog": {
        "kind": "ingest",
        "lines_per_file": 2000,
        "files_per_s": 0.24,
    },
    "sensor_corpus": {
        "kind": "queries",
        "tables": {"n_events": 20_000, "n_docs": 1000, "n_vecs": 500},
        "queries": [
            "hourly_stats",
            "zscore_outliers",  # qc
            "aqi_index",  # indices
            "linear_regression",  # regression
            "spatial_pairs",  # geo
            "station_calibration",  # ingest
            "ann_ivf_trained",  # similarity
            "minhash_lsh_pairs",  # dedup
        ],
    },
}

# files the traced run replays stage by stage, in a JVM the two drains
# have warmed
STAGED_FILES = 4

E2E_UNITS = {"setup_s": "s", "run_s": "s"}


T0 = time.perf_counter()


def phase(msg: str) -> None:
    """Progress timeline on stderr (stdout carries the results)."""
    print(f"[perfbench {time.perf_counter() - T0:7.1f} s] {msg}", file=sys.stderr, flush=True)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Per-run hygiene, set before the JVM starts so the JVM and its
    Python workers inherit it."""
    for sub in ("local", "tmp", "index", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["MYSENSE_INDEX_DIR"] = os.path.join(work, "index")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the program's own defaults for these
    os.environ.pop("SPARK_SHUFFLE_PARTITIONS", None)
    os.environ.pop("SPARK_DRIVER_MEMORY", None)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        f"--driver-java-options '-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData' "
        "pyspark-shell"
    )


def setup(tables_dir: str | None) -> tuple:
    """The cold set-up, as the collector or a query session pays it: JVM
    and session up, Python workers spawned on every core, input parquet
    footers read. Returns (spark, setup_s, layers)."""
    from mysense_spark.io import TABLES
    from mysense_spark.session import get_spark

    t0 = time.perf_counter()
    with holding_term():
        spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    n = cpus()
    spark.sparkContext.parallelize(range(n), n).map(lambda x: x).count()
    if tables_dir:
        for name in TABLES:
            spark.read.parquet(os.path.join(tables_dir, f"{name}.parquet")).schema
    return spark, time.perf_counter() - t0, {"session.start_s": session_s}


def shutdown() -> None:
    """Stop Spark, if a JVM was launched, and wait for the JVM (and the
    Python workers it owns) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        # a SIGTERM that cut a py4j call short leaves its reply unread,
        # so no further call is made; the JVM stops on its own below
        if not _TERM["received"]:
            if SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()
            gateway.shutdown()
    finally:
        if proc is not None:
            # the JVM exits when its stdin closes
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=15)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


# SIGTERM ends a run through its clean-up; while the JVM is being
# launched it is held, since the gateway that clean-up stops the JVM
# through does not exist yet.
_TERM = {"hold": False, "received": False}


def _on_term(*_) -> None:
    _TERM["received"] = True
    if not _TERM["hold"]:
        sys.exit(143)


@contextmanager
def holding_term():
    _TERM["hold"] = True
    try:
        yield
    finally:
        _TERM["hold"] = False
        if _TERM["received"]:
            sys.exit(143)


def run_ingest(spark, cfg: dict, work: str, seed: int, seconds: int, trace: bool) -> tuple:
    lines = cfg["lines_per_file"]
    n_files = max(ingest.WARMUP_BATCHES + 2, round(seconds * cfg["files_per_s"]))
    files = write_drop_files(os.path.join(work, "drop"), seed, n_files, lines)
    drop = os.path.dirname(files[0])
    layers: dict = {}

    def body(tag: str, tracer: Tracer, counters):
        archive = os.path.join(work, f"archive-{tag}")
        out = ingest.run_stream(spark, drop, os.path.join(work, f"ckpt-{tag}"), archive,
                                tracer, counters)
        out["archive"] = archive
        return out

    base = body("untraced" if trace else "run", Tracer(False), None)
    tracer = Tracer(trace)
    out = base
    if trace:
        counters = SparkCounters(spark)
        with MemSampler() as mem:
            out = body("traced", tracer, counters)
        layers["process.peak_pss_mb"] = mem.peak / 2**20
        layers.update(ingest.stream_layers(out["batches"], out["work"], cpus(), out["run_s"]))
        layers["trace.overhead_s"] = ingest.warm_s(out) - ingest.warm_s(base)
        layers["trace.instrument_s"] = counters.spent_s
        layers.update(ingest.staged_replay(spark, files[:STAGED_FILES],
                                           os.path.join(work, "archive-staged"), tracer))
    phase("timed stream done")
    stats = ingest.batch_stats(base["batches"])
    rows = spark.read.parquet(out["archive"]).count()
    layers.update({"op.first_s": stats["first_s"], "op.p50_s": stats["p50_s"]})
    layers["stream.records_per_s"] = stats["records_per_s"]
    layers["archive.bytes_per_row"] = ingest.archive_bytes(out["archive"]) / rows if rows else 0.0
    ok, detail = checks.check_archive(spark, out["archive"], drop)
    print(f"twin check: {'ok' if ok else 'MISMATCH'}: {detail}", flush=True)
    for p in base["batches"]:
        d = p["durationMs"]
        print(f"micro-batch {p['batchId']}: {p['numInputRows']} lines, "
              f"{d['triggerExecution'] / 1e3:.3f} s (addBatch {d.get('addBatch', 0) / 1e3:.3f} s)",
              flush=True)
    print(f"ingest: {len(files)} files x {lines} lines, one per micro-batch", flush=True)
    print(f"ingest_first_batch_s = {stats['first_s']:.3f} s (cold JVM)", flush=True)
    print(f"microbatch_p50_s = {stats['p50_s']:.3f} s over the {stats['samples']} micro-batches "
          f"after warm-up", flush=True)
    print(f"ingest_records_per_s = {stats['records_per_s']:.1f} lines/s after warm-up",
          flush=True)
    print(f"archive_bytes_per_row = {layers['archive.bytes_per_row']:.2f} B/row over {rows} rows",
          flush=True)
    attempted = len(out["batches"])
    return {"run_s": base["run_s"]}, layers, attempted, 0 if ok else attempted, tracer


def fresh_copy(tables: str, tag: str) -> str:
    """A copy of the tables with its own index directory, so nothing an
    earlier run of the list built (a persisted index, a per-(session,
    path) memo) serves the next one."""
    copy = f"{tables}-{tag}"
    shutil.copytree(tables, copy)
    os.environ["MYSENSE_INDEX_DIR"] = f"{copy}-index"
    os.makedirs(os.environ["MYSENSE_INDEX_DIR"])
    return copy


def run_query_set(spark, cfg: dict, tables: str, trace: bool) -> tuple:
    names = cfg["queries"]
    layers: dict = {}
    cold = queries.run_queries(spark, names, tables, Tracer(False), None)
    phase("cold pass done")
    base = queries.run_queries(spark, names, fresh_copy(tables, "warm"), Tracer(False), None)
    tracer = Tracer(trace)
    runs = {"cold": cold, "warm": base}
    if trace:
        tables = fresh_copy(tables, "traced")
        counters = SparkCounters(spark)
        with MemSampler() as mem:
            out = queries.run_queries(spark, names, tables, tracer, counters)
        runs["traced"] = out
        layers.update(queries.module_layers(out, cpus()))
        layers["cache.tracked_persists"] = float(out["tracked_persists"])
        layers["trace.overhead_s"] = out["run_s"] - base["run_s"]
        layers["trace.instrument_s"] = counters.spent_s
        layers["process.peak_pss_mb"] = mem.peak / 2**20
        layers["dedup.memo_repeat_ratio"] = memo_repeat_ratio(spark, fresh_copy(tables, "memo"))
    phase("warm pass done")
    layers["op.first_s"] = cold["walls"][names[0]]
    layers["op.p50_s"] = percentile([base["walls"][n] for n in names], 0.5)
    failed = 0
    for tag, run in runs.items():
        failures = queries.check_all(run)
        failed += len(failures)
        for name in names:
            print(f"{tag} query {name}: {run['walls'][name]:.3f} s", flush=True)
        for name, detail in failures.items():
            print(f"oracle check FAILED, {tag} {name}: {detail}", flush=True)
        print(f"oracle checks, {tag} pass: {len(names) - len(failures)}/{len(names)} ok",
              flush=True)
    print(f"first_query_s = {layers['op.first_s']:.3f} s ({names[0]}, cold JVM)", flush=True)
    print(f"query_p50_s = {layers['op.p50_s']:.3f} s over the {len(names)} warm queries",
          flush=True)
    e2e = {"run_s": cold["run_s"] + base["run_s"]}
    return e2e, layers, len(runs) * len(names), failed, tracer


def memo_repeat_ratio(spark, tables: str) -> float:
    """Time of a second `neardup_clusters` call in one session over the
    time of the first."""
    from mysense_spark.queries import spark_queries

    fn = spark_queries()["neardup_clusters"]
    walls = []
    for _ in range(2):
        t0 = time.perf_counter()
        fn(spark, tables).toPandas()
        walls.append(time.perf_counter() - t0)
    print(f"dedup memo: second neardup_clusters {walls[1]:.3f} s / first {walls[0]:.3f} s",
          flush=True)
    return walls[1] / walls[0]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-out", default=None)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, _on_term)
    cfg = WORKLOADS[args.workload]

    work_root = os.path.join(os.getcwd(), ".perfbench_work")
    os.makedirs(work_root, exist_ok=True)
    work = os.path.join(work_root, f"run-{os.getpid()}")
    os.makedirs(work)
    try:
        prepare_env(work)
        tables = None
        if cfg["kind"] == "queries":
            from perfbench.gen_tables import write_tables

            tables = write_tables(os.path.join(work, "tables"), args.seed, **cfg["tables"])
        phase("inputs written")
        spark, setup_s, layers = setup(tables)
        phase("set-up done")
        if cfg["kind"] == "ingest":
            e2e, more, attempted, failed, tracer = run_ingest(
                spark, cfg, work, args.seed, args.seconds, bool(args.trace))
        else:
            e2e, more, attempted, failed, tracer = run_query_set(
                spark, cfg, tables, bool(args.trace))
        layers.update(more)
        phase("workload and checks done")
        e2e["setup_s"] = setup_s
        if args.trace:
            path = args.trace_out or f"perfbench-trace-{args.workload}.jsonl"
            tracer.dump(path)
            print(f"spans: {len(tracer.spans)} written to {path}", flush=True)
    finally:
        # a second SIGTERM must not cut the clean-up short
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        try:
            shutdown()
            phase("spark stopped")
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(work_root)
            except OSError:
                pass

    print(f"failed_ratio: {failed}/{attempted} = {failed / attempted:.4f}", flush=True)
    if args.trace:
        units = per_layer_units()
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in E2E_UNITS.items()}
    for k, m in metrics.items():
        print(f"{k} = {m['value']:.6g} {m['unit']}", flush=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit. A
    layer the workload does not reach reads 0."""
    units = {"session.start_s": "s", "op.first_s": "s", "op.p50_s": "s",
             "process.peak_pss_mb": "MB"}
    units.update(ingest.LAYER_UNITS)
    for m in queries.TRACED_MODULES:
        units.update({f"{m}.{f}": u for f, u in queries.LAYER_UNITS.items()})
    units.update({
        "cache.tracked_persists": "count",
        "dedup.memo_repeat_ratio": "ratio",
        "trace.overhead_s": "s",
        "trace.instrument_s": "s",
    })
    return units


if __name__ == "__main__":
    sys.exit(main())
