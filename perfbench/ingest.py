"""Streaming-ingest workloads: drop files -> `run_lines_stream` -> archive.

The stream reads a directory of pre-generated drop files one file per
trigger (`maxFilesPerTrigger=1` + `availableNow`), so it drains a
backlog in a closed loop: the next micro-batch starts when the previous
one has committed. The archive is a fresh day-partitioned merge archive.

The traced run adds a staged replay of the same files, one operation per
file: `parse_envelopes`, then `decode_stream` over the parsed rows, then
`upsert_parquet_partitioned`, each materialised and timed on its own.
"""

from __future__ import annotations

import json
import os
import threading
import time
from datetime import datetime

from . import checks
from .spans import SparkCounters, Tracer, percentile

# micro-batch phases in the order a trigger runs them
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
# the first micro-batches of a stream in a fresh JVM still pay for JIT
# compilation
WARMUP_BATCHES = 3

LAYER_UNITS = {
    "ttn.parse_s": "s", "ttn.lines_in": "count", "ttn.envelopes_out": "count",
    "lora.decode_s": "s", "lora.udf_rows": "count", "lora.fact_rows_out": "count",
    "upsert.s": "s", "upsert.files_written": "count", "upsert.bytes_written": "B",
    "upsert.archive_growth_bytes": "B", "upsert.write_amplification": "ratio",
    "upsert.days_touched": "count", "staged.wall_s": "s", "staged.layer_coverage": "ratio",
    "stream.records_per_s": "1/s", "stream.add_batch_ms": "ms", "stream.query_planning_ms": "ms",
    "stream.wal_commit_ms": "ms", "stream.commit_offsets_ms": "ms", "stream.latest_offset_ms": "ms",
    "stream.state_commit_ms": "ms", "stream.state_rows_total": "count",
    "stream.state_rows_updated": "count", "stream.state_memory_bytes": "B",
    "stream.rows_dropped_by_watermark": "count", "stream.batches": "count", "stream.jobs": "count",
    "stream.tasks": "count", "stream.task_s": "s", "stream.shuffle_bytes": "B",
    "stream.core_util": "ratio", "archive.bytes_per_row": "B/row",
}


def _progress_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        """Keeps every progress event; `recentProgress` keeps only the
        last 100."""

        def __init__(self):
            self.events: list[dict] = []
            self.terminated = threading.Event()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated.set()

    return ProgressLog()


def _dir_files(path: str) -> dict[str, tuple[int, int]]:
    """{relative path: (size, mtime_ns)} of data files under `path`."""
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                full = os.path.join(dirpath, f)
                st = os.stat(full)
                out[os.path.relpath(full, path)] = (st.st_size, st.st_mtime_ns)
    return out


def archive_bytes(path: str) -> int:
    return sum(size for size, _ in _dir_files(path).values())


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def run_stream(spark, drop_dir: str, ckpt: str, archive: str, tracer: Tracer,
               counters: SparkCounters | None) -> dict:
    """Drain `drop_dir` into `archive`; returns timings and progress."""
    from mysense_spark.streaming.pipeline import run_lines_stream

    listener = _progress_listener()
    spark.streams.addListener(listener)
    mark = counters.job_mark() if counters else -1
    try:
        with tracer.span("stream", op="stream") as sid:
            t0 = time.perf_counter()
            lines = spark.readStream.option("maxFilesPerTrigger", 1).text(drop_dir)
            query = run_lines_stream(lines, ckpt, archive)
            # bounded waits: a SIGTERM handler runs only between them
            while not query.awaitTermination(1):
                pass
            run_s = time.perf_counter() - t0
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        listener.terminated.wait(30)
    finally:
        spark.streams.removeListener(listener)
    batches = [p for p in listener.events if p.get("numInputRows", 0) > 0]
    out = {"run_s": run_s, "batches": batches}
    if counters:
        out["work"] = counters.work(counters.jobs_after(mark))
    if tracer.enabled:
        # micro-batch phases as child spans, laid out in trigger order
        offset = time.time() - time.perf_counter()
        for p in batches:
            start = _epoch(p["timestamp"]) - offset
            dur = p["durationMs"]
            op = f"batch-{p['batchId']}"
            bid = tracer.add("stream.batch", start, start + dur.get("triggerExecution", 0) / 1e3, sid, op)
            t = start
            for phase in PHASES:
                if phase in dur:
                    tracer.add(f"stream.{phase}", t, t + dur[phase] / 1e3, bid, op)
                    t += dur[phase] / 1e3
    return out


def batch_durations(batches: list[dict]) -> list[float]:
    return [p["durationMs"]["triggerExecution"] / 1e3 for p in batches]


def warm_s(out: dict) -> float:
    """A drain's wall time after its warm-up micro-batches."""
    return out["run_s"] - sum(batch_durations(out["batches"][:WARMUP_BATCHES]))


def batch_stats(batches: list[dict]) -> dict:
    """The cold first micro-batch, and the median and ingest rate over
    the micro-batches after warm-up."""
    durs = batch_durations(batches)
    rows = [p["numInputRows"] for p in batches]
    warm_d, warm_r = durs[WARMUP_BATCHES:], rows[WARMUP_BATCHES:]
    if not warm_d:
        raise RuntimeError(f"only {len(durs)} micro-batches; need more than {WARMUP_BATCHES}")
    return {
        "first_s": durs[0],
        "p50_s": percentile(warm_d, 0.5),
        "samples": len(warm_d),
        "records_per_s": sum(warm_r) / sum(warm_d),
    }


def stream_layers(batches: list[dict], work: dict, cpus: int, run_s: float) -> dict:
    """Per-layer figures from the listener's progress events (p50 over
    the micro-batches after warm-up) and the stream's stage counters."""
    warm = batches[WARMUP_BATCHES:] or batches

    def p50(get) -> float:
        return percentile([float(get(p)) for p in warm], 0.5)

    def state(p, key):
        return sum(op.get(key, 0) for op in p.get("stateOperators", []))

    last = batches[-1]
    return {
        "stream.add_batch_ms": p50(lambda p: p["durationMs"].get("addBatch", 0)),
        "stream.query_planning_ms": p50(lambda p: p["durationMs"].get("queryPlanning", 0)),
        "stream.wal_commit_ms": p50(lambda p: p["durationMs"].get("walCommit", 0)),
        "stream.commit_offsets_ms": p50(lambda p: p["durationMs"].get("commitOffsets", 0)),
        "stream.latest_offset_ms": p50(lambda p: p["durationMs"].get("latestOffset", 0)),
        "stream.state_commit_ms": p50(lambda p: state(p, "commitTimeMs")),
        "stream.state_rows_total": float(state(last, "numRowsTotal")),
        "stream.state_rows_updated": p50(lambda p: state(p, "numRowsUpdated")),
        "stream.state_memory_bytes": float(state(last, "memoryUsedBytes")),
        "stream.rows_dropped_by_watermark": float(
            sum(state(p, "numRowsDroppedByWatermark") for p in batches)
        ),
        "stream.batches": float(len(batches)),
        "stream.jobs": float(work["jobs"]),
        "stream.tasks": work["tasks"],
        "stream.task_s": work["task_ms"] / 1e3,
        "stream.shuffle_bytes": work["shuffle_bytes"],
        "stream.core_util": work["task_ms"] / 1e3 / (run_s * cpus),
    }


def staged_replay(spark, files: list[str], archive: str, tracer: Tracer) -> dict:
    """Each file through the three ingest layers one at a time, each
    layer's output materialised before the next starts."""
    from pyspark.sql import functions as F

    from mysense_spark.sinks.upsert import upsert_parquet_partitioned
    from mysense_spark.sources.ttn import parse_envelopes
    from mysense_spark.streaming.pipeline import decode_stream

    tot = dict.fromkeys(
        ("ttn.parse_s", "ttn.lines_in", "ttn.envelopes_out", "lora.decode_s", "lora.udf_rows",
         "lora.fact_rows_out", "upsert.s", "upsert.files_written", "upsert.bytes_written",
         "upsert.archive_growth_bytes", "upsert.days_touched"), 0.0)
    t_all = time.perf_counter()
    for i, path in enumerate(files):
        op = f"file-{i}"
        with tracer.span("staged", op=op):
            with tracer.span("ttn.parse"):
                t0 = time.perf_counter()
                lines = spark.read.text(path)
                env = parse_envelopes(lines).persist()
                n_env = env.count()
                tot["ttn.parse_s"] += time.perf_counter() - t0
            tot["ttn.lines_in"] += lines.count()
            tot["ttn.envelopes_out"] += n_env
            tot["lora.udf_rows"] += env.where(F.col("port").isin(2, 4, 10, 12)).count()
            with tracer.span("lora.decode"):
                t0 = time.perf_counter()
                fact = decode_stream(env).persist()
                n_fact = fact.count()
                tot["lora.decode_s"] += time.perf_counter() - t0
            tot["lora.fact_rows_out"] += n_fact
            before = _dir_files(archive) if os.path.isdir(archive) else {}
            with tracer.span("upsert"):
                t0 = time.perf_counter()
                upsert_parquet_partitioned(fact, archive, keys=checks.FACT_KEY,
                                           order_col="ingest_ts", ts_col="ts")
                tot["upsert.s"] += time.perf_counter() - t0
            after = _dir_files(archive)
            written = {k: v for k, v in after.items() if before.get(k) != v}
            tot["upsert.files_written"] += len(written)
            tot["upsert.bytes_written"] += sum(size for size, _ in written.values())
            tot["upsert.archive_growth_bytes"] += (
                sum(s for s, _ in after.values()) - sum(s for s, _ in before.values())
            )
            tot["upsert.days_touched"] += len({os.path.dirname(k) for k in written})
            fact.unpersist()
            env.unpersist()
    tot["staged.wall_s"] = time.perf_counter() - t_all
    tot["upsert.write_amplification"] = (
        tot["upsert.bytes_written"] / tot["upsert.archive_growth_bytes"]
        if tot["upsert.archive_growth_bytes"] else 0.0
    )
    layers = tot["ttn.parse_s"] + tot["lora.decode_s"] + tot["upsert.s"]
    tot["staged.layer_coverage"] = layers / tot["staged.wall_s"]
    return tot
