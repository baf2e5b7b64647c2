"""Output checks, run outside every timed region.

- Ingest: the streamed archive must equal its batch twin — the same
  files through `run_file_batch`, deduplicated with
  `sinks.upsert.latest_view` — as a row count plus an order-independent
  hash of (kit_id, ts, field, value, valid).
- Queries: each query's collected result against its DuckDB oracle SQL
  (`mysense_spark.oracle`), exactly as `oracle.check_query` compares.
"""

from __future__ import annotations

from dataclasses import dataclass

FACT_KEY = ["kit_id", "ts", "field"]
HASH_COLS = ["kit_id", "ts", "field", "value", "valid"]


@dataclass(frozen=True)
class Digest:
    rows: int
    hash_sum: int

    def __str__(self) -> str:
        return f"{self.rows} rows, hash {self.hash_sum}"


def digest(df) -> Digest:
    """Row count and sum of per-row xxhash64 over HASH_COLS. The sum is
    taken as decimal so it cannot overflow; row order does not matter."""
    from pyspark.sql import functions as F

    row = df.select(F.xxhash64(*HASH_COLS).cast("decimal(38,0)").alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")
    ).first()
    return Digest(int(row["n"]), int(row["s"] or 0))


def batch_twin(spark, drop_dir: str):
    """The batch computation the streamed archive must equal."""
    from mysense_spark.sinks.upsert import latest_view
    from mysense_spark.streaming.pipeline import run_file_batch

    return latest_view(run_file_batch(spark, drop_dir), FACT_KEY, "ingest_ts")


def check_archive(spark, archive_dir: str, drop_dir: str) -> tuple[bool, str]:
    archive = digest(spark.read.parquet(archive_dir))
    twin = digest(batch_twin(spark, drop_dir))
    ok = archive == twin and archive.rows > 0
    return ok, f"archive {archive} vs batch twin {twin}"


def check_query(name: str, result, sql: str | None, sf_dir: str) -> tuple[bool, str]:
    """`result` is the query's collected pandas frame."""
    from mysense_spark.oracle import compare_frames, run_oracle

    if sql is None:
        return True, f"rows-only: {len(result)} rows"
    cmp = compare_frames(result, run_oracle(sql, sf_dir))
    return cmp.ok, cmp.detail
