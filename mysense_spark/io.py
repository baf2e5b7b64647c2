"""Loaders for the driver's synthetic parquet star schema (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings. All reads are plain `spark.read.parquet` so Catalyst
gets full pushdown/pruning; no caching here — callers decide.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# events.ts has shipped as TIMESTAMP(NANOS) (read as long via
# spark.sql.legacy.parquet.nanosAsLong, truncated to micros like DuckDB's
# ns->us cast) and as TIMESTAMP(MICROS) without tz info (read as
# TIMESTAMP_NTZ by Spark 4's parquet inference). Either way we normalize to
# session-tz TIMESTAMP so `unix_micros`-based bucket arithmetic works; with
# the session tz pinned to UTC the wall-clock values are unchanged.
_NANO_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def values_df(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Literal rows -> DataFrame via a SQL VALUES clause.

    `spark.createDataFrame(list, ...)` routes through
    `applySchemaToPythonRDD`: the literal becomes a Python-RDD scan that
    fans out to default-parallelism partitions and spawns a Python worker
    per core (~10 s first touch on local[32]) — for a 3-row dimension
    table. A VALUES literal is a pure LocalRelation: JVM-side, zero
    Python workers, broadcastable, and Catalyst folds it. `schema` is a
    DDL string ("field string, unit string"); every column is cast so
    types don't depend on literal inference.
    """
    # parse the DDL properly — a naive comma split breaks parameterized
    # and nested types (decimal(10,2), map<string,string>) that are
    # valid under this helper's "DDL string" contract
    from pyspark.sql.types import StructType

    cols = [(f.name, f.dataType.simpleString()) for f in StructType.fromDDL(schema).fields]

    def _lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, str):
            escaped = v.replace("'", "''")
            return f"'{escaped}'"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        return repr(v)

    values = ", ".join("(" + ", ".join(_lit(v) for v in row) + ")" for row in rows)
    select = ", ".join(f"CAST({name} AS {typ}) AS {name}" for name, typ in cols)
    names = ", ".join(name for name, _ in cols)
    return spark.sql(f"SELECT {select} FROM VALUES {values} AS t({names})")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # The driver may hand us a vanilla session: pin the runtime-settable
    # confs our semantics depend on (tz-stable bucketing, nanos parquet).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name in _NANO_TS_COLS:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for col in _NANO_TS_COLS.get(name, ()):
        dtype = dict(df.dtypes).get(col)
        if dtype == "bigint":
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} DIV 1000")))
        elif dtype == "timestamp_ntz":
            # tz-independent: a plain cast("timestamp") resolves against the
            # session timezone at EXECUTION time, so flipping
            # spark.sql.session.timeZone between load() and the action would
            # shift the instant (the bigint branch above is absolute either
            # way). Wall-clock-diff against the NTZ epoch is pure arithmetic
            # — same instant no matter what the session tz is when it runs.
            df = df.withColumn(
                col,
                F.timestamp_micros(
                    F.expr(
                        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {col})"
                    )
                ),
            )
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so `spark.sql` works 1:1 with
    the DuckDB oracle (which pre-registers the same names)."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
