"""Shared expression helpers keeping Spark output bit-identical to the
ANSI-SQL oracles regardless of partitioning.

Floating-point sums are order-dependent; Spark's shuffle partitioning (and
therefore partial-agg order) differs from DuckDB's scan order, so a plain
`round(avg(x), 6)` can flip its last digit between engines. Every helper
here accumulates in exact DECIMAL after a deterministic per-row rounding,
then performs a single, fixed-order double computation — identical on any
engine and any partitioning. This also makes results stable across cluster
sizes, which matters for reproducible pipelines at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# per-row quantization scale: 6 decimals is finer than any source column
# (measurements are 1-3 decimals; prices 2) so semantics are unchanged.
_ROW_SCALE = 6
# decimal(18,6): products must stay exact at scale 12 on both engines;
# (28,6) squares would exceed the 38-digit cap and Spark silently
# reduces the result scale while DuckDB does not
_DEC = "decimal(18,6)"


# Engine-agnostic rounding. Spark's round(double, d) converts through the
# SHORTEST DECIMAL REPR (BigDecimal.valueOf) then rounds HALF_UP; DuckDB
# rounds the BINARY double. On values a ulp from the half-grid the two
# disagree by one grid step (measured: 144 of 40k stress values; the
# sf0.1 station_calibration/fit_apply/revenue_quartiles last-digit
# flips). floor(x*10^d + 0.5)/10^d is pure IEEE multiply/add/floor —
# bit-identical on any engine. Ties round toward +inf (engine-identical,
# which is what parity needs).


def ieee_round(expr: Column, nd: int) -> Column:
    p = float(10**nd)
    return F.floor(expr * F.lit(p) + F.lit(0.5)) / F.lit(p)


def sql_ieee_round(e: str, nd: int) -> str:
    # Every operand is CAST-pinned to DOUBLE so the expression is
    # engine-safe in BOTH dialects. Spark's SQL parser reads a bare
    # fractional literal (1000000.0) as DECIMAL(8,1) and its floor(double)
    # returns LONG, so the naked form `floor(e*1e6+0.5)/1e6` inside
    # selectExpr produces a DECIMAL *column type* (LONG / DECIMAL) even
    # when the value is bit-correct — which fails any dtype-sensitive
    # comparison against a DOUBLE oracle column. With the casts, Spark
    # computes LONG / DOUBLE -> DOUBLE and DuckDB treats them as no-ops
    # (its floor(double) is already DOUBLE), so value AND type agree.
    p = float(10**nd)
    d = f"CAST({p} AS DOUBLE)"
    return f"(floor(CAST(({e}) AS DOUBLE) * {d} + CAST(0.5 AS DOUBLE)) / {d})"


def _scaled_long(expr: Column) -> Column:
    # exact unscaled representation of the quantized value:
    # floor(x*1e6 + 0.5) as an integer — the IEEE-pure quantize (see
    # ieee_round above). Exact while per-row |x| < ~9e9 (2^53 / 1e6);
    # source columns are measurements/prices far below that. A long sum
    # beats Spark's Decimal aggregation buffer ~6x (measured: 7 decimal
    # aggs over 600k rows = 3.2s vs 0.6s as longs).
    return F.floor(expr * F.lit(1000000.0) + F.lit(0.5)).cast("long")


def _dec(expr: Column) -> Column:
    # the quantized value as exact decimal (for the square terms that
    # need scale-12 products): scaled-long / 1e6 round-trips through
    # double exactly for |x| < ~1e9, and the decimal cast pins the grid
    return (_scaled_long(expr).cast("double") / F.lit(1000000.0)).cast(_DEC)


def _unscale(sum_long: Column) -> Column:
    # long partial sums -> exact decimal -> double, so the final double is
    # bit-identical to `cast(sum(decimal) as double)` on any engine.
    return (sum_long.cast("decimal(38,0)") / F.lit(1000000)).cast("double")


def exact_sum(expr: Column, nd: int = 4) -> Column:
    """Order-independent sum: per-row quantize -> exact long sum -> double.

    Exact while the group's |sum| * 1e6 fits in int64, i.e. group sums up
    to ~9.2e12 in value units — ample for sensor measurements at any SF
    and for price sums through sf~1000. Beyond that (unbounded groups at
    100 TB), accumulate per shuffle partition first (groupBy(keys,
    spark_partition_id()) then re-aggregate the few partials in decimal)
    or use the decimal-buffer form `F.sum(_dec(e))` — same semantics,
    slower buffer.
    """
    return ieee_round(_unscale(F.sum(_scaled_long(expr))), nd)


def exact_avg(expr: Column, nd: int = 6) -> Column:
    """Order-independent mean with SQL null-skipping semantics."""
    return ieee_round(_unscale(F.sum(_scaled_long(expr))) / F.count(expr), nd)


def exact_std(expr: Column, nd: int = 6) -> Column:
    """Order-independent sample stddev from exact decimal (sum, sum-of-squares).

    NULL for n<=1 (ANSI semantics; Spark's stddev would yield NaN)."""
    xd = _dec(expr)
    s1 = _unscale(F.sum(_scaled_long(expr)))
    # squares need scale 12 — their scaled-long form can overflow per row
    # (price^2 * 1e12 > 2^63), so the square term keeps the decimal buffer
    s2 = F.sum(xd * xd).cast("double")
    n = F.count(expr)
    var = (s2 - s1 * s1 / n) / (n - F.lit(1))
    return F.when(n > 1, ieee_round(F.sqrt(F.greatest(var, F.lit(0.0))), nd)).otherwise(F.lit(None).cast("double"))


def exact_sum_grouped(df, keys: list[str], sums: dict[str, Column], nd: int = 4):
    """100 TB-safe exact grouped sum: two-stage accumulation.

    Stage 1 sums the scaled-long quantized values per (keys, shuffle
    partition) — each partial is bounded by partition size (a 32 MB
    task's |sum| stays far under 2^63), so int64 never overflows no
    matter how large the GROUP is. Stage 2 re-aggregates the few
    partials per key in decimal(38,0) — exact at any corpus size.

    This is the documented fallback for `exact_sum`'s per-group bound
    (see PLANS.md design note); same bit-identical result, one extra
    (tiny) shuffle stage.
    """
    stage1 = df.groupBy(*keys, F.spark_partition_id().alias("_pid")).agg(
        *[F.sum(_scaled_long(c)).alias(f"_s_{n}") for n, c in sums.items()]
    )
    return stage1.groupBy(*keys).agg(
        *[
            ieee_round(
                (F.sum(F.col(f"_s_{n}").cast("decimal(38,0)")) / F.lit(1000000)).cast("double"),
                nd,
            ).alias(n)
            for n in sums
        ]
    )


# --- SQL twins (DuckDB) ----------------------------------------------------

def sql_scaled_long(e: str) -> str:
    return f"CAST(floor(({e}) * 1000000.0 + 0.5) AS BIGINT)"


def sql_dec(e: str) -> str:
    # 19 digits: forces DuckDB onto the int128 multiply path (exact scale-12
    # products); Spark uses 18 to stay under its 38-digit cap without scale
    # loss. Quantize via the IEEE-pure floor form (see ieee_round).
    return f"CAST({sql_scaled_long(e)} / 1000000.0 AS DECIMAL(19,6))"


def sql_sum(e: str, nd: int = 4) -> str:
    return sql_ieee_round(f"CAST(sum({sql_dec(e)}) AS DOUBLE)", nd)


def sql_avg(e: str, nd: int = 6) -> str:
    return sql_ieee_round(f"CAST(sum({sql_dec(e)}) AS DOUBLE) / count({e})", nd)


def sql_std(e: str, nd: int = 6) -> str:
    s1 = f"CAST(sum({sql_dec(e)}) AS DOUBLE)"
    s2 = f"CAST(sum({sql_dec(e)} * {sql_dec(e)}) AS DOUBLE)"
    n = f"count({e})"
    var = f"(({s2} - {s1} * {s1} / {n}) / ({n} - 1))"
    return f"CASE WHEN {n} > 1 THEN {sql_ieee_round(f'sqrt(greatest({var}, 0.0))', nd)} ELSE NULL END"

