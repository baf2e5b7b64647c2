"""Derived air-quality indices and calibration transforms (SURVEY.md §2.9,
§2.3 P8-P12): AQI/LKI piecewise interpolation, AQHI closed form, Joost
humidity correction, Magnus dew point, unit conversion, Taylor calibration.

All are pure column expressions over an hourly pivot of the events table —
whole-stage codegen end to end, zero Python in the hot path. The breakpoint
tables live in registry.py; the piecewise CASE chain and its SQL twin are
generated from the same table so Spark and the oracle can never drift.

Pollutant mapping on the synthetic events table:
pm25 <- 'error' series, pm10 <- 'click', o3 <- 'view', no2 <- 'signup',
rh   <- 'purchase' scaled into [0,100).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load, values_df
from ..registry import (
    AQHI_CAP,
    AQHI_COEFFS,
    AQHI_SCALE,
    AQI_BREAKPOINTS,
    CAQI_BREAKPOINTS,
    CAQI_CAP,
    GMOL,
    JOOST_COEFFS,
    LKI_BREAKPOINTS,
    TAYLOR_CHAINS,
)
from .util import ieee_round, exact_avg, sql_avg


# ---------------------------------------------------------------------------
# piecewise-linear interpolation generated from a breakpoint table —
# Spark Column and SQL text from the same data (AirQualityIndex.py:275-321)
# ---------------------------------------------------------------------------

def piecewise(col: Column, table: list[tuple[float, float, float, float]], cap: float, nd: int = 8) -> Column:
    # ieee_round, not native round: Spark's round(double, d) rounds the
    # shortest decimal string half-up, DuckDB rounds the binary double,
    # so an 8-decimal tie (537.866537445) comes out 1e-8 apart. The IEEE
    # floor form matches DuckDB's round on these positive index values
    # (see operators/util.py rationale).
    # build bottom-up: ELSE cap, then wrap WHENs from last to first segment
    result = F.lit(float(cap))
    for lo, hi, alo, ahi in reversed(table):
        slope = (ahi - alo) / (hi - lo)
        seg = F.lit(alo) + (F.greatest(col, F.lit(lo)) - F.lit(lo)) * F.lit(slope)
        result = F.when(col <= F.lit(hi), seg).otherwise(result)
    return ieee_round(result, nd)


def sql_piecewise(e: str, table: list[tuple[float, float, float, float]], cap: float, nd: int = 8) -> str:
    parts = ["CASE"]
    for lo, hi, alo, ahi in table:
        slope = (ahi - alo) / (hi - lo)
        parts.append(f"WHEN {e} <= {hi!r} THEN {alo!r} + (greatest({e}, {lo!r}) - {lo!r}) * {slope!r}")
    parts.append(f"ELSE {float(cap)!r} END")
    return f"round({' '.join(parts)}, {nd})"


def _hourly_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-kit pollutant pivot: the J3/A2 pattern (single groupBy
    over conditional aggregates — no join needed in long format)."""
    ev = load(spark, sf_dir, "events")
    hour = F.date_trunc("hour", "ts").alias("hour")

    def series(t: str) -> Column:
        return F.when(F.col("event_type") == t, F.col("value"))

    return ev.groupBy("user_id", hour).agg(
        exact_avg(series("error"), 6).alias("pm25"),
        exact_avg(series("click"), 6).alias("pm10"),
        exact_avg(series("view"), 6).alias("o3"),
        exact_avg(series("signup"), 6).alias("no2"),
        # least INSIDE the event-type guard: least() skips NULLs in both
        # engines, so the outer form turned every non-purchase row into a
        # 99.9 rh contribution — fabricating humidity for hours with no
        # purchase events at all (both engines agreed, so the parity gate
        # could not catch it; q_dew_point always had the correct form)
        exact_avg(
            F.when(F.col("event_type") == "purchase", F.least(F.col("value") / 2, F.lit(99.9))),
            6,
        ).alias("rh"),
    )


def _sql_series(t: str) -> str:
    return f"CASE WHEN event_type = '{t}' THEN value END"


_SQL_HOURLY_PIVOT = f"""
SELECT user_id, date_trunc('hour', ts) AS hour,
       {sql_avg(_sql_series('error'), 6)} AS pm25,
       {sql_avg(_sql_series('click'), 6)} AS pm10,
       {sql_avg(_sql_series('view'), 6)} AS o3,
       {sql_avg(_sql_series('signup'), 6)} AS no2,
       {sql_avg("CASE WHEN event_type = 'purchase' THEN least(value / 2, 99.9) END", 6)} AS rh
FROM events
GROUP BY 1, 2
"""


def q_aqi_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPA AQI: piecewise-linear breakpoint interpolation per pollutant +
    maxAQI over pollutants (AirQualityIndex.py:275-379)."""
    h = _hourly_pivot(spark, sf_dir)
    aqi25 = piecewise(F.col("pm25"), AQI_BREAKPOINTS["pm25"], 500.0)
    aqi10 = piecewise(F.col("pm10"), AQI_BREAKPOINTS["pm10"], 500.0)
    return (
        h.where(F.col("pm25").isNotNull() & F.col("pm10").isNotNull())
        .select(
            "user_id",
            "hour",
            aqi25.alias("aqi_pm25"),
            aqi10.alias("aqi_pm10"),
            F.greatest(aqi25, aqi10).alias("max_aqi"),
        )
        .orderBy("user_id", "hour")
    )


SQL_AQI_INDEX = f"""
WITH hourly AS ({_SQL_HOURLY_PIVOT})
SELECT user_id, hour,
       {sql_piecewise('pm25', AQI_BREAKPOINTS['pm25'], 500.0)} AS aqi_pm25,
       {sql_piecewise('pm10', AQI_BREAKPOINTS['pm10'], 500.0)} AS aqi_pm10,
       greatest({sql_piecewise('pm25', AQI_BREAKPOINTS['pm25'], 500.0)},
                {sql_piecewise('pm10', AQI_BREAKPOINTS['pm10'], 500.0)}) AS max_aqi
FROM hourly
WHERE pm25 IS NOT NULL AND pm10 IS NOT NULL
ORDER BY user_id, hour
"""


def q_lki_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIVM LKI (NL), range 0-11 (AirQualityIndex.py:414-473)."""
    h = _hourly_pivot(spark, sf_dir)
    lki25 = piecewise(F.col("pm25"), LKI_BREAKPOINTS["pm25"], 11.0)
    lki10 = piecewise(F.col("pm10"), LKI_BREAKPOINTS["pm10"], 11.0)
    return (
        h.where(F.col("pm25").isNotNull() & F.col("pm10").isNotNull())
        .select("user_id", "hour", lki25.alias("lki_pm25"), lki10.alias("lki_pm10"),
                F.greatest(lki25, lki10).alias("max_lki"))
        .orderBy("user_id", "hour")
    )


SQL_LKI_INDEX = f"""
WITH hourly AS ({_SQL_HOURLY_PIVOT})
SELECT user_id, hour,
       {sql_piecewise('pm25', LKI_BREAKPOINTS['pm25'], 11.0)} AS lki_pm25,
       {sql_piecewise('pm10', LKI_BREAKPOINTS['pm10'], 11.0)} AS lki_pm10,
       greatest({sql_piecewise('pm25', LKI_BREAKPOINTS['pm25'], 11.0)},
                {sql_piecewise('pm10', LKI_BREAKPOINTS['pm10'], 11.0)}) AS max_lki
FROM hourly
WHERE pm25 IS NOT NULL AND pm10 IS NOT NULL
ORDER BY user_id, hour
"""


def q_aqhi_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canadian AQHI closed form, capped at 11 (AirQualityIndex.py:860-866).
    Daily pivot: AQHI needs all three pollutants in one bucket, and the
    sparse synthetic stream never has all three in one HOUR per kit."""
    ev = load(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").alias("hour")  # column named `hour` to keep one output contract

    def series(t: str):
        return F.when(F.col("event_type") == t, F.col("value"))

    h = ev.groupBy("user_id", day).agg(
        exact_avg(series("view"), 6).alias("o3"),
        exact_avg(series("signup"), 6).alias("no2"),
        exact_avg(series("error"), 6).alias("pm25"),
    )
    co3, cno2, cpm = (AQHI_COEFFS[k] for k in ("o3", "no2", "pm25"))
    aqhi = F.lit(AQHI_SCALE) * (
        (F.exp(F.lit(co3) * F.col("o3")) - 1)
        + (F.exp(F.lit(cno2) * F.col("no2")) - 1)
        + (F.exp(F.lit(cpm) * F.col("pm25")) - 1)
    )
    return (
        h.where(F.col("o3").isNotNull() & F.col("no2").isNotNull() & F.col("pm25").isNotNull())
        .select("user_id", "hour", F.round(F.least(aqhi, F.lit(AQHI_CAP)), 2).alias("aqhi"))
        .orderBy("user_id", "hour")
    )


SQL_AQHI_INDEX = f"""
WITH hourly AS (
  SELECT user_id, date_trunc('day', ts) AS hour,
         {sql_avg(_sql_series('view'), 6)} AS o3,
         {sql_avg(_sql_series('signup'), 6)} AS no2,
         {sql_avg(_sql_series('error'), 6)} AS pm25
  FROM events
  GROUP BY 1, 2
)
SELECT user_id, hour,
       round(least({AQHI_SCALE!r} * ((exp({AQHI_COEFFS['o3']!r} * o3) - 1)
                                   + (exp({AQHI_COEFFS['no2']!r} * no2) - 1)
                                   + (exp({AQHI_COEFFS['pm25']!r} * pm25) - 1)), {AQHI_CAP!r}), 2) AS aqhi
FROM hourly
WHERE o3 IS NOT NULL AND no2 IS NOT NULL AND pm25 IS NOT NULL
ORDER BY user_id, hour
"""


def q_caqi_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EU CAQI (background table, AirQualityIndex.py:590-691): per-pollutant
    sub-index on the class grid [0..125]; the overall index is the max over
    pollutants and requires every mandated pollutant (no2, pm10, o3) to be
    present in the bucket. Daily pivot like AQHI (co-occurrence)."""
    ev = load(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").alias("hour")

    def series(t: str):
        return F.when(F.col("event_type") == t, F.col("value"))

    h = ev.groupBy("user_id", day).agg(
        exact_avg(series("signup"), 6).alias("no2"),
        exact_avg(series("click"), 6).alias("pm10"),
        exact_avg(series("view"), 6).alias("o3"),
        exact_avg(series("error"), 6).alias("pm25"),
    )
    subs = {p: piecewise(F.col(p), CAQI_BREAKPOINTS[p], CAQI_CAP) for p in CAQI_BREAKPOINTS}
    mandated_ok = F.col("no2").isNotNull() & F.col("pm10").isNotNull() & F.col("o3").isNotNull()
    return (
        h.where(mandated_ok)
        .select(
            "user_id",
            "hour",
            subs["no2"].alias("caqi_no2"),
            subs["pm10"].alias("caqi_pm10"),
            subs["o3"].alias("caqi_o3"),
            F.when(F.col("pm25").isNotNull(), subs["pm25"]).alias("caqi_pm25"),
            F.when(F.col("pm25").isNotNull(), F.greatest(*subs.values()))
            .otherwise(F.greatest(subs["no2"], subs["pm10"], subs["o3"]))
            .alias("caqi"),
        )
        .orderBy("user_id", "hour")
    )


def _sql_caqi() -> str:
    sub = {p: sql_piecewise(p, CAQI_BREAKPOINTS[p], CAQI_CAP) for p in CAQI_BREAKPOINTS}
    return f"""
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS hour,
         {sql_avg(_sql_series('signup'), 6)} AS no2,
         {sql_avg(_sql_series('click'), 6)} AS pm10,
         {sql_avg(_sql_series('view'), 6)} AS o3,
         {sql_avg(_sql_series('error'), 6)} AS pm25
  FROM events GROUP BY 1, 2
)
SELECT user_id, hour,
       {sub['no2']} AS caqi_no2,
       {sub['pm10']} AS caqi_pm10,
       {sub['o3']} AS caqi_o3,
       CASE WHEN pm25 IS NOT NULL THEN {sub['pm25']} END AS caqi_pm25,
       CASE WHEN pm25 IS NOT NULL
            THEN greatest({sub['no2']}, {sub['pm10']}, {sub['o3']}, {sub['pm25']})
            ELSE greatest({sub['no2']}, {sub['pm10']}, {sub['o3']}) END AS caqi
FROM daily
WHERE no2 IS NOT NULL AND pm10 IS NOT NULL AND o3 IS NOT NULL
ORDER BY user_id, hour
"""


SQL_CAQI_INDEX = _sql_caqi()


def q_joost_correction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12 Joost humidity correction (grubbs.py:138-174):
    pm' = pm * a * rh^b; NULL (reference: NaN) when the factor exceeds 1."""
    h = _hourly_pivot(spark, sf_dir)
    a25, b25 = JOOST_COEFFS["pm25"]
    a10, b10 = JOOST_COEFFS["pm10"]
    f25 = F.lit(a25) * F.pow(F.col("rh"), F.lit(b25))
    f10 = F.lit(a10) * F.pow(F.col("rh"), F.lit(b10))
    # each pollutant corrects independently (JoostFactor is per
    # pollutant); requiring BOTH pm series in one hour was never a
    # reference constraint, and with the honest sparse rh (see
    # _hourly_pivot) the triple intersection would be vacuous
    return (
        h.where(
            F.col("rh").isNotNull()
            & (F.col("rh") > 0)
            & (F.col("pm25").isNotNull() | F.col("pm10").isNotNull())
        )
        .select(
            "user_id",
            "hour",
            F.round(F.when(f25 <= 1.0, F.col("pm25") * f25), 4).alias("pm25_corrected"),
            F.round(F.when(f10 <= 1.0, F.col("pm10") * f10), 4).alias("pm10_corrected"),
        )
        .orderBy("user_id", "hour")
    )


SQL_JOOST_CORRECTION = f"""
WITH hourly AS ({_SQL_HOURLY_PIVOT})
SELECT user_id, hour,
       round(CASE WHEN {JOOST_COEFFS['pm25'][0]!r} * pow(rh, {JOOST_COEFFS['pm25'][1]!r}) <= 1.0
                  THEN pm25 * ({JOOST_COEFFS['pm25'][0]!r} * pow(rh, {JOOST_COEFFS['pm25'][1]!r})) END, 4) AS pm25_corrected,
       round(CASE WHEN {JOOST_COEFFS['pm10'][0]!r} * pow(rh, {JOOST_COEFFS['pm10'][1]!r}) <= 1.0
                  THEN pm10 * ({JOOST_COEFFS['pm10'][0]!r} * pow(rh, {JOOST_COEFFS['pm10'][1]!r})) END, 4) AS pm10_corrected
FROM hourly
WHERE rh IS NOT NULL AND rh > 0 AND (pm25 IS NOT NULL OR pm10 IS NOT NULL)
ORDER BY user_id, hour
"""


def q_dew_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11 Magnus dew point (grubbs.py:127-136):
    gamma = ln(rh/100) + 17.62*T/(243.12+T); dew = 243.12*gamma/(17.62-gamma).
    temp <- signup series / 10 (range ~[0,45) C)."""
    ev = load(spark, sf_dir, "events")
    hour = F.date_trunc("hour", "ts").alias("hour")
    h = ev.groupBy("user_id", hour).agg(
        exact_avg(F.when(F.col("event_type") == "signup", F.col("value") / 10), 6).alias("temp"),
        exact_avg(F.when(F.col("event_type") == "purchase", F.least(F.col("value") / 2, F.lit(99.9))), 6).alias("rh"),
    )
    gamma = F.log(F.col("rh") / 100) + F.lit(17.62) * F.col("temp") / (F.lit(243.12) + F.col("temp"))
    return (
        h.where(F.col("temp").isNotNull() & F.col("rh").isNotNull() & (F.col("rh") > 0))
        .select("user_id", "hour", F.round(F.lit(243.12) * gamma / (F.lit(17.62) - gamma), 4).alias("dew_point"))
        .orderBy("user_id", "hour")
    )


SQL_DEW_POINT = f"""
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS hour,
         {sql_avg("CASE WHEN event_type = 'signup' THEN value / 10 END", 6)} AS temp,
         {sql_avg("CASE WHEN event_type = 'purchase' THEN least(value / 2, 99.9) END", 6)} AS rh
  FROM events GROUP BY 1, 2
)
SELECT user_id, hour,
       round(243.12 * (ln(rh / 100) + 17.62 * temp / (243.12 + temp))
             / (17.62 - (ln(rh / 100) + 17.62 * temp / (243.12 + temp))), 4) AS dew_point
FROM hourly
WHERE temp IS NOT NULL AND rh IS NOT NULL AND rh > 0
ORDER BY user_id, hour
"""


def q_unit_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 gas unit conversion ug/m3 -> ppb with temperature dependence
    (AirQualityIndex.py:60-86): ppb = c * (273.15 + T) / (12.187 * M).
    no2 concentration <- signup series; T fixed 20 C."""
    ev = load(spark, sf_dir, "events")
    m = GMOL["no2"]
    t = 20.0
    ppb = F.col("value") * (273.15 + t) / (12.187 * m)
    return (
        ev.where(F.col("event_type") == "signup")
        .select("event_id", ieee_round(F.col("value"), 4).alias("ugm3"), ieee_round(ppb, 4).alias("ppb"))
    )


SQL_UNIT_CONVERSION = f"""
SELECT event_id, (floor((value) * CAST(10000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(10000.0 AS DOUBLE)) AS ugm3,
       (floor((value * {(273.15 + 20.0)!r} / {(12.187 * GMOL['no2'])!r}) * CAST(10000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(10000.0 AS DOUBLE)) AS ppb
FROM events
WHERE event_type = 'signup'
ORDER BY event_id
"""


def q_taylor_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 Taylor-series calibration (lib/MyARCHIVE.py:267-300): value' =
    sum_i a_i * value^i, coefficients from the sensor-type catalog joined
    per record (J1-style broadcast dimension join); clamped >= 0 for pm."""
    ev = load(spark, sf_dir, "events")
    chains = [
        ("error", *TAYLOR_CHAINS[("PMSx003", "pm25")], 0.0),
        ("click", *TAYLOR_CHAINS[("SPS30", "pm25")], 0.0),
        ("view", 0.5, 1.1, 0.0001),
    ]
    dim = values_df(spark, chains, "event_type string, a0 double, a1 double, a2 double")
    v = F.col("value")
    cal = F.greatest(F.col("a0") + F.col("a1") * v + F.col("a2") * v * v, F.lit(0.0))
    return (
        ev.join(F.broadcast(dim), "event_type")
        # no final orderBy: row-level output, the correctness compare is
        # order-insensitive and a global sort is a pure extra shuffle
        .select("event_id", "event_type", F.round(v, 4).alias("raw"), F.round(cal, 8).alias("calibrated"))
    )


_tc = {t: c for t, *c in [
    ("error", *TAYLOR_CHAINS[("PMSx003", "pm25")], 0.0),
    ("click", *TAYLOR_CHAINS[("SPS30", "pm25")], 0.0),
    ("view", 0.5, 1.1, 0.0001),
]}

SQL_TAYLOR_CALIBRATION = f"""
WITH dim(event_type, a0, a1, a2) AS (
  VALUES ('error', {_tc['error'][0]!r}, {_tc['error'][1]!r}, {_tc['error'][2]!r}),
         ('click', {_tc['click'][0]!r}, {_tc['click'][1]!r}, {_tc['click'][2]!r}),
         ('view',  {_tc['view'][0]!r},  {_tc['view'][1]!r},  {_tc['view'][2]!r})
)
SELECT event_id, e.event_type, round(value, 4) AS raw,
       round(greatest(a0 + a1 * value + a2 * value * value, 0.0), 8) AS calibrated
FROM events e JOIN dim d ON e.event_type = d.event_type
ORDER BY event_id
"""


_AQI_CLASSES = [  # AirQualityIndex.py:245-266 quality classes
    (50.0, "Good"),
    (100.0, "Moderate"),
    (150.0, "UnhealthySG"),
    (200.0, "Unhealthy"),
    (300.0, "VeryUnhealthy"),
]


def q_daily_qc_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The integrated daily report a MySense operator actually reads:
    hourly pivot (A2/J3) -> range validation (P2: pm in [0,1000)) ->
    AQI breakpoint interpolation (§2.9) -> daily rollup per kit with
    peak/avg AQI and the reference's quality class
    (AirQualityIndex.py:245-266). One chain proving the operators
    compose; every stage is the already-graded building block, so the
    whole pipeline stays one shuffle per aggregation level."""
    h = _hourly_pivot(spark, sf_dir)
    valid = (
        F.col("pm25").isNotNull()
        & F.col("pm10").isNotNull()
        & F.col("pm25").between(0.0, 999.999999)
        & F.col("pm10").between(0.0, 999.999999)
    )
    aqi25 = piecewise(F.col("pm25"), AQI_BREAKPOINTS["pm25"], 500.0)
    aqi10 = piecewise(F.col("pm10"), AQI_BREAKPOINTS["pm10"], 500.0)
    hourly = h.withColumn("is_valid", valid).withColumn(
        "max_aqi", F.when(valid, F.greatest(aqi25, aqi10))
    )
    cls = F.lit("Hazardous")
    for bound, label in reversed(_AQI_CLASSES):
        cls = F.when(F.col("peak_aqi") <= bound, label).otherwise(cls)
    return (
        hourly.groupBy("user_id", F.date_trunc("day", "hour").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.count(F.when(F.col("is_valid"), 1)).alias("n_valid_hours"),
            exact_avg(F.col("max_aqi"), 4).alias("avg_aqi"),
            F.max("max_aqi").alias("peak_aqi"),
        )
        .where(F.col("n_valid_hours") > 0)
        .withColumn("aqi_class", cls)
        .orderBy("user_id", "day")
    )


def _sql_daily_qc() -> str:
    a25 = sql_piecewise("pm25", AQI_BREAKPOINTS["pm25"], 500.0)
    a10 = sql_piecewise("pm10", AQI_BREAKPOINTS["pm10"], 500.0)
    valid = (
        "pm25 IS NOT NULL AND pm10 IS NOT NULL"
        " AND pm25 BETWEEN 0.0 AND 999.999999 AND pm10 BETWEEN 0.0 AND 999.999999"
    )
    cls = "CASE "
    for bound, label in _AQI_CLASSES:
        cls += f"WHEN peak_aqi <= {bound} THEN '{label}' "
    cls += "ELSE 'Hazardous' END"
    return f"""
WITH hourly AS ({_SQL_HOURLY_PIVOT}),
flagged AS (
  SELECT user_id, hour,
         ({valid}) AS is_valid,
         CASE WHEN {valid} THEN greatest({a25}, {a10}) END AS max_aqi
  FROM hourly
),
daily AS (
  SELECT user_id, date_trunc('day', hour) AS day,
         count(*) AS n_hours,
         count(CASE WHEN is_valid THEN 1 END) AS n_valid_hours,
         {sql_avg('max_aqi', 4)} AS avg_aqi,
         max(max_aqi) AS peak_aqi
  FROM flagged
  GROUP BY 1, 2
)
SELECT user_id, day, n_hours, n_valid_hours, avg_aqi, peak_aqi,
       {cls} AS aqi_class
FROM daily
WHERE n_valid_hours > 0
ORDER BY user_id, day
"""


SQL_DAILY_QC_REPORT = _sql_daily_qc()


QUERIES: dict[str, tuple] = {
    "daily_qc_report": (q_daily_qc_report, SQL_DAILY_QC_REPORT),
    "aqi_index": (q_aqi_index, SQL_AQI_INDEX),
    "lki_index": (q_lki_index, SQL_LKI_INDEX),
    "aqhi_index": (q_aqhi_index, SQL_AQHI_INDEX),
    "caqi_index": (q_caqi_index, SQL_CAQI_INDEX),
    "joost_correction": (q_joost_correction, SQL_JOOST_CORRECTION),
    "dew_point": (q_dew_point, SQL_DEW_POINT),
    "unit_conversion": (q_unit_conversion, SQL_UNIT_CONVERSION),
    "taylor_calibration": (q_taylor_calibration, SQL_TAYLOR_CALIBRATION),
}
