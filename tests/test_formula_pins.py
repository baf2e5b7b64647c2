"""Independent-expectation pin tests for the formula-heavy families
(VERDICT r6 #6 — the joost_correction lesson): a wrong expression
mirrored into the DuckDB oracle hashes green, so the oracle gate is
structurally blind to it. Each family here is pinned against numbers
computed from the PUBLISHED math (EPA AQI technical assistance doc,
RIVM LKI table, EU CAQI background grid, Environment Canada AQHI,
Grubbs 1969 / published critical-value tables, Student-t integrals) —
restated INSIDE this file, never read from registry.py and never
computed by either engine under test.
"""

from __future__ import annotations

import math

import numpy as np
import pytest


# ---------------------------------------------------------------------------
# independent Student-t machinery: pdf via math.lgamma, CDF via Simpson,
# quantile via bisection — shares no code with operators/_tdist.py
# (which uses the incomplete-beta continued fraction)
# ---------------------------------------------------------------------------

def _t_pdf(x: float, df: float) -> float:
    lognorm = (
        math.lgamma((df + 1.0) / 2.0)
        - math.lgamma(df / 2.0)
        - 0.5 * math.log(df * math.pi)
    )
    return math.exp(lognorm - ((df + 1.0) / 2.0) * math.log1p(x * x / df))


def _t_sf(x: float, df: float, n_steps: int = 40000) -> float:
    """Upper-tail P(T > x) for x >= 0 by Simpson integration of the pdf
    over [0, x] (sf = 0.5 - integral). Absolute error ~1e-12 at this
    resolution for x <= 15."""
    if x < 0:
        return 1.0 - _t_sf(-x, df, n_steps)
    if x == 0:
        return 0.5
    h = x / n_steps
    s = _t_pdf(0.0, df) + _t_pdf(x, df)
    for i in range(1, n_steps):
        s += (4.0 if i % 2 else 2.0) * _t_pdf(i * h, df)
    return 0.5 - s * h / 3.0


def _t_isf(p: float, df: float) -> float:
    """x with P(T > x) = p, bisection on _t_sf."""
    lo, hi = 0.0, 200.0
    for _ in range(200):
        mid = (lo + hi) / 2.0
        if _t_sf(mid, df) > p:
            lo = mid
        else:
            hi = mid
    return (lo + hi) / 2.0


# ---------------------------------------------------------------------------
# AQI / LKI / CAQI piecewise interpolation
# ---------------------------------------------------------------------------

# published segment tables RESTATED here (EPA AQI technical assistance
# document Dec-2013 for AQI; RIVM luchtkwaliteitsindex for LKI; CiteAir-II
# CAQI background grid) — an error transcribed into registry.py cannot
# also be here
_EPA_PM25 = [
    (0.0, 12.0, 0.0, 50.0),
    (12.1, 35.4, 51.0, 100.0),
    (35.5, 55.4, 101.0, 150.0),
    (55.5, 150.4, 151.0, 200.0),
    (150.5, 250.4, 201.0, 300.0),
    (250.5, 350.4, 301.0, 400.0),
    (350.5, 500.4, 401.0, 500.0),
]
_EPA_PM10 = [
    (0.0, 54.0, 0.0, 50.0),
    (55.0, 154.0, 51.0, 100.0),
    (155.0, 254.0, 101.0, 150.0),
    (255.0, 354.0, 151.0, 200.0),
    (355.0, 424.0, 201.0, 300.0),
    (425.0, 504.0, 301.0, 400.0),
    (505.0, 604.0, 401.0, 500.0),
]


def _published_index(c: float, table, cap: float) -> float:
    """The published breakpoint formula: I = Ilo + (Ihi-Ilo)/(Chi-Clo)
    * (C - Clo) on the segment containing C; above the last segment the
    index saturates at the cap. (Gap values between segments are a
    separate engine-contract case, tested explicitly below.)"""
    for lo, hi, ilo, ihi in table:
        if lo <= c <= hi:
            return ilo + (ihi - ilo) / (hi - lo) * (c - lo)
    return float(cap)


def _eval_spark_piecewise(spark, values, table, cap):
    from pyspark.sql import functions as F

    from mysense_spark.operators.indices import piecewise

    df = spark.createDataFrame([(float(v),) for v in values], "c double")
    rows = df.select(F.col("c"), piecewise(F.col("c"), table, cap).alias("i")).collect()
    return {r["c"]: r["i"] for r in rows}


def _eval_duckdb_piecewise(values, table, cap):
    import duckdb

    from mysense_spark.operators.indices import sql_piecewise

    con = duckdb.connect()
    vals = ", ".join(f"({float(v)!r})" for v in values)
    # CAST: a bare VALUES literal is DECIMAL in DuckDB and would come
    # back as decimal.Decimal keys/values
    sql = (
        f"SELECT CAST(c AS DOUBLE) AS c, {sql_piecewise('CAST(c AS DOUBLE)', table, cap)} AS i "
        f"FROM (VALUES {vals}) t(c)"
    )
    return {c: i for c, i in con.execute(sql).fetchall()}


def test_aqi_breakpoints_match_epa_published_values(spark):
    from mysense_spark.registry import AQI_BREAKPOINTS

    # table transcription pin: registry must equal the published table
    assert AQI_BREAKPOINTS["pm25"] == _EPA_PM25
    assert AQI_BREAKPOINTS["pm10"] == _EPA_PM10

    # spot values, hand-derived from the EPA formula:
    #   pm25  9.0 -> 0 + 50/12 * 9        = 37.5
    #   pm25 35.4 -> exactly Ihi of seg 2 = 100
    #   pm25 30.0 -> 51 + 49/23.3 * 17.9  = 88.64377682...
    #   pm25  600 -> above table          = 500 (cap)
    #   pm10 54.0 -> Ihi of seg 1         = 50
    #   pm10  100 -> 51 + 49/99 * 45      = 73.27272727...
    cases25 = {9.0: 37.5, 35.4: 100.0, 30.0: None, 600.0: 500.0}
    for c in cases25:
        if cases25[c] is None:
            cases25[c] = _published_index(c, _EPA_PM25, 500.0)
    got_s = _eval_spark_piecewise(spark, cases25, _EPA_PM25, 500.0)
    got_d = _eval_duckdb_piecewise(cases25, _EPA_PM25, 500.0)
    for c, want in cases25.items():
        assert got_s[c] == pytest.approx(want, abs=5e-8), ("spark pm25", c)
        assert got_d[c] == pytest.approx(want, abs=5e-8), ("duckdb pm25", c)
    assert got_s[30.0] == pytest.approx(88.64377682, abs=5e-8)

    cases10 = {54.0: 50.0, 100.0: _published_index(100.0, _EPA_PM10, 500.0)}
    got_s = _eval_spark_piecewise(spark, cases10, _EPA_PM10, 500.0)
    for c, want in cases10.items():
        assert got_s[c] == pytest.approx(want, abs=5e-8), ("spark pm10", c)
    assert got_s[100.0] == pytest.approx(73.27272727, abs=5e-8)

    # engine contract for EPA's inter-segment gaps (12.0, 12.1): the
    # piecewise builder clamps a gap value to the NEXT segment's floor
    # index (greatest(c, lo)), i.e. 12.05 -> 51.0 — documented behavior,
    # distinct from EPA's truncate-first convention; pinned so a silent
    # change is caught
    assert _eval_spark_piecewise(spark, [12.05], _EPA_PM25, 500.0)[12.05] == 51.0


def test_lki_breakpoints_match_rivm_published_values(spark):
    from mysense_spark.registry import LKI_BREAKPOINTS

    # RIVM LKI pins: pm25 25 µg/m³ sits mid-segment (20,30)->(3,4): 3.5;
    # pm10 50 µg/m³ in (45,60)->(4,5): 4 + 5/15 = 4.33333333;
    # pm25 140 is the table top: 11; beyond saturates at 11.
    got = _eval_spark_piecewise(spark, [25.0, 140.0, 180.0], LKI_BREAKPOINTS["pm25"], 11.0)
    assert got[25.0] == pytest.approx(3.5, abs=5e-8)
    assert got[140.0] == pytest.approx(11.0, abs=5e-8)
    assert got[180.0] == pytest.approx(11.0, abs=5e-8)
    got10 = _eval_spark_piecewise(spark, [50.0], LKI_BREAKPOINTS["pm10"], 11.0)
    assert got10[50.0] == pytest.approx(4.33333333, abs=5e-8)


def test_caqi_breakpoints_match_citeair_published_values(spark):
    from mysense_spark.registry import CAQI_BREAKPOINTS, CAQI_CAP

    # CiteAir background grid pins (class grid 0,25,50,75,100,125):
    #   no2 75  -> (50,100)->(25,50):   37.5
    #   o3  30  -> (0,60)->(0,25):      12.5
    #   pm10 200-> (180,360)->(100,125): 100 + 25/180*20 = 102.77777778
    #   pm25 10 -> (0,15)->(0,25):      16.66666667
    assert _eval_spark_piecewise(spark, [75.0], CAQI_BREAKPOINTS["no2"], CAQI_CAP)[75.0] == pytest.approx(37.5, abs=5e-8)
    assert _eval_spark_piecewise(spark, [30.0], CAQI_BREAKPOINTS["o3"], CAQI_CAP)[30.0] == pytest.approx(12.5, abs=5e-8)
    assert _eval_spark_piecewise(spark, [200.0], CAQI_BREAKPOINTS["pm10"], CAQI_CAP)[200.0] == pytest.approx(102.77777778, abs=5e-8)
    assert _eval_spark_piecewise(spark, [10.0], CAQI_BREAKPOINTS["pm25"], CAQI_CAP)[10.0] == pytest.approx(16.66666667, abs=5e-8)


def test_piecewise_rounds_like_its_sql_twin_on_decimal_ties(spark):
    """Values whose shortest decimal form ends in a 5 at the 9th place:
    a half-up round of that decimal string and a round of the binary
    double land one 1e-8 step apart. Through an identity segment the
    index IS the value, so the Spark builder and its SQL twin must
    return the same double."""
    identity = [(0.0, 1000.0, 0.0, 1000.0)]
    ties = [537.866537445, 570.968281515, 322.355350555]
    got_s = _eval_spark_piecewise(spark, ties, identity, 1000.0)
    got_d = _eval_duckdb_piecewise(ties, identity, 1000.0)
    for c in ties:
        assert got_s[c] == got_d[c], (c, got_s[c], got_d[c])


def test_aqhi_closed_form_matches_environment_canada(spark):
    """AQHI = (1000/10.4) * sum_p (exp(beta_p * c_p) - 1), capped at 11 —
    computed here with math.exp from the published coefficients."""
    from pyspark.sql import functions as F

    from mysense_spark.registry import AQHI_CAP, AQHI_COEFFS, AQHI_SCALE

    assert AQHI_SCALE == pytest.approx(1000.0 / 10.4)
    assert AQHI_COEFFS == {"o3": 0.000537, "no2": 0.000871, "pm25": 0.000487}

    o3, no2, pm25 = 30.0, 40.0, 20.0
    want = (1000.0 / 10.4) * (
        (math.exp(0.000537 * o3) - 1)
        + (math.exp(0.000871 * no2) - 1)
        + (math.exp(0.000487 * pm25) - 1)
    )
    df = spark.createDataFrame([(o3, no2, pm25)], "o3 double, no2 double, pm25 double")
    aqhi = F.lit(AQHI_SCALE) * (
        (F.exp(F.lit(AQHI_COEFFS["o3"]) * F.col("o3")) - 1)
        + (F.exp(F.lit(AQHI_COEFFS["no2"]) * F.col("no2")) - 1)
        + (F.exp(F.lit(AQHI_COEFFS["pm25"]) * F.col("pm25")) - 1)
    )
    got = df.select(F.least(aqhi, F.lit(AQHI_CAP)).alias("a")).collect()[0]["a"]
    assert got == pytest.approx(want, rel=1e-12)
    # hand arithmetic: 96.1538 * (0.016240 + 0.035454 + 0.009788) = 5.9117
    assert got == pytest.approx(5.9117, abs=5e-4)


def _hourly_means(sf_dir: str, series: dict[str, str]) -> dict:
    """Independent hourly pivot: plain DuckDB avg over the raw events —
    recomputed here so the checks below do not inherit the engine's
    exact_avg machinery (plain avg differs only in ~1e-12 float dust,
    inside every tolerance used)."""
    import duckdb

    cols = ", ".join(
        f"avg({expr}) AS {name}" for name, expr in series.items()
    )
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT user_id, date_trunc('hour', ts) AS hour, {cols} "
        f"FROM read_parquet('{sf_dir}/events.parquet') GROUP BY 1, 2"
    ).fetchall()
    return {(r[0], r[1]): r[2:] for r in rows}


def test_dew_point_matches_magnus_sonntag(spark, sf_dir):
    """Magnus/Sonntag-1990 dew point: gamma = ln(RH/100) +
    17.62·T/(243.12+T); dew = 243.12·gamma/(17.62−gamma) — recomputed
    with math.log from independently aggregated hourly means, plus the
    meteorology-table sanity point T=20 °C, RH=60 % → ~12.0 °C."""
    g20 = math.log(0.6) + 17.62 * 20.0 / (243.12 + 20.0)
    assert 243.12 * g20 / (17.62 - g20) == pytest.approx(12.00, abs=0.05)

    from mysense_spark.operators.indices import q_dew_point

    means = _hourly_means(
        sf_dir,
        {
            "temp": "CASE WHEN event_type = 'signup' THEN value / 10 END",
            "rh": "CASE WHEN event_type = 'purchase' THEN least(value / 2, 99.9) END",
        },
    )
    rows = q_dew_point(spark, sf_dir).collect()
    assert rows
    checked = 0
    for r in rows[:25]:
        temp, rh = means[(r["user_id"], r["hour"])]
        gamma = math.log(rh / 100.0) + 17.62 * temp / (243.12 + temp)
        want = 243.12 * gamma / (17.62 - gamma)
        assert r["dew_point"] == pytest.approx(want, abs=5e-4), (r["user_id"], r["hour"])
        checked += 1
    # the temp∩rh hourly intersection is sparse at sf0.001 (3 rows) —
    # every emitted row must pin, however few
    assert checked == len(rows[:25]) and checked > 0


def test_joost_correction_matches_reference_factor(spark, sf_dir):
    """Joost 2018 humidity correction pm' = pm · a · rh^b with the
    correction INVALID (NULL) when the factor exceeds 1. The published
    coefficient pairs put the crit point (factor = 1) at rh ≈ 27.9 %
    for pm2.5 and ≈ 22.4 % for pm10 (the reference's own comment) —
    both re-derived here from e^(ln a / −b); per-row values recomputed
    from independent hourly means."""
    for (a, b), crit in (((3.9, -0.409), 27.9), ((4.31, -0.47), 22.4)):
        assert math.e ** (math.log(a) / -b) == pytest.approx(crit, abs=0.1)
        assert a * crit**b == pytest.approx(1.0, abs=2e-3)

    from mysense_spark.operators.indices import q_joost_correction

    means = _hourly_means(
        sf_dir,
        {
            "pm25": "CASE WHEN event_type = 'error' THEN value END",
            "pm10": "CASE WHEN event_type = 'click' THEN value END",
            "rh": "CASE WHEN event_type = 'purchase' THEN least(value / 2, 99.9) END",
        },
    )
    rows = q_joost_correction(spark, sf_dir).collect()
    assert rows
    checked = 0
    for r in rows[:25]:
        pm25, pm10, rh = means[(r["user_id"], r["hour"])]
        for pm, (a, b), got in ((pm25, (3.9, -0.409), r["pm25_corrected"]),
                                (pm10, (4.31, -0.47), r["pm10_corrected"])):
            f = a * rh**b
            if pm is None:
                assert got is None
            elif f > 1.0:
                assert got is None, "factor > 1 must invalidate, not correct upward"
                checked += 1
            else:
                assert got == pytest.approx(pm * f, abs=5e-4)
                checked += 1
    assert checked >= 5


def test_unit_conversion_matches_molar_formula(spark, sf_dir):
    """µg/m³ → ppb: ppb = c · (273.15 + T) / (12.187 · M) with
    M(NO₂) = 46.0055 g/mol, T = 20 °C — the reference's gas-law constant
    12.187 (= R·10⁶/10⁵ scaling in its units). Hand point: 100 µg/m³ →
    100·293.15/(12.187·46.0055) = 52.287 ppb."""
    assert 100.0 * 293.15 / (12.187 * 46.0055) == pytest.approx(52.287, abs=2e-3)

    import duckdb

    from mysense_spark.operators.indices import q_unit_conversion

    con = duckdb.connect()
    raw = {
        e: v
        for e, v in con.execute(
            f"SELECT event_id, value FROM read_parquet('{sf_dir}/events.parquet') "
            f"WHERE event_type = 'signup'"
        ).fetchall()
    }
    rows = q_unit_conversion(spark, sf_dir).collect()
    assert len(rows) >= 5
    for r in rows[:25]:
        want = raw[r["event_id"]] * (273.15 + 20.0) / (12.187 * 46.0055)
        assert r["ppb"] == pytest.approx(want, abs=5e-4), r["event_id"]


def test_taylor_calibration_matches_chain(spark, sf_dir):
    """Taylor chains value' = max(Σ aᵢ·valueⁱ, 0) — recomputed from the
    registry coefficients by plain Python arithmetic on the raw event
    values read independently via DuckDB."""
    import duckdb

    from mysense_spark.operators.indices import q_taylor_calibration
    from mysense_spark.registry import TAYLOR_CHAINS

    chains = {
        "error": (*TAYLOR_CHAINS[("PMSx003", "pm25")], 0.0),
        "click": (*TAYLOR_CHAINS[("SPS30", "pm25")], 0.0),
        "view": (0.5, 1.1, 0.0001),
    }
    con = duckdb.connect()
    raw = {
        e: v
        for e, v in con.execute(
            f"SELECT event_id, value FROM read_parquet('{sf_dir}/events.parquet')"
        ).fetchall()
    }
    rows = q_taylor_calibration(spark, sf_dir).collect()
    assert len(rows) >= 5
    checked = 0
    for r in rows[:40]:
        a0, a1, a2 = chains[r["event_type"]]
        v = raw[r["event_id"]]
        want = max(a0 + a1 * v + a2 * v * v, 0.0)
        assert r["calibrated"] == pytest.approx(want, abs=5e-4), r["event_id"]
        checked += 1
    assert checked >= 5


# ---------------------------------------------------------------------------
# Grubbs critical threshold
# ---------------------------------------------------------------------------

def test_grubbs_threshold_matches_published_table():
    """G_crit = (N-1)/sqrt(N) * sqrt(t²/(N-2+t²)), t = t_{α/2N, N-2}.
    Pinned two ways: against published two-sided α=0.05 critical values
    (Grubbs/ASTM E178 table) and against an independent t quantile
    (Simpson-integrated CDF, no shared code with _tdist.py)."""
    from mysense_spark.operators._tdist import t_ppf

    published = {8: 2.1266, 10: 2.2900, 20: 2.7082}  # ASTM E178, α=.05 two-sided
    for n, want in published.items():
        q = 0.05 / (2 * n)
        t_indep = _t_isf(q, n - 2)
        # the repo's t_ppf (lower quantile) must agree in magnitude
        assert abs(t_ppf(q, n - 2)) == pytest.approx(t_indep, abs=2e-6)
        crit = (n - 1) / math.sqrt(n) * math.sqrt(t_indep**2 / (n - 2 + t_indep**2))
        assert crit == pytest.approx(want, abs=5e-4), n


def test_grubbs_filter_on_grubbs_1969_example():
    """The classic mass-spectrometer example: one gross outlier at
    245.57; at α=0.05 exactly that point (and only it) is rejected."""
    from mysense_spark.operators.qc import grubbs_filter

    x = np.array([199.31, 199.53, 200.19, 200.82, 201.92, 201.95, 202.18, 245.57])
    keep = grubbs_filter(x, alpha=0.05)
    assert keep.tolist() == [True] * 7 + [False]


# ---------------------------------------------------------------------------
# OLS summary: se / t / R² / p
# ---------------------------------------------------------------------------

def test_ols_summary_matches_independent_recompute(spark, sf_dir):
    """Take the query's own aligned (x, y) pairs for three kits, redo the
    regression INDEPENDENTLY (numpy closed form on raw floats; true
    Student-t two-sided p by Simpson integration) and require the graded
    output to agree: exact fields to ~1e-5, the Hill t→z normal-tail
    p approximation to 2e-3 absolute of the true t p-value."""
    from mysense_spark.operators.regression import _aligned_pairs, q_ols_summary

    out = {r["user_id"]: r for r in q_ols_summary(spark, sf_dir).collect()}
    assert out, "no OLS rows"
    pairs = _aligned_pairs(spark, sf_dir).collect()
    by_user: dict = {}
    for r in pairs:
        by_user.setdefault(r["user_id"], []).append((float(r["x"]), float(r["y"])))

    checked = 0
    for uid in sorted(out)[:3]:
        xy = by_user[uid]
        n = len(xy)
        x = np.array([p[0] for p in xy])
        y = np.array([p[1] for p in xy])
        if n < 4:
            continue
        xbar, ybar = x.mean(), y.mean()
        cxx = float(((x - xbar) ** 2).sum())
        cyy = float(((y - ybar) ** 2).sum())
        cxy = float(((x - xbar) * (y - ybar)).sum())
        slope = cxy / cxx
        intercept = ybar - slope * xbar
        sse = cyy - slope * cxy
        se_s = math.sqrt((sse / (n - 2)) / cxx)
        se_i = math.sqrt((sse / (n - 2)) * (1.0 / n + xbar * xbar / cxx))
        r2 = cxy * cxy / (cxx * cyy)

        row = out[uid]
        assert row["slope"] == pytest.approx(slope, abs=2e-5)
        assert row["intercept"] == pytest.approx(intercept, abs=2e-4)
        assert row["se_slope"] == pytest.approx(se_s, abs=2e-5)
        assert row["se_intercept"] == pytest.approx(se_i, abs=2e-4)
        assert row["r2"] == pytest.approx(r2, abs=2e-5)
        assert row["r2_adj"] == pytest.approx(1 - (1 - r2) * (n - 1) / (n - 2), abs=2e-5)
        assert row["t_slope"] == pytest.approx(slope / se_s, abs=2e-4)

        p_true_slope = 2.0 * _t_sf(abs(slope / se_s), n - 2)
        p_true_int = 2.0 * _t_sf(abs(intercept / se_i), n - 2)
        assert row["p_slope"] == pytest.approx(p_true_slope, abs=2e-3)
        assert row["p_intercept"] == pytest.approx(p_true_int, abs=2e-3)
        checked += 1
    assert checked >= 2, "too few kits with n >= 4 to pin"


# ---------------------------------------------------------------------------
# BM25 (Robertson/Spärck Jones; k1=1.2, b=0.75, +1-floored ln idf)
# ---------------------------------------------------------------------------

def _bm25_expected(docs: dict[int, str], query_terms, k1=1.2, b=0.75):
    """Hand restatement of the Robertson BM25 used by the engine:
    idf(t) = ln((N - df + 0.5)/(df + 0.5) + 1),
    tf_part = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)),
    score(q, d) = sum over query terms present in d of idf*tf_part.
    Plain Python dict/loops on whitespace tokens — shares nothing with
    the engine's Spark expressions or the DuckDB oracle."""
    toks = {d: t.split() for d, t in docs.items()}
    n = len(docs)
    avgdl = sum(len(w) for w in toks.values()) / n
    df = {t: sum(1 for w in toks.values() if t in w) for t in query_terms}
    out = {}
    for d, w in toks.items():
        s = 0.0
        hits = 0
        for t in query_terms:
            tf = w.count(t)
            if tf == 0:
                continue
            hits += 1
            idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
            tfp = (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * len(w) / avgdl))
            s += idf * tfp
        if hits:
            out[d] = (hits, s)
    return out


def test_bm25_matches_hand_computed_robertson_scores(spark):
    """Planted 5-doc corpus with known tf/df/dl; the engine's ranked
    output must reproduce the hand-computed Robertson scores (saturation
    AND length normalization both exercised: doc 3 repeats 'cat' 4x but
    is long; doc 1 has one 'cat' and is short)."""
    from mysense_spark.operators.text import bm25_rank

    docs = {
        1: "cat sat on the mat",
        2: "dog ate my homework today ok fine",
        3: "cat cat cat cat big fluffy cat house pet animal word pad len more toks here",
        4: "mat under dog",
        5: "nothing relevant here at all",
    }
    queries = {0: ("cat", "mat"), 1: ("dog",)}
    doc_df = spark.createDataFrame(
        [(d, t) for d, t in docs.items()], "doc_id long, text string"
    )
    got = {
        (r["query_id"], r["doc_id"]): r
        for r in bm25_rank(doc_df, queries).collect()
    }

    exp0 = _bm25_expected(docs, queries[0])
    exp1 = _bm25_expected(docs, queries[1])
    # coverage: every doc containing a query term appears, nothing else
    assert {d for (q, d) in got if q == 0} == set(exp0)
    assert {d for (q, d) in got if q == 1} == set(exp1)
    for d, (hits, score) in exp0.items():
        row = got[(0, d)]
        assert row["n_terms_hit"] == hits
        assert row["score"] == pytest.approx(score, abs=2e-6)
    for d, (hits, score) in exp1.items():
        row = got[(1, d)]
        assert row["n_terms_hit"] == hits
        assert row["score"] == pytest.approx(score, abs=2e-6)
    # ranking follows the hand scores (desc, doc_id tiebreak)
    want_rank0 = [d for d, _ in sorted(exp0.items(), key=lambda kv: (-kv[1][1], kv[0]))]
    got_rank0 = [d for (q, d), r in sorted(got.items(), key=lambda kv: kv[1]["rank"]) if q == 0]
    assert got_rank0 == want_rank0


def test_bm25_saturation_and_idf_properties(spark):
    """Two structural consequences of the published formula, checked on
    corpora BUILT to isolate them: (a) tf saturation — among equal-length
    docs, score grows with tf but with strictly diminishing increments,
    bounded by the k1+1 asymptote; (b) rarer terms outscore common ones
    at equal tf/dl (the idf ordering)."""
    from mysense_spark.operators.text import bm25_rank

    # (a) equal-length docs, tf = 1..4 of 'cat' padded to length 8
    pads = ["p1 p2 p3 p4 p5 p6 p7", "q1 q2 q3 q4 q5 q6", "r1 r2 r3 r4 r5", "s1 s2 s3 s4"]
    docs = {
        i + 1: (("cat " * (i + 1)) + pads[i]).strip() for i in range(4)
    }
    doc_df = spark.createDataFrame(
        [(d, t) for d, t in docs.items()], "doc_id long, text string"
    )
    rows = bm25_rank(doc_df, {0: ("cat",)}).collect()
    score = {r["doc_id"]: r["score"] for r in rows}
    s = [score[i] for i in range(1, 5)]
    assert s == sorted(s), "score must grow with tf"
    incs = [s[i + 1] - s[i] for i in range(3)]
    assert incs[0] > incs[1] > incs[2] > 0, "increments must diminish (saturation)"
    # k1+1 asymptote on the tf part: score/idf < k1+1
    n, df_ = 4, 4
    idf = math.log((n - df_ + 0.5) / (df_ + 0.5) + 1.0)
    assert all(x / idf < 2.2 for x in s)

    # (b) idf ordering: 'rare' in 1 of 4 docs vs 'common' in 3 of 4
    docs2 = {
        1: "rare common filler a b c",
        2: "common filler d e f g",
        3: "common filler h i j k",
        4: "filler l m n o p",
    }
    doc_df2 = spark.createDataFrame(
        [(d, t) for d, t in docs2.items()], "doc_id long, text string"
    )
    rows2 = bm25_rank(doc_df2, {0: ("rare",), 1: ("common",)}).collect()
    top = {r["query_id"]: r for r in rows2 if r["rank"] == 1}
    assert top[0]["score"] > top[1]["score"], "rarer term must outscore commoner term"


# ---------------------------------------------------------------------------
# Winnowing (Schleimer / Wilkerson / Aiken, SIGMOD 2003; k=5, w=4)
# ---------------------------------------------------------------------------

def _winnow_expected(words, k=5, w=4):
    """Hand restatement of the winnowing selection: hash every word
    k-gram (md5, first 15 hex digits as int — the corpus-wide 60-bit
    hash idiom), slide a w-window over consecutive gram hashes, keep
    each window's minimum, dedupe per document. Returns
    (n_grams, fingerprint set)."""
    import hashlib

    grams = [" ".join(words[i:i + k]) for i in range(len(words) - k + 1)]
    gh = [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams]
    fps = {min(gh[i:i + w]) for i in range(len(gh) - w + 1)}
    return len(grams), fps


def test_winnow_matches_hand_computed_selection(spark):
    """Planted docs: the engine's per-doc n_grams / n_fp / density must
    equal the independent Python recomputation, and the published
    guarantee must hold — every window of w consecutive grams contains a
    selected fingerprint, so any shared run of >= k+w-1 = 8 tokens
    between two docs yields a shared fingerprint in BOTH docs' counts."""
    from mysense_spark.operators.text import winnow

    shared_run = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    docs = {
        1: f"one two three four five six {shared_run} seven eight nine ten",
        2: f"uno dos tres cuatro {shared_run} cinco seis siete ocho nueve",
        3: "lone wolf document with no overlap at all in here whatsoever now",
    }
    doc_df = spark.createDataFrame(
        [(d, t) for d, t in docs.items()], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in winnow(doc_df).collect()}
    assert set(got) == {1, 2, 3}

    for d, text in docs.items():
        n_grams, fps = _winnow_expected(text.split())
        row = got[d]
        assert row["n_grams"] == n_grams, f"doc {d} gram count"
        assert row["n_fp"] == len(fps), f"doc {d} fingerprint count"
        assert row["density"] == pytest.approx(len(fps) / n_grams, abs=1e-6)

    # the >= k+w-1 token overlap guarantee: docs 1 and 2 share a
    # fingerprint; the disjoint doc 3 shares none
    _, fp1 = _winnow_expected(docs[1].split())
    _, fp2 = _winnow_expected(docs[2].split())
    assert fp1 & fp2, "hand check: the planted 8-token run must collide"
    assert got[1]["n_shared_fp"] >= 1
    assert got[2]["n_shared_fp"] >= 1
    assert got[3]["n_shared_fp"] == 0
    assert got[1]["n_shared_fp"] == len(fp1 & fp2)
    assert got[2]["n_shared_fp"] == len(fp1 & fp2)


def test_winnow_density_guarantee_on_random_text():
    """The scheme's published expected density is 2/(w+1) for random
    (collision-free) hashes; the guarantee is density <= 1 and >= 1/w
    (one fingerprint per window, windows overlap w-fold). Checked purely
    in the independent recomputation over a deterministic pseudo-random
    vocabulary — no engine involvement, this pins the TEST's own
    restatement against the paper's bounds so the engine comparison
    above inherits them."""
    import random

    rng = random.Random(17)
    words = [f"w{rng.randrange(10_000)}" for _ in range(600)]
    n_grams, fps = _winnow_expected(words)
    w = 4
    density = len(fps) / n_grams
    assert 1.0 / w <= density <= 1.0
    assert density == pytest.approx(2.0 / (w + 1), abs=0.08)
