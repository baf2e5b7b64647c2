"""Registry-as-data: field registry, validation bounds, calibration chains,
humidity-correction coefficients, AQI-family breakpoint tables.

The reference keeps these scattered as code constants; we centralize them as
plain data so every operator (and its DuckDB oracle) reads the same source.

Provenance (reference file:line, semantics only — no code copied):
- field registry types/precision: MyDatacollector/lib/MyDB.py:100-137
- field-name translation: MyDatacollector/MyDatacollector.py:332-349
- validation bounds (InvalidSensed): MyDatacollector/MyDatacollector.py:761-787
- static-value triggers: MyDatacollector/MyDatacollector.py:211
- Joost humidity correction: statistics/grubbs.py:138-174
- Taylor calibration chains: MyDatacollector/MySQLdbSetup.sql:85,
  lib/MyARCHIVE.py:267-300
- AQI/LKI/AQHI tables: scripts/AirQualityIndex.py:233-243, 414-424, 860-866
"""

from __future__ import annotations

# ---------------------------------------------------------------------------
# Field registry: name -> (unit, decimal precision, category)
# Mirrors MyDB.py Sensor_fields; DECIMAL(p,s) becomes round-to-s-decimals.
# ---------------------------------------------------------------------------
FIELD_REGISTRY: dict[str, tuple[str, int, str]] = {
    "pm1": ("ug/m3", 2, "dust"),
    "pm25": ("ug/m3", 2, "dust"),
    "pm10": ("ug/m3", 2, "dust"),
    "pm03_cnt": ("pcs/dm3", 2, "dust"),
    "pm05_cnt": ("pcs/dm3", 2, "dust"),
    "pm1_cnt": ("pcs/dm3", 2, "dust"),
    "pm25_cnt": ("pcs/dm3", 2, "dust"),
    "pm5_cnt": ("pcs/dm3", 2, "dust"),
    "pm10_cnt": ("pcs/dm3", 2, "dust"),
    "grain": ("um", 2, "dust"),
    "temp": ("C", 1, "meteo"),
    "rv": ("%", 1, "meteo"),
    "luchtdruk": ("hPa", 0, "meteo"),
    "gas": ("kOhm", 1, "gas"),
    "aqi": ("%", 1, "gas"),
    "altitude": ("m", 1, "location"),
    "accu": ("V", 1, "energy"),
    "wr": ("degrees", 0, "wind"),
    "ws": ("m/sec", 1, "wind"),
    "rain": ("mm/h", 1, "rain"),
    "rssi": ("dB", 0, "net"),
}

# Field-name normalization (translate(), MyDatacollector.py:332-349)
FIELD_TRANSLATE: dict[str, str] = {
    "temperature": "temp",
    "humidity": "rv",
    "hum": "rv",
    "rh": "rv",
    "pressure": "luchtdruk",
    "pres": "luchtdruk",
    "pa": "luchtdruk",
    "geo": "geohash",
    "wind_speed": "ws",
    "wind_direction": "wr",
    "PM1": "pm1",
    "PM25": "pm25",
    "PM2.5": "pm25",
    "PM10": "pm10",
}


# canonical names that pass through untranslated even though they carry
# no registry row (position/meta fields the LoRa decoder emits directly).
PASSTHROUGH_FIELDS = frozenset(
    {"geohash", "longitude", "latitude", "lat", "lon", "alt", "time", "event", "value", "version"}
)


def translate_field(name: str) -> str:
    """Normalize a sensor field name like the reference's translate()."""
    n = name.strip()
    if n in FIELD_TRANSLATE:
        return FIELD_TRANSLATE[n]
    low = n.lower().replace("_pcs", "_cnt").replace("2.5", "25").replace("0.3", "03").replace("0.5", "05")
    if low in FIELD_REGISTRY or low in PASSTHROUGH_FIELDS:
        return low
    if low in FIELD_TRANSLATE:
        return FIELD_TRANSLATE[low]
    return f"field_{low}"


# ---------------------------------------------------------------------------
# Validation bounds [lo, hi) per field (InvalidSensed, MyDatacollector.py:761-787)
# ---------------------------------------------------------------------------
VALID_BOUNDS: dict[str, tuple[float, float]] = {
    "temp": (-20.0, 45.0),
    "rv": (0.0, 100.0),
    "luchtdruk": (700.0, 1060.0),
    "pm1": (0.0, 1000.0),
    "pm25": (0.0, 1000.0),
    "pm10": (0.0, 1000.0),
    "pm03_cnt": (0.0, 25000.0),
    "pm05_cnt": (0.0, 25000.0),
    "pm1_cnt": (0.0, 25000.0),
    "pm25_cnt": (0.0, 25000.0),
    "pm5_cnt": (0.0, 25000.0),
    "pm10_cnt": (0.0, 25000.0),
    "gas": (0.0, 6000.0),
    "aqi": (0.0, 100.0),
    "ws": (0.0, 50.0),
    "wr": (0.0, 360.0),
    "accu": (0.0, 15.0),
    "rain": (0.0, 50.0),
}

# Static-value triggers: consecutive identical values before flagging
# (Conf['check'], MyDatacollector.py:211)
STATIC_TRIGGERS: dict[str, int] = {"luchtdruk": 100, "temp": 20, "rv": 20, "pm10": 30, "pm25": 30}
STATIC_TRIGGER_DEFAULT = 10
STATIC_RUN_COMPANION = 5  # run length when a companion field confirms (FilterShow.py:456-461)

# PM mass NULL-fill when particle counts are present (FilterShow.py:386-397)
PM_MASS_FILL = 0.013

# ---------------------------------------------------------------------------
# Joost humidity correction: pm' = pm * a * rh^b  (grubbs.py:143-147)
# invalid when correction factor > 1 (rh below the crossing point)
# ---------------------------------------------------------------------------
JOOST_COEFFS: dict[str, tuple[float, float]] = {
    "pm25": (3.9, -0.409),
    "pm10": (4.31, -0.47),
}

# ---------------------------------------------------------------------------
# Taylor calibration chains: value' = sum_i a_i * value^i per (sensor, field)
# (SensorTypes.fields packed strings, MySQLdbSetup.sql:85; applied in
# lib/MyARCHIVE.py:267-300). Stored here parsed, keyed (sensor_type, field).
# ---------------------------------------------------------------------------
TAYLOR_CHAINS: dict[tuple[str, str], list[float]] = {
    ("PMSx003", "pm25"): [1.619, 1.545],
    ("PMSx003", "pm10"): [1.5, 1.4],
    ("SPS30", "pm25"): [2.163, 0.7645],
    ("SPS30", "pm10"): [2.0, 0.8],
    ("SDS011", "pm25"): [0.0, 1.0],
    ("SDS011", "pm10"): [0.0, 1.0],
}

# Unit conversions (lib/MyARCHIVE.py:277-281)
UNIT_CONVERSION: dict[tuple[str, str], tuple[float, float]] = {
    # (from, to) -> (a0, a1): to = a0 + a1 * from
    ("Pa", "hPa"): (0.0, 0.01),
    ("C", "K"): (273.15, 1.0),
}

# Molar masses for ug/m3 <-> ppb (GMOL, scripts/AirQualityIndex.py:60-86)
GMOL: dict[str, float] = {
    "co": 28.011,
    "co2": 44.0095,
    "no": 30.006,
    "no2": 46.0055,
    "o3": 47.998,
    "so2": 64.0638,
    "nh3": 17.03052,
}

# ---------------------------------------------------------------------------
# AQI (EPA) breakpoint table (AirQualityIndex.py:233-243).
# Per pollutant: list of (conc_lo, conc_hi, aqi_lo, aqi_hi) segments.
# Index = aqi_lo + (conc - conc_lo) * (aqi_hi - aqi_lo) / (conc_hi - conc_lo)
# ---------------------------------------------------------------------------
AQI_BREAKPOINTS: dict[str, list[tuple[float, float, float, float]]] = {
    "pm25": [
        (0.0, 12.0, 0.0, 50.0),
        (12.1, 35.4, 51.0, 100.0),
        (35.5, 55.4, 101.0, 150.0),
        (55.5, 150.4, 151.0, 200.0),
        (150.5, 250.4, 201.0, 300.0),
        (250.5, 350.4, 301.0, 400.0),
        (350.5, 500.4, 401.0, 500.0),
    ],
    "pm10": [
        (0.0, 54.0, 0.0, 50.0),
        (55.0, 154.0, 51.0, 100.0),
        (155.0, 254.0, 101.0, 150.0),
        (255.0, 354.0, 151.0, 200.0),
        (355.0, 424.0, 201.0, 300.0),
        (425.0, 504.0, 301.0, 400.0),
        (505.0, 604.0, 401.0, 500.0),
    ],
}

# LKI (RIVM NL) breakpoints (AirQualityIndex.py:414-424); index range 0-11.
LKI_BREAKPOINTS: dict[str, list[tuple[float, float, float, float]]] = {
    "pm25": [
        (0.0, 10.0, 0.0, 1.0),
        (10.0, 15.0, 1.0, 2.0),
        (15.0, 20.0, 2.0, 3.0),
        (20.0, 30.0, 3.0, 4.0),
        (30.0, 40.0, 4.0, 5.0),
        (40.0, 50.0, 5.0, 6.0),
        (50.0, 70.0, 6.0, 7.0),
        (70.0, 90.0, 7.0, 8.0),
        (90.0, 100.0, 8.0, 9.0),
        (100.0, 120.0, 9.0, 10.0),
        (120.0, 140.0, 10.0, 11.0),
    ],
    "pm10": [
        (0.0, 15.0, 0.0, 1.0),
        (15.0, 23.0, 1.0, 2.0),
        (23.0, 30.0, 2.0, 3.0),
        (30.0, 45.0, 3.0, 4.0),
        (45.0, 60.0, 4.0, 5.0),
        (60.0, 75.0, 5.0, 6.0),
        (75.0, 100.0, 6.0, 7.0),
        (100.0, 125.0, 7.0, 8.0),
        (125.0, 150.0, 8.0, 9.0),
        (150.0, 175.0, 9.0, 10.0),
        (175.0, 200.0, 10.0, 11.0),
    ],
}

# CAQI (EU) background table (AirQualityIndex.py:590-648): pollutant
# level grid mapped onto the CAQI class grid [0,25,50,75,100,125];
# mandated pollutants must be present for the index to be valid.
_CAQI_CLASS = [0.0, 25.0, 50.0, 75.0, 100.0, 125.0]


def _caqi_segments(levels: list[float]) -> list[tuple[float, float, float, float]]:
    return [
        (levels[i], levels[i + 1], _CAQI_CLASS[i], _CAQI_CLASS[i + 1])
        for i in range(len(levels) - 1)
    ]


CAQI_BREAKPOINTS: dict[str, list[tuple[float, float, float, float]]] = {
    "no2": _caqi_segments([0.0, 50.0, 100.0, 200.0, 400.0, 800.0]),
    "pm10": _caqi_segments([0.0, 25.0, 50.0, 90.0, 180.0, 360.0]),
    "o3": _caqi_segments([0.0, 60.0, 120.0, 180.0, 240.0, 480.0]),
    "pm25": _caqi_segments([0.0, 15.0, 30.0, 55.0, 110.0, 220.0]),
}
CAQI_MANDATED = ("no2", "pm10", "o3")
CAQI_CAP = 125.0

# AQHI (Canada) closed form (AirQualityIndex.py:860-866)
AQHI_SCALE = 1000.0 / 10.4
AQHI_COEFFS = {"o3": 0.000537, "no2": 0.000871, "pm25": 0.000487}
AQHI_CAP = 11.0

# Grubbs QC parameters (statistics/grubbs.py:73, 760-828, 889-918)
GRUBBS_ALPHA = 0.05
GRUBBS_MIN_VALUES = 15
