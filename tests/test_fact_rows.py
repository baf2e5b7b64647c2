"""The typed decode's per-datagram row builder (`pipeline.fact_rows`),
tested without Spark: P1 field-name translation, the registry's unit and
category, P2 range validation, the meta block and the undecodable-payload
NULL that the quarantine keys on, and the port-3 `event_meta` row. The
last test checks that the decode UDF carries the builder's non-finite
values through Spark unchanged."""

from __future__ import annotations

import base64
import math
import struct

import pytest

from mysense_spark.registry import VALID_BOUNDS
from mysense_spark.streaming import pipeline
from mysense_spark.streaming.pipeline import fact_rows

P2_RAW = "hQAAAJsArgF4A3oD+gEOAJw="  # golden port-2 datagram (test_lora_decode)


def _rows_of(monkeypatch, decoded: dict) -> list[tuple]:
    """fact_rows over a fixed decoder output."""
    monkeypatch.setattr(pipeline, "decode_payload", lambda _p, _port: decoded)
    return fact_rows("AA==", 2)


def _by_field(rows: list[tuple]) -> dict[str, tuple]:
    return {r[1]: r for r in rows}


def _libelium(*fields: tuple[int, bytes]) -> str:
    """A port-10 WaspMote frame: header, then [sensor-id][value] pairs."""
    p = b"<=>" + bytes([0x80, 0x00]) + struct.pack("<Q", 0x123456789AB) + b"wasp1#" + bytes([7])
    for sensor_id, value in fields:
        p += bytes([sensor_id]) + value
    return base64.b64encode(p).decode()


def test_golden_port2_rows_are_typed():
    rows = fact_rows(P2_RAW, 2)
    by = _by_field(rows)
    assert set(by) == {"pm25", "pm10", "temp", "rv", "luchtdruk", "gas", "aqi"}
    assert by["luchtdruk"] == ("BME680", "luchtdruk", 1018.0, "hPa", "meteo", True)
    assert isinstance(by["luchtdruk"][2], float)
    assert by["pm25"][3:] == ("ug/m3", "dust", True)
    # sensor type, then field, in sorted order
    assert rows == sorted(rows, key=lambda r: (r[0], r[1]))


@pytest.mark.parametrize(
    "raw,field",
    [
        ("humidity", "rv"),  # exact FIELD_TRANSLATE hit
        ("PM2.5", "pm25"),  # exact hit (case-sensitive key)
        ("Temperature", "temp"),  # lowercase, then the translate map
        ("pm2.5_pcs", "pm25_cnt"),  # _pcs -> _cnt, 2.5 -> 25
        ("PM0.3_pcs", "pm03_cnt"),  # 0.3 -> 03 after lowercasing
        ("voc", "field_voc"),  # unknown: prefixed, never aliases a registered field
        ("Lat", "lat"),  # passthrough
    ],
)
def test_field_translation(monkeypatch, raw, field):
    (row,) = _rows_of(monkeypatch, {"S": {raw: 1.0}})
    assert row[1] == field


def test_unit_category_and_valid_of_unregistered_fields(monkeypatch):
    by = _by_field(_rows_of(monkeypatch, {"NEO-6": {"lat": 51.6}, "BME680": {"voc": 9}}))
    # passthrough and unknown fields: no registry row, no bounds
    assert by["lat"] == ("NEO-6", "lat", 51.6, None, None, True)
    assert by["field_voc"] == ("BME680", "field_voc", 9.0, None, None, True)


def test_valid_bounds_are_half_open(monkeypatch):
    lo, hi = VALID_BOUNDS["temp"]
    for value, valid in ((lo, True), (hi - 1e-9, True), (hi, False), (lo - 0.1, False)):
        (row,) = _rows_of(monkeypatch, {"SHT31": {"temp": value}})
        assert row[5] is valid, value
    # a registered field without bounds is always valid
    (row,) = _rows_of(monkeypatch, {"PMS7003": {"grain": -1e9}})
    assert row == ("PMS7003", "grain", -1e9, "um", "dust", True)


def test_none_value(monkeypatch):
    by = _by_field(_rows_of(monkeypatch, {"SHT31": {"temp": None, "lat": None}}))
    assert by["temp"] == ("SHT31", "temp", None, "C", "meteo", None)
    assert by["lat"][2] is None and by["lat"][5] is True


@pytest.mark.parametrize("bad", [math.nan, math.inf, -math.inf])
def test_port10_non_finite_float_is_kept_and_invalid(bad):
    rows = fact_rows(_libelium((74, struct.pack("<f", bad)), (76, struct.pack("<f", 55.0))), 10)
    by = _by_field(rows)
    temp = by["temp"][2]
    assert math.isnan(temp) if math.isnan(bad) else temp == bad
    assert by["temp"][5] is False
    assert by["rv"] == ("BME280", "rv", 55.0, "%", "meteo", True)


def test_meta_block_dropped():
    rows = fact_rows(_libelium((74, struct.pack("<f", 21.5))), 10)
    assert rows == [("BME280", "temp", 21.5, "C", "meteo", True)]
    # port 12 carries a meta (version) block too
    raw = base64.b64encode(bytes([10, 3, 0x00, 0xD7, 0x02, 0x26])).decode()
    assert [r[:3] for r in fact_rows(raw, 12)] == [("SHT31", "rv", 55.0), ("SHT31", "temp", 21.5)]


def test_port3_is_empty_not_none():
    raw = base64.b64encode(bytes([5, 0, 90, 14])).decode()
    assert fact_rows(raw, 3) == []


def test_event_meta_of_port3():
    raw = base64.b64encode(bytes([5, 0, 90, 14])).decode()
    assert pipeline.event_meta(raw, 3) == (0.5, 14, 90, None, None)
    assert pipeline.event_meta(base64.b64encode(bytes([5])).decode(), 3) is None


@pytest.mark.parametrize(
    "payload,port",
    [
        ("", 2),  # empty datagram: truncated header
        (base64.b64encode(bytes([0x8F, 0, 1])).decode(), 4),  # truncated PM block
        ("not base64!", 2),
        (base64.b64encode(b"<=>" + bytes(5)).decode(), 10),  # cut inside the frame header
        (P2_RAW, 99),  # unsupported port
    ],
)
def test_undecodable_payload_is_none(payload, port):
    assert fact_rows(payload, port) is None


def test_decode_stream_keeps_non_finite_values(spark):
    """The Arrow transport carries NaN/+-inf through as values, not NULL,
    and a row whose port or payload is missing yields no fact row."""
    from pyspark.sql import functions as F

    from mysense_spark.streaming.pipeline import decode_stream

    frames = [_libelium((74, struct.pack("<f", bad))) for bad in (math.nan, math.inf, -math.inf)]
    env = spark.createDataFrame(
        [(f"k{i}", p, 10) for i, p in enumerate(frames)]
        + [("k3", frames[0], None), ("k4", None, 10)],
        "dev_id string, payload_raw string, port int",
    ).select(
        F.lit("app").alias("app_id"), "dev_id", F.lit("AC").alias("serial"), "payload_raw", "port",
        F.current_timestamp().alias("event_ts"), F.current_timestamp().alias("ingest_ts"),
    )
    got = {r["kit_id"]: (r["value"], r["valid"]) for r in decode_stream(env).collect()}
    assert set(got) == {"app_k0", "app_k1", "app_k2"}
    assert math.isnan(got["app_k0"][0])
    assert got["app_k1"] == (math.inf, False) and got["app_k2"] == (-math.inf, False)
    assert got["app_k0"][1] is False
