"""Golden-pair tests for the clean-room LoRa decoder: payload_raw vs the
expected payload_fields embedded in the reference's MQTT replay corpora
(reference inputtests/*.mqtt — data fixtures, not code)."""

from mysense_spark.sources.lora import decode_payload

# port 2, MySense V1 flags 0x85 (PM1 + gas/aqi)
# golden: TTN-testsuite.mqtt dev lopyprototype20180404
P2_RAW = "hQAAAJsArgF4A3oD+gEOAJw="
P2_EXPECTED = {
    "pm25": 15.5,
    "pm10": 17.4,
    "temp": 7.6,
    "rv": 89.0,
    "luchtdruk": 1018,
    "gas": 270,
    "aqi": 15.6,
}

# port 4, MySense V2 flags 0x8F (PM1 + counts + gas + GPS)
# golden: TTN-testsuite.mqtt dev bwlvc-9cd5
P4_RAW = "jwDcAV4BmoADeMctaQMPAIkANAF6A2ED/QEMAR8ATr4SAAj1GgAAAVw="
P4_EXPECTED = {
    "pm1": 22.0,
    "pm25": 35.0,
    "pm10": 41.0,
    "pm05_cnt": 3091.9,
    "pm1_cnt": 4254.4,
    "pm25_cnt": 4332.7,
    "pm5_cnt": 4346.4,
    "pm10_cnt": 4346.7,
    "grain": 0.5,
    "temp": 7.8,
    "rv": 86.5,
    "luchtdruk": 1021,
    "gas": 268,
    "aqi": 28.7,
    "lat": 51.60466,
    "lon": 5.87034,
    "alt": 34.8,
}

# port 3 meta: golden inputtestP3.mqtt dev salk-20190905
P3_RAW = "BUwATsZmAAj46gAAAQs="
P3_EXPECTED_META = {
    "version": 0.5,
    "dust": "SPS30",
    "gps": "NEO-6",
    "meteo": "BME680",
}
P3_EXPECTED_GEO = {"lat": 51.62598, "lon": 5.8801, "alt": 26.7}


def _flatten(decoded: dict) -> dict:
    flat = {}
    for _sensor, fields in decoded.items():
        flat.update(fields)
    return flat


def test_decode_port2_golden():
    flat = _flatten(decode_payload(P2_RAW, 2))
    for k, v in P2_EXPECTED.items():
        assert flat.get(k) == v, f"{k}: {flat.get(k)} != {v}"


def test_decode_port4_golden():
    flat = _flatten(decode_payload(P4_RAW, 4))
    for k, v in P4_EXPECTED.items():
        assert flat.get(k) == v, f"{k}: {flat.get(k)} != {v}"


def test_decode_port4_sensor_types():
    decoded = decode_payload(P4_RAW, 4)
    assert any(s in decoded for s in ("PMS7003", "SPS30"))
    assert "NEO-6" in decoded


def test_decode_port3_meta_golden():
    meta = decode_payload(P3_RAW, 3)["meta"]
    for k, v in P3_EXPECTED_META.items():
        assert meta.get(k) == v, f"{k}: {meta.get(k)} != {v}"
    geo = meta["geolocation"]
    for k, v in P3_EXPECTED_GEO.items():
        assert abs(geo[k] - v) < 1e-4, f"{k}: {geo[k]} != {v}"


def test_decode_port12_golden():
    # golden: TTN-testsuite.mqtt dev gtl-kipster-weerstation (port 12)
    # BME280 temp 32.2, rv 55.2; NEO-6 lon 5.123456 lat 61.123456,
    # alt NaN-sentinel; windDIY1 wr 120, ws 34.4.
    # luchtdruk: the reference CODE decoder yields int(0x0401)=1025 —
    # the corpus' embedded payload_fields (1024.5) come from TTN's JS
    # decoder, which differs by its own 0.5 offset; code semantics win.
    raw = "AAEBQgIoBAETQKPzWkJ0fmv/////FAB4AVg="
    d = decode_payload(raw, 12)
    assert d["meta"]["version"] == 0.0
    assert d["BME280"]["temp"] == 32.2
    assert d["BME280"]["rv"] == 55.2
    assert d["BME280"]["luchtdruk"] == 1025
    assert abs(d["NEO-6"]["lon"] - 5.1234565) < 1e-4
    assert abs(d["NEO-6"]["lat"] - 61.1234564) < 1e-4
    assert "alt" not in d["NEO-6"]  # 0xFFFFFFFF sentinel -> absent
    assert d["windDIY1"]["wr"] == 120
    assert d["windDIY1"]["ws"] == 34.4


def test_decode_port2_counts_sensor_id_matches_reference_keyerror_path():
    """Reference MyLoRaCode.py:615-620 tests `decoded['pm10_cnt'] or
    decoded['pm5_cnt']` with BRACKET access inside try/finally: when
    byte 8 (pm10_cnt) is zero the KeyError aborts the test before
    pm5_cnt is consulted and the finally keeps ID=2 (SDS011). So
    pm5_cnt alone must NOT flip the sensor to PMS7003."""
    from mysense_spark.sources.lora import _decode_counts_p2

    # counts layout HHHBBB: b[7]=pm5_cnt!=0, b[8]=pm10_cnt==0
    sensor, out = _decode_counts_p2(bytes([0, 10, 0, 20, 0, 30, 4, 5, 0]))
    assert sensor == "SDS011", (sensor, out)
    assert out["pm5_cnt"] == 0.5
    # with b[8] != 0 the same payload detects PMS7003
    sensor2, _ = _decode_counts_p2(bytes([0, 10, 0, 20, 0, 30, 4, 5, 6]))
    assert sensor2 == "PMS7003"


def test_decode_port12_time_field_swallowed_but_frame_aligned():
    """The reference's port-12 'time' rule is malformed (4 elements) and
    its GetVal TypeError is swallowed per-field — the field is dropped
    but its 4 bytes still advance the frame, so a sensor AFTER the time
    record must still decode."""
    import base64
    import struct

    from mysense_spark.sources.lora import decode_payload

    # version 0, sensor 254 (time, 4 bytes), then sensor 3 (SHT31)
    payload = bytes([0, 254]) + struct.pack(">L", 1700000000) + bytes([3]) + struct.pack(
        ">hH", 222, 551
    )
    d = decode_payload(base64.b64encode(payload).decode(), 12)
    assert "time" not in d or not d.get("time"), d  # field swallowed
    assert d["SHT31"]["temp"] == 22.2  # frame stayed aligned
    assert d["SHT31"]["rv"] == 55.1


def test_decode_udf_nan_port_quarantined(spark):
    """A null port must quarantine its row (NULL fact rows), not
    crash the batch — exercised through a real null-port row, the
    exact shape a V3 envelope missing f_port produces. (A pandas UDF
    would see that port as float64 NaN.)"""
    from pyspark.sql import functions as F

    from mysense_spark.streaming.pipeline import _fact_rows_udf

    df = spark.createDataFrame(
        [("hQAAAJsArgF4A3oD+gEOAJw=", 2), ("hQAAAJsArgF4A3oD+gEOAJw=", None)],
        "payload_raw string, port int",
    )
    out = df.select(_fact_rows_udf()(F.col("payload_raw"), F.col("port")).alias("j")).collect()
    assert out[0]["j"]  # valid port decodes to fact rows
    assert out[1]["j"] is None  # null port quarantined, no crash


def test_decode_port10_structural():
    # real WaspMote capture (inputtestP10.mqtt; the corpus embeds no
    # expected fields for port 10, so assertions are structural +
    # physical-plausibility: Nov-2019 NL weather station)
    raw = "PD0+BjhPhxj9wzfe725vZGVfMDEj1TRgSs3MTL1MAADIQk16tMZHngAAAACfAAAAAKCEDQ8/nQicmpmZQA=="
    d = decode_payload(raw, 10)
    assert d["meta"]["wasp_id"] == "node_01"
    assert d["meta"]["frame_type"] == 6
    assert d["energy"]["accu"] == 96.0
    assert d["BME280"]["rv"] == 100.0
    assert d["BME280"]["luchtdruk"] == 1017
    assert -30 < d["BME280"]["temp"] < 45
    assert d["WASPrain"]["rain"] == 0.0
    assert 0 <= d["WASPwind"]["wr"] < 360
    assert 0 <= d["WASPwind"]["ws"] < 50


def test_decode_port3_event():
    # version 0.5, event datagram (byte1 == 0): event 14, value 90
    import base64

    raw = base64.b64encode(bytes([5, 0, 90, 14])).decode()
    meta = decode_payload(raw, 3)["meta"]
    assert meta["event"] == 14
    assert meta["value"] == 90
