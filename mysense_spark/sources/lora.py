"""Clean-room LoRa payload decoder for the MySense datagram formats.

Implements the byte-level payload SEMANTICS documented by the reference
(MyDatacollector/lib/MyLoRaCode.py — port map :293-296, port 2/4 layout
:722-778, meteo :623-648, GPS :649-667, wind :678-690, accu :668-676,
port 3 meta :693-720) as a fresh implementation verified against the
golden `payload_raw`/`payload_fields` pairs embedded in the reference's
MQTT replay corpora (inputtests/*.mqtt).

Datagram layout (MySense V1/V2, ports 2 and 4), big-endian:
  [flags B]  present iff bit7 set; bits: 0x01 PM1 block, 0x02 count block,
             0x04 gas+aqi, 0x08 GPS, 0x10 wind, 0x20 battery
  PM mass    [pm1 H]? pm25 H pm10 H      (x/10 ug/m3, 0 = absent)
  counts p2  pm03 H pm05 H pm1 H pm25 B pm5 B pm10 B  (x/10 pcs/0.1dm3)
  counts p4  pm10 H pm05 H pm1 H pm25 H pm4|5 H [pm03 H | grain H]
             byte0 bit7 -> Plantower cumulative style; byte4 bit7 -> SPS30
  meteo      temp H (x/10 - 30 C) rv H (x/10 %) luchtdruk H (hPa)
             [gas H kOhm, aqi H x/10 %] when flag 0x04
  gps        lat L lon L (x/1e5 deg) alt L (x/10 m)
  wind       ws B (x/5 m/s, +0.1 if dir bit7) dir B&0x7F (*3 deg)
  accu       B (x/10 V)
Port 3 (meta/event): version B (x/10); byte1==0 -> event datagram
  (event = last byte, value = second-to-last); else dust id = byte1&7,
  gps = byte1&8, meteo id = byte1>>4; geolocation 3xL.

Spark integration: the pipeline calls `decode_payload` inside its
typed Arrow UDFs — `streaming.pipeline.fact_rows` for the measurement
ports, `streaming.pipeline.event_meta` for the port-3 event stream. Bit-
twiddling per datagram is microseconds — the Arrow transfer amortizes
across the batch, and decode parallelizes per partition at any scale.
"""

from __future__ import annotations

import base64

DUST_TYPES = ["unknown", "PPD42NS", "SDS011", "PMS7003", "SPS30", "unknown", "unknown"]
METEO_TYPES = ["unknown", "DHT11", "SHT85", "BME280", "BME680", "SHT31"]

FLAG_PM1 = 0x01
FLAG_COUNTS = 0x02
FLAG_GAS = 0x04
FLAG_GPS = 0x08
FLAG_WIND = 0x10
FLAG_ACCU = 0x20


def _u16(b: bytes, i: int) -> int:
    return (b[i] << 8) | b[i + 1]


def _u32(b: bytes, i: int) -> int:
    return (b[i] << 24) | (b[i + 1] << 16) | (b[i + 2] << 8) | b[i + 3]


def _need(b: bytes, n: int, what: str) -> None:
    """Length gate for fixed-size blocks (r11 fuzz hardening): a short
    frame raises the contractual ValueError instead of leaking
    IndexError/struct.error out of the quarantine path."""
    if len(b) < n:
        raise ValueError(f"truncated LoRa datagram: {what} needs {n} bytes, have {len(b)}")


def _decode_pm_mass(b: bytes, has_pm1: bool) -> tuple[str, dict]:
    """PM mass block: optional pm1 then pm25, pm10 (each H, x/10, 0=absent)."""
    out: dict = {}
    sensor = "unknown"
    i = 0
    if has_pm1:
        if _u16(b, 0):
            sensor = "PMS7003"
            out["pm1"] = round(_u16(b, 0) / 10.0, 1)
        i = 2
    if _u16(b, i):
        if sensor == "unknown":
            sensor = "SDS011"
        out["pm25"] = round(_u16(b, i) / 10.0, 1)
    if _u16(b, i + 2):
        if sensor == "unknown":
            sensor = "SDS011"
        out["pm10"] = round(_u16(b, i + 2) / 10.0, 1)
    return sensor, out


def _decode_counts_p2(b: bytes) -> tuple[str, dict]:
    """Port-2 particle counts: HHH (x/10) + BBB (x/10)."""
    out: dict = {}
    if _u16(b, 0):
        out["pm03_cnt"] = round(_u16(b, 0) / 10.0, 1)
    if _u16(b, 2):
        out["pm05_cnt"] = round(_u16(b, 2) / 10.0, 1)
    if _u16(b, 4):
        out["pm1_cnt"] = round(_u16(b, 4) / 10.0, 1)
    if b[6]:
        out["pm25_cnt"] = round(b[6] / 10.0, 1)
    if b[7]:
        out["pm5_cnt"] = round(b[7] / 10.0, 1)
    if b[8]:
        out["pm10_cnt"] = round(b[8] / 10.0, 1)
    # reference (MyLoRaCode.py:615-620): `decoded['pm10_cnt'] or
    # decoded['pm5_cnt']` uses BRACKET access inside try/finally — when
    # byte 8 is zero the KeyError aborts the test before pm5_cnt is ever
    # consulted and the finally-return keeps ID=2. Net semantics:
    # PMS7003 iff byte 8 (pm10_cnt) is non-zero, SDS011 otherwise.
    sensor = "PMS7003" if out.get("pm10_cnt") else "SDS011"
    return sensor, out


def _decode_counts_p4(b: bytes) -> tuple[str, dict]:
    """Port-4 particle counts: 6xH; bit7 of byte0 selects cumulative
    (range) counting, bit7 of byte4 selects the Sensirion variant."""
    b = bytearray(b)
    explicit = True
    if b[0] & 0x80:
        explicit = False
        b[0] &= 0x7F
    sensirion = False
    if b[4] & 0x80:
        sensirion = True
        b[4] &= 0x7F
    sensor = "SPS30" if sensirion else "PMS7003"
    out: dict = {
        "pm10_cnt": round(_u16(b, 0) / 10.0, 1),
        "pm05_cnt": round(_u16(b, 2) / 10.0, 1),
        "pm1_cnt": round(_u16(b, 4) / 10.0, 1),
        "pm25_cnt": round(_u16(b, 6) / 10.0, 1),
    }
    pm45 = round(_u16(b, 8) / 10.0, 1)
    if explicit:
        out["pm03_cnt"] = round(_u16(b, 10) / 10.0, 1)
    else:
        # cumulative ranges -> absolute PM0.3-PMx counts
        # (reference rounds grain via its x/10-style helper first, so the
        # effective precision is 1 decimal: MyLoRaCode.py:534,566)
        out["grain"] = round(_u16(b, 10) / 100.0, 1)
        out["pm1_cnt"] = round(out["pm1_cnt"] + out["pm05_cnt"], 1)
        out["pm25_cnt"] = round(out["pm1_cnt"] + out["pm25_cnt"], 1)
        pm45 = round(pm45 + out["pm25_cnt"], 1)
        out["pm10_cnt"] = round(pm45 + out["pm10_cnt"], 1)
    out["pm4_cnt" if sensirion else "pm5_cnt"] = pm45
    return sensor, out


def _decode_meteo(b: bytes) -> tuple[str, dict]:
    out: dict = {}
    sensor = "unknown"
    if _u16(b, 0):
        sensor = "DHT11"
        out["temp"] = round(_u16(b, 0) / 10.0 - 30, 1)
    if _u16(b, 2):
        sensor = "SHT31"
        out["rv"] = round(_u16(b, 2) / 10.0, 1)
    if len(b) > 4 and _u16(b, 4):
        sensor = "BME280"
        out["luchtdruk"] = _u16(b, 4)
    if len(b) > 6 and _u16(b, 6):
        sensor = "BME680"
        out["gas"] = _u16(b, 6)
    if len(b) > 8 and _u16(b, 8):
        out["aqi"] = round(_u16(b, 8) / 10.0, 1)
    return sensor, out


def _decode_gps(b: bytes) -> dict:
    lat = _u32(b, 0)
    if not lat:
        return {}
    lon = _u32(b, 4)
    if not lon:
        return {}
    out = {"lat": round(lat / 100000.0, 5), "lon": round(lon / 100000.0, 5)}
    # the reference's block gate admits an 11-byte tail (off-by-one,
    # MyLoRaCode.py); degrade to lat/lon-only instead of raising and
    # losing the whole datagram
    if len(b) >= 12:
        alt = _u32(b, 8)
        if alt:
            out["alt"] = round(alt / 10.0, 1)
    return out


def _decode_wind(b: bytes) -> dict:
    speed = round(b[0] / 5.0, 1)
    if b[1] & 0x80:
        speed += 0.1
    out = {"ws": round(speed, 1)}
    direction = b[1] & 0x7F
    if direction > 0:
        out["wr"] = (direction * 3) % 360
    return out


def decode_port_2_or_4(payload: bytes, port: int) -> dict:
    """Measurement datagram -> {sensor_type: {field: value}}."""
    _need(payload, 1, "port-2/4 header")
    out: dict = {}
    flags = 0
    i = 0
    if payload[0] & 0x80:
        flags = payload[0]
        i = 1
    elif port == 2:
        if len(payload) == 10:  # legacy: meteo(6) + pm(4), swapped pm order
            m_sensor, meteo = _decode_meteo(payload[:6])
            p_sensor, pm = _decode_pm_mass(payload[6:10], has_pm1=False)
            pm["pm10"], pm["pm25"] = pm.get("pm25"), pm.get("pm10")
            out.setdefault(m_sensor, {}).update(meteo)
            out.setdefault(p_sensor, {}).update({k: v for k, v in pm.items() if v is not None})
            return out
        elif len(payload) >= 16:
            flags = FLAG_PM1 | FLAG_GAS

    end = i + (6 if flags & FLAG_PM1 else 4)
    _need(payload, end, "PM mass block")
    pm_sensor, pm = _decode_pm_mass(payload[i:end], has_pm1=bool(flags & FLAG_PM1))
    i = end
    if flags & FLAG_COUNTS:
        if port == 2:
            _need(payload, i + 9, "port-2 counts block")
            c_sensor, counts = _decode_counts_p2(payload[i : i + 9])
            i += 9
        else:
            _need(payload, i + 12, "port-4 counts block")
            c_sensor, counts = _decode_counts_p4(payload[i : i + 12])
            i += 12
        counts.update(pm)
        out[c_sensor] = counts
    elif pm:
        out[pm_sensor] = pm

    end = i + 6
    if len(payload) >= end:
        if flags & FLAG_GAS:
            end += 4
            _need(payload, end, "meteo+gas block")
        m_sensor, meteo = _decode_meteo(payload[i:end])
        if meteo:
            out.setdefault(m_sensor, {}).update(meteo)
        i = end
        if flags & FLAG_GPS and len(payload) >= i + 11:
            gps = _decode_gps(payload[i : i + 12])
            if gps:
                out["NEO-6"] = gps
            i += 12
        if flags & FLAG_WIND and len(payload) >= i + 2:
            out["wind"] = _decode_wind(payload[i : i + 2])
            i += 2
        if flags & FLAG_ACCU and len(payload) >= i + 1 and payload[i]:
            out["accu"] = {"accu": round(payload[i] / 10.0, 2)}
    return out


def decode_port_3(payload: bytes) -> dict:
    """Meta/event datagram: kit configuration or an operational event."""
    _need(payload, 2, "port-3 header")
    meta: dict = {"version": round(payload[0] / 10.0, 1)}
    if payload[1] == 0:
        _need(payload, 4, "port-3 event frame")
        meta["event"] = payload[-1]
        if payload[-2]:
            meta["value"] = payload[-2]
        return {"meta": meta}
    dust_id = payload[1] & 7
    meta["dust"] = DUST_TYPES[dust_id] if dust_id < len(DUST_TYPES) else "unknown"
    if payload[1] & 8:
        meta["gps"] = "NEO-6"
    meteo_id = (payload[1] >> 4) & 15
    meta["meteo"] = METEO_TYPES[meteo_id] if meteo_id < len(METEO_TYPES) else "unknown"
    _need(payload, 14, "port-3 config frame")
    lat = _u32(payload, 2)
    if lat:
        meta["geolocation"] = {
            "lat": round(lat / 100000.0, 6),
            "lon": round(_u32(payload, 6) / 100000.0, 6),
            "alt": round(_u32(payload, 10) / 10.0, 6),
        }
    return {"meta": meta}


# ---------------------------------------------------------------------------
# Port 12 "weerDIY1" rules engine (MyLoRaCode.py LoRaCodeRules :216-255):
# datagram = version byte (x/10) then repeated [sensor-id B][packed fields];
# field rule = (name, struct fmt, NaN sentinel, (offset, scale), unit);
# value = (raw - offset) / scale, None when raw == sentinel.
# ---------------------------------------------------------------------------
_NAN = {"B": 2**8 - 1, "b": 2**7 - 1, "H": 2**16 - 1, "h": 2**15 - 1, "L": 2**32 - 1, "l": 2**31 - 1}

WEER_DIY1_RULES: dict[int, tuple[str, list[tuple]]] = {
    1: ("BME280", [("temp", "h", _NAN["h"], (0, 10.0), "C"), ("rv", "h", _NAN["h"], (0, 10.0), "%"),
                   ("luchtdruk", "H", _NAN["H"], (0, 1.0), "hPa")]),
    2: ("BME680", [("temp", "h", _NAN["h"], (0, 10.0), "C"), ("rv", "H", _NAN["H"], (0, 10.0), "%"),
                   ("luchtdruk", "H", _NAN["H"], (0, 1.0), "hPa"), ("voc", "H", _NAN["H"], (0, 1.0), "Kohm"),
                   ("aqi", "B", _NAN["B"], (0, 1.0), "%")]),
    3: ("SHT31", [("temp", "h", _NAN["h"], (0, 10.0), "C"), ("rv", "H", _NAN["H"], (0, 10.0), "%")]),
    19: ("NEO-6", [("lon", "f", None, (0, 1.0), "degrees"), ("lat", "f", None, (0, 1.0), "degrees"),
                   ("alt", "L", _NAN["L"], (0, 10.0), "m")]),
    20: ("windDIY1", [("wr", "H", _NAN["h"], (0, 1.0), "degrees"), ("ws", "H", _NAN["H"], (0, 10.0), "m/sec")]),
    21: ("Argent", [("wr", "H", _NAN["h"], (0, 1.0), "degrees"), ("ws", "H", _NAN["H"], (0, 20.0), "m/sec")]),
    22: ("Ultrasonic", [("wr", "H", _NAN["h"], (0, 1.0), "degrees"), ("ws", "H", _NAN["H"], (0, 10.0), "m/sec")]),
    23: ("RainCounter", [("rain", "H", _NAN["H"], (0, 10.0), "mm/h")]),
    # sensor id 254: the reference's rule ['time','L',[2**31,1],'sec'] is
    # MALFORMED — 4 elements where the engine expects 5, so the NaN slot
    # holds [2**31,1] and the tailor slot holds the unit string; GetVal
    # then raises TypeError inside the per-field try and the field is
    # silently DROPPED while its 4 bytes still advance the frame
    # (MyLoRaCode.py:250-251, 478-488). Parity = consume the bytes,
    # decode nothing: a None name marks the swallowed field.
    254: ("time", [(None, "L", None, (0, 1.0), "sec")]),
}


def decode_port_12(payload: bytes) -> dict:
    """weerDIY1 rules-engine decode (big-endian)."""
    import struct

    _need(payload, 1, "port-12 header")
    out: dict = {"meta": {"version": round(payload[0] / 10.0, 1)}}
    i = 1
    while i < len(payload):
        sensor_id = payload[i]
        i += 1
        if sensor_id not in WEER_DIY1_RULES:
            break  # unknown sensor id: cannot advance reliably
        sensor, fields = WEER_DIY1_RULES[sensor_id]
        fmt = ">" + "".join(f[1] for f in fields)
        size = struct.calcsize(fmt)
        _need(payload, i + size, f"weerDIY1 sensor-{sensor_id} block")
        values = struct.unpack(fmt, payload[i : i + size])
        i += size
        decoded: dict = {}
        for (name, _f, nan, (off, scale), _unit), raw in zip(fields, values):
            if name is None:  # reference-swallowed field: bytes consumed, no value
                continue
            if nan is not None and raw == nan:
                continue
            val = (raw - off) / scale
            if name in ("lon", "lat"):
                val = round(val, 7)
            elif name in ("wr", "luchtdruk"):
                val = int(val)
            elif isinstance(val, float):
                val = round(val, 1)
            decoded[name] = val
        if decoded:
            out.setdefault(sensor, {}).update(decoded)
    return out


# ---------------------------------------------------------------------------
# Port 10 "Libelium" WaspMote tiny frame (MyLoRaCode.py rules :256-290):
# little-endian; header '<=>' + type B + size B + serial Q + WaspID string
# terminated by '#' + sequence B; then repeated [sensor-id B][value].
# ---------------------------------------------------------------------------
LIBELIUM_RULES: dict[int, tuple[str, str, str, float]] = {
    # id: (sensor, field, struct fmt, scale divisor)
    52: ("energy", "accu", "B", 1.0),
    74: ("BME280", "temp", "f", 1.0),
    76: ("BME280", "rv", "f", 1.0),
    77: ("BME280", "luchtdruk", "f", 100.0),
    156: ("WASPwind", "ws", "f", 1.0),
    157: ("WASPwind", "wr", "B", 0.25),
    158: ("WASPrain", "rain", "f", 1.0),
    159: ("WASPrain", "prevrain", "f", 1.0),
    160: ("WASPrain", "dayrain", "f", 1.0),
}


def decode_port_10(payload: bytes) -> dict:
    """Libelium WaspMote frame decode (no golden outputs exist in the
    reference corpus; validated structurally against real captures)."""
    import struct

    if payload[:3] != b"<=>":
        raise ValueError("not a Libelium frame")
    _need(payload, 13, "Libelium header")
    frame_type = payload[3]
    serial = struct.unpack("<Q", payload[5:13])[0]
    end = payload.index(b"#", 13)  # ValueError when missing: contractual
    _need(payload, end + 2, "Libelium sequence byte")
    wasp_id = payload[13:end].decode("ascii", errors="replace")
    seq = payload[end + 1]
    out: dict = {
        "meta": {"frame_type": frame_type, "serial": f"{serial:x}", "wasp_id": wasp_id, "seq": seq}
    }
    i = end + 2
    while i < len(payload):
        sensor_id = payload[i]
        i += 1
        if sensor_id not in LIBELIUM_RULES:
            break
        sensor, field, fmt, scale = LIBELIUM_RULES[sensor_id]
        size = struct.calcsize(fmt)
        _need(payload, i + size, f"Libelium sensor-{sensor_id} value")
        (raw,) = struct.unpack("<" + fmt, payload[i : i + size])
        i += size
        val = raw / scale
        if field in ("wr", "luchtdruk"):
            val = int(val)
        else:
            val = round(float(val), 1)
        out.setdefault(sensor, {})[field] = val
    return out


def decode_payload(payload_b64: str, port: int) -> dict:
    """Decode a base64 LoRa payload for the given port.

    Ports 2/4: MySense measurement datagrams; 3: meta/events;
    10: Libelium WaspMote frame; 12: weerDIY1 rules engine."""
    raw = base64.b64decode(payload_b64)
    if port in (2, 4):
        return decode_port_2_or_4(raw, port)
    if port == 3:
        return decode_port_3(raw)
    if port == 10:
        return decode_port_10(raw)
    if port == 12:
        return decode_port_12(raw)
    raise ValueError(f"unsupported LoRa port {port}")
