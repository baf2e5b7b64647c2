"""Seeded TTN uplink load generator: MQTT dump lines in drop files.

Everything the ingest workloads feed the collector comes from here, and
all of it is written before any timed region starts. The program under
test only ever sees the files.

Line mix (per line, drawn from the seed):

- 3% exact redeliveries of one of the 50 lines before (byte-identical;
  the broker re-sending an uplink), 1% malformed lines (JSON cut off
  inside the first key, before any device identity), 1% uplinks on an
  unsupported port (port 99), 0.5% undecodable payloads (a port-2 uplink
  whose datagram is one byte long);
- the rest are uplinks from ~500 kits. Each kit has one measurement port
  for its life: port 2 (38% of kits), port 4 (30%), port 12 (17%),
  port 10 (15%); 8% of a kit's uplinks are port-3 meta frames instead.
- 70% of kits speak the TTN V2 envelope, 30% V3 (the shapes of
  tests/fixtures_mqtt.py), with 1-3 gateways each.
- Event times advance evenly across DAYS days in file order, with an
  out-of-order jitter of up to 30 minutes (well inside the pipeline's
  2 h watermark, so no record is late and the batch twin is exact).
- About 2% of measurements fall outside the validation bounds.

Malformed lines are cut inside the identity fields on purpose. A line
cut later (identity and payload intact, `metadata` cut) is treated
differently by the two paths the ingest check compares: the batch read
drops it, while the stream keeps it with event time = ingest time, which
also moves the watermark to the present and drops every later record.
That is a batch/stream parity defect in the program, recorded in
CHANGES.md and kept visible by an expected-failure self-test; until it
is fixed such lines would fail every ingest run. Once it is, widen
MALFORMED_CUT to cut anywhere in the line.

Payload bytes follow the layouts decoded by mysense_spark/sources/lora.py.
"""

from __future__ import annotations

import base64
import json
import os
import random
import struct
import time
from dataclasses import dataclass

N_KITS = 500
START_EPOCH = 1709251200  # 2024-03-01T00:00:00Z
DAYS = 4
JITTER_S = 1800
# file mtimes are pinned so the file source replays files in name order
MTIME_BASE = 1700000000

KIT_PORTS = (2, 4, 12, 10)
KIT_PORT_P = (0.38, 0.30, 0.17, 0.15)
P_REDELIVER = 0.03
P_MALFORMED = 0.01
P_BAD_PORT = 0.01
P_BAD_PAYLOAD = 0.005
P_META = 0.08
P_INVALID = 0.02
# a malformed line keeps the topic and this many characters (drawn
# uniformly from the range) of its JSON: a cut inside the first key
MALFORMED_CUT = (2, 12)


@dataclass(frozen=True)
class Kit:
    app: str
    dev: str
    serial: str
    port: int
    v3: bool
    lat: float
    lon: float


def make_kits(rng: random.Random, n: int = N_KITS) -> list[Kit]:
    return [
        Kit(
            app=f"mysense-{i % 7}",
            dev=f"kit-{i:04d}",
            serial=f"{rng.getrandbits(63):016X}",
            port=rng.choices(KIT_PORTS, weights=KIT_PORT_P)[0],
            v3=rng.random() < 0.30,
            lat=rng.uniform(51.2, 51.9),
            lon=rng.uniform(5.2, 6.2),
        )
        for i in range(n)
    ]


def _u16(x: float) -> bytes:
    return struct.pack(">H", max(0, min(int(round(x)), 0xFFFF)))


def _meteo(rng: random.Random, bad: bool) -> tuple[float, float, float]:
    temp = rng.gauss(12, 6) if not bad else 55.0 + rng.random() * 10
    rv = min(max(rng.gauss(70, 12), 1.0), 99.0)
    pres = rng.gauss(1013, 8)
    return temp, rv, pres


def payload_port_2_or_4(rng: random.Random, port: int, kit: Kit, bad: bool) -> bytes:
    """Flagged MySense datagram: PM1 block, counts, meteo+gas, GPS,
    wind and battery, each present per a seeded coin."""
    flags = 0x80 | 0x01 | 0x02 | 0x04
    if rng.random() < 0.3:
        flags |= 0x08
    if rng.random() < 0.2:
        flags |= 0x10
    if rng.random() < 0.5:
        flags |= 0x20
    pm25 = rng.gammavariate(2.0, 6.0)
    out = bytearray([flags])
    out += _u16(pm25 * 0.7 * 10) + _u16(pm25 * 10) + _u16(pm25 * 1.4 * 10)
    if port == 2:
        out += _u16(rng.uniform(100, 3000) * 10) + _u16(rng.uniform(50, 900) * 10)
        out += _u16(rng.uniform(10, 300) * 10)
        out += bytes(rng.randrange(1, 250) for _ in range(3))
    else:
        counts = bytearray(b"".join(_u16(rng.uniform(1, 2000) * 10) for _ in range(6)))
        counts[0] &= 0x7F
        counts[4] &= 0x7F
        if rng.random() < 0.4:
            counts[4] |= 0x80  # SPS30 variant
        out += counts
    temp, rv, pres = _meteo(rng, bad)
    out += _u16((temp + 30) * 10) + _u16(rv * 10) + _u16(pres)
    out += _u16(rng.uniform(5, 500)) + _u16(rng.uniform(0, 99) * 10)
    if flags & 0x08:
        out += struct.pack(">LLL", int(kit.lat * 1e5), int(kit.lon * 1e5), int(rng.uniform(0, 500)))
    if flags & 0x10:
        out += bytes([rng.randrange(0, 100), rng.randrange(1, 120)])
    if flags & 0x20:
        out += bytes([rng.randrange(30, 130)])
    return bytes(out)


def payload_port_3(rng: random.Random, kit: Kit) -> bytes:
    if rng.random() < 0.3:  # event frame
        return bytes([rng.randrange(10, 50), 0, rng.randrange(0, 9), rng.randrange(1, 6)])
    cfg = (rng.randrange(1, 5) & 7) | 8 | (rng.randrange(1, 6) << 4)
    return bytes([rng.randrange(10, 50), cfg]) + struct.pack(
        ">LLL", int(kit.lat * 1e5), int(kit.lon * 1e5), int(rng.uniform(0, 5000))
    )


def payload_port_12(rng: random.Random, bad: bool) -> bytes:
    temp, rv, pres = _meteo(rng, bad)
    out = bytearray([rng.randrange(10, 30)])
    out += bytes([1]) + struct.pack(">hhH", int(temp * 10), int(rv * 10), int(pres))
    if rng.random() < 0.5:
        out += bytes([20]) + struct.pack(">HH", rng.randrange(0, 360), int(rng.uniform(0, 30) * 10))
    if rng.random() < 0.3:
        out += bytes([23]) + struct.pack(">H", int(rng.uniform(0, 20) * 10))
    return bytes(out)


def payload_port_10(rng: random.Random, kit: Kit, bad: bool) -> bytes:
    temp, rv, pres = _meteo(rng, bad)
    body = (
        bytes([74]) + struct.pack("<f", temp)
        + bytes([76]) + struct.pack("<f", rv)
        + bytes([77]) + struct.pack("<f", pres * 100)
        + bytes([52, rng.randrange(20, 100)])
    )
    head = b"<=>" + bytes([0x86, 0]) + struct.pack("<Q", int(kit.serial, 16))
    return head + kit.dev.encode() + b"#" + bytes([rng.randrange(0, 256)]) + body


def _iso(t: float, nanos: int) -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(int(t))) + f".{nanos:09d}Z"


def envelope_line(kit: Kit, port: int, payload: bytes, t: float, counter: int,
                  rng: random.Random) -> str:
    b64 = base64.b64encode(payload).decode()
    nanos = rng.randrange(0, 10**9)
    airtime_ns = rng.randrange(40, 400) * 1_000_000 + rng.randrange(0, 1000) * 1000
    n_gw = rng.randrange(1, 4)
    gws = [
        (f"gw-{rng.randrange(0, 60):03d}", float(-rng.randrange(60, 125)),
         round(rng.uniform(-12, 11), 2))
        for _ in range(n_gw)
    ]
    if not kit.v3:
        env = {
            "app_id": kit.app, "dev_id": kit.dev, "hardware_serial": kit.serial,
            "port": port, "counter": counter, "payload_raw": b64,
            "metadata": {
                "time": _iso(t, nanos), "airtime": airtime_ns,
                "gateways": [{"gtw_id": g, "rssi": r, "snr": s} for g, r, s in gws],
            },
        }
        topic = f"{kit.app}/devices/{kit.dev}/up"
    else:
        stamp = _iso(t, nanos)
        env = {
            "end_device_ids": {
                "device_id": kit.dev, "dev_eui": kit.serial,
                "application_ids": {"application_id": kit.app},
            },
            "received_at": stamp,
            "uplink_message": {
                "f_port": port, "f_cnt": counter, "frm_payload": b64, "received_at": stamp,
                "rx_metadata": [
                    {"gateway_ids": {"gateway_id": g}, "rssi": r, "snr": s} for g, r, s in gws
                ],
                "settings": {"airtime": f"{airtime_ns / 1e9:.6f}s"},
            },
        }
        topic = f"v3/{kit.app}@ttn/devices/{kit.dev}/up"
    return f"{topic} {json.dumps(env, separators=(',', ':'))}"


def generate_lines(seed: int, n_lines: int) -> list[str]:
    """The seeded line sequence, in delivery order."""
    rng = random.Random(seed)
    kits = make_kits(rng)
    span = DAYS * 86400.0
    lines: list[str] = []
    counters = [0] * len(kits)
    for i in range(n_lines):
        r = rng.random()
        if lines and r < P_REDELIVER:
            lines.append(lines[rng.randrange(max(0, len(lines) - 50), len(lines))])
            continue
        k = rng.randrange(0, len(kits))
        kit = kits[k]
        counters[k] += 1
        t = START_EPOCH + span * i / n_lines - rng.uniform(0, JITTER_S)
        bad = rng.random() < P_INVALID
        if r < P_REDELIVER + P_BAD_PORT:
            port, payload = 99, rng.randbytes(12)
        elif r < P_REDELIVER + P_BAD_PORT + P_BAD_PAYLOAD:
            port, payload = 2, bytes([0x85])
        elif rng.random() < P_META:
            port, payload = 3, payload_port_3(rng, kit)
        elif kit.port in (2, 4):
            port, payload = kit.port, payload_port_2_or_4(rng, kit.port, kit, bad)
        elif kit.port == 12:
            port, payload = 12, payload_port_12(rng, bad)
        else:
            port, payload = 10, payload_port_10(rng, kit, bad)
        line = envelope_line(kit, port, payload, t, counters[k], rng)
        if rng.random() < P_MALFORMED:
            # cut before the device identity is complete (see module doc)
            line = line[: line.index("{") + rng.randrange(*MALFORMED_CUT)]
        lines.append(line)
    return lines


def write_drop_files(out_dir: str, seed: int, n_files: int, lines_per_file: int) -> list[str]:
    """Write `n_files` drop files of `lines_per_file` lines each; returns
    their paths in replay order."""
    os.makedirs(out_dir, exist_ok=True)
    lines = generate_lines(seed, n_files * lines_per_file)
    paths = []
    for f in range(n_files):
        path = os.path.join(out_dir, f"drop-{f:05d}.mqtt")
        chunk = lines[f * lines_per_file : (f + 1) * lines_per_file]
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("\n".join(chunk) + "\n")
        os.utime(path, (MTIME_BASE + f, MTIME_BASE + f))
        paths.append(path)
    return paths

