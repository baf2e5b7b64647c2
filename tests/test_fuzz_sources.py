"""r12 mutation batteries for the two remaining parse surfaces the r10/r11
fuzz waves had not covered: the TTN envelope JSON layer (sources/ttn.py +
the streaming dead-letter accounting) and the station CSV reader
(sources/stations.py). Pattern follows the r10 XLSX/LoRa batteries:
seeded deterministic mutations, ONE Spark pass over the whole corpus,
and the contract is 'quarantine, never kill the batch' — a single
malformed line must never throw (the r12 battery caught exactly that:
ANSI-mode CAST_INVALID_INPUT batch kills from a garbage time string and
a garbage airtime duration — fixed with try_to_timestamp/try_cast)."""

from __future__ import annotations

import json
import random

import pytest


def _mutated_ttn_lines(n_byte: int, n_struct: int, n_garbage: int) -> list[str]:
    from tests.fixtures_mqtt import ALL_LINES

    rng = random.Random(0xDA7A12)
    lines: list[str] = []
    # byte-level: flips / truncations / splices of real dump lines
    for _ in range(n_byte):
        base = bytearray(rng.choice(ALL_LINES).encode())
        mode = rng.randrange(3)
        if mode == 0:
            for _ in range(rng.randint(1, 6)):
                base[rng.randrange(len(base))] = rng.randrange(32, 127)
        elif mode == 1:
            base = base[: rng.randrange(len(base))]
        else:
            i = rng.randrange(len(base))
            junk = bytes(rng.randrange(32, 127) for _ in range(rng.randint(1, 12)))
            base = base[:i] + junk + base[i:]
        lines.append(base.decode("latin-1"))
    # structural: mutate parsed envelope fields (the ANSI hazard tier)
    poisons = [
        "garbage-time", "junk", "1e999", "-", "", "0.061696s", "NaNs",
        1 << 80, -(1 << 80), 3.14, True, None, [], {}, {"x": 1}, ["y"],
        "2020-13-45T99:99:99Z", "\x00\xff", "999999999999999999999999999",
    ]
    for _ in range(n_struct):
        line = rng.choice(ALL_LINES)
        env = json.loads(line[line.index("{"):])

        def mutate(node, depth=0):
            if not isinstance(node, dict) or depth > 3:
                return
            keys = list(node)
            if not keys:
                return
            k = rng.choice(keys)
            act = rng.randrange(3)
            if act == 0:
                del node[k]
            elif act == 1:
                node[k] = rng.choice(poisons)
            elif isinstance(node[k], dict):
                mutate(node[k], depth + 1)
            else:
                node[k] = rng.choice(poisons)

        for _ in range(rng.randint(1, 4)):
            mutate(env)
        lines.append("topic/up " + json.dumps(env))
    # raw garbage
    for _ in range(n_garbage):
        lines.append(
            "".join(chr(rng.randrange(32, 127)) for _ in range(rng.randrange(0, 80)))
        )
    return lines


def test_ttn_envelope_mutation_battery(spark):
    """4500-line battery over parse_envelopes + the full dead-letter
    accounting: (a) NOTHING throws — not the envelope parse, not the
    port/payload decode tier behind all_dead_letters (a single bad line
    killing the batch is the failure mode this battery exists for);
    (b) the golden lines still normalize to exactly the same rows as
    when parsed alone (mutations cannot poison neighbors — per-row
    expressions only); (c) accounting is total: every non-blank line is
    either a normalized record or an envelope dead letter, never
    silently dropped."""
    from mysense_spark.sources.ttn import parse_envelopes
    from mysense_spark.streaming.pipeline import all_dead_letters, envelope_dead_letters
    from tests.fixtures_mqtt import ALL_LINES

    mutated = _mutated_ttn_lines(n_byte=2000, n_struct=2000, n_garbage=500)
    corpus = ALL_LINES + mutated
    lines = spark.createDataFrame([(ln,) for ln in corpus], "value string")

    parsed = parse_envelopes(lines)
    rows = parsed.collect()  # (a) must not throw
    dead = envelope_dead_letters(lines).collect()
    all_dead_letters(lines).collect()  # decode tier: also must not throw

    # (b) golden lines unaffected by the mutated neighbors
    golden_alone = parse_envelopes(
        spark.createDataFrame([(ln,) for ln in ALL_LINES], "value string")
    ).drop("ingest_ts", "event_ts")
    golden_keys = {
        (r["app_id"], r["dev_id"], r["port"], r["counter"], r["payload_raw"])
        for r in golden_alone.collect()
    }
    batch_keys = {
        (r["app_id"], r["dev_id"], r["port"], r["counter"], r["payload_raw"])
        for r in rows
    }
    assert golden_keys <= batch_keys

    # (c) total accounting
    n_nonblank = sum(1 for ln in corpus if ln.strip())
    assert len(rows) + len(dead) == n_nonblank
    # every normalized row carries identity by construction
    for r in rows[:50]:
        assert r["app_id"] is not None or r["dev_id"] is not None


def test_ttn_ansi_hazard_regressions(spark):
    """The two batch-killers the r12 battery surfaced, pinned as
    explicit regressions: a V2 envelope whose metadata.time is not a
    timestamp, and a V3 envelope whose settings.airtime is not a
    duration. Both must normalize (event_ts falls back per the
    documented semantics) instead of throwing CAST_INVALID_INPUT."""
    from mysense_spark.sources.ttn import parse_envelopes

    cases = [
        {"app_id": "a", "dev_id": "d", "port": 2, "payload_raw": "AAA=",
         "metadata": {"time": "garbage-time"}},
        {"end_device_ids": {"device_id": "d",
                            "application_ids": {"application_id": "a"}},
         "uplink_message": {"f_port": 2, "frm_payload": "AAA=",
                            "settings": {"airtime": "junk"},
                            "received_at": "2024-01-01T00:00:00Z"}},
        {"app_id": "a", "dev_id": "d",
         "uplink_message": {"settings": {"airtime": "1e999s"}}},
        # r12 review catch: an airtime near LONG_MIN passes try_cast (it
        # IS a bigint) and the plain subtraction overflowed under ANSI
        {"app_id": "a", "dev_id": "d", "port": 2, "payload_raw": "AAA=",
         "metadata": {"time": "2024-01-01T00:00:00Z"},
         "uplink_message": {"settings": {"airtime": "-9223372036854s"}}},
    ]
    df = spark.createDataFrame([(json.dumps(c),) for c in cases], "value string")
    rows = parse_envelopes(df).collect()
    assert len(rows) == len(cases)
    for r in rows:
        assert r["event_ts"] is not None  # fallback, never NULL or throw


def test_station_csv_mutation_battery(spark, tmp_path):
    """Station CSV reader battery: one scan over ~2000 mutated rows +
    50 clean rows; the PERMISSIVE schema path must (a) never throw,
    (b) quarantine every type-corrupt row into _corrupt with the raw
    line preserved (replay contract), (c) parse the clean rows with
    correct types, and (d) account for every data line — parsed or
    quarantined, never dropped."""
    from mysense_spark.sources.stations import read_station_csv

    rng = random.Random(0x57A710)
    clean = [
        f"S{i % 7},2024-01-01T{i % 24:02d}:00:00,{10 + i % 5}.5,{20 + i % 9}.25,,"
        for i in range(50)
    ]
    # no bare double-quote and no blank-line mutations here: an
    # unbalanced quote legitimately MERGES following lines (RFC 4180
    # multiline fields) and blank lines are skipped by the CSV reader —
    # both are parser-correct, so they get their own pinned case below
    # while this battery keeps exact line accounting
    poisons = ["garbage", "9e999", "--", "1;2;3", "\x00", "NaNish", "1e1e1"]
    mutated = []
    for i in range(2000):
        mode = rng.randrange(3)
        if mode == 0:  # type poison in one typed column
            cols = [f"S{i}", "2024-01-01T00:00:00", "1.0", "2.0", "", ""]
            cols[rng.randrange(1, 6)] = rng.choice(poisons)
            mutated.append(",".join(cols))
        elif mode == 1:  # wrong arity
            row = ",".join(rng.choice(poisons) for _ in range(rng.randint(1, 9)))
            # a LONE NUL line is skipped like a blank (univocity's null
            # char) — pinned in the semantics test; keep accounting exact
            mutated.append(row if row != "\x00" else "x,\x00")
        else:  # byte-flipped clean row (quotes re-flipped away)
            b = bytearray(rng.choice(clean).encode())
            for _ in range(rng.randint(1, 4)):
                b[rng.randrange(len(b))] = rng.randrange(32, 127)
            mutated.append(b.decode("latin-1").replace('"', "'") or "x")
    path = tmp_path / "stations.csv"
    header = "station_id,ts,pm25,pm10,no2,o3"
    path.write_text("\n".join([header] + clean + mutated) + "\n")

    df = read_station_csv(spark, str(path))
    rows = df.collect()  # (a) one scan, no throw
    n_data = len(clean) + len(mutated)
    assert len(rows) == n_data  # (d) nothing dropped
    n_corrupt = sum(1 for r in rows if r["_corrupt"] is not None)
    n_parsed_clean = sum(
        1
        for r in rows
        if r["_corrupt"] is None and r["station_id"] is not None and r["ts"] is not None
    )
    # (c) at least every clean row parses typed
    assert n_parsed_clean >= len(clean)
    # (b) the corrupt rows kept their raw line
    for r in rows:
        if r["_corrupt"] is not None:
            assert isinstance(r["_corrupt"], str) and r["_corrupt"]
    # the battery must actually exercise the quarantine path
    assert n_corrupt > 100


def test_rest_page_mutation_battery(spark):
    """Late-r12 battery for the REST/SensorThings page surface
    (sources/rest.py) — the last uncovered parse surface: 3000 pages of
    poisoned transport bodies (random bytes, truncated JSON, non-object
    payloads, non-list 'value', non-object rows, wrong-typed cells,
    huge/inf numbers, malformed timestamps) mixed with the golden
    paging fixture. Contract: (a) read_paginated and the
    observations_frame tail never throw — one rotten page must cost
    that page, not the export (the Arrow-conversion twin of the ANSI
    batch-killer class); (b) golden pages still yield exactly their
    rows; (c) rest_dead_pages accounting is total — its per-page n_rows
    sums to what read_paginated actually produced, and every page
    carries a reason or rows; (d) wrong-typed cells null out
    (quarantine, don't guess: JSON true in a double field is NOT 1.0);
    (e) rows whose phenomenonTime cannot parse are dropped by
    observations_frame, not fatal."""
    import math

    from mysense_spark.operators.ingest import (
        _fake_sensorthings_fetch,
        _ST_N_OBS,
        _ST_PAGE,
        _st_obs,
    )
    from mysense_spark.sources.rest import (
        observations_frame,
        read_paginated,
        rest_dead_pages,
    )

    rng = random.Random(0x5E57)
    n_clean = 5  # the golden fixture's pages (4 data + 1 past-the-end)
    clean_bodies = {
        p: _fake_sensorthings_fetch(
            f"x?$top={_ST_PAGE}&$skip={p * _ST_PAGE}"
        )
        for p in range(n_clean)
    }
    good_row = dict(_st_obs(0))

    def poison_body(i: int) -> str:
        mode = rng.randrange(9)
        if mode == 0:  # raw garbage
            return "".join(chr(rng.randrange(32, 127)) for _ in range(rng.randrange(0, 60)))
        if mode == 1:  # truncated JSON of a real page
            b = clean_bodies[rng.randrange(4)]
            return b[: rng.randrange(len(b))]
        if mode == 2:  # JSON, wrong envelope shape
            return rng.choice(["[]", '"str"', "42", "null", '{"value": 42}', '{"value": {"a": 1}}'])
        if mode == 3:  # value list with non-object entries around a good row
            return json.dumps({"value": [42, "x", None, [], good_row, True]})
        if mode == 4:  # wrong-typed cells
            return json.dumps({"value": [
                {"station": 17, "phenomenonTime": True, "result": "abc"},
                {"station": ["l"], "phenomenonTime": {"t": 1}, "result": False},
            ]})
        if mode == 5:  # huge / non-finite numbers
            return json.dumps({"value": [
                {"station": "SX", "phenomenonTime": "2024-01-01T00:00:00Z", "result": 1 << 80},
            ]}).replace("}]}", '},{"station":"SY","phenomenonTime":"2024-01-01T01:00:00Z","result":Infinity}]}')
        if mode == 6:  # malformed timestamp (parses as a row, dies at ts)
            return json.dumps({"value": [
                {"station": "ST", "phenomenonTime": "not-a-time", "result": 1.0},
            ]})
        if mode == 7:  # OData error envelope / value-less object (r13
            # advice catch: these used to count as healthy-and-empty)
            return rng.choice([
                json.dumps({"error": {"code": 429, "message": "rate limit"}}),
                json.dumps({"@iot.count": 0}),
            ])
        return ""  # empty body

    n_pages = 3000
    bodies = dict(clean_bodies)
    for p in range(n_clean, n_pages):
        bodies[p] = poison_body(p)

    def fetch(url: str) -> str:
        import re as _re

        skip = int(_re.search(r"\$skip=(\d+)", url).group(1))
        return bodies[skip // _ST_PAGE]

    kw = dict(base_url="https://x/v1.1", entity="Observations", n_pages=n_pages,
              page_size=_ST_PAGE)
    raw = read_paginated(
        spark, fetch, schema="station string, phenomenonTime string, result double",
        select=["station", "phenomenonTime", "result"], **kw,
    )
    rows = raw.collect()  # (a) no throw
    obs = observations_frame(raw, key_cols=("station",)).collect()  # (a) tail too

    # (b) golden rows all present with exact values
    golden = {(o["station"], o["phenomenonTime"], o["result"])
              for o in (_st_obs(i) for i in range(_ST_N_OBS))}
    got = {(r["station"], r["phenomenonTime"], r["result"]) for r in rows}
    assert golden <= got

    # (c) total accounting against the audit twin
    audit = rest_dead_pages(spark, fetch, **kw).collect()
    assert len(audit) == n_pages
    assert sum(a["n_rows"] for a in audit) == len(rows)
    for a in audit:
        assert a["reason"] in (None, "empty", "bad_json", "bad_envelope", "error_body")
    reasons = {a["reason"] for a in audit}
    # battery bites: incl. the r13 error-envelope class — a rate-limit
    # body must carry a reason, never read as a healthy empty page
    assert {"bad_json", "bad_envelope", "empty", "error_body"} <= reasons
    # a good page never carries BOTH no reason and no rows unless it
    # truly served an empty value list — every value-less object now
    # has a reason
    for a in audit:
        if a["reason"] is None:
            assert a["n_rows"] > 0 or a["n_bad_rows"] > 0 or a["page"] < n_clean
    assert sum(a["n_bad_rows"] for a in audit) > 100

    # (d) wrong-typed cells quarantined to null, never guessed
    assert not any(isinstance(r["station"], str) and r["station"] == "17" for r in rows)
    assert not any(r["result"] == 1.0 and r["station"] is None and r["phenomenonTime"] is True for r in rows)
    typed_bad = [r for r in rows if r["station"] is None and r["phenomenonTime"] is None
                 and r["result"] is None]
    assert typed_bad  # the all-poison row survived as all-null
    # inf is a representable double, not a quarantine case
    assert any(r["result"] is not None and math.isinf(r["result"]) for r in rows)

    # (e) malformed timestamps dropped by the tail, silently and safely
    assert not any(r["station"] == "ST" for r in obs)
    assert any(r["station"] == "NL10131" for r in obs)


def test_rest_numeric_edge_regressions(spark):
    """The two numeric batch-killers the late-r12 review surfaced,
    pinned: (a) a JSON integer too large for float64 (400 digits) in a
    double OR long column must quarantine to null, not raise
    OverflowError out of pandas' column inference and kill the export
    (the first battery only reached 2^80, which FITS in float64);
    (b) a long column holding 2^53+1 next to a quarantined cell must
    keep the exact integer — the nullable-int build must never round
    the good values through float64 (repro: 9007199254740993 came back
    ...992)."""
    from mysense_spark.sources.rest import read_paginated

    huge = int("9" * 400)
    body = json.dumps({"value": [
        {"s": "a", "d": huge, "l": huge},
        {"s": "b", "d": 1.5, "l": 9007199254740993},
        {"s": "c", "d": 2.0, "l": "bad"},
    ]})

    def fetch(url: str) -> str:
        return body

    rows = read_paginated(
        spark, fetch, "https://x", "E", n_pages=1,
        schema="s string, d double, l long",
    ).collect()
    by_s = {r["s"]: r for r in rows}
    assert by_s["a"]["d"] is None and by_s["a"]["l"] is None  # (a)
    assert by_s["b"]["l"] == 9007199254740993  # (b) exact, no float trip
    assert by_s["b"]["d"] == 1.5
    assert by_s["c"]["l"] is None  # the quarantined neighbor

    # (c) decimal columns keep EXACT integers beyond 2^53 (second
    # review pass: the DecimalType-as-double rule re-introduced the
    # float64 rounding for decimals) and still quarantine the
    # overflow/float-crash classes
    body2 = json.dumps({"value": [
        {"s": "a", "big": 9007199254740993, "amt": 1.25},
        {"s": "b", "big": huge, "amt": True},
        {"s": "c", "big": "bad", "amt": 2.125},
    ]})
    rows2 = read_paginated(
        spark, lambda url: body2, "https://x", "E", n_pages=1,
        schema="s string, big decimal(20,0), amt decimal(10,2)",
    ).collect()
    by2 = {r["s"]: r for r in rows2}
    assert int(by2["a"]["big"]) == 9007199254740993  # exact decimal
    assert float(by2["a"]["amt"]) == 1.25
    assert by2["b"]["big"] is None and by2["b"]["amt"] is None
    assert by2["c"]["big"] is None
    assert float(by2["c"]["amt"]) == 2.12  # half-even to scale 2

    # (d) JSON NaN (nonstandard literal json.loads accepts) quarantines
    # to null in a double column — pinned EXPLICITLY (r13 advice catch:
    # Arrow's pandas-null-sentinel handling collapses NaN to null no
    # matter what, so _dbl_cell now quarantines it by contract instead
    # of claiming it survives); +/-inf still pass as real doubles
    body3 = '{"value": [{"s": "n", "d": NaN}, {"s": "i", "d": Infinity}]}'
    rows3 = read_paginated(
        spark, lambda url: body3, "https://x", "E", n_pages=1,
        schema="s string, d double",
    ).collect()
    by3 = {r["s"]: r for r in rows3}
    import math as _math
    assert by3["n"]["d"] is None
    assert by3["i"]["d"] is not None and _math.isinf(by3["i"]["d"])


def test_station_csv_quote_and_blank_semantics(spark, tmp_path):
    """The line-accounting exceptions the battery deliberately
    excludes, pinned: with multiLine=false (the reader's default) an
    UNBALANCED double quote stays confined to its own line — the row is
    quarantined with its raw text in _corrupt, the NEXT line parses
    normally (no cross-line merge) — blank lines are skipped entirely,
    and a lone-NUL line behaves like a blank (univocity's default null
    character)."""
    from mysense_spark.sources.stations import read_station_csv

    path = tmp_path / "q.csv"
    path.write_text(
        "station_id,ts,pm25,pm10,no2,o3\n"
        'S1,2024-01-01T00:00:00,"broken\n'
        "S2,2024-01-01T01:00:00,1.0,2.0,,\n"
        "\n"
        "S3,2024-01-01T02:00:00,3.0,4.0,,\n"
    )
    rows = read_station_csv(spark, str(path)).collect()
    assert len(rows) == 3  # quarantined S1 + parsed S2 + S3; blank skipped
    bad = [r for r in rows if r["_corrupt"] is not None]
    assert len(bad) == 1 and bad[0]["_corrupt"].startswith("S1,")
    assert "S2" not in bad[0]["_corrupt"]  # no cross-line merge
    assert any(r["station_id"] == "S2" and r["pm25"] == 1.0 for r in rows)
    assert any(r["station_id"] == "S3" and r["pm25"] == 3.0 for r in rows)
    # a line holding only NUL behaves like a blank line (univocity's
    # default null character): skipped, not quarantined
    p2 = tmp_path / "nul.csv"
    p2.write_text("station_id,ts,pm25,pm10,no2,o3\n\x00\nS9,2024-01-01T03:00:00,1.0,2.0,,\n")
    rows2 = read_station_csv(spark, str(p2)).collect()
    assert [r["station_id"] for r in rows2] == ["S9"]


def test_mp4_wav_structure_mutation_battery():
    """r13 battery for the two structural synthesizer surfaces the r12
    verdict flagged as fuzz-uncovered: media_structure's hand-packed
    ISO-BMFF tree through parse_mp4_header, and the PCM WAV path
    through decode_wav. Beyond the r12 random byte-flip battery, the
    poisons here are BOX-STRUCTURE-AWARE: truncated size fields,
    size=0/size=1(largesize) boxes incl. 2^63 lengths and sub-16
    largesizes, boxes overrunning their container, RECURSIVE moov,
    mvhd-v1 truncation, garbage hdlr kinds — and on the RIFF side size
    lies (data size beyond the body, RIFF size disagreeing with the
    payload), odd-size chunk padding, duplicate/zero-size fmt chunks,
    truncated WAVE_FORMAT_EXTENSIBLE, zero sample rates, and non-finite
    float samples. Contract (the mapInPandas batch-killer class): each
    parser returns a dict or raises ValueError/NotImplementedError —
    never IndexError/struct.error/KeyError/OverflowError — and every
    GOLDEN payload still parses to its exact synthesized values."""
    import struct

    from mysense_spark.operators.codecs import parse_mp4_header
    from mysense_spark.operators.multimodal import decode_wav

    def b8(t: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + t + payload

    def trak(kind: bytes, w: int = 0, h: int = 0) -> bytes:
        tk = bytearray(84)
        struct.pack_into(">II", tk, 76, w << 16, h << 16)
        hd = b8(b"hdlr", b"\x00" * 8 + kind + b"\x00" * 12)
        return b8(b"trak", b8(b"tkhd", bytes(tk)) + b8(b"mdia", hd))

    def mp4(ms: int, w: int, h: int, audio_only: bool) -> bytes:
        mvhd = b8(b"mvhd", b"\x00" * 12 + struct.pack(">II", 1000, ms))
        traks = trak(b"soun") if audio_only else trak(b"vide", w, h) + trak(b"soun")
        return b8(b"ftyp", b"isom\x00\x00\x00\x00") + b8(b"moov", mvhd + traks)

    def wav(n: int, rate: int = 8000) -> bytes:
        fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
        data = b"\x00" * (2 * n)
        body = (
            b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )
        return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body

    # golden still-parses pins (the battery must not weaken the real
    # contract: these are media_structure's exact synthesized shapes)
    g = parse_mp4_header(mp4(2500, 64, 48, False))
    assert (g["duration_s"], g["width"], g["height"]) == (2.5, 64, 48)
    assert (g["n_tracks"], g["video_tracks"], g["audio_tracks"]) == (2, 1, 1)
    ga = parse_mp4_header(mp4(750, 0, 0, True))
    assert (ga["video_tracks"], ga["audio_tracks"]) == (0, 1)
    gw = decode_wav(wav(40))
    assert (gw["n_samples"], gw["sample_rate"], gw["duration_s"]) == (40, 8000, 0.005)

    rng = random.Random(0x1304)
    allowed = (ValueError, NotImplementedError)
    trials = {"mp4": 0, "wav": 0}
    outcomes = {"mp4_ok": 0, "mp4_reject": 0, "wav_ok": 0, "wav_reject": 0}

    def run(kind, fn, payload: bytes):
        trials[kind] += 1
        try:
            out = fn(payload)
            assert isinstance(out, dict)
            outcomes[kind + "_ok"] += 1
        except allowed:
            outcomes[kind + "_reject"] += 1

    def splice_box(base: bytes, box: bytes) -> bytes:
        i = rng.randrange(0, len(base) + 1)
        return base[:i] + box + base[i:]

    for _ in range(2500):
        base = bytearray(mp4(1000 + rng.randrange(9000),
                             16 * (1 + rng.randrange(32)),
                             16 * (1 + rng.randrange(32)),
                             rng.random() < 0.5))
        mode = rng.randrange(10)
        if mode == 0:  # truncate anywhere, incl. mid-size-field
            base = base[: rng.randrange(len(base))]
        elif mode == 1:  # size=0 box spliced mid-stream (to-end semantics)
            base = splice_box(bytes(base), struct.pack(">I", 0) + b"free")
        elif mode == 2:  # largesize: 2^63, sub-16, or truncated
            big = rng.choice([1 << 63, 2, 15, (1 << 64) - 1])
            box = struct.pack(">I", 1) + b"skip" + struct.pack(">Q", big)
            base = splice_box(bytes(base), box[: rng.choice([12, 16])])
        elif mode == 3:  # box size overruns its container
            box = struct.pack(">I", 1 << 30) + b"junk" + b"\x00" * rng.randrange(32)
            base = splice_box(bytes(base), box)
        elif mode == 4:  # RECURSIVE moov: the whole file nested inside moov
            inner = bytes(base)
            base = bytearray(
                b8(b"ftyp", b"isom\x00\x00\x00\x00") + b8(b"moov", inner)
            )
        elif mode == 5:  # mvhd v1 with a v0-sized (too short) body
            mv = b8(b"mvhd", b"\x01" + b"\x00" * 11 + struct.pack(">II", 1000, 5))
            base = bytearray(
                b8(b"ftyp", b"isom\x00\x00\x00\x00") + b8(b"moov", mv)
            )
        elif mode == 6:  # garbage hdlr kind + tkhd version flip
            i = bytes(base).find(b"vide")
            if i >= 0:
                base[i : i + 4] = rng.randbytes(4)
            j = bytes(base).find(b"tkhd")
            if j >= 0:
                base[j + 4] = 1  # v1 claims 96-byte layout over an 84-byte body
        elif mode == 7:  # flip 1-6 bytes
            for _f in range(rng.randrange(1, 7)):
                i = rng.randrange(len(base))
                base[i] ^= rng.randrange(1, 256)
        elif mode == 8:  # splice junk
            base = splice_box(bytes(base), rng.randbytes(rng.randrange(1, 24)))
        else:  # interior size field rewritten to a lie
            i = rng.randrange(0, max(1, len(base) - 4))
            struct.pack_into(">I", base, i, rng.choice([0, 1, 7, 1 << 31]))
        run("mp4", parse_mp4_header, bytes(base))

    for _ in range(2500):
        base = bytearray(wav(16 + rng.randrange(64)))
        mode = rng.randrange(10)
        if mode == 0:
            base = base[: rng.randrange(len(base))]
        elif mode == 1:  # data chunk size beyond the body
            i = bytes(base).find(b"data")
            struct.pack_into("<I", base, i + 4, len(base) * 4)
        elif mode == 2:  # RIFF size lies
            struct.pack_into("<I", base, 4, rng.choice([0, 3, (1 << 31) - 1]))
        elif mode == 3:  # zero-size or duplicate fmt chunk
            extra = b"fmt " + struct.pack("<I", 0)
            base = bytearray(base[:12] + extra + base[12:])
        elif mode == 4:  # odd-size chunk: padding rule must hold
            base = bytearray(
                base[:12]
                + b"LIST" + struct.pack("<I", 3) + b"ab"  # 3 declared, 2 present
                + base[12:]
            )
        elif mode == 5:  # WAVE_FORMAT_EXTENSIBLE truncated at the GUID
            i = bytes(base).find(b"fmt ")
            struct.pack_into("<H", base, i + 8, 0xFFFE)
        elif mode == 6:  # zero sample rate / absurd bits
            i = bytes(base).find(b"fmt ")
            struct.pack_into("<I", base, i + 12, 0)
            if rng.random() < 0.5:
                struct.pack_into("<H", base, i + 22, rng.choice([0, 3, 65535]))
        elif mode == 7:  # IEEE float with non-finite samples
            n = 4 + rng.randrange(8)
            fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
            payload = struct.pack("<f", float("nan")) * n
            body = (
                b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(payload)) + payload
            )
            base = bytearray(
                b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
            )
        elif mode == 8:
            for _f in range(rng.randrange(1, 7)):
                i = rng.randrange(len(base))
                base[i] ^= rng.randrange(1, 256)
        else:
            i = rng.randrange(0, len(base) + 1)
            base = base[:i] + bytearray(rng.randbytes(rng.randrange(1, 24))) + base[i:]
        run("wav", decode_wav, bytes(base))

    assert trials == {"mp4": 2500, "wav": 2500}
    # the battery must BITE both ways: poisons that survive (unknown
    # boxes are legal; many flips land in ignored padding) and poisons
    # that reject — a battery where everything passes tests nothing
    for k in outcomes.values():
        assert k > 100, outcomes


def _mini_xlsx(members: dict[str, bytes]) -> bytes:
    """Assemble a workbook zip from explicit member bytes."""
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in members.items():
            z.writestr(name, data)
    return buf.getvalue()


def _foreign_members() -> dict[str, bytes]:
    """A foreign-producer-shaped workbook: sharedStrings + styles (our
    own writer emits inlineStr and no styles, so these paths only get
    exercised by crafted input — exactly the surface a real producer
    hits)."""
    ct = (
        b'<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        b'<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        b'<Default Extension="xml" ContentType="application/xml"/></Types>'
    )
    rels = (
        b'<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        b'<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>'
    )
    wb = (
        b'<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
        b' xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        b'<sheets><sheet name="data" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    wbrels = (
        b'<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        b'<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
        b'<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>'
        b'<Relationship Id="rId3" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/></Relationships>'
    )
    sst = (
        b'<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="2" uniqueCount="2">'
        b'<si><t>kit</t></si><si><r><t>ri</t></r><r><t>ch</t></r></si></sst>'
    )
    styles = (
        b'<?xml version="1.0"?><styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        b'<cellXfs count="2"><xf numFmtId="0"/><xf numFmtId="14"/></cellXfs></styleSheet>'
    )
    sheet = (
        b'<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>'
        b'<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>'
        b'<row r="2"><c r="A2"><v>42</v></c><c r="B2" s="1"><v>45000</v></c></row>'
        b"</sheetData></worksheet>"
    )
    return {
        "[Content_Types].xml": ct,
        "_rels/.rels": rels,
        "xl/workbook.xml": wb,
        "xl/_rels/workbook.xml.rels": wbrels,
        "xl/sharedStrings.xml": sst,
        "xl/styles.xml": styles,
        "xl/worksheets/sheet1.xml": sheet,
    }


def test_xlsx_structural_mutation_battery(spark, tmp_path):
    """r14 battery for the XLSX zip+XML surface — the structural twin
    of the byte-flip fuzz in test_property.py (the MP4/WAV-battery
    pattern: semantically-targeted malformations, not random bytes).
    Contract under test: read_xlsx / list_sheets return rows-or-raise
    ValueError; the zip/zlib/XML layers' own types never escape; a
    malformed workbook fed to the Spark entry (read_measurements_xlsx)
    quarantines as the same ValueError instead of killing the read.
    Trial accounting is exact and printed; the battery must BITE both
    ways (some mutants quarantine, some still parse)."""
    import os

    from mysense_spark.sources.files import read_measurements_xlsx
    from mysense_spark.sources.xlsx import list_sheets, read_xlsx

    base = _foreign_members()
    sheet_xml = base["xl/worksheets/sheet1.xml"]

    mutants: list[tuple[str, dict[str, bytes]]] = []

    def member_variant(tag, name, data):
        m = dict(base)
        m[name] = data
        mutants.append((tag, m))

    def drop(tag, name):
        m = dict(base)
        del m[name]
        mutants.append((tag, m))

    # -- shared-string index abuse: OOB (every index 2..40), non-int,
    # negative, huge, empty <v>, missing <v>
    for i in list(range(2, 41)) + [10**6, 10**18]:
        member_variant(
            f"sst_oob_{i}",
            "xl/worksheets/sheet1.xml",
            sheet_xml.replace(b'<c r="A1" t="s"><v>0</v></c>', b'<c r="A1" t="s"><v>%d</v></c>' % i),
        )
    for bad in (b"abc", b"-1", b"1.5", b"", b"0x1"):
        member_variant(
            f"sst_badidx_{bad.decode() or 'empty'}",
            "xl/worksheets/sheet1.xml",
            sheet_xml.replace(b'<c r="A1" t="s"><v>0</v></c>', b'<c r="A1" t="s"><v>%s</v></c>' % bad),
        )
    member_variant(
        "sst_noval",
        "xl/worksheets/sheet1.xml",
        sheet_xml.replace(b'<c r="A1" t="s"><v>0</v></c>', b'<c r="A1" t="s"/>'),
    )
    # -- cell reference abuse: garbage refs, missing r, absurd columns,
    # duplicate refs, row mismatch
    for ref in (b"", b"!!", b"-1", b"1A", b"A0", b"XFD1048576", b"ZZZZZZZ1", b"A99999999"):
        member_variant(
            f"ref_{ref.decode() or 'empty'}",
            "xl/worksheets/sheet1.xml",
            sheet_xml.replace(b'<c r="A2">', b'<c r="%s">' % ref),
        )
    member_variant(
        "ref_missing",
        "xl/worksheets/sheet1.xml",
        sheet_xml.replace(b'<c r="A2">', b"<c>"),
    )
    for rr in (b"9999999999", b"0", b"-3", b"1" + b"0" * 40):
        member_variant(
            f"rowref_{rr[:12].decode()}",
            "xl/worksheets/sheet1.xml",
            sheet_xml.replace(b'<row r="2">', b'<row r="%s">' % rr),
        )
    member_variant(
        "ref_dup",
        "xl/worksheets/sheet1.xml",
        sheet_xml.replace(
            b'<c r="A2"><v>42</v></c>', b'<c r="A2"><v>42</v></c><c r="A2"><v>43</v></c>'
        ),
    )
    # -- numeric/date cell abuse: absurd serials, non-numeric <v>,
    # exponent bombs (the OverflowError class), NaN/inf literals
    for v in (b"1e400", b"9" * 400, b"nan", b"inf", b"-inf", b"1e9999", b"0x10", b"twelve"):
        member_variant(
            f"numcell_{v[:12].decode()}",
            "xl/worksheets/sheet1.xml",
            sheet_xml.replace(b"<v>42</v>", b"<v>%s</v>" % v),
        )
        member_variant(
            f"datecell_{v[:12].decode()}",
            "xl/worksheets/sheet1.xml",
            sheet_xml.replace(b"<v>45000</v>", b"<v>%s</v>" % v),
        )
    # -- XML structure abuse
    for tag, xml in (
        ("xml_badns", sheet_xml.replace(b"spreadsheetml/2006/main", b"nonsense/ns")),
        ("xml_truncated", sheet_xml[: len(sheet_xml) // 2]),
        ("xml_unclosed", sheet_xml.replace(b"</worksheet>", b"")),
        ("xml_entity", sheet_xml.replace(b"<v>42</v>", b"<v>&undefined;</v>")),
        ("xml_nested_row", sheet_xml.replace(b'<row r="2">', b'<row r="2"><row r="3">')),
        ("xml_utf16_decl", sheet_xml.replace(b'<?xml version="1.0"?>', b'<?xml version="1.0" encoding="utf-16"?>')),
        ("xml_garbage", b"\x00\x01\x02 not xml at all"),
        ("xml_empty", b""),
        ("xml_deep", b"<a>" * 200 + b"<worksheet/>" + b"</a>" * 200),
    ):
        member_variant(tag, "xl/worksheets/sheet1.xml", xml)
    # -- workbook / rels / strings / styles member abuse
    member_variant(
        "wb_nosheets",
        "xl/workbook.xml",
        base["xl/workbook.xml"].replace(b"<sheets>", b"<x>").replace(b"</sheets>", b"</x>"),
    )
    member_variant(
        "wb_noname",
        "xl/workbook.xml",
        base["xl/workbook.xml"].replace(b'name="data" ', b""),
    )
    member_variant(
        "wb_badrid",
        "xl/workbook.xml",
        base["xl/workbook.xml"].replace(b'r:id="rId1"', b'r:id="rId99"'),
    )
    member_variant(
        "rels_badtarget",
        "xl/_rels/workbook.xml.rels",
        base["xl/_rels/workbook.xml.rels"].replace(b"worksheets/sheet1.xml", b"nope/missing.xml"),
    )
    member_variant(
        "sst_richer",
        "xl/sharedStrings.xml",
        base["xl/sharedStrings.xml"].replace(b"<si><t>kit</t></si>", b"<si></si>"),
    )
    member_variant(
        "styles_badfmt",
        "xl/styles.xml",
        base["xl/styles.xml"].replace(b'numFmtId="14"', b'numFmtId="xyz"'),
    )
    for tag, name in (
        ("drop_sheet", "xl/worksheets/sheet1.xml"),
        ("drop_wb", "xl/workbook.xml"),
        ("drop_wbrels", "xl/_rels/workbook.xml.rels"),
        ("drop_sst", "xl/sharedStrings.xml"),
        ("drop_styles", "xl/styles.xml"),
        ("drop_ct", "[Content_Types].xml"),
    ):
        drop(tag, name)

    n_parsed = n_quarantined = 0
    violations = []
    paths = {}
    for i, (tag, members) in enumerate(mutants):
        p = str(tmp_path / f"m{i}_{tag[:20]}.xlsx")
        with open(p, "wb") as fh:
            fh.write(_mini_xlsx(members))
        paths[tag] = p
        for fn in (lambda q: read_xlsx(q, sheet=0), list_sheets):
            try:
                out = fn(p)
                assert isinstance(out, list)
                n_parsed += 1
            except ValueError:
                n_quarantined += 1
            except Exception as exc:  # the contract violation this battery hunts
                violations.append((tag, type(exc).__name__, str(exc)[:120]))
    assert not violations, violations
    print(f"xlsx structural battery: {len(mutants)} mutants, "
          f"{n_parsed} parsed legs, {n_quarantined} quarantined legs")
    assert len(mutants) >= 90
    assert n_parsed > 0 and n_quarantined > 0  # bites both ways

    # the untouched base workbook must parse (the battery can't pass
    # vacuously on a reader that rejects everything) — incl. shared
    # strings, rich text, the date style, and the numeric cell
    p0 = str(tmp_path / "base.xlsx")
    with open(p0, "wb") as fh:
        fh.write(_mini_xlsx(base))
    rows = read_xlsx(p0)
    assert rows[0]["kit"] == 42.0 or rows[0]["kit"] == 42
    import datetime as dt

    assert isinstance(rows[0]["rich"], dt.datetime)

    # REGRESSION PIN (the battery's r14 catch): an out-of-grid column
    # or row reference must QUARANTINE — before the grid bound, a
    # 200-byte workbook claiming column ZZZZZZZ dense-filled ~8e9
    # header cells (hang/OOM, the reader's only unbounded allocation)
    import pytest

    for tag in ("ref_ZZZZZZZ1", "rowref_9999999999"):
        with pytest.raises(ValueError):
            read_xlsx(paths[tag], sheet=0)
    # ...while the LEGAL grid corner stays data, not quarantine
    assert isinstance(read_xlsx(paths["ref_XFD1048576"], sheet=0), list)

    # Spark entry: a handful of representative mutants through
    # read_measurements_xlsx — DataFrame or the SAME ValueError
    # quarantine signal, never a raw zip/XML error
    spark_legs = 0
    for tag in ("sst_oob_2", "xml_truncated", "ref_dup", "drop_sst", "drop_ct",
                "numcell_nan", "wb_badrid", "xml_garbage", "ref_ZZZZZZZ1"):
        try:
            df = read_measurements_xlsx(spark, paths[tag])
            assert df.count() >= 0
        except ValueError:
            pass
        spark_legs += 1
    assert spark_legs == 9


# ---------------------------------------------------------------------------
# r15 structural mutation batteries: the LoRa port-10/12 rules engines.
# Same depth as the r14 XLSX battery: VALID frames composed from the
# rules tables themselves (with an independently-computed expected
# dict), then structural mutants — truncations at every boundary,
# unknown sensor ids, NaN sentinels, byte flips — with a tight
# exception contract (ValueError only; struct.error must never escape
# because _need guards every unpack) and termination guaranteed.
# ---------------------------------------------------------------------------


def _weer_frame(rng, ids, sentinel_frac=0.0):
    """Compose a valid port-12 frame from WEER_DIY1_RULES and compute
    the expected decode INDEPENDENTLY of the engine's byte walker:
    per-field pack + (raw-off)/scale + the pinned rounding, straight
    from the rules table."""
    import struct

    from mysense_spark.sources.lora import WEER_DIY1_RULES

    payload = bytearray([rng.randrange(256)])
    expected = {"meta": {"version": round(payload[0] / 10.0, 1)}}
    for sid in ids:
        sensor, fields = WEER_DIY1_RULES[sid]
        payload.append(sid)
        for name, fmt, nan, (off, scale), _unit in fields:
            use_nan = nan is not None and rng.random() < sentinel_frac
            if use_nan:
                raw = nan
            elif fmt == "f":
                # canonicalize through float32: the engine sees the
                # UNPACKED value, not the python double we chose
                raw = struct.unpack(
                    ">f", struct.pack(">f", round(rng.uniform(-90, 90), 2))
                )[0]
            else:
                lo, hi = (0, 200) if fmt.isupper() else (-100, 100)
                raw = rng.randrange(lo, hi)
            payload += struct.pack(">" + fmt, raw)
            if name is None or use_nan:
                continue
            val = (raw - off) / scale
            if name in ("lon", "lat"):
                val = round(val, 7)
            elif name in ("wr", "luchtdruk"):
                val = int(val)
            elif isinstance(val, float):
                val = round(val, 1)
            expected.setdefault(sensor, {})[name] = val
    return bytes(payload), expected


def test_weerdiy_rules_mutation_battery():
    """Port-12 rules-engine battery: ~300 valid multi-sensor frames
    must decode to the table-derived expected dict exactly (walker
    offsets/sizes/advancement proven against an independent packer,
    including NaN-sentinel omission and the reference-swallowed
    sensor-254 field); ~1500 structural mutants (every truncation
    boundary, unknown ids, byte flips) must either decode to a dict or
    raise ValueError — no other exception class, no hang, and a
    decoded mutant's sensors/fields must still come from the rules
    table."""
    import random

    from mysense_spark.sources.lora import WEER_DIY1_RULES, decode_port_12

    rng = random.Random(0x10A12)
    known = sorted(WEER_DIY1_RULES)
    n_valid = n_mut = 0

    def contract(payload):
        nonlocal n_mut
        n_mut += 1
        try:
            out = decode_port_12(bytes(payload))
        except ValueError:
            return
        assert isinstance(out, dict)
        for sensor, fields in out.items():
            if sensor == "meta":
                continue
            names = {
                f[0] for _s, fl in WEER_DIY1_RULES.items() for f in fl[1]
            }
            assert set(fields) <= names, (sensor, fields)

    for _ in range(300):
        ids = [rng.choice(known) for _ in range(rng.randint(1, 6))]
        frame, expected = _weer_frame(rng, ids, sentinel_frac=0.3)
        assert decode_port_12(frame) == expected, ids
        n_valid += 1

        # every truncation boundary of this frame
        for cut in range(len(frame)):
            contract(frame[:cut])
        # unknown-id injection: decode stops cleanly at the break
        bad = bytearray(frame)
        pos = rng.randrange(1, len(bad))
        bad[pos] = 250  # not a rule id (254 is; 250 is not)
        contract(bad)
        # byte flips
        for _ in range(2):
            m = bytearray(frame)
            m[rng.randrange(len(m))] = rng.randrange(256)
            contract(m)

    # the swallowed sensor-254 field: 4 bytes consumed, nothing decoded
    frame, expected = _weer_frame(rng, [254, 1], sentinel_frac=0.0)
    out = decode_port_12(frame)
    assert "time" not in out and out == expected
    assert n_valid == 300 and n_mut > 1500
    print(f"weerDIY1 battery: {n_valid} valid frames, {n_mut} mutants")


def _libelium_frame(rng, ids, wasp_id=b"WASP1"):
    """Compose a valid port-10 frame from LIBELIUM_RULES + the
    independent expected dict (same discipline as _weer_frame)."""
    import struct

    from mysense_spark.sources.lora import LIBELIUM_RULES

    frame_type, seq = rng.randrange(256), rng.randrange(256)
    serial = rng.randrange(2**64)
    payload = bytearray(b"<=>")
    payload.append(frame_type)
    payload.append(rng.randrange(256))  # size byte (unused by decoder)
    payload += struct.pack("<Q", serial)
    payload += wasp_id + b"#"
    payload.append(seq)
    expected = {
        "meta": {
            "frame_type": frame_type,
            "serial": f"{serial:x}",
            "wasp_id": wasp_id.decode("ascii", errors="replace"),
            "seq": seq,
        }
    }
    for sid in ids:
        sensor, field, fmt, scale = LIBELIUM_RULES[sid]
        payload.append(sid)
        raw = (
            struct.unpack("<f", struct.pack("<f", round(rng.uniform(0, 100), 2)))[0]
            if fmt == "f"
            else rng.randrange(256)
        )
        payload += struct.pack("<" + fmt, raw)
        val = raw / scale
        val = int(val) if field in ("wr", "luchtdruk") else round(float(val), 1)
        expected.setdefault(sensor, {})[field] = val
    return bytes(payload), expected


def test_libelium_rules_mutation_battery():
    """Port-10 Libelium battery, same shape: ~300 valid frames decode
    to the table-derived expected dict exactly; ~2500 mutants (all
    truncation boundaries — including inside the '<=>' magic, the
    8-byte serial, and the '#'-terminated WaspID — plus missing-'#'
    frames, unknown ids, and byte flips) obey the ValueError-only
    contract and never hang."""
    import random

    from mysense_spark.sources.lora import LIBELIUM_RULES, decode_port_10

    rng = random.Random(0x10A10)
    known = sorted(LIBELIUM_RULES)
    n_valid = n_mut = 0

    def contract(payload):
        nonlocal n_mut
        n_mut += 1
        try:
            out = decode_port_10(bytes(payload))
        except ValueError:
            return
        assert isinstance(out, dict) and "meta" in out

    for _ in range(300):
        ids = [rng.choice(known) for _ in range(rng.randint(0, 5))]
        frame, expected = _libelium_frame(rng, ids)
        assert decode_port_10(frame) == expected, ids
        n_valid += 1
        for cut in range(len(frame)):
            contract(frame[:cut])
        contract(frame.replace(b"#", b"@"))  # missing WaspID terminator
        bad = bytearray(frame)
        bad[frame.index(b"#") + 2 :] = bytes([251]) + bad[frame.index(b"#") + 3 :]
        contract(bad)  # unknown sensor id right after the header
        for _ in range(2):
            m = bytearray(frame)
            m[rng.randrange(len(m))] = rng.randrange(256)
            contract(m)

    assert n_valid == 300 and n_mut > 2500
    print(f"Libelium battery: {n_valid} valid frames, {n_mut} mutants")


def test_lora_port_10_12_udf_surface_never_throws(spark):
    """The pipeline surface for the two rules engines: a batch of
    valid + mutated port-10/12 payloads through the pipeline's Arrow
    decode UDF must produce a list of fact rows or NULL per row — the
    quarantine contract — and valid frames must decode (non-null)."""
    import base64
    import random

    from pyspark.sql import functions as F

    from mysense_spark.streaming.pipeline import _fact_rows_udf

    rng = random.Random(0xDEC0DE)
    rows = []
    for i in range(50):
        f12, _ = _weer_frame(rng, [1, 2], sentinel_frac=0.2)
        f10, _ = _libelium_frame(rng, [74, 76])
        rows.append((i * 4, base64.b64encode(f12).decode(), 12, True))
        rows.append((i * 4 + 1, base64.b64encode(f10).decode(), 10, True))
        m12 = bytearray(f12)
        m12[rng.randrange(len(m12))] = rng.randrange(256)
        rows.append((i * 4 + 2, base64.b64encode(bytes(m12[: rng.randrange(1, len(m12))])).decode(), 12, False))
        rows.append((i * 4 + 3, "!!!not-base64!!!", 10, False))
    df = spark.createDataFrame(rows, "id long, payload string, port int, valid boolean")
    udf = _fact_rows_udf()
    out = df.select("id", "valid", udf("payload", "port").alias("rows")).collect()
    assert len(out) == 200
    for r in out:
        assert r["rows"] is None or isinstance(r["rows"], list), r
        if r["valid"]:
            assert r["rows"] is not None, r


def test_station_csv_structural_battery(spark, tmp_path):
    """r15 structural battery for read_station_csv — the XLSX-battery
    discipline (structure mutants, not just cell poisons; the r12
    battery above covers those) applied to the CSV surface: header
    shape (reordered/missing/duplicate/extra columns, no header at
    all), encoding frames (UTF-8 BOM, CRLF, mixed endings, latin-1
    bytes), RFC-4180 quoting structure (embedded commas, embedded
    newlines, escaped quotes), numeric edges (1e309 overflow, -0.0,
    '+1', '0x10', '1_000', surrogate-ish escapes), and resource bounds
    (a 1 MB single field, a 10 000-column row — the unbounded-
    allocation class the XLSX battery caught must have no CSV twin).
    Contract per file: one scan, never throws, schema is stable, every
    value that parses typed is a float/timestamp/string, and corrupt
    rows keep their raw line."""
    import time as _time

    from mysense_spark.sources.stations import read_station_csv

    header = "station_id,ts,pm25,pm10,no2,o3"
    good = "S1,2024-01-01T00:00:00,1.5,2.5,,"
    # header-SHAPE mutants must fail LOUDLY at read time (the battery's
    # catch: explicit-schema CSV maps columns positionally, so a
    # reordered header silently produced station_id='2024-01-01...' —
    # the guard turns silent mis-assignment into a clear refusal);
    # a PREFIX header (fewer trailing species) stays positionally
    # correct and must still read
    rejects = [
        ("reordered_header", "ts,station_id,pm25,pm10,no2,o3\n2024-01-01T00:00:00,S1,1.5,2.5,,\n"),
        ("dup_header", "station_id,station_id,pm25,pm10,no2,o3\nS1,S2,1.5,2.5,,\n"),
        ("extra_cols", header + ",extra1,extra2\n" + good + ",9,9\n"),
        ("no_header", good + "\n" + good + "\n"),
        ("renamed_col", "station,ts,pm25,pm10,no2,o3\n" + good + "\n"),
    ]
    files: list[tuple[str, str, bool]] = []  # (tag, content, expect_any_typed)
    files.append(("missing_cols", "station_id,ts\nS1,2024-01-01T00:00:00\n", True))
    files.append(("bom", "﻿" + header + "\n" + good + "\n", True))
    files.append(("crlf", header + "\r\n" + good + "\r\n" + good + "\r\n", True))
    files.append(("mixed_endings", header + "\r\n" + good + "\n" + good + "\r\n", True))
    files.append(("quoted_comma", header + '\n"S,1",2024-01-01T00:00:00,1.5,2.5,,\n', True))
    files.append(("quoted_newline", header + '\n"S\n1",2024-01-01T00:00:00,1.5,2.5,,\n', True))
    files.append(("escaped_quote", header + '\n"S""1",2024-01-01T00:00:00,1.5,2.5,,\n', True))
    files.append(("overflow_double", header + "\nS1,2024-01-01T00:00:00,1e309,2.5,,\n", True))
    files.append(("negative_zero", header + "\nS1,2024-01-01T00:00:00,-0.0,2.5,,\n", True))
    files.append(("plus_sign", header + "\nS1,2024-01-01T00:00:00,+1,2.5,,\n", True))
    files.append(("hexish", header + "\nS1,2024-01-01T00:00:00,0x10,2.5,,\n", True))
    files.append(("underscore_num", header + "\nS1,2024-01-01T00:00:00,1_000,2.5,,\n", True))
    files.append(("latin1_bytes", header + "\nS\xe9,2024-01-01T00:00:00,1.5,2.5,,\n", True))
    files.append(("big_field", header + "\nS1,2024-01-01T00:00:00," + "9" * (1 << 20) + ",2.5,,\n", True))
    files.append(("wide_row", header + "\n" + ",".join(["1"] * 10_000) + "\n", False))
    files.append(("only_header", header + "\n", False))
    files.append(("empty_file", "", False))

    for tag, content in rejects:
        p = tmp_path / f"{tag}.csv"
        p.write_text(content, encoding="utf-8", newline="")
        with pytest.raises(ValueError, match="positional"):
            read_station_csv(spark, str(p))

    expected_cols = ["station_id", "ts", "pm25", "pm10", "no2", "o3", "_corrupt"]
    t0 = _time.monotonic()
    for tag, content, expect_typed in files:
        p = tmp_path / f"{tag}.csv"
        p.write_text(content, encoding="utf-8", newline="")
        df = read_station_csv(spark, str(p))
        assert df.columns == expected_cols, tag
        rows = df.collect()  # never throws
        for r in rows:
            if r["_corrupt"] is not None:
                assert isinstance(r["_corrupt"], str) and r["_corrupt"], tag
            for c in ("pm25", "pm10", "no2", "o3"):
                assert r[c] is None or isinstance(r[c], float), (tag, c, r[c])
        if expect_typed:
            # a short-arity row parses its prefix typed AND is flagged
            # _corrupt (missing fields) — both are correct, so the
            # typed check is on the columns, not the corrupt flag
            assert any(
                r["station_id"] is not None and r["ts"] is not None for r in rows
            ), (tag, rows[:3])
    wall = _time.monotonic() - t0
    # resource bound: the whole battery (incl. the 1 MB field and the
    # 10k-column row) must stay interactive — an allocation blowup in
    # the reader would show up here as minutes, not seconds
    assert wall < 120, f"station CSV battery took {wall:.0f}s"
    print(
        f"station CSV structural battery: {len(files)} accepted-shape files"
        f" + {len(rejects)} loud header rejects, {wall:.1f}s"
    )


def test_mp3_structure_mutation_battery():
    """r15 battery for the MP3 structural tier (parse_mp3_frames), at
    the depth the XLSX/MP4/WAV surfaces got: frame-structure-AWARE
    poisons — ID3v2 synchsafe size lies (overrun, non-synchsafe high
    bits, nested double tags), per-frame header corruptions (free
    bitrate 0, invalid indices 15/3, the reserved version), mid-stream
    junk splices, wrong-length trailing 'TAG' blocks, truncations at
    every kind of boundary, and random byte flips — plus untouched
    golden files whose frame count must survive exactly. Contract (the
    mapInPandas batch-killer class): parse_mp3_frames returns a dict
    or raises ValueError — never IndexError/KeyError/struct.error —
    never loops (min frame size is 8 bytes, so the walk always
    advances), and aggregates stay consistent on every accept
    (total_bytes == sum of frame sizes, offsets strictly increasing)."""
    import time as _time

    from mysense_spark.operators.codecs import (
        _MP3_KBPS,
        _MP3_RATES,
        parse_mp3_frames,
    )

    rng = random.Random(0x3153)

    def frame_bytes(ver_bits: int, layer_bits: int, br_idx: int, sr_idx: int,
                    pad: int, mode: int) -> bytes:
        h = bytes([
            0xFF,
            0xE0 | (ver_bits << 3) | (layer_bits << 1) | 1,
            (br_idx << 4) | (sr_idx << 2) | (pad << 1),
            mode << 6,
        ])
        layer = 4 - layer_bits
        v1 = ver_bits == 3
        kbps = _MP3_KBPS[(v1, layer)][br_idx - 1]
        sr = _MP3_RATES[ver_bits][sr_idx]
        if layer == 1:
            size = (12 * kbps * 1000 // sr + pad) * 4
        else:
            samples = 576 if (layer == 3 and not v1) else 1152
            size = samples // 8 * kbps * 1000 // sr + pad
        return h + bytes(size - 4)

    def id3v2(size: int, hi_bit: bool = False) -> bytes:
        sz = bytes([
            (size >> 21) & 0x7F,
            (size >> 14) & 0x7F,
            ((size >> 7) & 0x7F) | (0x80 if hi_bit else 0),
            size & 0x7F,
        ])
        return b"ID3" + bytes([3, 0, 0]) + sz + bytes(size)

    def golden(n_frames: int, with_id3: bool, with_tag: bool) -> bytes:
        out = id3v2(rng.randrange(0, 64)) if with_id3 else b""
        for _ in range(n_frames):
            out += frame_bytes(
                rng.choice([3, 2, 0]),
                rng.choice([1, 2, 3]),
                1 + rng.randrange(14),
                rng.randrange(3),
                rng.randrange(2),
                rng.choice([0, 3]),
            )
        if with_tag:
            out += b"TAG" + bytes(125)
        return out

    trials = 0
    outcomes = {"ok": 0, "reject": 0}

    def run(payload: bytes, expect_frames: int | None = None) -> None:
        nonlocal trials
        trials += 1
        try:
            m = parse_mp3_frames(payload)
        except ValueError:
            # a GOLDEN input must never reject (review catch: counting
            # it as an ordinary reject would let a parser regression on
            # e.g. all Layer-I goldens sail past the aggregate floors)
            assert expect_frames is None, "golden MP3 rejected"
            outcomes["reject"] += 1
            return
        assert isinstance(m, dict)
        assert m["total_bytes"] == sum(f["size"] for f in m["frames"])
        offs = [f["offset"] for f in m["frames"]]
        assert offs == sorted(offs) and len(set(offs)) == len(offs)
        if expect_frames is not None:
            assert m["n_frames"] == expect_frames
        outcomes["ok"] += 1

    t0 = _time.monotonic()
    for _ in range(4000):
        nf = 1 + rng.randrange(6)
        base = bytearray(golden(nf, rng.random() < 0.5, rng.random() < 0.3))
        mode = rng.randrange(10)
        if mode == 0:  # golden: must parse to exactly nf frames
            tag = bytes(base).endswith(b"TAG" + bytes(125))
            run(bytes(base), expect_frames=nf if not tag or len(base) > 128 else None)
            continue
        elif mode == 1:  # truncate anywhere
            base = base[: rng.randrange(len(base))]
        elif mode == 2:  # ID3v2 size overruns the file
            base = bytearray(id3v2(len(base) + 64)[:10]) + base
        elif mode == 3:  # non-synchsafe ID3 size byte (>= 0x80)
            base = bytearray(id3v2(32, hi_bit=True)) + base
        elif mode == 4:  # nested double ID3v2
            base = bytearray(id3v2(rng.randrange(0, 32))) + base
        elif mode == 5:  # corrupt a frame header nibble on a real boundary
            i = 0
            if base[:3] == b"ID3":
                i = 10 + ((base[6] << 21) | (base[7] << 14) | (base[8] << 7) | base[9])
            if i + 3 <= len(base):
                poison = rng.choice(["free", "badbr", "badsr", "resv"])
                if poison == "free":
                    base[i + 2] &= 0x0F
                elif poison == "badbr":
                    base[i + 2] |= 0xF0
                elif poison == "badsr":
                    base[i + 2] |= 0x0C
                else:
                    base[i + 1] = (base[i + 1] & ~0x18) | 0x08
        elif mode == 6:  # splice junk mid-stream
            i = rng.randrange(0, len(base) + 1)
            base = base[:i] + rng.randbytes(rng.randrange(1, 16)) + base[i:]
        elif mode == 7:  # wrong-length trailing TAG (127 or 129 bytes)
            base += b"TAG" + bytes(rng.choice([124, 126]))
        elif mode == 8:  # flip 1-6 bytes
            for _f in range(rng.randrange(1, 7)):
                i = rng.randrange(len(base))
                base[i] ^= rng.randrange(1, 256)
        else:  # degenerate files
            base = bytearray(rng.choice(
                [b"", b"\xff", b"\xff\xfb", b"TAG" + bytes(125), bytes(4)]
            ))
        run(bytes(base))
    wall = _time.monotonic() - t0
    assert outcomes["ok"] + outcomes["reject"] == trials
    assert outcomes["ok"] >= 400  # the golden tenth parses
    assert outcomes["reject"] >= 1500  # poisons genuinely reject
    assert wall < 60, f"MP3 battery took {wall:.0f}s"
    print(
        f"mp3 structural battery: {trials} trials, {outcomes['ok']} ok,"
        f" {outcomes['reject']} rejected, {wall:.1f}s"
    )
