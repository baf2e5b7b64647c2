"""Streaming pipeline tests: TTN normalize (V2+V3), decode->long-format,
batch/stream parity, upsert idempotence, stateful operators."""

import os

import pytest
from pyspark.sql import functions as F

from tests.fixtures_mqtt import ALL_LINES, V2_PORT2, V2_PORT4


def _write_dump(tmp_path, name, lines):
    p = tmp_path / name
    p.write_text("\n".join(lines) + "\n")
    return str(p)


def test_envelope_normalization_v2_v3(spark, tmp_path):
    from mysense_spark.sources.ttn import parse_envelopes

    path = _write_dump(tmp_path, "dump.mqtt", ALL_LINES)
    out = parse_envelopes(spark.read.text(path)).collect()
    assert len(out) == 4
    by_dev = {r["dev_id"]: r for r in out}
    # V2 record
    r2 = by_dev["lopyprototype20180404"]
    assert r2["app_id"] == "201802215971az"
    assert r2["port"] == 2
    assert r2["n_gateways"] == 1
    # airtime correction: event_ts < broker time
    assert str(r2["event_ts"]).startswith("2020-11-07 23:48:20")
    # V3 record normalizes to the same shape
    r3 = by_dev["lopy-v3"]
    assert r3["app_id"] == "app1"
    assert r3["port"] == 2
    assert r3["payload_raw"] == r2["payload_raw"]
    assert r3["best_gateway"] == "gw-v3-1"
    # best-gateway ordering by strength 10*snr + 0.2*rssi
    r4 = by_dev["bwlvc-9cd5"]
    assert r4["best_gateway"] == "gateway_sint_anthonis_003"


def test_batch_pipeline_long_format(spark, tmp_path):
    from mysense_spark.streaming.pipeline import run_file_batch

    path = _write_dump(tmp_path, "dump.mqtt", ALL_LINES)
    fact = run_file_batch(spark, path)
    rows = fact.collect()
    # port 2 decodes to 7 fields x 2 envelopes (V2+V3) + port 4 to 17
    by_kit = {}
    for r in rows:
        by_kit.setdefault(r["kit_id"], {})[r["field"]] = r
    lopy = by_kit["201802215971az_lopyprototype20180404"]
    assert lopy["pm25"]["value"] == 15.5
    assert lopy["pm25"]["unit"] == "ug/m3"
    assert lopy["pm25"]["valid"] is True
    assert lopy["luchtdruk"]["value"] == 1018.0
    assert lopy["temp"]["sensor_type"] in ("BME680", "BME280")
    bwlvc = by_kit["201802215971az_bwlvc-9cd5"]
    assert bwlvc["pm05_cnt"]["value"] == 3091.9
    assert bwlvc["grain"]["value"] == 0.5
    # V3 twin decodes identically
    v3 = by_kit["app1_lopy-v3"]
    assert v3["pm25"]["value"] == 15.5


def test_port3_event_stream(spark, tmp_path):
    from mysense_spark.sources.ttn import parse_envelopes
    from mysense_spark.streaming.pipeline import events_stream

    path = _write_dump(tmp_path, "dump.mqtt", ALL_LINES)
    ev = events_stream(parse_envelopes(spark.read.text(path))).collect()
    assert len(ev) == 1
    assert ev[0]["dust"] == "SPS30"
    assert ev[0]["meteo"] == "BME680"
    assert ev[0]["version"] == 0.5


def test_stream_batch_parity_and_upsert_idempotence(spark, tmp_path):
    """run_file_stream lands the same facts as the batch twin, laid out
    as day= partitions, and duplicate file delivery stays idempotent
    through the file-level merge."""
    from mysense_spark.streaming.pipeline import run_file_batch, run_file_stream

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    _write_dump(in_dir, "batch1.mqtt", ALL_LINES)
    out_dir = str(tmp_path / "archive")
    q = run_file_stream(spark, str(in_dir), str(tmp_path / "ckpt"), out_dir)
    q.awaitTermination(120)

    assert any(d.startswith("day=") for d in os.listdir(out_dir))
    streamed = spark.read.parquet(out_dir)
    batch = run_file_batch(spark, str(in_dir / "batch1.mqtt"))
    skey = {(r["kit_id"], r["field"]): r["value"] for r in streamed.collect()}
    bkey = {(r["kit_id"], r["field"]): r["value"] for r in batch.collect()}
    assert skey == bkey, "stream result != batch twin"

    # replay the same records again (duplicate delivery) -> no new rows
    n_before = streamed.count()
    _write_dump(in_dir, "batch2.mqtt", [V2_PORT2, V2_PORT4])
    q2 = run_file_stream(spark, str(in_dir), str(tmp_path / "ckpt2"), out_dir)
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == n_before


def test_stream_default_is_partitioned_and_migration(spark, tmp_path):
    """A fresh pipeline lands day-partitioned — also when the archive's
    parent directory does not exist yet — and a flat archive (top-level
    parquet files) adopts the layout via the one-shot
    migrate_to_partitioned helper with rows preserved byte-for-value."""
    from mysense_spark.sinks.upsert import migrate_to_partitioned
    from mysense_spark.streaming.pipeline import run_file_batch, run_file_stream

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    _write_dump(in_dir, "batch1.mqtt", ALL_LINES)

    # fresh archive -> partitioned on disk; the nested path's parents
    # are created by the first commit
    for i, out_dir in enumerate(
        (str(tmp_path / "archive_default"), str(tmp_path / "new" / "nested" / "archive"))
    ):
        q = run_file_stream(spark, str(in_dir), str(tmp_path / f"ckpt_d{i}"), out_dir)
        q.awaitTermination(120)
        assert q.exception() is None
        assert any(d.startswith("day=") for d in os.listdir(out_dir))
        assert spark.read.parquet(out_dir).count() == 31

    # flat archive -> migrate -> same facts, day= layout, and the stream
    # keeps appending through the partitioned merge
    flat_dir = str(tmp_path / "archive_flat")
    run_file_batch(spark, str(in_dir / "batch1.mqtt")).dropDuplicates(
        ["kit_id", "ts", "field"]
    ).write.parquet(flat_dir)
    before = {
        (r["kit_id"], r["ts"], r["field"]): r["value"]
        for r in spark.read.parquet(flat_dir).collect()
    }
    assert migrate_to_partitioned(spark, flat_dir) is True
    assert all(d.startswith("day=") for d in os.listdir(flat_dir))
    after = {
        (r["kit_id"], r["ts"], r["field"]): r["value"]
        for r in spark.read.parquet(flat_dir).drop("day").collect()
    }
    assert after == before
    # idempotent: a second call is a no-op
    assert migrate_to_partitioned(spark, flat_dir) is False
    # replay through the stream -> partitioned merge, still no dupes
    q2 = run_file_stream(spark, str(in_dir), str(tmp_path / "ckpt_f2"), flat_dir)
    q2.awaitTermination(120)
    assert spark.read.parquet(flat_dir).count() == len(before)


def test_partitioned_stream_multiday_late_data(spark, tmp_path):
    """Late data crossing days through the streaming partitioned sink: a
    second micro-batch carrying records for an EARLIER day merges into
    that day's historical partition (and only it), not into today's."""
    import os

    from mysense_spark.streaming.pipeline import run_file_stream

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    day2 = V2_PORT2.replace("2020-11-07", "2020-11-08")
    _write_dump(in_dir, "b1.mqtt", [day2])
    out_dir = str(tmp_path / "arch")
    q = run_file_stream(spark, str(in_dir), str(tmp_path / "c1"), out_dir)
    q.awaitTermination(120)
    assert sorted(d for d in os.listdir(out_dir) if d.startswith("day=")) == ["day=2020-11-08"]

    # late batch: the ORIGINAL day-1 record arrives after day-2 data
    _write_dump(in_dir, "b2.mqtt", [V2_PORT2])
    q2 = run_file_stream(spark, str(in_dir), str(tmp_path / "c2"), out_dir)
    q2.awaitTermination(120)
    days = sorted(d for d in os.listdir(out_dir) if d.startswith("day="))
    assert days == ["day=2020-11-07", "day=2020-11-08"]
    per_day = (
        spark.read.parquet(out_dir)
        .groupBy("day")
        .count()
        .collect()
    )
    counts = {str(r["day"]): r["count"] for r in per_day}
    assert counts["2020-11-07"] == counts["2020-11-08"] > 0  # same record shape per day


def test_envelope_without_gateways_parses(spark):
    """An envelope with an empty (or absent) gateways array is real TTN
    traffic; getItem(0) on the empty array would throw
    INVALID_ARRAY_INDEX under ANSI mode and kill the batch — best
    gateway must simply be NULL."""
    from mysense_spark.sources.ttn import parse_envelopes

    no_gw = (
        'x/devices/d9/up {"app_id":"x","dev_id":"d9","hardware_serial":"AA","port":2,'
        '"counter":1,"payload_raw":"hQAAAJsArgF4A3oD+gEOAJw=",'
        '"metadata":{"time":"2021-01-01T00:00:00Z","airtime":0,"gateways":[]}}'
    )
    out = parse_envelopes(spark.createDataFrame([(no_gw,)], "value string")).collect()
    assert len(out) == 1
    assert out[0]["n_gateways"] == 0
    assert out[0]["best_gateway"] is None
    assert out[0]["best_rssi"] is None


def test_envelope_dead_letters(spark):
    """Envelope-level corruption (truncated JSON, non-JSON garbage) must
    land in the quarantine with the RAW line preserved for replay —
    previously such lines were silently filtered before the dead-letter
    path ever saw them. Blank lines are not corruption."""
    from mysense_spark.streaming.pipeline import all_dead_letters, envelope_dead_letters

    truncated = V2_PORT2[: len(V2_PORT2) // 2]  # mid-write crash shape
    garbage = "not json at all"
    lines = spark.createDataFrame(
        [(V2_PORT2,), (truncated,), (garbage,), ("   ",)], "value string"
    )
    dl = envelope_dead_letters(lines).collect()
    assert len(dl) == 2
    assert {r["reason"] for r in dl} == {"envelope_error"}
    assert {r["payload_raw"] for r in dl} == {truncated, garbage}  # raw preserved

    # composed view: envelope failures + decoder failures, valid rows absent
    allr = all_dead_letters(lines).collect()
    assert len(allr) == 2  # V2_PORT2 decodes fine; blank ignored


def test_dead_letter_stream(spark, tmp_path):
    from mysense_spark.sources.ttn import parse_envelopes
    from mysense_spark.streaming.pipeline import dead_letter_stream

    bad_port = (
        'x/devices/d1/up {"app_id":"x","dev_id":"d1","hardware_serial":"AA","port":7,'
        '"counter":1,"payload_raw":"AAAA","metadata":{"time":"2021-01-01T00:00:00Z","airtime":0,"gateways":[]}}'
    )
    bad_payload = (
        'x/devices/d2/up {"app_id":"x","dev_id":"d2","hardware_serial":"AB","port":10,'
        '"counter":2,"payload_raw":"AAAA","metadata":{"time":"2021-01-01T00:00:00Z","airtime":0,"gateways":[]}}'
    )
    path = _write_dump(tmp_path, "bad.mqtt", [bad_port, bad_payload, V2_PORT2])
    dl = dead_letter_stream(parse_envelopes(spark.read.text(path))).collect()
    reasons = {r["kit_id"]: r["reason"] for r in dl}
    assert reasons == {"x_d1": "unsupported_port", "x_d2": "decode_error"}


def test_static_value_monitor_batch_twin(spark):
    import datetime as dt

    from mysense_spark.streaming.state import static_value_monitor_batch

    base = dt.datetime(2024, 1, 1)
    rows = []
    # 25 identical temp values -> trigger at 20; then a change resets
    for i in range(25):
        rows.append(("kit1", "temp", base + dt.timedelta(minutes=i), 21.5))
    rows.append(("kit1", "temp", base + dt.timedelta(minutes=30), 22.0))
    # pm10: only 10 identical -> below its trigger (30), no alert
    for i in range(10):
        rows.append(("kit1", "pm10", base + dt.timedelta(minutes=i), 5.0))
    df = spark.createDataFrame(rows, "kit_id string, field string, ts timestamp, value double")
    out = static_value_monitor_batch(df).collect()
    assert len(out) == 1
    assert out[0]["field"] == "temp"
    assert out[0]["run_len"] == 20


def test_kit_throttle_stream(spark, tmp_path):
    import datetime as dt

    from mysense_spark.streaming.state import kit_throttle

    base = dt.datetime(2024, 1, 1)
    rows = []
    # chatty kit: 10 records 60 s apart -> throttled after warmup
    for i in range(10):
        rows.append(("chatty", base + dt.timedelta(seconds=60 * i)))
    # polite kit: 10 records 900 s apart -> always accepted
    for i in range(10):
        rows.append(("polite", base + dt.timedelta(seconds=900 * i)))
    src_dir = tmp_path / "throttle_in"
    src_dir.mkdir()
    spark.createDataFrame(rows, "kit_id string, ts timestamp").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src_dir))

    stream = spark.readStream.schema("kit_id string, ts timestamp").parquet(str(src_dir))
    out_rows = []
    q = (
        kit_throttle(stream)
        .writeStream.foreachBatch(lambda df, _id: out_rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "throttle_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    chatty = sorted((r for r in out_rows if r["kit_id"] == "chatty"), key=lambda r: r["ts"])
    polite = [r for r in out_rows if r["kit_id"] == "polite"]
    assert all(r["accepted"] for r in polite)
    assert not all(r["accepted"] for r in chatty), "chatty kit must be throttled"
    assert all(r["accepted"] for r in chatty[:4]), "warmup records pass"


def test_kit_throttle_hand_computed(spark):
    """Independent expectation for the IsBehavingKit ladder (the joost
    lesson: pin the semantics with numbers computed from the reference's
    math, not from either engine). Records 60 s apart, starting interval
    estimate 1800 s:
      r1: first record, accepted, interval 1800
      r2: delta 60 -> (1800*1+60)/2 = 930, count 1 < 3, accepted
      r3: delta 60 -> (930*2+60)/3  = 640, count 2 < 3, accepted
      r4: delta 60 -> (640*3+60)/4  = 495, count 3 >= 3 BUT 495 >= 480,
          accepted (the mean hasn't crossed the floor yet)
      r5: delta 60 -> (495*4+60)/5  = 408 < 480, count 4 -> DROP,
          penalty until t4 + 4 h
      r6 (t=300): inside penalty -> drop, penalty NOT extended,
          interval still updates: (408*5+60)/6 = 350
      r7 (t=20000 s): past penalty (14640 s), delta capped at 1800 ->
          (350*6+1800)/7 = 557.14... >= 480 -> accepted again
    """
    import datetime as dt

    from mysense_spark.streaming.state import kit_throttle_batch

    base = dt.datetime(2024, 1, 1)
    secs = [0, 60, 120, 180, 240, 300, 20000]
    rows = [("k", base + dt.timedelta(seconds=s), s * 1_000_000) for s in secs]
    df = spark.createDataFrame(rows, "kit_id string, ts timestamp, epoch_us long")
    out = sorted(kit_throttle_batch(df).collect(), key=lambda r: r["ts"])
    assert [r["accepted"] for r in out] == [True, True, True, True, False, False, True]
    exp_iv = [1800.0, 930.0, 640.0, 495.0, 408.0, 350.0, (350.0 * 6 + 1800.0) / 7]
    for r, iv in zip(out, exp_iv):
        assert abs(r["est_interval"] - iv) < 1e-9, (r["ts"], r["est_interval"], iv)
    assert [r["count"] for r in out] == [1, 2, 3, 4, 5, 6, 7]


def test_kit_throttle_stream_batch_parity(spark, tmp_path):
    """The streaming handler and the graded batch twin share
    _throttle_step; prove the two drivers around it (state store vs
    per-kit pandas scan) produce identical decisions on a mixed fleet."""
    import datetime as dt

    from mysense_spark.streaming.state import kit_throttle, kit_throttle_batch

    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(12):
        rows.append(("chatty", base + dt.timedelta(seconds=60 * i)))
        rows.append(("polite", base + dt.timedelta(seconds=900 * i)))
        rows.append(("bursty", base + dt.timedelta(seconds=(i % 4) * 30 + (i // 4) * 30000)))
    src_dir = tmp_path / "throttle_parity_in"
    src_dir.mkdir()
    df = spark.createDataFrame(rows, "kit_id string, ts timestamp")
    df.coalesce(1).write.mode("overwrite").parquet(str(src_dir))

    stream = spark.readStream.schema("kit_id string, ts timestamp").parquet(str(src_dir))
    got = []
    q = (
        kit_throttle(stream)
        .writeStream.foreachBatch(lambda d, _id: got.extend(d.collect()))
        .option("checkpointLocation", str(tmp_path / "throttle_parity_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    from pyspark.sql import functions as F

    batch = kit_throttle_batch(df.withColumn("epoch_us", F.unix_micros("ts"))).collect()
    key = lambda r: (r["kit_id"], r["ts"])
    sgot = {key(r): (r["accepted"], round(r["est_interval"], 9), r["count"]) for r in got}
    sbatch = {key(r): (r["accepted"], round(r["est_interval"], 9), r["count"]) for r in batch}
    assert sgot == sbatch


def test_socket_stream_end_to_end(spark, tmp_path):
    """A REAL live push transport: a localhost TCP server pushes the
    MQTT dump lines over a socket and the full pipeline (socket source →
    parse → decode → watermark/dedup → partitioned upsert) lands them
    with no file staging — the S1 transport behavior the drop-dir replay
    cannot exercise. Result must equal the batch twin row-for-row."""
    import socket
    import threading
    import time

    from mysense_spark.streaming.pipeline import run_file_batch, run_socket_stream

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    done = threading.Event()

    def serve():
        conn, _ = srv.accept()
        conn.sendall(("\n".join(ALL_LINES) + "\n").encode())
        done.wait(120)  # keep the connection open until the test is done
        conn.close()
        srv.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    dump = tmp_path / "twin.mqtt"
    dump.write_text("\n".join(ALL_LINES) + "\n")
    out_dir = str(tmp_path / "socket_archive")
    q = run_socket_stream(
        spark, "127.0.0.1", port, str(tmp_path / "socket_ckpt"), out_dir
    )
    try:
        deadline = time.time() + 120
        n = 0
        while time.time() < deadline:
            try:
                n = spark.read.parquet(out_dir).count()
            except Exception:
                n = 0
            if n >= 31:
                break
            time.sleep(2)
    finally:
        done.set()
        q.stop()
    assert n == 31, f"socket stream landed {n} rows"

    streamed = {
        (r["kit_id"], r["field"]): r["value"]
        for r in spark.read.parquet(out_dir).collect()
    }
    batch = {
        (r["kit_id"], r["field"]): r["value"]
        for r in run_file_batch(spark, str(dump)).collect()
    }
    assert streamed == batch, "socket stream result != batch twin"


def test_partition_scan_twins_match_naive_reference(spark):
    """The r7 mapInPandas rewrite processes MANY keys per partition with
    manual key-boundary detection — the bug class that per-key
    applyInPandas could not have (state bleeding across adjacent keys in
    one partition, a key split across partitions, resets missed at
    boundaries). 200 keys through 4 shuffle partitions, LCG-generated
    irregular timestamps, checked row-for-row against naive per-key
    Python references that share NO code with the operators."""
    import datetime as dt

    from pyspark.sql import functions as F

    from mysense_spark.sinks.alerts import SUPPRESS_S, suppress_alarms
    from mysense_spark.streaming.state import (
        INTERVAL_CAP_S,
        THROTTLE_MIN_COUNT,
        THROTTLE_PENALTY_S,
        THROTTLE_RATE_S,
        kit_throttle_batch,
    )

    base = dt.datetime(2024, 1, 1)
    rows = []
    seed = 42
    for k in range(200):
        t = 0
        for _ in range(12):
            seed = (seed * 1103515245 + 12345) % (1 << 31)
            t += 30 + seed % 900  # gaps 30..929 s — straddles the 480 s floor
            rows.append((f"kit{k:03d}", base + dt.timedelta(seconds=t), t * 1_000_000))

    df = spark.createDataFrame(rows, "kit_id string, ts timestamp, epoch_us long")

    # --- throttle: naive per-key reference (independent reimplementation)
    def naive_throttle(series):
        out = []
        count, interval, last, pen = 0, float(INTERVAL_CAP_S), None, 0
        for e in series:
            acc = True
            if last is not None:
                d = min(e - last, INTERVAL_CAP_S * 1_000_000)
                interval = (interval * count + d / 1e6) / (count + 1)
                if e < pen:
                    acc = False
                elif count >= THROTTLE_MIN_COUNT and d < THROTTLE_RATE_S * 1_000_000 and interval < THROTTLE_RATE_S:
                    acc = False
                    pen = e + THROTTLE_PENALTY_S * 1_000_000
            count += 1
            last = e
            out.append((acc, round(interval, 9), count))
        return out

    by_kit: dict = {}
    for kid, _ts, eus in rows:
        by_kit.setdefault(kid, []).append(eus)
    want = {
        (kid, e): r
        for kid, es in by_kit.items()
        for e, r in zip(es, naive_throttle(es))
    }
    got_rows = kit_throttle_batch(df.repartition(4, "kit_id")).collect()
    assert len(got_rows) == len(rows)
    got = {
        (r["kit_id"], by_kit[r["kit_id"]][r["count"] - 1]): (
            r["accepted"],
            round(r["est_interval"], 9),
            r["count"],
        )
        for r in got_rows
    }
    assert got == want

    # --- suppression: naive per-key reference over two event classes
    alarms = df.select(
        "kit_id",
        (F.col("epoch_us") % 2).cast("string").alias("event"),
        "ts",
    )
    got_s = {
        (r["kit_id"], r["event"], r["ts"]): r["emitted"]
        for r in suppress_alarms(alarms.repartition(4, "kit_id", "event")).collect()
    }
    by_key: dict = {}
    for kid, ts, eus in rows:
        by_key.setdefault((kid, str(eus % 2)), []).append(ts)
    n_checked = 0
    for (kid, ev), tss in by_key.items():
        last = None
        for ts in sorted(tss):
            emit = last is None or (ts - last).total_seconds() >= SUPPRESS_S
            if emit:
                last = ts
            assert got_s[(kid, ev, ts)] == emit, (kid, ev, ts)
            n_checked += 1
    assert n_checked == len(rows)


def test_alarm_suppression(spark):
    import datetime as dt

    from mysense_spark.sinks.alerts import suppress_alarms

    base = dt.datetime(2024, 1, 1)
    rows = [
        ("kit1", "dead", base),
        ("kit1", "dead", base + dt.timedelta(hours=1)),   # suppressed
        ("kit1", "dead", base + dt.timedelta(hours=7)),   # passes (>6h after first)
        ("kit1", "static", base + dt.timedelta(hours=1)), # different event passes
        ("kit2", "dead", base + dt.timedelta(hours=2)),   # different kit passes
    ]
    df = spark.createDataFrame(rows, "kit_id string, event string, ts timestamp")
    out = {(r["kit_id"], r["event"], r["ts"]): r["emitted"] for r in suppress_alarms(df).collect()}
    assert out[("kit1", "dead", base)] is True
    assert out[("kit1", "dead", base + dt.timedelta(hours=1))] is False
    assert out[("kit1", "dead", base + dt.timedelta(hours=7))] is True
    assert out[("kit1", "static", base + dt.timedelta(hours=1))] is True
    assert out[("kit2", "dead", base + dt.timedelta(hours=2))] is True


def test_forwarder_pin_split_and_breaker(spark, tmp_path):
    import datetime as dt
    import json

    from mysense_spark.sinks.forward import CircuitBreaker, eligible_records, build_posts, make_forwarder

    base = dt.datetime(2024, 1, 1)
    fact = spark.createDataFrame(
        [
            ("kitA", base, "PMS7003", "pm25", 12.5, True),
            ("kitA", base, "PMS7003", "pm10", 20.0, True),
            ("kitA", base, "BME280", "temp", 21.0, True),
            ("kitA", base, "BME280", "rv", 55.0, False),   # invalid -> gated
            ("kitB", base, "PMS7003", "pm25", 9.0, True),  # luftdaten off -> gated
        ],
        "kit_id string, ts timestamp, sensor_type string, field string, value double, valid boolean",
    )
    routing = spark.createDataFrame(
        [("kitA", True), ("kitB", False)], "kit_id string, luftdaten boolean"
    )
    posts = build_posts(eligible_records(fact, routing)).collect()
    pins = {r["pin"]: dict(r["payload"]) for r in posts}
    assert set(pins) == {1, 11}
    assert pins[1] == {"pm25": 12.5, "pm10": 20.0}
    assert pins[11] == {"temp": 21.0}

    # circuit breaker: the transport now runs in EXECUTOR python workers
    # (foreachPartition), so recording goes through the shared filesystem
    # (O_APPEND line writes), not a driver-side list
    rec = str(tmp_path / "posts.jsonl")

    def failing_transport(host, post):
        with open(rec, "a") as fh:
            fh.write(json.dumps(post) + "\n")
        return False

    def n_sent():
        try:
            with open(rec) as fh:
                return sum(1 for _ in fh)
        except FileNotFoundError:
            return 0

    breaker = CircuitBreaker(threshold=2, cooloff_s=9999)
    fwd = make_forwarder(routing, failing_transport, breaker=breaker)
    fwd(fact, 0)
    # both posts attempted (parallel partitions each stop at their LOCAL
    # consecutive-failure budget); the aggregated errors open the breaker
    n0 = n_sent()
    assert 1 <= n0 <= 2
    assert not breaker.allow("api.sensor.community")
    fwd(fact, 1)
    assert n_sent() == n0  # open breaker gates the whole next batch


def test_port10_reaches_fact_path(spark):
    """ADVICE r1: valid Libelium (port 10) frames must land in the fact
    stream (not vanish between fact and dead-letter)."""
    import base64
    import struct

    from mysense_spark.sources.ttn import parse_envelopes
    from mysense_spark.streaming.pipeline import dead_letter_stream, decode_stream

    p = b"<=>" + bytes([0x80, 0x00]) + struct.pack("<Q", 0x123456789AB) + b"wasp1#" + bytes([7])
    p += bytes([74]) + struct.pack("<f", 21.5)  # BME280 temp
    p += bytes([76]) + struct.pack("<f", 55.0)  # BME280 rv
    b64 = base64.b64encode(p).decode()
    line = (
        'x/devices/wasp/up {"app_id":"x","dev_id":"wasp","hardware_serial":"AC","port":10,'
        f'"counter":3,"payload_raw":"{b64}",'
        '"metadata":{"time":"2021-01-01T00:00:00Z","airtime":0,"gateways":[]}}'
    )
    env = parse_envelopes(spark.createDataFrame([(line,)], "value string"))
    fact = decode_stream(env).collect()
    got = {(r["sensor_type"], r["field"]): r["value"] for r in fact}
    assert got == {("BME280", "temp"): 21.5, ("BME280", "rv"): 55.0}
    assert all(r["kit_id"] == "x_wasp" for r in fact)
    # and it must NOT be quarantined
    assert dead_letter_stream(env).count() == 0


def test_static_monitor_null_resets_run(spark):
    """ADVICE r1: NULL values must reset the run in the batch twin (parity
    with the streaming handler), not silently continue it."""
    import datetime as dt

    from mysense_spark.streaming.state import static_value_monitor_batch

    base = dt.datetime(2024, 1, 1)
    rows = []
    # 10 identical, then NULL, then 10 identical: without null-safety the
    # NULL continues the run to 21 >= trigger(20) -> false alert
    for i in range(10):
        rows.append(("kit1", "temp", base + dt.timedelta(minutes=i), 21.5))
    rows.append(("kit1", "temp", base + dt.timedelta(minutes=10), None))
    for i in range(11, 21):
        rows.append(("kit1", "temp", base + dt.timedelta(minutes=i), 21.5))
    df = spark.createDataFrame(rows, "kit_id string, field string, ts timestamp, value double")
    assert static_value_monitor_batch(df).count() == 0
    # a clean run of exactly 20 still triggers
    rows2 = [("kit1", "temp", base + dt.timedelta(minutes=i), 21.5) for i in range(20)]
    df2 = spark.createDataFrame(rows2, "kit_id string, field string, ts timestamp, value double")
    assert static_value_monitor_batch(df2).count() == 1


def _write_corpus(tmp_path, name, docs):
    import json as _json

    d = tmp_path / "corpus_in"
    d.mkdir(exist_ok=True)
    p = d / name
    p.write_text("\n".join(_json.dumps(r) for r in docs))
    return str(d)


_CORPUS_DOCS = [
    # two exact duplicates (same text, later ts/doc_id) and one fragment
    {"doc_id": 1, "ts": "2026-01-01 10:00:00", "text": "the quick brown fox jumps over the lazy dog again and again", "lang": "en", "source": "crawl"},
    {"doc_id": 2, "ts": "2026-01-01 10:05:00", "text": "the quick  brown fox jumps over the lazy dog again and again", "lang": "en", "source": "crawl"},
    {"doc_id": 3, "ts": "2026-01-01 10:01:00", "text": "ein ganz anderes dokument mit vielen eigenen worten und noch mehr inhalt dazu", "lang": "de", "source": "crawl"},
    {"doc_id": 4, "ts": "2026-01-01 10:02:00", "text": "too short", "lang": "en", "source": "crawl"},
]


def test_corpus_stream_dedupes_and_gates(spark, tmp_path):
    """Streaming corpus ingestion: the whitespace-variant duplicate is
    dropped by fingerprint state, the fragment by the quality gate; the
    batch twin produces the identical kept set."""
    from mysense_spark.streaming.corpus import corpus_batch, run_corpus_stream

    in_dir = _write_corpus(tmp_path, "a.jsonl", _CORPUS_DOCS)
    out = str(tmp_path / "corpus_out")
    ckpt = str(tmp_path / "corpus_ckpt")
    q = run_corpus_stream(spark, in_dir, ckpt, out)
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    rows = {r.doc_id: r for r in got.collect()}
    assert set(rows) == {1, 3}  # 2 = dup of 1 (first-seen wins), 4 = gated
    assert rows[1].fingerprint == rows[1].fingerprint
    assert all(r.verdict == "keep" for r in rows.values())

    batch = {r.doc_id for r in corpus_batch(spark, in_dir).collect()}
    assert batch == set(rows)

    # replay the same input with a FRESH checkpoint: the parquet sink's
    # _spark_metadata commit log already contains batch 0 for this path,
    # so the replayed batch is recognized and skipped — the archive stays
    # exactly-once even across checkpoint loss
    q2 = run_corpus_stream(spark, in_dir, str(tmp_path / "ckpt2"), out)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 2


def test_crawl_rate_monitor_flags_spike(spark, tmp_path):
    """Stateful crawl-rate anomaly: steady 5-doc batches warm the EMA,
    then a 30-doc flood must be flagged — and must NOT drag the running
    rate up (so the next normal batch isn't compared against the
    flood)."""
    import json as _json
    import time as _time

    from mysense_spark.streaming.corpus import DOC_SCHEMA, crawl_rate_monitor, curate

    d = tmp_path / "rate_in"
    d.mkdir()
    doc_id = 0

    def write_batch(name, n):
        nonlocal doc_id
        rows = []
        for _ in range(n):
            rows.append({
                "doc_id": doc_id,
                "ts": f"2026-01-01 10:{doc_id % 60:02d}:00",
                "text": "steady crawl content with plenty of words to pass every quality gate here",
                "lang": "en", "source": "crawl",
            })
            doc_id += 1
        (d / name).write_text("\n".join(_json.dumps(r) for r in rows))
        _time.sleep(0.05)  # distinct mtimes -> deterministic file order

    for i in range(4):
        write_batch(f"{i:02d}.jsonl", 5)
    write_batch("04_spike.jsonl", 30)

    raw = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    out = crawl_rate_monitor(curate(raw))
    q = (
        out.writeStream.format("memory")
        .queryName("rate_mon")
        .option("checkpointLocation", str(tmp_path / "rate_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM rate_mon ORDER BY ema_rate DESC, n_batch").collect()
    # one emission per micro-batch that saw data
    batches = [(r.n_batch, r.ema_rate, r.anomaly) for r in rows]
    spikes = [b for b in batches if b[0] == 30]
    normals = [b for b in batches if b[0] == 5]
    assert len(spikes) == 1 and spikes[0][2] is True, batches
    assert all(not b[2] for b in normals), batches
    # the flood did not pollute the EMA: it stayed at the steady rate
    assert abs(spikes[0][1] - 5.0) < 1e-9, batches


def test_streaming_state_runs_under_rocksdb(spark, tmp_path):
    """The session factory pins the RocksDB state store provider (fleet
    scale: millions of per-device keys must spill to disk, not live in
    executor heap). Drive a stateful query and assert the checkpoint
    holds RocksDB zip snapshots — not the HDFS provider's .delta files —
    so the whole streaming matrix in this file demonstrably runs under
    RocksDB, not just a conf string."""
    import datetime as dt
    import glob

    from mysense_spark.streaming.state import kit_throttle

    assert "RocksDB" in spark.conf.get("spark.sql.streaming.stateStore.providerClass")

    base = dt.datetime(2024, 1, 1)
    rows = [("k1", base + dt.timedelta(seconds=60 * i)) for i in range(6)]
    src = tmp_path / "rdb_in"
    src.mkdir()
    spark.createDataFrame(rows, "kit_id string, ts timestamp").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src))
    stream = spark.readStream.schema("kit_id string, ts timestamp").parquet(str(src))
    out = []
    q = (
        kit_throttle(stream)
        .writeStream.foreachBatch(lambda df, _id: out.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "rdb_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(out) == 6

    state_files = glob.glob(str(tmp_path / "rdb_ckpt" / "state" / "**" / "*"), recursive=True)
    assert any(f.endswith(".zip") for f in state_files), "no RocksDB snapshot zips"
    assert not any(f.endswith(".delta") for f in state_files), "HDFS provider artifacts present"


def test_pipeline_scopes_rocksdb_for_vanilla_sessions(spark, tmp_path):
    """run_lines_stream must start its query under RocksDB even when the
    caller's session never set a provider (the driver uses a vanilla
    SparkSession) — and must NOT leak the conf into the session."""
    import glob
    import sys

    sys.path.insert(0, "tests")
    from fixtures_mqtt import ALL_LINES

    from mysense_spark.streaming.pipeline import run_file_stream

    key = "spark.sql.streaming.stateStore.providerClass"
    prior = spark.conf.get(key, None)
    try:
        spark.conf.unset(key)  # simulate the vanilla driver session
        src = tmp_path / "in"
        src.mkdir()
        (src / "a.mqtt").write_text("\n".join(ALL_LINES))
        q = run_file_stream(
            spark, str(src), str(tmp_path / "ckpt"), str(tmp_path / "out")
        )
        q.awaitTermination(120)
        assert spark.conf.get(key, None) is None, "provider conf leaked into session"
        state_files = glob.glob(str(tmp_path / "ckpt" / "state" / "**" / "*"), recursive=True)
        assert any(f.endswith(".zip") for f in state_files), "dedup state not under RocksDB"
    finally:
        if prior is not None:
            spark.conf.set(key, prior)


def test_stream_append_mode_auto_compacts_closed_days(spark, tmp_path):
    """r9: the append tail closes days ITSELF. Replaying a multi-day
    corpus in two micro-batches: while the frontier sits on day 1 the
    day stays appended (open); when a later batch advances the event-
    time frontier past the watermark, the now-closed day is compacted
    at batch end — duplicate rows (a simulated checkpoint-replay
    re-append) collapse latest-wins, the sidecar records every
    surviving file — while the new open day keeps its appended files
    and stays un-compacted."""
    import os

    from pyspark.sql import functions as F

    from mysense_spark.sinks import upsert as U
    from mysense_spark.streaming.pipeline import run_file_stream

    lines_2020 = [l for l in ALL_LINES if "2020-11-07" in l]
    # the frontier-advancer must carry FACT rows: the 2021-08-20 line is
    # the port-3 event (side output only), so use the V3 uplink
    # (received_at 2021-09-01)
    lines_2021 = [l for l in ALL_LINES if l.startswith("v3/")]
    assert lines_2020 and lines_2021

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    app_dir = str(tmp_path / "archive")
    ckpt = str(tmp_path / "ckpt")

    # batch 1: day 2020-11-07 only — the day is OPEN (frontier minus
    # watermark still inside it), so nothing may compact
    _write_dump(in_dir, "batch1.mqtt", lines_2020)
    q = run_file_stream(
        spark, str(in_dir), ckpt, app_dir, archive_mode="append", auto_compact=True
    )
    q.awaitTermination(120)
    day_dir = os.path.join(app_dir, "day=2020-11-07")
    assert os.path.isdir(day_dir)
    assert not os.path.exists(U._ranges_path(day_dir)), "open day must not compact"

    # simulate a crash-replay re-append: a duplicate key with a newer
    # ingest_ts and a marker value — compaction must keep THIS row
    one = spark.read.parquet(app_dir).where(F.col("day") == "2020-11-07").limit(1)
    key = one.select("kit_id", "ts", "field").first()
    dup = one.withColumn("value", F.lit(777.0)).withColumn(
        "ingest_ts", F.col("ingest_ts") + F.expr("INTERVAL 1 HOUR")
    )
    U.append_day_partitioned(dup.drop("day"), app_dir)
    n_keys = spark.read.parquet(app_dir).select("kit_id", "ts", "field").distinct().count()
    assert spark.read.parquet(app_dir).count() == n_keys + 1  # dup on disk

    # batch 2: a 2021 line advances the frontier -> 2020-11-07 is closed
    # and the batch-end auto-compaction rewrites exactly that day
    _write_dump(in_dir, "batch2.mqtt", lines_2021)
    q = run_file_stream(
        spark, str(in_dir), ckpt, app_dir, archive_mode="append", auto_compact=True
    )
    q.awaitTermination(120)

    assert os.path.exists(U._ranges_path(day_dir)), "closed day not compacted"
    import json

    with open(U._ranges_path(day_dir)) as fh:
        recorded = set(json.load(fh)["files"])
    on_disk = {f for f in os.listdir(day_dir) if f.endswith(".parquet")}
    assert recorded == on_disk, "compaction must record every surviving file"
    rows = spark.read.parquet(app_dir)
    assert rows.count() == rows.select("kit_id", "ts", "field").distinct().count(), (
        "closed day still holds duplicate keys after auto-compaction"
    )
    got = rows.where(
        (F.col("kit_id") == key["kit_id"])
        & (F.col("ts") == key["ts"])
        & (F.col("field") == key["field"])
    ).first()
    assert got["value"] == 777.0, "latest-wins kept the older row"
    # the open day keeps its appended (sidecar-less) files
    open_dir = os.path.join(app_dir, "day=2021-09-01")
    assert os.path.isdir(open_dir)
    assert not os.path.exists(U._ranges_path(open_dir)), "open day was compacted"
    assert not os.path.exists(f"{app_dir}__stage")
    assert not os.path.exists(U._manifest_path(app_dir))


def test_stream_append_mode_plus_compaction(spark, tmp_path):
    """archive_mode='append': the foreachBatch sink writes only the
    batch's own bytes (steady-state fleet ingest, write amplification
    1), and a scheduled compact_days closes the day out to the same
    latest-row-wins archive the merge mode produces."""
    import os

    from mysense_spark.sinks.upsert import compact_days, latest_view
    from mysense_spark.streaming.pipeline import run_file_stream

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    _write_dump(in_dir, "batch1.mqtt", ALL_LINES)

    merge_dir = str(tmp_path / "archive_merge")
    q = run_file_stream(spark, str(in_dir), str(tmp_path / "ckpt_m"), merge_dir)
    q.awaitTermination(120)
    want = {
        (r["kit_id"], r["ts"], r["field"]): r["value"]
        for r in spark.read.parquet(merge_dir).collect()
    }
    assert len(want) == 31

    app_dir = str(tmp_path / "archive_append")
    qa = run_file_stream(
        spark, str(in_dir), str(tmp_path / "ckpt_a"), app_dir, archive_mode="append"
    )
    qa.awaitTermination(120)
    assert any(d.startswith("day=") for d in os.listdir(app_dir))
    lv = latest_view(
        spark.read.parquet(app_dir), keys=["kit_id", "ts", "field"], order_col="ingest_ts"
    )
    got_view = {(r["kit_id"], r["ts"], r["field"]): r["value"] for r in lv.collect()}
    assert got_view == want

    compact_days(spark, app_dir, keys=["kit_id", "ts", "field"], order_col="ingest_ts")
    got = {
        (r["kit_id"], r["ts"], r["field"]): r["value"]
        for r in spark.read.parquet(app_dir).collect()
    }
    assert got == want


def test_auto_compact_is_opt_in_everywhere():
    """r10 ADVICE fix (high): auto_compact makes the stream the
    archive's SOLE compactor — a second compactor can race the shared
    stage/manifest (single-merger contract) — so every stream entry
    point must default it OFF; deployments opt in explicitly."""
    import inspect

    from mysense_spark.streaming.pipeline import run_file_stream, run_lines_stream

    for fn in (run_file_stream, run_lines_stream):
        assert inspect.signature(fn).parameters["auto_compact"].default is False, fn


def test_srp_index_stream_incremental(spark, sf_dir, tmp_path):
    """run_srp_index_stream (late r12): the SRP tier's streaming niche
    made concrete — a vector drop directory maintained as a
    tbl-partitioned signature index by foreachBatch appends.
    (a) the first drain indexes exactly the batch's signatures (equal
    to the batch srp_signatures of the same vectors); (b) a second
    drop file drained against the SAME checkpoint appends only the new
    vectors' signatures, leaving the first batch's files untouched;
    (c) the final index equals the batch signatures of the union — the
    no-training-state property that lets the index grow one append per
    micro-batch."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    from mysense_spark.io import load
    from mysense_spark.operators.similarity import (
        run_srp_index_stream,
        srp_signatures,
    )

    emb = load(spark, sf_dir, "embeddings").where(F.col("vec_id") < 20)
    rows = [
        {"vec_id": r["vec_id"], "embedding": [float(x) for x in r["embedding"]]}
        for r in emb.collect()
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    idx = str(tmp_path / "srp_index")
    ckpt = str(tmp_path / "ckpt")

    def batch_sigs(limit):
        vecs = emb.where(F.col("vec_id") < limit).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        return {(r["vec_id"], r["tbl"], r["bucket"]) for r in srp_signatures(vecs).collect()}

    (in_dir / "a.jsonl").write_text(
        "\n".join(_json.dumps(r) for r in rows if r["vec_id"] < 10)
    )
    q = run_srp_index_stream(spark, str(in_dir), ckpt, idx)
    q.awaitTermination(120)
    got1 = {
        (r["vec_id"], r["tbl"], r["bucket"])
        for r in spark.read.parquet(idx).collect()
    }
    assert got1 == batch_sigs(10)

    def files(p):
        out = set()
        for root, _dirs, fs in os.walk(p):
            out |= {os.path.join(root, f) for f in fs if f.endswith(".parquet")}
        return out

    before = files(idx)
    # second drop also carries poison pills (review catch: a malformed
    # line would otherwise wedge the stream forever — PERMISSIVE JSON
    # nulls it, np.stack throws, and every restart replays the batch):
    # a truncated line, a missing embedding, a wrong-dimension vector,
    # a null vec_id, and a null ELEMENT inside a right-sized embedding
    # (r13 advice catch: it passes the size check, then NaN->int64 is
    # C-undefined and the row would index under garbage buckets) must
    # all QUARANTINE, not fail the batch
    poison = [
        '{"vec_id": 900, "embedd',
        '{"vec_id": 901}',
        '{"vec_id": 902, "embedding": [1.0, 2.0]}',
        '{"embedding": ' + _json.dumps([0.1] * 64) + "}",
        '{"vec_id": 903, "embedding": ' + _json.dumps([0.1] * 63 + [None]) + "}",
    ]
    (in_dir / "b.jsonl").write_text(
        "\n".join([_json.dumps(r) for r in rows if r["vec_id"] >= 10] + poison)
    )
    q2 = run_srp_index_stream(spark, str(in_dir), ckpt, idx)
    q2.awaitTermination(120)
    assert before <= files(idx)  # first batch untouched — append-only
    got2 = {
        (r["vec_id"], r["tbl"], r["bucket"])
        for r in spark.read.parquet(idx).collect()
    }
    assert got2 == batch_sigs(20)  # poison rows quarantined, none indexed


def test_srp_stream_index_search_equals_batch(spark, sf_dir, tmp_path):
    """The r13 end-to-end composition the SRP tier exists for, as ONE
    test: a STREAM-maintained index (run_srp_index_stream over two
    drop files against one checkpoint) driven through the deployed
    search path — batch query signatures -> multi-probe expansion ->
    read_srp_buckets pruned probe -> fenced exact re-rank —
    must return exactly what the batch ann_srp_search returns on the
    same vectors at the same shape. The pieces were individually
    pinned before; this proves the composition: an index grown by
    appends IS the index the batch search would have built."""
    import json as _json

    from pyspark.sql import functions as F

    from mysense_spark.io import load
    from mysense_spark.operators.similarity import (
        _rerank_pool,
        _srp_probe_variants,
        _vectors,
        ann_srp_search,
        read_srp_buckets,
        run_srp_index_stream,
        srp_signatures,
    )

    n_vec = 200
    emb = load(spark, sf_dir, "embeddings").where(F.col("vec_id") < n_vec)
    rows = [
        {"vec_id": r["vec_id"], "embedding": [float(x) for x in r["embedding"]]}
        for r in emb.collect()
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    idx = str(tmp_path / "srp_index")
    ckpt = str(tmp_path / "ckpt")
    # two drops against ONE checkpoint: the index under test is grown
    # incrementally, never built in one shot
    (in_dir / "a.jsonl").write_text(
        "\n".join(_json.dumps(r) for r in rows if r["vec_id"] < 90)
    )
    run_srp_index_stream(spark, str(in_dir), ckpt, idx).awaitTermination(120)
    (in_dir / "b.jsonl").write_text(
        "\n".join(_json.dumps(r) for r in rows if r["vec_id"] >= 90)
    )
    run_srp_index_stream(spark, str(in_dir), ckpt, idx).awaitTermination(120)

    vecs = _vectors(spark, sf_dir).where(F.col("vec_id") < n_vec)
    qsigs = srp_signatures(vecs.where(F.col("vec_id") < 5)).select(
        F.col("vec_id").alias("query_id"), "tbl", "bucket"
    )
    probes = [
        (r["tbl"], r["bucket"])
        for r in _srp_probe_variants(qsigs, 8, 1).distinct().collect()
    ]
    bucket_rows = read_srp_buckets(spark, idx, probes)
    # the prune must reach the scan: tbl is the partition column (a
    # PartitionFilter), the bucket predicate is pushed to parquet
    import re as _re

    plan = bucket_rows._jdf.queryExecution().executedPlan().toString()
    m = _re.search(r"PartitionFilters: \[([^\]]*)", plan)
    assert m and "tbl" in m.group(1), plan[:600]
    m = _re.search(r"DataFilters: \[([^\]]*)", plan)
    assert m and "bucket" in m.group(1), plan[:600]
    pool = bucket_rows.select(F.col("vec_id").alias("cand_id")).distinct()
    streamed = [tuple(r) for r in _rerank_pool(vecs, pool, top_k=5).orderBy("query_id", "rank").collect()]
    batch = [
        tuple(r)
        for r in ann_srp_search(vecs, n_bits=8, n_probes=1)
        .orderBy("query_id", "rank")
        .collect()
    ]
    assert streamed == batch


def test_srp_stream_survives_compaction_cycles(spark, sf_dir, tmp_path):
    """The streaming-maintenance x compaction composition (r15): a
    drop-dir stream builds the SRP index, compact_srp_index compacts it
    in place in the maintenance window, and the SAME stream (same
    checkpoint) keeps appending afterwards. After the cycle: (a) the
    layout stays partitioned by tbl only (no bucket= dirs) and every
    data file agrees on the bucket column's physical type; (b) the
    signature set equals the batch signatures of the union; (c) a
    probed read still prunes on tbl and pushes the bucket predicate."""
    import json as _json
    import os
    import re

    from pyspark.sql import functions as F

    from mysense_spark.io import load
    from mysense_spark.operators.similarity import (
        compact_srp_index,
        read_srp_buckets,
        run_srp_index_stream,
        srp_signatures,
    )

    emb = load(spark, sf_dir, "embeddings").where(F.col("vec_id") < 20)
    rows = [
        {"vec_id": r["vec_id"], "embedding": [float(x) for x in r["embedding"]]}
        for r in emb.collect()
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    idx = str(tmp_path / "srp_index")
    ckpt = str(tmp_path / "ckpt")

    (in_dir / "a.jsonl").write_text(
        "\n".join(_json.dumps(r) for r in rows if r["vec_id"] < 10)
    )
    q = run_srp_index_stream(spark, str(in_dir), ckpt, idx)
    q.awaitTermination(120)

    compact_srp_index(spark, idx)  # maintenance window

    (in_dir / "b.jsonl").write_text(
        "\n".join(_json.dumps(r) for r in rows if r["vec_id"] >= 10)
    )
    q2 = run_srp_index_stream(spark, str(in_dir), ckpt, idx)
    q2.awaitTermination(120)

    for root, dirs, _files in os.walk(idx):
        assert not any(d.startswith("bucket=") for d in dirs), (root, dirs)

    # every data file must agree on the bucket column's PHYSICAL type —
    # compacted files and appended files must not mix int32 and bigint,
    # or reads fail depending on which file schema inference lists
    # first (an order-dependent flake once caught by the full-suite
    # run; deterministic pin here)
    import pyarrow.parquet as pq

    bucket_types = set()
    for root, _dirs, files in os.walk(idx):
        for fname in files:
            if fname.endswith(".parquet"):
                sch = pq.read_schema(os.path.join(root, fname))
                if "bucket" in sch.names:
                    bucket_types.add(str(sch.field("bucket").type))
    assert len(bucket_types) == 1, bucket_types

    vecs = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    want = {(r["vec_id"], r["tbl"], r["bucket"]) for r in srp_signatures(vecs).collect()}
    got = {
        (r["vec_id"], r["tbl"], r["bucket"]) for r in spark.read.parquet(idx).collect()
    }
    assert got == want

    probes = sorted({(t, bkt) for _v, t, bkt in list(want)[:5]})
    probed = read_srp_buckets(spark, idx, probes)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("tbl" in f for f in pf), plan[:600]
    df_filters = re.findall(r"DataFilters: \[([^\]]*)", plan)
    assert any("bucket" in f for f in df_filters), plan[:600]
    want_probed = {
        (v, t, bkt) for (v, t, bkt) in want if (t, bkt) in set(probes)
    }
    assert {
        (r["vec_id"], r["tbl"], r["bucket"]) for r in probed.collect()
    } == want_probed
