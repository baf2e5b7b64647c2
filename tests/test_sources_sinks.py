"""Tests for the REST batch source, CSV/XLSX export, and the calibration
round-trip (R7)."""

import json
import os

from pyspark.sql import functions as F


def test_rest_paginated_reader(spark):
    from mysense_spark.sources.rest import build_query, observations_frame, read_paginated

    pages = {
        0: [{"phenomenonTime": "2024-01-01T10:00:00Z", "result": 1.5},
            {"phenomenonTime": "2024-01-01T11:00:00Z", "result": 2.5}],
        1: [{"phenomenonTime": "2024-01-01T11:00:00Z", "result": 9.9},  # dup ts
            {"phenomenonTime": "2024-01-01T12:00:00Z", "result": 3.5}],
    }

    def fake_fetch(url: str) -> str:
        skip = int([p for p in url.split("&") if p.startswith("$skip=")][0].split("=")[1])
        return json.dumps({"value": pages.get(skip // 200, [])})

    url = build_query("https://api.example/v1.1", "Observations", select=["result"], page=1)
    assert "$skip=200" in url and "$select=result" in url

    raw = read_paginated(
        spark, fake_fetch, "https://api.example/v1.1", "Observations",
        n_pages=2, schema="phenomenonTime string, result double",
    )
    obs = observations_frame(raw)
    rows = obs.collect()
    assert len(rows) == 3  # duplicate timestamp dropped
    assert [r["result"] for r in rows][0] == 1.5


def test_rest_reader_nested_schema_types(spark):
    """The page reindex must survive parameterized/nested column types:
    a naive comma split of 'v decimal(10,2), m map<string,string>' yields
    garbage column names and silently nulls out real data."""
    from mysense_spark.sources.rest import read_paginated

    def fake_fetch(url: str) -> str:
        return json.dumps(
            {"value": [{"name": "a", "v": 1.25, "m": {"k": "x"}, "extra_field": "dropped"}]}
        )

    raw = read_paginated(
        spark, fake_fetch, "https://api.example/v1.1", "Things",
        n_pages=1, schema="name string, v decimal(10,2), m map<string,string>",
    )
    rows = raw.collect()
    assert len(rows) == 1
    assert rows[0]["name"] == "a"  # not nulled by a broken reindex
    assert float(rows[0]["v"]) == 1.25
    assert rows[0]["m"] == {"k": "x"}


def test_csv_export_and_summary(spark, tmp_path):
    import datetime as dt

    from mysense_spark.sinks.export import export_csv, sensor_summary

    base = dt.datetime(2024, 1, 1)
    fact = spark.createDataFrame(
        [
            ("k1", base, "pm25", 10.0, True),
            ("k1", base, "pm25", 20.0, True),
            ("k1", base, "pm25", 99.0, False),  # invalid -> excluded
            ("k1", base, "temp", 21.0, True),
            ("k2", base, "pm25", 5.0, None),    # tri-state NULL -> excluded
        ],
        "kit_id string, ts timestamp, field string, value double, valid boolean",
    )
    summary = sensor_summary(fact)
    rows = {(r["kit_id"], r["field"]): r for r in summary.collect()}
    assert rows[("k1", "pm25")]["n"] == 2
    assert rows[("k1", "pm25")]["avg_value"] == 15.0
    assert ("k2", "pm25") not in rows

    out = str(tmp_path / "csv_out")
    export_csv(summary, out, single_file=True)
    files = [f for f in os.listdir(out) if f.endswith(".csv")]
    assert len(files) == 1


def test_upsert_schema_evolution(spark, tmp_path):
    """SURVEY §1.2: a new sensor field appearing mid-stream is a data
    event — the upsert sink merges batches with differing schemas
    (the reference ALTERs MySQL tables on the fly; we unionByName with
    allowMissingColumns). The file-level merge adds a case the
    reference never had: a new column arrives in a NEW file beside
    pruned-out files that are kept without it, and a later batch (which
    itself lacks the column) touches both kinds of file — the column's
    values must survive that rewrite."""
    import datetime as dt
    import os

    from pyspark.sql import functions as F

    from mysense_spark.sinks.upsert import upsert_parquet_partitioned

    keys = ["kit_id", "ts", "field"]
    path = str(tmp_path / "archive")
    t0 = dt.datetime(2024, 1, 1)
    b1 = spark.createDataFrame(
        [("k1", t0, "pm25", 10.0)], "kit_id string, ts timestamp, field string, value double"
    ).withColumn("ingest_ts", F.current_timestamp())
    upsert_parquet_partitioned(b1, path, keys=keys, order_col="ingest_ts")

    # second batch carries a brand-new column (unit) and a new field
    b2 = spark.createDataFrame(
        [("k1", t0, "gas", 270.0, "kOhm")],
        "kit_id string, ts timestamp, field string, value double, unit string",
    ).withColumn("ingest_ts", F.current_timestamp())
    upsert_parquet_partitioned(b2, path, keys=keys, order_col="ingest_ts")

    out = {r["field"]: r for r in spark.read.parquet(path).collect()}
    assert set(out) == {"pm25", "gas"}
    assert out["gas"]["unit"] == "kOhm"
    assert out["pm25"]["unit"] is None  # old rows gain NULL for the new column

    # kept-file case: several range-partitioned files without `unit`
    path = str(tmp_path / "archive_kept")
    day, ing = dt.datetime(2024, 1, 1, 10), dt.datetime(2024, 6, 1)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        upsert_parquet_partitioned(
            _mk_batch(spark, [(f"k{c}", day, "pm25", 1.0, ing) for c in "abcdefgh"]),
            path, keys=keys, order_col="ingest_ts",
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    day_dir = os.path.join(path, "day=2024-01-01")
    before = {f for f in os.listdir(day_dir) if f.endswith(".parquet")}
    assert len(before) > 1, "need kept files for the scenario to bite"
    # kits beyond every existing file's range: a new file, all old kept
    upsert_parquet_partitioned(
        spark.createDataFrame(
            [("kx", day, "gas", 2.0, ing, "kOhm"), ("kz", day, "gas", 3.0, ing, "kOhm")],
            "kit_id string, ts timestamp, field string, value double, "
            "ingest_ts timestamp, unit string",
        ),
        path, keys=keys, order_col="ingest_ts",
    )
    now = {f for f in os.listdir(day_dir) if f.endswith(".parquet")}
    assert before < now and len(now - before) == 1
    # Spark's reader takes its schema from the first listed file; pin
    # the adverse order (the new-column file lists last) so a merge that
    # trusts that schema loses `unit` deterministically, not by chance
    (new,) = now - before
    os.rename(os.path.join(day_dir, new), os.path.join(day_dir, "zz-" + new))
    # touches an old file (ka) and the new one (ky falls inside [kx, kz])
    upsert_parquet_partitioned(
        _mk_batch(spark, [("ka", day, "pm25", 5.0, dt.datetime(2024, 6, 2)), ("ky", day, "gas", 4.0, ing)]),
        path, keys=keys, order_col="ingest_ts",
    )
    # readers of an evolved archive merge footer schemas themselves
    got = {
        r["kit_id"]: (r["value"], r["unit"])
        for r in spark.read.option("mergeSchema", "true").parquet(path).collect()
    }
    assert got["kx"] == (2.0, "kOhm") and got["kz"] == (3.0, "kOhm")
    assert got["ka"] == (5.0, None) and got["ky"] == (4.0, None)
    assert len(got) == 11


def _mk_batch(spark, rows):
    """Fact-shaped batch: (kit_id, ts, field, value, ingest_ts)."""
    return spark.createDataFrame(
        rows,
        "kit_id string, ts timestamp, field string, value double, ingest_ts timestamp",
    )


def test_partitioned_upsert_merges_only_touched_days(spark, tmp_path):
    """K1 scale path: latest-row-wins per key, new keys inserted, and —
    the 100 TB contract — a partition the batch does not touch is not
    rewritten: its files stay BYTE-IDENTICAL (same path, size, mtime)."""
    import datetime as dt
    import os

    from mysense_spark.sinks.upsert import upsert_parquet_partitioned

    path = str(tmp_path / "archive")
    d1 = dt.datetime(2024, 1, 1, 10)
    d2 = dt.datetime(2024, 1, 2, 10)
    d3 = dt.datetime(2024, 1, 3, 10)
    t0 = dt.datetime(2024, 6, 1)
    base = _mk_batch(
        spark,
        [
            ("k1", d1, "pm25", 10.0, t0),
            ("k1", d2, "pm25", 20.0, t0),
            ("k1", d3, "pm25", 30.0, t0),
        ],
    )
    upsert_parquet_partitioned(base, path, keys=["kit_id", "ts", "field"], order_col="ingest_ts")
    assert sorted(d for d in os.listdir(path) if d.startswith("day=")) == [
        "day=2024-01-01",
        "day=2024-01-02",
        "day=2024-01-03",
    ]

    def snapshot(day):
        pdir = os.path.join(path, day)
        return {
            f: (os.path.getsize(os.path.join(pdir, f)), os.path.getmtime(os.path.join(pdir, f)))
            for f in os.listdir(pdir)
            if f.endswith(".parquet")
        }

    before_d1 = snapshot("day=2024-01-01")
    before_d3 = snapshot("day=2024-01-03")

    # second batch: update day2's row (newer ingest_ts) + add a new kit on day2
    t1 = dt.datetime(2024, 6, 2)
    upd = _mk_batch(
        spark,
        [("k1", d2, "pm25", 21.5, t1), ("k2", d2, "pm25", 99.0, t1)],
    )
    upsert_parquet_partitioned(upd, path, keys=["kit_id", "ts", "field"], order_col="ingest_ts")

    # default readers infer the day= partition values as DATE
    out = {(r["kit_id"], str(r["day"])): r["value"] for r in spark.read.parquet(path).collect()}
    assert out == {
        ("k1", "2024-01-01"): 10.0,
        ("k1", "2024-01-02"): 21.5,  # latest-row-wins
        ("k2", "2024-01-02"): 99.0,  # insert
        ("k1", "2024-01-03"): 30.0,
    }
    # untouched partitions: identical file lists, sizes AND mtimes
    assert snapshot("day=2024-01-01") == before_d1
    assert snapshot("day=2024-01-03") == before_d3

    # plan-level: the merge's read of the existing archive prunes to the
    # batch's days via a static PartitionFilter — untouched days are not
    # merely un-rewritten, they are never READ
    import io as _io
    from contextlib import redirect_stdout

    spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    try:
        pruned = spark.read.parquet(path).where(F.col("day").isin(["2024-01-02"]))
        buf = _io.StringIO()
        with redirect_stdout(buf):
            pruned.explain("formatted")
        pf_line = next(l for l in buf.getvalue().splitlines() if "PartitionFilters" in l)
        assert "2024-01-02" in pf_line
    finally:
        spark.conf.unset("spark.sql.sources.partitionColumnTypeInference.enabled")


def test_partitioned_upsert_idempotent_replay(spark, tmp_path):
    """Checkpoint replay redelivers a micro-batch: applying the same
    batch twice must leave the archive unchanged (same rows, same count)."""
    import datetime as dt

    from mysense_spark.sinks.upsert import upsert_parquet_partitioned

    path = str(tmp_path / "archive")
    t0 = dt.datetime(2024, 6, 1)
    batch = _mk_batch(
        spark,
        [
            ("k1", dt.datetime(2024, 1, 1, 8), "pm25", 10.0, t0),
            ("k1", dt.datetime(2024, 1, 2, 8), "pm10", 20.0, t0),
        ],
    )
    upsert_parquet_partitioned(batch, path, keys=["kit_id", "ts", "field"], order_col="ingest_ts")
    first = sorted(map(tuple, spark.read.parquet(path).collect()))
    upsert_parquet_partitioned(batch, path, keys=["kit_id", "ts", "field"], order_col="ingest_ts")
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == first


def test_manifestless_stage_is_refused(spark, tmp_path):
    """No writer of the archive leaves a `__stage` without its sibling
    manifest (the manifest is written before the stage and removed
    after the stage's rmtree), so a manifest-less stage is foreign —
    whether complete, half-written or unreadable. Every committing
    entry (merge, compact, migrate) refuses it with a ValueError naming
    the stage, and leaves the stage AND the archive byte-identical:
    guessing a commit from a stage alone is how a files-subset stage
    once overwrote whole days."""
    import datetime as dt
    import os
    import shutil

    import pytest

    from mysense_spark.sinks import upsert as U

    keys = ["kit_id", "ts", "field"]
    t0 = dt.datetime(2024, 6, 1)
    d1 = dt.datetime(2024, 1, 1, 8)
    path = str(tmp_path / "archive")
    U.upsert_parquet_partitioned(_mk_batch(spark, [("k1", d1, "pm25", 10.0, t0)]), path, keys=keys, order_col="ingest_ts")
    stage = path + "__stage"

    def tree(root):
        out = {}
        for d, _dirs, files in os.walk(root):
            for f in files:
                with open(os.path.join(d, f), "rb") as fh:
                    out[os.path.relpath(os.path.join(d, f), root)] = fh.read()
        return out

    # a complete stage holding other data for day 1
    _mk_batch(spark, [("k1", d1, "pm25", 11.0, dt.datetime(2024, 6, 2))]).withColumn(
        "day", F.lit("2024-01-01")
    ).write.mode("overwrite").partitionBy("day").parquet(stage)
    assert os.path.exists(os.path.join(stage, "_SUCCESS"))
    archive_before, stage_before = tree(path), tree(stage)
    b2 = _mk_batch(spark, [("k2", dt.datetime(2024, 1, 5, 8), "pm25", 50.0, t0)])
    for entry in (
        lambda: U.upsert_parquet_partitioned(b2, path, keys=keys, order_col="ingest_ts"),
        lambda: U.compact_days(spark, path, keys=keys, order_col="ingest_ts"),
        lambda: U.migrate_to_partitioned(spark, path),
    ):
        with pytest.raises(ValueError, match="__stage has no merge manifest"):
            entry()
        assert tree(path) == archive_before and tree(stage) == stage_before
        assert not os.path.exists(U._manifest_path(path))

    # half-written (no _SUCCESS) and unreadable (marker, no data) stages
    # are refused the same way: neither is ever guessed into garbage
    for junk in ({"part-junk.parquet": b"not parquet"}, {"_SUCCESS": b""}):
        shutil.rmtree(stage)
        os.makedirs(stage)
        for name, data in junk.items():
            with open(os.path.join(stage, name), "wb") as fh:
                fh.write(data)
        with pytest.raises(ValueError, match="no merge manifest"):
            U.upsert_parquet_partitioned(b2, path, keys=keys, order_col="ingest_ts")
        assert tree(path) == archive_before and tree(stage) == junk

    # once the operator removes it, the sink proceeds
    shutil.rmtree(stage)
    U.upsert_parquet_partitioned(b2, path, keys=keys, order_col="ingest_ts")
    out = {r["kit_id"]: r["value"] for r in spark.read.parquet(path).collect()}
    assert out == {"k1": 10.0, "k2": 50.0}


def test_upsert_layout_and_key_guards(spark, tmp_path):
    """Wrong-input protection: the sinks refuse a flat archive (top-level
    parquet files laid down outside them — the merge would crash on the
    missing day column) with a message naming the migration, and the
    merge refuses a key set that does not pin the timestamp
    (latest-row-wins could not resolve across untouched days). Each
    failure is a loud ValueError, not silent corruption."""
    import datetime as dt

    import pytest

    from mysense_spark.sinks.upsert import append_day_partitioned, upsert_parquet_partitioned

    t0 = dt.datetime(2024, 6, 1)
    batch = _mk_batch(spark, [("k1", dt.datetime(2024, 1, 1, 8), "pm25", 10.0, t0)])

    flat = str(tmp_path / "flat_archive")
    batch.write.parquet(flat)
    with pytest.raises(ValueError, match="flat parquet archive.*migrate_to_partitioned"):
        upsert_parquet_partitioned(
            batch, flat, keys=["kit_id", "ts", "field"], order_col="ingest_ts"
        )
    with pytest.raises(ValueError, match="flat parquet archive"):
        append_day_partitioned(batch, flat)

    with pytest.raises(ValueError, match="must be part of keys"):
        upsert_parquet_partitioned(
            batch, str(tmp_path / "x"), keys=["kit_id", "field"], order_col="ingest_ts"
        )


def test_partitioned_upsert_into_date_partitioned_archive(spark, tmp_path):
    """Interop: an archive laid down by write_date_partitioned (the bulk
    backfill path) accepts incremental partitioned upserts — same day
    derivation, same layout, late data lands in its historical day."""
    import datetime as dt
    import os

    from mysense_spark.sinks.upsert import upsert_parquet_partitioned, write_date_partitioned

    path = str(tmp_path / "archive")
    t0 = dt.datetime(2024, 6, 1)
    bulk = _mk_batch(
        spark,
        [
            ("k1", dt.datetime(2024, 1, 1, 8), "pm25", 10.0, t0),
            ("k1", dt.datetime(2024, 1, 2, 8), "pm25", 20.0, t0),
            ("k1", None, "pm25", 2.0, t0),
        ],
    )
    write_date_partitioned(bulk, path)
    days_before = sorted(d for d in os.listdir(path) if d.startswith("day="))
    # the null-ts row sits on the sinks' NULL_DAY, not in hive's default
    # partition where no merge would ever find it
    assert days_before == ["day=0000-00-00", "day=2024-01-01", "day=2024-01-02"]

    # incremental upsert: one late row for day 1 (update) + a new day +
    # a newer version of the null-ts row
    late = _mk_batch(
        spark,
        [
            ("k1", dt.datetime(2024, 1, 1, 8), "pm25", 11.0, dt.datetime(2024, 6, 2)),
            ("k1", dt.datetime(2024, 1, 3, 8), "pm25", 30.0, dt.datetime(2024, 6, 2)),
            ("k1", None, "pm25", 3.0, dt.datetime(2024, 6, 2)),
        ],
    )
    upsert_parquet_partitioned(late, path, keys=["kit_id", "ts", "field"], order_col="ingest_ts")
    spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    try:
        rows = spark.read.parquet(path).collect()
    finally:
        spark.conf.unset("spark.sql.sources.partitionColumnTypeInference.enabled")
    assert len(rows) == 4, "one row per key"
    out = {r["day"]: r["value"] for r in rows}
    assert out == {"0000-00-00": 3.0, "2024-01-01": 11.0, "2024-01-02": 20.0, "2024-01-03": 30.0}


def test_calibration_roundtrip(spark):
    from mysense_spark.operators.calibration import apply_calibration, fit_calibration_catalog

    sf = "/root/testdata/sf0.001"
    catalog = fit_calibration_catalog(spark, sf)
    assert catalog.count() > 0

    import datetime as dt

    kit = catalog.first()
    meas = spark.createDataFrame(
        [(kit["kit_id"], dt.datetime(2024, 1, 1), 10.0), (999999, dt.datetime(2024, 1, 1), 10.0)],
        "kit_id long, ts timestamp, value double",
    )
    out = {r["kit_id"]: r for r in apply_calibration(meas, catalog).collect()}
    expected = kit["a0"] + kit["a1"] * 10.0
    assert abs(out[kit["kit_id"]]["calibrated"] - expected) < 1e-9
    assert out[999999]["calibrated"] == 10.0  # identity without coefficients


def test_date_partitioned_archive_prunes(spark, tmp_path):
    """The date-partitioned archive layout must actually prune: a
    day-filtered read may touch only that day's files, and the physical
    plan must carry the predicate as a PartitionFilter (not a post-scan
    filter over the full corpus)."""
    import io as _io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from mysense_spark.io import load
    from mysense_spark.sinks.upsert import write_date_partitioned

    ev = load(spark, "/root/testdata/sf0.001", "events")
    path = str(tmp_path / "archive")
    write_date_partitioned(ev, path)

    full = spark.read.parquet(path)
    one_day = full.where(F.col("day") == "2024-01-15")

    n_days = full.select("day").distinct().count()
    assert n_days > 20  # January of data -> ~30 partitions
    # the day slice equals the ts-range slice of the original data
    expected = ev.where(
        (F.col("ts") >= "2024-01-15") & (F.col("ts") < "2024-01-16")
    ).count()
    assert one_day.count() == expected > 0
    # plan-level: the predicate became a PartitionFilter on the scan
    # (inputFiles() reports the unpruned base relation, so the plan is
    # the authoritative evidence)
    buf = _io.StringIO()
    with redirect_stdout(buf):
        one_day.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "2024-01-15" in plan
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "2024-01-15" in pf_line


def test_republish_duplicate_fields_and_nulls(spark):
    """Pre-dedup redelivery robustness: duplicate (kit, ts, field) rows
    must NOT throw DUPLICATED_MAP_KEY and kill the micro-batch (they
    collapse by A8 averaging), and a NULL value must not emit a bare
    `field` token that corrupts the line-protocol record."""
    import datetime as dt

    from mysense_spark.sinks.forward import build_posts
    from mysense_spark.sinks.republish import to_influx_lines, to_mqtt_messages

    t = dt.datetime(2024, 1, 1, 12)
    fact = spark.createDataFrame(
        [
            ("k1", t, "pm25", 10.0),
            ("k1", t, "pm25", 20.0),  # duplicate field (redelivery)
            ("k1", t, "temp", None),  # NULL value
            ("k1", t, "rv", 55.0),
        ],
        "kit_id string, ts timestamp, field string, value double",
    )
    lines = [r["line"] for r in to_influx_lines(fact).collect()]
    assert len(lines) == 1
    assert "pm25=15.0" in lines[0]  # averaged, single key
    assert "temp" not in lines[0]  # NULL dropped, no bare token

    msgs = [r["payload"] for r in to_mqtt_messages(fact).collect()]
    assert len(msgs) == 1 and '"pm25":15.0' in msgs[0] and "temp" not in msgs[0]

    posts = build_posts(fact).collect()
    payloads = {k: v for r in posts for k, v in r["payload"].items()}
    assert payloads["pm25"] == 15.0 and "temp" not in payloads


def test_values_df_nested_types(spark):
    """values_df's DDL contract includes parameterized/nested types — a
    naive comma split would shatter decimal(10,2) into garbage casts."""
    from mysense_spark.io import values_df

    df = values_df(spark, [("a", 1.25)], "name string, amount decimal(10,2)")
    row = df.collect()[0]
    assert row["name"] == "a" and float(row["amount"]) == 1.25
    assert df.schema["amount"].dataType.simpleString() == "decimal(10,2)"


def test_t_ppf_extreme_quantiles_not_clamped():
    """t_ppf must widen its bracket for quantiles whose critical value
    lies outside [-500, 500] (e.g. t_ppf(1e-5, 1) ~ -31831) instead of
    silently returning the clamp boundary and caching it forever."""
    from mysense_spark.operators._tdist import t_cdf, t_ppf

    x = t_ppf(1e-5, 1.0)
    assert x < -10000, x  # far beyond the old +/-500 clamp
    assert abs(t_cdf(x, 1.0) - 1e-5) < 1e-7  # and actually the right quantile


def test_station_csv_and_synthetic(spark, tmp_path):
    """S6: station CSV reader (schema-pinned, corrupt rows quarantined)
    and the deterministic synthetic profile agree on shape."""
    from mysense_spark.sources.stations import (
        read_station_csv,
        station_value_sql,
        synthetic_station_series,
    )

    p = tmp_path / "stations.csv"
    p.write_text(
        "station_id,ts,pm25,pm10,no2,o3\n"
        "NL10131,2024-01-01T00:00:00,12.5,20.1,18.0,40.2\n"
        "NL10131,2024-01-01T01:00:00,13.0,21.0,17.5,39.8\n"
        "garbage-line-without-commas\n"
    )
    df = read_station_csv(spark, str(p))
    rows = df.collect()
    good = [r for r in rows if r["_corrupt"] is None]
    bad = [r for r in rows if r["_corrupt"] is not None]
    assert len(good) == 2 and len(bad) == 1
    assert good[0]["pm25"] == 12.5

    syn = synthetic_station_series(spark, 0, 48 * 3600).collect()
    assert len(syn) == 48
    # deterministic: re-generation is identical, and pm10 tracks pm25
    syn2 = synthetic_station_series(spark, 0, 48 * 3600).collect()
    assert [r["pm25"] for r in syn] == [r["pm25"] for r in syn2]
    assert all(abs(r["pm10"] - 1.6 * r["pm25"]) < 1e-9 for r in syn)
    # the SQL fragment is one shared text (used verbatim in the oracle)
    # and must stay transcendental-free: live sin()/cos() evaluate
    # differently in the last ulp across engines (the r3 hash red) —
    # the diurnal cycle is a pre-rounded literal CASE table instead
    frag = station_value_sql("h")
    assert "CASE" in frag and "sin(" not in frag and "cos(" not in frag
    # diurnal peak present as a literal (hour 6 -> +7.0)
    assert "WHEN 6 THEN 7.0" in frag


def test_influx_and_mqtt_republish(spark, tmp_path):
    """K5: line-protocol / MQTT serialization and breaker behavior.
    Transports run in executor workers (foreachPartition), so recording
    goes through the shared filesystem, not driver-side lists."""
    import datetime as dt

    from mysense_spark.sinks.forward import CircuitBreaker
    from mysense_spark.sinks.republish import (
        make_influx_publisher,
        make_mqtt_republisher,
        to_influx_lines,
        to_mqtt_messages,
    )

    base = dt.datetime(2024, 1, 1)
    fact = spark.createDataFrame(
        [
            ("kitA", base, "pm25", 12.5),
            ("kitA", base, "pm10", 20.0),
            ("kitB", base, "temp", 21.0),
        ],
        "kit_id string, ts timestamp, field string, value double",
    )
    lines = sorted(r["line"] for r in to_influx_lines(fact).collect())
    assert lines == [
        "raw,kit=kitA pm10=20.0,pm25=12.5 1704067200000000000",
        "raw,kit=kitB temp=21.0 1704067200000000000",
    ]
    msgs = {r["topic"]: r["payload"] for r in to_mqtt_messages(fact).collect()}
    assert set(msgs) == {"IoS/kitA", "IoS/kitB"}
    assert '"pm25":12.5' in msgs["IoS/kitA"]

    sent_path = str(tmp_path / "influx.lines")

    def ok_transport(host, ls):
        with open(sent_path, "a") as fh:
            fh.writelines(l + "\n" for l in ls)
        return True

    pub = make_influx_publisher(ok_transport)
    pub(fact, 0)
    with open(sent_path) as fh:
        assert sorted(l.rstrip("\n") for l in fh) == lines

    # breaker opens after threshold failures and blocks the next batch
    failed_path = str(tmp_path / "mqtt.topics")

    def failing_publish(topic, payload):
        with open(failed_path, "a") as fh:
            fh.write(topic + "\n")
        return False

    def n_failed():
        try:
            with open(failed_path) as fh:
                return sum(1 for _ in fh)
        except FileNotFoundError:
            return 0

    breaker = CircuitBreaker(threshold=1, cooloff_s=9999)
    mq = make_mqtt_republisher(failing_publish, breaker=breaker)
    mq(fact, 0)
    # each parallel partition attempts at most `threshold` publishes
    # before its local cut-off; the aggregate opens the driver breaker
    n0 = n_failed()
    assert 1 <= n0 <= 2
    assert not breaker.allow("mqtt.local")
    mq(fact, 1)
    assert n_failed() == n0  # still open -> whole batch gated


def test_kafka_lines_shape(spark):
    """S1: Kafka records (key=MQTT topic, value=envelope JSON) normalize
    to the exact line shape the file source produces, so both connectors
    share the full decode chain."""
    from tests.fixtures_mqtt import V2_PORT2

    from mysense_spark.sources.ttn import parse_envelopes
    from mysense_spark.streaming.pipeline import decode_stream, kafka_lines

    topic, payload = V2_PORT2.split(" ", 1)
    records = spark.createDataFrame(
        [(topic.encode(), payload.encode())], "key binary, value binary"
    )
    via_kafka = decode_stream(parse_envelopes(kafka_lines(records))).drop("ingest_ts")
    via_file = decode_stream(
        parse_envelopes(spark.createDataFrame([(V2_PORT2,)], "value string"))
    ).drop("ingest_ts")
    k = sorted(map(tuple, via_kafka.collect()))
    f = sorted(map(tuple, via_file.collect()))
    assert k == f and len(k) > 0


def test_kafka_stream_without_package_fails_actionably(spark, tmp_path):
    """S1 deploy contract: this runtime ships no spark-sql-kafka package,
    so `run_kafka_stream` must fail FAST with the standard Spark
    data-source error naming the kafka source (the operator misconfig a
    deployer can act on) — not hang, not raise something opaque from deep
    inside the decode chain."""
    import pytest

    from mysense_spark.streaming.pipeline import run_kafka_stream

    with pytest.raises(Exception) as exc_info:
        q = run_kafka_stream(
            spark,
            brokers="localhost:9092",
            topic="t",
            checkpoint=str(tmp_path / "ckpt"),
            out_dir=str(tmp_path / "out"),
        )
        q.stop()  # never reached when the source is absent
    msg = str(exc_info.value)
    assert "kafka" in msg.lower(), f"error does not name the missing source: {msg[:200]}"


def test_knn_rerank_fence(spark):
    """The brute-force tier refuses an unbounded query side (structural
    re-rank fence, not a docstring promise)."""
    import pytest

    from mysense_spark.operators.similarity import MAX_RERANK_QUERIES, knn_rerank

    big = spark.range(MAX_RERANK_QUERIES + 10).selectExpr(
        "id AS query_id", "array(1.0, 2.0) AS qv", "1.0 AS qnorm"
    )
    cand = spark.range(3).selectExpr("id AS cand_id", "array(1.0, 2.0) AS cv", "1.0 AS cnorm")
    with pytest.raises(ValueError, match="re-rank"):
        knn_rerank(big, cand)


def test_measurements_csv_reader(spark, tmp_path):
    """S8: schema-pinned CSV measurement input; type mismatches land in
    _corrupt, blank values are NULL."""
    from mysense_spark.sources.files import read_measurements_csv

    p = tmp_path / "m.csv"
    p.write_text(
        "kit_id,ts,field,value\n"
        "k1,2024-01-01T00:00:00,pm25,1.5\n"
        "k1,2024-01-01T01:00:00,pm25,oops\n"
        "k2,2024-01-01T00:00:00,temp,\n"
    )
    rows = read_measurements_csv(spark, str(p)).collect()
    assert len(rows) == 3
    by_bad = [r for r in rows if r["_corrupt"] is not None]
    assert len(by_bad) == 1 and by_bad[0]["kit_id"] == "k1"
    blank = [r for r in rows if r["kit_id"] == "k2"][0]
    assert blank["value"] is None and blank["_corrupt"] is None


def test_file_level_merge_keeps_untouched_files(spark, tmp_path):
    """r8 write-amplification bound: within a TOUCHED day, only the
    files whose kit range intersects the batch's kits are rewritten —
    the rest stay byte-identical (path, size, mtime). The merged layout
    is range-partitioned on kit_id, so the footer-stats selection is
    sharp from the first write on."""
    import datetime as dt
    import os

    from mysense_spark.sinks.upsert import upsert_parquet_partitioned

    path = str(tmp_path / "archive")
    day = dt.datetime(2024, 1, 1, 10)
    t0 = dt.datetime(2024, 6, 1)
    kits = [f"kit{chr(ord('a') + i)}" for i in range(26)]
    base = _mk_batch(spark, [(k, day, "pm25", float(i), t0) for i, k in enumerate(kits)])
    # AQE coalesces the range partitions of a 26-row write into one file
    # — at real scale the ranges are file-sized; pin them off so the day
    # genuinely has multiple kit-ranged files to prune between
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        upsert_parquet_partitioned(base, path, keys=["kit_id", "ts", "field"], order_col="ingest_ts")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")

    day_dir = os.path.join(path, "day=2024-01-01")
    files = sorted(f for f in os.listdir(day_dir) if f.endswith(".parquet"))
    assert len(files) > 1, "need a multi-file day to prove file-level pruning"

    def snap():
        return {
            f: (os.path.getsize(os.path.join(day_dir, f)), os.path.getmtime(os.path.join(day_dir, f)))
            for f in os.listdir(day_dir)
            if f.endswith(".parquet")
        }

    before = snap()
    # update ONE kit: only the file holding its range may change
    upd = _mk_batch(spark, [("kita", day, "pm25", 999.0, dt.datetime(2024, 6, 2))])
    upsert_parquet_partitioned(upd, path, keys=["kit_id", "ts", "field"], order_col="ingest_ts")

    after = snap()
    untouched_before = {f: v for f, v in before.items() if f in after}
    assert untouched_before == {f: after[f] for f in untouched_before}, "surviving files mutated"
    n_replaced = len(set(before) - set(after))
    assert 1 <= n_replaced < len(before), f"replaced {n_replaced} of {len(before)} files"

    out = {r["kit_id"]: r["value"] for r in spark.read.parquet(path).collect()}
    assert out["kita"] == 999.0 and len(out) == 26 and out["kitb"] == 1.0


def test_key_ranges_sidecar_matches_footer_selection(spark, tmp_path, monkeypatch):
    """r9: file selection from the promote-time `_key_ranges.json`
    sidecar must be IDENTICAL to the driver-side footer-loop selection —
    with the sidecar present, absent (legacy day), stale (size
    mismatch), or missing fresh appends — and when every entry is valid,
    zero parquet footers are opened. The sidecar is an optimization
    cache: every degradation path falls back to footer reads, never to
    a wrong selection."""
    import datetime as dt
    import os

    from mysense_spark.sinks import upsert as U

    path = str(tmp_path / "archive")
    day = dt.datetime(2024, 1, 1, 10)
    t0 = dt.datetime(2024, 6, 1)
    kits = [f"kit{chr(ord('a') + i)}" for i in range(26)]
    base = _mk_batch(spark, [(k, day, "pm25", float(i), t0) for i, k in enumerate(kits)])
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        U.upsert_parquet_partitioned(base, path, keys=["kit_id", "ts", "field"], order_col="ingest_ts")
        upd = _mk_batch(spark, [("kita", day, "pm25", 999.0, dt.datetime(2024, 6, 2))])
        U.upsert_parquet_partitioned(upd, path, keys=["kit_id", "ts", "field"], order_col="ingest_ts")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")

    day_dir = os.path.join(path, "day=2024-01-01")
    sidecar = U._ranges_path(day_dir)
    assert os.path.exists(sidecar), "promote did not record the day's key ranges"
    files = [f for f in os.listdir(day_dir) if f.endswith(".parquet")]
    assert len(files) > 1

    real_ranges = U._file_key_ranges
    footer_reads = {"files": 0}

    def counting_ranges(fs, col):
        footer_reads["files"] += len(fs)
        return real_ranges(fs, col)

    monkeypatch.setattr(U, "_file_key_ranges", counting_ranges)

    bkeys = ["kitc", "kitz"]
    via_sidecar = U._select_files(day_dir, bkeys, "kit_id")
    assert footer_reads["files"] == 0, "valid sidecar entries must not open footers"
    assert via_sidecar[0] and via_sidecar[1], "expected a genuine replace/keep split"

    os.remove(sidecar)
    via_footer = U._select_files(day_dir, bkeys, "kit_id")
    assert footer_reads["files"] == len(files)
    assert via_sidecar == via_footer

    # stale entry (size mismatch): only that file falls back to a footer
    # read; the selection is unchanged
    U._record_ranges(day_dir, "kit_id")
    import json

    with open(sidecar) as fh:
        doc = json.load(fh)
    victim = sorted(doc["files"])[0]
    doc["files"][victim][2] += 1
    with open(sidecar, "w") as fh:
        json.dump(doc, fh)
    footer_reads["files"] = 0
    assert U._select_files(day_dir, bkeys, "kit_id") == via_footer
    assert footer_reads["files"] == 1

    # a sidecar recorded for a different prune column is ignored wholesale
    with open(sidecar) as fh:
        doc = json.load(fh)
    doc["col"] = "field"
    with open(sidecar, "w") as fh:
        json.dump(doc, fh)
    footer_reads["files"] = 0
    assert U._select_files(day_dir, bkeys, "kit_id") == via_footer
    assert footer_reads["files"] == len(files)

    # fresh appends are not in the sidecar (append never writes it):
    # they fall back to footer reads; compaction then records everything
    U._record_ranges(day_dir, "kit_id")
    app = _mk_batch(spark, [("kitq", day, "pm25", 5.0, dt.datetime(2024, 6, 3))])
    U.append_day_partitioned(app, path, partitions=1)
    all_files = [f for f in os.listdir(day_dir) if f.endswith(".parquet")]
    appended = set(all_files) - set(files)
    assert appended
    footer_reads["files"] = 0
    sel = U._select_files(day_dir, ["kitq"], "kit_id")
    assert footer_reads["files"] == len(appended)
    assert any(os.path.basename(f) in appended for f in sel[0])
    U.compact_days(spark, path, keys=["kit_id", "ts", "field"], order_col="ingest_ts")
    with open(sidecar) as fh:
        doc = json.load(fh)
    assert set(doc["files"]) == {
        f for f in os.listdir(day_dir) if f.endswith(".parquet")
    }, "compaction must record every surviving file"


def test_sidecar_hardening_edges(spark, tmp_path):
    """Post-review r9 edges: (a) sidecar bounds that stopped being
    comparable with the batch keys demote the file to a conservative
    replace, never a crash loop; (b) prune-key types that cannot survive
    JSON are recorded as [None, None] — counted as recorded by the
    day-close detector (no perpetual re-compaction) but footer-read at
    selection time; (c) compact_closed_days skips the NULL_DAY sentinel
    and bounds one call's backlog to a merge chunk."""
    import datetime as dt
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mysense_spark.sinks import upsert as U

    # (a) incomparable recorded bounds -> conservative replace, no raise
    day_dir = str(tmp_path / "arch" / "day=2024-01-01")
    os.makedirs(day_dir)
    pq.write_table(
        pa.table({"kit_id": ["kita", "kitb"], "value": [1.0, 2.0]}),
        os.path.join(day_dir, "part-0.parquet"),
    )
    U._record_ranges(day_dir, "kit_id")
    with open(U._ranges_path(day_dir)) as fh:
        doc = json.load(fh)
    name = next(iter(doc["files"]))
    doc["files"][name][0] = 5  # int bounds vs string batch keys
    doc["files"][name][1] = 9
    with open(U._ranges_path(day_dir), "w") as fh:
        json.dump(doc, fh)
    rep, keep = U._select_files(day_dir, ["kitz"], "kit_id")
    assert rep == [os.path.join(day_dir, name)] and keep == []

    # (b) date-typed prune key: stats exist but are not JSON-able
    day2 = str(tmp_path / "arch2" / "day=2024-01-01")
    os.makedirs(day2)
    pq.write_table(
        pa.table({"when": [dt.date(2024, 1, 1), dt.date(2024, 1, 2)], "v": [1.0, 2.0]}),
        os.path.join(day2, "part-0.parquet"),
    )
    U._record_ranges(day2, "when")
    with open(U._ranges_path(day2)) as fh:
        doc2 = json.load(fh)
    (ent,) = doc2["files"].values()
    assert ent[0] is None and ent[1] is None, "unrecordable range must record as nulls"
    # recorded ⇒ the day-close detector sees nothing to compact
    assert all(
        f in doc2["files"] for f in os.listdir(day2) if f.endswith(".parquet")
    )
    # selection still prunes through the footer: a miss keeps the file
    rep2, keep2 = U._select_files(day2, [dt.date(2025, 6, 6)], "when")
    assert rep2 == [] and len(keep2) == 1
    rep3, _ = U._select_files(day2, [dt.date(2024, 1, 1)], "when")
    assert len(rep3) == 1

    # (c) NULL_DAY is never "closed"; backlog bounded per call
    arch3 = str(tmp_path / "arch3")
    os.makedirs(os.path.join(arch3, f"day={U.NULL_DAY}"))
    pq.write_table(
        pa.table({"kit_id": ["kitx"], "value": [0.0], "ts": [dt.datetime(2023, 1, 1)]}),
        os.path.join(arch3, f"day={U.NULL_DAY}", "part-0.parquet"),
    )
    n_days = U._BACKFILL_CHUNK_DAYS + 5
    for i in range(n_days):
        d = (dt.date(2023, 1, 1) + dt.timedelta(days=i)).isoformat()
        os.makedirs(os.path.join(arch3, f"day={d}"))
        pq.write_table(
            pa.table(
                {
                    "kit_id": [f"kit{i}"],
                    "value": [float(i)],
                    "ts": [dt.datetime(2023, 1, 1) + dt.timedelta(days=i)],
                }
            ),
            os.path.join(arch3, f"day={d}", "part-0.parquet"),
        )
    done = U.compact_closed_days(
        spark, arch3, keys=["kit_id", "ts"], order_col="ts", before_day="2030-01-01"
    )
    assert len(done) == U._BACKFILL_CHUNK_DAYS, "backlog must drain chunk-bounded"
    assert done == sorted(done) and U.NULL_DAY not in done
    done2 = U.compact_closed_days(
        spark, arch3, keys=["kit_id", "ts"], order_col="ts", before_day="2030-01-01"
    )
    assert len(done2) == 5 and U.NULL_DAY not in done2
    assert U.compact_closed_days(
        spark, arch3, keys=["kit_id", "ts"], order_col="ts", before_day="2030-01-01"
    ) == [], "steady state: everything recorded, nothing to compact"

    import pytest

    with pytest.raises(ValueError, match="non-time key"):
        U.compact_closed_days(
            spark, arch3, keys=["ts"], order_col="ts", before_day="2030-01-01"
        )


def test_backfill_chunking_with_crash_between_chunks(spark, tmp_path, monkeypatch):
    """r8 deep-backfill bound: a 90-day batch stages ≤30 days per
    commit (>1 chunk), and a crash BETWEEN chunks recovers via replay —
    the committed chunks re-merge idempotently and the remaining days
    land on the retry."""
    import datetime as dt
    import os

    from mysense_spark.sinks import upsert as U

    path = str(tmp_path / "archive")
    t0 = dt.datetime(2024, 6, 1)
    days = [dt.datetime(2024, 1, 1) + dt.timedelta(days=i, hours=9) for i in range(90)]
    batch = _mk_batch(spark, [("k1", d, "pm25", float(i), t0) for i, d in enumerate(days)])

    calls = {"n": 0}
    real_promote = U._promote_file_merge

    def crashing_promote(p, prune_col=None):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected crash between chunks")
        real_promote(p, prune_col)

    monkeypatch.setattr(U, "_promote_file_merge", crashing_promote)
    try:
        U.upsert_parquet_partitioned(batch, path, keys=["kit_id", "ts", "field"], order_col="ingest_ts")
        raise AssertionError("injected crash did not fire")
    except RuntimeError:
        pass
    n_after_crash = len([d for d in os.listdir(path) if d.startswith("day=")])
    assert n_after_crash == 30, (
        f"exactly the first 30-day chunk must be committed, got {n_after_crash}"
    )

    # checkpoint replay redelivers the batch; recovery + re-merge completes
    monkeypatch.setattr(U, "_promote_file_merge", real_promote)
    U.upsert_parquet_partitioned(batch, path, keys=["kit_id", "ts", "field"], order_col="ingest_ts")
    got = {str(r["day"]): r["value"] for r in spark.read.parquet(path).collect()}
    assert len(got) == 90
    assert got["2024-01-01"] == 0.0 and got["2024-03-30"] == 89.0


def test_file_merge_stage_recovery_idempotent(spark, tmp_path):
    """A file-merge stage with manifest + _SUCCESS left by a crash
    mid-promote is re-promoted on the next entry; a manifest stage
    without _SUCCESS is discarded."""
    import datetime as dt
    import json
    import os
    import shutil

    from mysense_spark.sinks import upsert as U

    path = str(tmp_path / "archive")
    day = dt.datetime(2024, 1, 1, 10)
    t0 = dt.datetime(2024, 6, 1)
    base = _mk_batch(spark, [("k1", day, "pm25", 1.0, t0), ("k2", day, "pm25", 2.0, t0)])
    U.upsert_parquet_partitioned(base, path, keys=["kit_id", "ts", "field"], order_col="ingest_ts")

    # fabricate a crashed promote: stage a merge, interrupt the promote
    # halfway by hand (copy the machinery's own artifacts)
    stage = f"{path}__stage"
    upd = _mk_batch(spark, [("k1", day, "pm25", 5.0, dt.datetime(2024, 6, 2))])
    real = U._promote_file_merge
    try:
        U._promote_file_merge = lambda p, pc=None: None  # stage, never promote
        U.upsert_parquet_partitioned(upd, path, keys=["kit_id", "ts", "field"], order_col="ingest_ts")
    finally:
        U._promote_file_merge = real
    assert os.path.exists(U._manifest_path(path)), (
        "manifest must be durable BESIDE the stage before any promote"
    )
    assert os.path.exists(os.path.join(stage, "_SUCCESS"))

    # next entry recovers: the staged merge lands, replaced files go
    tri = _mk_batch(spark, [("k9", dt.datetime(2024, 2, 1, 9), "pm25", 7.0, t0)])
    U.upsert_parquet_partitioned(tri, path, keys=["kit_id", "ts", "field"], order_col="ingest_ts")
    out = {r["kit_id"]: r["value"] for r in spark.read.parquet(path).collect()}
    assert out == {"k1": 5.0, "k2": 2.0, "k9": 7.0}
    assert not os.path.exists(stage)
    assert not os.path.exists(U._manifest_path(path)), "manifest outlived its promote"

    # half-written manifest stage (no _SUCCESS) is garbage: discarded
    os.makedirs(stage)
    json.dump({"replaced": []}, open(U._manifest_path(path), "w"))
    U.upsert_parquet_partitioned(
        _mk_batch(spark, [("k9", dt.datetime(2024, 2, 2, 9), "pm25", 8.0, t0)]),
        path, keys=["kit_id", "ts", "field"], order_col="ingest_ts",
    )
    assert not os.path.exists(stage)
    assert {r["value"] for r in spark.read.parquet(path).collect()} == {5.0, 2.0, 7.0, 8.0}

    # a manifest with no stage at all (crash between manifest write and
    # stage write — the post-reorder equivalent of the old lost-rows
    # window) is discarded; checkpoint replay re-delivers the batch
    json.dump({"replaced": []}, open(U._manifest_path(path), "w"))
    U.upsert_parquet_partitioned(
        _mk_batch(spark, [("k9", dt.datetime(2024, 2, 3, 9), "pm25", 9.0, t0)]),
        path, keys=["kit_id", "ts", "field"], order_col="ingest_ts",
    )
    assert {r["value"] for r in spark.read.parquet(path).collect()} == {5.0, 2.0, 7.0, 8.0, 9.0}

    # a TORN manifest (a writer crashed mid-json.dump without the
    # tmp+rename) must not crash-loop the sink: discard it and the
    # stage, replay re-delivers
    os.makedirs(stage)
    open(os.path.join(stage, "_SUCCESS"), "w").close()
    with open(U._manifest_path(path), "w") as fh:
        fh.write('{"replaced": ["/tmp/tr')  # truncated mid-write
    U.upsert_parquet_partitioned(
        _mk_batch(spark, [("k9", dt.datetime(2024, 2, 4, 9), "pm25", 10.0, t0)]),
        path, keys=["kit_id", "ts", "field"], order_col="ingest_ts",
    )
    assert not os.path.exists(stage)
    assert not os.path.exists(U._manifest_path(path))
    assert 10.0 in {r["value"] for r in spark.read.parquet(path).collect()}


def test_crash_before_promote_never_loses_pruned_out_rows(spark, tmp_path, monkeypatch):
    """THE data-loss window the manifest-first ordering closes: a
    file-pruned merge whose stage reached _SUCCESS but whose process
    died before promote. Under manifest-AFTER-stage ordering a recovery
    that trusted a manifest-less _SUCCESS stage overwrote the whole day
    with only the SELECTED files' rows — every pruned-out keep file's
    rows silently deleted. With the manifest durable first, recovery
    runs the file-level promote and every kit survives."""
    import datetime as dt
    import os

    from mysense_spark.sinks import upsert as U

    path = str(tmp_path / "archive")
    day = dt.datetime(2024, 1, 1, 10)
    t0 = dt.datetime(2024, 6, 1)
    kits = [f"kit{chr(ord('a') + i)}" for i in range(26)]
    base = _mk_batch(spark, [(k, day, "pm25", float(i), t0) for i, k in enumerate(kits)])
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        U.upsert_parquet_partitioned(base, path, keys=["kit_id", "ts", "field"], order_col="ingest_ts")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    day_dir = os.path.join(path, "day=2024-01-01")
    n_files = len([f for f in os.listdir(day_dir) if f.endswith(".parquet")])
    assert n_files > 1, "need pruned-out keep files for the scenario to bite"

    # one-kit update, crash after the stage write / before the promote
    upd = _mk_batch(spark, [("kita", day, "pm25", 999.0, dt.datetime(2024, 6, 2))])
    real_promote = U._promote_file_merge

    def crashing_promote(p, prune_col=None):
        raise RuntimeError("injected crash before promote")

    monkeypatch.setattr(U, "_promote_file_merge", crashing_promote)
    try:
        U.upsert_parquet_partitioned(upd, path, keys=["kit_id", "ts", "field"], order_col="ingest_ts")
        raise AssertionError("injected crash did not fire")
    except RuntimeError:
        pass
    assert os.path.exists(U._manifest_path(path))
    monkeypatch.setattr(U, "_promote_file_merge", real_promote)

    # next entry: recovery must promote file-level, not day-overwrite
    tri = _mk_batch(spark, [("kitz", dt.datetime(2024, 2, 1, 9), "pm25", 7.0, t0)])
    U.upsert_parquet_partitioned(tri, path, keys=["kit_id", "ts", "field"], order_col="ingest_ts")
    out = {r["kit_id"]: r["value"] for r in spark.read.parquet(path).where("day = '2024-01-01'").collect()}
    assert len(out) == 26, f"pruned-out kits lost in recovery: kept {sorted(out)}"
    assert out["kita"] == 999.0 and out["kitb"] == 1.0 and out["kity"] == 24.0


def test_crash_point_sweep_recovery_is_total(spark, tmp_path, monkeypatch):
    """Mechanical durability proof for the one commit protocol, swept
    over both of its writers that start from a fixed archive: the
    pruned merge and the flat-archive migration. Crash at EVERY
    driver-side filesystem mutation (manifest replace, each promote
    rename/remove, the marker removal, the stage rmtree, the manifest
    cleanup) in turn, then re-enter as a restart would (merge: the
    batch redelivered by checkpoint replay; migrate: the migration run
    again) — the recovered archive must equal the uninjected reference
    at every crash point, and no stage, manifest or stray flat file may
    remain. The two r8 review bugs (promote of a manifest-less stage;
    torn-manifest crash loop) were single points in this sequence found
    by hand; this sweep pins all of them."""
    import datetime as dt
    import os as _os
    import shutil as _shutil

    from mysense_spark.sinks import upsert as U

    class InjectedCrash(Exception):
        pass

    keys = ["kit_id", "ts", "field"]
    day = dt.datetime(2024, 1, 1, 10)
    t0 = dt.datetime(2024, 6, 1)
    kits = [f"kit{chr(ord('a') + i)}" for i in range(8)]
    base = _mk_batch(spark, [(k, day, "pm25", float(i), t0) for i, k in enumerate(kits)])
    upd = _mk_batch(spark, [("kita", day, "pm25", 999.0, dt.datetime(2024, 6, 2))])
    ops = {
        "merge": lambda d: U.upsert_parquet_partitioned(upd, d, keys=keys, order_col="ingest_ts"),
        "migrate": lambda d: U.migrate_to_partitioned(spark, d),
    }

    def read(d):
        return {r["kit_id"]: r["value"] for r in spark.read.parquet(d).collect()}

    # fault injection: k-th tmp_path mutation raises; paths outside the
    # sandbox (Spark temp dirs, etc.) pass through untouched
    state = {"left": None, "seen": 0}
    prefix = str(tmp_path)
    real = {
        "rename": _os.rename, "remove": _os.remove,
        "replace": _os.replace, "rmtree": _shutil.rmtree,
    }

    def wrap(name):
        orig = real[name]

        def inner(*a, **kw):
            p = a[0] if a else ""
            if isinstance(p, (str, _os.PathLike)) and str(p).startswith(prefix):
                state["seen"] += 1
                if state["left"] is not None:
                    if state["left"] == 0:
                        raise InjectedCrash(f"{name} (mutation #{state['seen']})")
                    state["left"] -= 1
            return orig(*a, **kw)

        return inner

    monkeypatch.setattr(_os, "rename", wrap("rename"))
    monkeypatch.setattr(_os, "remove", wrap("remove"))
    monkeypatch.setattr(_os, "replace", wrap("replace"))
    monkeypatch.setattr(_shutil, "rmtree", wrap("rmtree"))

    for name, op in ops.items():
        # merge starts from a multi-file day archive, migrate from a
        # multi-file flat one
        base_dir = str(tmp_path / f"{name}_base")
        if name == "merge":
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            try:
                U.upsert_parquet_partitioned(base, base_dir, keys=keys, order_col="ingest_ts")
            finally:
                spark.conf.set("spark.sql.adaptive.enabled", "true")
            n_files = len(_os.listdir(_os.path.join(base_dir, "day=2024-01-01")))
        else:
            base.repartition(3).write.parquet(base_dir)
            n_files = len([f for f in _os.listdir(base_dir) if f.endswith(".parquet")])
        assert n_files > 1

        # uninjected reference result
        ref_dir = str(tmp_path / f"{name}_ref")
        _shutil.copytree(base_dir, ref_dir)
        op(ref_dir)
        expected = read(ref_dir)
        assert len(expected) == 8 and expected["kita"] == (999.0 if name == "merge" else 0.0)
        assert sorted(_os.listdir(ref_dir)) == ["day=2024-01-01"]

        k = 0
        while True:
            run_dir = str(tmp_path / f"{name}_run{k}")
            state["left"] = None
            _shutil.copytree(base_dir, run_dir)  # copytree doesn't hit the wrapped calls
            state["left"], state["seen"] = k, 0
            crashed = False
            try:
                op(run_dir)
            except InjectedCrash:
                crashed = True
            state["left"] = None
            if crashed:
                op(run_dir)  # the restart's entry finishes or redoes it
            got = read(run_dir)
            assert got == expected, f"{name} crash point {k}: archive diverged: {sorted(got.items())}"
            assert sorted(_os.listdir(run_dir)) == ["day=2024-01-01"], f"{name} crash point {k}"
            assert not _os.path.exists(f"{run_dir}__stage")
            assert not _os.path.exists(U._manifest_path(run_dir))
            if not crashed:
                break  # k exceeded the mutation count: full sequence covered
            k += 1
        assert k >= 5, f"{name} sweep covered only {k} mutation points — injection not biting"


def test_append_then_compact_equals_merge(spark, tmp_path):
    """The steady-state contract: N fleet-wide batches through blind
    append + one compaction converge to the SAME archive the per-batch
    merge produces — latest-row-wins per key, range-partitioned layout
    restored for future pruned merges."""
    import datetime as dt
    import os

    from mysense_spark.sinks import upsert as U

    day = dt.datetime(2024, 1, 1, 10)
    kits = [f"kit{i}" for i in range(6)]
    batches = [
        _mk_batch(
            spark,
            [(k, day, "pm25", float(b * 10 + i), dt.datetime(2024, 6, 1 + b)) for i, k in enumerate(kits)],
        )
        for b in range(3)
    ]

    merged = str(tmp_path / "merged")
    appended = str(tmp_path / "appended")
    for b in batches:
        U.upsert_parquet_partitioned(b, merged, keys=["kit_id", "ts", "field"], order_col="ingest_ts")
        U.append_day_partitioned(b, appended)
    # pre-compaction: every batch's rows are on disk (write amp 1, dedup deferred)
    assert spark.read.parquet(appended).count() == 18
    # dedup-on-read matches the merge result before any compaction
    lv = U.latest_view(
        spark.read.parquet(appended), keys=["kit_id", "ts", "field"], order_col="ingest_ts"
    )
    want = {r["kit_id"]: r["value"] for r in spark.read.parquet(merged).collect()}
    assert {r["kit_id"]: r["value"] for r in lv.collect()} == want

    done = U.compact_days(spark, appended, keys=["kit_id", "ts", "field"], order_col="ingest_ts")
    assert done == ["2024-01-01"]
    got = {r["kit_id"]: r["value"] for r in spark.read.parquet(appended).collect()}
    assert got == want and got["kit0"] == 20.0
    assert spark.read.parquet(appended).count() == 6  # physically deduped
    assert not os.path.exists(f"{appended}__stage")
    assert not os.path.exists(U._manifest_path(appended))


def test_append_retry_is_collapsed_by_compaction(spark, tmp_path):
    """foreachBatch retry semantics: a redelivered batch appends
    byte-identical rows; compaction (and latest_view) collapse them, so
    append-mode ingest is effectively exactly-once after compaction."""
    import datetime as dt

    from mysense_spark.sinks import upsert as U

    day = dt.datetime(2024, 1, 1, 10)
    t0 = dt.datetime(2024, 6, 1)
    b = _mk_batch(spark, [("k1", day, "pm25", 1.0, t0), ("k2", day, "pm25", 2.0, t0)])
    path = str(tmp_path / "arch")
    U.append_day_partitioned(b, path)
    U.append_day_partitioned(b, path)  # retry after a crashed checkpoint commit
    assert spark.read.parquet(path).count() == 4
    U.compact_days(spark, path, keys=["kit_id", "ts", "field"], order_col="ingest_ts")
    rows = spark.read.parquet(path).collect()
    assert len(rows) == 2
    assert {r["kit_id"]: r["value"] for r in rows} == {"k1": 1.0, "k2": 2.0}


def test_compact_crash_recovery(spark, tmp_path, monkeypatch):
    """Compaction rides the merge machinery's manifest-first protocol:
    a crash before the promote leaves manifest + stage, and the next
    sink entry (here: another compact) finishes the job losslessly."""
    import datetime as dt

    from mysense_spark.sinks import upsert as U

    day = dt.datetime(2024, 1, 1, 10)
    t0 = dt.datetime(2024, 6, 1)
    path = str(tmp_path / "arch")
    U.append_day_partitioned(
        _mk_batch(spark, [(f"k{i}", day, "pm25", float(i), t0) for i in range(6)]), path
    )
    U.append_day_partitioned(
        _mk_batch(spark, [("k0", day, "pm25", 99.0, dt.datetime(2024, 6, 2))]), path
    )

    real_promote = U._promote_file_merge

    def crashing_promote(p, prune_col=None):
        raise RuntimeError("injected crash before promote")

    monkeypatch.setattr(U, "_promote_file_merge", crashing_promote)
    try:
        U.compact_days(spark, path, keys=["kit_id", "ts", "field"], order_col="ingest_ts")
        raise AssertionError("injected crash did not fire")
    except RuntimeError:
        pass
    monkeypatch.setattr(U, "_promote_file_merge", real_promote)

    U.compact_days(spark, path, keys=["kit_id", "ts", "field"], order_col="ingest_ts")
    rows = spark.read.parquet(path).collect()
    assert len(rows) == 6
    assert {r["kit_id"]: r["value"] for r in rows}["k0"] == 99.0


def test_append_never_disturbs_inflight_compaction_state(spark, tmp_path):
    """The documented steady state runs appends CONCURRENTLY with one
    compactor, so append must never touch the stage/manifest — an
    append that 'recovered' a live compaction's manifest mid-stage
    would orphan a manifest-less stage that every later merge/compact
    entry must refuse. Appends
    leave compactor state alone; the next compact entry recovers a
    crashed compaction AND keeps the rows appended after its
    snapshot."""
    import datetime as dt
    import os

    from mysense_spark.sinks import upsert as U

    day = dt.datetime(2024, 1, 1, 10)
    t0 = dt.datetime(2024, 6, 1)
    path = str(tmp_path / "arch")
    U.append_day_partitioned(
        _mk_batch(spark, [(f"k{i}", day, "pm25", float(i), t0) for i in range(4)]), path
    )

    # crash a compaction after its stage write, before its promote
    real_promote = U._promote_file_merge
    try:
        U._promote_file_merge = lambda p, pc=None: None
        U.compact_days(spark, path, keys=["kit_id", "ts", "field"], order_col="ingest_ts")
    finally:
        U._promote_file_merge = real_promote
    stage = f"{path}__stage"
    assert os.path.exists(U._manifest_path(path)) and os.path.exists(stage)

    # appends while the compactor state sits there: both survive
    U.append_day_partitioned(
        _mk_batch(spark, [("k9", day, "pm25", 9.0, t0)]), path
    )
    assert os.path.exists(U._manifest_path(path)), "append deleted a compaction manifest"
    assert os.path.exists(stage), "append deleted a compaction stage"

    # the next compactor entry recovers the crashed promote, then
    # compacts the whole day including the row appended after the
    # crashed compaction's snapshot
    U.compact_days(spark, path, keys=["kit_id", "ts", "field"], order_col="ingest_ts")
    rows = {r["kit_id"]: r["value"] for r in spark.read.parquet(path).collect()}
    assert rows == {"k0": 0.0, "k1": 1.0, "k2": 2.0, "k3": 3.0, "k9": 9.0}
    assert not os.path.exists(stage) and not os.path.exists(U._manifest_path(path))


def test_sink_random_op_interleavings_match_model(spark, tmp_path):
    """Semantic twin of the crash sweep: a seeded random interleaving of
    merge / append / compact operations against one archive must end in
    exactly the state of a pure-Python latest-row-wins model, and
    latest_view must agree with the model at every step. The crash sweep
    proves durability of each op; this proves the OPS COMPOSE — merge
    over appended-but-uncompacted days, compact over merged days, etc."""
    import datetime as dt
    import random

    from mysense_spark.sinks import upsert as U

    rng = random.Random(20260814)
    days = [dt.datetime(2024, 1, d, 10) for d in (1, 2, 3)]
    kits = [f"k{i}" for i in range(6)]
    base_ingest = dt.datetime(2024, 6, 1)
    path = str(tmp_path / "arch")
    model: dict[tuple, tuple] = {}  # (kit, ts, field) -> (ingest_ts, value)

    def mk(rows):
        return _mk_batch(spark, rows)

    def read_latest():
        lv = U.latest_view(
            spark.read.parquet(path), keys=["kit_id", "ts", "field"], order_col="ingest_ts"
        )
        return {
            (r["kit_id"], r["ts"], r["field"]): r["value"] for r in lv.collect()
        }

    n_ops = 14
    for i in range(n_ops):
        op = rng.choice(["merge", "append", "append", "compact"])
        if op == "compact" and U._layout(path) is None:
            op = "append"
        if op in ("merge", "append"):
            rows = []
            ingest = base_ingest + dt.timedelta(hours=i)  # monotonic: no order ties
            in_batch = set()
            for _ in range(rng.randint(1, 5)):
                kit, day = rng.choice(kits), rng.choice(days)
                key = (kit, day, "pm25")
                if key in in_batch:
                    continue  # same key twice at one ingest_ts would tie on order_col
                in_batch.add(key)
                val = float(rng.randint(0, 999))
                rows.append((kit, day, "pm25", val, ingest))
                prev = model.get(key)
                if prev is None or ingest > prev[0]:
                    model[key] = (ingest, val)
            if op == "merge":
                U.upsert_parquet_partitioned(
                    mk(rows), path, keys=["kit_id", "ts", "field"], order_col="ingest_ts"
                )
            else:
                U.append_day_partitioned(mk(rows), path)
        else:
            U.compact_days(spark, path, keys=["kit_id", "ts", "field"], order_col="ingest_ts")
        want = {k: v for k, (_, v) in model.items()}
        assert read_latest() == want, f"divergence after op {i} ({op})"

    U.compact_days(spark, path, keys=["kit_id", "ts", "field"], order_col="ingest_ts")
    physical = {
        (r["kit_id"], r["ts"], r["field"]): r["value"]
        for r in spark.read.parquet(path).collect()
    }
    assert physical == {k: v for k, (_, v) in model.items()}
    assert spark.read.parquet(path).count() == len(model), "compaction left duplicates"


def test_xlsx_codec_roundtrip_and_foreign_file(spark, tmp_path):
    """The stdlib XLSX codec (K7 writer / S8 reader): a write->read
    round-trip preserves values and types, a hand-built 'foreign' file
    using SHARED strings and sparse rows (cells absent from the XML)
    reads correctly by cell reference, and the Spark-side S8 reader
    lands a usable DataFrame without openpyxl."""
    import zipfile

    from mysense_spark.sinks.export import export_xlsx
    from mysense_spark.sources.files import read_measurements_xlsx
    from mysense_spark.sources.xlsx import read_xlsx, write_xlsx

    # round-trip: strings, ints, floats, None, a value needing XML escape
    rows = [
        {"kit_id": "k<1>&", "field": "pm25", "n": 3, "avg_value": 12.5},
        {"kit_id": "k2", "field": "temp", "n": 7, "avg_value": -0.25},
        {"kit_id": "k3", "field": "rh", "n": 1, "avg_value": None},
    ]
    path = str(tmp_path / "report.xlsx")
    assert export_xlsx(rows, path) is True
    back = read_xlsx(path)
    assert back == rows
    # the container is genuinely a ZIP with the OOXML parts
    with zipfile.ZipFile(path) as z:
        assert "xl/worksheets/sheet1.xml" in z.namelist()

    # foreign producer shape: sharedStrings + sparse row (B missing)
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    sheet = (
        f'<worksheet xmlns="{ns}"><sheetData>'
        '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c>'
        '<c r="C1" t="s"><v>2</v></c></row>'
        '<row r="2"><c r="A2" t="s"><v>3</v></c><c r="C2"><v>42</v></c></row>'
        "</sheetData></worksheet>"
    )
    strings = (
        f'<sst xmlns="{ns}"><si><t>kit_id</t></si><si><t>note</t></si>'
        "<si><t>value</t></si><si><t>kitx</t></si></sst>"
    )
    foreign = str(tmp_path / "foreign.xlsx")
    with zipfile.ZipFile(foreign, "w") as z:
        z.writestr("xl/worksheets/sheet1.xml", sheet)
        z.writestr("xl/sharedStrings.xml", strings)
    got = read_xlsx(foreign)
    assert got == [{"kit_id": "kitx", "note": None, "value": 42}]

    # Spark S8 reader over the written file (no openpyxl in container)
    df = read_measurements_xlsx(spark, path)
    out = {r["kit_id"]: r for r in df.collect()}
    assert out["k2"]["avg_value"] == -0.25 and out["k2"]["n"] == 7
    assert set(df.columns) == {"kit_id", "field", "n", "avg_value"}


def test_xlsx_codec_edge_cases(spark, tmp_path):
    """The foreign-producer edge cases a real corpus of sheets contains:
    big integers (>= 2^53), NaN summary values, quote-bearing sheet
    names, part numbering after sheet deletion, positional cells with
    gaps, ragged rows wider than the header, phonetic shared-string
    runs, and 'true'-spelled booleans."""
    import zipfile

    import pytest

    from mysense_spark.sources.files import read_measurements_xlsx
    from mysense_spark.sources.xlsx import read_xlsx, write_xlsx

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"

    # big ints survive exactly; NaN writes as a blank (readable) cell;
    # a quoted sheet name stays well-formed XML
    big = 9007199254740993  # 2^53 + 1: float round-trip would alter it
    p = str(tmp_path / "edge.xlsx")
    write_xlsx(
        [{"id": big, "v": float("nan")}], p, sheet='my "quoted" sheet'
    )
    back = read_xlsx(p)
    assert back == [{"id": big, "v": None}]

    # part numbering: sheet10 + sheet2 (sheet1 deleted) -> numeric-first
    def mk(pathname, sheets):
        with zipfile.ZipFile(pathname, "w") as z:
            for name, a1 in sheets:
                z.writestr(
                    f"xl/worksheets/{name}",
                    f'<worksheet xmlns="{ns}"><sheetData>'
                    f'<row r="1"><c r="A1" t="inlineStr"><is><t>h</t></is></c></row>'
                    f'<row r="2"><c r="A2"><v>{a1}</v></c></row>'
                    f"</sheetData></worksheet>",
                )

    p2 = str(tmp_path / "numbered.xlsx")
    mk(p2, [("sheet10.xml", 10), ("sheet2.xml", 2)])
    assert read_xlsx(p2) == [{"h": 2}], "lexicographic part order picked sheet10"

    # positional cells (no r=): an empty <c/> must keep its column
    p3 = str(tmp_path / "positional.xlsx")
    with zipfile.ZipFile(p3, "w") as z:
        z.writestr(
            "xl/worksheets/sheet1.xml",
            f'<worksheet xmlns="{ns}"><sheetData>'
            '<row><c t="inlineStr"><is><t>a</t></is></c>'
            '<c t="inlineStr"><is><t>b</t></is></c>'
            '<c t="inlineStr"><is><t>c</t></is></c></row>'
            "<row><c><v>1</v></c><c/><c><v>3</v></c></row>"
            "</sheetData></worksheet>",
        )
    assert read_xlsx(p3) == [{"a": 1, "b": None, "c": 3}]

    # ragged row wider than the header: extra column surfaces, not drops
    p4 = str(tmp_path / "ragged.xlsx")
    with zipfile.ZipFile(p4, "w") as z:
        z.writestr(
            "xl/worksheets/sheet1.xml",
            f'<worksheet xmlns="{ns}"><sheetData>'
            '<row r="1"><c r="A1" t="inlineStr"><is><t>h1</t></is></c></row>'
            '<row r="2"><c r="A2"><v>1</v></c><c r="B2"><v>2</v></c></row>'
            "</sheetData></worksheet>",
        )
    assert read_xlsx(p4) == [{"h1": 1, "col1": 2}]

    # shared string with a phonetic <rPh> run: furigana must NOT leak in
    p5 = str(tmp_path / "phonetic.xlsx")
    with zipfile.ZipFile(p5, "w") as z:
        z.writestr(
            "xl/worksheets/sheet1.xml",
            f'<worksheet xmlns="{ns}"><sheetData>'
            '<row r="1"><c r="A1" t="s"><v>0</v></c></row>'
            '<row r="2"><c r="A2" t="s"><v>1</v></c>'
            '<c r="B2" t="b"><v>true</v></c></row>'
            "</sheetData></worksheet>",
        )
        z.writestr(
            "xl/sharedStrings.xml",
            f'<sst xmlns="{ns}"><si><t>name</t></si>'
            "<si><r><t>東京</t></r><rPh><t>トウキョウ</t></rPh></si></sst>",
        )
    got = read_xlsx(p5)
    assert got[0]["name"] == "東京"
    assert got[0]["col1"] is True  # xsd:boolean 'true'

    # duplicate headers would silently collapse a column -> loud error
    with zipfile.ZipFile(str(tmp_path / "dup2.xlsx"), "w") as z:
        z.writestr(
            "xl/worksheets/sheet1.xml",
            f'<worksheet xmlns="{ns}"><sheetData>'
            '<row r="1"><c r="A1" t="inlineStr"><is><t>x</t></is></c>'
            '<c r="B1" t="inlineStr"><is><t>x</t></is></c></row>'
            '<row r="2"><c r="A2"><v>1</v></c><c r="B2"><v>2</v></c></row>'
            "</sheetData></worksheet>",
        )
    with pytest.raises(ValueError, match="duplicate header"):
        read_xlsx(str(tmp_path / "dup2.xlsx"))

    # Spark fallback reader: None stays SQL NULL (not NaN), and a
    # MISSING sheet name fails loudly instead of reading the wrong sheet
    p7 = str(tmp_path / "nulls.xlsx")
    write_xlsx(
        [{"kit_id": "k1", "v": 1.5}, {"kit_id": "k2", "v": None}], p7
    )
    df = read_measurements_xlsx(spark, p7)
    assert df.where("v IS NULL").count() == 1
    with pytest.raises(ValueError, match="no worksheet named"):
        read_measurements_xlsx(spark, p7, sheet="calibration")


def test_xlsx_multi_sheet_and_schema_coercion(spark, tmp_path):
    """Round 9: named-sheet selection without openpyxl (workbook.xml +
    rels resolution, K7's per-region report shape) and the explicit
    Spark schema for the shapes real sheets emit — a measurement column
    mixing 21.5 with Excel's '22' (int), an all-None column, and a
    numeric column with 'NA' strings — all of which broke
    createDataFrame inference with [CANNOT_MERGE_TYPE]."""
    import zipfile

    import pytest

    from mysense_spark.sources.files import read_measurements_xlsx
    from mysense_spark.sources.xlsx import list_sheets, read_xlsx, write_xlsx_sheets

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"

    # multi-sheet write -> read by name and by workbook index
    p = str(tmp_path / "regions.xlsx")
    write_xlsx_sheets(
        {
            "Venray": [{"kit_id": "k1", "pm25": 12.5}],
            "Venlo": [{"kit_id": "k2", "pm25": 9.0}],
        },
        p,
    )
    assert list_sheets(p) == ["Venray", "Venlo"]
    assert read_xlsx(p, sheet="Venlo") == [{"kit_id": "k2", "pm25": 9.0}]
    assert read_xlsx(p, sheet=1) == read_xlsx(p, sheet="Venlo")
    assert read_xlsx(p) == [{"kit_id": "k1", "pm25": 12.5}]

    # foreign producer: workbook order disagrees with part numbers —
    # the workbook.xml mapping must win over sheetN.xml numbering
    p2 = str(tmp_path / "reordered.xlsx")
    with zipfile.ZipFile(p2, "w") as z:
        for part, val in (("sheet1.xml", 111), ("sheet2.xml", 222)):
            z.writestr(
                f"xl/worksheets/{part}",
                f'<worksheet xmlns="{ns}"><sheetData>'
                '<row r="1"><c r="A1" t="inlineStr"><is><t>h</t></is></c></row>'
                f'<row r="2"><c r="A2"><v>{val}</v></c></row>'
                "</sheetData></worksheet>",
            )
        z.writestr(
            "xl/workbook.xml",
            f'<workbook xmlns="{ns}" '
            'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
            '<sheets><sheet name="second" sheetId="1" r:id="rA"/>'
            '<sheet name="first" sheetId="2" r:id="rB"/></sheets></workbook>',
        )
        z.writestr(
            "xl/_rels/workbook.xml.rels",
            '<Relationships xmlns='
            '"http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rA" Type="t" Target="worksheets/sheet2.xml"/>'
            '<Relationship Id="rB" Type="t" Target="/xl/worksheets/sheet1.xml"/>'
            "</Relationships>",
        )
    assert list_sheets(p2) == ["second", "first"]
    assert read_xlsx(p2, sheet=0) == [{"h": 222}]  # workbook order, not part order
    assert read_xlsx(p2, sheet="first") == [{"h": 111}]  # absolute Target resolved

    # inline string with an <rPh> phonetic run: furigana must not leak
    # into the value (the sharedStrings rule, applied to <is> too)
    p3 = str(tmp_path / "inline_rph.xlsx")
    with zipfile.ZipFile(p3, "w") as z:
        z.writestr(
            "xl/worksheets/sheet1.xml",
            f'<worksheet xmlns="{ns}"><sheetData>'
            '<row r="1"><c r="A1" t="inlineStr"><is><t>city</t></is></c></row>'
            '<row r="2"><c r="A2" t="inlineStr">'
            "<is><r><t>東京</t></r><rPh><t>トウキョウ</t></rPh></is></c></row>"
            "</sheetData></worksheet>",
        )
    assert read_xlsx(p3) == [{"city": "東京"}]

    # schema coercion: int+float mixes to double, all-None -> string
    # NULLs, numeric column polluted with 'NA' -> string
    p4 = str(tmp_path / "mixed.xlsx")
    with zipfile.ZipFile(p4, "w") as z:
        z.writestr(
            "xl/worksheets/sheet1.xml",
            f'<worksheet xmlns="{ns}"><sheetData>'
            '<row r="1"><c r="A1" t="inlineStr"><is><t>temp</t></is></c>'
            '<c r="B1" t="inlineStr"><is><t>spare</t></is></c>'
            '<c r="C1" t="inlineStr"><is><t>rh</t></is></c>'
            '<c r="D1" t="inlineStr"><is><t>id</t></is></c></row>'
            '<row r="2"><c r="A2"><v>21.5</v></c><c r="C2"><v>55</v></c>'
            '<c r="D2"><v>9007199254740993</v></c></row>'
            '<row r="3"><c r="A3"><v>22</v></c>'
            '<c r="C3" t="inlineStr"><is><t>NA</t></is></c>'
            '<c r="D3"><v>2</v></c></row>'
            "</sheetData></worksheet>",
        )
    df = read_measurements_xlsx(spark, p4)
    types = dict(df.dtypes)
    assert types == {"temp": "double", "spare": "string", "rh": "string", "id": "bigint"}
    rows = {r["id"]: r for r in df.collect()}
    assert rows[9007199254740993]["temp"] == 21.5  # 2^53+1 survives as long
    assert rows[2]["temp"] == 22.0 and rows[2]["rh"] == "NA"
    assert df.where("spare IS NULL").count() == 2


def test_region_xlsx_report_round_trip(spark, tmp_path):
    """K7's real artifact shape: one worksheet per region via the
    stdlib multi-sheet writer, round-tripped through the stdlib reader
    — sheet names from the region column, rows deterministic, the
    report fence rejecting fact-table-sized input loudly."""
    import pytest

    from mysense_spark.sinks import export as E
    from mysense_spark.sources.xlsx import list_sheets, read_xlsx

    summary = spark.createDataFrame(
        [
            ("Venray", "kit1", "pm25", 12.5),
            ("Venray", "kit2", "pm25", 9.0),
            ("Venlo", "kit3", "rv", 55.0),
        ],
        "region string, kit_id string, field string, avg_value double",
    )
    p = str(tmp_path / "regions.xlsx")
    names = E.export_region_xlsx(summary, p)
    assert names == ["Venlo", "Venray"]
    assert list_sheets(p) == names
    venray = read_xlsx(p, sheet="Venray")
    assert [r["kit_id"] for r in venray] == ["kit1", "kit2"]
    assert venray[0]["avg_value"] == 12.5
    assert read_xlsx(p, sheet="Venlo") == [
        {"kit_id": "kit3", "field": "rv", "avg_value": 55.0}
    ]

    # the fence: report-sized or bust
    import pyspark.sql.functions as F

    big = spark.range(E._MAX_REPORT_ROWS + 1).select(
        F.lit("r").alias("region"), F.col("id").alias("kit_id")
    )
    with pytest.raises(ValueError, match="report writer"):
        E.export_region_xlsx(big, str(tmp_path / "big.xlsx"))


def test_xlsx_date_styles_tier(spark, tmp_path):
    """r9: the 'dates-as-styles' tier without openpyxl — numeric cells
    whose cellXfs style resolves to a date format (builtin id, or a
    custom code with date tokens after stripping quotes/[..]) convert to
    datetimes against the declared epoch (1900 and Mac-1904 systems);
    styled NON-date numbers stay numeric; no styles.xml means values
    stay numeric. The Spark reader types a pure date column timestamp."""
    import datetime as dt
    import zipfile

    from mysense_spark.sources.files import read_measurements_xlsx
    from mysense_spark.sources.xlsx import read_xlsx

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    styles = (
        f'<styleSheet xmlns="{ns}">'
        '<numFmts count="2">'
        '<numFmt numFmtId="164" formatCode="yyyy-mm-dd hh:mm"/>'
        # quoted literal "mm" and [Red] must NOT read as date tokens
        '<numFmt numFmtId="165" formatCode="[Red]0.00&quot;mm&quot;"/>'
        "</numFmts>"
        "<cellXfs count=\"4\">"
        '<xf numFmtId="0"/><xf numFmtId="14"/>'
        '<xf numFmtId="164"/><xf numFmtId="165"/>'
        "</cellXfs></styleSheet>"
    )

    def sheet(rows_xml):
        return f'<worksheet xmlns="{ns}"><sheetData>{rows_xml}</sheetData></worksheet>'

    hdr = (
        '<row r="1"><c r="A1" t="inlineStr"><is><t>when</t></is></c>'
        '<c r="B1" t="inlineStr"><is><t>len_mm</t></is></c>'
        '<c r="C1" t="inlineStr"><is><t>plain</t></is></c></row>'
    )
    # 45292.5 = 2024-01-01 12:00 under the 1900 system
    body = (
        '<row r="2"><c r="A2" s="1"><v>45292.5</v></c>'
        '<c r="B2" s="3"><v>7.25</v></c><c r="C2" s="0"><v>3</v></c></row>'
        '<row r="3"><c r="A3" s="2"><v>45292.75</v></c>'
        '<c r="B3" s="3"><v>8</v></c><c r="C3"><v>4.5</v></c></row>'
    )
    p = str(tmp_path / "dates.xlsx")
    with zipfile.ZipFile(p, "w") as z:
        z.writestr("xl/styles.xml", styles)
        z.writestr("xl/worksheets/sheet1.xml", sheet(hdr + body))
    rows = read_xlsx(p)
    assert rows[0]["when"] == dt.datetime(2024, 1, 1, 12, 0)
    assert rows[1]["when"] == dt.datetime(2024, 1, 1, 18, 0)  # custom fmt
    assert rows[0]["len_mm"] == 7.25 and rows[1]["len_mm"] == 8  # styled non-date
    assert rows[0]["plain"] == 3

    df = read_measurements_xlsx(spark, p)
    assert dict(df.dtypes)["when"] == "timestamp"
    got = {r["plain"]: r["when"] for r in df.collect()}
    assert got[3] == dt.datetime(2024, 1, 1, 12, 0)

    # 1904 epoch: the same serial shifts by the Mac epoch
    p2 = str(tmp_path / "mac.xlsx")
    with zipfile.ZipFile(p2, "w") as z:
        z.writestr("xl/styles.xml", styles)
        z.writestr(
            "xl/workbook.xml",
            f'<workbook xmlns="{ns}" '
            'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
            '<workbookPr date1904="1"/>'
            '<sheets><sheet name="s" sheetId="1" r:id="rId1"/></sheets></workbook>',
        )
        z.writestr(
            "xl/_rels/workbook.xml.rels",
            '<Relationships xmlns='
            '"http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/>'
            "</Relationships>",
        )
        z.writestr(
            "xl/worksheets/sheet1.xml",
            sheet(
                '<row r="1"><c r="A1" t="inlineStr"><is><t>when</t></is></c></row>'
                '<row r="2"><c r="A2" s="1"><v>100.5</v></c></row>'
            ),
        )
    (row,) = read_xlsx(p2)
    assert row["when"] == dt.datetime(1904, 1, 1) + dt.timedelta(days=100.5)

    # no styles.xml: the serial stays a number (degraded, never invented)
    p3 = str(tmp_path / "nostyles.xlsx")
    with zipfile.ZipFile(p3, "w") as z:
        z.writestr(
            "xl/worksheets/sheet1.xml",
            sheet(
                '<row r="1"><c r="A1" t="inlineStr"><is><t>when</t></is></c></row>'
                '<row r="2"><c r="A2" s="1"><v>45292.5</v></c></row>'
            ),
        )
    assert read_xlsx(p3) == [{"when": 45292.5}]


def test_xlsx_sheet_name_sanitization(tmp_path):
    """r10 ADVICE fix: Excel rejects/repairs workbooks whose sheet names
    are empty, exceed 31 chars, contain []:*?/\\, are apostrophe-edged,
    or collide case-insensitively — quoteattr alone only keeps the XML
    well-formed. The writer mangles deterministically and returns the
    names actually written; the stdlib reader sees the same names."""
    from mysense_spark.sources.xlsx import list_sheets, read_xlsx, write_xlsx_sheets

    rows = [{"a": 1}]
    p = str(tmp_path / "s.xlsx")
    names = write_xlsx_sheets(
        {
            "ok": rows,
            "a/b[c]:d*e?f\\g": rows,
            "x" * 40: rows,
            "OK": rows,  # case-insensitive collision with "ok"
            "": rows,
            "'edge quoted'": rows,
        },
        p,
    )
    assert names == [
        "ok",
        "a_b_c__d_e_f_g",
        "x" * 31,
        "OK~2",
        "sheet5",
        "edge quoted",
    ]
    assert list_sheets(p) == names
    assert read_xlsx(p, sheet="OK~2") == rows
    # determinism: same input -> byte-identical names again
    assert write_xlsx_sheets(dict.fromkeys(["A", "a", "A~2"], rows), p) == [
        "A",
        "a~2",
        "A~2~2",
    ]
    # the 31-char cap can EXPOSE a trailing apostrophe (30 chars + "'"
    # + tail survives the pre-strip); the post-cap strip must catch it
    assert write_xlsx_sheets({"a" * 30 + "'tail": rows}, p) == ["a" * 30]


def test_finalize_append_drains_pure_batch_backfill(spark, tmp_path, monkeypatch):
    """r10: a pure-BATCH backfill through append_day_partitioned (no
    stream run anywhere) must reach a fully compacted archive through
    finalize_append alone — every day physically deduped latest-row-wins
    (including NULL_DAY, which a finished backfill may close), every
    surviving file recorded in its day's sidecar, chunked draining
    across several passes, and a second call finding nothing to do."""
    import datetime as dt
    import os

    from mysense_spark.sinks import upsert as U

    keys, oc = ["kit_id", "ts", "field"], "ingest_ts"
    path = str(tmp_path / "arch")
    days = [dt.datetime(2024, 1, d, 10) for d in range(1, 6)]  # 5 days
    for b in range(2):  # two overlapping batches per day -> duplicates
        rows = [
            (f"k{i}", day, "pm25", float(b * 100 + i), dt.datetime(2024, 6, 1 + b))
            for day in days
            for i in range(3)
        ]
        rows.append(("knull", None, "pm25", float(b), dt.datetime(2024, 6, 1 + b)))
        U.append_day_partitioned(_mk_batch(spark, rows), path)
    assert spark.read.parquet(path).count() == 32  # 2*(15+1), nothing deduped

    want = {
        (r["kit_id"], r["ts"], r["field"]): r["value"]
        for r in U.latest_view(spark.read.parquet(path), keys, oc).collect()
    }
    monkeypatch.setattr(U, "_BACKFILL_CHUNK_DAYS", 2)  # force several passes
    done = U.finalize_append(spark, path, keys, oc)
    assert done == [f"2024-01-0{d}" for d in range(1, 6)] + [U.NULL_DAY]
    got = {
        (r["kit_id"], r["ts"], r["field"]): r["value"]
        for r in spark.read.parquet(path).collect()
    }
    assert got == want
    assert spark.read.parquet(path).count() == 16  # physically deduped
    # every day is marked: all surviving files recorded in its sidecar
    for d in os.listdir(path):
        if not d.startswith(f"{U.DAY_COL}="):
            continue
        day_dir = os.path.join(path, d)
        recorded = U._load_ranges(day_dir, "kit_id")
        on_disk = [f for f in os.listdir(day_dir) if f.endswith(".parquet")]
        assert on_disk and all(f in recorded for f in on_disk), d
    # idempotent: nothing left to drain, and a frontier keeps days open
    assert U.finalize_append(spark, path, keys, oc) == []
    U.append_day_partitioned(
        _mk_batch(spark, [("k9", days[-1], "pm25", 9.0, dt.datetime(2024, 6, 9))]), path
    )
    assert U.finalize_append(
        spark, path, keys, oc, before_day="2024-01-05", include_null_day=False
    ) == []  # the touched day sits AT the frontier -> still open
    assert U.finalize_append(spark, path, keys, oc) == ["2024-01-05"]
