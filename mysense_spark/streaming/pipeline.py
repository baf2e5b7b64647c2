"""The MySense ingest pipeline, Spark-first (SURVEY.md §3.1):

  lines -> TTN normalize (S3) -> LoRa decode (S4) -> explode to the long
  fact format -> field-name translate (P1) -> range validate (P2) ->
  watermark + dedup (late/duplicate handling) -> upsert sink (K1)

One transform chain serves BATCH (file replay, the reference's .mqtt
corpora — S2) and STREAMING (`readStream` on a drop directory or a
Kafka/MQTT bridge). The reference runs the same record path in a Python
loop one datagram at a time; here every stage is a DataFrame operator.

Scale notes:
- decode is the only Python stage (Arrow pandas UDF), placed after the
  envelope parse so its input is just (payload, port).
- the long format makes "new sensor field" a data event — no DDL, no
  schema evolution race (the reference ALTERs MySQL tables mid-stream,
  lib/MyDB.py:256-267).
- dedup key (kit_id, ts, field) + watermark replaces REPLACE INTO
  idempotence (lib/MyARCHIVE.py:426-432).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..io import values_df
from ..registry import FIELD_REGISTRY, FIELD_TRANSLATE, PASSTHROUGH_FIELDS, VALID_BOUNDS
from ..sources.lora import make_decode_udf
from ..sources.ttn import parse_envelopes

# decoded JSON is {sensor_type: {field: value}}. Values parse as strings
# (port-10 Libelium frames carry a string-valued meta block that a double
# map would reject wholesale) and are cast to double after the meta block
# is filtered out — numeric JSON round-trips exactly through the cast.
_DECODED_SCHEMA = "map<string, map<string, string>>"


def _translate_expr(col):
    """P1 field-name translation as a column expression — the exact
    column-side mirror of registry.translate_field (MyDatacollector.py:
    332-349): exact map hit, else normalized lowercase (_pcs->_cnt,
    2.5->25, 0.3->03, 0.5->05) against the registry / lowercase map,
    else a 'field_' prefix so unknown names can't silently alias a
    registered field. Previously this was a lowercase-and-exact-hit-only
    reimplementation that let 'pm2.5_pcs'-style names through untranslated
    (skipping the unit join and bounds validation)."""
    n = F.trim(col)
    exact = F.lit(None).cast("string")
    for src, dst in FIELD_TRANSLATE.items():
        exact = F.when(n == src, F.lit(dst)).otherwise(exact)
    low = F.lower(n)
    for pat, rep in ((r"_pcs", "_cnt"), (r"2\.5", "25"), (r"0\.3", "03"), (r"0\.5", "05")):
        low = F.regexp_replace(low, pat, rep)
    known = set(FIELD_REGISTRY) | set(PASSTHROUGH_FIELDS)
    low_hit = F.when(low.isin(*sorted(known)), low)
    low_map = F.lit(None).cast("string")
    for src, dst in FIELD_TRANSLATE.items():
        if src == src.lower():
            low_map = F.when(low == src, F.lit(dst)).otherwise(low_map)
    return F.coalesce(exact, low_hit, low_map, F.concat(F.lit("field_"), low))


def decode_stream(normalized: DataFrame) -> DataFrame:
    """Normalized envelopes -> long fact rows
    (kit_id, ts, sensor_type, field, value, unit, valid)."""
    decode_udf = make_decode_udf()
    # ports 2/4/12 (MySense datagrams) and 10 (Libelium WaspMote) all
    # carry measurements; port 3 is meta/event and has its own stream
    # (meta_event_stream) — nothing valid falls through to dead-letter.
    decoded = normalized.where(F.col("port").isin(2, 4, 10, 12)).withColumn(
        "decoded", F.from_json(decode_udf(F.col("payload_raw"), F.col("port")), _DECODED_SCHEMA)
    )
    long_rows = (
        decoded.select(
            F.concat_ws("_", "app_id", "dev_id").alias("kit_id"),
            F.col("serial"),
            F.col("event_ts").alias("ts"),
            F.col("ingest_ts"),
            F.explode("decoded").alias("sensor_type", "fields"),
        )
        # the meta block (port-10 frame header: serial/wasp_id/seq) is not
        # a measurement; drop it before the numeric cast
        .where(F.col("sensor_type") != "meta")
        .select(
            "kit_id",
            "serial",
            "ts",
            "ingest_ts",
            "sensor_type",
            F.explode("fields").alias("raw_field", "value"),
        )
        .withColumn("value", F.col("value").cast("double"))
        .withColumn("field", _translate_expr(F.col("raw_field")))
        .drop("raw_field")
    )
    # registry join: unit + category (broadcast dimension, J1 pattern)
    units = [(f, u, c) for f, (u, _p, c) in FIELD_REGISTRY.items()]
    spark = normalized.sparkSession
    unit_dim = values_df(spark, units, "field string, unit string, category string")
    enriched = long_rows.join(F.broadcast(unit_dim), "field", "left")
    # P2 range validation from the bounds registry
    valid = F.lit(True)
    for fname, (lo, hi) in VALID_BOUNDS.items():
        valid = F.when(F.col("field") == fname, F.col("value").between(lo, hi - 1e-9)).otherwise(valid)
    return enriched.withColumn("valid", valid).select(
        "kit_id", "serial", "ts", "ingest_ts", "sensor_type", "field", "value", "unit", "category", "valid"
    )


def dead_letter_stream(normalized: DataFrame) -> DataFrame:
    """Quarantine path: records the decoder cannot handle (unsupported
    port, malformed payload) — kept with a reason instead of silently
    dropped, so replay after a decoder fix is possible (the reference
    logs-and-drops; at scale a quarantine table is the recoverable
    version of that)."""
    decode_udf = make_decode_udf()
    measurement_ports = (2, 3, 4, 10, 12)
    attempted = normalized.withColumn(
        "decoded_json",
        F.when(F.col("port").isin(*measurement_ports), decode_udf(F.col("payload_raw"), F.col("port"))),
    )
    return attempted.where(
        F.col("payload_raw").isNull()
        | ~F.col("port").isin(*measurement_ports)
        | F.col("decoded_json").isNull()
    ).select(
        F.concat_ws("_", "app_id", "dev_id").alias("kit_id"),
        "port",
        "payload_raw",
        F.col("event_ts").alias("ts"),
        F.when(F.col("payload_raw").isNull(), F.lit("no_payload"))
        .when(~F.col("port").isin(*measurement_ports), F.lit("unsupported_port"))
        .otherwise(F.lit("decode_error"))
        .alias("reason"),
    )


def envelope_dead_letters(lines: DataFrame) -> DataFrame:
    """Envelope-level quarantine: PERMISSIVE from_json turns a corrupted
    or truncated line into an ALL-NULL struct, which parse_envelopes
    filters out (no device identity) — so without this side output such
    a line would vanish with no quarantine row, breaking the
    quarantine-and-replay contract for envelope-level corruption. The
    RAW LINE rides in payload_raw so replay after a parser fix is
    possible."""
    from ..sources.ttn import ENVELOPE_SCHEMA, _strip_topic, envelope_identity

    parsed = lines.select(
        F.col("value"),
        F.from_json(_strip_topic(F.col("value")), ENVELOPE_SCHEMA).alias("r"),
        F.current_timestamp().alias("ingest_ts"),
    )
    # blank lines (trailing newline in dump files) are not corruption
    return parsed.where(
        (F.trim("value") != "") & envelope_identity(F.col("r")).isNull()
    ).select(
        F.lit(None).cast("string").alias("kit_id"),
        F.lit(None).cast("int").alias("port"),
        F.col("value").alias("payload_raw"),
        F.col("ingest_ts").alias("ts"),
        F.lit("envelope_error").alias("reason"),
    )


def all_dead_letters(lines: DataFrame) -> DataFrame:
    """The complete quarantine view over raw dump lines: envelope-level
    failures (unparseable JSON) plus decoder-level failures (unsupported
    port, missing/undecodable payload)."""
    return envelope_dead_letters(lines).unionByName(
        dead_letter_stream(parse_envelopes(lines))
    )


def events_stream(normalized: DataFrame) -> DataFrame:
    """Port-3 meta/event side output (SURVEY §2.11: registry mutations)."""
    decode_udf = make_decode_udf()
    return (
        normalized.where(F.col("port") == 3)
        .withColumn("decoded_json", decode_udf(F.col("payload_raw"), F.col("port")))
        .select(
            F.concat_ws("_", "app_id", "dev_id").alias("kit_id"),
            F.col("event_ts").alias("ts"),
            F.get_json_object("decoded_json", "$.meta.version").cast("double").alias("version"),
            F.get_json_object("decoded_json", "$.meta.event").cast("int").alias("event"),
            F.get_json_object("decoded_json", "$.meta.value").cast("int").alias("event_value"),
            F.get_json_object("decoded_json", "$.meta.dust").alias("dust"),
            F.get_json_object("decoded_json", "$.meta.meteo").alias("meteo"),
        )
    )


def run_file_batch(spark, path: str) -> DataFrame:
    """S2 batch replay: the whole pipeline over an MQTT dump file."""
    lines = spark.read.text(path)
    return decode_stream(parse_envelopes(lines))


def hourly_stats_stream(fact_stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """A2 streaming twin: watermarked tumbling-window AVG/COUNT per
    (kit, field) — the grubbs.py:1137-1143 timeslice aggregation as a
    Structured Streaming windowed aggregate. Late rows beyond the
    watermark are dropped; the window closes and emits once per trigger
    in append mode."""
    return (
        fact_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "kit_id", "field")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.round(F.min("value"), 4).alias("min_value"),
            F.round(F.max("value"), 4).alias("max_value"),
        )
        .select(F.col("win.start").alias("hour"), "kit_id", "field", "n", "avg_value", "min_value", "max_value")
    )


def session_stats_stream(
    fact_stream: DataFrame, gap: str = "6 hours", watermark: str = "2 hours"
) -> DataFrame:
    """Native session windows per kit: a session closes after `gap` of
    silence (the streaming form of the gap/restart detection,
    MyDatacollector.py:1207-1222, and the stateful twin of the
    `event_sessions` batch query's lag+cumsum). State is merged by
    Spark's session-window aggregation — no custom state handler — and
    emitted once the watermark passes the session end."""
    return (
        fact_stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "kit_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "kit_id",
            "n_events",
            "avg_value",
        )
    )


def kafka_lines(records: DataFrame) -> DataFrame:
    """Normalize Kafka records to the dump-file line shape consumed by
    parse_envelopes: the record key carries the MQTT topic (the bridge
    convention for MQTT->Kafka mirroring), the value the JSON envelope —
    reassembled as '<topic> <json>'. Pure transform, shared by the live
    connector and its tests (no broker in this container)."""
    return records.select(
        F.concat_ws(
            " ", F.col("key").cast("string"), F.col("value").cast("string")
        ).alias("value")
    )


def run_lines_stream(
    lines: DataFrame,
    checkpoint: str,
    out_dir: str,
    watermark: str = "2 hours",
    trigger: str | None = "available_now",
    archive_mode: str = "merge",
    append_partitions: int | None = None,
    auto_compact: bool = False,
):
    """Shared S1/S2 tail: envelope parse -> decode -> watermark + dedup on
    the upsert key -> parquet upsert via foreachBatch. Every source
    (drop-dir, Kafka, socket, replay file) funnels through this one
    chain, so a connector swap cannot change pipeline semantics.

    `trigger`: "available_now" (default — drain-and-stop, for replayable
    sources), a processing-time interval string ("5 seconds"), or None
    for as-fast-as-possible micro-batches (required for the socket
    source, which cannot replay and so cannot run availableNow).

    Archive layout: always day-partitioned (`day=YYYY-MM-DD/`), so
    per-batch I/O is the touched days — and within them the touched
    files — only. A flat archive laid down by an older deployment is
    refused by the sinks' layout guard (no silent migration
    mid-stream): run sinks.upsert.migrate_to_partitioned on it once
    first.

    `archive_mode`: "merge" (default) upserts each micro-batch —
    latest-row-wins visible immediately, but a fleet-wide steady state
    rewrites each day ~batches/2 times (SCALING.md). "append" writes
    only the batch's own bytes (amplification 1) and defers dedup to a
    scheduled `sinks.upsert.compact_days` (or `latest_view` on read) — the
    at-scale ingest shape: append all day, compact the closed day once.
    `append_partitions` is append_day_partitioned's files-per-batch
    bound: without it each micro-batch writes shuffle-partition-count
    row-group-sized files per day and parquet footers dominate the
    bytes (measured 4.6x vs ~2.1x tuned — SCALING.md); size it so
    batch_bytes/append_partitions ~ the archive's file-size target.
    With `auto_compact` (r9, opt-in) the append tail closes days
    ITSELF: at each micro-batch end, days that have rolled past the
    watermark frontier (max event time seen minus the watermark — the
    stream drops anything older, so no row can reach them again) and
    still hold files not recorded in their `_key_ranges.json` sidecar
    are compacted in-batch via `compact_closed_days` — serialized with
    the appends inside foreachBatch. Steady state then needs no
    external scheduler: append all day, and the first batch after
    midnight compacts yesterday. OPT-IN, not default: enabling it makes
    the STREAM the archive's one compactor, so remove any externally
    scheduled `compact_days` first — two compactors on one path violate
    the single merger/compactor contract and can race the shared
    stage/manifest into data loss. On a pre-sidecar archive (days
    compacted before r9 recorded ranges), run `compact_days` once
    offline before enabling, or the first enabled batch treats every
    closed day as uncompacted (the in-stream backlog drains at most
    30 days per batch end, oldest first).

    State store: the dropDuplicates dedup keys state per
    (kit_id, ts, field) within the watermark horizon — at fleet scale
    that is millions of live keys, so the query starts under the
    RocksDB provider (state spills to local disk; heap is bounded by
    the block cache) unless the session already pins a provider. The
    conf is snapshot per query at start() and recorded in the
    checkpoint, so scoping it here neither leaks into the session nor
    flips an existing checkpoint's provider. Per-key state is ~100 B
    (key + watermark timestamp); sizing is keys-within-horizon x that,
    per state partition.

    Returns the StreamingQuery (caller awaits/stops)."""
    from ..session import _STATE_STORE_PROVIDERS
    from ..sinks.upsert import (
        _scoped_conf,
        append_day_partitioned,
        compact_closed_days,
        upsert_parquet_partitioned,
    )

    if archive_mode not in ("merge", "append"):
        raise ValueError(f"archive_mode {archive_mode!r}: use 'merge' or 'append'")

    fact = (
        decode_stream(parse_envelopes(lines))
        .withWatermark("ts", watermark)
        .dropDuplicates(["kit_id", "ts", "field"])
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if archive_mode == "append":
            if not auto_compact:
                append_day_partitioned(
                    batch_df, out_dir, ts_col="ts", partitions=append_partitions
                )
                return
            # two actions over the batch lineage (append + frontier agg)
            # — persist so the decode UDF chain runs once, the same
            # rule upsert_parquet_partitioned applies
            batch_df.persist()
            try:
                append_day_partitioned(
                    batch_df, out_dir, ts_col="ts", partitions=append_partitions
                )
                # control-plane 1-row agg: the day of (event-time
                # frontier - watermark), computed IN SPARK so the day
                # string uses the same session timezone as the archive's
                # day column (a driver-local strftime would shift the
                # close decision by the tz offset), and the interval is
                # parsed by the same engine grammar withWatermark uses
                close_before = batch_df.agg(
                    F.date_format(
                        F.max("ts") - F.expr(f"INTERVAL {watermark}"),
                        "yyyy-MM-dd",
                    )
                ).first()[0]
                if close_before is not None:
                    compact_closed_days(
                        batch_df.sparkSession,
                        out_dir,
                        keys=["kit_id", "ts", "field"],
                        order_col="ingest_ts",
                        before_day=close_before,
                    )
            finally:
                batch_df.unpersist()
            return
        upsert_parquet_partitioned(
            batch_df, out_dir, keys=["kit_id", "ts", "field"], order_col="ingest_ts", ts_col="ts"
        )

    writer = fact.writeStream.foreachBatch(sink).option("checkpointLocation", checkpoint)
    if trigger == "available_now":
        writer = writer.trigger(availableNow=True)
    elif trigger is not None:
        writer = writer.trigger(processingTime=trigger)
    spark = lines.sparkSession
    if spark.conf.get("spark.sql.streaming.stateStore.providerClass", None) is None:
        with _scoped_conf(
            spark,
            **{
                "spark.sql.streaming.stateStore.providerClass": _STATE_STORE_PROVIDERS[
                    "rocksdb"
                ]
            },
        ):
            return writer.start()
    return writer.start()


def run_file_stream(
    spark,
    in_dir: str,
    checkpoint: str,
    out_dir: str,
    watermark: str = "2 hours",
    archive_mode: str = "merge",
    append_partitions: int | None = None,
    auto_compact: bool = False,
):
    """S2 live twin: readStream on a drop directory of MQTT dump files
    into a day-partitioned archive (see run_lines_stream).

    `auto_compact` is strictly OPT-IN (default False, matching
    run_lines_stream): enabling it makes THIS stream the archive's sole
    compactor, and a deployment with an externally scheduled
    compact_days must not silently gain a second compactor (the
    single-merger contract — two compactors can race the shared
    stage/manifest). Pre-sidecar archives also need the offline
    backfill prep before the first auto-compacting run."""
    return run_lines_stream(
        spark.readStream.text(in_dir), checkpoint, out_dir, watermark,
        archive_mode=archive_mode, append_partitions=append_partitions,
        auto_compact=auto_compact,
    )


def run_kafka_stream(
    spark,
    brokers: str,
    topic: str,
    checkpoint: str,
    out_dir: str,
    watermark: str = "2 hours",
    starting_offsets: str = "earliest",
):
    """S1: live connector via the Kafka source (the TTN/MQTT broker is
    mirrored into Kafka; a direct paho-MQTT receiver has no Spark source
    and would serialize through the driver). Requires the
    spark-sql-kafka package on the classpath at deploy time; everything
    downstream of the source is run_lines_stream, identical to the file
    path."""
    records = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return run_lines_stream(kafka_lines(records), checkpoint, out_dir, watermark)


def run_socket_stream(
    spark,
    host: str,
    port: int,
    checkpoint: str,
    out_dir: str,
    watermark: str = "2 hours",
):
    """S1 live-PUSH transport via Spark's built-in socket source: an
    MQTT bridge (e.g. `mosquitto_sub ... | nc -l`) pushes '<topic>
    <json>' lines over TCP and the stream lands in the archive with NO
    file staging — the transport-level behavior the drop-dir path
    cannot exercise (unbounded push, no per-file atomicity). Everything
    after the source is run_lines_stream, byte-identical to the file
    and Kafka paths, so the connector swap cannot change pipeline
    semantics (proven live by test_socket_stream_end_to_end, which
    drives a real localhost TCP server through this function).

    Deployment note: the socket source is at-most-once (no replay on
    failure — Spark's own caveat) and single-connection; it is the
    live-bridge/dev transport. The at-least-once production path is
    Kafka (run_kafka_stream, package-gated in this runtime)."""
    lines = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )
    return run_lines_stream(lines, checkpoint, out_dir, watermark, trigger=None)
