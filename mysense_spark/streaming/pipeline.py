"""The MySense ingest pipeline, Spark-first (SURVEY.md §3.1):

  lines -> TTN normalize (S3) -> typed decode (S4 + P1 + P2) -> inline
  to the long fact format -> watermark + dedup (late/duplicate
  handling) -> upsert sink (K1)

One transform chain serves BATCH (file replay, the reference's .mqtt
corpora — S2) and STREAMING (`readStream` on a drop directory or a
Kafka/MQTT bridge). The reference runs the same record path in a Python
loop one datagram at a time; here every stage is a DataFrame operator.

Scale notes:
- decode is the only Python stage: one Arrow UDF, placed after the
  envelope parse so its input is just (payload, port). It returns each
  datagram's fact rows already typed — field name translated
  (`registry.translate_field`), unit and category looked up, `valid`
  computed from `VALID_BOUNDS` (`fact_rows`) — and one `F.inline`
  expands them. Like MySense's datacollector, one pass per datagram
  decodes, translates and validates: no JSON re-parse of the decode
  output, and no registry join (a broadcast join costs one Spark job
  on every trigger).
- the same UDF's NULL (undecodable payload) is the quarantine's
  `decode_error` (dead_letter_stream), so one decode decides both the
  fact rows and the dead letters.
- the long format makes "new sensor field" a data event — no DDL, no
  schema evolution race (the reference ALTERs MySQL tables mid-stream,
  lib/MyDB.py:256-267).
- dedup key (kit_id, ts, field) + watermark replaces REPLACE INTO
  idempotence (lib/MyARCHIVE.py:426-432).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import DataType

from ..registry import FIELD_REGISTRY, VALID_BOUNDS, translate_field
from ..sources.lora import decode_payload
from ..sources.ttn import parse_envelopes

# the decode UDF's return type: one struct per measured field of a
# datagram, expanded to rows by a single F.inline
_FACT_ROWS_TYPE = (
    "array<struct<sensor_type string, field string, value double, "
    "unit string, category string, valid boolean>>"
)
# the port-3 event UDF's return type: the datagram's meta block
_EVENT_TYPE = "struct<version double, event int, event_value int, dust string, meteo string>"


def fact_rows(payload_b64: str, port: int) -> list[tuple] | None:
    """One datagram -> its typed fact rows
    (sensor_type, field, value, unit, category, valid), or None when the
    payload does not decode. Applies the registry rules in the same
    pass: P1 field-name translation (`translate_field`), the unit and
    category of the field registry (None for an unregistered field) and
    P2 range validation — `lo <= value <= hi - 1e-9` for a bounded field
    (None for a missing value; NaN and +-inf fail), True for any other.
    The port-10 meta block (frame header: serial/wasp_id/seq) is not a
    measurement and yields no row, so a port-3 datagram decodes to [].
    Rows come sensor-type then field in sorted order, so when two
    sensors of one datagram report the same field the stream's dedup
    keeps the same one on every run."""
    try:
        decoded = decode_payload(payload_b64, port)
        rows = []
        for sensor_type in sorted(decoded):
            if sensor_type == "meta":
                continue
            fields = decoded[sensor_type]
            for raw in sorted(fields):
                v = fields[raw]
                value = None if v is None else float(v)
                field = translate_field(raw)
                unit, _precision, category = FIELD_REGISTRY.get(field, (None, None, None))
                bounds = VALID_BOUNDS.get(field)
                if bounds is None:
                    valid = True
                elif value is None:
                    valid = None
                else:
                    valid = bounds[0] <= value <= bounds[1] - 1e-9
                rows.append((sensor_type, field, value, unit, category, valid))
        return rows
    except Exception:
        return None


def event_meta(payload_b64: str, port: int) -> tuple | None:
    """A port-3 datagram -> its meta block as (version, event,
    event_value, dust, meteo), None for a key the datagram does not
    carry; None when the payload does not decode."""
    try:
        meta = decode_payload(payload_b64, port)["meta"]
        return (
            meta["version"],
            meta.get("event"),
            meta.get("value"),
            meta.get("dust"),
            meta.get("meteo"),
        )
    except Exception:
        return None


def _decode_udf(row_fn, ddl: str):
    """Arrow UDF: (payload_raw, port) -> row_fn(payload, port) typed as
    `ddl`, NULL for a NULL payload or port. Arrow arrays in and out
    with no pandas step: pandas would hand a nullable port over as
    float64 and, on the way back, turn a NaN value into NULL."""
    arrow_type = to_arrow_type(DataType.fromDDL(ddl))

    def decode_arrays(payload: pa.Array, port: pa.Array) -> pa.Array:
        return pa.array(
            [
                row_fn(p, pt) if p is not None and pt is not None else None
                for p, pt in zip(payload.to_pylist(), port.to_pylist())
            ],
            type=arrow_type,
        )

    return F.arrow_udf(decode_arrays, ddl)


def _fact_rows_udf():
    """Arrow UDF: (payload_raw, port) -> fact_rows."""
    return _decode_udf(fact_rows, _FACT_ROWS_TYPE)


def decode_stream(normalized: DataFrame) -> DataFrame:
    """Normalized envelopes -> long fact rows
    (kit_id, serial, ts, ingest_ts, sensor_type, field, value, unit,
    category, valid)."""
    # ports 2/4/12 (MySense datagrams) and 10 (Libelium WaspMote) all
    # carry measurements; port 3 is meta/event and has its own stream
    # (meta_event_stream) — nothing valid falls through to dead-letter.
    return normalized.where(F.col("port").isin(2, 4, 10, 12)).select(
        F.concat_ws("_", "app_id", "dev_id").alias("kit_id"),
        "serial",
        F.col("event_ts").alias("ts"),
        "ingest_ts",
        F.inline(_fact_rows_udf()(F.col("payload_raw"), F.col("port"))),
    )


def dead_letter_stream(normalized: DataFrame) -> DataFrame:
    """Quarantine path: records the decoder cannot handle (unsupported
    port, malformed payload) — kept with a reason instead of silently
    dropped, so replay after a decoder fix is possible (the reference
    logs-and-drops; at scale a quarantine table is the recoverable
    version of that)."""
    measurement_ports = (2, 3, 4, 10, 12)
    decoded = _fact_rows_udf()(F.col("payload_raw"), F.col("port"))
    attempted = normalized.withColumn(
        "decoded", F.when(F.col("port").isin(*measurement_ports), decoded)
    )
    return attempted.where(
        F.col("payload_raw").isNull()
        | ~F.col("port").isin(*measurement_ports)
        | F.col("decoded").isNull()
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
    """Port-3 meta/event side output (SURVEY §2.11: registry mutations):
    (kit_id, ts, version, event, event_value, dust, meteo), all five
    meta columns NULL for a payload that does not decode."""
    meta = _decode_udf(event_meta, _EVENT_TYPE)(F.col("payload_raw"), F.col("port"))
    return normalized.where(F.col("port") == 3).select(
        F.concat_ws("_", "app_id", "dev_id").alias("kit_id"),
        F.col("event_ts").alias("ts"),
        meta.alias("meta"),
    ).select("kit_id", "ts", "meta.*")


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
