"""K1: idempotent upsert sink — REPLACE-INTO-keyed-on-(kit, datum)
semantics (lib/MyARCHIVE.py:360-456) as a latest-row-wins merge.

One archive layout, one commit protocol (no Delta in this runtime):

- Layout: hive day partitions `day=YYYY-MM-DD/` (null timestamps land
  on the NULL_DAY sentinel). A micro-batch merge reads ONLY the days
  the batch touches — and within each day only the files whose key
  range the batch can collide with — so untouched days and files are
  never read, never rewritten, and stay byte-identical on disk.
  Per-micro-batch I/O is O(touched files), not O(archive) — the
  REPLACE-INTO cost model of the reference's per-day-indexed MySQL
  archive, on plain parquet.
- Commit: every archive write that replaces files — the merge
  (`upsert_parquet_partitioned`), the compactor (`compact_days`) and
  the one-shot flat-archive migration (`migrate_to_partitioned`) —
  goes manifest -> stage -> promote: the manifest listing the files to
  replace is written durably first, the merged data is staged in a
  `__stage` sibling, then the promote moves the staged files in and
  deletes the replaced ones. Every entry finishes or discards an
  interrupted commit first (`_recover_file_merge`), so a crash at any
  point is completed by the next entry; streaming checkpoint replay
  provides the outer at-least-once retry. Blind appends
  (`append_day_partitioned`) add files and replace none.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

DAY_COL = "day"
# null timestamps get a fixed sentinel day so the touched-day filter
# treats them like any other partition (a NULL day would silently fall
# outside the isin() pruning filter, and a hive write would put the rows
# in __HIVE_DEFAULT_PARTITION__, where no merge ever finds them again)
NULL_DAY = "0000-00-00"


def _day(ts_col: str) -> Column:
    """The archive's day-partition value of `ts_col` — the one
    derivation every writer uses, so a row's day never depends on which
    writer laid it down."""
    return F.coalesce(F.date_format(F.col(ts_col), "yyyy-MM-dd"), F.lit(NULL_DAY))


def _layout(path: str) -> str | None:
    """Detect the archive layout on disk: 'partitioned' (day= dirs),
    'flat' (top-level parquet files), or None (absent/empty). The sinks
    check this at entry: a flat archive (laid down by an older
    deployment or by hand) would crash the merge on the missing day
    column, and a loud error naming the migration beats that."""
    if not os.path.exists(path):
        return None
    names = os.listdir(path)
    if any(f.startswith(f"{DAY_COL}=") for f in names):
        return "partitioned"
    if any(f.endswith(".parquet") for f in names):
        return "flat"
    return None


class _scoped_conf:
    """Set SQL confs for the duration of a write, restoring previous
    values after — the sink must not leak session-wide planner state."""

    def __init__(self, spark: SparkSession, **confs: str):
        self.spark = spark
        self.confs = confs
        self.saved: dict[str, str | None] = {}

    def __enter__(self):
        for k, v in self.confs.items():
            self.saved[k] = self.spark.conf.get(k, None)
            self.spark.conf.set(k, v)

    def __exit__(self, *exc):
        for k, old in self.saved.items():
            if old is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, old)


# --- file-level pruned merge (r8): bound write amplification ----------------

_BACKFILL_CHUNK_DAYS = 30  # days staged per commit on deep backfills
# driver-side guard: above this many distinct (day, key) pairs the batch
# is fleet-wide and file pruning cannot help — fall back to whole-day
# selection instead of collecting an unbounded control-plane list
_MAX_PRUNE_KEYS = 100_000


def _file_key_ranges(files: list[str], col: str) -> dict[str, tuple]:
    """Per-file [min, max] of `col` from parquet footer statistics
    (pyarrow, driver-side control plane over the file LIST — never
    data). Files without stats map to (None, None) = always selected."""
    import pyarrow.parquet as pq

    out: dict[str, tuple] = {}
    for f in files:
        lo = hi = None
        try:
            md = pq.ParquetFile(f).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            if col in idx:
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx[col]).statistics
                    if st is None or not st.has_min_max:
                        lo = hi = None
                        break
                    lo = st.min if lo is None or st.min < lo else lo
                    hi = st.max if hi is None or st.max > hi else hi
        except Exception:
            lo = hi = None
        out[f] = (lo, hi)
    return out


_RANGES = "_key_ranges.json"


def _prune_col(keys: list[str], ts_col: str) -> str | None:
    """The file-pruning axis: the first non-time key (batches are sparse
    on it, and the stage write range-partitions by it) — one definition
    for the merge, the compactor, and the day-close detector."""
    cols = [k for k in keys if k != ts_col]
    return cols[0] if cols else None


def _valid_entry(ent, size: int) -> bool:
    """A sidecar entry vouches for a file iff it has the [lo, hi, size]
    shape and the recorded size still matches the file on disk."""
    return isinstance(ent, list) and len(ent) == 3 and ent[2] == size


def _ranges_path(day_dir: str) -> str:
    # underscore-prefixed ⇒ invisible to Spark's parquet listing
    return os.path.join(day_dir, _RANGES)


def _load_ranges(day_dir: str, prune_col: str) -> dict[str, list]:
    """The day's recorded file key ranges: {file name: [lo, hi, size]}.
    Empty on any problem — missing sidecar (legacy day), torn JSON, or a
    sidecar recorded for a DIFFERENT prune column — the caller falls
    back to footer reads, so a bad sidecar can only cost I/O, never
    correctness."""
    import json

    try:
        with open(_ranges_path(day_dir)) as fh:
            doc = json.load(fh)
        if doc.get("col") != prune_col:
            return {}
        files = doc.get("files", {})
        return files if isinstance(files, dict) else {}
    except Exception:
        return {}


def _record_ranges(day_dir: str, prune_col: str) -> None:
    """Refresh the day's sidecar after a promote: keep still-valid
    entries, footer-read only the files NOT yet recorded (the
    just-promoted ones — plus, once per legacy day, its pre-sidecar
    files, which self-heals old archives into the recorded path), drop
    entries whose file is gone or resized. Written atomically
    (tmp + os.replace) by the single merger/compactor — appends never
    write it (their files simply fall back to footer reads until the
    day-close compaction records them). Values that do not survive JSON
    (e.g. timestamp keys) are recorded as [None, None] — still counted
    as recorded by the day-close detector, but footer-read at selection
    time; never a wrong range."""
    import json

    if prune_col is None or not os.path.isdir(day_dir):
        return
    old = _load_ranges(day_dir, prune_col)
    out: dict[str, list] = {}
    missing: list[str] = []
    for f in sorted(os.listdir(day_dir)):
        if not f.endswith(".parquet"):
            continue
        size = os.path.getsize(os.path.join(day_dir, f))
        ent = old.get(f)
        if _valid_entry(ent, size):
            out[f] = ent
        else:
            missing.append(f)
    for f, (lo, hi) in _file_key_ranges(
        [os.path.join(day_dir, f) for f in missing], prune_col
    ).items():
        name = os.path.basename(f)
        try:
            json.dumps([lo, hi])
        except TypeError:
            # range values that do not survive JSON (date/bytes/decimal
            # prune keys): record [None, None] — the file is RECORDED
            # (so the day-close detector does not mistake it for a fresh
            # append and re-compact the day forever) but carries no
            # usable range, and _select_files footer-reads it instead
            lo = hi = None
        out[name] = [lo, hi, os.path.getsize(f)]
    final = _ranges_path(day_dir)
    tmp = final + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"col": prune_col, "files": out}, fh)
    os.replace(tmp, final)


def _select_files(day_dir: str, batch_keys: list | None, prune_col: str) -> tuple[list, list]:
    """Split a day directory's parquet files into (replace, keep): a file
    must be merged iff its [min, max] range of `prune_col` contains ANY
    of the batch's keys for that day (None stats or a None key list ⇒
    conservatively merge). Files the batch cannot collide with are never
    read, never rewritten, and stay byte-identical.

    Ranges come from the day's `_key_ranges.json` sidecar (recorded at
    promote time — r9), validated per entry by file size; files missing
    from the sidecar (legacy days, fresh appends, stale entries) fall
    back to the driver-side parquet-footer read. At a multi-thousand-
    file day the sidecar turns the per-merge footer loop into one JSON
    read + one stat per file (SCALING.md)."""
    import bisect

    files = sorted(
        os.path.join(day_dir, f)
        for f in os.listdir(day_dir)
        if f.endswith(".parquet")
    )
    if batch_keys is None or any(k is None for k in batch_keys):
        # no key list (fleet-wide fallback) or NULL keys (footer stats
        # say nothing about NULL rows): conservatively merge every file
        return files, []
    recorded = _load_ranges(day_dir, prune_col)
    ranges: dict[str, tuple] = {}
    fallback: list[str] = []
    for f in files:
        ent = recorded.get(os.path.basename(f))
        if (
            _valid_entry(ent, os.path.getsize(f))
            # a recorded [None, None] means "recorded, range unusable"
            # (JSON-hostile key type, or genuinely stat-less) — consult
            # the footer, which yields a real range when one exists
            and not (ent[0] is None and ent[1] is None)
        ):
            ranges[f] = (ent[0], ent[1])
        else:
            fallback.append(f)
    ranges.update(_file_key_ranges(fallback, prune_col))
    ks = sorted(batch_keys)
    replace, keep = [], []
    for f in files:
        lo, hi = ranges[f]
        if lo is None:
            replace.append(f)
            continue
        try:
            i = bisect.bisect_left(ks, lo)
            hit = i < len(ks) and ks[i] <= hi
        except TypeError:
            # bounds not comparable with the batch keys (key type
            # migrated, hand-edited sidecar): conservatively merge the
            # file — a replace is always safe, a crash loop never is
            hit = True
        (replace if hit else keep).append(f)
    return replace, keep


def _stage_path(path: str) -> str:
    return f"{path}__stage"


def _manifest_path(path: str) -> str:
    """The merge manifest lives BESIDE the stage, not inside it: the
    stage write's mode("overwrite") clears the stage directory, and the
    manifest must be durably on disk BEFORE the stage write begins (see
    _recover_file_merge for why that ordering is load-bearing)."""
    return f"{path}__stage_manifest.json"


def _write_manifest(path: str, replaced: list[str]) -> None:
    """Atomic manifest write (tmp + rename): a crash mid-write must not
    leave a torn JSON at the final name — recovery decisions key off the
    manifest's presence and content. The manifest sits beside the
    archive, so a fresh archive under a not-yet-created directory needs
    that directory made first."""
    import json

    final = _manifest_path(path)
    os.makedirs(os.path.dirname(os.path.abspath(final)), exist_ok=True)
    tmp = final + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"replaced": replaced}, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, final)


def _recover_file_merge(path: str) -> None:
    """Entry-time recovery, run by every entry that commits (merge,
    compact, migrate). The writer's ordering is manifest FIRST, stage
    write second, promote third, and the manifest is removed only after
    the stage's rmtree — so:

    - manifest + staged _SUCCESS: crashed mid-promote; re-promote
      (idempotent: moves skip files already in place, deletes skip
      files already gone).
    - manifest, no completed stage: crashed before/during the stage
      write, or during the stage cleanup after a finished promote;
      discard both — checkpoint replay re-delivers the batch.
    - stage, NO manifest: no writer of this archive leaves one, so the
      stage is foreign. Refuse with a ValueError and touch neither the
      stage nor the archive: a commit guessed from a stage alone is how
      a files-subset stage once overwrote whole days.
    - torn manifest (_write_manifest is tmp+rename, so not one of ours
      either): discard manifest and stage rather than crash-looping the
      sink; replay re-delivers.
    """
    import json

    stage = _stage_path(path)
    manifest = _manifest_path(path)
    if os.path.exists(manifest + ".tmp"):
        os.remove(manifest + ".tmp")  # torn tmp from a crashed _write_manifest
    if not os.path.exists(manifest):
        if os.path.exists(stage):
            raise ValueError(
                f"{stage} has no merge manifest ({manifest}); no writer of "
                f"{path} leaves a stage without one, so it is not committed "
                f"or discarded automatically — inspect it and remove it"
            )
        return
    with open(manifest) as fh:
        try:
            json.load(fh)["replaced"]
            torn = False
        except (ValueError, KeyError, TypeError):
            torn = True
    if not torn and os.path.exists(os.path.join(stage, "_SUCCESS")):
        _promote_file_merge(path)
    else:
        shutil.rmtree(stage, ignore_errors=True)
        os.remove(manifest)


def _promote_file_merge(path: str, prune_col: str | None = None) -> None:
    """Idempotent file-level promote: move every staged day's new files
    into the archive (skip ones already there), THEN delete the replaced
    files listed in the manifest (skip ones already gone). A crash at
    any point re-runs cleanly on the next entry; until recovery the
    archive may transiently hold both old and new files for the merged
    keys — the single-writer + recover-on-entry contract. The manifest
    is deleted LAST: it must outlive the replaced-file deletes so an
    interrupted promote still knows what to finish.

    With `prune_col`, each touched day's `_key_ranges.json` sidecar is
    refreshed after the deletes (r9): the sidecar is a pure optimization
    cache — recovery promotes pass None and simply leave the new files
    on the footer-fallback path until the next successful merge records
    them — so it sits OUTSIDE the crash protocol: no crash point can
    make it wrong, only absent."""
    import json

    stage = _stage_path(path)
    manifest = _manifest_path(path)
    with open(manifest) as fh:
        replaced = json.load(fh)["replaced"]
    touched_days: list[str] = []
    for d in os.listdir(stage):
        if not d.startswith(f"{DAY_COL}="):
            continue
        src_dir = os.path.join(stage, d)
        dst_dir = os.path.join(path, d)
        os.makedirs(dst_dir, exist_ok=True)
        touched_days.append(dst_dir)
        for f in os.listdir(src_dir):
            if not f.endswith(".parquet"):
                continue
            dst = os.path.join(dst_dir, f)
            if not os.path.exists(dst):
                os.rename(os.path.join(src_dir, f), dst)
    for f in replaced:
        if os.path.exists(f):
            os.remove(f)
    if prune_col is not None:
        for dst_dir in touched_days:
            _record_ranges(dst_dir, prune_col)
    marker = os.path.join(stage, "_SUCCESS")
    if os.path.exists(marker):
        os.remove(marker)
    shutil.rmtree(stage)
    os.remove(manifest)


def _read_files(spark: SparkSession, path: str, files: list[str]) -> DataFrame:
    """Read archive files with the union of their columns. A column that
    arrived after a file was written (schema evolution: a new sensor
    field) is absent from that file, and Spark's reader takes the schema
    from ONE file — when it picks an older one, the merge silently drops
    the column from every row it rewrites. Footer schemas are read on
    the driver (O(files), no Spark job); the schema-merging read, which
    costs a job, runs only when the files actually differ."""
    import pyarrow.parquet as pq

    reader = spark.read.option("basePath", path)
    if len({tuple(pq.read_schema(f).names) for f in files}) > 1:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*files)


def _commit(path: str, replaced: list[str], staged: DataFrame, prune_col: str | None) -> None:
    """The one commit protocol: manifest, stage, promote. The manifest
    goes BEFORE the stage write — the ordering that makes a
    manifest-less stage foreign (_recover_file_merge). The stage write
    is an ACTION over a plan that may read `path`; it fully
    materializes before the promote mutates `path`."""
    _write_manifest(path, replaced)
    _stage_write(staged, _stage_path(path), prune_col)
    _promote_file_merge(path, prune_col)


def upsert_parquet_partitioned(
    new_df: DataFrame,
    path: str,
    keys: list[str],
    order_col: str,
    ts_col: str = "ts",
) -> None:
    """Scale-path merge: day-partitioned archive, I/O proportional to the
    days — and within each day, the FILES — the batch touches
    (lib/MyARCHIVE.py:360-456 REPLACE INTO against the per-day-indexed
    table — same cost model, extended to the file level).

    Plan shape per micro-batch: one tiny distinct-day list (control
    plane — O(days in batch) rows, never data; a dynamic-partition-
    pruning semi-join was tried instead but DPP's benefit heuristic
    makes the pruning non-deterministic, while a literal isin() is a
    STATIC PartitionFilter the plan-contract test can pin), then per
    chunk of ≤30 touched days: footer-statistics file pruning (only
    files whose first-key [min,max] range intersects the batch's keys
    are read and rewritten — merged output is range-partitioned on the
    key so files keep narrow ranges and future merges stay selective),
    one key-window dedup, one partitioned stage write, one idempotent
    file-level promote. A year-deep archive with a 2-day late-data
    watermark reads 2 partitions — and of those, only the files the
    late kits actually live in; a 365-day backfill stages at most 30
    days at a time instead of the whole year.

    Write amplification: a batch rewrites Σ(selected file sizes) +
    O(batch), NOT Σ(touched day sizes) — measured per-batch in
    SCALING.md (tools/sink_write_amplification.py). A fleet-wide batch
    (every kit reporting) still intersects every file of its days; the
    tuning contract for that steady state is trigger interval ×
    ingest rate ≈ day size / desired daily write factor.

    Contract: `ts_col` must be one of `keys`. The merge reads only the
    batch's touched days, so latest-row-wins resolves within a day — a
    key that did not pin the timestamp could have an older row for the
    same key sitting on an UNTOUCHED day, silently surviving alongside
    the new one; time-free keys are refused (there is no full-archive
    merge — `latest_view` over the whole archive resolves them on
    read). Single writer per archive path (the Structured Streaming
    foreachBatch guarantee): concurrent writers would race the fixed
    stage directory and manifest — multi-writer archives are what
    Delta/Iceberg MERGE INTO exists for."""
    if ts_col not in keys:
        raise ValueError(
            f"ts_col {ts_col!r} must be part of keys {keys!r}: the "
            f"touched-day merge cannot resolve latest-row-wins across "
            f"days for a key that does not pin the timestamp"
        )
    spark = new_df.sparkSession
    _recover_file_merge(path)

    batch = new_df.withColumn(DAY_COL, _day(ts_col))
    # persist unconditionally: even a single-chunk merge drives up to
    # THREE actions over the batch lineage (the days collect below, the
    # (day, key) prune collect, the stage write) — unpersisted, each one
    # re-evaluates the micro-batch source on the hot ingest path
    batch.persist()
    # control-plane collect: bounded by distinct days per micro-batch
    # (exempted in test_sinks_never_materialize_on_driver, like the
    # similarity rerank fence) — this list IS the partition-pruning key
    days = sorted(r[0] for r in batch.select(DAY_COL).distinct().collect())
    if not days:
        batch.unpersist()
        return

    if _layout(path) == "flat":
        raise ValueError(
            f"{path} is a flat parquet archive; the merge needs the day= "
            f"hive layout — run migrate_to_partitioned on it once first"
        )

    # prune_col: the axis batches are sparse on (a late-data batch
    # touches few kits; stats on a key the merged files are
    # range-partitioned by make the file selection sharp). With a
    # single-key archive there is nothing to prune on.
    prune_col = _prune_col(keys, ts_col)

    # chunk deep backfills: a 365-day replay stages ≤30 days at a time,
    # bounding peak stage size; a crash between chunks is covered by the
    # committed chunks being idempotent re-merges under checkpoint replay
    chunks = [days[i : i + _BACKFILL_CHUNK_DAYS] for i in range(0, len(days), _BACKFILL_CHUNK_DAYS)]
    try:
        for chunk in chunks:
            cbatch = batch.where(F.col(DAY_COL).isin(chunk))
            day_dirs = {d: os.path.join(path, f"{DAY_COL}={d}") for d in chunk}
            day_dirs = {d: p for d, p in day_dirs.items() if os.path.isdir(p)}
            # file pruning: per touched day, select only the files whose
            # prune_col footer range intersects the batch's keys. No
            # existing day (a fresh archive, new days) means nothing to
            # select from, so the (day, key) collect is skipped.
            keys_by_day: dict | None = None
            if day_dirs and prune_col is not None:
                kd = cbatch.select(DAY_COL, prune_col).distinct().limit(_MAX_PRUNE_KEYS + 1).collect()
                if len(kd) <= _MAX_PRUNE_KEYS:  # else fleet-wide: prune by day only
                    keys_by_day = {}
                    for r in kd:
                        keys_by_day.setdefault(r[0], []).append(r[1])
            replace_files: list[str] = []
            for day, day_dir in day_dirs.items():
                bkeys = None if keys_by_day is None else keys_by_day.get(day, [])
                replace_files.extend(_select_files(day_dir, bkeys, prune_col)[0])

            with _scoped_conf(
                spark,
                **{"spark.sql.sources.partitionColumnTypeInference.enabled": "false"},
            ):
                merged = cbatch
                if replace_files:
                    existing = _read_files(spark, path, replace_files)
                    merged = existing.unionByName(cbatch, allowMissingColumns=True)
                _commit(path, replace_files, latest_view(merged, keys, order_col), prune_col)
    finally:
        batch.unpersist()


def _stage_write(deduped: DataFrame, stage: str, prune_col: str | None) -> None:
    """Stage the merged chunk day-partitioned and RANGE-partitioned on
    (day, prune_col): each output file then covers a narrow key range,
    which is exactly what keeps the NEXT merge's footer-stats file
    selection sharp. Without the range partitioning, every file spans
    the whole key space and file-level pruning degenerates to whole-day
    rewrites."""
    if prune_col is not None:
        deduped = deduped.repartitionByRange(F.col(DAY_COL), F.col(prune_col))
    deduped.write.mode("overwrite").partitionBy(DAY_COL).parquet(stage)


def append_day_partitioned(
    new_df: DataFrame, path: str, ts_col: str = "ts", partitions: int | None = None
) -> None:
    """Steady-state fleet ingest: blind day-partitioned APPEND — write
    amplification exactly 1 (each batch writes only its own bytes; no
    existing file is read or rewritten). The complement of the merge
    path for the workload where merging is hopeless: a fleet-wide batch
    (every kit reporting) intersects every file of its day, so
    `upsert_parquet_partitioned` rewrites the day per batch and a day
    ingested as N batches costs ~N/2 × its resting size in writes
    (measured: 13.8× at 24 batches — SCALING.md). Append + one
    `compact_days` pass costs ~2×.

    Semantics: at-least-once until compaction. Appended days may hold
    multiple rows per (key) — later batches, foreachBatch retries after
    a crash — resolved by latest-row-wins exactly as the merge resolves
    them: run `compact_days` on a cadence (e.g. close out yesterday) to
    rewrite the day deduped and range-partitioned, or read through
    `latest_view` for dedup-on-read in the interim. A retried batch
    appends byte-identical rows, which latest-row-wins collapses, so
    append + compact converges to the same archive the per-batch merge
    produces (pinned by pytest).

    `partitions` bounds the files written per batch PER TOUCHED DAY (a
    plain repartition before the per-day split, so total files ≈
    partitions × touched days; a steady-state batch touches 1-2 days).
    Small micro-batches otherwise inherit the batch's partition count
    and write dozens of row-group-sized files whose parquet footers
    dominate the bytes (measured: 24 tiny fleet batches at 32 files
    each read as 4.6× amplification from footer overhead alone; at
    1 file/batch the same workload is ~2.1× — SCALING.md). Size it so
    batch_bytes/partitions ≈ the archive's file-size target;
    compact_days re-ranges the files at day close regardless.

    Concurrency: append NEVER touches the stage/manifest — not even
    for recovery — so appends are safe to run concurrently with the
    ONE merger/compactor the single-writer contract allows (an append
    that ran recovery here could destroy a LIVE compaction's manifest
    mid-stage-write, leaving a manifest-less stage that every later
    merge/compact entry must refuse). A compaction crash before append
    only leaves
    the day transiently un-deduped; the next compact/merge entry
    recovers it. Files appended while a compaction is in flight are
    not in its manifest, so its promote never deletes them."""
    if _layout(path) == "flat":
        raise ValueError(
            f"{path} is a flat parquet archive; append_day_partitioned "
            f"needs the day= hive layout (migrate_to_partitioned first)"
        )
    batch = new_df.withColumn(DAY_COL, _day(ts_col))
    if partitions is not None:
        batch = batch.repartition(partitions)
    batch.write.mode("append").partitionBy(DAY_COL).parquet(path)


def compact_days(
    spark: SparkSession,
    path: str,
    keys: list[str],
    order_col: str,
    days: list[str] | None = None,
    ts_col: str = "ts",
) -> list[str]:
    """Close out appended days: rewrite each target day latest-row-wins
    deduped and range-partitioned on (day, first non-time key) — the
    layout that keeps future pruned merges' footer-stats file selection
    sharp. Runs on the merge machinery's stage/manifest/promote
    protocol, so compaction inherits its crash safety (manifest first;
    every crash point in the promote sequence recovers — the sweep
    test), and deep backlogs chunk ≤30 days per idempotent commit.

    `days` defaults to every day in the archive; a steady-state
    deployment passes yesterday once per day (compaction cost = 1× the
    day, so append-ingest + daily compact ≈ 2× total write
    amplification vs ~batches/2 × for merge-per-batch). Same contract
    as the merge: `ts_col` must be in `keys` so latest-row-wins
    resolves within the day. Returns the compacted day list."""
    if ts_col not in keys:
        raise ValueError(
            f"ts_col {ts_col!r} must be part of keys {keys!r} (see "
            f"upsert_parquet_partitioned: dedup is per-day)"
        )
    _recover_file_merge(path)
    if _layout(path) != "partitioned":
        raise ValueError(f"{path} is not a day-partitioned archive")
    on_disk = sorted(
        d.split("=", 1)[1] for d in os.listdir(path) if d.startswith(f"{DAY_COL}=")
    )
    targets = on_disk if days is None else [d for d in on_disk if d in set(days)]
    prune_col = _prune_col(keys, ts_col)
    for i in range(0, len(targets), _BACKFILL_CHUNK_DAYS):
        chunk = targets[i : i + _BACKFILL_CHUNK_DAYS]
        replace_files = []
        for day in chunk:
            day_dir = os.path.join(path, f"{DAY_COL}={day}")
            replace_files.extend(
                os.path.join(day_dir, f)
                for f in sorted(os.listdir(day_dir))
                if f.endswith(".parquet")
            )
        if not replace_files:
            continue
        with _scoped_conf(
            spark,
            **{"spark.sql.sources.partitionColumnTypeInference.enabled": "false"},
        ):
            existing = _read_files(spark, path, replace_files)
            _commit(path, replace_files, latest_view(existing, keys, order_col), prune_col)
    return targets


def compact_closed_days(
    spark: SparkSession,
    path: str,
    keys: list[str],
    order_col: str,
    before_day: str,
    ts_col: str = "ts",
) -> list[str]:
    """Compact exactly the CLOSED-but-uncompacted days: days strictly
    before `before_day` (the watermark frontier — no more rows can reach
    them through the stream's late-data horizon) whose directory holds
    parquet files not recorded in the day's `_key_ranges.json` sidecar.

    The sidecar IS the compaction marker: appends never write it, while
    compaction's promote records every surviving file — so "closed and
    has unrecorded files" means "appended since last compacted". That
    makes the detection self-healing under at-least-once replay: a
    checkpoint replay that re-appends rows to an already-compacted day
    adds files the sidecar does not know, and the next batch end
    re-compacts the day — no separate high-water marker that a replayed
    append could silently invalidate. Cost per batch end: one listdir +
    one JSON read per closed day, driver-side control plane.

    Requires a non-time key to prune on (the sidecar is keyed to it);
    raises otherwise — a single-key archive has no sidecar to mark
    compaction with, and blind re-compaction every batch would rewrite
    history per micro-batch."""
    prune_col = _prune_col(keys, ts_col)
    if prune_col is None:
        raise ValueError(
            f"compact_closed_days needs a non-time key in {keys!r}: the "
            f"key-ranges sidecar doubles as the compaction marker, and "
            f"it is keyed to the first non-time key"
        )
    if _layout(path) != "partitioned":
        return []
    targets: list[str] = []
    for d in sorted(os.listdir(path)):
        if not d.startswith(f"{DAY_COL}="):
            continue
        day = d.split("=", 1)[1]
        # NULL_DAY never closes: null-ts rows keep landing on it forever
        # (it sorts before every real day, so a naive compare would call
        # it permanently closed and rewrite the growing partition at
        # every batch end) — dedup it on read (latest_view) or with a
        # manual compact_days
        if day >= before_day or day == NULL_DAY:
            continue
        day_dir = os.path.join(path, d)
        recorded = _load_ranges(day_dir, prune_col)
        if any(
            f not in recorded
            for f in os.listdir(day_dir)
            if f.endswith(".parquet")
        ):
            targets.append(day)
    # bound the in-stream work: a deep backlog (first enablement on a
    # pre-sidecar archive) drains oldest-first at one merge-chunk per
    # batch end instead of stalling a micro-batch on the whole history
    targets = targets[:_BACKFILL_CHUNK_DAYS]
    if targets:
        compact_days(spark, path, keys, order_col, days=targets, ts_col=ts_col)
    return targets


def finalize_append(
    spark: SparkSession,
    path: str,
    keys: list[str],
    order_col: str,
    before_day: str | None = None,
    ts_col: str = "ts",
    include_null_day: bool = True,
) -> list[str]:
    """Batch twin of the streaming tail's auto-compact (r10): a pure
    -batch backfill through append_day_partitioned leaves its days
    appended-but-uncompacted until the next auto-compacting stream run
    — this entry point drains the WHOLE backlog in one call, using the
    same sidecar-marker detection compact_closed_days uses (a day is
    pending iff its directory holds parquet files the `_key_ranges.json`
    sidecar does not record), looped until the markers show nothing
    left (each pass commits ≤_BACKFILL_CHUNK_DAYS idempotently, so a
    crash mid-drain loses at most the in-flight chunk and a re-run
    resumes from the markers).

    `before_day` bounds the frontier exactly like the stream's
    watermark (days >= it stay open); None means the backfill is DONE
    and every day is closed. Unlike the stream (where null-ts rows keep
    landing forever), a finished batch backfill CAN close NULL_DAY —
    `include_null_day=True` compacts it when it has unrecorded files;
    pass False when appends will continue. Returns every day compacted,
    in commit order. Single-writer contract unchanged: this IS the one
    merger/compactor while it runs."""
    done: list[str] = []
    frontier = before_day if before_day is not None else "9999-12-31"
    seen: set[str] = set()
    while True:
        batch = compact_closed_days(
            spark, path, keys, order_col, before_day=frontier, ts_col=ts_col
        )
        if not batch:
            break
        if seen.intersection(batch):
            raise RuntimeError(
                f"finalize_append is not converging: {sorted(seen & set(batch))} "
                f"re-targeted after compaction — the day's sidecar did not "
                f"record the promoted files"
            )
        seen.update(batch)
        done.extend(batch)
    if include_null_day:
        null_dir = os.path.join(path, f"{DAY_COL}={NULL_DAY}")
        prune_col = _prune_col(keys, ts_col)
        if os.path.isdir(null_dir) and prune_col is not None:
            recorded = _load_ranges(null_dir, prune_col)
            if any(
                f.endswith(".parquet") and f not in recorded
                for f in os.listdir(null_dir)
            ):
                done.extend(
                    compact_days(
                        spark, path, keys, order_col, days=[NULL_DAY], ts_col=ts_col
                    )
                )
    return done


def latest_view(archive: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """Dedup-on-read for an appended-but-not-yet-compacted archive: the
    same latest-row-wins rule the merge and compaction apply, as a view.

    Apply day/partition filters to `archive` BEFORE this view: a filter
    added ABOVE the window cannot push below it (`day` is not one of
    the window's partition keys), so it would scan the whole archive.
    Pre-filtering by day is always safe here — `ts` is part of the row
    key, so every duplicate of a key lives on the same day and a day
    filter never splits a key group across the boundary."""
    w = Window.partitionBy(*keys).orderBy(F.desc(order_col))
    return (
        archive.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def migrate_to_partitioned(spark: SparkSession, path: str, ts_col: str = "ts") -> bool:
    """One-shot flat -> day-partitioned archive migration, so an archive
    laid down flat (top-level parquet files) can adopt the sinks. It is
    one commit of the sinks' own protocol: the manifest lists every
    top-level file as replaced, the stage is the day-partitioned copy,
    and the promote moves the day directories in and deletes the flat
    files. A crash at any point is finished or discarded by the next
    entry of any committing sink (merge, compact, or this function).
    Returns True if a migration happened; False if the archive is
    already partitioned or absent (idempotent — safe to call
    unconditionally at pipeline setup).

    Same single-writer contract as the merge and the compactor: run it
    with no other merge or compaction on the same path (appends refuse
    a flat archive, so they cannot interleave until it is migrated)."""
    _recover_file_merge(path)
    if _layout(path) != "flat":
        return False
    flat = sorted(
        os.path.join(path, f) for f in os.listdir(path) if os.path.isfile(os.path.join(path, f))
    )
    rows = _read_files(spark, path, [f for f in flat if f.endswith(".parquet")])
    _commit(path, flat, rows.withColumn(DAY_COL, _day(ts_col)), None)
    return True


def write_date_partitioned(df: DataFrame, path: str, ts_col: str = "ts") -> None:
    """Archive layout for the 100 TB fact table: hive-partitioned by day
    (SURVEY §1.1 — the long fact table is date-partitioned so period
    queries prune partitions instead of scanning the corpus; the
    reference gets the same effect from per-period WHERE clauses against
    indexed MySQL, e.g. FilterShow.py:419-429 chunking).

    Day is derived exactly as the sinks derive it (null timestamps on
    NULL_DAY), stored as a partition column; readers filtering on `day`
    (or on `ts` through it) touch only matching directories — verified
    by the partition-pruning test. The result is a sink archive: later
    merges find every row in the day they derive for it."""
    (
        df.withColumn(DAY_COL, _day(ts_col))
        .write.mode("overwrite")
        .partitionBy(DAY_COL)
        .parquet(path)
    )
