"""Self-tests of the benchmark's own machinery.

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import os

import pytest

from perfbench import checks
from perfbench.gen_tables import write_tables
from perfbench.gen_ttn import write_drop_files
from perfbench.spans import Span, Tracer, percentile, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _same_tree(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    return all(filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names)


def test_ttn_generator_is_byte_identical_per_seed_and_differs_across_seeds(tmp_path):
    write_drop_files(str(tmp_path / "a"), 7, 3, 300)
    write_drop_files(str(tmp_path / "b"), 7, 3, 300)
    write_drop_files(str(tmp_path / "c"), 8, 3, 300)
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert not _same_tree(tmp_path / "a", tmp_path / "c")
    # replay order is pinned by mtime, not by write timing
    mtimes = [os.stat(tmp_path / "a" / f).st_mtime for f in sorted(os.listdir(tmp_path / "a"))]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3


def test_table_generator_is_byte_identical_per_seed_and_differs_across_seeds(tmp_path):
    write_tables(str(tmp_path / "a"), 3, 500, 50, 40)
    write_tables(str(tmp_path / "b"), 3, 500, 50, 40)
    write_tables(str(tmp_path / "c"), 4, 500, 50, 40)
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert not _same_tree(tmp_path / "a", tmp_path / "c")


def test_percentile_refuses_p75_on_30_samples():
    with pytest.raises(ValueError):
        percentile([float(i) for i in range(30)], 0.75)
    # 40 samples leave exactly 10 beyond p75
    assert percentile([float(i) for i in range(40)], 0.75) == 29.0
    # the median is always reported
    assert percentile([3.0, 1.0, 2.0], 0.5) == 2.0


def test_self_time_subtracts_the_union_of_children_clipped_to_the_parent():
    spans = [
        Span(0, "root", 0.0, 10.0, None, "op"),
        Span(1, "a", 1.0, 3.0, 0, "op"),
        Span(2, "b", 2.0, 5.0, 0, "op"),  # overlaps a: [1, 5] covered once
        Span(3, "c", 8.0, 12.0, 0, "op"),  # clipped to [8, 10]
        Span(4, "a.child", 1.5, 2.5, 1, "op"),
    ]
    assert self_times(spans) == pytest.approx([4.0, 1.0, 3.0, 4.0, 1.0])


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp_path_factory.mktemp("local"))
    # the decode UDF's Python workers import mysense_spark
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    from mysense_spark.session import get_spark

    session = get_spark("perfbench-tests")
    yield session
    session.stop()


def test_twin_check_fails_when_one_archive_row_is_deleted_or_altered(spark, tmp_path):
    from pyspark.sql import functions as F

    drop = str(tmp_path / "drop")
    write_drop_files(drop, 11, 2, 60)
    good = str(tmp_path / "good")
    checks.batch_twin(spark, drop).write.parquet(good)
    ok, detail = checks.check_archive(spark, good, drop)
    assert ok, detail

    rows = spark.read.parquet(good).orderBy(*checks.HASH_COLS).collect()
    victim = rows[len(rows) // 2]
    is_victim = (
        (F.col("kit_id") == victim["kit_id"])
        & (F.col("ts") == victim["ts"])
        & (F.col("field") == victim["field"])
    )

    deleted = str(tmp_path / "deleted")
    spark.read.parquet(good).where(~is_victim).write.parquet(deleted)
    ok, detail = checks.check_archive(spark, deleted, drop)
    assert not ok, detail

    altered = str(tmp_path / "altered")
    spark.read.parquet(good).withColumn(
        "value", F.when(is_victim, F.col("value") + 0.1).otherwise(F.col("value"))
    ).write.parquet(altered)
    ok, detail = checks.check_archive(spark, altered, drop)
    assert not ok, detail


@pytest.mark.xfail(
    strict=True,
    raises=AssertionError,
    reason="batch/stream parity defect in sources.ttn.parse_envelopes: a line cut after its "
    "identity fields is dropped by the batch read but kept by the stream with event time = "
    "ingest time, which also moves the watermark to the present; gen_ttn.MALFORMED_CUT "
    "avoids such cuts until this passes",
)
def test_stream_matches_twin_on_a_line_cut_after_its_identity_fields(spark, tmp_path):
    from perfbench import ingest

    drop = str(tmp_path / "drop")
    files = write_drop_files(drop, 11, 2, 60)
    with open(files[0], encoding="utf-8") as fh:
        lines = fh.read().splitlines()
    # a V2 uplink on a decodable port, cut inside its metadata
    line = next(x for x in lines if not x.startswith("v3/") and '"metadata"' in x
                and '"port":99' not in x)
    cut = line[: line.index('"metadata"') + len('"metadata":{"time"')]
    st = os.stat(files[0])
    with open(files[0], "a", encoding="utf-8") as fh:
        fh.write(cut + "\n")
    os.utime(files[0], ns=(st.st_atime_ns, st.st_mtime_ns))  # keep the replay order

    archive = str(tmp_path / "archive")
    ingest.run_stream(spark, drop, str(tmp_path / "ckpt"), archive, Tracer(False), None)
    ok, detail = checks.check_archive(spark, archive, drop)
    assert ok, detail
