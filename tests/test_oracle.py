"""Driver-gate replica: every registered query with an oracle must match
DuckDB on row count, column names, and values (exact, after the explicit
rounding the queries themselves apply)."""

import pytest

from mysense_spark.oracle import check_query
from mysense_spark.queries import registry

NAMES = sorted(registry().keys())


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(spark, sf_dir, name):
    res = check_query(spark, name, sf_dir, float_tol=0.0)
    assert res.ok, f"{name}: {res.detail}"


def test_compare_frames_rejects_decimal_vs_float():
    """The r3/r4 station_calibration escape: Spark DecimalType lands in
    pandas as object(Decimal) and the old compare coerced it to float64
    before comparing — bit-identical values, different column type, local
    green, driver red. compare_frames must fail the dtype class itself."""
    from decimal import Decimal

    import pandas as pd

    from mysense_spark.oracle import compare_frames

    oracle = pd.DataFrame({"k": [1, 2], "v": [1.5, 2.5]})
    drifted = pd.DataFrame({"k": [1, 2], "v": [Decimal("1.5"), Decimal("2.5")]})
    res = compare_frames(drifted, oracle)
    assert not res.ok and "dtype class differs" in res.detail

    # and the all-float twin still passes (the fix must not over-reject)
    same = pd.DataFrame({"k": [1, 2], "v": [1.5, 2.5]})
    assert compare_frames(same, oracle).ok


def test_gate_tool_refuses_a_non_directory_sf_dir(tmp_path):
    """A query name passed where sf_dir goes (`run_oracle_gate.py
    ttn_decode`) is a usage error: exit 2 with the usage line, before any
    Spark session starts, instead of one PATH_NOT_FOUND failure per
    registered query."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tool = os.path.join(repo, "tools", "run_oracle_gate.py")
    for arg in ("ttn_decode", str(tmp_path / "missing"), __file__):
        out = subprocess.run(
            [sys.executable, tool, arg], capture_output=True, text=True, timeout=120
        )
        assert out.returncode == 2, (arg, out.returncode, out.stdout[-500:], out.stderr[-500:])
        assert "usage: python tools/run_oracle_gate.py" in out.stderr
        assert "PATH_NOT_FOUND" not in out.stdout and "entry rows" not in out.stdout


def test_caqi_index_matches_oracle_on_benchmark_events(spark, tmp_path):
    """caqi_index against its oracle on the benchmark's seeded events
    (20k rows, the sensor_corpus shape): its piecewise sub-indices land
    on 8-decimal ties the shipped test data does not contain."""
    from perfbench.gen_tables import write_tables

    sf = write_tables(str(tmp_path / "tables"), seed=3, n_events=20_000, n_docs=10, n_vecs=10)
    res = check_query(spark, "caqi_index", sf, float_tol=0.0)
    assert res.ok, res.detail
