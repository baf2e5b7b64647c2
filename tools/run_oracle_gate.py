"""Full oracle gate: every registered query vs the DuckDB oracle at the
given SF dir. Usage: python tools/run_oracle_gate.py [sf_dir] [names...]
Each query is judged by `oracle.check_query` (the check the test suite
uses). Prints one line per query and a final summary; exits 1 if any
query fails, and 2 if sf_dir is not a directory or a name is not a
registered query."""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


USAGE = "usage: python tools/run_oracle_gate.py [sf_dir] [names...]"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    if not os.path.isdir(sf_dir):
        print(f"sf_dir {sf_dir!r} is not a directory\n{USAGE}", file=sys.stderr, flush=True)
        return 2
    from mysense_spark.oracle import check_query
    from mysense_spark.queries import registry

    names = list(registry())
    unknown = sorted(set(sys.argv[2:]) - set(names))
    if unknown:
        print(f"unknown query names: {unknown}", file=sys.stderr, flush=True)
        return 2
    if sys.argv[2:]:
        names = [n for n in names if n in set(sys.argv[2:])]

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "200")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as e

    n = e.entry(spark).count()
    print(f"entry rows={n}", flush=True)
    fails = [] if n > 0 else ["entry"]
    for name in names:
        t0 = time.perf_counter()
        try:
            res = check_query(spark, name, sf_dir)
            ok, why = res.ok, "" if res.ok else f" ({res.detail})"
        except Exception as exc:
            ok, why = False, f" EXC {exc}"
        dt = time.perf_counter() - t0
        print(f"{'PASS' if ok else 'FAIL'} {name} {dt:.2f}s{why}", flush=True)
        if not ok:
            fails.append(name)
    print(f"SUMMARY: {len(fails)} failures: {fails}", flush=True)
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
