"""Persisted-index lifecycle economics probe (r14): measure what the
train-once/search-many shape actually buys at scale, for both persisted
lifecycles, against the self-contained graded compositions that retrain
(IVFADC) or rehash (SRP) the corpus inside every query.

Per corpus:
  build_sec        one-time ensure_*_index cost (train/hash + write)
  search_warm_sec  median of `--reps` indexed searches (reads only)
  inline_warm_sec  median of `--reps` inline searches (retrain/rehash
                   per call — what a user pays WITHOUT the lifecycle)
  break_even       builds amortize after build/(inline-search) queries

Usage: python tools/persisted_index_probe.py [sf_dir] [out_json]
           [--reps 3]
Defaults: /tmp/scale/emb200k, /tmp/persisted_index_probe.json
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _median(xs: list[float]) -> float:
    return sorted(xs)[len(xs) // 2]


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if len(args) > 0 else "/tmp/scale/emb200k"
    out_path = args[1] if len(args) > 1 else "/tmp/persisted_index_probe.json"
    reps = int(sys.argv[sys.argv.index("--reps") + 1]) if "--reps" in sys.argv else 3

    from mysense_spark.cache import begin_query
    from mysense_spark.operators import similarity as S
    from mysense_spark.session import get_spark

    spark = get_spark("persisted-index-probe")
    results = {}

    def timed(fn):
        t0 = time.monotonic()
        n = fn().count()
        return round(time.monotonic() - t0, 2), n

    # --- IVFADC lifecycle ---------------------------------------------------
    shutil.rmtree(S.ivfadc_index_path(sf_dir), ignore_errors=True)
    begin_query("probe-ivfadc-build")
    t0 = time.monotonic()
    idx = S.ensure_ivfadc_index(spark, sf_dir)
    build = round(time.monotonic() - t0, 2)
    warm, inline = [], []
    for _ in range(reps):
        begin_query("probe-ivfadc-indexed")  # release caches: each rep cold-cache
        vecs = S._vectors(spark, sf_dir)
        w, n1 = timed(lambda: S.ann_ivfadc_search_indexed(spark, vecs, idx))
        warm.append(w)
    for _ in range(reps):
        begin_query("probe-ivfadc-inline")
        vecs = S._vectors(spark, sf_dir)
        w, n2 = timed(
            lambda: S.ann_ivfadc_search(vecs, centroids=S.kmeans_centroids(spark, sf_dir))
        )
        inline.append(w)
    results["ivfadc"] = {
        "build_sec": build,
        "search_warm_sec": _median(warm),
        "search_warm_all": warm,
        "inline_warm_sec": _median(inline),
        "inline_warm_all": inline,
        "rows_match": n1 == n2,
        "break_even_queries": round(build / max(_median(inline) - _median(warm), 1e-9), 1),
    }
    print(results["ivfadc"], flush=True)

    # --- SRP lifecycle --------------------------------------------------------
    shutil.rmtree(S.srp_index_path(sf_dir), ignore_errors=True)
    begin_query("probe-srp-build")
    t0 = time.monotonic()
    sidx = S.ensure_srp_index(spark, sf_dir)
    sbuild = round(time.monotonic() - t0, 2)
    swarm, sinline = [], []
    for _ in range(reps):
        begin_query("probe-srp-indexed")
        vecs = S._vectors(spark, sf_dir)
        w, n1 = timed(lambda: S.ann_srp_search_indexed(spark, vecs, sidx))
        swarm.append(w)
    for _ in range(reps):
        begin_query("probe-srp-inline")
        vecs = S._vectors(spark, sf_dir)
        w, n2 = timed(
            lambda: S.ann_srp_search(vecs, n_bits=S._SRP_BITS, n_probes=S._SRP_PROBES)
        )
        sinline.append(w)
    results["srp"] = {
        "build_sec": sbuild,
        "search_warm_sec": _median(swarm),
        "search_warm_all": swarm,
        "inline_warm_sec": _median(sinline),
        "inline_warm_all": sinline,
        "rows_match": n1 == n2,
        "break_even_queries": round(sbuild / max(_median(sinline) - _median(swarm), 1e-9), 1),
    }
    print(results["srp"], flush=True)

    # --- SRP lifecycle, COMPACTED ---------------------------------------------
    # compact the same layout in place (one bucket-sorted file per
    # table, at-least-once duplicates dropped) and re-measure the
    # identical search. A fresh build already has one file per table,
    # so this leg measures what compaction costs and whether it moves
    # the search; the gain it exists for shows only on a layout grown by
    # many appends. Compaction runs on a copy so the srp row above stays
    # the uncompacted baseline.
    cidx = f"{sidx}.probe_compacted"
    shutil.rmtree(cidx, ignore_errors=True)
    shutil.copytree(sidx, cidx)
    begin_query("probe-srp-compact")
    t0 = time.monotonic()
    S.compact_srp_index(spark, cidx)
    compact_sec = round(time.monotonic() - t0, 2)
    cwarm = []
    for _ in range(reps):
        begin_query("probe-srp-compacted")
        vecs = S._vectors(spark, sf_dir)
        w, n3 = timed(lambda: S.ann_srp_search_indexed(spark, vecs, cidx))
        cwarm.append(w)
    results["srp_compacted"] = {
        "compact_sec": compact_sec,
        "search_warm_sec": _median(cwarm),
        "search_warm_all": cwarm,
        "rows_match": n3 == n2,
        "break_even_queries": round(
            (sbuild + compact_sec) / max(_median(sinline) - _median(cwarm), 1e-9), 1
        ),
    }
    print(results["srp_compacted"], flush=True)
    shutil.rmtree(cidx, ignore_errors=True)

    out = {"sf_dir": sf_dir, "reps": reps, **results}
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"wrote {out_path}", flush=True)


if __name__ == "__main__":
    main()
