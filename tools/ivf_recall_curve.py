"""IVF recall/cost curve: recall@5 of ann_ivf_search against exact brute
force as nprobe sweeps, plus the corpus fraction each nprobe actually
scans — the measurement that justifies an nprobe choice at deployment
(recall you did not measure is recall you do not have). Results feed
SCALING.md.

Default mode runs the TRAINED two-level codebook (the engine's default
non-fixture path, r8); `--fixture` runs the frozen 8-centroid fixture
codebook the graded q_ann_ivf uses (the r7 curve, kept reproducible).

`--refined` (r11) sweeps the TWO-STAGE search (ann_ivf_refined: wide
SQ-code probe + exact re-rank of the pooled union) over (nprobe, pool)
on the trained codebook, reporting recall@5 against BOTH cost axes —
the full-precision scan fraction (ACTUAL pooled-union size / corpus,
the bytes-dominant axis a single-stage search pays at nprobe/K) and
the cheap-code scan fraction (nprobe/K of the 8x-smaller SQ table).
The comparison that justifies the tier: recall at FIXED full-precision
scan vs the single-stage curve.

`--pq` (r11) measures the product-quantization tier: recall@5 of the
pure ADC ranking (12-byte codes, no float vectors touched at query
time) and of ADC + exact re-rank of the ADC top-N pool — the
memory/recall tradeoff at 21x compression.

`--ivfadc` (r12) sweeps the full Jegou-2011 composition (ann_ivfadc:
trained two-level routing, ADC over the probed cells' PQ codes only,
exact re-rank of the per-query shortlist) over (nprobe, shortlist),
reporting recall@5 against the full-precision scan fraction (ACTUAL
pooled-union size / corpus) and the CODE scan fraction — which for
this tier is nprobe/K of a 12-byte-per-vector table, not the 8x SQ
table the refined tier reads.

`--ivfpq` (late r12) sweeps the by-RESIDUAL IVFPQ composition
(ann_ivfpq on the TRAINED two-level directory: residual-trained
codebook, per-(query, cell) ADC LUTs, cell-pruned scan, fenced exact
re-rank) on the SAME fraction/shortlist grid as --ivfadc, so residual
vs raw coding compares at identical routing, bytes, and pool size.

`--srp` (late r12) sweeps the data-independent SRP-LSH tier (ann_srp:
md5-derived hyperplane sign signatures, multi-probe bucket lookups,
fenced exact re-rank of the pooled union) over (n_bits, n_probes),
reporting recall@5 against the pooled-union scan fraction. The axis
that matters across corpus sizes is BUCKET OCCUPANCY N / 2^n_bits, so
the sweep includes n_bits = 8 and 12 at every N (run it on sf1.0 AND
/tmp/scale/emb200k to see the same occupancy point a decade apart).

Usage: python tools/ivf_recall_curve.py [sf_dir] [out_json]
           [--fixture | --refined | --pq | --ivfadc | --ivfpq | --srp | --srp-auto]
Defaults: /tmp/scale/sf1.0, /tmp/ivf_recall_curve.json
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    fixture = "--fixture" in sys.argv
    refined = "--refined" in sys.argv
    sf_dir = args[0] if len(args) > 0 else "/tmp/scale/sf1.0"
    out_path = args[1] if len(args) > 1 else "/tmp/ivf_recall_curve.json"

    from pyspark.sql import functions as F

    from mysense_spark.operators.similarity import (
        _N_CENTROIDS,
        _fixture_centroids,
        _two_level_parts,
        _vectors,
        ann_ivf_refined,
        ann_ivf_search,
        q_knn_bruteforce,
    )
    from mysense_spark.session import get_spark

    spark = get_spark("ivf-recall-curve")
    vecs = _vectors(spark, sf_dir)
    n_corpus = vecs.count()

    if "--pq" in sys.argv:
        from mysense_spark.operators.similarity import (
            _N_QUERIES,
            _pq_parts,
            ann_pq_search,
            knn_rerank,
        )

        exact = {
            (r["query_id"], r["cand_id"])
            for r in q_knn_bruteforce(spark, sf_dir).where(F.col("rank") <= 5).collect()
        }
        # train ONCE and sweep top_k against the same codebook — a
        # per-point ann_pq_search(parts=None) would retrain every time
        # and the per-row timing would conflate training with search
        pq = _pq_parts(vecs)
        pq[0].count(), pq[1].persist().count()
        curve = []
        for top in (5, 50, 200):
            t0 = time.monotonic()
            adc = ann_pq_search(vecs, top_k=top, parts=pq)
            if top == 5:
                got = {(r["query_id"], r["cand_id"]) for r in adc.collect()}
                row = {"mode": "adc_only", "recall_at_5": round(len(exact & got) / len(exact), 4)}
            else:
                # exact re-rank of the ADC pool through the fence
                from mysense_spark.operators.similarity import _rerank_pool

                pool = adc.select("cand_id").distinct()
                got = {
                    (r["query_id"], r["cand_id"])
                    for r in _rerank_pool(vecs, pool, top_k=5).collect()
                }
                row = {
                    "mode": f"adc_top{top}_exact_rerank",
                    "recall_at_5": round(len(exact & got) / len(exact), 4),
                    "full_precision_scan_frac": round(pool.count() / n_corpus, 4),
                }
            row["sec"] = round(time.monotonic() - t0, 2)
            row["bytes_per_vector"] = 12  # 16 subspaces x 6-bit codes
            curve.append(row)
            print(row, flush=True)
        out = {"sf_dir": sf_dir, "n_corpus": n_corpus, "codebook": "pq_m16_ks64", "curve": curve}
        with open(out_path, "w") as fh:
            json.dump(out, fh, indent=1)
        print("wrote", out_path)
        return

    if "--ivfpq" in sys.argv:
        from mysense_spark.operators.similarity import ann_ivfpq_search, ivfpq_parts

        exact = {
            (r["query_id"], r["cand_id"])
            for r in q_knn_bruteforce(spark, sf_dir).where(F.col("rank") <= 5).collect()
        }
        route = _two_level_parts(vecs)
        n_cells = route[2].select("cent_id").distinct().count()
        # train the residual codebook ONCE for the whole grid — the
        # --pq lesson: per-point retraining conflates training with
        # search in every reported sec
        enc = ivfpq_parts(vecs, route_parts=route)
        enc[1].count(), enc[2].persist().count()
        curve = []
        # same fraction grid as --ivfadc so residual-vs-raw coding
        # compares at identical routing and shortlist
        for frac in (0.0537, 0.1074, 0.2148, 0.4295):
            nprobe = max(1, round(frac * n_cells))
            for shortlist in (50, 110, 220):
                t0 = time.monotonic()
                searched, pooled = ann_ivfpq_search(
                    vecs, nprobe=nprobe, shortlist=shortlist,
                    route_parts=route, parts=enc, return_pool=True,
                )
                got = {(r["query_id"], r["cand_id"]) for r in searched.collect()}
                union = pooled.count()
                curve.append(
                    {
                        "nprobe": nprobe,
                        "shortlist": shortlist,
                        "recall_at_5": round(len(exact & got) / len(exact), 4),
                        "sec": round(time.monotonic() - t0, 2),
                        "full_precision_scan_frac": round(union / n_corpus, 4),
                        "code_scan_frac": round(nprobe / n_cells, 4),
                        "bytes_per_code": 12,
                        "by_residual": True,
                    }
                )
                print(curve[-1], flush=True)
        out = {
            "sf_dir": sf_dir,
            "n_corpus": n_corpus,
            "codebook": "ivfpq_residual_trained_route_pq_m16_ks64",
            "n_cells": n_cells,
            "curve": curve,
        }
        with open(out_path, "w") as fh:
            json.dump(out, fh, indent=1)
        print("wrote", out_path)
        return

    if "--srp-auto" in sys.argv:
        # the r13 occupancy-scaled DEFAULT path: no shape passed at all
        # (ann_srp_search derives n_bits from the corpus count and the
        # probe radius from the probed-bucket budget), plus the other
        # radii at the derived width for context — the check that the
        # auto shape reproduces the hand-tuned occupancy row at each N
        # without tuning
        from mysense_spark.operators.similarity import (
            ann_srp_search,
            srp_auto_bits,
            srp_auto_probes,
        )

        exact = {
            (r["query_id"], r["cand_id"])
            for r in q_knn_bruteforce(spark, sf_dir).where(F.col("rank") <= 5).collect()
        }
        auto_bits = srp_auto_bits(n_corpus)
        auto_r = srp_auto_probes(auto_bits)
        others = [r for r in (0, 1, 2) if r != auto_r]
        curve = []
        for label, kw in (
            (f"auto_default_bits={auto_bits}_probe{auto_r}", {}),
            *(
                (f"context_bits={auto_bits}_probe{r}",
                 {"n_bits": auto_bits, "n_probes": r})
                for r in others
            ),
        ):
            t0 = time.monotonic()
            searched, pooled = ann_srp_search(vecs, return_pool=True, **kw)
            got = {(r["query_id"], r["cand_id"]) for r in searched.collect()}
            union = pooled.count()
            curve.append(
                {
                    "shape": label,
                    "n_bits": auto_bits,
                    "bucket_occupancy": round(n_corpus / (1 << auto_bits), 1),
                    "recall_at_5": round(len(exact & got) / len(exact), 4),
                    "sec": round(time.monotonic() - t0, 2),
                    "pool_union_scan_frac": round(union / n_corpus, 4),
                }
            )
            print(curve[-1], flush=True)
        out = {
            "sf_dir": sf_dir,
            "n_corpus": n_corpus,
            "shape": "srp_auto_occupancy64",
            "curve": curve,
        }
        with open(out_path, "w") as fh:
            json.dump(out, fh, indent=1)
        print("wrote", out_path)
        return

    if "--srp" in sys.argv:
        from mysense_spark.operators.similarity import ann_srp_search

        exact = {
            (r["query_id"], r["cand_id"])
            for r in q_knn_bruteforce(spark, sf_dir).where(F.col("rank") <= 5).collect()
        }
        curve = []
        for n_bits, n_probes in (
            (8, 0), (8, 1), (8, 2),
            (12, 0), (12, 1), (12, 2),
        ):
            t0 = time.monotonic()
            searched, pooled = ann_srp_search(
                vecs, n_bits=n_bits, n_probes=n_probes, return_pool=True
            )
            got = {(r["query_id"], r["cand_id"]) for r in searched.collect()}
            union = pooled.count()
            curve.append(
                {
                    "n_bits": n_bits,
                    "n_probes": n_probes,
                    "bucket_occupancy": round(n_corpus / (1 << n_bits), 1),
                    "recall_at_5": round(len(exact & got) / len(exact), 4),
                    "sec": round(time.monotonic() - t0, 2),
                    "pool_union_scan_frac": round(union / n_corpus, 4),
                }
            )
            print(curve[-1], flush=True)
        out = {
            "sf_dir": sf_dir,
            "n_corpus": n_corpus,
            "shape": "srp_8_tables",
            "curve": curve,
        }
        with open(out_path, "w") as fh:
            json.dump(out, fh, indent=1)
        print("wrote", out_path)
        return

    if "--ivfadc" in sys.argv:
        from mysense_spark.operators.similarity import _pq_parts, ann_ivfadc_search

        exact = {
            (r["query_id"], r["cand_id"])
            for r in q_knn_bruteforce(spark, sf_dir).where(F.col("rank") <= 5).collect()
        }
        # train BOTH directories once and sweep against them: the PQ
        # codebook+codes (12 B/vector) and the two-level cell routing
        pq = _pq_parts(vecs)
        pq[0].count(), pq[1].persist().count()
        route = _two_level_parts(vecs)
        n_cells = route[2].select("cent_id").distinct().count()
        curve = []
        # sweep by CELL FRACTION, not absolute nprobe: n_cells grows
        # with N (K ~ N/64), so a fixed nprobe silently scans 10x less
        # of the directory a decade up — the r12 200k lesson. The
        # fractions reproduce the 20k points (16/32/64/128 of 298
        # cells); 0.43 is the tier's whole argument — at 12 B/vector
        # the code stage affords 2x the refined tier's widest probe
        # for ~40% of its stage-1 bytes
        for frac in (0.0537, 0.1074, 0.2148, 0.4295):
            nprobe = max(1, round(frac * n_cells))
            for shortlist in (50, 110, 220):
                t0 = time.monotonic()
                searched, pooled = ann_ivfadc_search(
                    vecs, nprobe=nprobe, shortlist=shortlist,
                    parts=pq, route_parts=route, return_pool=True,
                )
                got = {(r["query_id"], r["cand_id"]) for r in searched.collect()}
                union = pooled.count()
                curve.append(
                    {
                        "nprobe": nprobe,
                        "shortlist": shortlist,
                        "recall_at_5": round(len(exact & got) / len(exact), 4),
                        "sec": round(time.monotonic() - t0, 2),
                        "full_precision_scan_frac": round(union / n_corpus, 4),
                        "code_scan_frac": round(nprobe / n_cells, 4),
                        "bytes_per_code": 12,
                    }
                )
                print(curve[-1], flush=True)
        out = {
            "sf_dir": sf_dir,
            "n_corpus": n_corpus,
            "codebook": "ivfadc_trained_route_pq_m16_ks64",
            "n_cells": n_cells,
            "curve": curve,
        }
        with open(out_path, "w") as fh:
            json.dump(out, fh, indent=1)
        print("wrote", out_path)
        return

    if refined:
        parts = _two_level_parts(vecs)
        n_cells = parts[2].select("cent_id").distinct().count()
        exact = {
            (r["query_id"], r["cand_id"])
            for r in q_knn_bruteforce(spark, sf_dir).where(F.col("rank") <= 5).collect()
        }
        curve = []
        # fraction-based for the same reason as --ivfadc: equal
        # code_scan_frac across corpus sizes (16/32/64 of the 20k
        # directory's 298 cells)
        for frac in (0.0537, 0.1074, 0.2148):
            nprobe = max(1, round(frac * n_cells))
            for pool in (110, 220, 440, 880):
                t0 = time.monotonic()
                searched, pooled = ann_ivf_refined(
                    vecs, nprobe=nprobe, pool=pool, parts=parts, return_pool=True
                )
                ivf = {(r["query_id"], r["cand_id"]) for r in searched.collect()}
                union = pooled.count()
                sec = time.monotonic() - t0
                curve.append(
                    {
                        "nprobe": nprobe,
                        "pool": pool,
                        "recall_at_5": round(len(exact & ivf) / len(exact), 4),
                        "sec": round(sec, 2),
                        "full_precision_scan_frac": round(union / n_corpus, 4),
                        "code_scan_frac": round(nprobe / n_cells, 4),
                    }
                )
                print(curve[-1], flush=True)
        out = {
            "sf_dir": sf_dir,
            "n_corpus": n_corpus,
            "codebook": "trained_two_level_refined",
            "n_cells": n_cells,
            "curve": curve,
        }
        with open(out_path, "w") as fh:
            json.dump(out, fh, indent=1)
        print("wrote", out_path)
        return

    if fixture:
        centroids = _fixture_centroids(vecs)
        parts = None
        n_cells = _N_CENTROIDS
        nprobes = list(range(1, _N_CENTROIDS + 1))
    else:
        # train the two-level codebook ONCE and sweep nprobe against it:
        # a per-point ann_ivf_search(centroids=None) would retrain — and
        # re-persist — the whole construction at every nprobe
        centroids = None
        parts = _two_level_parts(vecs)
        n_cells = parts[2].select("cent_id").distinct().count()
        nprobes = [n for n in (1, 2, 4, 8, 16, 32, 64) if n <= n_cells]

    exact = {
        (r["query_id"], r["cand_id"])
        for r in q_knn_bruteforce(spark, sf_dir).where(F.col("rank") <= 5).collect()
    }
    n_exact = len(exact)

    curve = []
    for nprobe in nprobes:
        t0 = time.monotonic()
        searched = ann_ivf_search(vecs, nprobe=nprobe, centroids=centroids, parts=parts)
        ivf = {(r["query_id"], r["cand_id"]) for r in searched.collect()}
        sec = time.monotonic() - t0
        recall = len(exact & ivf) / n_exact
        # candidate fraction: expected share of the corpus each query's
        # probe touches (cells are near-uniform for the synthetic mix)
        frac = nprobe / n_cells
        curve.append(
            {
                "nprobe": nprobe,
                "recall_at_5": round(recall, 4),
                "sec": round(sec, 2),
                "expected_scan_frac": round(frac, 4),
            }
        )
        print(curve[-1], flush=True)

    out = {
        "sf_dir": sf_dir,
        "n_corpus": n_corpus,
        "codebook": "fixture" if fixture else "trained_two_level",
        "n_cells": n_cells,
        "curve": curve,
    }
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1)
    print("wrote", out_path)


if __name__ == "__main__":
    main()
