"""Unit tests for the pure-python operator kernels: t-distribution,
Grubbs filter, geohash codec, circuit breaker."""

import math

import numpy as np
import pytest

from mysense_spark.operators._tdist import t_cdf, t_ppf
from mysense_spark.operators.qc import grubbs_filter
from mysense_spark.operators.geo import geohash_decode, geohash_encode


def test_t_ppf_against_known_values():
    # classic t-table values (two-sided alpha=0.05 -> q=0.975)
    known = {1: 12.706, 2: 4.303, 5: 2.571, 10: 2.228, 30: 2.042, 120: 1.980}
    for df, expected in known.items():
        assert abs(t_ppf(0.975, df) - expected) < 5e-3, df


def test_t_cdf_symmetry_and_roundtrip():
    for df in (3, 7, 25):
        for x in (0.5, 1.3, 2.7):
            assert abs(t_cdf(x, df) + t_cdf(-x, df) - 1.0) < 1e-12
            assert abs(t_ppf(t_cdf(x, df), df) - x) < 1e-6


def test_grubbs_removes_planted_outlier():
    rng = np.random.default_rng(7)
    vals = rng.normal(10.0, 1.0, size=30)
    vals[13] = 35.0  # gross outlier
    keep = grubbs_filter(vals)
    assert not keep[13]
    assert keep.sum() >= 27  # does not butcher the inliers


def test_grubbs_keeps_clean_data():
    rng = np.random.default_rng(11)
    vals = rng.normal(0.0, 1.0, size=25)
    keep = grubbs_filter(vals)
    assert keep.sum() >= 23


def test_grubbs_constant_series_stops():
    vals = np.full(20, 3.3)
    assert grubbs_filter(vals).all()


def test_geohash_roundtrip_known_value():
    gh = geohash_encode(51.4392, 5.4786, precision=9)
    assert gh.startswith("u15")
    lat, lon = geohash_decode(gh)
    assert abs(lat - 51.4392) < 1e-3
    assert abs(lon - 5.4786) < 1e-3


def test_geohash_reference_vector():
    # public geohash test vector: (42.605, -5.603) -> 'ezs42' at precision 5
    assert geohash_encode(42.605, -5.603, precision=5) == "ezs42"


def test_circuit_breaker_reopen():
    from mysense_spark.sinks.forward import CircuitBreaker

    br = CircuitBreaker(threshold=3, cooloff_s=100)
    for _ in range(3):
        br.record("h", ok=False, now=0.0)
    assert not br.allow("h", now=50.0)
    assert br.allow("h", now=150.0)  # half-open after cool-off


def test_exact_sum_grouped_matches_expression_form(spark):
    """Two-stage (partition-partial) exact sum must be bit-identical to
    the single-expression exact_sum on real data — it is the documented
    unbounded-group fallback, so divergence would be a correctness bug."""
    from pyspark.sql import functions as F

    from mysense_spark.io import load
    from mysense_spark.operators.util import exact_sum, exact_sum_grouped

    li = load(spark, "/root/testdata/sf0.01", "lineitem")
    expr_form = (
        li.groupBy("l_returnflag")
        .agg(
            exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("disc_price"),
            exact_sum(F.col("l_quantity"), 4).alias("qty"),
        )
        .orderBy("l_returnflag")
        .collect()
    )
    staged_form = (
        exact_sum_grouped(
            li,
            ["l_returnflag"],
            {
                "disc_price": F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "qty": F.col("l_quantity"),
            },
            nd=4,
        )
        .orderBy("l_returnflag")
        .collect()
    )
    assert [tuple(r) for r in expr_form] == [tuple(r) for r in staged_form]


def test_registered_sql_functions_match_operators(spark):
    """The SQL function surface must agree with the operator expressions
    it mirrors — SQL users and DataFrame users get identical numbers."""
    import math

    from mysense_spark.functions import register_all
    from mysense_spark.operators.geo import geohash_encode

    names = register_all(spark)
    assert {"haversine_m", "dew_point_c", "geohash_encode", "taylor2"} <= set(names)

    row = spark.sql(
        """SELECT haversine_m(51.42, 6.13, 51.43, 6.16) AS d,
                  dew_point_c(20.0, 60.0) AS dp,
                  joost_correct(25.0, 80.0, 3.9, -0.409) AS j,
                  joost_correct(25.0, 1.0, 3.9, -0.409) AS j_null,
                  taylor2(10.0, 1.5, 0.9, 0.01) AS tay,
                  round(ugm3_to_ppb(100.0, 48.0, 20.0), 4) AS ppb,
                  geohash_encode(51.4173557, 6.1330886) AS gh,
                  round(geohash_lat(geohash_encode(51.4173557, 6.1330886)), 6) AS lat_rt
           FROM (SELECT 1)"""
    ).first()

    # haversine: ~0.01 deg lat + 0.03 deg lon at 51.4N ~ 2.3 km
    lat1, lon1, lat2, lon2 = map(math.radians, (51.42, 6.13, 51.43, 6.16))
    from mysense_spark.operators.geo import EARTH_RADIUS_M
    expect_d = 2 * EARTH_RADIUS_M * math.asin(
        math.sqrt(
            math.sin((lat2 - lat1) / 2) ** 2
            + math.cos(lat1) * math.cos(lat2) * math.sin((lon2 - lon1) / 2) ** 2
        )
    )
    assert abs(row.d - expect_d) < 1e-6
    gamma = math.log(60 / 100) + 17.62 * 20 / (243.12 + 20)
    assert abs(row.dp - 243.12 * gamma / (17.62 - gamma)) < 1e-9
    assert abs(row.j - 25.0 * 3.9 * 80.0**-0.409) < 1e-9
    assert row.j_null is None  # factor > 1 -> NULL (reference NaN)
    assert abs(row.tay - (1.5 + 0.9 * 10 + 0.01 * 100)) < 1e-12
    assert abs(row.ppb - round(100 * 293.15 / (12.187 * 48.0), 4)) < 1e-9
    assert row.gh == geohash_encode(51.4173557, 6.1330886, 12)
    assert abs(row.lat_rt - 51.417356) < 1e-5


# ---------------------------------------------------------------------------
# Corpus-assembly operator invariants (beyond the oracle hash check)
# ---------------------------------------------------------------------------


def test_sequence_packing_layout_is_gapless(spark, sf_dir):
    """Within every shard the token layout is contiguous: each document
    starts exactly where its predecessor ended, and chunk ids follow
    from integer division of the offsets."""
    from mysense_spark.operators.sampling import _PACK_BUDGET, q_sequence_packing

    rows = q_sequence_packing(spark, sf_dir).collect()
    by_shard: dict = {}
    for r in sorted(rows, key=lambda r: (r.shard, r.doc_id)):
        assert r.tok_start == by_shard.get(r.shard, 0), r.doc_id
        by_shard[r.shard] = r.tok_start + r.n_tokens
        assert r.chunk_start == r.tok_start // _PACK_BUDGET
        assert r.chunk_end == (r.tok_start + r.n_tokens - 1) // _PACK_BUDGET
        assert r.n_chunks == r.chunk_end - r.chunk_start + 1 >= 1


def test_stratified_sample_quotas_exact(spark, sf_dir):
    """Every stratum contributes exactly ceil(n/5) documents and the
    pick ranks are the contiguous prefix 1..quota (i.e. the selection
    is the md5-minimal subset, not an arbitrary one)."""
    from collections import defaultdict

    from mysense_spark.operators.sampling import q_stratified_sample

    rows = q_stratified_sample(spark, sf_dir).collect()
    picked = defaultdict(list)
    quotas = {}
    for r in rows:
        assert r.quota == (r.stratum_n + 4) // 5
        picked[r.source].append(r.pick_rank)
        quotas[r.source] = r.quota
    for source, ranks in picked.items():
        assert sorted(ranks) == list(range(1, quotas[source] + 1)), source


def test_pii_scrub_redaction_is_complete(spark, sf_dir):
    """Re-running the PII detectors over the redacted text must find
    nothing: redaction removes every span the detectors match (the
    counts and the redacted fingerprint come from the same pass)."""
    from pyspark.sql import functions as F

    from mysense_spark.io import load
    from mysense_spark.operators.text import _PII_EMAIL, _PII_IP, _PII_PHONE

    doc = load(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    aug = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 7 == 0, F.concat(F.lit(" contact user"), did, F.lit("@example.com now"))).otherwise(""),
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit(" call +31-6-"), did, F.lit("1234 today"))).otherwise(""),
        F.when(F.col("doc_id") % 11 == 0, F.concat(F.lit(" host 10.0."), (F.col("doc_id") % 256).cast("string"), F.lit("."), (F.col("doc_id") % 100).cast("string"), F.lit(" up"))).otherwise(""),
    )
    red = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(aug, _PII_EMAIL, "<EMAIL>"), _PII_PHONE, "<PHONE>"),
        _PII_IP,
        "<IP>",
    )
    residue = (
        doc.select(red.alias("red"))
        .where(
            (F.size(F.regexp_extract_all("red", F.lit(_PII_EMAIL), F.lit(0))) > 0)
            | (F.size(F.regexp_extract_all("red", F.lit(_PII_PHONE), F.lit(0))) > 0)
            | (F.size(F.regexp_extract_all("red", F.lit(_PII_IP), F.lit(0))) > 0)
        )
        .count()
    )
    assert residue == 0


def test_kmeans_train_partitions_the_corpus(spark, sf_dir):
    """Cluster sizes sum to the corpus, every seed cluster survives,
    and the second iteration's centroid shift is small relative to the
    coordinate scale (Lloyd contracts; exact-int arithmetic must not
    break that)."""
    from mysense_spark.io import load
    from mysense_spark.operators.similarity import q_kmeans_train

    rows = q_kmeans_train(spark, sf_dir).collect()
    n_vectors = load(spark, sf_dir, "embeddings").count()
    assert sum(r.n_members for r in rows) == n_vectors
    assert len(rows) == 8
    for r in rows:
        assert r.n_members > 0
        assert r.inertia > 0
        assert 0 <= r.centroid_shift < 0.1  # grid units²: tiny vs |x| <= ~0.6


def test_kmeans_directory_is_trained_not_fixture(spark, sf_dir):
    """The r13 trained-directory grading closes the fixture-vs-trained
    gap ONLY if the directory really is a training artifact: (a) the
    kmeans_centroids table carries one 64-dim unit-scale vector per
    surviving cluster, (b) every centroid sits on the exact 1e-6 grid
    (cq / 1e6 — the cross-engine exactness contract), and (c) the
    directory has MOVED off the Lloyd seed vectors (embeddings
    100..107) — a directory equal to its init would silently regress
    the graded ann_ivfadc_kmeans/ann_ivfpq_kmeans back to a frozen
    fixture with extra steps."""
    from mysense_spark.operators.similarity import (
        _fixture_centroids,
        _vectors,
        kmeans_centroids,
    )

    vecs = _vectors(spark, sf_dir)
    fix = {r["vec_id"] - 100: r["v"] for r in _fixture_centroids(vecs).collect()}
    km = {r["vec_id"]: (r["v"], r["norm"]) for r in kmeans_centroids(spark, sf_dir).collect()}
    assert set(km) <= set(range(8)) and len(km) >= 2
    import math

    moved = 0
    for cid, (v, norm) in km.items():
        assert len(v) == 64 and norm > 0
        for x in v:
            # exact grid membership: x * 1e6 must round-trip to an int
            assert x == int(round(x * 1e6)) / 1e6
        seed_grid = [math.floor(s * 1e6) / 1e6 for s in fix[cid]]
        if any(abs(a - b) > 5e-6 for a, b in zip(v, seed_grid)):
            moved += 1
    assert moved >= 1  # Lloyd means, not the init seeds


def test_chunk_overlap_covers_every_token(spark, sf_dir):
    """Chunk layout invariants: chunk 0 starts at 0, strides are exactly
    48, the last chunk reaches the document's final token, and no chunk
    is empty or longer than the 64-token budget."""
    from collections import defaultdict

    from mysense_spark.operators.sampling import _CHUNK, _STRIDE, q_chunk_overlap

    rows = q_chunk_overlap(spark, sf_dir).collect()
    by_doc = defaultdict(list)
    for r in rows:
        by_doc[r.doc_id].append(r)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_idx)
        assert chunks[0].tok_start == 0
        for i, c in enumerate(chunks):
            assert c.chunk_idx == i
            assert c.tok_start == i * _STRIDE
            assert 1 <= c.tok_len <= _CHUNK
        # the last chunk must cover the tail: its end is the doc's token
        # count, and a further stride would start at or past that end
        last = chunks[-1]
        end = last.tok_start + last.tok_len
        assert last.tok_len < _CHUNK or end - (len(chunks) - 1) * _STRIDE == _CHUNK
        assert (len(chunks)) * _STRIDE >= end - _CHUNK + _STRIDE


def test_incremental_dedup_verdicts(spark, sf_dir):
    """Every new-batch doc gets exactly one verdict; the constructed
    donor-text docs are caught by the exact tier; matches point into the
    corpus side (never at another new doc)."""
    from mysense_spark.io import load
    from mysense_spark.operators.dedup import _INCR_MOD, q_incremental_dedup

    rows = q_incremental_dedup(spark, sf_dir).collect()
    doc_ids = {r.doc_id for r in rows}
    max_id = load(spark, sf_dir, "documents").agg({"doc_id": "max"}).collect()[0][0]
    expected_new = {i for i in range(0, max_id + 1) if i % _INCR_MOD == 0}
    assert doc_ids == expected_new
    for r in rows:
        if r.doc_id % 20 == 0 and r.doc_id + 1 <= max_id:
            assert r.verdict == "exact_dup", r
        if r.match_doc_id is not None:
            assert r.match_doc_id % _INCR_MOD != 0  # matches live in the corpus
        if r.verdict == "unique":
            assert r.match_doc_id is None and r.jaccard is None


def test_ann_recall_bounds(spark, sf_dir):
    """One row per query vector; recall in [0,1] and consistent with
    n_hits; and the IVF index finds at least SOMETHING across the query
    set (a 0-recall index means the probe wiring is broken)."""
    from mysense_spark.operators.similarity import _N_QUERIES, q_ann_recall

    rows = q_ann_recall(spark, sf_dir).collect()
    assert len(rows) == _N_QUERIES
    assert sum(r.n_hits for r in rows) > 0
    for r in rows:
        assert 0 <= r.n_hits <= 5
        assert abs(r.recall_at_5 - r.n_hits / 5.0) < 1e-9


def test_dup_ngram_frac_bounds(spark, sf_dir):
    from mysense_spark.operators.text import q_dup_ngram_frac

    rows = q_dup_ngram_frac(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.dup_grams <= r.n_grams
        assert 0.0 <= r.dup_frac <= 1.0


def test_perplexity_bucket_is_positive(spark, sf_dir):
    """Unigram nll is >= 0 (a probability <= 1), and the bucket is the
    floored half-nat of the rounded mean."""
    import math

    from mysense_spark.operators.text import q_perplexity_bucket

    rows = q_perplexity_bucket(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.avg_nll >= 0.0
        assert r.nll_bucket == math.floor(r.avg_nll * 2)


def test_url_filter_rules(spark, sf_dir):
    from mysense_spark.operators.sampling import _BLOCKLIST, _BLOCK_SUFFIX, q_url_filter

    rows = q_url_filter(spark, sf_dir).collect()
    verdicts = {r.verdict for r in rows}
    assert {"kept", "blocked:domain", "blocked:tld_rule"} <= verdicts
    for r in rows:
        if r.domain in _BLOCKLIST:
            assert r.verdict == "blocked:domain"
        elif r.domain.endswith(_BLOCK_SUFFIX):
            assert r.verdict == "blocked:tld_rule"
        else:
            assert r.verdict == "kept"
        assert r.url == f"https://{r.domain}/p/{r.doc_id}"


def test_ieee_round_cross_engine_parity(spark):
    """The rounding parity contract behind every oracle comparison:
    util.ieee_round must produce bit-identical results in Spark and
    DuckDB on values engineered to sit a ulp from the 6-dp half-grid —
    exactly where the engines' native round() implementations disagree
    (Spark rounds the shortest decimal repr, DuckDB the binary double)."""
    import random

    import duckdb
    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as F

    rng = random.Random(7)
    vals = [rng.uniform(-1e6, 1e6) for _ in range(3000)]
    vals += [
        rng.randint(-10**9, 10**9) / 1e6 + 5e-7 + d
        for _ in range(3000)
        for d in (rng.choice([-1e-10, 0.0, 1e-10]),)
    ]
    pdf = pd.DataFrame({"x": vals})

    ieee = F.floor(F.col("x") * 1000000.0 + 0.5) / 1000000.0
    got_spark = spark.createDataFrame(pdf).select(ieee.alias("r")).toPandas()["r"].to_numpy()

    con = duckdb.connect()
    con.register("t", pdf)
    got_duck = con.execute(
        "SELECT floor(x * 1000000.0 + 0.5) / 1000000.0 AS r FROM t"
    ).fetchdf()["r"].to_numpy()
    assert int(np.sum(got_spark != got_duck)) == 0


def test_sql_ieee_round_is_double_in_spark(spark):
    """sql_ieee_round must be engine-safe as TEXT in BOTH dialects: in
    Spark selectExpr the naked floor(e*1e6+0.5)/1e6 form yields a DECIMAL
    column (bare fractional literal -> DECIMAL(8,1); floor -> LONG;
    LONG/DECIMAL -> DECIMAL) — the exact r3/r4 station_calibration driver
    red. The CAST-pinned form must come out DOUBLE with the same value."""
    from mysense_spark.operators.util import sql_ieee_round

    df = spark.range(1).selectExpr(f"{sql_ieee_round('1.2345678', 6)} AS r")
    assert dict(df.dtypes)["r"] == "double"
    assert df.collect()[0]["r"] == 1.234568


def test_ngram_jaccard_df_cap(spark, tmp_path):
    """Hot-shingle cap: a stop-shingle present in > df-cap docs must be
    dropped from the Jaccard self-join input on BOTH engines — the pairs
    it alone would bridge disappear, genuine near-dups survive, and the
    oracle stays hash-identical (the cap is mirrored in SQL)."""
    import os

    import pandas as pd

    from mysense_spark.io import TABLES
    from mysense_spark.operators.dedup import df_capped
    from mysense_spark.oracle import check_query
    from mysense_spark.queries import registry

    def survivors(n_docs, dfs):
        # hash h occurs in the first dfs[h] of n_docs documents
        doc = spark.range(n_docs).withColumnRenamed("id", "doc_id")
        raw = spark.createDataFrame(
            [(d, h) for h, n in enumerate(dfs) for d in range(n)], "doc_id long, hsh long"
        )
        return {r["hsh"] for r in df_capped(raw, doc).select("hsh").distinct().collect()}

    # 500 docs: the floor cap _DF_CAP_MIN = 25 applies
    assert survivors(500, [25, 26]) == {0}
    # 10,000 docs: ceil(0.5% of docs) = 50 is above the floor
    assert survivors(10_000, [50, 51]) == {0}

    # corpus: 30 docs (> cap of 25) that share EXACTLY one shingle
    # ("zzz yyy xxx") and are otherwise unique, sized so that one shared
    # shingle alone clears the 0.05 threshold (1/19 ~ 0.0526)...
    docs = []
    for i in range(30):
        filler = " ".join(f"u{i}w{j}" for j in range(9))
        docs.append((i, f"{filler} zzz yyy xxx"))
    # ...plus one genuine near-dup pair sharing many shingles
    base = " ".join(f"common{j}" for j in range(12))
    docs.append((100, base + " tail100a tail100b"))
    docs.append((101, base + " tail101a tail101b"))

    from tests.conftest import SF_SMOKE

    sf = tmp_path / "capsf"
    sf.mkdir()
    for t in TABLES:
        if t != "documents":
            os.symlink(f"{SF_SMOKE}/{t}.parquet", sf / f"{t}.parquet")
    pd.DataFrame(
        [
            {"doc_id": d, "text": t, "lang": "en", "source": "synthetic", "n_chars": len(t)}
            for d, t in docs
        ]
    ).to_parquet(sf / "documents.parquet")

    res = check_query(spark, "ngram_jaccard_pairs", str(sf))
    assert res.ok, res.detail

    fn, _sql = registry()["ngram_jaccard_pairs"]
    rows = fn(spark, str(sf)).collect()
    got_pairs = {(r["d1"], r["d2"]) for r in rows}
    assert (100, 101) in got_pairs, "genuine near-dup lost"
    assert all(d1 >= 100 for d1, _ in got_pairs), f"stop-shingle pair leaked: {got_pairs}"


def test_query_cache_hygiene(spark, sf_dir):
    """Query-internal persists must not accumulate across a sweep: every
    registered query releases the PREVIOUS query's tracked caches at
    entry (cache.py), so live cached storage is bounded by one query's
    working set — the round-4 full-suite JVM-death fix, now structural
    instead of session hygiene."""
    from mysense_spark import cache
    from mysense_spark.queries import spark_queries

    q = spark_queries()
    q["bm25_search"](spark, sf_dir).collect()  # persists its tokenize pass
    assert len(cache._TRACKED) > 0, "bm25 no longer registers its persist"
    q["pricing_summary"](spark, sf_dir)  # any next query releases at entry
    assert len(cache._TRACKED) == 0, "tracked caches not released at query entry"


def test_drain_breaker_mixed_batches_do_not_latch():
    """A steady tiny error rate (say 1 failure per 5k posts per batch)
    must never accumulate across batches and open the breaker — each
    healthy batch RESETS the budget, mirroring the per-record loop the
    accumulator path replaced. Error-dominated batches still open it."""
    from mysense_spark.sinks.forward import CircuitBreaker, drain_breaker

    br = CircuitBreaker(threshold=20, cooloff_s=3600)
    for _ in range(100):  # 100 mixed batches: 5000 ok, 3 errors each
        drain_breaker(br, "h", n_ok=5000, n_err=3)
    assert br.allow("h"), "mixed healthy batches latched the breaker"

    # errors >= threshold but rate is low (25/5000 = 0.5%): still healthy
    for _ in range(50):
        drain_breaker(br, "h", n_ok=5000, n_err=25)
    assert br.allow("h")

    # a large-minority failure rate (900/1900 ~ 47%) must NOT be
    # laundered by the successes — one such batch opens the breaker
    br3 = CircuitBreaker(threshold=20, cooloff_s=3600)
    drain_breaker(br3, "h", n_ok=1000, n_err=900)
    assert not br3.allow("h"), "47% sustained failure rate never opened the breaker"

    # a low-traffic host failing 15 of 40 every batch (37%, below the
    # 20-error absolute threshold) must still accumulate across batches
    # and open — the rate test alone decides, with no count precondition
    br4 = CircuitBreaker(threshold=20, cooloff_s=3600)
    drain_breaker(br4, "h", n_ok=25, n_err=15)
    assert br4.allow("h")  # first bad batch: budget accrued, not yet open
    drain_breaker(br4, "h", n_ok=25, n_err=15)
    assert not br4.allow("h"), "sustained 37% rate on small batches never opened the breaker"

    # total outage: consecutive all-error batches must open it
    for _ in range(4):
        drain_breaker(br, "h", n_ok=0, n_err=7)
    assert not br.allow("h"), "error-dominated batches failed to open the breaker"

    # a single error-dominated burst also opens immediately
    br2 = CircuitBreaker(threshold=20, cooloff_s=3600)
    drain_breaker(br2, "h", n_ok=5, n_err=40)
    assert not br2.allow("h")


def test_registry_fails_loudly_when_an_operator_module_cannot_import(monkeypatch):
    """A broken operator module must fail the registry, not silently
    drop its queries from it (and from the oracle gate)."""
    import sys

    import mysense_spark.operators as ops
    from mysense_spark.queries import registry

    monkeypatch.delattr(ops, "geo", raising=False)
    monkeypatch.setitem(sys.modules, "mysense_spark.operators.geo", None)
    with pytest.raises(ImportError):
        registry()


def test_registry_gate_window_contract():
    """The driver's correctness gate grades exactly the FIRST 50
    registry entries, so the priority window must stay at exactly 50,
    every name must resolve, and every windowed row should carry an
    oracle (a rows-only row in the scarce window wastes a graded slot).
    Also: every oracle SQL in the registry must at least parse in DuckDB
    against empty same-shaped views — catches dialect typos without
    running the data."""
    import duckdb

    from mysense_spark.queries import _PRIORITY, registry

    reg = registry()
    assert len(_PRIORITY) == 50, f"window is {len(_PRIORITY)}, gate grades exactly 50"
    missing = [n for n in _PRIORITY if n not in reg]
    assert not missing, f"window names not in registry: {missing}"
    no_oracle = [n for n in _PRIORITY if reg[n][1] is None]
    assert not no_oracle, f"rows-only queries waste window slots: {no_oracle}"

    con = duckdb.connect()
    schemas = {
        "region": "r_regionkey BIGINT, r_name VARCHAR, r_comment VARCHAR",
        "nation": "n_nationkey BIGINT, n_name VARCHAR, n_regionkey BIGINT, n_comment VARCHAR",
        "customer": "c_custkey BIGINT, c_name VARCHAR, c_address VARCHAR, c_nationkey BIGINT, c_phone VARCHAR, c_acctbal DOUBLE, c_mktsegment VARCHAR, c_comment VARCHAR",
        "supplier": "s_suppkey BIGINT, s_name VARCHAR, s_address VARCHAR, s_nationkey BIGINT, s_phone VARCHAR, s_acctbal DOUBLE, s_comment VARCHAR",
        "part": "p_partkey BIGINT, p_name VARCHAR, p_mfgr VARCHAR, p_brand VARCHAR, p_type VARCHAR, p_size BIGINT, p_container VARCHAR, p_retailprice DOUBLE, p_comment VARCHAR",
        "orders": "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus VARCHAR, o_totalprice DOUBLE, o_orderdate DATE, o_orderpriority VARCHAR, o_clerk VARCHAR, o_shippriority BIGINT, o_comment VARCHAR",
        "lineitem": "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber BIGINT, l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, l_returnflag VARCHAR, l_linestatus VARCHAR, l_shipdate DATE, l_commitdate DATE, l_receiptdate DATE, l_shipinstruct VARCHAR, l_shipmode VARCHAR, l_comment VARCHAR",
        "events": "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type VARCHAR, value DOUBLE, props VARCHAR",
        "documents": "doc_id BIGINT, text VARCHAR, lang VARCHAR, source VARCHAR, n_chars BIGINT",
        "embeddings": "vec_id BIGINT, embedding DOUBLE[], label INTEGER",
    }
    for t, ddl in schemas.items():
        con.execute(f"CREATE TABLE {t} ({ddl})")
    bad = []
    for name, (_fn, sql) in reg.items():
        if sql is None:
            continue
        try:
            con.execute(f"SELECT * FROM ({sql}) LIMIT 0")
        except Exception as ex:
            bad.append(f"{name}: {str(ex)[:120]}")
    assert not bad, f"oracle SQL fails to parse/bind: {bad}"


def test_exact_agg_partitioning_independence(spark):
    """The engine's core exactness claim, asserted directly: exact_sum /
    exact_avg / exact_std produce BIT-IDENTICAL results regardless of
    partition count, partitioning key, or row order — the property that
    makes results reproducible across cluster sizes and lets the DuckDB
    oracle compare with zero float tolerance."""
    import random

    import pandas as pd
    from pyspark.sql import functions as F

    from mysense_spark.operators.util import exact_avg, exact_std, exact_sum

    rng = random.Random(11)
    pdf = pd.DataFrame(
        [(i % 7, rng.uniform(-1e4, 1e4)) for i in range(4000)], columns=["k", "x"]
    )
    base = spark.createDataFrame(pdf)
    variants = [
        base.repartition(1),
        base.repartition(13, "k"),
        base.orderBy(F.desc("x")).repartition(7),
    ]
    outs = []
    for v in variants:
        rows = (
            v.groupBy("k")
            .agg(
                exact_sum(F.col("x"), 4).alias("s"),
                exact_avg(F.col("x"), 6).alias("a"),
                exact_std(F.col("x"), 6).alias("d"),
            )
            .orderBy("k")
            .collect()
        )
        outs.append([(r["k"], r["s"], r["a"], r["d"]) for r in rows])
    assert outs[0] == outs[1] == outs[2]


def test_tokenizer_whitespace_class_parity(spark, tmp_path):
    """Java regex \\s includes \\x0B (vertical tab); RE2's (DuckDB) does
    not — with plain \\S+/\\s tokenizers, a document containing \\x0B
    tokenizes DIFFERENTLY per engine and flips the driver hash. The
    tokenizing queries pin an explicit whitespace class instead; this
    plants a vertical-tab document and proves engine parity holds."""
    import os

    import pandas as pd

    from mysense_spark.io import TABLES
    from mysense_spark.oracle import check_query
    from tests.conftest import SF_SMOKE

    sf = tmp_path / "wssf"
    sf.mkdir()
    for t in TABLES:
        if t != "documents":
            os.symlink(f"{SF_SMOKE}/{t}.parquet", sf / f"{t}.parquet")
    texts = [
        "alpha\x0bbeta gamma the words of and that have with more words here now",
        "plain text with the usual words of a document that goes on and on",
        "tab\tsplit and\x0b\x0bdouble vtab the of and that have with tokens",
    ]
    pd.DataFrame(
        [
            {"doc_id": i, "text": t, "lang": "en", "source": "s", "n_chars": len(t)}
            for i, t in enumerate(texts)
        ]
    ).to_parquet(sf / "documents.parquet")

    # tokenizers AND the md5 fingerprint normalizers (which collapse
    # whitespace runs before hashing — a \x0B split difference would
    # produce different fingerprints, dup counts and keep decisions)
    for name in (
        "gopher_filter",
        "token_count",
        "tokenizer_fertility",
        "dedup_exact",
        "doc_fingerprint",
        "quality_score",
        "tfidf_top_terms",
    ):
        res = check_query(spark, name, str(sf))
        assert res.ok, f"{name}: {res.detail}"


def test_empty_doc_parity(spark, tmp_path):
    """A whitespace-only / empty document has n_words = 0; under ANSI
    mode an unguarded ratio division crashes the whole query with
    DIVIDE_BY_ZERO while the DuckDB oracle returns NULL — exactly the
    junk-document class a quality filter exists to process. Plant both
    degenerate docs and prove the doc-ratio queries stay engine-equal."""
    import os

    import pandas as pd

    from mysense_spark.io import TABLES
    from mysense_spark.oracle import check_query
    from tests.conftest import SF_SMOKE

    sf = tmp_path / "emptysf"
    sf.mkdir()
    for t in TABLES:
        if t != "documents":
            os.symlink(f"{SF_SMOKE}/{t}.parquet", sf / f"{t}.parquet")
    texts = [
        "",  # fully empty
        "   \t\n  \n\t ",  # whitespace-only
        "a normal document with the usual words of and that have with more text here",
    ]
    pd.DataFrame(
        [
            {"doc_id": i, "text": t, "lang": "en", "source": "s", "n_chars": len(t)}
            for i, t in enumerate(texts)
        ]
    ).to_parquet(sf / "documents.parquet")

    for name in ("gopher_filter", "quality_score", "text_stats", "repetition_stats"):
        res = check_query(spark, name, str(sf))
        assert res.ok, f"{name}: {res.detail}"


def test_text_ratio_rounding_matches_oracle_on_half_grid(spark, tmp_path):
    """41/640 = 0.0640625 sits on the 6-decimal half grid. Spark's native
    round(double, 6) rounds its shortest decimal string half-up to
    0.064063, while the DuckDB oracle rounds the binary double to
    0.064062; util.ieee_round agrees with the oracle. A one-document
    corpus of 640 tokens over 41 distinct words (one word x600 plus 40
    singletons) puts repetition_stats' distinct_ratio exactly there."""
    import os

    import pandas as pd

    from mysense_spark.io import TABLES
    from mysense_spark.oracle import check_query
    from mysense_spark.queries import registry
    from tests.conftest import SF_SMOKE

    sf = tmp_path / "halfsf"
    sf.mkdir()
    for t in TABLES:
        if t != "documents":
            os.symlink(f"{SF_SMOKE}/{t}.parquet", sf / f"{t}.parquet")
    text = " ".join(["aa"] * 600 + [f"s{i}" for i in range(40)])
    pd.DataFrame(
        [{"doc_id": 0, "text": text, "lang": "en", "source": "s", "n_chars": len(text)}]
    ).to_parquet(sf / "documents.parquet")

    res = check_query(spark, "repetition_stats", str(sf))
    assert res.ok, res.detail
    (got,) = registry()["repetition_stats"][0](spark, str(sf)).collect()
    assert (got["n_tokens"], got["distinct_ratio"]) == (640, 0.064062)


def test_hourly_pivot_rh_is_not_fabricated(spark, tmp_path):
    """The r6 rh bug class: least() OUTSIDE the event-type guard made
    every non-purchase row contribute the 99.9 cap, fabricating humidity
    for hours with none measured — and the oracle mirrored it, so the
    hash gate agreed on the wrong answer. Pin the SEMANTICS against an
    independently computed expectation: no purchase in the hour -> rh
    NULL; purchases present -> mean(min(value/2, 99.9)) over purchases
    only, other event types never contributing."""
    import datetime as dt
    import os

    import pandas as pd

    from mysense_spark.io import TABLES
    from mysense_spark.operators.indices import _hourly_pivot
    from tests.conftest import SF_SMOKE

    sf = tmp_path / "rhsf"
    sf.mkdir()
    for t in TABLES:
        if t != "events":
            os.symlink(f"{SF_SMOKE}/{t}.parquet", sf / f"{t}.parquet")
    h0 = dt.datetime(2024, 1, 1, 10)
    h1 = dt.datetime(2024, 1, 1, 11)
    rows = [
        # hour 10: clicks only -> rh must be NULL (was 99.9 pre-fix)
        (1, h0, 1, "click", 50.0, "{}"),
        (2, h0, 1, "click", 60.0, "{}"),
        # hour 11: one purchase of 80 (-> 40) and three clicks -> rh 40,
        # NOT (3*99.9 + 40)/4 = 84.925 as the buggy form computed
        (3, h1, 1, "purchase", 80.0, "{}"),
        (4, h1, 1, "click", 10.0, "{}"),
        (5, h1, 1, "click", 20.0, "{}"),
        (6, h1, 1, "click", 30.0, "{}"),
        # hour 11: a 300-value purchase caps at 99.9 for user 2
        (7, h1, 2, "purchase", 300.0, "{}"),
    ]
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).to_parquet(sf / "events.parquet")

    out = {(r["user_id"], r["hour"].hour): r["rh"] for r in _hourly_pivot(spark, str(sf)).collect()}
    assert out[(1, 10)] is None, "rh fabricated for an hour with no humidity measurement"
    assert out[(1, 11)] == 40.0
    assert out[(2, 11)] == 99.9


def test_pairs_cte_strips_presentation_order():
    """_PAIRS_CTE embeds the minhash pairs SQL inside other oracles'
    CTEs; removesuffix() silently no-ops if the pairs SQL's tail is ever
    reworded, which would leave an ORDER BY inside every composing CTE.
    Pin the contract instead of trusting the suffix."""
    from mysense_spark.operators.dedup import _PAIRS_CTE, SQL_MINHASH_LSH_PAIRS

    assert SQL_MINHASH_LSH_PAIRS.strip().endswith("ORDER BY d1, d2")
    assert not _PAIRS_CTE.rstrip().endswith("ORDER BY d1, d2")


def test_ivf_membership_agg_matches_window_rule(spark, sf_dir):
    """The agg-form membership (ivf_membership: max(struct(cos, -cent_id)),
    map-side combinable) and the window-form rule (ivf_assigned crank==1)
    encode the same nearest-centroid semantics in two plans — this pins
    them together so they cannot drift, for BOTH the fixture codebook and
    a big modulo codebook (where ties and the -cent_id tie-break actually
    fire)."""
    from pyspark.sql import functions as F

    from mysense_spark.operators.similarity import (
        _vectors,
        ivf_assigned,
        ivf_membership,
        modulo_centroids,
    )

    vecs = _vectors(spark, sf_dir)
    for cents in (None, modulo_centroids(vecs, 32)):
        via_agg = {
            r["vec_id"]: r["cent_id"]
            for r in ivf_membership(vecs, cents).collect()
        }
        via_window = {
            r["vec_id"]: r["cent_id"]
            for r in ivf_assigned(vecs, cents)
            .where(F.col("crank") == 1)
            .select("vec_id", "cent_id")
            .collect()
        }
        assert via_agg == via_window


def test_two_level_membership_total_and_deterministic(spark, sf_dir):
    """The trained-codebook assignment must be TOTAL (every vector gets
    exactly one cell — the pruned joins can silently drop rows if a
    coarse cell ever lacks fine centroids) and deterministic across
    plans (two independent evaluations agree row for row). Cells must
    also be genuinely plural and bounded by the corpus."""
    from mysense_spark.operators.similarity import _vectors, two_level_membership

    vecs = _vectors(spark, sf_dir)
    n = vecs.count()
    m1 = {r["vec_id"]: r["cent_id"] for r in two_level_membership(vecs).collect()}
    assert len(m1) == n, "membership dropped or duplicated vectors"
    m2 = {r["vec_id"]: r["cent_id"] for r in two_level_membership(vecs).collect()}
    assert m1 == m2, "assignment not deterministic"
    cells = set(m1.values())
    assert 1 < len(cells) <= max(2, n // 8)
    # cell ids are real corpus rows (fine seeds), not synthetic labels
    ids = {r["vec_id"] for r in vecs.select("vec_id").collect()}
    assert cells <= ids


def test_trained_codebook_seed_anchor_never_empty(spark):
    """A corpus whose ids all miss the md5 seed bucket must still train:
    the argmin-(md5,vec_id) anchor guarantees >= 1 fine seed, one coarse
    cell, and a total membership."""
    import pyspark.sql.functions as F

    from mysense_spark.operators.similarity import _md5u32, two_level_membership

    rows = [(i, [float(i % 7), 1.0, 2.0]) for i in range(997, 1037)]
    vecs = (
        spark.createDataFrame(rows, "vec_id long, v array<double>")
        .withColumn(
            "norm",
            F.sqrt(F.aggregate(F.expr("transform(v, x -> x * x)"), F.lit(0.0), lambda a, x: a + x)),
        )
    )
    # keep only ids OUTSIDE the md5 seed bucket so only the anchor seeds
    vecs = vecs.where(_md5u32(F.col("vec_id")) % 64 != 0)
    n = vecs.count()
    assert n > 10
    m = two_level_membership(vecs).collect()
    assert len(m) == n
    assert len({r["cent_id"] for r in m}) == 1  # the single anchor cell


def _clustered_vecs(spark, n=480, n_clusters=12, dim=8):
    """Deterministic well-separated clusters: cluster j sits at
    50·e_{j mod dim}, plus 50·e_{(j+3) mod dim} for j >= dim so the
    wrapped clusters stay distinct from the single-spike ones; members
    jitter by at most 0.6 in one dimension (0.3·((i//n_clusters) % 3)),
    two orders of magnitude under the 50-unit cluster separation."""
    import pyspark.sql.functions as F

    rows = []
    for i in range(n):
        j = i % n_clusters
        v = [0.0] * dim
        v[j % dim] += 50.0
        if j >= dim:
            v[(j + 3) % dim] += 50.0
        v[(i // n_clusters) % dim] += 0.3 * ((i // n_clusters) % 3)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, v array<double>").withColumn(
        "norm",
        F.sqrt(F.aggregate(F.expr("transform(v, x -> x * x)"), F.lit(0.0), lambda a, x: a + x)),
    )


def test_broadcast_argmin_matches_nearest(spark):
    """The map-side broadcast-array argmin (_nearest_bcast) must be
    BIT-IDENTICAL to the groupBy-min kernel (_nearest) — same integer
    L2, same (dist, id) tie-break — including on planted exact ties,
    where the smallest candidate id must win in both. The codebook
    construction mixes the kernels (map-side for the coarse level,
    equi-join for the fine level), so any drift between them would
    silently split the assignment."""
    from mysense_spark.operators.similarity import _nearest, _nearest_bcast

    rows = spark.createDataFrame(
        [(i, [int(i * 7 % 50), int(i * 13 % 50)]) for i in range(200)],
        "vec_id long, qv array<long>",
    )
    # candidates include an exact duplicate pair (ids 90, 91 share a
    # vector) so the tie-break is actually exercised
    cands = spark.createDataFrame(
        [(90, [10, 10]), (91, [10, 10]), (92, [40, 5]), (93, [5, 40])],
        "cid long, cqv array<long>",
    )
    via_group = {
        r["vec_id"]: r["cid"]
        for r in _nearest(rows, cands, "vec_id", "qv", "cid", "cqv").collect()
    }
    via_map = {
        r["vec_id"]: r["cid"]
        for r in _nearest_bcast(rows, cands, "qv", "cid", "cqv").collect()
    }
    assert via_map == via_group
    assert 91 not in set(via_map.values())  # ties go to the smaller id


# a route stride beyond the 32-bit md5 prefix range: only h = 0 could
# pass the route filter, and such a row is the anchor anyway, so the
# oracle's route level is exactly one cell at any fine_mod/group
_ONE_ROUTE = 2**32


def _oracle_two_level(sf_dir, select, **strides):
    from mysense_spark.operators.similarity import _SQL_VECTORS, _sql_two_level_membership
    from mysense_spark.oracle import run_oracle

    return run_oracle(
        f"WITH vecs AS ({_SQL_VECTORS}),{_sql_two_level_membership(**strides)}\n{select}",
        sf_dir,
    )


def test_two_level_membership_matches_oracle_multi_cell(spark, sf_dir):
    """Cross-engine pin of the two-level construction with a genuinely
    multi-cell coarse level: tight strides (fine_mod=2, group=4) on the
    sf0.01 embeddings, Spark membership vs the DuckDB mirror row for
    row. The mirror's route level is collapsed to one cell by a stride
    beyond the hash range — asserted, together with the coarse level
    being plural, so the test pins what it claims."""
    import os

    from mysense_spark.operators.similarity import _two_level_parts, _vectors

    sf_dir = os.path.join(os.path.dirname(sf_dir), "sf0.01")  # the graded scale
    strides = dict(fine_mod=2, group=4)
    _, _, final = _two_level_parts(_vectors(spark, sf_dir), **strides)
    got = {r["vec_id"]: r["cent_id"] for r in final.collect()}
    oracle = dict(strides, route_group=_ONE_ROUTE // 8)
    odf = _oracle_two_level(
        sf_dir, "SELECT vec_id, cent_id FROM membership ORDER BY vec_id", **oracle
    )
    assert got == dict(zip(odf["vec_id"].astype(int), odf["cent_id"].astype(int)))
    levels = _oracle_two_level(
        sf_dir,
        "SELECT (SELECT count(DISTINCT route_id) FROM s_route) AS routes,"
        " (SELECT count(*) FROM c0) AS coarse",
        **oracle,
    )
    assert int(levels["routes"][0]) == 1
    assert int(levels["coarse"][0]) > 1


@pytest.mark.parametrize("sf", ["sf0.01", "sf0.1"])
def test_graded_oracle_route_level_is_one_cell(sf, sf_dir):
    """The graded trained-codebook oracles keep a route level the Spark
    side does not have; they equal the two-level Spark construction
    only because, at the default strides, that level is ONE cell on
    every graded corpus. Pin the condition where it is relied on."""
    import os

    sf_dir = os.path.join(os.path.dirname(sf_dir), sf)
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} absent")
    levels = _oracle_two_level(
        sf_dir,
        "SELECT (SELECT count(*) FROM route) AS anchors,"
        " (SELECT count(DISTINCT route_id) FROM s_route) AS routes",
    )
    assert int(levels["anchors"][0]) == 1
    assert int(levels["routes"][0]) == 1


def test_trained_codebook_lineage_has_no_window(spark):
    """Plan contract (r9): NO stage in the trained-codebook lineage may
    sort codebook rows through a window — r8's coarse init ranked the
    K ≈ N/64 seed set (vectors attached) through a single-partition
    row_number window, ~1.5×10^8 rows in one task at N = 10^10. Every
    level is now an md5-stride filter and every argmin a groupBy-min or
    a map expression, so the physical plan must contain no Window
    operator at all. (Exchange SinglePartition still appears — the
    anchor's global min is a reduce of partial rows, and each
    broadcast-array build collapses a K-row codebook level into one
    array, the same data movement any broadcast exchange performs; the
    pin guarantees specifically that no stage SORTS codebook rows.)"""
    from mysense_spark.operators.similarity import two_level_membership

    vecs = _clustered_vecs(spark)
    plan = (
        two_level_membership(vecs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan, "rank/window stage crept back into the training lineage"


def test_routed_codebook_multi_level_total_and_sane(spark):
    """Force a multi-cell coarse level on a small fixture (tight
    strides fine_mod=2, group=4: ~240 seeds, ~60 coarse cells) and pin
    the level-by-level totality argument: every vector assigned exactly
    once, cell ids are real seeds, and the codebook does not collapse
    into a handful of cells."""
    from mysense_spark.operators.similarity import _two_level_parts

    vecs = _clustered_vecs(spark)
    n = vecs.count()
    _, _, final = _two_level_parts(vecs, fine_mod=2, group=4)
    got = {r["vec_id"]: r["cent_id"] for r in final.collect()}
    assert len(got) == n, "membership dropped or duplicated vectors"
    ids = {r["vec_id"] for r in vecs.select("vec_id").collect()}
    assert set(got.values()) <= ids
    assert len(set(got.values())) > 4, "the codebook collapsed"


def _wav_bytes(freq=440.0, amp=0.5, sr=8000, dur=0.25, channels=1, bits=16):
    """Synthesize a PCM WAV in-test (RIFF writer ~15 lines) so the
    decoder is checked against ground truth it did not produce."""
    import math
    import struct

    n = int(sr * dur)
    samples = []
    for i in range(n):
        v = amp * math.sin(2 * math.pi * freq * i / sr)
        for _ in range(channels):
            samples.append(v)
    if bits == 16:
        data = b"".join(struct.pack("<h", int(round(v * 32767))) for v in samples)
    else:
        data = bytes(min(255, max(0, int(round(v * 127 + 128)))) for v in samples)
    block = channels * bits // 8
    fmt = struct.pack("<HHIIHH", 1, channels, sr, sr * block, block, bits)
    body = b"fmt " + struct.pack("<I", len(fmt)) + fmt + b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def test_wav_decoder_against_synthesized_ground_truth():
    """A 440 Hz sine at amplitude 0.5: rms must be amp/sqrt(2), peak ~amp,
    duration and layout exact — real decode math, not byte arithmetic."""
    import math

    from mysense_spark.operators.multimodal import decode_wav

    w = decode_wav(_wav_bytes())
    assert (w["sample_rate"], w["channels"], w["bits"]) == (8000, 1, 16)
    assert w["n_samples"] == 2000 and abs(w["duration_s"] - 0.25) < 1e-9
    assert abs(w["rms"] - 0.5 / math.sqrt(2)) < 0.005
    assert abs(w["peak"] - 0.5) < 0.005

    st = decode_wav(_wav_bytes(channels=2, bits=8, dur=0.1))
    assert (st["channels"], st["bits"], st["n_samples"]) == (2, 8, 800)

    import pytest

    with pytest.raises(ValueError):
        decode_wav(b"RIFF\x00\x00\x00\x00AVI ")  # not WAVE
    with pytest.raises(ValueError):
        decode_wav(_wav_bytes()[:-50])  # truncated data chunk


def test_netpbm_and_bmp_decoders_exact_pixels():
    import struct

    import numpy as np
    import pytest

    from mysense_spark.operators.multimodal import decode_bmp, decode_netpbm, resize_nearest

    # P6 with a header comment: 2x3 RGB, known bytes
    pix = bytes([255, 0, 0,  0, 255, 0,
                 0, 0, 255,  10, 20, 30,
                 0, 0, 0,    255, 255, 255])
    ppm = b"P6\n# test comment\n2 3\n255\n" + pix
    meta, arr = decode_netpbm(ppm)
    assert (meta["width"], meta["height"], meta["channels"]) == (2, 3, 3)
    assert arr.shape == (3, 2, 3) and arr[0, 0, 0] == 255 and arr[1, 1, 2] == 30
    assert meta["mean"] == float(np.frombuffer(pix, np.uint8).mean())

    # P5 grayscale
    meta5, arr5 = decode_netpbm(b"P5\n3 2\n255\n" + bytes([0, 128, 255, 1, 2, 3]))
    assert arr5.shape == (2, 3) and arr5[0, 1] == 128

    # nearest-neighbor resize: 2x upscale duplicates each pixel into 2x2
    up = resize_nearest(arr5, 6, 4)
    assert up.shape == (4, 6)
    assert (up[0:2, 2:4] == 128).all()

    # 24-bit BMP, 3x2, bottom-up, stride padded 9 -> 12: pixel (0,0)
    # red in RGB terms must survive the BGR flip and the row flip
    row_top = bytes([0, 0, 255,  0, 255, 0,  255, 0, 0]) + b"\x00\x00\x00"   # B,G,R per pixel
    row_bot = bytes([1, 2, 3,    4, 5, 6,    7, 8, 9]) + b"\x00\x00\x00"
    raster = row_bot + row_top  # bottom-up storage: last row first
    header = (b"BM" + struct.pack("<IHHI", 54 + len(raster), 0, 0, 54)
              + struct.pack("<IiiHHIIiiII", 40, 3, 2, 1, 24, 0, len(raster), 0, 0, 0, 0))
    metab, arrb = decode_bmp(header + raster)
    assert (metab["width"], metab["height"]) == (3, 2)
    assert tuple(arrb[0, 0]) == (255, 0, 0)  # top-left red (RGB)
    assert tuple(arrb[1, 0]) == (3, 2, 1)    # bottom row, BGR flipped

    with pytest.raises(ValueError):
        decode_netpbm(b"P6\n2 3\n255\n" + pix[:5])  # truncated raster
    with pytest.raises(NotImplementedError):
        # BI_BITFIELDS (compression 3) is the remaining gated tier
        decode_bmp(header[:30] + struct.pack("<I", 3) + header[34:] + raster)


def test_media_properties_stage_mixes_real_and_fallback(spark):
    """The mapInPandas properties stage over a corpus mixing REAL formats
    (WAV, PPM, BMP) and an unknown text blob: real rows carry decoded
    truth, unknown rows carry NULL modality + the documented fallback."""
    import struct

    from mysense_spark.operators.multimodal import media_properties

    ppm = b"P6\n2 3\n255\n" + bytes(range(18))
    wav = _wav_bytes(dur=2.5)
    txt = b"just some text bytes"
    blobs = spark.createDataFrame(
        [(1, bytearray(wav)), (2, bytearray(ppm)), (3, bytearray(txt))],
        "doc_id long, payload binary",
    )
    rows = {r["doc_id"]: r.asDict() for r in media_properties(blobs).collect()}
    assert rows[1]["modality"] == "audio"
    assert rows[1]["sample_rate"] == 8000 and abs(rows[1]["duration_s"] - 2.5) < 1e-9
    assert rows[1]["n_frames"] == 2  # floor(duration)
    assert rows[2]["modality"] == "image"
    assert (rows[2]["width"], rows[2]["height"], rows[2]["n_frames"]) == (2, 3, 1)
    assert rows[3]["modality"] is None
    n = len(txt)
    assert rows[3]["n_frames"] == n % 5 + 1 and rows[3]["width"] == 16 * (n % 40 + 1)


def test_magic_false_positive_falls_back_not_crashes():
    """Text that happens to start with a short media magic ('BM...',
    'P6 ...') — inevitable in a 100 TB text corpus — must take the
    documented fallback, not fail the Arrow batch."""
    from mysense_spark.operators.multimodal import decode_media

    for txt in (b"BMW sales rose in Q3", b"P6 is a chess opening move", b"RIFFle through the docs"):
        meta = decode_media(txt)
        n = len(txt)
        assert meta["n_frames"] == n % 5 + 1 and meta["width"] == 16 * (n % 40 + 1)


def test_corrupt_media_headers_reject_cleanly_and_fall_back():
    """The corrupt-but-structurally-plausible headers a crawl corpus
    will contain: zero sample rate, negative/zero image dims, a BMP
    pixel offset pointing into its own header. Each decoder must raise
    ValueError (not ZeroDivisionError, not a 'successful' decode with
    width=-1 or nan mean), and decode_media must fall back, keeping the
    batch alive."""
    import struct

    import pytest

    from mysense_spark.operators.multimodal import (
        decode_bmp,
        decode_media,
        decode_netpbm,
        decode_wav,
    )

    # WAV with sample_rate=0
    fmt = struct.pack("<HHIIHH", 1, 1, 0, 0, 2, 16)
    body = b"fmt " + struct.pack("<I", len(fmt)) + fmt + b"data" + struct.pack("<I", 4) + b"\x00" * 4
    bad_wav = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    with pytest.raises(ValueError, match="sample rate"):
        decode_wav(bad_wav)

    # netpbm with negative / zero dims
    for hdr in (b"P5\n-1 6\n255\n", b"P5\n0 5\n255\n"):
        with pytest.raises(ValueError, match="dimensions"):
            decode_netpbm(hdr + b"\x00" * 64)

    def bmp(width, height, data_off=54):
        return (b"BM" + struct.pack("<IHHI", 2048, 0, 0, data_off)
                + struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, 0, 0, 0, 0, 0)
                + b"\x00" * 2048)

    with pytest.raises(ValueError, match="dimensions"):
        decode_bmp(bmp(-1, 2))
    with pytest.raises(ValueError, match="header"):
        decode_bmp(bmp(3, 2, data_off=0))

    # every one of them falls back in decode_media instead of killing the batch
    for blob in (bad_wav, b"P5\n-1 6\n255\n" + b"\x00" * 64, bmp(-1, 2), bmp(3, 2, 0)):
        meta = decode_media(blob)
        n = len(blob)
        assert meta["n_frames"] == n % 5 + 1 and meta["width"] == 16 * (n % 40 + 1)

    # header-only parse still validates raster length
    with pytest.raises(ValueError, match="truncated"):
        decode_netpbm(b"P6\n4 4\n255\n" + b"\x00" * 10, pixels=False)


def test_png_codec_roundtrip_and_filters():
    """r9 stdlib PNG codec: write_png -> decode_png round-trips exact
    pixels for gray/RGB/RGBA; every scanline filter (Sub/Up/Average/
    Paeth) reconstructs a hand-built IDAT exactly; palette PNGs expand
    through PLTE; the header tier needs no inflate."""
    import struct
    import zlib

    import numpy as np

    from mysense_spark.operators.codecs import _PNG_SIG, decode_png, write_png

    rng = np.random.default_rng(9)
    for shape in ((5, 7), (4, 6, 3), (3, 5, 4)):
        arr = rng.integers(0, 256, size=shape, dtype=np.uint8)
        meta, back = decode_png(write_png(arr))
        assert np.array_equal(back, arr)
        assert (meta["width"], meta["height"]) == (shape[1], shape[0])
        assert meta["mean"] == float(arr.mean())

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    # hand-built grayscale 2x4 exercising every filter type, expected
    # reconstruction computed by the spec's formulas by hand:
    # row0 filter 1 (Sub):  raw 10,20,30,40 -> 10,30,60,100
    # row1 filter 2 (Up):   raw 1,2,3,4     -> 11,32,63,104
    # row2 filter 3 (Avg):  raw 5,5,5,5     -> 10+... a=left,b=up:
    #   x0: 5+(0+11)//2=10; x1: 5+(10+32)//2=26; x2: 5+(26+63)//2=49;
    #   x3: 5+(49+104)//2=81
    # row3 filter 4 (Paeth): raw 1,1,1,1 -> a/b/c per spec:
    #   x0: p(a=0,b=10,c=0)=10 -> 11; x1: p(11,26,10)=26+? p=11+26-10=27,
    #   pa=16,pb=1,pc=17 -> b=26 -> 27; x2: p(27,49,26)=50, pa=23,pb=1,
    #   pc=24 -> 49 -> 50; x3: p(50,81,49)=82, pa=32,pb=1,pc=33 -> 81 -> 82
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
    raw = (
        b"\x01" + bytes([10, 20, 30, 40])
        + b"\x02" + bytes([1, 2, 3, 4])
        + b"\x03" + bytes([5, 5, 5, 5])
        + b"\x04" + bytes([1, 1, 1, 1])
    )
    png = (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    _, arr = decode_png(png)
    want = np.array(
        [
            [10, 30, 60, 100],
            [11, 32, 63, 104],
            [10, 26, 49, 81],
            [11, 27, 50, 82],
        ],
        dtype=np.uint8,
    )
    assert np.array_equal(arr, want), arr

    # palette: 2x2 of indices 0..2 expands through PLTE to RGB
    ihdr_p = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
    raw_p = b"\x00" + bytes([0, 1]) + b"\x00" + bytes([2, 0])
    png_p = (
        _PNG_SIG
        + chunk(b"IHDR", ihdr_p)
        + chunk(b"PLTE", plte)
        + chunk(b"IDAT", zlib.compress(raw_p))
        + chunk(b"IEND", b"")
    )
    meta_p, arr_p = decode_png(png_p)
    assert meta_p["channels"] == 3
    assert arr_p.tolist() == [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [255, 0, 0]]]

    # header tier: geometry without inflating — even for gated depths
    ihdr16 = struct.pack(">IIBBBBB", 9, 7, 16, 2, 0, 0, 0)
    png16 = _PNG_SIG + chunk(b"IHDR", ihdr16) + chunk(b"IEND", b"")
    meta16, none = decode_png(png16, pixels=False)
    assert none is None and (meta16["width"], meta16["height"]) == (9, 7)


def test_png_codec_corrupt_battery():
    """Corrupt PNGs reject with ValueError (bit-flipped CRC, truncated
    chunk, bogus raster length, palette index out of range, missing
    IDAT, spec-invalid depth/color/interlace combinations); 16-bit and
    Adam7 are REAL tiers since r10; decode_media falls back on all the
    corrupt ones."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from mysense_spark.operators.codecs import _PNG_SIG, decode_png, write_png
    from mysense_spark.operators.multimodal import decode_media

    good = write_png(np.zeros((3, 3), dtype=np.uint8))

    flipped = bytearray(good)
    flipped[len(_PNG_SIG) + 8 + 5] ^= 0x01  # a byte inside IHDR's body
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(flipped))

    with pytest.raises(ValueError, match="truncated|IEND"):
        decode_png(good[:-8])

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    # raster length mismatch: 4x4 geometry, one scanline of data
    bad_raster = (
        _PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" + bytes(4)))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="raster length"):
        decode_png(bad_raster)

    # palette index beyond PLTE
    oob = (
        _PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", bytes([1, 2, 3]))
        + chunk(b"IDAT", zlib.compress(b"\x00\x05"))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="palette index"):
        decode_png(oob)

    no_idat = (
        _PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="IDAT"):
        decode_png(no_idat)

    # r10: 16-bit and Adam7 are REAL tiers now — this 10-byte zero
    # stream is exactly a 2x2 16-bit gray raster and decodes to zeros
    deep = (
        _PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(10)))
        + chunk(b"IEND", b"")
    )
    meta16, a16 = decode_png(deep)
    assert a16.dtype == np.uint16 and a16.tolist() == [[0, 0], [0, 0]]
    assert meta16["bit_depth"] == 16
    # ...while an interlaced stream carrying the WRONG byte count (10 vs
    # the Adam7-correct 7 for 2x2 gray) is a raster-length corruption
    interlaced = (
        _PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 1))
        + chunk(b"IDAT", zlib.compress(bytes(10)))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="raster length"):
        decode_png(interlaced)
    # spec-invalid depth/color combinations are corrupt headers
    for ihdr in (
        struct.pack(">IIBBBBB", 2, 2, 4, 2, 0, 0, 0),   # sub-byte RGB
        struct.pack(">IIBBBBB", 2, 2, 16, 3, 0, 0, 0),  # 16-bit palette
        struct.pack(">IIBBBBB", 2, 2, 3, 0, 0, 0, 0),   # depth 3
        struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 2),   # interlace 2
    ):
        with pytest.raises(ValueError, match="invalid"):
            decode_png(
                _PNG_SIG + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(bytes(10))) + chunk(b"IEND", b"")
            )

    # header-tier corruption (bad IHDR CRC) falls back in decode_media;
    # raster-tier corruption is INVISIBLE to the header tier by design
    # (validating it would mean inflating every blob in a properties
    # scan) — decode_media reports the header geometry, and the full
    # decode above is what rejects the raster
    meta = decode_media(bytes(flipped))
    assert meta["n_frames"] == len(flipped) % 5 + 1, "bad-CRC PNG must fall back"
    for blob in (bad_raster, oob, no_idat):
        meta = decode_media(blob)
        assert (meta["n_frames"], meta["width"], meta["height"]) == (1, 4, 4) or (
            meta["width"] in (1, 2)
        ), "header tier should report IHDR geometry"


def test_jpeg_and_mp4_header_parsers():
    """r9 structural parsers: JPEG SOF walk (geometry, components,
    progressive flag, APPn/COM skipping, fill bytes) and the ISO-BMFF
    moov tree (mvhd duration v0+v1, tkhd 16.16 geometry, hdlr track
    classification) — hand-built payloads, hand-computed expectations;
    decode_media integrates both and the pixel/sample tiers stay
    gated."""
    import struct

    import pytest

    from mysense_spark.operators.codecs import (
        decode_jpeg,
        decode_mp4,
        parse_jpeg_header,
        parse_mp4_header,
    )
    from mysense_spark.operators.multimodal import decode_media, media_properties

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    app0 = seg(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
    sof0 = seg(0xC0, struct.pack(">BHHB", 8, 480, 640, 3) + b"\x01\x22\x00\x02\x11\x01\x03\x11\x01")
    jpeg = b"\xff\xd8" + app0 + b"\xff" + seg(0xDB, bytes(65)) + sof0 + seg(0xDA, b"\x01\x01\x00")
    m = parse_jpeg_header(jpeg)
    assert m == {"width": 640, "height": 480, "channels": 3, "bit_depth": 8, "progressive": False}
    prog = b"\xff\xd8" + seg(0xC2, struct.pack(">BHHB", 8, 10, 20, 1) + b"\x01\x11\x00")
    assert parse_jpeg_header(prog)["progressive"] is True
    with pytest.raises(ValueError, match="no SOF"):
        parse_jpeg_header(b"\xff\xd8" + app0 + b"\xff\xd9")
    # sequential multi-scan is REAL since r10 — this crafted file
    # declares a 640x480 3-component frame with NO entropy data, so the
    # multiscan path's plausibility bound rejects it before anything
    # allocates (a structural error, no longer a gated format)
    with pytest.raises(ValueError, match="cannot cover"):
        decode_jpeg(jpeg)
    # progressive is a REAL pixel tier since r10 — a frame header with
    # no scan now fails structurally, not as a gated format
    with pytest.raises(ValueError, match="no SOS"):
        decode_jpeg(prog + b"\xff\xd9")
    meta = decode_media(jpeg)
    assert (meta["width"], meta["height"], meta["n_frames"]) == (640, 480, 1)

    def box(btype, body):
        return struct.pack(">I", len(body) + 8) + btype + body

    # mvhd v0: timescale 1000, duration 90500 -> 90.5 s
    mvhd = box(b"mvhd", b"\x00" + b"\x00" * 3 + b"\x00" * 8 + struct.pack(">II", 1000, 90500) + bytes(80))
    # tkhd v0: width 1920.0, height 1080.0 in 16.16 fixed at offset 76
    tkhd = box(b"tkhd", b"\x00" + b"\x00" * 3 + bytes(72) + struct.pack(">II", 1920 << 16, 1080 << 16))
    hdlr_v = box(b"hdlr", bytes(8) + b"vide" + bytes(12))
    hdlr_a = box(b"hdlr", bytes(8) + b"soun" + bytes(12))
    trak_v = box(b"trak", tkhd + box(b"mdia", hdlr_v))
    trak_a = box(b"trak", box(b"tkhd", b"\x00" + bytes(83)) + box(b"mdia", hdlr_a))
    mp4 = box(b"ftyp", b"isom\x00\x00\x02\x00isom") + box(b"moov", mvhd + trak_v + trak_a)
    m = parse_mp4_header(mp4)
    assert m == {
        "duration_s": 90.5, "n_tracks": 2, "video_tracks": 1,
        "audio_tracks": 1, "width": 1920, "height": 1080,
    }
    # mvhd v1 (64-bit duration)
    mvhd1 = box(b"mvhd", b"\x01" + b"\x00" * 3 + b"\x00" * 16 + struct.pack(">IQ", 600, 1200) + bytes(80))
    m1 = parse_mp4_header(box(b"ftyp", b"isom") + box(b"moov", mvhd1))
    assert m1["duration_s"] == 2.0 and m1["n_tracks"] == 0
    with pytest.raises(ValueError, match="moov"):
        parse_mp4_header(box(b"ftyp", b"isom") + box(b"mdat", bytes(4)))
    with pytest.raises(NotImplementedError, match="sample"):
        decode_mp4(mp4)
    meta = decode_media(mp4)
    assert meta["n_frames"] == 90 and meta["width"] == 1920

    # text with 'ftyp' at offset 4 sniffs mp4 but falls back cleanly
    fake = b"abcdftyp just text, not a movie"
    meta = decode_media(fake)
    assert meta["n_frames"] == len(fake) % 5 + 1


def test_media_properties_covers_all_real_formats(spark):
    """The Arrow properties stage over every REAL format at once: WAV ->
    audio, PPM/BMP/PNG/JPEG -> image with true geometry, MP4 -> video
    with true duration; text stays NULL-modality fallback."""
    import struct

    import numpy as np

    from mysense_spark.operators.codecs import write_png
    from mysense_spark.operators.multimodal import media_properties

    png = write_png(np.zeros((30, 40, 3), dtype=np.uint8))
    sof_body = struct.pack(">BHHB", 8, 12, 34, 3) + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01"
    jpeg = (
        b"\xff\xd8"
        + bytes([0xFF, 0xC0]) + struct.pack(">H", len(sof_body) + 2) + sof_body
    )

    def box(btype, body):
        return struct.pack(">I", len(body) + 8) + btype + body

    mvhd = box(b"mvhd", b"\x00" * 12 + struct.pack(">II", 10, 35) + bytes(80))
    mp4 = box(b"ftyp", b"isom") + box(b"moov", mvhd)
    hdlr_a = box(b"hdlr", bytes(8) + b"soun" + bytes(12))
    trak_a = box(b"trak", box(b"tkhd", b"\x00" + bytes(83)) + box(b"mdia", hdlr_a))
    m4a = box(b"ftyp", b"M4A ") + box(b"moov", mvhd + trak_a)
    blobs = spark.createDataFrame(
        [
            (1, bytearray(png)),
            (2, bytearray(jpeg)),
            (3, bytearray(mp4)),
            (4, bytearray(b"plain text")),
            (5, bytearray(m4a)),
        ],
        "doc_id long, payload binary",
    )
    rows = {r["doc_id"]: r.asDict() for r in media_properties(blobs).collect()}
    assert rows[1]["modality"] == "image" and (rows[1]["width"], rows[1]["height"]) == (40, 30)
    assert rows[2]["modality"] == "image" and (rows[2]["width"], rows[2]["height"]) == (34, 12)
    assert rows[3]["modality"] == "video" and abs(rows[3]["duration_s"] - 3.5) < 1e-9
    assert rows[4]["modality"] is None
    # an audio-only container is audio, even though it sniffs as mp4
    assert rows[5]["modality"] == "audio"


def test_codec_adversarial_blobs_bounded_and_classified():
    """Post-review r9 edges: a forged 64-bit mvhd duration cannot demand
    2^60 frame rows (decode_media caps n_frames), a truncated mvhd v1
    box is ValueError (not a struct.error escaping the batch or a
    silent v0 misread), audio-only ISO-BMFF classifies as audio, an
    over-spec PNG header rejects, and a zip-bomb IDAT is rejected by the
    bounded inflate."""
    import struct
    import zlib

    import pytest

    from mysense_spark.operators.codecs import _PNG_SIG, decode_png, parse_mp4_header
    from mysense_spark.operators.multimodal import decode_media

    def box(btype, body):
        return struct.pack(">I", len(body) + 8) + btype + body

    # forged duration: timescale 1, duration 2^31-1 seconds (~68 years)
    # — v0 layout: ver/flags(4) + times(8) + timescale(4) + duration(4)
    mvhd = box(b"mvhd", b"\x00" * 12 + struct.pack(">II", 1, 2**31 - 1) + bytes(80))
    forged = box(b"ftyp", b"isom") + box(b"moov", mvhd)
    meta = decode_media(forged)
    assert meta["n_frames"] == 86_400, "frame count must be capped"

    # truncated mvhd v1 (28-byte body: too short for the 64-bit duration)
    bad_v1 = box(b"ftyp", b"isom") + box(
        b"moov", box(b"mvhd", b"\x01" + b"\x00" * 27)
    )
    with pytest.raises(ValueError, match="mvhd v1"):
        parse_mp4_header(bad_v1)
    assert decode_media(bad_v1)["n_frames"] == len(bad_v1) % 5 + 1  # falls back

    # audio-only container (one soun track, no vide) -> audio
    hdlr_a = box(b"hdlr", bytes(8) + b"soun" + bytes(12))
    trak_a = box(b"trak", box(b"tkhd", b"\x00" + bytes(83)) + box(b"mdia", hdlr_a))
    m4a = box(b"ftyp", b"M4A ") + box(b"moov", mvhd + trak_a)
    m = parse_mp4_header(m4a)
    assert m["audio_tracks"] == 1 and m["video_tracks"] == 0

    # over-spec PNG header (width 3e9 > 2^31-1) rejects at the header tier
    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    huge = _PNG_SIG + chunk(
        b"IHDR", struct.pack(">IIBBBBB", 3_000_000_000, 2, 8, 0, 0, 0, 0)
    ) + chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="dimensions"):
        decode_png(huge, pixels=False)
    assert decode_media(huge)["n_frames"] == len(huge) % 5 + 1

    # zip bomb: IDAT inflates far past the declared 2x2 geometry — the
    # bounded inflate must reject it having produced at most expected+1
    bomb = _PNG_SIG + chunk(
        b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    ) + chunk(b"IDAT", zlib.compress(bytes(50_000_000))) + chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="raster length"):
        decode_png(bomb)


def test_jpeg_baseline_pixel_decode():
    """r9 baseline-JPEG pixel tier. Validation is NOT circular: (a) a
    fully HAND-CRAFTED bitstream — fixed-length canonical tables, DC
    code 1010 + ten bits of 576 + EOB, hand-packed to 0xA9 0x00 0x03 —
    must decode to a uniform 200 field (DC 576 = 8·(200−128) under the
    orthonormal DCT); (b) encoder round-trips with UNIT quant tables are
    near-lossless (gray exact on a gradient, RGB within ±2 from YCbCr
    rounding), including 4:2:0 subsampling (flat chroma exact) and
    restart intervals; (c) progressive stays gated; corrupt entropy data
    rejects with ValueError."""
    import struct

    import numpy as np
    import pytest

    from mysense_spark.operators.codecs import (
        decode_jpeg,
        decode_jpeg_pixels,
        write_jpeg,
    )

    # (a) hand-crafted 8x8 flat-200 grayscale
    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    dqt = seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    sof = seg(0xC0, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
    dc_counts = [0, 0, 0, 12] + [0] * 12
    ac_syms = [0x00] + [(r << 4) | s for r in range(16) for s in range(1, 11)] + [0xF0]
    ac_counts = [0] * 7 + [len(ac_syms)] + [0] * 8
    dht = seg(
        0xC4,
        bytes([0x00]) + bytes(dc_counts) + bytes(range(12))
        + bytes([0x10]) + bytes(ac_counts) + bytes(ac_syms),
    )
    sos = seg(0xDA, bytes([1, 1, 0x00]) + b"\x00\x3f\x00")
    # bits: 1010 (DC size 10) | 1001000000 (576) | 00000000 (EOB) | pad 11
    entropy = bytes([0xA9, 0x00, 0x03])
    jp = b"\xff\xd8" + dqt + sof + dht + sos + entropy + b"\xff\xd9"
    meta, arr = decode_jpeg_pixels(jp)
    assert arr.shape == (8, 8) and int(arr.min()) == 200 and int(arr.max()) == 200
    assert meta["channels"] == 1

    # (b) encoder round-trips
    g = (np.arange(64).reshape(8, 8) * 3 % 256).astype(np.uint8)
    _, back = decode_jpeg_pixels(write_jpeg(g))
    assert np.array_equal(back, g), "unit-quant grayscale must be exact"
    rng = np.random.default_rng(3)
    c = rng.integers(0, 256, (24, 17, 3), dtype=np.uint8)
    for kw in ({}, {"restart": 2}):
        _, rc = decode_jpeg_pixels(write_jpeg(c, **kw))
        assert int(np.abs(rc.astype(int) - c.astype(int)).max()) <= 2, kw
    flat = np.zeros((20, 20, 3), np.uint8)
    flat[:, :, 0], flat[:, :, 1], flat[:, :, 2] = 100, 150, 50
    _, f420 = decode_jpeg_pixels(write_jpeg(flat, subsample=True))
    assert np.array_equal(f420, flat), "flat-chroma 4:2:0 must round-trip exactly"
    # decode_jpeg(pixels=True) is the same real tier now
    m, full = decode_jpeg(write_jpeg(g))
    assert np.array_equal(full, g) and m["progressive"] is False

    # (c) progressive structure rules + corrupt entropy: since r10 a
    # SOF2 stream decodes for real, so a baseline-shaped scan header
    # (Ss=0 with Se=63 — DC and AC in one scan) is a structural error
    prog = b"\xff\xd8" + dqt + seg(
        0xC2, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0])
    ) + dht + sos + entropy + b"\xff\xd9"
    with pytest.raises(ValueError, match="mixes DC and AC"):
        decode_jpeg_pixels(prog)
    # invalid Huffman prefix: DC nibble 1100 is unassigned in the table
    bad = b"\xff\xd8" + dqt + sof + dht + sos + bytes([0xC0, 0x00, 0x00]) + b"\xff\xd9"
    with pytest.raises(ValueError):
        decode_jpeg_pixels(bad)
    truncated = b"\xff\xd8" + dqt + sof + dht + sos + b"\xff\xd9"
    with pytest.raises(ValueError):
        decode_jpeg_pixels(truncated)


def test_jpeg_adversarial_structures_reject_with_valueerror():
    """Post-review r9: every malformed-structure path raises the
    contractual ValueError, never struct.error/KeyError/IndexError/
    MemoryError — a tiny payload declaring a 65500x65500 SOF is rejected
    by the entropy-plausibility bound (>=2 bits per 8x8 block) BEFORE
    any geometry-sized allocation; truncated SOF component lists, empty
    DRI, truncated SOS, and SOS ids that match no SOF component all
    reject; a 256x256 encode stays sub-second (the bit accumulator is
    masked, not an ever-growing bigint)."""
    import struct
    import time

    import numpy as np
    import pytest

    from mysense_spark.operators.codecs import decode_jpeg_pixels, write_jpeg

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    dqt = seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    dc_counts = [0, 0, 0, 12] + [0] * 12
    ac_syms = [0x00] + [(r << 4) | s for r in range(16) for s in range(1, 11)] + [0xF0]
    ac_counts = [0] * 7 + [len(ac_syms)] + [0] * 8
    dht = seg(
        0xC4,
        bytes([0x00]) + bytes(dc_counts) + bytes(range(12))
        + bytes([0x10]) + bytes(ac_counts) + bytes(ac_syms),
    )
    sos = seg(0xDA, bytes([1, 1, 0x00]) + b"\x00\x3f\x00")
    sof1 = seg(0xC0, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))

    cases = {
        "decode ceiling": b"\xff\xd8" + dqt
        + seg(0xC0, struct.pack(">BHHB", 8, 65500, 65500, 1) + bytes([1, 0x11, 0]))
        + dht + sos + bytes(10) + b"\xff\xd9",
        "cannot cover": b"\xff\xd8" + dqt
        + seg(0xC0, struct.pack(">BHHB", 8, 4096, 4096, 1) + bytes([1, 0x11, 0]))
        + dht + sos + bytes(10) + b"\xff\xd9",
        "SOF component list": b"\xff\xd8" + dqt
        + seg(0xC0, struct.pack(">BHHB", 8, 8, 8, 3) + bytes([1, 0x11, 0]))
        + dht + sos + bytes(10),
        "DRI segment": b"\xff\xd8" + dqt + sof1 + dht + seg(0xDD, b"") + sos + bytes(10),
        "SOS segment": b"\xff\xd8" + dqt + sof1 + dht + seg(0xDA, bytes([1])) + bytes(10),
        "do not match SOF": b"\xff\xd8" + dqt + sof1 + dht
        + seg(0xDA, bytes([1, 2, 0x00]) + b"\x00\x3f\x00") + bytes(10),
    }
    for match, blob in cases.items():
        with pytest.raises(ValueError, match=match):
            decode_jpeg_pixels(blob)

    big = np.random.default_rng(1).integers(0, 256, (256, 256), dtype=np.uint8)
    t0 = time.perf_counter()
    jp = write_jpeg(big)
    assert time.perf_counter() - t0 < 5.0, "encode must stay linear"
    _, back = decode_jpeg_pixels(jp)
    assert int(np.abs(back.astype(int) - big.astype(int)).max()) <= 1


def test_png_pixel_ceiling_gates_attacker_geometry():
    """r10 ADVICE fix: the IHDR geometry is attacker-declared, so a
    pixel decode refuses rasters above max_pixels BEFORE inflating
    anything (no multi-GB allocation from a 200-byte payload); the
    pixels=False header tier and explicit larger caps still work."""
    import struct
    import zlib

    import pytest

    from mysense_spark.operators.codecs import _PNG_SIG, decode_png

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    # declares 100 Mpix (over the 64 Mpix default) with a 20-byte IDAT:
    # the ceiling must fire before the raster-length check ever inflates
    ihdr = struct.pack(">IIBBBBB", 10_000, 10_000, 8, 0, 0, 0, 0)
    bomb = (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"\x00" * 16))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="max_pixels"):
        decode_png(bomb)
    # header tier never allocates a raster — no ceiling applies
    meta, none = decode_png(bomb, pixels=False)
    assert none is None and meta["width"] == 10_000
    # a small image under a caller-shrunk cap rejects; over it, decodes
    small_raw = b"\x00" + bytes([7, 8]) + b"\x00" + bytes([9, 10])
    small = (
        _PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(small_raw))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="max_pixels"):
        decode_png(small, max_pixels=3)
    _, arr = decode_png(small, max_pixels=4)
    assert arr.tolist() == [[7, 8], [9, 10]]
    # the allocation-bound documentation must BE the docstring (a
    # literal followed by .format() silently stops being one)
    assert decode_png.__doc__ and "max_pixels" in decode_png.__doc__


def test_jpeg_fill_bytes_before_markers_accepted():
    """r10 ADVICE fix: ITU T.81 B.1.1.2 allows any run of 0xFF fill
    bytes before a marker; the destuffer must skip them instead of
    truncating the scan ('JPEG scan ended before the last MCU'), both
    before EOI and before RSTn markers."""
    import numpy as np

    from mysense_spark.operators.codecs import decode_jpeg_pixels, write_jpeg

    g = (np.arange(64).reshape(8, 8) * 3 % 256).astype(np.uint8)
    jp = write_jpeg(g)
    assert jp.endswith(b"\xff\xd9")
    for fills in (b"\xff", b"\xff\xff\xff"):
        _, back = decode_jpeg_pixels(jp[:-2] + fills + jp[-2:])
        assert np.array_equal(back, g), len(fills)

    # restart markers: pad every FFD0-FFD7 in the scan with fill bytes
    rng = np.random.default_rng(3)
    c = rng.integers(0, 256, (24, 17, 3), dtype=np.uint8)
    jr = write_jpeg(c, restart=2)
    sos = jr.find(b"\xff\xda")
    assert sos > 0
    tail = jr[sos:]
    n_rst = sum(tail.count(bytes([0xFF, m])) for m in range(0xD0, 0xD8))
    assert n_rst > 0, "restart fixture must actually emit RSTn markers"
    for m in range(0xD0, 0xD8):
        tail = tail.replace(bytes([0xFF, m]), bytes([0xFF, 0xFF, m]))
    _, rc = decode_jpeg_pixels(jr[:sos] + tail)
    _, rc_plain = decode_jpeg_pixels(jr)
    assert np.array_equal(rc, rc_plain)


def _prog_fixture_parts():
    """Shared hand-crafted pieces for the progressive-JPEG tests: the
    unit DQT, the fixed-length canonical DC table, and an AC table that
    ALSO carries the EOBn symbols (0x10/0x20/0x30) progressive AC
    coding needs. Code of a symbol = its list index at 8 bits."""
    import struct

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    dqt = seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    dc_counts = [0, 0, 0, 12] + [0] * 12
    ac_syms = [0x00, 0x10, 0x20, 0x30] + [
        (r << 4) | s for r in range(16) for s in range(1, 11)
    ] + [0xF0]
    ac_counts = [0] * 7 + [len(ac_syms)] + [0] * 8
    dht = seg(
        0xC4,
        bytes([0x00]) + bytes(dc_counts) + bytes(range(12))
        + bytes([0x10]) + bytes(ac_counts) + bytes(ac_syms),
    )
    ac_code = {sym: i for i, sym in enumerate(ac_syms)}
    return seg, dqt, dht, ac_code


class _BitPacker:
    """MSB-first bit packer with JPEG byte stuffing and 1-padding —
    builds the hand-crafted entropy segments without hand-regrouping."""

    def __init__(self):
        self.bits = []

    def put(self, value, n):
        for i in range(n - 1, -1, -1):
            self.bits.append((value >> i) & 1)
        return self

    def bytes(self):
        bits = self.bits + [1] * (-len(self.bits) % 8)
        out = bytearray()
        for i in range(0, len(bits), 8):
            byte = 0
            for b in bits[i : i + 8]:
                byte = (byte << 1) | b
            out.append(byte)
            if byte == 0xFF:
                out.append(0x00)
        return bytes(out)


def test_jpeg_progressive_pixel_decode():
    """r10 progressive tier — validation is non-circular, the r9 codec
    pattern repeated: every stream is a fully HAND-CRAFTED bitstream and
    every expectation is hand-computed. (a) flat-200 8x8 built from a
    DC-first scan at Al=1 (diff 288), a DC refinement bit, and an
    all-EOB AC scan; (b) successive-approximation AC accumulation — a
    coefficient coded at Al=1, its correction bit, AND a coefficient
    newly born in the refinement scan — against the dequant+IDCT of the
    hand-assembled coefficient block; (c) a 3-component interleaved DC
    scan plus per-component AC scans whose EOB run (r=2 -> 4 blocks)
    spans all four blocks of each component -> uniform gray RGB."""
    import struct

    import numpy as np

    from mysense_spark.operators.codecs import (
        _ZIGZAG,
        _dct_matrix,
        decode_jpeg,
        decode_jpeg_pixels,
    )

    seg, dqt, dht, ac_code = _prog_fixture_parts()

    # (a) flat 200: DC 576 under unit quant/orthonormal IDCT
    sof = seg(0xC2, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
    sos_dc1 = seg(0xDA, bytes([1, 1, 0x00]) + bytes([0, 0, 0x01]))
    e_dc1 = _BitPacker().put(0b1001, 4).put(288, 9).bytes()  # t=9, 288 = 576>>1
    sos_dcr = seg(0xDA, bytes([1, 1, 0x00]) + bytes([0, 0, 0x10]))
    e_dcr = _BitPacker().put(0, 1).bytes()  # refinement bit: 576 & 1 = 0
    sos_ac = seg(0xDA, bytes([1, 1, 0x00]) + bytes([1, 63, 0x00]))
    e_ac = _BitPacker().put(ac_code[0x00], 8).bytes()  # EOB0
    jp = (
        b"\xff\xd8" + dqt + sof + dht
        + sos_dc1 + e_dc1 + sos_dcr + e_dcr + sos_ac + e_ac + b"\xff\xd9"
    )
    meta, arr = decode_jpeg_pixels(jp)
    assert meta["progressive"] is True and meta["channels"] == 1
    assert arr.shape == (8, 8) and int(arr.min()) == int(arr.max()) == 200
    m2, arr2 = decode_jpeg(jp)  # the dispatcher reaches the same tier
    assert np.array_equal(arr2, arr) and m2["progressive"] is True

    # (b) AC successive approximation: target zigzag coefs DC=576,
    # k1=7 (coded 3 at Al=1, then +1 correction), k2=+1 (born in the
    # refinement scan)
    e_dc = _BitPacker().put(0b1010, 4).put(576, 10).bytes()  # t=10, Al=0
    sos_dc = seg(0xDA, bytes([1, 1, 0x00]) + bytes([0, 0, 0x00]))
    sos_ac1 = seg(0xDA, bytes([1, 1, 0x00]) + bytes([1, 63, 0x01]))
    e_ac1 = (
        _BitPacker()
        .put(ac_code[0x02], 8).put(3, 2)   # r=0,s=2: coef[1] = 3<<1 = 6
        .put(ac_code[0x00], 8)             # EOB
        .bytes()
    )
    sos_ac2 = seg(0xDA, bytes([1, 1, 0x00]) + bytes([1, 63, 0x10]))
    e_ac2 = (
        _BitPacker()
        .put(ac_code[0x01], 8).put(1, 1)   # r=0,s=1: NEW coef, sign +
        .put(1, 1)                          # correction bit: 6 -> 7
        .put(ac_code[0x00], 8)             # EOB (no more changes)
        .bytes()
    )
    jp2 = (
        b"\xff\xd8" + dqt + sof + dht
        + sos_dc + e_dc + sos_ac1 + e_ac1 + sos_ac2 + e_ac2 + b"\xff\xd9"
    )
    _, got = decode_jpeg_pixels(jp2)
    want_zz = np.zeros(64, dtype=np.int64)
    want_zz[0], want_zz[1], want_zz[2] = 576, 7, 1
    block = np.zeros(64, dtype=np.int64)
    block[_ZIGZAG] = want_zz
    C = _dct_matrix()
    want = np.clip(np.round(C.T @ block.reshape(8, 8).astype(float) @ C + 128.0), 0, 255)
    assert np.array_equal(got, want.astype(np.uint8))

    # (c) 3-component 16x16: interleaved DC scan (Y=576, Cb=Cr=0 ->
    # gray 200), then one AC scan per component with EOBRUN r=2
    # covering its 4 blocks in one code
    sof3 = seg(
        0xC2,
        struct.pack(">BHHB", 8, 16, 16, 3)
        + bytes([1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]),
    )
    sos3dc = seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00]) + bytes([0, 0, 0x00]))
    pk = _BitPacker()
    pk.put(0b1010, 4).put(576, 10)          # MCU0 Y: diff 576
    pk.put(0, 4).put(0, 4)                   # MCU0 Cb, Cr: t=0
    for _ in range(3):                       # MCU1-3: all diffs 0
        pk.put(0, 4).put(0, 4).put(0, 4)
    e3dc = pk.bytes()
    scans = b""
    for cid in (1, 2, 3):
        scans += seg(0xDA, bytes([1, cid, 0x00]) + bytes([1, 63, 0x00]))
        scans += _BitPacker().put(ac_code[0x20], 8).put(0, 2).bytes()  # EOBRUN 4
    jp3 = b"\xff\xd8" + dqt + sof3 + dht + sos3dc + e3dc + scans + b"\xff\xd9"
    meta3, rgb = decode_jpeg_pixels(jp3)
    assert meta3["channels"] == 3 and rgb.shape == (16, 16, 3)
    assert rgb.min() == rgb.max() == 200  # neutral chroma, Y=200


def test_jpeg_progressive_restart_intervals():
    """DRI in a progressive stream: restart markers must reset the DC
    predictor AND the EOB run at each segment boundary — a 16x16
    single-component stream with DRI=2 whose second DC segment re-codes
    the full 576 diff (predictor reset) and whose AC scan spends one
    EOBRUN-of-2 per segment decodes to flat 200."""
    import struct

    from mysense_spark.operators.codecs import decode_jpeg_pixels

    seg, dqt, dht, ac_code = _prog_fixture_parts()
    sof = seg(0xC2, struct.pack(">BHHB", 8, 16, 16, 1) + bytes([1, 0x11, 0]))
    dri = seg(0xDD, struct.pack(">H", 2))
    sos_dc = seg(0xDA, bytes([1, 1, 0x00]) + bytes([0, 0, 0x00]))
    d1 = _BitPacker().put(0b1010, 4).put(576, 10).put(0, 4).bytes()  # 576, +0
    d2 = _BitPacker().put(0b1010, 4).put(576, 10).put(0, 4).bytes()  # reset -> 576, +0
    sos_ac = seg(0xDA, bytes([1, 1, 0x00]) + bytes([1, 63, 0x00]))
    a1 = _BitPacker().put(ac_code[0x10], 8).put(0, 1).bytes()  # EOBRUN 2
    a2 = _BitPacker().put(ac_code[0x10], 8).put(0, 1).bytes()
    jp = (
        b"\xff\xd8" + dqt + sof + dht + dri
        + sos_dc + d1 + b"\xff\xd0" + d2
        + sos_ac + a1 + b"\xff\xd1" + a2
        + b"\xff\xd9"
    )
    meta, arr = decode_jpeg_pixels(jp)
    assert arr.shape == (16, 16) and int(arr.min()) == int(arr.max()) == 200


def test_jpeg_progressive_adversarial_structures():
    """Malformed progressive structures reject with the contractual
    ValueError (never IndexError/struct.error/MemoryError); the
    genuinely-gated frames (arithmetic) still raise NotImplementedError;
    and a tiny payload declaring a huge SOF2 is rejected by the
    entropy-plausibility bound BEFORE the coefficient planes allocate."""
    import struct

    import pytest

    from mysense_spark.operators.codecs import decode_jpeg_pixels

    seg, dqt, dht, ac_code = _prog_fixture_parts()
    sof1 = seg(0xC2, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
    sof3 = seg(
        0xC2,
        struct.pack(">BHHB", 8, 16, 16, 3)
        + bytes([1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]),
    )
    head1 = b"\xff\xd8" + dqt + sof1 + dht
    head3 = b"\xff\xd8" + dqt + sof3 + dht
    filler = bytes(64)

    cases = {
        "mixes DC and AC": head1
        + seg(0xDA, bytes([1, 1, 0x00]) + bytes([0, 63, 0x00])) + filler,
        "single-component": head3
        + seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00]) + bytes([1, 63, 0x00]))
        + filler,
        "spectral selection": head1
        + seg(0xDA, bytes([1, 1, 0x00]) + bytes([40, 20, 0x00])) + filler,
        "successive approximation": head1
        + seg(0xDA, bytes([1, 1, 0x00]) + bytes([1, 63, 0x31])) + filler,  # Ah != Al+1
        "missing quant/Huffman": b"\xff\xd8" + dqt + sof1
        + seg(0xDA, bytes([1, 1, 0x22]) + bytes([0, 0, 0x00])) + filler,
        "no SOS": head1 + b"\xff\xd9",
        "more than one frame": head1 + sof1
        + seg(0xDA, bytes([1, 1, 0x00]) + bytes([0, 0, 0x00])) + filler,
        "component ids do not match": head1
        + seg(0xDA, bytes([1, 9, 0x00]) + bytes([0, 0, 0x00])) + filler,
        "decode ceiling": b"\xff\xd8" + dqt
        + seg(0xC2, struct.pack(">BHHB", 8, 65000, 65000, 1) + bytes([1, 0x11, 0]))
        + dht + seg(0xDA, bytes([1, 1, 0x00]) + bytes([0, 0, 0x00])) + filler,
        "cannot cover the declared geometry": b"\xff\xd8" + dqt
        + seg(0xC2, struct.pack(">BHHB", 8, 4096, 4096, 1) + bytes([1, 0x11, 0]))
        + dht + seg(0xDA, bytes([1, 1, 0x00]) + bytes([0, 0, 0x00])) + filler,
        "declares no components": head1
        + seg(0xDA, bytes([0]) + bytes([0, 0, 0x00])) + filler,
        "refinement magnitude": head1
        # DC scan places a coefficient, then an AC refinement whose RS
        # declares s=2 — only s in {0, 1} is legal when refining
        + seg(0xDA, bytes([1, 1, 0x00]) + bytes([0, 0, 0x00]))
        + _BitPacker().put(0b1010, 4).put(576, 10).bytes()
        + seg(0xDA, bytes([1, 1, 0x00]) + bytes([1, 63, 0x10]))
        + _BitPacker().put(ac_code[0x02], 8).put(3, 2).bytes(),
        "truncated|before the last MCU": b"\xff\xd8" + dqt
        + seg(0xC2, struct.pack(">BHHB", 8, 64, 64, 1) + bytes([1, 0x11, 0]))
        + dht + seg(0xDA, bytes([1, 1, 0x00]) + bytes([0, 0, 0x00]))
        + _BitPacker().put(0b1010, 4).put(576, 10).bytes(),  # 1 of 64 blocks
    }
    for match, blob in cases.items():
        with pytest.raises(ValueError, match=match):
            decode_jpeg_pixels(blob + b"\xff\xd9")

    # arithmetic-coded progressive (SOF10 = 0xCA) stays honestly gated
    arith = b"\xff\xd8" + dqt + seg(
        0xCA, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0])
    ) + dht + seg(0xDA, bytes([1, 1, 0x00]) + bytes([0, 0, 0x00])) + filler + b"\xff\xd9"
    with pytest.raises(NotImplementedError, match="codec library"):
        decode_jpeg_pixels(arith)


def test_trained_codebook_empty_corpus_flows_through(spark):
    """An empty vector input (fully filtered corpus) must flow through
    the trained-codebook training to an EMPTY membership — the r10 tier
    stats SUM to NULL on zero rows, which must coalesce to the
    broadcast tier, not TypeError at plan-build time."""
    import pyspark.sql.functions as F

    from mysense_spark.operators.similarity import two_level_membership

    vecs = _clustered_vecs(spark).where(F.lit(False))
    assert two_level_membership(vecs).count() == 0


def test_png_full_depth_matrix_and_adam7():
    """r10: the PNG gate is closed — 16-bit (uint16, big-endian pairs,
    byte-wise Sub at bpp=2), 1/2/4-bit grayscale (MSB-first unpack,
    exact 255/(2^d-1) scaling), 4-bit palette, and Adam7 interlace
    (hand-computed 2x2 pass layout AND a programmatic multi-pass
    reconstruction for gray-8, RGB-8 and gray-16). Every expectation is
    hand-computed or built by slicing the reference image with the
    spec's pass grid — never by the decoder under test."""
    import struct
    import zlib

    import numpy as np

    from mysense_spark.operators.codecs import _ADAM7, _PNG_SIG, decode_png

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    def png(w, h, depth, color, interlace, raw, plte=None):
        parts = _PNG_SIG + chunk(
            b"IHDR", struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, interlace)
        )
        if plte is not None:
            parts += chunk(b"PLTE", plte)
        return parts + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")

    # 16-bit gray, filter 0 row + filter 1 (Sub, bpp=2 byte lanes) row:
    # row1 raw [01 10 02 20] telescopes per byte lane -> 0x0110, 0x0330
    raw16 = (
        b"\x00" + bytes([0x01, 0x00, 0x02, 0x01])
        + b"\x01" + bytes([0x01, 0x10, 0x02, 0x20])
    )
    meta, a = decode_png(png(2, 2, 16, 0, 0, raw16))
    assert a.dtype == np.uint16 and meta["bit_depth"] == 16
    assert a.tolist() == [[0x0100, 0x0201], [0x0110, 0x0330]]

    # 1-bit gray 2x2: rows pack MSB-first, scale x255
    raw1 = b"\x00" + bytes([0b10000000]) + b"\x00" + bytes([0b01000000])
    _, a1 = decode_png(png(2, 2, 1, 0, 0, raw1))
    assert a1.tolist() == [[255, 0], [0, 255]]

    # 2-bit gray 1x4 in one byte: 0,1,2,3 -> x85
    raw2 = b"\x00" + bytes([0b00011011])
    _, a2 = decode_png(png(4, 1, 2, 0, 0, raw2))
    assert a2.tolist() == [[0, 85, 170, 255]]

    # 4-bit palette 3x1: indices 1,2,0 pack as 0x12, 0x0_ (pad)
    plte = bytes([10, 11, 12, 20, 21, 22, 30, 31, 32])
    raw4 = b"\x00" + bytes([0x12, 0x00])
    meta4, a4 = decode_png(png(3, 1, 4, 3, 0, raw4, plte=plte))
    assert a4.tolist() == [[[20, 21, 22], [30, 31, 32], [10, 11, 12]]]
    assert meta4["channels"] == 3 and meta4["bit_depth"] == 4

    # Adam7, hand-computed 2x2 gray-8: non-empty passes are 1 (pixel
    # (0,0)), 6 (pixel (1,0)), 7 (row y=1) — each its own filtered
    # sub-image
    raw_i = b"\x00" + bytes([9]) + b"\x00" + bytes([7]) + b"\x00" + bytes([5, 3])
    _, ai = decode_png(png(2, 2, 8, 0, 1, raw_i))
    assert ai.tolist() == [[9, 7], [5, 3]]

    # Adam7 programmatic: slice the reference image with the spec grid,
    # serialize every pass filter-0, and the decoder must reassemble it
    rng = np.random.default_rng(10)
    for shape, depth, color in (((9, 10), 8, 0), ((6, 7, 3), 8, 2), ((5, 5), 16, 0)):
        hi = 65536 if depth == 16 else 256
        ref = rng.integers(0, hi, size=shape).astype(
            np.uint16 if depth == 16 else np.uint8
        )
        h, w = shape[0], shape[1]
        stream = bytearray()
        for x0, y0, dx, dy in _ADAM7:
            sub = ref[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            data = sub.astype(">u2").tobytes() if depth == 16 else sub.tobytes()
            rs = len(data) // sub.shape[0]
            for r in range(sub.shape[0]):
                stream += b"\x00" + data[r * rs : (r + 1) * rs]
        _, back = decode_png(png(w, h, depth, color, 1, bytes(stream)))
        assert np.array_equal(back, ref), (shape, depth, color)


def test_wav_float_24bit_and_extensible_tiers():
    """r10: the WAV gate narrows to genuinely COMPRESSED formats —
    IEEE float 32/64 (format 3, values at face value), 24-bit PCM
    (3-byte two's complement, hand-computed full-scale/half-scale/
    negative samples), and the WAVE_FORMAT_EXTENSIBLE wrapper (0xFFFE,
    real code in the SubFormat GUID) all decode; ADPCM stays gated and
    a non-finite float rejects with ValueError."""
    import struct

    import numpy as np
    import pytest

    from mysense_spark.operators.multimodal import decode_wav

    def wav(fmt_body, data):
        body = (
            b"fmt " + struct.pack("<I", len(fmt_body)) + fmt_body
            + b"data" + struct.pack("<I", len(data)) + data
        )
        return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body

    def fmt(code, channels, sr, bits, extra=b""):
        block = max(1, channels * bits // 8)
        return struct.pack("<HHIIHH", code, channels, sr, sr * block, block, bits) + extra

    # IEEE float32: samples [0.5, -0.25, 1.0] -> peak 1.0, rms exact
    vals = [0.5, -0.25, 1.0]
    w = decode_wav(wav(fmt(3, 1, 8000, 32), struct.pack("<3f", *vals)))
    assert (w["bits"], w["n_samples"]) == (32, 3)
    assert abs(w["peak"] - 1.0) < 1e-12
    assert abs(w["rms"] - np.sqrt(np.mean(np.square(vals)))) < 1e-9
    # float64 too
    w64 = decode_wav(wav(fmt(3, 1, 8000, 64), struct.pack("<3d", *vals)))
    assert w64["bits"] == 64 and abs(w64["rms"] - w["rms"]) < 1e-9

    # 24-bit PCM: +4194304 (0.5), -8388608 (-1.0), 0 — little-endian
    def s24(v):
        return (v & 0xFFFFFF).to_bytes(3, "little")

    d24 = s24(4194304) + s24(-8388608) + s24(0)
    w24 = decode_wav(wav(fmt(1, 1, 8000, 24), d24))
    assert w24["bits"] == 24 and w24["n_samples"] == 3
    assert abs(w24["peak"] - 1.0) < 1e-12 and abs(
        w24["rms"] - np.sqrt((0.25 + 1.0 + 0.0) / 3)
    ) < 1e-12

    # EXTENSIBLE wrapper: code 0xFFFE, SubFormat GUID starts with the
    # real format (PCM=1) at fmt-body offset 24
    ext = struct.pack("<HHI", 16, 1, 0) + b"\x00" * 14  # cbSize, valid bits, mask, GUID
    guid_pcm = struct.pack("<H", 1) + bytes(14)
    ext = struct.pack("<H", 22) + struct.pack("<H", 16) + struct.pack("<I", 0) + guid_pcm
    we = decode_wav(wav(fmt(0xFFFE, 1, 8000, 16, extra=ext), struct.pack("<2h", 16384, -32768)))
    assert we["bits"] == 16 and abs(we["peak"] - 1.0) < 1e-12

    # gates and corruption (format 2 = MS-ADPCM decodes for real since
    # late r10; the transform tier is what stays gated)
    with pytest.raises(NotImplementedError, match="codec library"):
        decode_wav(wav(fmt(0x55, 1, 8000, 0), bytes(8)))  # MPEG layer 3
    with pytest.raises(ValueError, match="non-finite"):
        decode_wav(wav(fmt(3, 1, 8000, 32), struct.pack("<f", float("nan"))))
    with pytest.raises(ValueError, match="multiple of 3"):
        decode_wav(wav(fmt(1, 1, 8000, 24), bytes(4)))
    with pytest.raises(ValueError, match="truncated WAVE_FORMAT_EXTENSIBLE"):
        decode_wav(wav(fmt(0xFFFE, 1, 8000, 16), bytes(4)))


def test_jpeg_sampling_factors_up_to_four():
    """r10: the sampling-factor envelope widens from 1-2 to the spec's
    full 1-4 range (divisible ratios). 4:1:1 and 4:2:2-style layouts
    round-trip exactly on flat-chroma images (box downsample +
    replicated upsample are inverse on constants), also under restart
    intervals and through the PROGRESSIVE path's shared check; factors
    outside 1-4 are corrupt SOF data. Since r12 valid-but-fractional
    ratios (3 vs 4) are SUPPORTED: the decoder's nearest-index mapping
    floor(x*h/hmax) generalizes sample replication (T.81 leaves the
    upsampling filter to the decoder), the encoder's nearest-index
    downsample is its inverse on constants — so flat-chroma images
    round-trip exactly through every fractional combination too."""
    import struct

    import numpy as np
    import pytest

    from mysense_spark.operators.codecs import decode_jpeg_pixels, write_jpeg

    flat = np.zeros((20, 28, 3), np.uint8)
    flat[:, :, 0], flat[:, :, 1], flat[:, :, 2] = 90, 160, 40
    for samp in ([(4, 1), (1, 1), (1, 1)], [(2, 1), (1, 1), (1, 1)],
                 [(4, 2), (2, 1), (1, 1)], [(4, 4), (1, 1), (1, 1)]):
        for kw in ({}, {"restart": 3}):
            jp = write_jpeg(flat, samp=samp, **kw)
            _, back = decode_jpeg_pixels(jp)
            assert np.array_equal(back, flat), (samp, kw)
    # luma detail survives chroma subsampling exactly when chroma is flat
    grad = np.zeros((16, 16, 3), np.uint8)
    grad[:, :, 0] = np.arange(16, dtype=np.uint8)[None, :] * 12
    grad[:, :, 1] = grad[:, :, 0]
    grad[:, :, 2] = grad[:, :, 0]
    _, gb = decode_jpeg_pixels(write_jpeg(grad, samp=[(4, 1), (1, 1), (1, 1)]))
    assert int(np.abs(gb.astype(int) - grad.astype(int)).max()) <= 2

    # r12: fractional ratios round-trip exactly on flat images through
    # every path (the decoder nearest-index upsample inverts the
    # encoder nearest-index downsample on constants)
    for samp in ([(3, 1), (2, 1), (1, 1)], [(4, 3), (2, 1), (1, 3)],
                 [(3, 2), (1, 1), (2, 1)]):
        _, fb = decode_jpeg_pixels(write_jpeg(flat, samp=samp))
        assert np.array_equal(fb, flat), samp
    # and behaves like the established lossy-subsampling tier on
    # non-flat chroma (luma stays near-exact when it rides the max)
    _, gb3 = decode_jpeg_pixels(write_jpeg(grad, samp=[(3, 1), (1, 1), (1, 1)]))
    assert int(np.abs(gb3.astype(int) - grad.astype(int)).max()) <= 2
    with pytest.raises(ValueError, match="invalid sampling"):
        write_jpeg(flat, samp=[(5, 1), (1, 1), (1, 1)])

    # decoder side: out-of-spec factor = corrupt SOF; fractional = gate
    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    dqt = seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    dc_counts = [0, 0, 0, 12] + [0] * 12
    ac_syms = [0x00] + [(r << 4) | s for r in range(16) for s in range(1, 11)] + [0xF0]
    ac_counts = [0] * 7 + [len(ac_syms)] + [0] * 8
    dht = seg(0xC4, bytes([0x00]) + bytes(dc_counts) + bytes(range(12))
              + bytes([0x10]) + bytes(ac_counts) + bytes(ac_syms))
    sos3 = seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00]) + b"\x00\x3f\x00")

    def sof0(hv):
        return seg(0xC0, struct.pack(">BHHB", 8, 8, 8, 3)
                   + bytes([1, hv[0], 0, 2, hv[1], 0, 3, hv[2], 0]))

    with pytest.raises(ValueError, match="1-4 range"):
        decode_jpeg_pixels(b"\xff\xd8" + dqt + sof0([0x51, 0x11, 0x11]) + dht
                           + sos3 + bytes(64) + b"\xff\xd9")


def _mk_bmp(width, height, bpp, raster, palette=b"", compression=0):
    """BITMAPINFOHEADER BMP byte builder shared by the BMP tier tests."""
    import struct

    data_off = 54 + len(palette)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, bpp, compression,
        len(raster), 2835, 2835, len(palette) // 4, 0,
    )
    head = b"BM" + struct.pack("<IHHI", data_off + len(raster), 0, 0, data_off)
    return head + info + palette + raster


def test_bmp_palette_and_32bit_tiers():
    """r10: 8-bit palette BMP (BITMAPINFOHEADER color table, BGRX
    entries, padded index rows, bottom-up AND top-down) and 32-bit BGRX
    decode to the same HxWx3 RGB the 24-bit tier returns; out-of-range
    palette indices and truncated color tables reject with ValueError;
    4-bit and RLE stay gated."""
    import struct

    import numpy as np
    import pytest

    from mysense_spark.operators.multimodal import decode_bmp

    bmp = _mk_bmp

    # 2x2 8-bit palette, bottom-up: indices [[0,1],[2,0]] top-down means
    # rows stored bottom row first; rows pad to 4 bytes
    pal = bytes([10, 20, 30, 0,  40, 50, 60, 0,  70, 80, 90, 0])  # BGRX x3
    raster = bytes([2, 0, 0, 0]) + bytes([0, 1, 0, 0])  # bottom, then top row
    meta, a = decode_bmp(bmp(2, 2, 8, raster, palette=pal))
    assert meta["channels"] == 3
    assert a.tolist() == [
        [[30, 20, 10], [60, 50, 40]],
        [[90, 80, 70], [30, 20, 10]],
    ]
    # top-down (negative height): same rows read in storage order
    meta_td, a_td = decode_bmp(bmp(2, -2, 8, raster, palette=pal))
    assert a_td.tolist() == a[::-1].tolist()

    # 32-bit BGRX 1x2
    r32 = bytes([1, 2, 3, 0, 4, 5, 6, 0])
    _, a32 = decode_bmp(bmp(2, -1, 32, r32))
    assert a32.tolist() == [[[3, 2, 1], [6, 5, 4]]]

    with pytest.raises(ValueError, match="palette index"):
        decode_bmp(bmp(2, 2, 8, bytes([9, 0, 0, 0, 0, 0, 0, 0]), palette=pal))
    with pytest.raises(ValueError, match="color table"):
        raw = bytearray(bmp(2, 2, 8, raster, palette=pal))
        struct.pack_into("<I", raw, 46, 64)  # claim 64 entries, have 3
        decode_bmp(bytes(raw))
    # 4-bit uncompressed and RLE8 are REAL tiers since late r10 (see
    # test_bmp_full_matrix); BI_BITFIELDS stays gated
    with pytest.raises(NotImplementedError, match="codec library"):
        decode_bmp(bmp(2, 2, 8, raster, palette=pal, compression=3))


def test_jpeg_sequential_multiscan():
    """r10: baseline components spread over several scans (the last
    sequential gate). A 3-component 16x16 SOF0 whose first scan
    interleaves components 1+2 (MCU = 2 blocks) and whose second scan
    codes component 3 alone (own block grid) decodes to the exact flat
    RGB the single-scan layout produces; coverage is enforced — a
    duplicate or missing component is a structural error, as is a
    sequential scan that does not code the full spectrum."""
    import struct

    import pytest

    from mysense_spark.operators.codecs import decode_jpeg_pixels

    seg, dqt, dht, ac_code = _prog_fixture_parts()
    sof = seg(
        0xC0,
        struct.pack(">BHHB", 8, 16, 16, 3)
        + bytes([1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]),
    )

    def dc576_then_zeros(n_blocks, ncomp_in_scan):
        pk = _BitPacker()
        # first unit: comp A diff 576 (t=10), others t=0
        pk.put(0b1010, 4).put(576, 10).put(ac_code[0x00], 8)
        for _ in range(ncomp_in_scan - 1):
            pk.put(0, 4).put(ac_code[0x00], 8)
        for _ in range(n_blocks - 1):
            for _ in range(ncomp_in_scan):
                pk.put(0, 4).put(ac_code[0x00], 8)
        return pk.bytes()

    # scan 1: comps 1+2 interleaved over 4 MCUs; scan 2: comp 3 alone.
    # Y=576 -> gray 200; Cb=Cr=0 with the +576 only on comp 1
    sos12 = seg(0xDA, bytes([2, 1, 0x00, 2, 0x00]) + bytes([0, 63, 0x00]))
    e12 = dc576_then_zeros(4, 2)
    sos3 = seg(0xDA, bytes([1, 3, 0x00]) + bytes([0, 63, 0x00]))
    pk3 = _BitPacker()
    for _ in range(4):
        pk3.put(0, 4).put(ac_code[0x00], 8)
    jp = b"\xff\xd8" + dqt + sof + dht + sos12 + e12 + sos3 + pk3.bytes() + b"\xff\xd9"
    meta, rgb = decode_jpeg_pixels(jp)
    assert meta["progressive"] is False and meta["channels"] == 3
    assert rgb.shape == (16, 16, 3) and rgb.min() == rgb.max() == 200

    # missing coverage: EOI before component 3's scan
    jp_missing = b"\xff\xd8" + dqt + sof + dht + sos12 + e12 + b"\xff\xd9"
    with pytest.raises(ValueError, match="do not cover"):
        decode_jpeg_pixels(jp_missing)
    # duplicate coverage: component 1 scanned twice
    sos1 = seg(0xDA, bytes([1, 1, 0x00]) + bytes([0, 63, 0x00]))
    e1 = dc576_then_zeros(4, 1)
    jp_dup = (
        b"\xff\xd8" + dqt + sof + dht + sos12 + e12 + sos1 + e1
        + sos3 + pk3.bytes() + b"\xff\xd9"
    )
    with pytest.raises(ValueError, match="twice"):
        decode_jpeg_pixels(jp_dup)
    # a sequential scan must code the full spectrum
    sos_partial = seg(0xDA, bytes([1, 3, 0x00]) + bytes([1, 63, 0x00]))
    jp_partial = (
        b"\xff\xd8" + dqt + sof + dht + sos12 + e12
        + sos_partial + pk3.bytes() + b"\xff\xd9"
    )
    with pytest.raises(ValueError, match="full spectrum"):
        decode_jpeg_pixels(jp_partial)


def test_jpeg_review_hardening_round10b():
    """Post-review r10b: (a) a single-component baseline frame whose
    SOF declares 2x2 sampling carries T.81 A.2.2 NON-interleaved scans
    (the component's own ceil/8 block grid, not the MCU tiling) — a
    24x8 gray 2x2 stream with exactly 3 blocks must decode, and its
    pixels must match the 1x1 encoding of the same image; (b) an SOS
    listing the same component twice is a structural error, not a
    silent double-decode; (c) write_png refuses 16-bit arrays instead
    of truncating mod 256."""
    import struct

    import numpy as np
    import pytest

    from mysense_spark.operators.codecs import decode_jpeg_pixels, write_jpeg, write_png

    seg, dqt, dht, ac_code = _prog_fixture_parts()
    # (a) 24x8 gray, SOF says 2x2: bw1 x bh1 = 3x1 blocks, MCU grid
    # would claim 2x1 MCUs x 4 = 8. Reuse the baseline encoder's
    # entropy for the SAME image at 1x1 (identical block content and
    # order for a single row of blocks), swapping in the 2x2 SOF.
    img = (np.arange(24 * 8).reshape(8, 24) * 7 % 256).astype(np.uint8)
    jp11 = write_jpeg(img)
    sos_at = jp11.find(b"\xff\xda")
    sof_at = jp11.find(b"\xff\xc0")
    sof22 = seg(0xC0, struct.pack(">BHHB", 8, 8, 24, 1) + bytes([1, 0x22, 0]))
    (sof_len,) = struct.unpack_from(">H", jp11, sof_at + 2)
    jp22 = jp11[:sof_at] + sof22 + jp11[sof_at + 2 + sof_len :]
    assert jp22[:2] == b"\xff\xd8" and jp22.find(b"\xff\xda") > 0
    _, want = decode_jpeg_pixels(jp11)
    meta22, got = decode_jpeg_pixels(jp22)
    assert np.array_equal(got, want) and meta22["progressive"] is False

    # (b) duplicate component within one SOS
    sof3 = seg(
        0xC0,
        struct.pack(">BHHB", 8, 16, 16, 3)
        + bytes([1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]),
    )
    sos_dup = seg(0xDA, bytes([2, 1, 0x00, 1, 0x00]) + bytes([0, 63, 0x00]))
    with pytest.raises(ValueError, match="twice"):
        decode_jpeg_pixels(
            b"\xff\xd8" + dqt + sof3 + dht + sos_dup + bytes(64) + b"\xff\xd9"
        )

    # (c) write_png is 8-bit only — no silent mod-256 truncation
    with pytest.raises(ValueError, match="8-bit"):
        write_png(np.array([[256, 65535]], dtype=np.uint16))
    # in-range non-uint8 input still encodes (values are representable)
    from mysense_spark.operators.codecs import decode_png

    _, ok = decode_png(write_png(np.array([[0, 255]], dtype=np.uint16)))
    assert ok.tolist() == [[0, 255]]


def test_media_decode_stats_losslessness_and_partition_independence(spark, sf_dir):
    """The r10 graded codec round-trip query: results must be identical
    when the INPUT partitioning — and therefore the Arrow batch shape
    the mapInPandas UDF sees — changes (cross-row state in the UDF
    would leak through batch boundaries), the PNG leg's mean must equal
    the md5 synthesis computed INDEPENDENTLY of the codec (losslessness
    is the oracle argument), and every doc appears exactly once with
    its parity's format."""
    import hashlib
    import math

    from mysense_spark.io import load
    from mysense_spark.operators.multimodal import media_decode_stats

    docs = load(spark, sf_dir, "documents").select("doc_id")
    rows = {r["doc_id"]: r for r in media_decode_stats(docs).collect()}
    rows2 = {
        r["doc_id"]: r
        for r in media_decode_stats(docs.repartition(7)).collect()
    }
    assert rows == rows2
    for d, r in rows.items():
        assert r["fmt"] == ("png" if d % 2 == 0 else "wav")
        if d % 2 == 0:
            want = sum(
                int(hashlib.md5(str(d * 128 + i).encode()).hexdigest()[:2], 16)
                for i in range(64)
            ) / 64
            assert r["mean_val"] == math.floor(want * 1e6 + 0.5) / 1e6
            assert (r["width"], r["height"]) == (8, 8)
        else:
            assert r["rms"] is not None and 0 <= r["peak"] <= 1.0


def test_bmp_full_matrix():
    """Late-r10 BMP closure: 1-bit and 4-bit palette rasters (MSB-first
    bits / hi-lo nibbles, 4-byte row padding), RLE8 and RLE4 streams
    (encoded runs, end-of-line, delta and absolute escapes — all
    hand-assembled with hand-computed expected pixels), and 16-bit
    X1R5G5B5 with exact 5->8 bit replication; runs that overflow the
    raster reject with ValueError."""
    import struct

    import pytest

    from mysense_spark.operators.multimodal import decode_bmp

    bmp = _mk_bmp

    pal2 = bytes([10, 20, 30, 0, 40, 50, 60, 0])          # 2 BGRX entries
    pal3 = pal2 + bytes([70, 80, 90, 0])                   # 3 entries
    rgb = {0: [30, 20, 10], 1: [60, 50, 40], 2: [90, 80, 70]}

    # 1-bit 3x2 top-down: rows 0b101..... and 0b010.....
    r1 = bytes([0b10100000, 0, 0, 0]) + bytes([0b01000000, 0, 0, 0])
    _, a1 = decode_bmp(bmp(3, -2, 1, r1, palette=pal2))
    assert a1.tolist() == [[rgb[1], rgb[0], rgb[1]], [rgb[0], rgb[1], rgb[0]]]

    # 4-bit 3x1: nibbles 0,1 | 2,pad
    r4 = bytes([0x01, 0x20, 0, 0])
    _, a4 = decode_bmp(bmp(3, -1, 4, r4, palette=pal3))
    assert a4.tolist() == [[rgb[0], rgb[1], rgb[2]]]

    # RLE8 4x2, positive height (stored rows are bottom-up). Stream:
    # row0 = run 3x idx1 + run 1x idx2, EOL; row1 = run 4x idx0; EOB
    rle8 = bytes([3, 1, 1, 2, 0, 0, 4, 0, 0, 1])
    _, a8 = decode_bmp(bmp(4, 2, 8, rle8, palette=pal3, compression=1))
    # bottom-up: storage row 0 is the BOTTOM row
    assert a8.tolist() == [
        [rgb[0]] * 4,
        [rgb[1], rgb[1], rgb[1], rgb[2]],
    ]

    # RLE8 delta escape: run 1x2, delta (+1,+1), run 1x1, EOB — pixels
    # skipped by the delta stay index 0
    rled = bytes([1, 2, 0, 2, 1, 1, 1, 1, 0, 1])
    _, ad = decode_bmp(bmp(3, -2, 8, rled, palette=pal3, compression=1))
    assert ad.tolist() == [
        [rgb[2], rgb[0], rgb[0]],
        [rgb[0], rgb[0], rgb[1]],
    ]

    # RLE4: run of 5 alternating nibbles 1,2 then EOL/EOB -> 1,2,1,2,1
    rle4 = bytes([5, 0x12, 0, 0, 0, 1])
    _, a44 = decode_bmp(bmp(5, -1, 4, rle4, palette=pal3, compression=2))
    assert a44.tolist() == [[rgb[1], rgb[2], rgb[1], rgb[2], rgb[1]]]

    # RLE absolute mode (n>=3 literal pixels, word-aligned)
    rabs = bytes([0, 3, 2, 1, 0, 0]) + bytes([0, 1])
    _, aab = decode_bmp(bmp(3, -1, 8, rabs, palette=pal3, compression=1))
    assert aab.tolist() == [[rgb[2], rgb[1], rgb[0]]]

    # 16-bit X1R5G5B5: (31,0,0) -> 255 red; (0,31,15) -> g 255, b 123
    v1 = 31 << 10
    v2 = (31 << 5) | 15
    r16 = struct.pack("<HH", v1, v2)
    _, a16 = decode_bmp(bmp(2, -1, 16, r16))
    assert a16.tolist() == [[[255, 0, 0], [0, 255, (15 << 3) | (15 >> 2)]]]

    # overflowing RLE run rejects
    with pytest.raises(ValueError, match="overflows"):
        decode_bmp(bmp(2, -1, 8, bytes([5, 1, 0, 1]), palette=pal3, compression=1))


def _mk_wav(code, data, channels=1, sr=8000, block_align=1, bits=8, extra=b""):
    """RIFF/WAVE byte builder shared by the WAV tier tests."""
    import struct

    fmt = struct.pack("<HHIIHH", code, channels, sr, sr, block_align, bits) + extra
    body = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def test_wav_g711_companding():
    """G.711 μ-law/A-law tiers: the published edge values decode
    exactly (μ: 0x00 -> -32124, 0x80 -> +32124, 0xFF -> 0;
    A: 0x55 -> -8, 0xD5 -> +8, 0x2A -> the most negative segment), and
    a full-scale pair gives |peak| = value/32768; ADPCM (format 2)
    stays gated."""
    import struct

    import pytest

    from mysense_spark.operators.multimodal import _g711_table, decode_wav

    mu = _g711_table(mu=True)
    assert (mu[0x00], mu[0x80], mu[0xFF], mu[0x7F]) == (-32124, 32124, 0, 0)
    al = _g711_table(mu=False)
    assert (al[0x55], al[0xD5]) == (-8, 8)
    assert (al[0x2A], al[0xAA]) == (-32256, 32256)

    wav = _mk_wav

    w = decode_wav(wav(7, bytes([0x00, 0xFF, 0x80])))
    assert w["n_samples"] == 3 and abs(w["peak"] - 32124 / 32768) < 1e-12
    wa = decode_wav(wav(6, bytes([0x55, 0xD5, 0x2A])))
    assert abs(wa["peak"] - 32256 / 32768) < 1e-12
    with pytest.raises(NotImplementedError, match="codec library"):
        decode_wav(wav(0x55, bytes(4)))


def test_wav_ima_adpcm():
    """IMA/DVI ADPCM (format 0x11): a one-block mono stream decoded
    against a HAND-COMPUTED walk of the published step/index recurrence
    (predictor 100, index 0, nibbles 3,8,0,0,15,0,8,4 ->
    104,104,104,104,93,95,94,108), a stereo block with round-robin
    4-byte channel groups, and the malformed-structure battery
    (oversized step index, partial block, bad alignment); MS-ADPCM
    (format 2) stays gated."""
    import struct

    import pytest

    from mysense_spark.operators.multimodal import decode_wav

    def wav(code, data, channels=1, block_align=8, bits=4):
        return _mk_wav(code, data, channels=channels, block_align=block_align, bits=bits)

    # mono: header (pred=100, idx=0, rsvd) + bytes 0x83 0x00 0x0F 0x48
    # (low nibble first). Hand walk: step 7 while idx=0; n=15 drops to
    # 93 and bumps idx to 8 (step 16); n=0 then adds step>>3=2; n=8
    # negates step 14's >>3=1; n=4 adds full step 13 -> 108.
    block = struct.pack("<hBB", 100, 0, 0) + bytes([0x83, 0x00, 0x0F, 0x48])
    w = decode_wav(wav(0x11, block))
    assert (w["bits"], w["channels"], w["n_samples"]) == (16, 1, 9)
    want = [100, 104, 104, 104, 104, 93, 95, 94, 108]
    assert abs(w["peak"] - max(abs(v) for v in want) / 32768) < 1e-12
    # rms over the exact hand-computed samples
    import math

    rms = math.sqrt(sum((v / 32768) ** 2 for v in want) / len(want))
    assert abs(w["rms"] - rms) < 1e-12

    # stereo: per-channel headers then alternating 4-byte groups; all
    # -zero nibbles hold each channel at its header predictor
    sblock = (
        struct.pack("<hBB", 0, 0, 0) + struct.pack("<hBB", 1000, 0, 0)
        + bytes(4) + bytes(4)
    )
    ws = decode_wav(wav(0x11, sblock, channels=2, block_align=16))
    assert (ws["channels"], ws["n_samples"]) == (2, 9)
    assert abs(ws["peak"] - 1000 / 32768) < 1e-12

    with pytest.raises(ValueError, match="step index"):
        decode_wav(wav(0x11, struct.pack("<hBB", 0, 99, 0) + bytes(4)))
    with pytest.raises(ValueError, match="whole number of blocks"):
        decode_wav(wav(0x11, block + b"\x00"))
    with pytest.raises(ValueError, match="block alignment"):
        decode_wav(wav(0x11, block[:6], block_align=6))
    # stereo data region must be whole 4-bytes-PER-CHANNEL rounds:
    # block_align=12 leaves one lone group and would read past the block
    with pytest.raises(ValueError, match="block alignment"):
        decode_wav(wav(0x11, bytes(12), channels=2, block_align=12))
    # a fact chunk truncates the padded final block (real encoders pad):
    # same mono block, fact says 4 of the 9 decoded samples are real
    import struct as _s

    fact_wav = wav(0x11, block)
    fact_chunk = b"fact" + _s.pack("<I", 4) + _s.pack("<I", 4)
    fact_wav = (
        fact_wav[:12] + fact_chunk + fact_wav[12:]
    )
    fact_wav = fact_wav[:4] + _s.pack("<I", len(fact_wav) - 8) + fact_wav[8:]
    wf = decode_wav(fact_wav)
    assert wf["n_samples"] == 4
    assert abs(wf["peak"] - 104 / 32768) < 1e-12  # only 100,104,104,104 remain



def test_wav_ms_adpcm():
    """MS-ADPCM (format 2): a one-block mono stream decoded against a
    HAND-COMPUTED walk of the published two-tap predictor + adaptive
    delta recurrence (coef pair 0, delta 16, header samples 50/100,
    nibbles 1,2,8,15 -> 116,148,20,-28), a stereo block with per-nibble
    channel alternation, and the malformed-structure battery; the
    transform tier (MP3/AAC) stays gated."""
    import struct

    import pytest

    from mysense_spark.operators.multimodal import decode_wav

    def wav(code, data, channels=1, block_align=9, bits=4):
        return _mk_wav(code, data, channels=channels, block_align=block_align, bits=bits)

    # mono: pred idx 0 (coef 256/0 -> prediction = s1), delta 16,
    # sample1=100 (newer), sample2=50 (older); nibbles 1,2,8,15:
    #   n=1: 100+16=116           n=2: 116+32=148 (delta floors at 16)
    #   n=8: 148-8*16=20, delta->48   n=15: 20-48=-28
    block = bytes([0]) + struct.pack("<hhh", 16, 100, 50) + bytes([0x12, 0x8F])
    w = decode_wav(wav(2, block))
    assert (w["bits"], w["channels"], w["n_samples"]) == (16, 1, 6)
    want = [50, 100, 116, 148, 20, -28]
    assert abs(w["peak"] - 148 / 32768) < 1e-12
    import math

    rms = math.sqrt(sum((v / 32768) ** 2 for v in want) / len(want))
    assert abs(w["rms"] - rms) < 1e-12

    # stereo: headers ch0 (s1=10,s2=10) / ch1 (s1=-20,s2=-20), zero
    # nibbles alternate channels -> each channel holds its level
    sblock = (
        bytes([0, 0]) + struct.pack("<hh", 16, 16)
        + struct.pack("<hh", 10, -20) + struct.pack("<hh", 10, -20)
        + bytes([0x00, 0x00])
    )
    ws = decode_wav(wav(2, sblock, channels=2, block_align=16))
    assert (ws["channels"], ws["n_samples"]) == (2, 4)
    assert abs(ws["peak"] - 20 / 32768) < 1e-12

    with pytest.raises(ValueError, match="predictor index"):
        decode_wav(wav(2, bytes([7]) + block[1:]))
    with pytest.raises(ValueError, match="whole number of blocks"):
        decode_wav(wav(2, block + b"\x00"))
    with pytest.raises(ValueError, match="block alignment"):
        decode_wav(wav(2, block[:7], block_align=7))


def test_bmp_bitfields():
    """BI_BITFIELDS BMP (compression 3): 565 masks at 16 bpp decode
    with exact rounded channel scaling (hand-computed: r5=16 -> 132,
    g6=32 -> 130, b5=8 -> 66), standard 8-bit masks at 32 bpp are an
    identity, and zero / non-contiguous / truncated masks reject with
    ValueError."""
    import struct

    import pytest

    from mysense_spark.operators.multimodal import decode_bmp

    masks565 = struct.pack("<III", 0xF800, 0x07E0, 0x001F)
    v1 = (31 << 11) | (63 << 5) | 31   # full-scale white
    v2 = (16 << 11) | (32 << 5) | 8
    raster = struct.pack("<HH", v1, v2)
    _, a = decode_bmp(_mk_bmp(2, -1, 16, raster, palette=masks565, compression=3))
    assert a.tolist() == [[[255, 255, 255], [132, 130, 66]]]

    masks32 = struct.pack("<III", 0x00FF0000, 0x0000FF00, 0x000000FF)
    r32 = struct.pack("<I", (10 << 16) | (20 << 8) | 30)
    _, a32 = decode_bmp(_mk_bmp(1, -1, 32, r32, palette=masks32, compression=3))
    assert a32.tolist() == [[[10, 20, 30]]]

    with pytest.raises(ValueError, match="invalid BMP channel mask"):
        decode_bmp(_mk_bmp(2, -1, 16, raster,
                           palette=struct.pack("<III", 0, 0x07E0, 0x1F),
                           compression=3))
    with pytest.raises(ValueError, match="non-contiguous"):
        decode_bmp(_mk_bmp(2, -1, 16, raster,
                           palette=struct.pack("<III", 0xF800, 0x0520, 0x1F),
                           compression=3))
    with pytest.raises(ValueError, match="overlapping"):
        decode_bmp(_mk_bmp(2, -1, 16, raster,
                           palette=struct.pack("<III", 0xF800, 0xF800, 0x1F),
                           compression=3))
    # masks must actually be present: 4 bytes cannot hold three of them
    with pytest.raises(ValueError, match="truncated BMP BI_BITFIELDS"):
        decode_bmp(_mk_bmp(2, -1, 16, raster, palette=b"", compression=3)[:58])


def test_ms_adpcm_negative_prediction_truncates_toward_zero():
    """r11 advice fix: the /256 predictor scaling truncates TOWARD ZERO
    (Microsoft spec / ffmpeg), not Python-floor. Coef pair 4 (240/0)
    with s1=-1 predicts -240/256 -> 0 (floor would give -1, and the
    error would feed back through s1/s2). All-zero nibbles then hold
    at 0, so the hand-computed stream is [0, -1, 0, 0, 0, 0] — a
    floor-division decoder reads [0, -1, -1, -1, -1, -1] and the RMS
    separates the two decisively."""
    import math
    import struct

    from mysense_spark.operators.multimodal import decode_wav

    block = bytes([4]) + struct.pack("<hhh", 16, -1, 0) + bytes([0x00, 0x00])
    w = decode_wav(_mk_wav(2, block, channels=1, block_align=9, bits=4))
    assert (w["bits"], w["channels"], w["n_samples"]) == (16, 1, 6)
    want = [0, -1, 0, 0, 0, 0]
    rms = math.sqrt(sum((v / 32768) ** 2 for v in want) / len(want))
    assert abs(w["rms"] - rms) < 1e-12
    assert abs(w["peak"] - 1 / 32768) < 1e-12


def test_bmp_core_header_decode():
    """r12: BITMAPCOREHEADER (hdr_size 12) is now DECODED with its real
    layout — unsigned 16-bit dims, always-bottom-up raster, RGBTRIPLE
    palette, no clr_used. Hand-built files with hand-computed pixels:
    24-bit direct, 8-bit palette, 1-bit palette; OS/2 2.x header sizes
    (16-64) remain loudly rejected, and truncation/garbage raise
    ValueError."""
    import struct

    import numpy as np
    import pytest

    from mysense_spark.operators.multimodal import decode_bmp

    def core_file(w, h, bpp, pal, raster, data_off=None):
        pal_bytes = b"".join(bytes(p) for p in pal)
        off = data_off if data_off is not None else 26 + len(pal_bytes)
        head = b"BM" + struct.pack("<IHHI", off + len(raster), 0, 0, off)
        core = struct.pack("<IHHHH", 12, w, h, 1, bpp)
        return head + core + pal_bytes + raster

    # 2x2 24-bit: rows bottom-up, BGR, stride 8 (2*3 -> pad to 8)
    row_bot = bytes([255, 0, 0, 0, 255, 0]) + b"\x00\x00"  # blue px, green px
    row_top = bytes([0, 0, 255, 10, 20, 30]) + b"\x00\x00"  # red px, (30,20,10)
    meta, arr = decode_bmp(core_file(2, 2, 24, [], row_bot + row_top))
    assert (meta["width"], meta["height"]) == (2, 2)
    want = np.array(
        [[[255, 0, 0], [30, 20, 10]], [[0, 0, 255], [0, 255, 0]]], dtype=np.uint8
    )
    assert np.array_equal(arr, want)
    # 1x1 8-bit palette: index 1 -> RGBTRIPLE (BGR) palette entry
    pal = [(0, 0, 0)] * 256
    pal[1] = (10, 20, 30)  # stored BGR -> RGB (30, 20, 10)
    meta8, arr8 = decode_bmp(core_file(1, 1, 8, pal, b"\x01\x00\x00\x00"))
    assert arr8.tolist() == [[[30, 20, 10]]]
    # 8x1 1-bit palette: byte 0b10110000 -> indices 1,0,1,1,0,0,0,0
    meta1, arr1 = decode_bmp(
        core_file(8, 1, 1, [(0, 0, 0), (255, 255, 255)], b"\xb0\x00\x00\x00")
    )
    assert [px[0] for px in arr1[0].tolist()] == [255, 0, 255, 255, 0, 0, 0, 0]
    # header-only parse still validates lengths
    m, none = decode_bmp(core_file(2, 2, 24, [], row_bot + row_top), pixels=False)
    assert none is None and m["width"] == 2
    # adversarial: truncated raster, bad bpp, offset into header
    with pytest.raises(ValueError):
        decode_bmp(core_file(2, 2, 24, [], row_bot))  # half the raster
    with pytest.raises(ValueError):
        decode_bmp(core_file(1, 1, 16, [], b"\x00" * 8))  # 16bpp not in core set
    with pytest.raises(ValueError):
        decode_bmp(core_file(1, 1, 24, [], b"\x00" * 8, data_off=10))
    # r13: a 16-byte cbFix is the OS/2 2.x SHORT header, whose first 16
    # bytes align with the INFOHEADER — rewriting a Windows file's
    # header size to 16 must now DECODE to the same pixel, not gate
    os2ish = bytearray(_mk_bmp(1, 1, 24, b"\x01\x02\x03\x00"))
    os2ish[14] = 16
    _m, a16 = decode_bmp(bytes(os2ish))
    assert a16.tolist() == [[[3, 2, 1]]]  # BGR \x01\x02\x03 -> RGB
    # 13-15 have no documented layout: corrupt, ValueError
    os2ish[14] = 13
    with pytest.raises(ValueError, match="header size"):
        decode_bmp(bytes(os2ish))


def test_bmp_os2_header_decode():
    """r13: OS/2 2.x BITMAPINFOHEADER2 (cbFix 16-64) decoded with its
    real layout — fields present only up to cbFix, ULONG always-
    bottom-up dims, 4-byte RGB4 palette at 14+cbFix, cclrUsed honored
    at cbFix>=36, and the OS/2 compression code set: RLE8 shares the
    Windows kernel, RLE24 is the OS/2-only 3-byte-run form, and
    Huffman-1D (compression 3) stays a LOUD codec-tier gate. Hand-built
    files with hand-computed pixels."""
    import struct

    import numpy as np
    import pytest

    from mysense_spark.operators.multimodal import decode_bmp

    def os2_file(cb_fix, w, h, bpp, comp, pal, raster, clr_used=0):
        pal_bytes = b"".join(bytes(p) + b"\x00" for p in pal)
        off = 14 + cb_fix + len(pal_bytes)
        head = b"BM" + struct.pack("<IHHI", off + len(raster), 0, 0, off)
        hdr = struct.pack("<IIIHH", cb_fix, w, h, 1, bpp)
        if cb_fix >= 20:
            hdr += struct.pack("<I", comp)
        if cb_fix >= 36:
            hdr += b"\x00" * 12 + struct.pack("<I", clr_used)
        hdr += b"\x00" * (cb_fix - len(hdr))
        return head + hdr + pal_bytes + raster

    # 16-byte header (no compression field -> BI_RGB), 2x2 24-bit,
    # bottom-up BGR rows padded to 8
    row_bot = bytes([255, 0, 0, 0, 255, 0]) + b"\x00\x00"
    row_top = bytes([0, 0, 255, 10, 20, 30]) + b"\x00\x00"
    meta, arr = decode_bmp(os2_file(16, 2, 2, 24, 0, [], row_bot + row_top))
    assert (meta["width"], meta["height"]) == (2, 2)
    want = np.array(
        [[[255, 0, 0], [30, 20, 10]], [[0, 0, 255], [0, 255, 0]]], dtype=np.uint8
    )
    assert np.array_equal(arr, want)
    # 64-byte header, 8-bit palette with cclrUsed=2 (4-byte RGB4 entries)
    meta8, arr8 = decode_bmp(
        os2_file(64, 1, 1, 8, 0, [(0, 0, 0), (10, 20, 30)], b"\x01\x00\x00\x00",
                 clr_used=2)
    )
    assert arr8.tolist() == [[[30, 20, 10]]]  # BGR0 entry -> RGB
    # palette index beyond cclrUsed quarantines, never IndexErrors
    with pytest.raises(ValueError, match="palette index"):
        decode_bmp(
            os2_file(64, 1, 1, 8, 0, [(0, 0, 0), (10, 20, 30)],
                     b"\x05\x00\x00\x00", clr_used=2)
        )
    # RLE8 under a 20-byte OS/2 header: run of 2 then end-of-bitmap.
    # cbFix 20 has no cclrUsed field, so the palette is the FULL 2^bpp
    # entries (a short header cannot express a truncated palette)
    rle8 = bytes([2, 1, 0, 1])
    pal256 = [(0, 0, 0)] * 256
    pal256[1] = (1, 2, 3)
    m_rle, a_rle = decode_bmp(os2_file(20, 2, 1, 8, 1, pal256, rle8))
    assert a_rle.tolist() == [[[3, 2, 1], [3, 2, 1]]]
    # RLE24: 2-pixel run of BGR (5,6,7), one absolute pixel, EOL, EOB
    rle24 = bytes([2, 5, 6, 7]) + bytes([0, 3, 1, 2, 3, 4, 5, 6, 9, 9, 9, 0]) \
        + bytes([0, 0, 0, 1])
    # 3 absolute pixels: (1,2,3) (4,5,6) (9,9,9) BGR + 1 pad byte; width 5
    m24, a24 = decode_bmp(os2_file(20, 5, 1, 24, 4, [], rle24))
    assert a24[0].tolist() == [
        [7, 6, 5], [7, 6, 5], [3, 2, 1], [6, 5, 4], [9, 9, 9],
    ]
    # Huffman-1D: the remaining genuine codec tier, loud gate
    with pytest.raises(NotImplementedError, match="Huffman-1D"):
        decode_bmp(os2_file(20, 2, 1, 1, 3, [(0, 0, 0), (255, 255, 255)], b"\x00\x00"))
    # unknown OS/2 compression code: corrupt, ValueError
    with pytest.raises(ValueError, match="compression"):
        decode_bmp(os2_file(20, 1, 1, 24, 9, [], b"\x00" * 4))
    # RLE24 stream without the end escape: truncated, ValueError
    with pytest.raises(ValueError):
        decode_bmp(os2_file(20, 5, 1, 24, 4, [], bytes([2, 5, 6, 7])))
    # header-only parse still validates lengths
    m_h, none = decode_bmp(
        os2_file(16, 2, 2, 24, 0, [], row_bot + row_top), pixels=False
    )
    assert none is None and m_h["width"] == 2
    # r13 review: ULONG dims beyond int31 are corrupt (the Windows path
    # rejects the same bytes via its signed parse), and RLE's
    # implicit-zero fill means a 35-byte file may not declare a
    # billion-pixel raster — both quarantine with ValueError, never a
    # multi-GB np.zeros / int32 Arrow overflow
    with pytest.raises(ValueError, match="invalid BMP dimensions"):
        decode_bmp(os2_file(20, 0xF0000005, 1, 8, 1, [], b"\x00\x01"))
    with pytest.raises(ValueError, match="decode bound"):
        decode_bmp(os2_file(20, 1 << 15, 1 << 10, 8, 1, [], b"\x00\x01"))
    with pytest.raises(ValueError, match="decode bound"):
        # header-only parse must also refuse: the metadata columns are
        # int32 and a bomb header poisons them even without pixels
        decode_bmp(
            os2_file(20, 1 << 15, 1 << 10, 8, 1, [], b"\x00\x01"), pixels=False
        )


def test_bmp_windows_rle_bomb_bound():
    """r13 review: the Windows INFOHEADER RLE leg shared the bomb hole —
    a POSITIVE 2^30-wide header with a 2-byte stream passed the signed
    parse and allocated attacker-chosen memory. Must ValueError."""
    import struct

    import pytest

    from mysense_spark.operators.multimodal import decode_bmp

    def win_rle(w, h):
        info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 1, 2, 0, 0, 1, 0)
        head = b"BM" + struct.pack("<IHHI", 60, 0, 0, 58)
        return head + info + bytes([9, 8, 7, 0]) + b"\x00\x01"

    with pytest.raises(ValueError, match="decode bound"):
        decode_bmp(win_rle(1 << 30, 2))
    # a sane RLE raster with a minimal stream still decodes (the spec's
    # implicit-zero fill: [0,1] end-of-bitmap alone is a solid image of
    # palette entry 0 — stored BGR (9,8,7) -> RGB (7,8,9))
    meta, arr = decode_bmp(win_rle(4, 2))
    assert meta["width"] == 4 and arr.shape == (2, 4, 3)
    assert arr[0, 0].tolist() == [7, 8, 9]


def test_bmp_embedded_png_and_jpeg():
    """r11: BI_PNG (5) / BI_JPEG (4) BMPs carry ONE complete stream as
    their pixel data; decode delegates to the repo's own real decoders
    and normalizes to the HxWx3 contract. Geometry must match the
    INFOHEADER's declaration (spec requirement — mismatch is
    corruption), truncation and garbage payloads reject, and the
    header-only tier never inflates the stream."""
    import struct

    import numpy as np
    import pytest

    from mysense_spark.operators.codecs import write_png
    from mysense_spark.operators.multimodal import decode_bmp

    rgb = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    png = write_png(rgb)
    meta, arr = decode_bmp(_mk_bmp(3, 2, 0, png, compression=5))
    assert (meta["width"], meta["height"], meta["channels"]) == (3, 2, 3)
    assert arr.tolist() == rgb.tolist()
    # negative (top-down) declared height compares by magnitude
    meta2, arr2 = decode_bmp(_mk_bmp(3, -2, 0, png, compression=5))
    assert arr2.tolist() == rgb.tolist()
    # grayscale and RGBA streams normalize to 3 channels
    _, ag = decode_bmp(_mk_bmp(3, 2, 0, write_png(rgb[:, :, 0]), compression=5))
    assert ag.tolist() == np.repeat(rgb[:, :, :1], 3, axis=2).tolist()
    rgba = np.concatenate([rgb, np.full((2, 3, 1), 9, np.uint8)], axis=2)
    _, aa = decode_bmp(_mk_bmp(3, 2, 0, write_png(rgba), compression=5))
    assert aa.tolist() == rgb.tolist()
    # header tier: geometry without decoding the raster
    mh, ah = decode_bmp(_mk_bmp(3, 2, 0, png, compression=5), pixels=False)
    assert ah is None and (mh["width"], mh["height"]) == (3, 2)
    # declared geometry must match the embedded stream's
    with pytest.raises(ValueError, match="does not match"):
        decode_bmp(_mk_bmp(4, 2, 0, png, compression=5))
    # a truncated stream is caught by the inner decoder
    with pytest.raises(ValueError):
        decode_bmp(_mk_bmp(3, 2, 0, png[: len(png) - 8], compression=5))
    # biSizeImage overrunning the file rejects before delegation
    over = bytearray(_mk_bmp(3, 2, 0, png, compression=5))
    struct.pack_into("<I", over, 34, len(png) + 99)
    with pytest.raises(ValueError, match="truncated embedded"):
        decode_bmp(bytes(over))
    # BI_JPEG with a non-JPEG body rejects in the inner decoder
    with pytest.raises(ValueError, match="not a JPEG|JPEG"):
        decode_bmp(_mk_bmp(3, 2, 0, png, compression=4))


def test_jpeg_multiscan_dqt_redefinition_latches_first_scan_table():
    """r11 advice fix: a DQT that REDEFINES a table after a scan was
    coded against the earlier definition must not silently dequantize
    that scan's coefficients with the later values (libjpeg latches
    each component's table at its first scan). The sequential
    multiscan fixture (Y diff 576 over unit quant -> gray 200) gains a
    DQT rewriting table 0 to all-2s between its two scans: components
    1+2 keep the unit table (pixels stay 200; an end-of-stream lookup
    would read 255 after clipping), while component 3 — first scanned
    AFTER the redefinition — latches the new table (its zero DC is
    table-invariant). A scan whose table is only defined later in the
    stream now fails loudly at the scan."""
    import struct

    import pytest

    from mysense_spark.operators.codecs import decode_jpeg_pixels

    seg, dqt, dht, ac_code = _prog_fixture_parts()
    sof = seg(
        0xC0,
        struct.pack(">BHHB", 8, 16, 16, 3)
        + bytes([1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]),
    )

    def scan_units(n_blocks, ncomp, first_diff=0):
        pk = _BitPacker()
        for i in range(n_blocks):
            for j in range(ncomp):
                if i == 0 and j == 0 and first_diff:
                    pk.put(0b1010, 4).put(first_diff, 10)
                else:
                    pk.put(0, 4)
                pk.put(ac_code[0x00], 8)
        return pk.bytes()

    sos12 = seg(0xDA, bytes([2, 1, 0x00, 2, 0x00]) + bytes([0, 63, 0x00]))
    sos3 = seg(0xDA, bytes([1, 3, 0x00]) + bytes([0, 63, 0x00]))
    e12 = scan_units(4, 2, first_diff=576)
    e3 = scan_units(4, 1)
    dqt2 = seg(0xDB, bytes([0x00]) + bytes([2] * 64))
    jp = (
        b"\xff\xd8" + dqt + sof + dht + sos12 + e12
        + dqt2 + sos3 + e3 + b"\xff\xd9"
    )
    meta, rgb = decode_jpeg_pixels(jp)
    assert meta["channels"] == 3
    assert rgb.min() == rgb.max() == 200
    # the table must exist BEFORE the first scan that references it
    jp_late = (
        b"\xff\xd8" + sof + dht + sos12 + e12
        + dqt + sos3 + e3 + b"\xff\xd9"
    )
    with pytest.raises(ValueError, match="missing quant"):
        decode_jpeg_pixels(jp_late)


def test_write_bmp_round_trip_and_contract():
    """r11: write_bmp (24-bit, bottom-up, padded rows) round-trips
    through decode_bmp losslessly at awkward widths (1..5 exercise all
    four padding remainders), and the error contract matches write_png
    (no silent mod-256 truncation, shape policing)."""
    import numpy as np
    import pytest

    from mysense_spark.operators.multimodal import decode_bmp, write_bmp

    rng = np.random.RandomState(11)
    for w in (1, 2, 3, 4, 5):
        px = rng.randint(0, 256, size=(3, w, 3)).astype(np.uint8)
        meta, back = decode_bmp(write_bmp(px))
        assert (meta["width"], meta["height"]) == (w, 3)
        assert np.array_equal(back, px)
    with pytest.raises(ValueError, match="8-bit"):
        write_bmp(np.array([[[256, 0, 0]]], dtype=np.uint16))
    with pytest.raises(ValueError, match="HxWx3"):
        write_bmp(np.zeros((2, 2), dtype=np.uint8))
    # in-range non-uint8 input still encodes
    _, ok = decode_bmp(write_bmp(np.array([[[0, 128, 255]]], dtype=np.int32)))
    assert ok.tolist() == [[[0, 128, 255]]]


def test_media_codec_matrix_gate(spark, sf_dir):
    """The r11 graded codec-matrix query: partition-shape independence
    (mapInPandas must be stateless across Arrow batches), per-family
    format routing, the BMP leg's codec-free md5 cross-check
    (losslessness IS the oracle argument), and the G.711 legs verified
    against the companding tables via a direct decode of the same
    synthesized code bytes — plus the exactness pin of the SQL mirror's
    arithmetic G.711 expansion for ALL 256 codes of both laws."""
    import hashlib
    import math

    import numpy as np

    from mysense_spark.io import load
    from mysense_spark.operators.multimodal import (
        _g711_table,
        media_codec_matrix,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id")
    rows = {r["doc_id"]: r for r in media_codec_matrix(docs).collect()}
    rows2 = {
        r["doc_id"]: r
        for r in media_codec_matrix(docs.repartition(7)).collect()
    }
    assert rows == rows2
    fam_fmt = {0: "bmp", 1: "ulaw", 2: "alaw", 3: "msadpcm", 4: "ljpeg",
               5: "imaadpcm", 6: "jpeg_dc", 7: "pjpeg_dc"}
    for d, r in rows.items():
        if d % 8 == 0:
            # r12: fam 0 alternates header generations
            assert r["fmt"] == ("bmpcore" if (d // 8) % 2 == 1 else "bmp")
        else:
            assert r["fmt"] == fam_fmt[d % 8]
        if d % 8 == 0:
            want = sum(
                int(hashlib.md5(str(d * 512 + i).encode()).hexdigest()[:2], 16)
                for i in range(48)
            ) / 48
            assert r["mean_val"] == math.floor(want * 1e6 + 0.5) / 1e6
        elif d % 8 == 4:
            want = sum(
                int(hashlib.md5(str(d * 512 + 320 + i).encode()).hexdigest()[:4], 16)
                for i in range(20)
            ) / 20
            assert r["mean_val"] == math.floor(want * 1e6 + 0.5) / 1e6
        elif d % 8 in (6, 7):
            # r12 DC-only lossy legs: the mean IS the md5 synthesis
            # (flat blocks decode exactly), width/height pin the real
            # decode ran
            off = 448 if d % 8 == 6 else 452
            want = sum(
                int(hashlib.md5(str(d * 512 + off + k).encode()).hexdigest()[:2], 16)
                for k in range(4)
            ) / 4
            assert r["mean_val"] == math.floor(want * 1e6 + 0.5) / 1e6
            assert (r["width"], r["height"]) == (16, 16)
        else:
            assert r["rms"] is not None and 0 <= r["peak"] <= 1.0
    # G.711 legs against the tables, independently of decode_wav
    mu, al = _g711_table(True), _g711_table(False)
    for d, r in rows.items():
        if d % 8 == 1:
            codes = [
                int(hashlib.md5(str(d * 512 + 128 + j).encode()).hexdigest()[:2], 16)
                for j in range(32)
            ]
            x = mu[np.array(codes)] / 32768.0
        elif d % 8 == 2:
            codes = [
                int(hashlib.md5(str(d * 512 + 192 + j).encode()).hexdigest()[:2], 16)
                for j in range(32)
            ]
            x = al[np.array(codes)] / 32768.0
        else:
            continue
        assert r["peak"] == math.floor(float(np.max(np.abs(x))) * 1e6 + 0.5) / 1e6
    # the SQL mirror's arithmetic expansion is EXACT for every code
    import duckdb

    got = duckdb.sql(
        "SELECT CASE WHEN (u & 128) = 128 THEN 132 - t ELSE t - 132 END"
        " FROM (SELECT u, ((u & 15) * 8 + 132) * (1 << ((u >> 4) & 7)) AS t"
        " FROM (SELECT 255 - i AS u FROM range(256) r(i) ORDER BY i))"
    ).fetchall()
    assert [v for (v,) in got] == mu.tolist()
    got = duckdb.sql(
        "SELECT CASE WHEN (a & 128) = 128 THEN t ELSE -t END FROM ("
        " SELECT a, CASE WHEN ((a >> 4) & 7) = 0 THEN (a & 15) * 16 + 8"
        " WHEN ((a >> 4) & 7) = 1 THEN (a & 15) * 16 + 264"
        " ELSE ((a & 15) * 16 + 264) * (1 << (((a >> 4) & 7) - 1)) END AS t"
        " FROM (SELECT xor(i, 85) AS a FROM range(256) r(i) ORDER BY i))"
    ).fetchall()
    assert [v for (v,) in got] == al.tolist()


def test_ann_ivf_refined_two_stage_invariants(spark, sf_dir):
    """r11 two-stage IVF (wide SQ probe -> exact re-rank through the
    knn_rerank fence): (a) with the probe opened to ALL cells and the
    pool bigger than the corpus, the refined result equals brute-force
    exact top-5 — the refine stage is genuinely exact, losing nothing
    the pool kept; (b) the pooled union never exceeds pool x queries;
    (c) the MAX_RERANK_QUERIES fence is intact underneath (the refined
    path calls through it, not around it)."""
    from pyspark.sql import functions as F

    from mysense_spark.operators.similarity import (
        _N_CENTROIDS,
        _fixture_centroids,
        _N_QUERIES,
        _vectors,
        ann_ivf_refined,
        q_knn_bruteforce,
    )

    vecs = _vectors(spark, sf_dir)
    n = vecs.count()
    refined, pooled = ann_ivf_refined(
        vecs,
        nprobe=_N_CENTROIDS,
        pool=n + 1,
        centroids=_fixture_centroids(vecs),
        return_pool=True,
    )
    got = [(r["query_id"], r["rank"], r["cand_id"]) for r in refined.collect()]
    exact = [
        (r["query_id"], r["rank"], r["cand_id"])
        for r in q_knn_bruteforce(spark, sf_dir).where(F.col("rank") <= 5).collect()
    ]
    assert got == exact
    # bounded pool
    small_pool = ann_ivf_refined(
        vecs, nprobe=2, pool=7, centroids=_fixture_centroids(vecs), return_pool=True
    )[1]
    assert small_pool.count() <= 7 * _N_QUERIES
    # the fence underneath still raises on an oversized query side
    import pytest

    from mysense_spark.operators.similarity import MAX_RERANK_QUERIES, knn_rerank

    big_q = spark.range(MAX_RERANK_QUERIES + 1).select(
        F.col("id").alias("query_id"),
        F.array(F.lit(1.0)).alias("qv"),
        F.lit(1.0).alias("qnorm"),
    )
    c = vecs.select(
        F.col("vec_id").alias("cand_id"), F.col("v").alias("cv"), F.col("norm").alias("cnorm")
    )
    with pytest.raises(ValueError, match="re-rank tier"):
        knn_rerank(big_q, c)


def test_jpeg_lossless_round_trip_matrix():
    """r11 lossless JPEG (SOF3, T.81 process 14): write -> decode is
    the IDENTITY (not near-lossless like the DCT tiers) for every
    predictor 1-7, gray/multi-component, uint8/uint16, odd shapes, and
    restart intervals; point transform loses exactly the spec's own
    (x >> Pt) << Pt."""
    import numpy as np

    from mysense_spark.operators.codecs import (
        decode_jpeg_pixels,
        write_jpeg_lossless,
    )

    rng = np.random.default_rng(11)
    for pred in range(1, 8):
        for shape, dt in [
            ((7, 5), np.uint8),
            ((3, 9, 3), np.uint8),
            ((1, 6), np.uint8),
            ((4, 4), np.uint16),
            ((2, 3, 2), np.uint16),
        ]:
            hi = 256 if dt == np.uint8 else 65536
            a = rng.integers(0, hi, shape).astype(dt)
            for restart in (0, 3):
                blob = write_jpeg_lossless(a, predictor=pred, restart=restart)
                meta, back = decode_jpeg_pixels(blob)
                assert meta["process"] == "lossless"
                assert meta["bit_depth"] == (8 if dt == np.uint8 else 16)
                want = a[:, :, 0] if a.ndim == 3 and a.shape[2] == 1 else a
                assert np.array_equal(back, want), (pred, shape, dt, restart)
    a = rng.integers(0, 256, (6, 6)).astype(np.uint8)
    _, back = decode_jpeg_pixels(write_jpeg_lossless(a, predictor=4, point_transform=2))
    assert np.array_equal(back, (a >> 2) << 2)


def test_jpeg_lossless_hand_computed_vector():
    """Decoder semantics pinned independently of the repo's own encoder:
    a hand-built SOF3 stream (17-symbol all-5-bit DHT, predictor 1,
    Pt 0) whose four samples are walked by hand — (0,0) predicts the
    default 128 (diff -28, category 5, appended bits -28+31=3), the
    rest of line 0 predicts Ra, line 1 starts on Rb."""
    import struct

    import numpy as np

    from mysense_spark.operators.codecs import decode_jpeg_pixels

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    counts = [0, 0, 0, 0, 17] + [0] * 11
    dht = seg(0xC4, bytes([0x00]) + bytes(counts) + bytes(range(17)))
    sof = seg(0xC3, struct.pack(">BHHB", 8, 2, 2, 1) + bytes([1, 0x11, 0]))
    sos = seg(0xDA, bytes([1, 1, 0x00, 1, 0, 0x00]))
    pk = _BitPacker()
    pk.put(5, 5).put(3, 5)     # cat 5, extend(3,5) = -28  -> 128-28 = 100
    pk.put(2, 5).put(2, 2)     # cat 2, extend(2,2) = +2   -> Ra 100+2 = 102
    pk.put(2, 5).put(1, 2)     # cat 2, extend(1,2) = -2   -> Rb 100-2 = 98
    pk.put(1, 5).put(0, 1)     # cat 1, extend(0,1) = -1   -> Ra 98-1 = 97
    jp = b"\xff\xd8" + dht + sof + sos + pk.bytes() + b"\xff\xd9"
    meta, arr = decode_jpeg_pixels(jp)
    assert arr.tolist() == [[100, 102], [98, 97]]
    assert (meta["width"], meta["height"], meta["bit_depth"]) == (2, 2, 8)


def test_jpeg_lossless_adversarial_structures():
    """Malformed lossless streams reject with ValueError (predictor 0/8,
    nonzero Se/Ah, Pt >= precision, duplicate component coverage,
    missing table, truncated entropy, precision outside 2-16) and the
    honest gates stay loud (subsampled lossless, arithmetic SOF7)."""
    import struct

    import numpy as np
    import pytest

    from mysense_spark.operators.codecs import (
        decode_jpeg_pixels,
        write_jpeg_lossless,
    )

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    a = np.arange(16, dtype=np.uint8).reshape(4, 4)
    good = bytearray(write_jpeg_lossless(a))
    # locate the SOS parameter bytes: ...SOS body = [1, 1, 0x00, Ss, 0, AhAl]
    sos_at = bytes(good).find(b"\xff\xda")
    ss_at = sos_at + 7

    def with_params(ss=None, se=None, ahal=None):
        b = bytearray(good)
        if ss is not None:
            b[ss_at] = ss
        if se is not None:
            b[ss_at + 1] = se
        if ahal is not None:
            b[ss_at + 2] = ahal
        return bytes(b)

    with pytest.raises(ValueError, match="predictor selection"):
        decode_jpeg_pixels(with_params(ss=0))
    with pytest.raises(ValueError, match="predictor selection"):
        decode_jpeg_pixels(with_params(ss=8))
    with pytest.raises(ValueError, match="scan parameters"):
        decode_jpeg_pixels(with_params(se=5))
    with pytest.raises(ValueError, match="point transform"):
        decode_jpeg_pixels(with_params(ahal=8))  # Pt 8 >= precision 8
    # precision outside 2-16
    sof_at = bytes(good).find(b"\xff\xc3")
    bad_prec = bytearray(good)
    bad_prec[sof_at + 4] = 1
    with pytest.raises(ValueError, match="precision"):
        decode_jpeg_pixels(bytes(bad_prec))
    # truncated entropy
    with pytest.raises(ValueError, match="truncated|before the last"):
        decode_jpeg_pixels(bytes(good[:-4]) + b"\xff\xd9")
    # missing Huffman table: strip the DHT
    dht_at = bytes(good).find(b"\xff\xc4")
    (dht_len,) = struct.unpack_from(">H", good, dht_at + 2)
    no_dht = bytes(good[:dht_at]) + bytes(good[dht_at + 2 + dht_len :])
    with pytest.raises(ValueError, match="missing quant/Huffman"):
        decode_jpeg_pixels(no_dht)
    # duplicate coverage: append a second identical scan
    eoi_at = len(good) - 2
    dup = bytes(good[:eoi_at]) + bytes(good[sos_at:])
    with pytest.raises(ValueError, match="twice"):
        decode_jpeg_pixels(dup)
    # subsampled lossless stays gated
    counts = [0, 0, 0, 0, 17] + [0] * 11
    dht = seg(0xC4, bytes([0x00]) + bytes(counts) + bytes(range(17)))
    sof_sub = seg(0xC3, struct.pack(">BHHB", 8, 2, 2, 1) + bytes([1, 0x21, 0]))
    sos = seg(0xDA, bytes([1, 1, 0x00, 1, 0, 0x00]))
    with pytest.raises(NotImplementedError, match="subsampled lossless"):
        decode_jpeg_pixels(b"\xff\xd8" + dht + sof_sub + sos + b"\x00" * 4 + b"\xff\xd9")
    # arithmetic lossless (SOF11 = 0xCB) stays gated
    sof_ar = seg(0xCB, struct.pack(">BHHB", 8, 2, 2, 1) + bytes([1, 0x11, 0]))
    with pytest.raises(NotImplementedError):
        decode_jpeg_pixels(b"\xff\xd8" + dht + sof_ar + sos + b"\x00" * 4 + b"\xff\xd9")
    # geometry ceiling before allocation
    sof_big = seg(0xC3, struct.pack(">BHHB", 8, 65000, 65000, 1) + bytes([1, 0x11, 0]))
    with pytest.raises(ValueError, match="ceiling|cannot cover"):
        decode_jpeg_pixels(b"\xff\xd8" + dht + sof_big + sos + b"\x00" * 64 + b"\xff\xd9")


def test_r11_review_regressions():
    """Post-review r11: (a) a lossless SOF3 frame declaring the same
    component id twice rejects with ValueError at the frame header
    (the shadowed comp would otherwise surface as a KeyError after a
    successful-looking scan walk); (b) a BI_JPEG BMP embedding a
    lossless stream with >4 components rejects instead of returning a
    5-channel array under the HxWx3 contract; (c) the XLSX quarantine
    normalizes UnicodeDecodeError with the standard malformed-file
    message (it subclasses ValueError, so ordering matters)."""
    import struct

    import numpy as np
    import pytest

    from mysense_spark.operators.codecs import (
        decode_jpeg_pixels,
        write_jpeg_lossless,
    )
    from mysense_spark.operators.multimodal import decode_bmp

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    counts = [0, 0, 0, 0, 17] + [0] * 11
    dht = seg(0xC4, bytes([0x00]) + bytes(counts) + bytes(range(17)))
    sof_dup = seg(
        0xC3,
        struct.pack(">BHHB", 8, 2, 2, 2) + bytes([1, 0x11, 0, 1, 0x11, 0]),
    )
    sos = seg(0xDA, bytes([1, 1, 0x00, 1, 0, 0x00]))
    with pytest.raises(ValueError, match="component id twice"):
        decode_jpeg_pixels(
            b"\xff\xd8" + dht + sof_dup + sos + b"\x00" * 8 + b"\xff\xd9"
        )

    five = write_jpeg_lossless(
        np.zeros((2, 3, 5), dtype=np.uint8), predictor=1
    )
    with pytest.raises(ValueError, match="channels"):
        decode_bmp(_mk_bmp(3, 2, 0, five, compression=4))

    import os
    import tempfile
    import zipfile

    from mysense_spark.sources.xlsx import read_xlsx

    # the quarantine wrapper normalizes zip-layer errors with the
    # standard message + exception name and chains the cause
    path = os.path.join(tempfile.mkdtemp(), "u.xlsx")
    with open(path, "wb") as fh:
        fh.write(b"not a zip at all")
    with pytest.raises(ValueError, match=r"malformed XLSX \(BadZipFile"):
        read_xlsx(path)
    # broken XML inside a valid zip normalizes the same way
    path2 = os.path.join(os.path.dirname(path), "u2.xlsx")
    with zipfile.ZipFile(path2, "w") as z:
        z.writestr("xl/worksheets/sheet1.xml", b"<worksheet")  # unterminated
    with pytest.raises(ValueError, match=r"malformed XLSX \(ParseError"):
        read_xlsx(path2)


def test_dsir_weights_semantics(spark, sf_dir):
    """r11 DSIR importance weights: (a) results are identical under any
    input partitioning (exact_sum accumulation); (b) the weights DO
    what importance resampling promises — the lang='en' target slice
    averages a strictly higher log weight than the rest of the corpus;
    (c) a doc with fewer than two words carries weight 0 and every doc
    appears exactly once."""
    from pyspark.sql import functions as F

    from mysense_spark.io import load
    from mysense_spark.operators.text import q_dsir_weights

    out = q_dsir_weights(spark, sf_dir).collect()
    docs = load(spark, sf_dir, "documents")
    assert len(out) == docs.count()
    # partitioning invariance: the same computation over a reshuffled
    # session default must be row-identical (exact_sum accumulation)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        out2 = q_dsir_weights(spark, sf_dir).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert [tuple(r) for r in out] == [tuple(r) for r in out2]
    langs = {r["doc_id"]: r["lang"] for r in docs.select("doc_id", "lang").collect()}
    en = [r["log_weight"] for r in out if langs[r["doc_id"]] == "en"]
    rest = [r["log_weight"] for r in out if langs[r["doc_id"]] != "en"]
    assert en and rest
    assert sum(en) / len(en) > sum(rest) / len(rest)
    for r in out:
        if r["n_bigrams"] == 0:
            assert r["log_weight"] == 0.0


def test_ann_pq_invariants(spark, sf_dir):
    """r11 product quantization: every vector gets exactly _PQ_M codes
    with code_id inside the codebook range; results are identical under
    any input partitioning (integer-grid arithmetic end to end); ADC
    distances are non-negative and the self-match is excluded."""
    from pyspark.sql import functions as F

    from mysense_spark.operators.similarity import (
        _PQ_KS,
        _PQ_M,
        _pq_parts,
        _vectors,
        ann_pq_search,
    )

    vecs = _vectors(spark, sf_dir)
    n = vecs.count()
    cents, codes = _pq_parts(vecs)
    assert codes.count() == n  # one _PQ_M-long codes array per vector
    rng = codes.select(
        F.size("codes").alias("m"),
        F.array_min("codes").alias("lo"),
        F.array_max("codes").alias("hi"),
    ).agg(
        F.min("m").alias("m_lo"), F.max("m").alias("m_hi"),
        F.min("lo").alias("lo"), F.max("hi").alias("hi"),
    ).collect()[0]
    assert rng["m_lo"] == rng["m_hi"] == _PQ_M
    assert 0 <= rng["lo"] and rng["hi"] < _PQ_KS
    out = [tuple(r) for r in ann_pq_search(vecs).collect()]
    out2 = [tuple(r) for r in ann_pq_search(vecs.repartition(7)).collect()]
    assert out == out2
    for query_id, _rank, cand_id, adc in out:
        assert adc >= 0 and cand_id != query_id


def test_pq_encode_matches_hof_argmin(spark, sf_dir):
    """r12: the numpy block encode (_pq_encode) replaced the r11
    interpreted-HOF per-subspace argmin for a measured ~10x at sf1.0 —
    but it must stay BIT-IDENTICAL: same 1e-6 integer grid, same
    (dist, code_id) tie-break. Pinned by running BOTH forms against the
    same seed codebook and comparing every vector's codes."""
    from pyspark.sql import functions as F

    from mysense_spark.operators.similarity import (
        _CENTROID_BASE,
        _PQ_KS,
        _PQ_M,
        _pq_cball,
        _pq_encode,
        _pq_subs_expr,
        _QV_EXPR,
        _vectors,
    )

    subd = 64 // _PQ_M
    vecs = _vectors(spark, sf_dir)
    qvecs = vecs.select("vec_id", F.expr(_QV_EXPR).alias("qv"))
    seeds_long = (
        qvecs.where(
            (F.col("vec_id") >= _CENTROID_BASE)
            & (F.col("vec_id") < _CENTROID_BASE + _PQ_KS)
        )
        .select(
            (F.col("vec_id") - _CENTROID_BASE).alias("code_id"),
            F.posexplode("qv").alias("d", "cq"),
        )
        .withColumn("sub_id", F.expr(f"d DIV {subd}"))
        .select("sub_id", "code_id", "d", "cq")
    )
    # the r11 HOF form, verbatim
    hof = (
        qvecs.crossJoin(F.broadcast(_pq_cball(seeds_long, subd)))
        .select(
            "vec_id",
            F.expr(
                f"zip_with({_pq_subs_expr(subd)}, _cb,"
                f" (sv, cands) -> array_min(transform(cands, c -> struct("
                f"aggregate(zip_with(sv, c.q, (x, y) -> (x - y) * (x - y)),"
                f" CAST(0 AS BIGINT), (a, x) -> a + x) AS dist, c.i AS i))).i)"
            ).alias("codes"),
        )
    )
    want = {r["vec_id"]: list(r["codes"]) for r in hof.collect()}
    got = {
        r["vec_id"]: list(r["codes"])
        for r in _pq_encode(qvecs, seeds_long, subd).collect()
    }
    assert got == want


def test_ann_ivfadc_invariants(spark, sf_dir):
    """r12 IVFADC (coarse routing + cell-pruned ADC + fenced exact
    re-rank): (a) with the probe opened to ALL cells and the shortlist
    wider than the corpus, the result equals brute-force exact top-5 —
    the ADC stage loses nothing the shortlist keeps, and the re-rank is
    genuinely exact; (b) the pooled union never exceeds
    shortlist x queries; (c) results are identical under any input
    partitioning (integer-grid ADC, rounded-cosine re-rank)."""
    from pyspark.sql import functions as F

    from mysense_spark.operators.similarity import (
        _fixture_centroids,
        _N_CENTROIDS,
        _N_QUERIES,
        _vectors,
        ann_ivfadc_search,
        q_knn_bruteforce,
    )

    vecs = _vectors(spark, sf_dir)
    fix = _fixture_centroids(vecs)
    n = vecs.count()
    wide = ann_ivfadc_search(vecs, nprobe=_N_CENTROIDS, shortlist=n + 1, centroids=fix)
    got = [(r["query_id"], r["rank"], r["cand_id"]) for r in wide.collect()]
    exact = [
        (r["query_id"], r["rank"], r["cand_id"])
        for r in q_knn_bruteforce(spark, sf_dir).where(F.col("rank") <= 5).collect()
    ]
    assert got == exact
    pooled = ann_ivfadc_search(vecs, shortlist=7, centroids=fix, return_pool=True)[1]
    assert pooled.count() <= 7 * _N_QUERIES
    out = [tuple(r) for r in ann_ivfadc_search(vecs, centroids=fix).collect()]
    out2 = [
        tuple(r)
        for r in ann_ivfadc_search(
            vecs.repartition(7), centroids=_fixture_centroids(vecs.repartition(7))
        ).collect()
    ]
    assert out == out2


def test_media_structure_partition_independence(spark, sf_dir):
    """media_structure (late r12): per-row synthesis + parse, so any
    input partitioning yields identical rows; the fam-2 MP4 family
    must classify audio-only containers (one soun track, no vide) as
    audio with zero geometry — the .m4a policy media_properties
    implements — and video containers by their largest vide track."""
    from mysense_spark.io import load
    from mysense_spark.operators.multimodal import media_structure

    docs = load(spark, sf_dir, "documents").select("doc_id").limit(64)
    a = [tuple(r) for r in media_structure(docs).collect()]
    b = [tuple(r) for r in media_structure(docs.repartition(7)).collect()]
    assert a == b
    mp4 = [r for r in a if r[0] % 4 == 2]
    assert mp4
    for r in mp4:
        d, modality, _, width, height, _, dur = r
        if (d // 4) % 2 == 1:
            assert modality == "audio" and width == 0 and height == 0
        else:
            assert modality == "video" and width % 16 == 0 and width >= 16
        assert dur is not None and dur >= 1.0


def test_ann_ivfpq_invariants(spark, sf_dir):
    """By-residual IVFPQ (late r12): (a) with the probe opened to ALL
    cells and the shortlist wider than the corpus the result equals
    brute-force exact top-5 (the residual encode loses nothing the
    shortlist keeps; the re-rank is genuinely exact); (b) the pooled
    union never exceeds shortlist x queries; (c) results identical
    under any input partitioning (integer-grid residuals end to end);
    (d) the explicit-centroids fence refuses None; (e) the reason the
    variant exists, pinned: on a CLUSTERED corpus whose coarse
    quantizer is tight, residual codes beat raw-vector codes at the
    same bytes and shortlist (faiss's by_residual=True default), while
    SCALING.md documents the near-orthogonal case where they lose."""
    import numpy as np
    from pyspark.sql import functions as F

    from mysense_spark.operators.similarity import (
        _fixture_centroids,
        _N_CENTROIDS,
        _N_QUERIES,
        _vectors,
        ann_ivfadc_search,
        ann_ivfpq_search,
        q_knn_bruteforce,
    )

    vecs = _vectors(spark, sf_dir)
    fix = _fixture_centroids(vecs)
    n = vecs.count()
    wide = ann_ivfpq_search(vecs, nprobe=_N_CENTROIDS, shortlist=n + 1, centroids=fix)
    got = [(r["query_id"], r["rank"], r["cand_id"]) for r in wide.collect()]
    exact = [
        (r["query_id"], r["rank"], r["cand_id"])
        for r in q_knn_bruteforce(spark, sf_dir).where(F.col("rank") <= 5).collect()
    ]
    assert got == exact
    pooled = ann_ivfpq_search(vecs, shortlist=7, centroids=fix, return_pool=True)[1]
    assert pooled.count() <= 7 * _N_QUERIES
    out = [tuple(r) for r in ann_ivfpq_search(vecs, centroids=fix).collect()]
    out2 = [
        tuple(r)
        for r in ann_ivfpq_search(
            vecs.repartition(7), centroids=_fixture_centroids(vecs.repartition(7))
        ).collect()
    ]
    assert out == out2
    # trained-directory residuals (centroids=None routes through the
    # two-level codebook; f1cell grids are the residual reference):
    # wide-open probe + unbounded shortlist must still reduce to exact
    n_cells = 10**9  # probe every trained cell
    tr = ann_ivfpq_search(vecs, nprobe=n_cells, shortlist=n + 1)
    got_tr = [(r["query_id"], r["rank"], r["cand_id"]) for r in tr.collect()]
    assert got_tr == exact

    # (e) clustered corpus with TRUE centers as the coarse directory
    rng = np.random.RandomState(7)
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    assign = rng.randint(0, 10, size=2000)
    pts = centers[assign] + 0.08 * rng.normal(size=(2000, 64))
    norm_expr = F.sqrt(
        F.aggregate(F.expr("transform(v, x -> x*x)"), F.lit(0.0), lambda a, x: a + x)
    )
    cvecs = spark.createDataFrame(
        [(i, int(assign[i]), [float(x) for x in pts[i]]) for i in range(2000)],
        "vec_id long, label int, v array<double>",
    ).withColumn("norm", norm_expr)
    ccents = spark.createDataFrame(
        [(100 + k, 0, [float(x) for x in centers[k]]) for k in range(10)],
        "vec_id long, label int, v array<double>",
    ).withColumn("norm", norm_expr)
    cexact = {
        (r["query_id"], r["cand_id"])
        for r in ann_ivfpq_search(
            cvecs, nprobe=10, shortlist=2001, centroids=ccents
        ).collect()
    }
    res = {
        (r["query_id"], r["cand_id"])
        for r in ann_ivfpq_search(cvecs, shortlist=24, centroids=ccents).collect()
    }
    raw = {
        (r["query_id"], r["cand_id"])
        for r in ann_ivfadc_search(cvecs, shortlist=24, centroids=ccents).collect()
    }
    r_res = len(cexact & res) / len(cexact)
    r_raw = len(cexact & raw) / len(cexact)
    assert r_res == 1.0 and r_raw < r_res  # measured: 1.00 vs 0.76


def test_ann_srp_invariants(spark, sf_dir):
    """SRP-LSH (late r12): (a) with n_bits=0 every vector lands in
    bucket 0 of every table, so the pool is the whole corpus and the
    result equals brute-force exact top-5 — the signature/join plumbing
    loses nothing the bucketing doesn't explicitly prune, and the
    re-rank is genuinely exact; (b) the multi-probe pool is a superset
    of the exact-bucket pool; (c) results are identical under any input
    partitioning (integer signatures, rounded-cosine re-rank); (d) the
    probe-radius fence refuses radius > 2; (e) on a CLUSTERED corpus —
    the regime data-independent LSH exists for — the exact-bucket shape
    already reaches recall 1.0 while pooling well under half the
    corpus."""
    import numpy as np
    from pyspark.sql import functions as F

    from mysense_spark.operators.similarity import (
        _vectors,
        ann_srp_search,
        q_knn_bruteforce,
    )

    vecs = _vectors(spark, sf_dir)
    allpool = ann_srp_search(vecs, n_bits=0, n_probes=0)
    got = [(r["query_id"], r["rank"], r["cand_id"]) for r in allpool.collect()]
    exact = [
        (r["query_id"], r["rank"], r["cand_id"])
        for r in q_knn_bruteforce(spark, sf_dir).where(F.col("rank") <= 5).collect()
    ]
    assert got == exact
    pool0 = ann_srp_search(vecs, n_bits=8, n_probes=0, return_pool=True)[1]
    pool1 = ann_srp_search(vecs, n_bits=8, n_probes=1, return_pool=True)[1]
    ids0 = {r["cand_id"] for r in pool0.collect()}
    ids1 = {r["cand_id"] for r in pool1.collect()}
    assert ids0 <= ids1
    out = [tuple(r) for r in ann_srp_search(vecs).collect()]
    out2 = [tuple(r) for r in ann_srp_search(vecs.repartition(7)).collect()]
    assert out == out2
    with pytest.raises(ValueError, match="multi-probe radius"):
        ann_srp_search(vecs, n_probes=3).collect()
    with pytest.raises(ValueError, match="multi-probe radius"):
        # review catch: a negative radius silently became radius 1
        ann_srp_search(vecs, n_probes=-1).collect()

    rng = np.random.RandomState(7)
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    assign = rng.randint(0, 10, size=500)
    pts = centers[assign] + 0.05 * rng.normal(size=(500, 64))
    rows = [(i, int(assign[i]), [float(x) for x in pts[i]]) for i in range(500)]
    cdf = spark.createDataFrame(rows, "vec_id long, label int, v array<double>")
    cvecs = cdf.withColumn(
        "norm",
        F.sqrt(F.aggregate(F.expr("transform(v, x -> x*x)"), F.lit(0.0), lambda a, x: a + x)),
    )
    cexact = {
        (r["query_id"], r["cand_id"])
        for r in ann_srp_search(cvecs, n_bits=0, n_probes=0).collect()
    }
    cout, cpool = ann_srp_search(cvecs, n_bits=8, n_probes=0, return_pool=True)
    cgot = {(r["query_id"], r["cand_id"]) for r in cout.collect()}
    assert cgot == cexact  # recall 1.0: buckets isolate the clusters
    assert cpool.count() < 250  # while pooling < half the corpus


def test_ann_srp_auto_shape(spark, sf_dir):
    """The r13 occupancy-scaled default: (a) srp_auto_bits holds
    occupancy ~64 — the decade-up anchors are the measured SCALING.md
    rows (200 k -> 12 bits, the hand-tuned 0.80-recall/0.62-pool shape;
    20 k -> 9 bits) with the [4, 30] clamp at the extremes; (b)
    srp_auto_probes holds the probed-bucket budget — radius 2 only once
    the bucket space affords it (measured: radius 2 at 9 bits pools
    0.98 of the 20 k corpus, undoing the bucketing); (c) calling
    ann_srp_search with NO shape equals calling it with the derived
    (bits, probes) — the default really routes through the auto shape;
    (d) the graded q_ann_srp output is pinned to the frozen fixture
    shape, NOT the auto shape (hashes must not move with corpus
    size)."""
    from pyspark.sql import functions as F

    from mysense_spark.operators.similarity import (
        _vectors,
        ann_srp_search,
        q_ann_srp,
        srp_auto_bits,
        srp_auto_probes,
    )

    assert srp_auto_bits(200_000) == 12
    assert srp_auto_bits(20_000) == 9
    assert srp_auto_bits(64) == 4 and srp_auto_bits(0) == 4
    assert srp_auto_bits(1 << 62) == 30
    assert srp_auto_bits(200_000, occupancy=32) == 13
    assert srp_auto_probes(12) == 2  # 79/4096 = 1.9% — the r12 200k shape
    assert srp_auto_probes(9) == 1   # radius 2 would probe 9%/table
    assert srp_auto_probes(8) == 1
    assert srp_auto_probes(4) == 0   # tiny spaces: every probe is a scan

    vecs = _vectors(spark, sf_dir)
    n = vecs.count()
    bits = srp_auto_bits(n)
    auto = [tuple(r) for r in ann_srp_search(vecs).collect()]
    explicit = [
        tuple(r)
        for r in ann_srp_search(
            vecs, n_bits=bits, n_probes=srp_auto_probes(bits)
        ).collect()
    ]
    assert auto == explicit
    graded = [tuple(r) for r in q_ann_srp(spark, sf_dir).collect()]
    pinned = [
        tuple(r) for r in ann_srp_search(vecs, n_bits=8, n_probes=1).collect()
    ]
    assert graded == pinned
    # r13 review: an EXPLICIT width with a default radius must derive
    # srp_auto_probes(width) too (the first cut silently kept radius 1
    # and collapsed the pool ~6x below the published 12-bit row)
    exp_bits = [tuple(r) for r in ann_srp_search(vecs, n_bits=8).collect()]
    exp_both = [
        tuple(r)
        for r in ann_srp_search(vecs, n_bits=8, n_probes=srp_auto_probes(8)).collect()
    ]
    assert exp_bits == exp_both


def test_ann_sq8_invariants(spark, sf_dir):
    """SQ8 scalar quantization (r15): (a) codes live in [0, 255] and
    hit both rails — the per-dimension corpus min encodes to 0 and the
    max to 255 (a quantizer that never reaches a rail is wasting
    levels); (b) a degenerate (constant) dimension encodes to 0 via the
    span guard instead of dividing by zero; (c) the search result is
    identical under any input partitioning (integer grid codes,
    rounded-cosine re-rank); (d) with the shortlist opened to the whole
    corpus the result EQUALS brute-force exact top-5 — the approximate
    scan only ever prunes, the tail is genuinely exact."""
    from pyspark.sql import functions as F

    from mysense_spark.operators.similarity import (
        _sq8_literals,
        _vectors,
        ann_sq8_search,
        q_knn_bruteforce,
        sq8_encode,
        sq8_params,
    )

    vecs = _vectors(spark, sf_dir)
    params = sq8_params(vecs).orderBy("d").collect()
    assert len(params) == 64
    mns, spans = _sq8_literals(params)
    codes = sq8_encode(vecs, mns, spans)
    rails = codes.select(
        F.min(F.expr("array_min(codes)")).alias("lo"),
        F.max(F.expr("array_max(codes)")).alias("hi"),
    ).collect()[0]
    assert rails["lo"] == 0 and rails["hi"] == 255

    # (b) constant dimension -> span 0 -> code 0, no div-by-zero
    cdf = spark.createDataFrame(
        [(i, [0.5] + [float(i + j) / 10.0 for j in range(63)]) for i in range(4)],
        "vec_id long, v array<double>",
    ).withColumn(
        "norm",
        F.sqrt(
            F.aggregate(F.expr("transform(v, x -> x*x)"), F.lit(0.0), lambda a, x: a + x)
        ),
    )
    cparams = sq8_params(cdf).orderBy("d").collect()
    assert cparams[0]["span"] == 0
    cmns, cspans = _sq8_literals(cparams)
    first_codes = [
        r["c0"]
        for r in sq8_encode(cdf, cmns, cspans).select(F.expr("codes[0]").alias("c0")).collect()
    ]
    assert set(first_codes) == {0}

    # (c) partitioning invariance
    out = [tuple(r) for r in ann_sq8_search(vecs).collect()]
    out2 = [tuple(r) for r in ann_sq8_search(vecs.repartition(7)).collect()]
    assert out == out2

    # (d) full-width shortlist degrades to exact brute force top-5
    wide = [
        (r["query_id"], r["rank"], r["cand_id"])
        for r in ann_sq8_search(vecs, shortlist=10**9).collect()
    ]
    exact = [
        (r["query_id"], r["rank"], r["cand_id"])
        for r in q_knn_bruteforce(spark, sf_dir).where(F.col("rank") <= 5).collect()
    ]
    assert wide == exact


def test_ann_ivfsq_invariants(spark, sf_dir):
    """IVF-SQ8 (r15): (a) probing ALL cells with a full-width shortlist
    degrades to brute-force exact top-5 — the cell prune and the
    shortlist are the only approximations, the quantized ranking plus
    exact tail lose nothing else; (b) the graded shape (nprobe 2) is
    identical under any input partitioning; (c) every returned
    candidate entered through a probed cell — the re-rank pool is the
    UNION across queries (the family semantic _rerank_pool and the
    oracle tail share), so containment is against the union of all
    probed cells, re-derived from the routing directly."""
    from pyspark.sql import functions as F

    from mysense_spark.operators.similarity import (
        _N_CENTROIDS,
        _fixture_centroids,
        _route,
        _vectors,
        ann_ivfsq_search,
        q_knn_bruteforce,
    )

    vecs = _vectors(spark, sf_dir)
    cents = _fixture_centroids(vecs)
    allcells = [
        (r["query_id"], r["rank"], r["cand_id"])
        for r in ann_ivfsq_search(
            vecs, nprobe=_N_CENTROIDS, shortlist=10**9, centroids=cents
        ).collect()
    ]
    exact = [
        (r["query_id"], r["rank"], r["cand_id"])
        for r in q_knn_bruteforce(spark, sf_dir).where(F.col("rank") <= 5).collect()
    ]
    assert allcells == exact

    out = [tuple(r) for r in ann_ivfsq_search(vecs, centroids=cents).collect()]
    out2 = [
        tuple(r)
        for r in ann_ivfsq_search(vecs.repartition(7), centroids=cents).collect()
    ]
    assert out == out2

    membership, probes = _route(vecs, 2, cents, None)
    cell_of = {r["vec_id"]: r["cent_id"] for r in membership.select("vec_id", "cent_id").collect()}
    probed_union = {r["cent_id"] for r in probes.select("cent_id").collect()}
    for _qid, _rank, cand, _cos in out:
        assert cell_of[cand] in probed_union, cand


def test_dsir_resample_semantics(spark, sf_dir):
    """r12 DSIR end-to-end: the resampled subset (Gumbel top-k over the
    importance weights) must (a) hold exactly _DSIR_K rows ranked 1..k
    with strictly deterministic keys (identical under repartitioned
    shuffles); (b) actually SHIFT the mix toward the lang='en' target —
    the en share among selected docs exceeds the corpus en share (the
    paper's whole point); (c) agree with a local recomputation of the
    Gumbel keys from the weights (the selection is the top-k of
    log_weight + hash-Gumbel, nothing else)."""
    import hashlib
    import math

    from mysense_spark.io import load
    from mysense_spark.operators.text import _DSIR_K, q_dsir_resample, q_dsir_weights

    out = q_dsir_resample(spark, sf_dir).collect()
    assert [r["rank"] for r in out] == list(range(1, _DSIR_K + 1))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        out2 = q_dsir_resample(spark, sf_dir).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert [tuple(r) for r in out] == [tuple(r) for r in out2]
    docs = load(spark, sf_dir, "documents")
    langs = {r["doc_id"]: r["lang"] for r in docs.select("doc_id", "lang").collect()}
    corpus_en = sum(1 for v in langs.values() if v == "en") / len(langs)
    sel_en = sum(1 for r in out if langs[r["doc_id"]] == "en") / len(out)
    assert sel_en > corpus_en
    # local recomputation of the winning keys from the weights
    weights = {r["doc_id"]: r["log_weight"] for r in q_dsir_weights(spark, sf_dir).collect()}

    def key(doc_id: int) -> float:
        u32 = int(hashlib.md5(f"dsir{doc_id}".encode()).hexdigest()[:8], 16)
        u = (u32 * 2 + 1) / 8589934592.0
        raw = weights[doc_id] + -math.log(-math.log(u))
        return math.floor(raw * 1e6 + 0.5) / 1e6
    want = sorted(weights, key=lambda d: (-key(d), d))[:_DSIR_K]
    assert [r["doc_id"] for r in out] == want
    for r in out:
        assert abs(r["sample_key"] - key(r["doc_id"])) < 1e-9


def test_jpeg_progressive_encoder_roundtrip_and_bitstream():
    """r12 write_jpeg_progressive (the media_codec_matrix fam-7 leg):
    (a) FLAT 8x8 blocks round-trip EXACTLY through the progressive
    decoder for every one of the 256 gray values (DC-only blocks
    survive DCT + unit quantization bit-for-bit — the property the
    driver-gate mirror relies on); (b) arbitrary images bound the
    round-trip error at 1 level (unit-quant DCT float rounding), same
    as the baseline encoder; (c) the decoder takes the PROGRESSIVE
    path (SOF2, two scans); (d) a hand-computed entropy bitstream pin,
    independent of the decoder: a flat v=128 8x8 block has DC diff 0
    (category 0 -> canonical code 0000, 1-padded to 0x0F) and an
    all-zero AC block (EOBRUN symbol 0x00 -> canonical 8-bit code 0):
    the two entropy sections are exactly b'\\x0f' and b'\\x00';
    (e) non-grayscale input rejects with ValueError."""
    import numpy as np
    import pytest

    from mysense_spark.operators.codecs import (
        decode_jpeg_pixels,
        parse_jpeg_header,
        write_jpeg_progressive,
    )

    for v in range(256):
        px = np.full((8, 8), v, dtype=np.uint8)
        meta, back = decode_jpeg_pixels(write_jpeg_progressive(px))
        assert np.array_equal(back, px), v
    rng = np.random.default_rng(12)
    for shape in ((8, 8), (24, 17), (5, 13), (16, 16)):
        a = rng.integers(0, 256, shape).astype(np.uint8)
        meta, b = decode_jpeg_pixels(write_jpeg_progressive(a))
        assert int(np.abs(b.astype(int) - a.astype(int)).max()) <= 1
        assert (meta["width"], meta["height"]) == (shape[1], shape[0])
    assert parse_jpeg_header(write_jpeg_progressive(a))["progressive"] is True
    # (d) hand-computed bitstream: locate the two SOS payloads
    enc = write_jpeg_progressive(np.full((8, 8), 128, dtype=np.uint8))
    segs = []
    i = enc.find(b"\xff\xda")
    while i != -1:
        ln = int.from_bytes(enc[i + 2 : i + 4], "big")
        start = i + 2 + ln
        nxt = enc.find(b"\xff\xda", start)
        stop = nxt if nxt != -1 else enc.index(b"\xff\xd9", start)
        segs.append(enc[start:stop])
        i = nxt
    assert segs == [b"\x0f", b"\x00"]
    with pytest.raises(ValueError):
        write_jpeg_progressive(np.zeros((4, 4, 3), dtype=np.uint8))


def test_c4_filter_semantics(spark, tmp_path):
    """r12 C4 heuristics on a PLANTED document set with hand-computed
    expectations: line retention (terminal punctuation + >=3 words +
    no 'javascript'), the >=5-sentence page rule on RETAINED text, and
    the lorem-ipsum / curly-brace page drops."""
    from mysense_spark.operators.text import q_c4_filter

    good = "\n".join(
        [
            "This is a fine sentence.",          # kept
            "Another good line here!",           # kept
            "Is this a question line?",          # kept
            'He said "quoted line end."',        # kept (ends .)
            "short.",                            # dropped: <3 words
            "no terminal punctuation here",      # dropped
            "enable javascript to view this.",   # dropped: javascript
            "Two more sentences. And another!",  # kept: 2 terminals
        ]
    )
    crlf = "\r\n".join(f"Good line number {i} here." for i in range(5)) + "\r"
    dots = "\n".join(
        ["Dots and more dots here...", "Dots again galore here...",
         "More dots yet again...", "Waiting for it now..."]
    )
    quoted = "\n".join(
        ["First fine sentence here.", "Second fine sentence here.",
         "Third fine sentence here.", "Fourth fine sentence here.",
         'He said "stop right now"']
    )
    docs = [
        (0, good),                               # 6 sentences -> keep
        (1, "One line only. Lorem Ipsum dolor."),  # lorem -> drop
        (2, "Braces are code { not prose. More words here. " * 3),  # { -> drop
        (3, "Too few sentences but fine words."),  # 1 sentence -> drop
        (4, crlf),     # CRLF corpus: \r must not defeat line retention
        (5, dots),     # ellipses count as RUNS: 4 sentences, not 12
        (6, quoted),   # bare-quote line floors at 1 sentence: 5 -> keep
        (7, None),     # NULL text: normalized to '' in both engines
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    path = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{path}/documents.parquet")
    # the other tables aren't read by this query; the loader reads by name
    rows = {r["doc_id"]: r for r in q_c4_filter(spark, path).collect()}
    assert rows[0]["n_lines"] == 8 and rows[0]["n_kept_lines"] == 5
    # sentences in kept lines: 1+1+1+1+2 = 6
    assert rows[0]["n_sentences"] == 6 and rows[0]["keep"] == 1
    assert rows[1]["has_lorem"] == 1 and rows[1]["keep"] == 0
    assert rows[2]["has_brace"] == 1 and rows[2]["keep"] == 0
    assert rows[3]["keep"] == 0 and rows[3]["has_lorem"] == 0
    assert rows[4]["n_kept_lines"] == 5 and rows[4]["keep"] == 1
    assert rows[5]["n_kept_lines"] == 4
    assert rows[5]["n_sentences"] == 4 and rows[5]["keep"] == 0
    assert rows[6]["n_kept_lines"] == 5
    assert rows[6]["n_sentences"] == 5 and rows[6]["keep"] == 1
    assert rows[7]["n_lines"] == 1 and rows[7]["n_kept_lines"] == 0
    assert rows[7]["n_sentences"] == 0 and rows[7]["keep"] == 0
    # and the DuckDB oracle agrees on the SAME planted set (incl. the
    # NULL-text and CRLF rows the fixture corpus does not contain) —
    # a direct connection registering just the documents view, since
    # run_oracle expects the full table set
    import duckdb

    from mysense_spark.operators.text import SQL_C4_FILTER
    from mysense_spark.oracle import compare_frames

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{path}/documents.parquet/*.parquet')"
    )
    spdf = q_c4_filter(spark, path).toPandas()
    assert compare_frames(spdf, con.execute(SQL_C4_FILTER).df()).ok


def test_hard_negatives_semantics(spark, sf_dir):
    """r12 hard-negative mining: every returned candidate carries a
    label DIFFERENT from its query's, ranks are contiguous by rounded
    cosine with the id tie-break, and the result equals the
    brute-force top-10 RESTRICTED to cross-label candidates (the
    mining is a filter on the exact tier, nothing else)."""
    from pyspark.sql import functions as F

    from mysense_spark.operators.similarity import (
        _HARDNEG_K,
        _N_QUERIES,
        _vectors,
        q_hard_negatives,
        q_knn_bruteforce,
    )

    out = q_hard_negatives(spark, sf_dir).collect()
    vecs = _vectors(spark, sf_dir)
    labels = {r["vec_id"]: r["label"] for r in vecs.select("vec_id", "label").collect()}
    for r in out:
        assert labels[r["cand_id"]] == r["cand_label"]
        assert r["cand_label"] != labels[r["query_id"]]
    for qid in range(_N_QUERIES):
        got = [(r["rank"], r["cand_id"]) for r in out if r["query_id"] == qid]
        assert [rk for rk, _ in got] == list(range(1, _HARDNEG_K + 1))
    # cross-check against a label-filtered exact ranking built from the
    # same rounded-cosine scores
    exact = [
        r
        for r in q_knn_bruteforce(spark, sf_dir).collect()
        if labels[r["cand_id"]] != labels[r["query_id"]]
    ]
    by_q = {}
    for r in sorted(exact, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r["cand_id"])
    for qid in range(_N_QUERIES):
        want = by_q.get(qid, [])[:_HARDNEG_K]
        got = [r["cand_id"] for r in out if r["query_id"] == qid]
        # the brute-force top-10 may hold fewer than K cross-label rows;
        # compare the overlapping prefix
        assert got[: len(want)] == want


def test_curation_pipeline_composes(spark, sf_dir):
    """End-to-end training-data curation (late r12 integration pin):
    quality verdicts (C4 + Gopher) -> near-dup keep-best -> deterministic
    hash split -> sequence packing of the train slice. The property
    under test is the COMPOSITION: every stage keys on doc_id with no
    schema coercion, every doc receives exactly one verdict from each
    filter (total coverage — the driver corpus is synthetic 30-word
    soup with no terminal punctuation, so BOTH published filters
    correctly keep zero docs; the composition therefore pins verdict
    totality rather than a keep-set), the dedup losers subtract
    cleanly, the split rule is the shared _bucket kernel every oracle
    mirrors, and the packing lineage covers every curated train doc
    with at least one chunk. Catches interface drift between graded
    queries that each pass their own oracle."""
    from pyspark.sql import functions as F

    from mysense_spark.io import load
    from mysense_spark.operators.sampling import _bucket, _TRAIN_PCT
    from mysense_spark.queries import spark_queries

    reg = spark_queries()
    docs = load(spark, sf_dir, "documents").select("doc_id")
    n_docs = docs.count()
    # keep flags are int 0/1 (cross-engine hash stability), not boolean
    c4 = reg["c4_filter"](spark, sf_dir).select("doc_id", F.col("keep").alias("c4"))
    gopher = reg["gopher_filter"](spark, sf_dir).select(
        "doc_id", F.col("keep").alias("gq")
    )
    # per-filter totality FIRST (review catch: inner-join count equality
    # alone cannot see a missed doc canceled by a duplicated one)
    for f in (c4, gopher):
        assert f.count() == n_docs
        assert f.select("doc_id").distinct().count() == n_docs
    verdicts = docs.join(c4, "doc_id").join(gopher, "doc_id")
    assert verdicts.count() == n_docs  # joins stay 1:1
    # NULL-safe flag-domain pin (NOT IN alone filters NULLs out under
    # three-valued logic and would pass a NULL-verdict regression)
    bad = verdicts.where(
        "c4 IS NULL OR gq IS NULL OR c4 NOT IN (0, 1) OR gq NOT IN (0, 1)"
    )
    assert bad.count() == 0
    losers = (
        reg["dedup_keep_best"](spark, sf_dir).where("keep = 0").select("doc_id")
    )
    n_losers = losers.count()
    curated = docs.join(losers, "doc_id", "left_anti")
    n_cur = curated.count()
    assert 0 < n_losers and n_cur == n_docs - n_losers  # dedup only removes

    train = curated.where(_bucket(F.col("doc_id")) < _TRAIN_PCT)
    n_train = train.count()
    assert 0 < n_train < n_cur  # split is a strict partition

    packing = reg["sequence_packing"](spark, sf_dir)
    packed = packing.join(train, "doc_id")
    per_doc = packed.groupBy("doc_id").agg(F.sum("n_chunks").alias("chunks"))
    # compositional form (review catch): packing drops token-free docs
    # by contract, so the coverage claim is over train docs that HAVE
    # tokens — not a fixture accident
    packable_train = train.join(packing.select("doc_id").distinct(), "doc_id")
    n_packable = packable_train.count()
    assert 0 < n_packable <= n_train
    assert per_doc.count() == n_packable  # every packable train doc packed
    assert per_doc.where(F.col("chunks") < 1).count() == 0

    # the split never leaks: re-deriving it for the packed docs yields
    # only train buckets (the doc's split is a pure function of doc_id)
    leaked = packed.where(_bucket(F.col("doc_id")) >= _TRAIN_PCT).count()
    assert leaked == 0


def test_bpe_train_classic_example(spark):
    """BPE merge training pinned on the paper's own worked example
    (Sennrich 2016 §3.2 uses low/lower/newest/widest with frequencies
    low:5 lower:2 newest:6 widest:3): (e,s) leads at 6+3=9, then (es,t)
    at 9 (beating the tied (t,</w>) on the lhs tie-break), then
    (est,</w>) at 9 — the exact cascade the paper's figure shows. Also
    pins the
    structural invariants the oracle hash cannot express: steps are
    1..K, merged == lhs||rhs, and the max pair count is non-increasing
    (any pair created by a merge inherits at most the count of the pair
    it absorbed)."""
    from mysense_spark.operators.text import _BPE_MERGES, bpe_train

    words = ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    doc = spark.createDataFrame([(0, " ".join(words))], "doc_id long, text string")
    rows = bpe_train(doc).collect()
    assert [r["step"] for r in rows] == list(range(1, _BPE_MERGES + 1))
    got = [(r["lhs"], r["rhs"], r["pair_count"]) for r in rows]
    assert got[0] == ("e", "s", 9)
    assert got[1] == ("es", "t", 9)
    assert got[2] == ("est", "</w>", 9)
    for r in rows:
        assert r["merged"] == r["lhs"] + r["rhs"]
    counts = [r["pair_count"] for r in rows]
    assert counts == sorted(counts, reverse=True)


def test_bpe_symbol_space_cross_engine(spark, tmp_path):
    """The BPE symbol-space pin (r13): words beyond printable ASCII are
    excluded from training AND encoding in BOTH engines — '(.)' iterates
    UTF-16 code units in Java regex but code points in RE2, so an
    astral-plane word (emoji) would otherwise split into different
    symbol sequences engine-by-engine and silently diverge the hashes.
    A poisoned corpus (emoji word, latin-1 word, a >48-char word, plus
    normal words) must still compare hash-exact between Spark and the
    DuckDB oracle, and the poisons must not appear in any merge."""
    import pandas as pd

    from mysense_spark.operators.text import (
        SQL_BPE_ENCODE,
        SQL_BPE_TRAIN,
        q_bpe_encode,
        q_bpe_train,
    )
    from mysense_spark.oracle import compare_frames, run_oracle

    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [
                "low low lower \U0001f600\U0001f600 café newest",
                "newest widest " + "x" * 60 + " low",
                "\U0001f600 widest newest  low",  # double space -> empty token
            ],
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet")
    # run_oracle validates every table view eagerly — satisfy the other
    # nine with symlinks to the smoke SF (the BPE oracles only read
    # documents)
    import os

    from tests.conftest import SF_SMOKE

    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "embeddings"):
        os.symlink(f"{SF_SMOKE}/{t}.parquet", tmp_path / f"{t}.parquet")
    sf = str(tmp_path)
    for fn, sql in ((q_bpe_train, SQL_BPE_TRAIN), (q_bpe_encode, SQL_BPE_ENCODE)):
        pdf = fn(spark, sf).toPandas()
        res = compare_frames(pdf, run_oracle(sql, sf))
        assert res.ok, res
    merges = q_bpe_train(spark, sf).collect()
    for r in merges:
        assert "\U0001f600" not in r["merged"] and "é" not in r["merged"]
    enc = {r["doc_id"]: r for r in q_bpe_encode(spark, sf).collect()}
    # doc 0: emoji x2 and café excluded -> 4 counted words
    assert enc[0]["n_words"] == 4
    # doc 1: the 60-char word excluded -> 3 counted words
    assert enc[1]["n_words"] == 3
    # doc 2: emoji and the empty token excluded -> 3 counted words
    assert enc[2]["n_words"] == 3


def test_bpe_merge_exhaustion_cross_engine(spark, tmp_path):
    """Degenerate corpus pin: when the corpus runs out of mergeable
    pairs before _BPE_MERGES rounds (every word collapsed to a single
    symbol), BOTH engines must emit the same SHORT merge table — the
    empty-argmax round makes the symbol table an empty cross join, and
    every later round stays empty identically. Corpus {a x3, b x1}:
    merge 1 = (a, </w>) cnt 3, merge 2 = (b, </w>) cnt 1, rounds 3..8
    empty. bpe_encode must still account every doc (each word is ONE
    token: 'a</w>' / 'b</w>')."""
    import os

    import pandas as pd

    from mysense_spark.operators.text import (
        SQL_BPE_ENCODE,
        SQL_BPE_TRAIN,
        q_bpe_encode,
        q_bpe_train,
    )
    from mysense_spark.oracle import compare_frames, run_oracle
    from tests.conftest import SF_SMOKE

    pd.DataFrame({"doc_id": [0, 1], "text": ["a a b", "a"]}).to_parquet(
        tmp_path / "documents.parquet"
    )
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "embeddings"):
        os.symlink(f"{SF_SMOKE}/{t}.parquet", tmp_path / f"{t}.parquet")
    sf = str(tmp_path)
    rows = q_bpe_train(spark, sf).collect()
    assert [(r["step"], r["lhs"], r["rhs"], r["pair_count"]) for r in rows] == [
        (1, "a", "</w>", 3),
        (2, "b", "</w>", 1),
    ]
    for fn, sql in ((q_bpe_train, SQL_BPE_TRAIN), (q_bpe_encode, SQL_BPE_ENCODE)):
        res = compare_frames(fn(spark, sf).toPandas(), run_oracle(sql, sf))
        assert res.ok, res
    enc = {r["doc_id"]: r for r in q_bpe_encode(spark, sf).collect()}
    assert (enc[0]["n_words"], enc[0]["bpe_tokens"], enc[0]["char_tokens"]) == (3, 3, 6)
    assert (enc[1]["n_words"], enc[1]["bpe_tokens"], enc[1]["char_tokens"]) == (1, 1, 2)


def test_bpe_doc_words_bound_holds_on_graded_corpora():
    """The bpe_tokenize oracle enumerates word positions via a
    range(1, _BPE_DOC_WORDS+1) join while the Spark side (posexplode)
    is unbounded — so the bound is a PRECONDITION on the graded
    corpora, and it must fail HERE as a named pin, not in the driver
    gate as a baffling hash mismatch, if a corpus change ever produces
    longer documents (r14 review). 5x headroom over the current
    generator's ~100-word cap."""
    import os

    import duckdb

    from mysense_spark.operators.text import _BPE_DOC_WORDS

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        path = f"/root/testdata/{sf}/documents.parquet"
        if not os.path.exists(path):
            continue
        (mx,) = duckdb.sql(
            f"SELECT max(len(string_split(text, ' '))) FROM read_parquet('{path}')"
        ).fetchone()
        assert mx <= _BPE_DOC_WORDS, (
            f"{sf}: a document has {mx} words > _BPE_DOC_WORDS={_BPE_DOC_WORDS}; "
            f"raise the oracle bound (SQL_BPE_TOKENIZE) before trusting the gate"
        )


def test_bpe_tokenize_consistent_with_encode_and_packing(spark, sf_dir):
    """Cross-operator consistency of the r14 tokenizer surfaces, on one
    training: (a) bpe_tokenize's n_tokens equals bpe_encode's
    bpe_tokens per doc; (b) the emitted token STRING really contains
    n_tokens tokens; (c) bpe_pack's placement partitions each shard's
    token stream exactly — within a shard, every tok_start equals the
    previous doc's tok_end (no gaps, no overlaps) and chunk spans match
    the integer boundary math."""
    from mysense_spark.io import load
    from mysense_spark.operators.sampling import _PACK_BUDGET, q_bpe_pack
    from mysense_spark.operators.text import bpe_encode, bpe_tokenize

    doc = load(spark, sf_dir, "documents")
    enc = {r["doc_id"]: r["bpe_tokens"] for r in bpe_encode(doc).collect()}
    toks = bpe_tokenize(doc).collect()
    assert {r["doc_id"] for r in toks} == set(enc)
    for r in toks:
        assert r["n_tokens"] == enc[r["doc_id"]]
        assert len(r["tokens"].split(" ")) == r["n_tokens"]
        # every word ends with its boundary marker
        assert r["tokens"].endswith("</w>")

    placed = q_bpe_pack(spark, sf_dir).collect()
    by_shard: dict[int, list] = {}
    for r in placed:
        by_shard.setdefault(r["shard"], []).append(r)
    assert sum(len(v) for v in by_shard.values()) == len(placed)
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: r["doc_id"])
        pos = 0
        for r in rows:
            assert r["tok_start"] == pos, (shard, r)
            assert r["n_tokens"] == enc[r["doc_id"]]
            end = r["tok_start"] + r["n_tokens"]
            assert r["chunk_start"] == r["tok_start"] // _PACK_BUDGET
            assert r["chunk_end"] == (end - 1) // _PACK_BUDGET
            assert r["n_chunks"] == r["chunk_end"] - r["chunk_start"] + 1
            pos = end


def test_packed_shards_materializes_manifest_exactly(spark, sf_dir, tmp_path):
    """The r15 packed-shard writer: (a) every chunk's token STRING
    really contains n_tokens tokens; (b) every non-last chunk per
    shard holds exactly _PACK_BUDGET tokens by content; (c) chunk
    metadata (n_docs/first-last spans) agrees with the bpe_pack
    placement; (d) concatenating a shard's chunks in order reproduces
    the shard's full token stream (docs in doc_id order) — slicing
    loses and duplicates nothing; (e) write_packed_shards round-trips
    through the hive layout with one file per shard; (f) each shard
    file is chunk-sorted on disk."""
    import os

    import pyarrow.parquet as pq

    from mysense_spark.io import load
    from mysense_spark.operators.sampling import (
        _PACK_BUDGET,
        q_bpe_pack,
        q_packed_shards,
        write_packed_shards,
    )
    from mysense_spark.operators.text import bpe_tokenize

    doc = load(spark, sf_dir, "documents")
    chunks = q_packed_shards(spark, sf_dir).collect()
    by_shard: dict[int, list] = {}
    for r in chunks:
        assert len(r["tokens"].split(" ")) == r["n_tokens"], r
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: r["chunk"])
        assert [r["chunk"] for r in rows] == list(range(len(rows)))
        for r in rows[:-1]:
            assert r["n_tokens"] == _PACK_BUDGET, (shard, r["chunk"])

    # n_docs per chunk agrees with the placement's span arithmetic
    placed = q_bpe_pack(spark, sf_dir).collect()
    span_docs: dict[tuple, int] = {}
    for p in placed:
        for c in range(p["chunk_start"], p["chunk_end"] + 1):
            span_docs[(p["shard"], c)] = span_docs.get((p["shard"], c), 0) + 1
    assert {(r["shard"], r["chunk"]): r["n_docs"] for r in chunks} == span_docs

    # shard streams reproduce the concatenated per-doc token sequences
    toks = {r["doc_id"]: r["tokens"] for r in bpe_tokenize(doc).collect()}
    doc_shard = {p["doc_id"]: p["shard"] for p in placed}
    for shard, rows in by_shard.items():
        stream = " ".join(r["tokens"] for r in rows)
        docs = sorted(d for d, s in doc_shard.items() if s == shard)
        assert stream == " ".join(toks[d] for d in docs), f"shard {shard} drifted"

    out = str(tmp_path / "packed")
    # fed from a local relation in DESCENDING chunk order (an orderBy
    # would be dropped under the repartition): the writer must sort
    # whatever order it gets
    reversed_chunks = sorted(chunks, key=lambda r: -r["chunk"])
    write_packed_shards(spark.createDataFrame(reversed_chunks, q_packed_shards(spark, sf_dir).schema), out)
    back = spark.read.parquet(out).collect()
    assert sorted(
        (r["shard"], r["chunk"], r["n_docs"], r["n_tokens"], r["tokens"])
        for r in back
    ) == sorted(
        (r["shard"], r["chunk"], r["n_docs"], r["n_tokens"], r["tokens"])
        for r in chunks
    )
    for shard in by_shard:
        files = [
            f
            for f in os.listdir(os.path.join(out, f"shard={shard}"))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1, (shard, files)
        # (f) the file itself is chunk-sorted, so a trainer streams it in
        # order: the partitioned writer must not re-sort by shard alone
        on_disk = pq.read_table(os.path.join(out, f"shard={shard}", files[0])).column("chunk")
        assert on_disk.to_pylist() == sorted(on_disk.to_pylist()), shard


def test_bpe_driver_trainer_matches_distributed(spark, sf_dir):
    """bpe_train's driver merge loop must match the DuckDB oracle's
    unrolled count/argmax/replace chain at 8 and 64 merges on the real
    corpus — the parity pin that makes the distributed-counts ->
    driver-merge-loop -> distributed-apply decomposition safe to deploy
    at 32k merges. Also pins determinism (two runs identical) and prefix
    stability (a longer run's first K merges equal the K-merge run — the
    property that lets the 64-round gate stand in for the 256-round
    regime)."""
    from mysense_spark.io import load
    from mysense_spark.operators.text import _sql_bpe_train, bpe_train
    from mysense_spark.oracle import compare_frames, run_oracle

    doc = load(spark, sf_dir, "documents")
    for n, sql in ((8, _sql_bpe_train(8)), (64, _sql_bpe_train(64, materialized=True))):
        res = compare_frames(bpe_train(doc, n).toPandas(), run_oracle(sql, sf_dir))
        assert res.ok, (n, res)

    drv64 = [tuple(r) for r in bpe_train(doc, 64).collect()]
    assert [tuple(r) for r in bpe_train(doc, 64).collect()] == drv64
    drv256 = [tuple(r) for r in bpe_train(doc, 256).collect()]
    assert drv256[:64] == drv64, "merge sequence is not prefix-stable"


def test_bpe_symbols_match_distributed_chain(spark, sf_dir):
    """_bpe_symbols (the apply-side operators' trained symbol table,
    computed through the driver merge loop and returned as a VALUES
    literal) must match the DuckDB oracle chain's final symbol table
    w8 ROW-FOR-ROW on the real corpus at the graded 8 merges — the pin
    that bpe_encode / bpe_tokenize apply exactly the trained state their
    oracles apply. Compared as sorted (word, cnt, seq) sets (consumers
    only ever join on word)."""
    from mysense_spark.io import load
    from mysense_spark.operators.text import _bpe_symbols, _sql_bpe_ctes
    from mysense_spark.oracle import run_oracle

    doc = load(spark, sf_dir, "documents")
    ref = run_oracle(f"WITH {_sql_bpe_ctes()} SELECT word, cnt, seq FROM w8", sf_dir)
    want = sorted((w, int(c), q) for w, c, q in ref.itertuples(index=False))
    got = sorted(tuple(r) for r in _bpe_symbols(doc).collect())
    assert got == want


def test_bpe_driver_trainer_stops_on_exhaustion(spark):
    """A degenerate corpus (one two-char word type) runs out of
    mergeable pairs after two merges: ' a  b  </w> ' -> ' ab  </w> '
    -> ' ab</w> '. The trainer must STOP there and emit exactly the
    merges that happened (the oracle side of exhaustion is
    test_bpe_merge_exhaustion_cross_engine)."""
    from mysense_spark.operators.text import bpe_train

    doc = spark.createDataFrame(
        [(i, "ab") for i in range(5)], "doc_id long, text string"
    )
    drv = [tuple(r) for r in bpe_train(doc, 8).collect()]
    assert len(drv) == 2
    assert [(r[1], r[2]) for r in drv] == [("a", "b"), ("ab", "</w>")]


def test_mp4_sample_tables_edge_shapes():
    """parse_mp4_samples / extract_mp4_samples (r15) on the shapes the
    graded synth does NOT exercise: run-length-compressed stts,
    constant-size stsz, co64 64-bit chunk offsets, a missing stss (all
    samples are sync per §8.6.2), and the damage contract — forged
    counts, table disagreements, and offsets overrunning the file all
    raise ValueError; a forged constant-size stsz count cannot trigger
    an unbounded allocation."""
    import struct

    import pytest as _pytest

    from mysense_spark.operators.codecs import (
        extract_mp4_samples,
        parse_mp4_samples,
    )

    def b8(t, payload):
        return struct.pack(">I", 8 + len(payload)) + t + payload

    def mk(stts, stsz, stsc, stco_t, offs, stss=None, mdat=b""):
        boxes = [stts, stsz, stsc]
        w = ">Q" if stco_t == b"co64" else ">I"
        boxes.append(
            b8(stco_t, struct.pack(">II", 0, len(offs))
               + b"".join(struct.pack(w, o) for o in offs))
        )
        if stss is not None:
            boxes.append(
                b8(b"stss", struct.pack(">II", 0, len(stss))
                   + b"".join(struct.pack(">I", i) for i in stss))
            )
        stbl = b8(b"stbl", b"".join(boxes))
        mdhd = b8(b"mdhd", b"\x00" * 12 + struct.pack(">I", 90000) + b"\x00" * 8)
        hdlr = b8(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12)
        mdia = b8(b"mdia", mdhd + hdlr + b8(b"minf", stbl))
        trak = b8(b"trak", b8(b"tkhd", bytes(84)) + mdia)
        moov = b8(b"moov", b8(b"mvhd", b"\x00" * 12 + struct.pack(">II", 1000, 0)) + trak)
        head = b8(b"ftyp", b"isom\x00\x00\x00\x00") + moov
        return head + b8(b"mdat", mdat), len(head) + 8

    # run-length stts (one entry covers 4 samples), constant stsz,
    # co64 offsets, no stss -> every sample a keyframe
    stts = b8(b"stts", struct.pack(">II", 0, 1) + struct.pack(">II", 4, 100))
    stsz = b8(b"stsz", struct.pack(">III", 0, 5, 4))
    stsc = b8(b"stsc", struct.pack(">II", 0, 1) + struct.pack(">III", 1, 4, 1))
    blob, data_at = mk(stts, stsz, stsc, b"co64", [0], mdat=bytes(range(20)))
    # co64 offset must point at the real mdat body: rebuild with it
    blob, data_at = mk(stts, stsz, stsc, b"co64", [data_at], mdat=bytes(range(20)))
    (track,) = parse_mp4_samples(blob)
    assert track["kind"] == "vide" and track["timescale"] == 90000
    ss = track["samples"]
    assert [s["dts"] for s in ss] == [0, 100, 200, 300]
    assert [s["size"] for s in ss] == [5, 5, 5, 5]
    assert all(s["keyframe"] for s in ss)  # no stss: all sync
    recs = extract_mp4_samples(blob)
    assert b"".join(r["data"] for r in recs) == bytes(range(20))

    # stss marks only sample 3
    blob3, _ = mk(stts, stsz, stsc, b"co64", [data_at], stss=[3], mdat=bytes(range(20)))
    (t3,) = parse_mp4_samples(blob3)
    assert [s["keyframe"] for s in t3["samples"]] == [False, False, True, False]

    # damage contract: ValueError only
    bad_counts = b8(b"stts", struct.pack(">II", 0, 1) + struct.pack(">II", 3, 100))
    blob_bad, _ = mk(bad_counts, stsz, stsc, b"co64", [data_at], mdat=bytes(20))
    with _pytest.raises(ValueError, match="stts"):
        parse_mp4_samples(blob_bad)

    overrun, _ = mk(stts, stsz, stsc, b"co64", [10**6], mdat=bytes(20))
    with _pytest.raises(ValueError, match="overruns the file"):
        parse_mp4_samples(overrun)

    # forged constant-size count: 4 bytes declare 2^31 samples — must
    # refuse, never allocate
    forged = b8(b"stsz", struct.pack(">III", 0, 5, 1 << 31))
    blob_f, _ = mk(stts, forged, stsc, b"co64", [data_at], mdat=bytes(20))
    with _pytest.raises(ValueError, match="exceeds file size"):
        parse_mp4_samples(blob_f)

    # stsc run pointing past the chunk table
    bad_stsc = b8(b"stsc", struct.pack(">II", 0, 1) + struct.pack(">III", 7, 4, 1))
    blob_c, _ = mk(stts, stsz, bad_stsc, b"co64", [data_at], mdat=bytes(20))
    with _pytest.raises(ValueError, match="stsc"):
        parse_mp4_samples(blob_c)


def test_packed_ids_roundtrip_and_density(spark, sf_dir):
    """packed_ids (r15): the id table is a dense 1..V ASCII-ranked
    bijection; every chunk's id sequence decodes back to exactly the
    packed_shards token sequence; n_tokens agrees per chunk."""
    from mysense_spark.operators.sampling import q_packed_ids, q_packed_shards

    chunks = {(r["shard"], r["chunk"]): r for r in q_packed_shards(spark, sf_dir).collect()}
    idrows = q_packed_ids(spark, sf_dir).collect()
    assert {(r["shard"], r["chunk"]) for r in idrows} == set(chunks)

    # reconstruct the bijection from the two aligned sequences
    tok2id: dict[str, int] = {}
    for r in idrows:
        toks = chunks[(r["shard"], r["chunk"])]["tokens"].split(" ")
        ids = [int(x) for x in r["token_ids"].split(" ")]
        assert len(ids) == r["n_tokens"] == len(toks)
        assert len(set(ids)) == r["n_distinct_ids"]
        for t, i in zip(toks, ids):
            assert tok2id.setdefault(t, i) == i, (t, i, tok2id[t])
    vals = sorted(tok2id.values())
    assert vals == list(range(1, len(vals) + 1)), "ids not dense 1..V"
    assert [t for t, _ in sorted(tok2id.items(), key=lambda kv: kv[1])] == sorted(
        tok2id
    ), "ids not ASCII-ranked"


def test_mp3_frame_walk_edge_shapes():
    """parse_mp3_frames (r15) beyond the graded V1-Layer-III shape:
    MPEG-2 Layer III (576 samples, the V2 bitrate table), Layer I
    sizing (the x4 slot formula, padding included), mono mode, mixed
    samplerates (aggregate samplerate reports 0), a trailing ID3v1
    'TAG' block, and the damage contract — lost sync, free-format
    bitrate, invalid indices, tag/frame overruns all raise
    ValueError; the PCM tier stays gated."""
    import pytest as _pytest

    from mysense_spark.operators.codecs import decode_mp3, parse_mp3_frames

    def frame(ver_bits, layer_bits, br_idx, sr_idx, pad, mode=0):
        h = bytes(
            [
                0xFF,
                0xE0 | (ver_bits << 3) | (layer_bits << 1) | 1,
                (br_idx << 4) | (sr_idx << 2) | (pad << 1),
                mode << 6,
            ]
        )
        return h

    def pad_to(h, size):
        return h + b"\x00" * (size - 4)

    # MPEG-2 (ver bits 2) Layer III (bits 01): 576 samples, V2 table;
    # idx 5 -> 40 kbps at 22050 Hz: 72*40000//22050 = 130
    f = pad_to(frame(2, 1, 5, 0, 0), 72 * 40 * 1000 // 22050)
    m = parse_mp3_frames(f)
    assert m["frames"][0]["samples"] == 576 and m["frames"][0]["kbps"] == 40
    assert m["total_bytes"] == 130 and m["sample_rate"] == 22050

    # MPEG-1 Layer I (bits 11): 384 samples, slot-of-4 sizing with pad
    # idx 3 -> 96 kbps at 48000: (12*96000//48000 + 1) * 4 = 100
    f1 = pad_to(frame(3, 3, 3, 1, 1), 100)
    m1 = parse_mp3_frames(f1)
    assert m1["frames"][0]["samples"] == 384 and m1["total_bytes"] == 100

    # mono mode (11) + two frames at different rates -> sample_rate 0
    a = pad_to(frame(3, 1, 9, 0, 0, mode=3), 144 * 128 * 1000 // 44100)
    b2 = pad_to(frame(3, 1, 9, 1, 0, mode=3), 144 * 128 * 1000 // 48000)
    mm = parse_mp3_frames(a + b2)
    assert mm["channels"] == 1 and mm["sample_rate"] == 0 and not mm["vbr"]

    # trailing ID3v1: exactly 128 bytes starting 'TAG'
    tagged = a + b"TAG" + b"\x00" * 125
    assert parse_mp3_frames(tagged)["n_frames"] == 1

    with _pytest.raises(ValueError, match="lost MP3 frame sync"):
        parse_mp3_frames(a + b"junk-after-frame----")
    with _pytest.raises(ValueError, match="free-format"):
        parse_mp3_frames(frame(3, 1, 0, 0, 0) + bytes(400))
    with _pytest.raises(ValueError, match="invalid bitrate/samplerate"):
        parse_mp3_frames(frame(3, 1, 15, 0, 0) + bytes(400))
    with _pytest.raises(ValueError, match="reserved"):
        parse_mp3_frames(frame(1, 1, 9, 0, 0) + bytes(400))
    with _pytest.raises(ValueError, match="overruns the file"):
        parse_mp3_frames(a[:-10])
    with _pytest.raises(ValueError, match="ID3v2 tag overruns"):
        parse_mp3_frames(b"ID3\x03\x00\x00\x00\x00\x01\x00short")
    with _pytest.raises(NotImplementedError, match="codec library"):
        decode_mp3(a)
    meta, pcm = decode_mp3(a, pcm=False)
    assert meta["n_frames"] == 1 and pcm is None


def test_bigram_perplexity_sees_word_order(spark):
    """The reason the bigram gate exists next to the unigram one: two
    corpora of IDENTICAL token multisets (same unigram distribution)
    must separate when one doc's word ORDER breaks the corpus's
    transition structure. Ten docs repeat 'a b c'; one doc reverses to
    'c b a' — its bigrams (c,b)/(b,a)/(a,c) are near-unseen, so its
    avg_nll must exceed every in-order doc's, while every doc shares
    n_bigrams. Also pins the <2-token exclusion (a 1-token doc emits
    no row)."""
    from mysense_spark.operators.text import bigram_perplexity

    rows = [(i, "a b c a b c a b c") for i in range(10)]
    rows.append((100, "c b a c b a c b a"))
    rows.append((200, "a"))  # single token: no bigrams, no row
    doc = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in bigram_perplexity(doc).collect()}
    assert 200 not in out
    assert all(out[i]["n_bigrams"] == 8 for i in list(range(10)) + [100])
    in_order = {out[i]["avg_nll"] for i in range(10)}
    assert len(in_order) == 1  # identical docs score identically
    assert out[100]["avg_nll"] > max(in_order)
