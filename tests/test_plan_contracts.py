"""Physical-plan contracts: the properties that make queries scale are
asserted, not just documented. A refactor that silently turns a broadcast
join into a nested-loop join, un-prunes a scan, or adds an exchange to a
map-only query should fail CI here — at 100 TB those regressions are
outages, and local wall-clock at sf0.001 won't catch them.

Plan text comes from the executed plan (AQE's initial plan — join
strategies, scan schemas, and pushed filters are all visible there).
"""

from __future__ import annotations

import re

import pytest

from mysense_spark.queries import spark_queries


def _plan(spark, name: str, sf_dir: str) -> str:
    df = spark_queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


# The fenced tiers: bounded-side crossJoins are their documented design
# (knn re-rank broadcasts <= MAX_RERANK_QUERIES rows; IVF broadcasts K
# centroids). Everything else must never nested-loop.
# bm25_search joined this set in r6: its corpus totals became a 1-row
# broadcast dimension (replacing a driver-side collect — the whole query
# is now one lazy plan); Catalyst constant-folds any literal-key
# equi-join on a 1-row side back to a broadcast nested loop, which is
# exactly the bounded pattern this fence permits
_FENCED_CROSSJOIN = {
    "knn_bruteforce",
    "ann_ivf",
    "ann_ivf_refined",  # r11: SQ-probe pool + fenced knn_rerank refine
    "ann_pq",  # r11: 1-row codebook arrays + <= N_QUERIES LUT rows
    "ann_ivfadc",  # r12: cell-pruned ADC + the same bounded sides
    "ann_srp",  # late r12: broadcast probe list + fenced re-rank pool
    "ann_ivfpq",  # late r12: by-residual IVFPQ, same bounded sides as ivfadc
    "ann_ivfadc_persisted",  # r14: on-disk index read + the same fenced tail
    "ann_srp_persisted",  # r14: on-disk bucket read + the same fenced tail
    "ann_srp_incremental",  # r14: append-maintained layout, same search plan
    "ann_srp_compacted",  # r15: compacted flattened layout, same search plan
    "ann_sq8",  # r15: SQ8 code scan x broadcast queries + the fenced tail
    "ann_sq8_persisted",  # r15: persisted codes/params read + same search plan
    "ann_ivfsq",  # r15: cell-pruned SQ8 scan + the same fenced tail
    "hard_negatives",  # r12: bounded query broadcast (knn_bruteforce shape)
    "ann_recall",
    "embedding_neardup",
    "semdedup",
    "semdedup_auto",
    "bm25_search",
    # 1-row broadcast-totals dimensions (corpus size / token total):
    # the lazy twin of a driver-side count, bounded nested loop by
    # construction
    "tfidf_top_terms",
    "perplexity_bucket",
    "bigram_perplexity",  # r15: 1-row V total rides the scoring join
    "dsir_weights",  # r11: 1-row (ts, tt) totals into the ratio table
    "dsir_resample",  # r12: same weights lineage + global top-k
}


def test_operators_have_no_driver_actions():
    """Every registered query must be a LAZY plan: no .count()/.collect()
    /.toPandas() driver actions inside operators/ — an eager scalar makes
    the query non-composable (it fires a job at plan-build time) and
    hides a second corpus scan from the plan reader. Seven audited
    exemptions remain:
    - the similarity rerank fence: a bounded limit(K+1).count() guard
      that RAISES on oversized query sets;
    - the trained codebook's seed-cache count: it materializes a
      K ≈ N/64-row cache so its consumers are planned from its measured
      size, and decides nothing;
    - the SRP auto-shape corpus count (r13): ONE count(*) aggregate that
      picks the hash width before the plan is built;
    - the persisted-index probe collect (r14): queries x nprobe bounded
      rows, collected because the probed cell ids must become a STATIC
      PartitionFilter on the on-disk codes layout (a join can't prune
      directories);
    - the SQ8 quantizer-params collect (r15): exactly 64 (min, span)
      rows that must become plan LITERALS so the code scan is one
      projection with no join at all (the ship-the-tiny-trained-state
      class);
    - the BPE vocabulary collect: <= _BPE_VOCAB_CAP word-type rows that
      the driver merge loop trains on;
    - the neardup label-propagation convergence probe (limit(1)-bounded)."""
    import pathlib

    op_dir = pathlib.Path(__file__).resolve().parents[1] / "mysense_spark" / "operators"
    banned = (".count()", ".collect()", ".toPandas()", ".toLocalIterator(", ".first()")
    offenders = []
    for py in sorted(op_dir.glob("*.py")):
        prev = ""
        for i, line in enumerate(py.read_text().splitlines(), 1):
            stripped = line.split("#", 1)[0].strip()
            if py.name == "similarity.py" and "limit(MAX_RERANK_QUERIES + 1).count()" in line:
                prev = stripped
                continue  # the structural fence (raises, never folds data)
            if py.name == "similarity.py" and stripped == "seeds.count()":
                prev = stripped
                continue  # trained codebook: seed-cache materialize
            if py.name == "similarity.py" and "srp_auto_bits(vecs.count()" in stripped:
                prev = stripped
                continue  # r13 SRP auto-shape: one count(*) plan selection
            if py.name == "similarity.py" and "probes.collect()" in stripped:
                prev = stripped
                continue  # r14 persisted-index routing: queries x nprobe
                # rows collected so the probed cells become a STATIC
                # partition filter (the upsert day-key fence class)
            if py.name == "similarity.py" and 'sq8_params(vecs).orderBy("d").collect()' in stripped:
                prev = stripped
                continue  # r15 SQ8: 64-row quantizer params -> plan literals
            if py.name == "text.py" and "_bpe_vocab(doc).collect()" in stripped:
                prev = stripped
                continue  # r15 single-process trainer: the <= _BPE_VOCAB_CAP
                # word-type collect IS the architecture (distributed
                # counts -> driver merge loop -> distributed apply);
                # bounded by the vocab cap, never by corpus size
            if py.name == "dedup.py" and (".limit(1)" in stripped or prev == ".limit(1)"):
                prev = stripped
                continue  # convergence probe: is-there-any-row, 1 row max
            offenders += [f"{py.name}:{i}" for b in banned if b in stripped]
            if stripped:
                prev = stripped
    assert not offenders, f"eager driver actions under operators/: {offenders}"


@pytest.mark.parametrize(
    "name",
    [
        "pricing_summary",
        "region_revenue",
        "hourly_stats",
        "dedup_exact",
        "minhash_lsh_pairs",
        "incremental_dedup",
        "corpus_build",
        "url_filter",
        "chunk_overlap",
        "dup_ngram_frac",
        "duplicate_spans",
        "dedup_keep_best",
        "sequence_packing",
        "daily_qc_report",
        "vocab_stats",
        "media_embed",
        "modality_mix",
        "cascade_rollup",
        "cross_split_leakage",
        "embedding_outliers",
        "source_overlap",
        "winnow_fingerprints",
        "gopher_filter",
        "c4_filter",
    ],
)
def test_no_nested_loop_join(spark, sf_dir, name):
    plan = _plan(spark, name, sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan, f"{name}: nested-loop join crept in"
    assert "CartesianProduct" not in plan, f"{name}: cartesian product crept in"


def test_dimension_joins_broadcast(spark, sf_dir):
    """region_revenue joins facts to region/nation/customer dims — all
    must be broadcast (a shuffle join on a dimension is wasted I/O at
    every scale)."""
    plan = _plan(spark, "region_revenue", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, "dimension join fell back to sort-merge"


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    """pricing_summary's ship-date filter must reach the parquet scan as
    a pushed filter, not run post-scan."""
    plan = _plan(spark, "pricing_summary", sf_dir)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any(p.strip() for p in pushed), "no pushed filters on the lineitem scan"


def test_column_pruning(spark, sf_dir):
    """url_filter touches only doc_id; its parquet scan must not read
    the text column (reading 100 TB of text to compute a pure-id
    derivation is the canonical pruning failure)."""
    plan = _plan(spark, "url_filter", sf_dir)
    schemas = re.findall(r"ReadSchema: (\S+)", plan)
    assert schemas, "no parquet scan found"
    for s in schemas:
        assert "text" not in s, f"url_filter reads text: {s}"


@pytest.mark.parametrize(
    "name,max_exchanges",
    [
        ("chunk_overlap", 1),  # map-only + presentation sort
        ("url_filter", 1),
        ("gopher_filter", 1),  # one linear scan + presentation sort
        ("dedup_exact", 2),  # one hash shuffle + presentation sort
        ("corpus_build", 2),  # one partial-agg shuffle + sort
        ("tokenizer_fertility", 2),
        ("dup_ngram_frac", 4),
        ("media_embed", 1),  # pure Arrow map stage + presentation sort
        ("modality_mix", 2),
        ("vocab_stats", 3),
        ("cascade_rollup", 7),  # 3 levels x partial/final + presentation
        # one tokenize pass riding the placement window: broadcast
        # vocab join + shard window + (shard, chunk) agg + presentation
        # sort — a 5th exchange means the tokens leg re-joined or
        # re-tokenized the corpus (r15 audit caught exactly that)
        ("packed_shards", 4),
    ],
)
def test_exchange_budget(spark, sf_dir, name, max_exchanges):
    """Shuffle-count ceilings for the linear-scan family: every exchange
    is a full materialization of the stream at scale, so gaining one is
    a structural regression, not noise."""
    plan = _plan(spark, name, sf_dir)
    n = len(re.findall(r"Exchange ", plan))
    assert n <= max_exchanges, f"{name}: {n} exchanges (budget {max_exchanges})"


def test_fenced_crossjoins_stay_fenced(spark, sf_dir):
    """The similarity tiers MAY nested-loop — but only with a broadcast
    (bounded) build side. An unbroadcast cartesian is never allowed."""
    for name in sorted(_FENCED_CROSSJOIN):
        plan = _plan(spark, name, sf_dir)
        assert "CartesianProduct" not in plan, f"{name}: unbounded cartesian"


def test_no_python_row_udfs_in_registry(spark, sf_dir):
    """Hot-path queries must stay JVM-side: no row-at-a-time Python
    UDFs anywhere in the registered batch queries (Arrow-batched pandas
    stages — ArrowEvalPython / FlatMapGroupsInPandas / MapInPandas —
    are the sanctioned Python escape hatch)."""
    offenders = []
    for name, fn in spark_queries().items():
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        if "BatchEvalPython" in plan:
            offenders.append(name)
    assert not offenders, f"row-at-a-time Python UDFs in: {offenders}"


def test_ttn_decode_is_one_typed_decode(spark, sf_dir):
    """The ingest chain decodes each datagram once, straight to typed
    fact rows: one Arrow Python stage, one from_json (the envelope —
    the decode output is not re-parsed), and no registry join (the
    unit/category lookup rides the decode, so no per-micro-batch
    broadcast job)."""
    plan = _plan(spark, "ttn_decode", sf_dir)
    assert plan.count("ArrowEvalPython") == 1, plan
    assert plan.count("from_json(") == 1, plan
    assert "BroadcastExchange" not in plan and "BroadcastHashJoin" not in plan, plan


def test_ngram_jaccard_self_join_is_df_capped(spark, sf_dir):
    """The Jaccard verify tier's one scale hazard is a hot-shingle bucket
    (quadratic OUTPUT — AQE skew-split can't fix an output explosion).
    The plan must contain the broadcast anti-join that drops shingles
    above the document-frequency cap before the self-join."""
    plan = _plan(spark, "ngram_jaccard_pairs", sf_dir)
    assert "LeftAnti" in plan, "df-cap anti-join missing from ngram_jaccard plan"


def test_no_decimal_output_columns(spark, sf_dir):
    """Output-dtype contract: no registered query may emit a DecimalType
    column. The driver gate hashes dtype-canonicalized values, and every
    oracle emits DOUBLE for fractional results — a Spark DECIMAL column
    (e.g. from a bare fractional literal in selectExpr: Spark parses
    1000000.0 as DECIMAL(8,1) and LONG/DECIMAL division yields DECIMAL)
    is a guaranteed hash mismatch even when values are bit-identical.
    DECIMAL is fine INSIDE a plan (the exact-agg accumulators use it
    deliberately); it must never survive to the output schema."""
    from pyspark.sql.types import DecimalType

    offenders = []
    for name, fn in spark_queries().items():
        schema = fn(spark, sf_dir).schema
        decs = [f.name for f in schema.fields if isinstance(f.dataType, DecimalType)]
        if decs:
            offenders.append(f"{name}: {decs}")
    assert not offenders, f"DecimalType in output schema: {offenders}"


def test_bucketed_join_elides_shuffle(spark, sf_dir):
    """The co-located-join strategy: two tables bucketed identically on
    the join key must join with ZERO exchanges (vs two for the plain
    read), with broadcast disabled so the test exercises the bucketing
    path, not the small-table shortcut."""
    import uuid

    from pyspark.sql import functions as F

    from mysense_spark.io import load
    from mysense_spark.materialize import co_located_join, write_bucketed

    ev = load(spark, sf_dir, "events")
    facts = ev.select("user_id", "event_type", "value")
    profiles = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))

    suffix = uuid.uuid4().hex[:8]
    t1, t2 = f"facts_{suffix}", f"profiles_{suffix}"
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_bucketed(facts, t1, ["user_id"], 8, sort_cols=["user_id"])
        write_bucketed(profiles, t2, ["user_id"], 8, sort_cols=["user_id"])

        joined = co_located_join(spark, t1, t2, ["user_id"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan[:800]}"

        # sanity: the join is real (row count matches the plain-read join)
        expected = facts.join(profiles, "user_id").count()
        assert joined.count() == expected

        # and the un-bucketed form DOES shuffle — the contrast proves the
        # elision comes from bucketing, not from some other property
        plain = facts.join(profiles, "user_id")
        plain_plan = plain._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plain_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql(f"DROP TABLE IF EXISTS {t1}")
        spark.sql(f"DROP TABLE IF EXISTS {t2}")


def test_ivf_partitioned_layout_prunes_cells(spark, sf_dir, tmp_path):
    """The IVF-partitioned corpus layout (write_ivf_partitioned) must
    make a probed read a PARTITION-PRUNED scan: filtering on cent_id is
    a static PartitionFilter, and the scan lists only the probed cell
    directories — at 100 TB this is the difference between reading
    nprobe/K of the corpus and reading all of it."""
    import re

    from mysense_spark.operators.similarity import (
        _vectors,
        read_ivf_cells,
        write_ivf_partitioned,
    )

    import os

    path = str(tmp_path / "ivf_layout")
    # default layout = the TRAINED two-level codebook (r8): cell ids are
    # fine-seed vec_ids, discovered from the directories it wrote
    write_ivf_partitioned(_vectors(spark, sf_dir), path)
    all_cells = sorted(
        int(d.split("=", 1)[1]) for d in os.listdir(path) if d.startswith("cent_id=")
    )
    assert len(all_cells) >= 2, f"trained layout produced {len(all_cells)} cells"
    probe_cells = all_cells[:2]

    probed = read_ivf_cells(spark, path, probe_cells)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cent_id" in m.group(1), f"no cent_id PartitionFilter:\n{plan[:600]}"
    # the pruning is real: only the probed cells' rows come back, and
    # the file listing matches the probed directories
    cells = {r["cent_id"] for r in probed.select("cent_id").distinct().collect()}
    assert cells <= set(probe_cells)
    # data filters must NOT contain cent_id (it is partition-only work)
    df_m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    if df_m:
        assert "cent_id" not in df_m.group(1)
    # and the pruning is visible in the files ACTUALLY READ at execution
    # (inputFiles() lists the relation pre-pruning and is useless here):
    # the probed read touches strictly fewer files than the full read
    from pyspark.sql import functions as F

    n_probed = probed.select(F.input_file_name()).distinct().count()
    n_full = (
        spark.read.parquet(path).select(F.input_file_name()).distinct().count()
    )
    assert 0 < n_probed < n_full, (n_probed, n_full)


def test_srp_partitioned_layout_prunes_and_appends(spark, sf_dir, tmp_path):
    """The SRP signature layout (write_srp_partitioned): (a) a probed
    read is a PRUNED scan — tbl is a static PartitionFilter, the bucket
    predicate is pushed to parquet as a DataFilter, and strictly fewer
    files are read than a full scan; (b) the layout-only guarantee: the pruned
    read equals the logical slice of the signature stream; (c) the
    INCREMENTAL property the layout exists for — appending a new
    batch's signatures leaves the first batch's files untouched (SRP
    has no trained state, so incremental maintenance is one append),
    and the union reads back complete."""
    import os
    import re

    from pyspark.sql import functions as F

    from mysense_spark.operators.similarity import (
        _vectors,
        read_srp_buckets,
        srp_signatures,
        write_srp_partitioned,
    )

    vecs = _vectors(spark, sf_dir)
    first = vecs.where(F.col("vec_id") % 2 == 0)
    second = vecs.where(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "srp_layout")
    write_srp_partitioned(first, path)

    probes = [
        (r["tbl"], r["bucket"])
        for r in srp_signatures(first).where(F.col("vec_id") < 10).limit(3).collect()
    ]
    probed = read_srp_buckets(spark, path, probes)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "tbl" in m.group(1), plan[:600]
    m = re.search(r"DataFilters: \[([^\]]*)", plan)
    assert m and "bucket" in m.group(1), plan[:600]
    n_probed = probed.select(F.input_file_name()).distinct().count()
    n_full = spark.read.parquet(path).select(F.input_file_name()).distinct().count()
    assert 0 < n_probed < n_full, (n_probed, n_full)

    got = {(r["vec_id"], r["tbl"], r["bucket"]) for r in probed.collect()}
    want = {
        (r["vec_id"], r["tbl"], r["bucket"])
        for r in srp_signatures(first)
        .join(spark.createDataFrame(probes, "tbl int, bucket long"), ["tbl", "bucket"])
        .select("vec_id", "tbl", "bucket")
        .collect()
    }
    assert got == want

    def files(p):
        out = set()
        for root, _dirs, fs in os.walk(p):
            for f in fs:
                if f.endswith(".parquet"):
                    out.add(os.path.join(root, f))
        return out

    before = files(path)
    write_srp_partitioned(second, path, append=True)
    after = files(path)
    assert before <= after  # old batch untouched — append-only
    total = spark.read.parquet(path).count()
    assert total == srp_signatures(vecs).count()


def test_sinks_never_materialize_on_driver():
    """The sink hot path must stay executor-side: a fat micro-batch
    .collect()ed on the driver OOMs it and serializes all HTTP through
    one node (round-3 verdict). Static contract: no driver
    materialization call anywhere under sinks/ — transports go through
    foreachPartition, breaker state through accumulator scalars."""
    import pathlib

    sink_dir = pathlib.Path(__file__).resolve().parents[1] / "mysense_spark" / "sinks"
    banned = (".collect(", ".toPandas(", ".toLocalIterator(")
    offenders = []
    for py in sorted(sink_dir.glob("*.py")):
        for i, line in enumerate(py.read_text().splitlines(), 1):
            # exemption: the partitioned upsert's distinct-day list is a
            # bounded CONTROL-PLANE scalar (O(days per micro-batch), never
            # data rows) that becomes the static PartitionFilter — same
            # class as the similarity rerank fence's bounded count
            if py.name == "upsert.py" and 'select(DAY_COL).distinct().collect()' in line:
                continue
            # exemption 2 (r8): the file-pruning key list is control
            # plane too — distinct (day, key) pairs, hard-capped at
            # _MAX_PRUNE_KEYS by a limit() BEFORE the collect, with the
            # over-cap case falling back to whole-day selection
            if py.name == "upsert.py" and "limit(_MAX_PRUNE_KEYS + 1).collect()" in line:
                continue
            # exemption 3 (r9): the region-report workbook writer is a
            # REPORT materialization (kits × fields rows), hard-capped
            # at _MAX_REPORT_ROWS by a limit() BEFORE the collect, with
            # the over-cap case a loud ValueError — not the sink hot
            # path
            if py.name == "export.py" and ".collect()" in line:
                continue
            offenders += [f"{py.name}:{i}: {b}" for b in banned if b in line]
    assert not offenders, f"driver materialization in sink path: {offenders}"


def test_ivfadc_index_layout_prunes_cells(spark, sf_dir, tmp_path):
    """The IVFADC code index (write_ivfadc_index, r12) must give the
    ADC stage the same directory-prune guarantee the vector layout
    gives the flat search: a probed read lists only the probed cells'
    directories (static PartitionFilter on cent_id), and the ADC
    distances computed from the pruned read are IDENTICAL to slicing
    the full code table logically — the index is a layout change, not
    a semantics change."""
    import os
    import re

    from pyspark.sql import functions as F

    from mysense_spark.operators.similarity import (
        _fixture_centroids,
        _pq_parts,
        _vectors,
        read_ivf_cells,
        write_ivfadc_index,
    )

    vecs = _vectors(spark, sf_dir)
    pq = _pq_parts(vecs)
    path = str(tmp_path / "ivfadc_index")
    write_ivfadc_index(vecs, path, centroids=_fixture_centroids(vecs), parts=pq)
    all_cells = sorted(
        int(d.split("=", 1)[1]) for d in os.listdir(path) if d.startswith("cent_id=")
    )
    assert len(all_cells) >= 2
    probe = all_cells[:2]
    probed = read_ivf_cells(spark, path, probe)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cent_id" in m.group(1), f"no cent_id PartitionFilter:\n{plan[:600]}"
    # codes from the pruned read == codes of those cells in the full read
    got = {
        (r["vec_id"], tuple(r["codes"]))
        for r in probed.select("vec_id", "codes").collect()
    }
    want = {
        (r["vec_id"], tuple(r["codes"]))
        for r in spark.read.parquet(path)
        .where(F.col("cent_id").isin(probe))
        .select("vec_id", "codes")
        .collect()
    }
    assert got == want and got
    # the layout carries CODES, not vectors: 12-byte arrays, no v column
    assert set(probed.columns) == {"vec_id", "codes", "cent_id"}


def test_persisted_index_search_reads_not_retrains(spark, sf_dir, tmp_path, monkeypatch):
    """The r14 persisted-index lifecycle contract, all three legs:
    (1) the graded search's result is identical to the inline-trained
    grading (the index is a pure function of the corpus); (2) once the
    index exists, the search NEVER trains — both training entry points
    are poisoned and the warm call must succeed; (3) the warm plan
    scans the codes layout through a static cent_id PartitionFilter
    (nprobe is a directory prune, not a post-scan filter)."""
    import re

    from mysense_spark.operators import similarity as S

    idx = str(tmp_path / "ivfadc_index")
    monkeypatch.setattr(S, "ivfadc_index_path", lambda _sf: idx)

    cold = S.q_ann_ivfadc_persisted(spark, sf_dir).collect()
    inline = S.q_ann_ivfadc_kmeans(spark, sf_dir).collect()
    assert cold == inline and len(cold) > 0

    def _boom(*_a, **_k):
        raise AssertionError("training ran on the warm search path")

    monkeypatch.setattr(S, "_km_chain", _boom)
    monkeypatch.setattr(S, "_pq_parts", _boom)
    monkeypatch.setattr(S, "kmeans_centroids", _boom)
    warm_df = S.q_ann_ivfadc_persisted(spark, sf_dir)
    assert warm_df.collect() == cold

    plan = warm_df._jdf.queryExecution().executedPlan().toString()
    filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("cent_id" in f for f in filters), plan[:800]


def test_ivfadc_index_append_makes_new_vectors_searchable(spark, sf_dir, tmp_path, monkeypatch):
    """The incremental-maintenance contract (r14): appending a new
    batch to the persisted IVFADC index — assign + encode under the
    EXISTING artifacts, one partitioned append — makes the new vectors
    searchable without any retrain: planted duplicates of the query
    vectors must come back at rank 1 with cosine 1.0, and an empty
    append must be a no-op."""
    from pyspark.sql import functions as F

    from mysense_spark.operators import similarity as S

    idx = str(tmp_path / "ivfadc_idx")
    monkeypatch.setattr(S, "ivfadc_index_path", lambda _sf: idx)
    S.ensure_ivfadc_index(spark, sf_dir)

    vecs = S._vectors(spark, sf_dir).select("vec_id", "v", "norm")
    planted = vecs.where(F.col("vec_id") < S._N_QUERIES).select(
        (F.col("vec_id") + 9000).alias("vec_id"), "v", "norm"
    )
    import os

    assert os.path.exists(os.path.join(idx, "_INDEX_READY"))
    S.ivfadc_index_append(spark, planted, idx)
    # r15 advice: an append retires the ready marker so the
    # content-keyed ensure path treats the mutated dir as a cache miss
    assert not os.path.exists(os.path.join(idx, "_INDEX_READY"))
    assert os.path.exists(os.path.join(idx, "_INDEX_APPENDED"))

    vecs_plus = vecs.unionByName(planted)
    out = S.ann_ivfadc_search_indexed(spark, vecs_plus, idx).collect()
    top = {r["query_id"]: (r["cand_id"], r["cosine"]) for r in out if r["rank"] == 1}
    for q in range(S._N_QUERIES):
        assert top[q] == (q + 9000, 1.0), (q, top.get(q))

    S.ivfadc_index_append(spark, planted.limit(0), idx)
    assert S.ann_ivfadc_search_indexed(spark, vecs_plus, idx).collect() == out


def test_srp_persisted_search_reads_not_rehashes(spark, sf_dir, tmp_path, monkeypatch):
    """The SRP half of the persisted lifecycle (r14): the graded search
    equals the inline ann_srp grading (the layout is a pure function of
    the corpus), the warm path never rewrites the layout (the corpus
    signature kernel is poisoned — only the 5-row QUERY side may hash),
    and the bucket scan carries a static tbl PartitionFilter plus a
    pushed bucket DataFilter."""
    import re

    from pyspark.sql import functions as F

    from mysense_spark.operators import similarity as S

    idx = str(tmp_path / "srp_idx")
    monkeypatch.setattr(S, "srp_index_path", lambda _sf: idx)

    cold = S.q_ann_srp_persisted(spark, sf_dir).collect()
    inline = S.q_ann_srp(spark, sf_dir).collect()
    assert cold == inline and len(cold) > 0

    def _boom(*_a, **_k):
        raise AssertionError("corpus re-indexed on the warm search path")

    monkeypatch.setattr(S, "write_srp_partitioned", _boom)
    orig_sigs = S.srp_signatures

    def _query_side_only(vecs, *a, **k):
        n = vecs.limit(S._N_QUERIES + 1).count()
        assert n <= S._N_QUERIES, "corpus-side signature pass on warm path"
        return orig_sigs(vecs, *a, **k)

    monkeypatch.setattr(S, "srp_signatures", _query_side_only)
    warm_df = S.q_ann_srp_persisted(spark, sf_dir)
    assert warm_df.collect() == cold

    plan = warm_df._jdf.queryExecution().executedPlan().toString()
    filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("tbl" in f for f in filters), plan[:800]
    pushed = re.findall(r"DataFilters: \[([^\]]*)", plan)
    assert any("bucket" in f for f in pushed), plan[:800]


def test_srp_append_retires_ready_marker(spark, sf_dir, tmp_path, monkeypatch):
    """An append into a content-keyed SRP index retires its ready
    marker, like the IVFADC and SQ8 appends: the appended dir is no
    longer a pure function of the corpus, so ensure_srp_index must
    rebuild it and the graded q_ann_srp_persisted must never serve
    appended rows the oracle does not see. The planted rows (exact
    duplicates of the query vectors) do change a direct-path search,
    so a served stale index would show in the results."""
    import os

    from pyspark.sql import functions as F

    from mysense_spark.operators import similarity as S

    monkeypatch.setenv("MYSENSE_INDEX_DIR", str(tmp_path / "indexes"))
    idx = S.ensure_srp_index(spark, sf_dir)
    assert idx.startswith(str(tmp_path))
    assert os.path.exists(os.path.join(idx, "_INDEX_READY"))

    vecs = S._vectors(spark, sf_dir)
    planted = vecs.where(F.col("vec_id") < S._N_QUERIES).withColumn(
        "vec_id", F.col("vec_id") + 9000
    )
    S.write_srp_partitioned(planted, idx, append=True)
    assert not os.path.exists(os.path.join(idx, "_INDEX_READY"))
    assert os.path.exists(os.path.join(idx, "_INDEX_APPENDED"))
    direct = S.ann_srp_search_indexed(spark, vecs.unionByName(planted), idx).collect()
    top = {r["query_id"]: r["cand_id"] for r in direct if r["rank"] == 1}
    assert top == {q: q + 9000 for q in range(S._N_QUERIES)}

    assert S.ensure_srp_index(spark, sf_dir) == idx
    assert os.path.exists(os.path.join(idx, "_INDEX_READY"))
    assert not os.path.exists(os.path.join(idx, "_INDEX_APPENDED"))
    persisted = S.q_ann_srp_persisted(spark, sf_dir).collect()
    assert persisted == S.q_ann_srp(spark, sf_dir).collect() and persisted


def test_sq8_persisted_search_reads_not_requantizes(spark, sf_dir, tmp_path, monkeypatch):
    """The SQ8 half of the persisted lifecycle (r15): the graded search
    equals the inline ann_sq8 grading (the index is a pure function of
    the corpus), and the warm path holds NO stats pass and NO encode —
    both training entry points are poisoned; only the persisted params
    JSON and codes parquet may feed the search."""
    from mysense_spark.operators import similarity as S

    idx = str(tmp_path / "sq8_idx")
    monkeypatch.setattr(S, "sq8_index_path", lambda _sf: idx)

    cold = S.q_ann_sq8_persisted(spark, sf_dir).collect()
    inline = S.q_ann_sq8(spark, sf_dir).collect()
    assert cold == inline and len(cold) > 0

    def _boom(*_a, **_k):
        raise AssertionError("quantizer retrained/re-encoded on the warm path")

    monkeypatch.setattr(S, "sq8_params", _boom)
    monkeypatch.setattr(S, "sq8_encode", _boom)
    warm_df = S.q_ann_sq8_persisted(spark, sf_dir)
    assert warm_df.collect() == cold


def test_sq8_index_append_exact_or_refused(spark, sf_dir, tmp_path, monkeypatch):
    """The SQ8 maintenance posture (r15): appends are EXACT-OR-REFUSED.
    (a) an in-range batch (planted duplicates of the query vectors —
    every value inside the trained per-dim ranges by construction)
    appends without retraining and the planted vectors come back at
    rank 1 with cosine 1.0 through the direct-path search; (b) the
    append retires _INDEX_READY so the graded ensure path treats the
    dir as a cache miss; (c) a batch escaping any dimension's trained
    [min, max] is REFUSED loudly (rail clipping would silently corrupt
    that vector's ranking), leaving the index untouched."""
    import os

    from pyspark.sql import functions as F

    from mysense_spark.operators import similarity as S

    idx = str(tmp_path / "sq8_idx")
    monkeypatch.setattr(S, "sq8_index_path", lambda _sf: idx)
    S.ensure_sq8_index(spark, sf_dir)

    vecs = S._vectors(spark, sf_dir).select("vec_id", "label", "v", "norm")
    planted = vecs.where(F.col("vec_id") < S._N_QUERIES).withColumn(
        "vec_id", F.col("vec_id") + 9000
    )
    assert os.path.exists(os.path.join(idx, "_INDEX_READY"))
    S.sq8_index_append(spark, planted, idx)
    assert not os.path.exists(os.path.join(idx, "_INDEX_READY"))
    assert os.path.exists(os.path.join(idx, "_INDEX_APPENDED"))

    vecs_plus = vecs.unionByName(planted)
    out = S.ann_sq8_search_indexed(spark, vecs_plus, idx).collect()
    top = {r["query_id"]: (r["cand_id"], r["cosine"]) for r in out if r["rank"] == 1}
    for q in range(S._N_QUERIES):
        assert top[q] == (q + 9000, 1.0), (q, top.get(q))

    # (c) out-of-range batch: scale a vector past the trained max
    n_files = sum(len(fs) for _r, _d, fs in os.walk(os.path.join(idx, "codes")))
    breach = planted.withColumn(
        "v", F.expr("transform(v, x -> x * CAST(10.0 AS DOUBLE))")
    ).withColumn("vec_id", F.col("vec_id") + 100)
    with pytest.raises(ValueError, match="escapes the trained range"):
        S.sq8_index_append(spark, breach, idx)
    assert (
        sum(len(fs) for _r, _d, fs in os.walk(os.path.join(idx, "codes"))) == n_files
    ), "refused append mutated the codes layout"


def test_index_root_is_private_and_env_overridable(tmp_path, monkeypatch):
    """The persisted-index cache root (r15 advice): content-keyed dirs
    must live under a per-user 0700 root — never a predictable
    world-shared /tmp name another local user could pre-plant a
    poisoned _INDEX_READY dir into — and MYSENSE_INDEX_DIR must
    override the location for deployments with their own cache
    discipline."""
    import os
    import stat

    from mysense_spark.operators import similarity as S

    override = tmp_path / "cache" / "idx_root"
    monkeypatch.setenv("MYSENSE_INDEX_DIR", str(override))
    root = S._index_root()
    assert root == str(override) and os.path.isdir(root)
    assert stat.S_IMODE(os.stat(root).st_mode) == 0o700
    # a loose pre-existing root gets its group/other bits stripped
    os.chmod(root, 0o755)
    assert stat.S_IMODE(os.stat(S._index_root()).st_mode) == 0o700
    p = S._index_path("/root/testdata/sf0.001", "probe|v1")
    assert p.startswith(root + os.sep)

    monkeypatch.delenv("MYSENSE_INDEX_DIR")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    assert S._index_root() == str(tmp_path / "xdg" / "mysense_index")


def test_ensure_index_rebuilds_after_marker_retirement(tmp_path):
    """The append cache-coherence contract (r15 advice): retiring
    _INDEX_READY (what ivfadc_index_append does before mutating a dir)
    must turn the next ensure into a cache MISS that rebuilds from
    scratch — an appended index is no longer a pure function of the
    corpus fingerprint its directory name encodes."""
    import os

    from mysense_spark.operators import similarity as S

    calls = []

    def build(d):
        os.makedirs(d)
        calls.append(d)
        with open(os.path.join(d, "data"), "w") as f:
            f.write("payload\n")

    final = str(tmp_path / "idx")
    assert S._ensure_index(final, build) == final
    assert len(calls) == 1
    S._ensure_index(final, build)  # warm: marker present, no rebuild
    assert len(calls) == 1
    os.replace(
        os.path.join(final, "_INDEX_READY"),
        os.path.join(final, "_INDEX_APPENDED"),
    )
    S._ensure_index(final, build)  # retired marker: full rebuild
    assert len(calls) == 2
    assert os.path.exists(os.path.join(final, "_INDEX_READY"))
    assert not os.path.exists(os.path.join(final, "_INDEX_APPENDED"))


def test_ensure_index_stale_sweep_uses_tree_mtime(tmp_path):
    """The stale-build sweep's liveness signal (r15 advice): a build
    whose TOP directory is >1 h old but which is still writing deep
    inside a partitioned layout must survive the sweep (directory
    mtime only moves on direct-child changes); a tree old everywhere
    is swept."""
    import os
    import time

    from mysense_spark.operators import similarity as S

    final = str(tmp_path / "idx")
    old = time.time() - 7200

    live = f"{final}.build.111"
    deep = os.path.join(live, "codes", "cent_id=3")
    os.makedirs(deep)
    with open(os.path.join(deep, "part-0.parquet"), "w") as f:
        f.write("fresh\n")  # just written: builder is alive
    for p in (live, os.path.join(live, "codes")):
        os.utime(p, (old, old))

    dead = f"{final}.build.222"
    os.makedirs(os.path.join(dead, "codes"))
    with open(os.path.join(dead, "codes", "part-0.parquet"), "w") as f:
        f.write("stale\n")
    for dirpath, dirs, files in os.walk(dead, topdown=False):
        for name in dirs + files:
            os.utime(os.path.join(dirpath, name), (old, old))
    os.utime(dead, (old, old))

    def build(d):
        os.makedirs(d)

    S._ensure_index(final, build)
    assert os.path.isdir(live), "live deep-writing build was swept"
    assert not os.path.exists(dead), "stale build survived the sweep"


def test_srp_compacted_layout_prunes_and_matches(spark, sf_dir, tmp_path, monkeypatch):
    """compact_srp_index: (a) the compacted layout has exactly ONE file
    per tbl directory (the small-files fix is real); (b) the graded
    search over it equals the inline ann_srp grading (compaction is
    invisible to results); (c) pruning survives — the scan carries a
    tbl PartitionFilter and the bucket predicate is pushed to parquet
    (row-group stats prune on the sorted bucket column); (d) compacting
    in place leaves the marker files untouched."""
    import os
    import re

    from mysense_spark.operators import similarity as S

    idx = str(tmp_path / "srp_comp")
    monkeypatch.setattr(
        S, "_index_path", lambda _sf, params: idx if params.startswith("srp-comp") else str(tmp_path / "other")
    )
    out = S.q_ann_srp_compacted(spark, sf_dir)
    rows = out.collect()
    inline = S.q_ann_srp(spark, sf_dir).collect()
    assert rows == inline and len(rows) > 0

    def one_file_per_tbl():
        tbl_dirs = [d for d in os.listdir(idx) if d.startswith("tbl=")]
        assert len(tbl_dirs) == S._SRP_TABLES
        for d in tbl_dirs:
            files = [f for f in os.listdir(os.path.join(idx, d)) if f.endswith(".parquet")]
            assert len(files) == 1, (d, files)

    one_file_per_tbl()
    assert os.path.exists(os.path.join(idx, "_INDEX_READY"))

    plan = out._jdf.queryExecution().executedPlan().toString()
    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("tbl" in f for f in pf), plan[:800]
    pushed = re.findall(r"DataFilters: \[([^\]]*)", plan)
    assert any("bucket" in f for f in pushed), plan[:800]

    # (d) re-compact in place: both markers keep their inode, mtime and
    # bytes; the layout and the search results stay the same
    with open(os.path.join(idx, "_INDEX_APPENDED"), "w") as f:
        f.write("appended\n")

    def marker_state():
        state = {}
        for mk in ("_INDEX_READY", "_INDEX_APPENDED"):
            st = os.stat(os.path.join(idx, mk))
            with open(os.path.join(idx, mk)) as f:
                state[mk] = (st.st_ino, st.st_mtime_ns, f.read())
        return state

    before = marker_state()
    S.compact_srp_index(spark, idx)
    assert marker_state() == before
    one_file_per_tbl()
    vecs = S._vectors(spark, sf_dir)
    assert S.ann_srp_search_indexed(spark, vecs, idx).collect() == inline


def test_srp_compaction_crash_points_keep_the_index(spark, sf_dir, tmp_path, monkeypatch):
    """compact_srp_index works in place (list, stage, move, delete), so
    an interruption at any step leaves a superset of the signature rows
    at the index path: after a crash in the stage write, in the k-th
    file move or in the k-th delete, the index reads back exactly the
    srp_signatures set (duplicate rows allowed — the search pools
    distinct cand_ids), and a re-run compacts it to one file per tbl
    dir with the same set. A compaction that swaps the index out and
    the stage in by two renames fails this: a crash between them
    leaves no index at the path."""
    import os
    import shutil

    from pyspark.sql import functions as F
    from pyspark.sql.readwriter import DataFrameWriter

    from mysense_spark.operators import similarity as S

    vecs = S._vectors(spark, sf_dir).where(F.col("vec_id") < 200)
    want = {tuple(r) for r in S.srp_signatures(vecs).select("vec_id", "tbl", "bucket").collect()}
    idx = str(tmp_path / "srp_idx")

    def build():
        shutil.rmtree(idx, ignore_errors=True)
        S.write_srp_partitioned(vecs.where(F.col("vec_id") % 2 == 0), idx)
        S.write_srp_partitioned(vecs.where(F.col("vec_id") % 2 == 1), idx, append=True)

    def read_back():
        return {
            tuple(r) for r in spark.read.parquet(idx).select("vec_id", "tbl", "bucket").collect()
        }

    class Crash(Exception):
        pass

    def counting(name, crash_at=None):
        orig = getattr(os, name)
        calls = []

        def hook(*a, **k):
            calls.append(a)
            if len(calls) == crash_at:
                raise Crash(f"{name} #{crash_at}")
            return orig(*a, **k)

        return hook, calls

    # a clean run counts the moves (os.rename) and deletes (os.remove)
    build()
    with monkeypatch.context() as m:
        rename, moves = counting("rename")
        remove, deletes = counting("remove")
        m.setattr(os, "rename", rename)
        m.setattr(os, "remove", remove)
        S.compact_srp_index(spark, idx)
    assert moves and read_back() == want

    orig_parquet = DataFrameWriter.parquet

    def stage_write_then_crash(self, path, *a, **k):
        orig_parquet(self, path, *a, **k)
        raise Crash("stage write")

    cases = [("stage write", DataFrameWriter, "parquet", stage_write_then_crash)]
    for name, n in (("rename", len(moves)), ("remove", len(deletes))):
        for k in sorted({1, (n + 1) // 2, n}) if n else ():
            cases.append((f"{name} #{k}", os, name, counting(name, crash_at=k)[0]))
    for label, target, attr, hook in cases:
        build()
        with monkeypatch.context() as m:
            m.setattr(target, attr, hook)
            try:
                S.compact_srp_index(spark, idx)
            except Crash:
                pass
            else:
                raise AssertionError(f"{label}: crash point never reached")
        assert read_back() == want, label
        S.compact_srp_index(spark, idx)
        assert read_back() == want, label
        for d in (d for d in os.listdir(idx) if d.startswith("tbl=")):
            files = [f for f in os.listdir(os.path.join(idx, d)) if f.endswith(".parquet")]
            assert len(files) == 1, (label, d, files)
