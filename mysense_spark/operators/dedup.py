"""Deduplication operators over `documents` / `embeddings` — the
training-data-pipeline dedup family: exact hash, n-gram Jaccard, MinHash +
LSH banding, SimHash, embedding-cosine near-dup.

Scale design (100 TB corpus):
- exact dedup: one shuffle on the content hash.
- n-gram Jaccard is quadratic per shingle bucket — usable as the VERIFY
  step only; candidate generation must come from LSH.
- MinHash+LSH: shingle -> 16 deterministic hash slots -> 4 bands of 4;
  candidate pairs only within equal band keys (equi-join, shuffle on band
  key) — the classic near-linear near-dup pipeline. Hash base is
  md5-derived so the DuckDB oracle reproduces it bit-for-bit.
- SimHash: 32-bit signature per doc; pairs within hamming distance 6.
  At scale the pair join is blocked by signature prefix; here the corpus
  is small enough to verify exhaustively.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import tracked_persist
from ..io import load

_WORD_RE = "[a-z0-9]+"
_P = 1_000_000_007  # hash modulus; keeps a*h+b within int64 for both engines
_N_HASHES = 16
_N_BANDS = 4
_ROWS_PER_BAND = 4
# deterministic affine permutation parameters (a odd, fixed seed-free)
_HASH_A = [2 * i * i + 3 * i + 7 for i in range(1, _N_HASHES + 1)]
_HASH_B = [5 * i * i + 11 * i + 13 for i in range(1, _N_HASHES + 1)]

_JACCARD_THRESHOLD = 0.05

# Hot-shingle document-frequency cap for the Jaccard verify tier: a
# stop-shingle ("the of the"-class gram present in ~every doc) makes one
# join bucket O(N^2) — and the OUTPUT explodes, so AQE skew-split can't
# save it. Production near-dup pipelines drop grams above a df threshold
# before pairing; that changes Jaccard only for pathological grams. Cap =
# max(_DF_CAP_MIN, ceil(0.5% of corpus)) — tiny corpora keep full
# semantics, big ones get a hard bucket bound. Mirrored in the oracle so
# the gate hash still proves parity over the capped universe.
_DF_CAP_MIN = 25
_DF_CAP_DEN = 200  # 1/200 = 0.5 % of docs


def _h60(c: Column) -> Column:
    """Full 60-bit md5 hash (no modulus) — the join/count-safe form."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def _hashed_shingles(doc: DataFrame) -> DataFrame:
    """Distinct word-3-gram shingles per doc as 60-bit int64 hashes: the
    narrow form every shingle join/count uses — an 8-byte shuffle key
    instead of a ~40-byte string (5x less shuffle volume on the fattest
    joins in the dedup family). Set semantics are over the hash; at 60
    bits the birthday collision odds are ~1e-5 corpus-wide, and the
    DuckDB twin applies the identical hash, so the gate stays bit-exact
    either way."""
    words = F.expr(f"regexp_extract_all(text, '{_WORD_RE}', 0)")
    tri = F.expr(
        "transform(sequence(0, size(words) - 3), i -> "
        "concat(words[i], ' ', words[i+1], ' ', words[i+2]))"
    )
    return (
        doc.select("doc_id", words.alias("words"))
        .where(F.size("words") >= 3)
        .select("doc_id", F.explode(tri).alias("shingle"))
        .select("doc_id", _h60(F.col("shingle")).alias("hsh"))
        .distinct()
    )


_SQL_HASHED_SHINGLES = f"""
  SELECT DISTINCT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS hsh
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(len(w) - 2),
                                 i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS shingle
    FROM (SELECT doc_id, regexp_extract_all(text, '{_WORD_RE}') AS w FROM documents)
    WHERE len(w) >= 3
  )
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by normalized-content hash, keep min doc_id as
    representative (one shuffle on the hash — the 100 TB-safe baseline)."""
    doc = load(spark, sf_dir, "documents")
    # explicit whitespace class: Java \s includes \x0B, RE2 (the
    # oracle) does not — a vertical-tab doc would hash differently
    norm = F.trim(F.regexp_replace(F.lower("text"), r"[ \t\n\r\f\x0B]+", " "))
    return (
        doc.withColumn("fingerprint", F.md5(norm))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("keep_doc_id")
    )


SQL_DEDUP_EXACT = r"""
SELECT md5(trim(regexp_replace(lower(text), '[ \t\n\r\f\x0B]+', ' ', 'g'))) AS fingerprint,
       min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM documents
GROUP BY 1
ORDER BY keep_doc_id
"""


def df_capped(raw: DataFrame, doc: DataFrame) -> DataFrame:
    """Drop shingles above the document-frequency cap from the distinct
    (doc_id, hsh) table before any self-join. Rows are distinct per doc,
    so count(*) per hsh IS the document frequency; heavy hitters are few
    by construction, so the anti-join build side broadcasts. The cap
    rides as a 1-row broadcast-crossJoin scalar so building this
    DataFrame never triggers an eager count() action. Shared by the
    graded query and tools/scaling_sweep.py so the measured join-row
    counts are measured on THIS code."""
    nd = doc.agg(F.count(F.lit(1)).alias("nd"))
    cap_col = F.greatest(
        F.lit(_DF_CAP_MIN).cast("long"),
        F.expr(f"(nd + {_DF_CAP_DEN - 1}) DIV {_DF_CAP_DEN}"),
    )
    hot = (
        raw.groupBy("hsh")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(nd))
        .where(F.col("df") > cap_col)
    )
    return raw.join(F.broadcast(hot.select("hsh")), "hsh", "left_anti")


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup verify step: word-3-gram Jaccard for all pairs sharing
    >= 1 shingle, threshold 0.05. The shingle equi-join bounds the pair
    explosion to co-bucketed docs (never a full cross join); shingles
    ride as 60-bit hashes so the self-join shuffles 8-byte keys; hot
    shingles (df above the df_capped cap) are dropped before the
    self-join so no bucket is ever quadratic in corpus size."""
    doc = load(spark, sf_dir, "documents")
    from .util import ieee_round

    # pin shingle-hash parallelism: the self-join output is much larger
    # than its input, so AQE (sizing on input bytes) would coalesce the
    # join down to 1-2 tasks and serialize the quadratic-per-bucket work
    par = spark.sparkContext.defaultParallelism
    raw = tracked_persist(_hashed_shingles(doc).repartition(par, "hsh"))
    # persist the post-cap join input too: it feeds THREE consumers
    # (sizes + both self-join sides) — raw's cache alone would re-run
    # the heavy-hitter agg and anti-join once per branch
    sh = tracked_persist(df_capped(raw, doc))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.hsh") == F.col("b.hsh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("d1"), F.col("n_shingles").alias("n1"))
    sb = sizes.select(F.col("doc_id").alias("d2"), F.col("n_shingles").alias("n2"))
    jac = F.col("common") / (F.col("n1") + F.col("n2") - F.col("common"))
    # floor-form round before the >= threshold (membership parity)
    return (
        common.join(F.broadcast(sa), "d1")
        .join(F.broadcast(sb), "d2")
        .withColumn("jaccard", ieee_round(jac, 6))
        .where(F.col("jaccard") >= _JACCARD_THRESHOLD)
        .select("d1", "d2", "common", "jaccard")
        .orderBy("d1", "d2")
    )


def _sql_ngram_jaccard() -> str:
    from .util import sql_ieee_round

    jac = sql_ieee_round("common / (sa.n_shingles + sb.n_shingles - common)", 6)
    cap = (
        f"greatest({_DF_CAP_MIN}, "
        f"((SELECT count(*) FROM documents) + {_DF_CAP_DEN - 1}) // {_DF_CAP_DEN})"
    )
    return f"""
WITH raw AS ({_SQL_HASHED_SHINGLES}),
hot AS (SELECT hsh FROM raw GROUP BY hsh HAVING count(*) > {cap}),
sh AS (SELECT * FROM raw WHERE hsh NOT IN (SELECT hsh FROM hot)),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
  FROM sh a JOIN sh b ON a.hsh = b.hsh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2, common,
       {jac} AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = d1
JOIN sizes sb ON sb.doc_id = d2
WHERE {jac} >= {_JACCARD_THRESHOLD}
ORDER BY d1, d2
"""


SQL_NGRAM_JACCARD_PAIRS = _sql_ngram_jaccard()


def minhash_bands(sh: DataFrame) -> DataFrame:
    """Banding stage over the minhash-domain shingle table (doc_id, h):
    16 affine min-hashes, 4 bands of 4 rows -> (doc_id, band_id,
    band_key). Shared by the graded query and tools/scaling_sweep.py so
    the measured candidate counts are measured on THIS code."""
    minhash_aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % _P).alias(f"m{i}")
        for i, (a, b) in enumerate(zip(_HASH_A, _HASH_B))
    ]
    sig = sh.groupBy("doc_id").agg(*minhash_aggs)
    band_keys = F.array(
        *[
            F.concat_ws(
                "_", *[F.col(f"m{b * _ROWS_PER_BAND + r}") for r in range(_ROWS_PER_BAND)]
            )
            for b in range(_N_BANDS)
        ]
    )
    return sig.select("doc_id", F.posexplode(band_keys).alias("band_id", "band_key"))


def minhash_candidates(bands: DataFrame) -> DataFrame:
    """Candidate pairs from the banding equi-join: distinct (d1, d2)
    sharing any (band_id, band_key)."""
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding near-dup candidates, verified with exact
    Jaccard. 16 affine min-hashes over md5-based shingle hashes; 4 bands
    of 4 rows; pairs sharing any band key become candidates; candidates
    are then verified (exact Jaccard >= threshold).

    This is the scale path: signatures are one groupBy over shingles,
    banding is an equi-join on (band_id, band_key) — no quadratic stage
    touches the full corpus. Shingles ride as 60-bit int64 hashes
    end-to-end (8-byte shuffle keys); the affine minhash domain is the
    60-bit hash % _P, identical to the previous string-keyed form."""
    from .util import ieee_round

    doc = load(spark, sf_dir, "documents")
    # persist the hashed shingle table (r15 optimization pass): it
    # feeds FIVE consumers (both banding self-join sides, sizes, both
    # Jaccard-verify sides) — uncached, each branch re-scans the corpus
    # and re-extracts shingles (the source_overlap/incremental_dedup
    # discipline applied to the batch query; 12 parquet scans -> 2 in
    # the executed plan). The bands table likewise feeds both sides of
    # the candidate self-join.
    sh = tracked_persist(_hashed_shingles(doc).withColumn("h", F.col("hsh") % _P))
    cand = minhash_candidates(tracked_persist(minhash_bands(sh)))
    # verify candidates with exact Jaccard (reuses the hashed shingle sets)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    s1 = sh.select(F.col("doc_id").alias("sd1"), F.col("hsh").alias("h1"))
    s2 = sh.select(F.col("doc_id").alias("sd2"), F.col("hsh").alias("h2"))
    common = (
        cand.join(s1, F.col("d1") == F.col("sd1"))
        .join(s2, (F.col("d2") == F.col("sd2")) & (F.col("h1") == F.col("h2")))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("d1"), F.col("n_shingles").alias("n1"))
    sb = sizes.select(F.col("doc_id").alias("d2"), F.col("n_shingles").alias("n2"))
    jac = F.col("common") / (F.col("n1") + F.col("n2") - F.col("common"))
    return (
        common.join(sa, "d1")
        .join(sb, "d2")
        .withColumn("jaccard", ieee_round(jac, 6))
        .where(F.col("jaccard") >= _JACCARD_THRESHOLD)
        .select("d1", "d2", "jaccard")
        .orderBy("d1", "d2")
    )


def _sql_minhash() -> str:
    mins = ", ".join(
        f"min(({a} * h + {b}) % {_P}) AS m{i}" for i, (a, b) in enumerate(zip(_HASH_A, _HASH_B))
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {bid} AS band_id, ".format(bid=b)
        + " || '_' || ".join(f"CAST(m{b * _ROWS_PER_BAND + r} AS VARCHAR)" for r in range(_ROWS_PER_BAND))
        + " AS band_key FROM sig"
        for b in range(_N_BANDS)
    )
    from .util import sql_ieee_round

    jac = sql_ieee_round("common / (sa.n_shingles + sb.n_shingles - common)", 6)
    return f"""
WITH sh AS (
  SELECT doc_id, hsh, hsh % {_P} AS h
  FROM ({_SQL_HASHED_SHINGLES})
),
sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
bands AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
common AS (
  SELECT c.d1, c.d2, count(*) AS common
  FROM cand c
  JOIN sh a ON a.doc_id = c.d1
  JOIN sh b ON b.doc_id = c.d2 AND a.hsh = b.hsh
  GROUP BY c.d1, c.d2
)
SELECT d1, d2,
       {jac} AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = d1
JOIN sizes sb ON sb.doc_id = d2
WHERE {jac} >= {_JACCARD_THRESHOLD}
ORDER BY d1, d2
"""


SQL_MINHASH_LSH_PAIRS = _sql_minhash()

# the pairs SQL as an embeddable CTE body (presentation ORDER BY
# stripped) — shared by every oracle that composes on the pair list
_PAIRS_CTE = SQL_MINHASH_LSH_PAIRS.strip().removesuffix("ORDER BY d1, d2")


def q_cross_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test leakage audit: verified near-dup pairs (the
    minhash_lsh_pairs tier — LSH candidates, exact-Jaccard verified)
    whose two members land in DIFFERENT splits of the deterministic md5
    train/val/test split (sampling.hash_sample's rule). A near-dup of a
    training document sitting in val/test is eval contamination; this
    is the audit every split must pass before benchmark numbers mean
    anything — dedup ACROSS splits, not just within them.

    Scale shape: everything minhash_lsh_pairs costs, plus two narrow
    hash-joins of the (doc_id, split) projection onto the pair list —
    the split column derives from md5(doc_id), so no extra state ships
    anywhere."""
    from .sampling import _TRAIN_PCT, _VAL_PCT, _bucket

    pairs = q_minhash_lsh_pairs(spark, sf_dir)
    doc = load(spark, sf_dir, "documents")
    b = _bucket(F.col("doc_id"))
    split = F.when(b < _TRAIN_PCT, "train").when(b < _VAL_PCT, "val").otherwise("test")
    splits = doc.select("doc_id", split.alias("split"))
    s1 = splits.select(F.col("doc_id").alias("d1"), F.col("split").alias("split1"))
    s2 = splits.select(F.col("doc_id").alias("d2"), F.col("split").alias("split2"))
    return (
        pairs.join(s1, "d1")
        .join(s2, "d2")
        .where(F.col("split1") != F.col("split2"))
        .select("d1", "split1", "d2", "split2", "jaccard")
        .orderBy("d1", "d2")
    )


def _sql_cross_split_leakage() -> str:
    from .sampling import _TRAIN_PCT, _VAL_PCT, SQL_DOC_BUCKET

    return f"""
WITH npairs AS ({_PAIRS_CTE}),
splits AS (
  SELECT doc_id,
         CASE WHEN b < {_TRAIN_PCT} THEN 'train'
              WHEN b < {_VAL_PCT} THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT doc_id, {SQL_DOC_BUCKET} AS b FROM documents)
)
SELECT d1, s1.split AS split1, d2, s2.split AS split2, jaccard
FROM npairs
JOIN splits s1 ON d1 = s1.doc_id
JOIN splits s2 ON d2 = s2.doc_id
WHERE s1.split <> s2.split
ORDER BY d1, d2
"""


SQL_CROSS_SPLIT_LEAKAGE = _sql_cross_split_leakage()


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level cross-source duplication matrix: for every pair of
    sources, how many word-3-gram shingle hashes they share and the
    Jaccard of their shingle SETS — the provenance view of dedup (doc
    pairs say who copies whom; this says which FEEDS overlap, which is
    what decides crawl scheduling and mixing weights).

    Scale shape: shingles collapse to distinct (source, hsh) first, so
    the self-join bucket per shingle is bounded by the SOURCE count,
    never the corpus; pair rows aggregate immediately into the S x S
    matrix. With thousands of sources a universal shingle still fans
    out S^2 — the same df-cap treatment as ngram_jaccard_pairs applies
    if that regime is real; at the graded scales S is small."""
    from .util import ieee_round

    doc = load(spark, sf_dir, "documents")
    # persist the distinct (source, hsh) set: it feeds three consumers
    # (sizes + both self-join sides) — uncached, each branch would
    # re-scan the corpus and re-extract shingles
    sh = tracked_persist(
        _hashed_shingles(doc)
        .join(doc.select("doc_id", "source"), "doc_id")
        .select("source", "hsh")
        .distinct()
    )
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("source").alias("source_a"), "hsh")
    b = sh.select(F.col("source").alias("source_b"), "hsh")
    common = (
        a.join(b, "hsh")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("common_shingles"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n_sh").alias("nb"))
    jac = F.col("common_shingles") / (F.col("na") + F.col("nb") - F.col("common_shingles"))
    return (
        common.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "common_shingles",
            ieee_round(jac, 6).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


def _sql_source_overlap() -> str:
    from .util import sql_ieee_round

    jac = sql_ieee_round("common_shingles / (sa.n_sh + sb.n_sh - common_shingles)", 6)
    return f"""
WITH sh AS (
  SELECT DISTINCT d.source, h.hsh
  FROM ({_SQL_HASHED_SHINGLES}) h JOIN documents d ON h.doc_id = d.doc_id
),
sizes AS (SELECT source, count(*) AS n_sh FROM sh GROUP BY source),
common AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS common_shingles
  FROM sh a JOIN sh b ON a.hsh = b.hsh AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, common_shingles, {jac} AS jaccard
FROM common
JOIN sizes sa ON sa.source = source_a
JOIN sizes sb ON sb.source = source_b
ORDER BY source_a, source_b
"""


SQL_SOURCE_OVERLAP = _sql_source_overlap()

_SIMHASH_BITS = 60  # md5 15-hex-char word hash = 60 usable bits
_HAMMING_MAX = 3


def simhash_signatures(doc: DataFrame) -> DataFrame:
    """(doc_id, simhash): 60-bit signature from md5 word hashes via
    weighted bit voting. Shared by the graded query and
    tools/scaling_sweep.py so the measured candidate counts are measured
    on THIS code."""
    words = F.explode(F.expr(f"regexp_extract_all(text, '{_WORD_RE}', 0)")).alias("word")
    tok = doc.select("doc_id", words)
    h = F.conv(F.substring(F.md5(F.col("word")), 1, 15), 16, 10).cast("long")
    tok = tok.withColumn("h", h)
    bit_votes = [
        F.sum(F.when(F.shiftright(F.col("h"), k).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"v{k}")
        for k in range(_SIMHASH_BITS)
    ]
    votes = tok.groupBy("doc_id").agg(*bit_votes)
    sig: Column = F.lit(0).cast("long")
    for k in range(_SIMHASH_BITS):
        sig = sig + F.when(F.col(f"v{k}") > 0, F.lit(1 << k).cast("long")).otherwise(F.lit(0).cast("long"))
    return votes.select("doc_id", sig.alias("simhash"))


def simhash_blocks(sigs: DataFrame) -> DataFrame:
    """Hamming-LSH candidate generation (pigeonhole): split the 60-bit
    signature into HAMMING_MAX+1 = 4 chunks; two signatures within
    hamming distance 3 must agree exactly on at least one chunk, so an
    equi-join on (chunk_id, chunk_value) has guaranteed recall — the
    result set is identical to the exhaustive O(N^2) scan, but the join
    is a plain shuffle-hash equi-join (Manku et al., WWW'07, with
    blocks = k+1)."""
    widths = [15, 15, 15, 15]  # sums to _SIMHASH_BITS
    starts = [sum(widths[:c]) for c in range(len(widths))]
    chunk_exprs = [
        F.shiftright(F.col("simhash"), s).bitwiseAND(F.lit((1 << w) - 1)).cast("long")
        for s, w in zip(starts, widths)
    ]
    return sigs.select(
        "doc_id", "simhash", F.posexplode(F.array(*chunk_exprs)).alias("chunk_id", "chunk_val")
    )


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 60-bit signature from md5 word hashes (weighted
    bit voting), pairs within hamming distance <= 3 via bit_count(xor) —
    the Manku et al. (WWW'07) configuration (64-bit/k=3 there; 60 bits
    here because one md5 draw yields 15 hex chars inside int64 range).
    Candidates come from pigeonhole chunk blocking (equi-join, never a
    cross join); the DuckDB oracle stays exhaustive to prove the blocking
    loses nothing.

    Chunk width is the selectivity knob: a narrow signature (32-bit, 4-5
    bit chunks) was measured to produce MORE candidate pairs than the
    exhaustive scan at sf0.1 (33M vs 12.5M; simhash bits are low-entropy
    because docs share dominant words, so small chunks mega-bucket). The
    k+1 = 4 chunks of 15 bits cut candidates 57x below exhaustive at
    sf0.1.

    Selectivity boundary (measured, SCALING.md): the candidate fraction
    shrinks relative to N^2 only while signature entropy grows with the
    corpus (open vocabulary). On an entropy-starved corpus (the sf1.0
    synthetic's closed 30-word vocabulary) signatures concentrate and
    the chunk join plateaus at a constant ~2.3% of exhaustive — still
    44x below N^2/2, but growing quadratically in absolute terms; for
    such corpora minhash_lsh_pairs is the scale tier (8 ppm of
    exhaustive at the same point)."""
    doc = load(spark, sf_dir, "documents")
    # persist the blocked signatures (r15 optimization pass): the
    # self-join consumes them twice, and the 60-vote signature
    # aggregation over the exploded word stream is the query's dominant
    # stage — uncached it runs once per side (one side's exchange
    # becomes a BroadcastExchange, so ReuseExchange cannot kick in)
    blocks = tracked_persist(simhash_blocks(simhash_signatures(doc)))
    a = blocks.alias("a")
    b = blocks.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .withColumn("hamming", ham)
        .where(F.col("hamming") <= _HAMMING_MAX)
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"), "hamming")
        .distinct()
        .orderBy("d1", "d2")
    )


def _sql_simhash() -> str:
    vote_cols = ", ".join(
        f"sum(CASE WHEN (h // {1 << k}) % 2 = 1 THEN 1 ELSE -1 END) AS v{k}" for k in range(_SIMHASH_BITS)
    )
    sig = " + ".join(f"CASE WHEN v{k} > 0 THEN {1 << k}::BIGINT ELSE 0 END" for k in range(_SIMHASH_BITS))
    return f"""
WITH tok AS (
  SELECT doc_id,
         ('0x' || substr(md5(word), 1, 15))::BIGINT AS h
  FROM (SELECT doc_id, unnest(regexp_extract_all(text, '{_WORD_RE}')) AS word FROM documents)
),
votes AS (SELECT doc_id, {vote_cols} FROM tok GROUP BY doc_id),
sigs AS (SELECT doc_id, ({sig}) AS simhash FROM votes)
SELECT a.doc_id AS d1, b.doc_id AS d2,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_HAMMING_MAX}
ORDER BY d1, d2
"""


SQL_SIMHASH_PAIRS = _sql_simhash()

# real dedup pipelines use ~0.95; the synthetic embeddings are near-
# orthogonal (max pairwise cosine ~0.51), so the operator is exercised at
# the top of the observed distribution instead of returning nothing
_COSINE_THRESHOLD = 0.4
_EMBED_DIM = 64


_GEMM_BLOCKS = 8  # B: corpus splits into B hash blocks, B(B+1)/2 block pairs


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: pairs with cosine >= threshold over the
    embeddings table, brute force (the verify tier; LSH/IVF prunes first
    at scale — see similarity.py).

    Execution: block-pair GEMM, fully distributed — no driver
    materialization and no broadcast of the corpus. Each vector lands in
    one of B hash blocks; every block pair (i <= j) becomes one cogroup,
    whose task pulls just the two blocks (2N/B vectors) and runs one
    vectorized numpy GEMM. Replication is (B+1)/2 copies per vector in
    one shuffle; task memory scales as N/B, so B is the single knob that
    keeps blocks executor-sized as the corpus grows. Candidates are
    pre-filtered in numpy a hair below the threshold; the authoritative
    round(.,6)+filter stays JVM-side so rounding semantics match the SQL
    oracle exactly."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    from ..io import values_df

    B = _GEMM_BLOCKS
    pair_list = [(i, j) for i in range(B) for j in range(i, B)]
    # values_df, not createDataFrame: the latter routes a 36-row literal
    # through a Python-RDD scan (one worker per core, ~10 s first touch
    # on local[32]); VALUES is a JVM LocalRelation
    pair_df = values_df(
        emb.sparkSession,
        [(p, i, j) for p, (i, j) in enumerate(pair_list)],
        "pair_id int, bi int, bj int",
    )
    blocked = emb.withColumn("blk", F.pmod(F.hash("vec_id"), F.lit(B)))
    left = (
        blocked.alias("l")
        .join(F.broadcast(pair_df.alias("pl")), F.col("l.blk") == F.col("pl.bi"))
        .select(F.col("pl.pair_id").alias("pair_id"), F.col("l.vec_id").alias("vec_id"), F.col("l.v").alias("v"))
    )
    right = (
        blocked.alias("r")
        .join(F.broadcast(pair_df.alias("pr")), F.col("r.blk") == F.col("pr.bj"))
        .select(F.col("pr.pair_id").alias("pair_id"), F.col("r.vec_id").alias("vec_id"), F.col("r.v").alias("v"))
    )
    same_block = {p: i == j for p, (i, j) in enumerate(pair_list)}

    def gemm(key, lpdf, rpdf):
        import numpy as np
        import pandas as pd

        if lpdf.empty or rpdf.empty:
            return pd.DataFrame({"v1": [], "v2": [], "cosine_raw": []}).astype(
                {"v1": "int64", "v2": "int64", "cosine_raw": "float64"}
            )
        l_ids = lpdf["vec_id"].to_numpy().astype("int64")
        r_ids = rpdf["vec_id"].to_numpy().astype("int64")
        lm = np.vstack(lpdf["v"].to_numpy())
        rm = np.vstack(rpdf["v"].to_numpy())
        ln = np.sqrt((lm * lm).sum(axis=1))
        rn = np.sqrt((rm * rm).sum(axis=1))
        cos = (lm @ rm.T) / np.outer(ln, rn)
        if same_block[key[0]]:
            # diagonal block pair: both orders present, keep one
            mask = l_ids[:, None] < r_ids[None, :]
        else:
            # off-diagonal: each unordered pair appears exactly once
            mask = np.ones_like(cos, dtype=bool)
        # margin must exceed HALF the 6-dp rounding grid (5e-7): raw
        # cosines in [threshold-5e-7, threshold) round UP into membership,
        # and the oracle has no prefilter — a 1e-9 margin dropped them
        mask &= cos >= _COSINE_THRESHOLD - 1e-6
        r, c = np.nonzero(mask)
        a, b = l_ids[r], r_ids[c]
        if len(r):
            # authoritative raw value re-derived per candidate with
            # strictly LEFT-TO-RIGHT adds (np.add.accumulate is
            # sequential): the GEMM's blocked/FMA accumulation order is
            # not bit-identical to the oracle's sequential list_sum, so
            # a pair within an ulp of a rounding half-grid could flip
            # membership between engines; candidates are few, the
            # recompute is vectorized over pairs
            lv, rv = lm[r], rm[c]
            dots = np.add.accumulate(lv * rv, axis=1)[:, -1]
            lnorm = np.sqrt(np.add.accumulate(lv * lv, axis=1)[:, -1])
            rnorm = np.sqrt(np.add.accumulate(rv * rv, axis=1)[:, -1])
            raw = dots / (lnorm * rnorm)
        else:
            raw = np.zeros(0)
        return pd.DataFrame({"v1": np.minimum(a, b), "v2": np.maximum(a, b), "cosine_raw": raw})

    from .util import ieee_round

    pairs = (
        left.groupby("pair_id")
        .cogroup(right.groupby("pair_id"))
        .applyInPandas(gemm, schema="v1 long, v2 long, cosine_raw double")
    )
    return (
        pairs.withColumn("cosine", ieee_round(F.col("cosine_raw"), 6))
        .where(F.col("cosine") >= _COSINE_THRESHOLD)
        .select("v1", "v2", "cosine")
        .orderBy("v1", "v2")
    )


SQL_EMBEDDING_NEARDUP = f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS norm
  FROM embeddings
)
SELECT a.vec_id AS v1, b.vec_id AS v2,
       (floor((list_sum(list_transform(range(len(a.v)), i -> a.v[i+1] * b.v[i+1])) / (a.norm * b.norm)) * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE)) AS cosine
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE (floor((list_sum(list_transform(range(len(a.v)), i -> a.v[i+1] * b.v[i+1])) / (a.norm * b.norm)) * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE)) >= {_COSINE_THRESHOLD}
ORDER BY v1, v2
"""


_CC_MAX_ITERS = 64  # safety valve only — the loop breaks on convergence;
# 64 covers any plausible near-dup chain (the oracle resolves the full
# closure, so an unconverged component would be a gate red)


def _cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Converged Hash-Min label table (doc_id, label) over the verified
    MinHash-LSH pair graph — the shared core of q_neardup_clusters and
    q_dedup_keep_best (see q_neardup_clusters' docstring for the
    algorithm and its at-scale story)."""
    pairs = q_minhash_lsh_pairs(spark, sf_dir).select("d1", "d2")
    edges = (
        pairs.union(pairs.select(F.col("d2").alias("d1"), F.col("d1").alias("d2")))
        .repartition("d1")
    )
    edges = tracked_persist(edges)
    labels = (
        edges.select(F.col("d1").alias("doc_id")).distinct().withColumn("label", F.col("doc_id"))
    ).localCheckpoint(eager=True)
    for _ in range(_CC_MAX_ITERS):
        nbr_lab = labels.select(F.col("doc_id").alias("n_id"), F.col("label").alias("n_label"))
        nbr_min = (
            edges.join(nbr_lab, F.col("d2") == F.col("n_id"))
            .groupBy("d1")
            .agg(F.min("n_label").alias("nbr_min"))
        )
        new_labels = (
            labels.join(nbr_min, labels["doc_id"] == nbr_min["d1"], "left")
            .select(
                labels["doc_id"],
                F.least(labels["label"], F.coalesce(F.col("nbr_min"), labels["label"])).alias(
                    "label"
                ),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def _sized_clusters(labels):
    """(doc_id, cluster_id, cluster_size) from the converged label table
    — the assembly q_neardup_clusters and q_dedup_keep_best share."""
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "label").select(
        "doc_id", F.col("label").alias("cluster_id"), "cluster_size"
    )



def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster resolution: connected components over the verified
    MinHash-LSH pair graph, then one canonical keeper per cluster — the
    step every real dedup pipeline runs after pair generation (pairs alone
    don't tell you which docs to drop when A~B and B~C but A!~C).

    Algorithm: min-label propagation (Hash-Min): every node starts
    labelled with its own id; each round takes the min of its own and its
    neighbours' labels; converges in O(component diameter) rounds. Each
    round is one equi-join + one partial-aggregating groupBy on the edge
    list — no driver-side graph. Near-dup components are shallow (dozens
    of docs, diameter ~ a few hops), so the round count stays small even
    at corpus scale; for adversarial deep chains the large-star/small-star
    variant (Kiveris et al., SoCC'14) bounds rounds at O(log^2 n) with the
    same join-shape per round. Lineage is truncated per round with
    localCheckpoint (reliable checkpoint dir on a real cluster).

    Output: one row per doc that has at least one near-dup; `cluster_id`
    is the min doc_id in the component, `keep` marks the canonical
    representative (the one a dedup pass retains).
    """
    clusters = _sized_clusters(_cluster_labels(spark, sf_dir))
    return (
        clusters.select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            (F.col("doc_id") == F.col("cluster_id")).cast("int").alias("keep"),
        )
        .orderBy("cluster_id", "doc_id")
    )


def _sql_neardup_clusters() -> str:
    # transitive closure via recursive CTE (fine at oracle scale; the
    # Spark side is the iterative-join scale path)
    return f"""
WITH RECURSIVE pairs AS ({_PAIRS_CTE}),
edges AS (
  SELECT d1 AS u, d2 AS v FROM pairs
  UNION
  SELECT d2 AS u, d1 AS v FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
lab AS (
  SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       CAST(doc_id = cluster_id AS INT) AS keep
FROM lab
ORDER BY cluster_id, doc_id
"""


SQL_NEARDUP_CLUSTERS = _sql_neardup_clusters()


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative selection over the near-dup clusters: within each
    connected component keep the LONGEST document (tie: lowest doc_id) —
    the policy step after clustering that decides which rows actually
    survive dedup. Real pipelines keep the longest/highest-quality
    variant rather than an arbitrary min-id member: near-dup groups are
    typically truncations and boilerplate-wrapped copies of one
    canonical text.

    Scale shape: everything q_neardup_clusters costs, plus one narrow
    join against the (doc_id, n_chars) projection and a per-cluster
    window rank — both on keys already produced by the clustering;
    cluster sizes are small (near-dup components), so the window
    partition is bounded. The converged label table is computed here,
    not taken from an earlier q_neardup_clusters call.
    """
    from pyspark.sql import Window

    clusters = _sized_clusters(_cluster_labels(spark, sf_dir))
    doc = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        clusters.join(doc, "doc_id")
        .withColumn("keep", (F.row_number().over(w) == 1).cast("int"))
        .select("doc_id", "cluster_id", "cluster_size", "n_chars", "keep")
        .orderBy("cluster_id", "doc_id")
    )


def _sql_dedup_keep_best() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_PAIRS_CTE}),
edges AS (
  SELECT d1 AS u, d2 AS v FROM pairs
  UNION
  SELECT d2 AS u, d1 AS v FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
lab AS (
  SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
),
sized AS (
  SELECT doc_id, cluster_id,
         count(*) OVER (PARTITION BY cluster_id) AS cluster_size
  FROM lab
)
SELECT s.doc_id, s.cluster_id, s.cluster_size, d.n_chars,
       CAST(row_number() OVER (
              PARTITION BY s.cluster_id
              ORDER BY d.n_chars DESC, s.doc_id ASC) = 1 AS INT) AS keep
FROM sized s JOIN documents d ON s.doc_id = d.doc_id
ORDER BY s.cluster_id, s.doc_id
"""


SQL_DEDUP_KEEP_BEST = _sql_dedup_keep_best()


_DECON_N = 7  # shingle width: long enough that chance overlap ~ 0
_DECON_MIN_FRAC = 0.1  # report docs with >= 10% of their shingles in train


def q_decontam_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination: for every test-split document, the
    fraction of its distinct word-7-gram shingles that also occur in any
    train-split document — the benchmark-contamination check an LLM data
    pipeline runs before an eval split is trusted. Splits are the same
    deterministic md5 buckets as q_hash_sample, so the report composes
    with the split that training actually uses.

    Scale shape: shingles are hashed to FULL 60-bit ints before the
    join (the affine-domain % 1e9+7 form would false-hit ~1% of clean
    test shingles against a 10M-shingle train set — contamination
    inflation, not noise), so the probe is an equi-join on a long key
    (narrow shuffle), test-side only rows flow into the final agg, and
    the train side is a distinct-projection of hashes — no pairwise doc
    comparison anywhere. 60-bit chance collisions are negligible;
    planted near-dups across the split boundary surface at overlap ~ 1."""
    from .sampling import _TRAIN_PCT, _VAL_PCT, _bucket

    doc = load(spark, sf_dir, "documents")
    b = _bucket(F.col("doc_id"))
    split = F.when(b < _TRAIN_PCT, "train").when(b < _VAL_PCT, "val").otherwise("test")
    words = F.expr(f"regexp_extract_all(text, '{_WORD_RE}', 0)")
    grams = F.expr(
        f"transform(sequence(0, size(words) - {_DECON_N}), i -> "
        f"concat_ws(' ', slice(words, i + 1, {_DECON_N})))"
    )
    # persisted (r15 optimization pass): the train and test branches
    # below otherwise each re-scan the corpus and re-extract 7-gram
    # shingles — the same one-scan discipline as the LSH queries
    sh = tracked_persist(
        doc.select("doc_id", split.alias("split"), words.alias("words"))
        .where(F.size("words") >= _DECON_N)
        .select("doc_id", "split", F.explode(grams).alias("shingle"))
        .distinct()
        .select("doc_id", "split", _h60(F.col("shingle")).alias("h"))
    )
    train = sh.where(F.col("split") == "train").select("h").distinct()
    test = sh.where(F.col("split") == "test")
    # single pass over the test side: left join against the distinct train
    # hash set (<= 1 match per row), then one agg yields both the shingle
    # total and the hit count — the test side is scanned once, not twice
    per_doc = (
        test.join(train.withColumn("hit", F.lit(1)), "h", "left")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shingles"), F.count("hit").alias("n_hit"))
    )
    from .util import ieee_round

    # floor-form round before the >= threshold (membership parity)
    frac = ieee_round(F.col("n_hit") / F.col("n_shingles"), 6)
    return (
        per_doc.withColumn("overlap_frac", frac)
        .where(F.col("overlap_frac") >= _DECON_MIN_FRAC)
        .select("doc_id", "n_shingles", "n_hit", "overlap_frac")
        .orderBy("doc_id")
    )


def _sql_decontam() -> str:
    from .sampling import _TRAIN_PCT, _VAL_PCT, SQL_DOC_BUCKET
    from .util import sql_ieee_round

    j = " || ' ' || ".join(f"w[i+{k}]" for k in range(1, _DECON_N + 1))
    frac = sql_ieee_round("n_hit * 1.0 / n_shingles", 6)
    return f"""
WITH split AS (
  SELECT doc_id,
         CASE WHEN {SQL_DOC_BUCKET} < {_TRAIN_PCT}
              THEN 'train'
              WHEN {SQL_DOC_BUCKET} < {_VAL_PCT}
              THEN 'val' ELSE 'test' END AS split,
         regexp_extract_all(text, '{_WORD_RE}') AS w
  FROM documents
),
sh AS (
  SELECT doc_id, split, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
  FROM (
    SELECT DISTINCT doc_id, split,
           unnest(list_transform(range(len(w) - {_DECON_N - 1}), i -> {j})) AS shingle
    FROM split WHERE len(w) >= {_DECON_N}
  )
),
train AS (SELECT DISTINCT h FROM sh WHERE split = 'train'),
test AS (SELECT doc_id, h FROM sh WHERE split = 'test'),
totals AS (SELECT doc_id, count(*) AS n_shingles FROM test GROUP BY doc_id),
hits AS (
  SELECT t.doc_id, count(*) AS n_hit FROM test t JOIN train tr ON t.h = tr.h GROUP BY t.doc_id
)
SELECT doc_id, n_shingles, n_hit,
       {frac} AS overlap_frac
FROM totals JOIN hits USING (doc_id)
WHERE {frac} >= {_DECON_MIN_FRAC}
ORDER BY doc_id
"""


SQL_DECONTAM_REPORT = _sql_decontam()


_INCR_MOD = 10  # doc_id % 10 == 0 plays the "newly arrived batch"


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus ingestion dedup: a new document batch (docs
    with doc_id % 10 == 0, standing in for today's crawl) is checked
    against the existing corpus (all other docs) — first for exact
    duplicates by normalized-content fingerprint, then for near
    duplicates via the same MinHash/LSH banding the batch pipeline uses,
    verified with exact Jaccard. Every new doc gets one verdict:
    exact_dup / near_dup / unique, plus its best corpus match. This is
    the dedup mode a production pipeline actually runs daily — nobody
    re-pairs the whole corpus per crawl.

    Scale shape: fingerprints are one narrow projection per side joined
    on hash; LSH candidates come from an equi-join on (band_id,
    band_key) where the NEW side is small — at 100 TB the new batch's
    signatures broadcast, so the corpus is touched by exactly one scan.
    No quadratic stage.
    """
    raw = load(spark, sf_dir, "documents")
    # Fixture (the pii_scrub pattern): the synthetic corpus has no exact
    # duplicates, so every 20th new-batch doc takes the text of corpus
    # doc (doc_id + 1) — known-true positives for the exact tier,
    # constructed identically in both engines.
    donor = raw.select((F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("donor_text"))
    doc = raw.join(donor, "doc_id", "left").select(
        "doc_id",
        F.when(
            (F.col("doc_id") % 20 == 0) & F.col("donor_text").isNotNull(), F.col("donor_text")
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    # explicit whitespace class: Java \s includes \x0B, RE2 (the
    # oracle) does not — a vertical-tab doc would hash differently
    norm = F.trim(F.regexp_replace(F.lower("text"), r"[ \t\n\r\f\x0B]+", " "))
    tagged = doc.withColumn("is_new", F.col("doc_id") % _INCR_MOD == 0).withColumn(
        "fp", F.md5(norm)
    )
    new = tagged.where(F.col("is_new"))
    old = tagged.where(~F.col("is_new"))

    # tier 1: exact fingerprint match (best = min corpus doc_id)
    old_fp = old.groupBy("fp").agg(F.min("doc_id").alias("exact_match"))
    exact = new.select("doc_id", "fp").join(old_fp, "fp", "left").select("doc_id", "exact_match")

    # tier 2: MinHash/LSH near-dup candidates (new side vs corpus side).
    # The shingle table feeds four consumers (signatures, sizes, both
    # sides of the Jaccard verify) — persist it so the donor join + the
    # tokenizing regex run ONCE per corpus scan instead of four times
    # (at 100 TB this is the difference between one pass and four; the
    # production form checkpoints it to storage between stages). Shingles
    # ride as 60-bit int64 hashes (8-byte keys, smaller persist + 5x
    # narrower verify shuffle); the affine minhash domain is hash % _P.
    sh = tracked_persist(_hashed_shingles(doc).withColumn("h", F.col("hsh") % _P))
    # the SAME banding stage function the batch query and the scaling
    # sweep use — a banding-configuration change cannot silently leave
    # the incremental path on an old scheme (persisted: the new and old
    # sides below both re-aggregate it otherwise)
    bands = tracked_persist(minhash_bands(sh))
    nb = bands.where(F.col("doc_id") % _INCR_MOD == 0).alias("n")
    ob = bands.where(F.col("doc_id") % _INCR_MOD != 0).alias("o")
    cand = (
        F.broadcast(nb)
        .join(ob, (F.col("n.band_id") == F.col("o.band_id")) & (F.col("n.band_key") == F.col("o.band_key")))
        .select(F.col("n.doc_id").alias("d_new"), F.col("o.doc_id").alias("d_old"))
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    s1 = sh.select(F.col("doc_id").alias("sd1"), F.col("hsh").alias("h1"))
    s2 = sh.select(F.col("doc_id").alias("sd2"), F.col("hsh").alias("h2"))
    common = (
        cand.join(s1, F.col("d_new") == F.col("sd1"))
        .join(s2, (F.col("d_old") == F.col("sd2")) & (F.col("h1") == F.col("h2")))
        .groupBy("d_new", "d_old")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("d_new"), F.col("n_sh").alias("n1"))
    sb = sizes.select(F.col("doc_id").alias("d_old"), F.col("n_sh").alias("n2"))
    from .util import ieee_round

    jac = ieee_round(F.col("common") / (F.col("n1") + F.col("n2") - F.col("common")), 6)
    near = (
        common.join(sa, "d_new")
        .join(sb, "d_old")
        .withColumn("jaccard", jac)
        .where(F.col("jaccard") >= _JACCARD_THRESHOLD)
    )
    best_near = (
        near.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("d_new").orderBy(F.desc("jaccard"), F.asc("d_old"))
            ),
        )
        .where(F.col("rn") == 1)
        .select(F.col("d_new").alias("doc_id"), F.col("d_old").alias("near_match"), "jaccard")
    )

    verdict = (
        F.when(F.col("exact_match").isNotNull(), "exact_dup")
        .when(F.col("near_match").isNotNull(), "near_dup")
        .otherwise("unique")
    )
    return (
        exact.join(best_near, "doc_id", "left")
        .select(
            "doc_id",
            verdict.alias("verdict"),
            F.coalesce("exact_match", "near_match").alias("match_doc_id"),
            F.when(F.col("exact_match").isNull(), F.col("jaccard")).alias("jaccard"),
        )
        .orderBy("doc_id")
    )


def _sql_incremental_dedup() -> str:
    from .util import sql_ieee_round

    jac = sql_ieee_round("common / (sa.n_sh + sb.n_sh - common)", 6)
    mins = ", ".join(
        f"min(({a} * h + {b}) % {_P}) AS m{i}" for i, (a, b) in enumerate(zip(_HASH_A, _HASH_B))
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {bid} AS band_id, ".format(bid=b)
        + " || '_' || ".join(
            f"CAST(m{b * _ROWS_PER_BAND + r} AS VARCHAR)" for r in range(_ROWS_PER_BAND)
        )
        + " AS band_key FROM sig"
        for b in range(_N_BANDS)
    )
    return f"""
WITH base AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id % 20 = 0 AND dn.text IS NOT NULL THEN dn.text
              ELSE d.text END AS text
  FROM documents d LEFT JOIN documents dn ON dn.doc_id = d.doc_id + 1
),
fp AS (
  SELECT doc_id, doc_id % {_INCR_MOD} = 0 AS is_new,
         md5(trim(regexp_replace(lower(text), '[ \t\n\r\f\x0B]+', ' ', 'g'))) AS fp
  FROM base
),
old_fp AS (SELECT fp, min(doc_id) AS exact_match FROM fp WHERE NOT is_new GROUP BY fp),
exact AS (
  SELECT f.doc_id, o.exact_match
  FROM fp f LEFT JOIN old_fp o ON f.fp = o.fp
  WHERE f.is_new
),
sh AS (
  SELECT doc_id, hsh, hsh % {_P} AS h
  FROM ({_SQL_HASHED_SHINGLES.replace("FROM documents", "FROM base")})
),
sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
bands AS ({band_selects}),
cand AS (
  SELECT DISTINCT n.doc_id AS d_new, o.doc_id AS d_old
  FROM bands n JOIN bands o
    ON n.band_id = o.band_id AND n.band_key = o.band_key
  WHERE n.doc_id % {_INCR_MOD} = 0 AND o.doc_id % {_INCR_MOD} != 0
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT c.d_new, c.d_old, count(*) AS common
  FROM cand c
  JOIN sh a ON a.doc_id = c.d_new
  JOIN sh b ON b.doc_id = c.d_old AND a.hsh = b.hsh
  GROUP BY c.d_new, c.d_old
),
near AS (
  SELECT d_new, d_old,
         {jac} AS jaccard
  FROM common
  JOIN sizes sa ON sa.doc_id = d_new
  JOIN sizes sb ON sb.doc_id = d_old
  WHERE {jac} >= {_JACCARD_THRESHOLD}
),
best_near AS (
  SELECT d_new AS doc_id, d_old AS near_match, jaccard
  FROM (
    SELECT *, row_number() OVER (PARTITION BY d_new ORDER BY jaccard DESC, d_old ASC) AS rn
    FROM near
  ) WHERE rn = 1
)
SELECT e.doc_id,
       CASE WHEN e.exact_match IS NOT NULL THEN 'exact_dup'
            WHEN b.near_match IS NOT NULL THEN 'near_dup'
            ELSE 'unique' END AS verdict,
       coalesce(e.exact_match, b.near_match) AS match_doc_id,
       CASE WHEN e.exact_match IS NULL THEN b.jaccard END AS jaccard
FROM exact e LEFT JOIN best_near b ON e.doc_id = b.doc_id
ORDER BY e.doc_id
"""


SQL_INCREMENTAL_DEDUP = _sql_incremental_dedup()


QUERIES: dict[str, tuple] = {
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "incremental_dedup": (q_incremental_dedup, SQL_INCREMENTAL_DEDUP),
    "ngram_jaccard_pairs": (q_ngram_jaccard_pairs, SQL_NGRAM_JACCARD_PAIRS),
    "minhash_lsh_pairs": (q_minhash_lsh_pairs, SQL_MINHASH_LSH_PAIRS),
    "cross_split_leakage": (q_cross_split_leakage, SQL_CROSS_SPLIT_LEAKAGE),
    "source_overlap": (q_source_overlap, SQL_SOURCE_OVERLAP),
    "simhash_pairs": (q_simhash_pairs, SQL_SIMHASH_PAIRS),
    "embedding_neardup": (q_embedding_neardup, SQL_EMBEDDING_NEARDUP),
    "neardup_clusters": (q_neardup_clusters, SQL_NEARDUP_CLUSTERS),
    "dedup_keep_best": (q_dedup_keep_best, SQL_DEDUP_KEEP_BEST),
    "decontam_report": (q_decontam_report, SQL_DECONTAM_REPORT),
}
