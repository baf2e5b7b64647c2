"""Similarity search over the `embeddings` table: brute-force cosine top-k
(the verify tier) and an IVF-style cluster-pruned ANN (the 100 TB path).

Scale design: brute force is O(Q*N) — fine for a re-rank stage, never for
the full corpus. The IVF variant assigns every vector to its nearest
centroid once (one broadcast join against K centroids), then probes only
the nprobe closest clusters per query — at cluster scale the assignment is
a partition key, so a probe reads only matching partitions (partition
pruning instead of a full scan).

All ranking happens on cosine ROUNDED to 6 decimals with vec_id
tie-breaks, so ordering is reproducible across engines and partitionings.
"""

from __future__ import annotations

import functools

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import tracked_persist
from ..io import load
from .util import ieee_round, sql_avg, sql_ieee_round, sql_std, sql_sum

_N_QUERIES = 5  # vec_id < 5 are the query vectors
_TOP_K = 10
_N_CENTROIDS = 8
_CENTROID_BASE = 100  # embeddings 100..107 act as the trained centroids
_NPROBE = 2


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    return emb.select(
        "vec_id",
        "label",
        v.alias("v"),
        F.sqrt(F.aggregate(F.expr("transform(cast(embedding as array<double>), x -> x * x)"), F.lit(0.0), lambda a, x: a + x)).alias("norm"),
    )


_SQL_VECTORS = """
  SELECT vec_id, label, embedding::DOUBLE[] AS v,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS norm
  FROM embeddings
"""

_SQL_COS = (
    "(floor((list_sum(list_transform(range(len(q.v)), i -> q.v[i+1] * c.v[i+1]))"
    " / (q.norm * c.norm)) * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE))"
    " / CAST(1000000.0 AS DOUBLE))"
)


# Structural fence for the brute-force tier: it is the VERIFY/RE-RANK
# stage, never candidate generation. A query side beyond this bound
# means someone is pointing the full-scan kernel at a corpus — refuse
# loudly instead of burning a cluster on an O(Q*N) cross join (candidate
# generation belongs to ann_ivf / minhash_lsh).
MAX_RERANK_QUERIES = 1024


def knn_rerank(
    queries: DataFrame,
    candidates: DataFrame,
    top_k: int = 10,
    predicate: Column | None = None,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Broadcast the (bounded) query side, scan candidates in parallel,
    keep top_k per query. Raises if the query side exceeds
    MAX_RERANK_QUERIES — the fence is part of the contract, not a
    docstring promise. `predicate` filters pairs BEFORE the rank window
    (e.g. hard_negatives' cross-label rule — r12 review: the mining
    variant must go THROUGH this kernel, not clone its rounding/
    tie-break and lose the fence); `extra_cols` names candidate columns
    to carry into the output between cand_id and cosine."""
    n_q = queries.limit(MAX_RERANK_QUERIES + 1).count()
    if n_q > MAX_RERANK_QUERIES:
        raise ValueError(
            f"knn_rerank is the re-rank tier: query side has more than "
            f"{MAX_RERANK_QUERIES} rows; generate candidates with ann_ivf "
            f"(or LSH) and re-rank those instead"
        )
    cos = ieee_round(_dot(F.col("qv"), F.col("cv")) / (F.col("qnorm") * F.col("cnorm")), 6)
    scored = F.broadcast(queries).crossJoin(candidates).where(
        F.col("query_id") != F.col("cand_id")
    )
    if predicate is not None:
        scored = scored.where(predicate)
    scored = scored.withColumn("cosine", cos)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("query_id", "rank", "cand_id", *extra_cols, "cosine")
    )


def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for each query vector (vec_id < 5),
    excluding the query itself — via knn_rerank, which enforces the
    bounded-query-side fence structurally."""
    vecs = _vectors(spark, sf_dir)
    q = vecs.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("norm").alias("qnorm")
    )
    c = vecs.select(F.col("vec_id").alias("cand_id"), F.col("v").alias("cv"), F.col("norm").alias("cnorm"))
    return knn_rerank(q, c, _TOP_K).orderBy("query_id", "rank")


SQL_KNN_BRUTEFORCE = f"""
WITH vecs AS ({_SQL_VECTORS}),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, {_SQL_COS} AS cosine
  FROM vecs q CROSS JOIN vecs c
  WHERE q.vec_id < {_N_QUERIES} AND q.vec_id <> c.vec_id
)
SELECT query_id, rank, cand_id, cosine
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rank
  FROM scored
)
WHERE rank <= {_TOP_K}
ORDER BY query_id, rank
"""


_HARDNEG_K = 3


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (the DPR/SimCSE
    practice: the negatives that most confuse a model are the
    highest-similarity vectors with a DIFFERENT label): for each query
    vector (vec_id < _N_QUERIES), the top-_HARDNEG_K cross-label
    candidates by rounded cosine with the vec_id tie-break. The label
    inequality filters BEFORE the window, so the rank runs over
    cross-label candidates only; the query side is a bounded broadcast
    (the knn_bruteforce shape — same fenced-crossJoin class), the
    corpus side is one scan. At 100 TB the candidate side would come
    from the ANN tiers (ann_ivfadc shortlists) instead of the full
    scan; this is the exact verify tier."""
    vecs = _vectors(spark, sf_dir)
    q = vecs.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
        F.col("label").alias("qlabel"),
    )
    c = vecs.select(
        F.col("vec_id").alias("cand_id"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"),
        F.col("label").alias("cand_label"),
    )
    return knn_rerank(
        q,
        c,
        top_k=_HARDNEG_K,
        predicate=~F.col("cand_label").eqNullSafe(F.col("qlabel")),
        extra_cols=("cand_label",),
    ).orderBy("query_id", "rank")


SQL_HARD_NEGATIVES = f"""
WITH vecs AS ({_SQL_VECTORS}),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, c.label AS cand_label,
         {_SQL_COS} AS cosine
  FROM vecs q CROSS JOIN vecs c
  WHERE q.vec_id < {_N_QUERIES} AND q.vec_id <> c.vec_id
    AND c.label IS DISTINCT FROM q.label
)
SELECT query_id, rank, cand_id, cand_label, cosine
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rank
  FROM scored
)
WHERE rank <= {_HARDNEG_K}
ORDER BY query_id, rank
"""


# --- SRP-LSH: sign-random-projection bucketed ANN (Charikar, STOC 2002) ---
#
# The LSH-bucketed scale path for cosine similarity search, complementing
# the IVF family: no training pass at all — candidate generation is a
# pure equi-join on (table, bucket) signatures, so it composes with a
# streaming corpus (signatures are per-row map work, no codebook to
# refresh). Reference parity note: MySense has no ANN; this extends the
# driver's similarity-search mandate alongside ann_ivf*/ann_pq.
_SRP_TABLES = 8  # independent hash tables (OR-amplification)
_SRP_BITS = 8  # hyperplane bits per table (the GRADED fixture shape)
_SRP_PROBES = 1  # multi-probe radius (Lv et al., VLDB 2007)
_SRP_SEED_BASE = 9_000_000  # md5 key namespace for the hyperplanes
_SRP_OCCUPANCY = 64  # auto-shape target: expected bucket occupancy N/2^bits


def srp_auto_bits(n_vectors: int, occupancy: int = _SRP_OCCUPANCY) -> int:
    """Occupancy-scaled hash width: n_bits = ceil(log2(N / occupancy)),
    clamped to [4, 30]. Expected bucket occupancy N / 2^n_bits sets the
    per-table candidate count, so a CONSTANT n_bits silently degrades
    into a near-full scan as the corpus grows (the r12 verdict's watch
    item: at 8 bits the 20 k gate corpus pools ~78 % — correct, honest,
    and economically inverted). Holding occupancy at ~64 reproduces
    the measured decade-up economics without hand-tuning: 200 k -> 12
    bits (the r12 hand-tuned row: recall 0.80 @ 0.62 pool with probe
    2), 20 k -> 9 bits. The graded q_ann_srp pins the frozen 8-bit
    fixture shape explicitly so its hashes never move with corpus
    size."""
    import math

    if n_vectors <= occupancy:
        return 4
    return max(4, min(30, math.ceil(math.log2(n_vectors / occupancy))))


_SRP_PROBE_BUDGET = 0.04  # auto-shape: max probed-bucket fraction/table


def srp_auto_probes(n_bits: int, budget: float = _SRP_PROBE_BUDGET) -> int:
    """Occupancy-aware probe radius: the largest radius r in {0, 1, 2}
    whose probed-bucket count 1 / 1+B / 1+B+B(B-1)/2 stays within
    `budget` of the 2^B bucket space per table. Radius must SHRINK as
    buckets narrow less than the corpus grows: at 9 bits radius 2
    probes 46/512 = 9 % of every table — measured 0.98 pool fraction on
    the 20 k corpus, i.e. multi-probe had undone the bucketing — while
    radius 1 probes 1.95 % (measured 0.84 recall @ 0.60 pool). At 12
    bits radius 2 is 79/4096 = 1.9 % — the r12 hand-tuned 200 k shape.
    The 4 % budget admits exactly those published-economics points and
    refuses the degenerate ones."""
    probed = {0: 1, 1: 1 + n_bits, 2: 1 + n_bits + n_bits * (n_bits - 1) // 2}
    space = float(1 << n_bits)
    return max((r for r in (0, 1, 2) if probed[r] / space <= budget), default=0)


@functools.lru_cache(maxsize=None)
def _srp_planes(n_tables: int, n_bits: int):
    """The (n_tables*n_bits, 64) int64 hyperplane matrix, derived from
    the repo's cross-engine md5 idiom: component (t, b, i) is the first
    8 md5 hex digits of str(9_000_000 + t*10_000 + b*100 + i), centered
    by -2^31 — identical in DuckDB via
    ('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 8))::BIGINT. Cached per
    executor (4096 md5 calls at the default shape)."""
    import hashlib

    import numpy as np

    vals = [
        int(
            hashlib.md5(
                str(_SRP_SEED_BASE + t * 10_000 + b * 100 + i).encode()
            ).hexdigest()[:8],
            16,
        )
        - 2_147_483_648
        for t in range(n_tables)
        for b in range(n_bits)
        for i in range(64)
    ]
    return np.asarray(vals, dtype=np.int64).reshape(n_tables * n_bits, 64)


def _srp_bucket_udf(n_tables: int, n_bits: int):
    """Arrow-batched signature kernel: grid vector -> one bucket id per
    table. All int64 (grid components < 2^20, plane components < 2^31,
    64-term dot < 2^57 — no overflow), so the sign of every hyperplane
    dot is bit-identical to the oracle's list_sum regardless of
    summation order; a numpy block matmul instead of n_tables*n_bits
    interpreted-HOF dots per vector (the _pq_encode lesson)."""
    from pyspark.sql.types import ArrayType, LongType

    @F.pandas_udf(ArrayType(LongType()))
    def buckets(g: pd.Series) -> pd.Series:
        import numpy as np

        if len(g) == 0:
            return pd.Series([], dtype=object)
        planes = _srp_planes(n_tables, n_bits)
        grid = np.stack([np.asarray(x, dtype=np.int64) for x in g])
        signs = (grid @ planes.T >= 0).astype(np.int64)
        bits = signs.reshape(len(grid), n_tables, n_bits)
        weights = np.int64(1) << np.arange(n_bits, dtype=np.int64)
        return pd.Series(list(bits @ weights))

    return buckets


def srp_signatures(
    vecs: DataFrame, n_tables: int = _SRP_TABLES, n_bits: int = _SRP_BITS
) -> DataFrame:
    """(vec_id, tbl, bucket) — n_tables rows per vector. The embedding
    is snapped to the repo's 1e-6 integer grid first (floor(x * 1e6),
    the ann_pq convention) so the signature is exact integer arithmetic
    in both engines."""
    grid = vecs.select(
        "vec_id",
        F.expr("transform(v, x -> CAST(floor(x * 1000000.0) AS BIGINT))").alias("g"),
    )
    bucketize = _srp_bucket_udf(n_tables, n_bits)
    return grid.select(
        "vec_id", F.posexplode(bucketize(F.col("g"))).alias("tbl", "bucket")
    )


def _srp_probe_variants(qsigs: DataFrame, n_bits: int, n_probes: int) -> DataFrame:
    """Multi-probe expansion (Lv et al., VLDB 2007): alongside the
    query's exact bucket, also probe every bucket within Hamming radius
    `n_probes` of it — recall of extra tables at the cost of extra
    LOOKUPS, not extra corpus copies. Expansion happens on the bounded
    query side only (<= _N_QUERIES * n_tables * (1 + B + B(B-1)/2)
    rows at radius 2), which stays broadcast; radius > 2 is refused —
    at that point add tables or retrain an IVF directory instead."""
    if n_probes < 0 or n_probes > 2:
        raise ValueError("multi-probe radius must be 0, 1, or 2: add tables instead")
    if n_probes == 0:
        return qsigs
    spark = qsigs.sparkSession
    b1 = spark.range(n_bits).select(F.col("id").alias("b1"))
    flip1 = (
        qsigs.crossJoin(F.broadcast(b1))
        .select(
            "query_id",
            "tbl",
            F.expr("bucket ^ shiftleft(CAST(1 AS BIGINT), CAST(b1 AS INT))").alias(
                "bucket"
            ),
        )
    )
    out = qsigs.unionByName(flip1)
    if n_probes == 2:
        b2 = (
            b1.crossJoin(F.broadcast(b1.select(F.col("b1").alias("b2"))))
            .where(F.col("b1") < F.col("b2"))
        )
        flip2 = (
            qsigs.crossJoin(F.broadcast(b2))
            .select(
                "query_id",
                "tbl",
                F.expr(
                    "bucket ^ shiftleft(CAST(1 AS BIGINT), CAST(b1 AS INT))"
                    " ^ shiftleft(CAST(1 AS BIGINT), CAST(b2 AS INT))"
                ).alias("bucket"),
            )
        )
        out = out.unionByName(flip2)
    return out


def ann_srp_search(
    vecs: DataFrame,
    n_tables: int = _SRP_TABLES,
    n_bits: int | None = None,
    n_probes: int | None = None,
    top_k: int = 5,
    return_pool: bool = False,
    n_vectors: int | None = None,
):
    """SRP-LSH ANN: candidate generation is the classic multi-table
    sign-random-projection scheme — a vector pair is a candidate iff
    ALL n_bits hyperplane signs agree in AT LEAST ONE of the n_tables
    tables (P[bit match] = 1 - angle/pi, so n_bits AND-amplifies
    precision and n_tables OR-amplifies recall), widened by multi-probe
    (also probe buckets within Hamming radius `n_probes` of the query's
    signature) — followed by the repo's fenced exact re-rank of the
    pooled candidate union (_rerank_pool, the ann_ivf_refined /
    ann_ivfadc tail).

    Scale shape: signatures are one Arrow map pass (no training, no
    iteration — unlike the IVF family this composes directly with a
    streaming corpus: new rows hash independently, nothing to refresh);
    candidates come from an equi-join of the corpus signature table
    against the BROADCAST probe list (query side only, bounded), so the
    corpus is scanned once and never self-joined; expected bucket
    occupancy N / 2^n_bits sets the per-table candidate count, so
    n_bits should grow ~log2(N) to hold the scan fraction. The
    full-precision tier only ever sees the pooled union, bounded by the
    knn_rerank fence. Honest economics note (SCALING.md): on this
    near-orthogonal synthetic corpus the data-INDEPENDENT hashes need a
    much larger scan than the trained IVF tiers at equal recall — the
    published trade; SRP's niche is the untrained/streaming regime and
    genuinely clustered corpora (pytest pins a clustered case).

    DEFAULT SHAPE (r13): n_bits=None derives the hash width from the
    corpus size via srp_auto_bits (occupancy-constant, one count(*)
    plan-selection aggregate — the trained-codebook tier-stats
    precedent) and n_probes=None derives the probe radius from that
    width via srp_auto_probes (probed-bucket budget — radius 2 only
    once the bucket space can afford it; multi-probe widens the
    bounded QUERY side only). Explicit n_bits/n_probes opt out — the
    graded q_ann_srp pins the frozen 8T x 8b x probe-1 fixture shape so
    its hashes never move with corpus size.

    COST NOTE (r14 advice): deriving the width fires a full corpus
    count() job at plan-BUILD time on every call. A caller composing
    repeated searches against one corpus (sweeps, return_pool pairs)
    should either pass the width explicitly or supply `n_vectors` — the
    precomputed corpus count — so the shape is derived once, not
    re-scanned per invocation."""
    if n_bits is None:
        n_bits = srp_auto_bits(vecs.count() if n_vectors is None else n_vectors)
    if n_probes is None:
        # derive from the width HOWEVER the width arrived (r13 review:
        # the first cut only derived inside the auto-bits branch, so an
        # explicit n_bits=12 silently kept radius 1 and collapsed the
        # candidate pool ~6x below the published 12-bit row)
        n_probes = srp_auto_probes(n_bits)
    sigs = srp_signatures(vecs, n_tables, n_bits)
    # query signatures from the FILTERED side, not a post-hash filter of
    # the corpus signature stream: pushes vec_id < 5 into the parquet
    # scan of the query branch, so that branch hashes 5 rows, not N
    # (rows identical — the signature is a pure per-row function)
    qsigs = srp_signatures(
        vecs.where(F.col("vec_id") < _N_QUERIES), n_tables, n_bits
    ).select(F.col("vec_id").alias("query_id"), "tbl", "bucket")
    probes = _srp_probe_variants(qsigs, n_bits, n_probes).distinct()
    pooled = (
        sigs.join(F.broadcast(probes), ["tbl", "bucket"])
        .select(F.col("vec_id").alias("cand_id"))
        .distinct()
    )
    out = _rerank_pool(vecs, pooled, top_k=top_k)
    return (out, pooled) if return_pool else out


def q_ann_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded entry: SRP-LSH top-5 per query (vec_id < 5) at the
    default 8-table x 8-bit x 1-probe shape. The DuckDB oracle mirrors
    the whole chain — grid snap, md5-derived hyperplanes, integer sign
    signatures, the multi-probe expansion, the (table, bucket)
    candidate join, and the rounded-cosine re-rank of the pooled
    union. The fixture shape is pinned EXPLICITLY (r13): the engine
    default now derives n_bits from corpus size, and a graded row whose
    shape floats with N would re-hash every scale change."""
    return ann_srp_search(
        _vectors(spark, sf_dir), n_bits=_SRP_BITS, n_probes=_SRP_PROBES
    )


SQL_ANN_SRP = f"""
WITH vecs AS ({_SQL_VECTORS}),
grid AS (
  SELECT vec_id,
         list_transform(v, x -> CAST(floor(x * 1000000.0) AS BIGINT)) AS g
  FROM vecs
),
planes AS (
  SELECT t.t AS tbl, b.b AS bit,
         list_transform(range(64), i ->
           ('0x' || substr(md5(CAST({_SRP_SEED_BASE} + t.t * 10000 + b.b * 100 + i AS VARCHAR)), 1, 8))::BIGINT
           - 2147483648) AS h
  FROM range({_SRP_TABLES}) t(t), range({_SRP_BITS}) b(b)
),
sigs AS (
  SELECT g.vec_id, p.tbl,
         sum(CASE WHEN list_sum(list_transform(range(64), i -> g.g[i + 1] * p.h[i + 1])) >= 0
                  THEN 1 << p.bit ELSE 0 END) AS bucket
  FROM grid g CROSS JOIN planes p
  GROUP BY g.vec_id, p.tbl
),
probes AS (
  SELECT DISTINCT tbl, bucket FROM (
    SELECT tbl, bucket FROM sigs WHERE vec_id < {_N_QUERIES}
    UNION ALL
    SELECT s.tbl, xor(s.bucket, 1 << b.b) AS bucket
    FROM sigs s, range({_SRP_BITS}) b(b)
    WHERE s.vec_id < {_N_QUERIES}
  )
),
pool AS (
  SELECT DISTINCT c.vec_id AS cand_id
  FROM sigs c JOIN probes q ON c.tbl = q.tbl AND c.bucket = q.bucket
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, {_SQL_COS} AS cosine
  FROM vecs q CROSS JOIN (
    SELECT v2.* FROM vecs v2 JOIN pool ON pool.cand_id = v2.vec_id
  ) c
  WHERE q.vec_id < {_N_QUERIES} AND q.vec_id <> c.vec_id
)
SELECT query_id, rank, cand_id, cosine
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rank
  FROM scored
)
WHERE rank <= 5
ORDER BY query_id, rank
"""


def _fixture_centroids(vecs: DataFrame) -> DataFrame:
    """The frozen 8-row fixture codebook (embeddings 100..107) the
    graded queries opt into — the single definition of the fixture
    window, so a future change cannot silently diverge the graded
    queries from the membership default."""
    return vecs.where(
        (F.col("vec_id") >= _CENTROID_BASE) & (F.col("vec_id") < _CENTROID_BASE + _N_CENTROIDS)
    )


def ivf_assigned(vecs: DataFrame, centroids: DataFrame | None = None) -> DataFrame:
    """Nearest-centroid assignment: (vec columns, cent_cos, crank). The
    single point of truth for cluster membership — q_ann_ivf's index,
    q_semdedup's clusters and any future IVF consumer must share one
    assignment rule or their clusters silently drift apart.

    `centroids` (vec_id, v, norm) defaults to the fixture centroids
    (embeddings 100..107 — stable graded output); callers pass their own
    table for trained (kmeans_train) or corpus-proportional
    (modulo_centroids) codebooks."""
    if centroids is None:
        centroids = _fixture_centroids(vecs)
    cents = centroids.select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("cv"), F.col("norm").alias("cnorm")
    )
    cos_vc = ieee_round(_dot(F.col("v"), F.col("cv")) / (F.col("norm") * F.col("cnorm")), 6)
    return (
        vecs.crossJoin(F.broadcast(cents))
        .withColumn("cent_cos", cos_vc)
        .withColumn(
            "crank",
            F.row_number().over(Window.partitionBy("vec_id").orderBy(F.desc("cent_cos"), F.asc("cent_id"))),
        )
        .drop("cv", "cnorm")
    )


def ivf_membership(vecs: DataFrame, centroids: DataFrame | None = None) -> DataFrame:
    """Nearest-centroid MEMBERSHIP (the crank==1 slice of ivf_assigned)
    via a map-side-combinable argmax instead of a window: the N×K scored
    rows are slimmed to (vec_id, cent_id, cent_cos) BEFORE any exchange,
    partial max(struct(cos, −cent_id)) combines inside each map task, and
    the embedding arrays are joined back by vec_id afterward (an N-row
    shuffle, not an N×K one). The window form moves N×K rows that still
    carry the 64-float vectors through the exchange — measured 42.8 s at
    sf1.0 with the K = ⌈N/64⌉ codebook (≈3.3 GB shuffle) vs ~4 s for
    this agg form. Tie-break identical to ivf_assigned's
    (desc rounded-cos, asc cent_id): max of (cos, −cent_id) — pinned by a
    parity pytest so the two forms cannot drift."""
    if centroids is None:
        centroids = _fixture_centroids(vecs)
    cents = centroids.select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("cv"), F.col("norm").alias("cnorm")
    )
    cos_vc = ieee_round(_dot(F.col("v"), F.col("cv")) / (F.col("norm") * F.col("cnorm")), 6)
    # repartition BEFORE the broadcast nested loop: the N×K scoring stage
    # otherwise inherits the corpus parquet's file count (2 files at
    # sf1.0 → the whole 6.3M-row × 64-dim scoring ran on 2 of 32 cores,
    # 47 s; spread over defaultParallelism it is ~4 s). An N-row shuffle
    # of slim rows buys K× that much scoring parallelism.
    par = vecs.sparkSession.sparkContext.defaultParallelism
    scored = (
        vecs.select("vec_id", "v", "norm")
        .repartition(par)
        .crossJoin(F.broadcast(cents))
        .select("vec_id", "cent_id", cos_vc.alias("cent_cos"))
    )
    best = (
        scored.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(F.col("cent_cos").alias("c"), (-F.col("cent_id")).alias("nid"))
            ).alias("m")
        )
        .select("vec_id", (-F.col("m.nid")).alias("cent_id"))
    )
    return vecs.join(best, "vec_id").select("vec_id", "v", "norm", "cent_id")


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest of 8 centroids
    (embeddings 100..107), probe the 2 closest clusters per query, rank
    candidates inside the probed clusters only. Returns top-5 per query
    — the cluster assignment is the partition-pruning key at scale.
    Graded fixture of ann_ivf_search (nprobe frozen at _NPROBE); the
    recall/cost tradeoff across nprobe is measured by
    tools/ivf_recall_curve.py (SCALING.md)."""
    vecs = _vectors(spark, sf_dir)
    return ann_ivf_search(vecs, centroids=_fixture_centroids(vecs))


def ann_ivf_search(
    vecs: DataFrame,
    nprobe: int = _NPROBE,
    centroids: DataFrame | None = None,
    parts: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """The IVF search engine with the recall/cost knob exposed: probe the
    `nprobe` nearest clusters per query (candidates scanned ~ nprobe/K of
    the corpus; recall rises with nprobe — measured curve in SCALING.md),
    then rank the probed cells' candidates by rounded cosine, top-5.

    Routing is _route: `centroids` (vec_id, v, norm) selects the flat
    codebook path; with NO codebook argument the engine defaults to the
    TRAINED two-level codebook (Lloyd-refined, pruned assignment), so
    the fixture constants are an explicit opt-in of the graded
    q_ann_ivf, not the engine default. `parts` lets a sweep
    (tools/ivf_recall_curve.py) train the codebook ONCE and vary nprobe
    against it — without it, every call retrains and re-persists the
    whole two-level construction."""
    membership, probes = _route(vecs, nprobe, centroids, parts)
    cand = membership.select(
        F.col("vec_id").alias("cand_id"), F.col("v").alias("cv"), F.col("norm").alias("cnorm"), "cent_id"
    )
    cos_qc = ieee_round(_dot(F.col("pv"), F.col("cv")) / (F.col("qnorm") * F.col("cnorm")), 6)
    scored = (
        probes.join(cand, "cent_id")
        .where(F.col("query_id") != F.col("cand_id"))
        .withColumn("cosine", cos_qc)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("query_id", "rank", "cand_id", "cosine")
        .orderBy("query_id", "rank")
    )


SQL_ANN_IVF = f"""
WITH vecs AS ({_SQL_VECTORS}),
cents AS (
  SELECT vec_id AS cent_id, v AS cv, norm AS cnorm FROM vecs
  WHERE vec_id >= {_CENTROID_BASE} AND vec_id < {_CENTROID_BASE + _N_CENTROIDS}
),
assigned AS (
  SELECT q.vec_id, q.v, q.norm, c.cent_id,
         (floor((list_sum(list_transform(range(len(q.v)), i -> q.v[i+1] * c.cv[i+1]))
               / (q.norm * c.cnorm)) * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE)) AS cent_cos,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY (floor((list_sum(list_transform(range(len(q.v)), i -> q.v[i+1] * c.cv[i+1]))
                                           / (q.norm * c.cnorm)) * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE)) DESC, c.cent_id ASC) AS crank
  FROM vecs q CROSS JOIN cents c
),
membership AS (SELECT vec_id, v, norm, cent_id FROM assigned WHERE crank = 1),
probes AS (
  SELECT vec_id AS query_id, v AS qv, norm AS qnorm, cent_id
  FROM assigned WHERE vec_id < {_N_QUERIES} AND crank <= {_NPROBE}
),
scored AS (
  SELECT p.query_id, m.vec_id AS cand_id,
         (floor((list_sum(list_transform(range(len(p.qv)), i -> p.qv[i+1] * m.v[i+1]))
               / (p.qnorm * m.norm)) * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE)) AS cosine
  FROM probes p JOIN membership m ON p.cent_id = m.cent_id
  WHERE p.query_id <> m.vec_id
)
SELECT query_id, rank, cand_id, cosine
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rank
  FROM scored
)
WHERE rank <= 5
ORDER BY query_id, rank
"""


def q_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded twin of q_ann_ivf on the TRAINED codebook — the engine's
    default non-fixture path (ann_ivf_search with no codebook argument):
    Lloyd-refined two-level centroids, pruned membership assignment,
    probe ranking by integer-grid L2. The DuckDB oracle mirrors the
    whole chain — training, both pruned assignment passes, probe
    selection, and the rounded-cosine ranking."""
    return ann_ivf_search(_vectors(spark, sf_dir))


# int8-range scalar-quantized codes for the refined search's cheap
# stage: floor(x*127) is exact and identical cross-engine (the _QV_EXPR
# idiom at SQ scale). 64 dims x 1 B is 8x less data than the float64
# vectors — at 100 TB the code table is the part that fits in memory.
_SQ_EXPR = "transform({v}, x -> CAST(floor(x * 127.0) AS BIGINT))"


def _route(
    vecs: DataFrame,
    nprobe: int,
    centroids: DataFrame | None,
    parts: tuple[DataFrame, DataFrame, DataFrame] | None,
) -> tuple[DataFrame, DataFrame]:
    """ONE definition of the IVF routing stage shared by every IVF-family
    search (flat, refined, IVFADC, IVFPQ, IVF-SQ and the persisted
    IVFADC's query routing): returns (membership, probes) —
    membership (vec_id, v, norm, cent_id) assigns every corpus vector to
    its cell, probes (query_id, pv, qnorm, cent_id) lists each query's
    `nprobe` cells. `centroids` (vec_id, v, norm) selects the fixture /
    kmeans codebook path (rounded-cosine assignment); None routes
    through the TRAINED two-level directory (integer-grid L2 against
    the Lloyd-refined fine centroids), optionally reusing a prebuilt
    `parts` across a sweep."""
    if centroids is None:
        _, f1cell, final = parts if parts is not None else _two_level_parts(vecs)
        membership = vecs.join(final, "vec_id").select("vec_id", "v", "norm", "cent_id")
        q = vecs.where(F.col("vec_id") < _N_QUERIES).select(
            "vec_id", "v", "norm", F.expr(_QV_EXPR).alias("qv")
        )
        probes = (
            q.crossJoin(F.broadcast(f1cell.select("fine_id", "fqv1")))
            .withColumn("dist", _int_l2(F.col("qv"), F.col("fqv1")))
            .withColumn(
                "crank",
                F.row_number().over(
                    Window.partitionBy("vec_id").orderBy(F.asc("dist"), F.asc("fine_id"))
                ),
            )
            .where(F.col("crank") <= nprobe)
            .select(
                F.col("vec_id").alias("query_id"),
                F.col("v").alias("pv"),
                F.col("norm").alias("qnorm"),
                F.col("fine_id").alias("cent_id"),
            )
        )
    else:
        membership = ivf_membership(vecs, centroids)
        probes = (
            ivf_assigned(vecs.where(F.col("vec_id") < _N_QUERIES), centroids)
            .where(F.col("crank") <= nprobe)
            .select(
                F.col("vec_id").alias("query_id"),
                F.col("v").alias("pv"),
                F.col("norm").alias("qnorm"),
                "cent_id",
            )
        )
    return membership, probes


def _shortlist(scored: DataFrame, order: Column, size: int) -> DataFrame:
    """ONE definition of the scoring stage's shortlist, shared by every
    two-stage search: rank each query's scored candidates by `order`
    (the approximate score, best first) with the cand_id tie-break, keep
    the top `size`, and pool the distinct cand_ids across queries for
    the fenced exact re-rank (_rerank_pool)."""
    w = Window.partitionBy("query_id").orderBy(order, F.asc("cand_id"))
    return (
        scored.withColumn("srank", F.row_number().over(w))
        .where(F.col("srank") <= size)
        .select("cand_id")
        .distinct()
    )


def ann_ivf_refined(
    vecs: DataFrame,
    nprobe: int = 2 * _NPROBE,
    pool: int = 48,
    centroids: DataFrame | None = None,
    parts: tuple[DataFrame, DataFrame, DataFrame] | None = None,
    return_pool: bool = False,
):
    """TWO-STAGE IVF search — the production recall-recovery pattern
    (IVF + SQ prefilter + exact refine, the FAISS IVFFlat/SQ shape):

    1. WIDE approximate probe: rank `nprobe` cells per query exactly as
       the single-stage search does, but score the probed candidates
       with the integer dot of int8-range SQ codes (floor(x*127) — 8x
       less data per candidate than the float64 vectors, and exact
       cross-engine arithmetic), keeping the top-`pool` candidate ids
       per query.
    2. EXACT re-rank: the pooled union goes through the fenced
       knn_rerank (MAX_RERANK_QUERIES intact — queries stay bounded,
       candidates are the pool, never the corpus) for full-precision
       rounded-cosine top-5.

    Why this beats single-stage at EQUAL full-precision scan: stage 1
    can afford 2-4x more cells because it reads codes, not vectors; the
    exact stage then touches only `pool` candidates per query — so the
    recall of the wider probe arrives at the narrower probe's
    full-precision cost (measured: tools/ivf_recall_curve.py --refined,
    table in SCALING.md). `centroids` selects the fixture codebook
    (graded q_ann_ivf_refined); default is the trained two-level
    codebook, `parts` reuses a trained construction across a sweep;
    `return_pool` additionally returns the pooled-union DataFrame so
    the sweep can measure the ACTUAL full-precision scan fraction."""
    membership, probes = _route(vecs, nprobe, centroids, parts)
    cand = membership.select(
        F.col("vec_id").alias("cand_id"), F.col("v").alias("cv"), F.col("norm").alias("cnorm"), "cent_id"
    )
    # stage 1: integer SQ dot (JVM-side zip_with/aggregate — whole-stage
    # codegen, no Python), top-`pool` ids per query
    approx = F.aggregate(
        F.zip_with(
            F.expr(_SQ_EXPR.format(v="pv")),
            F.expr(_SQ_EXPR.format(v="cv")),
            lambda a, b: a * b,
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # probes are <= queries x nprobe rows — broadcast them so the
    # corpus-wide membership never exchanges on cent_id for this join
    # (the Window above hides the tiny size from the stats estimator)
    scored = (
        F.broadcast(probes).join(cand, "cent_id")
        .where(F.col("query_id") != F.col("cand_id"))
        .withColumn("approx", approx)
    )
    pooled = _shortlist(scored, F.desc("approx"), pool)
    # stage 2: full-precision re-rank of the pooled union through the
    # fenced tier — queries bounded by the fence, candidates by `pool`
    out = _rerank_pool(vecs, pooled, top_k=5)
    return (out, pooled) if return_pool else out


def q_ann_ivf_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded entry for the two-stage refined search on the fixture
    codebook: probe 4 of the 8 cells with SQ-code scoring, pool 48
    candidates per query, exact re-rank through knn_rerank. The DuckDB
    oracle mirrors both stages — the integer SQ dot, the pool window,
    the union, and the rounded-cosine re-rank."""
    vecs = _vectors(spark, sf_dir)
    return ann_ivf_refined(vecs, centroids=_fixture_centroids(vecs))


_SQL_SQ_DOT = (
    "list_sum(list_transform(range(len({q})), i ->"
    " CAST(floor({q}[i+1] * 127.0) AS BIGINT)"
    " * CAST(floor({c}[i+1] * 127.0) AS BIGINT)))"
)


# ---------------------------------------------------------------------------
# Product quantization (r11): the published memory-bound ANN companion
# (Jegou, Douze, Schmid, "Product Quantization for Nearest Neighbor
# Search", TPAMI 2011). 64 dims split into _PQ_M subspaces; each
# subspace gets a _PQ_KS-entry codebook (one Lloyd iteration from the
# fixture seed vectors, all arithmetic on the 1e-6 integer grid — the
# kmeans_train exactness design, so training, encoding, and ADC search
# are pure int64 and bit-identical to the DuckDB mirror). A vector
# becomes _PQ_M 6-bit codes: 12 BYTES instead of 256 (21x) — the
# compression that lets a 100 TB corpus's codes live in executor
# memory while the float vectors stay on disk for the exact re-rank
# tier.
# ---------------------------------------------------------------------------

_PQ_M = 16   # subspaces (64 dims / 4 per subspace)
_PQ_KS = 64  # codes per subspace -> 6-bit codes, 12 B per vector
# (m=16, ks=64 chosen by a measured sweep at sf1.0: the ADC top-200
# shortlist then contains 100% of the exact top-5 — recall 1.00 after
# exact re-rank at a 4.9% full-precision scan, 0.84 at 1.25% from the
# top-50; coarser configs (m=8 or ks=16) lose 28-100% of the truth
# from the same shortlist. Numbers in SCALING.md.)


def _pq_subs_expr(subd: int) -> str:
    """The subspace-slice transform — ONE definition so assignment,
    the Lloyd update, and the ADC LUT can never slice differently."""
    return (
        f"transform(sequence(0, {_PQ_M - 1}), s -> slice(qv, s * {subd} + 1, {subd}))"
    )


def _pq_cball(cents_long: DataFrame, subd: int) -> DataFrame:
    """Long (sub_id, code_id, d, cq) -> ONE row: array (by sub) of
    code_id-sorted (i, q) candidate-struct arrays — the nested
    broadcast codebook BOTH the assignment passes and the ADC LUT
    build consume (one definition; a sort/tie-break change cannot
    diverge the two layouts)."""
    per_code = (
        cents_long.withColumn("ds", F.expr(f"d % {subd}"))
        .groupBy("sub_id", "code_id")
        .agg(
            F.expr("transform(array_sort(collect_list(struct(ds, cq))), e -> e.cq)").alias("q")
        )
    )
    per_sub = per_code.groupBy("sub_id").agg(
        F.expr("array_sort(collect_list(struct(code_id AS i, q)))").alias("cands")
    )
    return per_sub.agg(
        F.expr("transform(array_sort(collect_list(struct(sub_id, cands))), e -> e.cands)").alias("_cb")
    )


_PQ_ENC_BLOCKS = 32  # corpus splits for the numpy encode cogroup


def _pq_encode(qvecs: DataFrame, cents_long: DataFrame, subd: int) -> DataFrame:
    """(vec_id, qv) -> (vec_id, qv, codes) by numpy block argmin.

    The r11 encode ran the per-vector argmin through Spark's INTERPRETED
    higher-order functions — m*ks*subd = 4096 engine-dispatched integer
    ops per vector, the suite's steepest measured exponent (alpha=0.75,
    SCALING.md). Here each of _PQ_ENC_BLOCKS hash blocks cogroups with a
    replicated copy of the <=4096-row codebook and one vectorized int64
    numpy distance computes the whole block's codes (the
    embedding_neardup block-GEMM idiom — exact in int64: |grid| <= 2e6,
    so a squared-diff sum over subd=4 dims is <= 1.6e13, far inside
    int64). Tie-break parity: per subspace the candidate code_ids are
    sorted ascending and np.argmin returns the FIRST minimum — identical
    to the HOF form's array_min(struct(dist, i)). Costs one N-row
    shuffle of (vec_id, qv) rows — trivial against the removed 4096
    interpreted ops/vector; at 100 TB the blocks stream through
    executors one task each, nothing corpus-sized is ever broadcast or
    collected."""
    import pandas as pd

    spark = qvecs.sparkSession
    from ..io import values_df

    B = _PQ_ENC_BLOCKS
    blk_df = values_df(spark, [(b,) for b in range(B)], "blk int")
    left = qvecs.withColumn("blk", F.pmod(F.hash("vec_id"), F.lit(B)))
    right = (
        cents_long.select("sub_id", "code_id", F.expr(f"d % {subd}").alias("ds"), "cq")
        .crossJoin(F.broadcast(blk_df))
    )
    m, empty_sub_msg = _PQ_M, "PQ codebook has no codes for subspace"

    def encode(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if lpdf.empty:
            return pd.DataFrame({"vec_id": pd.Series(dtype="int64"),
                                 "qv": pd.Series(dtype="object"),
                                 "codes": pd.Series(dtype="object")})
        if rpdf.empty:
            raise ValueError("PQ codebook block replication produced no rows")
        X = np.vstack(lpdf["qv"].to_numpy()).astype(np.int64)
        codes = np.empty((len(lpdf), m), dtype=np.int64)
        for s in range(m):
            sub = rpdf[rpdf["sub_id"] == s]
            if sub.empty:
                raise ValueError(f"{empty_sub_msg} {s}")
            C = sub.pivot(index="code_id", columns="ds", values="cq")
            C = C.sort_index().reindex(columns=range(subd))
            if C.isna().any().any():
                raise ValueError(f"PQ codebook subspace {s} has missing dims")
            ids = C.index.to_numpy().astype(np.int64)
            cm = C.to_numpy().astype(np.int64)
            Xs = X[:, s * subd : (s + 1) * subd]
            dist = ((Xs[:, None, :] - cm[None, :, :]) ** 2).sum(axis=2)
            codes[:, s] = ids[dist.argmin(axis=1)]
        return pd.DataFrame(
            {
                "vec_id": lpdf["vec_id"].to_numpy().astype("int64"),
                "qv": list(X),
                "codes": list(codes),
            }
        )

    return (
        left.groupby("blk")
        .cogroup(right.groupby("blk"))
        .applyInPandas(
            lambda _k, l, r: encode(l, r),
            schema="vec_id bigint, qv array<bigint>, codes array<bigint>",
        )
    )


def _pq_parts(vecs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Train the per-subspace codebooks and encode the corpus.

    Returns (cents, codes): cents is the refined codebook in long form
    (sub_id, code_id, d, cq) — at most _PQ_M x _PQ_KS x 4 = 4096 rows,
    always broadcastable; codes is (vec_id, codes array<int>) — the
    _PQ_M-codes-per-vector table ADC search scans instead of vectors.

    Plan shape (r12 rewrite of the encode passes): BOTH assignment
    passes run through _pq_encode — a cogrouped numpy int64 block
    argmin (bit-identical to the r11 interpreted-HOF form, which cost
    4096 engine-dispatched ops per vector and carried the suite's
    steepest exponent). The only corpus-sized aggregate is the Lloyd
    update's (sub, code, dim) integer-mean groupBy over narrow exploded
    rows — <= 4096 partials per task after map-side combine. No N x ks
    intermediate ever exists. A code cell that loses all members simply
    drops out (deterministic on both engines). Training covers the full
    corpus here (it measurably buys recall at no local cost: a 25%
    training sample read 0.96 instead of 1.00 recall@5 after re-rank at
    sf1.0); at 100 TB train on q_stratified_sample output and only
    ENCODE the full corpus — the loop never needs full N."""
    qvecs = vecs.select("vec_id", F.expr(_QV_EXPR).alias("qv"))
    return _pq_parts_from(qvecs)


def _pq_parts_from(qvecs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """_pq_parts' train/encode chain over an ALREADY-GRIDDED
    (vec_id, qv array<bigint>) input — ONE definition shared by the
    raw-vector path (_pq_parts) and the by-residual path
    (ann_ivfpq_search, which feeds cell-residual grids). Seeds stay the
    vec_id in [_CENTROID_BASE, _CENTROID_BASE + _PQ_KS) rows of
    WHATEVER space the input lives in — for residuals that is those
    vectors' residuals, deterministic on both engines."""
    subd = 64 // _PQ_M

    seeds_long = (
        qvecs.where(
            (F.col("vec_id") >= _CENTROID_BASE)
            & (F.col("vec_id") < _CENTROID_BASE + _PQ_KS)
        )
        .select((F.col("vec_id") - _CENTROID_BASE).alias("code_id"), F.posexplode("qv").alias("d", "cq"))
        .withColumn("sub_id", F.expr(f"d DIV {subd}"))
        .select("sub_id", "code_id", "d", "cq")
    )
    a1 = _pq_encode(qvecs, seeds_long, subd)
    # Lloyd update: integer mean per (sub, code, dim) over narrow rows
    memb = (
        a1.select(
            "vec_id",
            F.posexplode(F.expr(f"arrays_zip(codes, {_pq_subs_expr(subd)})")).alias("sub_id", "z"),
        )
        .select("sub_id", F.col("z.codes").alias("code_id"), F.posexplode(F.col("z.1")).alias("ds", "q"))
    )
    cents = tracked_persist(
        memb.groupBy("sub_id", "code_id", "ds")
        .agg(F.sum("q").alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            "sub_id",
            "code_id",
            (F.col("sub_id") * subd + F.col("ds")).alias("d"),
            F.expr("s DIV n").alias("cq"),
        )
    )
    codes = _pq_encode(qvecs, cents, subd).select("vec_id", "codes")
    return cents, codes


def _pq_qluts(vecs: DataFrame, cents: DataFrame, subd: int) -> DataFrame:
    """Per-query ADC lookup tables (query_id, luts array<map>) — ONE
    definition shared by ann_pq_search and ann_ivfadc_search (r12
    review: it was copy-pasted; a tie-break or grid change must not be
    able to diverge the two searches). <= _N_QUERIES rows, always
    broadcast by the consumer."""
    qdf = vecs.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.expr(_QV_EXPR).alias("qv")
    )
    return _pq_luts_from(qdf, cents, subd, ("query_id",))


def _pq_luts_from(
    qdf: DataFrame, cents: DataFrame, subd: int, keys: tuple[str, ...]
) -> DataFrame:
    """ADC lookup-table build over an already-gridded frame of
    `keys` + qv rows — the _pq_qluts kernel generalized so the
    by-residual search can key its LUTs by (query_id, cent_id): each
    probed cell sees a DIFFERENT query residual, so it needs its own
    table (Jegou 2011 §IV-B: one LUT per (query, coarse cell))."""
    return (
        qdf.crossJoin(F.broadcast(_pq_cball(cents, subd)))
        .select(
            *keys,
            F.expr(
                f"zip_with({_pq_subs_expr(subd)}, _cb,"
                f" (sv, cands) -> map_from_entries(transform(cands, c -> struct(c.i,"
                f" aggregate(zip_with(sv, c.q, (x, y) -> (x - y) * (x - y)),"
                f" CAST(0 AS BIGINT), (a, x) -> a + x)))))"
            ).alias("luts"),
        )
    )


def _rerank_pool(vecs: DataFrame, pooled: DataFrame, top_k: int) -> DataFrame:
    """Exact re-rank of a pooled-candidate-id union through the fenced
    knn_rerank — ONE definition of the tail shared by ann_ivf_refined
    and ann_ivfadc_search (r12 review). The pool is tiny (<= pool/
    shortlist x queries ids) so the semi-join broadcasts it — the
    corpus vector table must never shuffle for this join (a Window
    upstream hides the tiny size from the stats estimator)."""
    queries = vecs.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("norm").alias("qnorm")
    )
    cand_union = (
        vecs.join(F.broadcast(pooled), vecs["vec_id"] == pooled["cand_id"])
        .select(F.col("vec_id").alias("cand_id"), F.col("v").alias("cv"), F.col("norm").alias("cnorm"))
    )
    return knn_rerank(queries, cand_union, top_k=top_k).orderBy("query_id", "rank")


# ONE definition of the ADC distance projection (sum of per-subspace
# LUT lookups over a candidate's codes) shared by ann_pq_search,
# ann_ivfadc_search, and ann_ivfpq_search.
_ADC_EXPR = (
    "aggregate(zip_with(codes, luts, (c, mp) -> element_at(mp, c)),"
    " CAST(0 AS BIGINT), (a, x) -> a + x)"
)


def _adc_scored(
    cell_codes: DataFrame, probes: DataFrame, luts: DataFrame, keys: tuple[str, ...]
) -> DataFrame:
    """ONE definition of the cell-pruned ADC scan shared by IVFADC,
    IVFADC-indexed and IVFPQ: cell codes (cand_id, codes, cent_id) ⋈
    the broadcast (query_id, cent_id) probe list — the prune: probed
    cells only — ⋈ the broadcast LUTs on `keys` (query_id for raw-vector
    codes, (query_id, cent_id) for per-cell residual LUTs) ->
    (query_id, cand_id, adc_dist)."""
    return (
        cell_codes.join(F.broadcast(probes.select("query_id", "cent_id")), "cent_id")
        .join(F.broadcast(luts), list(keys))
        .where(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id", F.expr(_ADC_EXPR).alias("adc_dist"))
    )


def ann_pq_search(
    vecs: DataFrame,
    top_k: int = 5,
    parts: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k per query over the PQ codes:
    the query stays full precision, candidates are their 12-byte codes.
    Per query a _PQ_M x _PQ_KS partial-distance lookup table is built
    as an array of per-subspace maps and BROADCAST (<= _N_QUERIES
    rows); each candidate's distance is one inline map-lookup sum over
    its _PQ_M codes — a pure projection over the codes table, no join
    wider than the bounded query side. All-integer grid arithmetic end
    to end. `parts` reuses a trained (cents, codes) pair across a sweep
    (tools/ivf_recall_curve.py --pq) — without it every call retrains
    the codebook."""
    subd = 64 // _PQ_M
    cents, codes = parts if parts is not None else _pq_parts(vecs)
    qluts = _pq_qluts(vecs, cents, subd)
    scored = (
        codes.withColumnRenamed("vec_id", "cand_id")
        .crossJoin(F.broadcast(qluts))  # bounded: <= _N_QUERIES rows
        .where(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            F.expr(_ADC_EXPR).alias("adc_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("query_id", "rank", "cand_id", "adc_dist")
        .orderBy("query_id", "rank")
    )


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded entry: PQ-ADC top-5 per query (vec_id < 5) over the
    embeddings corpus. The DuckDB oracle mirrors the WHOLE chain —
    subspace codebook training (seed pass, integer-mean Lloyd update,
    final encode) and the ADC ranking — in exact int64 grid
    arithmetic."""
    return ann_pq_search(_vectors(spark, sf_dir))


def ann_ivfadc_search(
    vecs: DataFrame,
    nprobe: int = _NPROBE,
    shortlist: int = 48,
    top_k: int = 5,
    centroids: DataFrame | None = None,
    parts: tuple[DataFrame, DataFrame] | None = None,
    route_parts: tuple[DataFrame, DataFrame, DataFrame] | None = None,
    return_pool: bool = False,
):
    """IVFADC — the published production composition (Jegou, Douze,
    Schmid, TPAMI 2011 §IV: IVF coarse routing + ADC over the PQ codes
    of PROBED cells only), completed with the repo's fenced exact
    re-rank:

    1. ROUTE: every corpus vector is assigned to its nearest IVF cell
       (ivf_membership — one broadcast join, map-side-combinable
       argmax); each query probes its `nprobe` closest cells.
    2. ADC in probed cells: candidates are their 12-byte PQ codes
       (_pq_parts), but unlike ann_pq's corpus-wide ADC the code scan is
       PRUNED to the probed cells — the codes table joins the tiny
       (query, cell) probe list by cell id (broadcast equi-join), so at
       100 TB a cell-partitioned code layout (write_ivf_partitioned)
       reads nprobe/K of the codes and nothing else. Distances are the
       broadcast per-query LUT lookups, all-integer.
    3. EXACT re-rank: the per-query ADC top-`shortlist` ids union into a
       pool that re-ranks through the fenced knn_rerank — full-precision
       vectors are touched for the pool only, so the full-precision scan
       fraction is <= queries*shortlist/N (measured against the
       ann_ivf_refined economics in SCALING.md).

    This variant encodes the vectors themselves, not the cell residuals
    (the faiss `by_residual=False` IVFPQ shape): the coarse quantizer
    here is the cosine-based cell directory whose centroids live on the
    raw-embedding scale, and keeping the code space identical to ann_pq
    lets one trained codebook serve both the corpus-wide and the
    cell-pruned search. Routing goes through _route (ONE definition
    shared with ann_ivf_refined): `centroids` selects the fixture /
    kmeans directory — the graded q_ann_ivfadc passes the fixture, like
    q_ann_ivf/q_ann_ivf_refined — and None routes through the TRAINED
    two-level directory (`route_parts` reuses a prebuilt one across a
    sweep). `parts` reuses a trained PQ (cents, codes) pair;
    `return_pool` also returns the pooled-union ids so the sweep can
    measure the actual full-precision scan fraction."""
    membership, probes = _route(vecs, nprobe, centroids, route_parts)
    cents, codes = parts if parts is not None else _pq_parts(vecs)
    qluts = _pq_qluts(vecs, cents, 64 // _PQ_M)
    # the cell id rides with the codes (at scale: written once, cell-
    # partitioned); here the N-row equi-join builds that layout inline
    cell_codes = codes.join(membership.select("vec_id", "cent_id"), "vec_id").withColumnRenamed(
        "vec_id", "cand_id"
    )
    scored = _adc_scored(cell_codes, probes, qluts, ("query_id",))
    pooled = _shortlist(scored, F.asc("adc_dist"), shortlist)
    out = _rerank_pool(vecs, pooled, top_k=top_k)
    return (out, pooled) if return_pool else out


def q_ann_ivfadc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded entry: IVFADC on the fixture cell directory — probe 2 of
    the 8 cells, ADC-score only the probed cells' PQ codes, exact
    re-rank the per-query ADC top-48 through knn_rerank. The DuckDB
    oracle mirrors the WHOLE chain: PQ training/encode (shared CTE block
    with ann_pq), cell assignment and probe selection (the ann_ivf
    shape), the cell-pruned ADC ranking, and the rounded-cosine
    re-rank."""
    vecs = _vectors(spark, sf_dir)
    return ann_ivfadc_search(vecs, centroids=_fixture_centroids(vecs))


def ivfpq_parts(
    vecs: DataFrame,
    centroids: DataFrame | None = None,
    route_parts: tuple[DataFrame, DataFrame, DataFrame] | None = None,
    membership: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The nprobe-INDEPENDENT half of the by-residual search: centroid
    grid table, residual-trained codebook, residual codes. A sweep
    varying (nprobe, shortlist) against one routing must build this
    ONCE and pass it as ann_ivfpq_search's `parts` (the --pq branch's
    own lesson: per-point retraining conflates training with search in
    every reported timing — the second review pass caught --ivfpq
    repeating exactly that). `membership` reuses a precomputed
    (vec_id, cent_id) assignment — cell membership is nprobe-
    independent, so the search composition passes its own routing's
    membership instead of re-scoring the corpus against the directory
    a second time (r13: the duplicate N×K pass was ~40 % of
    ann_ivfpq_kmeans's wall time)."""
    if centroids is not None:
        if membership is None:
            membership, _ = _route(vecs, 1, centroids, None)
        cgrid = centroids.select(
            F.col("vec_id").alias("cent_id"), F.expr(_QV_EXPR).alias("cg")
        )
    else:
        rp = route_parts if route_parts is not None else _two_level_parts(vecs)
        if membership is None:
            membership, _ = _route(vecs, 1, None, rp)
        cgrid = rp[1].select(
            F.col("fine_id").alias("cent_id"), F.col("fqv1").alias("cg")
        )
    res = F.expr("zip_with(gv, cg, (a, b) -> a - b)")
    rqvecs = (
        membership.join(F.broadcast(cgrid), "cent_id")
        .select("vec_id", F.expr(_QV_EXPR).alias("gv"), "cg")
        .select("vec_id", res.alias("qv"))
    )
    cents, codes = _pq_parts_from(rqvecs)
    return cgrid, cents, codes


def ann_ivfpq_search(
    vecs: DataFrame,
    nprobe: int = _NPROBE,
    shortlist: int = 48,
    top_k: int = 5,
    centroids: DataFrame | None = None,
    route_parts: tuple[DataFrame, DataFrame, DataFrame] | None = None,
    parts: tuple[DataFrame, DataFrame, DataFrame] | None = None,
    return_pool: bool = False,
):
    """By-RESIDUAL IVFPQ — the faiss-default IVFPQ shape
    (`by_residual=True`; Jegou 2011 §IV-B): the PQ codebook is trained
    on, and the codes encode, the residual r = v - centroid(cell(v))
    instead of the raw vector, and each (query, probed cell) pair gets
    its OWN ADC lookup table built from that cell's query residual.
    Residuals concentrate near zero once the coarse quantizer has
    soaked up the cell mean, so the same 12 bytes/vector spend their
    precision on a tighter distribution — the reason faiss defaults to
    it. Everything else is the ann_ivfadc composition: _route routing,
    cell-pruned ADC (broadcast (query, cell) join), fenced exact
    re-rank of the per-query shortlist.

    All arithmetic stays on the 1e-6 integer grid: a residual is a
    DIFFERENCE of two grid snaps (exact int64, |r| <= 2^21), so
    training, encoding, and ADC are bit-identical cross-engine — the
    whole chain is DuckDB-mirrored (SQL_ANN_IVFPQ). LUT count is
    queries x nprobe (vs queries for the non-residual form) — still a
    bounded broadcast; the corpus-side work is unchanged.

    `centroids` selects an explicit cell directory (the fixture — the
    graded path — or kmeans_train output); None routes through the
    TRAINED two-level directory (late r12: the fine-centroid grid
    vectors f1cell.fqv1 ARE the residual reference, so the trained
    composition needs no extra machinery; `route_parts` reuses a
    prebuilt directory across a sweep, and `parts` reuses a prebuilt
    ivfpq_parts triple so the sweep never retrains the residual
    codebook per point). The trained path carries
    pytest wide-open-equivalence and tools-sweep evidence; only the
    fixture path is oracle-graded (mirroring two-level training inside
    the residual chain would dwarf the query)."""
    if centroids is None and route_parts is None:
        route_parts = _two_level_parts(vecs)
    membership, probes = _route(vecs, nprobe, centroids, route_parts)
    # membership persist (r15 optimization pass): the corpus assignment
    # is consumed by BOTH the residual build (rqvecs, inside the codes
    # lineage) and the cell_codes join below — without the persist the
    # N x K assignment pass runs once per consumer (the r13 finding
    # that motivated the membership= parameter, finished: the parameter
    # shares the DataFrame, the persist shares the COMPUTATION).
    # probes likewise feeds the residual-LUT build AND the cell-pruning
    # broadcast — queries x nprobe rows, two consumers.
    membership = tracked_persist(membership)
    probes = tracked_persist(probes)
    cgrid, cents, codes = (
        parts
        if parts is not None
        else ivfpq_parts(vecs, centroids, route_parts, membership=membership)
    )
    subd = 64 // _PQ_M
    res = F.expr("zip_with(gv, cg, (a, b) -> a - b)")
    qres = (
        probes.join(F.broadcast(cgrid), "cent_id")
        .select("query_id", "cent_id", F.col("pv").alias("v"), "cg")
        .select("query_id", "cent_id", F.expr(_QV_EXPR).alias("gv"), "cg")
        .select("query_id", "cent_id", res.alias("qv"))
    )
    rluts = _pq_luts_from(qres, cents, subd, ("query_id", "cent_id"))
    cell_codes = codes.join(membership.select("vec_id", "cent_id"), "vec_id").withColumnRenamed(
        "vec_id", "cand_id"
    )
    scored = _adc_scored(cell_codes, probes, rluts, ("query_id", "cent_id"))
    pooled = _shortlist(scored, F.asc("adc_dist"), shortlist)
    out = _rerank_pool(vecs, pooled, top_k=top_k)
    return (out, pooled) if return_pool else out


def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded entry: by-residual IVFPQ on the fixture cell directory —
    probe 2 of the 8 cells, residual-train/encode the PQ codebook, ADC
    with per-(query, cell) residual LUTs over the probed cells only,
    exact re-rank of the per-query ADC top-48 through knn_rerank. The
    DuckDB oracle mirrors the WHOLE chain — cell assignment, residual
    grids, residual codebook training/encode, the per-cell LUTs, the
    cell-pruned ADC ranking, and the rounded-cosine re-rank."""
    vecs = _vectors(spark, sf_dir)
    return ann_ivfpq_search(vecs, centroids=_fixture_centroids(vecs))


def q_ann_ivfadc_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded entry: IVFADC routed through a TRAINED cell directory —
    the kmeans_train Lloyd centroids (kmeans_centroids) instead of the
    frozen 8-vector fixture (r13: closes the last ungraded leg of the
    ANN mandate — every prior graded IVF-family row ran the fixture
    directory; this one's directory is a training artifact). Same
    composition as q_ann_ivfadc otherwise: _route, cell-pruned ADC over
    the trained-PQ codes, fenced exact re-rank. The DuckDB oracle
    mirrors the WHOLE chain including the training: the kmeans CTE
    chain (shared with the kmeans_train oracle), the directory-double
    conversion, and the shared route/ADC/re-rank blocks."""
    vecs = _vectors(spark, sf_dir)
    return ann_ivfadc_search(vecs, centroids=kmeans_centroids(spark, sf_dir))


def q_ann_ivfpq_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded entry: by-residual IVFPQ routed through the kmeans-TRAINED
    cell directory — the residual reference is the trained centroid
    itself (ivfpq_parts snaps the directory doubles back to the grid),
    so the whole faiss-default composition — trained coarse quantizer,
    residual codebook, per-(query, cell) LUTs, cell-pruned ADC, fenced
    re-rank — is driver-graded end-to-end with no fixture anywhere."""
    vecs = _vectors(spark, sf_dir)
    return ann_ivfpq_search(vecs, centroids=kmeans_centroids(spark, sf_dir))


def _sql_pq_chain(pts: str, p: str) -> str:
    """The PQ Lloyd train/encode chain as SQL CTEs, parameterized over
    its points-CTE name `pts` ((vec_id, d, sub_id, q) rows) and a CTE
    name prefix `p` — ONE definition shared by the ann_pq / ann_ivfadc
    oracles (raw grid points, prefix 'pq_') and the ann_ivfpq oracle
    (cell-residual points, prefix 'r') so the mirrored training can
    never drift between them (r12 review: the residual oracle had
    copy-pasted the whole chain). Emits {p}seeds, {p}d1, {p}a1, {p}n1,
    {p}cents, {p}d2, {p}codes (vec_id, sub_id, code_id)."""
    return f"""{p}seeds AS (
  SELECT sub_id, vec_id - {_CENTROID_BASE} AS code_id, d, q AS cq
  FROM {pts} WHERE vec_id BETWEEN {_CENTROID_BASE} AND {_CENTROID_BASE + _PQ_KS - 1}
),
{p}d1 AS (
  SELECT p.vec_id, p.sub_id, s.code_id,
         sum((p.q - s.cq) * (p.q - s.cq)) AS dist
  FROM {pts} p JOIN {p}seeds s ON p.sub_id = s.sub_id AND p.d = s.d
  GROUP BY 1, 2, 3
),
{p}a1 AS (
  SELECT vec_id, sub_id, code_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, sub_id ORDER BY dist, code_id) AS rn
    FROM {p}d1
  ) WHERE rn = 1
),
{p}n1 AS (SELECT sub_id, code_id, count(*) AS n FROM {p}a1 GROUP BY 1, 2),
{p}cents AS (
  SELECT a.sub_id, a.code_id, p.d, sum(p.q) // max(n.n) AS cq
  FROM {p}a1 a
  JOIN {pts} p ON a.vec_id = p.vec_id AND a.sub_id = p.sub_id
  JOIN {p}n1 n ON a.sub_id = n.sub_id AND a.code_id = n.code_id
  GROUP BY a.sub_id, a.code_id, p.d
),
{p}d2 AS (
  SELECT p.vec_id, p.sub_id, c.code_id,
         sum((p.q - c.cq) * (p.q - c.cq)) AS dist
  FROM {pts} p JOIN {p}cents c ON p.sub_id = c.sub_id AND p.d = c.d
  GROUP BY 1, 2, 3
),
{p}codes AS (
  SELECT vec_id, sub_id, code_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, sub_id ORDER BY dist, code_id) AS rn
    FROM {p}d2
  ) WHERE rn = 1
)"""


# The frozen 8-vector fixture cell directory as an `icents`
# (cent_id, cv, cnorm) CTE — the directory the original graded
# ann_ivfadc/ann_ivfpq opt into.
_SQL_ICENTS_FIXTURE = f"""icents AS (
  SELECT vec_id AS cent_id, v AS cv, norm AS cnorm FROM vecs
  WHERE vec_id >= {_CENTROID_BASE} AND vec_id < {_CENTROID_BASE + _N_CENTROIDS}
)"""

# The kmeans-TRAINED cell directory as the same `icents` CTE — mirrors
# kmeans_centroids (requires the _SQL_KM_CTES chain for cent2): the
# exact-int64 trained grid becomes directory doubles via ONE IEEE
# division, and the norm is the same list_sum fold _SQL_VECTORS uses.
_SQL_ICENTS_KMEANS = """kvecs AS (
  SELECT cid AS cent_id,
         list_transform(list(cq ORDER BY d), c -> CAST(c AS DOUBLE) / CAST(1000000.0 AS DOUBLE)) AS cv
  FROM cent2 GROUP BY cid
),
icents AS (
  SELECT cent_id, cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS cnorm FROM kvecs
)"""

# The IVF routing CTE body — ONE definition shared by the ann_ivfadc
# and ann_ivfpq oracles across BOTH directories (cosine-ranked
# assignment, membership, query probes). Requires `vecs` and an
# `icents` (cent_id, cv, cnorm) CTE.
_SQL_IVF_ROUTE_BODY = f"""iassigned AS (
  SELECT q.vec_id, c.cent_id,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY (floor((list_sum(list_transform(range(len(q.v)), i -> q.v[i+1] * c.cv[i+1]))
                                           / (q.norm * c.cnorm)) * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE)) DESC, c.cent_id ASC) AS crank
  FROM vecs q CROSS JOIN icents c
),
imembership AS (SELECT vec_id, cent_id FROM iassigned WHERE crank = 1),
iprobes AS (
  SELECT vec_id AS query_id, cent_id
  FROM iassigned WHERE vec_id < {_N_QUERIES} AND crank <= {_NPROBE}
)"""


# The shortlist -> pooled-union -> exact-re-rank SQL tail — ONE
# definition shared by the ann_ivfadc and ann_ivfpq oracles (mirrors
# _rerank_pool + the shortlist window). Requires an `adc`
# (query_id, cand_id, adc_dist) CTE and the `vecs` CTE.
_SQL_RERANK_TAIL = f"""pooled AS (
  SELECT DISTINCT cand_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_dist ASC, cand_id ASC) AS srank
    FROM adc
  ) WHERE srank <= 48
),
queries AS (
  SELECT vec_id AS query_id, v AS qv, norm AS qnorm FROM vecs WHERE vec_id < {_N_QUERIES}
),
rescored AS (
  SELECT q.query_id, c.vec_id AS cand_id,
         (floor((list_sum(list_transform(range(len(q.qv)), i -> q.qv[i+1] * c.v[i+1]))
               / (q.qnorm * c.norm)) * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE)) AS cosine
  FROM queries q
  JOIN (SELECT v2.* FROM vecs v2 JOIN pooled pl ON v2.vec_id = pl.cand_id) c
    ON q.query_id <> c.vec_id
)
SELECT query_id, rank, cand_id, cosine
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rank
  FROM rescored
)
WHERE rank <= 5
ORDER BY query_id, rank"""


# The PQ train/encode/LUT chain as a reusable SQL CTE block — ONE
# definition shared by the ann_pq and ann_ivfadc oracles so the mirrored
# training can never drift between them. Emits: pq_pts, the _sql_pq_chain
# CTEs (pq_seeds .. pq_codes), and pq_lut (query_id, sub_id, code_id, pd).
_SQL_PQ_CTES = f"""
pq_pts AS (
  SELECT vec_id, i AS d, i // {64 // _PQ_M} AS sub_id,
         CAST(floor(v[i + 1] * 1000000.0) AS BIGINT) AS q
  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), range(64) t(i)
),
{_sql_pq_chain("pq_pts", "pq_")},
pq_lut AS (
  SELECT p.vec_id AS query_id, p.sub_id, c.code_id,
         sum((p.q - c.cq) * (p.q - c.cq)) AS pd
  FROM pq_pts p JOIN pq_cents c ON p.sub_id = c.sub_id AND p.d = c.d
  WHERE p.vec_id < {_N_QUERIES}
  GROUP BY 1, 2, 3
)"""


SQL_ANN_PQ = f"""
WITH {_SQL_PQ_CTES.strip()},
scored AS (
  SELECT l.query_id, k.vec_id AS cand_id, sum(l.pd) AS adc_dist
  FROM pq_codes k JOIN pq_lut l ON k.sub_id = l.sub_id AND k.code_id = l.code_id
  WHERE l.query_id <> k.vec_id
  GROUP BY 1, 2
)
SELECT query_id, rank, CAST(cand_id AS BIGINT) AS cand_id,
       CAST(adc_dist AS BIGINT) AS adc_dist
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_dist ASC, cand_id ASC) AS rank
  FROM scored
)
WHERE rank <= 5
ORDER BY query_id, rank
"""


def _sql_ann_ivfadc(icents_block: str, pre: str = "") -> str:
    """The IVFADC oracle parameterized over its cell directory: `pre`
    prepends directory-builder CTEs (the kmeans chain), `icents_block`
    defines the `icents` CTE the shared route body reads. ONE adc/tail
    definition serves the fixture and the kmeans-trained gradings."""
    return f"""
WITH {_SQL_PQ_CTES.strip()},
vecs AS ({_SQL_VECTORS}),
{pre}{icents_block},
{_SQL_IVF_ROUTE_BODY},
adc AS (
  SELECT l.query_id, k.vec_id AS cand_id, sum(l.pd) AS adc_dist
  FROM pq_codes k
  JOIN imembership m ON k.vec_id = m.vec_id
  JOIN iprobes p ON m.cent_id = p.cent_id
  JOIN pq_lut l ON l.query_id = p.query_id
               AND k.sub_id = l.sub_id AND k.code_id = l.code_id
  WHERE p.query_id <> k.vec_id
  GROUP BY 1, 2
),
{_SQL_RERANK_TAIL}
"""


SQL_ANN_IVFADC = _sql_ann_ivfadc(_SQL_ICENTS_FIXTURE)
# (the _KMEANS instantiations live after _SQL_KM_CTES, below)


def _sql_ann_ivfpq(icents_block: str, pre: str = "") -> str:
    """The by-residual IVFPQ oracle parameterized over its cell
    directory (same contract as _sql_ann_ivfadc) — the residual grids
    rgrid/rqres read `icents`, so swapping the directory swaps the
    residual reference too, exactly as ivfpq_parts does."""
    return f"""
WITH vecs AS ({_SQL_VECTORS}),
{pre}{icents_block},
{_SQL_IVF_ROUTE_BODY},
rgrid AS (
  SELECT m.vec_id, t.i AS d, t.i // {64 // _PQ_M} AS sub_id,
         CAST(floor(v.v[t.i + 1] * 1000000.0) AS BIGINT)
         - CAST(floor(c.cv[t.i + 1] * 1000000.0) AS BIGINT) AS q
  FROM imembership m
  JOIN vecs v ON v.vec_id = m.vec_id
  JOIN icents c ON c.cent_id = m.cent_id, range(64) t(i)
),
{_sql_pq_chain('rgrid', 'r')},
rqres AS (
  SELECT p.query_id, p.cent_id, t.i AS d, t.i // {64 // _PQ_M} AS sub_id,
         CAST(floor(qv.v[t.i + 1] * 1000000.0) AS BIGINT)
         - CAST(floor(c.cv[t.i + 1] * 1000000.0) AS BIGINT) AS q
  FROM iprobes p
  JOIN vecs qv ON qv.vec_id = p.query_id
  JOIN icents c ON c.cent_id = p.cent_id, range(64) t(i)
),
rlut AS (
  SELECT r.query_id, r.cent_id, r.sub_id, c.code_id,
         sum((r.q - c.cq) * (r.q - c.cq)) AS pd
  FROM rqres r JOIN rcents c ON r.sub_id = c.sub_id AND r.d = c.d
  GROUP BY 1, 2, 3, 4
),
adc AS (
  SELECT p.query_id, k.vec_id AS cand_id, sum(l.pd) AS adc_dist
  FROM rcodes k
  JOIN imembership m ON k.vec_id = m.vec_id
  JOIN iprobes p ON m.cent_id = p.cent_id
  JOIN rlut l ON l.query_id = p.query_id AND l.cent_id = m.cent_id
             AND l.sub_id = k.sub_id AND l.code_id = k.code_id
  WHERE p.query_id <> k.vec_id
  GROUP BY 1, 2
),
{_SQL_RERANK_TAIL}
"""


SQL_ANN_IVFPQ = _sql_ann_ivfpq(_SQL_ICENTS_FIXTURE)


SQL_ANN_IVF_REFINED = f"""
WITH vecs AS ({_SQL_VECTORS}),
cents AS (
  SELECT vec_id AS cent_id, v AS cv, norm AS cnorm FROM vecs
  WHERE vec_id >= {_CENTROID_BASE} AND vec_id < {_CENTROID_BASE + _N_CENTROIDS}
),
assigned AS (
  SELECT q.vec_id, q.v, q.norm, c.cent_id,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY (floor((list_sum(list_transform(range(len(q.v)), i -> q.v[i+1] * c.cv[i+1]))
                                           / (q.norm * c.cnorm)) * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE)) DESC, c.cent_id ASC) AS crank
  FROM vecs q CROSS JOIN cents c
),
membership AS (SELECT vec_id, v, norm, cent_id FROM assigned WHERE crank = 1),
probes AS (
  SELECT vec_id AS query_id, v AS pv, cent_id
  FROM assigned WHERE vec_id < {_N_QUERIES} AND crank <= {2 * _NPROBE}
),
pooled AS (
  SELECT DISTINCT cand_id FROM (
    SELECT p.query_id, m.vec_id AS cand_id,
           row_number() OVER (PARTITION BY p.query_id
                              ORDER BY {_SQL_SQ_DOT.format(q="p.pv", c="m.v")} DESC, m.vec_id ASC) AS prank
    FROM probes p JOIN membership m ON p.cent_id = m.cent_id
    WHERE p.query_id <> m.vec_id
  ) WHERE prank <= 48
),
queries AS (
  SELECT vec_id AS query_id, v AS qv, norm AS qnorm FROM vecs WHERE vec_id < {_N_QUERIES}
),
scored AS (
  SELECT q.query_id, c.vec_id AS cand_id,
         (floor((list_sum(list_transform(range(len(q.qv)), i -> q.qv[i+1] * c.v[i+1]))
               / (q.qnorm * c.norm)) * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE)) AS cosine
  FROM queries q
  JOIN (SELECT v2.* FROM vecs v2 JOIN pooled pl ON v2.vec_id = pl.cand_id) c
    ON q.query_id <> c.vec_id
)
SELECT query_id, rank, cand_id, cosine
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rank
  FROM scored
)
WHERE rank <= 5
ORDER BY query_id, rank
"""


def _sql_ann_ivf_trained() -> str:
    return f"""
WITH vecs AS ({_SQL_VECTORS}),
{_sql_two_level_membership()},
mv AS (
  SELECT m.vec_id, m.cent_id, x.v, x.norm
  FROM membership m JOIN vecs x ON m.vec_id = x.vec_id
),
probes AS (
  SELECT vec_id AS query_id, v AS pv, norm AS qnorm, fine_id AS cent_id FROM (
    SELECT q.vec_id, q.v, q.norm, fc.fine_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {_sql_int_l2('q.qv', 'fc.fqv1')}, fc.fine_id) AS crank
    FROM qvecs q CROSS JOIN f1cell fc
    WHERE q.vec_id < {_N_QUERIES}
  ) WHERE crank <= {_NPROBE}
),
scored AS (
  SELECT p.query_id, m.vec_id AS cand_id,
         (floor((list_sum(list_transform(range(len(p.pv)), i -> p.pv[i+1] * m.v[i+1]))
               / (p.qnorm * m.norm)) * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE)) AS cosine
  FROM probes p JOIN mv m ON p.cent_id = m.cent_id
  WHERE p.query_id <> m.vec_id
)
SELECT query_id, rank, cand_id, cosine
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rank
  FROM scored
)
WHERE rank <= 5
ORDER BY query_id, rank
"""


# NOTE: SQL_ANN_IVF_TRAINED is materialized further down, after the
# trained-codebook helpers (_sql_two_level_membership et al.) exist at
# module scope.


def q_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-cluster quality: per label, mean intra-label cosine to the
    label centroid (mean vector) — the 'train centroids' step of IVF at
    scale, via element-wise mean over exploded positions.

    Every accumulation is order-independent (exact_avg / exact_sum
    quantized machinery), so the result is bit-identical to the DuckDB
    oracle and stable across partitionings — double sums over shuffled
    rows would drift in the last ulp and flip the 4-dp rounding."""
    from .util import exact_avg, exact_sum

    emb = load(spark, sf_dir, "embeddings")
    pos = emb.select(
        "vec_id", "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "x")
    )
    cent = pos.groupBy("label", "i").agg(exact_avg(F.col("x"), 9).alias("cx"))
    joined = pos.join(F.broadcast(cent), ["label", "i"])
    per_vec = joined.groupBy("vec_id", "label").agg(
        exact_sum(F.col("x") * F.col("cx"), 9).alias("dot"),
        exact_sum(F.col("x") * F.col("x"), 9).alias("nx2"),
        exact_sum(F.col("cx") * F.col("cx"), 9).alias("nc2"),
    )
    cos = F.col("dot") / F.sqrt(F.col("nx2") * F.col("nc2"))
    return (
        per_vec.withColumn("cos", cos)
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_vecs"), exact_avg(F.col("cos"), 4).alias("avg_intra_cosine"))
        .orderBy("label")
    )


SQL_CLUSTER_STATS = f"""
WITH pos AS (
  SELECT vec_id, label, generate_subscripts(v, 1) - 1 AS i, unnest(v) AS x
  FROM (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
),
cent AS (
  SELECT label, i, {sql_avg('x', 9)} AS cx
  FROM pos GROUP BY 1, 2
),
per_vec AS (
  SELECT vec_id, p.label,
         {sql_sum('x * cx', 9)} AS dot,
         {sql_sum('x * x', 9)} AS nx2,
         {sql_sum('cx * cx', 9)} AS nc2
  FROM pos p JOIN cent c ON p.label = c.label AND p.i = c.i
  GROUP BY 1, 2
)
SELECT label, count(*) AS n_vecs,
       {sql_avg('cos', 4)} AS avg_intra_cosine
FROM (SELECT label, dot / sqrt(nx2 * nc2) AS cos FROM per_vec)
GROUP BY label
ORDER BY label
"""


_KM_SCALE = 1_000_000  # 1e-6 quantization grid for exact-int k-means
_KM_DESCALE = float(_KM_SCALE) ** 2  # distances are in grid² units


def _km_chain(emb: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Two unrolled integer-grid Lloyd iterations — the shared kmeans
    lineage (r13: extracted from q_kmeans_train, pure code motion, so
    the graded training metrics and the trained-directory ANN
    compositions consume ONE definition). Returns (pts, cent1, a2,
    cent2): the persisted grid points, the iteration-1 centroids (for
    the shift metric), the final assignment, and the trained centroid
    grid (cid, d, cq).

    Exactness design: every coordinate is quantized to a 1e-6 integer
    grid up front, so assignments (squared-L2 in grid² units), centroid
    updates (integer mean, both engines truncate toward zero), inertia,
    and centroid shift are pure int64 arithmetic — order-independent,
    partition-independent, bit-identical to the DuckDB oracle. No float
    enters any comparison; iterative float k-means is famously
    non-reproducible across reduction orders, and this is the fix.

    Scale shape: per iteration, one broadcast join of K*D centroid rows
    onto the exploded corpus (N*D rows) and two partial-agg shuffles
    keyed on (vec,cid) and (cid,d) — linear in N*K*D with map-side
    combine, the standard IVF training cost. At 100 TB you train on a
    stratified sample (q_stratified_sample) and only ASSIGN the full
    corpus, so the loop never sees the full N.
    """
    from pyspark.sql import Window

    pts = emb.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("d", "x")
    ).select(
        "vec_id", "d", F.floor(F.col("x") * _KM_SCALE).cast("long").alias("q")
    )
    pts = tracked_persist(pts)  # consumed by 2 assign + 2 update passes

    def assign(cent: DataFrame) -> DataFrame:
        dist = (
            pts.join(F.broadcast(cent), "d")
            .groupBy("vec_id", "cid")
            .agg(F.sum((F.col("q") - F.col("cq")) * (F.col("q") - F.col("cq"))).alias("dist"))
        )
        # argmin as a map-side-combinable agg instead of a window
        # (r15 optimization pass, guide §2.3/§2.4): min(struct(dist,
        # cid)) is EXACTLY the window's (dist ASC, cid ASC) first row —
        # lexicographic struct ordering over two int64s — but partial
        # aggregation combines inside each map task and the per-vec_id
        # sort disappears, the same rewrite ivf_membership carries
        # (where it was measured 42.8 s -> ~4 s at sf1.0).
        return dist.groupBy("vec_id").agg(
            F.min(F.struct("dist", "cid")).alias("m")
        ).select("vec_id", F.col("m.cid").alias("cid"), F.col("m.dist").alias("dist"))

    def update(a: DataFrame) -> DataFrame:
        n = a.groupBy("cid").agg(F.count(F.lit(1)).alias("n"))
        return (
            a.join(pts, "vec_id")
            .groupBy("cid", "d")
            .agg(F.sum("q").alias("s"))
            .join(F.broadcast(n), "cid")
            .select("cid", "d", F.expr("s DIV n").alias("cq"))
        )

    cent0 = pts.where(F.col("vec_id").between(_CENTROID_BASE, _CENTROID_BASE + _N_CENTROIDS - 1)).select(
        (F.col("vec_id") - _CENTROID_BASE).alias("cid"), "d", F.col("q").alias("cq")
    )
    # a1/a2 persist (r15 optimization pass): update(a) consumes its
    # assignment TWICE (the per-cid count and the join back to pts), and
    # kmeans_train's summary consumes a2 a third time — without the
    # persist each consumer re-runs the whole N x K assign pass. Tiny
    # tables (one row per corpus vector, three int64s).
    a1 = tracked_persist(assign(cent0))
    cent1 = tracked_persist(update(a1))  # feeds assign2 AND the shift metric
    a2 = tracked_persist(assign(cent1))
    cent2 = update(a2)
    return pts, cent1, a2, cent2


def kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kmeans-TRAINED cell directory as a (vec_id, v, norm)
    centroids table — the bridge between q_kmeans_train's training
    artifact and the `centroids=` parameter every IVF-family search
    accepts (r13: closes the fixture-vs-trained grading gap — the
    graded ann_ivfadc_kmeans/ann_ivfpq_kmeans route through THIS
    directory, not the frozen 8-vector fixture).

    Exactness: the trained grid values cq are exact int64 (graded by
    kmeans_train); the directory doubles are CAST(cq AS DOUBLE) /
    CAST(1000000.0 AS DOUBLE) — one IEEE division both engines perform
    identically — and the norm is the same sequential sum-of-squares
    fold _vectors/_SQL_VECTORS use, so the rounded-cosine routing stays
    bit-identical cross-engine.

    The K-row directory is EAGERLY localCheckpoint'ed: the IVF search
    lineages consume the centroids table several times (membership,
    query probes, and — in the by-residual composition — the residual
    reference grid), and without a materialization EACH consumer
    re-runs the whole two-pass Lloyd training (measured: 13.3 s → 4.6 s
    warm at sf0.1 for ann_ivfpq_kmeans). The checkpoint (rather than a
    persist) ALSO truncates the logical lineage, which the r15
    optimization pass measured as the dominant remaining cost: each
    directory reference re-embedded the Lloyd subtree, the composed
    by-residual plan reached 4.5 MB of explain text, and driver-side
    analysis alone cost ~15 s per ann_ivfpq_kmeans run. Eagerness also
    keeps the concurrent-broadcast race fenced (the searches' first
    touches are several concurrent broadcast-build jobs)."""
    emb = load(spark, sf_dir, "embeddings")
    _pts, _cent1, _a2, cent2 = _km_chain(emb)
    # localCheckpoint, not persist+count (r15 optimization pass, guide
    # §3.3 'materialising an intermediate truncates the plan'): a
    # persisted directory keeps the FULL Lloyd lineage in the logical
    # tree, and every search that references the directory several
    # times (routing, query probes, residual grids, LUTs) multiplies
    # that subtree — ann_ivfpq_kmeans's logical plan reached 4.5 MB of
    # explain text and ~15 s of driver-side ANALYSIS per run (measured:
    # build=17.2 s vs executor work ~2 s). The eager K-row
    # localCheckpoint cuts the lineage to a LogicalRDD — downstream
    # plans are constant-size — and it still materializes eagerly, so
    # the concurrent-broadcast race the old count() fenced stays
    # fenced. ContextCleaner frees the RDD when the DataFrame goes out
    # of scope.
    directory = (
        cent2.groupBy("cid")
        .agg(F.array_sort(F.collect_list(F.struct("d", "cq"))).alias("a"))
        .select(
            F.col("cid").alias("vec_id"),
            F.expr(
                "transform(a, s -> CAST(s.cq AS DOUBLE) / CAST(1000000.0 AS DOUBLE))"
            ).alias("v"),
        )
        .withColumn(
            "norm",
            F.sqrt(
                F.aggregate(
                    F.expr("transform(v, x -> x * x)"), F.lit(0.0), lambda a, x: a + x
                )
            ),
        )
        .localCheckpoint(eager=True)
    )
    return directory


def q_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unrolled Lloyd iterations of k-means over the embedding
    corpus — the actual 'train the IVF centroids' step that q_ann_ivf
    consumes (its centroid list is the trained artifact). Init is the
    same deterministic seed vectors ann_ivf uses (vec_id 100..107).
    The Lloyd lineage itself lives in _km_chain (shared with the
    trained-directory ANN compositions); this graded entry reports the
    per-cluster training metrics."""
    emb = load(spark, sf_dir, "embeddings")
    _pts, cent1, a2, cent2 = _km_chain(emb)
    summary = a2.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_members"), F.sum("dist").alias("inertia_raw")
    )
    shift = (
        cent2.withColumnRenamed("cq", "cq2")
        .join(cent1, ["cid", "d"])
        .groupBy("cid")
        .agg(F.sum((F.col("cq2") - F.col("cq")) * (F.col("cq2") - F.col("cq"))).alias("shift_raw"))
    )
    return (
        summary.join(shift, "cid")
        .select(
            F.col("cid").alias("cluster_id"),
            "n_members",
            F.round(F.col("inertia_raw") / _KM_DESCALE, 6).alias("inertia"),
            F.round(F.col("shift_raw") / _KM_DESCALE, 6).alias("centroid_shift"),
        )
        .orderBy("cluster_id")
    )


# The kmeans Lloyd chain as SQL CTEs — ONE definition shared by the
# kmeans_train oracle and the trained-directory ANN oracles
# (ann_ivfadc_kmeans / ann_ivfpq_kmeans), mirroring _km_chain. Emits
# pts, cent0, dist1, a1, n1, cent1, dist2, a2, n2, cent2.
_SQL_KM_CTES = f"""pts AS (
  SELECT vec_id, i AS d, CAST(floor(v[i + 1] * {_KM_SCALE}) AS BIGINT) AS q
  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), range(64) t(i)
),
cent0 AS (
  SELECT vec_id - {_CENTROID_BASE} AS cid, d, q AS cq
  FROM pts WHERE vec_id BETWEEN {_CENTROID_BASE} AND {_CENTROID_BASE + _N_CENTROIDS - 1}
),
dist1 AS (
  SELECT p.vec_id, c.cid, sum((p.q - c.cq) * (p.q - c.cq)) AS dist
  FROM pts p JOIN cent0 c ON p.d = c.d GROUP BY 1, 2
),
a1 AS (
  SELECT vec_id, cid, dist FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM dist1
  ) WHERE rn = 1
),
n1 AS (SELECT cid, count(*) AS n FROM a1 GROUP BY 1),
cent1 AS (
  SELECT a.cid, p.d, sum(p.q) // max(n1.n) AS cq
  FROM a1 a JOIN pts p ON a.vec_id = p.vec_id JOIN n1 ON a.cid = n1.cid
  GROUP BY a.cid, p.d
),
dist2 AS (
  SELECT p.vec_id, c.cid, sum((p.q - c.cq) * (p.q - c.cq)) AS dist
  FROM pts p JOIN cent1 c ON p.d = c.d GROUP BY 1, 2
),
a2 AS (
  SELECT vec_id, cid, dist FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM dist2
  ) WHERE rn = 1
),
n2 AS (SELECT cid, count(*) AS n FROM a2 GROUP BY 1),
cent2 AS (
  SELECT a.cid, p.d, sum(p.q) // max(n2.n) AS cq
  FROM a2 a JOIN pts p ON a.vec_id = p.vec_id JOIN n2 ON a.cid = n2.cid
  GROUP BY a.cid, p.d
)"""


SQL_KMEANS_TRAIN = f"""
WITH {_SQL_KM_CTES},
summary AS (
  SELECT cid, count(*) AS n_members, sum(dist) AS inertia_raw FROM a2 GROUP BY cid
),
shift AS (
  SELECT c2.cid, sum((c2.cq - c1.cq) * (c2.cq - c1.cq)) AS shift_raw
  FROM cent2 c2 JOIN cent1 c1 ON c2.cid = c1.cid AND c2.d = c1.d
  GROUP BY c2.cid
)
SELECT s.cid AS cluster_id, s.n_members,
       round(s.inertia_raw / {_KM_DESCALE}, 6) AS inertia,
       round(sh.shift_raw / {_KM_DESCALE}, 6) AS centroid_shift
FROM summary s JOIN shift sh ON s.cid = sh.cid
ORDER BY cluster_id
"""


# Trained-directory instantiations of the shared IVFADC / by-residual
# IVFPQ oracle skeletons: the kmeans Lloyd chain builds the directory,
# _SQL_ICENTS_KMEANS converts it to doubles, and the shared route /
# ADC / re-rank blocks are byte-identical to the fixture gradings.
# The persisted-index grading shares the kmeans oracle VERBATIM: the
# on-disk index is a pure function of the corpus (deterministic integer
# Lloyd + PQ), so reading it back must reproduce exactly what training
# inline produces — the oracle grades the math, the Spark plan carries
# the read-don't-retrain shape (pytest-pinned).
SQL_ANN_IVFADC_KMEANS = _sql_ann_ivfadc(
    _SQL_ICENTS_KMEANS, pre=_SQL_KM_CTES + ",\n"
)
SQL_ANN_IVFADC_PERSISTED = SQL_ANN_IVFADC_KMEANS
SQL_ANN_IVFPQ_KMEANS = _sql_ann_ivfpq(
    _SQL_ICENTS_KMEANS, pre=_SQL_KM_CTES + ",\n"
)


def write_ivf_partitioned(vecs: DataFrame, path: str, centroids: DataFrame | None = None) -> None:
    """Cluster-partitioned corpus layout: IVF-assigned vectors written
    hive-partitioned by their cell (`cent_id=K/` directories). This is
    what makes nprobe a SCAN bound and not just a compute bound — a
    reader probing 2 of K cells opens 2 directories, and Spark's
    partition pruning (a static PartitionFilter, asserted by the plan
    contract test) never lists the rest. The 100 TB deployment shape:
    assignment runs once at ingest, searches run forever against the
    pruned layout.

    `centroids=None` (the default) lays the corpus out under the TRAINED
    two-level codebook (two_level_membership) — cells ≈ N/64 directories
    of ~64 vectors; pass a codebook for the flat assignment instead."""
    if centroids is None:
        membership = two_level_membership(vecs)
    else:
        membership = ivf_membership(vecs, centroids)
    membership.write.mode("overwrite").partitionBy("cent_id").parquet(path)


def write_ivfadc_index(
    vecs: DataFrame,
    path: str,
    centroids: DataFrame | None = None,
    parts: tuple[DataFrame, DataFrame] | None = None,
    route_parts: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> None:
    """The IVFADC deployment layout (r12): the PQ CODES (12 B/vector)
    written hive-partitioned by their IVF cell — the write-once index
    build that turns ann_ivfadc's broadcast cell prune into a DIRECTORY
    prune. A search reading nprobe/K cells via read_ivf_cells opens
    only those directories (static PartitionFilter, same plan-contract
    guarantee as write_ivf_partitioned) and scans 12-byte codes, not
    vectors; the full-precision table stays in its own layout and is
    touched only by the bounded re-rank. Same codebook arguments as
    ann_ivfadc_search so an index and the searches against it can never
    train differently."""
    membership, _ = _route(vecs, 1, centroids, route_parts)
    _, codes = parts if parts is not None else _pq_parts(vecs)
    (
        codes.join(membership.select("vec_id", "cent_id"), "vec_id")
        .write.mode("overwrite")
        .partitionBy("cent_id")
        .parquet(path)
    )


def read_ivf_cells(spark: SparkSession, path: str, cell_ids: list[int]) -> DataFrame:
    """Read ONLY the probed cells from an IVF-partitioned layout — the
    filter is on the partition column, so it prunes directories at plan
    time (PartitionFilters in the scan node, no data files of other
    cells touched)."""
    return spark.read.parquet(path).where(F.col("cent_id").isin([int(c) for c in cell_ids]))


# --- persisted-index IVFADC search (r14, VERDICT #2) -------------------------
# The production train-once/search-many lifecycle, graded end to end:
# every prior graded IVF-family row retrains its directory/codebook
# inside the query (grading self-containment); this one trains ONCE,
# writes the three artifacts a deployment actually persists, and the
# graded SEARCH reads them back — directory-pruned file scan -> ADC ->
# fenced re-rank, no Lloyd anywhere in the search lineage.

_IVFADC_INDEX_VERSION = 1  # bump to invalidate every cached index


def _index_root() -> str:
    """Per-user 0700 root for all persisted indexes (r15 advice: the
    content-keyed dirs previously lived at predictable world-shared
    /tmp paths, so on a multi-user host another local user could
    pre-plant a poisoned dir carrying _INDEX_READY — which _ensure_index
    trusts as-is — or have a live build swept by a foreign process).
    Resolution order: $MYSENSE_INDEX_DIR override, else
    $XDG_CACHE_HOME/mysense_index, else /tmp/mysense_index_<uid>.
    The root is created 0700; a pre-existing root owned by a different
    uid is refused loudly (never silently trusted), and group/other
    bits left by an older umask are stripped."""
    import os
    import tempfile

    root = os.environ.get("MYSENSE_INDEX_DIR")
    if not root:
        xdg = os.environ.get("XDG_CACHE_HOME")
        root = (
            os.path.join(xdg, "mysense_index")
            if xdg
            else os.path.join(tempfile.gettempdir(), f"mysense_index_{os.getuid()}")
        )
    os.makedirs(root, mode=0o700, exist_ok=True)
    st = os.stat(root)
    if st.st_uid != os.getuid():
        raise PermissionError(
            f"index root {root} is owned by uid {st.st_uid}, not {os.getuid()}; "
            "refusing to trust or write a foreign index cache "
            "(set MYSENSE_INDEX_DIR to a directory you own)"
        )
    if st.st_mode & 0o077:
        os.chmod(root, 0o700)
    return root


def _index_path(sf_dir: str, params: str) -> str:
    """Content-keyed index location (the csv_ingest fixture-dir idiom):
    one pinned dir per (corpus state, index shape), not a mkdtemp per
    call — a gate sweep / bench iteration reuses the build instead of
    leaking one training run per invocation. The key folds in a corpus
    FINGERPRINT (name/size/mtime of the embeddings parquet — the only
    table any index here is a function of), not just the path (r14
    review: a regenerated corpus at the same path must MISS the cache
    and retrain, never silently serve neighbors of the old data); a
    production deployment would refresh on the upsert sink's
    compaction cadence instead. Dirs live under the per-user 0700
    _index_root (r15 advice), never a world-shared predictable path."""
    import hashlib
    import os

    root = os.path.realpath(sf_dir)
    fp = []
    for dirpath, _dirs, files in sorted(os.walk(root)):
        for f in sorted(files):
            full = os.path.join(dirpath, f)
            rel = os.path.relpath(full, root)
            if rel.startswith("embeddings") and f.endswith(".parquet"):
                st = os.stat(full)
                fp.append(f"{rel}:{st.st_size}:{st.st_mtime_ns}")
    tag = hashlib.sha256(f"{root}|{'|'.join(fp)}|{params}".encode()).hexdigest()[:16]
    return os.path.join(_index_root(), f"idx_{tag}")


def ivfadc_index_path(sf_dir: str) -> str:
    return _index_path(
        sf_dir,
        f"ivfadc|k{_N_CENTROIDS}|m{_PQ_M}|ks{_PQ_KS}|v{_IVFADC_INDEX_VERSION}",
    )


def build_ivfadc_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    """TRAIN ONCE, WRITE the index — the ingest-time half of the
    lifecycle. Three artifacts, each one of the layouts the r12/r13
    rounds built and plan-contract-tested:
      directory/  the kmeans-trained coarse quantizer (K rows: vec_id,
                  v, norm — kmeans_centroids, exact int64 Lloyd)
      cents/      the PQ subspace codebook (<= _PQ_M x _PQ_KS x subd
                  rows — _pq_parts, always broadcastable)
      codes/      the corpus's 12 B/vector PQ codes hive-partitioned by
                  IVF cell (write_ivfadc_index — the layout that turns
                  nprobe into a DIRECTORY prune)
    At 100 TB this runs once per ingest/compaction epoch: Lloyd on a
    stratified sample, one assignment+encode pass over the corpus, one
    partitioned write. Searches then never touch training again."""
    vecs = _vectors(spark, sf_dir)
    directory = kmeans_centroids(spark, sf_dir)
    cents, codes = _pq_parts(vecs)
    directory.write.mode("overwrite").parquet(f"{path}/directory")
    cents.write.mode("overwrite").parquet(f"{path}/cents")
    write_ivfadc_index(vecs, f"{path}/codes", centroids=directory, parts=(cents, codes))


def _tree_newest_mtime(path: str) -> float:
    """Newest mtime anywhere under `path` (the liveness signal for the
    stale-build sweep): a builder writing deep inside a partitioned
    layout keeps the tree alive even though the top directory's own
    mtime never moves."""
    import os

    newest = 0.0
    try:
        newest = os.stat(path).st_mtime
    except OSError:
        pass
    for dirpath, dirs, files in os.walk(path):
        for name in dirs + files:
            try:
                newest = max(newest, os.stat(os.path.join(dirpath, name)).st_mtime)
            except OSError:
                pass
    return newest


def _ensure_index(final: str, build_fn) -> str:
    """Build a persisted index if (and only if) it does not exist yet;
    returns its path. ONE definition shared by the IVFADC and SRP
    lifecycles. Concurrency-safe the same way the csv_ingest fixture
    is: `build_fn(build_dir)` writes into a pid-suffixed dir, then one
    atomic rename — a concurrent builder that loses the race just
    discards its build (builds are byte-equivalent: training/hashing is
    deterministic int64 arithmetic). The _INDEX_READY marker travels
    inside the renamed dir, so a killed half-build is never mistaken
    for an index; a rename failure is only accepted if the marker
    actually exists at the final path (r14 review: anything else — a
    foreign/stale dir squatting the name — must raise, not be mistaken
    for a winner). Stale `.build.<pid>` trees from killed runs (>1 h
    old) are swept here so repeated interruptions cannot fill the
    cache root (r14 review); liveness is judged by the NEWEST mtime
    anywhere in the tree, not the top dir's (r15 advice: directory
    mtime only moves when direct children change, so a live build
    writing deep inside codes/cent_id=*/ for >1 h would have been
    swept under the old rule — now any file the builder touches keeps
    its tree alive). A final dir WITHOUT a marker is an explicitly
    invalidated index (every index append retires the marker so the
    content-keyed cache misses) — removed and rebuilt, never trusted."""
    import glob
    import os
    import shutil
    import time

    marker = os.path.join(final, "_INDEX_READY")
    if os.path.exists(marker):
        return final
    if os.path.exists(os.path.join(final, "_INDEX_APPENDED")):
        # EXPLICITLY invalidated (an index append retired the
        # marker): remove and rebuild. Only this marked state is ever
        # deleted — a dir with neither marker still takes the
        # build/rename/re-check path below, so a concurrent builder's
        # just-renamed index (marker inside, atomic) can never be swept
        # by a racer that read the path a moment earlier.
        shutil.rmtree(final, ignore_errors=True)
    for stale in glob.glob(f"{final}.build.*"):
        try:
            if time.time() - _tree_newest_mtime(stale) > 3600:
                shutil.rmtree(stale, ignore_errors=True)
        except OSError:
            pass
    build = f"{final}.build.{os.getpid()}"
    shutil.rmtree(build, ignore_errors=True)
    build_fn(build)
    with open(os.path.join(build, "_INDEX_READY"), "w") as f:
        f.write("ok\n")
    try:
        os.rename(build, final)
    except OSError:
        shutil.rmtree(build, ignore_errors=True)
        if not os.path.exists(marker):  # not a byte-equivalent winner
            raise
    return final


def _retire_ready_marker(index_path: str) -> None:
    """The cache-coherence step every index append takes BEFORE it
    mutates a persisted index: rename _INDEX_READY to _INDEX_APPENDED.
    An appended index is no longer a pure function of the corpus
    fingerprint its directory name encodes, so the content-keyed
    `ensure_*` must treat it as a cache miss and rebuild — a graded
    `*_persisted` run never serves vectors the oracle does not see. A
    dir without the marker (a build in progress, an explicit-path
    index) is left as it is; compaction never calls this."""
    import os

    marker = os.path.join(index_path, "_INDEX_READY")
    if os.path.exists(marker):
        os.replace(marker, os.path.join(index_path, "_INDEX_APPENDED"))


def ensure_ivfadc_index(spark: SparkSession, sf_dir: str) -> str:
    return _ensure_index(
        ivfadc_index_path(sf_dir), lambda d: build_ivfadc_index(spark, sf_dir, d)
    )


def ivfadc_index_append(spark: SparkSession, new_vecs: DataFrame, index_path: str) -> None:
    """Incremental index maintenance — the daily-crawl move (r14; the
    incremental_dedup shape applied to the ANN index): ASSIGN + ENCODE
    only the new batch under the EXISTING persisted directory and
    codebook, then ONE append of its cell-partitioned codes. No Lloyd,
    no codebook refresh, no touch of the already-indexed corpus — the
    batch-sized cost a nightly ingest actually pays. New vectors are
    immediately searchable (pytest plants query-duplicates and finds
    them at rank 1 post-append).

    The honest trade vs the SRP layout's append story: these codes are
    quantized under a FROZEN coarse/PQ codebook, so a drifting corpus
    degrades recall until the compaction-cadence rebuild (measured
    drift table in SCALING.md; rebuild = delete the index dir or bump
    the corpus fingerprint and ensure_ivfadc_index retrains) — the
    standard faiss add-then-retrain-periodically posture. SRP appends
    never degrade (no trained state), which is why both lifecycles
    exist.

    Cache-coherence contract (r15 advice): an appended index is no
    longer a pure function of the corpus fingerprint its directory
    name encodes, so appending RETIRES the _INDEX_READY marker first
    (renamed to _INDEX_APPENDED). ensure_ivfadc_index then treats the
    dir as a cache miss and rebuilds from the corpus — a graded
    q_ann_ivfadc_persisted run can never silently serve appended
    vectors the DuckDB oracle does not see. Direct-path callers
    (searching the appended index by explicit path, as the pytest and
    a real nightly-ingest deployment do) are unaffected: the search
    never consults the marker."""
    _retire_ready_marker(index_path)
    directory = spark.read.parquet(f"{index_path}/directory")
    cents = spark.read.parquet(f"{index_path}/cents")
    membership = ivf_membership(new_vecs, directory).select("vec_id", "cent_id")
    qvecs = new_vecs.select("vec_id", F.expr(_QV_EXPR).alias("qv"))
    codes = _pq_encode(qvecs, cents, 64 // _PQ_M).select("vec_id", "codes")
    (
        codes.join(membership, "vec_id")
        .write.mode("append")
        .partitionBy("cent_id")
        .parquet(f"{index_path}/codes")
    )


def ann_ivfadc_search_indexed(
    spark: SparkSession,
    vecs: DataFrame,
    index_path: str,
    nprobe: int = _NPROBE,
    shortlist: int = 48,
    top_k: int = 5,
) -> DataFrame:
    """The SEARCH half of the persisted lifecycle: IVFADC against the
    on-disk index — NOTHING here trains. Result-identical to
    ann_ivfadc_search(vecs, centroids=kmeans_centroids(...)) (pytest-
    pinned), but the plan is the deployment plan:

    1. ROUTE the queries only: the K-row directory is read from
       index_path/directory and broadcast under ivf_assigned — the
       corpus is NOT re-assigned (membership was baked into the codes
       layout at build time). The probed (query, cell) list is
       collected driver-side — bounded by queries x nprobe, the same
       bounded-collect fence as the upsert sink's day keys — because
       the cell ids must become a STATIC partition filter.
    2. SCAN probed cells only: read_ivf_cells opens nprobe/K of the
       codes/ directories (PartitionFilters — plan-contract-tested);
       ADC is the broadcast per-query LUT lookup over those 12 B codes,
       LUTs built from the persisted cents/.
    3. Fenced exact re-rank of the pooled ADC top-`shortlist`
       (_rerank_pool) — full-precision vectors touched for the pool
       only.

    Reference semantics: the J7 neighbour-search pattern
    (SamenMetenTools/SamenMetenThings.py:1625-1744 — prefilter to a
    bounded candidate set, exact-score only those) scaled to
    embeddings, with the candidate set coming from a persisted
    spatial-ish partition instead of a live OData filter."""
    directory = spark.read.parquet(f"{index_path}/directory")
    cents = spark.read.parquet(f"{index_path}/cents")
    # route ONCE: the probe list is collected (bounded queries x nprobe)
    # and re-enters the plan as literal rows — without this the
    # broadcast join below would re-evaluate the whole routing lineage
    # (directory read + query scan + crossJoin) a second time (r14
    # review catch on the warm path this feature exists to optimize)
    _, probes = _route(vecs, nprobe, directory, None)  # membership unused: lazy
    probes = probes.select("query_id", "cent_id")
    probe_rows = probes.collect()
    probes = spark.createDataFrame(
        [(int(r["query_id"]), int(r["cent_id"])) for r in probe_rows],
        "query_id bigint, cent_id bigint",
    )
    probe_cells = sorted({int(r["cent_id"]) for r in probe_rows})
    cell_codes = read_ivf_cells(spark, f"{index_path}/codes", probe_cells).select(
        F.col("vec_id").alias("cand_id"),
        "codes",
        F.col("cent_id").cast("long").alias("cent_id"),
    )
    qluts = _pq_qluts(vecs, cents, 64 // _PQ_M)
    scored = _adc_scored(cell_codes, probes, qluts, ("query_id",))
    return _rerank_pool(vecs, _shortlist(scored, F.asc("adc_dist"), shortlist), top_k=top_k)


def q_ann_ivfadc_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded entry: IVFADC through the PERSISTED index — ensure the
    trained artifacts exist on disk (first run per corpus trains and
    writes; every later run skips straight past), then search by
    READING them: broadcast directory routing, directory-pruned codes
    scan, persisted-codebook LUTs, fenced re-rank. The DuckDB oracle is
    byte-identical to ann_ivfadc_kmeans's — the index is a pure
    function of the corpus (deterministic integer Lloyd + PQ), so the
    oracle mirrors the MATH while the Spark side is graded on reading
    the artifacts (a pytest pins that no training runs on the warm
    path)."""
    vecs = _vectors(spark, sf_dir)
    idx = ensure_ivfadc_index(spark, sf_dir)
    return ann_ivfadc_search_indexed(spark, vecs, idx)


def write_srp_partitioned(
    vecs: DataFrame,
    path: str,
    n_tables: int = _SRP_TABLES,
    n_bits: int = _SRP_BITS,
    append: bool = False,
) -> None:
    """The SRP-LSH deployment layout: the (vec_id, tbl, bucket)
    signature table partitioned by `tbl` only, with `bucket` a data
    column sorted within each table's file. A probe that touches
    T x (1 + probes) buckets opens only the probed tables' directories
    (static PartitionFilter on tbl) and skips row groups by the parquet
    min/max stats of the sorted bucket column (pushed DataFilter) —
    plan-contract-pinned. Bucket is not a partition column because one
    directory per (tbl, bucket) was slower at every measured size: its
    O(tables x 2^bits) directory listing dominated the probe
    (SCALING.md r14/r15).

    `append=True` is the property the IVF layouts cannot offer: SRP
    has no trained state, so a new batch's signatures are independent
    of everything already written — incremental index maintenance is
    ONE append of the new rows' signatures (the streaming-corpus
    niche; an IVF layout would first have to re-validate its codebook
    against the drifted corpus). An append retires the target's
    _INDEX_READY marker first (_retire_ready_marker), like every index
    append, so a content-keyed ensure_srp_index dir that gained rows
    is rebuilt instead of served.

    Small-files posture: signatures repartition by tbl before the
    write, so each tbl directory gains at most ONE file per append. A
    long-lived appending stream still accumulates O(batches) files per
    table, each spanning the full bucket range until compaction
    re-sorts them (reads are correct either way). The compaction paths
    are periodic `write_srp_partitioned(all_vecs, path)` (overwrite)
    from the corpus archive — signatures are a pure function of the
    vectors, so a rebuild is always row-equivalent to the appends it
    replaces — or in-place `compact_srp_index`."""
    if append:
        _retire_ready_marker(path)
    _write_srp_sigs(
        srp_signatures(vecs, n_tables, n_bits),
        path,
        n_tables,
        "append" if append else "overwrite",
    )


def _write_srp_sigs(sigs: DataFrame, path: str, n_tables: int, mode: str) -> None:
    """One writer task per table, bucket-sorted, partitioned by tbl.
    The sort leads with tbl so it already satisfies the partitioned
    writer's required ordering (a sort that does not would be replaced
    by the writer's own sort on tbl alone, losing the bucket order)."""
    (
        sigs.repartition(n_tables, "tbl")
        .sortWithinPartitions("tbl", "bucket", "vec_id")
        .write.mode(mode)
        .partitionBy("tbl")
        .parquet(path)
    )


def run_srp_index_stream(
    spark: SparkSession,
    in_dir: str,
    checkpoint: str,
    index_path: str,
    n_tables: int = _SRP_TABLES,
    n_bits: int = _SRP_BITS,
):
    """The streaming composition the SRP tier exists for: a Structured
    Streaming query over a JSONL vector drop directory whose sink
    foreachBatch-appends each micro-batch's signatures into the
    tbl-partitioned layout — incremental ANN index maintenance with NO
    training state to refresh (the IVF tiers would re-validate a
    codebook here). availableNow trigger so drains/replays stop.

    Delivery note: foreachBatch parquet appends are at-least-once on
    task retry — duplicate signature rows are HARMLESS to candidate
    generation (the search pools distinct cand_ids), so the layout
    needs no dedup pass; readers needing exact row counts dedup by
    (vec_id, tbl) at read time.

    Quarantine contract (review catch: a poison-pill row would wedge
    the stream — PERMISSIVE JSON turns any malformed line into a
    null-field row, np.stack would throw on it, and every restart
    would replay the same failing batch forever): rows with a null
    vec_id, a null embedding, a null ELEMENT inside the embedding, or
    the wrong dimension are DROPPED before the signature kernel, same
    policy as the streaming pipeline's envelope quarantine. The
    element-null leg matters (r12 advice catch): a [0.1]*63+[null] row
    passes the size check, the grid snap yields a null component, and
    numpy's NaN->int64 cast is C-undefined — the row would be silently
    indexed under garbage bucket signatures instead of dropped, and
    DuckDB's list aggregate would disagree (NULL-propagating), breaking
    the kernel's bit-identical-to-oracle invariant.
    The schema reads array<double> —
    a float32 producer round-trips losslessly, while reading as float
    would silently truncate a double producer's vectors and hash them
    into DIFFERENT buckets than the batch path (grid snap crossing a
    1e-6 boundary)."""
    stream = spark.readStream.schema("vec_id long, embedding array<double>").json(
        in_dir
    )
    vecs = stream.select("vec_id", F.col("embedding").alias("v")).where(
        F.col("vec_id").isNotNull()
        & F.col("v").isNotNull()
        & (F.size("v") == 64)
        & F.expr("forall(v, x -> x IS NOT NULL)")
    )

    def sink(batch_df: DataFrame, _batch_id: int) -> None:
        write_srp_partitioned(batch_df, index_path, n_tables, n_bits, append=True)

    return (
        vecs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def compact_srp_index(spark: SparkSession, index_path: str) -> None:
    """Compact an SRP signature layout in place. A long-lived
    run_srp_index_stream leaves O(appends) files per tbl directory,
    each spanning the full bucket range; compaction re-reads the full
    signature set, drops at-least-once duplicate rows (distinct — the
    compacted layout equals the pure rebuild) and rewrites ONE
    bucket-sorted file per table, so the bucket predicate skips row
    groups again. Three steps, and the index directory itself is never
    renamed:

      1. list the current data files;
      2. stage the distinct signatures, repartitioned by tbl and
         sorted, in the fixed sibling `{index_path}.compact` (a stage
         left behind by an interrupted run is discarded first);
      3. move the staged files into the tbl= dirs, then delete the
         listed files.

    No manifest is needed: an interruption at any point leaves a
    SUPERSET of the signature rows at the path — the old files before
    and during the moves, the compacted files during the deletes. The
    layout already tolerates duplicate rows, because at-least-once
    appends create them and the search pools distinct cand_ids, so
    every interrupted state serves the same search results and a
    re-run compacts it to one file per table. Marker files
    (_INDEX_READY/_INDEX_APPENDED) are left untouched: compaction is a
    pure function of the layout contents, so whatever coherence state
    held before holds after. Run it in the maintenance window, like
    any single-writer maintenance of the layout: an append that lands
    mid-compaction keeps its rows but may survive as an extra file."""
    import os
    import shutil

    stage = f"{index_path}.compact"
    shutil.rmtree(stage, ignore_errors=True)
    listed = _srp_data_files(index_path)
    sigs = spark.read.parquet(index_path).select("vec_id", "tbl", "bucket").distinct()
    n_tables = len({os.path.dirname(f) for f in listed})
    _write_srp_sigs(sigs, stage, n_tables, "overwrite")
    for src in _srp_data_files(stage):
        dst = os.path.join(index_path, os.path.relpath(src, stage))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(src, dst)
    for f in listed:
        os.remove(f)
    shutil.rmtree(stage, ignore_errors=True)


def _srp_data_files(root: str) -> list[str]:
    """Every file inside the tbl= dirs of an SRP layout (parquet parts
    and their checksum siblings)."""
    import os

    return [
        os.path.join(root, d, f)
        for d in sorted(os.listdir(root))
        if d.startswith("tbl=")
        for f in sorted(os.listdir(os.path.join(root, d)))
    ]


def read_srp_buckets(
    spark: SparkSession, path: str, probes: list[tuple[int, int]]
) -> DataFrame:
    """Read ONLY the probed (tbl, bucket) rows of an SRP layout. The
    predicate prunes at plan time: tbl is the partition column, so
    other tables' directories are never opened (PartitionFilters in
    the scan node), and the bucket IN-list is pushed to parquet
    (DataFilters), which skips row groups whose min/max bucket stats
    miss every probe. Nothing is listed outside Spark's own reader, so
    the search path runs on any Hadoop filesystem, object stores
    included.

    The predicate groups probes per table — `tbl = t AND bucket IN
    (...)` OR'd over the n_tables tables — instead of one OR clause per
    (tbl, bucket) pair: a realistic probe list (queries x tables x
    (1 + bits) at radius 1) built the old pairwise chain hundreds of
    clauses deep and overflowed Catalyst's column-conversion stack (r13
    composition-test catch); the grouped form is n_tables shallow terms
    and In() still participates in partition pruning."""
    by_tbl: dict[int, set[int]] = {}
    for t, bkt in probes:
        by_tbl.setdefault(int(t), set()).add(int(bkt))
    pred = None
    for t in sorted(by_tbl):
        clause = (F.col("tbl") == t) & F.col("bucket").isin(sorted(by_tbl[t]))
        pred = clause if pred is None else (pred | clause)
    df = spark.read.parquet(path)
    return df.where(pred) if pred is not None else df.limit(0)


# --- persisted-index SRP search (r14) ----------------------------------------

_SRP_INDEX_VERSION = 2  # 2: tbl-partitioned, bucket-sorted layout


def srp_index_path(sf_dir: str) -> str:
    return _index_path(
        sf_dir, f"srp|t{_SRP_TABLES}|b{_SRP_BITS}|v{_SRP_INDEX_VERSION}"
    )


def ensure_srp_index(spark: SparkSession, sf_dir: str) -> str:
    """The SRP half of the persisted lifecycle (the training-free twin
    of ensure_ivfadc_index): ONE signature pass over the corpus written
    into the tbl-partitioned layout. There is no codebook to
    persist — signatures are a pure per-row function — which is exactly
    why this index also supports APPEND maintenance
    (write_srp_partitioned(append=True) / run_srp_index_stream) where
    the IVF layouts must re-validate a directory."""

    def build(d: str) -> None:
        write_srp_partitioned(_vectors(spark, sf_dir), d)

    return _ensure_index(srp_index_path(sf_dir), build)


def ann_srp_search_indexed(
    spark: SparkSession,
    vecs: DataFrame,
    index_path: str,
    n_tables: int = _SRP_TABLES,
    n_bits: int = _SRP_BITS,
    n_probes: int = _SRP_PROBES,
    top_k: int = 5,
) -> DataFrame:
    """SRP-LSH search against the on-disk signature layout — the
    deployment plan: only the QUERIES are hashed at search time (5 rows
    through the signature kernel); their multi-probe list is collected
    (bounded: queries x tables x (1 + n_bits x radius) pairs) and
    becomes the static per-table predicate of read_srp_buckets, so the
    corpus-side work is scanning the probed tables' files, row groups
    skipped by bucket stats — the signature STREAM is never scanned. Candidates pool distinct vec_ids (duplicate rows from
    at-least-once appends are harmless by construction); the fenced
    exact re-rank touches full-precision vectors for the pool only.
    Result-identical to ann_srp_search at the same shape
    (pytest-pinned; both are the same signature math)."""
    qsigs = srp_signatures(
        vecs.where(F.col("vec_id") < _N_QUERIES), n_tables, n_bits
    ).select(F.col("vec_id").alias("query_id"), "tbl", "bucket")
    probes = _srp_probe_variants(qsigs, n_bits, n_probes).distinct()
    probe_rows = probes.collect()
    pairs = sorted({(int(r["tbl"]), int(r["bucket"])) for r in probe_rows})
    pooled = (
        read_srp_buckets(spark, index_path, pairs)
        .select(F.col("vec_id").alias("cand_id"))
        .distinct()
    )
    return _rerank_pool(vecs, pooled, top_k=top_k)


def q_ann_srp_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded entry: SRP-LSH through the PERSISTED bucket layout —
    ensure the signature index exists on disk (first run per corpus
    hashes and writes; every later run skips straight to the search),
    then search by READING it: query-side hashing only, static
    per-table bucket predicates (a tbl PartitionFilter plus a pushed
    bucket DataFilter — the plan-contract guarantee of
    read_srp_buckets), fenced exact re-rank. The DuckDB
    oracle is verbatim SQL_ANN_SRP — the layout is a pure function of
    the corpus (md5-derived hyperplanes, integer grid signs), so the
    oracle grades the math while the Spark plan carries the
    read-don't-rehash shape. Pinned to the frozen graded fixture shape
    (8T x 8b x probe-1), like q_ann_srp."""
    vecs = _vectors(spark, sf_dir)
    idx = ensure_srp_index(spark, sf_dir)
    return ann_srp_search_indexed(spark, vecs, idx)


# The persisted grading shares the ann_srp oracle VERBATIM (same
# rationale as SQL_ANN_IVFADC_PERSISTED): the layout is a pure function
# of the corpus, the plan shape is what changes.
SQL_ANN_SRP_PERSISTED = SQL_ANN_SRP


def ensure_srp_index_incremental(spark: SparkSession, sf_dir: str) -> str:
    """The INCREMENTALLY-MAINTAINED layout (r14): the same index as
    ensure_srp_index, but built the way a nightly crawl actually builds
    it — two disjoint epoch appends (vec_id parity split) instead of
    one overwrite. SRP is the tier where this is free: signatures carry
    no trained state, so the appended layout is row-identical to the
    rebuilt one by construction, and the graded search over it hashes
    identically to q_ann_srp — which is exactly what the grading
    asserts. Distinct cache key from the overwrite build so the two
    graded lifecycles can never share (and thus mask) a layout."""

    def build(d: str) -> None:
        vecs = _vectors(spark, sf_dir)
        write_srp_partitioned(vecs.where(F.col("vec_id") % 2 == 0), d)
        write_srp_partitioned(
            vecs.where(F.col("vec_id") % 2 == 1), d, append=True
        )

    return _ensure_index(
        _index_path(
            sf_dir, f"srp-incr|t{_SRP_TABLES}|b{_SRP_BITS}|v{_SRP_INDEX_VERSION}"
        ),
        build,
    )


def q_ann_srp_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded entry: SRP-LSH search over the APPEND-MAINTAINED index —
    the layout is built as two disjoint epoch appends (the nightly-
    crawl shape; write_srp_partitioned append=True, the same mechanism
    run_srp_index_stream's foreachBatch sink uses), then searched
    exactly like q_ann_srp_persisted. The DuckDB oracle is verbatim
    SQL_ANN_SRP: incremental maintenance must be INVISIBLE to search
    results (signatures have no trained state), and the driver hash
    gate is what enforces that end to end."""
    vecs = _vectors(spark, sf_dir)
    idx = ensure_srp_index_incremental(spark, sf_dir)
    return ann_srp_search_indexed(spark, vecs, idx)


SQL_ANN_SRP_INCREMENTAL = SQL_ANN_SRP


def ensure_srp_index_compacted(spark: SparkSession, sf_dir: str) -> str:
    """The COMPACTED lifecycle (r15): built exactly like the
    incremental layout — two disjoint epoch appends, the nightly-crawl
    shape — then closed out by compact_srp_index: the two appends'
    files per table become one bucket-sorted file per table. Distinct cache key from both sibling lifecycles so the three graded
    layouts can never share (and thus mask) each other."""

    def build(d: str) -> None:
        vecs = _vectors(spark, sf_dir)
        write_srp_partitioned(vecs.where(F.col("vec_id") % 2 == 0), d)
        write_srp_partitioned(
            vecs.where(F.col("vec_id") % 2 == 1), d, append=True
        )
        compact_srp_index(spark, d)

    return _ensure_index(
        _index_path(
            sf_dir, f"srp-comp|t{_SRP_TABLES}|b{_SRP_BITS}|v{_SRP_INDEX_VERSION}"
        ),
        build,
    )


def q_ann_srp_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded entry: SRP-LSH search over the COMPACTED index — appends
    closed out into one bucket-sorted file per table
    (compact_srp_index), then searched exactly like
    q_ann_srp_persisted. The DuckDB oracle is verbatim SQL_ANN_SRP:
    compaction, like append maintenance, must be INVISIBLE to search
    results — the driver hash gate enforces that the maintenance move
    that fixes the measured small-files economics (SCALING.md r15)
    changes the file count and nothing else."""
    vecs = _vectors(spark, sf_dir)
    idx = ensure_srp_index_compacted(spark, sf_dir)
    return ann_srp_search_indexed(spark, vecs, idx)


SQL_ANN_SRP_COMPACTED = SQL_ANN_SRP


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF index against exact brute force — the
    measurement every ANN deployment runs before trusting the index
    (an index with unmeasured recall is a silent-quality bug at 100 TB,
    where nobody can eyeball the misses). Per query: how many of the
    exact top-5 the IVF probe returned.

    Scale shape: both sides are the existing operators (the exact side
    over a BOUNDED query sample — the fenced re-rank tier, never the
    corpus); the comparison is a left join on (query, candidate) plus a
    5-row agg.
    """
    exact = q_knn_bruteforce(spark, sf_dir).where(F.col("rank") <= 5).select(
        "query_id", "cand_id"
    )
    ivf = q_ann_ivf(spark, sf_dir).select("query_id", F.col("cand_id").alias("ivf_cand"))
    hits = exact.join(
        ivf,
        (exact["query_id"] == ivf["query_id"]) & (exact["cand_id"] == ivf["ivf_cand"]),
        "left",
    )
    return (
        hits.groupBy(exact["query_id"].alias("query_id"))
        .agg(F.count("ivf_cand").alias("n_hits"))
        .select("query_id", "n_hits", F.round(F.col("n_hits") / 5.0, 6).alias("recall_at_5"))
        .orderBy("query_id")
    )


SQL_ANN_RECALL = f"""
WITH exact AS (
  SELECT query_id, cand_id FROM ({SQL_KNN_BRUTEFORCE}) WHERE rank <= 5
),
ivf AS (
  SELECT query_id, cand_id FROM ({SQL_ANN_IVF})
)
SELECT e.query_id, count(i.cand_id) AS n_hits,
       round(count(i.cand_id) / 5.0, 6) AS recall_at_5
FROM exact e
LEFT JOIN ivf i ON e.query_id = i.query_id AND e.cand_id = i.cand_id
GROUP BY e.query_id
ORDER BY e.query_id
"""


# --- SQ8: per-dimension scalar quantization (faiss ScalarQuantizer) ---------
#
# The third mainstream compression family next to PQ (subspace codebooks)
# and SRP (binary sketches): each dimension is quantized independently to
# 255 uniform levels between its corpus-wide min and max — the faiss
# `ScalarQuantizer QT_8bit` / Milvus `SQ8` shape. No codebook training
# (the "trained state" is 64 (min, span) pairs), 4x smaller scan than
# float32, and unlike PQ the reconstruction is a per-dimension affine map,
# so the approximate scan stays pure JVM column math. Production niche:
# the memory-bound full-scan tier between brute force (exact, 4x the
# bytes) and IVF (cell-pruned, needs training) — at 100 TB the codes
# table IS the scan, shortlists feed the same fenced exact re-rank as
# every other tier.
#
# All arithmetic lives on the established int64 grid (floor(x*1e6), the
# PQ family's discipline): quantize, dequantize, and the approximate dot
# are exact integer ops, so the DuckDB oracle mirrors the whole chain
# bit-for-bit; the only float steps (norm sqrt, cosine divide, 1e-6
# round) are single IEEE ops on exactly-representable integers.

_SQ_LEVELS = 255


def sq8_params(vecs: DataFrame) -> DataFrame:
    """Per-dimension quantizer 'training': the 64-row (d, mn, span)
    table of each dimension's corpus-wide grid minimum and range. One
    posexplode + groupBy(d) — map-side partial min/max reduces every
    task to <=64 partial rows before the single bounded shuffle."""
    g = vecs.select(
        F.expr("transform(v, x -> CAST(floor(x * 1000000.0) AS BIGINT))").alias("g")
    )
    dims = g.select(F.posexplode("g").alias("d", "x"))
    return dims.groupBy("d").agg(
        F.min("x").alias("mn"), (F.max("x") - F.min("x")).alias("span")
    )


def sq8_encode(vecs: DataFrame, mns: Column, spans: Column) -> DataFrame:
    """Encode every vector to its 64 uint8-range codes (stored
    smallint: Spark has no unsigned byte, and parquet dictionary/
    bit-packing makes the at-rest cost ~1 byte either way):
    code_d = ((g_d - mn_d) * 255) div span_d, 0 on degenerate
    (span 0) dimensions. Pure projection over one corpus scan — the
    params ride as literal arrays (they are 64 trained numbers, the
    same ship-the-tiny-state move as the broadcast PQ LUTs)."""
    return (
        vecs.select(
            "vec_id",
            F.expr("transform(v, x -> CAST(floor(x * 1000000.0) AS BIGINT))").alias(
                "g"
            ),
        )
        .withColumn("mns", mns)
        .withColumn("spans", spans)
        .select(
            "vec_id",
            F.expr(
                "zip_with(zip_with(g, mns, (x, m) -> x - m), spans,"
                f" (u, sp) -> CAST(CASE WHEN sp = 0 THEN 0"
                f" ELSE (u * {_SQ_LEVELS}) div sp END AS SMALLINT))"
            ).alias("codes"),
        )
    )


def ann_sq8_search(
    vecs: DataFrame,
    top_k: int = 5,
    shortlist: int = 48,
    parts: tuple[list, DataFrame] | None = None,
) -> DataFrame:
    """SQ8 approximate search: queries stay on the full-precision grid
    (asymmetric, like ADC), candidates are scanned as codes and
    dequantized on the fly (dq_d = mn_d + (code_d * span_d) div 255 —
    integer-exact); the approximate cosine ranks a per-query
    top-`shortlist` that feeds the shared fenced exact re-rank
    (_rerank_pool). The 64-row params table is collect()ed — a bounded
    fence like the probe-list collects: the quantizer state must
    become plan literals so the code scan is ONE projection with no
    join, which is the point of SQ at 100 TB. `parts` reuses a trained
    (params_rows, codes) pair across a sweep (the warm leg of the SQ8
    probe in SCALING.md) — without it every call re-derives both, the same
    retrain-per-run grading shape as ann_pq."""
    q, cand = _sq8_scan_sides(vecs, parts)
    scored = (
        cand.crossJoin(F.broadcast(q))  # bounded: <= _N_QUERIES rows
        .where(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id", F.expr(_SQ8_COS_EXPR).alias("sq_cos"))
    )
    return _rerank_pool(vecs, _shortlist(scored, F.desc("sq_cos"), shortlist), top_k=top_k)


# the rounded approximate cosine over (qg, qn | dq, dn) — ONE definition
# shared by the corpus-wide (ann_sq8) and cell-pruned (ann_ivfsq) scans
_SQ8_COS_EXPR = (
    "floor((CAST(aggregate(zip_with(qg, dq, (a, b) -> a * b),"
    " CAST(0 AS BIGINT), (acc, x) -> acc + x) AS DOUBLE)"
    " / (qn * dn))"
    " * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE))"
    " / CAST(1000000.0 AS DOUBLE)"
)


def _sq8_literals(params: list) -> tuple[Column, Column]:
    """The 64-row quantizer state as plan-literal arrays (mns, spans) —
    ONE definition (r15 review: this idiom had been copy-pasted five
    times across the scan sides, the persisted build, the probe tool
    and the unit test; a dtype or ordering change applied to one copy
    would silently diverge the warm path from the inline path).
    Accepts Row or dict rows (the persisted lifecycle stores params as
    JSON)."""
    mns = F.array(*[F.lit(int(r["mn"])) for r in params])
    spans = F.array(*[F.lit(int(r["span"])) for r in params])
    return mns, spans


def _sq8_parts(
    vecs: DataFrame, parts: tuple[list, DataFrame] | None = None
) -> tuple[list, DataFrame]:
    """Resolve the (params, codes) pair: reuse a trained pair when
    given, else one stats pass + one encode pass (the retrain-per-run
    grading shape, like ann_pq)."""
    if parts is not None:
        return parts
    params = sq8_params(vecs).orderBy("d").collect()  # bounded: 64 rows
    mns, spans = _sq8_literals(params)
    return params, sq8_encode(vecs, mns, spans)


def _sq8_queries(vecs: DataFrame) -> DataFrame:
    """The full-precision-grid query side (query_id, qg, qn)."""
    return (
        vecs.where(F.col("vec_id") < _N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.expr("transform(v, x -> CAST(floor(x * 1000000.0) AS BIGINT))").alias(
                "qg"
            ),
        )
        .withColumn(
            "qn",
            F.expr(
                "sqrt(CAST(aggregate(transform(qg, x -> x * x),"
                " CAST(0 AS BIGINT), (a, x) -> a + x) AS DOUBLE))"
            ),
        )
    )


def _sq8_dequant(codes: DataFrame, params: list) -> DataFrame:
    """Dequantize a codes stream to (.. , dq, dn). Norms and
    dequantization are PER-ROW facts, computed once per candidate row —
    never inside the Q x N pair projection (the first draft recomputed
    them per pair: a 3x scan-cost tax measured in SCALING.md r15; sqrt
    of the same integer sum is value-identical wherever it runs, so the
    oracle — which writes the norms inline per pair — still
    hash-matches). Called AFTER any cell prune so only surviving rows
    pay the affine map."""
    mns, spans = _sq8_literals(params)
    return (
        codes.withColumn("mns", mns)
        .withColumn("spans", spans)
        .withColumn(
            "dq",
            F.expr(
                "zip_with(zip_with(CAST(codes AS ARRAY<BIGINT>), spans,"
                f" (c, sp) -> (c * sp) div {_SQ_LEVELS}), mns, (t, m) -> t + m)"
            ),
        )
        .withColumn(
            "dn",
            F.expr(
                "sqrt(CAST(aggregate(transform(dq, x -> x * x),"
                " CAST(0 AS BIGINT), (a, x) -> a + x) AS DOUBLE))"
            ),
        )
        .drop("codes", "mns", "spans")
    )


def _sq8_scan_sides(
    vecs: DataFrame, parts: tuple[list, DataFrame] | None = None
) -> tuple[DataFrame, DataFrame]:
    """The two sides of the corpus-wide SQ8 asymmetric scan: the query
    side (query_id, qg, qn) and the dequantized candidate side
    (cand_id, dq, dn)."""
    params, codes = _sq8_parts(vecs, parts)
    cand = _sq8_dequant(codes.withColumnRenamed("vec_id", "cand_id"), params).select(
        "cand_id", "dq", "dn"
    )
    return _sq8_queries(vecs), cand


def q_ann_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded entry: SQ8 approximate scan -> top-48 shortlist -> exact
    re-rank top-5. The DuckDB oracle mirrors the WHOLE chain — per-dim
    (min, span) 'training', encode, integer dequantized dot, rounded
    approximate cosine, and the shared re-rank tail (the shortlist
    rides the tail's adc_dist ASC ordering as the negated approximate
    cosine — same order, same cand_id tie-break)."""
    return ann_sq8_search(_vectors(spark, sf_dir))


# The SQ8 train/encode/dequantize chain as a reusable SQL CTE block —
# ONE definition shared by the ann_sq8 and ann_ivfsq oracles. Emits
# sgrid (vec_id, g), sdims, sparams, scodes, and sdq (vec_id, dq).
_SQL_SQ8_CTES = f"""sgrid AS (
  SELECT vec_id, list_transform(v, x -> CAST(floor(x * 1000000.0) AS BIGINT)) AS g
  FROM vecs
),
sdims AS (
  SELECT t.i AS d, min(g[t.i + 1]) AS mn, max(g[t.i + 1]) - min(g[t.i + 1]) AS span
  FROM sgrid, range(64) t(i)
  GROUP BY 1
),
sparams AS (
  SELECT list(mn ORDER BY d) AS mns, list(span ORDER BY d) AS spans FROM sdims
),
scodes AS (
  SELECT vec_id,
         list_transform(range(64), i -> CASE WHEN spans[i + 1] = 0 THEN 0
             ELSE ((g[i + 1] - mns[i + 1]) * {_SQ_LEVELS}) // spans[i + 1] END) AS codes
  FROM sgrid, sparams
),
sdq AS (
  SELECT vec_id,
         list_transform(range(64), i -> mns[i + 1] + (codes[i + 1] * spans[i + 1]) // {_SQ_LEVELS}) AS dq
  FROM scodes, sparams
)"""

# The negated rounded approximate cosine between a `q` (sgrid) row and
# a `c` (sdq) row — the shared adc_dist expression of both SQ8 oracles.
_SQL_SQ8_DIST = """-(floor((CAST(list_sum(list_transform(range(64), i -> q.g[i + 1] * c.dq[i + 1])) AS DOUBLE)
                / (sqrt(CAST(list_sum(list_transform(q.g, x -> x * x)) AS DOUBLE))
                   * sqrt(CAST(list_sum(list_transform(c.dq, x -> x * x)) AS DOUBLE))))
               * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE))"""


SQL_ANN_SQ8 = f"""
WITH vecs AS ({_SQL_VECTORS}),
{_SQL_SQ8_CTES},
adc AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         {_SQL_SQ8_DIST} AS adc_dist
  FROM sgrid q CROSS JOIN sdq c
  WHERE q.vec_id < {_N_QUERIES} AND q.vec_id <> c.vec_id
),
{_SQL_RERANK_TAIL}
"""


def ann_ivfsq_search(
    vecs: DataFrame,
    nprobe: int = _NPROBE,
    shortlist: int = 48,
    top_k: int = 5,
    centroids: DataFrame | None = None,
    parts: tuple[list, DataFrame] | None = None,
) -> DataFrame:
    """IVF-SQ — the faiss `IVF,SQ8` composition: IVF coarse routing
    (the shared _route stage) prunes the SQ8 code scan to the probed
    cells only, then the shared shortlist + fenced exact re-rank tail.
    This is the composition a 100 TB deployment runs when PQ's
    accuracy loss is unacceptable but a full SQ8 scan is too much IO:
    nprobe/K of the 2-byte-class codes are read (at scale the codes
    ride a cell-partitioned layout exactly like write_ivfadc_index,
    turning the probe into a directory prune), dequantization stays a
    per-row affine map in whole-stage codegen, and recall is bounded
    by routing — SQ8's near-lossless ranking (recall 1.0 in the
    SCALING.md r15 table) means the cell prune, not the quantizer, is
    the accuracy knob. The probe joins run on the RAW codes stream and
    dequantization happens after them (r15 review: the first cut
    dequantized all N rows before the prune, making the scan
    corpus-wide in compute even when the prune made it nprobe/K in
    rows); `parts` reuses a trained (params, codes) pair across a
    sweep, like every sibling tier."""
    membership, probes = _route(vecs, nprobe, centroids, None)
    params, codes = _sq8_parts(vecs, parts)
    cell_codes = codes.withColumnRenamed("vec_id", "cand_id").join(
        membership.select(F.col("vec_id").alias("cand_id"), "cent_id"), "cand_id"
    )
    pruned = cell_codes.join(
        F.broadcast(probes.select("query_id", "cent_id")), "cent_id"
    )  # prune: probed cells only
    scored = (
        _sq8_dequant(pruned, params)
        .join(F.broadcast(_sq8_queries(vecs)), "query_id")
        .where(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id", F.expr(_SQ8_COS_EXPR).alias("sq_cos"))
    )
    return _rerank_pool(vecs, _shortlist(scored, F.desc("sq_cos"), shortlist), top_k=top_k)


def q_ann_ivfsq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded entry: IVF-SQ8 on the fixture cell directory — probe 2 of
    the 8 cells, SQ8-score only the probed cells' codes, exact re-rank
    the per-query top-48 through knn_rerank. The DuckDB oracle mirrors
    the WHOLE chain: quantizer training/encode (shared CTE block with
    ann_sq8), cell assignment and probe selection (the shared IVF route
    body), the cell-pruned approximate ranking, and the rounded-cosine
    re-rank."""
    vecs = _vectors(spark, sf_dir)
    return ann_ivfsq_search(vecs, centroids=_fixture_centroids(vecs))


SQL_ANN_IVFSQ = f"""
WITH vecs AS ({_SQL_VECTORS}),
{_SQL_ICENTS_FIXTURE},
{_SQL_IVF_ROUTE_BODY},
{_SQL_SQ8_CTES},
adc AS (
  SELECT p.query_id, c.vec_id AS cand_id,
         {_SQL_SQ8_DIST} AS adc_dist
  FROM sdq c
  JOIN imembership m ON c.vec_id = m.vec_id
  JOIN iprobes p ON m.cent_id = p.cent_id
  JOIN sgrid q ON q.vec_id = p.query_id
  WHERE p.query_id <> c.vec_id
),
{_SQL_RERANK_TAIL}
"""


_SQ8_INDEX_VERSION = 1


def sq8_index_path(sf_dir: str) -> str:
    return _index_path(sf_dir, f"sq8|l{_SQ_LEVELS}|v{_SQ8_INDEX_VERSION}")


def ensure_sq8_index(spark: SparkSession, sf_dir: str) -> str:
    """The SQ8 half of the persisted lifecycle (train-once/search-many,
    the ensure_ivfadc_index / ensure_srp_index discipline): ONE stats
    pass collects the 64 (min, span) params — the quantizer state IS
    64 numbers, so it persists as driver-written JSON, not a Spark
    layout — and ONE encode pass writes the 2-byte-class codes
    parquet. Maintenance spectrum note: SQ8 sits WITH the IVF tiers,
    not with SRP — appending vectors whose values escape a dimension's
    trained [min, max] silently clips their codes to the rails, so an
    append must re-validate (and on breach retrain) the params; SRP
    alone appends with no trained state to refresh."""
    import json
    import os

    def build(d: str) -> None:
        vecs = _vectors(spark, sf_dir)
        params = sq8_params(vecs).orderBy("d").collect()
        mns, spans = _sq8_literals(params)
        sq8_encode(vecs, mns, spans).write.parquet(os.path.join(d, "codes"))
        with open(os.path.join(d, "sq8_params.json"), "w") as f:
            json.dump(
                [{"mn": int(r["mn"]), "span": int(r["span"])} for r in params], f
            )

    return _ensure_index(sq8_index_path(sf_dir), build)


def ann_sq8_search_indexed(
    spark: SparkSession, vecs: DataFrame, index_path: str
) -> DataFrame:
    """Search an on-disk SQ8 index by explicit path: load the params
    JSON (64 numbers, driver-side) and the codes parquet, and run the
    shared search with them — no stats pass, no encode. The direct
    path both the graded persisted query and a nightly-ingest
    deployment (post-sq8_index_append) use."""
    import json
    import os

    with open(os.path.join(index_path, "sq8_params.json")) as f:
        params = json.load(f)
    codes = spark.read.parquet(os.path.join(index_path, "codes"))
    return ann_sq8_search(vecs, parts=(params, codes))


def sq8_index_append(spark: SparkSession, new_vecs: DataFrame, index_path: str) -> None:
    """Incremental SQ8 maintenance — encode ONLY the new batch under
    the EXISTING frozen (min, span) params and append its codes: the
    batch-sized cost a nightly ingest pays, like ivfadc_index_append.

    The frozen-state trade is HARDER here than IVFADC's: a vector
    value escaping a dimension's trained [min, max] doesn't degrade
    gracefully — it would clip to the rail, a hard deterministic bias
    that silently corrupts that vector's ranking forever. So the
    append REFUSES (ValueError) when the batch breaches any
    dimension's trained range — one bounded 64-row stats pass over the
    batch decides — and the caller's move is a rebuild (delete the dir
    or bump the corpus fingerprint; ensure_sq8_index retrains). IVFADC
    appends degrade measurably and gradually (the drift table), SQ8
    appends are exact-or-refused, SRP appends never degrade: the three
    maintenance postures of the three families.

    Cache-coherence contract (same as ivfadc_index_append): appending
    retires _INDEX_READY -> _INDEX_APPENDED so the graded
    pure-function-of-corpus search treats the dir as a cache miss;
    direct-path callers (ann_sq8_search_indexed) are unaffected."""
    import json
    import os

    with open(os.path.join(index_path, "sq8_params.json")) as f:
        params = json.load(f)
    vecs = new_vecs
    batch = sq8_params(vecs).orderBy("d").collect()  # bounded: 64 rows
    breaches = [
        (i, int(b["mn"]), int(b["mn"]) + int(b["span"]), int(p["mn"]), int(p["mn"]) + int(p["span"]))
        for i, (b, p) in enumerate(zip(batch, params))
        if int(b["mn"]) < int(p["mn"])
        or int(b["mn"]) + int(b["span"]) > int(p["mn"]) + int(p["span"])
    ]
    if breaches:
        d, bmn, bmx, pmn, pmx = breaches[0]
        raise ValueError(
            f"sq8_index_append: batch escapes the trained range on "
            f"{len(breaches)} dimension(s) (first: dim {d} batch "
            f"[{bmn}, {bmx}] vs trained [{pmn}, {pmx}]); rail clipping "
            f"would silently corrupt ranking — rebuild the index "
            f"(ensure_sq8_index after a corpus refresh) instead"
        )
    _retire_ready_marker(index_path)
    mns, spans = _sq8_literals(params)
    sq8_encode(new_vecs, mns, spans).write.mode("append").parquet(
        os.path.join(index_path, "codes")
    )


def q_ann_sq8_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded entry: SQ8 search through the PERSISTED index — ensure
    the codes layout + params JSON exist (first run per corpus trains
    and encodes; every later run skips straight to the search), then
    search by READING them: the warm lineage holds no stats pass and
    no encode (pytest-poisoned against both), just the code scan,
    the literal-params dequantization, and the fenced exact re-rank.
    The DuckDB oracle is verbatim SQL_ANN_SQ8 — the index is a pure
    function of the corpus, the plan shape is what changes."""
    vecs = _vectors(spark, sf_dir)
    idx = ensure_sq8_index(spark, sf_dir)
    return ann_sq8_search_indexed(spark, vecs, idx)


SQL_ANN_SQ8_PERSISTED = SQL_ANN_SQ8


def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(label, dimension) feature statistics over the embedding
    column: count, mean, std, min, max for each of the 64 dimensions
    within each class — the feature-drift / class-separation diagnostic
    a curation pipeline runs before trusting an embedding space (a
    near-constant dimension or a label whose per-dim means collapse
    toward the global mean both flag a degenerate encoder), and the
    scaling statistics a standardization (z-score) step consumes.

    Scale shape: one posexplode (vector -> 64 narrow rows) feeding one
    two-level groupBy — map-side partial aggregation reduces each task
    to at most |labels| x 64 partial rows before the single shuffle, so
    the shuffle volume is bounded by cardinality, not corpus size. All
    float accumulation runs through the exact_* quantized machinery so
    the result is identical on any partitioning (and to the DuckDB
    twin).
    """
    from .util import exact_avg, exact_std, ieee_round

    emb = load(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x")
    )
    return (
        ex.groupBy("label", F.col("dim").cast("long").alias("dim"))
        .agg(
            F.count("x").alias("n"),
            exact_avg(F.col("x"), 6).alias("mean_x"),
            exact_std(F.col("x"), 6).alias("std_x"),
            ieee_round(F.min("x"), 6).alias("min_x"),
            ieee_round(F.max("x"), 6).alias("max_x"),
        )
        .orderBy("label", "dim")
    )


SQL_EMBEDDING_DIM_STATS = f"""
WITH ex AS (
  SELECT label,
         unnest(range(len(embedding))) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
)
SELECT label, dim, count(x) AS n,
       {sql_avg('x', 6)} AS mean_x,
       {sql_std('x', 6)} AS std_x,
       {sql_ieee_round('min(x)', 6)} AS min_x,
       {sql_ieee_round('max(x)', 6)} AS max_x
FROM ex
GROUP BY label, dim
ORDER BY label, dim
"""


_SEM_TAU = 0.4  # corpus-calibrated: the synthetic embeddings' near-dup
# cosine scale (dedup's embedding_neardup threshold); real deployments
# run 0.95+ on contrastive-trained encoders — the knob, not the shape.


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540):
    cluster the embedding space, then drop near-identical pairs WITHIN
    each cluster — the trick that makes semantic dedup tractable is that
    the pair stage never crosses cluster boundaries, so the quadratic
    work is bounded per cluster instead of per corpus.

    Shape here: nearest-centroid assignment is one broadcast join of K
    centroid rows (the ann_ivf membership step — at scale the trained
    IVF centroids, K ~ sqrt(N), keep expected cluster size ~ sqrt(N)),
    then an equi-join on the cluster id generates in-cluster pairs and a
    vector is DROPPED when it has cosine >= tau with any lower vec_id in
    its cluster (min-id keeper, the engine's dedup convention). Output:
    one row per dropped vector with its cluster, its keeper, and the
    max offending cosine.

    Reference scope note: the reference engine has no embedding surface;
    this extends its dedup family (§2 A8-adjacent) to the
    training-data-curation workload the brief names first-class."""
    vecs = _vectors(spark, sf_dir)
    return semdedup_pairs(vecs, _fixture_centroids(vecs))


def semdedup_pairs(
    vecs: DataFrame,
    centroids: DataFrame | None = None,
    membership: DataFrame | None = None,
) -> DataFrame:
    """The SemDeDup engine shared by the graded variants: assign to a
    cluster, equi-join pairs WITHIN clusters, drop a vector when cosine
    >= tau against any lower vec_id in its cluster.

    Cluster assignment, most- to least-preferred:
    - `membership` (vec_id, v, norm, cent_id): caller-supplied — used by
      the trained-codebook default below.
    - `centroids` (vec_id, v, norm): flat nearest-centroid scan (the
      fixture-K graded query and the modulo-rule auto-K variant pass
      their codebooks explicitly).
    - neither: THE DEFAULT IS THE TRAINED TWO-LEVEL CODEBOOK
      (two_level_membership — Lloyd-refined, pruned assignment join);
      fixture and dense-id rules are opt-in, not the default path."""
    if membership is None:
        if centroids is None:
            membership = two_level_membership(vecs)
        else:
            # persist the shared-rule assignment: it feeds BOTH self-join
            # sides — uncached, the N x K centroid scoring would run
            # twice. The agg form (ivf_membership) keeps the N×K stage
            # exchange-free for big-K codebooks (semdedup_auto)
            membership = ivf_membership(vecs, centroids)
    membership = tracked_persist(membership)
    a = membership.select(
        "cent_id", F.col("vec_id").alias("v1"), F.col("v").alias("va"), F.col("norm").alias("na")
    )
    b = membership.select(
        "cent_id", F.col("vec_id").alias("v2"), F.col("v").alias("vb"), F.col("norm").alias("nb")
    )
    cos_ab = ieee_round(_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6)
    pairs = (
        a.join(b, "cent_id")
        .where(F.col("v1") < F.col("v2"))
        .withColumn("cosine", cos_ab)
        .where(F.col("cosine") >= _SEM_TAU)
    )
    return (
        pairs.groupBy(F.col("v2").alias("vec_id"), F.col("cent_id"))
        .agg(F.min("v1").alias("dup_of"), F.max("cosine").alias("max_cosine"))
        .orderBy("vec_id")
    )


# Corpus-proportional centroid rule: every TARGET-th vector by id. For
# dense ids this yields K = ceil(N / TARGET) WITHOUT a driver-side count
# (the selection is a lazy filter), so per-cluster size stays ~TARGET as
# the corpus grows — the K ∝ N scaling the SemDeDup paper runs (50k
# clusters for LAION-440M) and the fix for the fixture-K sweep's α = 1.22
# (per-cluster size growing linearly made the within-cluster GEMM
# quadratic). SUPERSEDED AS THE DEFAULT in r8: the modulo rule keeps its
# graded query (semdedup_auto, output stability) but its N×K brute-force
# assignment and dense-id assumption are retired — the engine default
# with no codebook argument is the trained two-level codebook
# (trained_codebook / two_level_membership below: md5-sampled seeds, no
# dense-id assumption, Lloyd-refined, coarse-cell-PRUNED assignment).
_SEM_TARGET_CLUSTER = 64


def modulo_centroids(vecs: DataFrame, target_cluster_size: int = _SEM_TARGET_CLUSTER) -> DataFrame:
    return vecs.where(F.col("vec_id") % target_cluster_size == 0)


# ---------------------------------------------------------------------------
# Trained two-level codebook (r8): kmeans-style Lloyd refinement composed
# with a coarse-cell-PRUNED assignment join — the at-scale replacement for
# both the dense-id modulo/sqrt seed rules and the N×K brute-force
# nearest-centroid scan (VERDICT r7 #2).
# ---------------------------------------------------------------------------

_TC_SCALE = 1_000_000  # the kmeans_train 1e-6 integer grid
_TC_FINE_MOD = 64  # fine seed rate: K ≈ N/64, expected cell ≈ 64
_TC_GROUP = 64  # fine seeds per coarse stratum: K1 ≈ K/64 ≈ N/4096
# route stride of the graded DuckDB mirror (_sql_two_level_membership
# only): its route level is one cell below N ≈ 4×10^8 vectors, which is
# why the mirror equals the two-level Spark construction
_TC_ROUTE_GROUP = 100_000
_QV_EXPR = f"transform(v, x -> CAST(floor(x * {float(_TC_SCALE)!r}) AS BIGINT))"


def _md5u32(c: Column) -> Column:
    """First 8 md5 hex digits as int64 — the sampling.py cross-engine
    hash idiom (identical in DuckDB via ('0x' || substr(md5(..),1,8)))."""
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("long")


def _int_l2(a: Column, b: Column) -> Column:
    """Squared L2 between two int64 grid vectors — pure integer
    arithmetic, so the sum is order-independent and bit-identical in any
    engine and under any partitioning (the kmeans_train exactness
    design, array-native instead of exploded)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _nearest(
    rows: DataFrame,
    cands: DataFrame,
    rid: str,
    rvec: str,
    cid: str,
    cvec: str,
    on: str | None = None,
    keep: list[str] | None = None,
) -> DataFrame:
    """The argmin-assignment kernel for NON-broadcastable candidate sets
    (the K ≈ N/64 fine codebook): nearest candidate per row by
    integer-grid L2, ties to the smallest candidate id (min over
    struct(dist, id)). `on=<col>` prunes candidates to the row's cell
    (equi-join — the shape that keeps each level's per-row work
    bounded); `on=None` scans every candidate. `keep` carries extra ROW
    columns through the argmin (appended to the min-struct AFTER
    (dist, id) — (dist, id) is unique per row×candidate, so the payload
    never influences the comparison), saving the join-back to re-attach
    them. For codebook tables small enough to broadcast, use
    _nearest_bcast — same distance, same tie-break, zero shuffle."""
    joined = rows.crossJoin(cands) if on is None else rows.join(cands, on)
    keep = keep or []
    payload = [F.col(k) for k in keep]
    return (
        joined.select(rid, _int_l2(F.col(rvec), F.col(cvec)).alias("dist"), cid, *keep)
        .groupBy(rid)
        .agg(F.min(F.struct(F.col("dist"), F.col(cid), *payload)).alias("m"))
        .select(rid, F.col(f"m.{cid}").alias(cid), *[F.col(f"m.{k}").alias(k) for k in keep])
    )


def _argmin_expr(rvec: str, arr: str) -> Column:
    """Inline argmin over a broadcast array of (i, q) candidate structs:
    the SAME integer-grid L2 and (dist, id) lexicographic tie-break as
    _nearest, evaluated as a pure MAP expression — no shuffle, no
    groupBy, no join-back (pinned bit-identical to _nearest by
    test_broadcast_argmin_matches_nearest)."""
    return F.expr(
        f"array_min(transform({arr}, c -> struct("
        f"aggregate(zip_with({rvec}, c.q, (x, y) -> (x - y) * (x - y)),"
        f" CAST(0 AS BIGINT), (a, x) -> a + x) AS dist, c.i AS i))).i"
    )


def _nearest_bcast(
    rows: DataFrame, cands: DataFrame, rvec: str, cid: str, cvec: str
) -> DataFrame:
    """Map-side argmin over ALL candidates: the candidate table
    collapses into ONE broadcast array row, and each input row picks its
    nearest inline — rows + a new `cid` column, every row column kept.
    For codebook-sized candidate sets only (they must fit a broadcast —
    the same bound the broadcast hash joins already assume)."""
    arr = cands.agg(
        F.collect_list(F.struct(F.col(cid).alias("i"), F.col(cvec).alias("q"))).alias("_c")
    )
    return (
        rows.crossJoin(F.broadcast(arr))
        .withColumn(cid, _argmin_expr(rvec, "_c"))
        .drop("_c")
    )


def _int_mean(members: DataFrame, cid: str, out: str) -> DataFrame:
    """One integer-grid Lloyd update: (cid, qv) member rows -> (cid,
    out) where `out` is the per-dimension integer mean (s DIV n — both
    engines truncate toward zero) of each cell's members. ONE definition
    for the coarse and the fine refinement."""
    return (
        members.select(cid, F.posexplode("qv").alias("d", "q"))
        .groupBy(cid, "d")
        .agg(F.sum("q").alias("s"), F.count(F.lit(1)).alias("n"))
        .withColumn("cq", F.expr("s DIV n"))
        .groupBy(cid)
        .agg(F.array_sort(F.collect_list(F.struct("d", "cq"))).alias("a"))
        .select(cid, F.expr("transform(a, p -> p.cq)").alias(out))
    )


def trained_codebook(
    vecs: DataFrame, fine_mod: int = _TC_FINE_MOD, group: int = _TC_GROUP
) -> tuple[DataFrame, DataFrame]:
    """Train the two-level codebook: returns (coarse, fine) where
    `coarse` is (coarse_id, cqv) — Lloyd-refined integer-grid coarse
    centroids — and `fine` is (fine_id, coarse_id, fqv) — the fine seed
    vectors with their coarse cell.

    Construction, ORDER-FREE and engine-mirrorable — each level is an
    md5-stride SUBSET of the one below (no rank window
    anywhere, so no stage sorts codebook rows through one task):
    1. FINE SEEDS: corpus rows whose md5(vec_id) bucket ≡ 0 (mod
       fine_mod) — K ≈ N/64 without a driver count and without the
       modulo rule's dense-id assumption — plus the argmin-(md5, vec_id)
       row as an anchor so the seed set is never empty on tiny corpora.
    2. COARSE INIT: seeds with md5 ≡ 0 (mod fine_mod·group) ∪ anchor —
       K1 ≈ K/64 ≈ N/4096 stratum representatives, selected by the SAME
       hash rule one stratum up (a pure filter, embarrassingly parallel;
       r8 used a rank window here — the one single-partition stage in
       the training lineage, removed in r9).
    3. SEED→COARSE assignment: a map-side argmin over all K1 inits (each
       init attracts itself at distance 0, so no coarse cell is empty),
       then one Lloyd refinement: coarse centroid = per-dimension
       integer mean of its member seeds. The init assignment defines the
       partition; the refined centroid represents it.

    Two levels, one physical tier: both coarse argmins (seed→coarse
    here, vec→coarse in _two_level_parts) broadcast all K1 coarse
    vectors to every task; the only driver action is the count that
    materializes the seed cache, and nothing chooses a plan. The
    cost is the broadcast itself: K1 ≈ N/4096 64-dim int64 vectors,
    about 100 MB at N ≈ 4×10^8. No dataset, workload or machine here
    comes near that (the corpora hold 500–2,000 vectors); a corpus that
    does needs a routing level above the coarse one (SCALING.md keeps
    the measurements of the removed route and shuffle tiers).

    `fine_mod` / `group` expose the sampling strides so tests can force
    multi-cell coarse levels on small fixtures; production uses the
    defaults."""
    qv = F.expr(_QV_EXPR)
    base = vecs.select("vec_id", qv.alias("qv"), _md5u32(F.col("vec_id")).alias("h"))
    sel = base.where(F.col("h") % fine_mod == 0).select(
        "vec_id", F.lit(False).alias("is_anchor")
    )
    anchor = (
        base.agg(F.min(F.struct(F.col("h"), F.col("vec_id"))).alias("m"))
        .select(F.col("m.vec_id").alias("vec_id"), F.lit(True).alias("is_anchor"))
    )
    seed_ids = (
        sel.unionByName(anchor).groupBy("vec_id").agg(F.max("is_anchor").alias("is_anchor"))
    )
    # persist the seed set (K ≈ N/64 slim rows): it has two consumers,
    # the coarse inits and the seed→coarse argmin — unpersisted,
    # Catalyst re-expands the md5-scan+union subtree into each. It
    # CARRIES the anchor as a flag column, so the coarse level is a pure
    # filter over this cache — no broadcast, join, or window (r9 — r8
    # ranked the seeds through a single-partition window instead)
    seeds = tracked_persist(base.join(seed_ids, "vec_id"))
    # materialize the seed cache before its consumers are planned, so
    # their joins are planned from its measured size, not the plan
    # estimate: without this count several broadcast joins downstream
    # flip their build side (plans/two_level_flat/). One job over rows
    # the first consumer would compute anyway; it chooses nothing
    seeds.count()
    # coarse inits: K1 rows, the same hash rule one stratum up (each
    # coarser stride divides the finer one, so the selection is a
    # subset and stays order-free) — a filter over the cached seeds
    c0 = seeds.where((F.col("h") % (fine_mod * group) == 0) | F.col("is_anchor")).select(
        F.col("vec_id").alias("coarse_id"), F.col("qv").alias("cqv")
    )
    # seed → nearest coarse init. Persisted: a0 is the K-row trained
    # fine codebook (it IS `fine` modulo renames) and its
    # materialization absorbs the c0 broadcast build, which would
    # otherwise re-execute in every downstream consumer. a0 carries qv
    # (map-derived), so the Lloyd refinement and the fine table need no
    # join-back to seeds
    a0 = tracked_persist(
        _nearest_bcast(seeds, c0, "qv", "coarse_id", "cqv")
        .select("vec_id", "qv", "coarse_id")
    )
    # coarse has ONE consumer (the vec→coarse scoring in
    # _two_level_parts) — no persist boundary; fine (K rows) feeds the
    # af equi-join AND f1cell
    coarse = _int_mean(a0, "coarse_id", "cqv")
    fine = a0.select(
        F.col("vec_id").alias("fine_id"), "coarse_id", F.col("qv").alias("fqv")
    )
    return coarse, fine


def two_level_membership(vecs: DataFrame) -> DataFrame:
    """Cluster membership under the trained codebook with the PRUNED
    assignment join: (vec_id, v, norm, cent_id) where cent_id is the
    vector's refined fine cell.

    Assignment shape — the point of the whole construction:
    1. vector → nearest coarse cell: a map-side broadcast argmin over
       the K1 ≈ N/4096 refined coarse centroids (the broadcast bound is
       in trained_codebook's docstring).
    2. vector → nearest fine seed WITHIN its coarse cell: an equi-join
       on coarse_id (≈64 fine candidates per vector — ~64·N total work,
       LINEAR in N, vs the flat scan's N×K = N²/64; on the partitioned
       IVF layout this join is also a directory prune).
    3. one Lloyd refinement of the fine centroids (integer member mean),
       then a final pruned re-assignment against the refined centroids —
       fine cells are trained on the data, not just sampled from it.
    Every coarse cell entering step 2 has ≥1 fine seed (each coarse init
    is its own seed) and every refined fine cell in step 3 had ≥1 member
    in step 2, so both pruned joins are total — no vector is dropped."""
    _, _, final = _two_level_parts(vecs)
    return vecs.join(final, "vec_id").select("vec_id", "v", "norm", "cent_id")


def _two_level_parts(
    vecs: DataFrame, fine_mod: int = _TC_FINE_MOD, group: int = _TC_GROUP
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared internals of the trained-codebook assignment: returns
    (vca, f1cell, final) — vector→coarse map, refined fine centroids
    with their coarse cell (fine_id, coarse_id, fqv1), and the final
    (vec_id, cent_id) membership. _route's trained probe ranking needs
    f1cell; semdedup needs only the membership. Two levels, one tier:
    vec→coarse is the same broadcast argmin trained_codebook runs for
    the seeds. `fine_mod` / `group` are trained_codebook's strides."""
    coarse, fine = trained_codebook(vecs, fine_mod, group)
    par = vecs.sparkSession.sparkContext.defaultParallelism
    # repartition BEFORE the broadcast scoring stages (the ivf_membership
    # parallelism lesson: inherit cores, not parquet file count)
    qvecs = vecs.select("vec_id", F.expr(_QV_EXPR).alias("qv")).repartition(par)
    # vca carries qv through (map-derived, so no qvecs join-back): ONE
    # persisted corpus-wide table replaces r8's two (qvecs + vca)
    vca = tracked_persist(
        _nearest_bcast(qvecs, coarse, "qv", "coarse_id", "cqv")
        .select("vec_id", "qv", "coarse_id")
    )
    af = _nearest(
        vca, fine, "vec_id", "qv", "fine_id", "fqv",
        on="coarse_id", keep=["qv"],
    )
    f1 = _int_mean(af, "fine_id", "fqv1")
    # refined fine codebook: K rows, consumed by the final re-assignment
    # AND (in _route) the probe ranking — persist like the rest
    # of the codebook tables
    f1cell = tracked_persist(f1.join(fine.select("fine_id", "coarse_id"), "fine_id"))
    final = _nearest(
        vca, f1cell, "vec_id", "qv", "fine_id", "fqv1", on="coarse_id"
    ).select("vec_id", F.col("fine_id").alias("cent_id"))
    return vca, f1cell, final


def q_semdedup_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the corpus-proportional codebook (auto-K): same
    engine as q_semdedup, centroids chosen by the modulo rule so K grows
    with N and per-cluster quadratic work stays bounded by
    _SEM_TARGET_CLUSTER². The scaling sweep runs THIS variant to show
    the growth exponent falling toward linear (SCALING.md);
    q_semdedup keeps the frozen K=8 fixture so its graded output stays
    stable across rounds."""
    vecs = _vectors(spark, sf_dir)
    return semdedup_pairs(vecs, modulo_centroids(vecs))


SQL_SEMDEDUP = f"""
WITH vecs AS ({_SQL_VECTORS}),
cents AS (
  SELECT vec_id AS cent_id, v AS cv, norm AS cnorm FROM vecs
  WHERE vec_id >= {_CENTROID_BASE} AND vec_id < {_CENTROID_BASE + _N_CENTROIDS}
),
assigned AS (
  SELECT q.vec_id, q.v, q.norm, c.cent_id,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY (floor((list_sum(list_transform(range(len(q.v)), i -> q.v[i+1] * c.cv[i+1]))
                                           / (q.norm * c.cnorm)) * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE)) DESC, c.cent_id ASC) AS crank
  FROM vecs q CROSS JOIN cents c
),
membership AS (SELECT vec_id, v, norm, cent_id FROM assigned WHERE crank = 1),
pairs AS (
  SELECT a.cent_id, a.vec_id AS v1, b.vec_id AS v2,
         (floor((list_sum(list_transform(range(len(a.v)), i -> a.v[i+1] * b.v[i+1]))
               / (a.norm * b.norm)) * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE)) AS cosine
  FROM membership a JOIN membership b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
)
SELECT v2 AS vec_id, cent_id, min(v1) AS dup_of, max(cosine) AS max_cosine
FROM pairs WHERE cosine >= {_SEM_TAU}
GROUP BY v2, cent_id
ORDER BY vec_id
"""


# identical engine to SQL_SEMDEDUP; only the cents CTE differs (modulo
# rule instead of the frozen fixture range)
SQL_SEMDEDUP_AUTO = SQL_SEMDEDUP.replace(
    f"WHERE vec_id >= {_CENTROID_BASE} AND vec_id < {_CENTROID_BASE + _N_CENTROIDS}",
    f"WHERE vec_id % {_SEM_TARGET_CLUSTER} = 0",
)


def q_semdedup_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup under the TRAINED two-level codebook — the default
    non-fixture engine path (semdedup_pairs with no codebook argument):
    md5-sampled fine seeds (K ≈ N/64, no dense-id assumption),
    rank-slab coarse init over the seed set, one integer-grid Lloyd
    refinement per level, and the coarse-cell-PRUNED assignment join
    (~64 fine candidates per vector — linear, vs the flat scan's
    N×K = N²/64). Same pair semantics and output shape as q_semdedup /
    q_semdedup_auto; graded with a full DuckDB mirror of the training
    and both pruned assignment passes."""
    return semdedup_pairs(_vectors(spark, sf_dir))


def _sql_int_l2(a: str, b: str) -> str:
    """DuckDB squared-L2 between two int64 grid lists — integer
    arithmetic, so list_sum order cannot matter."""
    return (
        f"list_sum(list_transform(range(len({a})), i ->"
        f" ({a}[i+1] - {b}[i+1]) * ({a}[i+1] - {b}[i+1])))"
    )


def _sql_two_level_membership(
    fine_mod: int = _TC_FINE_MOD,
    group: int = _TC_GROUP,
    route_group: int = _TC_ROUTE_GROUP,
) -> str:
    """The trained-codebook membership CTE chain: the DuckDB reference
    for trained_codebook + _two_level_parts, shared by
    SQL_SEMDEDUP_TRAINED and the trained-IVF oracle. It still builds a
    route level (route, s_route, croute, v_route) that the Spark side
    does not have. The two agree because the graded SQL has a single
    route cell: the route stride fine_mod·group·route_group is
    409,600,000 at the defaults, so a second cell needs a seed whose
    md5 prefix is a non-zero multiple of it, and no graded corpus has
    one (pytest-pinned on sf0.01 and sf0.1). One route cell prunes
    nothing, so every argmin sees the full candidate set and the SQL
    equals the flat Spark construction row for row. The strides are
    parameters so tests can force multi-cell coarse levels on small
    fixtures; they collapse the route level by passing a `route_group`
    that puts the stride beyond the 32-bit hash range."""
    grid = f"list_transform(v, x -> CAST(floor(x * {float(_TC_SCALE)!r}) AS BIGINT))"
    h = "('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT"
    return f"""
qvecs AS (
  SELECT vec_id, v, norm, {grid} AS qv, {h} AS h
  FROM vecs
),
anchor AS (SELECT vec_id FROM qvecs ORDER BY h, vec_id LIMIT 1),
seed_ids AS (
  SELECT vec_id FROM qvecs WHERE h % {fine_mod} = 0
  UNION
  SELECT vec_id FROM anchor
),
seeds AS (
  SELECT q.vec_id, q.qv, q.h
  FROM qvecs q JOIN seed_ids si ON q.vec_id = si.vec_id
),
c0 AS (
  SELECT vec_id AS coarse_id, qv AS cqv FROM seeds
  WHERE h % {fine_mod * group} = 0
     OR vec_id IN (SELECT vec_id FROM anchor)
),
route AS (
  SELECT vec_id AS route_id, qv AS rqv FROM seeds
  WHERE h % {fine_mod * group * route_group} = 0
     OR vec_id IN (SELECT vec_id FROM anchor)
),
s_route AS (
  SELECT vec_id, route_id FROM (
    SELECT s.vec_id, r.route_id,
           row_number() OVER (PARTITION BY s.vec_id
                              ORDER BY {_sql_int_l2('s.qv', 'r.rqv')}, r.route_id) AS rn
    FROM seeds s CROSS JOIN route r
  ) WHERE rn = 1
),
croute AS (
  SELECT sr.vec_id AS coarse_id, sr.route_id
  FROM s_route sr JOIN c0 ON sr.vec_id = c0.coarse_id
),
a0 AS (
  SELECT vec_id, coarse_id FROM (
    SELECT s.vec_id, c.coarse_id,
           row_number() OVER (PARTITION BY s.vec_id
                              ORDER BY {_sql_int_l2('s.qv', 'c.cqv')}, c.coarse_id) AS rn
    FROM seeds s
    JOIN s_route sr ON s.vec_id = sr.vec_id
    JOIN croute cr ON sr.route_id = cr.route_id
    JOIN c0 c ON cr.coarse_id = c.coarse_id
  ) WHERE rn = 1
),
cmem AS (
  SELECT a.coarse_id, unnest(range(len(s.qv))) AS d, unnest(s.qv) AS q
  FROM a0 a JOIN seeds s ON a.vec_id = s.vec_id
),
coarse AS (
  SELECT coarse_id, list(cq ORDER BY d) AS cqv
  FROM (SELECT coarse_id, d, sum(q) // count(*) AS cq FROM cmem GROUP BY 1, 2)
  GROUP BY coarse_id
),
fine AS (
  SELECT a.vec_id AS fine_id, a.coarse_id, s.qv AS fqv
  FROM a0 a JOIN seeds s ON a.vec_id = s.vec_id
),
v_route AS (
  SELECT vec_id, route_id FROM (
    SELECT q.vec_id, r.route_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {_sql_int_l2('q.qv', 'r.rqv')}, r.route_id) AS rn
    FROM qvecs q CROSS JOIN route r
  ) WHERE rn = 1
),
vca AS (
  SELECT vec_id, coarse_id FROM (
    SELECT q.vec_id, c.coarse_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {_sql_int_l2('q.qv', 'c.cqv')}, c.coarse_id) AS rn
    FROM qvecs q
    JOIN v_route vr ON q.vec_id = vr.vec_id
    JOIN croute cr ON vr.route_id = cr.route_id
    JOIN coarse c ON cr.coarse_id = c.coarse_id
  ) WHERE rn = 1
),
af AS (
  SELECT vec_id, fine_id FROM (
    SELECT q.vec_id, f.fine_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {_sql_int_l2('q.qv', 'f.fqv')}, f.fine_id) AS rn
    FROM qvecs q
    JOIN vca ON q.vec_id = vca.vec_id
    JOIN fine f ON vca.coarse_id = f.coarse_id
  ) WHERE rn = 1
),
fmem AS (
  SELECT a.fine_id, unnest(range(len(q.qv))) AS d, unnest(q.qv) AS q
  FROM af a JOIN qvecs q ON a.vec_id = q.vec_id
),
f1 AS (
  SELECT fine_id, list(cq ORDER BY d) AS fqv1
  FROM (SELECT fine_id, d, sum(q) // count(*) AS cq FROM fmem GROUP BY 1, 2)
  GROUP BY fine_id
),
f1cell AS (
  SELECT f1.fine_id, fc.coarse_id, f1.fqv1
  FROM f1 JOIN (SELECT DISTINCT fine_id, coarse_id FROM fine) fc
    ON f1.fine_id = fc.fine_id
),
membership AS (
  SELECT vec_id, cent_id FROM (
    SELECT q.vec_id, fc.fine_id AS cent_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {_sql_int_l2('q.qv', 'fc.fqv1')}, fc.fine_id) AS rn
    FROM qvecs q
    JOIN vca ON q.vec_id = vca.vec_id
    JOIN f1cell fc ON vca.coarse_id = fc.coarse_id
  ) WHERE rn = 1
)"""


SQL_SEMDEDUP_TRAINED = f"""
WITH vecs AS ({_SQL_VECTORS}),
{_sql_two_level_membership()},
mv AS (
  SELECT m.vec_id, m.cent_id, x.v, x.norm
  FROM membership m JOIN vecs x ON m.vec_id = x.vec_id
),
pairs AS (
  SELECT a.cent_id, a.vec_id AS v1, b.vec_id AS v2,
         (floor((list_sum(list_transform(range(len(a.v)), i -> a.v[i+1] * b.v[i+1]))
               / (a.norm * b.norm)) * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE)) AS cosine
  FROM mv a JOIN mv b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
)
SELECT v2 AS vec_id, cent_id, min(v1) AS dup_of, max(cosine) AS max_cosine
FROM pairs WHERE cosine >= {_SEM_TAU}
GROUP BY v2, cent_id
ORDER BY vec_id
"""


SQL_ANN_IVF_TRAINED = _sql_ann_ivf_trained()


_Z_EXTREME = 3.0  # |z| threshold for an "extreme" coordinate


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level companion of embedding_dim_stats: z-score every
    coordinate against its (label, dim) mean/std and report, per vector,
    the count of extreme coordinates (|z| > 3) and the max |z| — the
    per-row anomaly gate a curation pipeline runs to quarantine vectors
    from a broken encoder batch before they poison ANN training.

    Exactness: mean/std come from the exact_* quantized machinery
    (already 6-dp pinned), so the z expression is pure IEEE arithmetic
    on identical operands in both engines; |z| is floor-form rounded
    before the threshold compare and the max. Scale shape: the stats
    table is |labels| x 64 rows — broadcast — so the whole query is one
    posexplode scan + map-side join + one (vec_id) partial agg."""
    from .util import exact_avg, exact_std, ieee_round

    emb = load(spark, sf_dir, "embeddings")
    # persist the exploded view: it feeds the stats agg AND the z-score
    # join — uncached, the corpus would be scanned and exploded twice
    pos = tracked_persist(
        emb.select(
            "vec_id", "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x")
        )
    )
    stats = pos.groupBy("label", F.col("dim").cast("long").alias("dim")).agg(
        exact_avg(F.col("x"), 6).alias("mean_x"),
        exact_std(F.col("x"), 6).alias("std_x"),
    )
    az = ieee_round(F.abs(F.col("x") - F.col("mean_x")) / F.col("std_x"), 6)
    joined = (
        pos.withColumn("dim", F.col("dim").cast("long"))
        .join(F.broadcast(stats), ["label", "dim"])
        .where(F.col("std_x") > 0)
        .withColumn("az", az)
    )
    return (
        joined.groupBy("vec_id", "label")
        .agg(
            F.count(F.when(F.col("az") > _Z_EXTREME, 1)).alias("n_extreme"),
            F.max("az").alias("max_abs_z"),
        )
        .orderBy("vec_id")
    )


def _sql_embedding_outliers() -> str:
    return f"""
WITH pos AS (
  SELECT vec_id, label,
         unnest(range(len(embedding))) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
stats AS (
  SELECT label, dim, {sql_avg('x', 6)} AS mean_x, {sql_std('x', 6)} AS std_x
  FROM pos GROUP BY 1, 2
),
z AS (
  SELECT vec_id, p.label, {sql_ieee_round('abs(x - mean_x) / std_x', 6)} AS az
  FROM pos p JOIN stats s ON p.label = s.label AND p.dim = s.dim
  WHERE std_x > 0
)
SELECT vec_id, label,
       count(*) FILTER (WHERE az > {_Z_EXTREME}) AS n_extreme,
       max(az) AS max_abs_z
FROM z
GROUP BY vec_id, label
ORDER BY vec_id
"""


SQL_EMBEDDING_OUTLIERS = _sql_embedding_outliers()


# Seed-centroid quality scoring: the embedding analog of model-based
# quality filtering (FineWeb-Edu / DCLM style) without a trained
# classifier — curators label a small seed set as high-quality, every
# corpus vector is scored by cosine to the seed centroid, and mixing /
# filtering keys off the score buckets. Fixture: label 0 plays the
# curated seed set.
_SEED_LABEL = 0


def q_quality_centroid_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine-to-seed-centroid score and decile bucket per vector.

    Exactness: the centroid is a per-dimension exact average (quantized
    6-dp grid, order-independent); the cosine is one fixed float
    expression over the centroid literal, floor-form rounded before
    bucketing so bucket membership is bit-identical across engines.

    Scale shape: centroid = one 64-row agg over the seed subset (a
    posexplode + groupBy dim — map-side partials, tiny result),
    broadcast back as a 1-row dimension; scoring is one linear scan.
    No shuffle touches the corpus beyond the presentation sort."""
    vecs = _vectors(spark, sf_dir)
    from .util import exact_avg

    seed_dims = (
        vecs.where(F.col("label") == _SEED_LABEL)
        .select(F.posexplode("v").alias("pos", "val"))
        .groupBy("pos")
        .agg(exact_avg(F.col("val"), 6).alias("m"))
    )
    centroid = seed_dims.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "m"))), lambda x: x["m"]
        ).alias("c")
    ).select(
        "c",
        F.sqrt(
            F.aggregate(F.expr("transform(c, x -> x * x)"), F.lit(0.0), lambda a, x: a + x)
        ).alias("cnorm"),
    )
    cos = ieee_round(_dot(F.col("v"), F.col("c")) / (F.col("norm") * F.col("cnorm")), 6)
    return (
        vecs.crossJoin(F.broadcast(centroid))
        .select(
            "vec_id",
            "label",
            cos.alias("seed_cos"),
            F.floor(cos * 10).cast("long").alias("bucket"),
        )
        .orderBy("vec_id")
    )


def _sql_quality_centroid() -> str:
    cos = sql_ieee_round(
        "list_sum(list_transform(range(len(v.v)), i -> v.v[i+1] * c.c[i+1]))"
        " / (v.norm * c.cnorm)",
        6,
    )
    return f"""
WITH vecs AS ({_SQL_VECTORS}),
seed_dims AS (
  SELECT t.i AS pos, {sql_avg('v[t.i + 1]', 6)} AS m
  FROM vecs, range(64) t(i)
  WHERE label = {_SEED_LABEL}
  GROUP BY t.i
),
centroid AS (
  SELECT list(m ORDER BY pos) AS c,
         sqrt(list_sum(list_transform(list(m ORDER BY pos), x -> x * x))) AS cnorm
  FROM seed_dims
)
SELECT vec_id, label, {cos} AS seed_cos,
       CAST(floor({cos} * 10) AS BIGINT) AS bucket
FROM vecs v CROSS JOIN centroid c
ORDER BY vec_id
"""


SQL_QUALITY_CENTROID_SCORE = _sql_quality_centroid()


# Hybrid retrieval: reciprocal-rank fusion of the lexical (BM25) and
# vector (cosine kNN) rankings — the standard two-tower retrieval stack
# a curation pipeline uses to pull topic-targeted training slices where
# either signal alone misses (lexical catches exact terms, vectors catch
# paraphrase). Fixture alignment: embeddings row i is the embedding of
# documents row i (doc_id == vec_id), and hybrid query q fuses BM25
# query q with query vector q.
_RRF_K = 60  # the standard RRF dampening constant (Cormack et al.)
_HYBRID_N_QUERIES = 3  # BM25 defines queries 0..2


def q_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF fusion of bm25_search and knn_bruteforce: score(d) =
    sum over rankings of 1/(K + rank_d), ranked desc with doc_id
    tie-break. Composes the two graded queries verbatim (no duplicated
    scoring logic), so this query's oracle transitively re-checks both.

    Scale shape: both inputs are already top-k-bounded per query (the
    fusion join touches dozens of rows); the heavy lifting lives in the
    composed queries, whose scale stories are their own (one corpus
    scan for BM25; the kNN side is the fenced re-rank tier — at corpus
    scale the vector list comes from ann_ivf instead, same contract)."""
    from .text import q_bm25_search

    lex = (
        q_bm25_search(spark, sf_dir)
        .where(F.col("query_id") < _HYBRID_N_QUERIES)
        .select("query_id", "doc_id", F.col("rank").alias("lex_rank"))
    )
    vec = (
        q_knn_bruteforce(spark, sf_dir)
        .where(F.col("query_id") < _HYBRID_N_QUERIES)
        .select("query_id", F.col("cand_id").alias("doc_id"), F.col("rank").alias("vec_rank"))
    )
    fused = lex.join(vec, ["query_id", "doc_id"], "full")
    rrf = ieee_round(
        F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("lex_rank")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("vec_rank")), F.lit(0.0)),
        6,
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        fused.withColumn("rrf", rrf)
        .withColumn("in_lex", F.col("lex_rank").isNotNull().cast("int"))
        .withColumn("in_vec", F.col("vec_rank").isNotNull().cast("int"))
        .withColumn("rank", F.row_number().over(w))
        .select("query_id", "rank", "doc_id", "rrf", "in_lex", "in_vec")
        .orderBy("query_id", "rank")
    )


def _sql_hybrid_rrf() -> str:
    from .text import SQL_BM25_SEARCH

    rrf = sql_ieee_round(
        f"coalesce(1.0 / ({_RRF_K} + lex_rank), 0.0) + coalesce(1.0 / ({_RRF_K} + vec_rank), 0.0)",
        6,
    )
    return f"""
WITH lex_full AS ({SQL_BM25_SEARCH}),
vec_full AS ({SQL_KNN_BRUTEFORCE}),
l AS (SELECT query_id, doc_id, rank AS lex_rank FROM lex_full WHERE query_id < {_HYBRID_N_QUERIES}),
v AS (SELECT query_id, cand_id AS doc_id, rank AS vec_rank FROM vec_full WHERE query_id < {_HYBRID_N_QUERIES}),
fused AS (
  SELECT coalesce(l.query_id, v.query_id) AS query_id,
         coalesce(l.doc_id, v.doc_id) AS doc_id,
         lex_rank, vec_rank
  FROM l FULL JOIN v ON l.query_id = v.query_id AND l.doc_id = v.doc_id
)
SELECT query_id, rank, doc_id, rrf, in_lex, in_vec
FROM (
  SELECT query_id, doc_id, {rrf} AS rrf,
         CAST(lex_rank IS NOT NULL AS INT) AS in_lex,
         CAST(vec_rank IS NOT NULL AS INT) AS in_vec,
         row_number() OVER (PARTITION BY query_id ORDER BY {rrf} DESC, doc_id ASC) AS rank
  FROM fused
)
ORDER BY query_id, rank
"""


SQL_HYBRID_SEARCH_RRF = _sql_hybrid_rrf()


QUERIES: dict[str, tuple] = {
    "hybrid_search_rrf": (q_hybrid_search_rrf, SQL_HYBRID_SEARCH_RRF),
    "quality_centroid_score": (q_quality_centroid_score, SQL_QUALITY_CENTROID_SCORE),
    "semdedup": (q_semdedup, SQL_SEMDEDUP),
    "semdedup_auto": (q_semdedup_auto, SQL_SEMDEDUP_AUTO),
    "semdedup_trained": (q_semdedup_trained, SQL_SEMDEDUP_TRAINED),
    "ann_ivf_trained": (q_ann_ivf_trained, SQL_ANN_IVF_TRAINED),
    "embedding_outliers": (q_embedding_outliers, SQL_EMBEDDING_OUTLIERS),
    "knn_bruteforce": (q_knn_bruteforce, SQL_KNN_BRUTEFORCE),
    "embedding_dim_stats": (q_embedding_dim_stats, SQL_EMBEDDING_DIM_STATS),
    "ann_recall": (q_ann_recall, SQL_ANN_RECALL),
    "ann_ivf": (q_ann_ivf, SQL_ANN_IVF),
    "ann_ivf_refined": (q_ann_ivf_refined, SQL_ANN_IVF_REFINED),
    "ann_pq": (q_ann_pq, SQL_ANN_PQ),
    "ann_sq8": (q_ann_sq8, SQL_ANN_SQ8),
    "ann_sq8_persisted": (q_ann_sq8_persisted, SQL_ANN_SQ8_PERSISTED),
    "ann_ivfsq": (q_ann_ivfsq, SQL_ANN_IVFSQ),
    "ann_ivfadc": (q_ann_ivfadc, SQL_ANN_IVFADC),
    "ann_ivfpq": (q_ann_ivfpq, SQL_ANN_IVFPQ),
    "ann_ivfadc_kmeans": (q_ann_ivfadc_kmeans, SQL_ANN_IVFADC_KMEANS),
    "ann_ivfadc_persisted": (q_ann_ivfadc_persisted, SQL_ANN_IVFADC_PERSISTED),
    "ann_ivfpq_kmeans": (q_ann_ivfpq_kmeans, SQL_ANN_IVFPQ_KMEANS),
    "ann_srp": (q_ann_srp, SQL_ANN_SRP),
    "ann_srp_persisted": (q_ann_srp_persisted, SQL_ANN_SRP_PERSISTED),
    "ann_srp_incremental": (q_ann_srp_incremental, SQL_ANN_SRP_INCREMENTAL),
    "ann_srp_compacted": (q_ann_srp_compacted, SQL_ANN_SRP_COMPACTED),
    "hard_negatives": (q_hard_negatives, SQL_HARD_NEGATIVES),
    "cluster_stats": (q_cluster_stats, SQL_CLUSTER_STATS),
    "kmeans_train": (q_kmeans_train, SQL_KMEANS_TRAIN),
}
