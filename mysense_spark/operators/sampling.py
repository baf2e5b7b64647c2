"""Deterministic sampling / split assignment and sketch-based distinct
counts — training-data-pipeline operators (driver north star; the
reference has no sampling, it processes every datagram).

Scale design (100 TB):
- Hash-based splits are THE way to sample at scale: no global sort, no
  state, reproducible on any cluster size, stable under re-runs and
  late-arriving data (a doc's split never changes). The md5-derived
  bucket matches the DuckDB oracle bit-for-bit.
- approx_count_distinct is HyperLogLog++: constant memory per group vs
  a full shuffle+dedup for exact distinct — the only viable cardinality
  count over billions of keys. Sketch internals are engine-specific, so
  the graded output carries the exact count plus a within-tolerance
  boolean asserting the estimate honors its rsd bound (the oracle
  computes exact + literal TRUE).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import tracked_persist
from ..io import load
from .util import exact_avg, sql_avg, sql_sum

_TRAIN_PCT = 80
_VAL_PCT = 90  # train < 80 <= val < 90 <= test


def _bucket(c) -> F.Column:
    """Deterministic bucket 0..99 from md5 of the key — identical on any
    engine, any partitioning, any run."""
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("long") % 100


# DuckDB twin of _bucket over doc_id — shared by EVERY oracle that
# derives the train/val/test split (hash_sample, corpus_build, dedup's
# cross_split_leakage / incremental verdicts), so a split-rule change
# cannot silently diverge one of them.
SQL_DOC_BUCKET = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100"


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified train/val/test split of the document corpus by
    deterministic content-key hash, reported per (lang, split): counts
    and average document length prove the split is unbiased."""
    doc = load(spark, sf_dir, "documents")
    b = _bucket(F.col("doc_id"))
    split = (
        F.when(b < _TRAIN_PCT, "train").when(b < _VAL_PCT, "val").otherwise("test")
    )
    return (
        doc.withColumn("split", split)
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            exact_avg(F.col("n_chars"), 4).alias("avg_chars"),
        )
        .orderBy("lang", "split")
    )


SQL_HASH_SAMPLE = f"""
WITH b AS (
  SELECT lang, n_chars,
         {SQL_DOC_BUCKET} AS bucket
  FROM documents
)
SELECT lang,
       CASE WHEN bucket < {_TRAIN_PCT} THEN 'train'
            WHEN bucket < {_VAL_PCT} THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs,
       {sql_avg('n_chars', 4)} AS avg_chars
FROM b
GROUP BY 1, 2
ORDER BY 1, 2
"""


# HLL++ rsd requested from the sketch; the gate asserts 5x that bound.
# approx_count_distinct is deterministic for fixed data (no RNG), so the
# boolean is stable run-to-run; 5 sigma makes it SF-independent too.
_HLL_RSD = 0.02
_HLL_TOLERANCE = 5 * _HLL_RSD


def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct kits per event type, graded against the
    exact count (A10-style activity accounting at sketch cost).

    The sketch value itself is engine-specific, so the hash-checkable
    CLAIM is emitted instead of the estimate: the exact cardinality plus
    `within_tolerance` = |approx-exact|/exact <= 5*rsd. The DuckDB twin
    computes the exact count and literal TRUE — the gate then PROVES the
    HLL++ estimate honors its error bound instead of leaving the query
    outside the oracle bar (the one no_oracle row in rounds 1-3)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=_HLL_RSD).alias("approx"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx") - F.col("exact_users"))
                / F.col("exact_users")
                <= F.lit(_HLL_TOLERANCE)
            ).alias("within_tolerance"),
        )
        .orderBy("event_type")
    )


SQL_APPROX_DISTINCT_USERS = """
SELECT event_type,
       count(DISTINCT user_id) AS exact_users,
       TRUE AS within_tolerance
FROM events
GROUP BY event_type
ORDER BY event_type
"""


_MIX_ALPHA = 0.5  # temperature exponent: weight stratum s by n_s^alpha
_MIX_TARGET_FRAC = 0.3  # sampled corpus size as a fraction of the input
_MIX_RES = 1_000_000  # hash-threshold resolution (1e-6 rate granularity)


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based data mixing: re-balance the per-language corpus
    mix by sampling stratum s at a rate proportional to n_s^alpha
    (alpha < 1 up-weights low-resource strata — the standard multilingual
    rebalancing step for training mixes). Acceptance is a deterministic
    md5-hash threshold per doc, so the sample is reproducible on any
    cluster size and stable under re-runs, like q_hash_sample.

    Scale shape: one tiny per-stratum agg (|languages| rows), rates
    derived on that agg and broadcast back onto the corpus — the corpus
    itself sees one scan + one filter + one final agg, no global sort and
    no per-stratum window. Thresholds are floor(rate * 1e6) compared
    against an integer hash bucket, so the boundary arithmetic is
    bit-identical in the DuckDB oracle."""
    from .util import exact_sum

    doc = load(spark, sf_dir, "documents")
    counts = doc.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
    # sum_w through the exact_sum quantized grid: a plain double sum of
    # pow() terms is order-dependent across partitionings (and Java
    # Math.pow vs libm can differ by an ulp), and sum_w feeds a floor()
    # membership threshold — the one place an ulp flips the kept set
    total = counts.agg(
        F.sum("n_total").alias("corpus_n"),
        exact_sum(F.pow(F.col("n_total").cast("double"), F.lit(_MIX_ALPHA)), 6).alias("sum_w"),
    )
    # rates is |languages| rows but feeds three consumers; without persist
    # each one re-scans the corpus for the counts agg (measured: 5 scans)
    rates = (
        counts.crossJoin(F.broadcast(total))
        .select(
            "lang",
            "n_total",
            F.least(
                F.lit(1.0),
                (
                    F.lit(_MIX_TARGET_FRAC)
                    * F.col("corpus_n").cast("double")
                    * F.pow(F.col("n_total").cast("double"), F.lit(_MIX_ALPHA))
                    / F.col("sum_w")
                    / F.col("n_total").cast("double")
                ),
            ).alias("rate"),
        )
    )
    rates = tracked_persist(rates)
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("long")
        % _MIX_RES
    )
    kept = (
        doc.select("doc_id", "lang", "n_chars")
        .withColumn("bucket", bucket)
        .join(F.broadcast(rates), "lang")
        .where(F.col("bucket") < F.floor(F.col("rate") * _MIX_RES).cast("long"))
    )
    return (
        kept.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"), exact_avg(F.col("n_chars"), 4).alias("avg_chars"))
        .join(rates, "lang")
        .select("lang", "n_total", F.round("rate", 6).alias("rate"), "n_kept", "avg_chars")
        .orderBy("lang")
    )


SQL_TEMPERATURE_MIX = f"""
WITH counts AS (
  SELECT lang, count(*) AS n_total FROM documents GROUP BY lang
),
total AS (
  -- sum_w via the quantized exact-sum grid (mirrors Spark's exact_sum);
  -- every literal/integer operand CAST-pinned to DOUBLE so DuckDB's
  -- exact DECIMAL x HUGEINT arithmetic can't diverge from Spark's
  -- double path at the ulp level (rate feeds a floor() threshold)
  SELECT sum(n_total) AS corpus_n,
         {sql_sum(f'pow(CAST(n_total AS DOUBLE), {_MIX_ALPHA})', 6)} AS sum_w
  FROM counts
),
rates AS (
  SELECT lang, n_total,
         least(CAST(1.0 AS DOUBLE),
               CAST({_MIX_TARGET_FRAC} AS DOUBLE) * CAST(corpus_n AS DOUBLE)
               * pow(CAST(n_total AS DOUBLE), {_MIX_ALPHA}) / sum_w / CAST(n_total AS DOUBLE)) AS rate
  FROM counts CROSS JOIN total
),
kept AS (
  SELECT d.lang, d.n_chars
  FROM documents d JOIN rates r ON d.lang = r.lang
  WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % {_MIX_RES}
        < CAST(floor(r.rate * {_MIX_RES}) AS BIGINT)
)
SELECT k.lang, r.n_total, round(r.rate, 6) AS rate,
       count(*) AS n_kept, {sql_avg('k.n_chars', 4)} AS avg_chars
FROM kept k JOIN rates r ON k.lang = r.lang
GROUP BY k.lang, r.n_total, r.rate
ORDER BY k.lang
"""


_PACK_BUDGET = 512  # tokens per training sequence (context window)
_PACK_SHARDS = 8  # independent packing streams; 1 shard ~ 1 writer task


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: lay the tokenized corpus out
    into fixed-size training sequences (GPT-style packing — documents
    are concatenated in a deterministic order and chunked every
    _PACK_BUDGET tokens, so a document can span a chunk boundary). Emits
    each document's placement: its token offset within its packing
    shard, the first/last chunk it lands in, and how many chunks it
    spans — exactly what a downstream batch writer needs to materialize
    the packed sequences.

    Scale shape: the corpus is split into independent md5-keyed shards;
    each shard is ONE ordered running sum (window, int64-exact). Packing
    is inherently sequential *within* a stream, so shards are the
    parallelism unit — at 100 TB you raise _PACK_SHARDS to O(cluster
    cores) and every shard packs independently with no cross-shard
    coordination, which is how production packers scale. One shuffle
    (hash by shard), one sort per shard, no Python.
    """
    doc = load(spark, sf_dir, "documents")
    toks = doc.select(
        "doc_id",
        F.size(F.expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).alias("n_tokens"),
    )
    return pack_placement(toks)


def pack_placement(
    toks: DataFrame, carry: tuple[str, ...] = (), ordered: bool = True
) -> DataFrame:
    """The packing placement kernel over an already-tokenized
    (doc_id, n_tokens) frame — ONE definition shared by
    q_sequence_packing (regex token proxy), q_bpe_pack (real trained
    BPE token counts, r14) and pack_shards (r15), so a
    budget/shard/boundary change cannot drift the packers. Shards by
    md5(doc_id), running-sums within each shard (int64-exact window),
    derives chunk spans against _PACK_BUDGET. Zero-token docs drop
    (nothing to place).

    `carry` names extra input columns to ride through the window —
    pack_shards carries each doc's token STRING so materialization
    needs no second tokenizer pass or self-join (the r15 plan audit:
    the join form scanned and tokenized the corpus twice).
    `ordered=False` skips the presentation-order global sort for
    composing operators that re-aggregate anyway (it is a pure
    rangepartitioning exchange the next shuffle would discard)."""
    from pyspark.sql import Window

    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("long")
        % _PACK_SHARDS
    )
    toks = toks.select("doc_id", shard.alias("shard"), "n_tokens", *carry).where(
        F.col("n_tokens") > 0
    )
    w = Window.partitionBy("shard").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = F.sum("n_tokens").over(w)
    out = (
        toks.withColumn("tok_end", cum)
        .select(
            "doc_id",
            "shard",
            "n_tokens",
            (F.col("tok_end") - F.col("n_tokens")).alias("tok_start"),
            F.expr(f"(tok_end - n_tokens) DIV {_PACK_BUDGET}").alias("chunk_start"),
            F.expr(f"(tok_end - 1) DIV {_PACK_BUDGET}").alias("chunk_end"),
            *carry,
        )
        .withColumn("n_chunks", F.col("chunk_end") - F.col("chunk_start") + 1)
    )
    return out.orderBy("doc_id") if ordered else out


# ONE definition of the oracle-side placement block (the SQL twin of
# pack_placement, r14 review: it was about to be copy-pasted into the
# bpe_pack oracle — a budget/boundary edit applied to one string but
# not the other would drift the two oracles exactly the way the Python
# refactor exists to prevent). Expects a CTE named `toks` with
# (doc_id, shard, n_tokens).
_SQL_PACK_PLACEMENT = f"""placed AS (
  SELECT doc_id, shard, n_tokens,
         -- CAST: DuckDB sum(BIGINT) is HUGEINT, which pandas reads as float64
         -- and the driver's value hash then differs from Spark's int64
         CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tok_end
  FROM toks WHERE n_tokens > 0
)
SELECT doc_id, shard, n_tokens,
       tok_end - n_tokens AS tok_start,
       (tok_end - n_tokens) // {_PACK_BUDGET} AS chunk_start,
       (tok_end - 1) // {_PACK_BUDGET} AS chunk_end,
       (tok_end - 1) // {_PACK_BUDGET} - (tok_end - n_tokens) // {_PACK_BUDGET} + 1 AS n_chunks
FROM placed
ORDER BY doc_id
"""


SQL_SEQUENCE_PACKING = f"""
WITH toks AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % {_PACK_SHARDS} AS shard,
         len(regexp_extract_all(text, '[a-z0-9]+')) AS n_tokens
  FROM documents
),
{_SQL_PACK_PLACEMENT}"""


def q_bpe_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tokenizer -> sequences, end to end (r14, VERDICT #3): the packing
    placement computed from the corpus's REAL trained-BPE token counts
    (text.bpe_encode — train the merges, re-tokenize, count) instead of
    q_sequence_packing's regex proxy. This is the driver-hashed
    composition a training-data pipeline actually runs: BPE tokenizer
    -> fixed-budget sequence packing, int64-exact accounting throughout.

    Scale shape: the tokenizer leg is one corpus scan + a broadcast
    vocab join (bpe_encode's shape); the packing leg is pack_placement
    — one hash shuffle to _PACK_SHARDS independent streams, one ordered
    running sum per shard. Nothing here is new machinery; the grading
    is that the two stages COMPOSE bit-exactly cross-engine."""
    from .text import bpe_encode

    doc = load(spark, sf_dir, "documents")
    toks = bpe_encode(doc).select("doc_id", F.col("bpe_tokens").alias("n_tokens"))
    return pack_placement(toks)


def _sql_bpe_pack() -> str:
    from .text import _BPE_ASCII_SQL, _BPE_MAX_WORD, _BPE_MERGES, _sql_bpe_ctes

    return f"""
WITH {_sql_bpe_ctes()},
ntok AS (
  SELECT word, len(string_split(trim(seq), '  ')) AS n_tok FROM w{_BPE_MERGES}
),
dw AS (
  SELECT doc_id, w
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE length(w) <= {_BPE_MAX_WORD} AND regexp_matches(w, '{_BPE_ASCII_SQL}')
),
toks AS (
  SELECT d.doc_id,
         ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % {_PACK_SHARDS} AS shard,
         CAST(sum(coalesce(n.n_tok, length(d.w) + 1)) AS BIGINT) AS n_tokens
  FROM dw d LEFT JOIN ntok n ON d.w = n.word
  GROUP BY 1
),
{_SQL_PACK_PLACEMENT}"""


SQL_BPE_PACK = _sql_bpe_pack()


def q_packed_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CHUNK MANIFEST — the other side of the packing placement
    (r14): one row per (shard, chunk) training sequence, with the token
    count actually landing in the chunk, the number of documents
    spanning it, and the first/last doc ids — exactly the work order a
    downstream batch writer consumes to materialize packed sequences
    (read docs first_doc..last_doc, slice at the chunk boundary).
    Every chunk except each shard's last must hold exactly _PACK_BUDGET
    tokens — an int64 accounting identity the oracle re-derives
    independently, so the gate hash proves the placement and the
    manifest agree on every boundary.

    Scale shape: placements explode to one row per (doc, chunk) spanned
    — bounded by n_docs + total_tokens/_PACK_BUDGET rows (a doc spans
    ~n_tokens/_PACK_BUDGET chunks) — then one partial-agg shuffle keyed
    (shard, chunk). The tokens-in-chunk arithmetic is pure column math
    (JVM-side sequence() explode, no Python)."""
    placed = q_sequence_packing(spark, sf_dir)
    B = _PACK_BUDGET
    spans = placed.select(
        "doc_id",
        "shard",
        "tok_start",
        (F.col("tok_start") + F.col("n_tokens")).alias("tok_end"),
        F.explode(F.expr("sequence(chunk_start, chunk_end)")).alias("chunk"),
    )
    in_chunk = F.least(F.col("tok_end"), (F.col("chunk") + 1) * B) - F.greatest(
        F.col("tok_start"), F.col("chunk") * B
    )
    return (
        spans.select("shard", "chunk", "doc_id", in_chunk.alias("toks"))
        .groupBy("shard", "chunk")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("toks").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("shard", "chunk")
    )


SQL_PACKED_CHUNKS = f"""
WITH toks AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % {_PACK_SHARDS} AS shard,
         len(regexp_extract_all(text, '[a-z0-9]+')) AS n_tokens
  FROM documents
),
placed AS (
  SELECT doc_id, shard, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tok_end
  FROM toks WHERE n_tokens > 0
),
spans AS (
  SELECT doc_id, shard, tok_end - n_tokens AS tok_start, tok_end, c.chunk
  FROM placed,
       LATERAL (SELECT unnest(range((tok_end - n_tokens) // {_PACK_BUDGET},
                                    (tok_end - 1) // {_PACK_BUDGET} + 1)) AS chunk) c
)
SELECT shard, chunk,
       count(*) AS n_docs,
       CAST(sum(least(tok_end, (chunk + 1) * {_PACK_BUDGET})
                - greatest(tok_start, chunk * {_PACK_BUDGET})) AS BIGINT) AS n_tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM spans
GROUP BY shard, chunk
ORDER BY shard, chunk
"""


def pack_shards(doc: DataFrame) -> DataFrame:
    """MATERIALIZE the packed training sequences (r15, VERDICT #2 —
    the other half of the packing story): q_packed_chunks emits the
    work order (which docs, which boundaries); this operator executes
    it — slice every document's REAL trained-BPE token sequence
    (text.bpe_tokenize) at the manifest's chunk boundaries and emit one
    row per (shard, chunk) carrying the concatenated token string a
    trainer actually consumes. Every chunk except each shard's last
    holds exactly _PACK_BUDGET tokens BY CONTENT (the string really
    contains that many tokens), not just by count — the accounting
    identity of the manifest, proven on the bytes.

    Scale shape: one tokenizer pass (bpe_tokenize — one corpus scan +
    broadcast vocab join), the pack_placement window (one hash shuffle
    to _PACK_SHARDS independent streams, one ordered running sum per
    shard), then one explode to (doc, chunk) spans — bounded by
    n_docs + total_tokens/_PACK_BUDGET rows — and one partial-agg
    shuffle keyed (shard, chunk). Slicing is JVM-side array math
    (split/slice/array_join); doc order inside a chunk is restored by
    sorting on tok_start (strictly increasing within a shard), so the
    output is independent of partitioning. No Python anywhere.

    Reference analog: the archive writer discipline of
    /root/reference/MyDatacollector/lib/MyARCHIVE.py:360-456 (buffered
    record slabs flushed at fixed boundaries) applied to training
    shards instead of sensor archives."""
    from .text import bpe_tokenize

    B = _PACK_BUDGET
    tok = bpe_tokenize(doc, ordered=False)
    placed = pack_placement(tok, carry=("tokens",), ordered=False)
    spans = placed.select(
        "doc_id",
        "shard",
        "tok_start",
        "n_tokens",
        "tokens",
        F.explode(F.expr("sequence(chunk_start, chunk_end)")).alias("chunk"),
    )
    # the doc-local token window [lo, hi) that lands in this chunk
    lo = F.greatest(F.lit(0), F.col("chunk") * B - F.col("tok_start"))
    hi = F.least(F.col("n_tokens"), (F.col("chunk") + 1) * B - F.col("tok_start"))
    pieces = spans.select(
        "shard",
        "chunk",
        "tok_start",
        (hi - lo).alias("n_toks"),
        F.array_join(
            F.slice(F.split("tokens", " "), (lo + 1).cast("int"), (hi - lo).cast("int")),
            " ",
        ).alias("piece"),
    )
    return (
        pieces.groupBy("shard", "chunk")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("tok_start", "piece"))),
                    lambda s: s["piece"],
                ),
                " ",
            ).alias("tokens"),
        )
        .orderBy("shard", "chunk")
    )


def q_packed_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded entry: the materialized packed sequences — one row per
    (shard, chunk) with the chunk's ACTUAL concatenated BPE token
    string, sliced from each document's bpe_tokenize sequence at the
    packed_chunks boundaries. The DuckDB oracle re-derives the whole
    path independently (training CTEs -> per-doc token strings ->
    placement window -> list_slice at the same integer boundaries), so
    the driver hash proves byte-level agreement between the manifest
    and the materialization — the tokenizer -> packing -> bytes-a-
    trainer-reads story end to end."""
    return pack_shards(load(spark, sf_dir, "documents"))


def write_packed_shards(df: DataFrame, path: str) -> None:
    """Write the materialized chunks as the on-disk training-shard
    layout: hive-partitioned by shard, chunks sorted within each file
    so a trainer streams them in order. One file per shard (the
    repartition keys the writer tasks by shard), so the layout's file
    count is _PACK_SHARDS, not O(upstream tasks) — the small-files
    posture of write_srp_partitioned applied to training data. The
    sort leads with the partition column: unless the input order
    already starts with `shard`, the partitioned writer adds its own
    sort by `shard` alone, and the optimizer drops a chunk-only sort
    beneath it."""
    (
        df.repartition(_PACK_SHARDS, "shard")
        .sortWithinPartitions("shard", "chunk")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )


def _sql_packed_shards() -> str:
    from .text import (
        _BPE_ASCII_SQL,
        _BPE_DOC_WORDS,
        _BPE_MAX_WORD,
        _BPE_MERGES,
        _sql_bpe_ctes,
    )

    B = _PACK_BUDGET
    return f"""
WITH {_sql_bpe_ctes()},
wtok AS (
  SELECT word, replace(trim(seq), '  ', ' ') AS toks,
         len(string_split(trim(seq), '  ')) AS n_tok
  FROM w{_BPE_MERGES}
),
dw AS (
  SELECT doc_id, i AS pos, t[i] AS w
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       range(1, {_BPE_DOC_WORDS + 1}) r(i)
  WHERE i <= len(t) AND length(t[i]) <= {_BPE_MAX_WORD}
        AND regexp_matches(t[i], '{_BPE_ASCII_SQL}')
),
doctok AS (
  SELECT d.doc_id,
         CAST(sum(coalesce(n.n_tok, length(d.w) + 1)) AS BIGINT) AS n_tokens,
         string_agg(
           coalesce(n.toks, regexp_replace(d.w, '(.)', '\\1 ', 'g') || '</w>'),
           ' ' ORDER BY d.pos) AS tokens
  FROM dw d LEFT JOIN wtok n ON d.w = n.word
  GROUP BY 1
),
toks AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % {_PACK_SHARDS} AS shard,
         n_tokens
  FROM doctok
),
placed AS (
  SELECT doc_id, shard, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tok_end
  FROM toks WHERE n_tokens > 0
),
spans AS (
  SELECT doc_id, shard, tok_end - n_tokens AS tok_start, tok_end, c.chunk
  FROM placed,
       LATERAL (SELECT unnest(range((tok_end - n_tokens) // {B},
                                    (tok_end - 1) // {B} + 1)) AS chunk) c
),
pieces AS (
  SELECT s.shard, s.chunk, s.tok_start,
         least(s.tok_end, (s.chunk + 1) * {B})
           - greatest(s.tok_start, s.chunk * {B}) AS n_toks,
         array_to_string(
           list_slice(string_split(d.tokens, ' '),
                      greatest(s.tok_start, s.chunk * {B}) - s.tok_start + 1,
                      least(s.tok_end, (s.chunk + 1) * {B}) - s.tok_start),
           ' ') AS piece
  FROM spans s JOIN doctok d USING (doc_id)
)
SELECT shard, chunk,
       count(*) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       string_agg(piece, ' ' ORDER BY tok_start) AS tokens
FROM pieces
GROUP BY 1, 2
ORDER BY 1, 2
"""


SQL_PACKED_SHARDS = _sql_packed_shards()


def q_packed_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last step of the trainer-input story (r15): map the packed
    chunks' token STRINGS to dense integer token IDS — what a model's
    embedding table actually indexes. The id table is derived
    deterministically from the trained vocabulary itself (distinct
    tokens across the packed corpus, dense-ranked in ASCII order — the
    vocab.json analog, identical in both engines), broadcast against
    the exploded (chunk, pos, token) stream, and re-assembled in
    position order as the per-chunk id sequence.

    Scale shape: pack_shards' single corpus scan, then ONE explode to
    the bounded (chunk, pos) stream (≤ _PACK_BUDGET rows per chunk), a
    broadcast join against the ≤ few-hundred-row id table (bounded by
    the trained symbol inventory: merge products + ASCII chars +
    '</w>'), one (shard, chunk) re-agg. The global row_number over the
    id table is a single-partition sort of a bounded dimension — the
    same fence class as the 1-row totals dimensions."""
    from pyspark.sql import Window

    # the chunk lineage (tokenize -> placement -> chunk agg) is consumed
    # TWICE below — once to derive the distinct-token id table, once as
    # the join stream — and its output is tiny (shards x chunks rows),
    # so persist the chunks instead of running the corpus chain twice
    # (the bm25 one-scan discipline; measured ~1.5x of the suite's
    # packed_ids cost before the persist)
    chunks = tracked_persist(pack_shards(load(spark, sf_dir, "documents")))
    tok = chunks.select(
        "shard",
        "chunk",
        F.posexplode(F.split("tokens", " ")).alias("pos", "token"),
    )
    ids = (
        tok.select("token")
        .distinct()
        .select(
            F.row_number().over(Window.orderBy("token")).alias("token_id"), "token"
        )
    )
    return (
        tok.join(F.broadcast(ids), "token")
        .groupBy("shard", "chunk")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("token_id").alias("n_distinct_ids"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "pos",
                                F.col("token_id").cast("string").alias("tid"),
                            )
                        )
                    ),
                    lambda s: s["tid"],
                ),
                " ",
            ).alias("token_ids"),
        )
        .orderBy("shard", "chunk")
    )


def _sql_packed_ids() -> str:
    body = _sql_packed_shards()
    # reuse the packed-shards derivation verbatim as a CTE, then remap
    # its token strings through the dense ASCII-ranked id table — ONE
    # definition of the chunk lineage, exactly the pack_placement /
    # _SQL_PACK_PLACEMENT sharing discipline
    assert body.lstrip().startswith("WITH ")
    inner = body.lstrip()[len("WITH ") :]
    head, select = inner.rsplit("\nSELECT shard, chunk,", 1)
    return f"""
WITH {head},
chunks AS (
  SELECT shard, chunk,{select.replace("ORDER BY 1, 2", "")}
),
ctok AS (
  SELECT shard, chunk, i AS pos, t[i] AS token
  FROM (SELECT shard, chunk, string_split(tokens, ' ') AS t FROM chunks),
       range(1, {_PACK_BUDGET + 1}) r(i)
  WHERE i <= len(t)
),
ids AS (
  SELECT token, row_number() OVER (ORDER BY token) AS token_id
  FROM (SELECT DISTINCT token FROM ctok)
)
SELECT c.shard, c.chunk,
       count(*) AS n_tokens,
       count(DISTINCT i.token_id) AS n_distinct_ids,
       string_agg(CAST(i.token_id AS VARCHAR), ' ' ORDER BY c.pos) AS token_ids
FROM ctok c JOIN ids i ON c.token = i.token
GROUP BY 1, 2
ORDER BY 1, 2
"""


SQL_PACKED_IDS = _sql_packed_ids()


_STRAT_DEN = 5  # sample 1/5 of every stratum, exact ceil per stratum


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-count stratified sample: ceil(n_s/5) documents from every
    source stratum, chosen by deterministic md5 rank — the
    equal-representation complement to q_temperature_mix (rate-based,
    approximate counts) and q_hash_sample (global split). Guarantees
    every stratum is represented with an exact quota even when a
    threshold sample would round it to zero.

    Scale shape: one shuffle on source + one per-stratum sort for the
    rank window; the quota join is a broadcast of |strata| rows. The
    rank window is the price of exactness — when exact quotas don't
    matter, q_temperature_mix's windowless threshold form is the scale
    path. Quota = (n+4) DIV 5 in integer arithmetic: float ceil(0.2*n)
    is off-by-one at representability boundaries (25*0.2 > 5).
    """
    doc = load(spark, sf_dir, "documents")
    from pyspark.sql import Window

    ranked = doc.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.md5(F.col("doc_id").cast("string")), "doc_id"
            )
        )
        .alias("pick_rank"),
    )
    quota = doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("stratum_n"),
    ).withColumn("quota", F.expr(f"(stratum_n + {_STRAT_DEN - 1}) DIV {_STRAT_DEN}"))
    return (
        ranked.join(F.broadcast(quota), "source")
        .where(F.col("pick_rank") <= F.col("quota"))
        .select("doc_id", "source", "stratum_n", "quota", "pick_rank", "n_chars")
        .orderBy("doc_id")
    )


SQL_STRATIFIED_SAMPLE = f"""
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS pick_rank
  FROM documents
),
quota AS (
  SELECT source, count(*) AS stratum_n,
         (count(*) + {_STRAT_DEN - 1}) // {_STRAT_DEN} AS quota
  FROM documents GROUP BY source
)
SELECT r.doc_id, r.source, q.stratum_n, q.quota, r.pick_rank, r.n_chars
FROM ranked r JOIN quota q ON r.source = q.source
WHERE r.pick_rank <= q.quota
ORDER BY r.doc_id
"""


_MIN_TOKENS = 30  # corpus_build quality floor
_MARKER_RE = (
    r"\b(the|and|of|to|a|der|die|das|und|ist|le|la|les|et|est|el|los|las|y|es)\b"
)


def q_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus build verdict: every document gets exactly one
    disposition — dropped by a quality gate (too short / no recognizable
    language marker) or kept and assigned a train/val/test split — and
    the output is the per-disposition accounting (doc counts, total and
    mean token budget) a pipeline operator reviews before launching a
    training run.

    Scale shape: the whole decision is ONE scan — every signal (token
    count, language marker, split bucket) is a JVM column expression on
    the same row, chained into a single verdict, then a 5-row partial
    agg. No joins, no windows, no second pass over the corpus: at
    100 TB this runs as a pure map stage plus a tiny reduce, which is
    the only affordable shape for a gate every document must pass
    through. Thresholds chosen to be live on this corpus (both drop
    gates fire); the repetition gate (q_repetition_stats) stays a
    separate verify-tier query because it needs an explode.
    """
    doc = load(spark, sf_dir, "documents")
    n_tokens = F.size(F.expr("regexp_extract_all(text, '[a-z0-9]+', 0)"))
    # double the backslashes: Spark SQL string literals eat one level
    has_marker = F.expr(
        "text rlike '" + _MARKER_RE.replace("\\", "\\\\") + "'"
    )
    b = _bucket(F.col("doc_id"))
    verdict = (
        F.when(n_tokens < _MIN_TOKENS, "drop:too_short")
        .when(~has_marker, "drop:lang_unknown")
        .when(b < _TRAIN_PCT, "keep:train")
        .when(b < _VAL_PCT, "keep:val")
        .otherwise("keep:test")
    )
    return (
        doc.select(verdict.alias("verdict"), n_tokens.alias("n_tokens"))
        .groupBy("verdict")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            exact_avg(F.col("n_tokens"), 4).alias("avg_tokens"),
        )
        .orderBy("verdict")
    )


SQL_CORPUS_BUILD = f"""
WITH sig AS (
  SELECT len(regexp_extract_all(text, '[a-z0-9]+')) AS n_tokens,
         regexp_matches(text, '{_MARKER_RE}') AS has_marker,
         {SQL_DOC_BUCKET} AS bucket
  FROM documents
)
SELECT CASE
         WHEN n_tokens < {_MIN_TOKENS} THEN 'drop:too_short'
         WHEN NOT has_marker THEN 'drop:lang_unknown'
         WHEN bucket < {_TRAIN_PCT} THEN 'keep:train'
         WHEN bucket < {_VAL_PCT} THEN 'keep:val'
         ELSE 'keep:test'
       END AS verdict,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       {sql_avg('n_tokens', 4)} AS avg_tokens
FROM sig
GROUP BY 1
ORDER BY 1
"""


_CHUNK = 64  # tokens per retrieval chunk
_STRIDE = 48  # chunk stride (overlap = _CHUNK - _STRIDE = 16 tokens)


def q_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window document chunker (the RAG / long-context
    preprocessing step): split every document into 64-token chunks with
    a 48-token stride, emitting each chunk's placement and a content
    fingerprint. A document shorter than one chunk yields exactly one
    chunk; otherwise chunks start at 0, 48, 96, ... until the tail is
    covered.

    Chunk-count arithmetic is pure integer ((n - CHUNK + STRIDE - 1)
    DIV STRIDE + 1) — float ceil() would be off-by-one at
    representability boundaries.

    Scale shape: one explode per document (~1.33x row expansion at this
    overlap), all JVM expressions, no shuffle before the presentation
    sort. At 100 TB this is a pure map stage writing chunk shards.
    """
    doc = load(spark, sf_dir, "documents")
    toks = doc.select(
        "doc_id", F.expr("regexp_extract_all(text, '[a-z0-9]+', 0)").alias("w")
    ).where(F.size("w") >= 1)
    n = F.size("w")
    n_chunks = F.when(n <= _CHUNK, F.lit(1)).otherwise(
        F.expr(f"(size(w) - {_CHUNK} + {_STRIDE - 1}) DIV {_STRIDE} + 1")
    )
    chunks = toks.select(
        "doc_id", "w", n.alias("n_tokens"), F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx")
    )
    tok_start = F.col("chunk_idx") * _STRIDE
    tok_len = F.least(F.lit(_CHUNK), F.col("n_tokens") - tok_start)
    return (
        chunks.select(
            "doc_id",
            "chunk_idx",
            tok_start.alias("tok_start"),
            tok_len.alias("tok_len"),
            F.substring(
                F.md5(F.concat_ws(" ", F.slice(F.col("w"), tok_start + 1, tok_len))), 1, 16
            ).alias("chunk_fp"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


SQL_CHUNK_OVERLAP = f"""
WITH toks AS (
  SELECT doc_id, w, len(w) AS n_tokens,
         CASE WHEN len(w) <= {_CHUNK} THEN 1
              ELSE (len(w) - {_CHUNK} + {_STRIDE - 1}) // {_STRIDE} + 1 END AS n_chunks
  FROM (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS w FROM documents)
  WHERE len(w) >= 1
),
chunks AS (
  SELECT doc_id, w, n_tokens, unnest(range(n_chunks)) AS chunk_idx
  FROM toks
)
SELECT doc_id, chunk_idx,
       chunk_idx * {_STRIDE} AS tok_start,
       least({_CHUNK}, n_tokens - chunk_idx * {_STRIDE}) AS tok_len,
       substr(md5(array_to_string(
         w[chunk_idx * {_STRIDE} + 1 : chunk_idx * {_STRIDE} + least({_CHUNK}, n_tokens - chunk_idx * {_STRIDE})],
         ' ')), 1, 16) AS chunk_fp
FROM chunks
ORDER BY doc_id, chunk_idx
"""


# URL-filter fixture: a deterministic doc_id-keyed domain assignment (the
# pii_scrub pattern — the synthetic corpus has no URL column, so the
# fixture is part of the query text, identical in both engines, and the
# filtering machinery is exercised on known-true positives).
_DOMAINS = ("example.com", "news.site", "spam.biz", "blog.net", "ads.click", "wiki.org")
_BLOCKLIST = ("spam.biz", "badsource.net")
_BLOCK_SUFFIX = ".click"


def q_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style URL/domain filtering: derive each document's source URL,
    extract the domain, and gate it against an exact-domain blocklist
    plus a TLD-suffix rule — the first filter every web-scrape corpus
    passes through. Emits the per-document verdict so downstream splits
    can anti-join the blocked set.

    Scale shape: pure per-row expressions plus one broadcast-sized
    blocklist (IN-list folded into the plan); linear scan, no shuffle
    before the presentation sort.
    """
    doc = load(spark, sf_dir, "documents")
    domain = F.element_at(
        F.array(*[F.lit(d) for d in _DOMAINS]), (F.col("doc_id") % len(_DOMAINS) + 1).cast("int")
    )
    url = F.concat(F.lit("https://"), domain, F.lit("/p/"), F.col("doc_id").cast("string"))
    verdict = (
        F.when(domain.isin(*_BLOCKLIST), "blocked:domain")
        .when(domain.endswith(_BLOCK_SUFFIX), "blocked:tld_rule")
        .otherwise("kept")
    )
    return (
        doc.select(
            "doc_id",
            url.alias("url"),
            domain.alias("domain"),
            verdict.alias("verdict"),
        )
        .orderBy("doc_id")
    )


def _sql_url_filter() -> str:
    arr = ", ".join(f"'{d}'" for d in _DOMAINS)
    blocked = ", ".join(f"'{d}'" for d in _BLOCKLIST)
    return f"""
WITH tagged AS (
  SELECT doc_id, ([{arr}])[CAST(doc_id % {len(_DOMAINS)} AS INT) + 1] AS domain
  FROM documents
)
SELECT doc_id,
       'https://' || domain || '/p/' || CAST(doc_id AS VARCHAR) AS url,
       domain,
       CASE WHEN domain IN ({blocked}) THEN 'blocked:domain'
            WHEN domain LIKE '%{_BLOCK_SUFFIX}' THEN 'blocked:tld_rule'
            ELSE 'kept' END AS verdict
FROM tagged
ORDER BY doc_id
"""


SQL_URL_FILTER = _sql_url_filter()


_W_CAP = 400  # weight = min(n_chars, cap): longer docs sample more, bounded
_W_RATE_DEN = 5  # base rate 1/5 at full weight


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted Bernoulli sampling: each document is kept
    with probability (w / W_CAP) * (1 / RATE_DEN) where w = capped doc
    length — the quality-weighted downsampling step of a corpus mix
    (longer/better docs oversampled, junk undersampled), reproducible
    on any cluster and under re-runs because the coin is an md5 hash,
    not an RNG.

    The keep decision is EXACT integer arithmetic: u32 * CAP * DEN <
    2^32 * w cross-multiplied in int64 — no float ever enters the
    decision, so there is no rounding edge to diverge on (the
    float-free analog of the temperature_mix threshold).

    Scale shape: one scan, one partial-agg shuffle on (source) for the
    accounting. The kept set itself needs no shuffle at all.
    """
    doc = load(spark, sf_dir, "documents")
    w = F.least(F.col("n_chars"), F.lit(_W_CAP))
    u32 = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("long")
    keep = (u32 * _W_CAP * _W_RATE_DEN) < (F.lit(4294967296) * w)
    return (
        doc.select("source", w.alias("w"), keep.cast("int").alias("kept"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("w").alias("total_w"),
            F.sum("kept").alias("n_kept"),
        )
        .select(
            "source",
            "n_docs",
            "total_w",
            "n_kept",
            F.round(F.col("n_kept").cast("double") / F.col("n_docs"), 6).alias("kept_frac"),
            # expected kept count = sum(w) / (CAP * DEN): exact rational,
            # one IEEE division — identical in both engines
            F.round(
                F.col("total_w").cast("double") / F.lit(float(_W_CAP * _W_RATE_DEN)), 2
            ).alias("expected_kept"),
        )
        .orderBy("source")
    )


SQL_WEIGHTED_SAMPLE = f"""
WITH tagged AS (
  SELECT source,
         least(n_chars, {_W_CAP}) AS w,
         CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   * {_W_CAP} * {_W_RATE_DEN}
                 < 4294967296 * least(n_chars, {_W_CAP})
              THEN 1 ELSE 0 END AS kept
  FROM documents
)
SELECT source, count(*) AS n_docs,
       -- CAST: sum(BIGINT) is HUGEINT -> float64 in pandas; Spark emits int64
       CAST(sum(w) AS BIGINT) AS total_w,
       CAST(sum(kept) AS BIGINT) AS n_kept,
       round(CAST(sum(kept) AS DOUBLE) / count(*), 6) AS kept_frac,
       round(CAST(sum(w) AS DOUBLE) / {float(_W_CAP * _W_RATE_DEN)}, 2) AS expected_kept
FROM tagged
GROUP BY source
ORDER BY source
"""


QUERIES: dict[str, tuple] = {
    "bpe_pack": (q_bpe_pack, SQL_BPE_PACK),
    "packed_chunks": (q_packed_chunks, SQL_PACKED_CHUNKS),
    "packed_shards": (q_packed_shards, SQL_PACKED_SHARDS),
    "packed_ids": (q_packed_ids, SQL_PACKED_IDS),
    "chunk_overlap": (q_chunk_overlap, SQL_CHUNK_OVERLAP),
    "weighted_sample": (q_weighted_sample, SQL_WEIGHTED_SAMPLE),
    "url_filter": (q_url_filter, SQL_URL_FILTER),
    "hash_sample": (q_hash_sample, SQL_HASH_SAMPLE),
    "corpus_build": (q_corpus_build, SQL_CORPUS_BUILD),
    "temperature_mix": (q_temperature_mix, SQL_TEMPERATURE_MIX),
    "sequence_packing": (q_sequence_packing, SQL_SEQUENCE_PACKING),
    "stratified_sample": (q_stratified_sample, SQL_STRATIFIED_SAMPLE),
    "approx_distinct_users": (q_approx_distinct_users, SQL_APPROX_DISTINCT_USERS),
}
