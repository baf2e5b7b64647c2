"""Text-analysis operators over the `documents` table — the LLM-training-
pipeline surface (BASELINE.json north star): token counting, language ID,
quality scoring, document fingerprinting.

All operators are pure JVM column expressions (regexp/hash built-ins) —
no Python in the hot path, so they scale linearly with executors over a
100 TB corpus. Regex dialect is kept to the intersection of Java regex
and RE2 so the DuckDB oracles match byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import tracked_persist
from ..io import load
from .util import ieee_round

_WORD_RE = "[a-z0-9]+"

# Explicit whitespace class, identical in BOTH regex engines: Java's \s
# includes \x0B (vertical tab) where RE2's (DuckDB) does not, so a doc
# containing \x0B would tokenize differently engine-to-engine. The
# escapes are spelled out so each REGEX compiler (not the SQL string
# parser) interprets them; _NWS_SPARK doubles the backslashes to survive
# Spark's SQL string literal parsing.
_NWS_SPARK = r"[^ \\t\\n\\r\\f\\x0B]"
_NWS_SQL = r"[^ \t\n\r\f\x0B]"
_WS_SQL = r"[ \t\n\r\f\x0B]"

# language marker words for the n-gram/stopword heuristic language ID
_LANG_MARKERS: dict[str, str] = {
    "en": r"\b(the|and|of|to|a)\b",
    "de": r"\b(der|die|das|und|ist)\b",
    "fr": r"\b(le|la|les|et|est)\b",
    "es": r"\b(el|los|las|y|es)\b",
}
_LANG_ORDER = ["en", "de", "fr", "es"]  # deterministic tie-break priority


def _ntokens(c: Column) -> Column:
    return F.size(F.expr(f"regexp_extract_all(text, '{_WORD_RE}', 0)"))


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts, word lengths, alpha ratio — the
    quality-feature base (whitespace + regex tokenizer)."""
    doc = load(spark, sf_dir, "documents")
    n_tokens = _ntokens(F.col("text"))
    alpha_chars = F.length(F.regexp_replace("text", "[^a-z0-9]", ""))
    # nullif guards: an empty doc has length 0, a whitespace-only doc has
    # 0 tokens — ANSI-mode division would throw DIVIDE_BY_ZERO where the
    # DuckDB oracle's native x/0 yields NULL; NULL ratios match it
    return (
        doc.select(
            "doc_id",
            "source",
            F.length("text").alias("len_chars"),
            n_tokens.alias("n_tokens"),
            ieee_round(alpha_chars / F.nullif(n_tokens, F.lit(0)), 6).alias("avg_word_len"),
            ieee_round(alpha_chars / F.nullif(F.length("text"), F.lit(0)), 6).alias("alpha_ratio"),
        )
        .orderBy("doc_id")
    )


SQL_TEXT_STATS = f"""
SELECT doc_id, source,
       length(text) AS len_chars,
       len(regexp_extract_all(text, '{_WORD_RE}')) AS n_tokens,
       round(length(regexp_replace(text, '[^a-z0-9]', '', 'g'))
             / len(regexp_extract_all(text, '{_WORD_RE}')), 6) AS avg_word_len,
       round(length(regexp_replace(text, '[^a-z0-9]', '', 'g'))
             / length(text), 6) AS alpha_ratio
FROM documents
ORDER BY doc_id
"""


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting per source: alpha runs, digit runs and
    punctuation chars each count as one token (the pre-tokenizer split
    every real BPE applies first)."""
    doc = load(spark, sf_dir, "documents")
    bpe = F.size(F.expr(r"regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\r\\f\\x0B]', 0)"))
    ws = F.size(F.expr(f"regexp_extract_all(text, '{_NWS_SPARK}+', 0)"))
    return (
        doc.select("source", bpe.alias("bpe"), ws.alias("ws"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("bpe").alias("total_bpe_tokens"),
            F.sum("ws").alias("total_ws_tokens"),
            ieee_round(F.sum("bpe") / F.count(F.lit(1)), 6).alias("avg_bpe_tokens"),
        )
        .orderBy("source")
    )


SQL_TOKEN_COUNT = rf"""
WITH per_doc AS (
  SELECT source,
         len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 \t\n\r\f\x0B]')) AS bpe,
         len(regexp_extract_all(text, '{_NWS_SQL}+')) AS ws
  FROM documents
)
SELECT source, count(*) AS n_docs,
       -- CAST: sum(BIGINT) is HUGEINT -> float64 in pandas; Spark emits int64
       CAST(sum(bpe) AS BIGINT) AS total_bpe_tokens,
       CAST(sum(ws) AS BIGINT) AS total_ws_tokens,
       round(sum(bpe) / count(*), 6) AS avg_bpe_tokens
FROM per_doc
GROUP BY source
ORDER BY source
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID: count per-language marker hits, argmax
    with fixed priority, 'und' (undetermined) when no marker fires.
    Output = confusion matrix vs the labeled lang column."""
    doc = load(spark, sf_dir, "documents")
    counts = {
        # Spark SQL string literals eat backslashes (DuckDB's don't): double them
        lang: F.size(F.expr(f"regexp_extract_all(text, '{pat.replace(chr(92), chr(92) * 2)}', 0)"))
        for lang, pat in _LANG_MARKERS.items()
    }
    # argmax with fixed priority tie-break, written as a fold from lowest
    # priority upward so earlier languages win ties
    pred = F.lit("und")
    pred_n = F.lit(0)
    for lang in reversed(_LANG_ORDER):
        c = counts[lang]
        pred = F.when(c >= F.greatest(pred_n, F.lit(1)), F.lit(lang)).otherwise(pred)
        pred_n = F.greatest(pred_n, c)
    return (
        doc.withColumn("predicted", pred)
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "predicted")
    )


def _sql_lang_counts() -> dict[str, str]:
    return {lang: f"len(regexp_extract_all(text, '{pat}'))" for lang, pat in _LANG_MARKERS.items()}


def _sql_lang_pred() -> str:
    cs = _sql_lang_counts()
    expr = "'und'"
    prev_max = "0"
    for lang in reversed(_LANG_ORDER):
        c = cs[lang]
        expr = f"CASE WHEN {c} >= greatest({prev_max}, 1) THEN '{lang}' ELSE {expr} END"
        prev_max = f"greatest({prev_max}, {c})"
    return expr


SQL_LANG_ID = f"""
SELECT lang, {_sql_lang_pred()} AS predicted, count(*) AS n
FROM documents
GROUP BY lang, predicted
ORDER BY lang, predicted
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: length score + alpha ratio + token-count
    score, weighted; plus a decile bucket for corpus filtering."""
    doc = load(spark, sf_dir, "documents")
    n_tokens = _ntokens(F.col("text"))
    # nullif: an empty doc would hit ANSI DIVIDE_BY_ZERO; NULL quality
    # (and NULL decile) matches the oracle's native x/0 -> NULL
    alpha_ratio = F.length(F.regexp_replace("text", "[^a-z0-9]", "")) / F.nullif(
        F.length("text"), F.lit(0)
    )
    len_score = F.least(F.length("text") / 500.0, F.lit(1.0))
    tok_score = F.least(n_tokens / 100.0, F.lit(1.0))
    score = ieee_round(F.lit(0.3) * len_score + F.lit(0.4) * alpha_ratio + F.lit(0.3) * tok_score, 6)
    return (
        doc.select("doc_id", score.alias("quality"), F.floor(score * 10).cast("long").alias("decile"))
        .orderBy("doc_id")
    )


SQL_QUALITY_SCORE = f"""
WITH scored AS (
  SELECT doc_id,
         (floor((0.3 * least(length(text) / 500.0, 1.0) + 0.4 * (length(regexp_replace(text, '[^a-z0-9]', '', 'g')) / length(text)) + 0.3 * least(len(regexp_extract_all(text, '{_WORD_RE}')) / 100.0, 1.0)) * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE)) AS quality
  FROM documents
)
SELECT doc_id, quality, CAST(floor(quality * 10) AS BIGINT) AS decile
FROM scored
ORDER BY doc_id
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of the whitespace-normalized text —
    the exact-dedup key (content-defined hashing) plus per-fingerprint
    duplicate counts."""
    doc = load(spark, sf_dir, "documents")
    # explicit whitespace class: Java \s includes \x0B, RE2 (the
    # oracle) does not — a vertical-tab doc would hash differently
    norm = F.trim(F.regexp_replace(F.lower("text"), r"[ \t\n\r\f\x0B]+", " "))
    fp = F.md5(norm)
    from pyspark.sql import Window

    w = Window.partitionBy("fingerprint")
    return (
        doc.withColumn("fingerprint", fp)
        .withColumn("dup_count", F.count(F.lit(1)).over(w))
        .select("doc_id", "fingerprint", "dup_count")
        .orderBy("doc_id")
    )


SQL_DOC_FINGERPRINT = r"""
WITH fp AS (
  SELECT doc_id, md5(trim(regexp_replace(lower(text), '[ \t\n\r\f\x0B]+', ' ', 'g'))) AS fingerprint
  FROM documents
)
SELECT doc_id, fingerprint,
       count(*) OVER (PARTITION BY fingerprint) AS dup_count
FROM fp
ORDER BY doc_id
"""


_TFIDF_TOP_K = 3


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the classic salient-term
    extraction for corpus curation. tf = term count in doc; idf =
    ln(N/df). Rank on the ROUNDED score (6 dp) with a term tie-break so
    ordering is engine- and partitioning-independent.

    Scale: two shuffles (doc-term counts, df per term); the df side is
    tiny after aggregation and broadcasts into the scoring join. tf
    feeds both the df agg and the scoring join and IS recomputed per
    consumer (no exchange reuse under AQE here — verified in the
    executed plan), yet a persist variant measured ~20% SLOWER at
    sf0.1: caching the wide (doc_id, term, tf) set costs more than the
    second regex+shuffle pass saves. Kept recompute deliberately; the
    r3 +27% bench delta was shared-host noise (re-measured warm at the
    r2 level). The corpus size N is a 1-row aggregate riding a broadcast
    crossJoin (the bm25 broadcast-totals pattern) — fully lazy, no
    driver-side count, so the query composes into larger plans and
    streaming scoring without a hidden eager job."""
    doc = load(spark, sf_dir, "documents")
    totals = doc.agg(F.count(F.lit(1)).alias("nd"))
    words = F.explode(F.expr(f"regexp_extract_all(text, '{_WORD_RE}', 0)")).alias("term")
    tf = doc.select("doc_id", words).groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "tfidf",
            ieee_round(F.col("tf") * F.log(F.col("nd").cast("double") / F.col("df")), 6),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _TFIDF_TOP_K)
        .select("doc_id", "rank", "term", "tfidf")
        .orderBy("doc_id", "rank")
    )


SQL_TFIDF_TOP_TERMS = f"""
WITH tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(regexp_extract_all(text, '{_WORD_RE}')) AS term FROM documents)
  GROUP BY 1, 2
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.term,
         (floor((tf.tf * ln((SELECT count(*) FROM documents)::DOUBLE / df.df)) * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE)) AS tfidf
  FROM tf JOIN df ON tf.term = df.term
)
SELECT doc_id, rank, term, tfidf
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
)
WHERE rank <= {_TFIDF_TOP_K}
ORDER BY doc_id, rank
"""


_REP_BIGRAM_MAX = 0.18  # Gopher-style repetition gate: top-2-gram fraction


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-level repetition signals per document — the Gopher-rules
    family adapted to an unpunctuated corpus (line/paragraph dup fractions
    are vacuous here, so the word-level members carry the signal):
    type-token ratio, top-unigram fraction, top-bigram fraction, and the
    resulting repetitive flag used to drop degenerate documents from a
    training mix.

    Scale shape: unigrams and bigrams are tagged ('u:'/'b:') and exploded
    in ONE pass, so the whole query is a single explode → one
    (doc_id, gram) count (map-side partial agg) → one doc_id agg. No
    Python, no joins, no windows — linear in corpus size.

    The token array is projected ONCE before the gram expressions: Spark
    does no common-subexpression elimination inside higher-order-function
    lambdas, so inlining regexp_extract_all there re-runs the regex per
    array element (measured 6.4 s → this shape at sf0.1).
    """
    doc = load(spark, sf_dir, "documents")
    toks = doc.select(
        "doc_id", F.expr(f"regexp_extract_all(text, '{_WORD_RE}', 0)").alias("w")
    )
    grams = F.expr(
        """concat(
          transform(w, x -> concat('u:', x)),
          CASE WHEN size(w) >= 2 THEN
            transform(sequence(1, size(w) - 1),
                      i -> concat('b:', element_at(w, i), ' ', element_at(w, i + 1)))
          ELSE array() END)"""
    )
    cnt = (
        toks.select("doc_id", F.explode(grams).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    is_u = F.substring("g", 1, 2) == "u:"
    stat = cnt.groupBy("doc_id").agg(
        F.sum(F.when(is_u, F.col("c")).otherwise(0)).alias("n_tokens"),
        F.count(F.when(is_u, 1)).alias("n_distinct"),
        F.max(F.when(is_u, F.col("c"))).alias("top_u"),
        F.max(F.when(~is_u, F.col("c"))).alias("top_b"),
    )
    top_bigram = ieee_round(F.col("top_b").cast("double") / (F.col("n_tokens") - 1), 6)
    return (
        stat.select(
            "doc_id",
            "n_tokens",
            ieee_round(F.col("n_distinct").cast("double") / F.col("n_tokens"), 6).alias(
                "distinct_ratio"
            ),
            ieee_round(F.col("top_u").cast("double") / F.col("n_tokens"), 6).alias(
                "top_unigram_frac"
            ),
            top_bigram.alias("top_bigram_frac"),
            (top_bigram > _REP_BIGRAM_MAX).alias("repetitive"),
        )
        .orderBy("doc_id")
    )


SQL_REPETITION_STATS = f"""
WITH grams AS (
  SELECT doc_id, unnest(
    list_concat(
      list_transform(regexp_extract_all(text, '{_WORD_RE}'), x -> 'u:' || x),
      list_transform(range(1, len(regexp_extract_all(text, '{_WORD_RE}'))),
                     i -> 'b:' || list_extract(regexp_extract_all(text, '{_WORD_RE}'), i)
                          || ' ' || list_extract(regexp_extract_all(text, '{_WORD_RE}'), i + 1))
    )) AS g
  FROM documents
),
cnt AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2),
stat AS (
  SELECT doc_id,
         -- CAST: sum(BIGINT) is HUGEINT -> float64 in pandas; Spark emits int64
         CAST(sum(CASE WHEN g LIKE 'u:%' THEN c ELSE 0 END) AS BIGINT) AS n_tokens,
         count(CASE WHEN g LIKE 'u:%' THEN 1 END) AS n_distinct,
         max(CASE WHEN g LIKE 'u:%' THEN c END) AS top_u,
         max(CASE WHEN g NOT LIKE 'u:%' THEN c END) AS top_b
  FROM cnt GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       round(CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS distinct_ratio,
       round(CAST(top_u AS DOUBLE) / n_tokens, 6) AS top_unigram_frac,
       round(CAST(top_b AS DOUBLE) / (n_tokens - 1), 6) AS top_bigram_frac,
       round(CAST(top_b AS DOUBLE) / (n_tokens - 1), 6) > {_REP_BIGRAM_MAX} AS repetitive
FROM stat
ORDER BY doc_id
"""


# PII patterns — kept to the Java-regex ∩ RE2 dialect intersection (no
# lookaround, no backrefs) so Spark and DuckDB match identical spans.
_PII_EMAIL = r"[a-z0-9._]+@[a-z0-9-]+\.[a-z][a-z]+"
_PII_PHONE = r"\+[0-9][0-9-]{6,}"
_PII_IP = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction over the corpus: count and replace
    emails, phone numbers, and IPv4 addresses with typed placeholder
    tokens — the scrub step every training-data pipeline runs before
    text leaves quarantine. The synthetic corpus contains no PII, so a
    deterministic doc_id-keyed PII tail is appended first (the
    ttn_decode fixture pattern: the fixture is part of the query text,
    identical in both engines, so the redaction machinery is exercised
    on known-true positives instead of vacuously matching nothing).

    Scale shape: pure per-row JVM regex expressions — no shuffle at all
    before the final presentation sort, linear in corpus bytes. The
    redacted text itself is emitted as a 16-hex fingerprint, not the
    full string, so the output stays narrow.
    """
    doc = load(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    aug = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 7 == 0, F.concat(F.lit(" contact user"), did, F.lit("@example.com now"))).otherwise(""),
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit(" call +31-6-"), did, F.lit("1234 today"))).otherwise(""),
        F.when(F.col("doc_id") % 11 == 0, F.concat(F.lit(" host 10.0."), (F.col("doc_id") % 256).cast("string"), F.lit("."), (F.col("doc_id") % 100).cast("string"), F.lit(" up"))).otherwise(""),
    )
    scrubbed = doc.select("doc_id", aug.alias("aug")).select(
        "doc_id",
        F.size(F.regexp_extract_all("aug", F.lit(_PII_EMAIL), F.lit(0))).alias("n_email"),
        F.size(F.regexp_extract_all("aug", F.lit(_PII_PHONE), F.lit(0))).alias("n_phone"),
        F.size(F.regexp_extract_all("aug", F.lit(_PII_IP), F.lit(0))).alias("n_ip"),
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace("aug", _PII_EMAIL, "<EMAIL>"), _PII_PHONE, "<PHONE>"
            ),
            _PII_IP,
            "<IP>",
        ).alias("red"),
        F.length("aug").alias("len_aug"),
    )
    return (
        scrubbed.where((F.col("n_email") + F.col("n_phone") + F.col("n_ip")) > 0)
        .select(
            "doc_id",
            "n_email",
            "n_phone",
            "n_ip",
            (F.col("len_aug") - F.length("red")).alias("chars_removed"),
            F.substring(F.md5("red"), 1, 16).alias("redacted_fp"),
        )
        .orderBy("doc_id")
    )


SQL_PII_SCRUB = f"""
WITH aug AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN ' call +31-6-' || CAST(doc_id AS VARCHAR) || '1234 today' ELSE '' END
         || CASE WHEN doc_id % 11 = 0 THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR) || ' up' ELSE '' END
         AS aug
  FROM documents
),
scrubbed AS (
  SELECT doc_id,
         len(regexp_extract_all(aug, '{_PII_EMAIL}')) AS n_email,
         len(regexp_extract_all(aug, '{_PII_PHONE}')) AS n_phone,
         len(regexp_extract_all(aug, '{_PII_IP}')) AS n_ip,
         regexp_replace(regexp_replace(regexp_replace(aug,
            '{_PII_EMAIL}', '<EMAIL>', 'g'),
            '{_PII_PHONE}', '<PHONE>', 'g'),
            '{_PII_IP}', '<IP>', 'g') AS red,
         length(aug) AS len_aug
  FROM aug
)
SELECT doc_id, n_email, n_phone, n_ip,
       len_aug - length(red) AS chars_removed,
       substr(md5(red), 1, 16) AS redacted_fp
FROM scrubbed
WHERE n_email + n_phone + n_ip > 0
ORDER BY doc_id
"""


_DUP_N = 5  # n-gram width for corpus-level duplicate-span detection
_DUP_FRAC_MAX = 0.3  # docs above this duplicate-coverage fraction get flagged


def q_dup_ngram_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level duplicate n-gram coverage per document: the fraction
    of a doc's word-5-grams that also appear in at least one OTHER
    document. This is the cross-document complement of
    q_repetition_stats (which is within-document): boilerplate headers,
    license blocks, and templated spam share long spans across docs and
    score high here even when each individual doc looks clean.

    Scale shape: one explode -> count per (doc, gram) [shuffle 1] ->
    docs-per-gram agg [shuffle 2, co-partitioned on gram so the
    following join back is shuffle-free] -> per-doc agg [shuffle 3].
    All integer counts; linear in corpus size, no quadratic stage, no
    Python.
    """
    doc = load(spark, sf_dir, "documents")
    toks = doc.select(
        "doc_id", F.expr(f"regexp_extract_all(text, '{_WORD_RE}', 0)").alias("w")
    ).where(F.size("w") >= _DUP_N)
    grams = F.expr(
        f"transform(sequence(0, size(w) - {_DUP_N}), i -> concat_ws(' ', slice(w, i + 1, {_DUP_N})))"
    )
    occ = (
        toks.select("doc_id", F.explode(grams).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # docs-per-gram as a window over g rather than agg+self-join: same
    # result, one fewer exchange (the join form re-shuffles occ from
    # (doc,g) to g a second time for the probe side)
    from pyspark.sql import Window

    docs_with = F.count(F.lit(1)).over(Window.partitionBy("g"))
    per_doc = (
        occ.withColumn("docs_with", docs_with)
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_grams"),
            F.sum(F.when(F.col("docs_with") >= 2, F.col("c")).otherwise(0)).alias("dup_grams"),
        )
    )
    frac = ieee_round(F.col("dup_grams").cast("double") / F.col("n_grams"), 6)
    return (
        per_doc.select(
            "doc_id",
            "n_grams",
            "dup_grams",
            frac.alias("dup_frac"),
            (frac > _DUP_FRAC_MAX).alias("flagged"),
        )
        .orderBy("doc_id")
    )


def _sql_dup_grams() -> str:
    terms = " || ' ' || ".join(f"w[i+{k}]" for k in range(1, _DUP_N + 1))
    return f"""
WITH occ AS (
  SELECT doc_id, g, count(*) AS c
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(len(w) - {_DUP_N - 1}), i -> {terms})) AS g
    FROM (SELECT doc_id, regexp_extract_all(text, '{_WORD_RE}') AS w FROM documents)
    WHERE len(w) >= {_DUP_N}
  )
  GROUP BY 1, 2
),
docs_with AS (SELECT g, count(*) AS docs_with FROM occ GROUP BY g),
per_doc AS (
  SELECT doc_id,
         -- CAST: sum(BIGINT) is HUGEINT -> float64 in pandas; Spark emits int64
         CAST(sum(c) AS BIGINT) AS n_grams,
         CAST(sum(CASE WHEN docs_with >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_grams
  FROM occ JOIN docs_with USING (g)
  GROUP BY doc_id
)
SELECT doc_id, n_grams, dup_grams,
       round(CAST(dup_grams AS DOUBLE) / n_grams, 6) AS dup_frac,
       round(CAST(dup_grams AS DOUBLE) / n_grams, 6) > {_DUP_FRAC_MAX} AS flagged
FROM per_doc
ORDER BY doc_id
"""


SQL_DUP_NGRAM_FRAC = _sql_dup_grams()


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-SPAN structure per document: contiguous runs of word-
    5-grams that also occur in other documents — the gram-granular
    approximation of suffix-array substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): a long
    shared license block shows up as ONE long span here, while
    q_dup_ngram_frac would only report the same coverage fraction as
    many scattered grams. Span length is the signal that separates
    boilerplate blocks (remove the span) from happenstance overlap
    (keep the doc).

    Scale shape: positional grams via posexplode (ONE pass — the gram is
    immediately replaced by a 60-bit md5 hash so the shuffle key is 8
    bytes, not a ~35-byte string, and the oracle applies the identical
    hash); cross-doc support is min(doc)!=max(doc) window aggs over the
    hash partition — no distinct, no self-join, no gram recompute;
    duplicated positions then run-length encode per doc (pos -
    row_number is constant within a run); two bounded aggs finish.
    Linear in corpus size, no quadratic stage, no Python.
    """
    doc = load(spark, sf_dir, "documents")
    # persisted (r15 optimization pass): the positional-gram stream AND
    # the per-doc total below both consume the tokenized corpus —
    # uncached each re-runs the regex extraction pass
    toks = tracked_persist(
        doc.select(
            "doc_id", F.expr(f"regexp_extract_all(text, '{_WORD_RE}', 0)").alias("w")
        ).where(F.size("w") >= _DUP_N)
    )
    grams = F.expr(
        f"transform(sequence(0, size(w) - {_DUP_N}), i -> concat_ws(' ', slice(w, i + 1, {_DUP_N})))"
    )
    # full 60-bit md5 hash (NOT dedup's affine-minhash domain hash
    # `hsh % _P`, whose % 1e9+7 — an
    # int64-overflow guard for minhash affine math — would shrink the
    # space to ~30 bits and birthday-collide visibly at corpus scale)
    from .dedup import _h60

    gh = _h60(F.col("g"))  # the one 60-bit md5 hash idiom (dedup._h60)
    pg = toks.select("doc_id", F.posexplode(grams).alias("pos", "g")).select(
        "doc_id", "pos", gh.alias("gh")
    )
    from pyspark.sql import Window

    wg = Window.partitionBy("gh")
    dup_pos = pg.withColumn(
        "multi", F.min("doc_id").over(wg) != F.max("doc_id").over(wg)
    ).where(F.col("multi"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = dup_pos.withColumn("grp", F.col("pos") - F.row_number().over(w))
    spans = runs.groupBy("doc_id", "grp").agg(F.count(F.lit(1)).alias("span_len"))
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("span_len").alias("dup_grams"),
        F.max("span_len").alias("max_span"),
    )
    # cast: F.size is int32; the oracle's len() is BIGINT — emit int64
    tot = toks.select(
        "doc_id", (F.size("w") - F.lit(_DUP_N - 1)).cast("long").alias("n_grams")
    )
    return (
        per_doc.join(tot, "doc_id")
        .select(
            "doc_id",
            "n_grams",
            "n_spans",
            "dup_grams",
            "max_span",
            ieee_round(F.col("dup_grams").cast("double") / F.col("n_grams"), 6).alias(
                "dup_frac"
            ),
        )
        .orderBy("doc_id")
    )


def _sql_duplicate_spans() -> str:
    from .util import sql_ieee_round

    terms = " || ' ' || ".join(f"w[i+{k}]" for k in range(1, _DUP_N + 1))
    gram = f"unnest(list_transform(range(len(w) - {_DUP_N - 1}), i -> {terms}))"
    return f"""
WITH pg AS (
  SELECT doc_id, unnest(range(len(w) - {_DUP_N - 1})) AS pos,
         ('0x' || substr(md5({gram}), 1, 15))::BIGINT AS gh
  FROM (SELECT doc_id, regexp_extract_all(text, '{_WORD_RE}') AS w FROM documents)
  WHERE len(w) >= {_DUP_N}
),
shared AS (
  SELECT gh FROM (SELECT gh, count(DISTINCT doc_id) AS nd FROM pg GROUP BY gh) WHERE nd >= 2
),
dup_pos AS (SELECT doc_id, pos FROM pg WHERE gh IN (SELECT gh FROM shared)),
runs AS (
  SELECT doc_id, pos, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM dup_pos
),
spans AS (SELECT doc_id, grp, count(*) AS span_len FROM runs GROUP BY 1, 2),
per_doc AS (
  SELECT doc_id, count(*) AS n_spans,
         -- CAST: sum(BIGINT) is HUGEINT -> float64 in pandas; Spark emits int64
         CAST(sum(span_len) AS BIGINT) AS dup_grams,
         max(span_len) AS max_span
  FROM spans GROUP BY doc_id
),
tot AS (SELECT doc_id, len(w) - {_DUP_N - 1} AS n_grams
        FROM (SELECT doc_id, regexp_extract_all(text, '{_WORD_RE}') AS w FROM documents)
        WHERE len(w) >= {_DUP_N})
SELECT doc_id, n_grams, n_spans, dup_grams, max_span,
       {sql_ieee_round('CAST(dup_grams AS DOUBLE) / n_grams', 6)} AS dup_frac
FROM per_doc JOIN tot USING (doc_id)
ORDER BY doc_id
"""


SQL_DUPLICATE_SPANS = _sql_duplicate_spans()


def q_perplexity_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM perplexity proxy per document (the CCNet-style quality
    gate): train a unigram model on the corpus itself (count/total), then
    score every document by its mean token negative-log-likelihood.
    Degenerate docs full of rare junk tokens score high; repetitive docs
    full of the corpus's most common tokens score low — both tails get
    cut in a real training mix.

    Exactness: per-token nll = ln(total/count) is one IEEE division and
    one libm log on integer-derived operands (identical in both
    engines); the per-doc mean runs through exact_avg so the float
    summation order cannot flip the rounded result.

    Scale shape: vocab counts are one shuffle; the vocab join is
    broadcast (a 100 TB corpus still has a bounded vocabulary after
    regex tokenization); the per-doc agg is the second shuffle. Linear,
    no Python. The model size (total token count) is a 1-row aggregate
    riding a broadcast crossJoin (the bm25 broadcast-totals pattern) —
    fully lazy, no driver-side count.
    """
    from .util import exact_avg

    doc = load(spark, sf_dir, "documents")
    tok = doc.select(
        "doc_id", F.explode(F.expr(f"regexp_extract_all(text, '{_WORD_RE}', 0)")).alias("t")
    )
    counts = tok.groupBy("t").agg(F.count(F.lit(1)).alias("cnt"))
    totals = tok.agg(F.count(F.lit(1)).alias("tot"))
    nll = F.log(F.col("tot").cast("double") / F.col("cnt"))
    return (
        tok.join(F.broadcast(counts), "t")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            exact_avg(nll, 6).alias("avg_nll"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "avg_nll",
            F.floor(F.col("avg_nll") * 2).cast("long").alias("nll_bucket"),
        )
        .orderBy("doc_id")
    )


def _sql_perplexity() -> str:
    from .util import sql_avg

    return f"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '{_WORD_RE}')) AS t
  FROM documents
),
counts AS (SELECT t, count(*) AS cnt FROM tok GROUP BY t),
total AS (SELECT count(*) AS n FROM tok),
scored AS (
  SELECT doc_id, count(*) AS n_tokens,
         {sql_avg('ln((SELECT CAST(n AS DOUBLE) FROM total) / cnt)', 6)} AS avg_nll
  FROM tok JOIN counts USING (t)
  GROUP BY doc_id
)
SELECT doc_id, n_tokens, avg_nll,
       CAST(floor(avg_nll * 2) AS BIGINT) AS nll_bucket
FROM scored
ORDER BY doc_id
"""


SQL_PERPLEXITY_BUCKET = _sql_perplexity()


def q_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity per document with add-one (Laplace)
    smoothing — the structural step from the unigram proxy
    (q_perplexity_bucket) toward the KenLM/CCNet n-gram quality gate:
    p(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V), per-doc mean nll over
    bigram occurrences. Context sensitivity is what the unigram model
    cannot see: a doc of common words in impossible ORDER (shuffled
    text, boilerplate splices, keyword stuffing) scores high here
    while scoring low on unigram nll.

    Exactness: every nll operand is integer-derived (c(w1,w2), c(w1),
    V), so ln((c_ctx + V)/(c_joint + 1)) is one IEEE division + one
    libm log, identical in both engines; the per-doc mean runs through
    exact_avg. Docs with < 2 tokens have no bigrams and no row.

    Scale shape: bigram construction is a zip of the token array with
    its own shift — pure per-row JVM work, no self-join; the two count
    tables shuffle once each on their natural keys and join back by
    plain equi-joins (at 100 TB the distinct-bigram table is NOT
    broadcastable — unlike the unigram vocab — so the plan leaves the
    join strategy to stats; V is a 1-row broadcast total, the bm25
    pattern). Linear, no Python."""
    return bigram_perplexity(load(spark, sf_dir, "documents"))


def bigram_perplexity(doc: DataFrame) -> DataFrame:
    """The kernel behind q_bigram_perplexity, over any (doc_id, text)
    frame (unit tests feed synthetic corpora to pin that word ORDER
    moves the score where the unigram model is blind)."""
    from .util import exact_avg
    # ONE regex pass: the token-array stream feeds three consumers
    # (ctx counts, joint counts, the scoring join) — the bm25 one-scan
    # discipline (without the persist the lineage re-ran the regex per
    # consumer: 9 exchanges worth of repeated extraction)
    arr = tracked_persist(
        doc.select(
            "doc_id", F.expr(f"regexp_extract_all(text, '{_WORD_RE}', 0)").alias("w")
        )
    )
    bg = (
        arr.where(F.size("w") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1),"
                    " (a, b) -> struct(a AS w1, b AS w2))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2")
    )
    ctx = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("cctx"))
    jnt = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cjnt"))
    voc = (
        arr.select(F.explode("w").alias("t"))
        .agg(F.countDistinct("t").alias("v"))
    )
    nll = F.log(
        (F.col("cctx") + F.col("v")).cast("double") / (F.col("cjnt") + F.lit(1))
    )
    return (
        bg.join(jnt, ["w1", "w2"])
        .join(ctx, "w1")
        .crossJoin(F.broadcast(voc))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            exact_avg(nll, 6).alias("avg_nll"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "avg_nll",
            F.floor(F.col("avg_nll") * 2).cast("long").alias("nll_bucket"),
        )
        .orderBy("doc_id")
    )


def _sql_bigram_perplexity() -> str:
    from .util import sql_avg

    return f"""
WITH arr AS (
  SELECT doc_id, regexp_extract_all(text, '{_WORD_RE}') AS w FROM documents
),
bg AS (
  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
  FROM arr, LATERAL (SELECT unnest(range(1, len(w))) AS i) t
  WHERE len(w) >= 2
),
ctx AS (SELECT w1, count(*) AS cctx FROM bg GROUP BY 1),
jnt AS (SELECT w1, w2, count(*) AS cjnt FROM bg GROUP BY 1, 2),
voc AS (
  SELECT count(DISTINCT t) AS v
  FROM (SELECT unnest(w) AS t FROM arr)
),
scored AS (
  SELECT doc_id, count(*) AS n_bigrams,
         {sql_avg('ln(CAST(cctx + (SELECT v FROM voc) AS DOUBLE) / (cjnt + 1))', 6)} AS avg_nll
  FROM bg JOIN jnt USING (w1, w2) JOIN ctx USING (w1)
  GROUP BY doc_id
)
SELECT doc_id, n_bigrams, avg_nll,
       CAST(floor(avg_nll * 2) AS BIGINT) AS nll_bucket
FROM scored
ORDER BY doc_id
"""


SQL_BIGRAM_PERPLEXITY = _sql_bigram_perplexity()


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish tokens per whitespace
    word and characters per token — the standard check that a tokenizer
    doesn't over-fragment some languages in a multilingual mix (high
    fertility = that language pays more sequence length for the same
    text).

    Scale shape: pure per-row JVM regex counts, one shuffle on lang.
    """
    doc = load(spark, sf_dir, "documents")
    bpe = F.size(F.expr(r"regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\r\\f\\x0B]', 0)"))
    ws = F.size(F.expr(f"regexp_extract_all(text, '{_NWS_SPARK}+', 0)"))
    alpha = F.length(F.regexp_replace("text", r"[^a-z0-9]", ""))
    return (
        doc.select("lang", bpe.alias("bpe"), ws.alias("ws"), alpha.alias("alpha"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("bpe").alias("total_tokens"),
            F.sum("ws").alias("total_words"),
            # nullif: a stratum of all-empty docs sums to 0 tokens and
            # ANSI-mode 0/0 throws where the oracle yields NULL (same
            # guard class as text_stats/quality_score/gopher_filter)
            ieee_round(F.sum("bpe") / F.nullif(F.sum("ws"), F.lit(0)), 6).alias("fertility"),
            ieee_round(F.sum("alpha") / F.nullif(F.sum("bpe"), F.lit(0)), 6).alias("chars_per_token"),
        )
        .orderBy("lang")
    )


SQL_TOKENIZER_FERTILITY = rf"""
WITH per_doc AS (
  SELECT lang,
         len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 \t\n\r\f\x0B]')) AS bpe,
         len(regexp_extract_all(text, '{_NWS_SQL}+')) AS ws,
         length(regexp_replace(text, '[^a-z0-9]', '', 'g')) AS alpha
  FROM documents
)
SELECT lang, count(*) AS n_docs,
       -- CAST: sum(BIGINT) is HUGEINT -> float64 in pandas; Spark emits int64
       CAST(sum(bpe) AS BIGINT) AS total_tokens,
       CAST(sum(ws) AS BIGINT) AS total_words,
       round(sum(bpe) / nullif(sum(ws), 0), 6) AS fertility,
       round(sum(alpha) / nullif(sum(bpe), 0), 6) AS chars_per_token
FROM per_doc
GROUP BY lang
ORDER BY lang
"""


_VOCAB_TOP = 10  # concentration: share of all tokens held by the top-10 types


def q_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary health per source — the Zipf sanity check run
    after every tokenizer or filtering change: vocabulary size, hapax
    (frequency-1) share of the vocabulary, and what fraction of all
    token occurrences the top-10 types absorb. A collapsing vocabulary
    or an exploding hapax share is how tokenizer regressions and boiler-
    plate floods show up before they poison a training mix.

    Scale shape: one (source, token) partial-agg shuffle, then a window
    ranking per source over the (bounded) vocabulary, then a per-source
    agg. All integer arithmetic until the final ratios.
    """
    from pyspark.sql import Window

    doc = load(spark, sf_dir, "documents")
    tok = doc.select(
        "source", F.explode(F.expr(f"regexp_extract_all(text, '{_WORD_RE}', 0)")).alias("t")
    )
    counts = tok.groupBy("source", "t").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("source").orderBy(F.desc("cnt"), F.asc("t"))
    ranked = counts.withColumn("rnk", F.row_number().over(w))
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("vocab_size"),
            F.sum("cnt").alias("total_tokens"),
            F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0)).alias("hapax_types"),
            F.sum(F.when(F.col("rnk") <= _VOCAB_TOP, F.col("cnt")).otherwise(0)).alias(
                "top10_tokens"
            ),
        )
        .select(
            "source",
            "vocab_size",
            "total_tokens",
            "hapax_types",
            ieee_round(F.col("hapax_types").cast("double") / F.col("vocab_size"), 6).alias(
                "hapax_frac"
            ),
            ieee_round(F.col("top10_tokens").cast("double") / F.col("total_tokens"), 6).alias(
                "top10_share"
            ),
        )
        .orderBy("source")
    )


SQL_VOCAB_STATS = f"""
WITH counts AS (
  SELECT source, t, count(*) AS cnt
  FROM (SELECT source, unnest(regexp_extract_all(text, '{_WORD_RE}')) AS t FROM documents)
  GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY source ORDER BY cnt DESC, t ASC) AS rnk
  FROM counts
),
agg AS (
  SELECT source,
         count(*) AS vocab_size,
         -- CAST: sum(BIGINT) is HUGEINT -> float64 in pandas; Spark emits int64
         CAST(sum(cnt) AS BIGINT) AS total_tokens,
         CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_types,
         CAST(sum(CASE WHEN rnk <= {_VOCAB_TOP} THEN cnt ELSE 0 END) AS BIGINT) AS top10_tokens
  FROM ranked
  GROUP BY source
)
SELECT source, vocab_size, total_tokens, hapax_types,
       round(CAST(hapax_types AS DOUBLE) / vocab_size, 6) AS hapax_frac,
       round(CAST(top10_tokens AS DOUBLE) / total_tokens, 6) AS top10_share
FROM agg
ORDER BY source
"""


# BM25 parameters (the standard Robertson defaults) and a fixed query
# set drawn from the corpus vocabulary (fixture pattern: literal in both
# engines, so scoring exercises known-matching terms)
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_QUERIES = {
    0: ("table", "row", "hash"),
    1: ("merge", "window", "sort"),
    2: ("spark", "batch", "value"),
}
_BM25_TOP_K = 5


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval over the corpus for a fixed query set — the
    relevance scoring a curation pipeline uses to pull topic-targeted
    training slices ("find docs about X") and the lexical half of any
    hybrid (BM25 + embedding) retrieval stack. Robertson defaults
    (k1=1.2, b=0.75), ln-idf with the +1 floor so common terms never go
    negative.

    Exactness: tf/df/doclen are integers; avgdl is an exact-int-sum
    division done identically in both engines; each per-term score is
    one fixed float expression on integer-derived operands, and the
    per-(query, doc) accumulation across terms runs through exact_sum's
    quantized grid so term order cannot flip the rounding.

    Scale shape: the token scan keeps ONLY query terms (an IN-list
    filter folded into the explode — the corpus pass emits a few rows
    per doc, not the full token stream); df and avgdl are tiny aggs;
    the scoring join is broadcast. One corpus scan, top-k per query via
    a bounded window.
    """
    return bm25_rank(load(spark, sf_dir, "documents"), _BM25_QUERIES)


def bm25_rank(
    doc: DataFrame,
    queries: dict[int, tuple],
    k1: float = _BM25_K1,
    b: float = _BM25_B,
    top_k: int = _BM25_TOP_K,
) -> DataFrame:
    """The BM25 engine behind q_bm25_search, over an injectable corpus
    (doc_id, text) — the formula-pin test runs it on a planted corpus
    whose Robertson scores are hand-computed from the published formula
    restated in the test."""
    from .util import exact_sum

    all_terms = sorted({t for ts in queries.values() for t in ts})
    # tokenize ONCE: the token-array projection is persisted and both the
    # length side (dl) and the term side (tok) derive from it — one
    # parquet scan + one regex pass for the whole query (r3 ran the regex
    # twice and scanned three times: tok, dl, and a count())
    arr = tracked_persist(doc.select(
        "doc_id", F.expr(f"regexp_extract_all(text, '{_WORD_RE}', 0)").alias("w")
    ))
    tok = arr.select("doc_id", F.explode("w").alias("t"))
    dl = arr.select("doc_id", F.size("w").alias("dl"))
    tf = (
        tok.where(F.col("t").isin(*all_terms))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    # n_docs and avgdl as a 1-row broadcast dimension instead of a driver
    # collect: the whole query stays ONE lazy plan (composable into
    # saved views and streaming foreachBatch), with exact integer sum /
    # count and one IEEE division, identical in both engines
    totals = dl.agg(F.sum("dl").alias("sdl"), F.count(F.lit(1)).alias("nd"))

    from ..io import values_df

    qdf = values_df(
        doc.sparkSession,
        [(qid, t) for qid, ts in sorted(queries.items()) for t in ts],
        "query_id bigint, t string",
    )

    n_docs = F.col("nd").cast("double")
    avgdl = F.col("sdl").cast("double") / n_docs
    idf = F.log((n_docs - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    tf_part = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / avgdl)
    )
    # dl is corpus-sized — never broadcast it; the join keys on doc_id
    # where the tf side is already reduced to matching docs only. The
    # 1-row totals dimension rides a broadcast crossJoin (the bounded
    # nested-loop pattern _FENCED_CROSSJOIN permits; a literal-key
    # equi-join would be constant-folded back to the same plan anyway)
    scored = (
        tf.join(F.broadcast(df_), "t")
        .join(F.broadcast(qdf), "t")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(totals))
        .groupBy("query_id", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms_hit"),
            exact_sum(idf * tf_part, 6).alias("score"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("query_id", "rank", "doc_id", "n_terms_hit", "score")
        .orderBy("query_id", "rank")
    )


def _sql_bm25() -> str:
    terms = ", ".join(f"'{t}'" for t in sorted({t for ts in _BM25_QUERIES.values() for t in ts}))
    qvals = ", ".join(f"({qid}, '{t}')" for qid, ts in sorted(_BM25_QUERIES.items()) for t in ts)
    from .util import sql_sum

    # association matches the Spark side exactly: idf * (tf_part / denom)
    # — the (a*b)/c grouping differs from a*(b/c) in the last bits for
    # ~37% of operand draws, and the per-row value feeds exact_sum's
    # quantizer, so the parenthesization is part of the parity contract
    term_score = (
        "ln((CAST(s.n_docs AS DOUBLE) - df.df + 0.5) / (df.df + 0.5) + 1.0)"
        f" * ((tf.tf * CAST({_BM25_K1 + 1!r} AS DOUBLE))"
        f" / (tf.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl.dl"
        " / (CAST(s.sdl AS DOUBLE) / s.nd))))"
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '{_WORD_RE}')) AS t FROM documents
),
dl AS (
  SELECT doc_id, len(regexp_extract_all(text, '{_WORD_RE}')) AS dl FROM documents
),
tf AS (
  SELECT doc_id, t, count(*) AS tf FROM tok WHERE t IN ({terms}) GROUP BY 1, 2
),
df AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
stats AS (
  SELECT CAST(sum(dl) AS BIGINT) AS sdl, count(*) AS nd,
         (SELECT count(*) FROM documents) AS n_docs
  FROM dl
),
q(query_id, t) AS (VALUES {qvals}),
scored AS (
  SELECT q.query_id, tf.doc_id,
         count(*) AS n_terms_hit,
         {sql_sum(term_score, 6)} AS score
  FROM tf
  JOIN df ON tf.t = df.t
  JOIN q ON tf.t = q.t
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
)
SELECT query_id, rank, doc_id, n_terms_hit, score
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
WHERE rank <= {_BM25_TOP_K}
ORDER BY query_id, rank
"""


SQL_BM25_SEARCH = _sql_bm25()


# Gopher quality-filter rule set (Rae et al. 2021, "Scaling Language
# Models: ... Gopher", appendix A1.1) — the published heuristics most
# curation pipelines start from. Thresholds are the paper's.
_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def q_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition/quality rules per document: word count in
    [50, 100000], mean word length in [3, 10], symbol-to-word ratio
    (# and ellipsis) < 0.1, < 90% bullet-started lines, < 30%
    ellipsis-ended lines, >= 80% of words containing a letter, and >= 2
    of the 8 Gopher stop words present. Pure JVM string expressions —
    one linear scan, no shuffle beyond the presentation sort; every
    ratio is floor-form rounded to 6 dp BEFORE its threshold compare so
    rule membership is bit-identical across engines."""
    doc = load(spark, sf_dir, "documents")
    lines = F.split(F.col("text"), "\n")
    # Two regex passes total over the text (a 100 TB corpus is scanned,
    # not indexed — passes are the cost unit): ONE \S+ tokenization
    # feeding n_words / word_chars / alpha_words as array expressions,
    # and ONE alternation group-extract counting DISTINCT stop words
    # (replaces 8 separate \b<w>\b rlike scans). replace()-based symbol
    # counts and the line split are cheap non-regex scans.
    # double backslash: Spark's SQL string literal would read '\b' as a
    # backspace character; '\\b' reaches the regex engine as \b
    stop_re = r"\\b(" + "|".join(_GOPHER_STOPWORDS) + r")\\b"
    words = F.expr(f"regexp_extract_all(text, '{_NWS_SPARK}+', 0)")
    base = doc.select(
        "doc_id",
        words.alias("ws"),
        (
            F.length("text") - F.length(F.expr("replace(text, '#', '')"))
            + F.expr("(length(text) - length(replace(text, '...', ''))) DIV 3")
        ).cast("long").alias("n_symbols"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(F.filter(lines, lambda x: x.startswith("- ") | x.startswith("* "))).cast("long").alias("bullet_lines"),
        F.size(F.filter(lines, lambda x: x.endswith("..."))).cast("long").alias("ellipsis_lines"),
        F.size(F.array_distinct(F.expr(f"regexp_extract_all(text, '{stop_re}', 1)"))).cast("long").alias("n_stopwords"),
    ).select(
        "doc_id",
        F.size("ws").cast("long").alias("n_words"),
        F.aggregate("ws", F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)).alias("word_chars"),
        F.size(F.filter("ws", lambda x: x.rlike("[a-z]"))).cast("long").alias("alpha_words"),
        "n_symbols",
        "n_lines",
        "bullet_lines",
        "ellipsis_lines",
        "n_stopwords",
    )
    # NULL-guard the word denominator: an empty / whitespace-only doc has
    # n_words=0 and ANSI-mode double division would throw DIVIDE_BY_ZERO,
    # crashing the whole query on exactly the junk-document class a
    # Gopher filter exists to drop. nullif makes the ratios NULL (same as
    # the DuckDB oracle) and `keep` still evaluates FALSE via the
    # n_words-between rule (FALSE AND NULL = FALSE in both engines).
    # n_lines needs no guard: split() of even an empty string yields one
    # element, so n_lines >= 1 always.
    nw = F.nullif(F.col("n_words").cast("double"), F.lit(0.0))
    nl = F.col("n_lines").cast("double")
    rated = base.select(
        "doc_id",
        "n_words",
        ieee_round(F.col("word_chars") / nw, 6).alias("mean_word_len"),
        ieee_round(F.col("n_symbols") / nw, 6).alias("symbol_ratio"),
        ieee_round(F.col("bullet_lines") / nl, 6).alias("bullet_frac"),
        ieee_round(F.col("ellipsis_lines") / nl, 6).alias("ellipsis_frac"),
        ieee_round(F.col("alpha_words") / nw, 6).alias("alpha_word_frac"),
        "n_stopwords",
    )
    keep = (
        F.col("n_words").between(50, 100000)
        & F.col("mean_word_len").between(3.0, 10.0)
        & (F.col("symbol_ratio") < 0.1)
        & (F.col("bullet_frac") < 0.9)
        & (F.col("ellipsis_frac") < 0.3)
        & (F.col("alpha_word_frac") >= 0.8)
        & (F.col("n_stopwords") >= 2)
    )
    return rated.withColumn("keep", keep.cast("int")).orderBy("doc_id")


def _sql_gopher() -> str:
    from .util import sql_ieee_round

    stop_sum = " + ".join(
        f"CAST(regexp_matches(text, '\\b{w}\\b') AS BIGINT)" for w in _GOPHER_STOPWORDS
    )
    # nullif mirrors the Spark builder's zero-word guard (NULL ratios for
    # empty docs; keep stays FALSE through the n_words rule)
    mwl = sql_ieee_round("word_chars / CAST(nullif(n_words, 0) AS DOUBLE)", 6)
    sym = sql_ieee_round("n_symbols / CAST(nullif(n_words, 0) AS DOUBLE)", 6)
    bul = sql_ieee_round("bullet_lines / CAST(n_lines AS DOUBLE)", 6)
    ell = sql_ieee_round("ellipsis_lines / CAST(n_lines AS DOUBLE)", 6)
    alf = sql_ieee_round("alpha_words / CAST(nullif(n_words, 0) AS DOUBLE)", 6)
    return rf"""
WITH base AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{_NWS_SQL}+')) AS n_words,
         length(regexp_replace(text, '{_WS_SQL}', '', 'g')) AS word_chars,
         (length(text) - length(replace(text, '#', '')))
           + (length(text) - length(replace(text, '...', ''))) // 3 AS n_symbols,
         len(string_split(text, chr(10))) AS n_lines,
         len(list_filter(string_split(text, chr(10)),
                         x -> starts_with(x, '- ') OR starts_with(x, '* '))) AS bullet_lines,
         len(list_filter(string_split(text, chr(10)), x -> ends_with(x, '...'))) AS ellipsis_lines,
         len(regexp_extract_all(text, '{_NWS_SQL}*[a-z]{_NWS_SQL}*')) AS alpha_words,
         {stop_sum} AS n_stopwords
  FROM documents
),
rated AS (
  SELECT doc_id, n_words,
         {mwl} AS mean_word_len,
         {sym} AS symbol_ratio,
         {bul} AS bullet_frac,
         {ell} AS ellipsis_frac,
         {alf} AS alpha_word_frac,
         n_stopwords
  FROM base
)
SELECT *, CAST(n_words BETWEEN 50 AND 100000
               AND mean_word_len BETWEEN 3.0 AND 10.0
               AND symbol_ratio < 0.1
               AND bullet_frac < 0.9
               AND ellipsis_frac < 0.3
               AND alpha_word_frac >= 0.8
               AND n_stopwords >= 2 AS INT) AS keep
FROM rated
ORDER BY doc_id
"""


SQL_GOPHER_FILTER = _sql_gopher()


def q_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4 cleaning heuristics (Raffel et al. 2020, "Exploring the
    Limits of Transfer Learning...", §2.2) — the gopher_filter sibling
    from the other canonical pretraining-corpus recipe. Line level: a
    line is RETAINED iff it ends (after trailing space/tab/CR trim —
    CRLF corpora must not zero out, r12 review) in a terminal
    punctuation mark (. ! ? or a closing double quote), has at least 3
    words, and does not contain the word 'javascript'
    (case-insensitive). Page level: keep iff the retained text has at
    least 5 sentences and the page contains neither 'lorem ipsum'
    (case-insensitive) nor a curly brace. Sentences are approximated
    (the paper used an nltk splitter) as maximal RUNS of [.!?] per
    retained line — runs, not characters, so an ellipsis counts once
    (the gopher_filter precedent) — floored at 1 per retained line,
    because a line retained via its closing quote ends a sentence by
    the retention rule's own definition (r12 review). The paper's
    dirty-word-list rule is NOT implemented (the published list is an
    external asset, not a rule) — the in-repo pii_scrub/quality_score
    family covers lexicon-style gating. NULL text is normalized to ''
    in BOTH engines. One linear JVM scan, no shuffle beyond the
    presentation sort; counts are pure integers so no rounding grid is
    involved."""
    doc = load(spark, sf_dir, "documents")
    # Spark spells it endswith; DuckDB ends_with — same semantics.
    # Trailing space/tab/CR strip runs ONCE per line (a transform BEFORE
    # the filter — the bench noise protocol caught the 4x-per-line form
    # at 2.3x the cost); the retained lines are the TRIMMED lines, which
    # changes no downstream count (trailing whitespace carries no words
    # and no [.!?]).
    line_ok = (
        "(endswith(x, '.') OR endswith(x, '!')"
        " OR endswith(x, '?') OR endswith(x, '\"'))"
        f" AND size(regexp_extract_all(x, '{_NWS_SPARK}+', 0)) >= 3"
        " AND NOT contains(lower(x), 'javascript')"
    )
    kept = (
        "filter(transform(split(coalesce(text, ''), '\\n'),"
        " x -> regexp_replace(x, '[ \\t\\r]+$', '')),"
        f" x -> {line_ok})"
    )
    sentences = (
        f"aggregate({kept}, CAST(0 AS BIGINT), (a, x) -> a +"
        " greatest(CAST(1 AS BIGINT),"
        " CAST(size(regexp_extract_all(x, '[.!?]+', 0)) AS BIGINT)))"
    )
    return (
        doc.select(
            "doc_id",
            F.expr("size(split(coalesce(text, ''), '\\n'))").cast("long").alias("n_lines"),
            F.expr(f"size({kept})").cast("long").alias("n_kept_lines"),
            F.expr(sentences).alias("n_sentences"),
            F.expr("CAST(contains(lower(coalesce(text, '')), 'lorem ipsum') AS INT)").alias("has_lorem"),
            F.expr("CAST(contains(coalesce(text, ''), '{') AS INT)").alias("has_brace"),
        )
        .withColumn(
            "keep",
            (
                (F.col("n_sentences") >= 5)
                & (F.col("has_lorem") == 0)
                & (F.col("has_brace") == 0)
            ).cast("int"),
        )
        .orderBy("doc_id")
    )


def _sql_c4_filter() -> str:
    line_ok = (
        "(ends_with(x, '.') OR ends_with(x, '!')"
        "  OR ends_with(x, '?') OR ends_with(x, '\"'))"
        f" AND len(regexp_extract_all(x, '{_NWS_SQL}+')) >= 3"
        " AND NOT contains(lower(x), 'javascript')"
    )
    kept = (
        "list_filter(list_transform(string_split(coalesce(text, ''), chr(10)),"
        " x -> regexp_replace(x, '[ \t\r]+$', '')),"
        f" x -> {line_ok})"
    )
    return f"""
WITH base AS (
  SELECT doc_id,
         len(string_split(coalesce(text, ''), chr(10))) AS n_lines,
         len({kept}) AS n_kept_lines,
         list_sum(list_transform({kept}, x ->
           greatest(1, len(regexp_extract_all(x, '[.!?]+'))))) AS s_sum,
         CAST(contains(lower(coalesce(text, '')), 'lorem ipsum') AS INT) AS has_lorem,
         CAST(contains(coalesce(text, ''), '{{') AS INT) AS has_brace
  FROM documents
)
SELECT doc_id, n_lines, n_kept_lines,
       CAST(coalesce(s_sum, 0) AS BIGINT) AS n_sentences,
       has_lorem, has_brace,
       CAST(coalesce(s_sum, 0) >= 5 AND has_lorem = 0 AND has_brace = 0 AS INT) AS keep
FROM base
ORDER BY doc_id
"""


SQL_C4_FILTER = _sql_c4_filter()


# Winnowing (Schleimer, Wilkerson, Aiken — SIGMOD'03, the MOSS
# algorithm): k-gram size and window width. Any match of at least
# k + w - 1 = 8 consecutive tokens is GUARANTEED to share a selected
# fingerprint; expected density of selected grams is 2/(w+1) = 0.4.
_WIN_K = 5
_WIN_W = 4


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection per document: hash every word
    5-gram, slide a 4-wide window over consecutive gram hashes, keep
    each window's MINIMUM — the classic local fingerprinting scheme
    (MOSS) that stores ~2/(w+1) of the grams yet provably catches every
    >= (k+w-1)-token overlap. Output per doc: total grams, selected
    fingerprints, selection density, and how many of the selected
    fingerprints also appear in another document (the plagiarism-hit
    count).

    Scale shape: one positional-gram pass (8-byte 60-bit hashes, same
    as duplicate_spans), a per-doc ROWS window min (positions are dense
    so row frames equal position frames), a distinct on the selected
    set, and the min!=max-over-hash-partition trick for cross-doc
    sharing — linear, no self-join, no Python."""
    return winnow(load(spark, sf_dir, "documents"))


def winnow(doc: DataFrame) -> DataFrame:
    """The winnowing engine behind q_winnow_fingerprints, over an
    injectable corpus (doc_id, text) — the formula-pin test runs it on
    planted documents whose fingerprint sets, density, and the scheme's
    published guarantees (Schleimer/Wilkerson/Aiken 2003: every window
    of w consecutive grams contributes a fingerprint; any match of
    length >= k+w-1 tokens is caught) are recomputed independently in
    the test."""
    from pyspark.sql import Window

    min_words = _WIN_K + _WIN_W - 1
    toks = doc.select(
        "doc_id", F.expr(f"regexp_extract_all(text, '{_WORD_RE}', 0)").alias("w")
    ).where(F.size("w") >= min_words)
    grams = F.expr(
        f"transform(sequence(0, size(w) - {_WIN_K}), i -> concat_ws(' ', slice(w, i + 1, {_WIN_K})))"
    )
    from .dedup import _h60

    gh = _h60(F.col("g"))  # the one 60-bit md5 hash idiom (dedup._h60)
    pg = toks.select("doc_id", F.posexplode(grams).alias("pos", "g")).select(
        "doc_id", "pos", gh.alias("gh")
    )
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, _WIN_W - 1)
    per_doc_all = Window.partitionBy("doc_id")
    ext = pg.select(
        "doc_id",
        "pos",
        F.min("gh").over(win).alias("wmin"),
        F.max("pos").over(per_doc_all).alias("maxp"),
    )
    # maxp rides through the distinct (constant per doc, so cardinality
    # is unchanged) — n_grams = maxp + 1 then comes from the SAME scan
    # instead of a second tokenize pass + join (one corpus scan total)
    sel = (
        ext.where(F.col("pos") <= F.col("maxp") - (_WIN_W - 1))
        .select("doc_id", F.col("wmin").alias("fp"), "maxp")
        .distinct()
    )
    shared = F.min("doc_id").over(Window.partitionBy("fp")) != F.max("doc_id").over(
        Window.partitionBy("fp")
    )
    per = (
        sel.withColumn("is_shared", shared)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_fp"),
            F.count(F.when(F.col("is_shared"), 1)).alias("n_shared_fp"),
            (F.max("maxp") + 1).cast("long").alias("n_grams"),
        )
    )
    return (
        per.select(
            "doc_id",
            "n_grams",
            "n_fp",
            "n_shared_fp",
            ieee_round(F.col("n_fp").cast("double") / F.col("n_grams"), 6).alias("density"),
        )
        .orderBy("doc_id")
    )


def _sql_winnow() -> str:
    from .util import sql_ieee_round

    terms = " || ' ' || ".join(f"w[i+{k}]" for k in range(1, _WIN_K + 1))
    gram = f"unnest(list_transform(range(len(w) - {_WIN_K - 1}), i -> {terms}))"
    min_words = _WIN_K + _WIN_W - 1
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text, '{_WORD_RE}') AS w FROM documents
),
pg AS (
  SELECT doc_id, unnest(range(len(w) - {_WIN_K - 1})) AS pos,
         ('0x' || substr(md5({gram}), 1, 15))::BIGINT AS gh
  FROM toks WHERE len(w) >= {min_words}
),
ext AS (
  SELECT doc_id, pos,
         min(gh) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING) AS wmin,
         max(pos) OVER (PARTITION BY doc_id) AS maxp
  FROM pg
),
sel AS (
  SELECT DISTINCT doc_id, wmin AS fp, maxp FROM ext WHERE pos <= maxp - {_WIN_W - 1}
),
marked AS (
  SELECT doc_id, fp, maxp,
         min(doc_id) OVER (PARTITION BY fp) <> max(doc_id) OVER (PARTITION BY fp) AS is_shared
  FROM sel
),
per AS (
  SELECT doc_id, count(*) AS n_fp,
         count(*) FILTER (WHERE is_shared) AS n_shared_fp,
         max(maxp) + 1 AS n_grams
  FROM marked GROUP BY doc_id
)
SELECT doc_id, n_grams, n_fp, n_shared_fp,
       {sql_ieee_round('CAST(n_fp AS DOUBLE) / n_grams', 6)} AS density
FROM per
ORDER BY doc_id
"""


SQL_WINNOW_FINGERPRINTS = _sql_winnow()




# ---------------------------------------------------------------------------
# DSIR-style importance weights (r11): Data Selection via Importance
# Resampling (Xie et al. 2023, arXiv:2302.03169 — the published hashed
# n-gram recipe). Features are word BIGRAMS hashed into _DSIR_B buckets;
# the target distribution is trained on the in-domain subset (here the
# `lang = 'en'` slice — any boolean target predicate works the same),
# the source distribution on the whole corpus, both Laplace-smoothed.
# Per-document log importance weight:
#   log w(d) = sum_b n_d(b) * [ln p_target(b) - ln p_source(b)]
# Resampling by these weights shifts a raw crawl toward the target
# domain — the published pretraining-data-selection pattern.
# ---------------------------------------------------------------------------

_DSIR_B = 4096  # hash buckets: small enough to broadcast, large enough
                # that bucket collisions average out (the paper's regime)


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR log importance weight against the lang='en'
    target, plus the bigram count. Documents with fewer than two words
    carry weight 0 (an empty product of ratios).

    Scale shape: the bigram->bucket stream is computed ONCE (persisted:
    three consumers), reduced to <= _DSIR_B source/target bucket counts
    (map-side partial aggs; the totals ride a 1-row broadcast, the bm25
    lazy-totals pattern) — the per-bucket log-ratio table is then a
    BROADCAST dimension joined back to the per-(doc,bucket) counts, so
    the corpus-sized stream shuffles exactly twice (the two groupBys)
    and nothing corpus-sized is ever collected. The per-doc sum runs
    through exact_sum (order-independent quantized accumulation) with
    the log-ratio pre-rounded to a 1e-9 grid, so the result is
    bit-identical on any partitioning and to the DuckDB oracle."""
    from .util import exact_sum

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    words = F.expr(f"regexp_extract_all(text, '{_WORD_RE}', 0)")
    bigrams = F.expr(
        "transform(sequence(0, size(words) - 2), i -> concat(words[i], ' ', words[i+1]))"
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("bigram")), 1, 8), 16, 10).cast("long")
        % _DSIR_B
    )
    bg = tracked_persist(
        docs.select("doc_id", "lang", words.alias("words"))
        .where(F.size("words") >= 2)
        .select("doc_id", "lang", F.explode(bigrams).alias("bigram"))
        .select("doc_id", "lang", bucket.alias("bucket"))
    )
    src = bg.groupBy("bucket").agg(F.count(F.lit(1)).alias("cs"))
    tgt = (
        bg.where(F.col("lang") == "en")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    tot = bg.agg(
        F.count(F.lit(1)).alias("ts"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("tt"),
    )
    lr = ieee_round(
        F.log((F.col("ct") + 1).cast("double") / (F.col("tt") + _DSIR_B).cast("double"))
        - F.log((F.col("cs") + 1).cast("double") / (F.col("ts") + _DSIR_B).cast("double")),
        9,
    )
    ratios = (
        src.join(tgt, "bucket", "left")
        .na.fill({"ct": 0})
        .crossJoin(F.broadcast(tot))  # 1-row totals: fenced bounded BNLJ
        .select("bucket", lr.alias("lr"))
    )
    per_db = bg.groupBy("doc_id", "bucket").agg(F.count(F.lit(1)).alias("n"))
    w = (
        per_db.join(F.broadcast(ratios), "bucket")
        .groupBy("doc_id")
        .agg(
            exact_sum(F.col("n") * F.col("lr"), 6).alias("log_weight"),
            F.sum("n").alias("n_bigrams"),
        )
    )
    return (
        docs.select("doc_id")
        .join(w, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce(F.col("log_weight"), F.lit(0.0)).alias("log_weight"),
        )
        .orderBy("doc_id")
    )


def _sql_dsir_weights() -> str:
    from .util import sql_ieee_round, sql_sum

    lr = sql_ieee_round(
        f"ln((coalesce(t.ct, 0) + 1) / CAST(tot.tt + {_DSIR_B} AS DOUBLE))"
        f" - ln((s.cs + 1) / CAST(tot.ts + {_DSIR_B} AS DOUBLE))",
        9,
    )
    return f"""
WITH bg AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(bigram), 1, 8))::BIGINT % {_DSIR_B} AS bucket
  FROM (
    SELECT doc_id, lang,
           unnest(list_transform(range(len(w) - 1), i -> w[i+1] || ' ' || w[i+2])) AS bigram
    FROM (SELECT doc_id, lang, regexp_extract_all(text, '{_WORD_RE}') AS w FROM documents)
    WHERE len(w) >= 2
  )
),
src AS (SELECT bucket, count(*) AS cs FROM bg GROUP BY bucket),
tgt AS (SELECT bucket, count(*) AS ct FROM bg WHERE lang = 'en' GROUP BY bucket),
tot AS (SELECT count(*) AS ts, count(*) FILTER (lang = 'en') AS tt FROM bg),
ratios AS (
  SELECT s.bucket, {lr} AS lr
  FROM src s LEFT JOIN tgt t USING (bucket), tot
),
per_db AS (SELECT doc_id, bucket, count(*) AS n FROM bg GROUP BY doc_id, bucket),
w AS (
  SELECT p.doc_id, {sql_sum('p.n * b.lr', 6)} AS log_weight,
         sum(p.n) AS n_bigrams
  FROM per_db p JOIN ratios b USING (bucket)
  GROUP BY p.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(w.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       coalesce(w.log_weight, 0.0) AS log_weight
FROM documents d LEFT JOIN w USING (doc_id)
ORDER BY d.doc_id
"""


SQL_DSIR_WEIGHTS = _sql_dsir_weights()


_DSIR_K = 100  # resampled subset size


def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR end-to-end (r12): the paper's ACTUAL output is the selected
    subset, not the weights — importance resampling of _DSIR_K documents
    with probability proportional to w(d) = exp(log_weight), via the
    Gumbel top-k trick (equivalently Efraimidis-Spirakis weighted
    sampling without replacement): key(d) = log_weight + Gumbel(u_d),
    take the k largest keys. The Gumbel uniform is an md5 hash coin
    ('dsir' salt decorrelates it from every other sampler's coin), so
    the draw is reproducible on any cluster and under re-runs — the
    weighted_sample determinism idiom. u = (2*u32 + 1) / 2^33 is an
    EXACT double (odd numerator < 2^33, power-of-two denominator), so
    both engines feed bit-identical operands into the two ln calls; the
    key is ieee-rounded to 6 dp with a doc_id tie-break before ranking.

    Scale shape: the weights lineage is q_dsir_weights verbatim (shared
    function — the graded weight query and the resample can never
    drift); the selection adds one global top-k (TakeOrderedAndProject:
    per-partition heaps, no single-partition window over the corpus)
    and ranks only the k survivors."""
    from pyspark.sql import Window

    w = q_dsir_weights(spark, sf_dir)
    u32 = F.conv(
        F.substring(F.md5(F.concat(F.lit("dsir"), F.col("doc_id").cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    u = (u32 * 2 + 1).cast("double") / F.lit(8589934592.0)
    key = ieee_round(F.col("log_weight") + -F.log(-F.log(u)), 6)
    keyed = w.select("doc_id", "n_bigrams", "log_weight", key.alias("sample_key"))
    top = keyed.orderBy(F.desc("sample_key"), F.asc("doc_id")).limit(_DSIR_K)
    rank_w = Window.orderBy(F.desc("sample_key"), F.asc("doc_id"))
    return (
        top.withColumn("rank", F.row_number().over(rank_w))
        .select("rank", "doc_id", "n_bigrams", "log_weight", "sample_key")
        .orderBy("rank")
    )


def _sql_dsir_resample() -> str:
    from .util import sql_ieee_round

    key = sql_ieee_round(
        "log_weight + -ln(-ln((('0x' || substr(md5('dsir' ||"
        " CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT * 2 + 1) / 8589934592.0))",
        6,
    )
    return f"""
WITH dw AS ({SQL_DSIR_WEIGHTS}),
keyed AS (
  SELECT doc_id, n_bigrams, log_weight, {key} AS sample_key
  FROM dw
)
SELECT rank, doc_id, n_bigrams, log_weight, sample_key
FROM (
  SELECT *, row_number() OVER (ORDER BY sample_key DESC, doc_id ASC) AS rank
  FROM keyed
)
WHERE rank <= {_DSIR_K}
ORDER BY rank
"""


SQL_DSIR_RESAMPLE = _sql_dsir_resample()


# --- BPE merge training (r13) -----------------------------------------------

_BPE_MERGES = 8  # graded merge rounds
_BPE_SCALED_MERGES = 64  # graded rounds of bpe_train_scaled
_BPE_VOCAB_CAP = 512  # train on the top-V word types (published practice)
_BPE_MAX_WORD = 48  # longer "words" are corpus junk, not vocabulary
# Symbol-space pin: BPE words are restricted to printable non-space
# ASCII in BOTH engines. '(.)' means different things past ASCII —
# Java regex iterates UTF-16 code UNITS (an astral-plane char is two
# '.' matches) where RE2 iterates code POINTS (one match) — so a doc
# containing an emoji word would silently diverge the engines' symbol
# sequences. The module-wide Java∩RE2 dialect rule, applied to the
# character-iteration semantics themselves.
_BPE_ASCII_SPARK = "^[\\x21-\\x7e]+$"
_BPE_ASCII_SQL = r"^[\x21-\x7e]+$"


def bpe_train(doc: DataFrame, n_merges: int = _BPE_MERGES) -> DataFrame:
    """Byte-pair-encoding MERGE TRAINING (Sennrich, Haddow & Birch, ACL
    2016 §3.2) — the vocabulary-induction step of a tokenizer pipeline:
    learn the top-n_merges merge operations over the corpus, returning
    one row per merge (step, lhs, rhs, pair_count, merged), ordered by
    step. A corpus that runs out of mergeable pairs early yields the
    short table.

    Algorithm, exactly the paper's: words become symbol sequences of
    their characters plus an end-of-word marker '</w>'; each iteration
    counts adjacent symbol pairs weighted by word frequency, merges the
    most frequent pair everywhere (greedy left-to-right within a word,
    the reference implementation's re.sub semantics), and repeats.
    Ties break (count DESC, lhs ASC, rhs ASC) — deterministic in both
    engines over the ASCII symbol space.

    Exactness design: a symbol sequence is ONE string with every symbol
    wrapped in single spaces (' a  b  c ') — so 'apply merge (a, b)' is
    a literal string replace of ' a  b ' with ' ab ', and both Python's
    str.replace and DuckDB's replace() share the non-overlapping
    left-to-right scan that IS the greedy BPE merge order (verified:
    ' a  a  a  a ' -> ' aa  aa '). Pair counting splits on the
    double-space gap. All counts are integers; no floats anywhere.

    Scale shape: the word-count table (_bpe_vocab) is the only stage
    that sees the corpus — one scan, map-side combine, capped at
    _BPE_VOCAB_CAP word types (how every production BPE trainer works).
    The merge loop then runs in the driver over those <= _BPE_VOCAB_CAP
    collected rows (_bpe_train_rows), O(n_merges x vocab) CPU with no
    job per round: merge rounds are sequential, and a Spark job per
    round cost 0.20-0.26 s per merge (SCALING.md r14)."""
    _syms, merges = _bpe_train_rows(doc, n_merges)
    return doc.sparkSession.createDataFrame(
        merges, schema="step int, lhs string, rhs string, pair_count long, merged string"
    ).orderBy("step")


def _bpe_vocab(doc: DataFrame) -> DataFrame:
    """The BPE training input (see bpe_train): the word-count table over
    the corpus, capped to the top-_BPE_VOCAB_CAP word types, with each
    word's initial spaced symbol sequence — (word, cnt, seq)."""
    wc = (
        doc.select(F.explode(F.split("text", " ")).alias("word"))
        .where(
            (F.length("word") <= _BPE_MAX_WORD)
            & F.col("word").rlike(_BPE_ASCII_SPARK)
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    vocab = wc.orderBy(F.desc("cnt"), "word").limit(_BPE_VOCAB_CAP)
    return vocab.select(
        "word",
        "cnt",
        F.concat(
            F.regexp_replace("word", "(.)", " $1 "), F.lit(" </w> ")
        ).alias("seq"),
    )


def _bpe_train_rows(
    doc: DataFrame, n_merges: int
) -> tuple[list[tuple[str, int, str]], list[tuple[int, str, str, int, str]]]:
    """The BPE trainer shared by bpe_train and _bpe_symbols: collect the
    <= _BPE_VOCAB_CAP-row _bpe_vocab table, then run the merge loop in
    the driver. Pairs split on the double-space gap, the argmax
    tie-breaks (count DESC, lhs ASC, rhs ASC) — a pure-ASCII symbol
    space, so Python and DuckDB orderings coincide — and a merge is the
    same left-to-right non-overlapping replace the oracle applies. A
    round with no pairs left stops the loop. Returns (final (word, cnt,
    seq) symbol rows, (step, lhs, rhs, pair_count, merged) merge
    rows)."""
    vocab_rows = _bpe_vocab(doc).collect()
    seqs: list[tuple[str, int, str]] = [
        (r["word"], int(r["cnt"]), r["seq"]) for r in vocab_rows
    ]
    merges: list[tuple[int, str, str, int, str]] = []
    for k in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for _word, cnt, seq in seqs:
            toks = seq.strip().split("  ")
            for a, b in zip(toks, toks[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + cnt
        if not counts:
            break
        (lhs, rhs), pc = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((k, lhs, rhs, pc, lhs + rhs))
        needle, repl = f" {lhs}  {rhs} ", f" {lhs}{rhs} "
        seqs = [(word, cnt, seq.replace(needle, repl)) for word, cnt, seq in seqs]
    return seqs, merges


def _bpe_symbols(doc: DataFrame) -> DataFrame:
    """The trained symbol table (word, cnt, seq) for the APPLY-side
    operators (bpe_encode / bpe_tokenize and their packing consumers):
    the final symbol rows of the same trainer bpe_train runs
    (_bpe_train_rows), matching the oracle's w{_BPE_MERGES} CTE — pinned
    by test_bpe_symbols_match_distributed_chain. Returned as a VALUES
    literal (values_df): a pure LocalRelation the consumers' broadcast
    joins fold directly, no jobs."""
    from ..io import values_df

    syms, _merges = _bpe_train_rows(doc, _BPE_MERGES)
    return values_df(
        doc.sparkSession, syms, "word string, cnt bigint, seq string"
    )


def q_bpe_train_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded entry: 64 BPE merges through bpe_train (distributed word
    counts -> in-driver merge loop -> the merge table). The DuckDB
    oracle is the SAME unrolled count/argmax/replace chain as the
    bpe_train oracle at 64 rounds (AS MATERIALIZED — each w{k} is
    referenced twice and a 64-deep chain must not lean on the engine's
    reuse heuristic), so the gate hashes a 64-row learned merge table
    computed by two completely different trainer architectures.

    Why 64 and not 256 (the other measured sweep point): the oracle's
    unrolled chain costs ~1.4 s at 64 rounds but ~18 s at 256 (and the
    256-way UNION exceeds DuckDB's expression-depth default) — a 13x
    gate-latency tax to re-prove the same prefix-stable arithmetic the
    64-round gate already proves; the 256-round regime is covered by
    the prefix-stability and determinism pytest pins plus the
    SCALING.md timing table instead."""
    return bpe_train(load(spark, sf_dir, "documents"), _BPE_SCALED_MERGES)


def bpe_encode(doc: DataFrame) -> DataFrame:
    """Apply the learned BPE merges back to the corpus — the ENCODE
    side of the tokenizer (what bpe_train's merge table exists FOR):
    per document, the token count under the trained merges vs the
    character-baseline count (chars + the '</w>' marker per word), as
    exact int64 sums. The interesting quantity — how much of the
    corpus's token budget the 8 merges recover — is the ratio of the
    two integer columns; the ratio itself is left to the consumer so
    the graded output stays float-free.

    Scale shape: the tokenizer is the trained symbol table — at most
    _BPE_VOCAB_CAP rows — so encoding is ONE corpus scan, a broadcast
    left join from word to its trained token count (out-of-vocabulary
    words fall back to the character baseline — the standard cap
    semantics), and a per-doc partial agg. The symbol table comes from
    bpe_train's trainer (_bpe_symbols)."""
    w = _bpe_symbols(doc)
    ntok = w.select("word", F.size(F.split(F.trim("seq"), "  ")).alias("n_tok"))
    dw = doc.select("doc_id", F.explode(F.split("text", " ")).alias("w")).where(
        (F.length("w") <= _BPE_MAX_WORD) & F.col("w").rlike(_BPE_ASCII_SPARK)
    )
    return (
        dw.join(F.broadcast(ntok), dw["w"] == ntok["word"], "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.coalesce(F.col("n_tok").cast("long"), F.length("w") + F.lit(1))).alias(
                "bpe_tokens"
            ),
            F.sum(F.length("w") + F.lit(1)).alias("char_tokens"),
        )
        .orderBy("doc_id")
    )


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded entry: the corpus re-tokenized under its own trained BPE
    merges — per-doc word/BPE-token/char-token counts, DuckDB-mirrored
    through the same training CTE chain as bpe_train."""
    return bpe_encode(load(spark, sf_dir, "documents"))


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded entry: the first 8 BPE merges learned from the documents
    corpus by bpe_train's driver merge loop. The DuckDB oracle mirrors
    the WHOLE training — word counts, the capped vocabulary, the
    spaced-symbol-string representation, 8 unrolled
    count/argmax/replace rounds (the kmeans-chain idiom) — so the gate
    hashes the learned merge TABLE, not a summary."""
    return bpe_train(load(spark, sf_dir, "documents"))


# Oracle-side bound on words per document (range-join idiom, like the
# _BPE_MAX_WORD+16 within-word bound): the Spark side has NO such bound
# (posexplode), so the bound only has to hold on the graded corpora —
# the driver generator caps documents at ~100 words; 512 leaves 5x
# headroom and the gate's row counts would expose a silent truncation.
_BPE_DOC_WORDS = 512


def bpe_tokenize(doc: DataFrame, ordered: bool = True) -> DataFrame:
    """Apply the learned BPE merges and emit the actual TOKEN SEQUENCE
    per document (r14, VERDICT #3: bpe_encode returns counts, but a
    training-data pipeline needs the tokens themselves to feed
    sequence_packing). Per document: the total token count and the
    space-joined token string in word order — '</w>' marks word
    boundaries, exactly the trained symbol stream a packer or an
    embedding lookup consumes.

    Scale shape: identical to bpe_encode — the tokenizer is the
    <= _BPE_VOCAB_CAP-row trained symbol table, so tokenization is ONE
    corpus scan (posexplode keeps word order), a broadcast left join
    from word to its trained token string (out-of-vocabulary words fall
    back to the character baseline — the standard cap semantics), and
    one per-doc sort-collect. The token strings stay JVM-side end to
    end (split/trim/array_join — no Python). The symbol table comes
    from bpe_train's trainer (_bpe_symbols)."""
    w = _bpe_symbols(doc)
    toks = F.split(F.trim("seq"), "  ")
    wtok = w.select(
        "word",
        F.array_join(toks, " ").alias("toks"),
        F.size(toks).alias("n_tok"),
    )
    dw = doc.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    ).where((F.length("w") <= _BPE_MAX_WORD) & F.col("w").rlike(_BPE_ASCII_SPARK))
    # OOV fallback = the w0 character baseline: 'abc' -> 'a b c </w>'
    char_toks = F.concat(F.regexp_replace("w", "(.)", "$1 "), F.lit("</w>"))
    joined = dw.join(F.broadcast(wtok), dw["w"] == wtok["word"], "left").select(
        "doc_id",
        "pos",
        F.coalesce("toks", char_toks).alias("toks"),
        F.coalesce(F.col("n_tok").cast("long"), F.length("w") + F.lit(1)).alias(
            "n_tok"
        ),
    )
    out = (
        joined.groupBy("doc_id")
        .agg(
            F.sum("n_tok").alias("n_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "toks"))),
                    lambda s: s["toks"],
                ),
                " ",
            ).alias("tokens"),
        )
    )
    # ordered=False skips the presentation-order sort for composing
    # operators (pack_shards) whose next shuffle would discard it
    return out.orderBy("doc_id") if ordered else out


def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded entry: the corpus's actual token sequences under its own
    trained BPE merges — per-doc token count + the space-joined token
    string, DuckDB-mirrored through the shared training CTE chain (the
    oracle string_aggs per-word token strings in word order via the
    range-join position idiom)."""
    return bpe_tokenize(load(spark, sf_dir, "documents"))


def _sql_bpe_ctes(n_merges: int = _BPE_MERGES, materialized: bool = False) -> str:
    """The BPE training lineage as SQL CTEs — ONE definition shared by
    the bpe_train and bpe_encode oracles (mirrors _bpe_vocab and the
    _bpe_train_rows merge loop: word counts, capped vocab, n_merges
    unrolled count/argmax/replace rounds). Emits wc, vocab, w0..w{K}, p1..p{K}, m1..m{K}.

    `materialized=True` stamps AS MATERIALIZED on every CTE — required
    past ~a few dozen rounds (the bpe_train_scaled oracle at 64): each
    w{k} is referenced twice, and relying on DuckDB's own reuse
    heuristic across a 64-deep chain is both slower and version-
    dependent; defaults keep the long-graded 8-round oracle strings
    byte-identical."""
    m = "MATERIALIZED " if materialized else ""
    ctes = [
        f"""wc AS {m}(
  SELECT w AS word, count(*) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE length(w) <= {_BPE_MAX_WORD} AND regexp_matches(w, '{_BPE_ASCII_SQL}')
  GROUP BY w
),
vocab AS {m}(SELECT word, cnt FROM wc ORDER BY cnt DESC, word LIMIT {_BPE_VOCAB_CAP}),
w0 AS {m}(
  SELECT word, cnt,
         regexp_replace(word, '(.)', ' \\1 ', 'g') || ' </w> ' AS seq
  FROM vocab
)"""
    ]
    for k in range(1, n_merges + 1):
        ctes.append(
            f"""p{k} AS {m}(
  SELECT t[i] AS lhs, t[i+1] AS rhs, sum(cnt) AS pair_count
  FROM (SELECT cnt, string_split(trim(seq), '  ') AS t FROM w{k - 1}),
       range(1, {_BPE_MAX_WORD + 16}) r(i)
  WHERE i < len(t)
  GROUP BY 1, 2
),
m{k} AS {m}(
  SELECT {k} AS step, lhs, rhs, pair_count FROM p{k}
  ORDER BY pair_count DESC, lhs, rhs LIMIT 1
),
w{k} AS {m}(
  SELECT word, cnt,
         CASE WHEN m.lhs IS NULL THEN seq
              ELSE replace(seq, ' ' || m.lhs || '  ' || m.rhs || ' ',
                           ' ' || m.lhs || m.rhs || ' ')
         END AS seq
  FROM w{k - 1} LEFT JOIN m{k} m ON true
)"""
        )
    return ",".join(ctes)


def _sql_bpe_train(n_merges: int = _BPE_MERGES, materialized: bool = False) -> str:
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM m{k}" for k in range(1, n_merges + 1)
    )
    return f"""
WITH {_sql_bpe_ctes(n_merges, materialized)}
SELECT step, lhs, rhs, CAST(pair_count AS BIGINT) AS pair_count,
       lhs || rhs AS merged
FROM ({union})
ORDER BY step
"""


SQL_BPE_TRAIN = _sql_bpe_train()

SQL_BPE_TRAIN_SCALED = _sql_bpe_train(_BPE_SCALED_MERGES, materialized=True)


SQL_BPE_ENCODE = f"""
WITH {_sql_bpe_ctes()},
ntok AS (
  SELECT word, len(string_split(trim(seq), '  ')) AS n_tok FROM w{_BPE_MERGES}
),
dw AS (
  SELECT doc_id, w
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE length(w) <= {_BPE_MAX_WORD} AND regexp_matches(w, '{_BPE_ASCII_SQL}')
)
SELECT d.doc_id,
       count(*) AS n_words,
       CAST(sum(coalesce(n.n_tok, length(d.w) + 1)) AS BIGINT) AS bpe_tokens,
       CAST(sum(length(d.w) + 1) AS BIGINT) AS char_tokens
FROM dw d LEFT JOIN ntok n ON d.w = n.word
GROUP BY 1
ORDER BY 1
"""


SQL_BPE_TOKENIZE = f"""
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
)
SELECT d.doc_id,
       CAST(sum(coalesce(n.n_tok, length(d.w) + 1)) AS BIGINT) AS n_tokens,
       string_agg(
         coalesce(n.toks, regexp_replace(d.w, '(.)', '\\1 ', 'g') || '</w>'),
         ' ' ORDER BY d.pos) AS tokens
FROM dw d LEFT JOIN wtok n ON d.w = n.word
GROUP BY 1
ORDER BY 1
"""


QUERIES: dict[str, tuple] = {
    "bpe_train": (q_bpe_train, SQL_BPE_TRAIN),
    "bpe_train_scaled": (q_bpe_train_scaled, SQL_BPE_TRAIN_SCALED),
    "bpe_encode": (q_bpe_encode, SQL_BPE_ENCODE),
    "bpe_tokenize": (q_bpe_tokenize, SQL_BPE_TOKENIZE),
    "winnow_fingerprints": (q_winnow_fingerprints, SQL_WINNOW_FINGERPRINTS),
    "gopher_filter": (q_gopher_filter, SQL_GOPHER_FILTER),
    "c4_filter": (q_c4_filter, SQL_C4_FILTER),
    "text_stats": (q_text_stats, SQL_TEXT_STATS),
    "bm25_search": (q_bm25_search, SQL_BM25_SEARCH),
    "vocab_stats": (q_vocab_stats, SQL_VOCAB_STATS),
    "dup_ngram_frac": (q_dup_ngram_frac, SQL_DUP_NGRAM_FRAC),
    "duplicate_spans": (q_duplicate_spans, SQL_DUPLICATE_SPANS),
    "perplexity_bucket": (q_perplexity_bucket, SQL_PERPLEXITY_BUCKET),
    "bigram_perplexity": (q_bigram_perplexity, SQL_BIGRAM_PERPLEXITY),
    "tokenizer_fertility": (q_tokenizer_fertility, SQL_TOKENIZER_FERTILITY),
    "pii_scrub": (q_pii_scrub, SQL_PII_SCRUB),
    "repetition_stats": (q_repetition_stats, SQL_REPETITION_STATS),
    "tfidf_top_terms": (q_tfidf_top_terms, SQL_TFIDF_TOP_TERMS),
    "token_count": (q_token_count, SQL_TOKEN_COUNT),
    "lang_id": (q_lang_id, SQL_LANG_ID),
    "quality_score": (q_quality_score, SQL_QUALITY_SCORE),
    "doc_fingerprint": (q_doc_fingerprint, SQL_DOC_FINGERPRINT),
    "dsir_weights": (q_dsir_weights, SQL_DSIR_WEIGHTS),
    "dsir_resample": (q_dsir_resample, SQL_DSIR_RESAMPLE),
}
