"""Central query registry: name -> (spark_fn, oracle_sql | None).

Each module under operators/ exposes a QUERIES dict of colocated
(spark implementation, DuckDB oracle SQL) pairs; this module merges them
for the driver contract in __spark_entry__.py.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _modules():
    # Imported directly, not under a try: every module is part of the
    # package, so a module that fails to import must fail the registry
    # instead of silently dropping its queries from the gate.
    from .operators import (
        dedup,
        geo,
        indices,
        ingest,
        multimodal,
        qc,
        regression,
        relational,
        sampling,
        similarity,
        text,
        timeseries,
    )

    # Module order is deliberate: the driver correctness gate checks the
    # first N registry entries, so modules whose queries were not yet
    # driver-verified (round-1 gate stopped at 50) come first; the
    # long-proven relational/timeseries bulk rotates to the back.
    return [ingest, geo, dedup, similarity, text, multimodal, sampling, qc, regression, indices, relational, timeseries]


# Queries hoisted to the front of the registry. The driver's
# correctness gate checks only the first 50 entries, so this window
# holds exactly 50 names (a unit test pins the count): the queries
# whose last driver evidence is oldest or whose code changed most
# recently. Every other query follows in module order.
_PRIORITY = (
    "packed_shards",
    "bpe_train_scaled",
    "ann_srp_compacted",
    "ann_ivfadc_persisted",
    "ann_srp_persisted",
    "ann_srp_incremental",
    "mp4_sample_tables",
    "packed_ids",
    "ann_recall",
    "bm25_search",
    "c4_filter",
    "chatty_kits",
    "cluster_stats",
    "csv_ingest",
    "customers_without_orders",
    "dedup_exact",
    "dedup_keep_best",
    "dew_point",
    "dsir_resample",
    "embedding_dim_stats",
    "embedding_neardup",
    "event_sessions",
    "gap_detection",
    "geofence_transitions",
    "grubbs_outliers",
    "hard_negatives",
    "hash_sample",
    "hourly_gapfill",
    "interval_inference",
    "joost_correction",
    "lang_id",
    "latest_per_user",
    "linear_regression",
    "lki_index",
    "media_codec_matrix",
    "media_decode_stats",
    "media_embed",
    "media_structure",
    "moving_average",
    "ols_summary",
    "pii_scrub",
    "pm_mass_fill",
    "quality_score",
    "static_runs",
    "static_value_monitor",
    "temperature_mix",
    "timeslice_avg",
    "tokenizer_fertility",
    "unpivot_long",
    "wide_view",
)


def _hygienic(fn: Callable[[SparkSession, str], DataFrame]):
    """Release every tracked cache on each query entry, the same query
    re-entering included (see cache.begin_query): live cached storage
    stays bounded by one query's working set across any sweep, each
    query's own persists survive through its collect, and a re-run
    recomputes from its inputs instead of reading a warm cache."""
    import functools

    from .cache import begin_query

    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        begin_query(fn.__qualname__)
        return fn(spark, sf_dir)

    return run


def registry() -> dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]]:
    out: dict[str, tuple] = {}
    for mod in _modules():
        for name, pair in mod.QUERIES.items():
            if name in out:
                raise ValueError(f"duplicate query name {name!r}")
            out[name] = (_hygienic(pair[0]), pair[1])
    front = {n: out[n] for n in _PRIORITY if n in out}
    rest = {n: p for n, p in out.items() if n not in front}
    return {**front, **rest}


def spark_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _sql) in registry().items()}


def oracle_sqls() -> dict[str, str]:
    return {name: sql for name, (_fn, sql) in registry().items() if sql is not None}
