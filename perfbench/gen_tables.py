"""Seeded input tables for the query workloads.

Writes the ten parquet tables `mysense_spark.io.TABLES` names with the
generators of `tools/gen_scale_data.py`, which mirror the statistics of
the shipped scale-factor data. `events`, `documents` and `embeddings`
are sized by the caller; the relational tables follow the events at the
shipped ratio (sf = events / 1M, so 20k events come with 3000 customers,
the kit positions `geo.spatial_pairs` reads).
"""

from __future__ import annotations

import os

import numpy as np

from tools.gen_scale_data import gen_documents, gen_embeddings, gen_events, gen_tpch

EVENTS_PER_SF = 1_000_000
EVENTS_PER_USER = 66


def write_tables(out_dir: str, seed: int, n_events: int, n_docs: int, n_vecs: int) -> str:
    """Write every table as `<out_dir>/<name>.parquet`; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    frames = {
        "events": gen_events(rng, n_events, max(n_events // EVENTS_PER_USER, 10)),
        "documents": gen_documents(rng, n_docs),
        "embeddings": gen_embeddings(rng, n_vecs),
    }
    for name, df in frames.items():
        # microsecond timestamps, as in the shipped tables
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False,
                      coerce_timestamps="us", allow_truncated_timestamps=True)
    gen_tpch(rng, out_dir, n_events / EVENTS_PER_SF)
    return out_dir
