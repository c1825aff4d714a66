"""bench.py's QUERIES registry is the one definition of the timed bench
queries: its names are the `queries` keys of every BENCH_r0*.json line,
so a dropped or renamed query breaks the bench trajectory."""

from __future__ import annotations

import bench

FROZEN_QUERIES = (
    "parse_stage", "extract_turns", "extract_formulas",
    "tpch_q1", "tpch_q3", "minhash_lsh", "cosine_topk", "sessionize",
    "asof_join", "cdc_chunks", "paradedup", "pack_sequences", "quantize",
    "gopher_ngrams", "substr_dedup", "lm_train", "lm_score",
)


def test_bench_registry_names_frozen():
    assert tuple(bench.QUERIES) == FROZEN_QUERIES
    assert set(bench.EXTRACT_STAGES) <= set(bench.QUERIES)
