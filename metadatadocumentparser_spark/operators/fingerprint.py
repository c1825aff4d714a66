"""Document fingerprinting via rolling hash + winnowing.

Winnowing (Schleimer, Wilkerson, Aiken — "Winnowing: Local Algorithms for
Document Fingerprinting", SIGMOD 2003; the MOSS algorithm): k-gram
Rabin-Karp rolling hashes, then the minimum hash in each sliding window of
w consecutive hashes (rightmost minimum), deduplicated — a position-robust
fingerprint set whose overlap detects partial/reordered duplication that
whole-document hashing misses.

The rolling-hash scan is inherently per-character sequential → a vectorized
numpy kernel inside mapInPandas (Arrow-batched; no per-row Python). The
downstream overlap join is plain DataFrame algebra.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

K = 8          # k-gram length
W = 16         # winnowing window
BASE = np.uint64(1000003)
# Document-frequency cap for the overlap self-join (r6, the dedup.py
# MAX_SHINGLE_DF pattern): a fingerprint surviving winnowing in N docs
# (license headers, boilerplate) emits O(N²) candidate rows. Fingerprints
# above the cap carry no discriminative signal (the MOSS rationale) and
# are dropped BEFORE the join, bounding pair volume. 512 is far above
# the organic max df of the oracle-checked corpora (sf0.001: 341,
# sf0.01: 325 — those results are byte-identical with or without the
# cap) while still bounding the pathological case.
MAX_FP_DF = 512


def rolling_hashes(text: str) -> np.ndarray:
    """Polynomial rolling hashes of every K-gram (deterministic numpy):
    h_i = sum codes[i+j] * BASE^(K-1-j), mod 2^64 (uint64 wraparound).
    Empty array when len(text) < K. Shared by winnowing and the
    content-defined chunker (operators/chunking.py)."""
    if len(text) < K:
        return np.empty(0, dtype=np.uint64)
    codes = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    n = codes.size - K + 1
    powers = np.array([BASE ** np.uint64(K - 1 - j) for j in range(K)], dtype=np.uint64)
    hashes = np.zeros(n, dtype=np.uint64)
    for j in range(K):  # K (=8) vectorized passes, not per-char Python
        hashes += codes[j : j + n] * powers[j]
    return hashes


def _winnow_one(text: str) -> list:
    """Fingerprints of one document (deterministic, pure numpy)."""
    hashes = rolling_hashes(text)
    n = int(hashes.size)
    if n == 0:
        return []
    if n <= W:
        return [int(hashes.min())]
    # rightmost-minimum winnowing via a strided window view
    win = np.lib.stride_tricks.sliding_window_view(hashes, W)
    rev_argmin = W - 1 - np.argmin(win[:, ::-1], axis=1)
    picks = rev_argmin + np.arange(win.shape[0])
    return [int(h) for h in sorted(set(int(hashes[p]) for p in np.unique(picks)))]


def winnow_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """id, fingerprint (bigint) — exploded winnowed fingerprint set."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fps = [], []
            for i, t in zip(pdf["id"], pdf["t"]):
                if i is None:  # keyless rows cannot carry fingerprints
                    continue
                for h in _winnow_one(t if isinstance(t, str) else ""):
                    ids.append(i)
                    # store as signed 64-bit (Spark bigint)
                    fps.append(h - (1 << 64) if h >= (1 << 63) else h)
            # no forced int64 dtype: the id column keeps the caller's
            # type (string doc keys crashed pd.Series(dtype='int64') —
            # r5 review)
            yield pd.DataFrame({"id": ids,
                                "fingerprint": pd.Series(fps, dtype="int64")})

    from ._util import ensure_min_parallelism

    src = ensure_min_parallelism(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
    )
    id_ddl = src.schema["id"].dataType.simpleString()
    return src.mapInPandas(kernel, schema=f"id {id_ddl}, fingerprint bigint")


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_shared: int = 2,
    max_fp_df: int = MAX_FP_DF,
) -> DataFrame:
    """Near-dup candidates: pairs sharing ≥ min_shared winnowed fingerprints
    (fingerprint-blocked join — linear shuffle, like the shingle join).

    Fingerprints appearing in more than ``max_fp_df`` documents are
    dropped before the self-join (see MAX_FP_DF) — without the cap one
    boilerplate fingerprint shared by N docs joins O(N²) rows."""
    fp = winnow_fingerprints(df, id_col, text_col)
    rare = (
        fp.groupBy("fingerprint")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") <= int(max_fp_df))
        .select("fingerprint")
    )
    fp = fp.join(rare, "fingerprint")
    return (
        fp.alias("a")
        .join(fp.alias("b"), "fingerprint")
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("shared"))
        .where(F.col("shared") >= min_shared)
    )
