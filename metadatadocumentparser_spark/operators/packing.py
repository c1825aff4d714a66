"""Sequence packing — greedy bin-packing of documents into fixed-capacity
training sequences (the "sample packing" step that turns a deduped corpus
into dense pretraining examples; unpacked batches waste 30-60% of tokens
as padding).

Distribution model: bin packing is inherently sequential, so the corpus is
split into SHARDS (deterministic md5 of the id — stable under
repartitioning), and first-fit-decreasing runs INSIDE each shard in an
Arrow-batched applyInPandas. Packs never span shards: pack quality is the
within-shard FFD quality (≥ (11/9)·OPT asymptotically per shard), while
the shard count × capacity bounds per-task memory — the knob that makes
this run at any corpus size. Pack ids are (shard, local_idx) — globally
unique, reproducible, no driver coordination.

Documents longer than the capacity get a pack of their own (flagged
oversize — the caller decides whether to split/truncate upstream).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PACKED_DDL = (
    "shard int, pack_idx int, pack_id string, ids array<bigint>, "
    "n_docs int, total_tokens bigint, oversize boolean"
)


def _ffd(ids, sizes, capacity: int):
    """First-fit-decreasing over one shard: returns list of
    (ids, total, oversize) packs. Deterministic: sort by (-size, id).

    EXACT first-fit in O(n log n) (r6): a max-segment-tree over open
    packs' residual capacities answers "leftmost pack with residual ≥ s"
    in O(log n) — the same pack a linear scan over all open packs picks,
    so membership is byte-identical (the docs_packing oracle replays it;
    tests/test_properties.py keeps the linear r1-r5 form as the
    reference). Eligibility in the linear form is totals+s ≤ cap AND
    totals < cap, i.e. residual ≥ max(s, 1) — oversize packs (negative
    residual) are never eligible."""
    n = len(ids)
    order = sorted(range(n), key=lambda i: (-sizes[i], ids[i]))
    packs: list[list[int]] = []   # indexes into ids
    totals: list[int] = []
    # segment tree over pack slots 0..n-1 (residuals; -1 = slot unused —
    # an unused slot must never satisfy a query, and residuals of real
    # packs are ≥ 0 for non-oversize, < 0 impossible to match max(s,1))
    size = 1
    while size < max(n, 1):
        size <<= 1
    tree = [-1] * (2 * size)

    def update(pos: int, val: int):
        i = size + pos
        tree[i] = val
        i >>= 1
        while i:
            tree[i] = tree[2 * i] if tree[2 * i] >= tree[2 * i + 1] else tree[2 * i + 1]
            i >>= 1

    def first_fit(need: int) -> int:
        """Leftmost pack slot with residual >= need, or -1."""
        if tree[1] < need:
            return -1
        i = 1
        while i < size:
            i <<= 1
            if tree[i] < need:
                i += 1
        return i - size

    for i in order:
        s = sizes[i]
        if s >= capacity:
            # oversize: own pack, never a fit target (residual < 0 stays
            # out of the tree entirely)
            packs.append([i])
            totals.append(s)
            continue
        p = first_fit(s if s > 1 else 1)
        if p >= 0:
            packs[p].append(i)
            totals[p] += s
            update(p, capacity - totals[p])
        else:
            packs.append([i])
            totals.append(s)
            update(len(packs) - 1, capacity - s)
    return [
        ([ids[i] for i in p], totals[k], totals[k] > capacity)
        for k, p in enumerate(packs)
    ]


def pack_sequences(
    df: DataFrame,
    id_col: str,
    size_col: str,
    capacity: int = 2048,
    n_shards: int = 64,
) -> DataFrame:
    """(shard, pack_idx, pack_id, ids, n_docs, total_tokens, oversize):
    every input row assigned to exactly one pack; total_tokens ≤ capacity
    unless the pack is a single oversize document."""
    shard = F.pmod(
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("bigint"),
        F.lit(n_shards),
    ).cast("int")
    # a NULL or non-integral id has no identity to pack under — fail loudly
    # (a silent drop or a NaN shard key would either lose rows or crash the
    # pandas kernel with an opaque dtype error). try_cast keeps the check
    # ANSI-independent: a plain cast would throw CAST_INVALID_INPUT before
    # this guard ever ran (ANSI on) or yield NULLs that crash _ffd's sort
    # (ANSI off). A NULL size packs as 0 tokens (an unmeasured doc occupies
    # no capacity — documented contract).
    cast_id = F.col(id_col).try_cast("bigint")
    null_id_guard = (
        F.when(
            F.col(id_col).isNull(),
            F.raise_error(F.lit("pack_sequences: NULL id cannot be packed")),
        )
        .when(
            cast_id.isNull(),
            F.raise_error(
                F.lit("pack_sequences: non-integral id cannot be packed")
            ),
        )
        .otherwise(cast_id)
    )
    src = df.select(
        shard.alias("shard"),
        null_id_guard.alias("id"),
        F.coalesce(F.col(size_col).cast("bigint"), F.lit(0)).alias("sz"),
    )

    def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        sh = int(key[0])
        packs = _ffd(pdf["id"].tolist(), pdf["sz"].tolist(), capacity)
        return pd.DataFrame(
            {
                "shard": pd.Series([sh] * len(packs), dtype="int32"),
                "pack_idx": pd.Series(range(len(packs)), dtype="int32"),
                "pack_id": [f"{sh}-{k}" for k in range(len(packs))],
                "ids": [sorted(p[0]) for p in packs],
                "n_docs": pd.Series([len(p[0]) for p in packs], dtype="int32"),
                "total_tokens": pd.Series([p[1] for p in packs], dtype="int64"),
                "oversize": [p[2] for p in packs],
            }
        )

    return src.groupBy("shard").applyInPandas(kernel, schema=PACKED_DDL)


PACKED_SPLIT_DDL = (
    "shard int, pack_idx int, pack_id string, "
    "parts array<struct<id: bigint, part: int, tokens: bigint>>, "
    "boundaries array<bigint>, n_parts int, total_tokens bigint"
)


def pack_sequences_split(
    df: DataFrame,
    id_col: str,
    size_col: str,
    capacity: int = 2048,
    n_shards: int = 64,
) -> DataFrame:
    """The TRUNCATION policy companion to pack_sequences: documents longer
    than the capacity are SPLIT into capacity-sized parts first (part i of
    doc d carries tokens [i·cap, min((i+1)·cap, sz))), so no pack ever
    exceeds the capacity — the policy used when training consumes fixed
    windows and long documents simply continue in the next sequence.

    Output parts are (id, part, tokens): every (id, part) appears in
    exactly one pack; token mass is conserved (Σ part tokens = Σ sz).
    Same md5 sharding/determinism as pack_sequences; shard keys hash
    (id, part) so a mega-document's parts spread across shards instead of
    serializing one task."""
    cast_id = F.col(id_col).try_cast("bigint")
    guard = (
        F.when(
            F.col(id_col).isNull(),
            F.raise_error(F.lit("pack_sequences_split: NULL id cannot be packed")),
        )
        .when(
            cast_id.isNull(),
            F.raise_error(
                F.lit("pack_sequences_split: non-integral id cannot be packed")
            ),
        )
        .otherwise(cast_id)
    )
    sz = F.coalesce(F.col(size_col).cast("bigint"), F.lit(0))
    parts = df.select(guard.alias("id"), sz.alias("sz")).select(
        "id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, int(greatest(ceil(sz / {capacity}.0), 1)) - 1),"
                f" i -> least(sz - i * {capacity}L, {capacity}L))"
            )
        ).alias("part", "tokens"),
    ).where(F.col("tokens") > 0)
    # zero-size docs keep one zero-token part so they are never dropped
    zero = df.select(guard.alias("id"), sz.alias("sz")).where(sz <= 0).select(
        "id", F.lit(0).alias("part"), F.lit(0).cast("bigint").alias("tokens")
    )
    parts = parts.unionByName(zero)
    shard = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("id").cast("string"), F.col("part"))),
                1, 8,
            ),
            16, 10,
        ).cast("bigint"),
        F.lit(n_shards),
    ).cast("int")
    src = parts.select(shard.alias("shard"), "id", "part", "tokens")

    def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        sh = int(key[0])
        keys = list(zip(pdf["id"].tolist(), pdf["part"].tolist()))
        packs = _ffd(keys, pdf["tokens"].tolist(), capacity)
        tok = dict(zip(keys, pdf["tokens"].tolist()))
        return pd.DataFrame(
            {
                "shard": pd.Series([sh] * len(packs), dtype="int32"),
                "pack_idx": pd.Series(range(len(packs)), dtype="int32"),
                "pack_id": [f"{sh}-{k}" for k in range(len(packs))],
                "parts": [
                    [
                        {"id": int(i), "part": int(p), "tokens": int(tok[(i, p)])}
                        for i, p in sorted(pk[0])
                    ]
                    for pk in packs
                ],
                # cumulative token starts per part (0, t0, t0+t1, ...):
                # the block-diagonal attention-mask boundaries a packed
                # training loader needs — order matches `parts`
                "boundaries": [
                    [int(x) for x in __import__("itertools").accumulate(
                        [0] + [tok[k2] for k2 in sorted(pk[0])][:-1]
                    )]
                    for pk in packs
                ],
                "n_parts": pd.Series([len(pk[0]) for pk in packs], dtype="int32"),
                "total_tokens": pd.Series([pk[1] for pk in packs], dtype="int64"),
            }
        )

    return src.groupBy("shard").applyInPandas(kernel, schema=PACKED_SPLIT_DDL)
