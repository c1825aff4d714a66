"""IVF-PQ — the composed billion-scale ANN index (Jégou et al. 2011 §IV;
the architecture FAISS calls IVFPQ): a coarse quantizer partitions the
corpus into inverted lists (operators/kmeans.py), and each vector stores
only its list id plus an m-byte PQ code of its RESIDUAL (vector minus its
list centroid). Residual coding is what makes the composition better than
either piece alone: residuals are small and centered, so the same k
codewords per subspace quantize them far more precisely than raw vectors.

Query path: probe the n_probe nearest lists; for each probed list build
the per-list ADC table from the query's residual against that list's
shared codebooks; score ONLY that list's members by m table lookups.
Corpus side touches (codes, list_id) — never a float vector; floats are
fetched only by the optional exact rerank (pq.pq_topk_rerank pattern).

Scale shape: build = kmeans (k×dim driver state) + one assignment pass +
one residual-encode pass (all mapInPandas, no shuffle); codes table is
~(1 + m) small ints per vector. Search = one mapInPandas over the codes
with broadcast (nq × n_probe × m × k) tables + a top-k window.

Determinism: inherits kmeans' md5 seeding and argmin tie-breaks; codes
and probe sets are exactly reproducible across partitionings.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .kmeans import kmeans_fit
from .pq import _normalize, pq_fit


def ivfpq_build(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_list: int = 8,
    m: int = 8,
    k: int = 16,
    max_iter: int = 5,
    centroids=None,
    codebooks=None,
) -> dict:
    """Returns {"centroids": (n_list, dim), "codebooks": (m, k, dim/m),
    "codes": DataFrame (id, list_id, codes array<int>)}.

    ``centroids`` / ``codebooks``: optional pre-trained (or literal)
    arrays that skip the corresponding k-means fit — the pattern
    ivf.ivf_cosine_topk uses. With both given the build is a pure
    assignment + encode pass, fully mirrorable by a static SQL oracle
    (the driver row's posture: formula constants, every code pinned)."""
    spark = emb.sparkSession
    # normalized corpus staged once: coarse fit, assignment, residual fit
    # and encode all read it
    unit = F.sqrt(F.aggregate(vec_col, F.lit(0.0), lambda a, x: a + x * x))
    src = emb.select(
        F.col(id_col).alias("id"),
        F.transform(
            vec_col, lambda x: x / F.when(unit > 0, unit).otherwise(F.lit(1.0))
        ).alias("v"),
    ).localCheckpoint(eager=True)

    if centroids is None:
        coarse = kmeans_fit(src, "id", "v", k=n_list, max_iter=max_iter)
        cents = coarse["centroids"]
        dim = cents.shape[1]
        assigned = coarse["assignments"].withColumnRenamed("cluster", "list_id")
    else:
        cents = np.asarray(centroids, dtype=np.float64)
        n_list, dim = cents.shape
        cents_b = spark.sparkContext.broadcast(cents)

        def assign_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            cc = cents_b.value
            for pdf in batches:
                vecs = np.array(
                    [np.asarray(v, dtype=np.float64) for v in pdf["v"]]
                ).reshape(len(pdf), dim)
                # one term at a time: left-assoc accumulation matches the
                # SQL oracle's literal `+` chain bit-for-bit (numpy's
                # .sum is pairwise — near-tie lists could flip argmin)
                d2 = np.zeros((len(pdf), n_list))
                for t in range(dim):
                    diff = vecs[:, t, None] - cc[None, :, t]
                    d2 += diff * diff
                yield pd.DataFrame(
                    {"id": pdf["id"], "list_id": d2.argmin(axis=1).astype("int32")}
                )

        assigned = src.mapInPandas(
            assign_kernel, schema="id bigint, list_id int"
        )
    with_res = (
        src.join(assigned, "id")
        .select("id", "list_id", "v")
    )
    cent_b = spark.sparkContext.broadcast(cents)

    def residual_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cc = cent_b.value
        for pdf in batches:
            vecs = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["v"]]
            ).reshape(len(pdf), dim)
            res = vecs - cc[pdf["list_id"].to_numpy()]
            yield pd.DataFrame(
                {"id": pdf["id"], "list_id": pdf["list_id"], "v": list(res)}
            )

    residuals = with_res.mapInPandas(
        residual_kernel, schema="id bigint, list_id int, v array<double>"
    ).localCheckpoint(eager=True)

    if codebooks is None:
        books = pq_fit(
            residuals, "id", "v", m=m, k=k, max_iter=max_iter, normalize=False
        )
    else:
        books = np.asarray(codebooks, dtype=np.float64)
        if books.shape != (m, k, dim // m):
            raise ValueError(
                f"ivfpq_build: codebooks shape {books.shape} != {(m, k, dim // m)}"
            )
    books_b = spark.sparkContext.broadcast(books)
    sub = dim // m

    def encode_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bb = books_b.value
        for pdf in batches:
            vecs = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["v"]]
            ).reshape(len(pdf), dim)
            codes = np.empty((len(pdf), m), dtype="int32")
            for j in range(m):
                s = vecs[:, j * sub : (j + 1) * sub]
                # sequential left-assoc accumulation — same rationale as
                # pq._encode_kernel (cross-engine argmin determinism)
                d2 = np.zeros((len(pdf), bb.shape[1]))
                for t in range(sub):
                    diff = s[:, t, None] - bb[j][None, :, t]
                    d2 += diff * diff
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {"id": pdf["id"], "list_id": pdf["list_id"], "codes": list(codes)}
            )

    codes = residuals.mapInPandas(
        encode_kernel, schema="id bigint, list_id int, codes array<int>"
    )
    return {"centroids": cents, "codebooks": books, "codes": codes}


def ivfpq_topk(
    index: dict,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """(qid, rank, nid, adc_d2): ADC top-k over the probed lists only.
    Queries are collected + broadcast (the bounded side, capped at
    similarity.MAX_QUERIES like pq_topk/cosine_topk)."""
    from .similarity import collect_queries_capped

    cents = np.asarray(index["centroids"], dtype=np.float64)
    books = np.asarray(index["codebooks"], dtype=np.float64)
    n_list, dim = cents.shape
    m, kk, sub = books.shape
    q_rows = collect_queries_capped(queries, id_col, vec_col, "ivfpq_topk")
    qids = np.array([r.qid for r in q_rows])
    qvs = _normalize(np.array([r.qv for r in q_rows], dtype=np.float64))
    # probe sets: n_probe nearest centroids per query (L2 on unit vectors
    # == cosine order), then one ADC table per (query, probed list) from
    # the query's residual against the SHARED codebooks
    # n_probe > n_list means probe-all; clamp so the (nq, n_probe) probe
    # matrix and the loops below agree (unclamped, probes has only n_list
    # columns and range(n_probe) walks off the end)
    n_probe = min(n_probe, n_list)
    d2c = ((qvs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    probes = np.argsort(d2c, axis=1)[:, :n_probe]  # (nq, n_probe)
    tables = np.zeros((len(qids), n_probe, m, kk))
    for qi in range(len(qids)):
        for pi in range(n_probe):
            r = qvs[qi] - cents[probes[qi, pi]]
            for j in range(m):
                rs = r[j * sub : (j + 1) * sub]
                tables[qi, pi, j] = ((rs[None, :] - books[j]) ** 2).sum(axis=1)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cs = np.array([np.asarray(c) for c in pdf["codes"]]).reshape(
                len(pdf), m
            )
            lids = pdf["list_id"].to_numpy()
            ids = pdf["id"].to_numpy()
            out_q, out_n, out_d = [], [], []
            for qi in range(len(qids)):
                for pi in range(n_probe):
                    mask = lids == probes[qi, pi]
                    if not mask.any():
                        continue
                    sel = cs[mask]
                    d2 = np.zeros(sel.shape[0])
                    for j in range(m):
                        d2 += tables[qi, pi, j][sel[:, j]]
                    out_q.append(np.full(sel.shape[0], qids[qi]))
                    out_n.append(ids[mask])
                    out_d.append(d2)
            if not out_q:
                yield pd.DataFrame(
                    {"qid": pd.Series([], dtype="int64"),
                     "nid": pd.Series([], dtype="int64"),
                     "adc_d2": pd.Series([], dtype="float64")}
                )
                continue
            yield pd.DataFrame(
                {
                    "qid": np.concatenate(out_q),
                    "nid": np.concatenate(out_n),
                    "adc_d2": np.concatenate(out_d),
                }
            )

    scored = index["codes"].mapInPandas(
        kernel, schema="qid bigint, nid bigint, adc_d2 double"
    ).where(F.col("qid") != F.col("nid"))
    w = Window.partitionBy("qid").orderBy(F.col("adc_d2").asc(), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "rank", "nid", F.round("adc_d2", 6).alias("adc_d2"))
    )


def ivfpq_topk_rerank(
    index: dict,
    emb: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 2,
    shortlist: int = 50,
) -> DataFrame:
    """Two-stage IVF-PQ search: ADC shortlist over probed lists, exact
    cosine rerank fetching floats for |q|×shortlist rows only. Same
    output contract as similarity.cosine_topk."""
    from .similarity import cosine_expr

    cand = ivfpq_topk(
        index, queries, id_col=id_col, vec_col=vec_col, k=shortlist, n_probe=n_probe
    ).select("qid", "nid")
    nv = emb.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv"))
    qv = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
    scored = (
        cand.join(nv, "nid")
        .join(F.broadcast(qv), "qid")
        .select(
            "qid",
            "nid",
            cosine_expr(F.col("qv"), F.col("nv")).alias("cosine"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "rank", "nid", "cosine")
    )
