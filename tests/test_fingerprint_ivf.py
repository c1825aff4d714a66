"""Winnowing fingerprints + IVF ANN: determinism, overlap detection,
recall vs brute force."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from metadatadocumentparser_spark.operators.fingerprint import (
    _winnow_one,
    winnow_fingerprints,
    winnow_overlap_pairs,
)
from metadatadocumentparser_spark.operators.ivf import ivf_cosine_topk
from metadatadocumentparser_spark.operators.similarity import cosine_topk
from metadatadocumentparser_spark.sources import load_table

# same env knob as tests/test_queries_oracle.py: the per-round sf0.1
# replica run (COVERAGE.md) sets MDP_ORACLE_SF so trained-model
# determinism (k-means, PQ, IVF-PQ) is evidenced at 10x scale too
import os

SF = os.environ.get("MDP_ORACLE_SF", "/root/testdata/sf0.001")


def test_winnow_pure():
    a = _winnow_one("the quick brown fox jumps over the lazy dog " * 4)
    assert a == _winnow_one("the quick brown fox jumps over the lazy dog " * 4)
    assert len(a) > 0
    assert _winnow_one("short") == []
    # shared substring ⇒ shared fingerprints
    doc1 = "prefix AAA " + "common shared passage of text here " * 3 + "tail one"
    doc2 = "other start " + "common shared passage of text here " * 3 + "different"
    assert set(_winnow_one(doc1)) & set(_winnow_one(doc2))


def test_winnow_spark(spark):
    docs = load_table(spark, SF, "documents")
    fp = winnow_fingerprints(docs, "doc_id", "text")
    assert fp.count() > 0
    # deterministic across partitionings
    a = sorted(map(tuple, fp.collect()))
    b = sorted(map(tuple, winnow_fingerprints(docs.repartition(7), "doc_id", "text").collect()))
    assert a == b
    pairs = winnow_overlap_pairs(docs, "doc_id", "text", min_shared=2)
    assert pairs.count() >= 0
    assert set(pairs.columns) == {"id_a", "id_b", "shared"}


def test_ivf_recall(spark):
    emb = load_table(spark, SF, "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    brute = {(r.qid, r.nid) for r in cosine_topk(emb, q, k=5).collect()}
    ivf = {(r.qid, r.nid) for r in ivf_cosine_topk(emb, q, k=5, n_list=8, n_probe=4).collect()}
    # probing half the lists should recover a solid share of true neighbors
    recall = len(brute & ivf) / len(brute)
    assert recall >= 0.4, recall
    # ivf output shape matches the brute-force contract
    r = ivf_cosine_topk(emb, q, k=3, n_list=8, n_probe=8)  # probe-all ⇒ exact
    exact = {(x.qid, x.rank, x.nid) for x in cosine_topk(emb, q, k=3).collect()}
    assert {(x.qid, x.rank, x.nid) for x in r.collect()} == exact


def test_ivf_candidates_unique(spark):
    """(qid, nid) candidates are unique by construction — one list per
    corpus vector, distinct probed lists per query — which is why
    ivf_cosine_topk carries no .distinct() (it would be a full extra
    shuffle of the scored candidate set)."""
    emb = load_table(spark, SF, "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    out = ivf_cosine_topk(emb, q, k=10**9, n_list=8, n_probe=4)
    rows = out.select("qid", "nid").collect()
    assert len(rows) == len({(r.qid, r.nid) for r in rows})


# ---------------------------------------------------------------- CDC chunking
def test_cdc_chunks_tile_document():
    """Chunks must tile the document exactly: contiguous, in order, full
    coverage; and boundaries are content-defined (insertion shifts only
    the touched chunk's neighborhood, not everything after it)."""
    from metadatadocumentparser_spark.operators.chunking import _chunks_one

    # varied text (a periodic string has too few distinct k-grams to hit
    # the divisor): ~2000 chars of deterministic pseudo-random words
    text = " ".join(f"w{i * 7919 % 1000}" for i in range(400))
    segs = _chunks_one(text)
    assert segs[0][0] == 0 and segs[-1][1] == len(text)
    assert all(segs[i][1] == segs[i + 1][0] for i in range(len(segs) - 1))
    assert len(segs) > 5  # divisor 64 over ~2000 varied chars must cut

    # content-defined robustness: prepend a paragraph; the chunk CONTENT
    # set far from the edit is preserved (fixed-size chunking would shift
    # every boundary)
    edited = "completely new intro paragraph. " + text
    h0 = {text[s:e] for s, e in segs[2:]}
    h1 = {edited[s:e] for s, e in _chunks_one(edited)}
    assert len(h0 & h1) >= len(h0) - 2

    # degenerate inputs
    assert _chunks_one("") == []
    assert _chunks_one("short") == [(0, 5)]


def test_quantized_ann_rank_agreement(spark):
    """Integration: brute-force top-k over int8-DEQUANTIZED embeddings
    recovers almost all true neighbors of the float corpus — the
    store-compressed/search-cheap path (4× smaller index, recall ≈ 1)."""
    from metadatadocumentparser_spark.operators.quantize import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    emb = load_table(spark, SF, "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    deq = dequantize_embeddings(quantize_embeddings(emb, "vec_id", "embedding")).select(
        F.col("id").alias("vec_id"), F.col("vec").alias("embedding")
    )
    deq_q = deq.where(F.col("vec_id") < 5)
    true = {(r.qid, r.nid) for r in cosine_topk(emb, q, k=10).collect()}
    quant = {(r.qid, r.nid) for r in cosine_topk(deq, deq_q, k=10).collect()}
    recall = len(true & quant) / len(true)
    assert recall >= 0.9, recall


def test_ivf_n_list_guard(spark):
    """n_list beyond the driver-collect ceiling fails loudly with an
    actionable message (the seed collect is bounded; a 100k-list request
    must not become a silent driver OOM)."""
    import pytest
    from metadatadocumentparser_spark.operators.ivf import MAX_N_LIST, ivf_cosine_topk

    emb = load_table(spark, SF, "embeddings")
    with pytest.raises(ValueError, match="MAX_N_LIST"):
        ivf_cosine_topk(emb, emb.limit(1), n_list=MAX_N_LIST + 1)


def test_kmeans_blobs(spark):
    """Distributed Lloyd on 3 well-separated blobs: exact blob recovery,
    convergence, determinism under repartitioning, agreement with a pure
    numpy replica of the same seeded algorithm, and the pre-trained-
    centroid path into ivf_cosine_topk."""
    import hashlib

    import numpy as np
    import pytest

    from metadatadocumentparser_spark.operators.kmeans import MAX_K, kmeans_fit

    dim, per = 8, 40
    # directionally separated centers (blocks of dims), not collinear
    # magnitudes: the IVF integration below scores by COSINE, where
    # collinear centers would collapse after normalization
    centers = np.zeros((3, dim))
    for c, dims in enumerate(([0, 1, 2], [3, 4, 5], [6, 7])):
        centers[c, dims] = 100.0
    rows = []
    for c in range(3):
        for j in range(per):
            i = c * per + j
            off = [((i * 31 + d * 7) % 11 - 5) / 10.0 for d in range(dim)]
            rows.append((i, (centers[c] + np.array(off)).tolist()))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    fit = kmeans_fit(df, k=3, max_iter=10)
    assert fit["converged"]
    got = {r.id: r.cluster for r in fit["assignments"].collect()}
    blobs = [{got[c * per + j] for j in range(per)} for c in range(3)]
    assert all(len(b) == 1 for b in blobs)           # each blob uniform
    assert len(set.union(*blobs)) == 3               # blobs distinct

    # determinism under repartitioning (assignments exact; centroids can
    # differ in final ulps from FP sum order — assert tight closeness)
    fit2 = kmeans_fit(df.repartition(17), k=3, max_iter=10)
    assert {r.id: r.cluster for r in fit2["assignments"].collect()} == got
    assert np.abs(fit2["centroids"] - fit["centroids"]).max() < 1e-9

    # numpy replica: same md5-ordered seeding, same Lloyd updates
    ids = [r[0] for r in rows]
    vecs = np.array([r[1] for r in rows])
    order = sorted(range(len(ids)), key=lambda i: hashlib.md5(str(ids[i]).encode()).hexdigest())
    cents = vecs[order[:3]].copy()
    for _ in range(10):
        d2 = ((vecs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        a = d2.argmin(axis=1)
        new = cents.copy()
        for c in range(3):
            if (a == c).any():
                new[c] = vecs[a == c].mean(axis=0)
        if np.abs(new - cents).max() <= 1e-6:
            cents = new
            break
        cents = new
    assert np.abs(cents - fit["centroids"]).max() < 1e-9
    assert [got[i] for i in ids] == list(
        ((vecs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    )

    with pytest.raises(ValueError, match="MAX_K"):
        kmeans_fit(df, k=MAX_K + 1)
    with pytest.raises(ValueError, match="exceeds the corpus"):
        kmeans_fit(df, k=500)

    # trained centroids feed IVF directly (the past-MAX_N_LIST path)
    from metadatadocumentparser_spark.operators.ivf import ivf_cosine_topk

    q = df.where(F.col("vec_id").isin([0, 40, 80]))
    out = ivf_cosine_topk(df, q, k=3, n_probe=1, centroids=fit["centroids"])
    per_q = {r.qid: r.nid for r in out.where(F.col("rank") == 1).collect()}
    # with 1 probe into trained lists, top-1 neighbors stay inside the blob
    assert all(qid // per == nid // per for qid, nid in per_q.items())


def test_product_quantization(spark):
    """PQ compression + ADC search: deterministic codes under
    repartitioning, sane reconstruction on unit vectors, exact blob
    recovery on separable data, and the production two-stage
    (ADC shortlist → exact rerank) recall on the synthetic embeddings."""
    import numpy as np

    from metadatadocumentparser_spark.operators.pq import (
        pq_decode,
        pq_encode,
        pq_fit,
        pq_topk,
        pq_topk_rerank,
    )
    from metadatadocumentparser_spark.operators.similarity import cosine_topk

    emb = load_table(spark, SF, "embeddings")
    books = pq_fit(emb, m=8, k=16, max_iter=5)
    assert books.shape == (8, 16, 8)
    codes = pq_encode(emb, books)
    c1 = {r.id: list(r.codes) for r in codes.collect()}
    c2 = {r.id: list(r.codes) for r in pq_encode(emb.repartition(13), books).collect()}
    assert c1 == c2 and len(c1) == emb.count()
    assert all(0 <= c < 16 for cs in c1.values() for c in cs)

    # reconstruction distortion on unit vectors is bounded well below the
    # unit-sphere diameter (measured 0.55 mean squared err on this corpus)
    dec = {r.id: np.array(r.vec) for r in pq_decode(codes, books).collect()}
    raw = {r.vec_id: np.array(r.embedding, dtype=float) for r in emb.collect()}
    errs = [
        float(np.sum((v / (np.linalg.norm(v) or 1.0) - dec[i]) ** 2))
        for i, v in raw.items()
    ]
    assert 0 < sum(errs) / len(errs) < 0.8

    # blobs: directionally separated clusters must quantize losslessly
    # enough that ADC top-k never leaves the blob
    dim, per = 8, 30
    centers = np.zeros((4, dim))
    for c in range(4):
        centers[c, 2 * c : 2 * c + 2] = 100.0
    rows = []
    for c in range(4):
        for j in range(per):
            i = c * per + j
            off = [((i * 13 + d * 5) % 9 - 4) / 10.0 for d in range(dim)]
            rows.append((i, (centers[c] + np.array(off)).tolist()))
    blobs = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    bb = pq_fit(blobs, m=4, k=8, max_iter=5)
    bq = blobs.where(F.col("vec_id").isin([0, 30, 60, 90]))
    out = pq_topk(pq_encode(blobs, bb), bq, bb, k=5)
    assert out.count() == 20
    assert all(r.qid // per == r.nid // per for r in out.collect())

    # two-stage search on the real synthetic corpus: ADC shortlist +
    # exact rerank recovers ≥90% of the true cosine top-10 (measured 0.94
    # at m=16, k=64, sf0.001; deterministic via md5 seeding). The
    # shortlist is the recall knob and must GROW with the corpus — a
    # fixed 50 over the sf0.1 replica's 10× corpus measured 0.84 recall
    # (correct ANN behavior, not a defect), so the test scales it to the
    # same 10% corpus fraction the original 50-of-500 represented.
    books2 = pq_fit(emb, m=16, k=64, max_iter=5)
    codes2 = pq_encode(emb, books2)
    q = emb.where(F.col("vec_id") < 10)
    shortlist = max(50, emb.count() // 10)
    true = {}
    for r in cosine_topk(emb, q, k=10).collect():
        true.setdefault(r.qid, set()).add(r.nid)
    got = {}
    for r in pq_topk_rerank(
        codes2, emb, q, books2, k=10, shortlist=shortlist
    ).collect():
        got.setdefault(r.qid, set()).add(r.nid)
    recall = sum(len(true[x] & got[x]) for x in true) / (10 * len(true))
    assert recall >= 0.9, recall


def test_ivfpq(spark):
    """IVF-PQ composition (coarse k-means lists + PQ on residuals):
    deterministic codes under repartitioning, exact blob recovery at a
    single probe on separable data, and on the unstructured synthetic
    corpus probe-all + exact rerank recovers ≥0.9 of the true cosine
    top-10 (measured 0.98 at n_list=8, m=16, k=32) with recall rising
    in n_probe."""
    import numpy as np

    from metadatadocumentparser_spark.operators.ivfpq import (
        ivfpq_build,
        ivfpq_topk,
        ivfpq_topk_rerank,
    )
    from metadatadocumentparser_spark.operators.similarity import cosine_topk

    # blobs: 4 directional clusters; 1 probe must stay inside the blob
    dim, per = 8, 30
    centers = np.zeros((4, dim))
    for c in range(4):
        centers[c, 2 * c : 2 * c + 2] = 100.0
    rows = []
    for c in range(4):
        for j in range(per):
            i = c * per + j
            off = [((i * 13 + d * 5) % 9 - 4) / 10.0 for d in range(dim)]
            rows.append((i, (centers[c] + np.array(off)).tolist()))
    blobs = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    bidx = ivfpq_build(blobs, n_list=4, m=4, k=8, max_iter=5)
    bq = blobs.where(F.col("vec_id").isin([0, 30, 60, 90]))
    out = ivfpq_topk(bidx, bq, k=5, n_probe=1)
    assert out.count() == 20
    assert all(r.qid // per == r.nid // per for r in out.collect())

    # synthetic embeddings: determinism + probe-all rerank recall
    emb = load_table(spark, SF, "embeddings")
    idx = ivfpq_build(emb, n_list=8, m=16, k=32, max_iter=5)
    c1 = {(r.id, r.list_id): list(r.codes) for r in idx["codes"].collect()}
    idx2 = ivfpq_build(emb.repartition(13), n_list=8, m=16, k=32, max_iter=5)
    c2 = {(r.id, r.list_id): list(r.codes) for r in idx2["codes"].collect()}
    assert c1 == c2 and len(c1) == emb.count()

    q = emb.where(F.col("vec_id") < 10)
    true = {}
    for r in cosine_topk(emb, q, k=10).collect():
        true.setdefault(r.qid, set()).add(r.nid)

    def recall(n_probe):
        got = {}
        for r in ivfpq_topk_rerank(
            idx, emb, q, k=10, n_probe=n_probe, shortlist=100
        ).collect():
            got.setdefault(r.qid, set()).add(r.nid)
        return sum(len(true[x] & got.get(x, set())) for x in true) / (10 * len(true))

    r2, r8 = recall(2), recall(8)
    assert r8 >= 0.9, r8          # probe-all + rerank ≈ exact
    assert r2 < r8                # probing fewer lists costs recall

    # n_probe > n_list clamps to probe-all instead of IndexError
    # (ADVICE r4 low): identical results to exactly-n_list probes
    over = {(r.qid, r.rank, r.nid) for r in ivfpq_topk(bidx, bq, k=5, n_probe=99).collect()}
    full = {(r.qid, r.rank, r.nid) for r in ivfpq_topk(bidx, bq, k=5, n_probe=4).collect()}
    assert over == full and len(over) == 20


def test_topk_query_side_cap(spark, monkeypatch):
    """cosine_topk / pq_topk / ivfpq_topk fail LOUDLY when the query side
    exceeds MAX_QUERIES (r4 verdict task #4) — the broadcast/collect
    posture assumes a bounded query set; below the cap they run."""
    import numpy as np

    from metadatadocumentparser_spark.operators import similarity
    from metadatadocumentparser_spark.operators.pq import pq_topk, pq_encode
    from metadatadocumentparser_spark.operators.ivfpq import ivfpq_build, ivfpq_topk

    rows = [
        (i, [float((i * 7 + d * 3) % 11 - 5) for d in range(8)]) for i in range(12)
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    monkeypatch.setattr(similarity, "MAX_QUERIES", 4)

    with pytest.raises(ValueError, match="MAX_QUERIES"):
        similarity.cosine_topk(emb, emb, k=2)
    assert similarity.cosine_topk(emb, emb.limit(3), k=2).count() == 6

    books = np.zeros((2, 4, 4))
    for j in range(2):
        for c in range(4):
            for d in range(4):
                books[j, c, d] = ((j * 5 + c * 3 + d) % 7 - 3) / 4.0
    codes = pq_encode(emb, books)
    with pytest.raises(ValueError, match="MAX_QUERIES"):
        pq_topk(codes, emb, books, k=2)
    assert pq_topk(codes, emb.limit(3), books, k=2).count() == 6

    idx = ivfpq_build(emb, n_list=2, m=2, k=4, max_iter=2)
    with pytest.raises(ValueError, match="MAX_QUERIES"):
        ivfpq_topk(idx, emb, k=2)
    assert ivfpq_topk(idx, emb.limit(3), k=2, n_probe=2).count() == 6


def test_zero_vector_never_outranks(spark):
    """r5 review: a zero-norm embedding used to yield NaN cosine, which
    Spark orders as the LARGEST double — rank-1 for every query and a
    bogus pass of every >= threshold filter. With the guarded
    cosine_expr the zero vector sorts last (NULL) and emits no pairs.
    The PQ and IVF-PQ exact reranks score their shortlists the same way
    (an unguarded rerank raised DIVIDE_BY_ZERO under ANSI mode)."""
    from metadatadocumentparser_spark.operators.ivfpq import (
        ivfpq_build,
        ivfpq_topk_rerank,
    )
    from metadatadocumentparser_spark.operators.pq import (
        pq_encode,
        pq_fit,
        pq_topk_rerank,
    )
    from metadatadocumentparser_spark.operators.similarity import (
        cosine_topk,
        embedding_near_dup_pairs,
    )

    rows = [(i, [float((i * 7 + d * 3) % 11 - 5) for d in range(8)]) for i in range(9)]
    rows.append((9, [0.0] * 8))  # the padding row
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    queries = emb.where(F.col("vec_id") < 3)
    top = cosine_topk(emb, queries, k=3)
    assert 9 not in {r.nid for r in top.collect()}
    pairs = embedding_near_dup_pairs(
        emb, threshold=-1.0, max_ids=10, method="exact"
    )
    assert not any(9 in (r.id_a, r.id_b) for r in pairs.collect())

    # shortlists cover the whole corpus, so the zero row reaches the rerank
    books = pq_fit(emb, m=2, k=4, max_iter=2)
    pq_top = pq_topk_rerank(pq_encode(emb, books), emb, queries, books, k=3).collect()
    assert len(pq_top) == 9 and 9 not in {r.nid for r in pq_top}
    idx = ivfpq_build(emb, n_list=2, m=2, k=4, max_iter=2)
    ivfpq_top = ivfpq_topk_rerank(idx, emb, queries, k=3, n_probe=2).collect()
    assert len(ivfpq_top) == 9 and 9 not in {r.nid for r in ivfpq_top}


def test_ivf_probe_clamp_and_empty_corpus(spark):
    """r5 review: n_probe > n_list clamps to probe-all (the unclamped
    assign kernel crashed with a pandas length mismatch); an empty
    corpus raises a named error instead of a numpy axis error."""
    rows = [(i, [float((i * 7 + d * 3) % 11 - 5) for d in range(8)]) for i in range(12)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    q = emb.where(F.col("vec_id") < 2)
    over = {(r.qid, r.rank, r.nid) for r in
            ivf_cosine_topk(emb, q, k=3, n_list=2, n_probe=99).collect()}
    full = {(r.qid, r.rank, r.nid) for r in
            ivf_cosine_topk(emb, q, k=3, n_list=2, n_probe=2).collect()}
    assert over == full and len(over) == 6
    with pytest.raises(Exception, match="empty corpus"):
        ivf_cosine_topk(emb.limit(0), q, k=3, n_list=2)


def test_lsh_ivf_query_cap(spark, monkeypatch):
    """r5 review: lsh_cosine_topk / ivf_cosine_topk broadcast the query
    side too — the MAX_QUERIES cap applies to them, not just the brute
    path that used to (wrongly) recommend them as the escape hatch."""
    from metadatadocumentparser_spark.operators import similarity

    rows = [(i, [float((i * 7 + d * 3) % 11 - 5) for d in range(8)]) for i in range(12)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    monkeypatch.setattr(similarity, "MAX_QUERIES", 4)
    with pytest.raises(ValueError, match="MAX_QUERIES"):
        similarity.lsh_cosine_topk(emb, emb, k=2, dim=8)
    with pytest.raises(ValueError, match="MAX_QUERIES"):
        ivf_cosine_topk(emb, emb, k=2, n_list=2)


def test_kmeans_pq_nonfinite_guard(spark):
    """NaN/Inf embedding elements fail LOUDLY in k-means and PQ — a
    silent NaN would poison every centroid mean and distance it touches
    (quantize maps them to NULL; k-means has no partial-vector story)."""
    import pytest

    from metadatadocumentparser_spark.operators.kmeans import kmeans_fit
    from metadatadocumentparser_spark.operators.pq import pq_encode

    bad = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [float("nan"), 0.0]), (3, [3.0, 4.0])],
        "vec_id bigint, embedding array<double>",
    )
    with pytest.raises(Exception, match="non-finite"):
        kmeans_fit(bad, k=2, max_iter=2)
    import numpy as np

    books = np.zeros((1, 2, 2))
    with pytest.raises(Exception, match="non-finite"):
        pq_encode(bad, books).collect()


def test_winnow_hot_fingerprint_cap(spark):
    """r6 (r5 verdict #1): a boilerplate k-gram shared by 1,000 docs
    must NOT explode the winnow pair join — fingerprints above MAX_FP_DF
    are dropped before the self-join, so pair volume stays bounded by
    the docs' OTHER (discriminative) fingerprints. Also pins that the
    cap is inert on a corpus whose dfs sit below it."""
    from metadatadocumentparser_spark.operators.fingerprint import (
        MAX_FP_DF,
        winnow_overlap_pairs,
    )

    boiler = "COPYRIGHT HEADER do not remove this standard license line "
    rows = [(i, boiler + f"unique tail {i} " + "x" * (i % 7)) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = winnow_overlap_pairs(df, "doc_id", "text", min_shared=2)
    n = pairs.count()
    # uncapped, the shared boilerplate fingerprints alone give ~1000²/2
    # candidate pairs; capped, only unique-tail collisions survive
    assert n < 50_000, n
    # inert below the cap: identical results with and without
    small = spark.createDataFrame(
        [(i, f"doc {i} words alpha beta gamma delta common tail segment here")
         for i in range(30)],
        "doc_id bigint, text string",
    )
    a = winnow_overlap_pairs(small, "doc_id", "text", 2)
    b = winnow_overlap_pairs(small, "doc_id", "text", 2, max_fp_df=10**9)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert MAX_FP_DF > 341  # above the organic max df of the oracle corpora


def test_near_dup_planes_recall(spark):
    """r6 (r5 verdict #2): embedding_near_dup_pairs' default plane count
    is derived from corpus size (bucket occupancy ≈ TARGET rows → join
    volume linear), and the recall-vs-bucket-count trade behaves: planted
    near-identical pairs are found at the derived setting, and more
    planes can only shrink the candidate set."""
    import random

    from metadatadocumentparser_spark.operators.similarity import (
        NEAR_DUP_TARGET_BUCKET_ROWS,
        embedding_near_dup_pairs,
        near_dup_planes_for,
    )

    # the derivation: ≈N/2^p rows per bucket
    assert near_dup_planes_for(100) == 1
    assert near_dup_planes_for(10**9) == min(24, 22)
    assert near_dup_planes_for(NEAR_DUP_TARGET_BUCKET_ROWS * 16) == 4

    rng = random.Random(3)
    rows = []
    for i in range(300):
        rows.append((2 * i, [rng.uniform(-1, 1) for _ in range(64)]))
        # planted near-dup: tiny perturbation of the even row
        rows.append((2 * i + 1, [x + 1e-4 for x in rows[-1][1]]))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(emb, threshold=0.999).collect()
    }
    planted = {(2 * i, 2 * i + 1) for i in range(300)}
    recall = len(got & planted) / len(planted)
    assert recall >= 0.95, recall  # a perturbed pair agrees on every sign
    # more planes => candidate set can only shrink (both supersets of 0)
    few = embedding_near_dup_pairs(emb, threshold=0.999, n_planes=2).count()
    many = embedding_near_dup_pairs(emb, threshold=0.999, n_planes=12).count()
    assert many <= few
