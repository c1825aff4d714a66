"""Deduplication operators over a text column.

Scale notes (the point of each design):
- exact: one hash-groupBy; map-side partial agg; no pair blowup ever.
- n-gram Jaccard: the pair join is blocked on *shared shingles* and high-
  document-frequency shingles are dropped first (df cap) — without that cap
  a stop-shingle joins O(N²) pairs at 100 TB. The shingle explode is the
  only shuffle-heavy step and it is linear in corpus size.
- MinHash-LSH: constant-size signatures (NUM_HASHES md5 minima) replace the
  full shingle sets; candidate generation joins on band keys only (classic
  banding: P[candidate] ≈ 1-(1-j^r)^b). Linear shuffle, tiny rows.
- SimHash: one fixed-width fingerprint per doc; near-dup = small Hamming
  distance; bucketing on bit-masked prefixes keeps the join linear.

All hashes are md5-hex (identical strings in Spark and DuckDB) so every
step is oracle-checkable cross-engine — never engine-internal hash().
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..functions.textstats import fingerprint

# Oracle-checked defaults. At web scale, tune (num_hashes, bands) per the
# banding collision curve P[candidate] = 1-(1-j^r)^b with r = num_hashes /
# bands: the default 2-row bands admit ~31% of j=0.3 NON-duplicate pairs as
# candidates — fine for a driver-checkable corpus, a candidate-pair
# explosion at 100 TB. 64 hashes / 8 bands (r=8) admits ~0.05% at j=0.3
# while still catching ~98% at j=0.8 (see test_minhash_banding_precision).
SHINGLE_K = 3
NUM_HASHES = 8
BANDS = 4  # rows per band = NUM_HASHES // BANDS = 2
MAX_SHINGLE_DF = 50


def lsh_params_for(
    j_dup: float,
    j_safe: float,
    recall_min: float = 0.95,
    max_hashes: int = 512,
) -> tuple[int, int]:
    """Pick (num_hashes, bands) from the banding curve
    P[candidate | j] = 1 - (1 - j^r)^b with r = num_hashes / bands:
    the cheapest signature that still catches ≥ ``recall_min`` of true
    duplicates at ``j_dup`` while admitting the FEWEST false candidates
    at ``j_safe`` (the similarity you consider clearly-not-duplicate).

    Selection: among all (r, b) with r·b ≤ max_hashes and
    P(j_dup) ≥ recall_min, minimize (P(j_safe), r·b) lexicographically —
    precision first, then signature cost. Deterministic, pure.

    Example: (0.8, 0.3) → the default 8/4 config is NOT returned (it
    admits ~31% at j=0.3); the tuner lands on a multi-row band that
    drives that to < 1% — the knob production corpora must turn."""
    if not (0.0 < j_safe < j_dup < 1.0):
        raise ValueError(
            f"lsh_params_for: need 0 < j_safe ({j_safe}) < j_dup ({j_dup}) < 1"
        )
    best = None  # (p_safe, n, r, b)
    for r in range(1, 33):
        for b in range(1, max_hashes + 1):
            n = r * b
            if n > max_hashes:
                break
            p_dup = 1.0 - (1.0 - j_dup**r) ** b
            if p_dup < recall_min:
                continue
            p_safe = 1.0 - (1.0 - j_safe**r) ** b
            cand = (p_safe, n, r, b)
            if best is None or cand < best:
                best = cand
    if best is None:
        raise ValueError(
            f"lsh_params_for: no (r, b) with r*b <= {max_hashes} reaches "
            f"recall {recall_min} at j={j_dup} — raise max_hashes"
        )
    _, n, r, b = best
    return (n, b)


def with_shingles(
    df: DataFrame, id_col: str, text_col: str, k: int = SHINGLE_K
) -> DataFrame:
    """id, shingle: one row per distinct word-k-shingle of each document —
    the explode of shingle_array, so both share one construction."""
    from ._util import ensure_min_parallelism

    # The explode multiplies rows ~100-1000×; an under-split input (one
    # parquet file < maxPartitionBytes → one scan task) would run the whole
    # explode+hash map side on ONE core (see _util.ensure_min_parallelism).
    df = ensure_min_parallelism(df)
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(shingle_array(text_col, k)).alias("shingle"),
    )


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Hash-groupBy exact dedup: one row per normalized-content hash."""
    return (
        df.select(F.col(id_col).alias("id"), fingerprint(F.col(text_col)).alias("h"))
        .groupBy("h")
        .agg(F.count("*").alias("cnt"), F.min("id").alias("keeper"))
    )


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.2
) -> DataFrame:
    """Candidate pairs by shared-shingle blocking, scored with exact
    Jaccard = |A∩B| / (|A|+|B|−|A∩B|), rounded to 4 decimals."""
    sh = with_shingles(df, id_col, text_col)
    # df cap: drop shingles shared by too many docs (quadratic-blowup guard).
    # No broadcast hints here: the rare-shingle and per-doc-size tables grow
    # linearly with the corpus — forcing them driver-side would OOM at scale.
    # AQE picks broadcast automatically when a side is actually small.
    rare = sh.groupBy("shingle").agg(F.count("*").alias("df")).where(
        F.col("df") <= MAX_SHINGLE_DF
    )
    sh = sh.join(rare.select("shingle"), "shingle")
    sizes = sh.groupBy("id").agg(F.count("*").alias("nsh"))
    pairs = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("nsh").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("nsh").alias("nb"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            # floor-scaled half-up: exact-rational jaccard hashes identically
            # across engines (see functions.textstats.half_up_scaled)
            F.floor(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")) * 10000.0
                + 0.5
            )
            .cast("bigint")
            .alias("jaccard_e4"),
        )
        .where(F.col("jaccard_e4") >= int(round(threshold * 10000)))
    )


def shingle_array(text_col: str, k: int = SHINGLE_K):
    """The distinct word-k-shingle ARRAY of one document. Mirrors the
    DuckDB oracle: words = split(text,' ') (empty tokens kept); shingle i
    = words[i..i+k-1] joined by ' '. Linear time: one split, the k shifted
    slices arrays_zip'ed, one concat_ws per position (a per-position
    slice(split(text)) re-splits the text: O(words²)). Docs with < k
    tokens (and NULL text) have no k-shingles: an empty array."""
    words = f"split({text_col}, ' ')"
    n = f"size({words}) - {k - 1}"
    slices = ", ".join(f"slice({words}, {j + 1}, {n})" for j in range(k))
    parts = ", ".join(f"z.`{j}`" for j in range(k))
    return F.array_distinct(
        F.expr(
            f"CASE WHEN {n} > 0 THEN"
            f" transform(arrays_zip({slices}), z -> concat_ws(' ', {parts}))"
            f" ELSE array() END"
        )
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = NUM_HASHES,
    shingle_k: int = SHINGLE_K,
) -> DataFrame:
    """id + h0..h{num_hashes-1}: per-permutation minima of md5('<i>:'+shingle).
    md5-hex minima are plain lexicographic string minima — portable.

    The signature is a pure per-doc function, computed in a mapInArrow
    kernel: an explode would pay a corpus-wide groupBy(id) shuffle, and an
    array-side array_min(transform(...)) runs md5 through interpreted
    lambdas at ~30 µs/hash vs ~1 µs here. Each distinct shingle is hashed
    from a per-prefix md5 state (copy + update) and raw digests compared;
    hex is order-preserving on equal-length digests, so only the minima
    are hex-encoded: hashlib md5 hex == Spark md5() (A/B-pinned in
    test_minhash_kernel_equals_agg). The states are built in the kernel
    (hashlib objects cannot be pickled). Docs with no shingles (< k
    tokens, NULL text) produce no row, like the explode+groupBy form."""
    import hashlib

    import pyarrow as pa

    from ._util import ensure_min_parallelism

    src = ensure_min_parallelism(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
    )
    id_ddl = src.schema["id"].dataType.simpleString()
    names = [f"h{i}" for i in range(num_hashes)]
    pres = [f"{i}:".encode() for i in range(num_hashes)]
    k = shingle_k
    # sorts after every 16-byte digest (an all-0xff digest is its prefix)
    above = b"\xff" * 17

    def kernel(batches):
        copies = [hashlib.md5(p).copy for p in pres]
        for batch in batches:
            texts = batch.column("t").to_pylist()
            keep = []
            cols: list = [[] for _ in range(num_hashes)]
            for di, txt in enumerate(texts):
                if txt is None:
                    continue
                words = txt.split(" ")
                n = len(words) - k + 1
                if n <= 0:
                    continue
                shingles = {" ".join(words[i : i + k]).encode() for i in range(n)}
                keep.append(di)
                for col, copy in zip(cols, copies):
                    best = above
                    for sb in shingles:
                        h = copy()
                        h.update(sb)
                        d = h.digest()
                        if d < best:
                            best = d
                    col.append(best.hex())
            if not keep:
                continue
            yield pa.RecordBatch.from_arrays(
                [batch.column("id").take(pa.array(keep, type=pa.int32()))]
                + [pa.array(c, type=pa.string()) for c in cols],
                names=["id"] + names,
            )

    schema = f"id {id_ddl}, " + ", ".join(f"{c} string" for c in names)
    return src.mapInArrow(kernel, schema=schema)


def minhash_band_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = NUM_HASHES,
    bands: int = BANDS,
    shingle_k: int = SHINGLE_K,
) -> DataFrame:
    """(id, band, bkey) LSH band rows — the joinable index form of the
    MinHash signatures (used by minhash_lsh_pairs and the streaming
    incremental near-dup index). rows-per-band r = num_hashes // bands
    sets the precision knob: P[candidate] = 1-(1-j^r)^bands."""
    if num_hashes % bands:
        raise ValueError(
            f"minhash_band_rows: num_hashes ({num_hashes}) must be a "
            f"multiple of bands ({bands}) — bands are contiguous "
            f"equal-width slices of the signature"
        )
    sig = minhash_signatures(
        df, id_col, text_col, num_hashes=num_hashes, shingle_k=shingle_k
    )
    r = num_hashes // bands
    # r6: ONE explode of a bands-length struct array instead of a
    # bands-way union of selects over sig — the union re-planned the
    # signature subtree per band (guide §2.4: same rows, one pass)
    entries = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat(*[F.col(f"h{b * r + j}") for j in range(r)])).alias(
                "bkey"
            ),
        )
        for b in range(bands)
    ]
    return sig.select("id", F.explode(F.array(*entries)).alias("e")).select(
        "id", F.col("e.band").alias("band"), F.col("e.bkey").alias("bkey")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = NUM_HASHES,
    bands: int = BANDS,
    shingle_k: int = SHINGLE_K,
) -> DataFrame:
    """Distinct candidate pairs sharing at least one LSH band bucket."""
    band_df = minhash_band_rows(
        df, id_col, text_col, num_hashes=num_hashes, bands=bands, shingle_k=shingle_k
    )
    # materialize the band rows ONCE before the self-join: the signature
    # kernel is a Python node, whose exchanges do not canonicalize equal
    # across the two join sides (verified in the executed plan — no
    # ReusedExchange; the kernel ran twice and one copy was re-shuffled
    # AND broadcast). localCheckpoint is the connected_components
    # pattern: one computation, both sides read the materialized rows
    # (4 tiny rows per doc — at extreme corpus sizes this intermediate
    # spills to executor disk, which is still far cheaper than a second
    # full signature pass).
    band_df = band_df.localCheckpoint(eager=True)
    return (
        band_df.alias("a")
        .join(band_df.alias("b"), ["band", "bkey"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 16) -> DataFrame:
    """Per-doc SimHash fingerprint: word hash = first 4 md5 hex chars → int;
    bit b of the fingerprint = sign of Σ_words (±1). Fully native.

    No ensure_min_parallelism here (measured): the partial agg is 16 cheap
    integer conditional sums per word — on a 10× under-split corpus the
    un-guarded form ran 0.83 s vs 1.44 s with the repartition (the shuffle
    costs more than the serial map side saves). Contrast with_shingles,
    whose 8-md5-per-row partial agg gains 8× from the guard."""
    if not (1 <= bits <= 16):
        # the word hash has exactly 16 bits (4 md5 hex chars): bits > 16
        # would silently zero every high bit and compute Hamming
        # distances in a degenerate space (r5 review)
        raise ValueError(f"simhash: bits must be in [1, 16], got {bits}")
    w = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("w"),
    ).where(F.col("w") != "")
    h = F.conv(F.substring(F.md5("w"), 1, 4), 16, 10).cast("int")
    w = w.select("id", h.alias("h"))
    sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    agg = w.groupBy("id").agg(*sums)
    fp = F.lit(0).cast("bigint")
    for b in range(bits):
        fp = fp + F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(0)
    return agg.select("id", fp.alias("simhash"))


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al. 2014, 'Connected Components in
    MapReduce and Beyond' §3): every node connects its strictly-LARGER
    neighbors to the minimum of its neighborhood (incl. itself)."""
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("mn", "u").alias("mn"))
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("mn").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: orient every edge high→low, then each node hooks
    all its smaller neighbors (and itself) onto its minimum neighbor."""
    e = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).distinct()
    mins = e.groupBy("u").agg(F.min("v").alias("mn"))
    hooked = (
        e.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("mn").alias("v"))
        .unionByName(mins.select("u", F.col("mn").alias("v")))
    )
    return hooked.where(F.col("u") != F.col("v")).distinct()


# connected_components finishes a graph of at most this many distinct edges
# in one union-find task (see its docstring for how it was measured)
_LOCAL_MAX_EDGES = 1_000_000


def _counted(edges: DataFrame) -> tuple[DataFrame, Observation]:
    """Checkpoint ``edges``, observing their row count in the same job."""
    n = Observation()
    return edges.observe(n, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True), n


def _union_find(edges: DataFrame) -> DataFrame:
    """(id, label = component minimum), one row per node of the (u, v)
    edges: one union-find over every edge in ONE task (coalesce(1)).
    Python's ``<`` orders str by code point, which is Spark's UTF-8 byte
    order, so string ids elect the same minimum as the star rounds."""
    import pyarrow as pa

    ddl = edges.schema["u"].dataType.simpleString()

    def kernel(batches):
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        typ = None
        for batch in batches:
            typ = batch.column("u").type
            for a, b in zip(batch.column("u").to_pylist(), batch.column("v").to_pylist()):
                ra = find(parent.setdefault(a, a))
                rb = find(parent.setdefault(b, b))
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
        if parent:
            ids = list(parent)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, typ), pa.array([find(x) for x in ids], typ)],
                names=["id", "label"],
            )

    return edges.coalesce(1).mapInArrow(kernel, schema=f"id {ddl}, label {ddl}")


def connected_components(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Connected components over undirected candidate pairs (id_a, id_b):
    every endpoint of a non-self-loop pair ends labeled with its
    component's minimum id. Deterministic — min() is order-free.

    Two regimes, switched by the distinct edge count, which each round's
    checkpoint observes (``DataFrame.observe``: the count is a side
    result of the checkpoint job, so the size test costs no Spark job):

    - At most ``_LOCAL_MAX_EDGES`` edges: ONE union-find over the
      checkpointed edges in one task (``_union_find``). On small graphs a
      star round's cost is per-job overhead, not data: each round is a
      checkpoint plus a star-forest check.
    - Above it: ALTERNATING LARGE-STAR / SMALL-STAR rounds (Kiveris et
      al. 2014) until the edges are a star forest or drop to the limit.
      Min-label propagation needs O(diameter) full edge-join rounds —
      degenerate on a chain; star contraction converges in O(log
      diameter) rounds, each two key-shuffles over the shrinking edge set.

    The limit is a memory bound. The one task holds a dict over every
    node in one Python worker, and its peak grows linearly with the
    edges. The worst case measured was 21-character string ids with two
    new nodes per edge, at about 390 bytes per edge. At 1M edges that
    worker peaked at 478 MB RSS, under the 512 MiB Spark assumes per
    Python worker by default (``spark.python.worker.memory``). Star
    rounds serve graphs above the limit because the one task would
    outgrow its worker there, not for speed: that they are faster on any
    graph is not measured, and on a 4-core host the one task was faster
    at every size tried, up to 1M edges.

    Star-forest stop (star path only): the first round whose edges form a
    STAR FOREST (every u has exactly one out-edge, no node is both a u
    and a v) ends the loop. The test is exact: rounds preserve
    connectivity and the node set, and every small-star edge has u > v,
    so each star's root is its component's minimum; and a large-star +
    small-star round maps such a forest to itself, so it IS the fixed
    point a fixed-point check would confirm one (skipped) round later.
    Labels: (u → v) ∪ (v → v).

    Used for dedup clustering: one keeper (the label) per near-dup cluster.
    """
    # each round's result is localCheckpoint'ed: star rounds reference their
    # input ~6× and Catalyst walks logical plans as TREES, so without
    # lineage truncation round k's plan costs O(6^k) to analyze — the
    # classic iterative-algorithm trap (checkpointing, not caching, is the
    # fix; cache shortcuts execution but not plan analysis)
    edges, n_edges = _counted(
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    for _ in range(max_iter):
        if n_edges.get["n"] <= _LOCAL_MAX_EDGES:
            return _union_find(edges)
        edges, n_edges = _counted(_small_star(_large_star(edges)))
        # star forest ⇔ no node with an out-edge has another incidence
        ends = edges.select(F.col("u").alias("n"), F.lit(1).alias("out")).unionByName(
            edges.select(F.col("v").alias("n"), F.lit(0).alias("out"))
        )
        deg = ends.groupBy("n").agg(F.sum("out").alias("outs"), F.count("*").alias("d"))
        if deg.where((F.col("outs") > 0) & (F.col("d") > 1)).isEmpty():
            # flat plan over the checkpointed forest; the intermediate
            # checkpoint blocks are released when their DataFrames are
            # garbage-collected (ContextCleaner)
            return edges.select(
                F.col("u").alias("id"), F.col("v").alias("label")
            ).unionByName(
                edges.select(F.col("v").alias("id"), F.col("v").alias("label"))
                .distinct()
            )
    # non-convergence must not masquerade as a result
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} "
        f"large-star/small-star rounds; raise max_iter (each round "
        f"halves the residual diameter, so this indicates max_iter "
        f"< log2(component diameter) or a degenerate input)"
    )


def dedup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = NUM_HASHES,
    bands: int = BANDS,
    shingle_k: int = SHINGLE_K,
) -> DataFrame:
    """MinHash-LSH candidates → connected components → (id, label) where
    label = cluster keeper (minimum id). Only ids that appear in at least
    one candidate pair are returned (everything else is its own keeper)."""
    return connected_components(
        minhash_lsh_pairs(
            df, id_col, text_col,
            num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
        )
    )


def near_pairs_from_fingerprints(
    fps: DataFrame, max_hamming: int = 3, bits: int = 16
) -> DataFrame:
    """Multi-index Hamming join over (id, simhash) rows.

    The fingerprint is split into ``max_hamming + 1`` bit blocks — by
    pigeonhole, any pair within Hamming distance ``max_hamming`` has at
    least one block with zero differing bits, so joining on (block index,
    block value) finds EVERY qualifying pair (recall 1.0). The block index
    is part of the join key so a low-block value can never equi-join a
    high-block value (wasted candidates otherwise). The exact bit_count
    filter restores precision. Join volume stays linear: each side is
    |fps|·(max_hamming+1) tiny rows bucketed by block value.
    """
    n_blocks = max_hamming + 1
    base, rem = divmod(bits, n_blocks)
    branches, off = [], 0
    for i in range(n_blocks):
        w = base + (1 if i < rem else 0)
        mask = (1 << w) - 1
        branches.append(
            fps.select(
                "id",
                "simhash",
                F.lit(i).alias("blk"),
                F.shiftright("simhash", off).bitwiseAND(F.lit(mask)).alias("bval"),
            )
        )
        off += w
    b = branches[0]
    for extra in branches[1:]:
        b = b.unionByName(extra)
    cand = (
        b.alias("a")
        .join(b.alias("b"), ["blk", "bval"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            .cast("int")
            .alias("hamming"),
        )
        .distinct()
    )
    return cand.where(F.col("hamming") <= max_hamming)


def simhash_near_pairs(df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by Hamming distance on SimHash (exact result set:
    multi-index blocking has recall 1.0 for distance ≤ max_hamming, and the
    bit_count filter gives precision 1.0). Caching is the CALLER's choice:
    the signature subtree is referenced by every block branch on both join
    sides, so at corpus scale persist (or materialize) simhash(...) first
    and pass it to near_pairs_from_fingerprints — this function deliberately
    holds no .cache() so repeated calls never accumulate pinned storage."""
    return near_pairs_from_fingerprints(
        simhash(df, id_col, text_col), max_hamming=max_hamming, bits=16
    )
