"""Fused corpus-preparation plan — the round-3/4 operators chained in the
order a production training-data run uses them:

    PII redaction → paragraph-level (C4 span) dedup → MinHash-LSH whole-doc
    dedup → benchmark decontamination → stratified downsampling → sequence
    packing (FFD)

Redaction runs FIRST so every downstream hash (paragraph md5, shingle
minima, decontamination shingles) is computed over the text that would
actually be released; paragraph dedup precedes whole-doc dedup so shared
boilerplate can't glue otherwise-distinct documents into near-dup
clusters.

Scan-count bound (the property that makes this ONE pipeline rather than
six jobs): the corpus parquet is scanned exactly ONCE. The redacted +
paragraph-deduped text is materialized once (localCheckpoint — on a
cluster, a parquet staging write), and every later stage (signatures,
decontamination, sampling, packing, stats) reads that in-memory/staged
table; the executed plans of the final outputs contain ZERO file scans of
the corpus (asserted in tests/test_corpus_prep.py and audited in
PLANS.md round 4). The benchmark table is scanned once for its shingle
set (broadcast — eval sets are bounded by definition).

Every stage keeps its individual operator's scale shape: linear key
shuffles only, no all-pairs joins, md5-deterministic decisions (the whole
pipeline is reproducible across engines, partitionings and cluster
sizes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.textstats import token_count
from ..operators import dedup, quality
from ..operators.packing import pack_sequences
from ..operators.paradedup import paragraph_dedup
from ..operators.redact import redact_pii
from ..operators.sampling import stratified_sample


def corpus_prep(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    strata_col: str = "lang",
    rates: dict[str, float] | None = None,
    default_rate: float = 1.0,
    capacity: int = 2048,
    n_shards: int = 64,
    num_hashes: int = dedup.NUM_HASHES,
    bands: int = dedup.BANDS,
    normalize_form: str | None = None,
    repetition_max: dict[str, int] | None = None,
    vocab: list[str] | None = None,
    quality_min: float | None = None,
    quality_model=None,
    substr_k: int | None = None,
) -> dict[str, DataFrame]:
    """Returns {"docs": survivors (id, text, strata, n_tokens),
    "packed": pack_sequences output over the survivors,
    "stats": 1-row stage-survivor counts (single action)}.

    ``docs`` must carry (id_col, text_col, strata_col); ``benchmark`` is
    the held-out eval set to decontaminate against (id_col, text_col).

    ``normalize_form``: optional unicode normalization ('NFC'/'NFKC',
    operators/normalize.py) applied BEFORE redaction so every downstream
    hash sees canonical bytes (two byte-different spellings dedup
    together). Off by default — it adds one Python kernel pass and one
    extra corpus scan (the strata re-join); turn it on for web-crawl
    text, leave it off for already-clean corpora. The ZERO-file-scan
    bound on the three outputs holds either way (everything downstream
    of the staging checkpoint is unchanged).

    ``quality_min`` / ``quality_model``: optional model-based quality
    gate (stage 2c) — docs whose quality score (from ``quality_model``,
    an operators/classifier.TextClassifier, or the built-in heuristic
    when None) falls below ``quality_min`` are dropped, counted in
    stats.n_classifier_dropped. Off unless quality_min is set.

    ``substr_k``: optional exact-substring span dedup (stage 3b,
    operators/substrdedup.py — the Lee et al. 2022 ExactSubstr pass):
    after whole-doc near-dup dedup, every duplicated >= substr_k-token
    span is cut from ALL its occurrences; stats.n_substr_removed counts
    the tokens cut. Runs AFTER MinHash on purpose — removing shared
    spans first would make near-duplicate documents look distinct and
    defeat the whole-doc stage. NOTE the operator's whitespace contract:
    with this stage on, every surviving doc's text is re-joined with
    single spaces. Off by default."""
    # None means "no per-stratum overrides" (every stratum gets
    # default_rate); an explicit {} must mean the same — `rates or {...}`
    # would silently substitute demo rates and downsample data the caller
    # asked to keep (ADVICE r4, high). default_rate=1.0 for the same
    # reason: a bare corpus_prep(docs, bench) call must KEEP everything;
    # downsampling is opt-in (r5 review — 0.3 silently dropped 70% of
    # every unlisted stratum).
    if rates is None:
        rates = {}

    # ---- stage 0 (optional): unicode canonicalization (flag-free path —
    # one normalize scan + one strata scan, both absorbed by the staging
    # checkpoint below)
    if normalize_form is not None:
        from ..operators.normalize import _normalized_docs

        docs = _normalized_docs(docs, id_col, text_col, strata_col, normalize_form)

    # ---- stage 1+2: redact, then paragraph-dedup the masked text.
    # One corpus scan; the compact (id, strata, text) result is
    # materialized so no later stage re-reads (or re-redacts) the corpus.
    red = redact_pii(docs, id_col, text_col).select(
        "id", F.col("redacted").alias("text")
    )
    strata = docs.select(
        F.col(id_col).alias("id"), F.col(strata_col).alias("strata")
    )
    para = (
        paragraph_dedup(red.join(strata, "id"), "id", "text")
        .join(strata, "id")
        .select(
            "id",
            F.col("text_dedup").alias("text"),
            "strata",
            "n_paras",
            "n_kept",
        )
        .localCheckpoint(eager=True)
    )
    base = para.where(F.length("text") > 0)  # fully-boilerplate docs drop

    # ---- stage 2b (optional): Gopher repetition quality gate on the
    # RELEASED text (post-redaction, post-span-dedup) — drop docs whose
    # repetition_signals column meets or exceeds any threshold, e.g.
    # {"dup_word_e4": 9000, "top_bigram_e4": 5000}. Off by default.
    if repetition_max:
        lowq = quality._repetition_flagged(
            base, "id", "text", repetition_max
        ).localCheckpoint(eager=True)
        base = base.join(lowq, "id", "left_anti")
    else:
        lowq = None

    # ---- stage 2c (optional): classifier quality gate on the released
    # text — the pluggable-model seam (operators/classifier.py); the
    # heuristic default keeps this stage fully native.
    if quality_min is not None:
        from ..operators.classifier import _below_quality

        lowc = _below_quality(
            base, "id", "text", quality_min, quality_model
        ).localCheckpoint(eager=True)
        base = base.join(lowc, "id", "left_anti")
    else:
        lowc = None

    # ---- stage 3: whole-doc near-dup dedup (MinHash-LSH → components)
    # the dropped-id list is consumed twice (the filter chain AND the stats
    # aggregation) — checkpoint the tiny id table so the signature pass
    # never runs twice
    clusters = dedup.dedup_clusters(
        base, "id", "text", num_hashes=num_hashes, bands=bands
    )
    dupes = (
        clusters.where(F.col("id") != F.col("label"))
        .select("id")
        .localCheckpoint(eager=True)
    )
    deduped = base.join(dupes, "id", "left_anti")

    # ---- stage 3b (optional): exact-substring span dedup on the
    # near-dup survivors; fully-duplicated docs empty out and drop here
    # (counted via the survivor stats, like fully-boilerplate docs)
    if substr_k is not None:
        from ..operators.substrdedup import exact_substring_dedup

        # checkpoint ONCE: sdd is consumed twice (the stats aggregate and
        # the survivor filter) and is the heaviest new stage — without
        # this, the whole window/span plan executes twice (r5 review)
        sdd = exact_substring_dedup(
            deduped, "id", "text", k=substr_k
        ).select("id", "text_dedup", "n_removed").localCheckpoint(eager=True)
        substr_removed = (
            sdd.agg(F.sum("n_removed").cast("bigint").alias("n"))
            .localCheckpoint(eager=True)
        )
        deduped = (
            sdd.where(F.length("text_dedup") > 0)
            .select("id", F.col("text_dedup").alias("text"))
            .join(deduped.select("id", "strata"), "id")
            .localCheckpoint(eager=True)
        )
    else:
        substr_removed = None

    # ---- stage 4: benchmark decontamination (broadcast shingle set);
    # checkpointed for the same consumed-twice reason (also makes the
    # benchmark scan happen exactly once)
    bench_norm = benchmark.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    )
    contaminated = (
        quality.decontaminate(deduped, bench_norm, "id", "text")
        .select("id")
        .localCheckpoint(eager=True)
    )
    clean = deduped.join(contaminated, "id", "left_anti")

    # ---- stage 5: deterministic stratified downsampling
    sampled = stratified_sample(clean, "strata", "id", rates, default_rate)

    # survivors materialize once; packing and stats both read this table.
    # With a vocab, n_tokens is the REAL WordPiece count (and survivors
    # carry the token ids) so packing fills capacity in actual tokens;
    # without one, the whitespace count stands in.
    if vocab is not None:
        from ..operators.tokenize import tokenize_greedy

        survivors = (
            sampled.select("id", "text", "strata")
            .join(tokenize_greedy(sampled, "id", "text", vocab), "id")
            .select("id", "text", "strata", "ids", "n_tokens")
            .localCheckpoint(eager=True)
        )
    else:
        survivors = sampled.select(
            "id", "text", "strata", token_count(F.col("text")).alias("n_tokens")
        ).localCheckpoint(eager=True)

    # ---- stage 6: sequence packing (FFD in md5 shards)
    packed = pack_sequences(
        survivors, "id", "n_tokens", capacity=capacity, n_shards=n_shards
    )

    # stage-survivor counts in ONE action over the small post-stage tables
    # (never a second corpus scan): left joins tag each doc's furthest stage;
    # a disabled gate (None) tags nothing
    stats = para.select(
        "id",
        (F.length("text") > 0).alias("kept_para"),
        (F.col("n_paras") - F.col("n_kept")).alias("paras_dropped"),
    )
    for gate, flag in ((lowq, "is_lowq"), (lowc, "is_lowc")):
        if gate is None:
            stats = stats.withColumn(flag, F.lit(None).cast("boolean"))
        else:
            stats = stats.join(
                gate.select("id", F.lit(True).alias(flag)), "id", "left"
            )
    stats = (
        stats.join(dupes.select("id", F.lit(True).alias("is_dupe")), "id", "left")
        .join(contaminated.select("id", F.lit(True).alias("is_contam")), "id", "left")
        .join(survivors.select("id", F.lit(True).alias("is_final")), "id", "left")
        .agg(
            F.count("*").alias("n_input"),
            F.sum("paras_dropped").cast("bigint").alias("n_paras_deduped"),
            F.sum(F.col("kept_para").cast("int")).cast("bigint").alias("n_after_para"),
            F.sum(F.coalesce(F.col("is_lowq").cast("int"), F.lit(0)))
            .cast("bigint").alias("n_quality_dropped"),
            F.sum(F.coalesce(F.col("is_lowc").cast("int"), F.lit(0)))
            .cast("bigint").alias("n_classifier_dropped"),
            (
                F.sum(F.col("kept_para").cast("int"))
                - F.sum(F.coalesce(F.col("is_lowq").cast("int"), F.lit(0)))
                - F.sum(F.coalesce(F.col("is_lowc").cast("int"), F.lit(0)))
                - F.sum(F.coalesce(F.col("is_dupe").cast("int"), F.lit(0)))
            ).cast("bigint").alias("n_after_dedup"),
            F.sum(F.coalesce(F.col("is_contam").cast("int"), F.lit(0)))
            .cast("bigint").alias("n_contaminated"),
            F.sum(F.coalesce(F.col("is_final").cast("int"), F.lit(0)))
            .cast("bigint").alias("n_final"),
        )
    )
    if substr_removed is not None:
        stats = stats.crossJoin(
            F.broadcast(
                substr_removed.select(
                    F.coalesce("n", F.lit(0)).cast("bigint").alias("n_substr_removed")
                )
            )
        )
    else:
        stats = stats.withColumn("n_substr_removed", F.lit(0).cast("bigint"))
    return {"docs": survivors, "packed": packed, "stats": stats}


def file_scan_count(df: DataFrame) -> int:
    """Number of file-source scans in df's EXECUTED plan — the audit hook
    for the scan-count bound (0 for plans rooted at checkpointed stages)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    # single pattern: "FileScan parquet" contains "Scan parquet", so
    # counting both double-counts every node (ADVICE r4, low)
    return plan.count("Scan parquet")
