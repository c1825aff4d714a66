"""Streaming incremental corpus preparation — the online analogue of
plans/corpus_prep.py for append-only ingestion (a crawl that lands files
continuously and must emit training-ready survivors incrementally instead
of re-running a batch job over the whole corpus).

Per microbatch (foreachBatch):
1. optional unicode normalization + PII redaction (stateless projections),
2. INCREMENTAL paragraph-level dedup: a paragraph survives iff its md5 is
   new to the corpus-so-far (parquet paragraph-hash index) and it is the
   first occurrence inside the batch (min (id, pos) — the same keeper
   rule as the batch operator),
3. INCREMENTAL near-dup dedup: MinHash band rows are matched against the
   accumulated band index (same state model as streaming_near_dup);
   within the batch, candidate components elect the min-id keeper.
   Online semantic (documented): a document is dropped iff it matches an
   already-indexed document OR it is not its batch-component's keeper.
   When ids arrive in increasing order this equals the batch operator's
   min-id-keeper rule; out-of-order arrival keeps the EARLIEST-SEEN
   near-duplicate instead of the globally smallest id (an online system
   cannot drop a doc it already emitted).
4. deterministic stratified sampling (md5-uniform — stateless, identical
   decision the batch pipeline makes),
5. survivors appended to the output; indexes appended (plain parquet —
   queryable, compactable, prunable with prune_band_index).

Packing is intentionally absent: FFD bin packing is a batch decision over
a closed corpus (a pack emitted now could not admit a better-fitting later
doc) — run operators/packing over the survivor table per training run.

foreachBatch may re-run a batch on failure. The three state writes
(output append, paragraph-index append, band-index append) are not
atomic, so replay safety cannot rely on "all three happened or none
did": every index row is tagged with the WRITING batch_id, and each
batch probes the indexes EXCLUDING its own batch_id's rows. A replay
after any partial failure therefore recomputes exactly the first
attempt's survivors (its own half-written state is invisible to it)
and re-appends them; outputs and indexes are idempotently readable
(consumers take DISTINCT on id, the indexes on (id, band, bkey) / h —
duplicate rows from a replayed append don't change semi/anti-join
semantics). Without the batch_id exclusion, a failure between the
para-index append and the band-index append would make the replay
anti-join every paragraph against itself, rebuild all docs empty, and
permanently lose both the documents and their band-index rows
(ADVICE r4, medium).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as _dedup
from ..operators.paradedup import _java_regex_quote
from ..operators.redact import redact_pii
from ..operators.sampling import stratified_sample


def _read_or_none(spark: SparkSession, path: str):
    from pyspark.errors import AnalysisException

    try:
        # mergeSchema: a state dir upgraded mid-life holds legacy files
        # without batch_id next to tagged ones — schema must come from
        # the UNION of footers, or which file Spark samples decides
        # whether the batch_id column (and the replay exclusion) exists
        return spark.read.option("mergeSchema", "true").parquet(path)
    except AnalysisException:  # PATH_NOT_FOUND on the very first batch
        return None


def _read_substr_index(spark: SparkSession, path: str):
    """The window-hash index, or None before the first substr append. Its
    ``h`` must be the bigint xxhash64 that operators/substrdedup.
    window_hashes emits: an index written with the r5 md5-hex (string) h
    would join against bigint hashes and either fail deep in the batch
    (ANSI cast error) or, with ANSI off, silently match nothing."""
    sidx = _read_or_none(spark, path)
    if sidx is not None and sidx.schema["h"].dataType.simpleString() != "bigint":
        raise ValueError(
            f"substring index {path!r} has h of type "
            f"{sidx.schema['h'].dataType.simpleString()}, expected bigint "
            "(an md5-era state_dir) — start a fresh state_dir."
        )
    return sidx


def streaming_corpus_prep(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    rates: dict[str, float] | None = None,
    default_rate: float = 1.0,
    normalize_form: str | None = None,
    repetition_max: dict[str, int] | None = None,
    sep: str = "\n",
    num_hashes: int | None = None,
    bands: int | None = None,
    shingle_k: int | None = None,
    available_now: bool = True,
    quality_min: float | None = None,
    quality_model=None,
    substr_k: int | None = None,
):
    """Input schema: doc_id bigint, text string, lang string, ts timestamp.
    Output: survivors (doc_id, text, lang) appended to ``output_dir``.
    State: ``state_dir``/paras (h), ``state_dir``/bands (id, band, bkey)
    and — with substr_k — ``state_dir``/substr (h), all plain parquet
    with batch_id tags. quality_min/quality_model/substr_k mirror the
    batch pipeline's gates (see make_batch_processor)."""
    stream = (
        spark.readStream.schema(
            "doc_id bigint, text string, lang string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    process = make_batch_processor(
        spark,
        output_dir,
        state_dir,
        rates=rates,
        default_rate=default_rate,
        normalize_form=normalize_form,
        repetition_max=repetition_max,
        sep=sep,
        num_hashes=num_hashes,
        bands=bands,
        shingle_k=shingle_k,
        quality_min=quality_min,
        quality_model=quality_model,
        substr_k=substr_k,
        lineage=checkpoint_dir,
    )
    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        return writer.trigger(availableNow=True).start()
    return writer.start()


def make_batch_processor(
    spark: SparkSession,
    output_dir: str,
    state_dir: str,
    rates: dict[str, float] | None = None,
    default_rate: float = 1.0,
    normalize_form: str | None = None,
    repetition_max: dict[str, int] | None = None,
    sep: str = "\n",
    num_hashes: int | None = None,
    bands: int | None = None,
    shingle_k: int | None = None,
    quality_min: float | None = None,
    quality_model=None,
    substr_k: int | None = None,
    lineage: str | None = None,
):
    """The foreachBatch body as a standalone (batch_df, batch_id) callable
    — exposed so replay behavior is directly testable (a replay is just
    calling the processor again with the same batch_id after any prefix
    of its state writes landed).

    ``quality_min`` / ``quality_model``: the batch pipeline's stateless
    classifier gate (operators/classifier.py), applied per microbatch on
    the released text.

    ``substr_k``: ONLINE exact-substring dedup. The batch operator's
    remove-all rule is retrospective (it cuts every occurrence,
    including ones already seen); an online system cannot cut text it
    already emitted, so the streaming semantic is KEEP-FIRST: a >= k-token
    span is cut where its windows match the accumulated window-hash
    index (``state_dir``/substr) or repeat an EARLIER position inside
    the batch (min (doc, pos) keeper per hash) — the same
    earliest-occurrence-survives convention the paragraph index uses.
    The whole stage runs on the POST-SAMPLING set (sampling decides on
    ids only), so both the intra-batch keeper and every indexed window
    belong to documents that are actually emitted — a keeper that
    sampling then dropped would have released the span in no document
    at all (r5 review). The para/band indexes intentionally keep the
    broader pre-gate/pre-sampling "seen corpus" semantics instead: that
    is exactly what the BATCH pipeline computes (paragraph dedup and
    MinHash run over the full corpus before any gate or sampling), so
    the online run converges to the batch result; the cost — a
    paragraph whose first occurrence was later gated/sampled away stays
    deduped everywhere — is inherent to dedup-before-sample and is the
    published C4 ordering, accepted for doc/paragraph grain but NOT for
    span cuts (which mangle documents rather than drop redundant
    units). NOTE the operator's whitespace contract: with this stage
    on, released text is re-joined with single spaces (paragraph
    separators included).

    ``lineage``: identifier of the CHECKPOINT LINEAGE this state_dir
    belongs to (streaming_corpus_prep passes its checkpoint_dir). The
    batch_id replay exclusion is only sound within one checkpoint's
    batch numbering — a restart with a FRESH checkpoint but a reused
    state_dir restarts batch ids at 0, and batch 0 would silently
    exclude (i.e. ignore) everything the old run's batch 0 indexed
    (r5 review). The first batch records the lineage in
    ``state_dir``/lineage; a mismatch raises instead of corrupting
    dedup state. None (direct/test use) skips the check."""
    rates = rates or {}
    if substr_k is not None and substr_k < 1:
        # window_hashes would hash the empty slice for EVERY position
        # (all windows identical) and keep-first would gut the corpus —
        # same guard as the batch operator, which this path bypasses
        raise ValueError(
            f"make_batch_processor: substr_k must be >= 1, got {substr_k}"
        )
    nh = _dedup.NUM_HASHES if num_hashes is None else num_hashes
    nb = _dedup.BANDS if bands is None else bands
    sk = _dedup.SHINGLE_K if shingle_k is None else shingle_k
    sep_re = _java_regex_quote(sep)
    para_idx_dir = f"{state_dir}/paras"
    band_idx_dir = f"{state_dir}/bands"
    substr_idx_dir = f"{state_dir}/substr"
    lineage_dir = f"{state_dir}/lineage"
    lineage_ok = {"checked": False}

    def _check_lineage(write: bool):
        """Mismatch raises; the marker is WRITTEN at the START of the
        first processed batch, BEFORE any state append (r6, advisor
        finding): written after the appends, a crash in the window
        between an index append and the marker left batch_id-tagged rows
        in an unclaimed state_dir — a later run with a fresh checkpoint
        would pass this check and silently exclude them. A
        claimed-but-empty state_dir merely raises a spurious ValueError
        on reuse (fails safe); unclaimed state fails corrupt."""
        existing = _read_or_none(spark, lineage_dir)
        if existing is not None:
            rows = existing.limit(1).collect()
            if rows and rows[0].lineage != lineage:
                raise ValueError(
                    f"state_dir {state_dir!r} belongs to checkpoint lineage "
                    f"{rows[0].lineage!r}, not {lineage!r} — batch-id replay "
                    "exclusion would silently ignore the old run's indexed "
                    "state. Reuse the original checkpoint_dir, or start a "
                    "fresh state_dir."
                )
            lineage_ok["checked"] = True
        elif write:
            spark.createDataFrame(
                [(lineage,)], "lineage string"
            ).coalesce(1).write.mode("overwrite").parquet(lineage_dir)
            lineage_ok["checked"] = True

    if lineage is not None:
        _check_lineage(write=False)  # fail fast on an obvious mismatch

    def process(batch_df, batch_id: int):
        # refuse an incompatible substr index before anything is written
        if substr_k is not None:
            sidx = _read_substr_index(spark, substr_idx_dir)
        # claim the state_dir for this checkpoint lineage BEFORE any
        # state append (see _check_lineage)
        if lineage is not None and not lineage_ok["checked"]:
            _check_lineage(write=True)
        docs = batch_df.select("doc_id", "text", "lang")
        if normalize_form is not None:
            from ..operators.normalize import _normalized_docs

            docs = _normalized_docs(docs, "doc_id", "text", "lang", normalize_form)
        docs = redact_pii(docs, "doc_id", "text").select(
            F.col("id").alias("doc_id"), F.col("redacted").alias("text")
        ).join(docs.select("doc_id", "lang"), "doc_id")

        # ---- incremental paragraph dedup
        p = docs.select(
            "doc_id", F.posexplode(F.split("text", sep_re)).alias("pos", "para")
        ).withColumn("h", F.md5("para"))
        para_idx = _read_or_none(spark, para_idx_dir)
        fresh = p.where(F.col("para") != "")
        if para_idx is not None:
            # replay safety: a prior FAILED attempt of THIS batch may have
            # appended its para hashes already — probing them would drop
            # every paragraph of the batch as "already seen". Exclude own
            # batch_id rows (legacy untagged indexes have no batch_id col).
            if "batch_id" in para_idx.columns:
                para_idx = para_idx.where(~F.col("batch_id").eqNullSafe(F.lit(batch_id)))
            fresh = fresh.join(para_idx.select("h"), "h", "left_anti")
        keeper = fresh.groupBy("h").agg(F.min(F.struct("doc_id", "pos")).alias("k"))
        kept = (
            p.join(keeper, "h", "left")
            .where(
                (F.col("para") == "")
                | (
                    (F.col("doc_id") == F.col("k.doc_id"))
                    & (F.col("pos") == F.col("k.pos"))
                )
            )
            .select("doc_id", "pos", "para", "h")
        )
        rebuilt = (
            kept.groupBy("doc_id")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "para"))),
                        lambda x: x["para"],
                    ),
                    sep,
                ).alias("text")
            )
            .where(F.length("text") > 0)
            .join(docs.select("doc_id", "lang"), "doc_id")
            .localCheckpoint(eager=True)
        )

        # ---- optional Gopher repetition gate (stateless, the batch
        # pipeline's stage 2b, on the released text)
        if repetition_max:
            from ..operators.quality import _repetition_flagged

            lowq = _repetition_flagged(rebuilt, "doc_id", "text", repetition_max)
            rebuilt = rebuilt.join(lowq, rebuilt.doc_id == lowq.id, "left_anti")

        # ---- optional classifier quality gate (stateless — the batch
        # pipeline's stage 2c, heuristic default or an external model)
        if quality_min is not None:
            from ..operators.classifier import _below_quality

            lowc = _below_quality(rebuilt, "doc_id", "text", quality_min, quality_model)
            rebuilt = rebuilt.join(lowc, rebuilt.doc_id == lowc.id, "left_anti")

        # ---- incremental near-dup dedup
        bands_df = _dedup.minhash_band_rows(
            rebuilt, "doc_id", "text", num_hashes=nh, bands=nb, shingle_k=sk
        ).localCheckpoint(eager=True)
        band_idx = _read_or_none(spark, band_idx_dir)
        if band_idx is not None:
            # same replay-safety exclusion as the paragraph index
            if "batch_id" in band_idx.columns:
                band_idx = band_idx.where(~F.col("batch_id").eqNullSafe(F.lit(batch_id)))
            cross_matched = (
                bands_df.join(
                    band_idx.select("band", "bkey"), ["band", "bkey"], "left_semi"
                )
                .select("id")
                .distinct()
            )
        else:
            cross_matched = bands_df.select("id").limit(0)
        intra = (
            bands_df.alias("a")
            .join(bands_df.alias("b"), ["band", "bkey"])
            .where(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
        # batch-component keeper = min id (same rule as dedup_clusters)
        non_keepers = (
            _dedup.connected_components(intra)
            .where(F.col("id") != F.col("label"))
            .select("id")
        )
        dropped = cross_matched.unionByName(non_keepers).distinct()
        survivors = rebuilt.join(
            dropped.withColumnRenamed("id", "doc_id"), "doc_id", "left_anti"
        )

        # ---- deterministic sampling BEFORE the substring cut: sampling
        # decides on ids only, and the keep-first keeper of a duplicated
        # span must be a doc that is actually EMITTED — electing a
        # keeper that sampling then drops would release the span in no
        # document at all (r5 review)
        sampled = stratified_sample(
            survivors, "lang", "doc_id", rates, default_rate
        ).localCheckpoint(eager=True)

        # ---- optional ONLINE exact-substring dedup (keep-first — see
        # the factory docstring) over the emitted set only
        if substr_k is not None:
            from ..operators.substrdedup import (
                cut_spans,
                merge_window_spans,
                token_base,
                window_hashes,
            )

            sbase = token_base(sampled, "doc_id", "text").localCheckpoint(
                eager=True
            )
            wins = window_hashes(sbase, substr_k).localCheckpoint(eager=True)
            if sidx is not None:
                if "batch_id" in sidx.columns:
                    sidx = sidx.where(~F.col("batch_id").eqNullSafe(F.lit(batch_id)))
                cross_wins = wins.join(sidx.select("h"), "h", "left_semi").select(
                    "id", "pos"
                )
            else:
                cross_wins = wins.select("id", "pos").limit(0)
            # intra-batch: keep the FIRST occurrence (min (id, pos)) of
            # each duplicated window, cut the rest
            wkeep = wins.groupBy("h").agg(F.min(F.struct("id", "pos")).alias("k"))
            intra_wins = (
                wins.join(wkeep, "h")
                .where(
                    (F.col("id") != F.col("k.id")) | (F.col("pos") != F.col("k.pos"))
                )
                .select("id", "pos")
            )
            dwin = cross_wins.unionByName(intra_wins).distinct()
            cut = cut_spans(sbase, merge_window_spans(dwin, substr_k))
            sampled = (
                cut.where(F.length("text_dedup") > 0)
                .select(F.col("id").alias("doc_id"), F.col("text_dedup").alias("text"))
                .join(sampled.select("doc_id", "lang"), "doc_id")
                .localCheckpoint(eager=True)
            )

        # ---- emit + index updates
        sampled.select("doc_id", "text", "lang").write.mode("append").parquet(
            output_dir
        )
        # paragraph index gains the batch's KEPT (first-occurrence) hashes;
        # band index gains only SURVIVOR docs' rows (a dropped near-dup's
        # content is represented by the doc it matched)
        # index rows are tagged with the writing batch_id so a replay can
        # exclude its own earlier (possibly partial) appends — see module
        # docstring.
        kept.where(F.col("para") != "").select("h").distinct().withColumn(
            "batch_id", F.lit(batch_id).cast("bigint")
        ).write.mode("append").parquet(para_idx_dir)
        bands_df.join(
            survivors.select(F.col("doc_id").alias("id")), "id", "left_semi"
        ).withColumn("batch_id", F.lit(batch_id).cast("bigint")).write.mode(
            "append"
        ).parquet(band_idx_dir)
        if substr_k is not None:
            # index the EMITTED text's windows only — see the factory
            # docstring for why not pre-sampling (the stage above ran on
            # the sampled set, so these are the released docs' windows
            # after their own cuts)
            window_hashes(
                token_base(sampled, "doc_id", "text"), substr_k
            ).select("h").distinct().withColumn(
                "batch_id", F.lit(batch_id).cast("bigint")
            ).write.mode("append").parquet(substr_idx_dir)
    return process
