"""Lineage/resume + streaming + partition-invariance tests (SURVEY.md §5.2)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from metadatadocumentparser_spark import synth
from metadatadocumentparser_spark.plans import extract_all, parse_transcripts, turns_of
from metadatadocumentparser_spark.plans.lineage import (
    input_snapshot_id,
    read_output,
    run_with_lineage,
)

N_CONVS = 12
HOT = 5


def _write_corpus(spark, path):
    df = spark.createDataFrame(synth.synth_local(N_CONVS, HOT), schema=synth.TRANSCRIPT_DDL)
    df.repartition(4).write.mode("overwrite").parquet(path)
    return df


def _sorted_turns(df):
    return [
        (r.conv_id, r.turn_idx, r.extracted_text, tuple((s.start, s.end) for s in r.spans))
        for r in df.orderBy("conv_id", "turn_idx").collect()
    ]


def test_resume_skips_committed_and_output_identical(spark, tmp_path):
    corpus = str(tmp_path / "corpus")
    out = str(tmp_path / "out")
    _write_corpus(spark, corpus)

    # simulated kill after 3 of 6 buckets
    r1 = run_with_lineage(spark, corpus, out, n_buckets=6, max_buckets=3)
    assert len(r1["processed"]) == 3 and not r1["complete"]

    # resume: must skip the committed 3, process the remaining 3
    r2 = run_with_lineage(spark, corpus, out, n_buckets=6)
    assert sorted(r2["skipped"]) == sorted(r1["processed"])
    assert len(r2["processed"]) == 3 and r2["complete"]

    # third run: nothing left
    r3 = run_with_lineage(spark, corpus, out, n_buckets=6)
    assert r3["processed"] == [] and r3["complete"]

    # byte-identical to a direct single-pass run
    direct = turns_of(parse_transcripts(spark.read.parquet(corpus)))
    assert _sorted_turns(read_output(spark, out)) == _sorted_turns(direct)


def _committed_state(spark, out):
    """(lineage rows, bucket dirs) of a lineage output dir."""
    rows = spark.read.parquet(os.path.join(out, "_lineage")).count()
    return rows, sorted(os.listdir(os.path.join(out, "turns")))


def test_resume_with_other_bucket_count_refused(spark, tmp_path):
    """A resume that re-splits the turns would skip or mix buckets: it is
    refused before any write."""
    corpus = str(tmp_path / "corpus")
    out = str(tmp_path / "out")
    _write_corpus(spark, corpus)
    run_with_lineage(spark, corpus, out, n_buckets=4, max_buckets=2)
    before = _committed_state(spark, out)
    with pytest.raises(ValueError, match="n_buckets"):
        run_with_lineage(spark, corpus, out, n_buckets=2)
    assert _committed_state(spark, out) == before


def test_resume_with_other_parse_flags_refused(spark, tmp_path):
    corpus = str(tmp_path / "corpus")
    out = str(tmp_path / "out")
    _write_corpus(spark, corpus)
    run_with_lineage(spark, corpus, out, n_buckets=3, max_buckets=1)
    before = _committed_state(spark, out)
    with pytest.raises(ValueError, match="parse flags"):
        run_with_lineage(spark, corpus, out, n_buckets=3, text_method="pdfplumber")
    assert _committed_state(spark, out) == before


def test_resume_over_rows_without_layout_refused(spark, tmp_path):
    """A lineage row written before layouts were recorded cannot be matched
    to this run's layout, so a resume over it is refused."""
    corpus = str(tmp_path / "corpus")
    out = str(tmp_path / "out")
    _write_corpus(spark, corpus)
    old_ddl = (
        "bucket int, input_snapshot string, rows_in bigint, rows_out bigint, "
        "metrics string, committed_at double"
    )
    row = (0, input_snapshot_id(spark, corpus), 1, 1, "{}", 0.0)
    spark.createDataFrame([row], old_ddl).write.parquet(os.path.join(out, "_lineage"))
    with pytest.raises(ValueError, match="None"):
        run_with_lineage(spark, corpus, out, n_buckets=3)
    assert not os.path.exists(os.path.join(out, "turns"))


def test_resume_with_default_flag_spelled_out(spark, tmp_path):
    """parse_doc's defaults count as given: naming one resumes the run."""
    corpus = str(tmp_path / "corpus")
    out = str(tmp_path / "out")
    _write_corpus(spark, corpus)
    r1 = run_with_lineage(spark, corpus, out, n_buckets=3, max_buckets=1)
    r2 = run_with_lineage(spark, corpus, out, n_buckets=3, text_method="pymupdf")
    assert r2["skipped"] == r1["processed"] and r2["complete"]
    assert len(r2["processed"]) == 2


@pytest.mark.parametrize("flag", [{"header_margin": 50.0}, {"footer_margin": 50}])
def test_resume_with_float_spelled_default(spark, tmp_path, flag):
    """A flag compares by parse_doc's annotated type: a margin of 50.0 is
    the default 50, so the resume skips the committed buckets."""
    corpus = str(tmp_path / "corpus")
    out = str(tmp_path / "out")
    _write_corpus(spark, corpus)
    r1 = run_with_lineage(spark, corpus, out, n_buckets=3, max_buckets=1)
    r2 = run_with_lineage(spark, corpus, out, n_buckets=3, **flag)
    assert r2["skipped"] == r1["processed"] and r2["complete"]
    assert len(r2["processed"]) == 2


def test_resume_over_uncoerced_layout_rows(spark, tmp_path):
    """Rows whose layout holds the flags as given (the defaults' int
    margins) still resume: stored layouts are compared after the same
    coercion."""
    import json

    from metadatadocumentparser_spark.docparse import parse_flags
    from metadatadocumentparser_spark.plans.lineage import LINEAGE_DDL

    corpus = str(tmp_path / "corpus")
    out = str(tmp_path / "out")
    _write_corpus(spark, corpus)
    layout = json.dumps({"n_buckets": 3, **parse_flags()}, sort_keys=True)
    assert '"header_margin": 50,' in layout
    row = (0, input_snapshot_id(spark, corpus), 1, 1, "{}", 0.0, layout)
    spark.createDataFrame([row], LINEAGE_DDL).write.parquet(os.path.join(out, "_lineage"))
    r = run_with_lineage(spark, corpus, out, n_buckets=3, header_margin=50.0)
    assert r["skipped"] == [0] and r["processed"] == [1, 2] and r["complete"]


def test_streaming_matches_batch(spark, tmp_path):
    from metadatadocumentparser_spark.streaming import extract_stream

    corpus = str(tmp_path / "scorpus")
    out = str(tmp_path / "sout")
    ckpt = str(tmp_path / "ckpt")
    _write_corpus(spark, corpus)

    q = extract_stream(spark, corpus, out, ckpt, available_now=True)
    assert q.awaitTermination(120), "streaming query did not finish within 120s"

    got = spark.read.parquet(os.path.join(out, "turns"))
    direct = turns_of(parse_transcripts(spark.read.parquet(corpus)))
    assert _sorted_turns(got) == _sorted_turns(direct)

    # restart with no new files → no duplicates (checkpoint exactly-once)
    q2 = extract_stream(spark, corpus, out, ckpt, available_now=True)
    assert q2.awaitTermination(120), "streaming query did not finish within 120s"
    assert spark.read.parquet(os.path.join(out, "turns")).count() == direct.count()


def test_partition_invariance(spark):
    """Output must be invariant to input partitioning (north rule: stable
    ordering is semantic, never an accident of shuffle order)."""
    rows = synth.synth_local(10, hot_factor=5)
    df = spark.createDataFrame(rows, schema=synth.TRANSCRIPT_DDL)
    a = extract_all(df.repartition(2), repartition=False)
    b = extract_all(df.repartition(23), repartition=True)
    assert _sorted_turns(a["turns"]) == _sorted_turns(b["turns"])
    fa = [
        tuple(r)
        for r in a["formulas"].orderBy("conv_id", "turn_idx", "formula_index").collect()
    ]
    fb = [
        tuple(r)
        for r in b["formulas"].orderBy("conv_id", "turn_idx", "formula_index").collect()
    ]
    assert fa == fb
    ba = a["blocks"].groupBy("block_type").count().collect()
    bb = b["blocks"].groupBy("block_type").count().collect()
    assert sorted(map(tuple, ba)) == sorted(map(tuple, bb))


def test_windowed_watermark_stream(spark, tmp_path):
    """Event-time window + watermark: append-mode output equals the batch
    aggregation for all closed windows (availableNow drains everything, so
    every window closes)."""
    import os
    from pyspark.sql import functions as F
    from metadatadocumentparser_spark.streaming.stream import windowed_event_counts

    src = "/root/testdata/sf0.001/events.parquet"
    indir = str(tmp_path / "ev")
    out = str(tmp_path / "wout")
    ckpt = str(tmp_path / "wckpt")
    spark.read.parquet(src).repartition(3).write.mode("overwrite").parquet(indir)

    q = windowed_event_counts(spark, indir, out, ckpt)
    assert q.awaitTermination(180), "streaming query did not finish within 180s"

    got = spark.read.parquet(out)
    batch = (
        spark.read.parquet(indir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 3).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type", "n", "sum_value",
        )
    )
    # append mode emits a window only once the watermark passes it — the
    # final windows (within `watermark` of max event time) stay open and
    # are correctly withheld. Closed windows must match batch exactly.
    max_ts = spark.read.parquet(indir).agg(F.max("ts")).collect()[0][0]
    import datetime

    cutoff = max_ts - datetime.timedelta(hours=2)
    closed_batch = {
        (r.window_start, r.event_type): (r.n, r.sum_value)
        for r in batch.collect()
        if r.window_end <= cutoff
    }
    got_map = {(r.window_start, r.event_type): (r.n, r.sum_value) for r in got.collect()}
    assert closed_batch, "no closed windows — weak test"
    for k, v in closed_batch.items():
        assert got_map.get(k) == v, k
    # nothing emitted that batch doesn't have
    batch_all = {(r.window_start, r.event_type): (r.n, r.sum_value) for r in batch.collect()}
    for k, v in got_map.items():
        assert batch_all[k] == v, k


def test_extract_all_materialized(spark, tmp_path):
    """Materialized variant equals the lazy variant on every output table."""
    from metadatadocumentparser_spark.plans import extract_all_materialized

    rows = synth.synth_local(8, 4)
    df = spark.createDataFrame(rows, schema=synth.TRANSCRIPT_DDL)
    lazy = extract_all(df)
    mat = extract_all_materialized(df, str(tmp_path / "staged"))
    assert _sorted_turns(mat["turns"]) == _sorted_turns(lazy["turns"])
    for tbl in ("blocks", "formulas", "images", "tables", "meta", "segments"):
        a = sorted(map(str, lazy[tbl].collect()))
        b = sorted(map(str, mat[tbl].collect()))
        assert a == b, tbl


def test_stateful_sessionize_stream(spark, tmp_path):
    """applyInPandasWithState sessionizer: emitted closed sessions equal the
    batch sessionization minus each user's final (still-open) session."""
    import os
    from pyspark.sql import functions as F
    from metadatadocumentparser_spark.operators.sessionize import sessionize
    from metadatadocumentparser_spark.streaming.stateful import stateful_sessionize_stream

    src = "/root/testdata/sf0.001/events.parquet"
    indir = str(tmp_path / "sev")
    out = str(tmp_path / "sessout")
    ckpt = str(tmp_path / "sessckpt")
    spark.read.parquet(src).repartition(3).write.mode("overwrite").parquet(indir)

    q = stateful_sessionize_stream(spark, indir, out, ckpt)
    assert q.awaitTermination(240), "streaming query did not finish within 240s"

    got = {
        (r.user_id, r.session_id): (r.n_events, r.start_ep, r.duration_s)
        for r in spark.read.parquet(out).collect()
    }
    batch = sessionize(spark.read.parquet(indir))
    last = batch.groupBy("user_id").agg(F.max("session_id").alias("last_sid"))
    closed_batch = {
        (r.user_id, r.session_id): (r.n_events, r.start_ep, r.duration_s)
        for r in batch.join(last, "user_id")
        .where(F.col("session_id") != F.col("last_sid"))
        .collect()
    }
    assert closed_batch, "no closed sessions — weak test"
    assert got == closed_batch


def test_streaming_exact_dedup(spark, tmp_path):
    """dropDuplicatesWithinWatermark keeps exactly one row per content
    fingerprint (within the watermark horizon) — the streaming analogue of
    exact_dedup_groups. The fingerprint set and total row count must match
    the batch dedup over the same input."""
    from pyspark.sql import functions as F
    from metadatadocumentparser_spark.functions.textstats import fingerprint
    from metadatadocumentparser_spark.streaming.stream import streaming_exact_dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # duplicate every doc 3x at slightly later timestamps (all inside the
    # watermark horizon, so every duplicate is a state hit, never an expiry)
    base = docs.select(
        "doc_id", "text", F.lit("2026-01-01 00:00:00").cast("timestamp").alias("ts")
    )
    dup = base.unionByName(
        base.withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 MINUTE"))
    ).unionByName(base.withColumn("ts", F.col("ts") + F.expr("INTERVAL 2 MINUTE")))
    indir, out, ckpt = (str(tmp_path / d) for d in ("din", "dout", "dckpt"))
    dup.repartition(4).write.mode("overwrite").parquet(indir)

    q = streaming_exact_dedup(spark, indir, out, ckpt)
    assert q.awaitTermination(240), "streaming query did not finish within 240s"

    got = spark.read.parquet(out)
    batch_fps = {r.h for r in docs.select(fingerprint("text").alias("h")).collect()}
    got_fps = {r.h for r in got.select("h").collect()}
    assert got_fps == batch_fps
    assert got.count() == len(batch_fps)  # exactly one survivor per content


def test_streaming_near_dup_equals_batch(spark, tmp_path):
    """Incremental MinHash-LSH near-dup: the union of pair outputs over all
    microbatches (intra-batch self-join + cross-batch index join) must
    equal the BATCH minhash_lsh_pairs over the full corpus — each pair
    found exactly once regardless of how the corpus was split into
    batches."""
    from pyspark.sql import functions as F
    from metadatadocumentparser_spark.operators import dedup
    from metadatadocumentparser_spark.streaming.stream import streaming_near_dup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = docs.select(
        "doc_id", "text", F.lit("2026-01-01 00:00:00").cast("timestamp").alias("ts")
    )
    indir, out, ckpt, idx = (str(tmp_path / d) for d in ("nin", "nout", "nckpt", "nidx"))
    # 3 input files, streamed one per microbatch (maxFilesPerTrigger=1)
    base.repartition(3).write.mode("overwrite").parquet(indir)

    q = streaming_near_dup(spark, indir, out, ckpt, idx)
    assert q.awaitTermination(240), "streaming query did not finish within 240s"

    got = {
        (r.id_a, r.id_b)
        for r in spark.read.parquet(out).distinct().collect()
    }
    want = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(docs, "doc_id", "text").collect()
    }
    assert want, "no near-dup pairs in the corpus — weak test"
    assert got == want
    # the index accumulated every doc's band rows (4 per doc with shingles)
    idx_ids = {r.id for r in spark.read.parquet(idx).select("id").distinct().collect()}
    sig_ids = {r.id for r in dedup.minhash_signatures(docs, "doc_id", "text").select("id").collect()}
    assert idx_ids == sig_ids


def test_streaming_near_dup_index_retention(spark, tmp_path):
    """prune_band_index bounds the near-dup index to a finite dedup
    horizon: a pruned id must stop producing cross-batch pairs from the
    next microbatch on, while the kept remainder still matches exactly."""
    import pytest
    from pyspark.sql import functions as F
    from metadatadocumentparser_spark.streaming.stream import (
        prune_band_index,
        streaming_near_dup,
    )

    tx = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    ty = "one two three four five six seven eight nine ten eleven"
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "doc_id bigint, text string"
    ).select("doc_id", "text", F.lit("2026-01-01 00:00:00").cast("timestamp").alias("ts"))
    indir, out, ckpt, idx = (str(tmp_path / d) for d in ("rin", "rout", "rckpt", "ridx"))

    # batch 1: docs 1 (text X) and 3 (text Y) — no intra pairs
    mk([(1, tx), (3, ty)]).coalesce(1).write.mode("append").parquet(indir)
    q = streaming_near_dup(spark, indir, out, ckpt, idx)
    assert q.awaitTermination(240), "streaming query did not finish within 240s"

    # retention: forget doc 1; doc 3's band rows survive verbatim
    kept = prune_band_index(spark, idx, drop_ids=[1])
    idx_after = spark.read.parquet(idx)
    assert {r.id for r in idx_after.select("id").distinct().collect()} == {3}
    assert kept == idx_after.count()

    # batch 2: docs 2 (= text X) and 4 (= text Y): only the kept id may
    # produce a cross-batch pair
    mk([(2, tx), (4, ty)]).coalesce(1).write.mode("append").parquet(indir)
    q2 = streaming_near_dup(spark, indir, out, ckpt, idx)
    assert q2.awaitTermination(240), "streaming query did not finish within 240s"
    pairs = {(r.id_a, r.id_b) for r in spark.read.parquet(out).distinct().collect()}
    assert (3, 4) in pairs      # kept id still matches
    assert (1, 2) not in pairs  # pruned id is forgotten

    with pytest.raises(ValueError, match="exactly one"):
        prune_band_index(spark, idx)


def test_streaming_corpus_prep(spark, tmp_path):
    """Incremental corpus prep: cross-batch paragraph dedup (an exact
    re-arrival dies at the paragraph index), cross-batch near-dup drop
    (band-index match), intra-batch component keeper election, and
    redaction before any hashing — survivors and their released bytes
    pinned across two microbatches."""
    from pyspark.sql import functions as F
    from metadatadocumentparser_spark.streaming.corpus_stream import (
        streaming_corpus_prep,
    )

    # per-doc bodies: near-dup overlap exists ONLY between intended pairs
    ba = " ".join(f"a{i}" for i in range(30))
    bb = " ".join(f"b{i}" for i in range(30))
    bc = " ".join(f"c{i}" for i in range(30))
    d1 = f"SHARED HEADER\nalpha {ba} one\nSHARED FOOTER"
    d2 = f"SHARED HEADER\nbeta {bb} mail bob@x.com\nSHARED FOOTER"
    d3 = d1  # exact re-arrival -> all paragraphs already indexed
    d4 = f"beta {bb} mail <EMAIL> CHANGED"  # near-dup of d2's kept text
    d5 = f"gamma {bc} five"
    d6 = f"gamma {bc} five CHANGED"  # intra-batch near-dup of d5

    def mk(rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string, lang string").select(
            "doc_id", "text", "lang",
            F.lit("2026-01-01 00:00:00").cast("timestamp").alias("ts"),
        ).select("doc_id", "text", "lang", "ts")

    indir, out, ckpt, state = (
        str(tmp_path / d) for d in ("cin", "cout", "cckpt", "cstate")
    )
    mk([(1, d1, "en"), (2, d2, "en")]).coalesce(1).write.mode("append").parquet(indir)
    q = streaming_corpus_prep(spark, indir, out, ckpt, state)
    assert q.awaitTermination(240), "streaming query did not finish within 240s"

    got1 = {r.doc_id: r.text for r in spark.read.parquet(out).collect()}
    assert set(got1) == {1, 2}
    assert got1[1] == d1  # first doc keeps everything
    # doc 2: shared header/footer deduped away, email masked
    assert got1[2] == f"beta {bb} mail <EMAIL>"

    mk([(3, d3, "en"), (4, d4, "en"), (5, d5, "en"), (6, d6, "en")]).coalesce(
        1
    ).write.mode("append").parquet(indir)
    q2 = streaming_corpus_prep(spark, indir, out, ckpt, state)
    assert q2.awaitTermination(240), "streaming query did not finish within 240s"

    got = {r.doc_id: r.text for r in spark.read.parquet(out).distinct().collect()}
    # 3: every paragraph already indexed -> empty -> gone
    # 4: fresh paragraph but band-matches indexed doc 2 -> dropped
    # 6: intra-batch near-dup component {5, 6} -> keeper 5 survives
    assert set(got) == {1, 2, 5}
    assert got[5] == d5
    # band index holds only survivors; paragraph index never indexes ''
    bands_ids = {
        r.id for r in spark.read.parquet(f"{state}/bands").select("id").distinct().collect()
    }
    assert bands_ids == {1, 2, 5}


def test_streaming_corpus_prep_corpus_scale(spark, tmp_path):
    """Integration at corpus scale (500 synthetic docs over 3
    microbatches): structural invariants that must hold for ANY input —
    survivors are a subset of the input with no duplicates, no two
    survivors share a MinHash band bucket (each would have matched the
    index or lost its component election), and every non-empty paragraph
    appears EXACTLY once across all survivor texts (the C4 span-dedup
    contract carried across batches by the paragraph index)."""
    from pyspark.sql import functions as F
    from metadatadocumentparser_spark.operators import dedup
    from metadatadocumentparser_spark.streaming.corpus_stream import (
        streaming_corpus_prep,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text", "lang",
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("ts"),
    )
    indir, out, ckpt, state = (
        str(tmp_path / d) for d in ("gin", "gout", "gckpt", "gstate")
    )
    docs.repartition(3).write.mode("overwrite").parquet(indir)
    q = streaming_corpus_prep(spark, indir, out, ckpt, state)
    assert q.awaitTermination(300), "streaming query did not finish within 300s"

    surv = spark.read.parquet(out).distinct()
    n = surv.count()
    assert 0 < n <= 500
    ids = [r.doc_id for r in surv.select("doc_id").collect()]
    assert len(ids) == len(set(ids))
    input_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    assert set(ids) <= input_ids

    # no surviving pair shares a band bucket
    bands = dedup.minhash_band_rows(surv, "doc_id", "text")
    clash = (
        bands.alias("a").join(bands.alias("b"), ["band", "bkey"])
        .where(F.col("a.id") < F.col("b.id"))
        .count()
    )
    assert clash == 0

    # every non-empty paragraph globally unique across survivor texts
    paras = surv.select(
        F.explode(F.split("text", "\n")).alias("p")
    ).where(F.col("p") != "")
    assert paras.count() == paras.distinct().count()


def test_streaming_corpus_prep_replay_after_partial_state_write(spark, tmp_path):
    """foreachBatch replay safety (ADVICE r4 medium): a batch that fails
    AFTER its paragraph-index append but before its band-index append is
    re-run by Structured Streaming. The replay must not anti-join the
    batch's own half-written paragraph hashes (which would rebuild every
    doc empty, drop them all, and permanently lose their band rows) —
    index rows are batch_id-tagged and a batch excludes its own rows.

    Scenario: batch 0 completes; batch 1's first attempt dies after the
    para-index append (simulated by appending exactly the rows it would
    write); the replay of batch 1 must produce the same survivors as an
    uninterrupted run."""
    from pyspark.sql import functions as F
    from metadatadocumentparser_spark.streaming.corpus_stream import (
        make_batch_processor,
    )

    ba = " ".join(f"a{i}" for i in range(30))
    bb = " ".join(f"b{i}" for i in range(30))
    d1 = f"HDR\nalpha {ba} one\nFTR"
    d2 = f"beta {bb} two"

    def mk(rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string, lang string")

    out, state = str(tmp_path / "rout"), str(tmp_path / "rstate")
    process = make_batch_processor(spark, out, state)
    process(mk([(1, d1, "en")]), 0)

    # ---- simulate batch 1's PARTIAL first attempt: only the para-index
    # append landed (no PII in d2, so redacted text == text; the rows the
    # processor would write are the md5s of d2's non-empty paragraphs,
    # tagged with batch_id=1)
    mk([(2, d2, "en")]).select(
        F.explode(F.split("text", "\n")).alias("para")
    ).where(F.col("para") != "").select(
        F.md5("para").alias("h"), F.lit(1).cast("bigint").alias("batch_id")
    ).distinct().write.mode("append").parquet(f"{state}/paras")

    # ---- the replay: doc 2 must survive despite its own hashes being in
    # the index (pre-fix, it was rebuilt empty and silently lost)
    process(mk([(2, d2, "en")]), 1)
    got = {r.doc_id: r.text for r in spark.read.parquet(out).distinct().collect()}
    assert got == {1: d1, 2: d2}
    band_ids = {
        r.id for r in spark.read.parquet(f"{state}/bands").select("id").distinct().collect()
    }
    assert band_ids == {1, 2}  # batch 1's band rows were NOT lost

    # ---- a full re-replay (failure after ALL writes) is also idempotent
    # under distinct: same survivor set, indexes semantically unchanged
    pre_paras = {r.h for r in spark.read.parquet(f"{state}/paras").collect()}
    process(mk([(2, d2, "en")]), 1)
    got2 = {r.doc_id: r.text for r in spark.read.parquet(out).distinct().collect()}
    assert got2 == got
    assert {r.h for r in spark.read.parquet(f"{state}/paras").collect()} == pre_paras
    # cross-batch state still works AFTER a replay: a later near-dup of
    # doc 2 is dropped by the band index, an exact re-arrival by the
    # paragraph index
    process(mk([(3, d2 + " CHANGED", "en"), (4, d1, "en")]), 2)
    got3 = {r.doc_id for r in spark.read.parquet(out).distinct().collect()}
    assert got3 == {1, 2}


def test_streaming_corpus_prep_checkpoint_restart(spark, tmp_path):
    """Kill-and-restart across a checkpoint (r4 verdict task #6): a second
    availableNow run over the SAME input re-processes nothing — survivors
    identical to the uninterrupted run, zero double-appends to the output
    or either state index (exact file-row counts, not just distinct)."""
    from pyspark.sql import functions as F
    from metadatadocumentparser_spark.streaming.corpus_stream import (
        streaming_corpus_prep,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text", "lang",
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("ts"),
    ).limit(120)
    indir, out, ckpt, state = (
        str(tmp_path / d) for d in ("kin", "kout", "kckpt", "kstate")
    )
    docs.repartition(2).write.mode("overwrite").parquet(indir)

    q = streaming_corpus_prep(spark, indir, out, ckpt, state)
    assert q.awaitTermination(300), "streaming query did not finish within 300s"
    surv1 = sorted((r.doc_id, r.text) for r in spark.read.parquet(out).collect())
    paras1 = spark.read.parquet(f"{state}/paras").count()
    bands1 = spark.read.parquet(f"{state}/bands").count()

    # restart with the same checkpoint and no new files: committed batches
    # are skipped, nothing is appended anywhere
    q2 = streaming_corpus_prep(spark, indir, out, ckpt, state)
    assert q2.awaitTermination(300), "streaming query did not finish within 300s"
    surv2 = sorted((r.doc_id, r.text) for r in spark.read.parquet(out).collect())
    assert surv2 == surv1
    assert spark.read.parquet(f"{state}/paras").count() == paras1
    assert spark.read.parquet(f"{state}/bands").count() == bands1


def test_streaming_corpus_prep_substr_and_classifier(spark, tmp_path):
    """Round-5 streaming gates. Online exact-substring dedup
    (keep-first): an intra-batch duplicated run survives at its FIRST
    (doc, pos) occurrence and is cut everywhere else; a later batch
    re-sending the same run loses it to the window-hash index; the
    emitted text of batch 1 is never rewritten. Classifier gate: a fake
    model's low scores drop docs per microbatch. Replay of a batch
    after its substr-index append recomputes the same survivors
    (batch_id exclusion)."""
    from pyspark.sql import functions as F
    from metadatadocumentparser_spark.operators.classifier import TextClassifier
    from metadatadocumentparser_spark.streaming.corpus_stream import (
        make_batch_processor,
    )

    run = " ".join(f"s{i}" for i in range(10))
    a_body = " ".join(f"a{i}" for i in range(20))
    b_body = " ".join(f"b{i}" for i in range(20))
    c_body = " ".join(f"c{i}" for i in range(20))
    d1 = f"{a_body} {run}"          # first occurrence of the run
    d2 = f"{b_body} {run}"          # intra-batch duplicate -> cut
    d3 = f"{c_body} {run}"          # next batch -> cut via the index

    class DropMarked(TextClassifier):
        def classify(self, texts):
            return [("en", 0.1 if "DROPME" in t else 0.9) for t in texts]

    def mk(rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string, lang string")

    out, state = str(tmp_path / "sout"), str(tmp_path / "sstate")
    process = make_batch_processor(
        spark, out, state, substr_k=10,
        quality_min=0.5, quality_model=DropMarked(),
    )
    process(mk([(1, d1, "en"), (2, d2, "en"),
                (3, "junk DROPME " + " ".join(f"x{i}" for i in range(20)), "en")]), 0)
    got = {r.doc_id: r.text for r in spark.read.parquet(out).distinct().collect()}
    # doc 1 keeps the run (first occurrence); doc 2 loses exactly it;
    # doc 3 is classifier-dropped
    assert set(got) == {1, 2}
    assert got[1] == d1
    assert got[2] == b_body
    # batch 1: the run matches the index and is cut; doc 1's emitted
    # text is untouched (online keep-first)
    process(mk([(4, d3, "en")]), 1)
    got = {r.doc_id: r.text for r in spark.read.parquet(out).distinct().collect()}
    assert got[4] == c_body and got[1] == d1

    # replay of batch 1 AFTER all its writes (incl. the substr index):
    # identical survivors, no self-matching
    process(mk([(4, d3, "en")]), 1)
    got2 = {r.doc_id: r.text for r in spark.read.parquet(out).distinct().collect()}
    assert got2 == got
    # index holds released-text windows tagged by batch
    sidx = spark.read.parquet(f"{state}/substr")
    assert set(sidx.columns) == {"h", "batch_id"}


def test_streaming_corpus_prep_r5_review_guards(spark, tmp_path):
    """r5 review regressions: (a) substr_k=0 raises instead of gutting
    the corpus; (b) the substr index holds only EMITTED text — a doc
    dropped by sampling leaves no window hashes, so its text re-arriving
    later is released intact; (c) a state_dir reused under a different
    checkpoint lineage raises instead of silently ignoring old state."""
    from pyspark.sql import functions as F
    from metadatadocumentparser_spark.streaming.corpus_stream import (
        make_batch_processor,
    )

    def mk(rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string, lang string")

    body = " ".join(f"g{i}" for i in range(20))

    # (a) fail-loud window size
    with pytest.raises(ValueError, match="substr_k"):
        make_batch_processor(spark, str(tmp_path / "x"), str(tmp_path / "xs"),
                             substr_k=0)

    # (b) emitted-only SUBSTR indexing: batch 0's doc shares a 10-token
    # run with later docs but is sampled OUT (never emitted). Its run
    # must NOT enter the substr index (the paragraph/band indexes
    # intentionally track pre-sampling SEEN content — batch-consistent
    # dedup — but a span cut destroys bytes, so spans only dedup
    # against EMITTED text). Paragraphs are distinct (unique bodies) so
    # the para index never fires here.
    run = " ".join(f"r{i}" for i in range(10))
    x = " ".join(f"x{i}" for i in range(30))
    y = " ".join(f"y{i}" for i in range(30))
    z = " ".join(f"z{i}" for i in range(30))
    out, state = str(tmp_path / "eout"), str(tmp_path / "estate")
    drop_all = make_batch_processor(spark, out, state, substr_k=10,
                                    default_rate=0.0)
    drop_all(mk([(1, f"{run} {x}", "en")]), 0)
    from pyspark.errors import AnalysisException
    try:
        n_idx = spark.read.parquet(f"{state}/substr").count()
    except AnalysisException:
        n_idx = 0
    assert n_idx == 0  # nothing emitted -> nothing substr-indexed
    keep_all = make_batch_processor(spark, out, state, substr_k=10,
                                    default_rate=1.0)
    keep_all(mk([(2, f"{run} {y}", "en")]), 1)
    got = {r.doc_id: r.text for r in spark.read.parquet(out).distinct().collect()}
    assert got == {2: f"{run} {y}"}  # intact — not cut against lost text
    # doc 2 WAS emitted, so its run is now indexed: doc 3 loses it
    keep_all(mk([(3, f"{run} {z}", "en")]), 2)
    got = {r.doc_id: r.text for r in spark.read.parquet(out).distinct().collect()}
    assert got[3] == z

    # (c) lineage: the marker is recorded only once a batch COMMITS — a
    # run that never processed anything must not claim the state_dir
    lstate, lout = str(tmp_path / "lstate"), str(tmp_path / "lout")
    make_batch_processor(spark, lout, lstate, lineage="ckpt-A")  # no batch run
    pB = make_batch_processor(spark, lout, lstate, lineage="ckpt-B")  # fine
    pB(mk([(10, body, "en")]), 0)  # B commits -> state now belongs to B
    with pytest.raises(ValueError, match="lineage"):
        make_batch_processor(spark, lout, lstate, lineage="ckpt-A")
    # same lineage re-attaches fine
    make_batch_processor(spark, lout, lstate, lineage="ckpt-B")


def test_streaming_corpus_prep_refuses_md5_substr_index(spark, tmp_path):
    """A substr index written with the r5 md5-hex h (string) is refused
    with a ValueError naming the index, before the batch writes
    anything: joined against bigint window hashes it would otherwise
    fail deep in the batch (ANSI) or silently match nothing."""
    from metadatadocumentparser_spark.streaming.corpus_stream import (
        make_batch_processor,
    )

    out, state = str(tmp_path / "mout"), str(tmp_path / "mstate")
    spark.createDataFrame(
        [("0cc175b9c0f1b6a831c399e269772661", 0)], "h string, batch_id bigint"
    ).write.parquet(f"{state}/substr")
    process = make_batch_processor(spark, out, state, substr_k=10,
                                   lineage="ckpt-md5")
    body = " ".join(f"m{i}" for i in range(20))
    batch = spark.createDataFrame([(1, body, "en")],
                                  "doc_id bigint, text string, lang string")
    with pytest.raises(ValueError, match="substring index"):
        process(batch, 1)
    assert sorted(os.listdir(state)) == ["substr"]
    assert not os.path.exists(out)


def test_streaming_corpus_prep_quality_gate(spark, tmp_path):
    """repetition_max in the streaming pipeline: planted all-duplicate-
    word docs never reach the output or the band index."""
    from pyspark.sql import functions as F
    from metadatadocumentparser_spark.streaming.corpus_stream import (
        streaming_corpus_prep,
    )

    rows = [(1, " ".join(f"u{i}" for i in range(30)), "en"),
            (2, "spam " * 40 + "tail", "en")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string").select(
        "doc_id", "text", "lang",
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("ts"),
    )
    indir, out, ckpt, state = (
        str(tmp_path / d) for d in ("qin", "qout", "qckpt", "qstate")
    )
    df.coalesce(1).write.mode("append").parquet(indir)
    q = streaming_corpus_prep(
        spark, indir, out, ckpt, state, repetition_max={"dup_word_e4": 9000}
    )
    assert q.awaitTermination(240), "streaming query did not finish within 240s"
    ids = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert ids == {1}
    band_ids = {r.id for r in spark.read.parquet(f"{state}/bands").collect()}
    assert band_ids == {1}


def test_streaming_corpus_prep_normalize_stage(spark, tmp_path):
    """normalize_form='NFC' in the streaming pipeline, mirroring the batch
    test_corpus_prep_normalize_stage: composed and decomposed spellings
    of the same paragraph become byte-equal before the paragraph index
    hashes them, so the decomposed copies dedup away and no combining
    acute is emitted; without NFC every spelling stays distinct."""
    from metadatadocumentparser_spark.streaming.corpus_stream import (
        make_batch_processor,
    )

    composed, decomposed = "caf\u00e9 ", "cafe\u0301 "  # byte-different, NFC-equal
    # doc 2k and 2k+1 carry the SAME text, spelled composed vs decomposed
    rows = [
        (i, (composed if i % 2 == 0 else decomposed)
         + f"pair text body shared words here number {i // 2}", "en")
        for i in range(40)
    ]
    batch = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")

    def run(tag, **kw):
        out, state = str(tmp_path / f"{tag}out"), str(tmp_path / f"{tag}state")
        make_batch_processor(spark, out, state, **kw)(batch, 0)
        emitted = {r.doc_id: r.text for r in spark.read.parquet(out).collect()}
        n_paras = spark.read.parquet(f"{state}/paras").select("h").distinct().count()
        return emitted, n_paras

    emitted, n_paras = run("nfc", normalize_form="NFC")
    # each odd doc's single paragraph is byte-equal to its even
    # partner's: the paragraph index keeps 20 hashes, not 40, and no
    # decomposed copy survives
    assert n_paras == 20
    assert emitted and all(i % 2 == 0 for i in emitted)
    assert all("caf\u00e9" in t and "\u0301" not in t for t in emitted.values())

    # control: without NFC no paragraph dedups away
    _, ctrl_paras = run("raw")
    assert ctrl_paras == 40
