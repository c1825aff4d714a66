"""The traced run: per-layer metrics.

A traced run runs the workload as an untraced run does, but with the
(uncompressed) Spark event log on and spans around every public call, then
runs the layer probes below. Every traced run, whatever the workload,
reports every per-layer metric:

- the workload's own traced operations give ``spark.*`` (from event-log
  task metrics of the jobs the operations' spans described) and ``trace.*``:
  the share of the operations' wall time that their layers' Spark jobs
  cover, by the event log's own clock, and the traced throughput, whose gap
  to the untraced runs' ``items_per_s`` is the tracing overhead;
- the probes measure each package layer on the workloads' own seeded inputs
  (about 24k turns and 5,000 documents, sizes at which each timed job's
  work outweighs the fixed cost of a Spark job), through the noop sink or
  aggregates of computed columns so the optimizer cannot drop the timed
  work:

  single process   docparse.parse_turn, htmlseg.segment_html and the
                   make_parse_kernel_arrow body on a fixed sample batch
  sources/kernels  scan → noop, parse_transcripts → noop
  pipeline         staging write, each output builder over the staged read
                   → noop, the 7 output writes
  sinks            canonical_struct_from_parsed → export_toon, one conv
  lineage          run_with_lineage one bucket per call until complete,
                   then a resume that must recompute nothing
  operators        each corpus_prep stage → noop, corpus_prep's eager
                   checkpoints, MinHash candidate pairs per planted dup
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from pyspark.sql import functions as F

import gen
import harness
import tracing
import workloads

KERNEL_SAMPLE = 1000
ROUNDS = 7
LINEAGE_BUCKETS = 2


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _timed(tr, name, layer, fn):
    t0 = time.perf_counter()
    with tr.span(name, layer):
        out = fn()
    return time.perf_counter() - t0, out


# ------------------------------------------------------------- kernels
def kernel_probe(raw_dir: str) -> dict:
    """Single-process per-turn costs on a fixed seeded sample: parse,
    segment, and the whole arrow kernel body, interleaved over ROUNDS rounds
    (median of each) so machine noise hits all three alike."""
    import pyarrow.dataset as ds
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    from metadatadocumentparser_spark import docparse, htmlseg
    from metadatadocumentparser_spark.kernels import PARSED_DDL, make_parse_kernel_arrow

    full = ds.dataset(raw_dir).to_table()
    step = max(1, full.num_rows // KERNEL_SAMPLE)  # evenly spread over convs
    table = full.take(list(range(0, full.num_rows, step))[:KERNEL_SAMPLE])
    texts = table.column("text").to_pylist()
    parsed = [docparse.parse_turn(t) for t in texts]
    html = [(p["html"], p["html_start"]) for p in parsed if p["html"] is not None]
    kernel = make_parse_kernel_arrow(to_arrow_schema(StructType.fromDDL(PARSED_DDL)))
    batches = table.to_batches(max_chunksize=512)

    def parse():
        for t in texts:  # results dropped as they come, like the kernel does
            docparse.parse_turn(t)

    def segment():
        for h, s in html:
            htmlseg.segment_html(h, s)

    parts = {
        "parse": parse,
        "segment": segment,
        "body": lambda: sum(b.num_rows for b in kernel(iter(batches))),
    }
    runs = {k: [] for k in parts}
    for _ in range(ROUNDS):
        for k, fn in parts.items():
            t0 = time.perf_counter()
            fn()
            runs[k].append(time.perf_counter() - t0)
    us = {k: statistics.median(v) / len(texts) * 1e6 for k, v in runs.items()}
    return {
        "docparse.parse_turn_us": us["parse"],
        "htmlseg.segment_html_us": us["segment"],
        "kernels.body_us_per_turn": us["body"],
        "kernels.encode_share": 1.0 - (us["parse"] + us["segment"]) / us["body"],
    }


# ------------------------------------------------------------- pipeline
def pipeline_probe(spark, tr, raw: str, meta: dict, work: str) -> dict:
    from metadatadocumentparser_spark import plans, sinks

    m = {}
    df = spark.read.parquet(raw)
    scan_s, _ = _timed(tr, "probe.sources.scan", "sources", lambda: _noop(df))
    workloads.require_plan(plans.parse_transcripts(df), "MapInArrow")
    parse_s, _ = _timed(
        tr, "probe.kernels.parse_noop", "kernels",
        lambda: _noop(plans.parse_transcripts(df)),
    )
    staging = os.path.join(work, "staged")
    stage_s, outs = _timed(
        tr, "probe.pipeline.stage_write", "pipeline",
        lambda: plans.extract_all_materialized(df, staging),
    )
    m["sources.scan_s"] = scan_s
    m["kernels.stage_s"] = parse_s - scan_s
    m["pipeline.stage_write_s"] = stage_s - parse_s
    m["pipeline.staged_bytes_per_turn"] = workloads.dir_bytes(staging) / meta["n_turns"]

    staged = spark.read.parquet(staging)
    workloads.require_plan(plans.formulas_of(staged), "Window")
    for name in ("turns_of", "formulas_of", "blocks_of", "segments_of",
                 "meta_of", "images_of", "tables_of"):
        builder = getattr(plans, name)
        m[f"pipeline.{name}_s"], _ = _timed(
            tr, f"probe.pipeline.{name}", "pipeline", lambda b=builder: _noop(b(staged))
        )
    # untimed, for pipeline.window_skew: formulas_of once more with AQE's
    # partition coalescing off, so its Window stage keeps one task per
    # shuffle partition (coalesced, the probe input fits in one task)
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        with tr.span("probe.pipeline.formulas_window", "pipeline"):
            _noop(plans.formulas_of(staged))
    finally:
        spark.conf.set(key, before)
    writes = 0.0
    for name in gen.TABLES:
        dt, _ = _timed(
            tr, f"probe.pipeline.write.{name}", "pipeline",
            lambda t=outs[name], n=name: t.write.mode("overwrite").parquet(
                os.path.join(work, "out", n)
            ),
        )
        writes += dt
    m["pipeline.outputs_write_s"] = writes

    conv = meta["export_conv"]
    dt, _ = _timed(
        tr, "probe.sinks.export_toon", "sinks",
        lambda: sinks.export_toon(
            sinks.canonical_struct_from_parsed(staged.where(F.col("conv_id") == conv))
        ).collect(),
    )
    m["sinks.export_toon_ms"] = dt * 1e3
    return m


def lineage_probe(spark, tr, raw: str, meta: dict, work: str) -> dict:
    from metadatadocumentparser_spark.plans.lineage import run_with_lineage

    out = os.path.join(work, "lineage")
    buckets, processed = [], []
    for b in range(LINEAGE_BUCKETS):
        dt, res = _timed(
            tr, f"probe.lineage.bucket.{b}", "lineage",
            lambda: run_with_lineage(
                spark, raw, out, n_buckets=LINEAGE_BUCKETS, max_buckets=1
            ),
        )
        if len(res["processed"]) != 1:
            raise RuntimeError(f"lineage probe: call {b} processed {res['processed']}")
        buckets.append(dt)
        processed += res["processed"]
    resume_s, res = _timed(
        tr, "probe.lineage.resume", "lineage",
        lambda: run_with_lineage(spark, raw, out, n_buckets=LINEAGE_BUCKETS),
    )
    if not res["complete"] or res["skipped"] != sorted(processed):
        raise RuntimeError(f"lineage probe: resume returned {res} after {processed}")
    # the union of the bucket outputs must be the oracle's turns
    got = workloads.turns_digest(spark.read.parquet(os.path.join(out, "turns")))
    if got != [meta["n_turns"], *meta["digest"]]:
        raise RuntimeError(f"lineage probe: bucket outputs digest {got} != oracle")
    return {
        "lineage.bucket_s_p50": statistics.median(buckets),
        "lineage.bucket_s_max": max(buckets),
        "lineage.recomputed_buckets": len(res["processed"]),
        "lineage.resume_s": resume_s,
    }


def operators_probe(spark, tr, docs_path: str, bench_path: str, meta: dict) -> dict:
    from metadatadocumentparser_spark.functions.textstats import token_count
    from metadatadocumentparser_spark.operators import dedup, quality
    from metadatadocumentparser_spark.operators.packing import pack_sequences
    from metadatadocumentparser_spark.operators.paradedup import paragraph_dedup
    from metadatadocumentparser_spark.operators.redact import redact_pii
    from metadatadocumentparser_spark.operators.sampling import stratified_sample
    from metadatadocumentparser_spark.plans import corpus_prep

    docs = spark.read.parquet(docs_path)
    bench = spark.read.parquet(bench_path)
    rates = workloads.CorpusPrep.RATES
    m = {}
    # dedup_clusters = connected_components(minhash_lsh_pairs(...)), timed
    # in two parts so the candidate pairs are counted without a second
    # signature pass
    pairs_s, (pairs, n_pairs) = _timed(
        tr, "probe.operators.minhash_lsh_pairs", "operators",
        lambda: _counted(dedup.minhash_lsh_pairs(docs, "doc_id", "text")),
    )
    stages = {
        "redact": lambda: _noop(redact_pii(docs, "doc_id", "text")),
        "paradedup": lambda: _noop(paragraph_dedup(docs, "doc_id", "text")),
        "dedup_clusters": lambda: dedup.connected_components(pairs).count(),
        "decontaminate": lambda: _noop(
            quality.decontaminate(docs.select("doc_id", "text"), bench, "doc_id", "text")
        ),
        "sample": lambda: _noop(stratified_sample(docs, "lang", "doc_id", rates, 1.0)),
        "pack": lambda: _noop(
            pack_sequences(
                docs.select("doc_id", token_count(F.col("text")).alias("n")),
                "doc_id", "n", capacity=1024, n_shards=8,
            )
        ),
    }
    for name, fn in stages.items():
        m[f"operators.{name}_s"], _ = _timed(tr, f"probe.operators.{name}", "operators", fn)
    m["operators.dedup_clusters_s"] += pairs_s
    planted = len(meta["planted"]["exact_dup"]) + len(meta["planted"]["near_dup"])
    m["dedup.candidate_pairs_per_planted_dup"] = n_pairs / planted
    m["corpus_prep.materialize_s"], _ = _timed(
        tr, "probe.corpus_prep.call", "corpus_prep",
        lambda: corpus_prep(docs, bench, rates=rates, capacity=1024, n_shards=8),
    )
    return m


def _counted(df):
    return df, df.count()


# ------------------------------------------------------------- traced run
def _inputs(seed: int):
    """The probe inputs: both workloads' inputs for this seed (cached, so
    the traced run of either workload generates the other's once)."""
    return (
        gen.transcripts(workloads.ExtractAll.n_convs, seed),
        gen.documents(workloads.CorpusPrep.n_docs, seed),
    )


def prepare(seed: int):
    """Generate (or load cached) the probe inputs before Spark starts."""
    _inputs(seed)


def traced_run(wl, args, tmp: str) -> int:
    """One context with the event log on: the workload's set-up pass,
    priming and loop as in an untraced run, but with spans, then the layer
    probes. Tracing overhead is this run's ``trace.items_per_s`` against
    the untraced runs' ``items_per_s``."""
    event_log = os.path.join(harness.WORK_DIR, "eventlog")
    spark = harness.make_session(tmp, event_log=event_log)
    tr = tracing.Tracer(spark.sparkContext, enabled=True)
    try:
        tr.set_phase("warmup")
        wl.warmup(spark)
        n0 = len(tr.spans)
        ops, raised = harness.run_loop(wl, spark, tr, args.seconds, "workload")
        roots = [s["id"] for s in tr.spans[n0:] if s["parent"] is None]

        tr.set_phase("probe")
        (raw, tmeta), (docs, bench, dmeta) = _inputs(args.seed)
        probe_work = os.path.join(harness.WORK_DIR, "probe")
        metrics = kernel_probe(raw)
        metrics.update(pipeline_probe(spark, tr, raw, tmeta, probe_work))
        metrics.update(lineage_probe(spark, tr, raw, tmeta, probe_work))
        metrics.update(operators_probe(spark, tr, docs, bench, dmeta))
    finally:
        harness.shutdown(spark)

    ev = tracing.read_event_log(event_log)
    wall = tr.wall(roots)
    layers, covered = tracing.layer_times(ev, "workload", tr.layers)
    harness.log(
        "Spark job time of the traced operations by layer (s): "
        + ", ".join(f"{k} {v:.2f}" for k, v in sorted(layers.items()))
        + f"; covered {covered:.2f} of wall {wall:.2f}"
    )
    metrics.update(tracing.spark_metrics(ev, "workload", harness.cores(), wall))
    metrics.update(_event_metrics(ev, raw, tmeta, metrics))
    metrics["trace.self_time_coverage"] = covered / wall if wall > 0 else 0.0
    metrics["trace.items_per_s"] = harness.throughput(ops)

    tr.dump(os.path.join(harness.OUT_DIR, f"trace-{args.workload}-{args.seed}.json"),
            {"workload_wall_s": wall, "workload_layer_s": layers, "workload_covered_s": covered})
    shutil.rmtree(harness.WORK_DIR, ignore_errors=True)
    harness.emit(ops, raised, {k: (v, UNITS[k]) for k, v in metrics.items()})
    return 0


def _event_metrics(ev: dict, raw: str, tmeta: dict, m: dict) -> dict:
    """Layer metrics that need the probes' Spark task metrics."""
    n = tmeta["n_turns"]
    _, tasks = tracing.select(ev, group="probe", desc_prefix="probe.kernels.parse_noop")
    # kernel stage: task time over equal-row input files, so it shows the
    # spread of per-turn cost, not the hot conversation
    run_s, skew = tracing.stage_skew(tasks)
    # where rows are shuffled by key: the formulas_of Window stage, keyed by
    # (conv_id, turn_idx) so the hot conversation spreads; a conv-level key
    # would put its 1,000 turns in one task. Rows read per task, since these
    # tasks are too short for their times to say more than noise
    _, wtasks = tracing.select(ev, group="probe", desc_prefix="probe.pipeline.formulas_window")
    _, window_skew = tracing.stage_skew(wtasks, key="shuffle_records")
    ids, _ = tracing.select(ev, group="probe", desc_prefix="probe.lineage.bucket.")
    # input reads only: jobs whose plan scans the input directory, not the
    # read-back of each bucket's output or of the _lineage table
    _, itasks = tracing.select(
        ev, group="probe", desc_prefix="probe.lineage.bucket.",
        plan_has=f"InMemoryFileIndex [file:{os.path.abspath(raw)}]",
    )
    return {
        "kernels.outside_body_share": 1.0 - m["kernels.body_us_per_turn"] * 1e-6 * n / run_s,
        "kernels.task_skew": skew,
        "pipeline.window_skew": window_skew,
        "lineage.jobs_per_bucket": len(ids) / LINEAGE_BUCKETS,
        "lineage.input_read_amplification": sum(t["records"] for t in itasks) / n,
    }


UNITS = {
    "sources.scan_s": "s",
    "docparse.parse_turn_us": "us",
    "htmlseg.segment_html_us": "us",
    "kernels.body_us_per_turn": "us",
    "kernels.encode_share": "ratio",
    "kernels.stage_s": "s",
    "kernels.outside_body_share": "ratio",
    "kernels.task_skew": "ratio",
    "pipeline.stage_write_s": "s",
    "pipeline.staged_bytes_per_turn": "B/turn",
    "pipeline.outputs_write_s": "s",
    "pipeline.window_skew": "ratio",
    "pipeline.turns_of_s": "s",
    "pipeline.formulas_of_s": "s",
    "pipeline.blocks_of_s": "s",
    "pipeline.segments_of_s": "s",
    "pipeline.meta_of_s": "s",
    "pipeline.images_of_s": "s",
    "pipeline.tables_of_s": "s",
    "sinks.export_toon_ms": "ms",
    "lineage.bucket_s_p50": "s",
    "lineage.bucket_s_max": "s",
    "lineage.jobs_per_bucket": "count",
    "lineage.input_read_amplification": "ratio",
    "lineage.recomputed_buckets": "count",
    "lineage.resume_s": "s",
    "operators.redact_s": "s",
    "operators.paradedup_s": "s",
    "operators.dedup_clusters_s": "s",
    "operators.decontaminate_s": "s",
    "operators.sample_s": "s",
    "operators.pack_s": "s",
    "corpus_prep.materialize_s": "s",
    "dedup.candidate_pairs_per_planted_dup": "ratio",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.idle_core_share": "ratio",
    "trace.self_time_coverage": "ratio",
    "trace.items_per_s": "1/s",
}
