"""The benchmark workloads.

Each workload drives the package only through its public functions and
exposes the same small interface to run.py and probes.py:

- ``prepare()``      generate (or load cached) seeded inputs; never timed;
- ``warmup(spark)``  the set-up pass (part of setup_s): one small job on
                     a small slice that starts the Python workers;
- ``start(spark)``   untimed per-session preparation and plan guards;
- ``prime(spark)``   one untimed full-size operation (run ``primes``
                     times), so the timed operations run on compiled,
                     JIT-warmed code;
- ``op(spark, tr)``  one timed operation → Op(items, latency_s, ok);
- ``bytes_ratio()``  bytes the workload wrote ÷ input bytes.

An operation's output check runs after its timing stops; a failed check
marks the operation failed.
"""

from __future__ import annotations

import os
import re
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import functions as F

import gen
from harness import WORK_DIR
from tracing import Tracer


@dataclass
class Op:
    items: int
    latency_s: float
    ok: bool


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, n))
    return total


def parquet_rows(path: str) -> int:
    """Row count from parquet footers (driver-side, no Spark job)."""
    import pyarrow.parquet as pq

    total = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(root, n)).metadata.num_rows
    return total


def turns_digest(turns) -> list[int]:
    """Order-independent digest of (conv_id, turn_idx, extracted_text,
    spans): [count, Σ md5 bits 0-39, Σ md5 bits 40-79] — the native form of
    gen.row_hash."""
    spans = F.array_join(
        F.transform(
            "spans",
            lambda x: F.concat(x["start"].cast("string"), F.lit(":"), x["end"].cast("string")),
        ),
        ",",
    )
    h = F.md5(
        F.concat_ws(
            gen.SEP,
            F.col("conv_id"),
            F.col("turn_idx").cast("string"),
            F.coalesce(F.col("extracted_text"), F.lit("")),
            F.coalesce(spans, F.lit("")),
        )
    )
    row = turns.agg(
        F.count("*"),
        F.sum(F.conv(F.substring(h, 1, 10), 16, 10).cast("bigint")),
        F.sum(F.conv(F.substring(h, 11, 10), 16, 10).cast("bigint")),
    ).collect()[0]
    return [row[0], row[1] or 0, row[2] or 0]


def require_plan(df, *nodes: str):
    """Guard against the optimizer deleting timed work: the executed plan
    must still contain each named node."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    missing = [n for n in nodes if n not in plan]
    if missing:
        raise RuntimeError(f"timed plan lost {missing}:\n{plan}")


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


class ExtractAll:
    """raw parquet → extract_all_materialized → all 7 output tables written
    (the ``jobs/extract.py --no-lineage`` job)."""

    n_convs = 2300  # about 24k turns; the hot conversation has 1,000
    # from a cold JVM, operation latencies ran 10.8, 7.4, 6.2, 5.2, 5.0 s:
    # the timed ones are the 3rd and 4th
    primes = 2
    written = 0

    def __init__(self, seed: int):
        self.seed = seed

    def prepare(self):
        self.raw, self.meta = gen.transcripts(self.n_convs, self.seed)
        self.warm_raw, _ = gen.warmup_transcripts(self.seed)

    def warmup(self, spark):
        from metadatadocumentparser_spark.plans import parse_transcripts, turns_of

        df = spark.read.parquet(self.warm_raw)
        turns_of(parse_transcripts(df)).write.format("noop").mode("overwrite").save()

    def _job(self, spark, tr, raw: str, out: str):
        from metadatadocumentparser_spark.plans import extract_all_materialized

        with tr.span("op.extract_all", "bench"):
            df = spark.read.parquet(raw)
            with tr.span("pipeline.extract_all_materialized", "pipeline.stage"):
                outs = extract_all_materialized(df, os.path.join(out, "_parsed"))
            for name in gen.TABLES:
                with tr.span(f"pipeline.write.{name}", "pipeline.outputs"):
                    outs[name].write.mode("overwrite").parquet(os.path.join(out, name))

    def start(self, spark):
        from metadatadocumentparser_spark.plans import formulas_of, parse_transcripts

        parsed = parse_transcripts(spark.read.parquet(self.raw))
        require_plan(parsed, "MapInArrow")
        require_plan(formulas_of(parsed), "Window")
        self.out = os.path.join(WORK_DIR, "extract")

    def prime(self, spark):
        out = _fresh(os.path.join(WORK_DIR, "prime"))
        self._job(spark, Tracer(spark.sparkContext, False), self.raw, out)

    def op(self, spark, tr) -> Op:
        out = _fresh(self.out)
        t0 = time.perf_counter()
        self._job(spark, tr, self.raw, out)
        dt = time.perf_counter() - t0
        ok = all(
            parquet_rows(os.path.join(out, t)) == self.meta["rows"][t] for t in gen.TABLES
        ) and turns_digest(spark.read.parquet(os.path.join(out, "turns"))) == [
            self.meta["n_turns"], *self.meta["digest"]
        ]
        self.written = dir_bytes(out)
        return Op(self.meta["n_turns"], dt, ok)

    def bytes_ratio(self):
        return self.written / self.meta["input_bytes"]


_PII = re.compile(
    r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    r"|\+?\d{1,3}[ -]\d{3}[ -]\d{4}"
    r"|\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
)


class CorpusPrep:
    """plans.corpus_prep over a seeded document table, the three outputs
    written (the jobs/corpus_prep.py job)."""

    n_docs = 5000
    RATES = {"de": 0.8, "fr": 0.6}
    # from a cold JVM, operation latencies ran 14.3, 8.3, 8.1, 7.7, 7.1 s:
    # after one prime the slope is already gentle
    primes = 1
    written = 0

    def __init__(self, seed: int):
        self.seed = seed

    def prepare(self):
        self.docs, self.bench, self.meta = gen.documents(self.n_docs, self.seed)
        self.warm_docs, self.warm_bench, _ = gen.documents(200, self.seed + 7919)

    def _job(self, spark, tr, docs: str, bench: str, out: str) -> dict:
        from metadatadocumentparser_spark.plans import corpus_prep

        with tr.span("op.corpus_prep", "bench"):
            with tr.span("plans.corpus_prep", "corpus_prep"):
                res = corpus_prep(
                    spark.read.parquet(docs), spark.read.parquet(bench),
                    rates=self.RATES, capacity=1024, n_shards=8,
                )
            for name in ("docs", "packed", "stats"):
                with tr.span(f"corpus_prep.write.{name}", "corpus_prep.outputs"):
                    res[name].write.mode("overwrite").parquet(os.path.join(out, name))
        return res

    def warmup(self, spark):
        from metadatadocumentparser_spark.operators import dedup
        from metadatadocumentparser_spark.operators.redact import redact_pii

        docs = spark.read.parquet(self.warm_docs)
        dedup.minhash_band_rows(
            redact_pii(docs, "doc_id", "text"), "id", "redacted"
        ).write.format("noop").mode("overwrite").save()

    def start(self, spark):
        self.out = os.path.join(WORK_DIR, "corpus")
        self.guarded = False

    def prime(self, spark):
        out = _fresh(os.path.join(WORK_DIR, "prime"))
        self._job(spark, Tracer(spark.sparkContext, False), self.docs, self.bench, out)

    def op(self, spark, tr) -> Op:
        import pyarrow.parquet as pq

        out = _fresh(self.out)
        t0 = time.perf_counter()
        res = self._job(spark, tr, self.docs, self.bench, out)
        dt = time.perf_counter() - t0
        if not self.guarded:  # the output plans exist only once corpus_prep ran
            require_plan(res["packed"], "FlatMapGroupsInPandas")
            require_plan(res["stats"], "Join")
            self.guarded = True
        survivors = pq.read_table(os.path.join(out, "docs"), columns=["id", "text"]).to_pydict()
        packed = pq.read_table(os.path.join(out, "packed"), columns=["ids"]).column("ids")
        stats = pq.read_table(os.path.join(out, "stats")).to_pylist()[0]
        ids = survivors["id"]
        kept = set(ids)
        planted = self.meta["planted"]
        ok = (
            stats["n_input"] == self.meta["n_docs"]
            and stats["n_final"] == len(ids) == len(kept)
            and sorted(i for p in packed.to_pylist() for i in p) == sorted(ids)
            and not kept & set(planted["exact_dup"])
            and not kept & set(planted["overlap"])
            and not any(_PII.search(t) for t in survivors["text"])
        )
        self.written = dir_bytes(out)
        return Op(self.meta["n_docs"], dt, ok)

    def bytes_ratio(self):
        return self.written / self.meta["input_bytes"]


WORKLOADS = {"extract_all": ExtractAll, "corpus_prep": CorpusPrep}
