"""Per-partition lineage + resume-after-failure for batch extraction runs.

North rule: "checkpoints per Iceberg partition with lineage rows (partition
id, input snapshot, rows in/out, extraction metrics) enabling resume-after-
failure without recomputation".

Mechanics (Iceberg-snapshot semantics emulated over plain parquet):
- work is split into N deterministic buckets: pmod(xxhash64(conv_id,
  turn_idx), N) — turn-level keys, so one hot conversation spreads across
  all buckets instead of pinning one;
- each bucket is processed with full cluster parallelism, written to
  ``{out}/turns/bucket=<b>/`` and only THEN recorded in the lineage table
  (write-then-commit: a crash between the two leaves a bucket uncommitted
  and it is simply redone — output writes are idempotent overwrites);
- a rerun over the same input snapshot reads the lineage table first and
  anti-joins the bucket work-list: committed buckets are never recomputed;
- each lineage row records its run layout (bucket count + parse flags): a
  rerun with another layout would re-split the turns or parse them
  differently, so it is refused before any write.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..docparse import parse_flags
from .pipeline import parse_transcripts, turns_of

LINEAGE_DDL = (
    "bucket int, input_snapshot string, rows_in bigint, rows_out bigint, "
    "metrics string, committed_at double, layout string"
)


def input_snapshot_id(spark: SparkSession, input_path: str) -> str:
    """Deterministic snapshot fingerprint: sorted file list + sizes (the
    stand-in for an Iceberg snapshot id)."""
    files = []
    for root, _dirs, names in os.walk(input_path):
        for n in sorted(names):
            if n.endswith(".parquet"):
                p = os.path.join(root, n)
                files.append(f"{os.path.relpath(p, input_path)}:{os.path.getsize(p)}")
    import hashlib

    return hashlib.md5("|".join(files).encode()).hexdigest()


def committed_buckets(spark: SparkSession, out_dir: str, snapshot: str, layout: str) -> set:
    """Buckets committed over this input snapshot. Raises ValueError when
    the lineage table holds a row of another run layout, or of none (a row
    written before layouts were recorded)."""
    lpath = os.path.join(out_dir, "_lineage")
    if not os.path.exists(lpath):
        return set()
    rows = (
        spark.read.schema(LINEAGE_DDL)
        .parquet(lpath)
        .select("bucket", "input_snapshot", "layout")
        .collect()
    )
    other = {r.layout for r in rows} - {layout}
    if other:
        raise ValueError(
            f"{lpath} holds rows of run layout {sorted(map(str, other))}, not "
            f"{layout}: resume with the same n_buckets and parse flags"
        )
    return {r.bucket for r in rows if r.input_snapshot == snapshot}


def run_with_lineage(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    n_buckets: int = 8,
    max_buckets: int | None = None,
    **parse_kwargs,
) -> dict:
    """Process (or resume) an extraction run. max_buckets simulates a
    mid-job kill after that many newly-committed buckets (for tests). A
    resume must repeat n_buckets and the parse flags (parse_doc's defaults
    count as given); otherwise it raises ValueError before any write."""
    snapshot = input_snapshot_id(spark, input_path)
    layout = json.dumps({"n_buckets": n_buckets, **parse_flags(**parse_kwargs)}, sort_keys=True)
    done = committed_buckets(spark, out_dir, snapshot, layout)
    df = spark.read.parquet(input_path)
    bucket_col = F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(n_buckets)).cast("int")

    processed = []
    for b in range(n_buckets):
        if b in done:
            continue
        if max_buckets is not None and len(processed) >= max_buckets:
            break
        part = df.where(bucket_col == b)
        rows_in = part.count()
        turns = turns_of(parse_transcripts(part, **parse_kwargs))
        target = os.path.join(out_dir, "turns", f"bucket={b}")
        turns.write.mode("overwrite").parquet(target)
        rows_out = spark.read.parquet(target).count()
        lineage_row = [
            (
                b,
                snapshot,
                rows_in,
                rows_out,
                json.dumps({"run": str(uuid.uuid4())[:8]}),
                time.time(),
                layout,
            )
        ]
        spark.createDataFrame(lineage_row, LINEAGE_DDL).write.mode("append").parquet(
            os.path.join(out_dir, "_lineage")
        )
        processed.append(b)

    return {
        "snapshot": snapshot,
        "skipped": sorted(done),
        "processed": processed,
        "complete": len(done) + len(processed) == n_buckets,
    }


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "turns"))
