"""spark-submit entry point (north rule: `spark-submit --py-files engine.zip
jobs/extract.py ...` on multi-executor clusters).

    spark-submit --py-files mdp_spark.zip jobs/extract.py \
        --input /path/transcripts --output /path/out \
        [--buckets 64] [--text-method pymupdf] [--strict] [--no-lineage]

With lineage (default) the run is resumable: rerunning after a failure
skips committed buckets (plans/lineage.py). Without, it is a single-pass
extract of all output tables.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--buckets", type=int, default=64)
    p.add_argument("--text-method", default="pymupdf", choices=["pymupdf", "pdfplumber"])
    p.add_argument("--strict", action="store_true")
    p.add_argument("--no-lineage", action="store_true")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("mdp-extract")
    if args.master:
        builder = builder.master(args.master)
    spark = (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .getOrCreate()
    )

    from metadatadocumentparser_spark.plans.lineage import run_with_lineage

    if args.no_lineage:
        from metadatadocumentparser_spark.plans import extract_all_materialized

        df = spark.read.parquet(args.input)
        # parsed layer staged once → the Python kernel runs exactly once
        # for all 7 output tables
        outs = extract_all_materialized(
            df, f"{args.output}/_parsed", strict_mode=args.strict,
            text_method=args.text_method,
        )
        for name in ("turns", "blocks", "formulas", "images", "tables", "meta", "segments"):
            outs[name].write.mode("overwrite").parquet(f"{args.output}/{name}")
        report = {"mode": "single-pass", "turns": spark.read.parquet(f"{args.output}/turns").count()}
    else:
        report = run_with_lineage(
            spark,
            args.input,
            args.output,
            n_buckets=args.buckets,
            text_method=args.text_method,
        )
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
