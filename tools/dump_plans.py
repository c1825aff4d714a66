"""Dump formatted physical plans for the headline queries → PLANS.md.

Regenerates only the headline block of PLANS.md (everything above the
first "## Round-" heading); the hand-written plan-audit sections below it
are kept as they are. The bench queries are built from bench.QUERIES, the
same definitions bench.py times.

What to look for (and what the engine guarantees):
- extraction turns: ONE MapInArrow over the scan, project-only above it —
  zero Exchange operators; formulas add exactly one window Exchange over
  the ~0.1% of blocks passing the score threshold;
- tpch q1: FileScan with PushedFilters + pruned ReadSchema, partial agg;
- tpch q3: BroadcastHashJoin (dimension side), no sort-merge;
- sessionize: single Exchange (by user_id) feeding window + agg;
- minhash_lsh: the MapInArrow signature kernel runs once (band rows are
  checkpointed), then the band self-join reads the checkpoint.

Usage: python tools/dump_plans.py
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import QUERIES, BenchContext  # noqa: E402
from metadatadocumentparser_spark import synth  # noqa: E402
from metadatadocumentparser_spark.plans import formulas_of, parse_transcripts, turns_of  # noqa: E402
from metadatadocumentparser_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"
PLANS_MD = os.path.join(ROOT, "PLANS.md")
BENCH_EXPECT = {
    "tpch_q1": "PushedFilters + pruned ReadSchema + partial agg",
    "tpch_q3": "BroadcastHashJoin",
    "sessionize": "one Exchange by user_id",
    "cosine_topk": "BroadcastNestedLoopJoin, map-side score",
    "minhash_lsh": "MapInArrow + checkpointed band self-join",
}


def main():
    spark = get_spark(master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    tdf = spark.createDataFrame(synth.synth_local(4, 3), schema=synth.TRANSCRIPT_DDL)
    ctx = BenchContext(spark, SF)

    plans = {
        "extraction_turns (expect: zero Exchange)": turns_of(
            parse_transcripts(tdf, repartition=False)
        ),
        "extraction_formulas (expect: one window Exchange over passing rows only)": formulas_of(
            parse_transcripts(tdf, repartition=False)
        ),
    }
    for name, expect in BENCH_EXPECT.items():
        plans[f"{name} (expect: {expect})"] = QUERIES[name][0](ctx)

    out = ["# PLANS — formatted physical plans for the headline queries\n"]
    out.append("Generated by `python tools/dump_plans.py` (sf0.001 inputs).\n")
    for name, df in plans.items():
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        n_exchange = plan.count("Exchange")
        out.append(f"\n## {name}\n")
        out.append(f"Exchange operators: {n_exchange}\n")
        out.append("```\n" + plan.strip()[:6000] + "\n```\n")
    with open(PLANS_MD) as f:
        old = f.read()
    cut = old.find("\n## Round-")
    audits = old[cut:] if cut >= 0 else ""
    with open(PLANS_MD, "w") as f:
        f.write("".join(out) + audits)
    print("wrote PLANS.md headline block")
    spark.stop()


if __name__ == "__main__":
    main()
