"""Dump formatted physical plans for the headline queries → PLANS.md.

What to look for (and what the engine guarantees):
- extraction turns: ONE MapInPandas over the scan, project-only above it —
  zero Exchange operators; formulas add exactly one window Exchange over
  the ~0.1% of blocks passing the score threshold;
- tpch q1: FileScan with PushedFilters + pruned ReadSchema, partial agg;
- tpch q3: BroadcastHashJoin (dimension side), no sort-merge;
- sessionize: single Exchange (by user_id) feeding window + agg;
- minhash_lsh: the MapInArrow signature kernel runs once (band rows are
  checkpointed), then the band self-join reads the checkpoint.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from metadatadocumentparser_spark import synth  # noqa: E402
from metadatadocumentparser_spark.operators import dedup, sessionize, similarity  # noqa: E402
from metadatadocumentparser_spark.plans import formulas_of, parse_transcripts, turns_of  # noqa: E402
from metadatadocumentparser_spark.session import get_spark  # noqa: E402
from metadatadocumentparser_spark.sources import load_table  # noqa: E402

SF = "/root/testdata/sf0.001"


def main():
    spark = get_spark(master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    tdf = spark.createDataFrame(synth.synth_local(4, 3), schema=synth.TRANSCRIPT_DDL)

    li = load_table(spark, SF, "lineitem")
    o = load_table(spark, SF, "orders")
    c = load_table(spark, SF, "customer").where(F.col("c_mktsegment") == "BUILDING")
    e = load_table(spark, SF, "events")
    emb = load_table(spark, SF, "embeddings")
    docs = load_table(spark, SF, "documents")

    plans = {
        "extraction_turns (expect: zero Exchange)": turns_of(
            parse_transcripts(tdf, repartition=False)
        ),
        "extraction_formulas (expect: one window Exchange over passing rows only)": formulas_of(
            parse_transcripts(tdf, repartition=False)
        ),
        "tpch_q1 (expect: PushedFilters + pruned ReadSchema + partial agg)": (
            li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum("l_quantity").alias("s"), F.count("*").alias("n"))
        ),
        "tpch_q3 (expect: BroadcastHashJoin)": (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .groupBy("l_orderkey")
            .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
        ),
        "sessionize (expect: one Exchange by user_id)": sessionize.sessionize(e),
        "cosine_topk (expect: BroadcastNestedLoopJoin, map-side score)": (
            similarity.cosine_topk(emb, emb.where(F.col("vec_id") < 2), k=3)
        ),
        "minhash_lsh (expect: MapInArrow + checkpointed band self-join)": (
            dedup.minhash_lsh_pairs(docs, "doc_id", "text")
        ),
    }

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
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
