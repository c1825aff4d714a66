"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds its seeded inputs, starts a local Spark
session with at most 4 cores, runs the workload's operations in a closed
loop for ``--seconds`` (at least two), checks every operation's output, and
prints one JSON object as the last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics with tracing off; ``--trace 1``
reports the per-layer metrics (probes.py). README.md defines each metric.
The checkout must contain the package; without it the run fails before
printing a result.
"""

from __future__ import annotations

import argparse
import shutil
import signal
import statistics
import sys
import time

import harness

SETUPS = 3


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, harness.ROOT)
    import metadatadocumentparser_spark  # noqa: F401  (fails outside a checkout)
    import workloads
    from tracing import MemSampler, Tracer

    if args.workload not in workloads.WORKLOADS:
        p.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")
    wl = workloads.WORKLOADS[args.workload](args.seed)
    shutil.rmtree(harness.WORK_DIR, ignore_errors=True)
    wl.prepare()
    if args.trace:
        import probes

        probes.prepare(args.seed)
    harness.log("inputs ready")
    tmp = harness.configure_env()

    if args.trace:
        return probes.traced_run(wl, args, tmp)

    mem = MemSampler().start()

    setups = []
    for i in range(SETUPS):
        t0 = time.perf_counter()
        spark = harness.make_session(tmp)
        wl.warmup(spark)
        setups.append(time.perf_counter() - t0)
        harness.log(f"setup {i}: {setups[-1]:.2f}s")
        if i < SETUPS - 1:
            spark.stop()
    try:
        ops, raised = harness.run_loop(
            wl, spark, Tracer(spark.sparkContext, enabled=False), args.seconds, "workload"
        )
        ratio = wl.bytes_ratio()
    finally:
        peak = mem.stop()
        harness.shutdown(spark)
    shutil.rmtree(harness.WORK_DIR, ignore_errors=True)

    harness.emit(
        ops,
        raised,
        {
            "setup_s": (statistics.median(setups), "s"),
            "items_per_s": (harness.throughput(ops), "1/s"),
            "peak_pss_mb": (peak / 2**20, "MB"),
            "bytes_written_per_input_byte": (ratio, "B/B"),
        },
    )
    return 0


if __name__ == "__main__":
    harness.become_subreaper()
    # a terminating signal unwinds through the finally below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        code = main()
    finally:
        harness.stop_descendants()
    sys.exit(code)
