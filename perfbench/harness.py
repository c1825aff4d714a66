"""Session lifecycle, the closed operation loop and result printing, shared
by the untraced run (run.py) and the traced run (probes.py)."""

from __future__ import annotations

import ctypes
import json
import os
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_DIR = ".bench_work"
OUT_DIR = ".bench_out"
T0 = time.perf_counter()


def log(msg: str):
    print(f"[perfbench {time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return min(4, len(os.sched_getaffinity(0)))


def configure_env() -> str:
    """Keep every file Spark, the JVM and the Python workers write inside
    the working directory, and let the workers import the package."""
    tmp = os.path.abspath(os.path.join(WORK_DIR, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # no hsperfdata files in the system temp dir, from the launcher JVM or
    # the driver JVM (see make_session)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return tmp


def make_session(tmp: str, event_log: str | None = None):
    from metadatadocumentparser_spark.session import get_spark

    # a fixed-size heap (-Xms = -Xmx) so heap growth does not vary the
    # memory metric between runs
    extra = {
        "spark.driver.memory": "2g",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -Xms2g -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": os.path.abspath(event_log),
            }
        )
    n = cores()
    spark = get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=2 * n, extra=extra
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark):
    """Stop Spark and wait for the JVM (and with it the Python workers) to
    exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper():
    """Make this process the parent of every orphaned descendant: the
    Python daemon and workers Spark forks from the JVM, and the resource
    tracker of the input generator's pool. stop_descendants can then wait
    for each of them, not only for its direct children."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, os.strerror(err))


def descendants(root: int) -> list[int]:
    from tracing import children_map

    kids, out, stack = children_map(), [], [root]
    while stack:
        for pid in kids.get(stack.pop(), []):
            out.append(pid)
            stack.append(pid)
    return out


def _reap():
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace: float = 1.0, limit: float = 60.0):
    """Return once no process this run started is left: wait up to
    ``grace`` seconds for them to exit by themselves (the Python daemon
    does when the JVM has gone), then kill what remains, reaping each."""
    me, t0, killed, seen = os.getpid(), time.monotonic(), False, set()
    while True:
        _reap()
        pids = descendants(me)
        if not pids:
            if seen:
                log(f"waited {time.monotonic() - t0:.2f}s for {len(seen)} processes to end")
            return
        seen.update(pids)
        waited = time.monotonic() - t0
        if waited > limit:
            log(f"processes still running: {pids}")
            return
        if not killed and waited > grace:
            for pid in pids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
        time.sleep(0.05)


def run_loop(wl, spark, tr, seconds: float, phase: str):
    """The workload's start (plan guards), its ``primes`` untimed operations,
    then a closed loop, one client: the next operation starts when the
    previous one and its output check are done, until ``seconds`` have
    passed and at least two operations ran (a median needs more than one).
    Returns (ops, raised): a raise, a failed plan guard included, ends the
    run and counts as one failed operation."""
    ops, raised = [], 0
    try:
        wl.start(spark)
        for _ in range(wl.primes):
            t0 = time.perf_counter()
            wl.prime(spark)
            log(f"{phase}: prime {time.perf_counter() - t0:.2f}s")
        tr.set_phase(phase)
        t_end = time.perf_counter() + seconds
        while len(ops) < 2 or time.perf_counter() < t_end:
            ops.append(wl.op(spark, tr))
    except Exception as e:  # counted as a failed operation, reported
        print(f"operation failed: {e!r}", file=sys.stderr)
        raised = 1
    log(f"{phase}: {len(ops)} ops, latency s " + " ".join(f"{o.latency_s:.2f}" for o in ops))
    return ops, raised


def throughput(ops: list) -> float:
    """Input items of one operation ÷ the median operation latency; 0 when
    no operation completed (the run is then reported as failed)."""
    if not ops:
        return 0.0
    return ops[0].items / statistics.median(o.latency_s for o in ops)


def emit(ops: list, raised: int, metrics: dict):
    """Print the result line: metrics maps name → (value, unit)."""
    failed = raised + sum(not o.ok for o in ops)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(ops) + raised,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )
