"""Tracing for the benchmark: in-memory spans, process-tree memory sampling
and Spark event-log task metrics.

Spans are recorded only around the benchmark's own calls into the package
(no instrumentation inside the program). Each span also names the Spark
jobs it triggers: the span name is set as the job description and the run
phase as the job group, so event-log task metrics attach to spans without
touching the package.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Spans kept in memory: (id, parent, name, layer, start, end).

    With ``enabled`` false, ``span`` still tags Spark jobs (a local-property
    set, no timing kept), so traced and untraced runs issue the same calls.
    ``layers`` maps each span name to its layer, which is how Spark jobs
    (described by span name) are charged to layers."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self.layers: dict[str, str] = {}
        self._stack: list[tuple[int | None, str]] = []

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1][0] if self._stack else None
        sid = None
        if self.enabled:
            sid = len(self.spans)
            self.layers[name] = layer
            self.spans.append(
                {"id": sid, "parent": parent, "name": name, "layer": layer,
                 "start": time.perf_counter(), "end": None}
            )
        self._stack.append((sid, name))
        self.sc.setJobDescription(name)
        try:
            yield
        finally:
            self._stack.pop()
            if sid is not None:
                self.spans[sid]["end"] = time.perf_counter()
            self.sc.setJobDescription(self._stack[-1][1] if self._stack else None)

    def set_phase(self, phase: str):
        self.sc.setLocalProperty("spark.jobGroup.id", phase)

    def wall(self, roots: list[int]) -> float:
        return sum(self.spans[r]["end"] - self.spans[r]["start"] for r in roots)

    def dump(self, path: str, extra: dict):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1)


# ------------------------------------------------------------- memory
def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pss_bytes(root: int) -> int:
    """Proportional set size of ``root`` and all its descendants (driver,
    JVM and Python workers). PSS splits shared pages between the processes
    mapping them, so forked Python workers are not counted once each."""
    kids = children_map()
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass  # the process exited between listing and reading
        stack.extend(kids.get(pid, []))
    return total


class MemSampler:
    """Background thread sampling the process tree's PSS; ``peak`` is the
    highest sum seen between ``start`` and ``stop``."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(me))
            self._stop.wait(self.interval)

    def start(self):
        self._thread.start()
        return self

    def stop(self):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_pss_bytes(os.getpid()))
        return self.peak


# ------------------------------------------------------------- event log
def read_event_log(log_dir: str) -> dict:
    """Jobs (description, group, stage ids, wall, physical plan), SQL
    executions (description, group, wall) and tasks (stage, run, cpu, gc,
    shuffle, spill, input records) from the uncompressed event log."""
    jobs, tasks, stage_job, execs = {}, [], {}, {}
    # Spark 4 writes rolling logs: eventlog_v2_<app>/events_<n>_<app>
    paths = sorted(
        os.path.join(root, n)
        for root, _dirs, names in os.walk(log_dir)
        for n in names
        if n.startswith("events_")
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind.endswith("SparkListenerSQLExecutionStart"):
                    execs[str(ev["executionId"])] = {
                        "desc": ev.get("description"),
                        "group": ev.get("jobGroupId"),
                        "start": ev["time"],
                        "end": None,
                        "plan": ev.get("physicalPlanDescription", ""),
                    }
                elif kind.endswith("SparkListenerSQLExecutionEnd"):
                    if str(ev["executionId"]) in execs:
                        execs[str(ev["executionId"])]["end"] = ev["time"]
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "desc": props.get("spark.job.description"),
                        "group": props.get("spark.jobGroup.id"),
                        "start": ev["Submission Time"],
                        "end": None,
                        "stages": ev["Stage IDs"],
                        "execution": props.get("spark.sql.execution.id"),
                    }
                    for st in ev["Stage IDs"]:
                        stage_job[st] = jid
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append(
                        {
                            "stage": ev["Stage ID"],
                            "job": stage_job.get(ev["Stage ID"]),
                            "run_ms": m.get("Executor Run Time", 0),
                            "cpu_ns": m.get("Executor CPU Time", 0),
                            "gc_ms": m.get("JVM GC Time", 0),
                            "shuffle_read": sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0),
                            "shuffle_records": sr.get("Total Records Read", 0),
                            "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                            "spill": m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0),
                            # Bytes Read undercounts local-file parquet
                            # scans; records read is exact
                            "records": (m.get("Input Metrics") or {}).get("Records Read", 0),
                        }
                    )
    for job in jobs.values():
        job["plan"] = execs.get(job["execution"], {}).get("plan", "")
    return {"jobs": jobs, "tasks": tasks, "executions": execs}


def select(log: dict, group: str | None = None, desc_prefix: str | None = None,
           plan_has: str | None = None):
    """(job ids, tasks) of the jobs matching a group, a description prefix
    ("" matches every described job, None every job) and a substring of
    their SQL physical plan."""
    ids = {
        j for j, v in log["jobs"].items()
        if (group is None or v["group"] == group)
        and (desc_prefix is None or (v["desc"] is not None and v["desc"].startswith(desc_prefix)))
        and (plan_has is None or plan_has in v["plan"])
    }
    return ids, [t for t in log["tasks"] if t["job"] in ids]


def _union_s(intervals: list[tuple[int, int]]) -> float:
    """Seconds covered by (start_ms, end_ms) intervals, overlaps once."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1e3


def layer_times(log: dict, group: str, layers: dict[str, str]) -> tuple[dict, float]:
    """Spark time per layer, from the event log's own clock: each SQL
    execution (planned physical query: its jobs, plus its commit) and each
    job outside one (schema reads) of ``group`` is charged to the layer of
    the span that described it. Returns ({layer: seconds}, seconds covered
    by any of them). Driver time outside these (analysis and planning
    before an execution starts, Python-side work) is in no layer."""
    per: dict[str, list] = {}
    spans = list(log["executions"].values()) + [
        j for j in log["jobs"].values() if j["execution"] is None
    ]
    for v in spans:
        if v["group"] == group and v["desc"] in layers and v["end"] is not None:
            per.setdefault(layers[v["desc"]], []).append((v["start"], v["end"]))
    every = [iv for ivs in per.values() for iv in ivs]
    return {k: _union_s(v) for k, v in per.items()}, _union_s(every)


def spark_metrics(log: dict, group: str, cores: int, wall_s: float) -> dict:
    """The spark.* per-layer metrics over the jobs one phase's spans
    described (not the output checks that run after each span)."""
    ids, tasks = select(log, group=group, desc_prefix="")
    run_s = sum(t["run_ms"] for t in tasks) / 1e3
    return {
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "spark.gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
        "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "spark.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
        "spark.spill_bytes": sum(t["spill"] for t in tasks),
        "spark.jobs": len(ids),
        "spark.tasks": len(tasks),
        "spark.idle_core_share": 1.0 - run_s / (cores * wall_s) if wall_s > 0 else 0.0,
    }


def stage_skew(tasks: list[dict], key: str = "run_ms") -> tuple[float, float]:
    """(executor run seconds, max ÷ median of ``key`` over the stage's
    tasks) of the stage with the most executor run time among ``tasks``;
    with key "shuffle_records", among the stages that read shuffle data."""
    by_stage: dict[int, list[int]] = {}
    run: dict[int, int] = {}
    for t in tasks:
        if key == "run_ms" or t["shuffle_records"] > 0:
            by_stage.setdefault(t["stage"], []).append(t[key])
            run[t["stage"]] = run.get(t["stage"], 0) + t["run_ms"]
    if not by_stage:
        return 0.0, 0.0
    stage = max(run, key=run.get)
    vals = by_stage[stage]
    med = statistics.median(vals)
    return run[stage] / 1e3, (max(vals) / med if med > 0 else float(len(vals)))
