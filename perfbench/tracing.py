"""Tracing for the per-layer run (``--trace 1``).

Spans are opened by the benchmark's own code around calls into the
package's public functions: a ``SnapshotStore`` subclass wraps every
public store method, ``shardedfilter.build_sharded_bloom`` is wrapped at
module level, and the benchmark wraps each round and each query. Spans
stay in memory; when the run ends they are reduced to metrics and written
to one JSON file. Spark stage costs come from the event log; every job is
attributed to the span it was submitted in (commit worker threads do not
inherit the job group, so the submission time decides).
"""

from __future__ import annotations

import contextlib
import glob
import inspect
import json
import os
import statistics
import threading
import time

from cc_crawl_statistics_spark.frontier import shardedfilter
from cc_crawl_statistics_spark.frontier.state import SnapshotStore

MIB = 1024 * 1024
SPARK_STATS = (
    "jobs", "tasks", "shuffle_write_mib", "shuffle_read_mib", "spill_mib",
    "task_s", "gc_s", "task_skew",
)


class Tracer:
    """In-memory span recorder: (name, start, end, parent index)."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = getattr(self._stack, "s", None)
        if stack is None:
            stack = self._stack.s = []
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": stack[-1] if stack else None,
            **attrs,
        }
        self.spans.append(rec)
        stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def dump(self, path: str, **extra) -> None:
        """Write every span (times in seconds from the first span's start)
        and ``extra`` to ``path`` as one JSON object."""
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": spans, **extra}, f, indent=1)


def traced_store(tracer: Tracer, root: str) -> SnapshotStore:
    """A SnapshotStore whose every public method opens a
    ``state.<method>`` span."""

    def wrap(base):
        def method(self, *args, **kwargs):
            with tracer.span(f"state.{base.__name__}"):
                return base(self, *args, **kwargs)

        return method

    methods = {
        name: wrap(f)
        for name, f in vars(SnapshotStore).items()
        if inspect.isfunction(f) and not name.startswith("_")
    }
    return type("TracedSnapshotStore", (SnapshotStore,), methods)(root)


@contextlib.contextmanager
def traced_bloom_build(tracer: Tracer):
    """Wrap shardedfilter.build_sharded_bloom (looked up by the store at
    call time) with a ``prefilter.build`` span for the duration."""
    orig = shardedfilter.build_sharded_bloom

    def build(*args, **kwargs):
        with tracer.span("prefilter.build"):
            return orig(*args, **kwargs)

    shardedfilter.build_sharded_bloom = build
    try:
        yield
    finally:
        shardedfilter.build_sharded_bloom = orig


def event_log_conf(log_dir: str) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.dir": log_dir,
    }


def _tasks_by_job(log_dir: str) -> tuple[dict, dict]:
    """Parse the event log: job id -> submission time (s), and job id ->
    list of finished tasks (run/gc seconds, shuffle and spill bytes,
    stage id)."""
    submitted, stage_job, tasks = {}, {}, {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    submitted[jid] = ev["Submission Time"] / 1000.0
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = jid
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    jid = stage_job.get(ev["Stage ID"])
                    info = ev["Task Info"]
                    tasks.setdefault(jid, []).append(
                        {
                            "stage": ev["Stage ID"],
                            "dur": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                            "run": m.get("Executor Run Time", 0) / 1000.0,
                            "gc": m.get("JVM GC Time", 0) / 1000.0,
                            "sw": sw.get("Shuffle Bytes Written", 0),
                            "sr": sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0),
                            "spill": m.get("Disk Bytes Spilled", 0),
                        }
                    )
    return submitted, tasks


def spark_costs(log_dir: str, windows: dict[str, list[tuple[float, float]]]) -> dict:
    """Per group of time windows (e.g. every timed round), the Spark cost
    of the jobs submitted inside them: jobs, tasks, shuffle MiB, spill MiB,
    summed task seconds, GC seconds, and task skew (the largest
    max/median task duration over stages of at least 4 tasks)."""
    submitted, tasks = _tasks_by_job(log_dir)
    out = {}
    for group, wins in windows.items():
        jobs = [
            j for j, t in submitted.items()
            if any(a - 0.05 <= t <= b for a, b in wins)
        ]
        ts = [t for j in jobs for t in tasks.get(j, [])]
        by_stage: dict[int, list[float]] = {}
        for t in ts:
            by_stage.setdefault(t["stage"], []).append(t["dur"])
        skews = [
            max(d) / max(statistics.median(d), 1e-3)
            for d in by_stage.values() if len(d) >= 4
        ]
        vals = {
            "jobs": len(jobs),
            "tasks": len(ts),
            "shuffle_write_mib": sum(t["sw"] for t in ts) / MIB,
            "shuffle_read_mib": sum(t["sr"] for t in ts) / MIB,
            "spill_mib": sum(t["spill"] for t in ts) / MIB,
            "task_s": sum(t["run"] for t in ts),
            "gc_s": sum(t["gc"] for t in ts),
            "task_skew": max(skews, default=0.0),
        }
        for k in SPARK_STATS:
            out[f"spark.{group}.{k}"] = vals[k]
    return out


def _rss_mib(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MiB; 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def memory(jvm_pid: int) -> dict:
    """Peak RSS of the JVM, and summed peak RSS of its live Python worker
    descendants (the pandas-UDF / Arrow workers), sampled at call time."""
    parents = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parents[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    desc, frontier = set(), {jvm_pid}
    while frontier:
        frontier = {p for p, pp in parents.items() if pp in frontier} - desc
        desc |= frontier
    return {
        "mem.jvm_peak_rss_mib": _rss_mib(jvm_pid),
        "mem.py_workers_peak_rss_mib": sum(_rss_mib(p) for p in desc),
    }
