"""Tracing for the per-layer run: spans, py4j round trips, Spark's event
log; and the process tree's resident memory.

Nothing here runs in the timed (untraced) runs except ``rss_after_gc``,
which runs after the timed region.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, run id).  Disabled
    tracers record nothing and cost one attribute check per call."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.py4j_calls = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = self.add(name, time.time(), None)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.time()
            self.spans[idx]["py4j_calls"] = self.py4j_calls - self.spans[idx]["py4j_calls"]

    def add(self, name: str, start: float, end: float | None, parent: int | None = None) -> int:
        """Record a span; ``parent`` defaults to the innermost open span."""
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start, "end": end,
             "parent": parent, "run_id": self.run_id, "py4j_calls": self.py4j_calls}
        )
        return len(self.spans) - 1

    def last(self, name: str) -> dict:
        return next(s for s in reversed(self.spans) if s["name"] == name)

    def total(self, name: str, key: str = "dur") -> float:
        return sum(s[key] for s in self.finished() if s["name"] == name)

    def finished(self) -> list[dict]:
        """Spans with duration and self time (duration minus the union of
        the intervals its children cover)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = []
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            dur = s["end"] - s["start"]
            out.append(dict(s, dur=dur, self=max(dur - covered, 0.0)))
        return out

    # -- py4j ----------------------------------------------------------
    def count_py4j(self) -> None:
        """Count py4j round trips by wrapping the client-server
        connection's send_command (tools/count_py4j.py pattern)."""
        import py4j.clientserver as cs

        orig = cs.ClientServerConnection.send_command
        tracer = self

        def counting(conn, *a, **kw):
            tracer.py4j_calls += 1
            return orig(conn, *a, **kw)

        cs.ClientServerConnection.send_command = counting


# ---------------------------------------------------------------------------
# Catalyst phases
# ---------------------------------------------------------------------------


def catalyst_phases(df) -> dict[str, float]:
    """Plan the DataFrame once and return Catalyst's own phase times
    (seconds) from ``queryExecution().tracker().phases()``."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def read_event_log(log_dir: str, app_id: str) -> list[dict]:
    """Events of one application, from a single log file or a rolling
    log directory (``eventlog_v2_<app>/events_<n>_<app>``)."""
    rolled = glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", f"events_*_{app_id}"))
    paths = sorted(rolled, key=lambda p: int(os.path.basename(p).split("_")[1])) or [os.path.join(log_dir, app_id)]
    events = []
    for p in paths:
        with open(p) as fh:
            for line in fh:
                if line.strip():
                    events.append(json.loads(line))
    return events


def _group_of(props: dict) -> str:
    """A job's group: "batch:<id>" for a streaming micro-batch, else the
    job group the traced run set."""
    if props.get("streaming.sql.batchId") is not None:
        return f"batch:{props['streaming.sql.batchId']}"
    return props.get("spark.jobGroup.id") or ""


RATIOS = ("exec.task_skew", "exec.empty_task_share")


def exec_metrics(events: list[dict], keep, per: int = 1) -> dict[str, float]:
    """Execution-layer metrics over the jobs whose group satisfies
    ``keep(group)``: jobs, stages, tasks, executor run/CPU/GC time,
    shuffle bytes, spill, Python-node metrics (all divided by ``per``,
    the number of timed passes or triggers), task skew and the
    empty-task share."""
    job_stages: dict[int, list[int]] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        if e.get("Event") == "SparkListenerJobStart" and keep(_group_of(e.get("Properties") or {})):
            job_stages[e["Job ID"]] = e["Stage IDs"]
            for sid in e["Stage IDs"]:
                stage_job[sid] = e["Job ID"]
    tasks: dict[int, list[dict]] = {}
    ran_stages = set()
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerTaskEnd" and e.get("Stage ID") in stage_job:
            m = e.get("Task Metrics") or {}
            info = e.get("Task Info") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            tasks.setdefault(e["Stage ID"], []).append(
                {
                    "dur": (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0,
                    "run": m.get("Executor Run Time", 0) / 1000.0,
                    "cpu": m.get("Executor CPU Time", 0) / 1e9,
                    "gc": m.get("JVM GC Time", 0) / 1000.0,
                    "sr_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "sr_recs": sr.get("Total Records Read", 0),
                    "sr_blocks": sr.get("Remote Blocks Fetched", 0) + sr.get("Local Blocks Fetched", 0),
                    "sw_bytes": sw.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    "accum": {a.get("Name"): a.get("Update") for a in info.get("Accumulables") or []},
                }
            )
            ran_stages.add(e["Stage ID"])
    all_tasks = [t for ts in tasks.values() for t in ts]
    out = {
        "exec.jobs": len(job_stages),
        "exec.stages": len(ran_stages),
        "exec.tasks": len(all_tasks),
        "exec.executor_run_s": sum(t["run"] for t in all_tasks),
        "exec.executor_cpu_s": sum(t["cpu"] for t in all_tasks),
        "exec.gc_s": sum(t["gc"] for t in all_tasks),
        "exec.shuffle_read_bytes": sum(t["sr_bytes"] for t in all_tasks),
        "exec.shuffle_write_bytes": sum(t["sw_bytes"] for t in all_tasks),
        "exec.spill_bytes": sum(t["spill"] for t in all_tasks),
        "exec.task_skew": 0.0,
        "exec.empty_task_share": 0.0,
    }
    if tasks:
        longest = max(tasks.values(), key=lambda ts: sum(t["dur"] for t in ts))
        med = statistics.median(t["dur"] for t in longest)
        out["exec.task_skew"] = max(t["dur"] for t in longest) / med if med > 0 else 1.0
    # among tasks of stages that read a shuffle: the share that read no rows
    readers = [t for ts in tasks.values() if any(t["sr_blocks"] or t["sr_recs"] for t in ts) for t in ts]
    if readers:
        out["exec.empty_task_share"] = sum(1 for t in readers if t["sr_recs"] == 0) / len(readers)
    # SQL metrics of the Python (pandas-with-state) nodes; Spark leaves
    # "data sent to Python workers" at 0 for applyInPandasWithState
    out["python.bytes_returned"] = _accum_sum(all_tasks, "data returned from Python workers")
    out["python.start_s"] = _accum_sum(all_tasks, "time to start Python workers") / 1000.0
    out["python.run_s"] = _accum_sum(all_tasks, "time to run Python workers") / 1000.0
    return {k: v if k in RATIOS else v / per for k, v in out.items()}


def _accum_sum(tasks: list[dict], name: str) -> float:
    total = 0.0
    for t in tasks:
        v = t["accum"].get(name)
        if isinstance(v, (int, float)):
            total += v
        elif isinstance(v, str) and v.lstrip("-").isdigit():
            total += int(v)
    return total


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for c in children.get(pid, []):
            out.append(c)
            todo.append(c)
    return out


def rss_after_gc(spark, samples: int = 3) -> dict[str, float]:
    """Resident memory (VmRSS, MB) of this process (the Python driver),
    the JVM it launched and every live Python worker, keyed by
    "<pid> <command>": the smallest total of ``samples`` reads, each right
    after a full JVM GC.  Peak RSS (VmHWM) of the JVM follows the
    collector's heap sizing and swings 15-35% run to run on the same
    code; after a full GC it repeats within a few percent, unless a
    running stream allocates again before the read (hence the minimum)."""
    me = os.getpid()
    best: dict[str, float] = {}
    for _ in range(samples):
        spark._jvm.java.lang.System.gc()
        time.sleep(0.3)
        parts = {}
        for pid in [me] + descendants(me):
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    comm = fh.read().strip()
            except OSError:
                continue
            parts[f"{pid} {comm}"] = _status_kb(pid, "VmRSS") / 1024.0
        if not best or sum(parts.values()) < sum(best.values()):
            best = parts
    return best
