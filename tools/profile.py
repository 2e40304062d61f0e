"""Layer-by-layer profile of the bench rows: where each row's seconds go.

Runs each row with bench.py's protocol (a fresh DataFrame per rep, the
noop sink, cached relations and pinned checkpoints released between
reps) under job groups ``<row>:build:<rep>`` and ``<row>:exec:<rep>``,
with Spark's event log on, and prints one JSON line per row:

- ``build_s`` / ``exec_s``: plan construction + analysis vs noop
  execution, each the minimum over reps;
- ``py4j_calls``: py4j round trips of the last rep's build (see
  ``Py4jTrips``), a count that host load does not move (~0.9 ms per
  trip on an idle host);
- ``catalyst.{analysis,optimization,planning}_s``: Catalyst's own phase
  times for that DataFrame, planned before its noop write runs;
- ``build_jobs`` / ``exec_jobs`` and the ``exec.*`` / ``python.*``
  metrics of ``fdbench.tracing.exec_metrics`` over the last rep's jobs
  (stages, tasks, executor run vs CPU time, GC, shuffle bytes, spill,
  empty-task share, skew);
- ``jobs``: ``[id, phase, dur_s, stages, tasks]`` per job of the last
  rep, counting the stages and tasks that ran (a row that checkpoints,
  counts or collects while building shows each as its own job);
- ``plan``: physical-plan property counts from the last rep's
  ``explain("formatted")`` string (exchanges, join strategies, codegen
  stages, Python nodes, pushed filters, columns read);
- ``plan_varies``: true when any two reps' plan counts differ (every
  rep is explained), so ``--reps 2`` shows whether a row plans the
  same on every build.

One untimed extra build per row then attributes py4j trips to the
innermost repo frame that is not this script; the last JSON line lists
the top call sites with the rows they come from.  ``--plans DIR``
writes each row's plan string to ``DIR/<row>.txt``.  Cores come from
``$SPARK_GRAFT_CPUS`` (see ``get_spark``).

Usage: python tools/profile.py [--sf DIR] [--reps N] [--plans DIR] [names...]
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import re
import shutil
import sys
import tempfile
import threading
import time
from collections import Counter, defaultdict

HERE = os.path.abspath(__file__)
REPO = os.path.dirname(os.path.dirname(HERE))
# the repo root replaces this script's directory, where this file would
# shadow the standard library's profile module (cProfile, and so
# pyspark, imports it)
sys.path[0] = REPO

from fdbench.tracing import catalyst_phases, exec_metrics, read_event_log  # noqa: E402

TOP_SITES = 40
PLAN_PATTERNS = {
    "exchange": r"\bExchange\b",
    "bhj": r"BroadcastHashJoin",
    "smj": r"SortMergeJoin",
    "bnlj": r"BroadcastNestedLoopJoin",
    "codegen": r"WholeStageCodegen",
    "py": r"(BatchEvalPython|ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas)",
}


class Py4jTrips:
    """Counts py4j round trips and, while ``row`` is set, attributes them
    to repo call sites.  py4j also sends one delete command per
    garbage-collected Java proxy, from its finalizer thread whenever
    Python's collector runs; those are left out, so a build's count
    repeats exactly (counting them added 0 to ~900 per bench row)."""

    def __init__(self):
        self.count = 0
        self.row: str | None = None
        self.trips: dict[str, Counter] = defaultdict(Counter)
        self._lock = threading.Lock()  # a row may build on several threads

    def install(self) -> None:
        import py4j.clientserver as cs
        from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME

        orig = cs.ClientServerConnection.send_command
        delete = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME

        def counting(conn, command, *a, **kw):
            if not command.startswith(delete):
                with self._lock:
                    self.count += 1
                    if self.row is not None:
                        self.trips[self._site()][self.row] += 1
            return orig(conn, command, *a, **kw)

        cs.ClientServerConnection.send_command = counting

    @staticmethod
    def _site() -> str:
        f = sys._getframe(2)
        while f is not None:
            path = f.f_code.co_filename
            if path.startswith(REPO) and path != HERE:
                return f"{os.path.relpath(path, REPO)}:{f.f_lineno}"
            f = f.f_back
        return "<other>"

    def summary(self) -> dict:
        ranked = sorted(self.trips.items(), key=lambda kv: -sum(kv[1].values()))
        return {
            "sites_total_trips": sum(sum(c.values()) for c in self.trips.values()),
            "sites": [
                {"site": site, "trips": sum(rows.values()), "rows": rows.most_common(5)}
                for site, rows in ranked[:TOP_SITES]
            ],
        }


def plan_counts(plan: str) -> dict[str, int]:
    counts = {k: len(re.findall(p, plan)) for k, p in PLAN_PATTERNS.items()}
    counts["pushed"] = sum(1 for p in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if p)
    counts["readcols"] = sum(
        len(rs.split(",")) for rs in re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    )
    return counts


def explain_string(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def profile_row(spark, trips: Py4jTrips, name: str, sf: str, reps: int, plans: str | None) -> dict:
    """Time ``reps`` build + exec passes of one row and count each rep's
    plan; the last rep also gives the py4j count, Catalyst phases and
    plan string."""
    from file_d_spark.queries import QUERIES, release_caches

    fn = QUERIES[name]
    sc = spark.sparkContext
    build_s = exec_s = float("inf")
    counts = []
    for rep in range(reps):
        sc.setJobGroup(f"{name}:build:{rep}", name)
        calls = trips.count
        t0 = time.time()
        df = fn(spark, sf)
        df.schema  # force analysis
        build_s = min(build_s, time.time() - t0)
        calls = trips.count - calls
        # before the noop write: once it has run, the row's cached
        # relations are materialized and the plan string changes
        if rep == reps - 1:
            phases = catalyst_phases(df)
        plan = explain_string(df)
        counts.append(plan_counts(plan))
        sc.setJobGroup(f"{name}:exec:{rep}", name)
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        exec_s = min(exec_s, time.time() - t0)
        sc.setJobGroup(None, None)
        spark.catalog.clearCache()
        release_caches()
    trips.row = name
    fn(spark, sf).schema
    trips.row = None
    spark.catalog.clearCache()
    release_caches()
    if plans:
        os.makedirs(plans, exist_ok=True)
        with open(os.path.join(plans, f"{name}.txt"), "w") as fh:
            fh.write(plan)
    return {
        "row": name,
        "build_s": round(build_s, 3),
        "exec_s": round(exec_s, 3),
        "py4j_calls": calls,
        **{f"catalyst.{k}_s": round(v, 3) for k, v in phases.items()},
        "plan": counts[-1],
        "plan_varies": any(c != counts[0] for c in counts),
    }


def job_table(events: list[dict]) -> dict[int, dict]:
    """Job id -> group, duration and the stages and tasks that ran."""
    tasks = Counter(e["Stage ID"] for e in events if e.get("Event") == "SparkListenerTaskEnd")
    jobs: dict[int, dict] = {}
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            ran = [s for s in e["Stage IDs"] if tasks[s]]
            jobs[e["Job ID"]] = {
                "group": (e.get("Properties") or {}).get("spark.jobGroup.id") or "",
                "start": e.get("Submission Time", 0),
                "end": e.get("Submission Time", 0),
                "stages": len(ran),
                "tasks": sum(tasks[s] for s in ran),
            }
        elif ev == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e.get("Completion Time", 0)
    return jobs


def finish_row(row: dict, reps: int, events: list[dict], jobs: dict[int, dict]) -> dict:
    """Add the last rep's jobs and execution metrics to ``row``."""
    groups = {f"{row['row']}:{phase}:{reps - 1}": phase for phase in ("build", "exec")}
    listed = [
        [jid, groups[j["group"]], round((j["end"] - j["start"]) / 1000.0, 3), j["stages"], j["tasks"]]
        for jid, j in sorted(jobs.items())
        if j["group"] in groups
    ]
    metrics = exec_metrics(events, lambda g: g in groups)
    return {
        **row,
        "build_jobs": sum(1 for j in listed if j[1] == "build"),
        "exec_jobs": sum(1 for j in listed if j[1] == "exec"),
        **{k: round(v, 4) for k, v in metrics.items()},
        "jobs": listed,
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", default="/root/testdata/sf0.1", help="scale-factor directory")
    ap.add_argument("--reps", type=int, default=2, help="timed passes per row (min is reported)")
    ap.add_argument("--plans", help="write each row's formatted plan to PLANS/<row>.txt")
    ap.add_argument("names", nargs="*", help="rows to profile (default: bench.BENCH_QUERIES)")
    args = ap.parse_args()
    if args.reps < 1:
        ap.error("--reps must be at least 1")

    import bench
    from file_d_spark.session import get_spark
    from file_d_spark.tables import load_table

    names = args.names or list(bench.BENCH_QUERIES)
    log_dir = tempfile.mkdtemp(prefix="profile-eventlog-")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.eventLog.enabled=true --conf spark.eventLog.compress=false "
        f"--conf spark.eventLog.dir=file://{log_dir} pyspark-shell"
    )
    try:
        trips = Py4jTrips()
        trips.install()
        spark = get_spark("profile")
        load_table(spark, args.sf, "region").count()  # warm the JVM and footers
        rows = []
        for name in names:
            row = profile_row(spark, trips, name, args.sf, args.reps, args.plans)
            rows.append(row)
            print(
                f"# {name}: build {row['build_s']}s ({row['py4j_calls']} trips)"
                f" + exec {row['exec_s']}s",
                file=sys.stderr,
            )
        app_id = spark.sparkContext.applicationId
        spark.stop()  # closes the event log
        events = read_event_log(log_dir, app_id)
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)
    jobs = job_table(events)
    for row in rows:
        print(json.dumps(finish_row(row, args.reps, events, jobs)))
    print(json.dumps(trips.summary()))


if __name__ == "__main__":
    main()
