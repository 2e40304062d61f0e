"""Benchmark entry point for file_d_spark.

    python3 fdbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Generates the workload's seeded inputs
(cached under .fdbench/cache), launches one fresh measured process
(fdbench/worker.py), and prints as its last stdout line one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1.  The run's host
context (a CPU calibration loop and load averages) is printed on the
line before and stored with the metrics under .fdbench/runs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".fdbench")
WORKER_TIMEOUT_S = 165
sys.path.insert(0, HERE)

import gen  # noqa: E402

# (generator, size) per workload; sizes keep one run well inside the
# benchmark's time budget on a 4-core host (see README "Budget")
INPUTS = {
    "etl_json_actions": (gen.build_etl, {"events": 400_000, "files": 8}),
    "stream_join": (gen.build_stream, {"files": None, "lines": 2000, "sources": 24}),
    "registry_mix": (gen.build_registry, {"docs": 5000, "events": 100_000}),
}
# --size tiny: seconds-long smoke runs for the benchmark's own tests
TINY = {
    "etl_json_actions": {"events": 20_000, "files": 2},
    "stream_join": {"lines": 200, "sources": 8},
    "registry_mix": {"docs": 200, "events": 2_000},
}


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of physical RAM, between 1 and 8 GB."""
    with open("/proc/meminfo") as fh:
        kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    return f"{max(1, min(8, kb // (4 * 1024 * 1024)))}g"


def calibration_s() -> float:
    """bench.py's single-core calibration loop (10**7 multiply-adds)."""
    x, t0 = 0, time.perf_counter()
    for i in range(10**7):
        x += i * i
    return time.perf_counter() - t0


def make_inputs(workload: str, seed: int, seconds: int, tiny: bool = False) -> tuple[str, dict]:
    build, size = INPUTS[workload]
    size = dict(size, **(TINY[workload] if tiny else {}))
    if workload == "stream_join":
        # one file per trigger: the warm-up triggers plus about one
        # timed trigger per second of --seconds
        size["files"] = gen.STREAM_WARMUP_TRIGGERS + max(5, seconds)
    return gen.cached(os.path.join(STATE, "cache"), workload, seed, size, build)


def run_worker(spec: dict, env: dict) -> dict:
    """Launch the measured process in its own process group and wait for
    it; on timeout the whole group is killed."""
    spec["t_launch"] = time.time()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(spec)],
        cwd=spec["work"], env=env, stdout=sys.stderr, start_new_session=True,
    )
    try:
        rc = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    if rc != 0:
        raise SystemExit(f"fdbench: worker failed (exit {rc})")
    with open(spec["out"]) as fh:
        return json.load(fh)


def untraced_median(workload: str, metric: str, size: str) -> tuple[float | None, int]:
    path = os.path.join(STATE, "runs", f"{workload}.jsonl")
    vals = []
    if os.path.exists(path):
        with open(path) as fh:
            for line in fh:
                rec = json.loads(line)
                if not rec["trace"] and rec["correct"] and rec.get("size") == size:
                    vals.append(rec["metrics"][metric]["value"])
    return (statistics.median(vals) if vals else None), len(vals)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "file_d_spark", "__init__.py")):
        print("fdbench: file_d_spark/ not found next to fdbench/; run from a full checkout", file=sys.stderr)
        return 2
    spec_json = load_spec()
    if args.workload not in INPUTS:
        print(f"fdbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    input_dir, facts = make_inputs(args.workload, args.seed, args.seconds, args.size == "tiny")
    host = {"loadavg_start": os.getloadavg(), "calib_single_core_s": calibration_s()}

    work = os.path.join(STATE, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "local"))
    cpus = host_cpus()
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
        PYTHONHASHSEED="0",
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=driver_memory(),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
    )
    spec = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": bool(args.trace), "cpus": cpus, "input": input_dir, "facts": facts,
        "work": work, "out": os.path.join(work, "result.json"),
    }
    if args.trace:
        if args.workload == "etl_json_actions":
            spec["registry_input"] = make_inputs("registry_mix", args.seed, args.seconds, args.size == "tiny")[0]
        spec["event_log"] = os.path.join(work, "eventlog")
        os.makedirs(spec["event_log"])
        env["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true --conf spark.eventLog.compress=false "
            f"--conf spark.eventLog.dir=file://{spec['event_log']} pyspark-shell"
        )
    try:
        res = run_worker(spec, env)
        host["loadavg_end"] = os.getloadavg()
        host["rss_parts_mb"] = res["rss_parts_mb"]
        host["worker_s"] = res["worker_s"]
        if "row_times" in res:
            host["row_times"] = res["row_times"]
        if args.trace:
            keep = os.path.join(STATE, "traces", f"{args.workload}-s{args.seed}")
            shutil.rmtree(keep, ignore_errors=True)
            shutil.copytree(spec["event_log"], os.path.join(keep, "eventlog"))
            with open(os.path.join(keep, "spans.json"), "w") as fh:
                json.dump(res["spans"], fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = {m["name"]: m["unit"] for m in spec_json["end_to_end"] + spec_json["per_layer"]}
    e2e = dict(res["metrics"], setup_s=res["setup_s"], rss_after_gc_mb=res["rss_after_gc_mb"])
    if args.trace:
        values = dict(res["layers"])
        base, n = untraced_median(args.workload, "trigger_p50_s", args.size)
        values["trace.setup_s"] = e2e["setup_s"]
        values["trace.trigger_p50_s"] = e2e["trigger_p50_s"]
        values["trace.untraced_runs"] = n
        values["trace.overhead_share"] = e2e["trigger_p50_s"] / base - 1 if base else 0.0
        names = [m["name"] for m in spec_json["per_layer"]]
    else:
        values = e2e
        names = [m["name"] for m in spec_json["end_to_end"]]
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": units[n]} for n in names}
    correct = res["failed"] == 0
    record = {"workload": args.workload, "seed": args.seed, "trace": bool(args.trace), "size": args.size,
              "correct": correct, "host": host, "metrics": metrics, "time": time.time()}
    os.makedirs(os.path.join(STATE, "runs"), exist_ok=True)
    with open(os.path.join(STATE, "runs", f"{args.workload}.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")
    print("# host " + json.dumps(host))
    if res.get("bad_rows"):
        print("# failed checks " + json.dumps(res["bad_rows"]))
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
