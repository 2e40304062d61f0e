"""tools/profile.py end to end on two bench rows."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ROW_FIELDS = {
    "row", "build_s", "exec_s", "py4j_calls", "build_jobs", "exec_jobs", "jobs", "plan",
    "plan_varies", "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.executor_run_s", "exec.executor_cpu_s",
    "exec.gc_s", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "exec.empty_task_share", "exec.task_skew",
}
PLAN_FIELDS = {"exchange", "bhj", "smj", "bnlj", "codegen", "py", "pushed", "readcols"}


def test_profile_rows_plans_and_call_sites(sf_dir, tmp_path):
    names = ["tpch_q1", "dedup_exact"]
    plans = tmp_path / "plans"
    out = subprocess.run(
        [sys.executable, "tools/profile.py", "--sf", sf_dir, "--reps", "2",
         "--plans", str(plans), *names],
        cwd=REPO, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = [json.loads(line) for line in out.stdout.splitlines() if line.startswith("{")]
    assert len(lines) == len(names) + 1
    for name, row in zip(names, lines):
        assert row["row"] == name
        assert ROW_FIELDS <= set(row), ROW_FIELDS - set(row)
        assert set(row["plan"]) == PLAN_FIELDS
        assert row["plan_varies"] is False
        assert row["py4j_calls"] > 0
        assert row["build_jobs"] + row["exec_jobs"] == row["exec.jobs"] == len(row["jobs"]) > 0
        for jid, phase, dur_s, stages, tasks in row["jobs"]:
            assert phase in ("build", "exec") and dur_s >= 0 and tasks >= stages >= 0
        assert "== Physical Plan ==" in (plans / f"{name}.txt").read_text()
    sites = lines[-1]["sites"]
    assert sites and sites[0]["trips"] > 0
    assert {r for s in sites for r, _ in s["rows"]} <= set(names)


def test_tools_scripts_get_the_standard_profile_module():
    """Run from tools/, a script must still import the standard
    library's profile (cProfile, and so pyspark, needs it), not
    tools/profile.py."""
    subprocess.run(
        [sys.executable, "tools/sweep_state.py"], cwd=REPO, check=True, capture_output=True, timeout=120
    )
