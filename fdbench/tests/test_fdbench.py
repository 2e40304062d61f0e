"""The benchmark's own tests: generator determinism, output checks that
reject corrupted outputs, metric names and units against BENCHMARK.json,
and tiny smoke runs of every workload, untraced and traced.

    python3 -m pytest fdbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import worker  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]

SMALL = {
    "etl_json_actions": (gen.build_etl, {"events": 3000, "files": 2}),
    "stream_join": (gen.build_stream, {"files": 4, "lines": 150, "sources": 6}),
    "registry_mix": (gen.build_registry, {"docs": 80, "events": 500}),
}


def _build(tmp_path, name, seed, sub):
    build, size = SMALL[name]
    return gen.cached(str(tmp_path / sub), name, seed, size, build)


@pytest.mark.parametrize("name", list(SMALL))
def test_generator_is_deterministic(tmp_path, name):
    a, fa = _build(tmp_path, name, 7, "a")
    b, fb = _build(tmp_path, name, 7, "b")
    c, fc = _build(tmp_path, name, 8, "c")
    files = sorted(f for f in os.listdir(a) if not f.startswith("_"))
    assert files == sorted(f for f in os.listdir(b) if not f.startswith("_"))
    match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    assert (mismatch, errors) == ([], [])
    assert fa == fb
    if name == "stream_join":  # the file source admits files in mtime order
        assert [os.path.getmtime(os.path.join(a, f)) for f in files] == [
            os.path.getmtime(os.path.join(b, f)) for f in files
        ]
    _, mismatch, _ = filecmp.cmpfiles(a, c, files, shallow=False)
    assert mismatch, "another seed must give other inputs"


def test_cache_reuses_inputs(tmp_path):
    d1, f1 = _build(tmp_path, "stream_join", 3, "x")
    stamp = os.path.getmtime(os.path.join(d1, "_FACTS.json"))
    d2, f2 = _build(tmp_path, "stream_join", 3, "x")
    assert (d1, f1) == (d2, f2)
    assert os.path.getmtime(os.path.join(d2, "_FACTS.json")) == stamp


def test_stream_files_admit_in_order(tmp_path):
    d, facts = _build(tmp_path, "stream_join", 1, "s")
    files = sorted(f for f in os.listdir(d) if not f.startswith("_"))
    mtimes = [os.path.getmtime(os.path.join(d, f)) for f in files]
    assert len(files) == facts["files"] and mtimes == sorted(set(mtimes))
    sizes = {len(open(os.path.join(d, f)).read().splitlines()) for f in files}
    assert sizes == {facts["lines_per_file"]}


def test_etl_generator_matches_reference_model():
    import random

    rng = random.Random(11)
    for i in range(3000):
        line, row = gen._etl_event(rng, i)
        assert row == gen.etl_expected(json.loads(line))


# -- corrupted outputs fail their checks ------------------------------------


def test_etl_check_rejects_corruption():
    facts = {"kept": 10, "checksum": 12345}
    assert worker.check_etl((10, 12345), facts)
    assert not worker.check_etl((9, 12345), facts)
    assert not worker.check_etl((10, 12346), facts)


def _stream_rows(facts_dir):
    """Replay the join in Python as the expected sink content."""
    rows = []
    by_src: dict[int, list[dict]] = {}
    for f in sorted(os.listdir(facts_dir)):
        if not f.startswith("_"):
            for line in open(os.path.join(facts_dir, f)):
                r = json.loads(line)
                by_src.setdefault(r["source_id"], []).append(r)
    for recs in by_src.values():
        cur = None
        for r in recs:
            if r["log"].startswith("panic: "):
                if cur:
                    rows.append(cur)
                cur = dict(r)
            elif cur is not None and r["log"][:1].isspace():
                cur["log"] += r["log"]
            else:
                if cur:
                    rows.append(cur)
                    cur = None
                rows.append(dict(r))
    for r in rows:
        r["route"] = f"src-{r['source_id']}"
    return rows


def test_stream_check_rejects_corruption(tmp_path):
    d, facts = _build(tmp_path, "stream_join", 2, "s")
    rows = _stream_rows(d)
    assert worker.check_stream(rows, facts)
    assert not worker.check_stream(rows[1:], facts)
    assert not worker.check_stream(rows + rows[:1], facts)
    bad = [dict(r) for r in rows]
    bad[0]["log"] += "x"
    assert not worker.check_stream(bad, facts)


def test_registry_digest_rejects_corruption():
    import pandas as pd

    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, None, 2.0]})
    shuffled = a.iloc[[2, 0, 1]]
    assert worker.frame_digest(a) == worker.frame_digest(shuffled)
    b = a.copy()
    b.loc[1, "v"] = 1.0
    assert worker.frame_digest(a) != worker.frame_digest(b)
    assert worker.frame_digest(a) != worker.frame_digest(a.iloc[:2])


# -- tiny end-to-end runs ---------------------------------------------------


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS + ["registry_mix"])
def test_smoke_untraced(workload):
    res = _run(workload, 0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_traced(workload):
    res = _run(workload, 1)
    assert res["correct"]
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["session.start_s"] > 0 and m["trace.spans"] > 0 and m["exec.tasks"] > 0
    if workload == "etl_json_actions":
        assert m["decode.events_per_s"] > 0 and m["exec.parallel_efficiency"] > 0
        assert all(m[f"row.{r}.exec_s"] > 0 and m[f"row.{r}.py4j_calls"] > 0 for r in worker.REGISTRY_ROWS)
    if workload == "stream_join":
        assert m["streaming.add_batch_s"] > 0 and m["sink.files_written"] > 0 and m["python.start_s"] > 0


def test_missing_program_exits_nonzero(tmp_path):
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "fdbench", ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "fdbench/run.py", "--workload", WORKLOADS[0], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode != 0 and out.stdout.strip() == ""
