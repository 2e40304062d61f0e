"""Keep README.md / COVERAGE.md query counts honest: the claimed
totals must be derived from the live registry, never hand-edited
numbers that drift (r3 postmortem: docs said 70/69 while the registry
held 71/70)."""

import glob
import json
import re
import subprocess
import sys
import textwrap

from file_d_spark.queries import ORACLES, QUERIES


def test_registry_shape():
    # every oracle belongs to a registered query; since round 5 every
    # query is oracle-paired (kitchen_sink_actions joined via pinned
    # clock + hostname literal + distinct-hash-count observable)
    assert set(ORACLES) <= set(QUERIES)
    rows_only = set(QUERIES) - set(ORACLES)
    assert rows_only == set()


def test_coverage_md_totals_match_registry():
    text = open("COVERAGE.md").read()
    m = re.search(
        r"\*\*(\d+) queries — (\d+) oracle-paired, (\d+) rows-only\*\*",
        text,
    )
    assert m, "COVERAGE.md totals line missing or reformatted"
    assert int(m.group(1)) == len(QUERIES)
    assert int(m.group(2)) == len(ORACLES)
    assert int(m.group(3)) == len(QUERIES) - len(ORACLES)


def test_readme_totals_match_registry():
    text = open("README.md").read()
    m = re.search(
        r"across all (\d+) declared\s+queries \((\d+) DuckDB-hash-matched",
        text,
    )
    assert m, "README.md oracle-count line missing or reformatted"
    assert int(m.group(1)) == len(QUERIES)
    assert int(m.group(2)) == len(ORACLES)
    m = re.search(r"DuckDB oracle \((\d+) of\s+(\d+);", text)
    assert m, "README.md coverage-section count missing"
    assert int(m.group(1)) == len(ORACLES)
    assert int(m.group(2)) == len(QUERIES)


def _newest_bench():
    import glob
    import json
    import re as _re

    files = sorted(glob.glob("BENCH_r*.json"))
    assert files, "no BENCH files at repo root"
    newest = files[-1]
    rnd = int(_re.search(r"r(\d+)", newest).group(1))
    data = json.load(open(newest)).get("parsed") or {}
    return rnd, data


def _check_floor_line(text, where):
    """The floor line must cite a BENCH round no older than newest-1
    (the newest file may land after docs are written at round end) and
    its numbers must match THAT file exactly."""
    import json

    m = re.search(
        r"BENCH_r(\d+): ([\d.]+)s / (\d+) queries; files→devnull\s+"
        r"([\d.]+) GB/s \(ref 1\.7\);\s+files→json→devnull\s+"
        r"([\d.]+) GB/s \(ref 1\.0\)",
        text,
    )
    assert m, f"{where}: floor line missing or reformatted"
    cited = int(m.group(1))
    newest_rnd, _ = _newest_bench()
    assert cited >= newest_rnd - 1, (
        f"{where} cites BENCH_r{cited:02d}; newest is r{newest_rnd:02d}"
    )
    data = json.load(open(f"BENCH_r{cited:02d}.json")).get("parsed") or {}
    assert abs(float(m.group(2)) - data["value"]) < 0.05, f"{where}: total drift"
    assert int(m.group(3)) == len(data["queries"]), f"{where}: query count drift"
    tp = data["throughput"]
    assert abs(float(m.group(4)) - tp["files_devnull_gbps"]) < 0.01
    assert abs(float(m.group(5)) - tp["files_json_devnull_gbps"]) < 0.01


def test_scale_md_floor_cites_fresh_bench():
    _check_floor_line(open("SCALE.md").read(), "SCALE.md")


def test_readme_bench_cites_fresh_bench():
    _check_floor_line(open("README.md").read(), "README.md")


def test_bench_queries_all_registered():
    """bench.py must only name live registry entries — a renamed query
    would otherwise break the driver's per-round benchmark run."""
    import bench

    missing = [q for q in bench.BENCH_QUERIES if q not in QUERIES]
    assert missing == []
    assert len(set(bench.BENCH_QUERIES)) == len(bench.BENCH_QUERIES)


def test_sweep_window_capacity():
    """The set the driver MUST verify this round — never-green queries
    plus those whose newest green row is 2+ rounds old plus the
    hand-maintained _SWEEP_CHANGED list — has to fit the driver's
    ~50-row correctness window, or some query's evidence goes stale
    (the registry-capacity policy, COVERAGE.md).  Guarded here so a
    registration or a _SWEEP_CHANGED addition can't silently overflow."""
    import glob

    from file_d_spark.queries import (
        _SWEEP_CHANGED,
        _SWEEP_WINDOW,
        _driver_green_rounds,
    )

    if not glob.glob("CORRECTNESS_r*.json"):
        return  # fresh clone: everything is never-green by definition
    greens = _driver_green_rounds()
    newest = max(greens.values())
    must = {k for k in QUERIES if greens.get(k, 0) <= newest - 1}
    # a changed query whose green evidence is already from the NEWEST
    # round has been re-verified post-change — it no longer needs a
    # window slot (it stays in the list only until the next round's
    # session clears it)
    # mirror sweep_order exactly: only REGISTERED changed entries
    # count (a folded-away name left in the list is runtime-ignored)
    must |= {
        k for k in _SWEEP_CHANGED
        if k in QUERIES and greens.get(k, 0) < newest
    }
    assert len(must) <= _SWEEP_WINDOW, (
        f"{len(must)} queries need driver verification this round but the "
        f"window holds {_SWEEP_WINDOW}: consolidate or defer registrations "
        f"(sorted overflow candidates: {sorted(must)[:8]}...)"
    )


def test_queries_import_reads_no_artifact():
    """Importing the registry opens no CORRECTNESS_r*.json and leaves
    QUERIES in registration order; only sweep_order, which
    __spark_entry__.queries() applies, reads the round files."""
    code = textwrap.dedent(
        """
        import json, sys
        opened = []
        sys.addaudithook(lambda ev, args: ev == "open" and opened.append(str(args[0])))
        from file_d_spark.queries import QUERIES, sweep_order
        at_import = [p for p in opened if "CORRECTNESS_r" in p]
        sweep_order()
        print(json.dumps({
            "at_import": at_import,
            "by_sweep": [p for p in opened if "CORRECTNESS_r" in p],
            "order": list(QUERIES),
        }))
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, check=True
    ).stdout
    got = json.loads(out.splitlines()[-1])
    assert got["at_import"] == []
    if glob.glob("CORRECTNESS_r*.json"):
        assert got["by_sweep"]  # the hook sees the reads it should
    registered = re.findall(r'^@query\(\s*"(\w+)"', open("file_d_spark/queries.py").read(), re.M)
    assert got["order"] == registered
