"""Daemon entrypoint (python -m file_d_spark) tests.

Mirrors the reference's cmd/file.d surface
(/root/reference/cmd/file.d/file.d.go:76-91): repeatable --config
merge, full config->pipelines->streams->sink drain with --once, and
the daemon control plane (live/ready/metrics/log-level/play/pipelines).
"""

import json
import logging
import os
import time
import urllib.error
import urllib.request

import pytest

from file_d_spark.__main__ import load_pipelines, main, serve_control_plane
from file_d_spark.metrics import ProgressRing

# the checkout this test file belongs to: the daemon subprocess must
# import this tree's file_d_spark, whatever directory it runs from
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write(path, text):
    with open(path, "w") as fh:
        fh.write(text)
    return path


def _status(req):
    """HTTP status of a request (a URL or a Request), error codes too."""
    try:
        with urllib.request.urlopen(req, timeout=30) as r:
            return r.status
    except urllib.error.HTTPError as ex:
        return ex.code


def test_load_pipelines_merges_and_rejects_duplicates(tmp_path):
    a = _write(tmp_path / "a.yaml", """
pipelines:
  one:
    actions: []
""")
    b = _write(tmp_path / "b.yaml", """
pipelines:
  two:
    actions: []
""")
    merged = load_pipelines([str(a), str(b)])
    assert sorted(merged) == ["one", "two"]
    with pytest.raises(ValueError, match="more than one config"):
        load_pipelines([str(a), str(a)])


def test_main_once_drains_file_to_file(tmp_path, spark):
    src = tmp_path / "in"
    dst = tmp_path / "out"
    ck = tmp_path / "ck"
    src.mkdir()
    _write(src / "events.jsonl", "\n".join(
        json.dumps({"level": lvl, "message": f"m{i}"})
        for i, lvl in enumerate(["info", "debug", "info", "error"])
    ))
    cfg = _write(tmp_path / "fd.yaml", f"""
pipelines:
  demo:
    settings:
      decoder: json
      decoder_params: {{schema: "level string, message string"}}
    input:
      type: file
      path: {src}
      filename_pattern: "*.jsonl"
    actions:
      - type: discard
        do_if: {{op: equal, field: level, values: [debug]}}
    output:
      type: file
      path: {dst}
      format: json
""")
    rc = main([
        "--config", str(cfg),
        "--checkpoint-root", str(ck),
        "--http", "off",
        "--once",
        "--cpus", "4",
    ])
    assert rc == 0
    rows = []
    for root, _dirs, files in os.walk(dst):
        for f in files:
            if f.endswith(".json"):
                with open(os.path.join(root, f)) as fh:
                    rows += [json.loads(line) for line in fh if line.strip()]
    assert sorted(r["message"] for r in rows) == ["m0", "m2", "m3"]
    assert all(r["level"] != "debug" for r in rows)


def _progress(query_id, run_id, batch_id, rows):
    """A listener event as ProgressRing reads it."""
    from types import SimpleNamespace

    return SimpleNamespace(progress=SimpleNamespace(json=json.dumps({
        "id": query_id, "runId": run_id, "batchId": batch_id,
        "numInputRows": rows, "sink": {"numOutputRows": rows},
    })))


def _scrape_total(base, pipeline):
    text = urllib.request.urlopen(f"{base}/metrics", timeout=30).read().decode()
    for line in text.splitlines():
        if line.startswith(
            f'file_d_output_plugin_events_count_total{{pipeline="{pipeline}"}}'
        ):
            return float(line.rsplit(" ", 1)[1])
    raise AssertionError(f"counter line missing:\n{text}")


def test_control_plane_endpoints(spark):
    class FakeQuery:
        id = "q-demo"
        isActive = True
        status = {"message": "ok"}

    # a ring smaller than the batch count: the counter must not depend
    # on what the ring (or recentProgress) still holds
    ring = ProgressRing(capacity=2)
    for bid, rows in [(0, 7), (1, 5)]:
        ring.onQueryProgress(_progress("q-demo", "run-1", bid, rows))
    state = {"stopping": False}
    srv = serve_control_plane(
        spark, {"demo": FakeQuery()}, ring, state, "127.0.0.1", 0
    )
    try:
        port = srv.server_address[1]
        base = f"http://127.0.0.1:{port}"
        assert urllib.request.urlopen(f"{base}/live", timeout=30).status == 200
        assert urllib.request.urlopen(f"{base}/ready", timeout=30).status == 200
        pipes = json.loads(
            urllib.request.urlopen(f"{base}/pipelines", timeout=30).read())
        assert pipes["demo"]["active"] is True
        metrics = urllib.request.urlopen(
            f"{base}/metrics", timeout=30).read().decode()
        assert 'pipeline="demo"' in metrics and "12" in metrics

        # counter MONOTONICITY (ADVICE r7): batches leaving the ring
        # must not decrease the total, a no-data tick (the last batchId
        # again, no rows written) must not add, and a new batch adds
        # exactly its rows
        assert _scrape_total(base, "demo") == 12
        ring.onQueryProgress(_progress("q-demo", "run-1", 1, 0))
        ring.onQueryProgress(_progress("q-demo", "run-1", 2, 3))
        assert _scrape_total(base, "demo") == 15
        ring.onQueryProgress(_progress("q-demo", "run-1", 3, 1))
        assert _scrape_total(base, "demo") == 16
        # restart (ADVICE r8): a NEW runId under the same query id (it
        # persists in the checkpoint), batchIds from 0 again — the
        # counter keeps counting and stays monotonic
        ring.onQueryProgress(_progress("q-demo", "run-2", 0, 4))
        assert _scrape_total(base, "demo") == 20
        ring.onQueryProgress(_progress("q-demo", "run-2", 1, 2))
        assert _scrape_total(base, "demo") == 22
        play = json.loads(urllib.request.urlopen(urllib.request.Request(
            f"{base}/api/v1/play",
            data=json.dumps({
                "events": [{"a": "x"}],
                "actions": [{"type": "modify", "b": "${a}!"}],
            }).encode(),
        ), timeout=120).read())
        assert play["result"] == [{"a": "x", "b": "x!"}]
        # an invalid play request is the client's error, like the
        # reference's playground handler
        assert _status(urllib.request.Request(
            f"{base}/api/v1/play",
            data=json.dumps({"events": [], "actions": []}).encode(),
        )) == 400
        # zap-style runtime log level (file.d.go:347)
        lvl = json.loads(
            urllib.request.urlopen(f"{base}/log/level", timeout=30).read())
        assert "level" in lvl
        logger = logging.getLogger("file_d_spark")
        old_level = logger.level
        try:
            resp = json.loads(urllib.request.urlopen(urllib.request.Request(
                f"{base}/log/level", data=b'{"level": "debug"}',
                method="PUT"), timeout=30).read())
            assert resp == {"level": "debug"}
            assert logger.level == logging.DEBUG
            assert _status(urllib.request.Request(
                f"{base}/log/level", data=b'{"level": "nope"}',
                method="PUT")) == 400
        finally:
            logger.setLevel(old_level)
        # stopping flips /ready to 503 (file.d.go:388-398)
        state["stopping"] = True
        assert _status(f"{base}/ready") == 503
        # live stays green during drain
        assert _status(f"{base}/live") == 200
    finally:
        srv.shutdown()


def test_metrics_counter_counts_batches_past_recent_progress(tmp_path, spark):
    """More batches than ``spark.sql.streaming.numRecentProgressUpdates``
    keeps, with no scrape in between: the /metrics counter must still
    equal the rows the sink received.  A fold over ``recentProgress``
    at scrape time sees only the batches still held there.  (The noop
    sink counts its rows; the file sink reports -1.)"""
    from file_d_spark import Pipeline

    src = tmp_path / "in"
    src.mkdir()
    for i in range(8):
        _write(src / f"part{i}.jsonl", "\n".join(
            json.dumps({"n": i * 5 + j}) for j in range(5)
        ))
    pipelines = Pipeline.all_from_yaml(f"""
pipelines:
  demo:
    settings:
      decoder: json
      decoder_params: {{schema: "n long"}}
    input:
      type: file
      path: {src}
      filename_pattern: "*.jsonl"
      max_files_per_trigger: 1
    actions:
      - type: discard
        do_if: {{op: int_val_cmp, field: n, cmp_op: lt, value: 10}}
    output:
      type: devnull
""")
    ring = ProgressRing()
    spark.streams.addListener(ring)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "3")
    srv = None
    try:
        queries = Pipeline.run_all_streams(
            pipelines, spark, str(tmp_path / "ck")
        )
        q = queries["demo"]
        q.awaitTermination(120)
        assert len(q.recentProgress) < 8  # the 8 batches no longer fit
        written = 40 - 10  # n = 0..39, the discard drops n < 10
        srv = serve_control_plane(
            spark, queries, ring, {"stopping": False}, "127.0.0.1", 0
        )
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        # listener delivery is asynchronous
        deadline = time.time() + 30
        while _scrape_total(base, "demo") < written and time.time() < deadline:
            time.sleep(0.2)
        assert _scrape_total(base, "demo") == written
    finally:
        if srv is not None:
            srv.shutdown()
        spark.conf.unset("spark.sql.streaming.numRecentProgressUpdates")
        spark.streams.removeListener(ring)


def test_pprof_endpoints(spark):
    """Python-runtime pprof analogues on the daemon mux
    (fd/file.d.go:327-373): thread dump, sampled profile (folded
    stacks), heap stats, cmdline, freeosmem."""
    srv = serve_control_plane(spark, {}, ProgressRing(), {"stopping": False},
                              "127.0.0.1", 0)
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        idx = json.loads(
            urllib.request.urlopen(f"{base}/debug/pprof", timeout=30).read())
        assert "/debug/pprof/threads" in idx["profiles"]
        cmd = urllib.request.urlopen(
            f"{base}/debug/pprof/cmdline", timeout=30).read().decode()
        assert "python" in cmd or "pytest" in cmd
        threads = urllib.request.urlopen(
            f"{base}/debug/pprof/threads", timeout=30).read().decode()
        assert "thread " in threads and "File " in threads  # real stacks
        prof = urllib.request.urlopen(
            f"{base}/debug/pprof/profile?seconds=0.2", timeout=30
        ).read().decode()
        # folded-stack lines end with a sample count (may be empty if
        # every other thread was idle in C code, but format must hold)
        for line in prof.splitlines():
            assert line.rsplit(" ", 1)[1].isdigit()
        # a malformed duration is answered, not dropped
        assert _status(f"{base}/debug/pprof/profile?seconds=abc") == 400
        first = urllib.request.urlopen(
            f"{base}/debug/pprof/heap", timeout=30).read().decode()
        second = urllib.request.urlopen(
            f"{base}/debug/pprof/heap", timeout=30).read().decode()
        assert "tracemalloc started" in first or "traced current=" in first
        assert "traced current=" in second
        freed = json.loads(urllib.request.urlopen(
            f"{base}/freeosmem", timeout=30).read())
        assert "collected" in freed
    finally:
        srv.shutdown()
        import tracemalloc

        tracemalloc.stop()


def test_daemon_sigterm_graceful(tmp_path):
    """Real daemon subprocess: serves /ready, stops cleanly on SIGTERM
    (file.d.go main: signal handler -> pipeline stop -> exit 0)."""
    import signal
    import subprocess
    import sys

    src = tmp_path / "in"
    src.mkdir()
    _write(src / "e.jsonl", json.dumps({"level": "info", "message": "m"}))
    cfg = _write(tmp_path / "fd.yaml", f"""
pipelines:
  demo:
    settings:
      decoder: json
      decoder_params: {{schema: "level string, message string"}}
    input:
      type: file
      path: {src}
      filename_pattern: "*.jsonl"
    output:
      type: file
      path: {tmp_path}/out
      format: json
""")
    proc = subprocess.Popen(
        [sys.executable, "-m", "file_d_spark",
         "--config", str(cfg),
         "--checkpoint-root", str(tmp_path / "ck"),
         "--http", "127.0.0.1:0", "--cpus", "2"],
        env={**os.environ, "PYTHONPATH": _REPO},
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
    )
    try:
        # the daemon binds an ephemeral port; poll until the stream is
        # running (output dir appears), then signal
        deadline = time.time() + 120
        while time.time() < deadline and not (tmp_path / "out").exists():
            if proc.poll() is not None:
                raise AssertionError(
                    proc.stdout.read().decode(errors="replace")[-2000:])
            time.sleep(0.5)
        proc.send_signal(signal.SIGTERM)
        rc = proc.wait(timeout=120)
        assert rc == 0, proc.stdout.read().decode(errors="replace")[-2000:]
    finally:
        if proc.poll() is None:
            proc.kill()


def test_control_plane_reset_endpoint(tmp_path, spark):
    """POST /pipelines/<name>/0/reset drops a TailResetter request file
    (resetter.go:34-43) for tail-file pipelines; others 404."""
    from file_d_spark import Pipeline
    from file_d_spark.__main__ import build_resetters

    cfg = f"""
pipelines:
  tailed:
    input:
      type: file
      tail: true
      path: {tmp_path}/logs
      reset_dir: {tmp_path}/resets
    output: {{type: devnull}}
  plain:
    input: {{type: fake}}
    output: {{type: devnull}}
"""
    pipelines = Pipeline.all_from_yaml(cfg)
    resetters = build_resetters(pipelines)
    assert sorted(resetters) == ["tailed"]

    srv = serve_control_plane(
        spark, {}, ProgressRing(), {"stopping": False}, "127.0.0.1", 0,
        resetters=resetters,
    )
    try:
        port = srv.server_address[1]
        resp = json.loads(urllib.request.urlopen(urllib.request.Request(
            f"http://127.0.0.1:{port}/pipelines/tailed/0/reset",
            data=b'{"file": "/var/log/app.log"}',
        ), timeout=30).read())
        assert resp["status"] == "ok"
        reqs = os.listdir(tmp_path / "resets")
        assert len(reqs) == 1
        body = json.loads((tmp_path / "resets" / reqs[0]).read_text())
        assert body == {"file": "/var/log/app.log"}
        # an empty body resets every tracked file (resetter.go:75)
        resp = json.loads(urllib.request.urlopen(urllib.request.Request(
            f"http://127.0.0.1:{port}/pipelines/tailed/0/reset",
            data=b"{}",
        ), timeout=30).read())
        assert resp["status"] == "ok"
        assert len(os.listdir(tmp_path / "resets")) == 2
        assert json.loads(open(resp["request"]).read()) == {}
        assert _status(urllib.request.Request(
            f"http://127.0.0.1:{port}/pipelines/plain/0/reset",
            data=b"{}")) == 404
    finally:
        srv.shutdown()


def test_main_once_multiple_pipelines(tmp_path, spark):
    """Two pipelines in one config drain concurrently to separate sinks
    (the reference runs all configured pipelines side by side,
    fd/file.d.go:78-86)."""
    for name in ("p1", "p2"):
        (tmp_path / name).mkdir()
        _write(tmp_path / name / "e.jsonl", "\n".join(
            json.dumps({"n": i, "src": name}) for i in range(5)))
    cfg = _write(tmp_path / "fd.yaml", f"""
pipelines:
  p1:
    settings:
      decoder: json
      decoder_params: {{schema: "n long, src string"}}
    input: {{type: file, path: {tmp_path}/p1, filename_pattern: "*.jsonl"}}
    actions:
      - {{type: discard, do_if: {{op: int_val_cmp, field: n, cmp_op: ge, value: 3}}}}
    output: {{type: file, path: {tmp_path}/out1, format: json}}
  p2:
    settings:
      decoder: json
      decoder_params: {{schema: "n long, src string"}}
    input: {{type: file, path: {tmp_path}/p2, filename_pattern: "*.jsonl"}}
    output: {{type: file, path: {tmp_path}/out2, format: json}}
""")
    rc = main([
        "--config", str(cfg), "--checkpoint-root", str(tmp_path / "ck"),
        "--http", "off", "--once", "--cpus", "4",
    ])
    assert rc == 0

    def rows(d):
        out = []
        for root, _dirs, files in os.walk(d):
            for f in files:
                if f.endswith(".json"):
                    with open(os.path.join(root, f)) as fh:
                        out += [json.loads(l) for l in fh if l.strip()]
        return out

    r1, r2 = rows(tmp_path / "out1"), rows(tmp_path / "out2")
    assert sorted(r["n"] for r in r1) == [0, 1, 2]      # gated
    assert sorted(r["n"] for r in r2) == [0, 1, 2, 3, 4]  # full
    assert {r["src"] for r in r1} == {"p1"} and {r["src"] for r in r2} == {"p2"}
