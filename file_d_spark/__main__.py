"""``python -m file_d_spark`` — the daemon entrypoint.

The reference runs as ``file.d --config config.yaml [--http :9000]``
(/root/reference/cmd/file.d/file.d.go:76-91): load every config file,
start all pipelines, serve the HTTP control plane, stop gracefully on
SIGTERM.  Same surface here: each pipeline becomes one Structured
Streaming query (checkpointed under ``--checkpoint-root/<name>``), and
one HTTP mux serves the whole control plane — /live, /ready (503
while stopping, file.d.go:388-398), /metrics (streaming progress
counters), /log/level, /api/v1/play, /pipelines (per-query streaming
status), POST /pipelines/<name>/0/reset for tail-file inputs, and the
/debug/pprof analogues.  Per-action counters and samples are the
Python API of :class:`file_d_spark.introspect.PipelineInspector`.

``--once`` drains every source with an availableNow trigger and exits
when all queries finish — the batch-backfill mode; without it the
daemon runs until SIGTERM/SIGINT.

Go-runtime knobs of the reference CLI (--mem-limit-ratio,
--disable-fields-caching) have no Spark analogue and are not exposed;
executor memory is the cluster's concern.
"""

from __future__ import annotations

import argparse
import json
import logging
import signal
import sys
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

log = logging.getLogger("file_d_spark.daemon")


def load_pipelines(config_paths: list[str]):
    """Merge the pipelines of every --config file (the reference's
    repeatable --config: later files add pipelines; a duplicate
    pipeline name is a config error)."""
    from file_d_spark import Pipeline

    merged: dict[str, Pipeline] = {}
    for path in config_paths:
        with open(path) as fh:
            for name, p in Pipeline.all_from_yaml(fh.read()).items():
                if name in merged:
                    raise ValueError(
                        f"pipeline {name!r} defined in more than one config"
                    )
                merged[name] = p
    if not merged:
        raise ValueError("no pipelines configured")
    return merged


def build_resetters(pipelines: dict) -> dict:
    """One TailResetter per pipeline whose input is a tail-follow file
    source with a ``reset_dir`` — the reference mounts /reset only for
    file inputs (pipeline.go:294-296, resetter.go)."""
    from file_d_spark.sources.tail_file import TailResetter

    out = {}
    for name, p in pipelines.items():
        cfg = p.plan.input
        if (
            cfg.get("type") == "file"
            and cfg.get("tail")
            and cfg.get("reset_dir")
        ):
            out[name] = TailResetter(cfg["reset_dir"])
    return out


def serve_control_plane(
    spark, queries: dict, ring, state: dict, host: str, port: int,
    resetters: dict | None = None,
):
    """The daemon HTTP mux (file.d.go:327-373): control endpoints plus
    Python-runtime equivalents of the Go pprof handlers — /debug/pprof/
    threads (goroutine-dump analogue), /profile (sampled folded
    stacks), /heap (tracemalloc), /cmdline, and /freeosmem (gc pass).
    The Go-specific mutex/block profile-rate knobs have no Python
    analogue and stay unexposed.  /metrics reads the running totals of
    ``ring``, the :class:`~file_d_spark.metrics.ProgressRing` listening
    to ``queries``.  ``resetters`` (pipeline name -> TailResetter)
    mounts ``POST /pipelines/<name>/0/reset``: body ``{}`` resets every
    tracked file, ``{"inode": N}``, ``{"source_id": N}`` or ``{"file":
    path}`` resets one, at the next micro-batch boundary.  Returns the
    ThreadingHTTPServer (already serving)."""
    resetters = resetters or {}

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def _json(self, payload, code=200):
            body = json.dumps(payload, default=str).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            self.wfile.write(body)

        def _text(self, body: str, code=200):
            data = body.encode()
            self.send_response(code)
            self.send_header("Content-Type", "text/plain; charset=utf-8")
            self.end_headers()
            self.wfile.write(data)

        def do_GET(self):
            try:
                return self._get()
            except Exception as ex:  # answer, never drop the connection
                return self._json({"error": str(ex)}, code=500)

        def _get(self):
            from urllib.parse import parse_qs, urlparse

            url = urlparse(self.path)
            parts = [p for p in url.path.split("/") if p]
            # --- Python-runtime equivalents of the reference's pprof mux
            # (fd/file.d.go:327-373).  Same /debug/pprof/ paths; the
            # payloads are the Python-native formats (thread dumps,
            # folded stack samples, tracemalloc stats) rather than Go
            # pprof protobufs.
            if parts == ["debug", "pprof"]:
                return self._json(
                    {
                        "profiles": [
                            "/debug/pprof/cmdline",
                            "/debug/pprof/threads",
                            "/debug/pprof/profile?seconds=5",
                            "/debug/pprof/heap",
                        ]
                    }
                )
            if parts == ["debug", "pprof", "cmdline"]:
                return self._text("\x00".join(sys.argv))
            if parts == ["debug", "pprof", "threads"]:
                # goroutine-dump analogue: one stack per live thread
                import traceback

                frames = sys._current_frames()
                names = {t.ident: t.name for t in threading.enumerate()}
                out = []
                for ident, frame in frames.items():
                    out.append(
                        f"thread {ident} ({names.get(ident, '?')}):\n"
                        + "".join(traceback.format_stack(frame))
                    )
                return self._text("\n".join(out))
            if parts == ["debug", "pprof", "profile"]:
                # sampling CPU profile: collapse sys._current_frames()
                # samples into flamegraph-ready folded stacks
                import time as _time

                q = parse_qs(url.query)
                try:
                    seconds = min(float(q.get("seconds", ["5"])[0]), 30.0)
                except ValueError as ex:
                    return self._json({"error": str(ex)}, code=400)
                hz = 100
                counts: dict[str, int] = {}
                me = threading.get_ident()
                deadline = _time.monotonic() + seconds
                while _time.monotonic() < deadline:
                    for ident, frame in sys._current_frames().items():
                        if ident == me:
                            continue
                        stack = []
                        f = frame
                        while f is not None:
                            code = f.f_code
                            stack.append(
                                f"{code.co_name} ({code.co_filename}:"
                                f"{f.f_lineno})"
                            )
                            f = f.f_back
                        key = ";".join(reversed(stack))
                        counts[key] = counts.get(key, 0) + 1
                    _time.sleep(1.0 / hz)
                folded = "\n".join(
                    f"{k} {v}"
                    for k, v in sorted(
                        counts.items(), key=lambda kv: -kv[1]
                    )
                )
                return self._text(folded)
            if parts == ["debug", "pprof", "heap"]:
                import tracemalloc

                if not tracemalloc.is_tracing():
                    tracemalloc.start()
                    return self._text(
                        "tracemalloc started; allocation tracking begins"
                        " now — re-request for stats\n"
                    )
                snap = tracemalloc.take_snapshot()
                top = snap.statistics("lineno")[:30]
                cur, peak = tracemalloc.get_traced_memory()
                lines = [f"traced current={cur} peak={peak}"]
                lines += [str(s) for s in top]
                return self._text("\n".join(lines))
            if parts == ["freeosmem"]:
                import gc

                freed = gc.collect()
                return self._json({"collected": freed})
            if parts == ["live"]:
                return self._json({})
            if parts == ["ready"]:
                if state.get("stopping"):
                    return self.send_error(503)
                return self._json({})
            if parts == ["log", "level"]:
                lvl = logging.getLogger("file_d_spark")
                return self._json(
                    {"level": logging.getLevelName(lvl.getEffectiveLevel()).lower()}
                )
            if parts == ["metrics"]:
                from file_d_spark.metrics import PromRegistry

                reg = PromRegistry()
                reg.counter(
                    "output_plugin_events_count_total",
                    "Rows written per pipeline (streaming progress)",
                )
                for name, q in queries.items():
                    reg.inc(
                        "output_plugin_events_count_total",
                        ring.totals(q.id)["numOutputRows"],
                        pipeline=name,
                    )
                body = reg.render().encode()
                self.send_response(200)
                self.send_header(
                    "Content-Type", "text/plain; version=0.0.4; charset=utf-8"
                )
                self.end_headers()
                self.wfile.write(body)
                return
            if parts == ["pipelines"]:
                return self._json(
                    {
                        name: {
                            "active": q.isActive,
                            "status": q.status,
                        }
                        for name, q in queries.items()
                    }
                )
            self.send_error(404)

        def do_PUT(self):
            if [p for p in self.path.split("/") if p] == ["log", "level"]:
                try:
                    length = int(self.headers.get("Content-Length", 0))
                    req = json.loads(self.rfile.read(length) or b"{}")
                    level = str(req["level"]).upper()
                    mapped = {"WARN": "WARNING", "FATAL": "CRITICAL"}.get(
                        level, level
                    )
                    if mapped not in (
                        "DEBUG", "INFO", "WARNING", "ERROR", "CRITICAL",
                    ):
                        raise ValueError(f"unrecognized level: {level}")
                    logging.getLogger("file_d_spark").setLevel(mapped)
                    return self._json({"level": level.lower()})
                except Exception as ex:
                    return self._json({"error": str(ex)}, code=400)
            self.send_error(404)

        def do_POST(self):
            parts = [p for p in self.path.split("/") if p]
            if parts == ["api", "v1", "play"]:
                from file_d_spark.playground import parse_request, play

                try:
                    length = int(self.headers.get("Content-Length", 0))
                    if length > 1 << 20:
                        return self.send_error(400, "body too large")
                    req = parse_request(self.rfile.read(length))
                    return self._json(play(spark, req))
                except Exception as ex:
                    return self._json({"error": str(ex)}, code=400)
            if (
                len(parts) == 4
                and parts[0] == "pipelines"
                and parts[2:] == ["0", "reset"]
                and parts[1] in resetters
            ):
                # runtime offset resetter (resetter.go:34-43)
                try:
                    length = int(self.headers.get("Content-Length", 0))
                    req = json.loads(self.rfile.read(length) or b"{}")
                    path = resetters[parts[1]].reset(
                        file=req.get("file"),
                        inode=req.get("inode"),
                        source_id=req.get("source_id"),
                    )
                    return self._json({"status": "ok", "request": path})
                except Exception as ex:
                    return self._json({"error": str(ex)}, code=400)
            self.send_error(404)

    srv = ThreadingHTTPServer((host, port), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="python -m file_d_spark",
        description="Run file.d-style pipelines on Spark Structured Streaming",
    )
    ap.add_argument(
        "--config", action="append", required=True,
        help="config file (repeat to merge several, like the reference)",
    )
    ap.add_argument(
        "--http", default="127.0.0.1:9000",
        help='control-plane listen addr "host:port", or "off"',
    )
    ap.add_argument("--checkpoint-root", required=True,
                    help="root directory for per-pipeline checkpoints")
    ap.add_argument("--cpus", type=int, default=None,
                    help="local[N] core count (default: all)")
    ap.add_argument("--once", action="store_true",
                    help="drain available input and exit (availableNow)")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from file_d_spark import Pipeline, get_spark
    from file_d_spark.metrics import ProgressRing

    pipelines = load_pipelines(args.config)
    # embedding (tests, notebooks): reuse a live session and leave it
    # running on exit; standalone daemon: own the session lifecycle
    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark("file_d_spark", cpus=args.cpus)
    state = {"stopping": False}

    # register BEFORE starting streams: a SIGTERM landing during the
    # multi-second query-startup window must still stop the daemon
    # cleanly.  The handler only flips a flag — the main thread must
    # not be deep in a py4j call when the signal lands (a handler that
    # itself calls into the JVM mid-recv is unreliable), so the wait
    # below is a pure-Python sleep loop the signal interrupts cleanly.
    def stop(*_sig):
        state["stopping"] = True

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)

    # the /metrics totals must see every batch, so listen from the start
    ring = ProgressRing()
    spark.streams.addListener(ring)
    queries = Pipeline.run_all_streams(
        pipelines, spark, args.checkpoint_root,
        trigger_available_now=args.once,
    )
    log.info("started %d pipelines: %s", len(queries), sorted(queries))

    srv = None
    if args.http != "off":
        host, _, port = args.http.rpartition(":")
        srv = serve_control_plane(
            spark, queries, ring, state, host or "127.0.0.1", int(port),
            resetters=build_resetters(pipelines),
        )
        log.info("control plane on %s", args.http)

    import time

    try:
        while not state["stopping"] and any(
            q.isActive for q in queries.values()
        ):
            time.sleep(0.5)
        for q in queries.values():
            try:
                q.stop()
            except Exception:
                pass
        for q in queries.values():
            try:
                q.awaitTermination()
            except Exception:
                pass
    finally:
        state["stopping"] = True
        if srv is not None:
            srv.shutdown()
        spark.streams.removeListener(ring)
        if owns_session:
            spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
