"""Observability: streaming progress, Prometheus text and the debug
action's sample log.

The reference exposes /info action counters and /sample endpoints per
pipeline (/root/reference/pipeline/pipeline.go:959-1033) plus
Prometheus metrics.  Spark-side equivalents:

  * :class:`ProgressRing`, a StreamingQueryListener collecting
    per-batch progress (rows, batch durations, state size and any
    ``observedMetrics`` a query defines) into an in-memory ring plus
    running totals — the source of the daemon's /metrics counters;
  * :class:`PromRegistry`, the text exposition the daemon's /metrics
    and :meth:`~file_d_spark.introspect.PipelineInspector.prometheus`
    render;
  * :func:`debug_log`, the logger the debug action writes its samples
    to.
"""

from __future__ import annotations

import collections
import json
import threading
from typing import Any

from pyspark.sql.streaming import StreamingQueryListener


_log = __import__("logging").getLogger("file_d_spark.debug")


def debug_log(message: str, event: dict) -> None:
    """One sampled event of the debug action, logged like the
    reference's zap-sampled stderr line."""
    _log.info("%s: %s", message, json.dumps(event, default=str))


class ProgressRing(StreamingQueryListener):
    """Per-query streaming progress — the /info endpoint analogue and
    the source of the daemon's /metrics counters.  Attach with
    ``spark.streams.addListener(ring)`` before the queries start.

    ``last`` reads a ring of the last ``capacity`` progress records.
    ``totals`` reads running sums that every progress event adds to
    exactly once, so they cover every batch reported since the
    listener was attached, however many have left the ring (or the
    query's own ``recentProgress``).  Totals are keyed by query id,
    which persists in the checkpoint: a restarted query keeps adding
    to the same totals, so they never decrease."""

    def __init__(self, capacity: int = 64):
        self.capacity = capacity
        self.progress: dict[str, collections.deque] = {}
        self._totals: dict[str, dict] = {}
        # listener callbacks and endpoint readers run on different threads
        self._lock = threading.Lock()

    # StreamingQueryListener interface
    def onQueryStarted(self, event: Any) -> None:
        pass

    def onQueryProgress(self, event: Any) -> None:
        p = json.loads(event.progress.json)
        qid = str(p["id"])
        with self._lock:
            self.progress.setdefault(
                qid, collections.deque(maxlen=self.capacity)
            ).append(p)
            t = self._totals.setdefault(qid, _no_totals())
            t["numInputRows"] += p.get("numInputRows") or 0
            # a sink that does not count its rows reports -1
            t["numOutputRows"] += max(
                0, (p.get("sink") or {}).get("numOutputRows") or 0
            )
            for name, metrics in (p.get("observedMetrics") or {}).items():
                acc = t["observedMetrics"].setdefault(name, {})
                for k, v in metrics.items():
                    if isinstance(v, (int, float)):
                        acc[k] = acc.get(k, 0) + v

    def onQueryIdle(self, event: Any) -> None:
        pass

    def onQueryTerminated(self, event: Any) -> None:
        pass

    # info-endpoint-style accessors
    def last(self, query_id: str) -> dict | None:
        with self._lock:
            ring = self.progress.get(str(query_id))
            return ring[-1] if ring else None

    def totals(self, query_id: str) -> dict:
        with self._lock:
            t = self._totals.get(str(query_id)) or _no_totals()
            obs = {k: dict(v) for k, v in t["observedMetrics"].items()}
            return {**t, "observedMetrics": obs}


def _no_totals() -> dict:
    return {"numInputRows": 0, "numOutputRows": 0, "observedMetrics": {}}


# ---------------------------------------------------------------------------
# Prometheus text exposition
# ---------------------------------------------------------------------------

PROM_NAMESPACE = "file_d"  # reference: metric/controller.go:11


def _escape_label(v: str) -> str:
    return str(v).replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")


class PromRegistry:
    """Minimal Prometheus registry rendering text exposition format
    0.0.4 — the scrape surface an operator points monitoring at
    (reference: fd/file.d.go:343-345 mounts promhttp on /metrics; all
    metrics live under the ``file_d`` namespace,
    metric/controller.go:11,63)."""

    def __init__(self, namespace: str = PROM_NAMESPACE):
        self.namespace = namespace
        # name -> (help, type, {labels_tuple: value}); insertion order
        self._metrics: dict[str, tuple[str, str, dict]] = {}

    def _full(self, name: str) -> str:
        return f"{self.namespace}_{name}" if self.namespace else name

    def counter(self, name: str, help_text: str = "") -> None:
        self._metrics.setdefault(self._full(name), (help_text, "counter", {}))

    def gauge(self, name: str, help_text: str = "") -> None:
        self._metrics.setdefault(self._full(name), (help_text, "gauge", {}))

    def inc(self, name: str, value: float = 1, /, **labels) -> None:
        full = self._full(name)
        if full not in self._metrics:
            self.counter(name)
        series = self._metrics[full][2]
        key = tuple(sorted(labels.items()))
        series[key] = series.get(key, 0) + value

    def set(self, name: str, value: float, /, **labels) -> None:
        full = self._full(name)
        if full not in self._metrics:
            self.gauge(name)
        self._metrics[full][2][tuple(sorted(labels.items()))] = value

    def render(self) -> str:
        out = []
        for name, (help_text, typ, series) in self._metrics.items():
            if help_text:
                out.append(f"# HELP {name} {help_text}")
            out.append(f"# TYPE {name} {typ}")
            for key, value in sorted(series.items()):
                label_s = ",".join(
                    f'{k}="{_escape_label(v)}"' for k, v in key
                )
                v = int(value) if float(value).is_integer() else value
                out.append(f"{name}{{{label_s}}} {v}" if label_s else f"{name} {v}")
        return "\n".join(out) + "\n"
