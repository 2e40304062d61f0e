"""Pipeline introspection: the reference's per-action counters and
samples re-expressed for a lazy engine, as a Python API.

file.d serves, per pipeline action, ``/info`` (received / discarded /
passed counters) and ``/sample`` (one event captured before and after
the action), plus the antispam ``/ban_list``
(/root/reference/pipeline/pipeline.go:959-1033).  file.d counts live
traffic; a Spark pipeline is a lazy plan, so the inspector records the
intermediate frame at every action boundary of the effective chain
(:meth:`file_d_spark.Pipeline.actions`, settings-level antispam
included) and answers each query with a bounded job against it
(counts and limit-1 samples).  The playground (``playground.play``,
also served as ``POST /api/v1/play`` by the daemon's control plane)
runs through it.  Streaming counters come from
:class:`file_d_spark.metrics.ProgressRing` instead — progress events
of the running queries, read by the daemon's ``/metrics``.

    insp = PipelineInspector(pipeline, df)
    insp.result                # final frame, same as pipeline.apply(df)
    insp.info(0)               # [{'status': 'received', 'count': ...}, ...]
    insp.sample(0)             # {'before': {...}, 'after': {...}}
    insp.ban_list()            # [{'action': 0, 'source': ...}, ...]
    insp.prometheus()          # file_d-namespaced scrape text
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame

from file_d_spark.actions import build_action


class PipelineInspector:
    def __init__(self, pipeline, df: DataFrame):
        self.plan = pipeline.plan
        self.actions = pipeline.actions()
        self.frames: list[DataFrame] = [df]
        self.action_types: list[str] = []
        cur = df
        for cfg in self.actions:
            cur = build_action(cfg).apply(cur)
            self.action_types.append(cfg.get("type", "?"))
            self.frames.append(cur)
        self.result = cur

    # -- /info ----------------------------------------------------------
    def info(self, action_index: int) -> list[dict[str, Any]]:
        """Counters for one action, reference statuses: received /
        discarded / passed (pipeline.go:967-996)."""
        received = self.frames[action_index].count()
        passed = self.frames[action_index + 1].count()
        return [
            {"status": "received", "count": received},
            {"status": "discarded", "count": max(received - passed, 0)},
            {"status": "passed", "count": passed},
        ]

    # -- /sample --------------------------------------------------------
    def sample(self, action_index: int) -> dict[str, Any]:
        """One event before and after the action — bounded limit(1)
        jobs (the reference watches a live processor; a lazy engine
        re-derives the same view from the recorded frames)."""

        def first_row(df: DataFrame):
            rows = df.limit(1).collect()
            return rows[0].asDict(recursive=True) if rows else None

        return {
            "before": first_row(self.frames[action_index]),
            "after": first_row(self.frames[action_index + 1]),
        }

    # -- /ban_list ------------------------------------------------------
    def ban_list(self) -> list[dict[str, Any]]:
        """Sources an antispam action banned: those with events in its
        input frame that are missing from its output frame, so the
        action's own exceptions and rules decide (antispammer.go:24-120
        exposes the live ban map)."""
        from file_d_spark.fields import get_col_safe, parse_selector

        out: list[dict[str, Any]] = []
        for i, cfg in enumerate(self.actions):
            if cfg.get("type") != "antispam":
                continue
            sel = parse_selector(cfg.get("source_field", "source_name"))
            before, after = (
                f.select(get_col_safe(sel, f.schema).cast("string").alias("s"))
                for f in self.frames[i : i + 2]
            )
            banned = before.exceptAll(after).distinct().orderBy("s").collect()
            out.extend({"action": i, "source": r.s} for r in banned)
        return out

    # -- /metrics -------------------------------------------------------
    def prometheus(self) -> str:
        """Prometheus scrape body: pipeline input/output totals plus
        per-action received/discarded/passed counters, all under the
        reference's ``file_d`` namespace (fd/file.d.go:343-345,
        pipeline.go:263-266 for the metric names).  The reference
        counts live traffic; a lazy engine re-derives each sample with
        bounded count jobs at scrape time."""
        from file_d_spark.metrics import PromRegistry

        reg = PromRegistry()
        reg.counter(
            "input_plugin_events_count_total",
            "Count of events on pipeline input",
        )
        reg.counter(
            "output_plugin_events_count_total",
            "Count of events on pipeline output",
        )
        reg.counter(
            "action_events_count_total",
            "Per-action event counts by status",
        )
        name = self.plan.name
        counts = [f.count() for f in self.frames]
        reg.inc(
            "input_plugin_events_count_total", counts[0], pipeline=name
        )
        reg.inc(
            "output_plugin_events_count_total", counts[-1], pipeline=name
        )
        for i, typ in enumerate(self.action_types):
            received, passed = counts[i], counts[i + 1]
            labels = {"pipeline": name, "action": f"{i}_{typ}"}
            reg.inc("action_events_count_total", received,
                    status="received", **labels)
            reg.inc("action_events_count_total", max(received - passed, 0),
                    status="discarded", **labels)
            reg.inc("action_events_count_total", passed,
                    status="passed", **labels)
        self._custom_action_metrics(reg)
        return reg.render()

    def _custom_action_metrics(self, reg) -> None:
        """Per-action custom counters: an action configured with
        ``metric_name`` (+ optional ``metric_labels`` whose values come
        from event fields, absent -> "not_set"; ``metric_skip_status``
        drops the status label and the received series) emits
        ``<metric_name>_events_count_total`` and ``_events_size_total``
        (pipeline.go:683-716 AddAction, processor.go:300-330; size =
        serialized event bytes).  A lazy engine re-derives each label
        combination's received/passed counts from the recorded frames —
        one bounded groupBy per scrape, label cardinality is the
        operator's responsibility like any Prometheus label."""
        from pyspark.sql import functions as F

        from file_d_spark.fields import get_col_safe, parse_selector

        for i, cfg in enumerate(self.actions):
            mname = cfg.get("metric_name")
            if not mname:
                continue
            mlabels = list(cfg.get("metric_labels") or [])
            skip_status = bool(cfg.get("metric_skip_status", False))
            cname = f"{mname}_events_count_total"
            sname = f"{mname}_events_size_total"
            reg.counter(cname, f"how many events processed by action #{i}")
            reg.counter(sname, f"total size of events processed by action #{i}")

            def grouped(df):
                cols = [
                    F.coalesce(
                        get_col_safe(parse_selector(l), df.schema).cast("string"),
                        F.lit("not_set"),
                    ).alias(f"__l{j}__")
                    for j, l in enumerate(mlabels)
                ]
                size = F.octet_length(
                    F.to_json(F.struct(*[F.col(c) for c in df.columns]))
                )
                rows = (
                    df.select(*cols, size.alias("__sz__"))
                    .groupBy(*[f"__l{j}__" for j in range(len(mlabels))])
                    .agg(
                        F.count(F.lit(1)).alias("__n__"),
                        F.sum("__sz__").alias("__s__"),
                    )
                    .collect()
                )
                return {
                    tuple(r[f"__l{j}__"] for j in range(len(mlabels))):
                        (r["__n__"], r["__s__"])
                    for r in rows
                }

            recv = grouped(self.frames[i])
            passed = grouped(self.frames[i + 1])
            for key in sorted(set(recv) | set(passed)):
                lab = dict(zip(mlabels, key))
                rn, rs = recv.get(key, (0, 0))
                pn, ps = passed.get(key, (0, 0))
                if skip_status:
                    # reference: received not recorded, status label
                    # dropped — the counter totals discarded + passed
                    reg.inc(cname, max(rn - pn, 0) + pn, **lab)
                    reg.inc(sname, max(rs - ps, 0) + ps, **lab)
                    continue
                reg.inc(cname, rn, status="received", **lab)
                reg.inc(sname, rs, status="received", **lab)
                reg.inc(cname, max(rn - pn, 0), status="discarded", **lab)
                reg.inc(sname, max(rs - ps, 0), status="discarded", **lab)
                reg.inc(cname, pn, status="passed", **lab)
                reg.inc(sname, ps, status="passed", **lab)

        # per-mask applied metrics (mask.go:256, metrics.go
        # applyMaskMetric): masks carrying applied_metric_name count
        # the events they fired on, labelled from event fields
        # ("not_set" when absent).  The lazy engine reads the fired
        # evidence from the mask's applied_field in the recorded
        # OUTPUT frame, so the metric requires applied_field —
        # enforced at registration (a silent no-metric is worse).
        for i, cfg in enumerate(self.actions):
            if cfg.get("type") != "mask":
                continue
            for m in cfg.get("masks", []):
                aname = m.get("applied_metric_name")
                if not aname:
                    continue
                if not m.get("applied_field"):
                    raise ValueError(
                        "mask applied_metric_name requires applied_field"
                        " (the lazy metrics engine derives the counter"
                        " from it)"
                    )
                alabels = list(m.get("applied_metric_labels") or [])
                reg.counter(aname, "mask applied counter")
                df = self.frames[i + 1]
                cols = [
                    F.coalesce(
                        get_col_safe(parse_selector(l), df.schema).cast(
                            "string"
                        ),
                        F.lit("not_set"),
                    ).alias(f"__l{j}__")
                    for j, l in enumerate(alabels)
                ]
                fired = get_col_safe(
                    parse_selector(m["applied_field"]), df.schema
                )
                rows = (
                    df.filter(fired.isNotNull())
                    .select(*cols)
                    .groupBy(*[f"__l{j}__" for j in range(len(alabels))])
                    .agg(F.count(F.lit(1)).alias("__n__"))
                    .collect()
                )
                for r in rows:
                    lab = {
                        l: r[f"__l{j}__"] for j, l in enumerate(alabels)
                    }
                    reg.inc(aname, r["__n__"], **lab)
