"""PipelinePlan -> DataFrame chain.

The reference executes config order literally with no optimizer
(SURVEY.md §4); here each action contributes Column expressions to one
DataFrame chain and Catalyst does the global optimization (pushdown,
pruning, codegen fusion).  The same compiled chain serves batch
(``apply``) and streaming (``apply`` on a readStream DataFrame — all
scalar actions are stateless projections, so they transfer verbatim).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from file_d_spark.actions import build_action
from file_d_spark.config import PipelinePlan, load_config


def apply_input_guards(df: DataFrame, plan: PipelinePlan, line_col: str) -> DataFrame:
    """Engine-level guards on the raw input line, before decoding:
    max_event_size drop/cutoff (reference pipeline/pipeline.go:553-580)."""
    s = plan.settings
    if not s.max_event_size:
        return df
    raw = F.col(line_col).cast("string")
    too_big = F.octet_length(raw) > s.max_event_size
    if not s.cut_off_event_by_limit:
        return df.filter(~too_big)
    # byte-based trim to match the reference's octet limit:
    # F.substring counts characters, so multi-byte UTF-8 events
    # would exceed max_event_size bytes. Trim the encoded bytes
    # and decode back (a split multi-byte sequence at the cut
    # point yields U+FFFD, matching a hard byte truncation).
    cut = F.make_valid_utf8(
        F.substring(F.encode(raw, "UTF-8"), 1, s.max_event_size).cast("string")
    )
    # one projection: the flag reads the line before the cut
    guarded = {line_col: cut}
    if s.cut_off_event_by_limit_field:
        guarded[s.cut_off_event_by_limit_field] = too_big
    return df.withColumns(guarded)


def compile_actions(df: DataFrame, actions: list[dict[str, Any]]) -> DataFrame:
    """Apply the action chain in config order."""
    for cfg in actions:
        df = build_action(cfg).apply(df)
    return df


class Pipeline:
    """A compiled file.d-style pipeline."""

    def __init__(self, plan: PipelinePlan):
        self.plan = plan

    # -- constructors ---------------------------------------------------
    @classmethod
    def from_yaml(cls, source: str, name: str | None = None) -> "Pipeline":
        plans = load_config(source)
        if name is None:
            if len(plans) != 1:
                raise ValueError(f"config has {len(plans)} pipelines; pass name=")
            name = next(iter(plans))
        return cls(plans[name])

    @classmethod
    def from_dict(cls, d: dict[str, Any], name: str = "pipeline") -> "Pipeline":
        return cls(PipelinePlan.from_dict(name, d))

    @classmethod
    def all_from_yaml(cls, source: str) -> dict[str, "Pipeline"]:
        """Every pipeline in the config, by name — the reference runs
        all configured pipelines side by side (fd/file.d.go:78-86)."""
        return {name: cls(plan) for name, plan in load_config(source).items()}

    @staticmethod
    def run_all_streams(
        pipelines: dict[str, "Pipeline"],
        spark: SparkSession,
        checkpoint_root: str,
        trigger_available_now: bool = True,
    ) -> dict[str, Any]:
        """Start every pipeline's stream concurrently (one Structured
        Streaming query each, isolated checkpoints under
        ``checkpoint_root/<name>``); returns name -> StreamingQuery.
        Spark schedules the queries onto the shared cluster — the
        analogue of the reference's per-pipeline goroutine groups."""
        import os

        return {
            name: p.run_stream(
                spark,
                checkpoint_dir=os.path.join(checkpoint_root, name),
                trigger_available_now=trigger_available_now,
            )
            for name, p in pipelines.items()
        }

    # -- execution --------------------------------------------------------
    def _settings_antispam(self) -> dict | None:
        """Engine-level antispam from pipeline SETTINGS (fd/util.go:
        96-127): ``settings.antispam.{threshold, maintenance_interval,
        rules}`` with the legacy ``antispam_threshold`` fallback and
        ``antispam_exceptions``; a configured threshold is PER SECOND
        and scales by the maintenance interval
        (``antispamThreshold *= interval/second``).  The source
        identity is ``source_name_meta_field`` when set
        (pipeline.go:452-461), else the input's ``_source_name``."""
        from file_d_spark.xtime import parse_duration_s

        s = self.plan.settings
        nested = s.extra.get("antispam") or {}
        # the legacy key counts ONLY when the nested map is absent
        # (util.go:113-115: `if mp == nil` falls back)
        if nested:
            thr = int(nested.get("threshold", -1))
        else:
            thr = int(s.antispam_threshold or -1)
        rules = nested.get("rules")
        exceptions = s.extra.get("antispam_exceptions")
        if thr <= 0 and not rules:
            return None
        interval = nested.get("maintenance_interval", "5s")
        eff = thr * max(1, int(parse_duration_s(interval))) if thr > 0 else thr
        cfg: dict[str, Any] = {
            "type": "antispam",
            "threshold": eff,
            "maintenance_interval": interval,
            "source_field": s.source_name_meta_field or "_source_name",
        }
        # extension: batch frames need an event-time column for the
        # maintenance window (the reference ticks on wall clock)
        time_field = nested.get("time_field") or s.extra.get(
            "antispam_time_field"
        )
        if time_field:
            cfg["time_field"] = time_field
        if rules:
            cfg["rules"] = rules
        if exceptions:
            cfg["exceptions"] = exceptions
        return cfg

    def actions(self) -> list[dict[str, Any]]:
        """The effective action chain: the settings-level antispam, if
        configured, then the configured actions (the reference
        antispams in pipeline.In, BEFORE actions)."""
        antispam_cfg = self._settings_antispam()
        head = [antispam_cfg] if antispam_cfg is not None else []
        return head + list(self.plan.actions)

    def apply(self, df: DataFrame) -> DataFrame:
        """Run the action chain over an existing DataFrame (batch or
        streaming)."""
        return compile_actions(df, self.actions())

    def read(self, spark: SparkSession) -> DataFrame:
        from file_d_spark.sources import build_source

        return build_source(spark, self.plan)

    def run_batch(self, spark: SparkSession) -> DataFrame:
        """source -> actions; returns the final DataFrame (caller picks
        the sink via file_d_spark.sinks or DataFrame.write)."""
        return self.apply(self.read(spark))

    def read_stream(self, spark: SparkSession) -> DataFrame:
        from file_d_spark.sources import build_source

        return build_source(spark, self.plan, streaming=True)

    def run_stream(
        self,
        spark: SparkSession,
        checkpoint_dir: str | None = None,
        trigger_available_now: bool = True,
    ):
        """source -> actions -> streaming sink.  At-least-once delivery
        via checkpointing (the reference's offset-commit loop,
        /root/reference/pipeline/pipeline.go:606-649, maps onto Spark's
        checkpoint/WAL — SURVEY §3.2)."""
        from file_d_spark.sinks import build_stream_sink

        df = self.apply(self.read_stream(spark))
        return build_stream_sink(
            df,
            self.plan,
            checkpoint_dir=checkpoint_dir,
            trigger_available_now=trigger_available_now,
        )

    def write(self, df: DataFrame):
        from file_d_spark.sinks import build_sink

        return build_sink(df, self.plan)
