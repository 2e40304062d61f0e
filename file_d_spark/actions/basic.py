"""Simple actions: discard, add_host, add_file_name, set_time, debug.

Reference cites:
  discard        /root/reference/plugin/action/discard/discard.go:26,45
  add_host       /root/reference/plugin/action/add_host/add_host.go:22,53
  add_file_name  /root/reference/plugin/action/add_file_name/add_file_name.go:20,51
  set_time       /root/reference/plugin/action/set_time/set_time.go:21,66
  debug          /root/reference/plugin/action/debug/debug.go:46,83
"""

from __future__ import annotations

import socket

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from file_d_spark import xtime
from file_d_spark.actions.base import Action, register
from file_d_spark.fields import get_col_safe, parse_selector


@register("discard")
class Discard(Action):
    """Drop matched events — the filter operator.  Selection lives
    entirely in the gate; an ungated discard drops everything."""

    def apply(self, df: DataFrame) -> DataFrame:  # custom gate handling
        pred = self.gate(df)
        if pred is None:
            return df.limit(0)
        # keep rows that do NOT match (NULL predicate = no match = keep)
        return df.filter(~F.coalesce(pred, F.lit(False)))

    def apply_impl(self, df: DataFrame, pred: Column | None) -> DataFrame:
        raise AssertionError("unreachable")


@register("add_host")
class AddHost(Action):
    """Add the hostname into ``field`` (default ``host``).  The
    hostname is a driver-side constant — in a real cluster the
    reference's semantics is "host that ingested the record", which
    for Spark is the driver/app identity, not per-executor.  ``field``
    is a literal root name (add_host.go:53 adds one unparsed segment;
    contrast add_file_name, whose field IS a parsed selector)."""

    def apply_impl(self, df: DataFrame, pred: Column | None) -> DataFrame:
        field = [self.params.get("field", "host")]
        return self.set_gated(df, field, F.lit(socket.gethostname()), pred)


@register("add_file_name")
class AddFileName(Action):
    """Add the source filename into ``field``.  Uses the file-source
    metadata column when reading files; falls back to any existing
    ``_source_name`` column set by a source builder."""

    def apply_impl(self, df: DataFrame, pred: Column | None) -> DataFrame:
        field = parse_selector(self.params.get("field", "file_name"))
        if "_source_name" in df.columns:
            src = F.col("_source_name")
        else:
            src = F.input_file_name()
        return self.set_gated(df, field, src, pred)


# set_time accepts legacy timestamp* format names for backward
# compatibility, exactly like set_time.go:81-86
_SET_TIME_LEGACY = {
    "timestampmilli": "unixtimemilli",
    "timestampmicro": "unixtimemicro",
    "timestampnano": "unixtimenano",
}


@register("set_time")
class SetTime(Action):
    """Write the current time into ``field`` rendered with ``format``
    (alias or Go layout; ``unix*``/legacy ``timestamp*`` variants yield
    numbers).  With ``override: false`` an existing field is kept.

    ``field`` is a LITERAL root name — the reference digs one segment
    without selector parsing (set_time.go:72: ``Root.Dig(field)``), so
    ``a.b.c`` creates a root field named ``a.b.c``, not a nested path.
    ``now`` (rfc3339 string) pins the clock for deterministic
    backfills/replays; it mirrors the injected ``t`` of the reference's
    inner ``do(event, t)`` (set_time.go:70)."""

    def apply_impl(self, df: DataFrame, pred: Column | None) -> DataFrame:
        field = [self.params.get("field", "time")]
        fmt = self.params.get("format", "rfc3339nano")
        fmt = _SET_TIME_LEGACY.get(str(fmt).strip().lower(), fmt)
        override = self.params.get("override", True)
        now = self.params.get("now")
        clock = (
            xtime.parse_time(F.lit(str(now)), "rfc3339nano")
            if now is not None
            else F.current_timestamp()
        )
        value = xtime.format_time(clock, fmt)
        if not override:
            # existing value wins; compare as strings to keep one type
            old = get_col_safe(field, df.schema)
            value = F.coalesce(old.cast("string"), value.cast("string"))
        return self.set_gated(df, field, value, pred)


@register("debug")
class Debug(Action):
    """Log passthrough with the reference's zap-sampler semantics
    (debug.go:46,83): per ``interval`` window, the first ``first``
    events log as-is, then every ``thereafter``-th.  Events always
    pass through.

    Spark-side the sampled subset is written to the driver log via
    :func:`file_d_spark.metrics.debug_log` when ``collect: true``
    (batch only — an extra bounded job); otherwise the action is a
    plain passthrough, keeping the plan free of driver round-trips."""

    def sample_predicate(self, df: DataFrame) -> Column:
        """would-log decision per row: rank events in arrival order
        within each interval bucket and apply first/thereafter."""
        from pyspark.sql import Window

        first = int(self.params.get("first", 0) or 0)
        thereafter = int(self.params.get("thereafter", 0) or 0)
        if first <= 0 and thereafter <= 0:
            return F.lit(True)  # no sampler configured: log everything
        interval_s = None
        if self.params.get("interval"):
            from file_d_spark.xtime import parse_duration_s

            interval_s = parse_duration_s(self.params["interval"])
        time_field = self.params.get("time_field", "")
        if interval_s and time_field and time_field in df.columns:
            bucket = F.floor(
                F.unix_timestamp(F.col(time_field).cast("timestamp"))
                / F.lit(max(interval_s, 0.001))
            )
        else:
            bucket = F.lit(0)  # whole batch = one interval
        order = self.params.get("order_fields") or []
        order_cols = (
            [F.col(c) for c in order] if order else [F.monotonically_increasing_id()]
        )
        rn = F.row_number().over(Window.partitionBy(bucket).orderBy(*order_cols))
        keep_first = rn <= first
        if thereafter > 0:
            every_mth = (rn > first) & (F.pmod(rn - first, thereafter) == 0)
        else:
            every_mth = F.lit(False)
        return keep_first | every_mth

    def apply_impl(self, df: DataFrame, pred: Column | None) -> DataFrame:
        if not self.params.get("collect") or df.isStreaming:
            return df
        from file_d_spark.metrics import debug_log

        name = self.params.get("message", "event sample")
        cond = pred if pred is not None else F.lit(True)
        would = self.sample_predicate(df) & cond
        cap = int(self.params.get("max_samples", 100))
        sampled = df.withColumn("__fd_log__", would).filter("__fd_log__")
        for row in sampled.drop("__fd_log__").limit(cap).collect():
            debug_log(name, row.asDict(recursive=True))
        return df
