"""The stateful shedding actions: throttle, cardinality, antispam.

Reference cites:
  throttle     /root/reference/plugin/action/throttle/throttle.go:60-140,512
               buckets ring /root/reference/plugin/action/throttle/buckets.go:7-33
  cardinality  /root/reference/plugin/action/cardinality/cardinality.go:126-169,259
  antispam     /root/reference/pipeline/antispam/antispammer.go:24-120

Each action builds its helper columns (``__fd_*``: key, gate, rule,
per-event count, threshold, ...) in ONE ``withColumns`` over the input,
then branches on ``df.isStreaming``: a batch frame runs the plans
below, a stream hands the same columns to its keyed state function in
file_d_spark/streaming/stateful.py.  Both modes read one definition of
the gate, the key and the per-event rule, so a do_if gate, throttle
rules and antispam rules and exceptions run the same way in both.

Batch semantics:
  throttle     events are bucketed into tumbling windows of
               ``bucket_interval``; within each (key, bucket) the first
               ``limit`` events in arrival order are admitted, the rest
               dropped.  Events outside the ``buckets_count`` ring
               (vs the newest timestamp, the batch analogue of the
               wall clock) are CLAMPED into the latest bucket and
               counted there (buckets.go:231-235 rebuildBuckets);
               events without a parseable time share one NULL bucket.
               Implemented with a single window — one shuffle on
               (key, bucket), which AQE splits if a key is skewed;
               limit_distribution configs switch to an exact
               sequential replay per (key, bucket, rule) because
               default-reserve stealing is order-dependent: a
               JVM-side generated ``aggregate()`` fold over the
               group's sorted events, with no Python in the plan for
               any schema (maps and variants included).
               ``limiter_backend`` accepts only ``memory``: limits
               are enforced by this application's own limiter.
  cardinality  per-key distinct count of a field; keys over ``limit``
               either drop their events, lose the field, or pass.
  antispam     per-(source, maintenance-window) counts; sources over
               ``threshold`` have their events dropped (exceptions by
               prefix/contains/suffix rules pass).
The streams count event by event; stateful.py names where that differs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from file_d_spark import xtime
from file_d_spark.actions.base import Action, register
from file_d_spark.fields import get_col_safe, parse_selector


def _validate_distribution(dist: dict) -> None:
    """parseLimitDistribution validation (distribution.go:33-90):
    ratios in [0,1], non-empty values, no duplicates, sum <= 1."""
    ratios = dist.get("ratios") or []
    seen: set[str] = set()
    total = 0.0
    for i, r in enumerate(ratios):
        ratio = float(r.get("ratio", -1))
        if ratio < 0 or ratio > 1:
            raise ValueError("'ratio' value must be in range [0.0;1.0]")
        if not r.get("values"):
            raise ValueError(f"empty 'values' in ratio #{i}")
        for v in r["values"]:
            if str(v) in seen:
                raise ValueError(f"value '{v}' is duplicated in 'ratios' list")
            seen.add(str(v))
        total += ratio
    if total > 1 + 1e-9:
        raise ValueError("sum of ratios must be less than or equal to 1")


def _rule_dlims(spec: dict) -> list[int] | None:
    """Per-distribution limits for one rule: [default reserve,
    ratio_1 limit, ..., ratio_m limit] (parseLimitDistribution,
    distribution.go:52-88: each limit = round(ratio * total), the
    default reserve = round(round((1 - sum) * 100) / 100 * total)) —
    or None when the rule has no distribution."""
    d = spec["dist"]
    if not (d.get("field") and d.get("ratios")):
        return None
    ratios = d["ratios"]
    dlims = [round(float(r["ratio"]) * spec["limit"]) for r in ratios]
    def_ratio = round(1 - sum(float(r["ratio"]) for r in ratios), 2)
    return [round(def_ratio * spec["limit"])] + dlims


def _type_unorderable(dt) -> bool:
    """True if the type tree contains a type Catalyst can't order —
    structs with such fields can't go through a plain array_sort, so
    the distribution fold sorts their events with a comparator over
    the order keys instead (``_event_sort_sql``).  A WHITELIST
    mirroring RowOrdering.isOrderable (atomic/null orderable;
    struct/array/UDT recurse; everything else — map, variant,
    calendar-interval, future types — fails CLOSED to the
    comparator) rather than a blacklist that each new unorderable
    type would slip past."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return any(_type_unorderable(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _type_unorderable(dt.elementType)
    if isinstance(dt, T.UserDefinedType):
        return _type_unorderable(dt.sqlType())
    # PySpark classes VariantType under AtomicType even though
    # Catalyst has no ordering for it — carve it out of the whitelist
    variant = getattr(T, "VariantType", None)
    if variant is not None and isinstance(dt, variant):
        return True
    return not isinstance(dt, (T.AtomicType, T.NullType))


def _didx_expr(specs: list[dict], schema, rule: Column) -> Column:
    """Per-row distribution index: 0 = the matched rule's default
    group, j+1 = its ratios[j] (idxByKey semantics), -1 for rules
    without a distribution."""
    didx = F.lit(-1)
    for i, s in enumerate(specs):
        d = s["dist"]
        if not (d.get("field") and d.get("ratios")):
            continue
        field_val = get_col_safe(parse_selector(d["field"]), schema).cast(
            "string"
        )
        idx_expr = F.lit(0)
        for j, r in enumerate(d["ratios"]):
            idx_expr = F.when(
                field_val.isin([str(v) for v in r["values"]]), F.lit(j + 1)
            ).otherwise(idx_expr)
        didx = F.when(rule == i, idx_expr).otherwise(didx)
    return didx


def _counted_expr(specs: list[dict], schema, rule: Column) -> Column:
    """Per-row counted value: 1 for count-kind rules (and size-kind ones
    with no size field), the byte length of the rule's size field for
    size-kind ones — 0 where that field is NULL or absent."""
    counted = F.lit(1)
    for i, s in enumerate(specs):
        if s["kind"] == "size" and s["size_field"]:
            size_col = F.coalesce(
                F.octet_length(
                    get_col_safe(parse_selector(s["size_field"]), schema).cast(
                        "string"
                    )
                ),
                F.lit(0),
            )
            counted = F.when(rule == i, size_col).otherwise(counted)
    return counted


def _dist_fold_sql(spec: dict, evs: str = "__evs__") -> str:
    """One rule's sequential-admission replay (in_memory_limiter.go
    isAllowed + getDistrData) as a Spark SQL ``aggregate()`` fold over
    the sorted event array, generated as SQL text (the
    product_quantize pattern: one expr, no py4j Column-building per
    step).

    Accumulator: (occ array<bigint> — per-distribution bucket
    occupancy, charged by EVERY counted event, admitted or not, like
    the reference's buckets.add-before-check — and kept, the admitted
    events).  A default event over its reserve steals from the
    most-free distribution (ties to the smallest index via
    array_position's first-match, mirroring the reference's strict
    `>` scan); if nothing fits it stays on the default bucket and is
    rejected there.  kept grows only on admission, so the per-step
    array copy is bounded by the CONFIG (≈ sum(dlims) admissions per
    (key, bucket, rule) group), keeping the fold linear in group
    size — with one caveat: size-kind rules count ``octet_length``,
    which is 0 for an empty-string field, and zero-cost events admit
    without consuming budget, so a group flooded with empty-field
    events degrades the kept copy to quadratic (admission results
    stay correct; only the linearity bound weakens)."""
    lim = int(spec["limit"])
    if lim < 0:
        return evs  # negative limit = unlimited: every event admitted
    dlims = _rule_dlims(spec)
    if dlims is None:
        # single running counter — same shape the window path uses,
        # expressed as a fold so every rule shares one CASE branch type
        return (
            f"aggregate({evs}, "
            f"named_struct('occ', CAST(0 AS BIGINT), 'kept', slice({evs}, 1, 0)), "
            "(acc, e) -> named_struct("
            "'occ', acc.occ + e.c, "
            f"'kept', IF(acc.occ + e.c <= {lim}L, "
            "concat(acc.kept, array(e)), acc.kept)), "
            "acc -> acc.kept)"
        )
    m = len(dlims) - 1
    dl_arr = "array(" + ", ".join(f"{v}L" for v in dlims) + ")"
    diffs = ", ".join(
        f"{dlims[j]}L - element_at(acc.occ, {j + 1}) - e.c"
        for j in range(1, m + 1)
    )
    steal = (
        f"transform(array(array({diffs})), ds -> "
        "IF(array_max(ds) >= 0L, "
        "CAST(array_position(ds, array_max(ds)) AS INT), 0))[0]"
    )
    idx = (
        "IF(e.d != 0, e.d, "
        f"IF(element_at(acc.occ, 1) + e.c <= {dlims[0]}L, 0, {steal}))"
    )
    merge = (
        f"transform(array({idx}), ix -> named_struct("
        "'occ', transform(acc.occ, (o, oi) -> IF(oi = ix, o + e.c, o)), "
        f"'kept', IF(element_at(acc.occ, ix + 1) + e.c "
        f"<= element_at({dl_arr}, ix + 1), "
        "concat(acc.kept, array(e)), acc.kept)))[0]"
    )
    init = (
        f"named_struct('occ', array_repeat(CAST(0 AS BIGINT), {m + 1}), "
        f"'kept', slice({evs}, 1, 0))"
    )
    return f"aggregate({evs}, {init}, (acc, e) -> {merge}, acc -> acc.kept)"


def _event_sort_sql(n_order: int, unorderable: bool) -> str:
    """Sort of one group's collected events (``__evs__``, structs of
    ``t``, ``o0..``, ``d``, ``c`` and payload ``p``) into arrival
    order.  Orderable schemas take Catalyst's total struct order,
    whose payload tiebreak makes ties deterministic.  A payload
    Catalyst can't order (maps, variants) is sorted by a comparator
    over the order keys alone — nulls first, as in the struct order —
    and, the sort being stable, keeps ties in collected order."""
    if not unorderable:
        return "array_sort(__evs__)"
    keys = ["t"] + [f"o{i}" for i in range(n_order)] + ["d", "c"]
    whens = " ".join(
        f"WHEN l.{k} IS NULL AND r.{k} IS NOT NULL THEN -1 "
        f"WHEN l.{k} IS NOT NULL AND r.{k} IS NULL THEN 1 "
        f"WHEN l.{k} < r.{k} THEN -1 WHEN l.{k} > r.{k} THEN 1"
        for k in keys
    )
    return f"array_sort(__evs__, (l, r) -> CASE {whens} ELSE 0 END)"


def _check_limiter_backend(backend) -> None:
    """``limiter_backend`` (throttle.go:97-102) selects where limiter
    state lives.  Only ``memory`` is supported: inside one Spark
    application the limiter state is already shared across the
    cluster (the batch window, the streaming state store), and a
    redis backend that only fetched central limits, without
    publishing consumption, would let separate applications overrun
    one shared budget.  The older dict form carried redis options."""
    if isinstance(backend, dict):
        backend = "redis" if backend else None
    if backend == "redis":
        raise ValueError(
            "throttle: limiter_backend 'redis' is not supported; limits "
            "are enforced by this application's in-memory limiter (use "
            "limiter_backend: memory or drop the key)"
        )
    if backend not in (None, "memory"):
        raise ValueError(
            f"limiter_backend must be memory|redis, got {backend!r}"
        )


@register("throttle")
class Throttle(Action):
    def apply_impl(self, df: DataFrame, pred: Column | None) -> DataFrame:
        _check_limiter_backend(self.params.get("limiter_backend"))
        specs, rule_idx, ts = self._rules(df)
        if df.isStreaming and all(s["limit"] < 0 for s in specs):
            return df  # negative limit = unlimited (throttle_test.go:153-181)
        key_field = self.params.get("throttle_field", "")
        bucket_s = xtime.parse_duration_s(self.params.get("bucket_interval", 60))
        buckets_count = int(self.params.get("buckets_count", 60))

        key = (
            get_col_safe(parse_selector(key_field), df.schema).cast("string")
            if key_field
            else F.lit("")
        )
        # micros-based buckets so sub-second intervals (100ms in the
        # reference tests) don't truncate to a zero-width bucket
        bucket_us = max(1, int(bucket_s * 1e6))
        # rows failing the gate bypass the action entirely: always kept,
        # never counted against any limit (processor.go:190-243 semantics)
        match = F.lit(True) if pred is None else pred
        # one projection hop for every helper column, read by the batch
        # plan below and by the stream's state function alike
        helpers = {
            "__fd_key__": key,
            "__fd_bucket__": F.floor(F.unix_micros(ts) / F.lit(bucket_us)),
            "__fd_ts__": ts,
            "__fd_m__": match,
            "__fd_rule__": rule_idx,
            "__fd_cnt__": _counted_expr(specs, df.schema, rule_idx),
            "__fd_didx__": _didx_expr(specs, df.schema, rule_idx),
        }
        df = df.withColumns(helpers)
        if df.isStreaming:
            from file_d_spark.streaming import throttle_stream

            return throttle_stream(
                df,
                buckets_count=buckets_count,
                limiter_expiration_ms=int(
                    xtime.parse_duration_s(
                        self.params.get("limiter_expiration", 1800)
                    )
                    * 1000
                ),
                rule_cfgs=[
                    {"limit": s["limit"], "dlims": _rule_dlims(s)} for s in specs
                ],
            )
        # bucket-ring clamp (buckets.go:231-235 rebuildBuckets: "events
        # from past or future goes to the latest bucket" — they are
        # counted there, NOT dropped).  The batch analogue of the wall
        # clock is the newest event timestamp; the scalar agg +
        # broadcast cross-join avoids a single-partition global window.
        hmax = df.filter(F.col("__fd_m__")).agg(
            F.max("__fd_ts__").alias("__fd_hmax__")
        )
        df = df.crossJoin(F.broadcast(hmax))
        max_bucket = F.floor(F.unix_micros("__fd_hmax__") / F.lit(bucket_us))
        min_bucket = max_bucket - F.lit(int(buckets_count) - 1)
        df = df.withColumn(
            "__fd_bucket__",
            F.when(
                (F.col("__fd_bucket__") < min_bucket)
                | (F.col("__fd_bucket__") > max_bucket),
                max_bucket,
            ).otherwise(F.col("__fd_bucket__")),
        )

        order_fields = list(self.params.get("order_fields", []))
        if any(_rule_dlims(s) is not None for s in specs):
            # distributions have sequential semantics — a default-group
            # event over its reserve STEALS from the most-free
            # distribution at that instant (in_memory_limiter.go
            # getDistrData) — which no window expression can replay.
            # Exact replay per (key, bucket, rule) group; parallelism
            # across groups, faithful sequential replay within one.
            return self._admit_exact(df, specs, order_fields)

        # per-row limit from the matched rule
        limit_col = F.lit(specs[-1]["limit"])
        for i, spec in enumerate(specs):
            limit_col = F.when(
                F.col("__fd_rule__") == i, F.lit(spec["limit"])
            ).otherwise(limit_col)

        # arrival order within a bucket; extra order_fields give a
        # deterministic tiebreak for equal timestamps (batch mode)
        w = Window.partitionBy(
            "__fd_key__", "__fd_bucket__", "__fd_rule__"
        ).orderBy(F.col("__fd_ts__"), *[F.col(c) for c in order_fields])
        running = F.sum(
            F.when(F.col("__fd_m__"), F.col("__fd_cnt__")).otherwise(F.lit(0))
        ).over(w.rowsBetween(Window.unboundedPreceding, 0))
        # a negative limit means unlimited (in_memory_limiter.go:66-69
        # returns true before touching the bucket ring)
        admitted = (limit_col < 0) | (running <= limit_col)
        # window exprs can't live in a WHERE clause — materialize first
        out = (
            df.withColumn("__fd_keep__", ~F.col("__fd_m__") | admitted)
            .filter(F.col("__fd_keep__"))
        )
        return out.drop("__fd_keep__", "__fd_hmax__", *helpers)

    def _rules(self, df: DataFrame):
        """What the batch and streaming paths share: the rule specs,
        the first-matching-rule index and the parsed event time.  A
        size-kind rule counts the bytes of its own ``limit_size_field``,
        else of the top-level one.

        Rules are the config rules in order, then the implicit default
        rule (matches everything) — first match wins, and each rule
        owns its own limiters (throttle.go:117-125,467-475: limiter
        key embeds the rule index, so counting is per (rule, key))."""
        limit = int(self.params.get("default_limit", 5000))
        size_field = self.params.get("limit_size_field", "")
        specs = [
            {
                "limit": int(rcfg.get("limit", limit)),
                "kind": rcfg.get("limit_kind", "count"),
                "size_field": rcfg.get("limit_size_field") or size_field,
                "conditions": rcfg.get("conditions") or {},
                "dist": rcfg.get("limit_distribution") or {},
            }
            for rcfg in self.params.get("rules") or []
        ]
        specs.append(
            {
                "limit": limit,
                "kind": self.params.get("limit_kind", "count"),
                "size_field": size_field,
                "conditions": {},
                "dist": self.params.get("limit_distribution") or {},
            }
        )
        for s in specs:
            if s["dist"].get("field") or s["dist"].get("ratios"):
                _validate_distribution(s["dist"])

        # conditions are an AND field map (rule.go:50-59: string
        # equality per field)
        def rule_cond(conditions: dict) -> Column:
            cond = F.lit(True)
            for fld, val in conditions.items():
                col = get_col_safe(parse_selector(str(fld)), df.schema)
                cond = cond & (col.cast("string") == F.lit(str(val)))
            return cond

        rule_idx = F.lit(len(specs) - 1)
        for i in reversed(range(len(specs) - 1)):
            rule_idx = F.when(rule_cond(specs[i]["conditions"]), F.lit(i)).otherwise(
                rule_idx
            )

        # loud on un-timestampable types; parse failures -> null bucket
        # (never backfill wall clock — see round-2 postmortem).  The
        # stream parses through the same Go-layout machinery
        # (time_field_format, numeric epochs) before its state function.
        time_field = self.params.get("time_field", "time")
        tcol = get_col_safe(parse_selector(time_field), df.schema)
        t = df.schema[time_field].dataType if time_field in df.columns else None
        ts = xtime.ensure_timestamp(
            tcol,
            t,
            self.params.get("time_field_format", "rfc3339nano"),
            context="throttle time_field",
        )
        return specs, rule_idx, ts

    def _admit_exact(self, df, specs, order_fields):
        """Exact distribution replay: the sequential admission of
        in_memory_limiter.isAllowed per (key, bucket, rule) group,
        default-distribution stealing included (getDistrData),
        expressed as ONE generated ``aggregate()`` fold per rule over
        the group's sorted event array — no Python in the plan.

        Scale shape: one shuffle (the groupBy), then a linear
        interpreted fold per group.  Gated rows (do_if mismatch) never
        enter the fold — they bypass the action uncounted
        (processor.go:190-243) and union back at the end — and the
        fold's kept-array growth is config-bounded (≈ sum of the
        rule's distributed limits per group), so the per-step array
        copy never goes quadratic in group size.  The event sort key
        is (ts, *order_fields, didx, cnt) and then the payload, or
        collected order where the payload has no ordering
        (``_event_sort_sql``)."""
        payload_cols = [c for c in df.columns if not c.startswith("__fd_")]
        ev = F.struct(
            F.col("__fd_ts__").alias("t"),
            *[
                get_col_safe(parse_selector(str(c)), df.schema).alias(f"o{i}")
                for i, c in enumerate(order_fields)
            ],
            F.col("__fd_didx__").cast("int").alias("d"),
            F.col("__fd_cnt__").cast("bigint").alias("c"),
            F.struct(*[F.col(c) for c in payload_cols]).alias("p"),
        )
        gated = df.filter(~F.col("__fd_m__")).select(*payload_cols)
        grouped = (
            df.filter(F.col("__fd_m__"))
            .groupBy("__fd_key__", "__fd_bucket__", "__fd_rule__")
            .agg(F.collect_list(ev).alias("__evs__"))
            .withColumn(
                "__evs__",
                F.expr(
                    _event_sort_sql(
                        len(order_fields), _type_unorderable(df.schema)
                    )
                ),
            )
        )
        branches = " ".join(
            f"WHEN __fd_rule__ = {i} THEN ({_dist_fold_sql(s)})"
            for i, s in enumerate(specs)
        )
        out = (
            grouped.select(
                F.explode(F.expr(f"CASE {branches} END")).alias("__e__")
            )
            .select("__e__.p.*")
            .unionByName(gated)
        )
        return out


@register("cardinality")
class Cardinality(Action):
    """Limit per-key distinct values of ``fields``
    (cardinality.go:126-169,259).  ``key`` accepts one selector or a
    list (KeyFields, slice:true); defaults match the reference
    (action: nothing, limit: 10000).

    With ``order_fields`` the batch path replays the reference's
    SEQUENTIAL admission exactly (Do: an event is discarded once the
    key has accumulated ``limit`` distinct values BEFORE it, even if
    its own value is already cached) via two windows.  Without an
    order, batch admission is necessarily order-free: keys whose total
    distinct count reaches the limit have all their events acted on
    (documented divergence — a plain DataFrame has no arrival order)."""

    def apply_impl(self, df: DataFrame, pred: Column | None) -> DataFrame:
        key_cfg = self.params["key"]
        key_fields = [key_cfg] if isinstance(key_cfg, str) else list(key_cfg)
        fields = self.params.get("fields", [])
        limit = int(self.params.get("limit", 10000))
        mode = self.params.get("action", "nothing")
        order_fields = list(self.params.get("order_fields", []))
        if mode == "nothing":
            return df
        # one projection hop for the composite key and value and the
        # gate, read by the batch plans below and by the stream's state
        # function alike; gated rows bypass — excluded from the
        # distinct count and never dropped / field-stripped
        key = F.concat_ws(
            "\x01",
            *[
                F.coalesce(
                    get_col_safe(parse_selector(k), df.schema).cast("string"),
                    F.lit(""),
                )
                for k in key_fields
            ],
        )
        probe = F.concat_ws(
            "\x01",
            *[
                get_col_safe(parse_selector(f), df.schema).cast("string")
                for f in fields
            ],
        )
        match = F.lit(True) if pred is None else pred
        tagged = df.withColumns(
            {"__fd_k__": key, "__fd_v__": probe, "__fd_m__": match}
        )
        if df.isStreaming:
            from file_d_spark.streaming import cardinality_stream

            # config ttl (cardinality.go:29, default 1m) -> the state
            # timeout that forgets an idle key's distinct set; batch
            # runs have no time axis inside one frame, so ttl is a
            # streaming-only knob
            ttl_ms = int(
                xtime.parse_duration_s(self.params.get("ttl", 60)) * 1000
            )
            return cardinality_stream(
                tagged, limit, mode, ttl_ms=ttl_ms, strip_cols=list(fields)
            )
        if order_fields:
            return self._sequential(tagged, limit, mode, order_fields, fields, pred)
        per_key = (
            tagged.filter(F.col("__fd_m__"))
            .groupBy("__fd_k__")
            .agg(F.countDistinct("__fd_v__").alias("__fd_card__"))
            # reference trigger is >= limit (cardinality.go:272)
            .filter(F.col("__fd_card__") >= limit)
            .select("__fd_k__")
        )
        over_limit = F.broadcast(per_key.withColumn("__fd_over__", F.lit(True)))
        helpers = ["__fd_k__", "__fd_v__", "__fd_m__", "__fd_over__"]
        if mode == "discard":
            flagged = tagged.join(over_limit, "__fd_k__", "left")
            out = flagged.filter(~F.col("__fd_m__") | F.col("__fd_over__").isNull())
            return out.drop(*helpers)
        if mode == "remove_fields":
            flagged = tagged.join(over_limit, "__fd_k__", "left")
            for f in fields:
                parts = parse_selector(f)
                old = get_col_safe(parts, df.schema)
                from file_d_spark.fields import set_field

                flagged = set_field(
                    flagged,
                    parts,
                    F.when(~F.col("__fd_m__") | F.col("__fd_over__").isNull(), old),
                )
            return flagged.drop(*helpers)
        return df

    def _sequential(self, tagged, limit, mode, order_fields, fields, pred):
        """Exact replay of cardinality.go Do in event order: an event
        is acted on iff its key accumulated ``limit`` distinct values
        strictly before it.  Two windows — first-occurrence flag per
        (key, value), then a cumulative distinct count per key — both
        shuffle on the key, which is the same partitioning the
        reference's per-key cache implies."""
        seq = [F.col(c) for c in order_fields]
        w_first = Window.partitionBy("__fd_k__", "__fd_v__").orderBy(*seq)
        # only gate-matching rows populate the cache
        first_seen = F.when(
            F.col("__fd_m__")
            & (
                F.row_number().over(w_first) == 1
                if pred is None
                else F.sum(F.col("__fd_m__").cast("int")).over(
                    w_first.rowsBetween(Window.unboundedPreceding, 0)
                )
                == 1
            ),
            F.lit(1),
        ).otherwise(F.lit(0))
        tagged = tagged.withColumn("__fd_new__", first_seen)
        w_cum = (
            Window.partitionBy("__fd_k__")
            .orderBy(*seq)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        distinct_before = F.coalesce(
            F.sum("__fd_new__").over(w_cum), F.lit(0)
        )
        over = F.col("__fd_m__") & (distinct_before >= F.lit(limit))
        tagged = tagged.withColumn("__fd_over__", over)
        helpers = ["__fd_k__", "__fd_v__", "__fd_m__", "__fd_new__", "__fd_over__"]
        if mode == "discard":
            return tagged.filter(~F.col("__fd_over__")).drop(*helpers)
        # remove_fields: strip the counted fields from over-limit events
        from file_d_spark.fields import set_field

        for f in fields:
            parts = parse_selector(f)
            old = get_col_safe(parts, tagged.schema)
            tagged = set_field(
                tagged, parts, F.when(~F.col("__fd_over__"), old)
            )
        return tagged.drop(*helpers)


@register("antispam")
class Antispam(Action):
    """Ban sources emitting more than ``threshold`` events per
    ``maintenance_interval`` window.

    Exceptions (antispammer.go:99-112, rules.go Exception): matchrule
    RuleSets matched against the serialized event — or the source name
    when ``check_source_name`` — that bypass counting and banning.

    Rules (antispammer.go:113-141, rules.go Rule): ordered list of
    ``{name, threshold, do_if}``; the FIRST rule whose do_if matches
    picks the event's threshold — ``-1`` passes unconditionally, ``0``
    blocks unconditionally, ``N`` overrides the default for that event
    (the per-source counter is shared across rules).  Rule do_if trees
    address the pseudo-fields ``event`` (serialized JSON),
    ``source_name`` and ``meta.*`` (rules.go antispamData.Get).  When
    rules are set, exceptions are ignored, like the reference.

    Batch shape: per-(source, window) counts vs the per-event
    threshold — the window-level form of the reference's sequential
    counter, same as the oracle-checked base semantics.
    """

    def apply_impl(self, df: DataFrame, pred: Column | None) -> DataFrame:
        source_field = self.params.get("source_field", "source_name")
        time_field = self.params.get("time_field", "ts")
        threshold = int(self.params.get("threshold", 0))
        rules = self.params.get("rules") or []
        interval_s = xtime.parse_duration_s(self.params.get("maintenance_interval", 60))
        if threshold <= 0 and not rules:
            return df
        src = get_col_safe(parse_selector(source_field), df.schema).cast("string")
        # pseudo-fields the reference's rule/exception checkers see
        # (rules.go antispamData.Get): the serialized event stands in
        # for the reference's raw event bytes; pruned by Catalyst when
        # no rule references them
        staged = df.withColumns(
            {
                "__as_event__": F.to_json(F.struct(*[F.col(c) for c in df.columns])),
                "__as_src__": src,
            }
        )
        if rules:
            # per-event threshold: first matching rule wins
            thr: Column = F.lit(int(threshold))
            for rule in reversed(rules):
                p = self._rule_pred(rule.get("do_if"), staged.schema)
                thr = F.when(p, F.lit(int(rule.get("threshold", 0)))).otherwise(thr)
            exc_pred = thr == F.lit(-1)  # unlimited: never counted or banned
            blocked = thr == F.lit(0)
        else:
            exc_pred = self._exceptions_pred(staged.schema)
            blocked = F.lit(False)
            thr = F.lit(int(threshold))
        # one projection hop for the source key, the gate and the
        # per-event exception, block and threshold, read by the batch
        # plan below and by the stream's state function alike; gated
        # rows bypass — not counted, never banned
        tagged = staged.withColumns(
            {
                "__fd_src__": src,
                "__fd_m__": F.lit(True) if pred is None else pred,
                "__fd_exc__": exc_pred,
                "__fd_blk__": blocked,
                "__fd_thr__": thr,
            }
        ).drop("__as_event__", "__as_src__")
        if df.isStreaming:
            from file_d_spark.streaming import antispam_stream

            return antispam_stream(tagged, threshold, int(interval_s * 1000))

        tcol = get_col_safe(parse_selector(time_field), df.schema)
        t = df.schema[time_field].dataType if time_field in df.columns else None
        ts = xtime.ensure_timestamp(tcol, t, None, context="antispam time_field")
        # a NULL time counts in one window of its source: a NULL join
        # key never meets its own count
        tagged = tagged.withColumn(
            "__fd_win__",
            F.coalesce(
                F.floor(F.unix_timestamp(ts) / F.lit(int(interval_s))),
                F.lit(-(2**63)),
            ),
        )

        counts = (
            tagged.filter(
                F.col("__fd_m__") & ~F.col("__fd_exc__") & ~F.col("__fd_blk__")
            )
            .groupBy("__fd_src__", "__fd_win__")
            .agg(F.count(F.lit(1)).alias("__fd_n__"))
        )
        if not rules:
            # single fixed threshold: ship only over-threshold windows
            counts = counts.filter(F.col("__fd_n__") > threshold)
        # broadcast join: banned-window (or window-count) side is small
        flagged = tagged.join(
            F.broadcast(counts), ["__fd_src__", "__fd_win__"], "left"
        )
        banned = F.col("__fd_m__") & ~F.col("__fd_exc__") & (
            F.col("__fd_blk__")
            | (F.coalesce(F.col("__fd_n__"), F.lit(0)) > F.col("__fd_thr__"))
        )
        out = flagged.filter(~banned)
        return out.drop(
            "__fd_src__", "__fd_win__", "__fd_exc__", "__fd_blk__",
            "__fd_thr__", "__fd_m__", "__fd_n__",
        )

    @staticmethod
    def _pseudo_tree(tree: dict) -> dict:
        """Rewrite antispam pseudo-field selectors (rules.go
        antispamData.Get: event | source_name | meta.*) to the helper
        columns."""
        out = dict(tree)
        if "operands" in out:
            out["operands"] = [Antispam._pseudo_tree(c) for c in out["operands"]]
            return out
        field = out.get("field", "")
        if field == "event":
            out["field"] = "__as_event__"
        elif field == "source_name":
            out["field"] = "__as_src__"
        return out

    def _rule_pred(self, tree: dict | None, schema) -> Column:
        if not tree:
            return F.lit(False)
        from file_d_spark.doif import compile_doif

        return F.coalesce(
            compile_doif(self._pseudo_tree(tree), schema), F.lit(False)
        )

    def _exceptions_pred(self, schema) -> Column:
        from file_d_spark.matchrule import rule_pred, ruleset_pred

        exc_pred = F.lit(False)
        for exc in self.params.get("exceptions", []) or []:
            if "rules" in exc:
                # reference shape: matchrule RuleSet (+check_source_name)
                col = (
                    F.col("__as_src__")
                    if exc.get("check_source_name")
                    else F.col("__as_event__")
                )
                exc_pred = exc_pred | ruleset_pred(col, exc)
                continue
            # legacy single-rule form: {field, mode, values, ...}
            field = exc.get("field", self.params.get("source_field", "source_name"))
            col = get_col_safe(parse_selector(field), schema).cast("string")
            rule = dict(exc)
            rule.setdefault("mode", "contains")
            if not exc.get("case_sensitive", True):
                rule["case_insensitive"] = True
            exc_pred = exc_pred | rule_pred(col, rule)
        return exc_pred
