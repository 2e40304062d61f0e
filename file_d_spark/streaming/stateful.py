"""The stateful quartet as Structured Streaming operators
(applyInPandasWithState): multiline join, throttle, cardinality,
antispam.

These are the only operators whose semantics need cross-batch state
(SURVEY.md §4 "custom Spark work needed").  Each is keyed — Spark
hash-partitions the stream by key, the state store holds per-key state
across micro-batches, and per-key arrival order within a batch is
restored by sorting on the sequence column (cross-batch order is the
source's: file offsets / kafka offsets are monotone per key).

Throttle, cardinality and antispam share one column prelude with their
batch plans: the action (actions/throttle.py) builds its key, gate and
per-event columns (``__fd_*``) in one projection, then either runs the
batch plan over them or hands them to the state function here.  The
state functions read those fixed column names, let a gated row pass
uncounted as batch does, and drop every ``__fd_*`` column from their
output (``_data_schema``).  Each function's docstring names where its
rule differs from batch.

Per-trigger cost: an operator with a processing-time timeout (join,
antispam, and throttle / cardinality given an expiration) runs state
partitions x 2 Python runner passes per micro-batch — the data pass,
then the timeout pass, which runs even when no key timed out — and
keeps running no-data batches to fire its timers; a NoTimeout operator
runs the data pass only.  Each pass pays a fixed Python worker set-up
on top of the state function (~0.04 s per task for the multiline join).  The worker daemon
``file_d_spark.pydaemon``, wired by ``get_spark``, removes the largest
part of that set-up: a 0.2-0.45 s re-read of pyspark.zip and the
spark-core jar in every task.

Each micro-batch also writes its checkpoint: one offset-log, one
commit-log, one file-source-log and one file-sink-log entry, plus one
delta and one checksum file per state partition.  ``get_spark`` writes
them through Spark's FileSystem-based checkpoint manager: ~11 ms and 4
forked ``chmod`` processes per file on a local disk without native
libhadoop, against ~34 ms and 20 forks under Spark's FileContext
default (4-core host).

Reference semantics:
  join         /root/reference/plugin/action/join/join.go:152-218
               (+ stream timeout flush: pipeline/streamer.go:148-166)
  throttle     /root/reference/plugin/action/throttle/throttle.go:60-140
               in_memory_limiter.go:15-60 (sliding bucket ring)
  cardinality  /root/reference/plugin/action/cardinality/cardinality.go:126-169
  antispam     /root/reference/pipeline/antispam/antispammer.go:94-235
               (per-event counter; ban charge = unban_iterations x
               threshold; maintenance decays threshold per tick,
               deletes idle sources)
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def _concat_frames(frames: Iterator[pd.DataFrame]) -> pd.DataFrame:
    parts = [p for p in frames if len(p)]
    if not parts:
        return pd.DataFrame()
    return pd.concat(parts, ignore_index=True)


# ---------------------------------------------------------------------------
# multiline join
# ---------------------------------------------------------------------------


def multiline_join_stream(
    df: DataFrame,
    key_cols: list[str],
    seq_col: str,
    field: str,
    start_re: str | None,
    continue_re: str | None,
    negate: bool = False,
    event_timeout_ms: int = 30_000,
    templates: list[tuple[str, str | None, bool]] | None = None,
    max_event_size: int = 0,
) -> DataFrame:
    """Streaming multiline join keyed by (source, stream).

    State = (buffer, pending-first-row, governing template).  A
    sequence left open at batch end stays in state; the
    processing-time timeout flushes it (reference: stream timeout
    events after ``event_timeout``).

    ``templates`` (list of (start_re, cont_re, negate)) overrides the
    single start/continue pair with join_template semantics: the
    template whose start OPENED the block governs the continue check
    (join_template.go:137-158 firstCheck/nextCheck) — a line matching
    another template's continue must not extend the block.  Matches
    the batch operator's gating exactly (actions/join_action.py).

    Checkpoint compatibility: the state schema widened from
    (buf, first_row) to (buf, first_row, tpl) when templates landed;
    restarting over a checkpoint written by the two-field version
    fails Spark's state-schema validation — use a NEW checkpoint dir
    when upgrading across that boundary.

    ``max_event_size`` (the batch operator's cap, applied there via
    ``substring(joined, 1, max_event_size)``) bounds BOTH the emitted
    joined value and the state-store buffer — without it a sequence
    whose continue pattern keeps matching (a lost closing marker, an
    adversarial source) grows one state row without bound across
    micro-batches."""
    import re

    if templates is None:
        templates = [(start_re, continue_re, negate)]
    # batch parity (multiline_join): a missing source/key column means
    # a single-source stream — backfill a constant key instead of
    # failing groupBy resolution, and drop it from the output
    missing_keys = [c for c in key_cols if c not in df.columns]
    for c in missing_keys:
        df = df.withColumn(c, F.lit(0))
    compiled = [
        (
            re.compile(s_re),
            re.compile(c_re) if c_re else None,
            bool(neg),
        )
        for s_re, c_re, neg in templates
    ]

    out_schema = df.drop(*missing_keys).schema if missing_keys else df.schema
    # state: the buffered joined text + the first row of the open
    # sequence + the index of the template whose start opened it
    state_schema = "buf string, first_row string, tpl int"

    data_cols = [
        f.name for f in df.schema.fields if f.name not in missing_keys
    ]

    def fn(
        key: tuple, frames: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import base64
        import pickle

        def pack(rec: dict) -> str:
            return base64.b64encode(pickle.dumps(rec)).decode()

        def unpack(s: str) -> dict:
            return pickle.loads(base64.b64decode(s))

        def read_state(raw: tuple) -> tuple:
            # the schema widened (buf, first_row) -> (buf, first_row,
            # tpl); Spark's state-schema check rejects an OLD
            # checkpoint at query start (new checkpoint dir required —
            # see the caller docstring), but if a store hands a
            # 2-tuple through anyway, default the governing template
            # to 0 instead of mis-unpacking
            if len(raw) == 2:
                return raw[0], raw[1], 0
            return raw

        if state.hasTimedOut:
            buf, first_packed, _tpl = read_state(state.get)
            state.remove()
            if first_packed:
                row = unpack(first_packed)
                row[field] = buf[:max_event_size] if max_event_size else buf
                yield pd.DataFrame([row])[data_cols]
            return

        pdf = _concat_frames(frames)
        if not len(pdf):
            return
        pdf = pdf.sort_values(seq_col, kind="mergesort")

        buf, first_packed, tpl = (
            read_state(state.get) if state.exists else ("", None, 0)
        )
        out_rows: list[dict] = []

        def flush():
            nonlocal buf, first_packed
            if first_packed is not None:
                row = unpack(first_packed)
                row[field] = buf[:max_event_size] if max_event_size else buf
                out_rows.append(row)
            buf, first_packed = "", None

        for rec in pdf.to_dict("records"):
            value = rec.get(field)
            value = "" if value is None else str(value)
            started = next(
                (
                    i
                    for i, (s_pat, _, _) in enumerate(compiled)
                    if s_pat.search(value)
                ),
                None,
            )
            if started is not None:
                flush()
                first_packed = pack(rec)
                # cap the start line too — one oversized opener would
                # otherwise hold a state row above max_event_size for
                # as long as the sequence stays open (the continue
                # branch alone can't shrink an already-over buffer)
                buf = value[:max_event_size] if max_event_size else value
                tpl = started
                continue
            joining = first_packed is not None
            if joining:
                _, c_pat, neg = compiled[tpl]
                ok = bool(c_pat.search(value)) if c_pat else False
                if neg:
                    ok = not ok
                if ok:
                    buf += value
                    if max_event_size:
                        # cap the STORED buffer too: (a+b)[:n] ==
                        # (a[:n]+b)[:n], so the emitted prefix is
                        # identical to batch's substring-after-join
                        # while state stays bounded
                        buf = buf[:max_event_size]
                    continue
                flush()
            out_rows.append(rec)

        if first_packed is not None:
            state.update((buf, first_packed, tpl))
            state.setTimeoutDuration(event_timeout_ms)
        elif state.exists:
            state.remove()
        if out_rows:
            yield pd.DataFrame(out_rows)[data_cols]

    return df.groupBy(*key_cols).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.ProcessingTimeTimeout
    )


def _data_schema(df: DataFrame):
    """The output columns and schema of a state function: the event
    columns without the action's ``__fd_*`` helper columns."""
    cols = [c for c in df.columns if not c.startswith("__fd_")]
    return cols, df.select(*cols).schema


# ---------------------------------------------------------------------------
# throttle
# ---------------------------------------------------------------------------


def throttle_stream(
    df: DataFrame,
    buckets_count: int,
    limiter_expiration_ms: int,
    rule_cfgs: list[dict],
) -> DataFrame:
    """Streaming throttle over the throttle action's helper columns:
    ``__fd_key__`` (the limiter key, ``''`` for a keyless throttle),
    ``__fd_bucket__`` (the event's ``bucket_interval`` bucket),
    ``__fd_ts__`` (arrival order), ``__fd_m__`` (the gate),
    ``__fd_rule__`` (the first matching rule), ``__fd_cnt__`` (1 for
    count kind, the byte size for size kind) and ``__fd_didx__`` (the
    distribution index, 0 = default).

    Each (key, rule) owns a sliding ring of ``buckets_count`` buckets
    (the reference's limiter key embeds the rule index); an event is
    admitted while its bucket's counted total stays within the rule's
    limit, and events behind the ring are CLAMPED into the newest
    bucket and counted there (buckets.go:231-235 rebuildBuckets).
    ``rule_cfgs`` holds one ``{"limit": int, "dlims": list|None}`` per
    rule; ``dlims`` enables limit_distribution with default-reserve
    STEALING (in_memory_limiter.go getDistrData), replayed sequentially
    per (rule, bucket, distribution) as in the reference's limiter
    lock.  Idle keys drop their rings after ``limiter_expiration_ms``
    (throttle.go:129, default 30m) so state stays bounded.

    As in batch, a gated row passes uncounted, and an event without a
    parseable time counts in one NULL bucket per (key, rule) that is
    outside the ring: never clamped, never evicted (until the key
    expires).  One difference from batch: the ring's horizon is the
    newest bucket seen per (key, rule) so far, where batch clamps
    against the newest event time of the whole frame.

    Checkpoint compatibility: the grouping key is the string column
    ``__fd_key__``; it was the ``throttle_field`` column itself (or
    ``__fd_nokey__``).  A checkpoint written before the rename resumes
    when the key was a string (the key's column name is not validated);
    one keyed on a non-string field changes the key type — use a NEW
    checkpoint dir.  ``bucket_ids`` may now hold NULL (the NULL bucket)."""
    data_cols, out_schema = _data_schema(df)
    # rings serialized as parallel arrays (rule, bucket, didx) -> used
    state_schema = (
        "rules array<long>, bucket_ids array<long>, "
        "didx array<long>, used array<long>"
    )

    def fn(
        key: tuple, frames: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()  # limiter expiration: forget the idle rings
            return
        pdf = _concat_frames(frames)
        if not len(pdf):
            return
        pdf = pdf.sort_values("__fd_ts__", kind="mergesort")
        ring: dict[tuple, int] = (
            dict(zip(zip(*state.get[:3]), state.get[3])) if state.exists else {}
        )
        # per-rule newest bucket (each rule owns its own ring horizon)
        max_bucket: dict[int, int] = {}
        for r, b, _ in ring:
            if b is not None:
                max_bucket[r] = max(max_bucket.get(r, b), b)
        keep = []
        for m, b, r, cnt, di in zip(
            pdf["__fd_m__"], pdf["__fd_bucket__"], pdf["__fd_rule__"],
            pdf["__fd_cnt__"], pdf["__fd_didx__"],
        ):
            lim, dlims = rule_cfgs[r]["limit"], rule_cfgs[r]["dlims"]
            if not m or lim < 0:
                keep.append(True)  # gated, or a negative limit = unlimited
                continue
            if pd.isna(b):
                b = None  # no parseable time: the NULL bucket
            else:
                b = int(b)
                max_bucket[r] = max(max_bucket.get(r, b), b)
                if b <= max_bucket[r] - buckets_count:
                    b = max_bucket[r]  # ring clamp: count in the latest bucket
            if dlims is None:
                n = ring.get((r, b, 0), 0) + cnt
                ring[(r, b, 0)] = n
                keep.append(n <= lim)
                continue
            idx, dlim = int(di), dlims[max(int(di), 0)]
            if idx == 0 and ring.get((r, b, 0), 0) + cnt > dlim:
                # default over its reserve steals from the most-free
                # distribution (getDistrData)
                maxdiff = -1
                for i in range(1, len(dlims)):
                    diff = dlims[i] - (ring.get((r, b, i), 0) + cnt)
                    if diff > maxdiff:
                        maxdiff, idx, dlim = diff, i, dlims[i]
            n = ring.get((r, b, idx), 0) + cnt
            ring[(r, b, idx)] = n
            keep.append(n <= dlim)
        # evict buckets that fell out of their rule's ring
        ring = {
            (r, b, i): n
            for (r, b, i), n in ring.items()
            if b is None or b > max_bucket[r] - buckets_count
        }
        keys = list(ring)
        state.update(
            (
                [k[0] for k in keys],
                [k[1] for k in keys],
                [k[2] for k in keys],
                [ring[k] for k in keys],
            )
        )
        if limiter_expiration_ms:
            state.setTimeoutDuration(limiter_expiration_ms)
        out = pdf[pd.Series(keep, index=pdf.index)]
        if len(out):
            yield out[data_cols]

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if limiter_expiration_ms
        else GroupStateTimeout.NoTimeout
    )
    return df.groupBy("__fd_key__").applyInPandasWithState(
        fn, out_schema, state_schema, "append", timeout
    )


# ---------------------------------------------------------------------------
# cardinality
# ---------------------------------------------------------------------------


def cardinality_stream(
    df: DataFrame,
    limit: int,
    mode: str,
    ttl_ms: int,
    strip_cols: list[str],
) -> DataFrame:
    """Streaming cardinality guard over the cardinality action's helper
    columns ``__fd_k__`` (the composite key), ``__fd_v__`` (the
    composite value) and ``__fd_m__`` (the gate): tracks the distinct
    values per key; an event whose key has already accumulated
    ``limit`` distinct values BEFORE it is discarded or field-stripped
    — the check runs before the insert and an acted-on event's value
    is never cached, exactly cardinality.go Do (:259-295; the same
    ``distinct_before >= limit`` rule the batch sequential path
    replays).  A gated row passes uncounted and unchanged, as in batch.
    With ``ttl_ms`` the per-key set expires after inactivity (the
    reference's TTL cache — cardinality.go:126-169).

    ``strip_cols``: the field selectors to null in remove_fields mode.
    Selectors are dot-paths with the batch path's ``\\.`` escaping — a
    nested selector (``meta.trace``) nulls the LEAF inside the struct
    dict, matching batch set_field.  A selector whose path doesn't
    resolve in the record is a no-op, like batch's when-over-null on
    an absent column.

    Checkpoint compatibility: the state schema narrowed from
    (values, over) to (values) when admission moved to
    check-before-insert (r10), and the string key column was renamed
    ``__fd_ck__`` -> ``__fd_k__``; restarting over a checkpoint written
    by the two-field version fails Spark's state-schema validation —
    use a NEW checkpoint dir when upgrading across that boundary."""
    from file_d_spark.fields import parse_selector

    state_schema = "values array<string>"
    data_cols, out_schema = _data_schema(df)
    strip_parts = [parse_selector(s) for s in strip_cols]

    def _null_leaf(rec: dict, parts: list[str]) -> None:
        node = rec
        for p in parts[:-1]:
            nxt = node.get(p) if isinstance(node, dict) else None
            if not isinstance(nxt, dict):
                return  # path absent: nothing to strip
            node = nxt
        if isinstance(node, dict) and parts[-1] in node:
            node[parts[-1]] = None

    def fn(
        key: tuple, frames: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()  # TTL expiry: forget the key's distinct set
            return
        pdf = _concat_frames(frames)
        if not len(pdf):
            return
        seen = set(state.get[0]) if state.exists else set()
        out_rows = []
        for rec in pdf.to_dict("records"):
            if not rec["__fd_m__"]:
                pass  # gated: passes uncounted
            # reference order: check the count BEFORE inserting — an
            # event at the limit is acted on even if its own value is
            # already cached, and its value is never inserted
            elif len(seen) >= limit:
                if mode == "discard":
                    continue
                if mode == "remove_fields":
                    for parts in strip_parts:
                        _null_leaf(rec, parts)
            else:
                seen.add(str(rec["__fd_v__"]))
            out_rows.append(rec)
        # the set can never exceed `limit` (inserts stop at the cap)
        state.update((sorted(seen),))
        if ttl_ms:
            state.setTimeoutDuration(ttl_ms)
        if out_rows:
            yield pd.DataFrame(out_rows)[data_cols]

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout if ttl_ms else GroupStateTimeout.NoTimeout
    )
    return df.groupBy("__fd_k__").applyInPandasWithState(
        fn, out_schema, state_schema, "append", timeout
    )


# ---------------------------------------------------------------------------
# antispam
# ---------------------------------------------------------------------------

_UNBAN_ITERATIONS = 4


def antispam_stream(
    df: DataFrame,
    threshold: int,
    maintenance_interval_ms: int,
) -> DataFrame:
    """Streaming antispam over the antispam action's helper columns
    ``__fd_src__`` (the source), ``__fd_m__`` (the gate),
    ``__fd_exc__`` (an exception, or a rule with threshold -1),
    ``__fd_blk__`` (a rule with threshold 0) and ``__fd_thr__`` (the
    event's threshold: the first matching rule's, else ``threshold``),
    with the reference's EXACT per-event counter machine (antispammer.go
    IsSpam :94-190 / Maintenance :192-235):

      * a gated or excepted event passes uncounted; a blocked event is
        dropped uncounted;
      * every other event increments its source's counter and is
        dropped iff the post-increment value ``x >= __fd_thr__`` — so
        the first ``threshold - 1`` events of a burst PASS and only the
        overflow is dropped, even inside one micro-batch;
      * at ``x == __fd_thr__`` the counter jumps to
        ``4 * __fd_thr__`` (the ban charge, unban_iterations = 4);
      * every maintenance tick (processing-time timeout) decays the
        counter by ``threshold``, capped at ``4 * threshold`` and
        floored at 0 — a banned source therefore unbans after 4 quiet
        ticks; a rules-only config (``threshold`` <= 0) has no decay
        step, so each tick clears the counter;
      * a source whose counter decayed to 0 is DELETED from the state
        store on the next tick (Maintenance's ``x == 0 -> delete``),
        so idle sources cannot accumulate state at high cardinality.

    Events are counted in micro-batch order.  Differences from the
    batch rule, which counts each source's events per
    ``maintenance_interval`` window of their event time and drops the
    window's counted events when the count exceeds the threshold: the
    stream passes the first ``threshold - 1`` events of a burst where
    batch drops every event of an over-threshold window, and its ticks
    run on processing time.  A NULL source passes uncounted, as its
    batch window never meets its own count.  One simplification from
    the reference: it gates each increment on the inter-event gap being
    under the maintenance interval (IsSpam's ``diff <
    maintenanceInterval``); here every event increments — for sources
    slower than one event per tick the per-tick decay dominates either
    way, so ban outcomes agree.

    Checkpoint compatibility: the state schema changed from
    (count, banned, idle) to a single ``counter`` when the machine
    was aligned to the reference, and the grouping key is the string
    column ``__fd_src__`` (it was the ``source_field`` column itself):
    a checkpoint keyed on a string source resumes, any other needs a
    NEW checkpoint dir."""
    state_schema = "counter long"
    data_cols, out_schema = _data_schema(df)
    ban_charge = _UNBAN_ITERATIONS * threshold

    def fn(
        key: tuple, frames: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            (counter,) = state.get
            if counter == 0:
                state.remove()  # Maintenance: idle source forgotten
                return
            # antispammer.go:206-224 — x -= threshold; cap at the ban
            # charge; floor 0
            counter = max(0, min(counter - threshold, ban_charge))
            state.update((counter,))
            state.setTimeoutDuration(maintenance_interval_ms)
            return

        pdf = _concat_frames(frames)
        if not len(pdf):
            return
        (counter,) = state.get if state.exists else (0,)
        keep = []
        for m, exc, blk, thr in zip(
            pdf["__fd_m__"], pdf["__fd_exc__"], pdf["__fd_blk__"],
            pdf["__fd_thr__"],
        ):
            if not m or exc:
                keep.append(True)  # gated or excepted: passes uncounted
            elif blk:
                keep.append(False)  # blocked: dropped uncounted
            elif key[0] is None:
                keep.append(True)  # a NULL source is never banned
            else:
                counter += 1
                x = counter
                if x == thr:
                    counter = _UNBAN_ITERATIONS * int(thr)  # the ban
                keep.append(x < thr)
        state.update((counter,))
        state.setTimeoutDuration(maintenance_interval_ms)
        out = pdf[pd.Series(keep, index=pdf.index)]
        if len(out):
            yield out[data_cols]

    return df.groupBy("__fd_src__").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.ProcessingTimeTimeout
    )
