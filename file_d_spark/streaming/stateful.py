"""The stateful quartet as Structured Streaming operators
(applyInPandasWithState): multiline join, throttle, cardinality,
antispam.

These are the only operators whose semantics need cross-batch state
(SURVEY.md §4 "custom Spark work needed").  Each is keyed — Spark
hash-partitions the stream by key, the state store holds per-key state
across micro-batches, and per-key arrival order within a batch is
restored by sorting on the sequence column (cross-batch order is the
source's: file offsets / kafka offsets are monotone per key).

Per-trigger cost: an operator with a processing-time timeout (join,
antispam, and throttle / cardinality given an expiration) runs state
partitions x 2 Python runner passes per micro-batch — the data pass,
then the timeout pass, which runs even when no key timed out — and
keeps running no-data batches to fire its timers; a NoTimeout operator
runs the data pass only.  Each pass pays a fixed Python worker set-up on top of the state
function (~0.04 s per task for the multiline join).  The worker daemon
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

from typing import Any, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# The stateful fns run in executor Python workers, which may not have
# this repo on sys.path (the driver may run from any cwd).  Pickling
# this module by value makes the closures self-contained.
try:  # pragma: no cover
    import sys as _sys

    from pyspark import cloudpickle as _cp

    _cp.register_pickle_by_value(_sys.modules[__name__])
except Exception:
    pass


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


# ---------------------------------------------------------------------------
# throttle
# ---------------------------------------------------------------------------


def throttle_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    bucket_interval_s: int,
    buckets_count: int,
    limit: int,
    limiter_expiration_ms: int = 30 * 60_000,
    rule_cfgs: list[dict] | None = None,
    rule_col: str | None = None,
    cnt_col: str | None = None,
    didx_col: str | None = None,
) -> DataFrame:
    """Streaming throttle: per-(key, rule) sliding ring of
    ``buckets_count`` buckets of ``bucket_interval_s``; admits events
    while the bucket's counted total stays within the rule's limit;
    events outside the ring are CLAMPED into the newest bucket and
    counted there (buckets.go:231-235 rebuildBuckets — "events from
    past or future goes to the latest bucket").  Idle keys drop their
    rings after ``limiter_expiration_ms`` (throttle.go:129
    LimiterExpiration default 30m + maintenance goroutine) — without
    this the per-key state store grows unboundedly at 100 TB key
    cardinalities.

    Full rule parity with the batch path: ``rule_cfgs`` is a list of
    ``{"limit": int, "dlims": list|None}`` — one per throttle rule,
    indexed by the precomputed ``rule_col`` (the reference's limiter
    key embeds the rule index, so each rule owns its own ring).
    ``cnt_col`` carries the counted value (1 for count kind, byte size
    for size kind).  ``dlims`` enables limit_distribution with
    default-reserve STEALING (in_memory_limiter.go getDistrData):
    ``didx_col`` maps each event to its distribution index (0 =
    default), and state tracks per-(rule, bucket, didx) usage across
    micro-batches — the sequential semantics replay inside the keyed
    state function exactly as they do in the reference's limiter lock.
    """
    out_schema = df.schema
    if rule_cfgs is None:
        rule_cfgs = [{"limit": int(limit), "dlims": None}]
    # keyless throttle (no throttle_field): one shared limiter for the
    # whole stream — batch builds key = lit('') for this
    # (actions/throttle.py); synthesize the same constant key here
    # instead of letting groupBy('') fail to resolve
    if not key_col:
        key_col = "__fd_nokey__"
        df = df.withColumn(key_col, F.lit(""))
    # rings serialized as parallel arrays (rule, bucket, didx) -> used
    state_schema = (
        "rules array<long>, bucket_ids array<long>, "
        "didx array<long>, used array<long>"
    )
    # helper columns (__fd_*: staged rule/count/distribution indexes,
    # the synthetic keyless key, the caller's pre-parsed timestamp)
    # never appear in the output
    data_cols = [
        f.name
        for f in df.schema.fields
        if f.name not in (rule_col, cnt_col, didx_col)
        and not f.name.startswith("__fd_")
    ]
    out_schema = df.select(*data_cols).schema

    def fn(
        key: tuple, frames: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()  # limiter expiration: forget the idle rings
            return
        pdf = _concat_frames(frames)
        if not len(pdf):
            return
        pdf = pdf.sort_values(ts_col, kind="mergesort")
        if state.exists:
            rules, bucket_ids, didx, used = state.get
            ring: dict[tuple, int] = dict(
                zip(zip(rules, bucket_ids, didx), used)
            )
        else:
            ring = {}
        # per-rule newest bucket (each rule owns its own ring horizon)
        max_bucket: dict[int, int] = {}
        for r, b, _ in ring:
            max_bucket[r] = max(max_bucket.get(r, -1), b)
        rule_series = (
            pdf[rule_col].astype(int) if rule_col else pd.Series(0, index=pdf.index)
        )
        cnt_series = (
            pdf[cnt_col].astype(int) if cnt_col else pd.Series(1, index=pdf.index)
        )
        didx_series = (
            pdf[didx_col].astype(int) if didx_col else pd.Series(-1, index=pdf.index)
        )
        keep_mask = []
        for ts, r, cnt, di in zip(
            pd.to_datetime(pdf[ts_col]), rule_series, cnt_series, didx_series
        ):
            cfg = rule_cfgs[r]
            lim, dlims = cfg["limit"], cfg.get("dlims")
            if lim < 0:
                keep_mask.append(True)  # negative limit = unlimited
                continue
            b = int(ts.timestamp()) // bucket_interval_s
            max_bucket[r] = max(max_bucket.get(r, -1), b)
            if b <= max_bucket[r] - buckets_count:
                b = max_bucket[r]  # ring clamp: count in the latest bucket
            if dlims is None:
                n = ring.get((r, b, 0), 0) + cnt
                ring[(r, b, 0)] = n
                keep_mask.append(n <= lim)
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
            keep_mask.append(n <= dlim)
        # evict buckets that fell out of their rule's ring
        for k in [
            (r, b, i)
            for (r, b, i) in ring
            if b <= max_bucket.get(r, -1) - buckets_count
        ]:
            del ring[k]
        keys = list(ring.keys())
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
        out = pdf[pd.Series(keep_mask, index=pdf.index)]
        if len(out):
            yield out[data_cols]

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if limiter_expiration_ms
        else GroupStateTimeout.NoTimeout
    )
    return df.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", timeout
    )


# ---------------------------------------------------------------------------
# cardinality
# ---------------------------------------------------------------------------


def cardinality_stream(
    df: DataFrame,
    key_col: str,
    value_col: str,
    limit: int,
    mode: str = "discard",
    ttl_ms: int = 0,
    strip_cols: list[str] | None = None,
) -> DataFrame:
    """Streaming cardinality guard: tracks distinct ``value_col`` per
    key; an event whose key has already accumulated ``limit`` distinct
    values BEFORE it is discarded / field-stripped / passed — the
    check runs before the insert and an acted-on event's value is
    never cached, exactly cardinality.go Do (:259-295; the same
    ``distinct_before >= limit`` rule the batch sequential path
    replays).  With ``ttl_ms`` the per-key set expires after
    inactivity (the reference's TTL cache — cardinality.go:126-169).

    ``strip_cols``: the REAL field selectors to null in remove_fields
    mode (``value_col`` may be a composite helper the caller built
    from several fields); defaults to ``[value_col]``.  Selectors are
    dot-paths with the batch path's ``\\.`` escaping — a nested
    selector (``meta.trace``) nulls the LEAF inside the struct dict,
    matching batch set_field, instead of planting a bogus top-level
    key that the output projection would silently drop (the field
    would survive unstripped).  A selector whose path doesn't resolve
    in the record is a no-op, like batch's when-over-null on an
    absent column.  Caller-built ``__fd_*`` helper columns (composite
    key/value) never appear in the output.

    Checkpoint compatibility: the state schema narrowed from
    (values, over) to (values) when admission moved to
    check-before-insert (r10); restarting over a checkpoint written
    by the two-field version fails Spark's state-schema validation —
    use a NEW checkpoint dir when upgrading across that boundary."""
    from file_d_spark.fields import parse_selector

    state_schema = "values array<string>"
    data_cols = [
        f.name for f in df.schema.fields if not f.name.startswith("__fd_")
    ]
    out_schema = df.select(*data_cols).schema
    strip = list(strip_cols) if strip_cols else [value_col]
    strip_parts = [parse_selector(s) for s in strip]

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
            v = str(rec.get(value_col))
            # reference order: check the count BEFORE inserting — an
            # event at the limit is acted on even if its own value is
            # already cached, and its value is never inserted
            if len(seen) >= limit:
                if mode == "discard":
                    continue
                if mode == "remove_fields":
                    for parts in strip_parts:
                        _null_leaf(rec, parts)
            else:
                seen.add(v)
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
    return df.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", timeout
    )


# ---------------------------------------------------------------------------
# antispam
# ---------------------------------------------------------------------------


def antispam_stream(
    df: DataFrame,
    source_col: str,
    threshold: int,
    maintenance_interval_ms: int = 60_000,
    unban_iterations: int = 4,
    seq_col: str | None = None,
) -> DataFrame:
    """Streaming antispam with the reference's EXACT per-event counter
    machine (antispammer.go IsSpam :94-190 / Maintenance :192-235):

      * each event increments the source's counter and is dropped iff
        the post-increment value ``x >= threshold`` — so the first
        ``threshold - 1`` events of a burst PASS and only the overflow
        is dropped, even inside one micro-batch;
      * at ``x == threshold`` the counter jumps to
        ``unban_iterations * threshold`` (the ban charge);
      * every maintenance tick (processing-time timeout) decays the
        counter by ``threshold`` (floored at 0, capped at the ban
        charge) — a banned source therefore unbans after
        ``unban_iterations`` quiet ticks;
      * a source whose counter decayed to 0 is DELETED from the state
        store on the next tick (Maintenance's ``x == 0 -> delete``),
        so idle sources cannot accumulate state at high cardinality.

    ``seq_col`` orders events inside a micro-batch (arrival order);
    without it the pandas frame order is used.  One documented
    simplification: the reference gates each increment on the
    inter-event gap being under the maintenance interval (IsSpam's
    ``diff < maintenanceInterval``); here every event increments —
    for sources slower than one event per tick the per-tick decay of
    ``threshold`` dominates either way, so ban outcomes agree.

    Checkpoint compatibility: the state schema changed from
    (count, banned, idle) to a single ``counter`` when the machine
    was aligned to the reference — use a NEW checkpoint dir when
    upgrading across that boundary."""
    out_schema = df.schema
    state_schema = "counter long"
    data_cols = [f.name for f in df.schema.fields]
    ban_charge = unban_iterations * threshold

    def fn(
        key: tuple, frames: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            (counter,) = state.get
            if counter == 0:
                state.remove()  # Maintenance: idle source forgotten
                return
            # Maintenance order matters: subtract THEN cap
            # (antispammer.go:206-224 — x -= threshold; floor 0; cap
            # at the ban charge)
            counter = min(max(0, counter - threshold), ban_charge)
            state.update((counter,))
            state.setTimeoutDuration(maintenance_interval_ms)
            return

        pdf = _concat_frames(frames)
        if not len(pdf):
            return
        if seq_col is not None and seq_col in pdf.columns:
            pdf = pdf.sort_values(seq_col, kind="mergesort")
        (counter,) = state.get if state.exists else (0,)
        keep = []
        for _ in range(len(pdf)):
            counter += 1
            x = counter
            if x == threshold:
                counter = ban_charge  # the ban: pre-charge the decay
            keep.append(x < threshold)
        state.update((counter,))
        state.setTimeoutDuration(maintenance_interval_ms)
        out = pdf[pd.Series(keep, index=pdf.index)]
        if len(out):
            yield out[data_cols]

    return df.groupBy(source_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.ProcessingTimeTimeout
    )


# ---------------------------------------------------------------------------
# streaming exact dedup
# ---------------------------------------------------------------------------


def dedup_stream(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str | None = None,
    within: str | None = None,
) -> DataFrame:
    """Streaming exact dedup: drop events whose dedup key was already
    seen — the streaming counterpart of functions/dedup.exact_dedup and
    the continuous-ingest shape of an LLM corpus build (documents
    arriving from a crawl, deduped by content digest as they land).

    Spark-first: this IS Spark's native streaming dedup state, not a
    custom state function.  Without a horizon, ``dropDuplicates`` keeps
    one state row per key forever (exact global dedup — state grows
    with distinct keys, which is the honest cost of the semantics; at
    100 TB give the key a digest column, 16 bytes/row, not raw text).
    With ``within`` + ``ts_col``, ``dropDuplicatesWithinWatermark``
    bounds state to the watermark horizon: duplicates are only
    suppressed while their first sighting is younger than ``within``
    (e.g. "24 hours"), and state is evicted beyond it — the unbounded
    cardinality knob the reference's antispam/cardinality TTL caches
    turn, here turned by the engine's own watermark machinery.

    Exactly-once across restarts comes from the checkpoint: the seen-
    key state is in the state store, so a restart continues suppression
    (asserted in tests/test_streaming_restart.py)."""
    if within is not None:
        if ts_col is None:
            raise ValueError("dedup_stream: within requires ts_col")
        return df.withWatermark(ts_col, within).dropDuplicatesWithinWatermark(
            key_cols
        )
    return df.dropDuplicates(key_cols)


# ---------------------------------------------------------------------------
# streaming bloom dedup (bounded state)
# ---------------------------------------------------------------------------


def bloom_dedup_stream(
    df: DataFrame,
    content_col: str,
    m_bits: int = 1 << 20,
    k: int = 7,
    shards: int = 32,
) -> DataFrame:
    """Streaming incremental dedup with BOUNDED state — the streaming
    twin of functions/dedup.bloom_dedup, the same way throttle and
    cardinality have keyed-state twins.  Where dedup_stream keeps one
    state row per distinct key forever (exact, state grows with the
    corpus), this keeps a FIXED ``m_bits``-bit Bloom word array per
    shard in the state store: duplicates are always dropped (no false
    negatives — every copy of a content hashes to the same shard and
    the same bit positions), and ~fpp of novel documents are dropped as
    false positives, exactly the batch operator's contract.

    Layout parity: positions use the batch operator's portable
    double-hash (md5 hex 1-15 / 17-31 folded into the 2^31-1 prime
    field, ``functions/dedup._bloom_positions(portable=True)``), so
    with ``shards=1`` and the same (m, k) the admitted set is
    BIT-IDENTICAL to batch ``bloom_dedup`` over the same arrivals
    (asserted in tests/test_streaming_restart.py).

    Scale shape: state is shards x m_bits/8 bytes TOTAL regardless of
    corpus size (the knob the exact variant lacks); each micro-batch
    shuffles once on the shard key; restart continues from the
    checkpointed word arrays."""
    import hashlib

    import numpy as np
    from pyspark.sql import functions as F

    prime = (1 << 31) - 1  # functions/dedup._MH_PRIME
    n_words = (m_bits + 63) // 64
    data_cols = list(df.columns)
    out_schema = df.schema
    # batch parity: bloom_dedup's `filter(~might_contain)` evaluates to
    # NULL for null content and drops the row — mirror that here, or a
    # null would stringify to the literal 'None' and collide with real
    # "None" text while being admitted once
    df = df.filter(F.col(content_col).isNotNull())
    src = df.withColumn(
        "__shard__",
        F.pmod(
            F.conv(
                F.substring(F.md5(F.col(content_col).cast("string")), 1, 15),
                16,
                10,
            ).cast("long"),
            F.lit(shards),
        ),
    )

    def fn(
        key: tuple, frames: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            (buf,) = state.get
            words = np.frombuffer(bytes(buf), dtype=np.uint64).copy()
        else:
            words = np.zeros(n_words, dtype=np.uint64)
        changed = False
        for pdf in frames:
            if not len(pdf):
                continue
            keep = []
            for s in pdf[content_col].astype(str):
                h = hashlib.md5(s.encode("utf-8")).hexdigest()
                b1 = int(h[0:15], 16) % prime
                b2 = int(h[16:31], 16) % (prime - 2) + 1
                seen = True
                for i in range(k):
                    w, bit = divmod((b1 + i * b2) % m_bits, 64)
                    if not (int(words[w]) >> bit) & 1:
                        seen = False
                        words[w] = np.uint64(int(words[w]) | (1 << bit))
                        changed = True
                keep.append(not seen)
            out = pdf.loc[keep, data_cols]
            if len(out):
                yield out
        if changed or not state.exists:
            state.update((bytearray(words.tobytes()),))

    return src.groupBy("__shard__").applyInPandasWithState(
        fn, out_schema, "words binary", "append",
        GroupStateTimeout.NoTimeout,
    )


def sessionize_stream(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming sessionization — the continuous twin of the batch
    ``sessionize`` query, and the engine-native form of the reference's
    per-stream inactivity timeout (streamer.go stream timeout events:
    "no activity for N -> the accumulated unit is done").

    Spark-first: this IS ``F.session_window`` — the engine merges
    events within ``gap`` of each other into per-user sessions in the
    state store, closes a session when the WATERMARK passes its end
    (last event + gap), and emits exactly one row per closed session:
    ``(user, session_start, session_end, n_events)``.  State survives
    restarts via the checkpoint; a half-built session keeps
    accumulating after resume (asserted in
    tests/test_streaming_restart.py).

    Boundary note vs the batch query: the session window is half-open
    — an event arriving EXACTLY ``gap`` after the previous one starts
    a new session here, while the batch query's ``gap > 1800`` keeps
    it.  On real (microsecond) data the exact-boundary gap has measure
    zero; the fixtures assert equality away from the boundary.

    Scale shape: state is one (user, open-session) row per active
    user, evicted at the watermark — bounded by ACTIVE users, not
    history; the shuffle is user-keyed.  At 100 TB/day of events this
    is the only sessionization shape that doesn't re-sort history
    every run.
    """
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(
            F.col(user_col), F.session_window(F.col(ts_col), gap).alias("__w__")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            user_col,
            F.col("__w__.start").alias("session_start"),
            F.col("__w__.end").alias("session_end"),
            "n_events",
        )
    )


def rolling_zscore_stream(
    df: DataFrame,
    value_col: str = "value",
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    window: int = 20,
    min_history: int = 8,
) -> DataFrame:
    """Streaming twin of the batch ``rolling_zscore`` query: each
    event's squared deviation from ITS OWN (user, event_type) trailing
    baseline of the last <= ``window`` observations, needing
    >= ``min_history`` of history — the streaming-metrics outlier
    primitive, now incremental.

    Exact-arithmetic parity with the batch window: values quantize to
    bigint cents IN SPARK (the same ``round(value*100)::long``
    expression — no Python float rounding can diverge), the per-key
    state is just the last <= ``window`` cent values (O(1) per key),
    and z**2 emerges as the integer ``100*(n*x - s)^2 div (n*q - s^2)``
    over Python ints — bit-identical to the batch operator's bigint
    algebra over the same arrivals in the same (ts, id) order
    (asserted in tests/test_streaming_restart.py).

    Scale shape: one hash exchange per micro-batch on (user, type) —
    the same key the batch window shuffles on; state per key is a
    bounded long array, so the state store holds
    keys x ``window`` x 8 bytes.  Cross-batch order is the source's
    (file/kafka offsets are monotone per key); within a batch, rows
    sort on (ts, id) like every other stateful twin here.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    fields = {f.name: f for f in df.schema.fields}
    out_schema = StructType(
        [
            fields[id_col],
            fields[user_col],
            fields[type_col],
            StructField("v_cents", LongType()),
            StructField("n", LongType()),
            StructField("zsq_x100", LongType(), nullable=True),
        ]
    )
    src = df.select(
        F.col(id_col),
        F.col(user_col),
        F.col(type_col),
        F.col(ts_col),
        F.round(F.col(value_col) * 100).cast("long").alias("v_cents"),
    )

    def fn(
        key: tuple, frames: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        hist = list(state.get[0]) if state.exists else []
        pdf = _concat_frames(frames)
        if not len(pdf):
            if not state.exists:
                state.update(([],))
            return
        pdf = pdf.sort_values([ts_col, id_col], kind="mergesort")
        out = {c: [] for c in (id_col, user_col, type_col, "v_cents", "n", "zsq_x100")}
        for rid, ruser, rtype, v in zip(
            pdf[id_col], pdf[user_col], pdf[type_col], pdf["v_cents"]
        ):
            v = int(v)
            n = len(hist)
            if n >= min_history:
                s = sum(hist)
                q2 = sum(x * x for x in hist)
                den = n * q2 - s * s
                zsq = (
                    (100 * (n * v - s) * (n * v - s)) // den
                    if den > 0
                    else None
                )
                out[id_col].append(rid)
                out[user_col].append(ruser)
                out[type_col].append(rtype)
                out["v_cents"].append(v)
                out["n"].append(n)
                out["zsq_x100"].append(zsq)
            hist.append(v)
            if len(hist) > window:
                hist.pop(0)
        state.update((hist,))
        if out[id_col]:
            yield pd.DataFrame(out)

    return src.groupBy(user_col, type_col).applyInPandasWithState(
        fn, out_schema, "vs array<long>", "append",
        GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# weighted sampling without replacement (A-ES), streaming twin
# --------------------------------------------------------------------------


def weighted_sample_stream(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    id_col: str,
    k: int = 5,
    salt: str = "",
) -> DataFrame:
    """Streaming twin of ``corpus.weighted_sample``: a per-group
    Efraimidis-Spirakis reservoir.  The exponential race key
    ``-ln(u)/w`` is computed IN SPARK with the exact expression the
    batch operator uses (deterministic md5 uniform — no RNG, no Python
    float divergence), so the reservoir's content after any prefix of
    arrivals is BIT-IDENTICAL to the batch top-k over the same rows.

    Each micro-batch merges its rows into the k smallest (es_key, id)
    pairs per group and emits the group's post-batch snapshot tagged
    with a monotonically increasing ``version`` — consumers take the
    highest version per group (snapshot-on-change; an A-ES reservoir
    admits late winners, so per-event append semantics cannot be
    stable).  State per group is exactly k (key, id, weight) triples.
    """
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(float(1 << 32))
    w = F.col(weight_col).cast("double")
    src = df.filter(w > 0).select(
        F.col(group_col).alias("__grp__"),
        F.col(id_col).alias("__id__"),
        w.alias("__w__"),
        (-F.log(u) / w).alias("__key__"),
    )
    grp_type = df.schema[group_col].dataType
    # the id keeps its NATIVE type end-to-end (ADVICE r8: a hard long
    # cast nulled string doc ids — the type the batch twin supports —
    # silently corrupting the reservoir); ties on es_key break on the
    # native ordering, matching the batch twin's ORDER BY es_key, id.
    id_type = df.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField(group_col, grp_type),
            StructField("version", LongType()),
            StructField("rank", LongType()),
            StructField(id_col, id_type),
            StructField("weight", DoubleType()),
            StructField("es_key", DoubleType()),
        ]
    )
    _ = StringType  # grp passes through untyped via key tuple

    def fn(
        key: tuple, frames: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            version, keys, ids, weights = state.get
            pool = list(zip(keys, ids, weights))
        else:
            version, pool = 0, []
        pdf = _concat_frames(frames)
        if not len(pdf):
            return
        for kk, ii, ww in zip(
            pdf["__key__"].tolist(), pdf["__id__"].tolist(),
            pdf["__w__"].tolist(),
        ):
            pool.append((float(kk), ii, float(ww)))
        pool.sort(key=lambda t: (t[0], t[1]))
        pool = pool[:k]
        version += 1
        state.update(
            (
                version,
                [t[0] for t in pool],
                [t[1] for t in pool],
                [t[2] for t in pool],
            )
        )
        yield pd.DataFrame(
            {
                group_col: [key[0]] * len(pool),
                "version": [version] * len(pool),
                "rank": list(range(1, len(pool) + 1)),
                id_col: [t[1] for t in pool],
                "weight": [t[2] for t in pool],
                "es_key": [t[0] for t in pool],
            }
        )

    return src.groupBy("__grp__").applyInPandasWithState(
        fn,
        out_schema,
        f"version long, keys array<double>, ids array<{id_type.simpleString()}>,"
        " weights array<double>",
        "append",
        GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# HyperLogLog distinct, streaming twin
# --------------------------------------------------------------------------


def hll_distinct_stream(
    df: DataFrame, group_col: str, value_col: str, b: int = 9
) -> DataFrame:
    """Streaming twin of ``sketch.hll_distinct``: per-group HLL
    registers merged across micro-batches.

    HLL registers merge by elementwise max — the property that makes
    the sketch per-partition-parallel in batch makes it
    restart-stable here: state per group is exactly the m register
    bytes, and after any prefix of arrivals (zeros, sum_fp, estimate)
    is BIT-IDENTICAL to the batch operator over the same rows.
    Hashing and ranking run IN SPARK via the shared
    ``sketch.hll_prep`` expressions; the stateful function only takes
    maxes and folds exact integers, and the final estimate is the
    shared ``sketch.hll_estimate_col`` Spark expression — no Python
    float ever enters the result.

    Emits a post-batch snapshot per group tagged with a monotonically
    increasing ``version`` (consumers take the max version per
    group, the weighted_sample_stream convention)."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from file_d_spark.functions import sketch as _sketch

    m = 1 << b
    src = _sketch.hll_prep(df, group_col, value_col, b)
    grp_type = df.schema[group_col].dataType
    snap_schema = StructType(
        [
            StructField(group_col, grp_type),
            StructField("version", LongType()),
            StructField("zeros", LongType()),
            StructField("sum_fp", LongType()),
        ]
    )

    def fn(
        key: tuple, frames: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            version, regs = state.get
            regs = list(regs)
        else:
            version, regs = 0, [0] * m
        pdf = _concat_frames(frames)
        if not len(pdf):
            return
        for bucket, r in zip(
            pdf["bucket"].tolist(), pdf["r"].tolist()
        ):
            if r > regs[bucket]:
                regs[bucket] = r
        version += 1
        state.update((version, regs))
        zeros = sum(1 for x in regs if x == 0)
        sum_fp = sum(1 << (40 - x) for x in regs if x) + zeros * (1 << 40)
        yield pd.DataFrame(
            {
                group_col: [key[0]],
                "version": [version],
                "zeros": [zeros],
                "sum_fp": [sum_fp],
            }
        )

    snaps = src.groupBy("g").applyInPandasWithState(
        fn,
        snap_schema,
        "version long, regs array<int>",
        "append",
        GroupStateTimeout.NoTimeout,
    )
    _ = DoubleType  # estimate computed via the shared Spark expression
    return snaps.select(
        group_col,
        "version",
        "zeros",
        "sum_fp",
        _sketch.hll_estimate_col(b).alias("estimate"),
    )


# --------------------------------------------------------------------------
# KMV (bottom-k) distinct, streaming twin
# --------------------------------------------------------------------------


def kmv_distinct_stream(
    df: DataFrame, group_col: str, value_col: str, k: int = 64
) -> DataFrame:
    """Streaming twin of ``sketch.kmv_distinct``: a per-group bottom-k
    hash sketch merged across micro-batches (union the arrivals'
    hashes, keep the k smallest — the same merge the batch operator's
    distributed heap performs per partition).  State per group is at
    most k longs; after any prefix of arrivals the snapshot's
    (n_distinct_capped, kth_hash, estimate) is BIT-IDENTICAL to the
    batch operator over the same rows.  Hashing runs IN SPARK with the
    batch operator's expression; the estimate is computed by a shared
    Spark column expression over the emitted integers.

    Emits a post-batch snapshot per group tagged with a monotonically
    increasing ``version`` (take the max version per group)."""
    from pyspark.sql.types import LongType, StructField, StructType

    from file_d_spark.functions import sketch as _sketch

    # null-safe like the batch operator (sketch.kmv_distinct): a null
    # value would yield a null hash that crashes int(h) below
    src = df.where(F.col(value_col).isNotNull()).select(
        F.col(group_col).alias("__grp__"),
        _sketch._h32(F.col(value_col)).alias("__h__"),
    )
    grp_type = df.schema[group_col].dataType
    snap_schema = StructType(
        [
            StructField(group_col, grp_type),
            StructField("version", LongType()),
            StructField("n_distinct_capped", LongType()),
            StructField("kth_hash", LongType()),
        ]
    )

    def fn(
        key: tuple, frames: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            version, hashes = state.get
            pool = set(hashes)
        else:
            version, pool = 0, set()
        pdf = _concat_frames(frames)
        if not len(pdf):
            return
        pool.update(int(h) for h in pdf["__h__"].tolist())
        pool = set(sorted(pool)[:k])
        version += 1
        ordered = sorted(pool)
        state.update((version, ordered))
        yield pd.DataFrame(
            {
                group_col: [key[0]],
                "version": [version],
                "n_distinct_capped": [len(ordered)],
                "kth_hash": [ordered[k - 1] if len(ordered) == k else None],
            }
        )

    snaps = src.groupBy("__grp__").applyInPandasWithState(
        fn,
        snap_schema,
        "version long, hashes array<long>",
        "append",
        GroupStateTimeout.NoTimeout,
    )
    est = F.when(
        F.col("kth_hash").isNotNull(),
        F.round(
            F.lit(float((k - 1) * (1 << _sketch.HASH_BITS)))
            / F.col("kth_hash").cast("double"),
            4,
        ),
    ).otherwise(F.col("n_distinct_capped").cast("double"))
    return snaps.select(
        group_col,
        "version",
        "n_distinct_capped",
        "kth_hash",
        est.alias("estimate"),
    )


# --------------------------------------------------------------------------
# Trained-BPE apply, streaming twin (stateless broadcast-model map)
# --------------------------------------------------------------------------


def bpe_apply_stream(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_model: list,
) -> DataFrame:
    """Streaming twin of the trained-BPE APPLY path — the application
    half of ``bpe.bpe_token_stats`` (its broadcast (word → seg) join
    with char-split OOV fallback) as a STATELESS map over arriving
    documents.

    ``seg_model`` is the collected final segmentation frame from
    ``bpe.train_bpe`` as (word, seg) pairs — bounded by ``vocab_size``
    (50 by default), so it enters the plan as ONE map literal: no
    stream-static join, no state, no watermark; every arriving
    document emits exactly one (id, n_words, n_bpe_tokens) row in
    append mode, and the counts are BIT-IDENTICAL to the batch
    operator over the same rows because both sides evaluate the same
    Spark expressions (map lookup ≡ broadcast left join on the same
    bounded vocab; the char-split fallback is ``bpe._char_seg``
    verbatim).

    At 100 TB this is the shape a tokenizer-audit stream wants: the
    model is O(vocab) and rides the closure; the per-event work is
    one HOF pass over the document's words.
    """
    from file_d_spark.functions.bpe import SEP

    entries: list = []
    for w, seg in seg_model:
        entries += [F.lit(w), F.lit(seg)]
    seg_map = F.create_map(*entries)
    words = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z]+"),
        lambda w: w != F.lit(""),
    )
    segs = F.transform(
        words,
        lambda w: F.coalesce(
            F.element_at(seg_map, w),
            F.array_join(F.split(w, ""), SEP),  # bpe._char_seg inline
        ),
    )
    out = df.select(
        F.col(id_col),
        F.size(segs).cast("long").alias("n_words"),
        F.aggregate(
            segs,
            F.lit(0).cast("long"),
            lambda acc, s: acc + F.size(F.split(s, SEP)),
        ).alias("n_bpe_tokens"),
    )
    # the batch operator's explode drops wordless documents — mirror it
    return out.filter(F.col("n_words") > 0)


# --------------------------------------------------------------------------
# Count-Min sketch, streaming twin
# --------------------------------------------------------------------------


def cms_stream(
    df: DataFrame, value_col: str, depth: int = 4, width: int = 1024,
    shards: int = 8,
) -> DataFrame:
    """Streaming twin of ``sketch.cms_topk``'s counter matrix: the
    depth×width Count-Min counters merged across micro-batches
    (counters are sums — the linearity that makes CMS mergeable in
    batch makes it restart-stable here).  Keyed by (depth row ``r``,
    value shard) — hashing runs IN SPARK with the batch operator's
    expression — so state per group is the ``width`` counters of one
    sketch-row SHARD and depth×shards groups update in parallel: the
    whole stream never funnels through only ``depth`` tasks (the
    ``bloom_dedup_stream`` ``__shard__`` pattern; CMS counters are
    linear, so per-shard matrices sum to the unsharded one exactly).
    The shard is a deterministic hash of the value (not round-robin),
    so a replayed micro-batch lands on the same groups.

    Emits one post-batch snapshot per updated group — (r, shard,
    version, counters) — tagged with a per-group monotonically
    increasing version.  Readout: take each group's max-version row,
    element-wise sum counters over shards per r; a point query is
    then ``min_r summed[r][h(v, r)]``, and after any prefix of
    arrivals the summed matrix is BIT-IDENTICAL to the batch sketch
    over the same rows (with ``shards=1`` each snapshot already is).

    Checkpoint compatibility: the group key widened from (r) to
    (r, shard) when sharding landed (r11) — use a NEW checkpoint dir
    when upgrading across that boundary."""
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from file_d_spark.functions import sketch as _sketch

    rows = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("r")
    src = (
        df.select(F.col(value_col).cast("string").alias("v"))
        .where(F.col("v").isNotNull())
        .select("v", rows)
        .select(
            "r",
            # shard salt differs from the position hash's "#r" salt so
            # shard and column assignment stay independent
            F.pmod(
                _sketch._h32(F.concat(F.col("v"), F.lit("#shard"))),
                F.lit(shards),
            ).cast("int").alias("shard"),
            F.pmod(
                _sketch._h32(
                    F.concat(F.col("v"), F.lit("#"), F.col("r").cast("string"))
                ),
                F.lit(width),
            ).cast("int").alias("c"),
        )
    )
    snap_schema = StructType(
        [
            StructField("r", IntegerType()),
            StructField("shard", IntegerType()),
            StructField("version", LongType()),
            StructField("counters", ArrayType(LongType())),
        ]
    )

    def fn(
        key: tuple, frames: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            version, counters = state.get
            counters = list(counters)
        else:
            version, counters = 0, [0] * width
        pdf = _concat_frames(frames)
        if not len(pdf):
            return
        for c in pdf["c"].tolist():
            counters[c] += 1
        version += 1
        state.update((version, counters))
        yield pd.DataFrame(
            {
                "r": [key[0]],
                "shard": [key[1]],
                "version": [version],
                "counters": [counters],
            }
        )

    return src.groupBy("r", "shard").applyInPandasWithState(
        fn,
        snap_schema,
        "version long, counters array<long>",
        "append",
        GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# AMS F2 moment, streaming twin
# --------------------------------------------------------------------------


def f2_stream(
    df: DataFrame, value_col: str, reps: int = 16, shards: int = 8,
) -> DataFrame:
    """Streaming twin of ``sketch.f2_moment``'s sign-sums: the AMS
    sketch is LINEAR (X_r(A∪B) = X_r(A) + X_r(B) over row multisets),
    so each rep's running X_r is one long of state merged by addition.
    Keyed by (rep, value shard) — the ``bloom_dedup_stream``
    ``__shard__`` pattern — so reps×shards groups update in parallel
    and the whole stream never funnels through only ``reps`` tasks;
    per-shard X_r sums to the unsharded X_r exactly (linearity over
    the value partition).  The shard is a deterministic hash of the
    value so replayed micro-batches land on the same groups.  Hashing
    and signing run IN SPARK with the batch operator's expressions.

    Emits (r, shard, version, x) snapshots; the consumer takes each
    group's max-version row, sums x over shards per r, and recombines
    ``sum(x_r²)/reps`` — BIT-IDENTICAL to the batch estimate over the
    same rows (integer arithmetic end to end).

    Checkpoint compatibility: the group key widened from (r) to
    (r, shard) when sharding landed (r11) — use a NEW checkpoint dir
    when upgrading across that boundary."""
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    from file_d_spark.functions import sketch as _sketch

    rows = F.explode(F.sequence(F.lit(0), F.lit(reps - 1))).alias("r")
    src = (
        df.select(F.col(value_col).cast("string").alias("v"))
        .where(F.col("v").isNotNull())
        .select("v", rows)
        .select(
            F.col("r").cast("int").alias("r"),
            # same value-keyed shard salt as cms_stream; independent of
            # the "#r" sign hash
            F.pmod(
                _sketch._h32(F.concat(F.col("v"), F.lit("#shard"))),
                F.lit(shards),
            ).cast("int").alias("shard"),
            (
                F.lit(1)
                - F.lit(2)
                * _sketch._h32(
                    F.concat(F.col("v"), F.lit("#r"), F.col("r").cast("string"))
                ).bitwiseAND(F.lit(1))
            ).cast("long").alias("s"),
        )
    )
    snap_schema = StructType(
        [
            StructField("r", IntegerType()),
            StructField("shard", IntegerType()),
            StructField("version", LongType()),
            StructField("x", LongType()),
        ]
    )

    def fn(
        key: tuple, frames: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            version, x = state.get
        else:
            version, x = 0, 0
        pdf = _concat_frames(frames)
        if not len(pdf):
            return
        x += int(pdf["s"].sum())
        version += 1
        state.update((version, x))
        yield pd.DataFrame(
            {"r": [key[0]], "shard": [key[1]], "version": [version], "x": [x]}
        )

    return src.groupBy("r", "shard").applyInPandasWithState(
        fn,
        snap_schema,
        "version long, x long",
        "append",
        GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# sketch-stream readout helpers (r12, VERDICT r11 #8): the sharded
# snapshots need a two-step recombination — max-version per (r, shard)
# group, then a LINEAR merge across shards per r.  Hand-rolling it is
# exactly where a consumer goes wrong (reading one shard's counters
# undercounts silently), so the merge ships as documented functions.
# All three operate on the BATCH frame read back from the stream's
# append sink.
# --------------------------------------------------------------------------


def _latest_snapshots(snapshots: DataFrame) -> DataFrame:
    """Max-version row per (r, shard) group — each group's snapshot is
    cumulative, so only the newest matters."""
    from pyspark.sql import Window

    w = Window.partitionBy("r", "shard").orderBy(F.col("version").desc())
    return (
        snapshots.withColumn("__rk__", F.row_number().over(w))
        .filter(F.col("__rk__") == 1)
        .drop("__rk__")
    )


def cms_readout(snapshots: DataFrame) -> DataFrame:
    """Merge :func:`cms_stream` snapshots into the UNSHARDED counter
    matrix: (r, counters), element-wise summing each row's per-shard
    counters (CMS counters are linear, so the sum is bit-identical to
    the shards=1 matrix over the same rows).  Feed the result to
    :func:`cms_point_query` for estimates."""
    cell = _latest_snapshots(snapshots).select(
        "r", F.posexplode("counters").alias("c", "cnt")
    )
    merged = cell.groupBy("r", "c").agg(F.sum("cnt").cast("long").alias("cnt"))
    return merged.groupBy("r").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("c", "cnt"))),
            lambda s: s["cnt"],
        ).alias("counters")
    )


def cms_point_query(
    merged: DataFrame, values: DataFrame, value_col: str
) -> DataFrame:
    """CMS point query over a :func:`cms_readout` matrix: for each
    value, min over the depth rows of its hashed cell — the same
    ``min_r matrix[r][h(v, r) mod width]`` rule as the batch
    ``sketch.cms_topk``, so estimates for the same arrivals are
    equal (asserted in tests/test_streaming_restart.py).  Returns
    (value_col, cms_estimate); the matrix side broadcasts (depth
    rows)."""
    from file_d_spark.functions import sketch as _sketch

    probes = values.select(
        F.col(value_col).cast("string").alias("__v__")
    ).where(F.col("__v__").isNotNull()).distinct()
    joined = probes.crossJoin(F.broadcast(merged)).select(
        "__v__",
        F.element_at(
            F.col("counters"),
            (
                F.pmod(
                    _sketch._h32(
                        F.concat(
                            F.col("__v__"), F.lit("#"),
                            F.col("r").cast("string"),
                        )
                    ),
                    F.size("counters"),
                )
                + 1
            ).cast("int"),
        ).alias("cnt"),
    )
    return joined.groupBy("__v__").agg(
        F.min("cnt").cast("long").alias("cms_estimate")
    ).withColumnRenamed("__v__", value_col)


def f2_readout(snapshots: DataFrame) -> DataFrame:
    """Recombine :func:`f2_stream` snapshots into the F2 estimate:
    sum x over shards per rep (AMS sketches are linear over the value
    partition), then ``sum(x_r²)/reps`` — one row
    (reps, f2_estimate), bit-identical to the batch
    ``sketch.f2_moment`` estimate over the same arrivals."""
    xs = _latest_snapshots(snapshots).groupBy("r").agg(
        F.sum("x").cast("long").alias("x")
    )
    return xs.agg(
        F.count(F.lit(1)).cast("int").alias("reps"),
        F.round(
            F.sum(F.col("x") * F.col("x")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            4,  # the batch f2_moment's output rounding
        ).alias("f2_estimate"),
    )


# --------------------------------------------------------------------------
# exact histogram quantiles, streaming twin
# --------------------------------------------------------------------------


def quantile_stream(
    df: DataFrame,
    group_col: str,
    score_col: str,
    quantiles: list | None = None,
) -> DataFrame:
    """Streaming twin of the histogram-quantile doctrine behind
    ``corpus.adaptive_quality_filter`` / ``corpus.quantile_normalize``:
    per-group integer-score histograms merged across micro-batches
    (histograms are sums — linear, so restart-stable), with each
    quantile read out by the batch operators' EXACT integer rule —
    the smallest score s with ``den·count(score ≤ s) ≥ num·count(*)``
    (quantile = num/den) — so after any prefix of arrivals every
    emitted threshold is BIT-IDENTICAL to the batch gate over the
    same rows, no float percentile drift.

    ``quantiles``: list of (num, den) integer fractions, default
    [(1,4), (1,2), (9,10)].  State per group is the (score → count)
    histogram — bounded by the group's distinct-score cardinality
    (the batch doctrine's own bound), not its row count.

    Emits one long-format row per (group, quantile) per batch:
    (group, version, num, den, n_rows, threshold)."""
    from pyspark.sql.types import LongType, StructField, StructType

    if quantiles is None:
        quantiles = [(1, 4), (1, 2), (9, 10)]
    qs = [(int(n), int(d)) for n, d in quantiles]
    for n, d in qs:
        if not 0 < n <= d:
            raise ValueError(f"quantile_stream: {n}/{d} not in (0, 1]")

    src = df.select(
        F.col(group_col).alias("__grp__"),
        F.col(score_col).cast("long").alias("__s__"),
    ).where(F.col("__s__").isNotNull())
    grp_type = df.schema[group_col].dataType
    snap_schema = StructType(
        [
            StructField(group_col, grp_type),
            StructField("version", LongType()),
            StructField("num", LongType()),
            StructField("den", LongType()),
            StructField("n_rows", LongType()),
            StructField("threshold", LongType()),
        ]
    )

    def fn(
        key: tuple, frames: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            version, scores, counts = state.get
            hist = dict(zip(scores, counts))
        else:
            version, hist = 0, {}
        pdf = _concat_frames(frames)
        if not len(pdf):
            return
        for s in pdf["__s__"].tolist():
            s = int(s)
            hist[s] = hist.get(s, 0) + 1
        version += 1
        items = sorted(hist.items())
        state.update(
            (version, [s for s, _ in items], [c for _, c in items])
        )
        tot = sum(c for _, c in items)
        out = []
        for n, d in qs:
            cum = 0
            thr = items[-1][0]
            for s, c in items:
                cum += c
                if cum * d >= tot * n:
                    thr = s
                    break
            out.append(
                {
                    group_col: key[0],
                    "version": version,
                    "num": n,
                    "den": d,
                    "n_rows": tot,
                    "threshold": thr,
                }
            )
        yield pd.DataFrame(out)

    return src.groupBy("__grp__").applyInPandasWithState(
        fn,
        snap_schema,
        "version long, scores array<long>, counts array<long>",
        "append",
        GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# embedding distribution audit, streaming twin (r12)
# --------------------------------------------------------------------------


def embedding_stats_stream(
    df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Streaming twin of ``similarity.embedding_stats`` — online
    encoder-drift monitoring: per-dimension counters merged across
    micro-batches (every aggregate is a sum or a min/max — linear and
    idempotently mergeable, so the snapshot after any prefix of
    arrivals is BIT-IDENTICAL to the batch audit over the same rows).
    The fixed-point projection (finite test, ±8 clamp, floor(v·2^20))
    and the mean/std derivation are the BATCH operator's own shared
    expressions (``_embedding_stats_cells`` /
    ``_embedding_stats_finalize``), so parity is structural, not
    re-implemented.

    State per group is 8 longs; groups = vector width (64 here) —
    tiny, and each group's arrivals partially aggregate map-side like
    any keyed stream.  Emits one post-batch snapshot per updated dim
    tagged with a monotonically increasing ``version`` (take the max
    version per dim)."""
    from pyspark.sql.types import LongType, StructField, StructType

    from file_d_spark.functions.similarity import (
        _embedding_stats_cells,
        _embedding_stats_finalize,
    )

    cells = _embedding_stats_cells(df, vec_col)
    snap_schema = StructType(
        [
            StructField("dim", LongType()),
            StructField("version", LongType()),
            StructField("n", LongType()),
            StructField("n_nonfinite", LongType()),
            StructField("n_clamped", LongType()),
            StructField("sum_fp", LongType()),
            StructField("sumsq_fp", LongType()),
            StructField("min_fp", LongType()),
            StructField("max_fp", LongType()),
            StructField("n_neg", LongType()),
        ]
    )

    def fn(
        key: tuple, frames: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            (version, n, n_nonf, n_cl, s, sq, mn, mx, neg) = state.get
        else:
            version, n, n_nonf, n_cl, s, sq, neg = 0, 0, 0, 0, 0, 0, 0
            mn, mx = None, None
        pdf = _concat_frames(frames)
        if not len(pdf):
            return
        n += len(pdf)
        # fin/cl are structurally non-NULL since the batch projection
        # coalesces the finite test, but a nullable boolean arrives as
        # object dtype in pandas and `~` on None raises — pin dtype.
        fin = pdf["fin"].fillna(False).astype(bool)
        cl = pdf["cl"].fillna(False).astype(bool)
        n_nonf += int((~fin).sum())
        n_cl += int(cl.sum())
        fp = pdf["v_fp"].dropna()
        if len(fp):
            vals = [int(x) for x in fp.tolist()]
            s += sum(vals)
            sq += sum(x * x for x in vals)
            bmn, bmx = min(vals), max(vals)
            mn = bmn if mn is None else min(mn, bmn)
            mx = bmx if mx is None else max(mx, bmx)
            neg += sum(1 for x in vals if x < 0)
        version += 1
        state.update(
            (version, n, n_nonf, n_cl, s, sq, mn, mx, neg)
        )
        yield pd.DataFrame(
            {
                "dim": [key[0]],
                "version": [version],
                "n": [n],
                "n_nonfinite": [n_nonf],
                "n_clamped": [n_cl],
                "sum_fp": [s],
                "sumsq_fp": [sq],
                "min_fp": [mn],
                "max_fp": [mx],
                "n_neg": [neg],
            }
        )

    snaps = cells.groupBy("dim").applyInPandasWithState(
        fn,
        snap_schema,
        "version long, n long, n_nonfinite long, n_clamped long,"
        " sum_fp long, sumsq_fp long, min_fp long, max_fp long,"
        " n_neg long",
        "append",
        GroupStateTimeout.NoTimeout,
    )
    return _embedding_stats_finalize(snaps, extra_cols=("version",))


# --------------------------------------------------------------------------
# categorical-association audit, streaming twin (r13)
# --------------------------------------------------------------------------


def assoc_audit_stream(df: DataFrame, cols: list[str]) -> DataFrame:
    """Streaming twin of ``corpus.assoc_audit``'s histogram half:
    per-(pair, va, vb) cell counters merged across micro-batches (a
    pure count — linear and idempotently mergeable, so the snapshot
    after any prefix of arrivals equals the batch histogram over the
    same rows).  The cell projection is the batch operator's own
    shared expression (``corpus._assoc_cells``).

    Emits one post-batch snapshot per updated cell tagged with a
    monotonically increasing ``version``.  The chi-square / Cramér's
    V derivation needs ALL of a pair's cells at once, so it is NOT
    folded into the per-cell state — run :func:`assoc_readout` over
    the collected snapshots (the CMS/F2 readout convention): it
    max-versions each cell and applies the batch finalize algebra,
    giving bit-parity with ``assoc_audit`` over the same rows."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from file_d_spark.functions.corpus import _assoc_cells

    cells = _assoc_cells(df, cols)
    snap_schema = StructType(
        [
            StructField("pair", StringType()),
            StructField("va", StringType()),
            StructField("vb", StringType()),
            StructField("version", LongType()),
            StructField("n_ab", LongType()),
        ]
    )

    def fn(
        key: tuple, frames: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            version, n_ab = state.get
        else:
            version, n_ab = 0, 0
        pdf = _concat_frames(frames)
        if not len(pdf):
            return
        n_ab += len(pdf)
        version += 1
        state.update((version, n_ab))
        yield pd.DataFrame(
            {
                "pair": [key[0]],
                "va": [key[1]],
                "vb": [key[2]],
                "version": [version],
                "n_ab": [n_ab],
            }
        )

    return cells.groupBy("pair", "va", "vb").applyInPandasWithState(
        fn,
        snap_schema,
        "version long, n_ab long",
        "append",
        GroupStateTimeout.NoTimeout,
    )


def assoc_readout(snaps: DataFrame) -> DataFrame:
    """Recombine :func:`assoc_audit_stream` snapshots into the
    chi-square / Cramér's V table: latest version per (pair, va, vb)
    cell, then the batch operator's own finalize algebra
    (``corpus._assoc_finalize``) — reading raw snapshots without the
    max-version step would double-count every re-emitted cell."""
    from pyspark.sql import Window

    from file_d_spark.functions.corpus import _assoc_finalize

    w = Window.partitionBy("pair", "va", "vb").orderBy(
        F.col("version").desc()
    )
    hist = (
        snaps.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .select(
            "pair", "va", "vb", F.col("n_ab").cast("double").alias("n_ab")
        )
    )
    return _assoc_finalize(hist)
