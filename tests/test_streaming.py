"""Structured Streaming stateful operator tests: file source ->
applyInPandasWithState -> memory sink, driven to completion with
availableNow + processAllAvailable."""

import json
import os
import time

import pytest


def _write_jsonl(tmpdir, name, rows):
    path = os.path.join(tmpdir, name)
    with open(path, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")
    return path


def _count_rows(spark, query_name):
    return spark.sql(f"SELECT count(*) AS n FROM {query_name}").collect()[0].n


def _batch_id(q):
    return (q.lastProgress or {}).get("batchId", -1)


def _run_stream(out_df, query_name, want_rows=None, timeout=120, quiesce=False):
    """Drive a stream and wait for ``want_rows`` rows in the memory
    table, then stop it.  Timer-driven stateful streams
    (applyInPandasWithState with processing-time timeouts) NEVER
    self-terminate under availableNow — a bare ``awaitTermination(120)``
    here used to burn the full 120 s PER TEST (~24 min of pure wait
    across this file; r14).  Memory-sink batches commit atomically, so
    any ``want_rows`` <= the final count of the batch that completes
    the expectation is safe; rows emitted by LATER timer-flush batches
    need the exact final count.  Falls back to the full timeout (same
    behavior as before) when ``want_rows`` never arrives — the
    assertions that follow then fail with the real row set.

    ``quiesce=True`` then lets one more whole trigger commit before the
    stop and asserts it emitted no rows: polling stops at the expected
    count, so over-emission in a later batch would otherwise go unseen.
    The batch that emitted the rows may still be reporting progress when
    they become visible, so "one more" is two batch ids past the last
    reported one."""
    spark = out_df.sparkSession
    q = (
        out_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    deadline = time.time() + timeout
    while time.time() < deadline:
        if q.awaitTermination(1):
            return q  # self-terminated (no pending timers)
        if want_rows is not None:
            n = _count_rows(spark, query_name)
            if n >= want_rows:
                break
    if quiesce and n >= want_rows:
        last = _batch_id(q)
        while _batch_id(q) < last + 2 and time.time() < deadline:
            if q.awaitTermination(0.2):
                break
        assert _batch_id(q) >= last + 2 or not q.isActive, "no later trigger ran"
        assert _count_rows(spark, query_name) == n, "a later trigger emitted rows"
    q.stop()
    q.awaitTermination(30)
    return q


@pytest.fixture()
def stream_reader(spark, tmp_path):
    def make(rows, schema):
        d = tmp_path / "in"
        d.mkdir(exist_ok=True)
        _write_jsonl(str(d), "part-0.jsonl", rows)
        return spark.readStream.schema(schema).json(str(d))

    return make


def test_multiline_join_stream(spark, stream_reader):
    from file_d_spark.streaming import multiline_join_stream

    rows = [
        {"src": "a", "seq": 1, "log": "start A"},
        {"src": "a", "seq": 2, "log": " cont1"},
        {"src": "a", "seq": 3, "log": " cont2"},
        {"src": "a", "seq": 4, "log": "plain"},
        {"src": "a", "seq": 5, "log": "start B"},
        {"src": "a", "seq": 6, "log": " contB"},
        {"src": "b", "seq": 1, "log": " orphan-cont"},
        {"src": "b", "seq": 2, "log": "start C"},
    ]
    df = stream_reader(rows, "src string, seq long, log string")
    out = multiline_join_stream(
        df,
        key_cols=["src"],
        seq_col="seq",
        field="log",
        start_re=r"^start",
        continue_re=r"^\s",
        event_timeout_ms=500,
    )
    _run_stream(out, "mjoin", want_rows=5)
    # first batch emits completed sequences; the open "start C" and
    # "start B contB" tails flush on timeout — poke the stream again
    got = {
        (r.src, r.seq): r.log
        for r in spark.sql("SELECT * FROM mjoin").collect()
    }
    assert got[("a", 1)] == "start A cont1 cont2"
    assert got[("a", 4)] == "plain"
    assert got[("b", 1)] == " orphan-cont"


def _apply(df, *actions):
    from file_d_spark import Pipeline

    return Pipeline.from_dict({"actions": list(actions)}).apply(df)


def test_throttle_stream(spark, stream_reader):
    rows = [
        {"k": "x", "ts": f"2024-01-01T00:00:{i:02d}.000Z", "n": i} for i in range(10)
    ] + [{"k": "y", "ts": "2024-01-01T00:00:30.000Z", "n": 100}]
    df = stream_reader(rows, "k string, ts timestamp, n long")
    out = _apply(df, {
        "type": "throttle", "throttle_field": "k", "time_field": "ts",
        "bucket_interval": "1m", "buckets_count": 10, "default_limit": 3,
    })
    _run_stream(out, "thr", want_rows=4, quiesce=True)
    got = spark.sql("SELECT k, count(*) c FROM thr GROUP BY k").collect()
    counts = {r.k: r.c for r in got}
    assert counts == {"x": 3, "y": 1}


_CARDINALITY = {
    "type": "cardinality", "key": "tenant", "fields": ["trace"],
    "action": "discard",
}


def test_cardinality_stream(spark, stream_reader):
    rows = [{"tenant": "t1", "trace": f"tr{i}", "i": i} for i in range(6)] + [
        {"tenant": "t2", "trace": "tr0", "i": 99}
    ]
    df = stream_reader(rows, "tenant string, trace string, i long")
    out = _apply(df, {**_CARDINALITY, "limit": 3})
    _run_stream(out, "card", want_rows=4)
    got = spark.sql("SELECT tenant, count(*) c FROM card GROUP BY tenant").collect()
    counts = {r.tenant: r.c for r in got}
    # t1 exceeds 3 distinct traces mid-batch: first 4 events admitted
    # before the limit trips (4th pushes distinct>3 -> over), rest drop
    assert counts.get("t2") == 1
    assert counts.get("t1", 0) <= 4


def test_windowed_agg_with_watermark(spark, stream_reader):
    """Tumbling-window streaming aggregation with a watermark — the
    throttle bucket ring / dead-time cutoff in declarative form
    (SURVEY §2.3 #28: late data beyond the horizon is dropped)."""
    from pyspark.sql import functions as F

    rows = [
        {"k": "a", "ts": "2024-01-01T00:00:10.000Z", "v": 1.0},
        {"k": "a", "ts": "2024-01-01T00:00:50.000Z", "v": 2.0},
        {"k": "b", "ts": "2024-01-01T00:01:10.000Z", "v": 5.0},
    ]
    df = stream_reader(rows, "k string, ts timestamp, v double")
    agg = (
        df.withWatermark("ts", "5 seconds")
        .groupBy(F.window("ts", "1 minute"), "k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("total"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wagg")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.k, r.window.start.isoformat()): (r.n, r.total)
        for r in spark.sql("SELECT * FROM wagg").collect()
    }
    # watermark = max(ts) - 5s = 00:01:05 -> the 00:00 window is
    # finalized and emitted; the 00:01 window is still open (append
    # mode withholds it) — exactly the bucket-ring horizon behavior
    assert got == {("a", "2024-01-01T00:00:00"): (2, 3.0)}


def test_antispam_stream(spark, stream_reader):
    rows = [{"source": "spammy", "i": i} for i in range(20)] + [
        {"source": "quiet", "i": 1}
    ]
    df = stream_reader(rows, "source string, i long")
    out = _apply(df, {
        "type": "antispam", "source_field": "source", "threshold": 10,
        "maintenance_interval": "1m",
    })
    _run_stream(out, "anti", want_rows=10)
    got = {
        (r.source, r.i)
        for r in spark.sql("SELECT source, i FROM anti").collect()
    }
    # reference per-event admission (IsSpam: drop iff post-increment
    # x >= threshold): the burst's first threshold-1 events PASS and
    # only the overflow is dropped — not the whole micro-batch
    assert {i for s, i in got if s == "spammy"} == set(range(9))
    assert ("quiet", 1) in got


def test_antispam_stream_idle_unban(spark, tmp_path):
    """A banned source that goes quiet for 4 maintenance ticks is
    unbanned (reference antispammer.go:24-120: counter decays each
    maintenance cycle; 4 idle cycles -> unban)."""
    import json
    import time

    src = tmp_path / "in"
    src.mkdir()

    def write(name, rows):
        tmp = tmp_path / (name + ".tmp")
        tmp.write_text("\n".join(json.dumps(r) for r in rows))
        tmp.rename(src / name)  # atomic: the reader never sees partials

    sdf = spark.readStream.schema("source string, i long").json(str(src))
    out = _apply(sdf, {
        "type": "antispam", "source_field": "source", "threshold": 3,
        "maintenance_interval": "1s",
    })
    q = (
        out.writeStream.format("memory")
        .queryName("unban")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        # over-threshold burst -> spammy is banned, nothing emitted
        write("b0.json", [{"source": "spammy", "i": i} for i in range(10)])
        time.sleep(3)
        # probe in rounds: heartbeats from another source keep
        # micro-batches (and thus state-timeout processing) running
        # while spammy stays idle, then spammy returns.  A probe that
        # lands BEFORE 4 idle ticks were processed is suppressed AND
        # resets the idle counter (activity resets decay, like the
        # reference), so on a lagging host we idle again and re-probe
        # with a fresh i rather than flaking on one-shot timing.
        seen = set()
        unbanned = False
        hb = 0
        for attempt in range(4):
            for _ in range(12):
                write(f"hb{hb}.json", [{"source": "other", "i": hb}])
                hb += 1
                time.sleep(0.7)
            probe = 100 + attempt
            write(f"b{attempt + 1}.json", [{"source": "spammy", "i": probe}])
            deadline = time.time() + 25
            while time.time() < deadline:
                seen = {
                    (r.source, r.i)
                    for r in spark.sql("SELECT source, i FROM unban").collect()
                }
                if ("spammy", probe) in seen:
                    unbanned = True
                    break
                time.sleep(0.5)
            if unbanned:
                break
    finally:
        q.stop()
    assert unbanned, f"still banned after idle ticks: {sorted(seen)}"
    # of the original burst only the pre-threshold events (x < 3:
    # i=0,1) passed; the overflow stays suppressed; heartbeats flowed
    assert not any(s == "spammy" and 2 <= i < 100 for s, i in seen)
    assert ("other", 0) in seen


def test_session_window_stream(spark, stream_reader):
    """Streaming sessionization via Spark's native session_window —
    the streaming counterpart of the batch sessionize query (gap-based
    sessions close when no event arrives within the gap and the
    watermark passes)."""
    from pyspark.sql import functions as F

    rows = [
        # user u1: two events 10s apart (one session), then a 2min gap,
        # then another event (second session)
        {"u": "u1", "ts": "2024-01-01T00:00:00.000Z", "v": 1.0},
        {"u": "u1", "ts": "2024-01-01T00:00:10.000Z", "v": 2.0},
        {"u": "u1", "ts": "2024-01-01T00:02:30.000Z", "v": 4.0},
        # u2: single event
        {"u": "u2", "ts": "2024-01-01T00:00:05.000Z", "v": 9.0},
        # late closer so the watermark passes every session's gap
        {"u": "zz", "ts": "2024-01-01T00:10:00.000Z", "v": 0.0},
    ]
    df = stream_reader(rows, "u string, ts timestamp, v double")
    agg = (
        df.withWatermark("ts", "5 seconds")
        .groupBy(F.session_window("ts", "60 seconds"), "u")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("total"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("sess")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.u, r.session_window.start.isoformat()): (r.n, r.total)
        for r in spark.sql("SELECT * FROM sess").collect()
    }
    assert got[("u1", "2024-01-01T00:00:00")] == (2, 3.0)
    assert got[("u1", "2024-01-01T00:02:30")] == (1, 4.0)
    assert got[("u2", "2024-01-01T00:00:05")] == (1, 9.0)


def test_throttle_stream_rules(spark, stream_reader):
    """Per-rule streaming throttle: the error rule admits 1 per bucket,
    everything else falls to the default limit 3 — each rule owns its
    own ring (limiter key embeds the rule index)."""
    from file_d_spark.actions import build_action

    rows = (
        [{"k": "x", "level": "error", "ts": f"2024-01-01T00:00:{i:02d}.000Z"}
         for i in range(5)]
        + [{"k": "x", "level": "info", "ts": f"2024-01-01T00:00:{i:02d}.500Z"}
           for i in range(5)]
    )
    df = stream_reader(rows, "k string, level string, ts timestamp")
    act = build_action(
        {
            "type": "throttle",
            "throttle_field": "k",
            "time_field": "ts",
            "bucket_interval": "1m",
            "buckets_count": 10,
            "default_limit": 3,
            "rules": [
                {"limit": 1, "conditions": {"level": "error"}},
            ],
        }
    )
    out = act.apply(df)
    _run_stream(out, "thr_rules", want_rows=4, quiesce=True)
    got = spark.sql(
        "SELECT level, count(*) c FROM thr_rules GROUP BY level"
    ).collect()
    counts = {r.level: r.c for r in got}
    assert counts == {"error": 1, "info": 3}


def test_throttle_limiter_backend_redis_rejected(spark, stream_reader):
    """``limiter_backend: redis`` is refused on a batch frame AND on a
    streaming frame, never run silently on the config limits;
    ``memory`` builds on both and, on a batch frame, admits exactly
    what an absent key admits."""
    from file_d_spark.actions import build_action

    rows = [{"k": "x", "ts": f"2024-01-01T00:00:{i:02d}.000Z"} for i in range(5)]
    stream = stream_reader(rows, "k string, ts timestamp")
    batch = spark.createDataFrame(
        [(r["k"], r["ts"]) for r in rows], "k string, ts string"
    )

    def throttle(**extra):
        return build_action(
            {
                "type": "throttle",
                "throttle_field": "k",
                "time_field": "ts",
                "bucket_interval": "1m",
                "buckets_count": 10,
                "default_limit": 3,
                **extra,
            }
        )

    for frame in (batch, stream):
        with pytest.raises(ValueError, match="'redis' is not supported"):
            throttle(limiter_backend="redis").apply(frame)
        with pytest.raises(ValueError, match=r"must be memory\|redis"):
            throttle(limiter_backend="etcd").apply(frame)
    assert throttle(limiter_backend="memory").apply(stream).isStreaming
    assert (
        throttle(limiter_backend="memory").apply(batch).count()
        == throttle().apply(batch).count()
        == 3
    )


def test_throttle_stream_distribution_steal(spark, stream_reader):
    """Streaming limit_distribution with default-reserve stealing:
    ratios reserve 0.5 for errors (limit 6 -> 3), default gets 3; a
    burst of defaults steals only from the UNUSED error reserve."""
    from file_d_spark.actions import build_action

    rows = [
        {"k": "x", "level": "warn", "ts": f"2024-01-01T00:00:{i:02d}.000Z"}
        for i in range(8)
    ]
    df = stream_reader(rows, "k string, level string, ts timestamp")
    act = build_action(
        {
            "type": "throttle",
            "throttle_field": "k",
            "time_field": "ts",
            "bucket_interval": "1m",
            "buckets_count": 10,
            "default_limit": 6,
            "limit_distribution": {
                "field": "level",
                "ratios": [{"ratio": 0.5, "values": ["error"]}],
            },
        }
    )
    out = act.apply(df)
    _run_stream(out, "thr_dist", want_rows=6)
    # default reserve 3 admits 3; overflow steals the error reserve (3)
    assert spark.sql("SELECT count(*) c FROM thr_dist").collect()[0].c == 6


def test_join_template_stream_per_template_gating(spark, stream_reader):
    """Streaming join_template: the template whose start opened the
    block governs the continue check (join_template.go firstCheck/
    nextCheck) — a C# continuation line after a Go panic start must
    NOT extend the Go block; parity with the batch operator's gating
    (Q join_template_multi)."""
    from file_d_spark import Pipeline

    rows = [
        {"src": "a", "seq": 1, "log": "panic: boom"},
        {"src": "a", "seq": 2, "log": "goroutine 7 [running]:"},
        # cs_exception continue ("   at ...") right after a go_panic
        # block: go_panic's continue also matches leading-whitespace?
        # no — "   at Foo.Bar()" matches cs 'at' rule but go_panic's
        # method-call rule ALSO matches "Foo.Bar()" — pick a line only
        # the cs template continues:
        {"src": "a", "seq": 3, "log": "   ---> inner exception"},
        {"src": "a", "seq": 4, "log": "plain line"},
        {"src": "a", "seq": 5, "log": "Unhandled exception. X"},
        {"src": "a", "seq": 6, "log": "   ---> inner exception"},
    ]
    df = stream_reader(rows, "src string, seq long, log string")
    p = Pipeline.from_dict(
        {
            "actions": [
                {
                    "type": "join_template",
                    "templates": ["go_panic", "cs_exception"],
                    "field": "log",
                    "source_field": "src",
                    "seq_field": "seq",
                    "event_timeout_ms": 500,
                }
            ]
        }
    )
    out = p.apply(df)
    _run_stream(out, "jts", want_rows=4)
    got = {
        (r.src, r.seq): r.log
        for r in spark.sql("SELECT * FROM jts").collect()
    }
    # go block closed BEFORE the cs continue line (cross-template leak
    # would have glued seq 3 into it)
    assert got[("a", 1)] == "panic: boomgoroutine 7 [running]:"
    assert got[("a", 3)] == "   ---> inner exception"
    assert got[("a", 4)] == "plain line"
    # the cs block consumed ITS continue and flushed via timeout
    assert got.get(("a", 5)) == "Unhandled exception. X   ---> inner exception"


def test_cardinality_stream_at_limit_cached_value(spark, stream_reader):
    """Reference order (cardinality.go Do:259-295): the check runs
    BEFORE the insert, so once `limit` distinct values accumulated, an
    event is acted on EVEN IF its own value is already cached — the
    batch sequential path's exact rule."""
    rows = [
        {"tenant": "t", "trace": "A", "i": 0},
        {"tenant": "t", "trace": "B", "i": 1},
        {"tenant": "t", "trace": "A", "i": 2},  # cached value, at limit
    ]
    df = stream_reader(rows, "tenant string, trace string, i long")
    out = _apply(df, {**_CARDINALITY, "limit": 2})
    _run_stream(out, "card_at_limit", want_rows=2)
    got = sorted(r.i for r in spark.sql("SELECT i FROM card_at_limit").collect())
    assert got == [0, 1], f"cached-value event at the limit admitted: {got}"


def test_cardinality_stream_multi_key_multi_field(spark, stream_reader):
    """Multi-key / multi-field configs go through the engine as
    composite concat_ws columns (batch parity): distinct counting is
    per (k1, k2) over (f1, f2), and remove_fields strips EVERY
    configured field."""
    from file_d_spark import Pipeline

    rows = [
        {"k1": "a", "k2": "x", "f1": "1", "f2": "1", "i": 0},
        {"k1": "a", "k2": "x", "f1": "2", "f2": "2", "i": 1},
        # different k2 -> separate composite key, stays under limit
        {"k1": "a", "k2": "y", "f1": "9", "f2": "9", "i": 2},
        # (a, x) at the limit -> fields stripped
        {"k1": "a", "k2": "x", "f1": "3", "f2": "3", "i": 3},
    ]
    import json as _json
    import tempfile

    d = tempfile.mkdtemp()
    with open(f"{d}/rows.jsonl", "w") as fh:
        fh.write("\n".join(_json.dumps(r) for r in rows))
    schema = "k1 string, k2 string, f1 string, f2 string, i long"
    sdf = spark.readStream.schema(schema).json(d)
    p = Pipeline.from_dict(
        {
            "actions": [
                {
                    "type": "cardinality",
                    "key": ["k1", "k2"],
                    "fields": ["f1", "f2"],
                    "limit": 2,
                    "action": "remove_fields",
                }
            ]
        }
    )
    _run_stream(p.apply(sdf), "card_multi", want_rows=4)
    got = {r.i: r for r in spark.sql("SELECT * FROM card_multi").collect()}
    assert set(got) == {0, 1, 2, 3}
    assert got[0].f1 == "1" and got[1].f2 == "2" and got[2].f1 == "9"
    assert got[3].f1 is None and got[3].f2 is None  # BOTH fields stripped
    assert not [c for c in got[0].asDict() if c.startswith("__fd_")]


def test_cardinality_stream_strips_nested_selector(spark, stream_reader):
    """A NESTED strip selector (meta.trace) must null the leaf inside
    the struct — batch parity with set_field.  The old top-level
    `rec['meta.trace'] = None` planted a bogus key that the output
    projection silently dropped, so the real nested field leaked
    through unstripped."""
    from file_d_spark import Pipeline

    rows = [
        {"tenant": "t", "meta": {"trace": "A", "keep": "k0"}, "i": 0},
        # second distinct trace under limit=1 -> acted on
        {"tenant": "t", "meta": {"trace": "B", "keep": "k1"}, "i": 1},
    ]
    schema = "tenant string, meta struct<trace string, keep string>, i long"
    df = stream_reader(rows, schema)
    p = Pipeline.from_dict(
        {
            "actions": [
                {
                    "type": "cardinality",
                    "key": "tenant",
                    "fields": ["meta.trace"],
                    "limit": 1,
                    "action": "remove_fields",
                }
            ]
        }
    )
    _run_stream(p.apply(df), "card_nested", want_rows=2)
    got = {r.i: r for r in spark.sql("SELECT * FROM card_nested").collect()}
    assert set(got) == {0, 1}
    assert got[0].meta.trace == "A" and got[0].meta.keep == "k0"
    assert got[1].meta.trace is None, "nested field survived the strip"
    assert got[1].meta.keep == "k1", "sibling field must survive"


def test_throttle_stream_keyless_and_numeric_epoch(spark, stream_reader):
    """Keyless throttle (no throttle_field = one shared limiter) must
    run in streaming, and a numeric epoch-seconds time_field must
    parse through the batch xtime machinery — bare pd.to_datetime read
    it as NANOSECONDS and collapsed every event into bucket ~0."""
    from file_d_spark import Pipeline

    rows = [
        # two distinct hours, unix SECONDS; limit 1/bucket
        {"t": 1704067200, "i": 0},
        {"t": 1704067201, "i": 1},   # same hour -> over limit
        {"t": 1704070800, "i": 2},   # next hour -> admitted
    ]
    df = stream_reader(rows, "t long, i long")
    p = Pipeline.from_dict(
        {
            "actions": [
                {
                    "type": "throttle",
                    "time_field": "t",
                    "time_field_format": "unixtime",
                    "bucket_interval": "1h",
                    "buckets_count": 10,
                    "default_limit": 1,
                }
            ]
        }
    )
    _run_stream(p.apply(df), "thr_keyless", want_rows=2)
    got = sorted(r.i for r in spark.sql("SELECT i FROM thr_keyless").collect())
    # nanosecond misparse would put all three in one bucket -> [0];
    # correct parsing admits one per hour bucket
    assert got == [0, 2], got


def test_multiline_stream_max_event_size_and_missing_source(spark, stream_reader):
    """max_event_size caps the joined value exactly like the batch
    substring; a stream without the source column runs as
    single-source (batch parity) instead of failing groupBy."""
    from file_d_spark.streaming import multiline_join_stream

    rows = [
        {"seq": 0, "log": "START aaaa"},
        {"seq": 1, "log": "cont bbbb"},
        {"seq": 2, "log": "cont cccc"},
        {"seq": 3, "log": "OTHER"},  # breaks the sequence -> flush
    ]
    df = stream_reader(rows, "seq long, log string")
    out = multiline_join_stream(
        df,
        key_cols=["source_id"],  # absent column -> backfilled
        seq_col="seq",
        field="log",
        start_re="^START",
        continue_re="^cont",
        max_event_size=15,
    )
    _run_stream(out, "mjoin_cap", want_rows=2)
    got = {r.seq: r.log for r in spark.sql("SELECT * FROM mjoin_cap").collect()}
    joined = got[0]
    assert joined == ("START aaaa" + "cont bbbb" + "cont cccc")[:15]
    assert got[3] == "OTHER"
    cols = spark.sql("SELECT * FROM mjoin_cap").columns
    assert "source_id" not in cols  # synthetic key dropped from output


_PARITY_SCHEMA = "src string, time string, lvl string, msg string, i long"
_NOT_DEBUG = {
    "op": "not",
    "operands": [{"op": "equal", "field": "lvl", "values": ["debug"]}],
}


def _ev(i, src="a", lvl="info", msg="req", time="auto"):
    ev = {"src": src, "lvl": lvl, "msg": msg, "i": i}
    if time is not None:
        ev["time"] = f"2024-01-01T00:00:{i:02d}Z" if time == "auto" else time
    return ev


_ANTISPAM = {
    "type": "antispam", "source_field": "src", "time_field": "time",
    "maintenance_interval": "10m",
}

# case -> (pipeline keys, input files (one per trigger), antispam
# relation or None).  None: the stream keeps exactly what batch keeps.
# An antispam relation lists each source's counted events in arrival
# order with their threshold, and the blocked events.
_PARITY = {
    "cardinality": (
        {"actions": [{
            "type": "cardinality", "key": ["src"], "fields": ["msg"],
            "limit": 3, "action": "discard", "order_fields": ["i"],
        }]},
        [[_ev(i, msg=f"tr{i % 4}") for i in range(6)],
         [_ev(i, msg=f"tr{i % 4}") for i in range(6, 12)]],
        None,
    ),
    "gated_throttle": (
        {"actions": [{
            "type": "throttle", "throttle_field": "src",
            "bucket_interval": "1m", "default_limit": 2, "do_if": _NOT_DEBUG,
        }]},
        [[_ev(0), _ev(1), _ev(2, lvl="debug"), _ev(3)],
         [_ev(4), _ev(5, lvl="debug"), _ev(6, src="b")]],
        None,
    ),
    "gated_cardinality": (
        {"actions": [{
            "type": "cardinality", "key": "src", "fields": ["msg"],
            "limit": 2, "action": "discard", "order_fields": ["i"],
            "do_if": _NOT_DEBUG,
        }]},
        [[_ev(0, msg="t0"), _ev(1, lvl="debug", msg="t9"), _ev(2, msg="t1")],
         [_ev(3, msg="t2"), _ev(4, lvl="debug", msg="t8"), _ev(5, msg="t0"),
          _ev(6, src="b", msg="t0")]],
        None,
    ),
    "gated_antispam": (
        {"actions": [{**_ANTISPAM, "threshold": 3, "do_if": _NOT_DEBUG}]},
        [[_ev(0), _ev(1), _ev(2), _ev(3, lvl="debug")],
         [_ev(4), _ev(5), _ev(6, lvl="debug"), _ev(7, src="b"), _ev(8, src="b")]],
        {"counted": [([0, 1, 2, 4, 5], 3), ([7, 8], 3)], "blocked": []},
    ),
    "antispam_rules": (
        {"actions": [{**_ANTISPAM, "threshold": 5, "rules": [
            {"name": "strict", "threshold": 2,
             "do_if": {"op": "equal", "field": "src", "values": ["a"]}},
            {"name": "free", "threshold": -1,
             "do_if": {"op": "equal", "field": "lvl", "values": ["audit"]}},
            {"name": "block", "threshold": 0,
             "do_if": {"op": "equal", "field": "lvl", "values": ["spam"]}},
        ]}]},
        [[_ev(0), _ev(1), _ev(2, src="c", lvl="audit"),
          _ev(3, src="c", lvl="spam"), _ev(4, src="b")],
         [_ev(5), _ev(6, src="b"), _ev(7, src="c", lvl="audit"),
          _ev(8, src="c", lvl="spam"), _ev(9, src="b")]],
        {"counted": [([0, 1, 5], 2), ([4, 6, 9], 5)], "blocked": [3, 8]},
    ),
    "antispam_exceptions": (
        {"actions": [{**_ANTISPAM, "threshold": 2, "exceptions": [
            {"name": "hc", "cond": "or",
             "rules": [{"mode": "contains", "values": ["healthcheck"]}]},
        ]}]},
        [[_ev(0), _ev(1, msg="healthcheck"), _ev(2)],
         [_ev(3), _ev(4, msg="healthcheck"), _ev(5, src="b")]],
        {"counted": [([0, 2, 3], 2), ([5], 2)], "blocked": []},
    ),
    # keyed on the input's _source_name (one source per file) without
    # meta; threshold 1/s x the default 5 s interval = 5 per window
    "settings_antispam_no_meta": (
        {"settings": {"antispam_threshold": 1}},
        [[_ev(i) for i in range(8)], [_ev(8), _ev(9)]],
        {"counted": [(list(range(8)), 5), ([8, 9], 5)], "blocked": []},
    ),
    # an event without a time and one with an unparseable time share
    # the NULL bucket, which the second trigger reads back from state
    "throttle_no_time": (
        {"actions": [{
            "type": "throttle", "throttle_field": "src", "default_limit": 1,
            "order_fields": ["i"],
        }]},
        [[_ev(0), _ev(1, time=None)], [_ev(2, time="garbage"), _ev(3)]],
        None,
    ),
}


@pytest.mark.parametrize("case", list(_PARITY))
def test_batch_stream_parity(spark, tmp_path, case):
    """Prefix consistency (Structured Streaming, SIGMOD 2018): one
    pipeline over the same files, read as a batch and as a stream with
    one file per trigger, keeps the same events.  Gated, excepted and
    blocked events are identical in both.  Antispam differs by design:
    batch drops every counted event of a source whose window count
    exceeds its threshold, while the stream's per-event counter passes
    the first threshold - 1 events of each source and drops the rest —
    the test checks that relation.  The streams ignore
    ``order_fields`` and count in arrival order, which is ``i`` order
    here."""
    from file_d_spark import Pipeline

    keys, files, antispam = _PARITY[case]
    for n, rows in enumerate(files):
        _write_jsonl(str(tmp_path), f"part-{n}.jsonl", rows)
    p = Pipeline.from_dict({
        "settings": {
            "decoder": "json",
            "decoder_params": {"schema": _PARITY_SCHEMA},
            **keys.get("settings", {}),
        },
        "input": {
            "type": "file", "path": str(tmp_path),
            "filename_pattern": "*.jsonl", "max_files_per_trigger": 1,
        },
        "actions": keys.get("actions", []),
    })
    batch = sorted(r.i for r in p.apply(p.read(spark)).collect())
    if antispam is None:
        want_batch = want_stream = batch
    else:
        counted = [i for ids, _ in antispam["counted"] for i in ids]
        passed = [
            r["i"] for rows in files for r in rows
            if r["i"] not in counted and r["i"] not in antispam["blocked"]
        ]
        want_batch = sorted(passed + [
            i for ids, thr in antispam["counted"] if len(ids) <= thr
            for i in ids
        ])
        want_stream = sorted(passed + [
            i for ids, thr in antispam["counted"] for i in ids[: thr - 1]
        ])
    assert batch == want_batch
    name = f"parity_{case}"
    _run_stream(
        p.apply(p.read_stream(spark)), name, want_rows=len(want_stream),
        quiesce=True,
    )
    stream = sorted(r.i for r in spark.sql(f"SELECT i FROM {name}").collect())
    assert stream == want_stream


def test_streaming_exports_only_what_actions_import():
    """The streaming package exports exactly the operators a pipeline
    config reaches: the names ``file_d_spark/actions/*.py`` import from
    ``file_d_spark.streaming``.  An operator no action runs is dead
    code with a restart surface of its own."""
    import ast
    import pathlib

    import file_d_spark.streaming as streaming

    actions = pathlib.Path(streaming.__file__).parents[1] / "actions"
    imported = set()
    for path in actions.glob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.ImportFrom)
                and node.module == "file_d_spark.streaming"
            ):
                imported.update(alias.name for alias in node.names)
    assert sorted(streaming.__all__) == sorted(imported)
