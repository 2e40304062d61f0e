"""Checkpoint-restart recovery for the stateful streaming trio:
throttle / cardinality / antispam state must SURVIVE a query restart
(kill + new query on the same checkpoint), continuing counts rather
than resetting them.  The file source's restart-no-dup behavior is
covered in test_pipeline_stream; this file covers the state stores.

Pattern per test: batch 1 -> run until its effect is visible -> stop
-> drop batch 2 into the source dir -> NEW query, SAME checkpoint +
sink -> assert the continued-state outcome (which differs observably
from the state-reset outcome).

Timer-driven state ops never self-terminate under availableNow (the
processing-time timeout keeps the query alive), so each drive polls an
observable condition and stops the query — the pattern
test_streaming.py::test_antispam_stream_idle_unban established."""

import json
import os
import time

import pytest


def _write_jsonl(d, name, rows):
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, name + ".tmp")
    with open(tmp, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")
    os.rename(tmp, os.path.join(d, name))  # atomic for the reader


def _read_out(spark, out_dir, schema):
    if not os.path.isdir(str(out_dir)):
        return []
    try:
        return spark.read.schema(schema).json(str(out_dir)).collect()
    except Exception:
        return []


def _drive(out_df, out_dir, ckpt, done, settle_s=1.5, timeout_s=90):
    q = (
        out_df.writeStream.format("json")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            if done(q):
                break
            time.sleep(0.5)
        else:
            raise AssertionError("stream drive never reached its condition")
        time.sleep(settle_s)  # let any straggler batch commit
    finally:
        q.stop()


def _inputs_processed(q, n):
    return sum(p["numInputRows"] for p in q.recentProgress) >= n


_CKPT_PKG = "org.apache.spark.sql.execution.streaming.checkpointing."
_CKPT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"


@pytest.mark.parametrize(
    "first_manager",
    [None, _CKPT_PKG + "FileContextBasedCheckpointFileManager"],
    ids=["default", "from_filecontext"],
)
def test_throttle_state_survives_restart(spark, tmp_path, first_manager):
    """from_filecontext: the first leg writes its checkpoint through
    Spark's FileContext-based manager (Spark's own default), the
    restart resumes it under the session's manager — no migration."""
    from file_d_spark.streaming import throttle_stream

    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    schema = "k string, ts timestamp, i long"

    def make_query():
        df = spark.readStream.schema(schema).json(str(in_dir))
        return throttle_stream(
            df, key_col="k", ts_col="ts", bucket_interval_s=60,
            buckets_count=10, limit=3,
        )

    # batch 1: exactly the limit — ring for x's bucket is now full
    _write_jsonl(str(in_dir), "b1.jsonl", [
        {"k": "x", "ts": f"2024-01-01T00:00:0{i}.000Z", "i": i}
        for i in range(3)
    ])
    session_manager = spark.conf.get(_CKPT_MANAGER_CONF)
    if first_manager:
        spark.conf.set(_CKPT_MANAGER_CONF, first_manager)
    try:
        _drive(
            make_query(), out_dir, ckpt,
            lambda q: len(_read_out(spark, out_dir, schema)) >= 3,
        )
    finally:
        spark.conf.set(_CKPT_MANAGER_CONF, session_manager)

    # batch 2: same bucket.  Survived state -> all 3 dropped;
    # reset state -> all 3 admitted.
    _write_jsonl(str(in_dir), "b2.jsonl", [
        {"k": "x", "ts": f"2024-01-01T00:00:1{i}.000Z", "i": 100 + i}
        for i in range(3)
    ] + [{"k": "y", "ts": "2024-01-01T00:00:20.000Z", "i": 999}])
    _drive(
        make_query(), out_dir, ckpt,
        lambda q: any(
            r.k == "y" for r in _read_out(spark, out_dir, schema)
        ),
    )

    by_key: dict = {}
    for r in _read_out(spark, out_dir, schema):
        by_key.setdefault(r.k, []).append(r.i)
    assert sorted(by_key["x"]) == [0, 1, 2], (
        f"throttle ring reset across restart: admitted {by_key['x']}"
    )
    assert by_key["y"] == [999]  # the restarted query does admit fresh keys


def test_checkpoint_manager_atomic_contract(spark, tmp_path):
    """The session's checkpoint manager is the FileSystem-based one and
    keeps the CheckpointFileManager contract restarts rely on:
    - a write publishes complete bytes and leaves no temp file;
    - createAtomic without overwrite (every log: offsets, commits,
      source, sink) refuses an existing file and leaves its bytes
      alone, so two query instances cannot both commit one batch id;
    - with overwrite (state-store version files a re-executed batch
      writes again) it does not raise and the file holds one complete
      copy — best effort, as the contract allows: on a local disk
      FileSystem.rename keeps the existing file.
    Temp files a refused or kept write leaves behind are hidden
    (dot-prefixed), which log and state-store listings skip."""
    from py4j.protocol import Py4JJavaError

    jvm = spark._jvm
    fs_pkg = jvm.org.apache.hadoop.fs
    ckpt_pkg = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    mgr = ckpt_pkg.CheckpointFileManager.create(
        fs_pkg.Path(str(tmp_path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert mgr.getClass().getName() == (
        _CKPT_PKG + "FileSystemBasedCheckpointFileManager"
    )

    def write(name, data, overwrite):
        out = mgr.createAtomic(fs_pkg.Path(str(tmp_path / name)), overwrite)
        out.write(bytearray(data))
        out.close()

    def temp_files():
        return [n for n in os.listdir(tmp_path) if ".tmp" in n]

    write("0", b"log entry", False)
    write("1.delta", b"state v1", True)
    assert (tmp_path / "0").read_bytes() == b"log entry"
    assert (tmp_path / "1.delta").read_bytes() == b"state v1"
    assert temp_files() == []

    with pytest.raises(Py4JJavaError) as err:
        write("0", b"second writer", False)
    # Spark raises SparkFileAlreadyExistsException, a subclass
    assert jvm.java.lang.Class.forName(
        "org.apache.hadoop.fs.FileAlreadyExistsException"
    ).isInstance(err.value.java_exception)
    assert (tmp_path / "0").read_bytes() == b"log entry"

    write("1.delta", b"state v1 again", True)
    assert (tmp_path / "1.delta").read_bytes() in (
        b"state v1", b"state v1 again",
    )
    assert all(n.startswith(".") for n in temp_files()), temp_files()


def test_cardinality_state_survives_restart(spark, tmp_path):
    from file_d_spark.streaming import cardinality_stream

    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    schema = "tenant string, trace string, i long"

    def make_query():
        df = spark.readStream.schema(schema).json(str(in_dir))
        return cardinality_stream(df, "tenant", "trace", limit=3, mode="discard")

    # batch 1: exactly limit distinct traces — all admitted
    _write_jsonl(str(in_dir), "b1.jsonl", [
        {"tenant": "t1", "trace": f"tr{i}", "i": i} for i in range(3)
    ])
    _drive(
        make_query(), out_dir, ckpt,
        lambda q: len(_read_out(spark, out_dir, schema)) >= 3,
    )

    # batch 2: three MORE distinct traces.  Survived set -> the first
    # new trace trips over-limit and everything drops; reset set ->
    # all 3 admitted.
    _write_jsonl(str(in_dir), "b2.jsonl", [
        {"tenant": "t1", "trace": f"tr{i}", "i": 100 + i} for i in range(3, 6)
    ] + [{"tenant": "t2", "trace": "tr0", "i": 999}])
    _drive(
        make_query(), out_dir, ckpt,
        lambda q: any(
            r.tenant == "t2" for r in _read_out(spark, out_dir, schema)
        ),
    )

    got = _read_out(spark, out_dir, schema)
    t1 = sorted(r.i for r in got if r.tenant == "t1")
    assert t1 == [0, 1, 2], f"cardinality set reset across restart: {t1}"
    assert [r.i for r in got if r.tenant == "t2"] == [999]


def test_antispam_ban_survives_restart(spark, tmp_path):
    from file_d_spark.streaming import antispam_stream

    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    schema = "src string, i long"

    def make_query():
        df = spark.readStream.schema(schema).json(str(in_dir))
        # long maintenance interval: no tick fires inside the test, so
        # the ban can only disappear via state loss
        return antispam_stream(
            df, "src", threshold=5, maintenance_interval_ms=600_000,
            seq_col="i",
        )

    # batch 1: s1 bursts past the threshold -> the first threshold-1
    # events pass (reference per-event admission), the ban suppresses
    # the rest (condition watches query progress, not the sink)
    _write_jsonl(str(in_dir), "b1.jsonl", [
        {"src": "s1", "i": i} for i in range(6)
    ])
    _drive(make_query(), out_dir, ckpt, lambda q: _inputs_processed(q, 6))

    # batch 2: a trickle from s1 (under threshold on its own) plus a
    # clean source.  Survived ban -> s1 stays suppressed; reset state
    # -> s1's 3 events pass.
    _write_jsonl(str(in_dir), "b2.jsonl", [
        {"src": "s1", "i": 100 + i} for i in range(3)
    ] + [{"src": "s2", "i": 999}])
    _drive(
        make_query(), out_dir, ckpt,
        lambda q: any(
            r.src == "s2" for r in _read_out(spark, out_dir, schema)
        ),
    )

    got = _read_out(spark, out_dir, schema)
    s1 = sorted(r.i for r in got if r.src == "s1")
    # pre-ban events from batch 1 passed; the post-restart trickle is
    # still suppressed by the surviving ban charge
    assert s1 == [0, 1, 2, 3], (
        f"antispam ban reset across restart: {[(r.src, r.i) for r in got]}"
    )
    assert [r.i for r in got if r.src == "s2"] == [999]


def test_dedup_stream_state_survives_restart(spark, tmp_path):
    from file_d_spark.streaming import dedup_stream

    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    schema = "digest string, i long"

    def make_query():
        df = spark.readStream.schema(schema).json(str(in_dir))
        return dedup_stream(df, ["digest"])

    # batch 1: three distinct digests, one in-batch duplicate
    _write_jsonl(str(in_dir), "b1.jsonl", [
        {"digest": "a", "i": 0},
        {"digest": "b", "i": 1},
        {"digest": "a", "i": 2},   # in-batch dup -> dropped
        {"digest": "c", "i": 3},
    ])
    _drive(
        make_query(), out_dir, ckpt,
        lambda q: len(_read_out(spark, out_dir, schema)) >= 3,
    )

    # batch 2: re-sends a & b (cross-restart dups) plus a fresh digest.
    # Survived state -> only d admitted; reset -> a and b re-admitted.
    _write_jsonl(str(in_dir), "b2.jsonl", [
        {"digest": "a", "i": 100},
        {"digest": "b", "i": 101},
        {"digest": "d", "i": 102},
    ])
    _drive(
        make_query(), out_dir, ckpt,
        lambda q: any(
            r.digest == "d" for r in _read_out(spark, out_dir, schema)
        ),
    )

    got = _read_out(spark, out_dir, schema)
    by_digest: dict = {}
    for r in got:
        by_digest.setdefault(r.digest, []).append(r.i)
    assert sorted(by_digest) == ["a", "b", "c", "d"]
    assert all(len(v) == 1 for v in by_digest.values()), (
        f"dedup state reset across restart: {by_digest}"
    )
    assert by_digest["a"] == [0] and by_digest["d"] == [102]


def test_dedup_stream_watermark_horizon(spark, tmp_path):
    """dropDuplicatesWithinWatermark mode: dups inside the horizon are
    suppressed; the watermark advancing past the first sighting evicts
    its state, so a much-later re-send is admitted again."""
    import pyspark.sql.functions as F

    from file_d_spark.streaming import dedup_stream

    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    schema = "digest string, ts timestamp, i long"

    def make_query():
        df = spark.readStream.schema(schema).json(str(in_dir))
        return dedup_stream(df, ["digest"], ts_col="ts", within="10 seconds")

    _write_jsonl(str(in_dir), "b1.jsonl", [
        {"digest": "a", "ts": "2024-01-01T00:00:00.000Z", "i": 0},
        {"digest": "a", "ts": "2024-01-01T00:00:05.000Z", "i": 1},  # in-horizon dup
    ])
    _drive(
        make_query(), out_dir, ckpt,
        lambda q: len(_read_out(spark, out_dir, schema)) >= 1,
    )

    # advance event time far past the horizon, then re-send digest a:
    # the first batch moves the watermark (evicting a's state), the
    # second re-admits a
    _write_jsonl(str(in_dir), "b2.jsonl", [
        {"digest": "z", "ts": "2024-01-01T01:00:00.000Z", "i": 50},
    ])
    _drive(
        make_query(), out_dir, ckpt,
        lambda q: any(
            r.digest == "z" for r in _read_out(spark, out_dir, schema)
        ),
    )
    _write_jsonl(str(in_dir), "b3.jsonl", [
        {"digest": "a", "ts": "2024-01-01T01:00:01.000Z", "i": 100},
    ])
    _drive(
        make_query(), out_dir, ckpt,
        lambda q: any(
            r.digest == "a" and r.i == 100
            for r in _read_out(spark, out_dir, schema)
        ),
    )

    got = _read_out(spark, out_dir, schema)
    a_is = sorted(r.i for r in got if r.digest == "a")
    assert a_is == [0, 100], f"watermark-horizon dedup wrong: {a_is}"


def test_bloom_dedup_stream_restart_and_batch_parity(spark, tmp_path):
    """Streaming bloom dedup: (a) word-array state survives a restart
    (re-sent contents stay suppressed, novel ones admitted); (b) with
    shards=1 and the same (m, k) the admitted set is bit-identical to
    the batch operator's portable layout over the same arrivals."""
    import math

    from file_d_spark.streaming import bloom_dedup_stream

    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    schema = "text string, i long"
    # the batch operator's sizing for expected_items=64, fpp=0.01
    expected, fpp = 64, 0.01
    m_bits = max(64, int(-expected * math.log(fpp) / (math.log(2.0) ** 2)))
    k = max(1, round(m_bits / expected * math.log(2.0)))

    def make_query():
        df = spark.readStream.schema(schema).json(str(in_dir))
        return bloom_dedup_stream(df, "text", m_bits=m_bits, k=k, shards=1)

    b1 = [{"text": f"doc-{j}", "i": j} for j in range(8)] + [
        {"text": "doc-3", "i": 100}  # in-batch dup
    ]
    _write_jsonl(str(in_dir), "b1.jsonl", b1)
    _drive(
        make_query(), out_dir, ckpt,
        lambda q: len(_read_out(spark, out_dir, schema)) >= 8,
    )

    # restart: re-send two seen contents + two novel ones
    b2 = [
        {"text": "doc-1", "i": 200},
        {"text": "doc-5", "i": 201},
        {"text": "doc-8", "i": 202},
        {"text": "doc-9", "i": 203},
    ]
    _write_jsonl(str(in_dir), "b2.jsonl", b2)
    _drive(
        make_query(), out_dir, ckpt,
        lambda q: any(
            r.text == "doc-9" for r in _read_out(spark, out_dir, schema)
        ),
    )

    got = _read_out(spark, out_dir, schema)
    by_text = {}
    for r in got:
        by_text.setdefault(r.text, []).append(r.i)
    assert all(len(v) == 1 for v in by_text.values()), (
        f"bloom state reset across restart: {by_text}"
    )
    assert by_text["doc-3"] == [3], "in-batch duplicate admitted"
    assert "doc-8" in by_text and "doc-9" in by_text

    # batch parity: same arrivals through functions/dedup.bloom_dedup
    # (portable layout), empty seen corpus replayed in arrival order.
    # Stream admitted set == batch-incremental admitted set, FPs and
    # all: replay arrival-by-arrival against a growing exact-layout
    # probe is what the stream does, and at this size the batch
    # operator's layout (one pass, same m/k/hashes) admits the same
    # contents.
    from file_d_spark.functions import dedup as bdedup

    arrivals = b1 + b2
    seen_rows = []
    admitted_batch = []
    for a in arrivals:
        new_df = spark.createDataFrame([(a["text"], a["i"])], schema)
        if seen_rows:
            seen_df = spark.createDataFrame(
                [(t,) for t in seen_rows], "text string"
            )
            out = bdedup.bloom_dedup(
                new_df, seen_df, "text", "i",
                expected_items=expected, fpp=fpp, portable=True,
            ).collect()
        else:
            out = new_df.collect()
        if out:
            admitted_batch.append(a["i"])
            seen_rows.append(a["text"])
    assert sorted(admitted_batch) == sorted(
        i for v in by_text.values() for i in v
    ), "stream admitted set diverges from batch bloom layout"


def test_rolling_zscore_stream_restart_and_batch_parity(spark, tmp_path):
    """Streaming rolling z-score: (a) the per-key history survives a
    restart (events after the restart see the pre-restart baseline);
    (b) over the same arrivals in the same order the emitted
    (n, zsq_x100) are BIT-IDENTICAL to the batch window operator's
    bigint algebra."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from file_d_spark.streaming import rolling_zscore_stream

    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    in_schema = (
        "event_id long, user_id long, event_type string, "
        "ts timestamp, value double"
    )
    out_schema = (
        "event_id long, user_id long, event_type string, "
        "v_cents long, n long, zsq_x100 long"
    )

    # two keys; values with a clear spike at the end of key A
    def ev(i, user, typ, v):
        return {
            "event_id": i,
            "user_id": user,
            "event_type": typ,
            "ts": f"2026-01-01T00:00:{i:02d}.000Z",
            "value": v,
        }

    b1 = [ev(i, 1, "click", 10.0 + (i % 3)) for i in range(10)] + [
        ev(i, 2, "buy", 50.0 + (i % 5)) for i in range(10, 20)
    ]
    b2 = [ev(20, 1, "click", 99.99), ev(21, 2, "buy", 50.0)]

    def make_query():
        df = spark.readStream.schema(in_schema).json(str(in_dir))
        return rolling_zscore_stream(df, window=20, min_history=8)

    _write_jsonl(str(in_dir), "b1.jsonl", b1)
    _drive(
        make_query(), out_dir, ckpt,
        lambda q: len(_read_out(spark, out_dir, out_schema)) >= 4,
    )
    # restart with the spike events: history must carry over (n >= 8
    # for event 20 ONLY if the 10 pre-restart clicks are still there)
    _write_jsonl(str(in_dir), "b2.jsonl", b2)
    _drive(
        make_query(), out_dir, ckpt,
        lambda q: any(
            r.event_id == 21 for r in _read_out(spark, out_dir, out_schema)
        ),
    )
    got = {r.event_id: r for r in _read_out(spark, out_dir, out_schema)}
    assert 20 in got, "history lost across restart (event 20 had n<8)"
    assert got[20].n == 10 and got[20].zsq_x100 > 100 * 100  # a real spike

    # batch parity: same arrivals through the batch window algebra
    rows = b1 + b2
    bdf = spark.createDataFrame(
        [
            (
                r["event_id"], r["user_id"], r["event_type"],
                r["ts"].replace("T", " ").replace("Z", ""), r["value"],
            )
            for r in rows
        ],
        "event_id long, user_id long, event_type string, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    w = (
        Window.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, -1)
    )
    v = F.round(F.col("value") * 100).cast("long")
    batch = (
        bdf.select("event_id", "user_id", "event_type", "ts", v.alias("v_cents"))
        .select(
            "event_id", "user_id", "event_type", "v_cents",
            F.count(F.lit(1)).over(w).alias("n"),
            F.sum("v_cents").over(w).alias("s"),
            F.sum(F.col("v_cents") * F.col("v_cents")).over(w).alias("q2"),
        )
        .filter(F.col("n") >= 8)
        .withColumn(
            "zsq_x100",
            # the query's exact integer `div`, not float division
            F.expr(
                "CASE WHEN n * q2 - s * s > 0 THEN "
                "(100 * (n * v_cents - s) * (n * v_cents - s)) "
                "div (n * q2 - s * s) ELSE NULL END"
            ),
        )
        .select("event_id", "v_cents", "n", "zsq_x100")
    )
    want = {r.event_id: r for r in batch.collect()}
    assert set(want) == set(got)
    for eid, wr in want.items():
        gr = got[eid]
        assert (gr.v_cents, gr.n, gr.zsq_x100) == (
            wr.v_cents, wr.n, wr.zsq_x100,
        ), f"event {eid}: stream {gr} != batch {wr}"


def test_sessionize_stream_restart_merges_open_session(spark, tmp_path):
    """Native session_window twin of the batch sessionize query: (a) a
    half-built session keeps accumulating across a restart (the closed
    session counts pre- AND post-restart events); (b) sessions close at
    last_event + gap and only emit once the watermark passes them."""
    from file_d_spark.streaming import sessionize_stream

    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    in_schema = "user_id long, ts timestamp"
    out_schema = (
        "user_id long, session_start timestamp, "
        "session_end timestamp, n_events long"
    )

    def ev(user, hms):
        return {"user_id": user, "ts": f"2026-01-01T{hms}.000Z"}

    b1 = [
        ev(1, "00:00:00"), ev(1, "00:10:00"), ev(1, "00:20:00"),
        ev(2, "00:00:00"),
    ]
    # 00:40 is within 30 min of 00:20 -> must EXTEND user 1's
    # pre-restart session; the probe at 06:00 drags the watermark past
    # every earlier session end so they all close and emit
    b2 = [ev(1, "00:40:00"), ev(99, "06:00:00")]

    def make_query():
        df = spark.readStream.schema(in_schema).json(str(in_dir))
        return sessionize_stream(
            df, "user_id", "ts", gap="30 minutes", watermark="10 minutes"
        )

    _write_jsonl(str(in_dir), "b1.jsonl", b1)
    _drive(make_query(), out_dir, ckpt, lambda q: _inputs_processed(q, 4))
    assert _read_out(spark, out_dir, out_schema) == []  # watermark behind

    _write_jsonl(str(in_dir), "b2.jsonl", b2)
    _drive(
        make_query(), out_dir, ckpt,
        lambda q: len(_read_out(spark, out_dir, out_schema)) >= 2,
    )
    got = {r.user_id: r for r in _read_out(spark, out_dir, out_schema)}
    assert set(got) == {1, 2}  # the probe's own session stays open
    u1 = got[1]
    assert u1.n_events == 4, "restart lost the open session state"
    assert u1.session_start.strftime("%H:%M:%S") == "00:00:00"
    assert u1.session_end.strftime("%H:%M:%S") == "01:10:00"  # 00:40 + gap
    u2 = got[2]
    assert u2.n_events == 1
    assert u2.session_end.strftime("%H:%M:%S") == "00:30:00"


def test_weighted_sample_stream_restart_and_batch_parity(spark, tmp_path):
    """Streaming A-ES reservoir: (a) the per-group reservoir survives
    a restart (post-restart arrivals compete against the pre-restart
    pool); (b) the final snapshot is BIT-IDENTICAL to the batch
    corpus.weighted_sample over the same rows (same md5 uniform, same
    es_key expression)."""
    from file_d_spark.functions.corpus import weighted_sample
    from file_d_spark.streaming import weighted_sample_stream

    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    in_schema = "doc_id long, lang string, n_chars long"
    out_schema = ("lang string, version long, rank long, doc_id long,"
                  " weight double, es_key double")

    rows1 = [{"doc_id": i, "lang": "en" if i % 2 else "de",
              "n_chars": 50 + i * 7} for i in range(20)]
    rows2 = [{"doc_id": i, "lang": "en" if i % 2 else "de",
              "n_chars": 50 + i * 7} for i in range(20, 40)]

    def make_query():
        df = spark.readStream.schema(in_schema).json(str(in_dir))
        return weighted_sample_stream(
            df, "lang", "n_chars", "doc_id", k=3, salt="v1"
        )

    _write_jsonl(str(in_dir), "b1.jsonl", rows1)
    _drive(
        make_query(), out_dir, ckpt,
        lambda q: len(_read_out(spark, out_dir, out_schema)) >= 6,
    )
    _write_jsonl(str(in_dir), "b2.jsonl", rows2)
    _drive(
        make_query(), out_dir, ckpt,
        lambda q: any(
            r.version >= 2 for r in _read_out(spark, out_dir, out_schema)
        ),
    )
    out = _read_out(spark, out_dir, out_schema)
    latest = {}
    for r in out:
        if r.lang not in latest or r.version > latest[r.lang]:
            latest[r.lang] = r.version
    final = {
        (r.lang, r.rank): (r.doc_id, r.weight, r.es_key)
        for r in out
        if r.version == latest[r.lang]
    }

    batch_df = spark.createDataFrame(
        [(r["doc_id"], r["lang"], r["n_chars"]) for r in rows1 + rows2],
        in_schema,
    )
    want = {
        (r.lang, r.rank): (r.doc_id, r.weight, round(r.es_key, 6))
        for r in weighted_sample(
            batch_df, "lang", "n_chars", "doc_id", k=3, salt="v1"
        ).collect()
    }
    got = {kk: (d, w, round(e, 6)) for kk, (d, w, e) in final.items()}
    assert got == want


def test_hll_stream_restart_and_batch_parity(spark, tmp_path):
    """Streaming HLL: registers merge across batches AND across a
    restart (elementwise max is order-free), and the final snapshot's
    (zeros, sum_fp, estimate) is BIT-IDENTICAL to the batch
    sketch.hll_distinct over the union of rows."""
    from file_d_spark.functions import sketch
    from file_d_spark.streaming import hll_distinct_stream

    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ck"
    in_schema = "lang string, w string"
    out_schema = ("lang string, version long, zeros long, sum_fp long,"
                  " estimate double")
    rows1 = [{"lang": "en" if i % 3 else "de", "w": f"word{i}"}
             for i in range(400)]
    # second batch overlaps the first — duplicates must not move
    # registers, new values must
    rows2 = [{"lang": "en" if i % 3 else "de", "w": f"word{i}"}
             for i in range(200, 700)]
    # null values must be dropped (not crash the register indexing)
    # and leave the estimate untouched — batch parity covers it since
    # sketch.hll_distinct drops them too
    rows1.append({"lang": "en", "w": None})
    rows2.append({"lang": "de", "w": None})

    def make_query():
        df = spark.readStream.schema(in_schema).json(str(in_dir))
        return hll_distinct_stream(df, "lang", "w", b=9)

    _write_jsonl(str(in_dir), "b1.jsonl", rows1)
    _drive(
        make_query(), out_dir, ckpt,
        lambda q: len(_read_out(spark, out_dir, out_schema)) >= 2,
    )
    _write_jsonl(str(in_dir), "b2.jsonl", rows2)
    _drive(
        make_query(), out_dir, ckpt,
        lambda q: any(
            r.version >= 2 for r in _read_out(spark, out_dir, out_schema)
        ),
    )
    out = _read_out(spark, out_dir, out_schema)
    latest: dict = {}
    for r in out:
        if r.lang not in latest or r.version > latest[r.lang].version:
            latest[r.lang] = r
    batch_df = spark.createDataFrame(
        [(r["lang"], r["w"]) for r in rows1 + rows2], in_schema
    )
    want = {
        r.lang: r
        for r in sketch.hll_distinct(batch_df, "lang", "w", b=9).collect()
    }
    assert set(latest) == set(want) == {"en", "de"}
    for lang, got in latest.items():
        assert (got.zeros, got.sum_fp, got.estimate) == (
            want[lang].zeros, want[lang].sum_fp, want[lang].estimate,
        ), lang


def test_kmv_stream_restart_and_batch_parity(spark, tmp_path):
    """Streaming bottom-k sketch: merges across batches and a restart
    (set-union + re-take-k-smallest is order-free), final snapshot
    bit-identical to batch sketch.kmv_distinct over the union."""
    from file_d_spark.functions import sketch
    from file_d_spark.streaming import kmv_distinct_stream

    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ck"
    in_schema = "lang string, w string"
    out_schema = ("lang string, version long, n_distinct_capped long,"
                  " kth_hash long, estimate double")
    rows1 = [{"lang": "en" if i % 3 else "de", "w": f"w{i}"}
             for i in range(150)]
    rows2 = [{"lang": "en" if i % 3 else "de", "w": f"w{i}"}
             for i in range(100, 400)]
    # null values must be dropped (not crash int(h)) — batch parity
    # covers it since sketch.kmv_distinct drops them too
    rows1.append({"lang": "en", "w": None})
    rows2.append({"lang": "de", "w": None})

    def make_query():
        df = spark.readStream.schema(in_schema).json(str(in_dir))
        return kmv_distinct_stream(df, "lang", "w", k=32)

    _write_jsonl(str(in_dir), "b1.jsonl", rows1)
    _drive(
        make_query(), out_dir, ckpt,
        lambda q: len(_read_out(spark, out_dir, out_schema)) >= 2,
    )
    _write_jsonl(str(in_dir), "b2.jsonl", rows2)
    _drive(
        make_query(), out_dir, ckpt,
        lambda q: any(
            r.version >= 2 for r in _read_out(spark, out_dir, out_schema)
        ),
    )
    out = _read_out(spark, out_dir, out_schema)
    latest: dict = {}
    for r in out:
        if r.lang not in latest or r.version > latest[r.lang].version:
            latest[r.lang] = r
    batch_df = spark.createDataFrame(
        [(r["lang"], r["w"]) for r in rows1 + rows2], in_schema
    )
    want = {
        r.lang: r
        for r in sketch.kmv_distinct(batch_df, "lang", "w", k=32).collect()
    }
    assert set(latest) == set(want) == {"en", "de"}
    for lang, got in latest.items():
        assert (got.n_distinct_capped, got.kth_hash, got.estimate) == (
            want[lang].n_distinct_capped,
            want[lang].kth_hash,
            want[lang].estimate,
        ), lang


def test_weighted_sample_stream_string_ids(spark, tmp_path):
    """ADVICE r8 regression: string doc ids (the type the batch twin
    supports) must flow through the reservoir natively — the old hard
    long cast nulled them all, silently corrupting the sample."""
    from file_d_spark.functions.corpus import weighted_sample
    from file_d_spark.streaming import weighted_sample_stream

    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ck"
    in_schema = "doc_id string, lang string, n_chars long"
    out_schema = ("lang string, version long, rank long, doc_id string,"
                  " weight double, es_key double")
    rows = [{"doc_id": f"doc-{i:03d}", "lang": "en", "n_chars": 40 + i * 3}
            for i in range(12)]

    _write_jsonl(str(in_dir), "b1.jsonl", rows)
    df = spark.readStream.schema(in_schema).json(str(in_dir))
    q = weighted_sample_stream(df, "lang", "n_chars", "doc_id", k=3, salt="s")
    _drive(
        q, out_dir, ckpt,
        lambda _q: len(_read_out(spark, out_dir, out_schema)) >= 3,
    )
    out = _read_out(spark, out_dir, out_schema)
    got = {r.rank: (r.doc_id, round(r.es_key, 6)) for r in out}
    batch_df = spark.createDataFrame(
        [(r["doc_id"], r["lang"], r["n_chars"]) for r in rows], in_schema
    )
    want = {
        r.rank: (r.doc_id, round(r.es_key, 6))
        for r in weighted_sample(
            batch_df, "lang", "n_chars", "doc_id", k=3, salt="s"
        ).collect()
    }
    assert got == want
    assert all(isinstance(d, str) and d.startswith("doc-")
               for d, _ in got.values())


def test_bpe_apply_stream_restart_and_batch_parity(spark, tmp_path):
    """Streaming trained-BPE apply (VERDICT r8 #7 / r9 #4): the merges
    model broadcasts as one map literal, the map is stateless, every
    document emits exactly once across a restart, and every
    (n_words, n_bpe_tokens) row is BIT-IDENTICAL to the batch
    bpe.bpe_token_stats over the same corpus (the model is trained
    once on the full corpus both sides)."""
    from file_d_spark.functions import bpe
    from file_d_spark.streaming import bpe_apply_stream

    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ck"
    in_schema = "doc_id long, text string"
    out_schema = "doc_id long, n_words long, n_bpe_tokens long"
    texts = [
        "the cat sat on the mat",
        "the thematic theme of the theater",
        "aa aaa aaaa a",          # merge-chain adversarial
        "zzz unseen oov words",   # OOV -> char-split fallback
        "Punct, CASE! and 123 digits split words",
        "",                       # wordless: must emit NO row
    ]
    rows = [{"doc_id": i, "text": t} for i, t in enumerate(texts)]
    rows1, rows2 = rows[:3], rows[3:]

    corpus = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rows], in_schema
    )
    _, seg = bpe.train_bpe(
        bpe.word_histogram(corpus, "text"), vocab_size=20, num_merges=5
    )
    model = [(r.w, r.seg) for r in seg.select("w", "seg").collect()]

    def make_query():
        df = spark.readStream.schema(in_schema).json(str(in_dir))
        return bpe_apply_stream(df, "doc_id", "text", model)

    _write_jsonl(str(in_dir), "b1.jsonl", rows1)
    _drive(
        make_query(), out_dir, ckpt,
        lambda q: len(_read_out(spark, out_dir, out_schema)) >= 3,
    )
    _write_jsonl(str(in_dir), "b2.jsonl", rows2)
    _drive(
        make_query(), out_dir, ckpt,
        lambda q: len(_read_out(spark, out_dir, out_schema)) >= 5,
    )
    out = _read_out(spark, out_dir, out_schema)
    got = {r.doc_id: (r.n_words, r.n_bpe_tokens) for r in out}
    assert len(out) == len(got) == 5, "duplicate or lost emissions"
    want = {
        r.doc_id: (r.n_words, r.n_bpe_tokens)
        for r in bpe.bpe_token_stats(
            corpus, "doc_id", "text", vocab_size=20, num_merges=5
        ).collect()
    }
    assert got == want
    assert 5 not in got  # wordless doc contributes no row


def test_cms_stream_restart_and_batch_parity(spark, tmp_path):
    """Streaming Count-Min: per-(row, shard) counters sum across
    batches AND a restart (linearity), and — after summing the shard
    matrices per row — every probed point query over the final matrix
    equals the batch cms_topk estimate over the same rows.  shards=3
    exercises the sharded state layout (the whole stream must not
    funnel through only ``depth`` groups)."""
    from file_d_spark.functions import sketch
    from file_d_spark.streaming import cms_stream

    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ck"
    in_schema = "w string"
    out_schema = "r int, shard int, version long, counters array<long>"
    depth, width, shards = 4, 64, 3
    rows1 = [{"w": "hot"}] * 60 + [{"w": f"t{i}"} for i in range(40)]
    rows2 = [{"w": "hot"}] * 40 + [{"w": "warm"}] * 25 + [{"w": None}]

    def make_query():
        df = spark.readStream.schema(in_schema).json(str(in_dir))
        return cms_stream(df, "w", depth=depth, width=width, shards=shards)

    _write_jsonl(str(in_dir), "b1.jsonl", rows1)
    _drive(
        make_query(), out_dir, ckpt,
        lambda q: len(
            {r.r for r in _read_out(spark, out_dir, out_schema)}
        ) >= depth,
    )
    _write_jsonl(str(in_dir), "b2.jsonl", rows2)
    _drive(
        make_query(), out_dir, ckpt,
        lambda q: any(
            r.version >= 2 for r in _read_out(spark, out_dir, out_schema)
        ),
    )
    latest: dict = {}
    for r in _read_out(spark, out_dir, out_schema):
        g = (r.r, r.shard)
        if g not in latest or r.version > latest[g].version:
            latest[g] = r
    assert {g[0] for g in latest} == set(range(depth))
    assert len({g[1] for g in latest}) > 1, "sharding never split the stream"
    matrix = {r: [0] * width for r in range(depth)}
    for (r, _s), row in latest.items():
        for i, c in enumerate(row.counters):
            matrix[r][i] += c

    batch_df = spark.createDataFrame(
        [(r["w"],) for r in rows1 + rows2], in_schema
    )
    want = sketch.cms_topk(
        batch_df, "w", depth=depth, width=width, k=5
    ).collect()
    assert len(want) > 0
    import hashlib

    def h32(v):
        return int(hashlib.md5(v.encode()).hexdigest()[:8], 16)

    for row in want:  # point query vs the streamed matrix
        est = min(matrix[r][h32(f"{row.w}#{r}") % width] for r in range(depth))
        assert est == row.cms_estimate, row.w
    # total mass per row = number of non-null arrivals
    n = len(rows1) + len(rows2) - 1
    for r in range(depth):
        assert sum(matrix[r]) == n

    # the packaged readout (r12): cms_readout must reproduce the
    # hand-rolled merged matrix exactly, and cms_point_query over it
    # must equal every batch cms_topk estimate (the helper exists so
    # consumers can't read ONE shard's counters and undercount)
    from file_d_spark.streaming import cms_point_query, cms_readout

    snaps = spark.createDataFrame(
        _read_out(spark, out_dir, out_schema), out_schema
    )
    merged = cms_readout(snaps)
    got_matrix = {r.r: list(r.counters) for r in merged.collect()}
    assert got_matrix == matrix
    probes = spark.createDataFrame([(row.w,) for row in want], "w string")
    got_est = {
        r.w: r.cms_estimate
        for r in cms_point_query(merged, probes, "w").collect()
    }
    assert got_est == {row.w: row.cms_estimate for row in want}


def test_f2_stream_restart_and_batch_parity(spark, tmp_path):
    """Streaming AMS F2: per-(rep, shard) sign-sums merge across
    batches and a restart (linearity); summing x over shards per rep
    and recombining sum(x_r²)/reps is BIT-IDENTICAL to the batch
    f2_moment estimate over the same rows.  shards=3 exercises the
    sharded state layout."""
    from file_d_spark.functions import sketch
    from file_d_spark.streaming import f2_stream

    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ck"
    in_schema = "w string"
    out_schema = "r int, shard int, version long, x long"
    reps, shards = 8, 3
    rows1 = [{"w": f"w{i % 17}"} for i in range(120)]
    rows2 = [{"w": f"w{i % 29}"} for i in range(90)] + [{"w": None}]

    def make_query():
        df = spark.readStream.schema(in_schema).json(str(in_dir))
        return f2_stream(df, "w", reps=reps, shards=shards)

    _write_jsonl(str(in_dir), "b1.jsonl", rows1)
    _drive(
        make_query(), out_dir, ckpt,
        lambda q: len(
            {r.r for r in _read_out(spark, out_dir, out_schema)}
        ) >= reps,
    )
    _write_jsonl(str(in_dir), "b2.jsonl", rows2)
    _drive(
        make_query(), out_dir, ckpt,
        lambda q: any(
            r.version >= 2 for r in _read_out(spark, out_dir, out_schema)
        ),
    )
    latest: dict = {}
    for r in _read_out(spark, out_dir, out_schema):
        g = (r.r, r.shard)
        if g not in latest or r.version > latest[g].version:
            latest[g] = r
    assert {g[0] for g in latest} == set(range(reps))
    assert len({g[1] for g in latest}) > 1, "sharding never split the stream"
    xsum = {r: 0 for r in range(reps)}
    for (r, _s), row in latest.items():
        xsum[r] += row.x
    est = round(
        sum(x * x for x in xsum.values()) / float(reps), 4
    )
    batch_df = spark.createDataFrame(
        [(r["w"],) for r in rows1 + rows2], in_schema
    )
    want = sketch.f2_moment(batch_df, "w", reps=reps).first()
    assert est == want.f2_estimate

    # the packaged readout (r12): f2_readout recombines the sharded
    # snapshots to the same bit-identical estimate
    from file_d_spark.streaming import f2_readout

    snaps = spark.createDataFrame(
        _read_out(spark, out_dir, out_schema), out_schema
    )
    got = f2_readout(snaps).first()
    assert got.reps == reps
    assert got.f2_estimate == want.f2_estimate


def test_quantile_stream_restart_and_batch_parity(spark, tmp_path):
    """Streaming exact histogram quantiles: per-group histograms merge
    across batches and a restart (linearity), and every emitted
    threshold equals the batch adaptive_quality_filter's threshold
    (the SAME den*cum >= num*tot integer rule) over the same rows."""
    import random

    from file_d_spark.functions.corpus import adaptive_quality_filter
    from file_d_spark.streaming import quantile_stream

    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ck"
    in_schema = "lang string, score long"
    out_schema = ("lang string, version long, num long, den long,"
                  " n_rows long, threshold long")
    rng = random.Random(0x51)
    rows1 = [{"lang": rng.choice(["en", "de"]),
              "score": rng.randrange(0, 40)} for _ in range(150)]
    rows2 = [{"lang": rng.choice(["en", "de"]),
              "score": rng.randrange(10, 80)} for _ in range(120)]
    rows2.append({"lang": "en", "score": None})  # dropped, not a crash

    def make_query():
        df = spark.readStream.schema(in_schema).json(str(in_dir))
        return quantile_stream(
            df, "lang", "score", quantiles=[(1, 4), (1, 2), (9, 10)]
        )

    _write_jsonl(str(in_dir), "b1.jsonl", rows1)
    _drive(
        make_query(), out_dir, ckpt,
        lambda q: len(_read_out(spark, out_dir, out_schema)) >= 6,
    )
    _write_jsonl(str(in_dir), "b2.jsonl", rows2)
    _drive(
        make_query(), out_dir, ckpt,
        lambda q: any(
            r.version >= 2 for r in _read_out(spark, out_dir, out_schema)
        ),
    )
    latest: dict = {}
    for r in _read_out(spark, out_dir, out_schema):
        k = (r.lang, r.num, r.den)
        if k not in latest or r.version > latest[k].version:
            latest[k] = r

    batch_df = spark.createDataFrame(
        [(r["lang"], r["score"]) for r in rows1 + rows2], in_schema
    ).where("score is not null")
    for num, den in ((1, 4), (1, 2), (9, 10)):
        want = {
            r.lang: r.threshold
            for r in adaptive_quality_filter(
                batch_df, "lang", "score", quantile=num / den
            ).select("lang", "threshold").distinct().collect()
        }
        for lang in ("en", "de"):
            got = latest[(lang, num, den)]
            assert got.threshold == want[lang], (lang, num, den)
            assert got.n_rows == batch_df.where(
                f"lang = '{lang}'"
            ).count()


def test_decontaminate_stream_batch_parity_across_restart(spark, tmp_path):
    """Stateless streaming decontamination: a file-source stream driven
    in two batches with a restart in between must emit exactly the
    batch operator's (id, n_hits, contaminated) rows — once per doc,
    no duplicates (restart-safety comes from the file source's
    checkpointed offsets; the operator itself holds no state)."""
    from file_d_spark.functions.corpus import decontaminate
    from file_d_spark.streaming import decontaminate_stream

    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ck"
    in_schema = "doc_id long, text string"
    out_schema = "doc_id long, n_hits long, contaminated boolean"
    eval_rows = [
        (100, "the quick brown fox jumps over the lazy dog tonight"),
        (101, "pack my box with five dozen liquor jugs right now ok"),
    ]
    rows1 = [
        # shares the eval 8-gram window(s)
        {"doc_id": 1,
         "text": "prefix the quick brown fox jumps over the lazy dog tonight suffix"},
        {"doc_id": 2, "text": "totally clean text with no overlap at all here friend"},
    ]
    rows2 = [
        {"doc_id": 3,
         "text": "pack my box with five dozen liquor jugs right now ok indeed"},
        {"doc_id": 4, "text": "another clean document streaming after the restart boundary"},
        # null text: batch coalesces to (0, false) — the stream must too
        {"doc_id": 5, "text": None},
    ]
    eval_df = spark.createDataFrame(eval_rows, in_schema)

    def make_query():
        df = spark.readStream.schema(in_schema).json(str(in_dir))
        return decontaminate_stream(df, eval_df, "doc_id", "text", n=8)

    _write_jsonl(str(in_dir), "b1.jsonl", rows1)
    _drive(
        make_query(), out_dir, ckpt,
        lambda q: len(_read_out(spark, out_dir, out_schema)) >= 2,
    )
    _write_jsonl(str(in_dir), "b2.jsonl", rows2)
    _drive(
        make_query(), out_dir, ckpt,
        lambda q: len(_read_out(spark, out_dir, out_schema)) >= 5,
    )
    got = {
        r.doc_id: (r.n_hits, r.contaminated)
        for r in _read_out(spark, out_dir, out_schema)
    }
    assert len(_read_out(spark, out_dir, out_schema)) == 5, "dup emissions"
    batch_in = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rows1 + rows2], in_schema
    )
    want = {
        r.doc_id: (r.n_hits, r.contaminated)
        for r in decontaminate(batch_in, eval_df, "doc_id", "text", n=8).collect()
    }
    assert got == want
    assert got[2] == (0, False) and got[1][1] is True


def test_embedding_stats_stream_restart_and_batch_parity(spark, tmp_path):
    """Streaming embedding audit: per-dim counters merge across
    batches AND a restart (sums/min/max are linear/idempotent), and
    the final snapshot per dim is BIT-IDENTICAL to the batch
    similarity.embedding_stats over the same rows — including the
    derived mean/std, which both sides compute with the SAME shared
    expressions."""
    from file_d_spark.functions import similarity
    from file_d_spark.streaming import embedding_stats_stream

    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ck"
    in_schema = "vec_id long, embedding array<float>"
    out_schema = ("dim long, version long, n long, n_nonfinite long,"
                  " n_clamped long, sum_fp long, sumsq_fp long,"
                  " min_fp long, max_fp long, n_neg long,"
                  " mean double, std double")
    rows1 = [
        {"vec_id": i, "embedding": [0.5, -(i % 7) / 8.0, i / 16.0]}
        for i in range(40)
    ]
    rows2 = [
        {"vec_id": 100 + i,
         "embedding": [None if i == 0 else 0.5, (i % 5) / 4.0, 9.5]}
        for i in range(25)
    ]  # 9.5 third component exercises the clamp counter; the one
    # NULL first component exercises the NULL-cell→n_nonfinite path
    # through the stream's pandas dtype pinning

    def make_query():
        df = spark.readStream.schema(in_schema).json(str(in_dir))
        return embedding_stats_stream(df, "embedding")

    _write_jsonl(str(in_dir), "b1.jsonl", rows1)
    _drive(
        make_query(), out_dir, ckpt,
        lambda q: len(
            {r.dim for r in _read_out(spark, out_dir, out_schema)}
        ) >= 3,
    )
    _write_jsonl(str(in_dir), "b2.jsonl", rows2)
    _drive(
        make_query(), out_dir, ckpt,
        lambda q: any(
            r.version >= 2 for r in _read_out(spark, out_dir, out_schema)
        ),
    )
    latest: dict = {}
    for r in _read_out(spark, out_dir, out_schema):
        if r.dim not in latest or r.version > latest[r.dim].version:
            latest[r.dim] = r
    assert set(latest) == {1, 2, 3}
    batch_df = spark.createDataFrame(
        [(r["vec_id"], r["embedding"]) for r in rows1 + rows2], in_schema
    )
    want = {r.dim: r for r in similarity.embedding_stats(batch_df).collect()}
    for dim in (1, 2, 3):
        got, exp = latest[dim], want[dim]
        for c in ("n", "n_nonfinite", "n_clamped", "sum_fp", "sumsq_fp",
                  "min_fp", "max_fp", "n_neg", "mean", "std"):
            assert getattr(got, c) == getattr(exp, c), (dim, c)
    assert want[3].n_clamped == 25  # the 9.5 cells actually clamped
    assert want[1].n_nonfinite == 1  # the NULL cell landed in the bucket


def test_assoc_audit_stream_restart_and_readout_parity(spark, tmp_path):
    """Streaming association audit: per-cell counters merge across
    batches AND a restart, and assoc_readout over the snapshots is
    BIT-IDENTICAL to batch corpus.assoc_audit over the same rows —
    both run the same shared cell projection and finalize algebra."""
    from file_d_spark.functions import corpus
    from file_d_spark.streaming import assoc_audit_stream, assoc_readout

    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ck"
    in_schema = "rid long, lang string, split string"
    out_schema = ("pair string, va string, vb string,"
                  " version long, n_ab long")
    rows1 = [
        {"rid": i, "lang": ["en", "de", "zh"][i % 3],
         "split": "train" if i % 5 else "test"}
        for i in range(60)
    ]
    rows2 = [
        {"rid": 100 + i, "lang": ["en", "zh"][i % 2],
         "split": "test" if i % 2 else None}
        for i in range(40)
    ]  # the None split exercises the shared NULL->'' bucket

    def make_query():
        df = spark.readStream.schema(in_schema).json(str(in_dir))
        return assoc_audit_stream(df, ["lang", "split"])

    _write_jsonl(str(in_dir), "b1.jsonl", rows1)
    _drive(
        make_query(), out_dir, ckpt,
        lambda q: len(
            {(r.va, r.vb) for r in _read_out(spark, out_dir, out_schema)}
        ) >= 5,
    )
    _write_jsonl(str(in_dir), "b2.jsonl", rows2)
    _drive(
        make_query(), out_dir, ckpt,
        lambda q: any(
            r.version >= 2 for r in _read_out(spark, out_dir, out_schema)
        ),
    )
    snaps = _read_out(spark, out_dir, out_schema)
    got = assoc_readout(
        spark.createDataFrame(snaps, out_schema)
    ).collect()[0]
    batch_df = spark.createDataFrame(
        [(r["rid"], r["lang"], r["split"]) for r in rows1 + rows2],
        in_schema,
    )
    exp = corpus.assoc_audit(batch_df, ["lang", "split"]).collect()[0]
    for c in ("col_a", "col_b", "n", "k_a", "k_b", "chi2_fp",
              "chi2", "cramers_v"):
        assert getattr(got, c) == getattr(exp, c), c
    assert got.n == 100 and got.k_b == 3  # train/test/'' all present
