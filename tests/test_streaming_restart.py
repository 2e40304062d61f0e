"""Checkpoint-restart recovery for the stateful streaming quartet:
multiline join / throttle / cardinality / antispam state must SURVIVE
a query restart (kill + new query on the same checkpoint), continuing
open blocks and counts rather than resetting them.  The file source's restart-no-dup behavior is
covered in test_pipeline_stream; this file covers the state stores.

Pattern per test: batch 1 -> run until its effect is visible -> stop
-> drop batch 2 into the source dir -> NEW query, SAME checkpoint +
sink -> assert the continued-state outcome (which differs observably
from the state-reset outcome).  Throttle, cardinality and antispam
run through ``Pipeline.apply``, as a config runs them.

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


def _apply(df, action):
    from file_d_spark import Pipeline

    return Pipeline.from_dict({"actions": [action]}).apply(df)


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
    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    schema = "k string, ts timestamp, i long"

    def make_query():
        df = spark.readStream.schema(schema).json(str(in_dir))
        return _apply(df, {
            "type": "throttle", "throttle_field": "k", "time_field": "ts",
            "bucket_interval": "1m", "buckets_count": 10, "default_limit": 3,
        })

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
    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    schema = "tenant string, trace string, i long"

    def make_query():
        df = spark.readStream.schema(schema).json(str(in_dir))
        return _apply(df, {
            "type": "cardinality", "key": "tenant", "fields": ["trace"],
            "limit": 3, "action": "discard",
        })

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
    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    schema = "src string, i long"

    def make_query():
        df = spark.readStream.schema(schema).json(str(in_dir))
        # long maintenance interval: no tick fires inside the test, so
        # the ban can only disappear via state loss
        return _apply(df, {
            "type": "antispam", "source_field": "src", "threshold": 5,
            "maintenance_interval": "10m",
        })

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


def test_multiline_join_state_survives_restart(spark, tmp_path):
    from file_d_spark.streaming import multiline_join_stream

    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    schema = "src string, seq long, log string"

    def make_query():
        df = spark.readStream.schema(schema).json(str(in_dir))
        # long event timeout: no flush fires inside the test, so the
        # open block can only leave state by a continuation or by loss
        return multiline_join_stream(
            df, key_cols=["src"], seq_col="seq", field="log",
            start_re=r"^start", continue_re=r"^\s",
            event_timeout_ms=600_000,
        )

    # batch 1: s1 opens a block and continues it once — nothing is
    # emitted, the block stays open in state
    _write_jsonl(str(in_dir), "b1.jsonl", [
        {"src": "s1", "seq": 1, "log": "start A"},
        {"src": "s1", "seq": 2, "log": " c1"},
    ])
    _drive(make_query(), out_dir, ckpt, lambda q: _inputs_processed(q, 2))

    # batch 2: a second continuation, then a new start that closes the
    # block, plus a plain line from a fresh source.  Survived state ->
    # s1's joined event is start + c1 + c2; reset state -> " c2" comes
    # out as an orphan line and "start A c1" is lost.
    _write_jsonl(str(in_dir), "b2.jsonl", [
        {"src": "s1", "seq": 3, "log": " c2"},
        {"src": "s1", "seq": 4, "log": "start B"},
        {"src": "s2", "seq": 1, "log": "plain"},
    ])
    _drive(
        make_query(), out_dir, ckpt,
        lambda q: any(
            r.src == "s2" for r in _read_out(spark, out_dir, schema)
        ),
    )

    got = _read_out(spark, out_dir, schema)
    keys = [(r.src, r.seq) for r in got]
    assert len(keys) == len(set(keys)), f"duplicated rows: {sorted(keys)}"
    s1 = {r.seq: r.log for r in got if r.src == "s1"}
    assert s1 == {1: "start A c1 c2"}, (
        f"multiline join state reset across restart: {s1}"
    )
    assert [r.log for r in got if r.src == "s2"] == ["plain"]
